package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared plumbing for the query registry, split by family (r15): per-JVM
  * memoized seed state, the DuckDB-side adapter CTE bodies mirroring
  * graft.TestdataAdapter, the composed hourly/KPI/suggestions/export/
  * validation oracle SQL bodies, and small column helpers.
  * Behavior-identical to the pre-split monolithic Registry — the family
  * traits mix into the same `object Registry`.
  */
private[graft] trait RegistryBase {

  /** One persisted cluster-state (labels + signature index) per scale
    * dir per JVM — the amortized corpus state `cluster_attach_incremental`
    * attaches to (see that registration's comment).
    */
  protected val clusterStateDirs = new RunOnce[String, String]

  /** One persisted mockflow-generator output per scale dir per JVM:
    * `mockflow_events` and `mockflow_invariants` verify the SAME
    * generated frame (the invariants query re-parses the events'
    * provenance JSON), so generating twice — ~90 000 events plus a JSON
    * render each, the suite's single biggest cost — bought nothing. The
    * parquet round trip is exact (strings/doubles/timestamps), so both
    * oracles see byte-identical events. Same amortization pattern as
    * [[clusterStateDirs]].
    */
  protected val mockflowDirs = new RunOnce[String, String]

  /** Full-corpus near-dup cluster labels (doc_id, cluster_id,
    * cluster_size), persisted once per scale dir per JVM — shared by the
    * r10 cluster-tail queries (`cluster_split_assign`,
    * `cluster_best_keep`), whose point is the logic ON TOP of the
    * labels; `dedup_clusters` itself still times the CC pipeline
    * honestly. Deterministic, so the parquet hop is oracle-transparent.
    */
  protected val fullClusterDirs = new RunOnce[String, String]

  /** Per-(form, scale dir) state dirs for the two streaming dedup-index
    * queries — v0 seeds once per JVM, runs share the steady state.
    */
  protected val dedupStreamStateDirs = new RunOnce[(String, String), String]

  protected def fullClusterLabels(
      s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val p = fullClusterDirs(d)({
      val dir = java.nio.file.Files.createTempDirectory("graft_cc_full").toString
      graft.dedup.Dedup.dedupClusters(
        TestdataAdapter.table(s, d, "documents")
          .select("doc_id", "text", "lang", "source", "n_chars"))
        .write.mode("overwrite").parquet(s"$dir/labels")
      dir
    })
    s.read.parquet(s"$p/labels")
  }

  protected def mockflowGenerated(
      s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    import graft.mockflow.MockFlow
    val p = mockflowDirs(d)({
      val stops = MockFlow.seedBaseDemand(TestdataAdapter.flowEvents(s, d))
      val hours = MockFlow.hoursContext(
        Pipelines.weatherHourly(s, d), Pipelines.delayHourly(s, d))
      val dir = java.nio.file.Files.createTempDirectory("graft_mockflow").toString
      MockFlow.generate(stops, hours).write.mode("overwrite").parquet(s"$dir/events")
      dir
    })
    s.read.parquet(s"$p/events")
  }

  // ---- DuckDB-side adapter CTE bodies (mirror graft.TestdataAdapter) ----
  // CAST(ts AS TIMESTAMP) truncates the nanosecond parquet column to µs,
  // matching the Spark side's integer DIV 1000.
  protected val VEH =
    "SELECT event_type AS route_id, CAST(user_id AS VARCHAR) AS vehicle_id, CAST(ts AS TIMESTAMP) AS observed_at FROM events"
  protected val TRIP =
    "SELECT event_type AS route_id, CAST(ts AS TIMESTAMP) AS observed_at, value AS delay_seconds FROM events"
  protected val FLOW =
    "SELECT CAST(user_id AS VARCHAR) AS stop_id, CAST(ts AS TIMESTAMP) AS observed_at, value AS estimated_passengers FROM events"
  protected val WEA =
    "SELECT CAST(ts AS TIMESTAMP) AS observed_at, value AS temperature_c, value/10.0 AS precipitation_mm, value/100.0 AS wind_speed_mps FROM events"
  protected val S2R =
    "SELECT DISTINCT CAST(user_id AS VARCHAR) AS stop_id, event_type AS route_id FROM events"

  /** Decimal-exact SUM returned as double — oracle twin of Cols.detSum. */
  protected def dsum(e: String) = s"CAST(SUM(CAST(($e) AS DECIMAL(28,6))) AS DOUBLE)"

  /** Two-batch incremental-dedup oracle: batch 1 vs corpus, batch 2 vs
    * corpus ∪ batch 1 — shared by the in-plan (`bloom_incremental_newdocs`)
    * and micro-batch streaming (`streaming_dedup_index_queue`) forms.
    */
  protected val BLOOM_INCR_SQL =
    """WITH c0 AS (SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 3 <> 0),
      |b1 AS (SELECT doc_id, lang, source, n_chars, md5(text) AS h
      |       FROM documents WHERE doc_id % 3 = 0 AND doc_id % 2 = 0),
      |b2 AS (SELECT doc_id, lang, source, n_chars, md5(text) AS h
      |       FROM documents WHERE doc_id % 3 = 0 AND doc_id % 2 <> 0),
      |c1 AS (SELECT h FROM c0 UNION SELECT h FROM b1),
      |v1 AS (SELECT b1.doc_id, b1.lang, b1.source, b1.n_chars,
      |         (c0.h IS NULL) AS is_new_exact, 1 AS batch_seq
      |       FROM b1 LEFT JOIN c0 ON b1.h = c0.h),
      |v2 AS (SELECT b2.doc_id, b2.lang, b2.source, b2.n_chars,
      |         (c1.h IS NULL) AS is_new_exact, 2 AS batch_seq
      |       FROM b2 LEFT JOIN c1 ON b2.h = c1.h)
      |SELECT doc_id, lang, source, n_chars, is_new_exact, batch_seq
      |FROM (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
      |ORDER BY doc_id""".stripMargin

  /** The ingestor-side schema of the trip-update wire record (S6),
    * shared by the direct consumer leg and the graftqueue round trip.
    */
  protected val TRIP_WIRE_SCHEMA = org.apache.spark.sql.types.StructType.fromDDL(
    "event_type STRING, entity_id STRING, timestamp STRING, " +
      "ingested_at STRING, source STRING, " +
      "payload STRUCT<trip_id: STRING, route_id: STRING, " +
      "delay_seconds: INT, stop_updates: ARRAY<STRUCT<" +
      "stop_id: STRING, arrival_delay: INT, departure_delay: INT>>>")

  /** Decimal-exact AVG — oracle twin of Cols.detAvg. */
  protected def davg(e: String) = s"${dsum(e)} / COUNT($e)"

  // ---- hourly-view SQL bodies (composed into several oracles) ----
  protected val DEMAND_BODY =
    s"""SELECT r.route_id AS route_id, date_trunc('hour', f.observed_at) AS hour_ts,
       |  ${dsum("f.estimated_passengers")} AS passengers
       |FROM f JOIN s2r r USING (stop_id)
       |GROUP BY 1, 2""".stripMargin

  protected val DELAY_BODY =
    s"""SELECT route_id, date_trunc('hour', observed_at) AS hour_ts,
       |  COUNT(*) AS trip_update_events, ${davg("delay_seconds")} AS avg_delay_seconds
       |FROM t GROUP BY 1, 2""".stripMargin

  protected val VEHICLE_BODY =
    """SELECT route_id, date_trunc('hour', observed_at) AS hour_ts,
      |  COUNT(*) AS vehicle_events
      |FROM v GROUP BY 1, 2""".stripMargin

  protected val WEATHER_BODY =
    s"""SELECT date_trunc('hour', observed_at) AS hour_ts,
       |  ${davg("temperature_c")} AS temperature_c,
       |  ${davg("precipitation_mm")} AS precipitation_mm,
       |  ${davg("wind_speed_mps")} AS wind_speed_mps
       |FROM wx GROUP BY 1""".stripMargin

  protected val ML_DATASET_SQL =
    s"""WITH s2r AS ($S2R), f AS ($FLOW), t AS ($TRIP), v AS ($VEH), wx AS ($WEA),
       |d AS ($DEMAND_BODY),
       |dl AS ($DELAY_BODY),
       |vh AS ($VEHICLE_BODY),
       |wh AS ($WEATHER_BODY)
       |SELECT d.route_id, d.hour_ts, d.passengers,
       |  COALESCE(dl.trip_update_events, 0) AS trip_update_events,
       |  COALESCE(dl.avg_delay_seconds, 0.0) AS avg_delay_seconds,
       |  COALESCE(vh.vehicle_events, 0) AS vehicle_events,
       |  COALESCE(wh.temperature_c, 0.0) AS temperature_c,
       |  COALESCE(wh.precipitation_mm, 0.0) AS precipitation_mm,
       |  COALESCE(wh.wind_speed_mps, 0.0) AS wind_speed_mps,
       |  CAST(EXTRACT(HOUR FROM d.hour_ts) AS INTEGER) AS hour,
       |  CAST(dayofweek(d.hour_ts) AS INTEGER) AS day_of_week,
       |  CAST(CASE WHEN EXTRACT(HOUR FROM d.hour_ts) BETWEEN 7 AND 9
       |       OR EXTRACT(HOUR FROM d.hour_ts) BETWEEN 16 AND 18 THEN 1 ELSE 0 END AS INTEGER) AS is_peak
       |FROM d
       |LEFT JOIN dl ON d.route_id = dl.route_id AND d.hour_ts = dl.hour_ts
       |LEFT JOIN vh ON d.route_id = vh.route_id AND d.hour_ts = vh.hour_ts
       |LEFT JOIN wh ON d.hour_ts = wh.hour_ts
       |ORDER BY d.route_id, d.hour_ts""".stripMargin

  // ---- KPI SQL bodies ----
  protected val KPI_ACTIVE_BODY =
    """SELECT route_id, date_trunc('hour', observed_at) AS hour_ts,
      |  COUNT(DISTINCT vehicle_id) AS active_vehicles
      |FROM v WHERE route_id IS NOT NULL GROUP BY 1, 2""".stripMargin

  // Integer-µs headway (mirrors graft.views.Kpi.headwayHourly: exact long
  // sums, floor to whole µs, one double division — no double→decimal
  // rounding anywhere, which is engine-specific at half-boundaries).
  protected val KPI_HEADWAY_BODY =
    """SELECT route_id, hour_ts,
      |  CAST(floor(CAST(SUM(gap_us) AS DOUBLE) / COUNT(gap_us)) AS BIGINT) AS avg_headway_us,
      |  CAST(floor(CAST(SUM(gap_us) AS DOUBLE) / COUNT(gap_us)) AS BIGINT) / 60000000.0 AS avg_headway_min
      |FROM (
      |  SELECT route_id, hour_ts,
      |    CASE WHEN gap BETWEEN 30000000 AND 3600000000 THEN gap END AS gap_us
      |  FROM (
      |    SELECT route_id, hour_ts,
      |      epoch_us(first_seen) - epoch_us(LAG(first_seen) OVER
      |        (PARTITION BY route_id, hour_ts ORDER BY first_seen)) AS gap
      |    FROM (
      |      SELECT route_id, date_trunc('hour', observed_at) AS hour_ts, vehicle_id,
      |        MIN(observed_at) AS first_seen
      |      FROM v WHERE route_id IS NOT NULL GROUP BY 1, 2, 3)))
      |GROUP BY 1, 2""".stripMargin

  protected val KPI_DELAY_BODY =
    s"""SELECT route_id, date_trunc('hour', observed_at) AS hour_ts,
       |  COUNT(*) AS trip_update_events, ${davg("delay_seconds")} AS avg_delay_seconds
       |FROM t WHERE route_id IS NOT NULL GROUP BY 1, 2""".stripMargin

  protected val PRED_BODY =
    "SELECT route_id, hour_ts, passengers * 0.95 AS y_pred, passengers AS y_true FROM d"

  /** kpi_hourly as CTE `k` (mirrors graft.views.Kpi.kpiHourly over the
    * deterministic pseudo-predictions of graft.Pipelines.predictions).
    */
  protected val KPI_CTES =
    s"""WITH s2r AS ($S2R), f AS ($FLOW), t AS ($TRIP), v AS ($VEH),
       |d AS ($DEMAND_BODY),
       |p AS ($PRED_BODY),
       |av AS ($KPI_ACTIVE_BODY),
       |hw AS ($KPI_HEADWAY_BODY),
       |dl AS ($KPI_DELAY_BODY),
       |k AS (
       |  SELECT p.route_id, p.hour_ts,
       |    p.y_pred AS predicted_passengers, p.y_true AS observed_passengers,
       |    COALESCE(av.active_vehicles, 0) AS active_vehicles,
       |    hw.avg_headway_min,
       |    hw.avg_headway_us,
       |    COALESCE(dl.trip_update_events, 0) AS trip_update_events,
       |    COALESCE(dl.avg_delay_seconds, 0.0) AS avg_delay_seconds,
       |    CAST(EXTRACT(HOUR FROM p.hour_ts) AS INTEGER) AS hour_of_day,
       |    CAST(CASE WHEN EXTRACT(HOUR FROM p.hour_ts) BETWEEN 7 AND 9
       |         OR EXTRACT(HOUR FROM p.hour_ts) BETWEEN 16 AND 18 THEN 1 ELSE 0 END AS INTEGER) AS is_peak_hour
       |  FROM p
       |  LEFT JOIN av ON p.route_id = av.route_id AND p.hour_ts = av.hour_ts
       |  LEFT JOIN hw ON p.route_id = hw.route_id AND p.hour_ts = hw.hour_ts
       |  LEFT JOIN dl ON p.route_id = dl.route_id AND p.hour_ts = dl.hour_ts)""".stripMargin

  protected val KPI_HOURLY_SQL =
    s"$KPI_CTES SELECT * FROM k ORDER BY route_id, hour_ts"

  /** Suggestion decision chain as CTEs ending in `s9` (mirrors
    * graft.suggest.Suggestions.suggest step by step).
    */
  protected val SUGG_CTES =
    s"""$KPI_CTES,
       |s1 AS (SELECT *,
       |  CASE WHEN avg_headway_min IS NOT NULL AND avg_headway_min BETWEEN 0.5 AND 60.0 THEN avg_headway_min
       |       WHEN COALESCE(active_vehicles, 0) > 0 THEN LEAST(GREATEST(60.0 / CAST(active_vehicles AS DOUBLE), 3.0), 30.0)
       |       ELSE 12.0 END AS current_headway_min
       |  FROM k),
       |s2 AS (SELECT *, CASE WHEN current_headway_min > 0 THEN 60.0 / current_headway_min END AS trips_per_hour_est FROM s1),
       |s3 AS (SELECT *, CASE WHEN trips_per_hour_est > 0 THEN 60.0 * trips_per_hour_est END AS capacity_est FROM s2),
       |s4 AS (SELECT *,
       |  CASE WHEN capacity_est > 0 AND predicted_passengers IS NOT NULL THEN predicted_passengers / capacity_est END AS load_factor,
       |  CASE WHEN trips_per_hour_est > 0 AND predicted_passengers IS NOT NULL THEN predicted_passengers / trips_per_hour_est END AS passengers_per_trip_est
       |  FROM s3),
       |s5 AS (SELECT *,
       |  CASE WHEN load_factor IS NULL OR isnan(load_factor) THEN 0.70
       |       ELSE LEAST(GREATEST(1.0 - abs(load_factor - 1.0) * 0.35, 0.55), 1.0) END AS confidence
       |  FROM s4),
       |s6 AS (SELECT *,
       |  (passengers_per_trip_est IS NULL OR trips_per_hour_est IS NULL) AS missing,
       |  COALESCE(is_peak_hour, 0) AS peak,
       |  COALESCE(predicted_passengers, 0.0) AS pred0
       |  FROM s5),
       |s7 AS (SELECT *,
       |  COALESCE(NOT missing AND passengers_per_trip_est > 45.0, FALSE) AS is_increase,
       |  COALESCE(NOT missing AND NOT (passengers_per_trip_est > 45.0) AND passengers_per_trip_est < 24.0 AND peak = 0, FALSE) AS is_decrease,
       |  pred0 / 45.0 AS tphr_target
       |  FROM s6),
       |s8 AS (SELECT *,
       |  LEAST(GREATEST(CASE WHEN tphr_target IS NOT NULL AND tphr_target > 0 THEN 60.0 / tphr_target ELSE current_headway_min * 0.85 END, 3.0), 30.0) AS raw_inc,
       |  LEAST(GREATEST(CASE WHEN tphr_target IS NOT NULL AND tphr_target > 0 THEN 60.0 / tphr_target ELSE current_headway_min * 1.15 END, 3.0), 30.0) AS raw_dec,
       |  CASE WHEN passengers_per_trip_est IS NOT NULL THEN LEAST(GREATEST((passengers_per_trip_est - 45.0) / 45.0, 0.0), 1.0) ELSE 0.0 END AS over_f,
       |  LEAST(GREATEST(COALESCE(avg_delay_seconds, 0.0) / 600.0, 0.0), 1.0) AS delay_norm
       |  FROM s7),
       |s9 AS (SELECT *,
       |  CASE WHEN is_increase THEN 'increase_frequency' WHEN is_decrease THEN 'decrease_frequency' ELSE 'keep' END AS action,
       |  CASE WHEN missing THEN 'missing trip estimate'
       |       WHEN is_increase THEN 'ppt > cap_target'
       |       WHEN is_decrease THEN 'ppt < cap_low and off-peak'
       |       ELSE 'within normal range' END AS rule,
       |  CASE WHEN is_increase THEN LEAST(GREATEST(current_headway_min * (1.0 - 0.35 * confidence) + raw_inc * (0.35 * confidence), 3.0), 30.0)
       |       WHEN is_decrease THEN LEAST(GREATEST(current_headway_min * (1.0 - 0.30 * confidence) + raw_dec * (0.30 * confidence), 3.0), 30.0)
       |       ELSE current_headway_min END AS recommended_headway_min,
       |  LEAST(GREATEST(0.60 * over_f + 0.20 * peak + 0.20 * delay_norm, 0.0), 1.0) AS priority_score
       |  FROM s8)""".stripMargin

  protected val SUGGESTIONS_SQL =
    s"""$SUGG_CTES
       |SELECT route_id, hour_ts, predicted_passengers, observed_passengers, active_vehicles,
       |  avg_headway_min, trip_update_events, avg_delay_seconds, hour_of_day, is_peak_hour,
       |  current_headway_min, trips_per_hour_est, capacity_est, load_factor,
       |  passengers_per_trip_est, confidence, action, rule, recommended_headway_min, priority_score
       |FROM s9 WHERE action <> 'keep'
       |ORDER BY route_id, hour_ts""".stripMargin

  /** Full-frame suggestions oracle incl. the D6 reasons JSON, verified
    * PER KEY: the Spark side re-parses its own `reasons` string with
    * `from_json` (proving the serialized JSON carries the right value
    * under the right key — Java shortest-roundtrip double text parses
    * back bit-exact), and DuckDB computes each key's value directly from
    * the decision chain. Covers all rows (keep included), all 14 base
    * keys and the up-to-3 rule-branch keys of
    * generate_suggestions.py:128-185.
    */
  protected val SUGGESTIONS_FULL_SQL =
    s"""$SUGG_CTES
       |SELECT route_id, hour_ts, action, recommended_headway_min, priority_score,
       |  predicted_passengers AS r_predicted_passengers,
       |  observed_passengers AS r_observed_passengers,
       |  CAST(active_vehicles AS BIGINT) AS r_active_vehicles,
       |  avg_headway_min AS r_avg_headway_min,
       |  current_headway_min AS r_current_headway_min,
       |  trips_per_hour_est AS r_trips_per_hour_est,
       |  capacity_est AS r_capacity_est_per_hour,
       |  load_factor AS r_load_factor_per_hour,
       |  passengers_per_trip_est AS r_passengers_per_trip_est,
       |  45.0 AS r_cap_target_per_trip,
       |  24.0 AS r_cap_low_per_trip,
       |  COALESCE(avg_delay_seconds, 0.0) AS r_avg_delay_seconds,
       |  CAST(peak AS INTEGER) AS r_is_peak_hour,
       |  confidence AS r_confidence,
       |  rule AS r_rule,
       |  CASE WHEN is_increase OR is_decrease THEN tphr_target END AS r_trips_per_hour_target,
       |  CASE WHEN is_increase THEN raw_inc WHEN is_decrease THEN raw_dec END
       |    AS r_raw_recommended_headway_min
       |FROM s9 ORDER BY route_id, hour_ts""".stripMargin

  protected val SUGG_HIST_SQL =
    s"""$SUGG_CTES
       |SELECT action, COUNT(*) AS n FROM s9 WHERE action <> 'keep'
       |GROUP BY 1 ORDER BY 1""".stripMargin

  protected val LATEST_SNAPSHOT_SQL =
    s"""$SUGG_CTES,
       |mx AS (SELECT MAX(hour_ts) AS hour_ts FROM k),
       |sg AS (SELECT route_id, hour_ts, action, recommended_headway_min, priority_score
       |       FROM s9 WHERE action <> 'keep')
       |SELECT k.route_id, k.hour_ts, k.predicted_passengers, k.observed_passengers,
       |  k.active_vehicles, k.avg_headway_min, k.is_peak_hour,
       |  COALESCE(sg.action, 'needs_data') AS action,
       |  sg.recommended_headway_min,
       |  COALESCE(sg.priority_score, 0.0) AS priority_score
       |FROM k JOIN mx ON k.hour_ts = mx.hour_ts
       |LEFT JOIN sg ON sg.route_id = k.route_id AND sg.hour_ts = k.hour_ts
       |ORDER BY k.route_id""".stripMargin

  /** D7 export-row CTE chain ending in `xr` (mirrors Export.exportRows:
    * latest-hour KPI rows LEFT JOIN suggestions + status/message/deltas).
    */
  protected val EXPORT_ROWS_CTES =
    s"""$SUGG_CTES,
       |mx AS (SELECT MAX(hour_ts) AS hour_ts FROM k),
       |sg AS (SELECT route_id, hour_ts, action, current_headway_min,
       |       recommended_headway_min, priority_score, confidence
       |       FROM s9 WHERE action <> 'keep'),
       |jx AS (
       |  SELECT k.route_id, k.hour_ts, k.predicted_passengers, k.observed_passengers,
       |    k.active_vehicles, k.avg_headway_min, k.is_peak_hour,
       |    COALESCE(sg.action, 'needs_data') AS action,
       |    sg.current_headway_min, sg.recommended_headway_min,
       |    COALESCE(sg.priority_score, 0.0) AS priority_score,
       |    COALESCE(sg.confidence, 0.0) AS confidence,
       |    (COALESCE(k.active_vehicles, 0) > 0) AS has_veh,
       |    (k.avg_headway_min IS NOT NULL AND NOT isnan(k.avg_headway_min)) AS has_hw
       |  FROM k JOIN mx ON k.hour_ts = mx.hour_ts
       |  LEFT JOIN sg ON sg.route_id = k.route_id AND sg.hour_ts = k.hour_ts),
       |xr AS (
       |  SELECT route_id, hour_ts, predicted_passengers, observed_passengers,
       |    active_vehicles, avg_headway_min, is_peak_hour, action,
       |    CASE WHEN has_veh AND has_hw THEN 'ok'
       |         WHEN NOT has_veh AND NOT has_hw THEN 'missing_both'
       |         WHEN NOT has_veh THEN 'missing_vehicles'
       |         ELSE 'missing_headway' END AS status,
       |    CASE WHEN NOT (has_veh AND has_hw) AND action = 'needs_data'
       |           THEN 'Needs data (no vehicles/headway for this route-hour)'
       |         WHEN action = 'increase_frequency' THEN 'Increase frequency (over capacity target)'
       |         WHEN action = 'decrease_frequency' THEN 'Decrease frequency (under-utilized, off-peak)'
       |         ELSE 'Keep current frequency' END AS message,
       |    current_headway_min, recommended_headway_min,
       |    CASE WHEN current_headway_min IS NOT NULL AND recommended_headway_min IS NOT NULL
       |           AND current_headway_min > 0
       |         THEN recommended_headway_min - current_headway_min END AS delta_headway_min,
       |    CASE WHEN current_headway_min IS NOT NULL AND recommended_headway_min IS NOT NULL
       |           AND current_headway_min > 0
       |         THEN (recommended_headway_min / current_headway_min - 1.0) * 100.0 END AS delta_headway_pct,
       |    priority_score, confidence
       |  FROM jx)""".stripMargin

  protected val EXPORT_ROWS_SQL =
    s"""$EXPORT_ROWS_CTES
       |SELECT route_id, hour_ts, predicted_passengers, observed_passengers,
       |  active_vehicles, avg_headway_min, is_peak_hour, action, status, message,
       |  current_headway_min, recommended_headway_min, delta_headway_min,
       |  delta_headway_pct, priority_score, confidence
       |FROM xr ORDER BY route_id""".stripMargin

  protected val SUMMARY_TOP_SQL =
    s"""$EXPORT_ROWS_CTES
       |SELECT route_id, priority_score, action, message
       |FROM xr WHERE action <> 'needs_data'
       |ORDER BY priority_score DESC, route_id LIMIT 10""".stripMargin

  protected val PEAK_ROLLUP_SQL =
    s"""$KPI_CTES,
       |latest AS (SELECT MAX(hour_ts) AS max_ts FROM k),
       |win AS (SELECT * FROM k WHERE hour_ts >= (SELECT max_ts FROM latest) - INTERVAL 24 HOURS)
       |SELECT CAST(EXTRACT(HOUR FROM hour_ts) AS INTEGER) AS hour_of_day,
       |  CAST(COUNT(*) AS INTEGER) AS n_routes,
       |  ${davg("predicted_passengers")} AS avg_predicted_passengers,
       |  ${davg("observed_passengers")} AS avg_observed_passengers,
       |  ${davg("CASE WHEN active_vehicles > 0 THEN CAST(active_vehicles AS DOUBLE) END")} AS avg_active_vehicles,
       |  (CAST(SUM(avg_headway_us) AS DOUBLE) / COUNT(avg_headway_us)) / 60000000.0 AS avg_headway_min,
       |  CAST(SUM(CASE WHEN is_peak_hour = 1 THEN 1 ELSE 0 END) AS INTEGER) AS peak_routes
       |FROM win GROUP BY 1 ORDER BY 1""".stripMargin

  protected val VALIDATION_SQL =
    s"""WITH s2r AS ($S2R), f AS ($FLOW), d AS ($DEMAND_BODY), p AS ($PRED_BODY)
       |SELECT COUNT(*) AS n,
       |  ${davg("abs(y_pred - y_true)")} AS mae,
       |  sqrt(${davg("(y_pred - y_true) * (y_pred - y_true)")}) AS rmse,
       |  ${davg("2.0 * abs(y_pred - y_true) / GREATEST(abs(y_true) + abs(y_pred), 0.000001)")} * 100.0 AS smape_pct,
       |  ${davg("y_pred - y_true")} AS bias
       |FROM p WHERE y_true IS NOT NULL AND y_pred IS NOT NULL
       |  AND NOT isnan(y_true) AND NOT isnan(y_pred)""".stripMargin

  protected val VALIDATION_BY_ROUTE_SQL =
    s"""WITH s2r AS ($S2R), f AS ($FLOW), d AS ($DEMAND_BODY), p AS ($PRED_BODY)
       |SELECT route_id, COUNT(*) AS n,
       |  ${davg("abs(y_pred - y_true)")} AS mae,
       |  ${davg("y_pred - y_true")} AS bias,
       |  ${davg("y_true")} AS mean_true,
       |  ${davg("y_pred")} AS mean_pred
       |FROM p WHERE y_true IS NOT NULL AND y_pred IS NOT NULL
       |GROUP BY 1 ORDER BY 1""".stripMargin

  protected val VALIDATION_SCATTER_SQL =
    s"""WITH s2r AS ($S2R), f AS ($FLOW), d AS ($DEMAND_BODY), p AS ($PRED_BODY)
       |SELECT route_id, hour_ts, y_true, y_pred
       |FROM p
       |WHERE y_true IS NOT NULL AND y_pred IS NOT NULL
       |  AND NOT isnan(y_true) AND NOT isnan(y_pred)
       |  AND NOT isinf(y_true) AND NOT isinf(y_pred)
       |ORDER BY hour_ts, route_id""".stripMargin

  /** Oracle twin of [[graft.export.Plot.scatterRaster]] over the scatter
    * series: the matplotlib data→display affine replayed as the same
    * IEEE double op sequence (subtract, int-promoted multiply, divide,
    * floor — each correctly rounded, so the floors are bit-identical),
    * then the overplot collapse. Geometry constants inlined from
    * Plot.Geom(): 640×480 canvas, margin 40 → inner 559×399, origin
    * (40, 439), degenerate-span centers (279, 199).
    */
  protected val VALIDATION_SCATTER_RASTER_SQL =
    s"""WITH s2r AS ($S2R), f AS ($FLOW), d AS ($DEMAND_BODY), p AS ($PRED_BODY),
       |pts AS (
       |  SELECT y_true, y_pred FROM p
       |  WHERE y_true IS NOT NULL AND y_pred IS NOT NULL
       |    AND NOT isnan(y_true) AND NOT isnan(y_pred)
       |    AND NOT isinf(y_true) AND NOT isinf(y_pred)),
       |b AS (SELECT MIN(y_true) AS xmin, MAX(y_true) AS xmax,
       |             MIN(y_pred) AS ymin, MAX(y_pred) AS ymax FROM pts)
       |SELECT px, py, COUNT(*) AS n FROM (
       |  SELECT
       |    CAST(40 + CAST(CASE WHEN b.xmax = b.xmin THEN 279
       |      ELSE FLOOR((pts.y_true - b.xmin) * 559 / (b.xmax - b.xmin)) END AS INTEGER) AS INTEGER) AS px,
       |    CAST(439 - CAST(CASE WHEN b.ymax = b.ymin THEN 199
       |      ELSE FLOOR((pts.y_pred - b.ymin) * 399 / (b.ymax - b.ymin)) END AS INTEGER) AS INTEGER) AS py
       |  FROM pts, b)
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Oracle twin of [[graft.export.Plot.byHourPixels]]: the MAE-by-hour
    * vertices' pixel placement (hour grid on x, the same affine floor on
    * y). The mae input is the already-oracle-exact validation_by_hour
    * aggregate.
    */
  protected val VALIDATION_BY_HOUR_PIXELS_SQL =
    s"""WITH s2r AS ($S2R), f AS ($FLOW), d AS ($DEMAND_BODY), p AS ($PRED_BODY),
       |bh AS (
       |  SELECT CAST(EXTRACT(HOUR FROM hour_ts) AS INTEGER) AS hour_of_day,
       |    ${davg("abs(y_pred - y_true)")} AS mae
       |  FROM p WHERE y_true IS NOT NULL AND y_pred IS NOT NULL GROUP BY 1),
       |b AS (SELECT MIN(mae) AS mmin, MAX(mae) AS mmax FROM bh)
       |SELECT hour_of_day,
       |  CAST(40 + CAST(FLOOR(CAST(hour_of_day AS DOUBLE) * 559 / 23.0) AS INTEGER) AS INTEGER) AS px,
       |  CAST(439 - CAST(CASE WHEN b.mmax = b.mmin THEN 199
       |    ELSE FLOOR((bh.mae - b.mmin) * 399 / (b.mmax - b.mmin)) END AS INTEGER) AS INTEGER) AS py
       |FROM bh, b ORDER BY hour_of_day""".stripMargin

  protected val LABEL_LEAD_SQL =
    s"""WITH s2r AS ($S2R), f AS ($FLOW), d AS ($DEMAND_BODY)
       |SELECT route_id, hour_ts, passengers,
       |  LEAD(passengers, 1) OVER (PARTITION BY route_id ORDER BY hour_ts) AS label_next_hour
       |FROM d ORDER BY route_id, hour_ts""".stripMargin

  // ---- query registrations ----

  protected def ntzCol(c: String) = col(c).cast("timestamp_ntz").as(c)

  import Pipelines._
  import graft.rel.{Analytics, Relational, Sessionize, Sketches}
  import graft.export.Export

  protected def suggestionsFlat(s: SparkSession, dir: String): DataFrame =
    suggestionsProjection(suggestions(s, dir, onlyChanges = true))

  /** The flat output shape + ordering shared by the batch `suggestions`
    * query and the end-to-end streaming chain — both verify against
    * SUGGESTIONS_SQL, so the projection must be one definition.
    */
  protected def suggestionsProjection(frame: DataFrame): DataFrame =
    frame
      .select(col("route_id"), ntzCol("hour_ts"), col("predicted_passengers"),
        col("observed_passengers"), col("active_vehicles"), col("avg_headway_min"),
        col("trip_update_events"), col("avg_delay_seconds"), col("hour_of_day"),
        col("is_peak_hour"), col("current_headway_min"), col("trips_per_hour_est"),
        col("capacity_est"), col("load_factor"), col("passengers_per_trip_est"),
        col("confidence"), col("action"), col("rule"),
        col("recommended_headway_min"), col("priority_score"))
      .orderBy("route_id", "hour_ts")

}
