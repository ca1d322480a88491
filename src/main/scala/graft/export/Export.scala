package graft.export

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Cols._

/** Export-side views (SURVEY.md §2.3 J5, §2.4 A9-A11, §2.9 D7-D9): the
  * latest-hour snapshot, the trailing-24h peak-hours rollup, the action
  * histogram, and the prediction-validation metrics.
  *
  * Scale notes: the MAX(hour_ts) scalar is computed as a 1-row aggregate
  * joined back via broadcast — no collect() on the driver, and the snapshot
  * join stays a broadcast-hash join at any fact size (SURVEY §7.4 item 10:
  * one plan computes both the max and the join, so there is no
  * read-snapshot race).
  */
object Export {

  /** J5 + D7 (flat) — KPI rows at the latest hour, LEFT JOIN suggestions,
    * needs_data defaults. Ref: src/dag/export-suggestions-json-job.py:66-120.
    */
  def latestHourSnapshot(kpi: DataFrame, suggestions: DataFrame): DataFrame = {
    val latest = kpi.agg(max("hour_ts").as("hour_ts"))
    val sug = suggestions.select(
      col("route_id"), col("hour_ts"), col("action"),
      col("recommended_headway_min"), col("priority_score"))
    kpi.join(broadcast(latest), Seq("hour_ts"))
      .join(sug, Seq("route_id", "hour_ts"), "left")
      .select(
        col("route_id"), col("hour_ts"),
        col("predicted_passengers"), col("observed_passengers"),
        col("active_vehicles"), col("avg_headway_min"), col("is_peak_hour"),
        coalesce(col("action"), lit("needs_data")).as("action"),
        col("recommended_headway_min"),
        coalesce(col("priority_score"), lit(0.0)).as("priority_score"))
      .orderBy("hour_ts", "route_id")
  }

  /** A9 — trailing-24h rollup by hour-of-day.
    * Ref: src/dag/export-suggestions-json-job.py:122-143
    * (AVG(CASE WHEN active_vehicles>0 ...) keeps zeros out of both the
    * numerator and denominator — detAvg over a when() mask preserves that).
    */
  def peakHoursRollup(kpi: DataFrame): DataFrame = {
    val latest = kpi.agg(max("hour_ts").as("max_ts"))
    kpi.crossJoin(broadcast(latest))
      .filter(col("hour_ts") >= col("max_ts") - expr("INTERVAL 24 HOURS"))
      .groupBy(hour(col("hour_ts")).cast("int").as("hour_of_day"))
      .agg(
        count(lit(1)).cast("int").as("n_routes"),
        detAvg(col("predicted_passengers")).as("avg_predicted_passengers"),
        detAvg(col("observed_passengers")).as("avg_observed_passengers"),
        detAvg(when(col("active_vehicles") > 0, col("active_vehicles").cast("double")))
          .as("avg_active_vehicles"),
        // averaged in the exact integer-µs domain (see Kpi.headwayHourly),
        // one double division at the edge
        ((sum(col("avg_headway_us")).cast("double") / count(col("avg_headway_us")))
          / lit(6.0e7)).as("avg_headway_min"),
        sum(when(col("is_peak_hour") === 1, 1).otherwise(0)).cast("int").as("peak_routes"))
      .orderBy("hour_of_day")
  }

  /** A10 — suggestions-per-action histogram.
    * Ref: src/optimization/export_suggestions_json.py:274-277.
    */
  def actionHistogram(suggestions: DataFrame): DataFrame =
    suggestions.groupBy("action").agg(count(lit(1)).as("n")).orderBy("action")

  /** A11 — global validation metrics over (y_true, y_pred) pairs.
    * Ref: src/optimization/validate_predictions.py:28-50 (MAE, RMSE,
    * sMAPE% with 1e-6 denominator floor, bias = mean(pred - true)).
    */
  def validationMetrics(predictions: DataFrame): DataFrame = {
    val valid = predictions.filter(
      col("y_true").isNotNull && col("y_pred").isNotNull &&
        !isnan(col("y_true")) && !isnan(col("y_pred")))
    val diff = col("y_pred") - col("y_true")
    valid.agg(
      count(lit(1)).as("n"),
      detAvg(abs(diff)).as("mae"),
      sqrt(detAvg(diff * diff)).as("rmse"),
      (detAvg(lit(2.0) * abs(diff) /
        greatest(abs(col("y_true")) + abs(col("y_pred")), lit(1e-6))) * 100.0)
        .as("smape_pct"),
      detAvg(diff).as("bias"))
  }

  /** A11 — the predicted-vs-observed scatter's exact point series
    * (validate_predictions.py:84-90, the first of the two validation
    * plots): the validation rows after the reference's Inf→NaN→dropna
    * scrub (:19-22 — so both NaN AND ±Inf drop), in the read order the
    * plot consumes them (ORDER BY hour_ts, route_id — :15). The second
    * plot's series (MAE by hour, :92-98) is [[validationByHour]]. With
    * both series oracle-exact, the only un-reproduced part of the
    * reference's validation step is matplotlib rendering itself.
    */
  def validationScatterPoints(predictions: DataFrame): DataFrame = {
    import graft.functions.Cols.scrubDouble
    predictions
      .select(col("route_id"), col("hour_ts").cast("timestamp_ntz").as("hour_ts"),
        scrubDouble(col("y_true")).as("y_true"),
        scrubDouble(col("y_pred")).as("y_pred"))
      .filter(col("y_true").isNotNull && col("y_pred").isNotNull)
      .orderBy("hour_ts", "route_id")
  }

  /** A11 grouped — per-route MAE/bias breakdown.
    * Ref: validate_predictions.py:66-76 (ordered by route for determinism
    * rather than the reference's MAE-desc print order).
    */
  def validationByRoute(predictions: DataFrame): DataFrame = {
    val diff = col("y_pred") - col("y_true")
    predictions
      .filter(col("y_true").isNotNull && col("y_pred").isNotNull)
      .groupBy("route_id")
      .agg(
        count(lit(1)).as("n"),
        detAvg(abs(diff)).as("mae"),
        detAvg(diff).as("bias"),
        detAvg(col("y_true")).as("mean_true"),
        detAvg(col("y_pred")).as("mean_pred"))
      .orderBy("route_id")
  }

  /** A11 grouped — peak vs off-peak MAE/bias breakdown.
    * Ref: validate_predictions.py:60-64.
    */
  def validationByPeak(predictions: DataFrame): DataFrame = {
    val diff = col("y_pred") - col("y_true")
    predictions
      .filter(col("y_true").isNotNull && col("y_pred").isNotNull)
      .groupBy(isPeakHour(col("hour_ts")).as("is_peak_hour"))
      .agg(
        count(lit(1)).as("n"),
        detAvg(abs(diff)).as("mae"),
        detAvg(diff).as("bias"))
      .orderBy("is_peak_hour")
  }

  /** A11 grouped — per-hour-of-day MAE/bias breakdown.
    * Ref: validate_predictions.py:52-58.
    */
  def validationByHour(predictions: DataFrame): DataFrame = {
    val diff = col("y_pred") - col("y_true")
    predictions
      .filter(col("y_true").isNotNull && col("y_pred").isNotNull)
      .groupBy(hour(col("hour_ts")).cast("int").as("hour_of_day"))
      .agg(
        count(lit(1)).as("n"),
        detAvg(abs(diff)).as("mae"),
        detAvg(diff).as("bias"))
      .orderBy("hour_of_day")
  }

  /** D7 — frontend export rows over the latest-hour snapshot, carrying
    * the suggestion-side derivations the reference's build_route_rows
    * computes per row: data-availability `status`, human `message`, and
    * headway deltas. Flat columns (one per payload field) so the whole
    * shape is DuckDB-hash-checkable; [[routeRowsJson]] folds them into
    * the reference's {kpi{}, suggestion{}} JSON structure.
    * Ref: src/optimization/export_suggestions_json.py:88-117 (SQL_LATEST_ROWS),
    * :149-177 (compute_status/compute_message), :204-252 (build_route_rows).
    */
  def exportRows(kpi: DataFrame, suggestions: DataFrame): DataFrame = {
    val latest = kpi.agg(max("hour_ts").as("hour_ts"))
    val sug = suggestions.select(
      col("route_id"), col("hour_ts"), col("action"),
      col("current_headway_min"), col("recommended_headway_min"),
      col("priority_score"), col("confidence"))
    val joined = kpi
      .select("route_id", "hour_ts", "predicted_passengers", "observed_passengers",
        "active_vehicles", "avg_headway_min", "is_peak_hour")
      .join(broadcast(latest), Seq("hour_ts"))
      .join(sug, Seq("route_id", "hour_ts"), "left")
      .withColumn("action", coalesce(col("action"), lit("needs_data")))
      .withColumn("priority_score", coalesce(col("priority_score"), lit(0.0)))
      // confidence rides in the reasons JSON; absent suggestion → 0.0
      // (get_confidence of the fallback reasons object)
      .withColumn("confidence", coalesce(col("confidence"), lit(0.0)))
    val hasVeh = coalesce(col("active_vehicles"), lit(0L)) > 0
    val hasHw = col("avg_headway_min").isNotNull && !isnan(col("avg_headway_min"))
    val status = when(hasVeh && hasHw, "ok")
      .when(!hasVeh && !hasHw, "missing_both")
      .when(!hasVeh, "missing_vehicles")
      .otherwise("missing_headway")
    val deltaOk = col("current_headway_min").isNotNull &&
      col("recommended_headway_min").isNotNull && col("current_headway_min") > 0
    joined
      .withColumn("status", status)
      .withColumn("message",
        when(col("status") =!= "ok" && col("action") === "needs_data",
          "Needs data (no vehicles/headway for this route-hour)")
          .when(col("action") === "increase_frequency",
            "Increase frequency (over capacity target)")
          .when(col("action") === "decrease_frequency",
            "Decrease frequency (under-utilized, off-peak)")
          .otherwise("Keep current frequency"))
      .withColumn("delta_headway_min",
        when(deltaOk, col("recommended_headway_min") - col("current_headway_min")))
      .withColumn("delta_headway_pct",
        when(deltaOk,
          (col("recommended_headway_min") / col("current_headway_min") - 1.0) * 100.0))
      .select("route_id", "hour_ts", "predicted_passengers", "observed_passengers",
        "active_vehicles", "avg_headway_min", "is_peak_hour", "action", "status",
        "message", "current_headway_min", "recommended_headway_min",
        "delta_headway_min", "delta_headway_pct", "priority_score", "confidence")
      .orderBy("route_id")
  }

  /** The suggestion `reasons` object's schema (17 keys — 14 base +
    * rule + 2 branch keys, generate_suggestions.py:128-185), used to
    * re-nest the JSON-string column into a typed struct for export.
    */
  val ReasonsSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType.fromDDL(
      "predicted_passengers DOUBLE, observed_passengers DOUBLE, " +
        "active_vehicles BIGINT, avg_headway_min DOUBLE, " +
        "current_headway_min DOUBLE, trips_per_hour_est DOUBLE, " +
        "capacity_est_per_hour DOUBLE, load_factor_per_hour DOUBLE, " +
        "passengers_per_trip_est DOUBLE, cap_target_per_trip DOUBLE, " +
        "cap_low_per_trip DOUBLE, avg_delay_seconds DOUBLE, " +
        "is_peak_hour INT, confidence DOUBLE, rule STRING, " +
        "trips_per_hour_target DOUBLE, raw_recommended_headway_min DOUBLE")

  /** D7/S11 — the per-route payload serialized EXACTLY as
    * build_route_rows emits it (export_suggestions_json.py:202-250): the
    * reference's {route_id, hour_ts, kpi{...}, suggestion{...}} shape
    * over [[exportRows]] output, reasons object included: real suggestions carry the 17-key reasons
    * parsed back out of the suggestions frame's JSON column; rows the
    * LEFT JOIN left without a suggestion carry the reference's
    * `{"reason": "no data"}` fallback (:214). The two branches have
    * different shapes (the reference's reasons dict is dynamic), so this
    * serializes per-row with a conditional `to_json` — nulls kept,
    * matching json.dump — into a `payload_json` string column that
    * [[writeJsonArray]] splices verbatim. GoldenExportSpec diffs the
    * key-paths against the reference's committed
    * exports/route_suggestions_latest.json.
    */
  def routeRowsJson(rows: DataFrame, suggestions: DataFrame): DataFrame = {
    val opts = Map("ignoreNullFields" -> "false")
    val hourIso = date_format(col("hour_ts"), "yyyy-MM-dd'T'HH:mm:ss")
    val kpiS = struct(
      col("predicted_passengers"), col("observed_passengers"),
      col("active_vehicles"), col("avg_headway_min"), col("is_peak_hour"))
    def suggestionS(reasons: org.apache.spark.sql.Column) = struct(
      col("action"), col("status"), col("message"),
      col("current_headway_min"), col("recommended_headway_min"),
      col("delta_headway_min"), col("delta_headway_pct"),
      col("priority_score"), col("confidence"), reasons.as("reasons"))
    def payload(reasons: org.apache.spark.sql.Column) = struct(
      col("route_id"), hourIso.as("hour_ts"),
      kpiS.as("kpi"), suggestionS(reasons).as("suggestion"))
    rows
      .join(suggestions.select(col("route_id"), col("hour_ts"), col("reasons")),
        Seq("route_id", "hour_ts"), "left")
      .withColumn("payload_json",
        when(col("action") === "needs_data",
          to_json(payload(struct(lit("no data").as("reason"))), opts))
          .otherwise(to_json(payload(from_json(col("reasons"), ReasonsSchema)), opts)))
      .select("route_id", "action", "payload_json")
      .orderBy("route_id")
  }

  /** D8 — the summary artifact in the reference's exact nested shape
    * (export_suggestions_json.py:279-296): {hour_ts, total_routes,
    * needs_data, suggestions, actions:{action: count, …},
    * top_priority:[{route_id, priority_score, action, message} × 10]}.
    * One row; the action histogram folds into a dynamic-keyed map and
    * the top-10 embed into an ordered struct array, so `to_json` of the
    * single row IS the artifact object. The flat oracle twins
    * (export_summary / export_summary_top / action_histogram) check the
    * values; this shape exists for the golden key-path contract.
    */
  def summaryArtifact(rows: DataFrame): DataFrame = {
    val counts = rows.groupBy("action").agg(count(lit(1)).as("n"))
      .agg(map_from_entries(sort_array(collect_list(struct(col("action"), col("n")))))
        .as("actions"))
    val top = summaryTop(rows)
      .agg(collect_list(struct(
        col("route_id"), col("priority_score"), col("action"), col("message")))
        .as("top_priority"))
    rows.agg(
      date_format(max(col("hour_ts")), "yyyy-MM-dd'T'HH:mm:ss").as("hour_ts"),
      count(lit(1)).as("total_routes"),
      sum(when(col("action") === "needs_data", 1).otherwise(0)).as("needs_data"),
      sum(when(col("action") =!= "needs_data", 1).otherwise(0)).as("suggestions"))
      .crossJoin(broadcast(counts))   // both sides are 1-row aggregates
      .crossJoin(broadcast(top))
      .select("hour_ts", "total_routes", "needs_data", "suggestions",
        "actions", "top_priority")
  }


  /** D9 — geo grouping: stops collected under each route as an ordered
    * array of structs. Ref: src/dag/export-routes-geo-job.py:77-104.
    * Rows-only check (nested schema is not DuckDB-oracle comparable).
    */
  def geoGrouping(stopsPerRoute: DataFrame): DataFrame =
    stopsPerRoute
      .groupBy("route_id")
      .agg(sort_array(collect_list(struct(
        col("stop_id"), col("stop_name"), col("lat"), col("lon")))).as("stops"))
      .orderBy("route_id")

  /** D9 — the full routes_geo artifact row (export-routes-geo-job.py:
    * 81-99): route_id plus the route-level names carried alongside the
    * grouped stop array, exactly the `routes_map` entry shape the
    * reference writes to exports/routes_geo_latest.json. Names ride in
    * the group-by (functionally dependent on route_id), so the plan is
    * the same single hash-aggregation as [[geoGrouping]].
    */
  def geoGroupingFull(stopsPerRoute: DataFrame): DataFrame =
    stopsPerRoute
      .groupBy("route_id", "route_short_name", "route_long_name")
      .agg(sort_array(collect_list(struct(
        col("stop_id"), col("stop_name"), col("lat"), col("lon")))).as("stops"))
      .select("route_id", "route_short_name", "route_long_name", "stops")
      .orderBy("route_id")

  /** O3 — top-N by priority with deterministic tie-breaks (the clamp puts
    * many rows at exactly 1.0). Ref: export_suggestions_json.py:269-272.
    */
  def topPriority(suggestions: DataFrame, n: Int = 20): DataFrame =
    suggestions
      .select("route_id", "hour_ts", "action", "priority_score",
        "recommended_headway_min", "confidence")
      .orderBy(col("priority_score").desc, col("route_id"), col("hour_ts"))
      .limit(n)

  /** D8 — flat summary object: the snapshot hour, row totals, action
    * counts, needs-data vs real-suggestion split.
    * Ref: export_suggestions_json.py:279-296 (hour_ts, total_routes,
    * needs_data, suggestions, actions).
    */
  def summary(snapshot: DataFrame): DataFrame =
    snapshot.agg(
      max("hour_ts").as("hour_ts"), // snapshot is single-hour by construction
      count(lit(1)).as("n_routes"),
      sum(when(col("action") === "increase_frequency", 1).otherwise(0)).as("n_increase"),
      sum(when(col("action") === "decrease_frequency", 1).otherwise(0)).as("n_decrease"),
      sum(when(col("action") === "needs_data", 1).otherwise(0)).as("n_needs_data"),
      sum(when(col("action") =!= "needs_data", 1).otherwise(0)).as("n_suggestions"),
      detAvg(col("priority_score")).as("avg_priority"))

  /** D8 — the summary's top_priority embed: top-N real suggestions
    * (action ≠ needs_data) by priority, with the per-row payload fields
    * the reference carries (route_id, priority_score, action, message).
    * Deterministic tie-breaks on route_id (pandas' stable sort order is
    * input-order dependent; ours is keyed).
    * Ref: export_suggestions_json.py:285-293.
    */
  def summaryTop(rows: DataFrame, n: Int = 10): DataFrame =
    rows
      .filter(col("action") =!= "needs_data")
      .select("route_id", "priority_score", "action", "message")
      .orderBy(col("priority_score").desc, col("route_id"))
      .limit(n)

  /** S11 — JSON file sink: the result rows as one pretty-printed JSON
    * array (NaN/Inf scrubbed to null by the caller's schema, timestamps
    * already ISO strings via the caller's date_format). Export results are
    * route-count-sized, so a driver-side write is the right tool — this is
    * the one deliberate non-distributed step, matching the reference's
    * single JSON artifact per export. Ref: export_suggestions_json.py:31-83.
    *
    * @return the number of rows written (the array length already in
    *         hand — callers wanting a manifest count must not re-execute
    *         the plan with a second count()).
    */
  def writeJsonArray(df: DataFrame, path: String): Long = {
    // pre-serialized rows are an EXPLICIT opt-in: only a lone column
    // named payload_json (the [[routeRowsJson]] contract — per-row
    // conditional shapes toJSON's fixed schema can't express) is
    // spliced verbatim; any other single string column still goes
    // through toJSON, so a plain projection can't silently produce
    // bare unquoted tokens
    val rows = df.schema.fields match {
      case Array(f) if f.name == "payload_json" &&
          f.dataType == org.apache.spark.sql.types.StringType =>
        df.collect().map(_.getString(0))
      case _ => df.toJSON.collect()
    }
    // json.dump([]) is `[]` — the bracketed mkString would emit
    // whitespace-only garbage for the empty frame (needs_data_latest is
    // empty in the reference's own committed artifact)
    val json =
      if (rows.isEmpty) "[]" else rows.mkString("[\n  ", ",\n  ", "\n]")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), json)
    rows.length.toLong
  }
}
