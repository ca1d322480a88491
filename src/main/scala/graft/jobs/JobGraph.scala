package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Orchestration analog of the reference's Airflow deployment (SURVEY.md
  * "What's missing" item 2): the eight DAG files under src/dag/ plus the
  * two continuous services (gtfs-realtime-poller/poller.py,
  * db-ingestion-service/ingestor.py) as ONE declarative job graph —
  * task-level nodes carrying the tables they produce and consume, every
  * edge DERIVED from those declarations (a task depends on whoever
  * produces what it reads), and a deterministic wave schedule (wave =
  * longest dependency path) that both orders execution and names the
  * maximal safe parallelism per round.
  *
  * What Airflow contributes in the reference is exactly two things the
  * engine can own: (1) the dependency structure — in the reference it is
  * IMPLICIT, spread across eight files as shared Postgres table names
  * (e.g. build-kpi-job.py's KPI_SQL reads demand_predictions, which only
  * ml-job.py's save_results writes — the "SAFE AFTER ML" comment at
  * build-kpi-job.py:12 is a human-enforced edge); and (2) wall-clock
  * triggering (@hourly/@daily cadences). This module makes (1) explicit,
  * checkable, and executable; (2) — firing at wall-clock times — is a
  * deployment concern (cron/Airflow/scheduler of choice invoking
  * [[run]]), retained here as the declared `cadence` metadata per task.
  *
  * Reference wiring notes, encoded below and worth calling out:
  *  - Intra-DAG edges are Airflow TaskFlow DATA edges (the return of one
  *    @task feeding the next: gtfs-static-job.py:384-388, ml-job.py:271-281,
  *    weather-job.py:76-78). They appear here as single-consumer artifact
  *    tables (gtfs_zip, weather_api_response, ml_run_meta, ml_result, …) —
  *    the xcom payloads, materialized.
  *  - ml-job.py calls ensure_ml_dataset_view() / ensure_tables() WITHOUT
  *    using their return values (ml-job.py:274-275), so real Airflow gives
  *    them NO downstream edge — load_dataset can legally run before the
  *    view exists. That latent race is closed here by declaring the true
  *    data dependencies (the view artifact feeds load_dataset, the DDL
  *    artifact feeds save_results).
  *  - The four hourly base views ml_dataset_hourly reads
  *    (passenger_demand_hourly/delay_hourly/vehicle_hourly/weather_hourly,
  *    ml-job.py:57-63) are created NOWHERE in the reference — an
  *    undeclared schema assumption. Here they are owned by
  *    ensure_ml_dataset_view, which therefore consumes their base tables
  *    (the engine's views.Hourly computes them in-plan).
  *
  * Scale shape: the graph is deployment METADATA (tens of nodes however
  * big the data), so scheduling it is not a data-scale problem — but both
  * derivations are still expressed relationally (edge inference is a join
  * of the exploded produces/consumes relations; waves are an iterative
  * frontier expansion bounded by the node count, the same fixpoint shape
  * as dedup.Dedup's label propagation) and hash-checked against a DuckDB
  * recursive-CTE twin, so the scheduler's semantics are part of the
  * oracle gate, not prose. [[JobRunner.run]] starts each task as soon as
  * every upstream in [[upstreamsOf]] has finished, on [[width]] driver
  * threads, with every task reading ONLY the materialized tables it
  * declares in `consumes` and writing only those in its `produces`
  * (parquet per table, the Postgres-table handoff done in files): an
  * undeclared read or write throws, so the declarations this graph
  * derives its edges from are the whole concurrency contract.
  */
object JobGraph {

  /** One Airflow task (or continuous-service loop): where it lives, how
    * often its DAG fires, and the tables/artifacts it reads and writes.
    */
  final case class JobTask(
      dag: String,
      task: String,
      cadence: String,
      consumes: Seq[String],
      produces: Seq[String])

  def key(t: JobTask): String = s"${t.dag}.${t.task}"

  /** The reference deployment, task by task (citations per entry). */
  val tasks: Seq[JobTask] = Seq(
    // Continuous services (not DAGs — Docker loops; poller.py:49-54 builds
    // the protobuf frames, ingestor.py:55/92/120 upserts the three RT
    // tables). Cadence "continuous" marks the streaming seam: in the
    // engine these run as the graftqueue Structured Streaming pair, and
    // [[run]] executes their batch equivalents.
    JobTask("gtfs_realtime_poller", "poll_feeds", "continuous",
      Nil, Seq("rt_frames")),
    JobTask("db_ingestion_service", "ingest_frames", "continuous",
      Seq("rt_frames"),
      Seq("vehicle_positions", "trip_updates", "service_alerts")),

    // static_gtfs_job (gtfs-static-job.py:13-388, schedule=daily):
    // download -> extract -> process -> load -> init_stop_base_demand,
    // each passing its return to the next (:384-388).
    JobTask("static_gtfs_job", "download", "@daily",
      Nil, Seq("gtfs_zip")),
    JobTask("static_gtfs_job", "extract", "@daily",
      Seq("gtfs_zip"), Seq("gtfs_raw")),
    JobTask("static_gtfs_job", "process", "@daily",
      Seq("gtfs_raw"), Seq("gtfs_normalized")),
    JobTask("static_gtfs_job", "load", "@daily",
      Seq("gtfs_normalized"),
      Seq("stops", "routes", "trips", "stop_times", "gtfs_versions")),
    JobTask("static_gtfs_job", "init_stop_base_demand", "@daily",
      Seq("stop_times", "gtfs_versions"), Seq("stop_base_demand")),

    // weather_ingestion_pipeline (weather-job.py:23-79, schedule=daily):
    // fetch -> normalize -> write (:76-78).
    JobTask("weather_ingestion_pipeline", "fetch_weather", "@daily",
      Nil, Seq("weather_api_response")),
    JobTask("weather_ingestion_pipeline", "normalize_weather", "@daily",
      Seq("weather_api_response"), Seq("weather_normalized")),
    JobTask("weather_ingestion_pipeline", "write_to_db", "@daily",
      Seq("weather_normalized"), Seq("weather_observations")),

    // mock_passenger_flow_pipeline (mock_passenger_flow_job.py:77-112,
    // @hourly): one task reading stop_base_demand (:99), recent
    // trip_updates (:109-110) and weather_observations (:120-121).
    JobTask("mock_passenger_flow_pipeline", "generate_flow", "@hourly",
      Seq("stop_base_demand", "trip_updates", "weather_observations"),
      Seq("passenger_flow_events")),

    // ml_train_predict_demand_rf_psycopg2 (ml-job.py:93-281, @hourly).
    JobTask("ml_train_predict_demand_rf_psycopg2", "generate_run_metadata",
      "@hourly", Nil, Seq("ml_run_meta")),
    JobTask("ml_train_predict_demand_rf_psycopg2", "ensure_ml_dataset_view",
      "@hourly",
      Seq("passenger_flow_events", "trip_updates", "vehicle_positions",
        "weather_observations", "stop_times", "trips", "gtfs_versions"),
      Seq("ml_dataset_hourly")),
    JobTask("ml_train_predict_demand_rf_psycopg2", "ensure_tables",
      "@hourly", Nil, Seq("ml_tables_ddl")),
    JobTask("ml_train_predict_demand_rf_psycopg2", "load_dataset",
      "@hourly", Seq("ml_dataset_hourly"), Seq("ml_training_frame")),
    JobTask("ml_train_predict_demand_rf_psycopg2",
      "train_and_prepare_predictions", "@hourly",
      Seq("ml_training_frame", "ml_run_meta"), Seq("ml_result")),
    JobTask("ml_train_predict_demand_rf_psycopg2", "save_results",
      "@hourly", Seq("ml_result", "ml_tables_ddl"),
      Seq("demand_predictions", "demand_predictions_history", "ml_runs")),

    // build_kpi_views (build-kpi-job.py:191-209, @hourly): one task
    // rebuilding the view chain; KPI_SQL reads vehicle_positions (:30,42),
    // trip_updates (:72) and demand_predictions (:95).
    JobTask("build_kpi_views", "rebuild_kpi_views", "@hourly",
      Seq("vehicle_positions", "trip_updates", "demand_predictions"),
      Seq("kpi_hourly")),

    // generate_route_optimization_suggestions
    // (generate-suggestions-job.py:187-, @hourly).
    JobTask("generate_route_optimization_suggestions",
      "compute_and_save_suggestions", "@hourly",
      Seq("kpi_hourly"), Seq("route_optimization_suggestions")),

    // export_route_suggestions_json (export-suggestions-json-job.py:255-,
    // @hourly): five JSON artifacts from kpi_hourly + suggestions.
    JobTask("export_route_suggestions_json", "export_all", "@hourly",
      Seq("kpi_hourly", "route_optimization_suggestions"),
      Seq("suggestions_exports")),

    // export_routes_geo_json (export-routes-geo-job.py:56-, @daily); like
    // ensure_ml_dataset_view it reads gtfs_versions to pin its static
    // reads to the current feed.
    JobTask("export_routes_geo_json", "export_routes_geo", "@daily",
      Seq("stops", "routes", "trips", "stop_times", "gtfs_versions"),
      Seq("routes_geo_latest_json")))

  // ---- relational derivations ------------------------------------------

  private def producesDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    tasks.flatMap(t => t.produces.map(p => (t.dag, t.task, p)))
      .toDF("dag_id", "task_id", "tbl")
  }

  private def consumesDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    tasks.flatMap(t => t.consumes.map(c => (t.dag, t.task, c)))
      .toDF("dag_id", "task_id", "tbl")
  }

  /** Edge inference: producer ⋈ consumer on the shared table. Labeled by
    * the table (`via`) so a pair linked through several tables keeps one
    * row per table — the lineage answer to "why does B wait for A".
    */
  def edges(spark: SparkSession): DataFrame = {
    val p = producesDf(spark).select(
      col("dag_id").as("src_dag"), col("task_id").as("src_task"), col("tbl"))
    val c = consumesDf(spark).select(
      col("dag_id").as("dst_dag"), col("task_id").as("dst_task"), col("tbl"))
    p.join(c, Seq("tbl"))
      .filter(col("src_dag") =!= col("dst_dag") ||
        col("src_task") =!= col("dst_task"))
      .select(col("src_dag"), col("src_task"),
        col("dst_dag"), col("dst_task"), col("tbl").as("via"))
      .orderBy("src_dag", "src_task", "dst_dag", "dst_task", "via")
  }

  /** Upstream map derived from the same declarations [[edges]] joins:
    * node → its distinct producing-task keys, sorted; source nodes have
    * no entry. [[waves]] orders by it and [[JobRunner.run]] starts each
    * node once every upstream listed here has finished.
    */
  lazy val upstreamsOf: Map[String, Seq[String]] = {
    val pairs = for {
      p <- tasks; c <- tasks
      if key(p) != key(c)
      t <- p.produces if c.consumes.contains(t)
    } yield (key(c), key(p))
    pairs.groupBy(_._1).map { case (dst, ps) =>
      dst -> ps.map(_._2).distinct.sorted
    }
  }

  /** Deterministic wave per task: wave(n) = length of the longest
    * dependency path ending at n (sources = wave 1). Tasks sharing a
    * wave have no path between them and may run concurrently — the
    * schedule IS the parallelism plan ([[JobRunner.run]] goes further
    * and starts a task the moment its own upstreams finish, without
    * waiting for the rest of the wave before it). Computed on the
    * driver: the graph is deployment metadata, O(#tasks) however big the
    * data, which is exactly where every real scheduler computes it
    * (compare the audited bounded collects: BPE vocab, hour histogram).
    * Kahn-style so a cycle fails loudly instead of recursing forever.
    */
  lazy val waves: Map[String, Int] = {
    var acc = Map.empty[String, Int]
    var remaining = tasks.map(key).toSet
    while (remaining.nonEmpty) {
      val ready = remaining.filter(k =>
        upstreamsOf.getOrElse(k, Nil).forall(acc.contains))
      require(ready.nonEmpty,
        s"cycle in job graph among: ${remaining.toSeq.sorted.mkString(", ")}")
      ready.foreach { k =>
        acc += k -> (1 + upstreamsOf.getOrElse(k, Nil)
          .map(acc).foldLeft(0)(math.max))
      }
      remaining --= ready
    }
    acc
  }

  /** Node count of the widest wave — the most tasks the wave schedule
    * runs side by side — and so [[JobRunner.run]]'s driver thread count.
    */
  lazy val width: Int = waves.values.groupBy(identity).values.map(_.size).max

  /** The wave schedule as a frame: (wave, dag, task, cadence, upstream
    * count + sorted list). The DuckDB twin ([[scheduleSql]]) re-derives
    * every column INDEPENDENTLY from the task literals — edges by the
    * produces⋈consumes join, waves by the textbook recursive-CTE
    * longest-path — so the driver-side Kahn walk here is cross-checked
    * end-to-end by the oracle gate, not trusted.
    */
  def schedule(spark: SparkSession): DataFrame = {
    import spark.implicits._
    tasks.map { t =>
      val ups = upstreamsOf.getOrElse(key(t), Nil)
      (waves(key(t)), t.dag, t.task, t.cadence, ups.size, ups.mkString(","))
    }
      .toDF("wave", "dag_id", "task_id", "cadence", "n_upstreams", "upstreams")
      .orderBy("wave", "dag_id", "task_id")
  }

  // ---- wall-clock trigger semantics (r13) --------------------------------
  //
  // The one Airflow contribution previously left as metadata: WHEN each
  // DAG fires. Airflow's data-interval model is encoded exactly — a
  // @daily run for interval [D, D+1d) RUNS AT the interval's END (the
  // run_after column), @hourly likewise; "continuous" services are
  // always-on (one row at the window start). Given a simulated clock
  // window the full firing timetable is pure column algebra (sequence()
  // over aligned boundaries), so the trigger semantics sit inside the
  // hash gate like the edges and waves already do; only the literal
  // act of sleeping until run_after remains deployment-side.

  /** The cadences [[fireSchedule]]/[[fireScheduleSql]] implement. A task
    * added later with any OTHER cadence would previously be SILENTLY
    * omitted from the firing timetable — and because the SQL twin shared
    * the omission, the hash gate could not catch it (ADVICE r13). Both
    * entry points now fail loudly on an unhandled cadence instead.
    */
  private val HandledCadences = Set("@hourly", "@daily", "continuous")

  private def requireHandledCadences(): Unit = {
    val unhandled = tasks.map(_.cadence).distinct.filterNot(HandledCadences)
    require(unhandled.isEmpty,
      s"fireSchedule implements only $HandledCadences; " +
        s"unhandled cadence(s) would be silently dropped: ${unhandled.mkString(", ")}")
  }

  private def dagsDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    tasks.map(t => (t.dag, t.cadence)).distinct
      .toDF("dag_id", "cadence")
  }

  /** Every DAG run whose data interval STARTS inside [startTs, endTs):
    * (dag_id, cadence, data_interval_start, run_after). Airflow
    * alignment: intervals start at cadence-unit boundaries; the run is
    * scheduled at the interval end.
    */
  def fireSchedule(spark: SparkSession, startTs: String, endTs: String): DataFrame = {
    requireHandledCadences()
    val dags = dagsDf(spark)
    val start = lit(startTs).cast("timestamp_ntz")
    val end = lit(endTs).cast("timestamp_ntz")
    def fires(cad: String, unit: String) =
      dags.filter(col("cadence") === cad)
        .withColumn("fire", explode(sequence(
          date_trunc(unit, start).cast("timestamp_ntz"), end,
          expr(s"interval 1 $unit"))))
        .filter(col("fire") >= start && col("fire") < end)
        .select(col("dag_id"), col("cadence"),
          col("fire").as("data_interval_start"),
          (col("fire") + expr(s"interval 1 $unit")).cast("timestamp_ntz")
            .as("run_after"))
    val continuous = dags.filter(col("cadence") === "continuous")
      .select(col("dag_id"), col("cadence"),
        start.as("data_interval_start"), start.as("run_after"))
    fires("@hourly", "hour")
      .unionByName(fires("@daily", "day"))
      .unionByName(continuous)
      .orderBy("run_after", "dag_id", "data_interval_start")
  }

  /** The full task-level run book for a clock window: every DAG run's
    * tasks with their waves — run_after-then-wave order is the exact
    * sequence a single-worker deployment would execute. Joins the two
    * oracle-exact surfaces (fires × schedule), so the whole timetable is
    * one hash-checked frame.
    */
  def runBook(spark: SparkSession, startTs: String, endTs: String): DataFrame =
    fireSchedule(spark, startTs, endTs)
      .join(schedule(spark).select(
        col("dag_id"), col("task_id"), col("wave")), Seq("dag_id"))
      .select(col("run_after"), col("dag_id"), col("data_interval_start"),
        col("cadence"), col("wave"), col("task_id"))
      .orderBy("run_after", "dag_id", "wave", "task_id")

  /** DuckDB twin of [[fireSchedule]]. */
  def fireScheduleSql(startTs: String, endTs: String): String = {
    requireHandledCadences()
    val dagVals = tasks.map(t => (t.dag, t.cadence)).distinct
      .map { case (d, c) => s"(${q(d)}, ${q(c)})" }.mkString(",\n    ")
    def leg(cad: String, unit: String) =
      s"""SELECT dag_id, cadence, gs.ts AS data_interval_start,
         |  gs.ts + INTERVAL 1 $unit AS run_after
         |FROM dags, generate_series(
         |  date_trunc('$unit', TIMESTAMP '$startTs'),
         |  TIMESTAMP '$endTs', INTERVAL 1 $unit) gs(ts)
         |WHERE cadence = '$cad'
         |  AND gs.ts >= TIMESTAMP '$startTs' AND gs.ts < TIMESTAMP '$endTs'""".stripMargin
    s"""WITH dags(dag_id, cadence) AS (VALUES
       |    $dagVals)
       |SELECT * FROM (
       |${leg("@hourly", "HOUR")}
       |UNION ALL
       |${leg("@daily", "DAY")}
       |UNION ALL
       |SELECT dag_id, cadence, TIMESTAMP '$startTs', TIMESTAMP '$startTs'
       |FROM dags WHERE cadence = 'continuous')
       |ORDER BY run_after, dag_id, data_interval_start""".stripMargin
  }

  /** DuckDB twin of [[runBook]]: the fire legs joined to the recursive-
    * CTE wave schedule (both re-derived independently from the literals).
    */
  def runBookSql(startTs: String, endTs: String): String =
    s"""WITH fires AS (${fireScheduleSql(startTs, endTs)}),
       |sched AS (${scheduleSql})
       |SELECT f.run_after, f.dag_id, f.data_interval_start, f.cadence,
       |  s.wave, s.task_id
       |FROM fires f JOIN sched s USING (dag_id)
       |ORDER BY run_after, dag_id, wave, task_id""".stripMargin

  // ---- DuckDB oracle twins ---------------------------------------------

  private def q(s: String): String = "'" + s.replace("'", "''") + "'"

  private def valuesOf(rows: Seq[Seq[String]]): String =
    rows.map(r => r.map(q).mkString("(", ", ", ")")).mkString(",\n    ")

  private def prodConsCtes: String = {
    val prod = valuesOf(
      tasks.flatMap(t => t.produces.map(p => Seq(t.dag, t.task, p))))
    val cons = valuesOf(
      tasks.flatMap(t => t.consumes.map(c => Seq(t.dag, t.task, c))))
    s"""prod AS (SELECT * FROM (VALUES
       |    $prod) p(dag_id, task_id, tbl)),
       |cons AS (SELECT * FROM (VALUES
       |    $cons) c(dag_id, task_id, tbl))""".stripMargin
  }

  /** [[edges]]' twin: the same produces/consumes literals, the same
    * equi-join on the shared table.
    */
  def edgesSql: String =
    s"""WITH $prodConsCtes
       |SELECT p.dag_id AS src_dag, p.task_id AS src_task,
       |  c.dag_id AS dst_dag, c.task_id AS dst_task, p.tbl AS via
       |FROM prod p JOIN cons c ON p.tbl = c.tbl
       |  AND (p.dag_id <> c.dag_id OR p.task_id <> c.task_id)
       |ORDER BY src_dag, src_task, dst_dag, dst_task, via""".stripMargin

  /** [[schedule]]'s twin: the longest path as a recursive CTE (sources
    * seed depth 1; recursion follows edges; wave = MAX depth). The CTE
    * itself has NO cycle guard — a cyclic edge relation would recurse
    * unboundedly — which is safe only because acyclicity is enforced
    * upstream: [[waves]]' Kahn walk throws on any cycle before this SQL
    * can be compared, and JobGraphSpec asserts closure + acyclicity of
    * the declarations outright.
    */
  def scheduleSql: String = {
    val nodes = valuesOf(tasks.map(t => Seq(t.dag, t.task, t.cadence)))
    s"""WITH RECURSIVE $prodConsCtes,
       |nodes AS (SELECT * FROM (VALUES
       |    $nodes) n(dag_id, task_id, cadence)),
       |deps AS (
       |  SELECT DISTINCT p.dag_id || '.' || p.task_id AS src,
       |    c.dag_id || '.' || c.task_id AS dst
       |  FROM prod p JOIN cons c ON p.tbl = c.tbl
       |    AND (p.dag_id <> c.dag_id OR p.task_id <> c.task_id)),
       |reach(node, depth) AS (
       |  SELECT n.dag_id || '.' || n.task_id, 1 FROM nodes n
       |  WHERE NOT EXISTS (SELECT 1 FROM deps d
       |                    WHERE d.dst = n.dag_id || '.' || n.task_id)
       |  UNION ALL
       |  SELECT d.dst, r.depth + 1 FROM reach r JOIN deps d ON d.src = r.node),
       |wave AS (SELECT node, CAST(MAX(depth) AS INTEGER) AS wave
       |         FROM reach GROUP BY node),
       |ups AS (SELECT dst AS node,
       |          CAST(COUNT(*) AS INTEGER) AS n_upstreams,
       |          string_agg(src, ',' ORDER BY src) AS upstreams
       |        FROM deps GROUP BY dst)
       |SELECT w.wave, n.dag_id, n.task_id, n.cadence,
       |  COALESCE(u.n_upstreams, 0) AS n_upstreams,
       |  COALESCE(u.upstreams, '') AS upstreams
       |FROM nodes n
       |JOIN wave w ON w.node = n.dag_id || '.' || n.task_id
       |LEFT JOIN ups u ON u.node = w.node
       |ORDER BY wave, dag_id, task_id""".stripMargin
  }
}
