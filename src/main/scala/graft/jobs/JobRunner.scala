package graft.jobs

import java.util.concurrent.{ExecutionException, Executors}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.TestdataAdapter
import graft.export.Export
import graft.ingest.GtfsStatic
import graft.ml.{DemandModel, RfFixture}
import graft.mockflow.MockFlow
import graft.suggest.Suggestions
import graft.views.{Hourly, Kpi}

/** Executable side of [[JobGraph]]: every task mapped onto the engine
  * functions that already implement its semantics, run dependency-driven
  * and concurrently the way Airflow runs any task whose upstreams have
  * succeeded — each task starts on a driver thread as soon as every
  * upstream in [[JobGraph.upstreamsOf]] has finished — with MATERIALIZED
  * handoffs: each produced table is a parquet directory under
  * `outDir/tables/`, each export a JSON file under `outDir/exports/`, and
  * every task reads ONLY the tables it declares in `consumes` and writes
  * only those it declares in `produces`, through a [[NodeIo]] that throws
  * on anything else (never the source dir directly, except the source
  * tasks whose reference counterparts do the external I/O). That is the
  * Airflow+Postgres deployment contract done in files: a wrong schedule
  * cannot silently read stale state — it dies on a missing artifact — and
  * an undeclared read or write, which concurrent execution would turn
  * into a data race, dies before it touches the table.
  *
  * Re-running is idempotent the way the reference's upserts make it:
  * load's versioned write skips when its version partition already exists
  * (the ON CONFLICT DO NOTHING at feed granularity,
  * gtfs-static-job.py:204-244), save_results unions into the (empty) DDL
  * frames with a latest-wins window per key (train_predict.py:197-217),
  * and every other task overwrites deterministically — same inputs, same
  * bytes.
  *
  * Scale: tasks inherit the scale behavior of the functions they call
  * (each audited at its own registry entry); the runner itself adds one
  * parquet round trip per edge, which at 100 TB is the standard
  * materialize-between-jobs pattern (and the natural checkpoint/restart
  * boundary — a failed wave re-runs from artifacts, not from source).
  */
object JobRunner {

  /** Artifact layout for one run. `queue` is the graftqueue directory
    * that carries `rt_frames` in streaming mode; `ckpt` holds each
    * streaming consumer's committed offsets.
    */
  final case class Paths(outDir: String) {
    def table(t: String): String = s"$outDir/tables/$t"
    def export(f: String): String = s"$outDir/exports/$f"
    def queue: String = s"$outDir/queue"
    def ckpt(t: String): String = s"$outDir/ckpt/$t"
  }

  /** The artifact I/O of one node. Every read names a table the node
    * declares in `consumes` and every write one it declares in `produces`
    * — the declarations [[JobGraph]] derives the edges, and so the
    * execution order, from — and any other table throws before it is
    * touched: with nodes running concurrently, an undeclared read or
    * write would race whichever node owns that table.
    */
  private[graft] final class NodeIo(spark: SparkSession, p: Paths,
      node: JobGraph.JobTask) {
    private def declared(t: String, in: Seq[String], verb: String, field: String) = {
      require(in.contains(t),
        s"${JobGraph.key(node)} $verb $t, which it does not declare in $field")
      p.table(t)
    }
    def path(t: String): String = declared(t, node.consumes, "reads", "consumes")
    def out(t: String): String = declared(t, node.produces, "writes", "produces")
    def table(t: String): DataFrame = spark.read.parquet(path(t))
    /** One sub-directory of a multi-part artifact. */
    def part(t: String, sub: String): DataFrame = spark.read.parquet(s"${path(t)}/$sub")
    def write(df: DataFrame, t: String): Unit =
      df.write.mode(SaveMode.Overwrite).parquet(out(t))
    /** The queue directory carrying `t` in streaming mode, for the node
      * that produces `t` or one that consumes it.
      */
    def queue(t: String): String = {
      if (!node.produces.contains(t)) path(t)
      p.queue
    }

    /** The feed version downstream static reads pin to: highest load
      * sequence in gtfs_versions (the reference's "current feed" —
      * gtfs_versions is insert-ordered and consumers take the newest,
      * initdb/init-postgis.sql:4-12). Two Spark jobs, so a node resolves
      * it once and passes it to every [[static]] read.
      */
    def currentVersion: String =
      table("gtfs_versions")
        .orderBy(col("seq").desc)
        .select(col("version_id").cast("string"))
        .head.getString(0)

    /** Version-pinned read of a static table: only the `vid` snapshot's
      * partition is scanned (GtfsStatic.readVersion — the equality lands
      * in PartitionFilters), so a reused output directory holding several
      * feed versions can never leak a stale snapshot into a downstream
      * task.
      */
    def static(t: String, vid: String): DataFrame =
      GtfsStatic.readVersion(spark, path(t), vid)

    /** What an earlier run left in `t`, a table this node produces. */
    def own(t: String): DataFrame = spark.read.parquet(out(t))
  }

  /** Deterministic stop/route world shared by the static chain:
    * TestdataAdapter.stopToRouteMapping's distinct (stop, route) pairs
    * rendered as single-stop trips (trip_id = stop_id + "_" + route_id),
    * so stop_times ⋈ trips DISTINCT recovers exactly the engine's
    * mapping through the full download→extract→process→load chain.
    */
  private def sourcePairs(spark: SparkSession, sfDir: String): DataFrame =
    TestdataAdapter.stopToRouteMapping(spark, sfDir)

  private val ZipFiles: Seq[(String, Seq[String])] = Seq(
    "trips" -> Seq("trip_id", "route_id"),
    "stop_times" -> Seq("trip_id", "stop_id"),
    "stops" -> Seq("stop_id", "stop_name", "stop_lat", "stop_lon"),
    "routes" -> Seq("route_id", "route_short_name", "route_long_name"))

  /** The RT frame projection both continuous-service modes share. */
  private def rtFrames(spark: SparkSession, sfDir: String): DataFrame =
    TestdataAdapter.table(spark, sfDir, "events").select(
      col("event_id"), col("user_id"), col("event_type"),
      graft.functions.Cols.ntzFromNanos(col("ts")).as("observed_at"),
      col("value"))

  /** The three RT table shapes off a frames frame — shared verbatim by
    * the batch leg and each streaming consumer, so mode can only change
    * TRANSPORT, never the projection algebra.
    */
  private def rtProjections(rt: DataFrame): Seq[(String, DataFrame)] = Seq(
    "vehicle_positions" -> rt.select(
      col("event_type").as("route_id"),
      col("user_id").cast("string").as("vehicle_id"),
      col("observed_at")),
    "trip_updates" -> rt.select(
      col("event_type").as("route_id"),
      col("observed_at"),
      col("value").as("delay_seconds")),
    "service_alerts" -> rt.select(
      concat(lit("al_"), col("event_id")).as("alert_id"),
      col("event_type").as("alert_type"),
      concat(lit("alert "), col("user_id")).as("description"),
      col("observed_at")))

  // ---- streaming mode for the two continuous-cadence services --------
  //
  // The reference runs poller.py and ingestor.py as CONTINUOUS processes
  // on a Kafka topic; batch mode (the default) runs their batch
  // equivalents. streaming=true runs the REAL transport: the poller leg
  // produces wire frames into a graftqueue topic through the V2 sink,
  // and the ingestor leg runs checkpointed micro-batch consumers off
  // that topic (offset-ordered, AvailableNow) into the same artifacts.
  // JobGraphSpec's streaming leg asserts the resulting downstream chain
  // is byte-identical to batch mode — the `streaming_export_e2e` ≡
  // `export_rows` twin claim, wired through the deployment runner.
  //
  // Wire format: observed_at travels as its full-precision NTZ string
  // (micros survive; to_json's default NTZ pattern would truncate), the
  // rest as typed JSON fields; the consumer casts it back. Keyed by
  // event_id.
  private val FrameWireSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("event_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("user_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("event_type",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("observed_at",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("value",
      org.apache.spark.sql.types.DoubleType)))

  private def pollFeedsStreaming(spark: SparkSession, sfDir: String, p: Paths,
      io: NodeIo): Unit = {
    val frames = rtFrames(spark, sfDir)
    frames
      .select(
        col("event_id").cast("string").cast("binary").as("key"),
        to_json(struct(
          col("event_id"), col("user_id"), col("event_type"),
          col("observed_at").cast("string").as("observed_at"),
          col("value"))).cast("binary").as("value"))
      .write.format("graftqueue")
      .option("path", io.queue("rt_frames")).option("topic", "rt.frames")
      .mode(SaveMode.Append).save()
    // the rt_frames table is this node's artifact in both modes: here its
    // consumer materializes the topic the node just produced into
    drainTo(framesStream(spark, io.queue("rt_frames")), io.out("rt_frames"),
      p.ckpt("rt_frames"))
  }

  /** The frames on the `rt.frames` topic, decoded back to rtFrames' shape. */
  private def framesStream(spark: SparkSession, queue: String): DataFrame =
    spark.readStream.format("graftqueue")
      .option("path", queue).option("topic", "rt.frames")
      .load()
      .select(from_json(col("value").cast("string"), FrameWireSchema).as("f"))
      .select(col("f.event_id"), col("f.user_id"), col("f.event_type"),
        col("f.observed_at").cast("timestamp_ntz").as("observed_at"),
        col("f.value"))

  /** One checkpointed AvailableNow consumer of `stream` into `path`. */
  private def drainTo(stream: DataFrame, path: String, ckpt: String): Unit = {
    val query = stream.writeStream.format("parquet")
      .option("path", path)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    // AvailableNow terminates on its own once the pinned target drains;
    // the bounded wait only guards a hang. Its boolean MUST be checked
    // (ADVICE r13): proceeding past an un-drained consumer would start
    // the next consumer — and run retention — against a live query,
    // letting downstream tasks read partial rt tables with no error.
    val drained = query.awaitTermination(120000)
    if (!drained) {
      query.stop()
      throw new IllegalStateException(
        s"streaming consumer for $path did not drain within 120s — " +
          "aborting before dependent consumers/retention run on a partial table")
    }
  }

  private def ingestFramesStreaming(spark: SparkSession, p: Paths, io: NodeIo): Unit = {
    // one consumer per artifact, each with its own checkpointed offsets —
    // the reference's consumer-group-per-table shape
    rtProjections(framesStream(spark, io.queue("rt_frames"))).foreach {
      case (t, df) => drainTo(df, io.out(t), p.ckpt(t))
    }
    // broker retention, run where a deployment runs it — after the
    // consumer group commits: truncate every segment below the MINIMUM
    // committed offset across all four consumers, poll_feeds' rt_frames
    // one included (GraftQueue.retain's contract; offsets never move, an
    // uncommitted consumer pins 0)
    val consumers = Seq(
      "rt_frames", "vehicle_positions", "trip_updates", "service_alerts")
    val floor = graft.sources.GraftQueue.consumerFloor(consumers.map(p.ckpt))
    graft.sources.GraftQueue.retain(p.queue, "rt.frames", floor)
  }

  /** The per-task effects, keyed by `dag.task`, each given its node's
    * [[NodeIo]]. `streaming` swaps ONLY the two continuous-service
    * transports (queue producer + micro-batch consumers) — every
    * projection and every downstream task is the same code in both modes.
    */
  private def effects(
      spark: SparkSession, sfDir: String, p: Paths,
      streaming: Boolean = false): Map[String, NodeIo => Unit] = Map(

    // --- continuous services -------------------------------------------
    // poller.py:49-54 — capture the RT feed frames (batch equivalent of
    // the graftqueue streaming pair; streaming=true runs the queue
    // transport itself — see pollFeedsStreaming).
    "gtfs_realtime_poller.poll_feeds" -> (io =>
      if (streaming) pollFeedsStreaming(spark, sfDir, p, io)
      else io.write(rtFrames(spark, sfDir), "rt_frames")),

    // ingestor.py:55 (vehicle_positions), :92 (trip_updates),
    // :120 (service_alerts) — the three RT table shapes off the frames.
    "db_ingestion_service.ingest_frames" -> (io =>
      if (streaming) ingestFramesStreaming(spark, p, io)
      else {
        val rt = io.table("rt_frames")
        rtProjections(rt).foreach { case (t, df) => io.write(df, t) }
      }),

    // --- static_gtfs_job ------------------------------------------------
    // :24 download — the "zip": one CSV fixture per GTFS file, written
    // with the reference's on-disk quirks (GtfsStatic.writeCsvFixture).
    "static_gtfs_job.download" -> (io => {
      val pairs = sourcePairs(spark, sfDir)
      val tripId = concat_ws("_", col("stop_id"), col("route_id"))
      GtfsStatic.writeCsvFixture(
        pairs.select(tripId.as("trip_id"), col("route_id")),
        s"${io.out("gtfs_zip")}/trips")
      GtfsStatic.writeCsvFixture(
        pairs.select(tripId.as("trip_id"), col("stop_id")),
        s"${io.out("gtfs_zip")}/stop_times")
      GtfsStatic.writeCsvFixture(
        pairs.select(col("stop_id")).distinct().select(
          col("stop_id"),
          concat(lit("stop_"), col("stop_id")).as("stop_name"),
          ((col("stop_id").cast("int") % 12000) / 200.0 - 30.0)
            .cast("string").as("stop_lat"),
          ((col("stop_id").cast("int") % 36000) / 100.0 - 180.0)
            .cast("string").as("stop_lon")),
        s"${io.out("gtfs_zip")}/stops")
      GtfsStatic.writeCsvFixture(
        pairs.select(col("route_id")).distinct().select(
          col("route_id"),
          col("route_id").as("route_short_name"),
          concat(lit("Route "), col("route_id")).as("route_long_name")),
        s"${io.out("gtfs_zip")}/routes")
    }),

    // :47 extract — the all-string scan (S2 contract) of each file.
    "static_gtfs_job.extract" -> (io =>
      ZipFiles.foreach { case (name, cols) =>
        GtfsStatic.readCsv(spark, s"${io.path("gtfs_zip")}/$name", cols)
          .write.mode(SaveMode.Overwrite)
          .parquet(s"${io.out("gtfs_raw")}/$name")
      }),

    // :102 process — id normalization (P1), typed casts (P3), key dedup
    // (P4). P1 and P3 are oracle-checked at their own through-disk
    // registrations; P4 has no registration (GtfsStatic.dedupKeys is
    // spec-checked only), and this node dedups with dropDuplicates.
    // stop_times dedups on (trip_id, stop_id), not SURVEY P4's
    // (trip_id, stop_id, stop_sequence): the synthetic zip (ZipFiles)
    // carries no stop_sequence column.
    "static_gtfs_job.process" -> (io => {
      def raw(name: String) = io.part("gtfs_raw", name)
      def out(df: DataFrame, name: String) =
        df.write.mode(SaveMode.Overwrite)
          .parquet(s"${io.out("gtfs_normalized")}/$name")
      out(GtfsStatic.normalizeIds(raw("trips"), Seq("trip_id", "route_id"))
        .dropDuplicates("trip_id"), "trips")
      out(GtfsStatic.normalizeIds(raw("stop_times"), Seq("trip_id", "stop_id"))
        .dropDuplicates("trip_id", "stop_id"), "stop_times")
      out(GtfsStatic.typedStops(
        GtfsStatic.normalizeIds(raw("stops"), Seq("stop_id")))
        .dropDuplicates("stop_id"), "stops")
      out(GtfsStatic.normalizeIds(raw("routes"), Seq("route_id"))
        .dropDuplicates("route_id"), "routes")
    }),

    // :167 load — version the feed (S3: sha256 of the canonical trips
    // rendering) and publish the typed tables partitioned by version_id,
    // skipping when this version is already present (the reference's
    // per-version upsert, :204-244). The 1-row digest collect is the
    // version-id xcom, not data movement.
    "static_gtfs_job.load" -> (io => {
      def norm(name: String) = io.part("gtfs_normalized", name)
      val vid = norm("trips")
        .agg(sha2(array_join(transform(
          sort_array(collect_list(struct(col("trip_id"),
            concat_ws(",", col("trip_id"), col("route_id")).as("line")))),
          _.getField("line")), "\n"), 256).as("v"))
        .head.getString(0)
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      Seq("trips", "stop_times", "stops", "routes").foreach { name =>
        val part = new org.apache.hadoop.fs.Path(
          s"${io.out(name)}/version_id=$vid")
        if (!fs.exists(part))
          GtfsStatic.writeVersioned(norm(name), vid, io.out(name))
      }
      import spark.implicits._
      val versionsPath = io.out("gtfs_versions")
      if (!fs.exists(new org.apache.hadoop.fs.Path(
          s"$versionsPath/version_id=$vid"))) {
        // load sequence: new feeds get max+1, so "current" is well
        // defined however many snapshots accumulate
        val nextSeq =
          if (fs.exists(new org.apache.hadoop.fs.Path(versionsPath)))
            io.own("gtfs_versions")
              .agg(coalesce(max("seq"), lit(0L))).head.getLong(0) + 1
          else 1L
        Seq((vid, norm("trips").count(), nextSeq))
          .toDF("version_id", "n_trips", "seq")
          .write.mode(SaveMode.Append).partitionBy("version_id")
          .parquet(versionsPath)
      }
    }),

    // :356 init_stop_base_demand — seed (stop_id, version_id, base_demand)
    // from the CURRENT version's stop_times (A8 clamp), stamped with that
    // same version id.
    "static_gtfs_job.init_stop_base_demand" -> (io => {
      val vid = io.currentVersion
      io.write(GtfsStatic.stampVersion(
        GtfsStatic.stopBaseDemand(io.static("stop_times", vid)), vid),
        "stop_base_demand")
    }),

    // --- weather_ingestion_pipeline ------------------------------------
    // weather-job.py:31 fetch — the parsed API response rows (S7's
    // open-meteo emulation: the engine-side fetch seam).
    "weather_ingestion_pipeline.fetch_weather" -> (io =>
      io.write(TestdataAdapter.table(spark, sfDir, "events").select(
        graft.functions.Cols.ntzFromNanos(col("ts")).as("observed_at"),
        col("value")), "weather_api_response")),

    // :52 normalize — response rows to the weather_observations shape.
    "weather_ingestion_pipeline.normalize_weather" -> (io =>
      io.write(io.table("weather_api_response").select(
        col("observed_at"),
        col("value").as("temperature_c"),
        (col("value") / 10.0).as("precipitation_mm"),
        (col("value") / 100.0).as("wind_speed_mps")), "weather_normalized")),

    // :70 write_to_db — publish the normalized rows.
    "weather_ingestion_pipeline.write_to_db" -> (io =>
      io.write(io.table("weather_normalized"), "weather_observations")),

    // --- mock_passenger_flow_pipeline ----------------------------------
    // mock_passenger_flow_job.py:85 — the G1-G4 generator over the seeded
    // base demand with hourly delay/weather context (bounded to the same
    // 6-hour context window the registry's mockflow queries pin).
    "mock_passenger_flow_pipeline.generate_flow" -> (io => {
      val base = io.table("stop_base_demand")
        .select("stop_id", "base_demand")
      val hours = MockFlow.hoursContext(
        Hourly.weatherHourly(io.table("weather_observations")),
        Hourly.delayHourly(io.table("trip_updates")))
      io.write(MockFlow.generate(base, hours).select(
        col("stop_id"), col("observed_at"), col("estimated_passengers")),
        "passenger_flow_events")
    }),

    // --- ml_train_predict_demand_rf ------------------------------------
    // ml-job.py:102 — run metadata (model identity; the run_id itself is
    // content-derived at save time, matching ml_run_record_pinned).
    "ml_train_predict_demand_rf_psycopg2.generate_run_metadata" -> (io => {
      import spark.implicits._
      io.write(Seq(("rf_demand", "1", 42L))
        .toDF("model_name", "model_version", "seed"), "ml_run_meta")
    }),

    // :111 — the ml_dataset_hourly view, computed from its base tables
    // (the four hourly views the reference assumes but never creates —
    // see JobGraph scaladoc — are views.Hourly in-plan).
    "ml_train_predict_demand_rf_psycopg2.ensure_ml_dataset_view" -> (io => {
      val vid = io.currentVersion
      val s2r = Hourly.stopToRoute(
        io.static("stop_times", vid).select("trip_id", "stop_id"),
        io.static("trips", vid).select("trip_id", "route_id"))
      val demand = Hourly.passengerDemandHourly(
        io.table("passenger_flow_events"), s2r)
      io.write(Hourly.mlDatasetHourly(
        demand,
        Hourly.delayHourly(io.table("trip_updates")),
        Hourly.vehicleHourly(io.table("vehicle_positions")),
        Hourly.weatherHourly(io.table("weather_observations"))),
        "ml_dataset_hourly")
    }),

    // :121 — DDL as empty typed frames (schema-only parquet dirs).
    "ml_train_predict_demand_rf_psycopg2.ensure_tables" -> (io => {
      val predSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("route_id",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("hour_ts",
          org.apache.spark.sql.types.TimestampNTZType),
        org.apache.spark.sql.types.StructField("y_true",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("y_pred",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("run_id",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("model_name",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("model_version",
          org.apache.spark.sql.types.StringType)))
      val empty = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], predSchema)
      empty.write.mode(SaveMode.Overwrite)
        .parquet(s"${io.out("ml_tables_ddl")}/demand_predictions")
      empty.write.mode(SaveMode.Overwrite)
        .parquet(s"${io.out("ml_tables_ddl")}/demand_predictions_history")
    }),

    // :198 — materialize the training frame off the view.
    "ml_train_predict_demand_rf_psycopg2.load_dataset" -> (io =>
      io.write(io.table("ml_dataset_hourly"), "ml_training_frame")),

    // :216 — serve the committed forest (rf_pinned_mae's fixture) over
    // the temporal test split: per-row predictions + the run record, the
    // xcom dict materialized as a two-part artifact.
    "ml_train_predict_demand_rf_psycopg2.train_and_prepare_predictions" ->
      (io => {
        val ml = io.table("ml_training_frame")
        val meta = io.table("ml_run_meta")
        val seed = meta.head.getAs[Long]("seed")
        DemandModel.pinnedPredictions(ml, RfFixture.trees)
          .write.mode(SaveMode.Overwrite)
          .parquet(s"${io.out("ml_result")}/predictions")
        DemandModel.pinnedRunRecord(ml, RfFixture.trees, seed)
          .write.mode(SaveMode.Overwrite)
          .parquet(s"${io.out("ml_result")}/record")
      }),

    // :267 — persist ml_runs, append history, upsert latest predictions
    // (latest-wins per (route_id, hour_ts); single-run world makes the
    // window the identity, which is the point of the determinism).
    "ml_train_predict_demand_rf_psycopg2.save_results" -> (io => {
      val preds = io.part("ml_result", "predictions")
      val rec = io.part("ml_result", "record")
      io.write(rec, "ml_runs")
      val stamped = preds.crossJoin(broadcast(
          rec.select("run_id", "model_name", "model_version")))
        .select("route_id", "hour_ts", "y_true", "y_pred",
          "run_id", "model_name", "model_version")
      val ddl = io.part("ml_tables_ddl", "demand_predictions_history")
      val history = ddl.unionByName(
        stamped.withColumn("hour_ts", col("hour_ts").cast("timestamp_ntz")))
      io.write(history, "demand_predictions_history")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("route_id", "hour_ts")
        .orderBy(col("run_id").desc)
      io.write(history
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).drop("rn"), "demand_predictions")
    }),

    // --- build_kpi_views ------------------------------------------------
    // build-kpi-job.py:200 — the full KPI view chain over the RT tables
    // and the ML predictions ("SAFE AFTER ML" edge made explicit).
    "build_kpi_views.rebuild_kpi_views" -> (io => {
      val vp = io.table("vehicle_positions")
      val preds = io.table("demand_predictions")
        .select("route_id", "hour_ts", "y_pred", "y_true")
      io.write(Kpi.kpiHourly(
        preds,
        Kpi.activeVehiclesHourly(vp),
        Kpi.headwayHourly(vp),
        Kpi.delayHourly(io.table("trip_updates"))),
        "kpi_hourly")
    }),

    // --- suggestions + exports -----------------------------------------
    // generate-suggestions-job.py:196 — D1-D6 decision pipeline.
    "generate_route_optimization_suggestions.compute_and_save_suggestions" ->
      (io => io.write(
        Suggestions.suggest(io.table("kpi_hourly")),
        "route_optimization_suggestions")),

    // export-suggestions-json-job.py:263 — the five JSON artifacts, plus
    // a manifest frame as the produced-table handle.
    "export_route_suggestions_json.export_all" -> (io => {
      val kpi = io.table("kpi_hourly").persist()
      val sugg = io.table("route_optimization_suggestions")
      val rows = Export.exportRows(kpi, sugg).persist()
      val files = Seq(
        "route_suggestions_latest.json" -> Export.routeRowsJson(rows, sugg),
        "needs_data_latest.json" -> rows.filter(col("action") === "needs_data"),
        "top_priority_latest.json" -> Export.topPriority(sugg),
        "summary_latest.json" -> Export.summaryArtifact(rows),
        "peak_hours_latest.json" -> Export.peakHoursRollup(kpi))
      val manifest = files.map { case (name, df) =>
        (name, Export.writeJsonArray(df, p.export(name)))
      }
      import spark.implicits._
      io.write(manifest.toDF("file", "n_rows"), "suggestions_exports")
      rows.unpersist(); kpi.unpersist()
    }),

    // export-routes-geo-job.py:65 — D9 geo grouping off the static world
    // (current feed version only).
    "export_routes_geo_json.export_routes_geo" -> (io => {
      val vid = io.currentVersion
      val spr = Hourly.stopToRoute(
          io.static("stop_times", vid).select("trip_id", "stop_id"),
          io.static("trips", vid).select("trip_id", "route_id"))
        .join(io.static("stops", vid)
          .select("stop_id", "stop_name", "stop_lat", "stop_lon"), Seq("stop_id"))
        .join(broadcast(io.static("routes", vid)
          .select("route_id", "route_short_name", "route_long_name")),
          Seq("route_id"))
        .select(col("route_id"), col("route_short_name"),
          col("route_long_name"), col("stop_id"), col("stop_name"),
          col("stop_lat").as("lat"), col("stop_lon").as("lon"))
      val n = Export.writeJsonArray(
        Export.geoGroupingFull(spr), p.export("routes_geo_latest.json"))
      import spark.implicits._
      io.write(Seq(("routes_geo_latest.json", n))
        .toDF("file", "n_rows"), "routes_geo_latest_json")
    }))

  /** One executed node: its key and when it ran, in `System.nanoTime`. */
  final case class NodeRun(key: String, startNs: Long, endNs: Long)

  /** Runs every node of `order` on `threads` driver threads, each one
    * starting as soon as all of its `upstreams` have finished — Airflow's
    * trigger rule. `order` must list every upstream before its
    * dependents. Returns one [[NodeRun]] per node, in `order`.
    *
    * Failure: a failed node's dependents, direct or transitive, never
    * start; nodes off its downstream keep running, as independent Airflow
    * branches do. Every started node finishes before this returns, so no
    * node is still writing when the first failure in `order` is rethrown
    * (later ones ride along as suppressed).
    */
  def execute(order: Seq[String], upstreams: String => Seq[String], threads: Int)(
      body: String => Unit): Seq[NodeRun] = {
    val pos = order.zipWithIndex.toMap
    for (k <- order; u <- upstreams(k))
      require(pos.get(u).exists(_ < pos(k)), s"$k: upstream $u is not earlier in the order")
    val pool = Executors.newFixedThreadPool(threads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val runs = order.foldLeft(Map.empty[String, Future[NodeRun]]) { (built, k) =>
        built + (k -> Future.sequence(upstreams(k).map(built)).map { _ =>
          val t0 = System.nanoTime
          // a fatal error would leave the Future unfinished and this
          // method waiting forever: fail the node with it instead
          try body(k) catch { case e: Throwable if !NonFatal(e) => throw new ExecutionException(e) }
          NodeRun(k, t0, System.nanoTime)
        })
      }
      val done = order.map(k => Await.ready(runs(k), Duration.Inf).value.get)
      // a node that never started carries its failed upstream's exception
      done.flatMap(_.failed.toOption).distinct match {
        case first +: rest => rest.foreach(first.addSuppressed); throw first
        case _ => done.map(_.get)
      }
    } finally pool.shutdown()
  }

  /** Execute the whole graph: every node starts once its upstreams in
    * [[JobGraph.upstreamsOf]] have finished, on [[JobGraph.width]] driver
    * threads (see [[execute]] for the failure contract). Each node's Spark
    * jobs run under the node key as their job group, so job-to-node
    * attribution survives interleaving. Returns one [[NodeRun]] per node
    * in schedule order: (wave, node key).
    */
  def run(spark: SparkSession, sfDir: String, outDir: String,
      streaming: Boolean = false): Seq[NodeRun] = {
    val p = Paths(outDir)
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$outDir/exports"))
    val fx = effects(spark, sfDir, p, streaming)
    val order = JobGraph.tasks.map(JobGraph.key).sortBy(k => (JobGraph.waves(k), k))
    val missing = order.filterNot(fx.contains)
    require(missing.isEmpty, s"no effect for: ${missing.mkString(", ")}")
    val node = JobGraph.tasks.map(t => JobGraph.key(t) -> t).toMap
    val sc = spark.sparkContext
    execute(order, k => JobGraph.upstreamsOf.getOrElse(k, Nil), JobGraph.width) { k =>
      // pool threads keep their local properties from node to node
      sc.setJobGroup(k, k)
      try fx(k)(new NodeIo(spark, p, node(k)))
      finally sc.clearJobGroup()
    }
  }
}
