package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.jobs.{JobGraph, JobRunner}

/** The orchestration layer's executable contract: the wave schedule is a
  * valid topological order of the derived edges, the graph is acyclic and
  * fully connected to effects, and a full [[JobRunner.run]] produces
  * artifacts identical to composing the underlying functions directly —
  * i.e. the materialized parquet handoffs between jobs are lossless and
  * the execution order is safe. Re-running is byte-stable (the versioned
  * static load skips its existing version partition instead of appending
  * a duplicate snapshot).
  */
class JobGraphSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def keyOf(dag: String, task: String) = s"$dag.$task"

  test("schedule is a valid topological order: every edge goes wave-up") {
    val waves = JobGraph.schedule(spark).collect()
      .map(r => keyOf(r.getAs[String]("dag_id"), r.getAs[String]("task_id")) ->
        r.getAs[Int]("wave")).toMap
    val edges = JobGraph.edges(spark).collect()
    assert(waves.size === JobGraph.tasks.size)
    edges.foreach { e =>
      val src = keyOf(e.getAs[String]("src_dag"), e.getAs[String]("src_task"))
      val dst = keyOf(e.getAs[String]("dst_dag"), e.getAs[String]("dst_task"))
      assert(waves(src) < waves(dst),
        s"$src (wave ${waves(src)}) must precede $dst (wave ${waves(dst)})")
    }
  }

  test("graph declarations are closed and acyclic") {
    // closed: every consumed table has exactly one producing task (the
    // reference's implicit shared-Postgres contract, made checkable)
    val producers = JobGraph.tasks.flatMap(t => t.produces.map(_ -> JobGraph.key(t)))
      .groupBy(_._1).map { case (tbl, ps) => tbl -> ps.map(_._2) }
    JobGraph.tasks.flatMap(_.consumes).distinct.foreach { tbl =>
      assert(producers.getOrElse(tbl, Nil).size === 1,
        s"table $tbl needs exactly one producer")
    }
    // acyclic: JobGraph.waves' Kahn walk throws on any cycle, so a
    // completed schedule with every node assigned a wave within the node
    // count certifies a DAG (the DuckDB twin's recursive CTE has no
    // cycle guard of its own and relies on exactly this)
    val waves = JobGraph.schedule(spark).select("wave").collect().map(_.getInt(0))
    assert(waves.length === JobGraph.tasks.size)
    assert(waves.max <= JobGraph.tasks.size)
  }

  test("full run: artifacts match direct composition, re-run is idempotent") {
    val out = java.nio.file.Files.createTempDirectory("graft_jobrun").toString
    val sc = spark.sparkContext
    val groups = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    org.apache.spark.GraftBus.drain(sc)
    sc.addSparkListener(listener)
    val runs = try JobRunner.run(spark, sfDir, out) finally {
      org.apache.spark.GraftBus.drain(sc)
      sc.removeSparkListener(listener)
    }
    val nodes = JobGraph.schedule(spark)
      .select(concat_ws(".", col("dag_id"), col("task_id"))).collect().map(_.getString(0))
    // one record per scheduled node
    assert(runs.size === JobGraph.tasks.size)
    assert(runs.map(_.key).toSet === nodes.toSet)
    // every declared edge: the upstream ended before the downstream started
    val at = runs.map(r => r.key -> r).toMap
    JobGraph.edges(spark).collect().foreach { e =>
      val src = keyOf(e.getAs[String]("src_dag"), e.getAs[String]("src_task"))
      val dst = keyOf(e.getAs[String]("dst_dag"), e.getAs[String]("dst_task"))
      assert(at(src).endNs <= at(dst).startNs, s"$dst started before $src ended")
    }
    // every job of the run ran under its node's key as job group, every
    // node launched jobs, and the caller's own group is left untouched
    assert(groups.asScala.toSet === nodes.toSet)
    assert(sc.getLocalProperty("spark.jobGroup.id") === null)

    val p = JobRunner.Paths(out)
    def art(t: String): DataFrame = spark.read.parquet(p.table(t))

    // the static chain's CSV->normalize->load round trip recovers exactly
    // the engine's stop_to_route mapping (adapter semantics preserved
    // through four materialized hops and the version stamp)
    val viaZip = graft.views.Hourly.stopToRoute(
      art("stop_times").select("trip_id", "stop_id"),
      art("trips").select("trip_id", "route_id"))
      .orderBy("stop_id", "route_id").collect()
    val direct = TestdataAdapter.stopToRouteMapping(spark, sfDir)
      .select("stop_id", "route_id")
      .orderBy("stop_id", "route_id").collect()
    assert(viaZip.toSeq === direct.toSeq)

    // ml_dataset through the artifact chain == the same Hourly composition
    // fed from the artifacts' own sources (handoffs are lossless)
    val mlArt = art("ml_dataset_hourly")
      .orderBy("route_id", "hour_ts").collect()
    val s2r = graft.views.Hourly.stopToRoute(
      art("stop_times").select("trip_id", "stop_id"),
      art("trips").select("trip_id", "route_id"))
    val mlDirect = graft.views.Hourly.mlDatasetHourly(
      graft.views.Hourly.passengerDemandHourly(
        art("passenger_flow_events"), s2r),
      graft.views.Hourly.delayHourly(art("trip_updates")),
      graft.views.Hourly.vehicleHourly(art("vehicle_positions")),
      graft.views.Hourly.weatherHourly(art("weather_observations")))
      .orderBy("route_id", "hour_ts").collect()
    assert(mlArt.toSeq === mlDirect.toSeq)

    // the ml_runs record matches the pinned-forest record computed off
    // the materialized training frame (the oracle-exact serving surface)
    val runsArt = art("ml_runs").collect()
    val runsDirect = graft.ml.DemandModel.pinnedRunRecord(
      art("ml_training_frame"), graft.ml.RfFixture.trees).collect()
    assert(runsArt.toSeq === runsDirect.toSeq)

    // kpi artifact == Kpi composition over the artifacts
    val kpiArt = art("kpi_hourly").orderBy("route_id", "hour_ts").collect()
    val vp = art("vehicle_positions")
    val kpiDirect = graft.views.Kpi.kpiHourly(
      art("demand_predictions").select("route_id", "hour_ts", "y_pred", "y_true"),
      graft.views.Kpi.activeVehiclesHourly(vp),
      graft.views.Kpi.headwayHourly(vp),
      graft.views.Kpi.delayHourly(art("trip_updates")))
      .orderBy("route_id", "hour_ts").collect()
    assert(kpiArt.toSeq === kpiDirect.toSeq)
    assert(kpiArt.nonEmpty)

    // exports exist and are JSON arrays; the manifest counts them
    val manifest = art("suggestions_exports").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(manifest.keySet === Set(
      "route_suggestions_latest.json", "needs_data_latest.json",
      "top_priority_latest.json", "summary_latest.json",
      "peak_hours_latest.json"))
    manifest.keys.foreach { f =>
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(p.export(f))), "UTF-8").trim
      assert(txt.startsWith("[") && txt.endsWith("]"), s"$f is not a JSON array")
    }

    // idempotent re-run: same bytes for the kpi surface, and the
    // versioned static load did NOT append a duplicate snapshot
    val tripsCount1 = art("trips").count()
    JobRunner.run(spark, sfDir, out)
    assert(art("trips").count() === tripsCount1, "versioned load duplicated rows")
    val kpiArt2 = art("kpi_hourly").orderBy("route_id", "hour_ts").collect()
    assert(kpiArt2.toSeq === kpiArt.toSeq)

    // stale-snapshot immunity: inject an OLDER feed version (a fake
    // trips/stop_times partition plus a lower-seq gtfs_versions row) and
    // re-run — the version-pinned static reads must keep every downstream
    // artifact byte-identical, never unioning snapshots
    import spark.implicits._
    Seq(("t_fake", "r_fake")).toDF("trip_id", "route_id")
      .withColumn("version_id", lit("0fakeversion"))
      .write.mode("append").partitionBy("version_id").parquet(p.table("trips"))
    Seq(("t_fake", "s_fake")).toDF("trip_id", "stop_id")
      .withColumn("version_id", lit("0fakeversion"))
      .write.mode("append").partitionBy("version_id").parquet(p.table("stop_times"))
    Seq(("0fakeversion", 1L, 0L)).toDF("version_id", "n_trips", "seq")
      .write.mode("append").partitionBy("version_id").parquet(p.table("gtfs_versions"))
    JobRunner.run(spark, sfDir, out)
    val kpiArt3 = art("kpi_hourly").orderBy("route_id", "hour_ts").collect()
    assert(kpiArt3.toSeq === kpiArt.toSeq,
      "a stale feed snapshot leaked into the downstream chain")
    val mlArt3 = art("ml_dataset_hourly").orderBy("route_id", "hour_ts").collect()
    assert(mlArt3.toSeq === mlArt.toSeq)
  }

  test("a node touching a table outside its declarations throws before any I/O") {
    val node = JobGraph.tasks.find(_.task == "ensure_ml_dataset_view").get
    val io = new JobRunner.NodeIo(spark, JobRunner.Paths("/nonexistent"), node)
    val e = intercept[IllegalArgumentException](io.table("kpi_hourly"))
    assert(e.getMessage.contains("does not declare in consumes"))
    // a table it reads but does not produce, and one another node produces
    for (t <- Seq("trip_updates", "ml_runs")) {
      val w = intercept[IllegalArgumentException](io.write(spark.range(1).toDF(), t))
      assert(w.getMessage.contains("does not declare in produces"))
      intercept[IllegalArgumentException](io.own(t))
    }
    intercept[IllegalArgumentException](io.queue("rt_frames"))
  }

  test("wall-clock triggers: Airflow interval alignment, run-at-interval-end, " +
      "always-on continuous rows, runbook order") {
    import java.time.LocalDateTime
    val fires = JobGraph.fireSchedule(
      spark, "2024-03-01 00:30:00", "2024-03-01 04:00:00").collect()
    def ldt(r: org.apache.spark.sql.Row, i: Int) = r.getAs[LocalDateTime](i)
    val hourly = fires.filter(_.getString(1) == "@hourly")
    // window starts mid-hour: first aligned interval is 01:00, last < 04:00
    val starts = hourly.map(ldt(_, 2).toString).distinct.sorted
    assert(starts.toSeq ==
      Seq("2024-03-01T01:00", "2024-03-01T02:00", "2024-03-01T03:00"))
    // the run fires at the interval END (Airflow's data-interval model)
    hourly.foreach(r => assert(ldt(r, 3) == ldt(r, 2).plusHours(1)))
    // no @daily interval starts inside this sub-day window
    assert(!fires.exists(_.getString(1) == "@daily"))
    // continuous services are always-on from the window start
    val cont = fires.filter(_.getString(1) == "continuous")
    assert(cont.map(_.getString(0)).sorted.toSeq ==
      Seq("db_ingestion_service", "gtfs_realtime_poller"))
    // runbook: fires x wave schedule; within one DAG run, tasks appear in
    // wave order (never a task before its upstream wave)
    val book = JobGraph.runBook(
      spark, "2024-03-01 00:30:00", "2024-03-01 04:00:00").collect()
    val mlRun = book.filter(r => r.getString(1) ==
      "ml_train_predict_demand_rf_psycopg2" &&
      ldt(r, 0) == LocalDateTime.parse("2024-03-01T02:00"))
    assert(mlRun.length == 6)
    assert(mlRun.map(_.getAs[Int]("wave")).toSeq == mlRun.map(_.getAs[Int]("wave")).sorted.toSeq)
  }

  test("streaming mode: the continuous services run as real graftqueue streams, " +
      "and every downstream artifact is identical to batch mode") {
    val outB = java.nio.file.Files.createTempDirectory("graft_jobrun_b").toString
    val outS = java.nio.file.Files.createTempDirectory("graft_jobrun_s").toString
    JobRunner.run(spark, sfDir, outB)
    JobRunner.run(spark, sfDir, outS, streaming = true)
    val (pb, ps) = (JobRunner.Paths(outB), JobRunner.Paths(outS))

    // the streaming transport actually ran: topic segments + consumer
    // checkpoints exist on the streaming side only
    assert(new java.io.File(s"$outS/queue/rt.frames").isDirectory,
      "streaming mode must produce through the graftqueue topic")
    assert(new java.io.File(s"$outS/ckpt/vehicle_positions/commits").isDirectory,
      "each streaming consumer must be checkpointed")
    assert(!new java.io.File(s"$outB/queue").exists())
    // ...and broker retention ran after the consumer group committed:
    // every segment is below the group floor → disk reclaimed, only the
    // truncation marker (the log start offset) remains
    val topicFiles = new java.io.File(s"$outS/queue/rt.frames").listFiles().map(_.getName)
    assert(!topicFiles.exists(_.startsWith("segment-")),
      s"consumed segments must be truncated: ${topicFiles.toSeq}")
    assert(topicFiles.exists(_.startsWith("truncated-")),
      "the log start offset marker must survive retention")

    // transport changed; artifacts must not — the RT tables AND the whole
    // downstream chain (kpi → suggestions → exports) are value-identical
    def rows(p: JobRunner.Paths, t: String, keys: String*): Seq[String] =
      spark.read.parquet(p.table(t)).orderBy(keys.map(col): _*)
        .collect().map(_.toString).toSeq
    for (t <- Seq("rt_frames" -> Seq("event_id"),
        "vehicle_positions" -> Seq("route_id", "vehicle_id", "observed_at"),
        "trip_updates" -> Seq("route_id", "observed_at", "delay_seconds"),
        "service_alerts" -> Seq("alert_id"),
        "kpi_hourly" -> Seq("route_id", "hour_ts"),
        "route_optimization_suggestions" -> Seq("route_id", "hour_ts"))) {
      val (name, keys) = t
      assert(rows(pb, name, keys: _*) == rows(ps, name, keys: _*),
        s"streaming-mode artifact $name diverged from batch mode")
    }
    // export JSON artifacts byte-identical
    for (f <- Seq("route_suggestions_latest.json", "summary_latest.json",
        "peak_hours_latest.json")) {
      val a = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(pb.export(f))), "UTF-8")
      val b = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(ps.export(f))), "UTF-8")
      assert(a == b, s"export $f diverged between modes")
    }
  }
}
