package graft.perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.TestdataAdapter
import graft.dedup.Dedup
import graft.export.Export
import graft.jobs.{JobGraph, JobRunner}
import graft.sim.{IvfMaintenance, KnnGraph}
import graft.streaming.EndToEnd
import graft.suggest.Suggestions
import graft.text.WebGraphMaintenance
import graft.views.{Hourly, Kpi}

/** What one timed pass reports besides its wall time. */
final case class PassOutput(
    lagS: Double,
    completions: Seq[(String, Double)] = Nil,
    extras: Map[String, Double] = Map.empty)

/** One leg of a workload: a closed-loop pass over a generated input dir,
  * its outputs written under a fresh `out` dir.
  *
  * `oracles` maps each output the pass wrote to `out/<name>` to the DuckDB
  * oracle SQL that must reproduce it; `check` is the JVM-side check for
  * what no oracle covers. Neither is timed.
  */
trait Leg {
  def name: String
  def oracles: Map[String, String] = Map.empty
  def pass(spark: SparkSession, in: String, out: String, spans: Spans): PassOutput
  /** Extra traced-only calls after a pass (not part of `pass_s`). */
  def traceExtras(spark: SparkSession, in: String, out: String,
      spans: Spans): Map[String, Double] = Map.empty
  /** The layer spans of a traced pass; by default the recorded ones. */
  def layerSpans(recorded: Seq[Span], out: PassOutput, jobs: Seq[JobRecord],
      passStartMs: Double, passEndMs: Double): Seq[Span] = recorded
  def check(spark: SparkSession, in: String, out: String): Option[String] = None
  /** Self-test hook: corrupt one output of a finished pass. */
  def alter(spark: SparkSession, out: String): Unit
}

/** A leg's run inside one pass. */
final case class LegRun(leg: Leg, out: String, startMs: Double, endMs: Double,
    output: PassOutput)

/** A benchmark workload: its legs run back to back in every pass, each
  * into its own sub-directory of the pass's output dir.
  */
final case class Workload(name: String, legs: Seq[Leg]) {

  /** Each leg reads its own input dir `in/<leg>`. */
  def pass(spark: SparkSession, in: String, out: String, spans: Spans): Seq[LegRun] =
    legs.map { leg =>
      val t0 = Clock.nowMs
      val o = leg.pass(spark, s"$in/${leg.name}", s"$out/${leg.name}", spans)
      LegRun(leg, s"$out/${leg.name}", t0, Clock.nowMs, o)
    }

  /** Every leg's layer spans, each leg seeing only its own spans and jobs. */
  def layerSpans(runs: Seq[LegRun], recorded: Seq[Span], jobs: Seq[JobRecord]): Seq[Span] =
    runs.flatMap { r =>
      def within(t: Double) = t >= r.startMs - 1 && t <= r.endMs + 1
      r.leg.layerSpans(recorded.filter(s => within(s.startMs)), r.output,
        jobs.filter(j => within(j.startMs)), r.startMs, r.endMs)
    }

  def traceExtras(spark: SparkSession, in: String, out: String,
      spans: Spans): Map[String, Double] =
    legs.flatMap(l => l.traceExtras(spark, s"$in/${l.name}", s"$out/${l.name}", spans)).toMap

  /** Oracle SQL keyed by output path relative to the pass's output dir. */
  def oracles: Map[String, String] =
    legs.flatMap(l => l.oracles.map { case (k, v) => s"${l.name}/$k" -> v }).toMap

  def check(spark: SparkSession, in: String, out: String): Option[String] =
    legs.iterator
      .map(l => l.check(spark, s"$in/${l.name}", s"$out/${l.name}").map(e => s"${l.name}: $e"))
      .collectFirst { case Some(e) => e }

  def alter(spark: SparkSession, out: String, leg: Int): Unit =
    legs(leg).alter(spark, s"$out/${legs(leg).name}")
}

object Workloads {

  val legs: Seq[Leg] = Seq(TransitRefresh, TransitStream, CorpusCurate, IndexMaintain)

  /** Workload `name` running the named legs in order. */
  def apply(name: String, legNames: Seq[String]): Workload =
    Workload(name, legNames.map(n => legs.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(s"unknown leg $n"))))

  /** The registry's own oracle SQL for `names`. */
  private[perfbench] def registryOracles(names: String*): Map[String, String] = {
    val all = graft.SparkEntry.oracleSql
    names.map(n => n -> all(n)).toMap
  }

  private[perfbench] def write(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)

  /** Rewrite the parquet dir `path` with one value of its first numeric or
    * string column changed in its first row.
    */
  private[perfbench] def alterParquet(spark: SparkSession, path: String): Unit = {
    val df = spark.read.parquet(path)
    val rows = df.collect()
    require(rows.nonEmpty, s"nothing to alter in $path")
    val i = df.schema.fields.indexWhere(f => f.dataType match {
      case _: org.apache.spark.sql.types.NumericType => true
      case org.apache.spark.sql.types.StringType => true
      case _ => false
    })
    require(i >= 0, s"no numeric or string column in $path")
    val r0 = rows.head.toSeq.toArray
    r0(i) = r0(i) match {
      case null => df.schema.fields(i).dataType match {
        case org.apache.spark.sql.types.StringType => "altered"
        case _ => throw new IllegalStateException(s"null first value in $path")
      }
      case v: Long => v + 1
      case v: Int => v + 1
      case v: Double => v + 1.0
      case v: Float => v + 1.0f
      case v: java.math.BigDecimal => v.add(java.math.BigDecimal.ONE)
      case v: String => v + "~"
      case v => throw new IllegalStateException(s"cannot alter $v in $path")
    }
    val altered = spark.createDataFrame(
      java.util.Arrays.asList((Row.fromSeq(r0.toSeq) +: rows.tail.toSeq): _*), df.schema)
    val tmp = path + ".altered"
    altered.coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp)
    org.apache.commons.io.FileUtils.deleteDirectory(new File(path))
    new File(tmp).renameTo(new File(path))
  }
}

/** The whole 19-task deployment (`JobRunner.run`) into a fresh out dir. */
object TransitRefresh extends Leg {
  val name = "transit_refresh"

  def pass(spark: SparkSession, in: String, out: String, spans: Spans): PassOutput = {
    val t0 = Clock.nowMs
    val watch =
      if (spans.on) Some(new ArtifactWatch(new File(s"$out/tables"))) else None
    watch.foreach(_.start())
    try JobRunner.run(spark, in, out)
    catch { case e: Throwable => watch.foreach(_.finish()); throw e }
    val done = watch.map(_.finish()).getOrElse(Nil)
    PassOutput(lagS = (Clock.nowMs - t0) / 1000, completions = done)
  }

  /** Layer of each DAG; the export DAGs go to `export`. */
  private def layerOf(dag: String): Option[String] = dag match {
    case "gtfs_realtime_poller" | "db_ingestion_service" => Some("streaming")
    case "static_gtfs_job" | "weather_ingestion_pipeline" => Some("ingest")
    case "mock_passenger_flow_pipeline" => Some("mockflow")
    case "ml_train_predict_demand_rf_psycopg2" => Some("ml")
    case "build_kpi_views" => Some("views")
    case "generate_route_optimization_suggestions" => Some("suggest")
    case d if d.startsWith("export_") => Some("export")
    case _ => None
  }

  /** `JobRunner` runs nodes strictly in order, so a node's span runs from
    * the previous node's last artifact write to its own; a job belongs to
    * the node whose artifact write is the next to complete. Jobs launched
    * by `run` itself (the schedule collect, not a node effect) and the
    * tail after the last write are the `jobs` layer.
    */
  override def layerSpans(recorded: Seq[Span], out: PassOutput,
      jobs: Seq[JobRecord], passStartMs: Double, passEndMs: Double): Seq[Span] = {
    val nodeOf: Map[String, JobGraph.JobTask] =
      JobGraph.tasks.flatMap(t => t.produces.map(_ -> t)).toMap
    val nodeEnd: Seq[(JobGraph.JobTask, Double)] = out.completions
      .flatMap { case (path, at) => nodeOf.get(path.takeWhile(_ != '/')).map(_ -> at) }
      .groupMapReduce(_._1)(_._2)(math.max).toSeq.sortBy(_._2)
    val firstEnd = nodeEnd.headOption.map(_._2).getOrElse(passEndMs)
    val scheduleEnd = (passStartMs +: jobs
      .filter(j => !j.callSite.contains("$anonfun$effects") && j.startMs < firstEnd)
      .map(j => if (j.endMs.isNaN) j.startMs else j.endMs)).max
    val bounds = scheduleEnd +: nodeEnd.map(_._2)
    val nodes = nodeEnd.zip(bounds.zip(bounds.tail)).map { case ((t, _), (a, b)) =>
      Span(layerOf(t.dag).getOrElse("unattributed"), a, b)
    }
    val lastEnd = bounds.last
    Seq(Span("jobs", passStartMs, scheduleEnd)) ++ nodes ++
      (if (passEndMs > lastEnd) Seq(Span("jobs", lastEnd, passEndMs)) else Nil)
  }

  /** JobGraphSpec's full-run checks: each artifact equals the direct
    * composition of the engine functions over its upstream artifacts.
    */
  override def check(spark: SparkSession, in: String, out: String): Option[String] = {
    val p = JobRunner.Paths(out)
    def art(t: String): DataFrame = spark.read.parquet(p.table(t))
    def same(what: String, a: DataFrame, b: DataFrame, keys: String*): Option[String] = {
      val (x, y) = (a.orderBy(keys.map(col): _*).collect().toSeq,
        b.orderBy(keys.map(col): _*).collect().toSeq)
      if (x.isEmpty) Some(s"$what is empty")
      else if (x != y) Some(s"$what differs from its direct composition " +
        s"(${x.size} vs ${y.size} rows)")
      else None
    }
    def s2r = Hourly.stopToRoute(
      art("stop_times").select("trip_id", "stop_id"),
      art("trips").select("trip_id", "route_id"))
    val vp = art("vehicle_positions")
    val checks = Seq(
      () => same("stop_to_route", s2r.select("stop_id", "route_id"),
        TestdataAdapter.stopToRouteMapping(spark, in).select("stop_id", "route_id"),
        "stop_id", "route_id"),
      () => same("ml_dataset_hourly", art("ml_dataset_hourly"),
        Hourly.mlDatasetHourly(
          Hourly.passengerDemandHourly(art("passenger_flow_events"), s2r),
          Hourly.delayHourly(art("trip_updates")),
          Hourly.vehicleHourly(vp),
          Hourly.weatherHourly(art("weather_observations"))),
        "route_id", "hour_ts"),
      () => same("ml_runs", art("ml_runs"),
        graft.ml.DemandModel.pinnedRunRecord(art("ml_training_frame"),
          graft.ml.RfFixture.trees), "run_id"),
      () => same("kpi_hourly", art("kpi_hourly"),
        Kpi.kpiHourly(
          art("demand_predictions").select("route_id", "hour_ts", "y_pred", "y_true"),
          Kpi.activeVehiclesHourly(vp), Kpi.headwayHourly(vp),
          Kpi.delayHourly(art("trip_updates"))),
        "route_id", "hour_ts"),
      () => {
        val manifest = art("suggestions_exports").collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        val want = Set("route_suggestions_latest.json", "needs_data_latest.json",
          "top_priority_latest.json", "summary_latest.json", "peak_hours_latest.json")
        if (manifest.keySet != want) Some(s"export manifest lists ${manifest.keySet}")
        else (want + "routes_geo_latest.json").toSeq.sorted.flatMap { f =>
          val txt = new String(java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(p.export(f))), "UTF-8").trim
          if (txt.startsWith("[") && txt.endsWith("]")) None
          else Some(s"$f is not a JSON array")
        }.headOption
      })
    checks.iterator.map(_()).collectFirst { case Some(e) => e }
  }

  def alter(spark: SparkSession, out: String): Unit =
    Workloads.alterParquet(spark, JobRunner.Paths(out).table("kpi_hourly"))
}

/** The realtime lifecycle: protobuf feed → envelopes → queue, three
  * concurrent micro-batch consumers → KPI views → suggestions → export.
  */
object TransitStream extends Leg {
  val name = "transit_stream"
  override def oracles = Workloads.registryOracles("export_rows")

  def pass(spark: SparkSession, in: String, out: String, spans: Spans): PassOutput = {
    val events = TestdataAdapter.table(spark, in, "events").select(
      col("event_type"), col("user_id").cast("string").as("uid"),
      graft.functions.Cols.microsFromNanos(col("ts")).as("ts_us"),
      col("value"))
    val qdir = spans("streaming.produce")(EndToEnd.produceFromEvents(spark, events))
    val committed = Clock.nowMs
    val kpiFrame = spans("sources.consume")(EndToEnd.kpiFromQueue(spark, qdir))
    val kpi = spans("views.stream") {
      Workloads.write(kpiFrame, s"$out/kpi_hourly")
      spark.read.parquet(s"$out/kpi_hourly")
    }
    val sugg = spans("suggest.stream") {
      Workloads.write(Suggestions.suggest(kpi), s"$out/suggestions")
      spark.read.parquet(s"$out/suggestions")
    }
    spans("export.stream") {
      Workloads.write(Export.exportRows(kpi, sugg)
        .withColumn("hour_ts", col("hour_ts").cast("timestamp_ntz")),
        s"$out/export_rows")
    }
    val lag = (Clock.nowMs - committed) / 1000
    val queueBytes = org.apache.commons.io.FileUtils.sizeOfDirectory(new File(qdir))
    org.apache.commons.io.FileUtils.deleteDirectory(new File(qdir))
    PassOutput(lag, extras = Map("queue_bytes" -> queueBytes.toDouble))
  }

  def alter(spark: SparkSession, out: String): Unit =
    Workloads.alterParquet(spark, s"$out/export_rows")
}

/** Corpus curation (scrub → exact dedup → quality → language), then
  * near-duplicate clusters (MinHash-LSH → connected components).
  */
object CorpusCurate extends Leg {
  val name = "corpus_curate"
  override def oracles = Workloads.registryOracles("corpus_curate", "dedup_clusters")

  /** The verification floor `Dedup.splitLeakage` applies to candidates. */
  private val MinJaccard = 0.5

  def pass(spark: SparkSession, in: String, out: String, spans: Spans): PassOutput = {
    val t0 = Clock.nowMs
    val docs = TestdataAdapter.table(spark, in, "documents")
    spans("dedup.curate")(Workloads.write(
      Dedup.curateCorpus(docs, minQuality = 0.05), s"$out/corpus_curate"))
    spans("dedup.clusters")(Workloads.write(
      Dedup.dedupClusters(docs), s"$out/dedup_clusters"))
    PassOutput((Clock.nowMs - t0) / 1000)
  }

  /** The two halves of the clusters cost as standalone calls, and the
    * share of LSH candidate pairs that pass Jaccard verification.
    */
  override def traceExtras(spark: SparkSession, in: String, out: String,
      spans: Spans): Map[String, Double] = {
    val docs = TestdataAdapter.table(spark, in, "documents")
    spans("dedup.minhash_pairs")(Workloads.write(
      Dedup.minhashPairs(docs), s"$out/trace_minhash_pairs"))
    spark.catalog.clearCache()
    spans("dedup.ngram_jaccard")(Workloads.write(
      Dedup.ngramJaccard(docs), s"$out/trace_ngram_jaccard"))
    val cand = spark.read.parquet(s"$out/trace_minhash_pairs").count()
    val verified = spark.read.parquet(s"$out/trace_ngram_jaccard")
      .filter(col("jaccard") >= MinJaccard).count()
    Map("pair_yield" -> (if (cand == 0) 0.0 else verified.toDouble / cand))
  }

  def alter(spark: SparkSession, out: String): Unit =
    Workloads.alterParquet(spark, s"$out/dedup_clusters")
}

/** The iterative index operators: graph-ANN build + search, then IVF and
  * web-graph maintenance, each against fresh state directories.
  */
object IndexMaintain extends Leg {
  val name = "index_maintain"

  // Iteration counts below the registry defaults (graph rounds 4, hops 4;
  // Lloyd iterations 2; power iterations 5 with 2 warm): the same loops
  // with fewer turns, so a pass fits the run budget. The oracle SQL is
  // generated with the same counts.
  private val Rounds = 1
  private val Hops = 2
  private val LloydIters = 1
  private val PowerIters = 1
  private val WarmIters = 1

  override def oracles = Map(
    "knn_graph_topk" -> KnnGraph.graphTopKSql(rounds = Rounds, hops = Hops, iters = LloydIters),
    "ivf_maintenance_batch" -> IvfMaintenance.maintenanceCarveSql(iters = LloydIters),
    "link_authority_maintenance" ->
      WebGraphMaintenance.maintenanceCarveSql(warmIters = WarmIters, iters = PowerIters))

  def pass(spark: SparkSession, in: String, out: String, spans: Spans): PassOutput = {
    val t0 = Clock.nowMs
    val emb = TestdataAdapter.table(spark, in, "embeddings")
    val docs = TestdataAdapter.table(spark, in, "documents")
    spans("sim.knn_graph")(Workloads.write(
      KnnGraph.graphTopK(emb, rounds = Rounds, hops = Hops, iters = LloydIters),
      s"$out/knn_graph_topk"))
    spans("sim.ivf_maintenance")(Workloads.write(
      IvfMaintenance.maintenanceBatchFrom(emb, iters = LloydIters),
      s"$out/ivf_maintenance_batch"))
    spans("text.web_graph")(Workloads.write(
      WebGraphMaintenance.maintenanceBatchFrom(docs, warmIters = WarmIters, iters = PowerIters),
      s"$out/link_authority_maintenance"))
    PassOutput((Clock.nowMs - t0) / 1000)
  }

  def alter(spark: SparkSession, out: String): Unit =
    Workloads.alterParquet(spark, s"$out/knn_graph_topk")
}
