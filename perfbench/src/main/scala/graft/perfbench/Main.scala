package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Try

import org.apache.spark.sql.SparkSession

/** One benchmark process: set up a session, then run passes of one
  * workload back to back for the given number of seconds (at least one).
  * Pass 0 is the first pass of a fresh JVM, the one a freshly submitted
  * job pays. Per-pass figures go to `<work>/result.json`; perfbench/run.py
  * checks the outputs against the oracle and reduces the figures.
  *
  * Options (all `--name value`):
  *  - workload, legs (comma-separated), input (one sub-directory per leg),
  *    work, seconds, launch-ms (epoch ms at which the launcher started
  *    this JVM);
  *  - trace 0|1: with 1, pass 0 is traced: it registers listener detail
  *    and layer spans, and the traced-only extra calls run after it;
  *  - deadline-ms: epoch ms by which the JVM should be done; no optional
  *    pass starts unless, judged by the slowest pass so far, it ends in
  *    time;
  *  - alter-pass i: self-test, corrupt leg k's output of pass i + k before
  *    its check, with one unaltered pass after the last altered one.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val wl = Workloads(opt("workload"), opt("legs").split(",").toSeq)
    val work = opt("work")
    val seconds = opt("seconds").toDouble
    val trace = opt.get("trace").contains("1")
    val alterPass = opt.get("alter-pass").map(_.toInt).getOrElse(-1)

    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${wl.name}")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    val counters = new Counters
    sc.addSparkListener(counters)
    val setupS = (Clock.nowMs - opt("launch-ms").toDouble) / 1000

    /** Storage still held by persisted frames, then release all of it. */
    def release(): Double = {
      org.apache.spark.perfbench.Bus.drain(sc)
      val left = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      spark.catalog.listTables().collect().filter(_.isTemporary)
        .foreach(t => spark.catalog.dropTempView(t.name))
      System.gc()
      left
    }

    val in = opt("input")
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val start = Clock.nowMs
    def elapsed = (Clock.nowMs - start) / 1000

    def runPass(i: Int, traced: Boolean): Unit = {
      val out = s"$work/pass-$i"
      counters.detailed = traced
      counters.reset()
      val spans = new Spans(traced)
      val before = counters.totals
      val costBefore = TraceCost.ns.get
      val t0 = Clock.nowMs
      val res = Try(wl.pass(spark, in, out, spans))
      val t1 = Clock.nowMs
      org.apache.spark.perfbench.Bus.drain(sc)
      val d = counters.totals - before
      val rec = mutable.LinkedHashMap[String, Any](
        "pass" -> i, "traced" -> traced, "out" -> out,
        "pass_s" -> (t1 - t0) / 1000,
        "result_lag_s" -> res.map(_.map(_.output.lagS).sum).getOrElse(Double.NaN),
        "cpu_s" -> d.cpuNs / 1e9, "jobs" -> d.jobs, "tasks" -> d.tasks,
        "shuffle_mb" -> d.shuffleBytes / 1e6,
        "trace_s" -> (TraceCost.ns.get - costBefore) / 1e9)
      res.foreach(_.foreach(r => rec ++= r.output.extras))
      res.foreach(_.foreach(r => rec(s"${r.leg.name}_s") = (r.endMs - r.startMs) / 1000))
      if (traced && res.isSuccess) {
        val jobs = counters.snapshot()
        val layers = Attribution(wl.layerSpans(res.get, spans.recorded.toSeq, jobs), jobs)
        rec("layers") = layers.map { case (k, c) => k -> counterMap(c) }
        rec("unattributed_s") = (t1 - t0) / 1000 - layers.values.map(_.selfS).sum
      }
      rec("cache_left_mb") = release()
      val extras = if (traced && res.isSuccess) Try {
        counters.reset()
        val extraSpans = new Spans(true)
        rec ++= wl.traceExtras(spark, in, out, extraSpans)
        val extraJobs = { org.apache.spark.perfbench.Bus.drain(sc); counters.snapshot() }
        rec("extra_layers") = Attribution(extraSpans.recorded.toSeq, extraJobs)
          .map { case (k, c) => k -> counterMap(c) }
        release()
        ()
      } else Try(())
      counters.detailed = false
      val k = i - alterPass
      if (alterPass >= 0 && k >= 0 && k < wl.legs.size && res.isSuccess) wl.alter(spark, out, k)
      val c0 = Clock.nowMs
      val error = res.failed.toOption.map(e => s"pass threw: $e")
        .orElse(extras.failed.toOption.map(e => s"traced extras threw: $e"))
        .orElse(Try(wl.check(spark, in, out)).fold(e => Some(s"check threw: $e"), identity))
      rec("check_s") = (Clock.nowMs - c0) / 1000
      rec("error") = error.orNull
      release()
      passes += rec.toMap
    }

    val deadlineMs = opt.get("deadline-ms").map(_.toDouble).getOrElse(Double.MaxValue)
    def fits(required: Int, i: Int): Boolean = i < required || (elapsed < seconds &&
      Clock.nowMs + 1000 * passes.map(_("pass_s").asInstanceOf[Double]).max < deadlineMs)
    val minPasses = if (alterPass >= 0) alterPass + wl.legs.size + 1 else 1
    var i = 0
    while (fits(minPasses, i)) { runPass(i, traced = trace && i == 0); i += 1 }

    write(s"$work/result.json", Map(
      "workload" -> wl.name, "setup_s" -> setupS, "cpus" -> cpus,
      "passes" -> passes.toSeq, "oracle_sql" -> wl.oracles))
    spark.stop()
    sys.exit(0)
  }

  private def counterMap(c: LayerCounters): Map[String, Any] = Map(
    "self_s" -> c.selfS, "driver_s" -> c.driverS, "jobs" -> c.jobs,
    "tasks" -> c.tasks, "cpu_s" -> c.cpuS, "shuffle_mb" -> c.shuffleMb)

  private def write(path: String, v: Any): Unit =
    Files.writeString(Paths.get(path), json(v))

  private def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
