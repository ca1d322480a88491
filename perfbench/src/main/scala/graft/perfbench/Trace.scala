package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}

/** Wall clock in fractional epoch milliseconds: the same time base as the
  * millisecond timestamps Spark stamps on its listener events, with
  * sub-millisecond resolution for span boundaries.
  */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** CPU time spent in the tracing code itself: the listener's per-job
  * bookkeeping and the artifact poller. Spans only read the clock.
  */
object TraceCost {
  val ns = new java.util.concurrent.atomic.AtomicLong
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
  def apply[T](body: => T): T = {
    val t0 = threads.getCurrentThreadCpuTime
    try body finally ns.addAndGet(threads.getCurrentThreadCpuTime - t0)
  }
}

/** One Spark job as the listener saw it. */
final class JobRecord(val id: Int, val startMs: Double, val callSite: String) {
  var endMs: Double = Double.NaN
  var tasks = 0L
  var cpuNs = 0L
  var shuffleBytes = 0L
}

/** Running totals over the life of the session. */
final case class Totals(jobs: Long, tasks: Long, cpuNs: Long, shuffleBytes: Long) {
  def -(o: Totals): Totals =
    Totals(jobs - o.jobs, tasks - o.tasks, cpuNs - o.cpuNs, shuffleBytes - o.shuffleBytes)
}

/** The benchmark's own SparkListener.
  *
  * Always on: running totals of jobs, tasks, executor CPU and shuffle
  * bytes written, for `cpu_s` and the per-pass counter spread. Traced
  * passes also keep every job with its start/end time, call site and its
  * own totals, for attribution to layer spans.
  */
final class Counters extends SparkListener {
  @volatile var detailed = false
  private val nJobs, nTasks, cpuNs, shuffleBytes = new java.util.concurrent.atomic.AtomicLong
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRecord]
  private val stageJob = mutable.HashMap.empty[Int, JobRecord]

  def totals: Totals = Totals(nJobs.get, nTasks.get, cpuNs.get, shuffleBytes.get)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    nJobs.incrementAndGet()
    if (detailed) TraceCost(synchronized {
      val site = Option(e.properties).map(_.getProperty("callSite.long", "")).getOrElse("")
      val j = new JobRecord(e.jobId, e.time.toDouble, site)
      jobs(e.jobId) = j
      e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = j)
    })
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (detailed) TraceCost(synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time.toDouble)
  })

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val cpu = if (m == null) 0L else m.executorCpuTime
    val shuffle = if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten
    nTasks.incrementAndGet()
    cpuNs.addAndGet(cpu)
    shuffleBytes.addAndGet(shuffle)
    if (detailed) TraceCost(synchronized {
      stageJob.get(e.stageId).foreach { j =>
        j.tasks += 1
        j.cpuNs += cpu
        j.shuffleBytes += shuffle
      }
    })
  }

  /** Jobs seen since the last [[reset]], in start order. */
  def snapshot(): Seq[JobRecord] = synchronized(jobs.values.toSeq)

  def reset(): Unit = synchronized { jobs.clear(); stageJob.clear() }
}

/** A named interval of one pass, in epoch milliseconds. Several spans may
  * share a name; their counters add up.
  */
final case class Span(name: String, startMs: Double, endMs: Double) {
  def seconds: Double = (endMs - startMs) / 1000
}

/** The six counters reported per layer span. */
final case class LayerCounters(selfS: Double, driverS: Double, jobs: Long,
    tasks: Long, cpuS: Double, shuffleMb: Double) {
  def +(o: LayerCounters): LayerCounters = LayerCounters(selfS + o.selfS,
    driverS + o.driverS, jobs + o.jobs, tasks + o.tasks, cpuS + o.cpuS,
    shuffleMb + o.shuffleMb)
}

/** Records named spans around the benchmark's calls into layer functions.
  * With tracing off it only runs the body.
  */
final class Spans(val on: Boolean) {
  val recorded = mutable.ArrayBuffer.empty[Span]
  def apply[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val t0 = Clock.nowMs
      try body finally recorded += Span(name, t0, Clock.nowMs)
    }
}

object Attribution {

  /** Job start and end stamps are whole milliseconds; allow one either side
    * of a span boundary.
    */
  private val SlackMs = 1.0

  /** Attribute every job to the span its start falls in, then derive each
    * span's counters. `driver_s` is the part of the span during which no
    * job of the pass was running.
    */
  def apply(spans: Seq[Span], jobs: Seq[JobRecord]): Map[String, LayerCounters] = {
    val sorted = spans.sortBy(_.startMs)
    val owner: Map[Span, Seq[JobRecord]] = jobs.flatMap { j =>
      sorted.reverseIterator
        .find(s => s.startMs <= j.startMs + SlackMs && j.startMs <= s.endMs + SlackMs)
        .map(_ -> j)
    }.groupBy(_._1).map { case (s, js) => s -> js.map(_._2) }
    sorted.map { s =>
      val js = owner.getOrElse(s, Nil)
      val busy = busyMs(s, jobs)
      s.name -> LayerCounters(
        selfS = s.seconds,
        driverS = math.max(0.0, s.endMs - s.startMs - busy) / 1000,
        jobs = js.size.toLong,
        tasks = js.map(_.tasks).sum,
        cpuS = js.map(_.cpuNs).sum / 1e9,
        shuffleMb = js.map(_.shuffleBytes).sum / 1e6)
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** Milliseconds of `s` covered by at least one running job. */
  private def busyMs(s: Span, jobs: Seq[JobRecord]): Double = {
    val iv = jobs.flatMap { j =>
      val end = if (j.endMs.isNaN) s.endMs else j.endMs
      val (a, b) = (math.max(j.startMs, s.startMs), math.min(end, s.endMs))
      if (b > a) Some((a, b)) else None
    }.sortBy(_._1)
    var total = 0.0
    var cur: Option[(Double, Double)] = None
    iv.foreach { case (a, b) =>
      cur match {
        case Some((ca, cb)) if a <= cb => cur = Some((ca, math.max(cb, b)))
        case Some((ca, cb)) => total += cb - ca; cur = Some((a, b))
        case None => cur = Some((a, b))
      }
    }
    total + cur.map { case (a, b) => b - a }.getOrElse(0.0)
  }
}

/** Polls a JobRunner output directory for completed artifact writes: a
  * table directory (or a table's sub-directory) counts as written when its
  * `_SUCCESS` marker appears. Records the first time each is seen; a poll
  * looks only at directories not seen yet.
  */
final class ArtifactWatch(tables: java.io.File) extends Thread("artifact-watch") {
  setDaemon(true)
  private val seen = mutable.LinkedHashMap.empty[String, Double]
  @volatile private var running = true

  private def poll(): Unit = TraceCost {
    val now = Clock.nowMs
    def done(d: java.io.File) = new java.io.File(d, "_SUCCESS").exists()
    Option(tables.listFiles()).getOrElse(Array.empty).foreach { t =>
      if (!seen.contains(t.getName)) {
        if (done(t)) seen(t.getName) = now
        else Option(t.listFiles()).getOrElse(Array.empty).foreach { s =>
          val key = s"${t.getName}/${s.getName}"
          if (!seen.contains(key) && done(s)) seen(key) = now
        }
      }
    }
  }

  override def run(): Unit = while (running) { poll(); Thread.sleep(5) }

  /** Stop polling and return (artifact, first seen) in completion order. */
  def finish(): Seq[(String, Double)] = {
    running = false
    join()
    poll()
    seen.toSeq.sortBy(_._2)
  }
}
