package graft

import org.apache.spark.sql.SparkSession

/** The one local session every graft main and the test suites run on:
  * `local[n]` with n shuffle partitions, UTC, no UI, adaptive execution.
  * n is `SPARK_GRAFT_CPUS` when set, else max(4, available processors).
  * Callers set their own log level.
  */
object GraftSession {
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(math.max(4, Runtime.getRuntime.availableProcessors()))

  def apply(cpus: Int = defaultCpus): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      // local-mode broadcast/shuffle state is only reclaimed on GC; a
      // long run of sequential queries otherwise degrades from heap pressure
      .config("spark.cleaner.periodicGC.interval", "60s")
      .getOrCreate()
}
