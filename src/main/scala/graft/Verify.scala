package graft
import java.nio.file.{Files, Paths}
import java.util.concurrent.Executors
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Usage: Verify <sfDir> <outDir> [queryName...] — with no names, runs all.
  * Queries run concurrently (Spark's scheduler interleaves independent
  * jobs; each query is small at verify scale, so wall time is dominated by
  * per-job latency, not compute).
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val only = args.drop(2).toSet
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val selected = SparkEntry.queries.filter { case (n, _) => only.isEmpty || only(n) }
    val pool = Executors.newFixedThreadPool(math.min(8, selected.size.max(1)))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val futures = selected.toSeq.map { case (name, fn) =>
      Future {
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.toString.take(500)}")
          failures.add(name)
        }
      }
    }
    Await.result(Future.sequence(futures), Duration.Inf)
    pool.shutdown()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    // Exit non-zero AFTER all outputs + oracle_sql.json are written: a
    // broken query must be loud, not silently absent from the compare.
    if (!failures.isEmpty) {
      System.err.println(s"[verify] ${failures.size} queries failed: " +
        String.join(", ", failures))
      sys.exit(1)
    }
  }
}
