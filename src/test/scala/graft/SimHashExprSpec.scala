package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.text.TextOps

class SimHashExprSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over a sleepy dog"),
    (3L, "completely different words appear in this one here"),
    (4L, "ab"),
    (5L, ""),                       // empty text → single empty token
    (6L, "  padded   with   spaces  "),
    (7L, "MiXeD CaSe TOKENS"),      // lowercasing must match both engines
    (8L, "dup dup dup dup unique")) // duplicate tokens vote with multiplicity
    .toDF("doc_id", "text")

  /** The composed built-in form simhash64 replaced (explode → hex-digit
    * columns → 64 bit-vote SUMs → sign): the reference implementation
    * the custom expression must never drift from.
    */
  private def simhash64Composed(documents: DataFrame): DataFrame = {
    val tok = documents
      .select(col("doc_id"), explode(TextOps.toks(col("text"))).as("t"))
      .withColumn("h", md5(col("t")))
    val withDigits = (0 until 16).foldLeft(tok) { (df, j) =>
      df.withColumn(s"d$j", TextOps.hexVal(substring(col("h"), j + 1, 1)))
    }
    val sums = (0 until 64).map { b =>
      val d = col(s"d${b / 4}")
      val bit = (d / lit(1 << (3 - b % 4))).cast("int") % 2
      sum(when(bit === 1, 1).otherwise(-1)).as(s"v$b")
    }
    def half(bits: Range, off: Int) = bits
      .map(b => when(col(s"v$b") > 0, lit(1L << (b - off))).otherwise(lit(0L)))
      .reduceLeft(_ + _)
    withDigits
      .groupBy("doc_id")
      .agg(sums.head, sums.tail: _*)
      .select(col("doc_id"),
        half(32 until 64, 32).cast("long").as("sim_hi"),
        half(0 until 32, 0).cast("long").as("sim_lo"))
  }

  test("native simhash64 is bit-identical to the composed explode/aggregate form") {
    val native = TextOps.simhash64(docs).orderBy("doc_id").collect()
    val composed = simhash64Composed(docs).orderBy("doc_id").collect()
    assert(native.toSeq == composed.toSeq)
  }

  test("identical text gives identical signatures; near-dup text is hamming-close") {
    val m = TextOps.simhash64(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> ((r.getAs[Long]("sim_hi"), r.getAs[Long]("sim_lo"))))
      .toMap
    assert(m(0L) == m(1L))
    def hamming(a: (Long, Long), b: (Long, Long)): Int =
      java.lang.Long.bitCount(a._1 ^ b._1) + java.lang.Long.bitCount(a._2 ^ b._2)
    assert(hamming(m(0L), m(2L)) < hamming(m(0L), m(3L)),
      "near-dup must be closer than an unrelated doc")
  }

  test("the expression runs as a narrow plan — no shuffle, no explode") {
    val plan = TextOps.simhash64(docs).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"simhash64 must not shuffle:\n$plan")
    assert(!plan.contains("Generate"), s"simhash64 must not explode:\n$plan")
  }

  test("graft_simhash64 is callable from SQL after extension registration") {
    GraftExtensions.register(spark)
    docs.createOrReplaceTempView("sh_docs")
    val r = spark.sql(
      """SELECT doc_id, graft_simhash64(text)[0] AS hi, graft_simhash64(text)[1] AS lo
        |FROM sh_docs ORDER BY doc_id""".stripMargin).collect()
    val direct = TextOps.simhash64(docs).orderBy("doc_id").collect()
    assert(r.map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSeq ==
      direct.map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSeq)
  }
}
