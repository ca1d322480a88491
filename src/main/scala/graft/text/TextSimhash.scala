package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SimHash layer: 32-bit and 64-bit per-document SimHash signatures and their shared oracle CTE bodies.
  * Split out of the former TextOps.scala monolith (r16) with zero
  * behavior change; mixed into [[TextOps]].
  */
private[graft] trait TextSimhash extends TextQuality {
  // ---- 32-bit SimHash ----
  // Per token: h = md5(token); bit b comes from hex digit j = b / 4 of h
  // (value via an explicit 16-branch CASE — no engine-specific hex
  // parsing), bit index (3 - b % 4) within the digit. Per doc, per bit:
  // sum of ±1 over tokens; signature bit = (sum > 0).


  /** Value of a lowercase hex digit via ascii arithmetic (identical in
    * Spark and DuckDB; one branch instead of a 16-way CASE — measurably
    * faster when evaluated 8× per token row).
    */
  def hexVal(ch: Column): Column =
    when(ascii(ch) >= 97, ascii(ch) - 87).otherwise(ascii(ch) - 48)

  def hexValSql(ch: String): String =
    s"(CASE WHEN ascii($ch) >= 97 THEN ascii($ch) - 87 ELSE ascii($ch) - 48 END)"

  /** doc_id → 32-bit SimHash as BIGINT. The 32-bit signature votes on
    * md5 hex digits 0-7 — exactly the low half of the 64-bit signature's
    * bit numbering — so it reads straight
    * off the native fused expression: one narrow per-row call, no
    * explode, no shuffle (equality with the historical composed form is
    * covered transitively by the simhash64 equivalence spec plus the
    * unchanged DuckDB oracle).
    */
  def simhash(documents: DataFrame): DataFrame = {
    val sh = graft.functions.SimHash64Expr.simhash64(col("text"))
    documents
      .select(col("doc_id"), element_at(sh, 2).as("simhash32"))
      .orderBy("doc_id")
  }

  /** doc_id → 64-bit SimHash as two unsigned 32-bit halves (`sim_hi` =
    * bits 32..63, `sim_lo` = bits 0..31, both BIGINT in [0, 2³²)). Split
    * halves instead of one 64-bit value because bit 63 would make the
    * signature negative / overflow-prone, and signed-overflow behavior is
    * engine-specific; two positive halves compare and XOR identically in
    * Spark and DuckDB. 16-bit banding over the halves gives 65,536
    * buckets per band — the 100 TB candidate-generation path (the 8-bit
    * bands of the 32-bit variant cap at 256 buckets, which goes quadratic
    * per bucket as the corpus grows).
    *
    * 64-bit SimHash per document via the native fused expression
    * (graft.functions.SimHash64Expr): tokenize → md5 → bit-vote →
    * signature in ONE narrow per-row call — no explode, no 64-column
    * aggregation, no shuffle. The signature stage of near-dup detection
    * is a pure map at any scale; bit-identical to the composed
    * explode/aggregate form (equivalence spec-asserted) and to the
    * DuckDB oracle twin.
    */
  def simhash64(documents: DataFrame): DataFrame = {
    val sh = graft.functions.SimHash64Expr.simhash64(col("text"))
    documents.select(col("doc_id"),
      element_at(sh, 1).as("sim_hi"),
      element_at(sh, 2).as("sim_lo"))
  }

  /** CTE chain ending in `simsel64(doc_id, sim_hi, sim_lo)` — the DuckDB
    * twin of [[simhash64]], composable into larger oracle queries.
    */
  val simhash64CteBody: String = {
    val digits = (0 until 16)
      .map(j => s"${hexValSql(s"substr(h, ${j + 1}, 1)")} AS d$j").mkString(",\n  ")
    val sums = (0 until 64).map { b =>
      s"SUM(CASE WHEN (d${b / 4} // ${1 << (3 - b % 4)}) % 2 = 1 THEN 1 ELSE -1 END) AS v$b"
    }.mkString(",\n  ")
    def half(bits: Range, off: Int) = bits
      .map(b => s"CASE WHEN v$b > 0 THEN CAST(${1L << (b - off)} AS BIGINT) ELSE 0 END")
      .mkString(" + ")
    raw"""tok64 AS (
       |  SELECT doc_id, md5(unnest(${toksSql()})) AS h
       |  FROM documents),
       |dig64 AS (SELECT doc_id,
       |  $digits
       |FROM tok64),
       |v64 AS (SELECT doc_id,
       |  $sums
       |FROM dig64 GROUP BY doc_id),
       |simsel64 AS (SELECT doc_id,
       |  CAST(${half(32 until 64, 32)} AS BIGINT) AS sim_hi,
       |  CAST(${half(0 until 32, 0)} AS BIGINT) AS sim_lo
       |FROM v64)""".stripMargin
  }

  /** CTE chain ending in `simsel(doc_id, simhash32)` — composable into
    * larger oracle queries (see graft.dedup.Dedup.simhashPairsSql).
    */
  val simhashCteBody: String = {
    val digits = (0 until 8)
      .map(j => s"${hexValSql(s"substr(h, ${j + 1}, 1)")} AS d$j").mkString(",\n  ")
    val sums = (0 until 32).map { b =>
      s"SUM(CASE WHEN (d${b / 4} // ${1 << (3 - b % 4)}) % 2 = 1 THEN 1 ELSE -1 END) AS v$b"
    }.mkString(",\n  ")
    val sig = (0 until 32)
      .map(b => s"CASE WHEN v$b > 0 THEN CAST(${1L << b} AS BIGINT) ELSE 0 END")
      .mkString(" + ")
    raw"""tok AS (
       |  SELECT doc_id, md5(unnest(${toksSql()})) AS h
       |  FROM documents),
       |dig AS (SELECT doc_id,
       |  $digits
       |FROM tok),
       |v AS (SELECT doc_id,
       |  $sums
       |FROM dig GROUP BY doc_id),
       |simsel AS (SELECT doc_id, CAST($sig AS BIGINT) AS simhash32 FROM v)""".stripMargin
  }

  val simhashSql: String =
    s"WITH $simhashCteBody SELECT doc_id, simhash32 FROM simsel ORDER BY doc_id"

  /** Zipf / vocabulary-coverage curve: the top-k corpus vocabulary with
    * each token's count and the cumulative share of ALL token
    * occurrences covered by the vocabulary up to that rank — the "how
    * big must the tokenizer vocab be" curve.
    *
    * Scale shape: one explode + one map-side-combinable hash aggregation
    * (output is vocabulary-sized, sublinear in corpus), a bounded
    * TakeOrdered top-k (never a global sort of the vocabulary), and the
    * corpus token total as a broadcast 1-row aggregate. The ranking
    * window then runs over the k retained rows only — its single
    * partition is bounded by construction (k), not by data.
    */
}
