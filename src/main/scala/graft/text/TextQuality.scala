package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Rule-based quality layer: Gopher/C4-style rule flags and report, repetition-stats oracle, digit redaction, text normalization.
  * Split out of the former TextOps.scala monolith (r16) with zero
  * behavior change; mixed into [[TextOps]].
  */
private[graft] trait TextQuality extends TextMixtures {
  private[text] val RuleStopwords = Seq("the", "a", "of", "to", "and", "in")

  /** Gopher/C4-style per-document quality rule flags — the explicit
    * rule-by-rule breakdown a curation pipeline reports next to the
    * blended [[qualityScore]]: each rule is an independent boolean so
    * a corpus owner can see WHICH gate a document failed, not just
    * that it scored low. Rules (adapted to this corpus; thresholds are
    * parameters with the canonical defaults scaladoc'd per rule):
    *  - word count within [minWords, maxWords] (Gopher: [50, 100k];
    *    the synthetic docs run 10–99 words, so the registered query
    *    uses 30 to exercise both outcomes)
    *  - mean word length within [3, 10] characters (Gopher)
    *  - at least 2 distinct stop words present (Gopher "stop word"
    *    rule; list in [[RuleStopwords]])
    *  - ≥ 80% of words contain an alphabetic character (Gopher)
    * `n_failed` counts failing rules; `keep` is the AND of all four.
    *
    * Scale shape: one narrow projection — every metric folds over the
    * in-row token array (no explode, no shuffle); the only Exchange is
    * the output sort. Mean word length is an integer char-sum divided
    * by an integer count once, so both engines do the same single IEEE
    * division.
    */
  def qualityRuleFlags(
      documents: DataFrame, minWords: Int = 30, maxWords: Int = 100000): DataFrame = {
    val w = toks(col("text"))
    val base = documents.select(
      col("doc_id"), col("source"),
      size(w).cast("long").as("n_words"),
      (aggregate(transform(w, t => length(t)), lit(0L), (a, x) => a + x)
        .cast("double") / size(w)).as("mean_word_len"),
      size(array_intersect(array_distinct(w), array(RuleStopwords.map(lit): _*)))
        .cast("long").as("n_stopwords"),
      (size(filter(w, t => t.rlike("[a-z]"))).cast("double") / size(w))
        .as("alpha_ratio"))
    val flagged = base
      .withColumn("word_count_ok",
        col("n_words").between(minWords.toLong, maxWords.toLong))
      .withColumn("mean_len_ok", col("mean_word_len").between(3.0, 10.0))
      .withColumn("stopwords_ok", col("n_stopwords") >= 2L)
      .withColumn("alpha_ok", col("alpha_ratio") >= 0.8)
    flagged
      .withColumn("n_failed", lit(4) -
        (col("word_count_ok").cast("int") + col("mean_len_ok").cast("int") +
          col("stopwords_ok").cast("int") + col("alpha_ok").cast("int")))
      .withColumn("keep", col("n_failed") === 0)
      .orderBy("doc_id")
  }

  /** DuckDB twin of [[qualityRuleFlags]]. */
  def qualityRuleFlagsSql(minWords: Int = 30, maxWords: Int = 100000): String = {
    val stops = RuleStopwords.map(s => s"'$s'").mkString(", ")
    raw"""WITH s AS (SELECT doc_id, source,
       |              ${toksSql()} AS w FROM documents),
       |m AS (SELECT doc_id, source,
       |  CAST(len(w) AS BIGINT) AS n_words,
       |  CAST(CAST(list_sum(list_transform(w, x -> len(x))) AS BIGINT) AS DOUBLE) / len(w) AS mean_word_len,
       |  CAST(len(list_intersect(list_distinct(w), [$stops])) AS BIGINT) AS n_stopwords,
       |  CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE) / len(w) AS alpha_ratio
       |FROM s),
       |f AS (SELECT *,
       |  n_words BETWEEN $minWords AND $maxWords AS word_count_ok,
       |  mean_word_len BETWEEN 3.0 AND 10.0 AS mean_len_ok,
       |  n_stopwords >= 2 AS stopwords_ok,
       |  alpha_ratio >= 0.8 AS alpha_ok
       |FROM m)
       |SELECT *,
       |  4 - (CAST(word_count_ok AS INT) + CAST(mean_len_ok AS INT)
       |     + CAST(stopwords_ok AS INT) + CAST(alpha_ok AS INT)) AS n_failed,
       |  (4 - (CAST(word_count_ok AS INT) + CAST(mean_len_ok AS INT)
       |      + CAST(stopwords_ok AS INT) + CAST(alpha_ok AS INT))) = 0 AS keep
       |FROM f ORDER BY doc_id""".stripMargin
  }

  /** Per-source rollup of [[qualityRuleFlags]]: how many documents
    * each rule rejects, per source — the report a corpus owner reads
    * to decide which source needs which filter retuned. One hash
    * aggregation over the narrow flags frame; output is |sources| rows.
    */
  def qualityRuleReport(
      documents: DataFrame, minWords: Int = 30, maxWords: Int = 100000): DataFrame =
    qualityRuleFlags(documents, minWords, maxWords)
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum((!col("word_count_ok")).cast("long")).as("n_word_count_fail"),
        sum((!col("mean_len_ok")).cast("long")).as("n_mean_len_fail"),
        sum((!col("stopwords_ok")).cast("long")).as("n_stopword_fail"),
        sum((!col("alpha_ok")).cast("long")).as("n_alpha_fail"),
        sum(col("keep").cast("long")).as("n_kept"))
      .orderBy("source")

  /** DuckDB twin of [[qualityRuleReport]]. */
  def qualityRuleReportSql(minWords: Int = 30, maxWords: Int = 100000): String =
    raw"""WITH s AS (SELECT doc_id, source,
       |              ${toksSql()} AS w FROM documents),
       |m AS (SELECT doc_id, source,
       |  CAST(len(w) AS BIGINT) AS n_words,
       |  CAST(CAST(list_sum(list_transform(w, x -> len(x))) AS BIGINT) AS DOUBLE) / len(w) AS mean_word_len,
       |  CAST(len(list_intersect(list_distinct(w), [${RuleStopwords.map(s => s"'$s'").mkString(", ")}])) AS BIGINT) AS n_stopwords,
       |  CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE) / len(w) AS alpha_ratio
       |FROM s),
       |f AS (SELECT *,
       |  n_words BETWEEN $minWords AND $maxWords AS word_count_ok,
       |  mean_word_len BETWEEN 3.0 AND 10.0 AS mean_len_ok,
       |  n_stopwords >= 2 AS stopwords_ok,
       |  alpha_ratio >= 0.8 AS alpha_ok
       |FROM m)
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(CAST(NOT word_count_ok AS INT)) AS BIGINT) AS n_word_count_fail,
       |  CAST(SUM(CAST(NOT mean_len_ok AS INT)) AS BIGINT) AS n_mean_len_fail,
       |  CAST(SUM(CAST(NOT stopwords_ok AS INT)) AS BIGINT) AS n_stopword_fail,
       |  CAST(SUM(CAST(NOT alpha_ok AS INT)) AS BIGINT) AS n_alpha_fail,
       |  CAST(SUM(CAST((word_count_ok AND mean_len_ok AND stopwords_ok AND alpha_ok) AS INT)) AS BIGINT) AS n_kept
       |FROM f GROUP BY 1 ORDER BY source""".stripMargin

  /** DuckDB twin of [[repetitionStats]]. */
  val repetitionStatsSql: String =
    raw"""WITH tk AS (
       |  SELECT doc_id, ${toksSql()} AS w FROM documents),
       |bg AS (
       |  SELECT doc_id, unnest(list_transform(
       |    generate_series(1, len(w) - 1),
       |    i -> w[i] || ' ' || w[i + 1])) AS bigram
       |  FROM tk),
       |bc AS (SELECT doc_id, bigram, COUNT(*) AS cnt FROM bg GROUP BY 1, 2),
       |bs AS (SELECT doc_id,
       |  CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
       |  CAST(MAX(cnt) AS BIGINT) AS top_bigram_n,
       |  CAST(COALESCE(SUM(CASE WHEN cnt > 1 THEN cnt END), 0) AS BIGINT) AS dup_bigram_occ
       |  FROM bc GROUP BY 1)
       |SELECT t.doc_id,
       |  CAST(len(w) AS BIGINT) AS n_tokens,
       |  CAST(len(list_distinct(w)) AS BIGINT) AS distinct_tokens,
       |  CAST(len(w) - len(list_distinct(w)) AS DOUBLE) / len(w) AS dup_token_frac,
       |  bs.n_bigrams, bs.top_bigram_n,
       |  CAST(bs.top_bigram_n AS DOUBLE) / bs.n_bigrams AS top_bigram_frac,
       |  CAST(bs.dup_bigram_occ AS DOUBLE) / bs.n_bigrams AS dup_bigram_frac
       |FROM tk t LEFT JOIN bs USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** Pattern redaction — the scrub-before-training pass (PII masking,
    * number normalization). Pure narrow regexp column algebra; the
    * pattern here masks digit runs (the only sensitive-shaped content in
    * the synthetic feed — swap the regex for email/phone/SSN patterns on
    * a real corpus; the mechanics are identical). Returns the redacted
    * text plus the per-row match count that an audit/DQ report needs.
    */
  def redactDigits(df: DataFrame, column: String): DataFrame =
    df.select(
      col("event_id"),
      col(column).as("original"),
      regexp_replace(col(column), "[0-9]+", "#").as("redacted"),
      regexp_count(col(column), lit("[0-9]+")).cast("long").as("n_redacted"))
      .orderBy("event_id")

  def redactDigitsSql(column: String): String =
    s"""SELECT event_id, $column AS original,
       |  regexp_replace($column, '[0-9]+', '#', 'g') AS redacted,
       |  CAST(len(regexp_extract_all($column, '[0-9]+')) AS BIGINT) AS n_redacted
       |FROM events ORDER BY event_id""".stripMargin

  /** Mechanical text normalization — the C4-style cleanup every web
    * corpus passes through before any scoring or dedup (so that "same
    * text, different mojibake" hashes identically downstream):
    * typographic quotes/dashes → ASCII, control + zero-width characters
    * and NBSP → space, whitespace runs collapsed, edges trimmed. Pure
    * narrow per-row regexp chains (codegen'd `regexp_replace`, zero
    * shuffle); patterns are literal character classes that mean the same
    * thing in Java regex and RE2, so the DuckDB twin is exact.
    */
  def normalizeText(documents: DataFrame): DataFrame = {
    val quotes = regexp_replace(
      regexp_replace(col("text"), "[\u2018\u2019]", "'"), "[\u201C\u201D]", "\"")
    val dashes = regexp_replace(quotes, "[\u2013\u2014]", "-")
    val ctrl = regexp_replace(
      dashes,
      "[\\x00-\\x1F\\x7F\u00A0\u200B-\u200D\uFEFF]", " ")
    val collapsed = trim(regexp_replace(ctrl, " +", " "))
    documents.select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars_raw"),
      collapsed.as("clean_text"),
      length(collapsed).cast("long").as("n_chars_clean"),
      (collapsed =!= col("text")).as("changed"))
      .orderBy("doc_id")
  }

  val normalizeTextSql: String =
    raw"""WITH n AS (
       |  SELECT doc_id, text,
       |    trim(regexp_replace(
       |      regexp_replace(
       |        regexp_replace(
       |          regexp_replace(
       |            regexp_replace(text, '[\x{2018}\x{2019}]', '''', 'g'),
       |          '[\x{201C}\x{201D}]', '"', 'g'),
       |        '[\x{2013}\x{2014}]', '-', 'g'),
       |      '[\x00-\x1F\x7F\x{00A0}\x{200B}-\x{200D}\x{FEFF}]', ' ', 'g'),
       |    ' +', ' ', 'g')) AS clean_text
       |  FROM documents)
       |SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_raw, clean_text,
       |  CAST(length(clean_text) AS BIGINT) AS n_chars_clean,
       |  clean_text <> text AS changed
       |FROM n ORDER BY doc_id""".stripMargin


}
