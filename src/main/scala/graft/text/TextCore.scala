package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Core text stats: whitespace tokens, quality score, per-document stats, token counts, marker-based language ID, content fingerprint.
  * Split out of the former TextOps.scala monolith (r16) with zero
  * behavior change; mixed into [[TextOps]].
  */
private[graft] trait TextCore extends Serializable {
  /** Whitespace tokens of the lower-cased, trimmed text. */
  def toks(c: Column): Column = split(trim(lower(c)), "\\s+")

  /** DuckDB twin of [[toks]] over the SQL expression `text`. */
  def toksSql(text: String = "text"): String =
    raw"string_split_regex(trim(lower($text)), '\s+')"

  private[text] def occurrencesChars(padded: Column, marker: String): Column =
    length(padded) - length(regexp_replace(padded, marker, " "))

  private[text] def occurrencesCharsSql(padded: String, marker: String): String =
    s"length($padded) - length(replace($padded, '$marker', ' '))"

  // marker n-grams per language (space-padded so they only match whole
  // words); scores are total characters matched — integer-exact.
  private[text] val Markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq(" the ", " and ", " is "),
    "de" -> Seq(" der ", " und ", " die "),
    "fr" -> Seq(" le ", " et ", " les "),
    "es" -> Seq(" el ", " los ", " y "))

  /** Quality score of a text column, inside [0,1]: rewards length up to
    * 100 tokens and penalizes punctuation/digit-heavy text. Shared by
    * [[textStats]] and the corpus filter so both stages score
    * identically.
    */
  def qualityScore(t: Column): Column = {
    val nChars = length(t)
    val nTokens = size(toks(t))
    val punct = length(t) - length(regexp_replace(t, "[.,!?;:]", ""))
    val digit = length(t) - length(regexp_replace(t, "[0-9]", ""))
    least(lit(1.0), nTokens.cast("double") / 100.0)
      .multiply(lit(1.0) - least(lit(1.0), punct.cast("double") / nChars * 5.0))
      .multiply(lit(1.0) - least(lit(1.0), digit.cast("double") / nChars * 5.0))
  }

  /** DuckDB twin of [[qualityScore]] over a column named `text`. */
  private[graft] val qualityScoreSqlExpr: String =
    raw"""LEAST(1.0, CAST(len(${toksSql()}) AS DOUBLE) / 100.0)
       |    * (1.0 - LEAST(1.0, CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) / length(text) * 5.0))
       |    * (1.0 - LEAST(1.0, CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) / length(text) * 5.0))""".stripMargin

  /** Token/character statistics + a deterministic quality score.
    * Cheap single-pass heuristics (length, punctuation/digit ratios,
    * stopword density) of the kind used to filter web corpora.
    */
  def textStats(documents: DataFrame): DataFrame = {
    val t = col("text")
    val padded = concat(lit(" "), lower(t), lit(" "))
    val nChars = length(t).cast("long")
    val nTokens = size(toks(t)).cast("long")
    val noSpace = length(regexp_replace(trim(t), "\\s+", "")).cast("long")
    val punct = (length(t) - length(regexp_replace(t, "[.,!?;:]", ""))).cast("long")
    val digit = (length(t) - length(regexp_replace(t, "[0-9]", ""))).cast("long")
    val stopChars = occurrencesChars(padded, " the ") + occurrencesChars(padded, " a ") +
      occurrencesChars(padded, " and ")
    documents.select(
      col("doc_id"),
      nTokens.as("n_tokens"),
      nChars.as("n_chars_computed"),
      (noSpace.cast("double") / nTokens).as("avg_token_len"),
      punct.as("punct_count"),
      (punct.cast("double") / nChars).as("punct_ratio"),
      digit.as("digit_count"),
      (digit.cast("double") / nChars).as("digit_ratio"),
      stopChars.cast("long").as("stopword_chars"),
      (stopChars.cast("double") / nChars).as("stopword_density"),
      qualityScore(t).as("quality_score"))
      .orderBy("doc_id")
  }

  val textStatsSql: String = {
    val padded = "(' ' || lower(text) || ' ')"
    val stop = Seq(" the ", " a ", " and ")
      .map(m => s"(${occurrencesCharsSql(padded, m)})").mkString(" + ")
    raw"""SELECT doc_id,
       |  CAST(len(${toksSql()}) AS BIGINT) AS n_tokens,
       |  CAST(length(text) AS BIGINT) AS n_chars_computed,
       |  CAST(length(regexp_replace(trim(text), '\s+', '', 'g')) AS DOUBLE)
       |    / len(${toksSql()}) AS avg_token_len,
       |  CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS punct_count,
       |  CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) / length(text) AS punct_ratio,
       |  CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS digit_count,
       |  CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) / length(text) AS digit_ratio,
       |  CAST($stop AS BIGINT) AS stopword_chars,
       |  CAST($stop AS DOUBLE) / length(text) AS stopword_density,
       |  LEAST(1.0, CAST(len(${toksSql()}) AS DOUBLE) / 100.0)
       |    * (1.0 - LEAST(1.0, CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) / length(text) * 5.0))
       |    * (1.0 - LEAST(1.0, CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) / length(text) * 5.0))
       |    AS quality_score
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** Token counting: whitespace tokens plus a BPE-ish subword proxy —
    * letter runs, single digits, and single other-marks (the
    * pre-tokenization classes BPE vocabularies split on). The regex count
    * is a deterministic, engine-agnostic approximation of tokenizer load
    * (the number a corpus token budget is planned in); chars_per_token is
    * the usual compression diagnostic.
    */
  def tokenCounts(documents: DataFrame): DataFrame = {
    val t = col("text")
    val bpe = regexp_count(t, lit("\\p{L}+|\\p{N}|[^\\s\\p{L}\\p{N}]"))
    documents.select(
      col("doc_id"),
      size(toks(t)).cast("long").as("n_ws_tokens"),
      bpe.cast("long").as("n_bpe_tokens"),
      when(bpe > 0, length(t).cast("double") / bpe).as("chars_per_token"))
      .orderBy("doc_id")
  }

  val tokenCountsSql: String = {
    val bpe = raw"len(regexp_extract_all(text, '\p{L}+|\p{N}|[^\s\p{L}\p{N}]'))"
    raw"""SELECT doc_id,
       |  CAST(len(${toksSql()}) AS BIGINT) AS n_ws_tokens,
       |  CAST($bpe AS BIGINT) AS n_bpe_tokens,
       |  CASE WHEN $bpe > 0 THEN CAST(length(text) AS DOUBLE) / $bpe END AS chars_per_token
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** The marker-score columns behind [[predictedLang]], materialized
    * once: CJK codepoint count plus one summed marker count per
    * language. Use with [[langCaseFromScores]] in a TWO-projection plan
    * instead of the single-expression [[predictedLang]] whenever the
    * prediction feeds a real query: inside the inlined CASE every score
    * sits in a conditional branch, where codegen's subexpression
    * elimination cannot hoist it (branches evaluate lazily), so the
    * generated method repeats every regexp count up to ~8×, exceeds
    * Janino's method limits, and the operator silently falls back to
    * interpreted evaluation with the duplication intact — measured
    * 5-10× on corpus_filter/lang_id at sf0.1. Materializing the five
    * scores as aliases computes each count exactly once
    * (CollapseProject never inlines a non-cheap alias referenced more
    * than once) and the downstream CASE is integer comparisons.
    */
  def langScoreCols(t: Column): Seq[(String, Column)] = {
    val padded = concat(lit(" "), lower(t), lit(" "))
    ("cjk_chars" -> (length(t) - length(regexp_replace(t, "[一-鿿]", "")))) +:
      Markers.map { case (lang, ms) =>
        s"${lang}_score" -> ms.map(m => occurrencesChars(padded, m)).reduceLeft(_ + _)
      }
  }

  /** The [[predictedLang]] decision tree over already-materialized
    * [[langScoreCols]] attributes (optionally name-prefixed).
    */
  def langCaseFromScores(prefix: String = ""): Column = {
    def s(n: String) = col(prefix + n)
    val cjk = s("cjk_chars"); val en = s("en_score"); val de = s("de_score")
    val fr = s("fr_score"); val es = s("es_score")
    when(cjk > 0, "zh")
      .when(de > en && de > fr && de > es, "de")
      .when(fr > en && fr >= de && fr > es, "fr")
      .when(es > en && es >= de && es >= fr, "es")
      .when(en + de + fr + es > 0, "en")
      .otherwise("und")
  }

  /** Predicted language of a text column (fixed-priority decision tree
    * over the marker scores; CJK first via codepoint-range count).
    * Shared single-expression form — semantics reference for specs and
    * for contexts where the value lands in exactly one projection;
    * query plans should prefer [[langScoreCols]] + [[langCaseFromScores]]
    * (see the codegen note there).
    */
  def predictedLang(t: Column): Column = {
    val padded = concat(lit(" "), lower(t), lit(" "))
    val cjk = length(t) - length(regexp_replace(t, "[一-鿿]", ""))
    val scores = Markers.map { case (lang, ms) =>
      lang -> ms.map(m => occurrencesChars(padded, m)).reduceLeft(_ + _)
    }.toMap
    val en = scores("en"); val de = scores("de"); val fr = scores("fr"); val es = scores("es")
    when(cjk > 0, "zh")
      .when(de > en && de > fr && de > es, "de")
      .when(fr > en && fr >= de && fr > es, "fr")
      .when(es > en && es >= de && es >= fr, "es")
      .when(en + de + fr + es > 0, "en")
      .otherwise("und")
  }

  /** DuckDB twins of [[predictedLang]]: the score projections (over a
    * column named `text`) and the decision CASE (over the score names).
    */
  private[graft] val langScoreColsSql: String = {
    val padded = "(' ' || lower(text) || ' ')"
    def sc(lang: String) = Markers.toMap.apply(lang)
      .map(m => s"(${occurrencesCharsSql(padded, m)})").mkString(" + ")
    s"""CAST(length(text) - length(regexp_replace(text, '[一-鿿]', '', 'g')) AS BIGINT) AS cjk_chars,
       |  CAST(${sc("en")} AS BIGINT) AS en_score,
       |  CAST(${sc("de")} AS BIGINT) AS de_score,
       |  CAST(${sc("fr")} AS BIGINT) AS fr_score,
       |  CAST(${sc("es")} AS BIGINT) AS es_score""".stripMargin
  }

  private[graft] val langCaseSql: String =
    """CASE WHEN cjk_chars > 0 THEN 'zh'
      |       WHEN de_score > en_score AND de_score > fr_score AND de_score > es_score THEN 'de'
      |       WHEN fr_score > en_score AND fr_score >= de_score AND fr_score > es_score THEN 'fr'
      |       WHEN es_score > en_score AND es_score >= de_score AND es_score >= fr_score THEN 'es'
      |       WHEN en_score + de_score + fr_score + es_score > 0 THEN 'en'
      |       ELSE 'und' END""".stripMargin

  /** Marker-word language identification (fixed-priority decision tree;
    * CJK detection first via codepoint-range count). The testdata's `lang`
    * labels are synthetic — the prediction is compared for determinism,
    * not accuracy.
    */
  def languageId(documents: DataFrame): DataFrame = {
    documents.select(
      col("doc_id") +: col("lang") +:
        langScoreCols(col("text")).map { case (n, c) => c.cast("long").as(n) }: _*)
      .withColumn("predicted_lang", langCaseFromScores())
      .withColumn("is_match", (col("predicted_lang") === col("lang")).cast("boolean"))
      .orderBy("doc_id")
  }

  val languageIdSql: String =
    s"""WITH s AS (SELECT doc_id, lang,
       |  $langScoreColsSql
       |FROM documents)
       |SELECT doc_id, lang, cjk_chars, en_score, de_score, fr_score, es_score,
       |  $langCaseSql AS predicted_lang,
       |  ($langCaseSql) = lang AS is_match
       |FROM s ORDER BY doc_id""".stripMargin

  /** Content fingerprint: md5 of whitespace-normalized lower-cased text
    * (plus a short prefix for bucketing/sharding).
    */
  def fingerprint(documents: DataFrame): DataFrame = {
    val norm = regexp_replace(lower(trim(col("text"))), "\\s+", " ")
    documents.select(
      col("doc_id"),
      md5(norm).as("fingerprint"),
      substring(md5(norm), 1, 8).as("fp_prefix"))
      .orderBy("doc_id")
  }

  val fingerprintSql: String =
    """SELECT doc_id,
      |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint,
      |  substr(md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')), 1, 8) AS fp_prefix
      |FROM documents ORDER BY doc_id""".stripMargin
}
