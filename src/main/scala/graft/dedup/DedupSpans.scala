package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.text.TextOps

/** Span layer: positioned shingles, span-level boilerplate scrub, corpus accounting, end-to-end curation, exact duplicate-span (ExactSubstr-style) dedup.
  * Split out of the former Dedup.scala monolith (r16) with zero
  * behavior change; mixed into [[Dedup]].
  */
private[graft] trait DedupSpans extends DedupIncremental {
  /** [[shingles]] with the 1-based token position each shingle starts at
    * (shingle i covers tokens i..i+2) — the positional lineage span-level
    * scrubbing needs that plain shingles discard.
    */
  def positionedShingles(documents: DataFrame): DataFrame =
    documents
      .withColumn("w", TextOps.toks(col("text")))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(w) - 2), i -> struct(i AS i, concat_ws(' ', w[i-1], w[i], w[i+1]) AS shingle))"))
        .as("s"))
      .select(col("doc_id"), col("s.i").as("i"), col("s.shingle").as("shingle"))

  /** Span-level boilerplate REMOVAL — the curation step after
    * [[duplicateShingles]]'s report: rewrite every document with the
    * tokens covered by any cross-document duplicated 3-gram stripped out
    * (site chrome, license headers, template text — the repeated-substring
    * scrub of training corpora, at shingle granularity instead of suffix
    * arrays). A token survives iff NO duplicated shingle covers its
    * position.
    *
    * Scale shape: one aggregation finds the duplicated-shingle set
    * (vocabulary-sized output), one equality join marks the covered
    * shingle starts, one aggregation folds them into a per-doc covered
    * position set (positions-within-doc-sized, never corpus-wide), and
    * the rewrite itself is NARROW per-row list algebra over the token
    * array — no explode of the corpus at reconstruction time. Nothing is
    * all-pairs; everything keys on shingle or doc_id.
    */
  def boilerplateScrub(documents: DataFrame, minDocs: Int = 2): DataFrame = {
    val st = positionedShingles(documents)
    val dup = st.groupBy("shingle")
      .agg(countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select("shingle")
    // covered positions = union of [i, i+2] over duplicated-shingle starts
    rebuild(documents, coverage(st.join(dup, "shingle"), "i", "i + 2"))
      // r18 (guide §1.2): the reconstruction projection is the expensive
      // leg and sits map-side under the final sort — materialize it once
      // so the range sampler (and curateCorpus's window on top) read a
      // leaf instead of re-running the rewrite
      .localCheckpoint()
      .orderBy("doc_id")
  }

  /** DuckDB twin of [[boilerplateScrub]] (string_agg reconstruction). */
  def boilerplateScrubSql(minDocs: Int = 2): String =
    raw"""WITH $RAW_SHINGLES_CTE,
       |stp AS (SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle, i
       |        FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i FROM toks)),
       |dup AS (SELECT shingle FROM stp GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= $minDocs),
       |cov AS (SELECT DISTINCT stp.doc_id, stp.i + d.d AS p
       |        FROM stp JOIN dup USING (shingle)
       |        CROSS JOIN (SELECT unnest([0, 1, 2]) AS d) d),
       |$REBUILD_SQL""".stripMargin

  /** SQL twin of [[rebuild]]: the tail after a `toks` (doc_id, w) CTE
    * and a `cov` (doc_id, p) CTE of distinct covered positions — per-doc
    * removed counts, uncovered tokens re-joined in order (COALESCE('')
    * matches Spark's empty-array → '' join for fully-scrubbed docs).
    */
  private val REBUILD_SQL =
    """covn AS (SELECT doc_id, COUNT(*) AS n_removed FROM cov GROUP BY 1),
      |pos AS (SELECT doc_id, w, unnest(generate_series(1, len(w))) AS p FROM toks),
      |kept AS (SELECT pos.doc_id, pos.p, pos.w[pos.p] AS tok
      |         FROM pos LEFT JOIN cov ON pos.doc_id = cov.doc_id AND pos.p = cov.p
      |         WHERE cov.p IS NULL),
      |cleaned AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS cleaned_text
      |            FROM kept GROUP BY 1)
      |SELECT t.doc_id, CAST(len(t.w) AS BIGINT) AS n_toks,
      |  CAST(COALESCE(c.n_removed, 0) AS BIGINT) AS n_removed,
      |  CAST(len(t.w) - COALESCE(c.n_removed, 0) AS BIGINT) AS n_kept,
      |  COALESCE(cl.cleaned_text, '') AS cleaned_text
      |FROM toks t
      |LEFT JOIN covn c USING (doc_id)
      |LEFT JOIN cleaned cl USING (doc_id)
      |ORDER BY t.doc_id""".stripMargin

  /** Headline corpus accounting — the one-row report a curation run
    * prints before/after shipping: document and token mass, how much of
    * it exact dedup removes, and how much survives the quality floor and
    * language allowlist. All counts reduce map-side (two aggregations
    * over one scan lineage: per-doc flags first, then the global fold);
    * the output is 1 row regardless of corpus size.
    */
  def corpusStats(
      documents: DataFrame, minQuality: Double = 0.2,
      langs: Seq[String] = Seq("en")): DataFrame = {
    val scores = TextOps.langScoreCols(col("text"))
    documents
      .withColumn("rn", firstByContent)
      .select(
        col("doc_id") +:
          size(TextOps.toks(col("text"))).cast("long").as("n_toks") +:
          (col("rn") === 1).as("is_rep") +:
          (TextOps.qualityScore(col("text")) >= minQuality).as("q_ok") +:
          scores.map { case (n, c) => c.cast("long").as("__" + n) }: _*)
      .withColumn("lang_ok",
        TextOps.langCaseFromScores("__").isInCollection(langs))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("n_tokens"),
        sum(when(col("is_rep"), 1L).otherwise(0L)).as("n_unique_docs"),
        sum(when(col("is_rep"), col("n_toks")).otherwise(0L)).as("unique_token_mass"),
        sum(when(col("is_rep") && col("q_ok") && col("lang_ok"), 1L).otherwise(0L))
          .as("n_shippable_docs"),
        sum(when(col("is_rep") && col("q_ok") && col("lang_ok"), col("n_toks"))
          .otherwise(0L)).as("shippable_token_mass"))
      .withColumn("dedup_savings_pct",
        lit(100.0) * (col("n_tokens") - col("unique_token_mass")) / col("n_tokens"))
  }

  def corpusStatsSql(
      minQuality: Double = 0.2, langs: Seq[String] = Seq("en")): String = {
    val langList = langs.map(l => s"'$l'").mkString(", ")
    raw"""WITH d AS (
       |  SELECT doc_id, text,
       |    CAST(len(${TextOps.toksSql()}) AS BIGINT) AS n_toks,
       |    $FIRST_BY_CONTENT_SQL = 1 AS is_rep
       |  FROM documents),
       |f AS (
       |  SELECT doc_id, n_toks, is_rep,
       |    (${TextOps.qualityScoreSqlExpr}) >= $minQuality AS q_ok,
       |    ${TextOps.langScoreColsSql}
       |  FROM d),
       |h AS (
       |  SELECT doc_id, n_toks, is_rep, q_ok,
       |    (${TextOps.langCaseSql}) IN ($langList) AS lang_ok
       |  FROM f),
       |g AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
       |    CAST(SUM(CASE WHEN is_rep THEN 1 ELSE 0 END) AS BIGINT) AS n_unique_docs,
       |    CAST(SUM(CASE WHEN is_rep THEN n_toks ELSE 0 END) AS BIGINT) AS unique_token_mass,
       |    CAST(SUM(CASE WHEN is_rep AND q_ok AND lang_ok THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_shippable_docs,
       |    CAST(SUM(CASE WHEN is_rep AND q_ok AND lang_ok THEN n_toks ELSE 0 END) AS BIGINT)
       |      AS shippable_token_mass
       |  FROM h)
       |SELECT *, 100.0 * (n_tokens - unique_token_mass) / n_tokens AS dedup_savings_pct
       |FROM g""".stripMargin
  }

  /** The full curation pass, end to end in ONE declarative chain:
    * boilerplate-span scrub → minimum-surviving-length floor → exact
    * dedup of the CLEANED text (scrubbing can make near-copies exact —
    * dedup after scrub catches what dedup before it would miss) →
    * quality floor and language allowlist scored on the cleaned text.
    * This is the composition a reference-engine user actually ships:
    * every stage is one of this library's audited operators, fused by
    * Catalyst into a single plan — no intermediate materialization, and
    * the whole chain keeps the per-stage scale shapes (shingle-keyed
    * joins, one dedup window partitioned by content hash, narrow
    * scoring).
    */
  def curateCorpus(
      documents: DataFrame, minQuality: Double = 0.2,
      langs: Seq[String] = Seq("en"), minTokens: Int = 5,
      minDocs: Int = 2): DataFrame = {
    val cleaned = boilerplateScrub(documents, minDocs)
      .filter(col("n_kept") >= minTokens)
      .join(documents.select(col("doc_id"), col("source")), Seq("doc_id"))
      .select(col("doc_id"), col("cleaned_text").as("text"), col("source"))
    scoredKeepFirst(cleaned, Seq("source"), minQuality, langs)
  }

  /** DuckDB twin of [[curateCorpus]] — the scrub oracle nested as a CTE,
    * then the same dedup window / scoring / filters over the cleaned
    * text.
    */
  def curateCorpusSql(
      minQuality: Double = 0.2, langs: Seq[String] = Seq("en"),
      minTokens: Int = 5, minDocs: Int = 2): String = {
    raw"""WITH scrub AS (${boilerplateScrubSql(minDocs)}),
       |cl AS (
       |  SELECT s.doc_id, s.cleaned_text AS text, d.source
       |  FROM scrub s JOIN documents d USING (doc_id)
       |  WHERE s.n_kept >= $minTokens),
       |${scoredKeepFirstSql("cl", "source", minQuality, langs)}""".stripMargin
  }

  // ---- exact duplicate-SPAN dedup (substring-level, keep-first) -----

  /** Removable span starts — every occurrence of a duplicated n-gram
    * EXCEPT the corpus-first one, first = (doc_id, position)
    * lexicographic. The rank window runs per gram hash over
    * occurrence-count-sized groups; the gram-keyed shuffle is the
    * inherent cost of substring-level dedup at any scale.
    */
  private[dedup] def removableStarts(documents: DataFrame, n: Int): DataFrame = {
    val w = Window.partitionBy("h").orderBy("doc_id", "i")
    spanStarts(documents, n)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") > 1)
      .select("doc_id", "i")
  }

  private[dedup] def spanStartsSqlCtes(n: Int): String =
    raw"""${gramHashSqlCtes(n)},
       |rem AS (SELECT doc_id, i FROM (
       |          SELECT doc_id, i,
       |            ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, i) AS rn
       |          FROM gs) WHERE rn > 1)""".stripMargin

  /** Substring-level exact dedup — the published span-dedup pass for
    * LLM training corpora: every n-token span that occurs more than
    * once in the corpus keeps exactly its FIRST occurrence; all later
    * occurrences' token positions (union of [i, i+n−1] over removable
    * starts) are scrubbed from their documents. Contrast
    * [[boilerplateScrub]], which removes high-df template shingles from
    * EVERY document — here one copy of each duplicated passage always
    * survives, so no corpus content is lost, only repetition.
    */
  def dupSpanScrub(documents: DataFrame, n: Int = 8): DataFrame =
    rebuild(documents, coverage(removableStarts(documents, n), "i", s"i + ${n - 1}"))
      .orderBy("doc_id")

  /** Per-doc covered position sets: the union of [`start`, `end`] over
    * the spans of `spans`; collect_set dedups overlapping spans inside
    * the aggregation buffers.
    */
  private def coverage(spans: DataFrame, start: String, end: String): DataFrame =
    spans.select(col("doc_id"), explode(expr(s"sequence($start, $end)")).as("p"))
      .groupBy("doc_id")
      .agg(collect_set(col("p")).as("cov"))

  /** The one scrub rewrite: documents joined to their per-doc covered
    * position sets ([[coverage]]), uncovered tokens re-joined in order.
    * Unordered — each caller places its own cut and sort.
    */
  private def rebuild(documents: DataFrame, cov: DataFrame): DataFrame =
    documents.select(col("doc_id"), TextOps.toks(col("text")).as("w"))
      .join(cov, Seq("doc_id"), "left")
      .withColumn("cov", coalesce(col("cov"), expr("CAST(array() AS ARRAY<INT>)")))
      .select(
        col("doc_id"),
        size(col("w")).cast("long").as("n_toks"),
        size(col("cov")).cast("long").as("n_removed"),
        (size(col("w")) - size(col("cov"))).cast("long").as("n_kept"),
        expr("""array_join(
                 filter(
                   transform(sequence(1, size(w)),
                     p -> IF(array_contains(cov, p), CAST(NULL AS STRING), element_at(w, p))),
                   t -> t IS NOT NULL), ' ')""").as("cleaned_text"))

  /** [[dupSpanScrub]] at the PUBLISHED ExactSubstr operating point (r15,
    * VERDICT item 5): overlapping duplicated n-grams merge into MAXIMAL
    * spans first ([[dupSpanReport]]'s gaps-and-islands), and only spans
    * of at least `minLen` tokens are scrubbed — short incidental
    * repeats (a 49-token quote at the default threshold) survive, long
    * verbatim duplication (50+) is removed keep-first. The island merge
    * runs per (doc, ordered starts) — the same gram-keyed shuffle as the
    * base scrub, plus one doc-keyed window over removable starts.
    */
  def dupSpanScrubMinLen(
      documents: DataFrame, n: Int = 8, minLen: Int = 50): DataFrame = {
    val spans = spanIslands(documents, n)
      .filter(col("span_end") - col("span_start") + 1 >= minLen)
    rebuild(documents, coverage(spans, "span_start", "span_end")).orderBy("doc_id")
  }

  /** The island merge behind [[dupSpanReport]] and
    * [[dupSpanScrubMinLen]] (gaps-and-islands: a removable start extends
    * the current span iff it begins within n tokens of the previous
    * start — interval overlap or adjacency): one row per maximal span,
    * (doc_id, span_start, span_end, n_starts), unordered.
    */
  private def spanIslands(documents: DataFrame, n: Int): DataFrame = {
    val wD = Window.partitionBy("doc_id").orderBy("i")
    val lagI = lag(col("i"), 1).over(wD)
    removableStarts(documents, n)
      .withColumn("brk",
        when(lagI.isNull || col("i") > lagI + n, 1L).otherwise(0L))
      .withColumn("island",
        sum(col("brk")).over(wD.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "island")
      .agg(
        min("i").as("span_start"),
        (max(col("i")) + (n - 1)).as("span_end"),
        count(lit(1)).as("n_starts"))
  }

  /** SQL twin of [[spanIslands]]'s window steps over the `rem` CTE:
    * `brks` (break flags) and `isl` (running island id).
    */
  private def islandsSqlCtes(n: Int): String =
    raw"""brks AS (SELECT doc_id, i,
       |           CASE WHEN lag(i) OVER (PARTITION BY doc_id ORDER BY i) IS NULL
       |                  OR i > lag(i) OVER (PARTITION BY doc_id ORDER BY i) + $n
       |                THEN 1 ELSE 0 END AS brk
       |         FROM rem),
       |isl AS (SELECT doc_id, i,
       |          SUM(brk) OVER (PARTITION BY doc_id ORDER BY i
       |                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
       |        FROM brks)""".stripMargin

  /** DuckDB twin of [[dupSpanScrubMinLen]]: the shared span-start CTEs,
    * the report's island merge with a HAVING length floor, per-span
    * position fan-out, and the same uncovered-token rejoin.
    */
  def dupSpanScrubMinLenSql(n: Int = 8, minLen: Int = 50): String =
    raw"""WITH ${spanStartsSqlCtes(n)},
       |${islandsSqlCtes(n)},
       |spans AS (SELECT doc_id, MIN(i) AS s, MAX(i) + ${n - 1} AS e
       |          FROM isl GROUP BY doc_id, island
       |          HAVING MAX(i) + ${n - 1} - MIN(i) + 1 >= $minLen),
       |cov AS (SELECT DISTINCT doc_id, p FROM (
       |          SELECT doc_id, unnest(generate_series(s, e)) AS p FROM spans)),
       |$REBUILD_SQL""".stripMargin

  def dupSpanScrubSql(n: Int = 8): String =
    raw"""WITH ${spanStartsSqlCtes(n)},
       |cov AS (SELECT DISTINCT rem.doc_id, rem.i + d.d AS p
       |        FROM rem CROSS JOIN (SELECT unnest(generate_series(0, ${n - 1})) AS d) d),
       |$REBUILD_SQL""".stripMargin

  /** The maximal duplicated spans behind [[dupSpanScrub]], merged per
    * document by [[spanIslands]]. The audit view: where the repeated
    * passages sit and how long they run.
    */
  def dupSpanReport(documents: DataFrame, n: Int = 8): DataFrame =
    spanIslands(documents, n)
      .select("doc_id", "span_start", "span_end", "n_starts")
      .orderBy("doc_id", "span_start")

  def dupSpanReportSql(n: Int = 8): String =
    raw"""WITH ${spanStartsSqlCtes(n)},
       |${islandsSqlCtes(n)}
       |SELECT doc_id, MIN(i) AS span_start, MAX(i) + ${n - 1} AS span_end,
       |  CAST(COUNT(*) AS BIGINT) AS n_starts
       |FROM isl GROUP BY doc_id, island
       |ORDER BY doc_id, span_start""".stripMargin
}
