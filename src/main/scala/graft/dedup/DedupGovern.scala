package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.text.TextOps

/** Governance layer: per-source reports, token-budget caps, cross-source overlap, the shipped corpus filter, boilerplate hotspots, near-dedup keep lists.
  * Split out of the former Dedup.scala monolith (r16) with zero
  * behavior change; mixed into [[Dedup]].
  */
private[graft] trait DedupGovern extends DedupClusters {
  /** Per-source corpus governance report — the one-row-per-source
    * dashboard a data platform publishes before a training run: document
    * count, exact-duplicate exposure (docs whose content hash occurs ≥2
    * anywhere in the corpus), near-duplicate exposure (docs in a
    * transitive near-dup cluster of size ≥2 — the supplied labels, i.e.
    * maintained state, not a recompute), language spread, rounded-mean
    * quality, and total whitespace-token volume. Quality doubles go
    * through round(·, 6) before the decimal-exact mean — the
    * cross-engine-safe summation contract (see Verify notes).
    *
    * Scale shape: one content-hash aggregation + one hash join back
    * (both on the corpus, the unavoidable exact-dup pass), a doc_id join
    * against the label state, and one per-source rollup. No text ever
    * shuffles — hashes, labels, and per-doc scalars do.
    */
  def sourceGovernanceReport(documents: DataFrame, labels: DataFrame): DataFrame = {
    import graft.functions.Cols.detAvg
    val perDoc = documents.select(
      col("doc_id"), col("source"), col("lang"),
      md5(col("text")).as("h"),
      round(TextOps.qualityScore(col("text")), 6).as("q"),
      size(TextOps.toks(col("text"))).cast("long").as("toks"))
    val hashCounts = perDoc.groupBy("h").agg(count(lit(1)).as("h_count"))
    perDoc
      .join(hashCounts, Seq("h"))
      .join(labels.select("doc_id", "cluster_size"), Seq("doc_id"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("h_count") >= 2, 1).otherwise(0)).as("n_exact_dup_docs"),
        sum(when(col("cluster_size") >= 2, 1).otherwise(0)).as("n_near_dup_docs"),
        countDistinct(col("lang")).as("n_langs"),
        detAvg(col("q")).as("avg_quality"),
        sum(col("toks")).as("total_ws_tokens"))
      .orderBy("source")
  }

  /** DuckDB twin of [[sourceGovernanceReport]] (cluster closure nested). */
  val sourceGovernanceReportSql: String =
    s"WITH cl AS (SELECT doc_id, cluster_size FROM ($dedupClustersSql)),\n" +
      raw"""per AS (
        |  SELECT doc_id, source, lang, md5(text) AS h,
        |    round(${TextOps.qualityScoreSqlExpr}, 6) AS q,
        |    CAST(len(${TextOps.toksSql()}) AS BIGINT) AS toks
        |  FROM documents),
        |hc AS (SELECT h, COUNT(*) AS h_count FROM per GROUP BY 1)
        |SELECT per.source,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN hc.h_count >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dup_docs,
        |  CAST(SUM(CASE WHEN cl.cluster_size >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_near_dup_docs,
        |  COUNT(DISTINCT per.lang) AS n_langs,
        |  CAST(SUM(CAST(per.q AS DECIMAL(28,6))) AS DOUBLE) / COUNT(per.q) AS avg_quality,
        |  CAST(SUM(per.toks) AS BIGINT) AS total_ws_tokens
        |FROM per JOIN hc USING (h) JOIN cl USING (doc_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin

  /** The ACTING half of [[sourceGovernanceReport]] — the weekly curation
    * pass a training-data platform runs off the report: a global token
    * budget is split into per-source quotas proportional to each
    * source's CLEAN token volume (tokens of its near-dup-cluster
    * best-quality representatives — the same maintained labels the
    * report reads, so exact/near-dup exposure never buys budget), and
    * each source then keeps its highest-quality representatives in
    * (quality DESC, doc_id) order until its quota is spent. One plan:
    * diagnose → quota → enforce.
    *
    * Determinism/cross-engine: quotas are pure BIGINT arithmetic
    * (budget × src_toks ÷ total, floor — no doubles), the within-source
    * running total is an integer window sum over a total order
    * (quality, doc_id), and quality rides the same score expression
    * every other oracle proves exact.
    *
    * Scale shape: representatives come from the label state (no text
    * shuffles beyond the per-doc score projection), the quota table is
    * |sources|-sized (broadcast), and the enforcement window partitions
    * by source. A corpus dominated by ONE source would skew that
    * window; the two-pass distributed prefix sum
    * ([[graft.rel.Scale.prefixSumShards]]) is the drop-in replacement
    * per source at that point — the cut rule is unchanged.
    */
  def governedCap(
      documents: DataFrame, labels: DataFrame,
      budgetTokens: Long = 100000L): DataFrame = {
    // ONE per-doc projection carries quality AND tokens, so the corpus
    // shuffles onto doc_id once — the [[clusterBestKeepFrom]] rule is
    // inlined over it rather than composed (composition would scan and
    // shuffle documents a second time just to re-attach source/n_toks)
    val perDoc = documents.select(col("doc_id"), col("source"),
      TextOps.qualityScore(col("text")).as("quality_score"),
      size(TextOps.toks(col("text"))).cast("long").as("n_toks"))
    val wk = Window.partitionBy("cluster_id")
      .orderBy(col("quality_score").desc, col("doc_id"))
    val eligible = labels.select("doc_id", "cluster_id")
      .join(perDoc, Seq("doc_id"))
      .withColumn("rn", row_number().over(wk))
      .filter(col("rn") === 1)
      .select("doc_id", "source", "quality_score", "n_toks")
    val srcTot = eligible.groupBy("source").agg(sum("n_toks").as("src_toks"))
    val total = srcTot.agg(sum("src_toks").as("total_toks"))
    val quota = srcTot.crossJoin(broadcast(total))
      .select(col("source"),
        expr(s"CAST(($budgetTokens * src_toks) DIV total_toks AS BIGINT)")
          .as("quota_toks"))
    val w = Window.partitionBy("source")
      .orderBy(col("quality_score").desc, col("doc_id"))
    eligible
      .join(broadcast(quota), Seq("source"))
      .withColumn("cum_toks", sum("n_toks").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("keep_rank", row_number().over(w))
      .filter(col("cum_toks") <= col("quota_toks"))
      .select(col("doc_id"), col("source"),
        round(col("quality_score"), 6).as("quality_score"),
        col("n_toks"), col("cum_toks"), col("quota_toks"),
        col("keep_rank").cast("int").as("keep_rank"))
      .orderBy("doc_id")
  }

  /** DuckDB twin of [[governedCap]] (cluster closure nested, the same
    * best-keep ROW_NUMBER rule as [[clusterBestKeepSql]]).
    */
  def governedCapSql(budgetTokens: Long = 100000L): String =
    s"WITH cl AS (SELECT * FROM ($dedupClustersSql)),\n" +
      raw"""q AS (SELECT doc_id, ${TextOps.qualityScoreSqlExpr} AS qs FROM documents),
        |bk AS (
        |  SELECT cl.doc_id, q.qs,
        |    ROW_NUMBER() OVER (PARTITION BY cl.cluster_id
        |      ORDER BY q.qs DESC, cl.doc_id) AS rn
        |  FROM cl JOIN q USING (doc_id)),
        |el AS (
        |  SELECT bk.doc_id, bk.qs, d.source,
        |    CAST(len(${TextOps.toksSql("d.text")}) AS BIGINT) AS n_toks
        |  FROM bk JOIN documents d USING (doc_id) WHERE bk.rn = 1),
        |st AS (SELECT source, SUM(n_toks) AS src_toks FROM el GROUP BY 1),
        |tt AS (SELECT SUM(src_toks) AS total_toks FROM st),
        |qu AS (SELECT st.source,
        |         CAST(($budgetTokens * st.src_toks) // tt.total_toks AS BIGINT) AS quota_toks
        |       FROM st CROSS JOIN tt),
        |w AS (
        |  SELECT el.*, qu.quota_toks,
        |    CAST(SUM(n_toks) OVER (PARTITION BY el.source ORDER BY el.qs DESC, el.doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_toks,
        |    ROW_NUMBER() OVER (PARTITION BY el.source
        |      ORDER BY el.qs DESC, el.doc_id) AS keep_rank
        |  FROM el JOIN qu USING (source))
        |SELECT doc_id, source, round(qs, 6) AS quality_score, n_toks, cum_toks,
        |  quota_toks, CAST(keep_rank AS INTEGER) AS keep_rank
        |FROM w WHERE cum_toks <= quota_toks ORDER BY doc_id""".stripMargin

  /** Cross-source near-duplicate overlap matrix — the curation
    * diagnostic that tells you WHICH sources copy from each other
    * (mirrors, scrapes of the same upstream, license-text commons):
    * count of near-dup pairs per unordered source pair, including the
    * within-source diagonal. Composes [[dedupClusters]], but never
    * materializes a doc pair: the cluster membership collapses to
    * per-(cluster, source) COUNTS first, and pair counts fall out of
    * combinatorics — `n_a · n_b` across two sources, `n·(n-1)/2` on the
    * diagonal. The self-join therefore runs on the count table
    * (|clusters| × |sources| rows), so a degenerate mega-cluster — one
    * boilerplate string shared by 10⁶ docs — costs one aggregation row
    * instead of 10¹² join rows. Output is |sources|²-sized (tiny). Runs
    * over an EXISTING label frame (see [[nearDedupKeepFrom]] for the
    * amortization contract).
    */
  def sourceOverlapFrom(labels: DataFrame, documents: DataFrame): DataFrame = {
    val counts = labels
      .filter(col("cluster_size") > 1)
      .join(documents.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("cluster_id"), col("source"))
      .agg(count(lit(1)).as("n"))
    val a = counts.select(col("cluster_id"), col("source").as("source_x"), col("n").as("na"))
    val b = counts.select(col("cluster_id"), col("source").as("source_y"), col("n").as("nb"))
    a.join(b, Seq("cluster_id"))
      .filter(col("source_x") <= col("source_y"))
      // n·(n-1) is even and cluster counts are far below 2^52, so the
      // double division is exact; cast restores the BIGINT contract
      .select(col("source_x"), col("source_y"),
        when(col("source_x") === col("source_y"),
          (col("na") * (col("na") - 1) / 2).cast("long"))
          .otherwise(col("na") * col("nb")).as("pairs"))
      // a single doc of a source inside a cluster contributes no
      // within-source pair — drop the 0 rows the pair join never emitted
      .filter(col("pairs") > 0)
      .groupBy("source_x", "source_y")
      .agg(sum("pairs").as("n_pairs"))
      .orderBy("source_x", "source_y")
  }

  val sourceOverlapSql: String =
    s"""WITH RECURSIVE $CLOSURE_CTES,
       |m AS (
       |  SELECT l.doc_id, l.cluster_id, d.source
       |  FROM lab l JOIN cs USING (cluster_id) JOIN documents d USING (doc_id)
       |  WHERE cs.cluster_size > 1)
       |SELECT LEAST(a.source, b.source) AS source_x,
       |  GREATEST(a.source, b.source) AS source_y,
       |  CAST(COUNT(*) AS BIGINT) AS n_pairs
       |FROM m a JOIN m b ON a.cluster_id = b.cluster_id AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** The shipped corpus filter — the end-to-end composition a
    * training-data run applies before tokenization: one representative
    * per distinct content (min doc_id wins), a quality floor, a language
    * allowlist. Shape at scale: one window over the content hash plus one
    * narrow codegen'd projection (the quality and language scores are
    * shared Column expressions, not re-joined stages), so the whole
    * filter is a single shuffle regardless of corpus size.
    */
  def corpusFilter(
      documents: DataFrame, minQuality: Double = 0.2,
      langs: Seq[String] = Seq("en")): DataFrame =
    scoredKeepFirst(documents, Seq("source", "n_chars"), minQuality, langs)

  /** The scored keep-first tail of [[corpusFilter]] and
    * [[graft.dedup.Dedup.curateCorpus]] over `docs` (doc_id, text and the
    * `carry` columns): the [[firstByContent]] representative, its token
    * count and quality score, kept when it clears the quality floor and
    * the language allowlist.
    */
  private[dedup] def scoredKeepFirst(
      docs: DataFrame, carry: Seq[String], minQuality: Double,
      langs: Seq[String]): DataFrame = {
    val scores = TextOps.langScoreCols(col("text"))
    // every text-derived value materializes in ONE projection BELOW the
    // dedup window: the filter above then references plain attributes,
    // which predicate pushdown cannot substitute past a Window keyed on
    // another column — without this, the optimizer inlines the score
    // trees back into the Filter and every regex count evaluates two to
    // three times per row (and, pre-factoring, overflowed Janino's
    // method limit entirely — see TextOps.langScoreCols)
    docs
      .select(
        (col("doc_id") +: col("text") +: carry.map(col)) ++
          (size(TextOps.toks(col("text"))).cast("long").as("n_tokens") +:
            TextOps.qualityScore(col("text")).as("quality_score") +:
            scores.map { case (n, c) => c.cast("long").as("__" + n) }): _*)
      .withColumn("rn", firstByContent)
      .withColumn("predicted_lang", TextOps.langCaseFromScores("__"))
      .filter(col("rn") === 1 && col("quality_score") >= minQuality &&
        col("predicted_lang").isInCollection(langs))
      .drop("text" +: "rn" +: scores.map("__" + _._1): _*)
      .orderBy("doc_id")
  }

  /** DuckDB twin of [[scoredKeepFirst]] over relation `from`: the CTEs
    * and final SELECT that finish a WITH chain. `carry` is the
    * comma-separated column list carried through.
    */
  private[dedup] def scoredKeepFirstSql(
      from: String, carry: String, minQuality: Double, langs: Seq[String]): String = {
    val langList = langs.map(l => s"'$l'").mkString(", ")
    raw"""kept AS (
       |  SELECT doc_id, text, $carry FROM (
       |    SELECT *, $FIRST_BY_CONTENT_SQL AS rn
       |    FROM $from) WHERE rn = 1),
       |sc AS (SELECT doc_id, $carry,
       |  CAST(len(${TextOps.toksSql()}) AS BIGINT) AS n_tokens,
       |  ${TextOps.qualityScoreSqlExpr} AS quality_score,
       |  ${TextOps.langScoreColsSql}
       |FROM kept)
       |SELECT doc_id, $carry, n_tokens, quality_score,
       |  ${TextOps.langCaseSql} AS predicted_lang
       |FROM sc
       |WHERE quality_score >= $minQuality
       |  AND (${TextOps.langCaseSql}) IN ($langList)
       |ORDER BY doc_id""".stripMargin
  }

  /** Boilerplate / duplicated-span hotspot report: the word 3-grams that
    * appear in the most distinct documents (site chrome, license headers,
    * template text — the spans a curation pass strips before training).
    * One explode + one hash aggregation + a bounded TakeOrdered top-k:
    * per-shingle cardinality is what shrinks here, so the aggregate
    * output is vocabulary-sized, not corpus-sized, and the top-k never
    * materializes a global sort. Order is fully deterministic (shingle
    * is unique per group, so the three-key sort has no ties).
    */
  def duplicateShingles(documents: DataFrame, minDocs: Int = 2, topK: Int = 100): DataFrame =
    shingles(documents)
      .groupBy("shingle")
      .agg(
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"))
      .filter(col("n_docs") >= minDocs)
      .orderBy(col("n_docs").desc, col("n_occurrences").desc, col("shingle"))
      .limit(topK)

  def duplicateShinglesSql(minDocs: Int = 2, topK: Int = 100): String =
    s"""WITH $RAW_SHINGLES_CTE
       |SELECT shingle,
       |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |  CAST(COUNT(*) AS BIGINT) AS n_occurrences
       |FROM sh GROUP BY 1
       |HAVING COUNT(DISTINCT doc_id) >= $minDocs
       |ORDER BY n_docs DESC, n_occurrences DESC, shingle
       |LIMIT $topK""".stripMargin

  /** Near-dedup KEEP list — the final artifact of the approximate-dedup
    * pipeline (pairs → transitive clusters → one representative per
    * cluster): the minimum doc_id of each cluster survives, tagged with
    * how many near-duplicates it stands for. Composes
    * [[dedupClusters]]; no extra shuffle beyond it (the representative
    * filter is cluster_id == doc_id on the already-labeled frame).
    * Runs over an EXISTING label frame — the deployment shape (keep
    * lists derive from the maintained cluster state, they don't
    * re-cluster the corpus; the registry's amortization contract, same
    * as `cluster_split_assign`/`cluster_best_keep`).
    */
  def nearDedupKeepFrom(labels: DataFrame): DataFrame =
    labels
      .filter(col("doc_id") === col("cluster_id"))
      .select(col("doc_id"), col("cluster_size"))
      .orderBy("doc_id")

  val nearDedupKeepSql: String =
    s"""WITH RECURSIVE $CLOSURE_CTES
       |SELECT l.doc_id, cs.cluster_size
       |FROM lab l JOIN cs USING (cluster_id)
       |WHERE l.doc_id = l.cluster_id
       |ORDER BY doc_id""".stripMargin

}
