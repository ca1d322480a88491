package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-shaping layer: CCNet perplexity buckets, repetition stats, chunking, sequence packing, domain/temperature mixtures, source KL, n-gram diversity.
  * Split out of the former TextOps.scala monolith (r16) with zero
  * behavior change; mixed into [[TextOps]].
  */
private[graft] trait TextMixtures extends TextRank {
  def ccnetBuckets(documents: DataFrame): DataFrame = {
    val docsScored = documents.select(
      col("doc_id") +: col("text") +:
        langScoreCols(col("text")).map { case (n, c) => c.cast("long").as("__" + n) }: _*)
    val perDoc = bigramNllCore(docsScored,
      carry = Seq("predicted_lang" -> langCaseFromScores("__")))
    graft.rel.Scale.ntileExactBy(perDoc, n = 3,
      group = Seq("predicted_lang"), keys = Seq("avg_nll", "doc_id"))
      .withColumn("bucket",
        when(col("tier") === 1, "head")
          .when(col("tier") === 2, "middle")
          .otherwise("tail"))
      .select("doc_id", "predicted_lang", "avg_nll", "bucket")
      .orderBy("doc_id")
  }

  val ccnetBucketsSql: String =
    raw"""WITH s AS (SELECT doc_id, text,
       |  $langScoreColsSql
       |FROM documents),
       |d AS (SELECT doc_id, $langCaseSql AS predicted_lang,
       |        ${toksSql()} AS w
       |      FROM s),
       |inst AS (SELECT doc_id, predicted_lang, w[i] AS w1, w[i+1] AS w2
       |         FROM (SELECT doc_id, predicted_lang, w,
       |                 unnest(generate_series(1, len(w) - 1)) AS i
       |               FROM d WHERE len(w) >= 2)),
       |toke AS (SELECT unnest(w) AS tok FROM d),
       |uni AS (SELECT tok AS w1, COUNT(*) AS c1 FROM toke GROUP BY 1),
       |vocab AS (SELECT COUNT(DISTINCT tok) AS v FROM toke),
       |big AS (SELECT w1, w2, COUNT(*) AS c12 FROM inst GROUP BY 1, 2),
       |scored AS (
       |  SELECT inst.doc_id, inst.predicted_lang,
       |    ROUND(-ln((big.c12 + CAST(1 AS DOUBLE)) / (uni.c1 + vocab.v)), 6) AS nll
       |  FROM inst JOIN big USING (w1, w2) JOIN uni USING (w1) CROSS JOIN vocab),
       |perdoc AS (
       |  SELECT doc_id, predicted_lang,
       |    CAST(SUM(CAST(nll AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*) AS avg_nll
       |  FROM scored GROUP BY 1, 2),
       |t AS (SELECT *, NTILE(3) OVER (
       |        PARTITION BY predicted_lang ORDER BY avg_nll, doc_id) AS tier
       |      FROM perdoc)
       |SELECT doc_id, predicted_lang, avg_nll,
       |  CASE tier WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
       |FROM t ORDER BY doc_id""".stripMargin

  /** Gopher-style repetition signals (Rae et al. 2021, appendix A —
    * public paper): the repetition family of web-corpus quality filters.
    * Documents dominated by a few repeated phrases are boilerplate/spam
    * and get dropped before training. The synthetic corpus carries no
    * line structure, so the signals are token-level: duplicate-token
    * fraction, the share of bigram occurrences taken by the single most
    * frequent bigram, and the share of bigram occurrences that are
    * repeats.
    *
    * Scale shape: token stats are NARROW per-row list algebra
    * (size/array_distinct — zero shuffle); bigram stats are one explode
    * plus two map-side-combinable aggregations keyed by (doc_id, bigram)
    * then doc_id — linear and fully distributed at 100 TB, no windows,
    * no driver loops. Docs with <2 tokens surface NULL bigram columns
    * (left join) rather than fabricated zeros.
    */
  def repetitionStats(documents: DataFrame): DataFrame = {
    val w = toks(col("text"))
    val base = documents.select(col("doc_id"), w.as("w"))
    val tokenStats = base.select(
      col("doc_id"),
      size(col("w")).cast("long").as("n_tokens"),
      size(array_distinct(col("w"))).cast("long").as("distinct_tokens"))
    val bigrams = when(size(col("w")) >= 2,
      transform(sequence(lit(0), size(col("w")) - 2),
        i => concat(element_at(col("w"), i + 1), lit(" "), element_at(col("w"), i + 2))))
      .otherwise(array().cast("array<string>"))
    val perBigram = base
      .select(col("doc_id"), explode(bigrams).as("bigram"))
      .groupBy("doc_id", "bigram")
      .agg(count(lit(1)).as("cnt"))
    val bigramStats = perBigram
      .groupBy("doc_id")
      .agg(
        sum("cnt").cast("long").as("n_bigrams"),
        max("cnt").cast("long").as("top_bigram_n"),
        coalesce(sum(when(col("cnt") > 1, col("cnt"))), lit(0L)).cast("long")
          .as("dup_bigram_occ"))
    tokenStats
      .join(bigramStats, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("n_tokens"),
        col("distinct_tokens"),
        ((col("n_tokens") - col("distinct_tokens")).cast("double") / col("n_tokens"))
          .as("dup_token_frac"),
        col("n_bigrams"),
        col("top_bigram_n"),
        (col("top_bigram_n").cast("double") / col("n_bigrams")).as("top_bigram_frac"),
        (col("dup_bigram_occ").cast("double") / col("n_bigrams")).as("dup_bigram_frac"))
      .orderBy("doc_id")
  }

  /** Document chunking into overlapping token windows — the step that
    * turns variable-length documents into trainable context-window
    * pieces (chunk k covers tokens [k·stride+1, k·stride+chunkTokens],
    * stride = chunkTokens − overlap, until the document is consumed).
    * Pure NARROW per-row list algebra: one sequence explode + slice/join
    * per chunk, no shuffle anywhere — the shape that matters when the
    * corpus is 100 TB and chunking must not cost a repartition.
    */
  def chunkDocuments(
      documents: DataFrame, chunkTokens: Int = 50, overlap: Int = 10): DataFrame = {
    require(overlap >= 0 && overlap < chunkTokens, "need 0 <= overlap < chunkTokens")
    val stride = chunkTokens - overlap
    documents.select(col("doc_id"), toks(col("text")).as("w"))
      .withColumn("chunk_idx",
        explode(sequence(lit(0L), expr(s"CAST((size(w) - 1) DIV $stride AS BIGINT)"))))
      .select(
        col("doc_id"),
        col("chunk_idx").cast("int").as("chunk_idx"),
        expr(s"CAST(LEAST($chunkTokens, size(w) - chunk_idx * $stride) AS BIGINT)")
          .as("n_chunk_tokens"),
        array_join(
          slice(col("w"), (col("chunk_idx") * stride + 1).cast("int"), lit(chunkTokens)), " ")
          .as("chunk_text"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** Sequence-packing accounting — the concat-and-cut packing step that
    * turns a tokenized corpus into fixed-length training sequences
    * (documents concatenated in doc_id order, a cut every `seqLen`
    * tokens): per document, which sequences it lands in and whether a
    * context-window boundary splits it. `n_seqs > 1` is the
    * document-fragmentation signal a pipeline tunes seqLen / shuffling
    * against (a split document bleeds context across training examples);
    * `sum(n_toks)/ (max(last_seq)+1)·seqLen` is the packing efficiency.
    * The global token offsets come from [[graft.rel.Scale.prefixSumShards]]'s
    * two-pass distributed prefix sum — no single-partition window
    * anywhere, so the accounting itself runs at corpus scale.
    */
  def packedSequences(documents: DataFrame, seqLen: Int = 128): DataFrame = {
    val counts = documents.select(
      col("doc_id"), size(toks(col("text"))).cast("long").as("n_toks"))
    graft.rel.Scale.prefixSumShards(counts, "doc_id", "n_toks", budget = seqLen.toLong)
      .select(
        col("doc_id"), col("n_toks"),
        (col("cum_tokens") - col("n_toks")).as("start_tok"),
        col("shard_id").cast("int").as("first_seq"),
        expr(s"CAST((cum_tokens - 1) DIV $seqLen AS INT)").as("last_seq"))
      .withColumn("n_seqs", (col("last_seq") - col("first_seq") + 1).cast("long"))
      .withColumn("crosses_boundary", col("last_seq") > col("first_seq"))
      .orderBy("doc_id")
  }

  /** DuckDB twin of [[packedSequences]]. */
  def packedSequencesSql(seqLen: Int = 128): String =
    raw"""WITH t AS (SELECT doc_id,
       |  CAST(len(${toksSql()}) AS BIGINT) AS n_toks
       |  FROM documents),
       |c AS (SELECT doc_id, n_toks,
       |  CAST(SUM(n_toks) OVER (ORDER BY doc_id) AS BIGINT) AS cum FROM t)
       |SELECT doc_id, n_toks, CAST(cum - n_toks AS BIGINT) AS start_tok,
       |  CAST((cum - n_toks) // $seqLen AS INTEGER) AS first_seq,
       |  CAST((cum - 1) // $seqLen AS INTEGER) AS last_seq,
       |  CAST((cum - 1) // $seqLen - (cum - n_toks) // $seqLen + 1 AS BIGINT) AS n_seqs,
       |  ((cum - 1) // $seqLen) > ((cum - n_toks) // $seqLen) AS crosses_boundary
       |FROM c ORDER BY doc_id""".stripMargin

  /** DuckDB twin of [[chunkDocuments]]. */
  def chunkDocumentsSql(chunkTokens: Int = 50, overlap: Int = 10): String = {
    val stride = chunkTokens - overlap
    raw"""WITH tk AS (
       |  SELECT doc_id, ${toksSql()} AS w FROM documents),
       |ch AS (SELECT doc_id, w,
       |  unnest(generate_series(0, (len(w) - 1) // $stride)) AS chunk_idx FROM tk)
       |SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx,
       |  CAST(LEAST($chunkTokens, len(w) - chunk_idx * $stride) AS BIGINT) AS n_chunk_tokens,
       |  array_to_string(
       |    list_slice(w, chunk_idx * $stride + 1,
       |               LEAST(chunk_idx * $stride + $chunkTokens, len(w))), ' ') AS chunk_text
       |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin
  }

  /** Domain-mixture statistics — the per-source token accounting a
    * corpus mixer needs: document/token counts per source, each source's
    * share of the total token budget, and the resampling weight that
    * would equalize the mixture (weight > 1 ⇒ upsample). One map-side-
    * combinable aggregation keyed by source plus a broadcast 1-row total
    * — the per-source frame is domains-sized (tiny), so the share/weight
    * arithmetic never shuffles the corpus again.
    */
  def domainMixture(documents: DataFrame): DataFrame = {
    val per = documents
      .select(col("source"), size(toks(col("text"))).cast("long").as("n_toks"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("n_tokens"))
    val tot = per.agg(
      sum("n_tokens").as("total_tokens"), count(lit(1)).as("n_sources"))
    per.crossJoin(broadcast(tot))
      .select(
        col("source"), col("n_docs"), col("n_tokens"),
        (col("n_tokens").cast("double") / col("total_tokens")).as("token_share"),
        ((col("total_tokens").cast("double") / col("n_sources")) / col("n_tokens"))
          .as("resample_weight"))
      .orderBy("source")
  }

  /** DuckDB twin of [[domainMixture]]. */
  val domainMixtureSql: String =
    raw"""WITH per AS (
       |  SELECT source, COUNT(*) AS n_docs,
       |    CAST(SUM(len(${toksSql()})) AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY 1),
       |tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens, COUNT(*) AS n_sources FROM per)
       |SELECT source, n_docs, n_tokens,
       |  CAST(n_tokens AS DOUBLE) / total_tokens AS token_share,
       |  (CAST(total_tokens AS DOUBLE) / n_sources) / n_tokens AS resample_weight
       |FROM per, tot ORDER BY source""".stripMargin

  /** Temperature-scaled mixture weights — the standard multi-domain
    * sampling rule for LM training corpora (sample source i with
    * probability q_i ∝ p_i^α, where p_i is its natural token share):
    * α = 1 keeps the natural mix, α → 0 approaches uniform, and the
    * usual α ≈ 0.3 boosts low-resource sources without letting them
    * dominate. Emits p_i, q_i, and the up/down-sampling factor
    * q_i/p_i a resampler would apply. Same execution shape as
    * [[domainMixture]]: one map-side-combinable aggregation keyed by
    * source + a broadcast 1-row total; the power/normalization
    * arithmetic runs on the domains-sized frame, never re-shuffling the
    * corpus. Outputs round to 9 dp so both engines' `pow` land on the
    * same double (the [[graft.ml.HashSplit.weightedSample]] convention).
    */
  def temperatureMixture(documents: DataFrame, alpha: Double = 0.3): DataFrame = {
    // ONE corpus aggregation; the totals and the normalizer come from
    // whole-frame windows over the domains-sized result (sources are
    // bounded by construction, so the single window partition is tiny) —
    // the naive agg-crossJoin-agg-crossJoin chain re-executed the corpus
    // aggregation once per normalization level (8 Exchanges vs 3). The
    // ordered unbounded frame pins the double-sum order for z, so the
    // normalizer is layout-deterministic; the oracle sums in the same
    // source order.
    val wAll = Window.orderBy("source")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val p = col("n_tokens").cast("double") / col("total_tokens")
    documents
      .select(col("source"), size(toks(col("text"))).cast("long").as("n_toks"))
      .groupBy("source")
      .agg(sum("n_toks").as("n_tokens"))
      .withColumn("total_tokens", sum("n_tokens").over(wAll))
      .select(col("source"), col("n_tokens"), p.as("p"), pow(p, alpha).as("pa"))
      .withColumn("z", sum("pa").over(wAll))
      .select(
        col("source"), col("n_tokens"),
        round(col("p"), 9).as("token_share"),
        round(col("pa") / col("z"), 9).as("sample_prob"),
        // A source whose documents all tokenize empty has p = 0, and
        // 0^α/z/0 is 0/0 = NaN — whose round() handling diverges between
        // Spark and DuckDB. Such a source gets a NULL factor (a resampler
        // has nothing to draw from it anyway); the SQL twin mirrors the
        // same CASE guard.
        when(col("p") > 0d, round(col("pa") / col("z") / col("p"), 9))
          .as("resample_factor"))
      .orderBy("source")
  }

  /** DuckDB twin of [[temperatureMixture]] (same ordered window sums). */
  def temperatureMixtureSql(alpha: Double = 0.3): String =
    raw"""WITH per AS (
       |  SELECT source,
       |    CAST(SUM(len(${toksSql()})) AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY 1),
       |t AS (SELECT source, n_tokens,
       |    SUM(n_tokens) OVER (ORDER BY source ROWS BETWEEN UNBOUNDED PRECEDING
       |      AND UNBOUNDED FOLLOWING) AS total_tokens
       |  FROM per),
       |sc AS (SELECT source, n_tokens,
       |    CAST(n_tokens AS DOUBLE) / total_tokens AS p,
       |    pow(CAST(n_tokens AS DOUBLE) / total_tokens, $alpha) AS pa
       |  FROM t),
       |z AS (SELECT *,
       |    SUM(pa) OVER (ORDER BY source ROWS BETWEEN UNBOUNDED PRECEDING
       |      AND UNBOUNDED FOLLOWING) AS z
       |  FROM sc)
       |SELECT source, n_tokens, round(p, 9) AS token_share,
       |  round(pa / z, 9) AS sample_prob,
       |  CASE WHEN p > 0 THEN round(pa / z / p, 9) END AS resample_factor
       |FROM z ORDER BY source""".stripMargin

  /** Per-source unigram KL divergence against the whole-corpus unigram
    * distribution, plus each source's own unigram entropy — the
    * domain-shift diagnostic a mixture designer reads next to
    * [[domainMixture]]'s token shares: KL(source ‖ corpus) near 0 means
    * the source is distributionally redundant with the mix, while a
    * high-KL source contributes vocabulary mass nothing else covers (and
    * a low-entropy source is internally repetitive regardless of KL).
    * Every source word occurs in the corpus by construction, so the KL
    * needs no smoothing.
    *
    * Scale shape: two map-side-combinable count aggregations (per
    * (source, word), then per word), both vocab-bounded; the term
    * arithmetic runs over the |sources|×|vocab| frame joined to the
    * vocab-sized corpus counts and a broadcast 1-row total — the
    * (source, word) frame is persisted so the token explode+shuffle
    * runs ONCE and the three downstream legs (source totals, corpus
    * counts, grand total) re-aggregate the small cached frame instead
    * of re-scanning the corpus. Cross-engine
    * exactness follows the [[bigramLmScore]] detSum recipe: identical
    * IEEE divisions and libm logs per (source, word) row, rounded to
    * 6 dp, then decimal-summed (associative) per source.
    */
  def sourceKlDivergence(documents: DataFrame): DataFrame = {
    val tok = documents.select(col("source"), explode(toks(col("text"))).as("tok"))
    val bySrc = tok.groupBy("source", "tok").agg(count(lit(1)).as("cs")).persist()
    val srcTot = bySrc.groupBy("source").agg(sum("cs").as("ns"))
    val corpus = bySrc.groupBy("tok").agg(sum("cs").as("c"))
    val tot = corpus.agg(sum("c").as("n"))
    val ps = col("cs").cast("double") / col("ns")
    val pc = col("c").cast("double") / col("n")
    bySrc
      .join(broadcast(corpus), Seq("tok"))
      .join(broadcast(srcTot), Seq("source"))
      .crossJoin(broadcast(tot))
      .withColumn("kl_term", round(ps * log(ps / pc), 6))
      .withColumn("ent_term", round(-(ps * log(ps)), 6))
      .groupBy("source")
      .agg(
        max("ns").as("n_tokens"),
        count(lit(1)).as("vocab_used"),
        sum(col("kl_term").cast("decimal(28,6)")).cast("double").as("kl_divergence"),
        sum(col("ent_term").cast("decimal(28,6)")).cast("double").as("entropy"))
      .orderBy("source")
  }

  /** DuckDB twin of [[sourceKlDivergence]]. */
  val sourceKlDivergenceSql: String =
    raw"""WITH tk AS (SELECT source, unnest(${toksSql()}) AS tok
       |            FROM documents),
       |bysrc AS (SELECT source, tok, COUNT(*) AS cs FROM tk GROUP BY 1, 2),
       |srctot AS (SELECT source, CAST(SUM(cs) AS BIGINT) AS ns FROM bysrc GROUP BY 1),
       |corpus AS (SELECT tok, CAST(SUM(cs) AS BIGINT) AS c FROM bysrc GROUP BY 1),
       |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM corpus),
       |terms AS (
       |  SELECT b.source, s.ns,
       |    ROUND((CAST(b.cs AS DOUBLE) / s.ns)
       |      * ln((CAST(b.cs AS DOUBLE) / s.ns) / (CAST(co.c AS DOUBLE) / t.n)), 6) AS kl_term,
       |    ROUND(-((CAST(b.cs AS DOUBLE) / s.ns) * ln(CAST(b.cs AS DOUBLE) / s.ns)), 6) AS ent_term
       |  FROM bysrc b JOIN corpus co USING (tok) JOIN srctot s USING (source) CROSS JOIN tot t)
       |SELECT source, MAX(ns) AS n_tokens, COUNT(*) AS vocab_used,
       |  CAST(SUM(CAST(kl_term AS DECIMAL(28,6))) AS DOUBLE) AS kl_divergence,
       |  CAST(SUM(CAST(ent_term AS DECIMAL(28,6))) AS DOUBLE) AS entropy
       |FROM terms GROUP BY 1 ORDER BY source""".stripMargin

  /** Per-source n-gram diversity for n = 1, 2, 3: distinct / total
    * n-grams, the type-token-ratio family a corpus mixer tracks next to
    * [[domainMixture]] ([[repetitionStats]] is the per-document view;
    * this is the per-source rollup — a source whose trigram diversity
    * collapses is template/boilerplate mass). One exploded pass tags
    * every n-gram instance with its n (the per-n position range is
    * clamped via `slice`, so a doc shorter than n emits nothing instead
    * of a descending `sequence`), then two map-side-combinable count
    * layers — (source, n, gram) then (source, n) — collapse the wide
    * instance stream before anything joins. Output is |sources|×3 rows.
    */
  def ngramDiversity(documents: DataFrame): DataFrame = {
    val base = documents.select(col("source"), toks(col("text")).as("w"))
    val inst = base.select(col("source"), explode(expr(
      """flatten(transform(array(1, 2, 3), n ->
        |  transform(slice(sequence(1, size(w)), 1, greatest(size(w) - n + 1, 0)),
        |    i -> struct(n AS n, concat_ws(' ', slice(w, i, n)) AS g))))""".stripMargin))
      .as("x"))
      .select(col("source"), col("x.n").as("n"), col("x.g").as("g"))
    inst.groupBy("source", "n", "g").agg(count(lit(1)).as("cnt"))
      .groupBy("source", "n")
      .agg(
        sum("cnt").as("total_ngrams"),
        count(lit(1)).as("distinct_ngrams"))
      .withColumn("diversity",
        col("distinct_ngrams").cast("double") / col("total_ngrams"))
      .orderBy("source", "n")
  }

  /** DuckDB twin of [[ngramDiversity]]. */
  val ngramDiversitySql: String =
    raw"""WITH tk AS (SELECT source, ${toksSql()} AS w
       |            FROM documents),
       |ns AS (SELECT unnest([1, 2, 3]) AS n),
       |inst AS (
       |  SELECT source, n, array_to_string(list_slice(w, i, i + n - 1), ' ') AS g
       |  FROM (SELECT source, n, w, unnest(generate_series(1, len(w) - n + 1)) AS i
       |        FROM tk CROSS JOIN ns)),
       |cnt AS (SELECT source, n, g, COUNT(*) AS cnt FROM inst GROUP BY 1, 2, 3)
       |SELECT source, n, CAST(SUM(cnt) AS BIGINT) AS total_ngrams,
       |  COUNT(*) AS distinct_ngrams,
       |  CAST(COUNT(*) AS DOUBLE) / CAST(SUM(cnt) AS BIGINT) AS diversity
       |FROM cnt GROUP BY 1, 2 ORDER BY source, n""".stripMargin

  /** Stopword list for the rule-based curation flags: the closed-class
    * words the synthetic corpus actually contains plus the usual
    * suspects, mirroring the "must contain ≥2 stop words" rule from
    * Rae et al. 2021 (Gopher §A1.1) / Raffel et al. 2020 (C4).
    */
}
