package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ranking and language-model layer: TF-IDF top terms, BM25 search, bigram top-k, bigram-LM perplexity scoring.
  * Split out of the former TextOps.scala monolith (r16) with zero
  * behavior change; mixed into [[TextOps]].
  */
private[graft] trait TextRank extends TextCore {

  /** TF-IDF top-k terms per document (smoothed sklearn-style idf:
    * ln((1+N)/(1+df)) + 1) — the classic keyword/topic signal a corpus
    * pipeline derives per document for search, clustering labels, and
    * near-topic dedup.
    *
    * Scale shape (r17): explode → tf groupBy (shuffle on
    * (doc_id, term)) → df as a WINDOW count over term (one shuffle on
    * term) → per-doc window (shuffle on doc_id). Three exchanges, one
    * corpus pass. The r16 form computed df as a separate groupBy joined
    * back onto tf — the tf aggregation subtree (explode included) ran
    * TWICE (once feeding df, once as the join probe) and the tf rows
    * crossed the term exchange twice; the window count is the same
    * exact long per row (OptimizationEquivalenceSpec pins the r16
    * form). N arrives as a broadcast 1-row aggregate, not a collect.
    *
    * Determinism: tf/df are exact longs; Java's Math.log and DuckDB's ln
    * are bit-identical over these rational inputs (verified for the whole
    * df range); ties broken by term.
    */
  def tfidfTopTerms(documents: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = documents.select(col("doc_id"), explode(toks(col("text"))).as("term"))
    val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val n = documents.agg(count(lit(1)).as("n"))
    val scored = tf
      .withColumn("df", count(lit(1)).over(Window.partitionBy("term")))
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        col("tf").cast("double") *
          (log((lit(1.0) + col("n")) / (lit(1.0) + col("df"))) + lit(1.0)))
    val w = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("term"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("doc_id", "term", "tf", "df", "tfidf", "rank")
      .orderBy("doc_id", "rank")
  }

  def tfidfTopTermsSql(k: Int = 3): String =
    raw"""WITH tok AS (
       |  SELECT doc_id, unnest(${toksSql()}) AS term
       |  FROM documents),
       |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
       |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
       |n AS (SELECT COUNT(*) AS n FROM documents),
       |scored AS (
       |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
       |    CAST(tf.tf AS DOUBLE) * (ln((1.0 + n.n) / (1.0 + df.df)) + 1.0) AS tfidf
       |  FROM tf JOIN df USING (term) CROSS JOIN n),
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
       |      FROM scored)
       |SELECT doc_id, term, tf, df, tfidf, rank FROM r WHERE rank <= $k
       |ORDER BY doc_id, rank""".stripMargin

  /** Corpus bigram statistics: top-k word bigrams by frequency — the
    * vocabulary/corpus-statistics pass of tokenizer training and n-gram
    * LM estimation.
    *
    * Scale shape: bigram generation is a NARROW per-row list transform
    * (no posexplode+window — adjacent pairs come straight from the token
    * array), then one count aggregation (map-side partials on the
    * high-cardinality bigram key) and a TakeOrderedAndProject top-k (per
    * partition top-k, driver merge of k·partitions rows — never a global
    * sort).
    */
  def bigramTopK(documents: DataFrame, k: Int = 50): DataFrame = {
    // Materialize the token array BEFORE the pair transform: higher-order
    // functions are interpreted (no codegen), so a non-lambda subexpression
    // inside the lambda body re-evaluates once PER ELEMENT — with the regex
    // split inline that is O(n_tokens · split cost) = quadratic per doc.
    // zip_with over two slices of the materialized array touches each token
    // once (observed 6.8 s → sub-second at sf0.1 on this change alone).
    val t = col("t")
    val bigrams = when(size(t) >= 2,
      zip_with(slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1),
        (a, b) => concat(a, lit(" "), b)))
      .otherwise(array().cast("array<string>"))
    documents
      .select(toks(col("text")).as("t"))
      .select(explode(bigrams).as("bigram"))
      .groupBy("bigram")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(k)
  }

  /** BM25 full-text retrieval (Robertson-Spärck Jones / Lucene form):
    * score a fixed multi-term query set against the corpus and return the
    * top-k documents per query,
    * `score(q,d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))`
    * with `idf = ln(1 + (N−df+0.5)/(df+0.5))` (always positive). The
    * standard retrieval pass a curation pipeline uses for targeted corpus
    * probes (benchmark leakage lookups, topical subset pulls).
    *
    * Scale shape: the query-term allowlist is broadcast and applied to the
    * exploded token stream BEFORE any aggregation, so the per-(doc,term)
    * tf shuffle carries only query-term postings — output is bounded by
    * |matching docs|·|query terms|, never corpus-vocabulary-sized. Doc
    * length is a narrow `size(tokens)` per row (no second corpus shuffle);
    * N and avgdl are one broadcast row; df is a window count over the
    * pruned tf frame (r17 — one corpus pass; the r16 aggregate+join-back
    * form paid a second). Final top-k is a per-query
    * row_number over the bounded score set. Cross-engine exactness: each
    * term contribution is identical IEEE arithmetic on integer counts
    * (same parenthesization both sides), rounded to 6 dp, then summed per
    * doc in decimal(28,6) — the [[bigramLmScore]] recipe.
    */
  def searchBm25(documents: DataFrame, queries: Seq[(Int, String)] = Bm25Queries,
      k: Int = 10, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val spark = documents.sparkSession
    graft.GraftExtensions.register(spark)
    import spark.implicits._
    // The query set is a literal KB-scale list: tokenize it driver-side so
    // the plan carries no distinct/aggregate nodes for it — just one
    // broadcast relation and an In-list filter on the token stream.
    val qterms = queries
      .flatMap { case (id, q) => q.trim.toLowerCase.split("\\s+").map(id -> _) }
      .distinct
    val qterm = qterms.toDF("query_id", "term")
    // dl rides the explode as a grouping key (functionally dependent on
    // doc_id), so no second corpus scan / doc_id join is ever needed
    val tok = documents.select(col("doc_id"),
      size(toks(col("text"))).cast("long").as("dl"),
      explode(toks(col("text"))).as("term"))
    val tf = tok
      .filter(col("term").isInCollection(qterms.map(_._2).distinct))
      .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
    // r17: df as a window count over the pruned tf frame, computed
    // BEFORE the query-term fan-out (a term serving several queries
    // duplicates tf rows, so counting after the join would overcount) —
    // the r16 groupBy+join-back form re-ran the corpus tokenize/filter/
    // aggregate subtree a second time just to build the df side. Same
    // exact longs (OptimizationEquivalenceSpec pins the tfidf instance
    // of this rewrite; search_bm25's oracle pins this one end to end).
    val tfd = tf.withColumn("df",
      count(lit(1)).over(Window.partitionBy("term")))
    val stats = documents.agg(
      count(lit(1)).as("n"), avg(size(toks(col("text"))).cast("long")).as("avgdl"))
    val idf = log(lit(1.0) + (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val scored = broadcast(qterm).join(tfd, "term")
      .crossJoin(broadcast(stats))
      .withColumn("c", round(
        idf * (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl"))),
        6))
      .groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("n_terms"),
        sum(col("c").cast("decimal(28,6)")).cast("double").as("score"))
    // bounded-heap top-k per query (no per-query sort of the full matched
    // set), then rank/order over the k·|queries|-row survivor set
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("doc_id"))
    graft.plans.TopKPerGroup.topK(scored,
      groupCols = Seq("query_id"),
      orderCols = Seq("score" -> true, "doc_id" -> false),
      k = k)
      .withColumn("rank", row_number().over(w).cast("long"))
      .select("query_id", "doc_id", "n_terms", "score", "rank")
      .orderBy("query_id", "rank")
  }

  /** Fixed query set for [[searchBm25]]: corpus-vocabulary terms plus one
    * absent term (`zzzmissing`) so the zero-posting path is exercised.
    */
  val Bm25Queries: Seq[(Int, String)] = Seq(
    1 -> "spark join shuffle",
    2 -> "hash table scan",
    3 -> "window agg order",
    4 -> "customer query zzzmissing")

  def searchBm25Sql(queries: Seq[(Int, String)] = Bm25Queries,
      k: Int = 10, k1: Double = 1.2, b: Double = 0.75): String = {
    val values = queries.map { case (id, q) => s"($id, '$q')" }.mkString(", ")
    raw"""WITH q(query_id, qtext) AS (VALUES $values),
       |qterm AS (SELECT DISTINCT CAST(query_id AS INTEGER) AS query_id,
       |    unnest(${toksSql("qtext")}) AS term FROM q),
       |tok AS (SELECT doc_id, unnest(${toksSql()}) AS term
       |        FROM documents),
       |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok
       |       WHERE term IN (SELECT term FROM qterm) GROUP BY 1, 2),
       |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
       |dl AS (SELECT doc_id,
       |         CAST(len(${toksSql()}) AS BIGINT) AS dl
       |       FROM documents),
       |st AS (SELECT COUNT(*) AS n,
       |         AVG(CAST(len(${toksSql()}) AS BIGINT)) AS avgdl
       |       FROM documents),
       |contrib AS (
       |  SELECT qterm.query_id, tf.doc_id,
       |    ROUND(ln(1.0 + (st.n - df.df + 0.5) / (df.df + 0.5))
       |      * (tf.tf * ${k1 + 1.0}) / (tf.tf + $k1 * (1.0 - $b + $b * dl.dl / st.avgdl)),
       |      6) AS c
       |  FROM qterm JOIN tf USING (term) JOIN df USING (term)
       |    JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN st),
       |s AS (SELECT query_id, doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
       |        CAST(SUM(CAST(c AS DECIMAL(28,6))) AS DOUBLE) AS score
       |      FROM contrib GROUP BY 1, 2),
       |r AS (SELECT *, CAST(ROW_NUMBER() OVER (
       |        PARTITION BY query_id ORDER BY score DESC, doc_id) AS BIGINT) AS rank
       |      FROM s)
       |SELECT query_id, doc_id, n_terms, score, rank FROM r WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin
  }

  def bigramTopKSql(k: Int = 50): String =
    raw"""WITH b AS (
       |  SELECT unnest(list_transform(
       |    generate_series(1, len(${toksSql()}) - 1),
       |    i -> ${toksSql()}[i] || ' ' ||
       |         ${toksSql()}[i + 1])) AS bigram
       |  FROM documents)
       |SELECT bigram, COUNT(*) AS n FROM b GROUP BY 1
       |ORDER BY n DESC, bigram LIMIT $k""".stripMargin

  /** CCNet-style LM quality scoring (Wenzek et al. 2020 uses a trained
    * Kneser-Ney model; this is the self-contained corpus-trained
    * variant): score every document by its per-bigram cross-entropy
    * under the corpus' own add-1-smoothed bigram model,
    * P(w2|w1) = (c(w1,w2)+1) / (c(w1)+V). Low avg_nll = the corpus has
    * seen these transitions many times (boilerplate, template text,
    * spam repeats — prune-or-downweight candidates); high avg_nll =
    * rare content. The standard LM-perplexity quality filter with the
    * model training and the scoring as ONE distributed pipeline.
    *
    * Scale shape: model "training" is two map-side-combinable
    * aggregations (unigram + bigram counts — vocabulary-sized outputs);
    * scoring joins each bigram instance to its two counts by key
    * (equality joins, never all-pairs) and folds per doc. Cross-engine
    * exactness: each instance's -ln P is computed identically per row
    * (same IEEE division + libm log on identical integer counts), then
    * ROUNDED to 6 dp before the per-doc decimal sum — the rounded value
    * sits on the 6-dp grid, so the decimal cast is unambiguous in both
    * engines and the sum is associative (partition-order independent),
    * per the detSum rule that raw double sums can never be
    * hash-verified.
    */
  def bigramLmScore(documents: DataFrame): DataFrame =
    bigramNllCore(documents, carry = Nil).orderBy("doc_id")

  /** Shared core of [[bigramLmScore]] / [[ccnetBuckets]]: per-doc
    * add-1-smoothed bigram NLL, with optional extra per-doc columns
    * (functionally dependent on doc_id) computed in the base projection
    * and carried through the instance explode as grouping keys — no
    * doc_id re-join for enrichment columns.
    */
  private[text] def bigramNllCore(documents: DataFrame,
      carry: Seq[(String, Column)]): DataFrame = {
    val carryCols = carry.map { case (n, _) => col(n) }
    val keyCols = col("doc_id") +: carryCols
    // r17 (guide §1.2): the tokenized base is materialized once — it
    // feeds the instance explode AND the unigram/vocab aggregations, and
    // without it the regex tokenization of the whole corpus re-ran once
    // per consumer subtree. r18 (ADVICE r17): localCheckpoint instead of
    // a never-unpersisted persist(), so a long-lived session does not
    // leak a CacheManager entry per call (the sibling KNN rule).
    val base = documents.select(
      col("doc_id") +: carry.map { case (n, c) => c.as(n) } :+
        toks(col("text")).as("w"): _*).localCheckpoint()
    val inst = base
      .filter(size(col("w")) >= 2)
      .select(keyCols :+ explode(expr(
        "transform(sequence(1, size(w) - 1), i -> struct(w[i-1] AS w1, w[i] AS w2))"))
        .as("b"): _*)
      .select(keyCols :+ col("b.w1").as("w1") :+ col("b.w2").as("w2"): _*)
    val tokens = base.select(explode(col("w")).as("tok"))
    val uni = tokens.groupBy(col("tok").as("w1")).agg(count(lit(1)).as("c1"))
    val vocab = tokens.agg(countDistinct(col("tok")).as("v"))
    // r17 (guide §2.3/§2.4): c12 as a window count over (w1, w2) — one
    // pass of the instance frame through the (w1, w2) exchange, where
    // the aggregate + self-join form shuffled the instances through it
    // twice (aggregate input + join probe) and re-derived the probe
    // side from scratch. Same exact integer count per row
    // (OptimizationEquivalenceSpec pins the r16 form).
    // Scale shape (ADVICE r17): an unbounded window frame has no
    // map-side partial aggregation, so ALL instances of one bigram land
    // in one window partition — at corpus scale a stop-word bigram
    // ("of the") becomes a single straggler task (guide §2.5). If
    // corpus-scale profiling shows that straggler, switch to a salted
    // two-level count (aggregate by (w1, w2, salt), sum by (w1, w2),
    // join back) — more exchanges, bounded tasks. At the tested SFs the
    // one-exchange window form measures faster and the skew is absent.
    val scored = inst
      .withColumn("c12",
        count(lit(1)).over(Window.partitionBy("w1", "w2")))
      .join(uni, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .withColumn("nll", round(
        -log((col("c12") + lit(1).cast("double")) / (col("c1") + col("v"))), 6))
    scored.groupBy(keyCols: _*)
      .agg(
        count(lit(1)).as("n_bigrams"),
        (sum(col("nll").cast("decimal(28,6)")).cast("double") / count(lit(1)))
          .as("avg_nll"))
  }

  val bigramLmScoreSql: String =
    raw"""WITH tk AS (SELECT doc_id, ${toksSql()} AS w
       |           FROM documents),
       |inst AS (SELECT doc_id, w[i] AS w1, w[i+1] AS w2
       |         FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS i
       |               FROM tk WHERE len(w) >= 2)),
       |toke AS (SELECT unnest(w) AS tok FROM tk),
       |uni AS (SELECT tok AS w1, COUNT(*) AS c1 FROM toke GROUP BY 1),
       |vocab AS (SELECT COUNT(DISTINCT tok) AS v FROM toke),
       |big AS (SELECT w1, w2, COUNT(*) AS c12 FROM inst GROUP BY 1, 2),
       |scored AS (
       |  SELECT inst.doc_id,
       |    ROUND(-ln((big.c12 + CAST(1 AS DOUBLE)) / (uni.c1 + vocab.v)), 6) AS nll
       |  FROM inst JOIN big USING (w1, w2) JOIN uni USING (w1) CROSS JOIN vocab)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       |  CAST(SUM(CAST(nll AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*) AS avg_nll
       |FROM scored GROUP BY 1 ORDER BY doc_id""".stripMargin

  /** CCNet-style head/middle/tail quality tiers (Wenzek et al. 2020 —
    * public paper): language-ID every document, score it with the corpus
    * bigram LM ([[bigramLmScore]]'s core), then cut each language's
    * documents into perplexity terciles — `head` = lowest avg NLL. The
    * standard curation split that decides what is trained on, sampled
    * down, or dropped, as ONE distributed plan.
    *
    * Scale shape: predicted_lang is computed once in the base projection
    * and carried through the NLL pipeline as a grouping key (no doc_id
    * re-join); the tercile cut is [[graft.rel.Scale.ntileExactBy]] — a
    * group-major range sort plus a groups-sized broadcast of per-group
    * offsets — NOT `ntile().over(partitionBy(lang))`, which would drag
    * each language through a single reducer at 100 TB. Docs with <2
    * tokens have no LM score and are excluded (CCNet drops them too).
    */
}
