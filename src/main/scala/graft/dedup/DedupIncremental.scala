package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.text.TextOps

/** Incremental layer: Bloom-backed exact-dedup index, LSH signature index as running state, batch classification, incremental transitive-cluster attach.
  * Split out of the former Dedup.scala monolith (r16) with zero
  * behavior change; mixed into [[Dedup]].
  */
private[graft] trait DedupIncremental extends DedupGovern {
  /** Incremental dedup at corpus scale: classify an incoming batch
    * against a corpus WITHOUT joining the batch against 100 TB. The
    * corpus side collapses to a Bloom filter — built by the internal
    * `BloomFilterAggregate`, a distributed mergeable-sketch aggregation
    * (per-partition bitsets OR-merged up a tree), sized
    * `expectedItems × ~10 bits` — and the batch-side probe is the
    * codegen'd `BloomFilterMightContain` expression over `xxhash64` of
    * the content md5 (no Scala UDF anywhere on the path).
    *
    * The bloom's no-false-negative guarantee makes the composite result
    * EXACT, not approximate: a bloom-NEGATIVE doc is definitely absent
    * from the corpus (trusted new, no join at all — the overwhelming
    * majority of a mostly-novel batch), and only the bloom-POSITIVE
    * slice — true duplicates plus the ≤fpp false positives — pays the
    * exact membership join. `is_new_exact` therefore equals the plain
    * anti-join verdict row-for-row (the DuckDB oracle twin). What
    * shrinks is the BATCH side of the residual join (and with it the
    * join's shuffle volume and the risk of a skewed build side) — the
    * corpus side still scans and distinct-shuffles ONCE here to build
    * the [[DedupIndex]] this stateless convenience wraps — an
    * incremental deployment persists that index and calls
    * [[bloomNewDocsIncremental]] / [[mergeDedupIndex]] per batch
    * instead, never rescanning the corpus. `is_new_bloom` rides along
    * for the spec-asserted sketch contracts (is_new_bloom ⟹
    * is_new_exact; false-positive rate ≤ fpp). Bit positions are ORs of
    * per-item hashes, so the output is independent of partition layout
    * and insertion order.
    */
  def bloomNewDocs(
      corpus: DataFrame, batch: DataFrame,
      expectedItems: Long = 1000000L, fpp: Double = 0.01): DataFrame =
    bloomNewDocsIncremental(buildDedupIndex(corpus, expectedItems, fpp), batch)

  /** Running incremental-dedup state: the corpus Bloom bytes (mergeable
    * fixed-size sketch) plus the EXACT distinct content-hash table. A
    * deployment persists `hashes` (parquet/table) and the bloom bytes
    * between batches; [[bloomNewDocsIncremental]] then classifies a new
    * batch without ever touching corpus text again, and
    * [[mergeDedupIndex]] folds an accepted batch into the state — the
    * maintained-index design [[bloomNewDocs]]'s scaladoc names as the
    * corpus-scale path.
    */
  final case class DedupIndex(bloomBits: Array[Byte], hashes: DataFrame)

  /** Distributed bloom build over a distinct-hash frame; null for an
    * empty frame (BloomFilterAggregate's empty-input result).
    */
  private[dedup] def bloomOf(
      hashes: DataFrame, expectedItems: Long, fpp: Double): Array[Byte] = {
    import org.apache.spark.sql.GraftSqlShims.{column, expression}
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val numBits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(expectedItems, fpp)
    val bfAgg = new BloomFilterAggregate(
      new XxHash64(Seq(expression(col("h")))),
      Literal(expectedItems), Literal(numBits)).toAggregateExpression()
    // the finished sketch is a driver-sized object by construction
    // (~1.2 MB at 1M items / 1% fpp) and embeds as a foldable literal,
    // so the probe stays inside whole-stage codegen
    hashes.select(column(bfAgg).as("bf")).head.getAs[Array[Byte]](0)
  }

  /** One corpus pass → the persistent index: distinct content hashes +
    * their bloom. Duplicate hashes OR the same bloom bits, so building
    * over the distinct frame equals building over raw rows.
    */
  def buildDedupIndex(
      corpus: DataFrame,
      expectedItems: Long = 1000000L, fpp: Double = 0.01): DedupIndex = {
    val hashes = corpus.select(md5(col("text")).as("h")).distinct()
    DedupIndex(bloomOf(hashes, expectedItems, fpp), hashes)
  }

  /** OR-merge two bloom byte arrays (Spark's sketch format is mergeable
    * given identical sizing — the same (expectedItems, fpp) MUST be used
    * for every increment); null-safe on either side.
    */
  def mergeBloomBits(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    import org.apache.spark.util.sketch.BloomFilter
    if (a == null) b
    else if (b == null) a
    else {
      val m = BloomFilter.readFrom(new java.io.ByteArrayInputStream(a))
      m.mergeInPlace(BloomFilter.readFrom(new java.io.ByteArrayInputStream(b)))
      val out = new java.io.ByteArrayOutputStream()
      m.writeTo(out)
      out.toByteArray
    }
  }

  /** Bloom bytes over an `h`-column hash frame — the increment that
    * OR-folds into the running state bloom. Callers with a SMALL frame
    * (a batch delta) should coalesce(1) first: the partial aggregation
    * allocates the full numBits sketch per input partition.
    */
  def bloomBitsOfHashes(
      hashes: DataFrame,
      expectedItems: Long = 1000000L, fpp: Double = 0.01): Array[Byte] =
    bloomOf(hashes, expectedItems, fpp)

  /** Fold an accepted batch into the running index WITHOUT rescanning
    * the corpus: the batch's own bloom is OR-merged into the state bloom,
    * and the hash table is a distinct union of state ∪ batch. NOTE the
    * returned frame re-materializes the corpus-sized table — the right
    * shape for the IN-PLAN two-batch verification, but a maintained
    * deployment persists [[dedupIndexDelta]] increments instead (O(batch)
    * state writes, never an O(corpus) rewrite).
    */
  def mergeDedupIndex(
      index: DedupIndex, accepted: DataFrame,
      expectedItems: Long = 1000000L, fpp: Double = 0.01): DedupIndex = {
    val newHashes = accepted.select(md5(col("text")).as("h")).distinct()
    DedupIndex(
      mergeBloomBits(index.bloomBits, bloomOf(newHashes, expectedItems, fpp)),
      index.hashes.unionByName(newHashes).distinct())
  }


  /** Classify a batch against the RUNNING index — the incremental form
    * of [[bloomNewDocs]]: identical verdict semantics (bloom-negative →
    * trusted new with no join; bloom-positive → exact membership join
    * against the state hash table), but the corpus side is the
    * persisted index, so the plan contains no corpus scan at all
    * (spec-asserted). This is the shape that makes per-batch cost
    * O(batch + bloom-positive ⋈ index) at 100 TB corpus size.
    */
  def bloomNewDocsIncremental(index: DedupIndex, batch: DataFrame): DataFrame =
    bloomNewDocsIncrementalWithHash(index, batch).drop("h")

  /** [[bloomNewDocsIncremental]] retaining the content-hash column: the
    * maintained-state stream persists this shape so the batch's state
    * increment (DISTINCT h WHERE is_new_exact) derives from the
    * already-written verdicts — no second classify pass, no second scan
    * of the state.
    */
  def bloomNewDocsIncrementalWithHash(index: DedupIndex, batch: DataFrame): DataFrame = {
    import org.apache.spark.sql.GraftSqlShims.{column, expression}
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
    import org.apache.spark.sql.types.BinaryType
    // an EMPTY corpus has a null sketch; might_contain(null) is null,
    // which would silently drop every batch row — the correct verdict
    // is "nothing is in the corpus, everything is new"
    val bloomSeen =
      if (index.bloomBits == null) lit(false)
      else column(BloomFilterMightContain(
        Literal.create(index.bloomBits, BinaryType),
        new XxHash64(Seq(expression(col("h"))))))

    val flagged = batch
      .withColumn("h", md5(col("text")))
      .withColumn("bloom_seen", bloomSeen)
    val trustedNew = flagged.filter(!col("bloom_seen"))
      .withColumn("is_new_exact", lit(true))
    // residual membership WITHOUT shuffling the corpus-sized index: the
    // bloom-positive hash set is batch-bounded, so it broadcasts into a
    // semi-join that filters the index at its scan (no index exchange),
    // and the surviving hashes — ≤ the positive set — broadcast back
    // onto the batch. Both joins are broadcast by construction at every
    // scale; a plain left join here made Spark sort-merge the whole
    // persisted index per batch once it outgrew the broadcast threshold.
    val posHashes = flagged.filter(col("bloom_seen")).select("h").distinct()
    val inCorpus = index.hashes
      .join(broadcast(posHashes), Seq("h"), "left_semi")
      .withColumn("in_corpus", lit(true))
    val residual = flagged.filter(col("bloom_seen"))
      .join(broadcast(inCorpus), Seq("h"), "left")
      .withColumn("is_new_exact", col("in_corpus").isNull)
      .drop("in_corpus")
    trustedNew.unionByName(residual)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        col("h"), (!col("bloom_seen")).as("is_new_bloom"), col("is_new_exact"))
      .orderBy("doc_id")
  }

  /** DuckDB twin of [[bloomNewDocs]]'s exact verdict (the bloom column
    * is dropped at registration — sketch bits are engine-specific).
    */
  def bloomNewDocsSql(corpusPred: String, batchPred: String): String =
    s"""WITH c AS (SELECT DISTINCT md5(text) AS h FROM documents WHERE $corpusPred),
       |b AS (SELECT doc_id, lang, source, n_chars, md5(text) AS h
       |      FROM documents WHERE $batchPred)
       |SELECT doc_id, lang, source, n_chars,
       |  (c.h IS NULL) AS is_new_exact
       |FROM b LEFT JOIN c USING (h)
       |ORDER BY doc_id""".stripMargin

  def corpusFilterSql(minQuality: Double = 0.2, langs: Seq[String] = Seq("en")): String =
    "WITH " + scoredKeepFirstSql("documents", "source, n_chars", minQuality, langs)

  // ---- incremental NEAR-dup: the LSH signature table as running state
  //      (the near-dup sibling of the exact-hash DedupIndex above) ----

  /** The LSH index IS the MinHash signature frame (doc_id, mh0..mh7,
    * band0..band3): 8 fixed-width hashes + 4 band keys per doc —
    * BOUNDED per-doc state (~0.3 KB), unlike the raw shingle sets, which
    * is what makes it persistable at corpus scale. A deployment writes
    * it to a table and feeds it back to [[classifyNearDupIncremental]]
    * per batch. Signatures are per-doc rows, so folding a processed
    * batch into the running index is a plain union with the batch's own
    * `lshIndex` — no recompute of the existing state, no corpus rescan.
    */
  def lshIndex(corpus: DataFrame): DataFrame =
    minhashSignaturesFrom(hashedShingles(corpus))

  /** Classify a batch against the RUNNING index: batch docs →
    * signatures; four band-equality joins against the index surface
    * candidates (the standard LSH recall set); each candidate's
    * signature agreement (matching min-hashes / NumHashes) estimates Jaccard
    * WITHOUT touching any corpus text — the per-batch cost is
    * O(batch + candidates), state-bounded like
    * [[bloomNewDocsIncremental]] but for NEAR duplicates.
    *
    * Output: one row per batch doc (shingle-less docs included) with
    * candidate count, the best-agreeing index doc (ties broken by
    * lowest doc_id — deterministic), its agreement estimate, and the
    * near-dup verdict (any band collision). Batch-internal duplicates
    * are the existing pair pipeline's job, not this classifier's.
    */
  def classifyNearDupIncremental(index: DataFrame, batch: DataFrame): DataFrame = {
    val bsig = minhashSignaturesFrom(hashedShingles(batch)).persist()
    val nAgree = (0 until NumHashes)
      .map(k => when(col(s"x.mh$k") === col(s"y.mh$k"), 1).otherwise(0))
      .reduce(_ + _)
    val cand = bandJoinIndex(bsig, index,
      col("x.doc_id").as("doc_id"), col("y.doc_id").as("match_id"), nAgree.as("n_agree"))
    val part = Window.partitionBy("doc_id")
    val ranked = cand
      .withColumn("n_candidates", count(lit(1)).over(part))
      .withColumn("rn", row_number().over(
        part.orderBy(col("n_agree").desc, col("match_id"))))
      .filter(col("rn") === 1)
    batch.select(col("doc_id"))
      .join(ranked, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        col("match_id").as("best_match_id"),
        (col("n_agree").cast("double") / NumHashes).as("best_agreement"),
        col("match_id").isNotNull.as("is_near_dup"))
      .orderBy("doc_id")
  }

  /** Batch signatures `bsig` (as `x`) band-joined against the signature
    * index (as `y`): the rows of any band collision, projected to `cols`,
    * deduplicated. The BATCH side broadcasts: an incremental batch is
    * bounded by contract while the index is corpus-sized — the index must
    * never shuffle on band keys, and the explicit hint keeps the plan
    * broadcast-stable at every scale (soak-asserted).
    */
  private def bandJoinIndex(bsig: DataFrame, index: DataFrame, cols: Column*): DataFrame =
    (0 until Bands).map { j =>
      broadcast(bsig).as("x")
        .join(index.as("y"), col(s"x.band$j") === col(s"y.band$j"))
        .select(cols: _*)
    }.reduce(_ unionByName _).distinct()

  /** Incremental TRANSITIVE-cluster maintenance — the last leg of the
    * maintained-index family (exact: [[DedupIndex]]; near-dup pairs:
    * [[lshIndex]]; clusters: here). Given the persisted label table
    * (doc_id, cluster_id — cluster_id is the member minimum, as
    * [[dedupClusters]] emits) and the persisted signature index, attach
    * a new batch EXACTLY:
    *
    *  1. cross edges: batch signatures band-join the index (batch side
    *     broadcast — the index never shuffles), then contract each
    *     matched corpus doc to its cluster representative;
    *  2. internal edges: the ordinary LSH pairs within the batch;
    *  3. run connected components on the CONTRACTED subgraph only —
    *     batch ids ∪ TOUCHED representatives, a batch-bounded vertex
    *     set — so per-batch cost is O(batch + touched), independent of
    *     corpus size;
    *  4. remap: corpus labels whose representative landed in a merged
    *     component adopt the component label (an id-table join — no
    *     text, no signatures); untouched clusters pass through.
    *
    * Exactness: each representative IS its cluster's minimum doc_id, so
    * the contracted component minimum equals the true member minimum —
    * the incremental labels are bit-identical to a from-scratch
    * [[dedupClusters]] over corpus ∪ batch (oracle- and spec-checked),
    * including the case where one batch doc BRIDGES two existing
    * clusters (they merge under the smaller representative).
    */
  def attachToClusters(
      labels: DataFrame, index: DataFrame, batch: DataFrame): DataFrame = {
    val bsig = minhashSignaturesFrom(hashedShingles(batch)).persist()
    val cross = bandJoinIndex(bsig, index,
      col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
    val crossToRep = cross
      .join(labels.select(col("doc_id").as("doc_b"), col("cluster_id")), Seq("doc_b"))
      .select(col("doc_a"), col("cluster_id").as("doc_b"))
    val edges = crossToRep.unionByName(minhashPairsFrom(bsig)).distinct()
    val verts = batch.select("doc_id")
      .unionByName(crossToRep.select(col("doc_b").as("doc_id")))
      .distinct()
    val comp = connectedComponents(verts, edges)
    val remap = comp
      .select(col("doc_id").as("old_rep"), col("cluster_id").as("new_label"))
    val corpusLabels = labels
      .join(remap, labels("cluster_id") === remap("old_rep"), "left")
      .select(labels("doc_id"),
        coalesce(col("new_label"), labels("cluster_id")).as("cluster_id"))
    val batchLabels = comp.join(batch.select("doc_id"), Seq("doc_id"))
      .select(col("doc_id"), col("cluster_id"))
    corpusLabels.unionByName(batchLabels)
  }

  /** [[attachToClusters]] finalized to the [[dedupClusters]] output
    * shape (labels + recomputed cluster sizes, ordered).
    */
  def attachToClustersWithSizes(
      labels: DataFrame, index: DataFrame, batch: DataFrame): DataFrame = {
    val l = attachToClusters(labels, index, batch)
    val sizes = l.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
    l.join(sizes, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
      .orderBy("doc_id")
  }

  /** Signature CTE chain over a filtered slice of `documents`, with
    * prefixed CTE names so several slices coexist in one oracle query.
    */
  private[dedup] def sigCtesSql(n: String, pred: String): String = {
    val mh = (0 until NumHashes).map(k => s"MIN(${permSql(k)}) AS mh$k").mkString(", ")
    val bands = (0 until Bands).map(j => s"mh${2 * j} || mh${2 * j + 1} AS band$j").mkString(", ")
    raw"""${n}_toks AS (SELECT doc_id, ${TextOps.toksSql()} AS w
       |            FROM documents WHERE $pred),
       |${n}_hs AS (SELECT DISTINCT doc_id, md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS h
       |          FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i FROM ${n}_toks)),
       |${n}_sig0 AS (SELECT doc_id, $mh FROM ${n}_hs GROUP BY doc_id),
       |${n}_sig AS (SELECT *, $bands FROM ${n}_sig0)""".stripMargin
  }

  /** Classification SQL of batch-slice `b` against index CTE `idx`
    * (columns like sig), emitting the [[classifyNearDupIncremental]]
    * row shape tagged with `seq`.
    */
  private[dedup] def classifySql(b: String, idx: String, seq: Int): String = {
    val agree = (0 until NumHashes)
      .map(k => s"CASE WHEN x.mh$k = y.mh$k THEN 1 ELSE 0 END").mkString(" + ")
    val bandJoins = (0 until Bands).map(j =>
      s"SELECT x.doc_id, y.doc_id AS match_id, $agree AS n_agree FROM ${b}_sig x JOIN $idx y ON x.band$j = y.band$j")
      .mkString(" UNION ALL ")
    s"""SELECT r.doc_id,
       |  CAST(COALESCE(k.n_candidates, 0) AS BIGINT) AS n_candidates,
       |  k.match_id AS best_match_id,
       |  CAST(k.n_agree AS DOUBLE) / $NumHashes AS best_agreement,
       |  k.match_id IS NOT NULL AS is_near_dup,
       |  $seq AS batch_seq
       |FROM (SELECT doc_id FROM ${b}_toks) r
       |LEFT JOIN (
       |  SELECT doc_id, match_id, n_agree,
       |    COUNT(*) OVER (PARTITION BY doc_id) AS n_candidates,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY n_agree DESC, match_id) AS rn
       |  FROM (SELECT DISTINCT doc_id, match_id, n_agree FROM ($bandJoins))) k
       |ON r.doc_id = k.doc_id AND k.rn = 1""".stripMargin
  }

  /** DuckDB twin of the two-batch incremental scenario: batch 1 vs the
    * corpus index, batch 2 vs corpus ∪ batch 1.
    */
  def lshIncrementalSql(
      corpusPred: String, b1Pred: String, b2Pred: String): String =
    s"""WITH ${sigCtesSql("c", corpusPred)},
       |${sigCtesSql("b1", b1Pred)},
       |${sigCtesSql("b2", b2Pred)},
       |idx1 AS (SELECT * FROM c_sig UNION ALL SELECT * FROM b1_sig)
       |SELECT * FROM (
       |  ${classifySql("b1", "c_sig", 1).replace("\n", "\n  ")}
       |  UNION ALL
       |  ${classifySql("b2", "idx1", 2).replace("\n", "\n  ")})
       |ORDER BY doc_id""".stripMargin

}
