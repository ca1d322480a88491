package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._


/** The core similarity-search family (see [[Knn]] for the contract):
  * brute-force / bucketed / SRP-LSH search, near-dup, hard negatives,
  * diversity, hybrid retrieval, semantic dedup, PCA — split from the
  * former Knn monolith (r15), zero behavior change.
  */
private[sim] trait KnnCore {

  val Dim = 64

  /** Σ aᵢ·bᵢ via the native fused-loop expression (graft.functions
    * .DotProductFloat) — bit-identical to the explicit left-assoc
    * 64-term sum it replaced (same ascending order, same exact
    * float→double products; equivalence spec-asserted in KnnSpec), but
    * one tight codegen loop instead of a 64-node expression tree.
    */
  private[sim] def dot(a: String, b: String): Column =
    graft.functions.DotProductFloat.dotProduct(col(a), col(b))

  /** Same expression for DuckDB (1-based subscripts). */
  private[sim] def dotSql(a: String, b: String): String =
    (1 to Dim).map(i => s"CAST($a[$i] AS DOUBLE) * CAST($b[$i] AS DOUBLE)")
      .mkString(" + ")

  /** Vectors + squared norm, zero-norm vectors dropped (cosine undefined). */
  private[sim] def withNorm(embeddings: DataFrame): DataFrame =
    embeddings
      .withColumn("n2", dot("embedding", "embedding"))
      .filter(col("n2") > 0)

  private[sim] val NORM_CTE =
    s"""n AS (SELECT vec_id, embedding, label, ${dotSql("embedding", "embedding")} AS n2
       |       FROM embeddings),
       |e AS (SELECT * FROM n WHERE n2 > 0)""".stripMargin

  /** Sign-bit bucket over the first 8 dimensions (IVF-style coarse
    * quantization: 256 cells, equality-joinable).
    */
  private[sim] def bucket(arr: String): Column =
    (0 until 8).map(j =>
      when(col(arr).getItem(j) >= 0f, lit(1 << j)).otherwise(lit(0)))
      .reduceLeft(_ + _)

  private[sim] def bucketSql(arr: String): String =
    (0 until 8).map(j =>
      s"CASE WHEN $arr[${j + 1}] >= 0 THEN ${1 << j} ELSE 0 END")
      .mkString(" + ")

  /** Brute-force cosine top-k for the query set (vec_id < nQueries over
    * all candidates). The baseline every approximate method is judged
    * against.
    */
  def bruteForceTopK(embeddings: DataFrame, nQueries: Int = 10, k: Int = 5): DataFrame = {
    val e = withNorm(embeddings)
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"), col("n2").as("qn2"))
    val c = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"), col("n2").as("cn2"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", dot("qe", "ce") / (sqrt(col("qn2")) * sqrt(col("cn2"))))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cosine"))
      .orderBy("query_id", "rank")
  }

  def bruteForceTopKSql(nQueries: Int = 10, k: Int = 5): String =
    s"""WITH $NORM_CTE,
       |${cosineTopKSql(nQueries, k)}
       |SELECT query_id, neighbor_id, CAST(rn AS INTEGER) AS "rank", cosine
       |FROM br ORDER BY query_id, "rank"""".stripMargin

  /** The CTEs of [[bruteForceTopKSql]] over NORM_CTE's `e`, shared by
    * the recall twins' exact leg: `bq`/`bs` (query × other-vector
    * cosines) and `br`, the top-k (query_id, neighbor_id, cosine, rn).
    */
  private[sim] def cosineTopKSql(nQueries: Int, k: Int): String =
    s"""bq AS (SELECT vec_id AS query_id, embedding AS qe, n2 AS qn2
       |       FROM e WHERE vec_id < $nQueries),
       |bs AS (SELECT bq.query_id, c.vec_id AS neighbor_id,
       |         (${dotSql("bq.qe", "c.embedding")}) / (sqrt(bq.qn2) * sqrt(c.n2)) AS cosine
       |       FROM bq, e c WHERE c.vec_id <> bq.query_id),
       |br AS (SELECT query_id, neighbor_id, cosine, rn FROM (
       |         SELECT query_id, neighbor_id, cosine,
       |           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rn
       |         FROM bs) WHERE rn <= $k)""".stripMargin

  /** Hard-negative mining for contrastive / retrieval training: for
    * each anchor (vec_id < nAnchors), the k most cosine-similar vectors
    * carrying a DIFFERENT label — the "close but wrong" examples that
    * move a margin loss the most (random negatives are trivially
    * separable; these are not). Same execution shape as
    * [[bruteForceTopK]]: the bounded anchor set broadcasts, candidates
    * stream through one scan, per-anchor top-k is a window over the
    * scored frame. At corpus scale the candidate side swaps to the
    * SRP-bucketed generation ([[bucketedTopK]]) with this exact scoring
    * and label-filter tail.
    */
  def hardNegatives(embeddings: DataFrame, nAnchors: Int = 10, k: Int = 5): DataFrame = {
    val e = withNorm(embeddings)
    val q = e.filter(col("vec_id") < nAnchors)
      .select(col("vec_id").as("anchor_id"), col("label").as("anchor_label"),
        col("embedding").as("qe"), col("n2").as("qn2"))
    val c = e.select(col("vec_id").as("negative_id"), col("label").as("negative_label"),
      col("embedding").as("ce"), col("n2").as("cn2"))
    val w = Window.partitionBy("anchor_id").orderBy(col("cosine").desc, col("negative_id"))
    c.crossJoin(broadcast(q))
      .filter(col("negative_label") =!= col("anchor_label"))
      .withColumn("cosine", dot("qe", "ce") / (sqrt(col("qn2")) * sqrt(col("cn2"))))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("anchor_id"), col("anchor_label"), col("negative_id"),
        col("negative_label"), col("rank"), col("cosine"))
      .orderBy("anchor_id", "rank")
  }

  def hardNegativesSql(nAnchors: Int = 10, k: Int = 5): String =
    s"""WITH $NORM_CTE,
       |q AS (SELECT vec_id AS anchor_id, label AS anchor_label, embedding AS qe, n2 AS qn2
       |      FROM e WHERE vec_id < $nAnchors),
       |s AS (SELECT q.anchor_id, q.anchor_label, c.vec_id AS negative_id,
       |        c.label AS negative_label,
       |        (${dotSql("q.qe", "c.embedding")}) / (sqrt(q.qn2) * sqrt(c.n2)) AS cosine
       |      FROM q, e c WHERE c.label <> q.anchor_label),
       |r AS (SELECT *,
       |        ROW_NUMBER() OVER (PARTITION BY anchor_id ORDER BY cosine DESC, negative_id) AS rn
       |      FROM s)
       |SELECT anchor_id, anchor_label, negative_id, negative_label,
       |  CAST(rn AS INTEGER) AS "rank", cosine
       |FROM r WHERE rn <= $k ORDER BY anchor_id, "rank"""".stripMargin

  /** Bucketed ANN: candidates restricted to the query's sign-bucket —
    * an equality join on the bucket key instead of a cross join; recall
    * is approximate by construction. The untrained baseline of the
    * bucketed family; production ANN at scale is [[ivfTopK]], whose
    * trained centroids track the data distribution instead of fixed
    * sign-cells.
    */
  def bucketedTopK(embeddings: DataFrame, nQueries: Int = 50, k: Int = 3): DataFrame = {
    // persisted: both join sides derive from it (the 64-term norm/bucket
    // projection would otherwise run twice)
    val e = withNorm(embeddings).withColumn("bucket", bucket("embedding").cast("int"))
      .persist()
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("n2").as("qn2"), col("bucket"))
    val c = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"),
      col("n2").as("cn2"), col("bucket"))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", dot("qe", "ce") / (sqrt(col("qn2")) * sqrt(col("cn2"))))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("bucket"), col("neighbor_id"), col("rank"), col("cosine"))
      .orderBy("query_id", "rank")
  }

  def bucketedTopKSql(nQueries: Int = 50, k: Int = 3): String =
    s"""WITH $NORM_CTE,
       |b AS (SELECT *, CAST(${bucketSql("embedding")} AS INTEGER) AS bucket FROM e),
       |q AS (SELECT vec_id AS query_id, embedding AS qe, n2 AS qn2, bucket
       |      FROM b WHERE vec_id < $nQueries),
       |s AS (SELECT q.query_id, q.bucket, c.vec_id AS neighbor_id,
       |        (${dotSql("q.qe", "c.embedding")}) / (sqrt(q.qn2) * sqrt(c.n2)) AS cosine
       |      FROM q JOIN b c ON c.bucket = q.bucket AND c.vec_id <> q.query_id),
       |r AS (SELECT query_id, bucket, neighbor_id, cosine,
       |        ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rn
       |      FROM s)
       |SELECT query_id, bucket, neighbor_id, CAST(rn AS INTEGER) AS "rank", cosine
       |FROM r WHERE rn <= $k ORDER BY query_id, "rank"""".stripMargin

  // ---- SRP-LSH (sparse signed random projections) ----
  // Deterministic sparse ±1 hyperplane matrix, seeded once: each
  // hyperplane touches 16 of the 64 dims (Achlioptas-style sparse
  // projections — LSH collision behavior is near-identical to dense at a
  // quarter of the arithmetic, and a quarter of the generated-code size,
  // which is what bounds codegen time here). The SAME literal signs are
  // inlined into the Spark expressions and the DuckDB twin, so both
  // engines compute identical projections (float terms are exact in
  // double; addition order is pinned by the parse tree). Band width
  // (SrpBits → 2^12 = 4096 cells/band) sets the scaling behavior; band
  // count (SrpBands) buys recall via OR-amplification — both decoupled
  // from the embedding dimension, unlike raw-dim sign buckets.
  private[sim] val SrpBands = 6
  private[sim] val SrpBits = 10
  private[sim] val SrpNnz = 16
  /** (dim, sign) pairs per hyperplane, dims ascending for a pinned order. */
  private[sim] val srpPlanes: Array[Array[(Int, Int)]] = {
    val rnd = new scala.util.Random(42)
    Array.fill(SrpBands * SrpBits) {
      rnd.shuffle((0 until Dim).toList).take(SrpNnz).sorted
        .map(d => (d, if (rnd.nextBoolean()) 1 else -1)).toArray
    }
  }

  private[sim] def srpProj(arr: String, k: Int): Column =
    srpPlanes(k).map { case (d, s) =>
      val t = col(arr).getItem(d).cast("double")
      if (s > 0) t else -t
    }.reduceLeft(_ + _)

  private[sim] def srpProjSql(arr: String, k: Int): String =
    srpPlanes(k).zipWithIndex.map { case ((d, s), i) =>
      val term = s"CAST($arr[${d + 1}] AS DOUBLE)"
      val sgn = if (s > 0) "+" else "-"
      if (i == 0) (if (sgn == "+") term else s"- $term") else s"$sgn $term"
    }.mkString(" ")

  private[sim] def srpBand(arr: String, b: Int): Column =
    (0 until SrpBits).map(i =>
      when(srpProj(arr, b * SrpBits + i) >= 0, lit(1 << i)).otherwise(lit(0)))
      .reduceLeft(_ + _)

  private[sim] def srpBandSql(arr: String, b: Int): String =
    (0 until SrpBits).map(i =>
      s"CASE WHEN (${srpProjSql(arr, b * SrpBits + i)}) >= 0 THEN ${1 << i} ELSE 0 END")
      .mkString(" + ")

  /** Embedding-cosine near-dup pairs above `threshold` via SRP-LSH:
    * 8 bands × 12 signed-random-projection bits (4096 cells per band),
    * candidates = vectors sharing ANY band. OR-amplification across
    * bands buys recall; the 4096-cell bands keep per-cell populations —
    * and therefore the per-cell self-join — sub-linear as n grows (the
    * old single 8-bit raw-dim bucket capped at 256 cells and went
    * quadratic per cell). This is the honest trade-off every 100 TB
    * near-dup pass makes vs the n² exact pair join, without the cell
    * ceiling, and with recall tunable by band count instead of being
    * pinned to the embedding dimension.
    */
  /** Band-stamp an embedding frame with the `SrpBands` SRP band columns
    * (plus the squared norm). Callers persist — every band join and the
    * vector join-back re-derive this frame otherwise.
    */
  private[sim] def srpBanded(embeddings: DataFrame): DataFrame =
    (0 until SrpBands).foldLeft(withNorm(embeddings)) { (df, j) =>
      df.withColumn(s"band$j", srpBand("embedding", j).cast("int"))
    }

  /** Shared SRP-LSH candidate + verify scaffolding: per-band equality
    * joins between two banded sides (OR-amplified across bands, deduped),
    * then the exact fixed-associativity cosine joined back from each
    * side's vectors. `pairCond` narrows the per-band join (e.g. the
    * `a < b` half-matrix for self-joins); both near-dup and
    * decontamination are thin layers over this one copy.
    */
  private[sim] def srpPairCosines(left: DataFrame, right: DataFrame,
      leftId: String, rightId: String,
      pairCond: (Column, Column) => Column): DataFrame = {
    val cand = (0 until SrpBands).map { j =>
      left.as("x").join(right.as("y"),
        col(s"x.band$j") === col(s"y.band$j") &&
          pairCond(col("x.vec_id"), col("y.vec_id")))
        .select(col("x.vec_id").as(leftId), col("y.vec_id").as(rightId))
    }.reduce(_ unionByName _).distinct()
    cand
      .join(left.select(col("vec_id").as(leftId), col("embedding").as("ea"),
        col("n2").as("na")), Seq(leftId))
      .join(right.select(col("vec_id").as(rightId), col("embedding").as("eb"),
        col("n2").as("nb")), Seq(rightId))
      .withColumn("cosine", dot("ea", "eb") / (sqrt(col("na")) * sqrt(col("nb"))))
  }

  def nearDupPairs(embeddings: DataFrame, threshold: Double = 0.3): DataFrame = {
    val e = srpBanded(embeddings).persist()
    srpPairCosines(e, e, "vec_a", "vec_b", _ < _)
      .filter(col("cosine") > threshold)
      .select(col("vec_a"), col("vec_b"), col("cosine"))
      .orderBy("vec_a", "vec_b")
  }

  /** Embedding-space split-leakage audit — the semantic twin of
    * [[graft.dedup.Dedup.splitLeakage]]: SRP-LSH near-dup vector pairs
    * (cosine > threshold) that straddle the train/val/test hash-split
    * boundary. Lexical leakage checks miss paraphrases; a test vector
    * whose near-twin (in embedding space) sits in train still leaks
    * evaluation signal. Same deterministic hash split as the document
    * splitter (md5 buckets over the id, 80/10/10), composed with the
    * banded pair frame — two id-keyed joins of a near-linear frame
    * against a narrow projection, splits²-bounded output.
    */
  def semanticSplitLeakage(embeddings: DataFrame, threshold: Double = 0.3): DataFrame = {
    val b = graft.ml.HashSplit.hashBucket(col("vec_id"), 100)
    val sp = embeddings.select(col("vec_id"),
      when(b < 80, "train").when(b < 90, "val").otherwise("test").as("split"))
    nearDupPairs(embeddings, threshold)
      .join(sp.select(col("vec_id").as("vec_a"), col("split").as("sa")), Seq("vec_a"))
      .join(sp.select(col("vec_id").as("vec_b"), col("split").as("sb")), Seq("vec_b"))
      .select(
        least(col("sa"), col("sb")).as("split_x"),
        greatest(col("sa"), col("sb")).as("split_y"))
      .groupBy("split_x", "split_y")
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("leaks", col("split_x") =!= col("split_y"))
      .orderBy("split_x", "split_y")
  }

  /** DuckDB twin of [[semanticSplitLeakage]]. */
  def semanticSplitLeakageSql(threshold: Double = 0.3): String = {
    val bucket = graft.ml.HashSplit.hashBucketSql("vec_id", 100)
    s"""WITH p AS (${nearDupPairsSql(threshold)}),
       |sp AS (
       |  SELECT vec_id,
       |    CASE WHEN ($bucket) < 80 THEN 'train'
       |         WHEN ($bucket) < 90 THEN 'val' ELSE 'test' END AS split
       |  FROM embeddings)
       |SELECT LEAST(pa.split, pb.split) AS split_x,
       |  GREATEST(pa.split, pb.split) AS split_y,
       |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |  LEAST(pa.split, pb.split) <> GREATEST(pa.split, pb.split) AS leaks
       |FROM p
       |JOIN sp pa ON pa.vec_id = p.vec_a
       |JOIN sp pb ON pb.vec_id = p.vec_b
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  /** SQL twin of [[srpBanded]]: the banded-column list of the `b` CTE. */
  private[sim] def srpBandedSqlCols: String =
    (0 until SrpBands)
      .map(j => s"CAST(${srpBandSql("embedding", j)} AS INTEGER) AS band$j").mkString(",\n  ")

  /** SQL twin of [[srpPairCosines]]'s candidate union: per-band joins of
    * `leftFrom`/`rightFrom` (each a FROM-able fragment over the banded
    * `b` CTE), `UNION ALL`ed for the outer DISTINCT.
    */
  private[sim] def srpCandSql(leftFrom: String, rightFrom: String,
      leftId: String, rightId: String, extraOn: String): String =
    (0 until SrpBands).map(j =>
      s"SELECT x.vec_id AS $leftId, y.vec_id AS $rightId FROM $leftFrom x " +
        s"JOIN $rightFrom y ON x.band$j = y.band$j$extraOn")
      .mkString(" UNION ALL ")

  def nearDupPairsSql(threshold: Double = 0.3): String = {
    val sels = srpCandSql("b", "b", "vec_a", "vec_b", " AND x.vec_id < y.vec_id")
    s"""WITH $NORM_CTE,
       |b AS (SELECT *,
       |  $srpBandedSqlCols
       |FROM e),
       |cand AS (SELECT DISTINCT vec_a, vec_b FROM ($sels)),
       |p AS (SELECT c.vec_a, c.vec_b,
       |        (${dotSql("x.embedding", "y.embedding")}) / (sqrt(x.n2) * sqrt(y.n2)) AS cosine
       |      FROM cand c JOIN e x ON x.vec_id = c.vec_a JOIN e y ON y.vec_id = c.vec_b)
       |SELECT vec_a, vec_b, cosine FROM p WHERE cosine > $threshold
       |ORDER BY vec_a, vec_b""".stripMargin
  }

  /** Semantic decontamination: flag corpus documents whose embedding is
    * near a benchmark document's — the embedding-space complement of the
    * exact-shingle [[graft.dedup.Dedup.decontamination]] (paraphrased or
    * reformatted leakage that shares no 3-gram). The benchmark side is
    * carved deterministically (`vec_id % benchMod = 0`, a stand-in for a
    * real eval-set table). Candidates are CROSS-side SRP-band matches —
    * the same 6×10-bit banding as [[nearDupPairs]], but only
    * corpus×benchmark pairs survive, so the join output is bounded by
    * band-bucket collision mass against the (small) benchmark side, never
    * corpus×corpus. Exact cosine (fixed-associativity dot) verifies each
    * candidate; per corpus doc the report carries how many benchmark
    * neighbors cleared the threshold and the tightest match. The default
    * threshold is calibrated to the synthetic embeddings (max cross-side
    * cosine ~0.36), matching [[nearDupPairs]]; production data wants
    * ~0.9+. Recall
    * contract is the banding's, same as nearDupPairs (the oracle mirrors
    * the identical candidate generation).
    */
  def semanticDecontamination(embeddings: DataFrame, benchMod: Int = 20,
      threshold: Double = 0.3): DataFrame = {
    val e = srpBanded(embeddings)
      .withColumn("is_bench", col("vec_id") % benchMod === 0).persist()
    val bench = e.filter(col("is_bench"))
    val corpus = e.filter(!col("is_bench"))
    srpPairCosines(corpus, bench, "corpus_id", "bench_id", (_, _) => lit(true))
      .filter(col("cosine") >= threshold)
      .groupBy("corpus_id")
      .agg(count(lit(1)).as("n_matches"), max("cosine").as("max_cosine"))
      .orderBy("corpus_id")
  }

  def semanticDecontaminationSql(benchMod: Int = 20, threshold: Double = 0.3): String = {
    val sels = srpCandSql(
      "(SELECT * FROM b WHERE NOT is_bench)", "(SELECT * FROM b WHERE is_bench)",
      "corpus_id", "bench_id", "")
    s"""WITH $NORM_CTE,
       |b AS (SELECT *,
       |  $srpBandedSqlCols,
       |  (vec_id % $benchMod = 0) AS is_bench
       |FROM e),
       |cand AS (SELECT DISTINCT corpus_id, bench_id FROM ($sels)),
       |p AS (SELECT c.corpus_id,
       |        (${dotSql("x.embedding", "y.embedding")}) / (sqrt(x.n2) * sqrt(y.n2)) AS cosine
       |      FROM cand c JOIN e x ON x.vec_id = c.corpus_id JOIN e y ON y.vec_id = c.bench_id)
       |SELECT corpus_id, CAST(COUNT(*) AS BIGINT) AS n_matches, MAX(cosine) AS max_cosine
       |FROM p WHERE cosine >= $threshold GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** IVF ANN: k-means centroids as the trained coarse quantizer (the
    * production upgrade of [[bucketedTopK]]'s untrained sign-buckets).
    * Every vector is assigned to its nearest centroid; a query probes its
    * `nprobe` nearest cells and scores only those cells' members. Cell
    * populations track the data distribution — ~n/numCells per cell with
    * numCells chosen ~√n at scale — so the per-cell join stays sub-linear
    * in n, and nprobe trades recall for cost. Tie-breaks are pinned
    * everywhere (cell id on equal centroid distance, neighbor id on equal
    * cosine). Rows-only in the registry: k-means‖ centroids are not
    * SQL-expressible; the spec checks exact agreement with bruteForceTopK
    * on separated clusters plus cell balance on the testdata.
    */
  def ivfTopK(
      embeddings: DataFrame, nQueries: Int = 50, k: Int = 3,
      numCells: Int = 16, nprobe: Int = 2, seed: Long = 42L): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val spark = embeddings.sparkSession
    import spark.implicits._
    // cache scoped to the EAGER k-means fit (r14 sweep): the fit iterates
    // over e, so it caches under try/finally; the assigned frame both
    // join sides read re-derives lazily — a narrow model-broadcast map —
    // rather than holding a second leaked handle on the float corpus
    val e = withNorm(embeddings)
      .withColumn("features", array_to_vector(col("embedding")))
      .persist()
    val model =
      try new KMeans().setK(numCells).setSeed(seed)
        .setFeaturesCol("features").fit(e)
      finally e.unpersist(blocking = false)
    val assigned = model.transform(e)
      .select(col("vec_id"), col("embedding"), col("n2"),
        col("prediction").cast("int").as("cell"))
    val centroids = model.clusterCenters.zipWithIndex.toSeq
      .map { case (c, i) => (i, c.toArray) }.toDF("cell", "centroid")
    // nprobe nearest cells per query: the centroid table is numCells rows,
    // so the distance scan is a broadcast cross join, never a shuffle
    val q = assigned.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"), col("n2").as("qn2"))
    val qd = q.crossJoin(broadcast(centroids))
      .withColumn("d2", expr(
        "aggregate(zip_with(qe, centroid, (a, b) -> (CAST(a AS DOUBLE) - b) * (CAST(a AS DOUBLE) - b)), 0D, (acc, x) -> acc + x)"))
    val wp = Window.partitionBy("query_id").orderBy(col("d2"), col("cell"))
    val probes = qd.withColumn("pr", row_number().over(wp))
      .filter(col("pr") <= nprobe)
      .select("query_id", "qe", "qn2", "cell")
    val c = assigned.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("ce"), col("n2").as("cn2"), col("cell"))
    val scored = c.join(broadcast(probes), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", dot("qe", "ce") / (sqrt(col("qn2")) * sqrt(col("cn2"))))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("cell"), col("neighbor_id"), col("rank"), col("cosine"))
      .orderBy("query_id", "rank")
  }

  /** Product quantization top-k: the compression half of a production
    * IVF-PQ index ([[ivfTopK]] is the routing half). The Dim-dim vector
    * splits into `m` subvectors; each subspace trains its own k-means
    * codebook (`codebookSize` centroids, fixed seed, layout-pinned input
    * — MLlib init is partition-layout sensitive), and every vector is
    * encoded as `m` small integer codes: 64 floats (256 B) → 8 codes
    * (8 B here), a 32× compression, which is what lets a 100 TB corpus'
    * index live in cluster memory. Scoring is asymmetric (ADC): each
    * query precomputes an `m × codebookSize` lookup table of partial
    * squared distances to every sub-centroid, and a candidate's
    * approximate distance is m table reads + adds instead of Dim
    * multiplies — candidates are scanned compressed, never decoded.
    * Encoding is a pure codegen expression over driver-side centroid
    * literals (argmin over codebookSize per-subspace distances), not a
    * per-subspace transform/join chain. Rows-only in the registry
    * (k-means centroids are not SQL-expressible); the spec pins exact
    * agreement with the uncompressed L2 top-k on separated clusters.
    */
  /** Deterministic driver-side Lloyd's iteration for PQ codebooks:
    * init = evenly spaced points of the (vec_id-ordered) sample,
    * nearest-center assignment with lowest-index tie-break, empty
    * clusters keep their previous center. Pure double arithmetic in a
    * fixed order — byte-reproducible regardless of cluster layout.
    */
  private[sim] def lloyd(pts: Array[Array[Double]], k: Int, iters: Int = 20): Array[Array[Double]] = {
    val n = pts.length
    val d = pts.head.length
    val kk = math.min(k, n)
    var centers = Array.tabulate(kk)(t => pts(t * n / kk).clone())
    for (_ <- 0 until iters) {
      val sums = Array.fill(centers.length)(new Array[Double](d))
      val counts = new Array[Long](centers.length)
      var i = 0
      while (i < n) {
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < centers.length) {
          var dist = 0.0; var t = 0
          while (t < d) { val x = pts(i)(t) - centers(c)(t); dist += x * x; t += 1 }
          if (dist < bestD) { bestD = dist; best = c }
          c += 1
        }
        var t = 0
        while (t < d) { sums(best)(t) += pts(i)(t); t += 1 }
        counts(best) += 1
        i += 1
      }
      centers = centers.zipWithIndex.map { case (old, c) =>
        if (counts(c) == 0) old
        else Array.tabulate(d)(t => sums(c)(t) / counts(c))
      }
    }
    centers
  }

  /** The sample + per-subspace Lloyd's codebook fit of [[pqTopK]],
    * exposed on its own so the committed serving fixture
    * ([[PqFixture]]) can be regenerated ([[FixtureGen]]) and
    * staleness-checked against the data (FixtureSpec).
    *
    * Codebooks are KB-sized and train on a BOUNDED sample (the standard
    * product-quantization recipe: fit on ~10⁵ sampled vectors
    * in-memory, encode the full corpus distributed). The sample is the
    * first `sampleN` vectors in vec_id order — a pure function of the
    * data, so codebooks are byte-reproducible across any cluster
    * layout, and the driver does m tiny Lloyd's runs instead of m
    * iterative distributed fits (which cost more in job scheduling
    * than arithmetic at any scale).
    */
  def trainPqCodebooks(
      embeddings: DataFrame, m: Int = 8, codebookSize: Int = 16,
      sampleN: Int = 2048): Array[Array[Array[Double]]] = {
    require(Dim % m == 0, s"m=$m must divide Dim=$Dim")
    val subDim = Dim / m
    val sample: Array[Array[Float]] = withNorm(embeddings).orderBy("vec_id")
      .select("embedding").limit(sampleN)
      .collect().map(_.getSeq[Float](0).toArray)
    (0 until m).toArray.map { j =>
      val pts = sample.map(v => Array.tabulate(subDim)(i => v(j * subDim + i).toDouble))
      lloyd(pts, codebookSize)
    }
  }

  /** @param pinned when supplied, the codebooks are taken as a TRAINED
    *   MODEL ARTIFACT instead of being fit in-query — the production
    *   serving mode (PQ codebooks are trained offline once and frozen;
    *   every later corpus is encoded against them), and the operating
    *   point at which the whole encode + ADC pipeline is SQL-expressible
    *   and therefore oracle-checked (the registry passes [[PqFixture]];
    *   its provenance from [[trainPqCodebooks]] is spec-pinned). With
    *   `pinned = None` the codebooks are fit on the input itself — the
    *   train-time mode, exactness spec-asserted in KnnSpec.
    */
  /** Per-subspace LUT: squared distance of `embedding`'s j-th subvector
    * to every centroid of codebook j, via higher-order functions over
    * the codebook as a LITERAL nested array — a ~10-node expression with
    * runtime loops instead of the fully unrolled 16×subDim×3-node tree,
    * whose whole-stage codegen alone cost ~4.5 s of fixed overhead per
    * run (measured; results are byte-identical: zip_with walks dims in
    * index order and aggregate folds left exactly like the unrolled
    * reduceLeft, with 0.0 + t0 == t0 for the non-negative squares).
    * Shared by [[pqTopK]] and [[ivfPqTopK]].
    */
  private[sim] def pqLutArr(codebooks: Array[Array[Array[Double]]], j: Int): Column = {
    val subDim = Dim / codebooks.length
    val cb = typedLit(codebooks(j).map(_.toSeq).toSeq)
    val sub = slice(col("embedding"), j * subDim + 1, subDim)
    transform(cb, cen => aggregate(
      zip_with(sub, cen, (x, c) => { val t = x.cast("double") - c; t * t }),
      lit(0.0), (acc, e) => acc + e))
  }

  /** PQ code for subspace j = argmin over [[pqLutArr]] (first index on
    * ties — deterministic; array_position compares the min to itself, so
    * double equality is exact).
    */
  private[sim] def pqCodeCol(codebooks: Array[Array[Array[Double]]], j: Int): Column = {
    val a = pqLutArr(codebooks, j)
    (array_position(a, array_min(a)) - 1).cast("int")
  }

  def pqTopK(
      embeddings: DataFrame, nQueries: Int = 20, k: Int = 3,
      m: Int = 8, codebookSize: Int = 16, sampleN: Int = 2048,
      pinned: Option[Array[Array[Array[Double]]]] = None): DataFrame = {
    require(Dim % m == 0, s"m=$m must divide Dim=$Dim")
    // no corpus cache (r14): codebook training collects a BOUNDED sample
    // eagerly (driver-side Lloyd), and each serving side — codes for
    // candidates, LUTs for queries — is one narrow scan of its own.
    // Caching the 256 B/row float frame shared only the norm projection
    // and held a leaked handle on the raw corpus (VERDICT r13 item 7).
    val e = withNorm(embeddings)
    val codebooks: Array[Array[Array[Double]]] =
      pinned.getOrElse(trainPqCodebooks(e, m, codebookSize, sampleN))
    def lutArr(j: Int): Column = pqLutArr(codebooks, j)
    // code = argmin over the subspace's centroid distances (first index on
    // ties — deterministic; array_position compares the min to itself, so
    // double equality is exact)
    def codeCol(j: Int): Column = {
      val a = lutArr(j)
      (array_position(a, array_min(a)) - 1).cast("int")
    }
    val cand = (0 until m).foldLeft(
      e.select(col("vec_id").as("neighbor_id"), col("embedding"))) {
      (df, j) => df.withColumn(s"code$j", codeCol(j))
    }.drop("embedding")
    val q = (0 until m).foldLeft(
      e.filter(col("vec_id") < nQueries).select(col("vec_id").as("query_id"), col("embedding"))) {
      (df, j) => df.withColumn(s"lut$j", lutArr(j))
    }.drop("embedding")
    // ADC scan: broadcast the per-query LUTs over the compressed
    // candidate stream — m element_at reads per pair
    val adist = (0 until m)
      .map(j => element_at(col(s"lut$j"), col(s"code$j") + 1))
      .reduceLeft(_ + _)
    val scored = cand.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("adist", adist)
    val w = Window.partitionBy("query_id").orderBy(col("adist"), col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("adist"))
      .orderBy("query_id", "rank")
  }

  /** DuckDB twin of [[pqTopK]] at a pinned codebook (the serving
    * operating point): the centroids become literals, after which
    * encode — per-subspace argmin over unrolled (x−c)² sums, first
    * index on ties — and the ADC scan — per-pair sum of 16-way CASE
    * lookups into the query's own distance columns — are plain SQL
    * arithmetic, term-for-term in Spark's evaluation order (ascending
    * dims, left-associated sums, 0.0 + t₀ = t₀). The distance CTE `cd`
    * is shared by both sides of the join: a candidate's code_j is the
    * argmin over its d_j_c columns, and a query's LUT IS its d_j_c row.
    */
  def pqTopKSql(
      codebooks: Array[Array[Array[Double]]], nQueries: Int = 20,
      k: Int = 3): String = {
    val m = codebooks.length
    val subDim = Dim / m
    // centroid literals go through a VARCHAR→DOUBLE cast: a bare
    // 17-digit literal parses as DECIMAL(38,17), whose scaled integer
    // exceeds 2^53, so the decimal→double conversion DOUBLE-ROUNDS and
    // drifts a last ulp off the strtod value Spark's typedLit holds
    // (the SKILL decimal-ceiling gotcha, observed on ~7% of adist rows)
    def distExpr(j: Int, c: Int): String =
      (0 until subDim).map { t =>
        val x = s"CAST(embedding[${j * subDim + t + 1}] AS DOUBLE)"
        val cen = s"CAST('${codebooks(j)(c)(t)}' AS DOUBLE)"
        s"(($x - $cen) * ($x - $cen))"
      }.mkString(" + ")
    val nC = codebooks.head.length
    val cdCols = (for { j <- 0 until m; c <- 0 until nC }
      yield s"(${distExpr(j, c)}) AS d_${j}_$c").mkString(",\n    ")
    val mCols = (0 until m).map(j =>
      s"LEAST(${(0 until nC).map(c => s"d_${j}_$c").mkString(", ")}) AS m_$j")
      .mkString(",\n    ")
    val codeCols = (0 until m).map { j =>
      val whens = (0 until nC).map(c => s"WHEN d_${j}_$c = m_$j THEN $c").mkString(" ")
      s"CASE $whens END AS code_$j"
    }.mkString(",\n    ")
    val adist = (0 until m).map { j =>
      val whens = (0 until nC).map(c => s"WHEN $c THEN q.d_${j}_$c").mkString(" ")
      s"(CASE c.code_$j $whens END)"
    }.mkString(" + ")
    s"""WITH $NORM_CTE,
       |cd AS (
       |  SELECT vec_id,
       |    $cdCols
       |  FROM e),
       |cm AS (
       |  SELECT *,
       |    $mCols
       |  FROM cd),
       |codes AS (
       |  SELECT *,
       |    $codeCols
       |  FROM cm),
       |s AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    $adist AS adist
       |  FROM codes c JOIN codes q
       |    ON q.vec_id < $nQueries AND c.vec_id <> q.vec_id),
       |r AS (
       |  SELECT query_id, neighbor_id, adist,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS rn
       |  FROM s)
       |SELECT query_id, neighbor_id, CAST(rn AS INTEGER) AS "rank", adist
       |FROM r WHERE rn <= $k ORDER BY query_id, "rank"""".stripMargin
  }

  /** Per-label embedding statistics: count + norm aggregates (norms are
    * per-row deterministic doubles; min/max are order-independent).
    */
  def labelStats(embeddings: DataFrame): DataFrame =
    withNorm(embeddings)
      .withColumn("norm", sqrt(col("n2")))
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
        min("norm").as("min_norm"),
        max("norm").as("max_norm"))
      .orderBy("label")

  val labelStatsSql: String =
    s"""WITH $NORM_CTE
       |SELECT label, COUNT(*) AS n, MIN(sqrt(n2)) AS min_norm, MAX(sqrt(n2)) AS max_norm
       |FROM e GROUP BY 1 ORDER BY 1""".stripMargin

  /** The PCA basis [[pcaRecallPinned]] serves: a layout-pinned MLlib PCA
    * fit (the pin fixes covariance summation order, so the components are
    * byte-reproducible across cluster sizes), as `dimOut` rows of `Dim`
    * loadings plus the explained-variance sum — the serving fixture
    * [[PcaFixture]]'s provenance ([[FixtureGen]] writes it, FixtureSpec
    * pins it). Covariance is one treeAggregate pass (all-reduce, no data
    * shuffle); the eigendecomposition is a driver-side Dim×Dim solve.
    */
  def trainPcaBasis(
      embeddings: DataFrame, dimOut: Int = 16): (Array[Array[Double]], Double) = {
    import org.apache.spark.ml.feature.PCA
    import org.apache.spark.ml.functions.array_to_vector
    val e = withNorm(embeddings)
      .repartition(8, col("vec_id")).sortWithinPartitions("vec_id")
      .withColumn("features", array_to_vector(col("embedding")))
      .persist()
    try {
      val model = new PCA().setK(dimOut).setInputCol("features")
        .setOutputCol("pc").fit(e)
      val basis = Array.tabulate(dimOut)(kk =>
        Array.tabulate(Dim)(t => model.pc(t, kk)))
      (basis, model.explainedVariance.toArray.sum)
    } finally e.unpersist(blocking = false)
  }

  /** PCA shortlist + full-space rerank at a PINNED basis — the two-stage
    * ANN a reduced representation is actually used for at scale: project
    * 64-dim vectors to `basis.length` principal components, scan the
    * CHEAP reduced space for a `shortlistFactor × k` candidate shortlist
    * per query, then rerank only the shortlist with exact full-space
    * cosine. The reduced vectors are what a 100 TB deployment stores and
    * shuffles (dimOut/Dim of the bytes; the scan cost drops by the same
    * factor); the full vectors are touched for shortlist×k rows per
    * query, not n. Reported: variance kept and recall@k of the reranked
    * result against full-space brute force.
    *
    * The basis is a trained model artifact ([[trainPcaBasis]]: fit
    * offline, frozen, applied to every later corpus), and pinning it is
    * what makes the experiment SQL-expressible: the projection becomes
    * `dimOut` unrolled Σ xᵗ·bᵗ sums over basis literals (computed by our
    * own fold, not BLAS, so the arithmetic order is pinned), and every
    * downstream cosine already has a proven SQL twin. MLlib's PCA
    * transform is plain multiplication by the loading matrix (no
    * centering), so this is the trained projection with the basis
    * frozen. Projection is a narrow per-row matmul; the rerank join is
    * keyed by neighbor_id.
    *
    * The committed basis ([[PcaFixture]]) is fitted on the sf0.01
    * embeddings. On any other corpus `pca_recall` measures how well that
    * basis transfers, not what a basis fitted there reaches: on the
    * sf0.001 embeddings the sf0.01 basis reads recall@5 0.41, where a
    * basis fitted on sf0.001 itself clears 0.5.
    */
  def pcaRecallPinned(
      embeddings: DataFrame, basis: Array[Array[Double]],
      explainedVariance: Double, nQueries: Int = 50, k: Int = 5,
      shortlistFactor: Int = 8): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val dimOut = basis.length
    val e = withNorm(embeddings).persist()
    try {
      val bk = typedLit(basis.map(_.toSeq).toSeq)
      val red = e.select(col("vec_id"),
        transform(bk, b => aggregate(
          zip_with(col("embedding"), b, (x, bb) => x.cast("double") * bb),
          lit(0.0), (a, v) => a + v)).as("re"))
      val rdot = expr("aggregate(zip_with(qe, ce, (x, y) -> x * y), 0D, (a, x) -> a + x)")
      val qn = expr("aggregate(zip_with(qe, qe, (x, y) -> x * y), 0D, (a, x) -> a + x)")
      val cn = expr("aggregate(zip_with(ce, ce, (x, y) -> x * y), 0D, (a, x) -> a + x)")
      val q = red.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("re").as("qe"))
      val c = red.select(col("vec_id").as("neighbor_id"), col("re").as("ce"))
      val wr = Window.partitionBy("query_id").orderBy(col("rcos").desc, col("neighbor_id"))
      val shortlist = c.crossJoin(broadcast(q))
        .filter(col("neighbor_id") =!= col("query_id"))
        .withColumn("rcos", rdot / (sqrt(qn) * sqrt(cn)))
        .withColumn("srank", row_number().over(wr))
        .filter(col("srank") <= k * shortlistFactor)
        .select("query_id", "neighbor_id")
      // full-space rerank of the shortlist only: two keyed joins to pull
      // the exact vectors, one bounded per-query window
      val full = e.select(col("vec_id"), col("embedding"), col("n2"))
      val reranked = shortlist
        .join(full.select(col("vec_id").as("query_id"),
          col("embedding").as("qfe"), col("n2").as("qn2")), Seq("query_id"))
        .join(full.select(col("vec_id").as("neighbor_id"),
          col("embedding").as("cfe"), col("n2").as("cn2")), Seq("neighbor_id"))
        .withColumn("cosine", dot("qfe", "cfe") / (sqrt(col("qn2")) * sqrt(col("cn2"))))
        .withColumn("rank", row_number().over(
          Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))))
        .filter(col("rank") <= k)
        .select("query_id", "neighbor_id")
      val exact = bruteForceTopK(embeddings, nQueries, k)
        .select("query_id", "neighbor_id")
      val hits = reranked.join(exact, Seq("query_id", "neighbor_id")).count()
      val denom = exact.count()
      Seq((Dim, dimOut, k * shortlistFactor, explainedVariance, hits.toDouble / denom, denom))
        .toDF("dim_in", "dim_out", "shortlist", "explained_variance", "recall_at_k", "n_pairs")
    } finally e.unpersist(blocking = false)
  }

  /** DuckDB twin of [[pcaRecallPinned]]: unrolled projection sums in
    * Spark's fold order, reduced-space shortlist window, full-space
    * rerank on the proven fused dot, brute-force reference, one-row
    * recall summary. Basis literals ride VARCHAR→DOUBLE casts (the
    * DECIMAL double-rounding dodge, see [[pqTopKSql]]).
    */
  def pcaRecallPinnedSql(
      basis: Array[Array[Double]], explainedVariance: Double,
      nQueries: Int = 50, k: Int = 5, shortlistFactor: Int = 8): String = {
    val dimOut = basis.length
    def projExpr(kk: Int): String =
      (0 until Dim).map { t =>
        s"(CAST(embedding[${t + 1}] AS DOUBLE) * CAST('${basis(kk)(t)}' AS DOUBLE))"
      }.mkString(" + ")
    val prCols = (0 until dimOut).map(kk => s"(${projExpr(kk)}) AS re_$kk")
      .mkString(",\n    ")
    def rDot(a: String, b: String): String =
      (0 until dimOut).map(kk => s"$a.re_$kk * $b.re_$kk").mkString(" + ")
    def rN(a: String): String =
      (0 until dimOut).map(kk => s"$a.re_$kk * $a.re_$kk").mkString(" + ")
    s"""WITH $NORM_CTE,
       |pr AS (
       |  SELECT vec_id, embedding, n2,
       |    $prCols
       |  FROM e),
       |sl AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |        (${rDot("q", "c")}) / (sqrt(${rN("q")}) * sqrt(${rN("c")})) DESC,
       |        c.vec_id) AS srank
       |    FROM pr q JOIN pr c ON q.vec_id < $nQueries AND c.vec_id <> q.vec_id)
       |  WHERE srank <= ${k * shortlistFactor}),
       |rr AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT sl.query_id, sl.neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY sl.query_id ORDER BY
       |        (${dotSql("q.embedding", "c.embedding")}) / (sqrt(q.n2) * sqrt(c.n2)) DESC,
       |        sl.neighbor_id) AS rnk
       |    FROM sl JOIN pr q ON q.vec_id = sl.query_id
       |            JOIN pr c ON c.vec_id = sl.neighbor_id)
       |  WHERE rnk <= $k),
       |ex AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |        (${dotSql("q.embedding", "c.embedding")}) / (sqrt(q.n2) * sqrt(c.n2)) DESC,
       |        c.vec_id) AS rnk
       |    FROM e q JOIN e c ON q.vec_id < $nQueries AND c.vec_id <> q.vec_id)
       |  WHERE rnk <= $k),
       |h AS (SELECT COUNT(*) AS hits FROM rr JOIN ex USING (query_id, neighbor_id)),
       |d AS (SELECT COUNT(*) AS denom FROM ex)
       |SELECT CAST($Dim AS INTEGER) AS dim_in, CAST($dimOut AS INTEGER) AS dim_out,
       |  CAST(${k * shortlistFactor} AS INTEGER) AS shortlist,
       |  CAST('$explainedVariance' AS DOUBLE) AS explained_variance,
       |  CAST(h.hits AS DOUBLE) / CAST(d.denom AS DOUBLE) AS recall_at_k,
       |  CAST(d.denom AS BIGINT) AS n_pairs
       |FROM h CROSS JOIN d""".stripMargin
  }

  /** The trained k-means centroids [[semDedupKeepPinned]],
    * [[kmeansSizesPinned]] and the other pinned-centroid operators serve,
    * exposed so the committed serving fixture ([[SemDedupFixture]]) can
    * be regenerated ([[FixtureGen]]) and staleness-checked (FixtureSpec).
    * The input is normalized (cosine geometry lives on the unit sphere,
    * and raw-magnitude k-means would split a semantic group by scale
    * before direction) and layout-pinned (fixed-count hash repartition +
    * in-partition sort — MLlib init is layout-sensitive), so the
    * centroids are byte-identical across cluster layouts. Centroids live
    * in the NORMALIZED space the assignment runs in.
    */
  def trainSemDedupCentroids(
      embeddings: DataFrame, k: Int = 16, seed: Long = 42L): Array[Array[Double]] = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val e = withNorm(embeddings)
      .repartition(8, col("vec_id")).sortWithinPartitions("vec_id")
      .withColumn("features", array_to_vector(
        expr("transform(embedding, x -> CAST(x AS DOUBLE) / sqrt(n2))")))
      .persist()
    try {
      new KMeans().setK(k).setSeed(seed).setFeaturesCol("features").fit(e)
        .clusterCenters.map(_.toArray)
    } finally e.unpersist(blocking = false)
  }

  /** Shared pinned-centroid argmin assignment — the Scala side of
    * [[pinnedAssignSqlCtes]], extracted so the four pinned-serving
    * operators (semDedup prune, sizes, silhouette, cluster keywords)
    * can never drift from each other or from the SQL chain (r14
    * review): normalized vectors, per-centroid squared distances `ds`,
    * first-index-on-ties argmin `cell`. Narrow — no shuffle.
    */
  private[sim] def pinnedAssign(embeddings: DataFrame,
      centroids: Array[Array[Double]]): DataFrame = {
    val e = withNorm(embeddings)
      .withColumn("ne", expr("transform(embedding, x -> CAST(x AS DOUBLE) / sqrt(n2))"))
    val cb = typedLit(centroids.map(_.toSeq).toSeq)
    val dists = transform(cb, cen => aggregate(
      zip_with(col("ne"), cen, (x, c) => { val t = x - c; t * t }),
      lit(0.0), (acc, d) => acc + d))
    e.withColumn("ds", dists)
      .withColumn("cell",
        (array_position(col("ds"), array_min(col("ds"))) - 1).cast("int"))
  }

  /** SemDeDup-style semantic dedup at PINNED centroids: assign every
    * vector to its nearest committed cell, then prune within each cell —
    * a vector is DROPPED when some lower-id member of its own cell sits
    * above the cosine threshold, so each semantic-duplicate group keeps
    * exactly its minimum surviving id (pinned, deterministic tie-break).
    * This is the cluster-then-prune recipe that makes semantic dedup
    * tractable at corpus scale: the quadratic comparison never crosses
    * cell boundaries, so with the cell count grown ~n/1000 the per-cell
    * self-join stays bounded (~cell-size² per cell, embarrassingly
    * parallel across cells) instead of n² — the same reason [[ivfTopK]]
    * beats brute force. Complements [[nearDupPairs]] (LSH finds textual
    * near-copies at high cosine; trained clusters catch semantic
    * redundancy at lower thresholds where random-projection bands lose
    * recall).
    *
    * Centroids are a trained model artifact ([[trainSemDedupCentroids]]:
    * fit offline once, then every corpus batch is assigned and pruned
    * against the frozen cells), which is what makes the whole
    * assign-then-prune pipeline SQL-expressible and hence oracle-exact:
    * assignment is an argmin of plain (x−c)² arithmetic over centroid
    * literals (first index on ties, like the PQ encoder), cosine is the
    * fused [[graft.functions.DotProductFloat]] expression, and drop
    * decisions compare ids.
    */
  def semDedupKeepPinned(
      embeddings: DataFrame, centroids: Array[Array[Double]],
      tau: Double): DataFrame = {
    // persisted: the prune reads the assignment on both sides of the
    // self-join plus the final left join — without the cache, the
    // 16-centroid × 64-dim argmin subtree re-evaluates three times per
    // action (the frame is |corpus| × ~40 B, and Bench's between-rep
    // cleanup unpersists it)
    val assigned = pinnedAssign(embeddings, centroids)
      .select("vec_id", "embedding", "n2", "cell")
      .persist()
    val a = assigned.select(col("cell"), col("vec_id"),
      col("embedding").as("ea"), col("n2").as("na"))
    val b = assigned.select(col("cell"), col("vec_id").as("vec_b"),
      col("embedding").as("eb"), col("n2").as("nb"))
    val near = a.join(b, Seq("cell"))
      .filter(col("vec_b") < col("vec_id"))
      .withColumn("cosine", dot("ea", "eb") / (sqrt(col("na")) * sqrt(col("nb"))))
      .filter(col("cosine") >= tau)
      .groupBy("cell", "vec_id")
      .agg(min("vec_b").as("dup_of"), count(lit(1)).as("n_near"))
    assigned.select("vec_id", "cell")
      .join(near, Seq("cell", "vec_id"), "left")
      .select(
        col("vec_id"), col("cell"),
        col("dup_of").isNull.as("keep"),
        col("dup_of"),
        coalesce(col("n_near"), lit(0L)).as("n_near"))
      .orderBy("vec_id")
  }

  /** Shared CTE chain (`e` → `nv` → `cd` → `asg`) assigning every
    * vector to its nearest PINNED centroid: normalized vectors via
    * list_transform (elementwise — no summation-order seam), unrolled
    * per-centroid (x−c)² sums in Spark's fold order, LEAST +
    * first-match CASE argmin. VARCHAR→DOUBLE literal casts for the same
    * decimal double-rounding reason as pqTopKSql (a bare 17-digit
    * literal is DECIMAL(38,17)).
    */
  private[sim] def pinnedAssignSqlCtes(
      centroids: Array[Array[Double]], withSorted: Boolean = false): String = {
    val nC = centroids.length
    def distExpr(c: Int): String =
      (0 until Dim).map { t =>
        val cen = s"CAST('${centroids(c)(t)}' AS DOUBLE)"
        s"((ne[${t + 1}] - $cen) * (ne[${t + 1}] - $cen))"
      }.mkString(" + ")
    val dCols = (0 until nC).map(c => s"(${distExpr(c)}) AS d_$c").mkString(",\n    ")
    val least = s"LEAST(${(0 until nC).map(c => s"d_$c").mkString(", ")})"
    val cases = (0 until nC).map(c => s"WHEN d_$c = md THEN $c").mkString(" ")
    // optional: the full centroid-distance list, sorted ascending — the
    // silhouette oracle reads a = sd[1], b = sd[2] off it
    val sortedCol =
      if (withSorted)
        s",\n    list_sort([${(0 until nC).map(c => s"d_$c").mkString(", ")}]) AS sd"
      else ""
    s"""$NORM_CTE,
       |nv AS (
       |  SELECT vec_id, embedding, n2,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE) / sqrt(n2)) AS ne
       |  FROM e),
       |cd AS (
       |  SELECT vec_id, embedding, n2,
       |    $dCols
       |  FROM nv),
       |asg AS (
       |  SELECT vec_id, embedding, n2, CAST(CASE $cases END AS INTEGER) AS cell$sortedCol
       |  FROM (SELECT *, $least AS md FROM cd))""".stripMargin
  }

  /** DuckDB twin of [[semDedupKeepPinned]]: the [[pinnedAssignSqlCtes]]
    * assignment, then the standard pair-join prune with the proven fused
    * dot product.
    */
  def semDedupKeepPinnedSql(
      centroids: Array[Array[Double]], tau: Double): String = {
    s"""WITH ${pinnedAssignSqlCtes(centroids)},
       |p AS (
       |  SELECT a.cell, a.vec_id, b.vec_id AS vec_b,
       |    (${dotSql("a.embedding", "b.embedding")}) / (sqrt(a.n2) * sqrt(b.n2)) AS cosine
       |  FROM asg a JOIN asg b ON a.cell = b.cell AND b.vec_id < a.vec_id),
       |nears AS (
       |  SELECT cell, vec_id, MIN(vec_b) AS dup_of, COUNT(*) AS n_near
       |  FROM p WHERE cosine >= $tau GROUP BY 1, 2)
       |SELECT a.vec_id, a.cell, (n.dup_of IS NULL) AS keep, n.dup_of,
       |  CAST(COALESCE(n.n_near, 0) AS BIGINT) AS n_near
       |FROM asg a LEFT JOIN nears n ON n.cell = a.cell AND n.vec_id = a.vec_id
       |ORDER BY a.vec_id""".stripMargin
  }

  /** K-means cluster sizes + per-cluster norm range at PINNED
    * centroids — the IVF coarse-quantizer building block
    * ([[bucketedTopK]]'s sign-buckets are the degenerate no-training
    * version of these centroids), and the k-means family's oracle-exact
    * operating point: assignment is the same literal-centroid argmin as
    * [[semDedupKeepPinned]] (normalized space), and the per-cluster size
    * + norm-range rollup is plain aggregation (sqrt is IEEE
    * correctly-rounded, so min/max over sqrt(n2) are cross-engine exact).
    */
  def kmeansSizesPinned(
      embeddings: DataFrame, centroids: Array[Array[Double]]): DataFrame = {
    pinnedAssign(embeddings, centroids)
      .withColumnRenamed("cell", "cluster")
      .groupBy("cluster")
      .agg(count(lit(1)).as("n"),
        min(sqrt(col("n2"))).as("min_norm"),
        max(sqrt(col("n2"))).as("max_norm"))
      .orderBy("cluster")
  }

  def kmeansSizesPinnedSql(centroids: Array[Array[Double]]): String =
    s"""WITH ${pinnedAssignSqlCtes(centroids)}
       |SELECT cell AS cluster, COUNT(*) AS n,
       |  MIN(sqrt(n2)) AS min_norm, MAX(sqrt(n2)) AS max_norm
       |FROM asg GROUP BY 1 ORDER BY 1""".stripMargin

  /** Cluster LABELING at the pinned centroids (r14): top-k distinctive
    * terms per embedding cluster by cluster-level TF-IDF
    * (cluster-as-document, the sklearn-smoothed idf of
    * [[graft.text.TextOps.tfidfTopTerms]] with N = number of occupied
    * cells) — the "what is IN my clusters" report a curation pipeline
    * runs against its frozen cluster model before acting on per-cluster
    * decisions (SemDeDup pruning thresholds, mixture reweighting, topic
    * caps). Text arrives from the documents table joined 1:1 on
    * vec_id = doc_id (the testdata tables share the id space).
    *
    * Scale shape (r17): the argmin assignment is narrow; explode →
    * (cell,term) agg → df as a window count over term → per-cell window
    * over a frame bounded by cells × vocabulary, not corpus; the
    * cell-count frame broadcasts. (The r16 form computed df as a
    * separate groupBy joined back onto tf, re-running the
    * assignment-join + explode + tf subtree on the probe side — same
    * exact longs, one pass instead of two; the tfidfTopTerms rewrite.)
    * Determinism: tf/df are exact longs and ln over these rational
    * inputs is bit-identical cross-engine (the tfidfTopTerms contract);
    * ties break by term.
    */
  def clusterKeywords(embeddings: DataFrame, documents: DataFrame,
      centroids: Array[Array[Double]], k: Int = 5): DataFrame = {
    val asg = pinnedAssign(embeddings, centroids)
      .select(col("vec_id"), col("cell"))
    val tok = documents.join(asg, col("doc_id") === col("vec_id"))
      .select(col("cell"),
        explode(graft.text.TextOps.toks(col("text"))).as("term"))
    val tf = tok.groupBy("cell", "term").agg(count(lit(1)).as("tf"))
    val n = asg.agg(countDistinct(col("cell")).as("n_cells"))
    val scored = tf
      .withColumn("df", count(lit(1)).over(Window.partitionBy("term")))
      .crossJoin(broadcast(n))
      .withColumn("tfidf", col("tf").cast("double") *
        (log((lit(1.0) + col("n_cells")) / (lit(1.0) + col("df"))) + lit(1.0)))
    val w = Window.partitionBy("cell").orderBy(col("tfidf").desc, col("term"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("cell", "term", "tf", "df", "tfidf", "rank")
      .orderBy("cell", "rank")
  }

  /** DuckDB twin of [[clusterKeywords]]: the shared pinned-assignment
    * chain, then the exact tfidfTopTermsSql shape at cell grain.
    */
  def clusterKeywordsSql(centroids: Array[Array[Double]], k: Int = 5): String =
    s"""WITH ${pinnedAssignSqlCtes(centroids)},
       |tok AS (
       |  SELECT asg.cell,
       |    unnest(string_split_regex(trim(lower(d.text)), '\\s+')) AS term
       |  FROM documents d JOIN asg ON d.doc_id = asg.vec_id),
       |tf AS (SELECT cell, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
       |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
       |ncells AS (SELECT COUNT(DISTINCT cell) AS n_cells FROM asg),
       |scored AS (
       |  SELECT tf.cell, tf.term, tf.tf, df.df,
       |    CAST(tf.tf AS DOUBLE) * (ln((1.0 + ncells.n_cells) / (1.0 + df.df)) + 1.0) AS tfidf
       |  FROM tf JOIN df USING (term) CROSS JOIN ncells),
       |r AS (SELECT *,
       |  ROW_NUMBER() OVER (PARTITION BY cell ORDER BY tfidf DESC, term) AS rank
       |  FROM scored)
       |SELECT cell, term, tf, df, tfidf, rank FROM r WHERE rank <= $k
       |ORDER BY cell, rank""".stripMargin

  /** Per-cluster SIMPLIFIED SILHOUETTE at the same pinned centroids —
    * the cluster-quality report a pipeline runs against its frozen
    * cluster model. The classic silhouette needs all-pairs distances
    * (O(n²) — a non-starter at corpus scale); the simplified form
    * (Hruschka et al.) replaces mean-to-cluster distances with
    * point-to-CENTROID distances:
    *
    *   a = ‖x − c_own‖,  b = min_{c ≠ own} ‖x − c‖,
    *   s = (b − a) / max(a, b)            (0 when both are 0)
    *
    * — one narrow map over the corpus (the k-centroid distance list is
    * already computed for the argmin), no pairwise anything, so the
    * whole report is a single scan + one k-row aggregation at any
    * corpus size. Cross-engine exact: a and b come off the SAME sorted
    * distance list in both engines (ties collapse identically), sqrt
    * is IEEE correctly-rounded, the per-row s is one subtract/divide,
    * and the per-cluster mean rides detAvg's order-free decimal sum.
    */
  def kmeansSilhouettePinned(
      embeddings: DataFrame, centroids: Array[Array[Double]]): DataFrame = {
    val denom = greatest(col("a"), col("b"))
    pinnedAssign(embeddings, centroids)
      .withColumnRenamed("cell", "cluster")
      .withColumn("sd", array_sort(col("ds")))
      .withColumn("a", sqrt(element_at(col("sd"), 1)))
      .withColumn("b", sqrt(element_at(col("sd"), 2)))
      .withColumn("sil",
        when(denom === 0.0, lit(0.0)).otherwise((col("b") - col("a")) / denom))
      .groupBy("cluster")
      .agg(
        count(lit(1)).as("n"),
        graft.functions.Cols.detAvg(col("sil")).as("mean_sil"),
        min(col("sil")).as("min_sil"),
        max(col("sil")).as("max_sil"))
      .orderBy("cluster")
  }

  def kmeansSilhouettePinnedSql(centroids: Array[Array[Double]]): String =
    s"""WITH ${pinnedAssignSqlCtes(centroids, withSorted = true)},
       |sil AS (
       |  SELECT cell AS cluster,
       |    CASE WHEN GREATEST(sqrt(sd[1]), sqrt(sd[2])) = 0 THEN 0.0
       |         ELSE (sqrt(sd[2]) - sqrt(sd[1]))
       |              / GREATEST(sqrt(sd[1]), sqrt(sd[2])) END AS s
       |  FROM asg)
       |SELECT cluster, COUNT(*) AS n,
       |  CAST(SUM(CAST(s AS DECIMAL(28,6))) AS DOUBLE) / COUNT(s) AS mean_sil,
       |  MIN(s) AS min_sil, MAX(s) AS max_sil
       |FROM sil GROUP BY 1 ORDER BY 1""".stripMargin

  /** Hybrid lexical+semantic retrieval fused by Reciprocal Rank Fusion —
    * the standard two-tower retrieval shape (BM25 candidates ∪ dense
    * candidates, RRF re-rank): per query, the BM25 top-`candK` over
    * `documents` and the cosine top-`candK` over `embeddings` (anchor =
    * the query's own vector, vec_id = query_id — the 1:1 doc↔vec id
    * mapping of the testdata) full-outer-join on (query, doc) and score
    *
    *   rrf = Σ_leg 1 / (rrfK + rank_leg)     (absent leg contributes 0),
    *
    * top-`k` by fused score, doc_id tie-break. Cross-engine exact: both
    * rank terms are integer-denominator double divisions summed in fixed
    * (lex, sem) order, and the cosine leg rides the same fused-loop dot
    * product every other Knn oracle proves bit-identical.
    *
    * Scale notes: both legs are already bounded — BM25's query terms
    * broadcast into the token stream and top-k is a bounded heap; the
    * dense leg broadcasts the |queries|-row anchor set against one
    * candidate scan. Fusion joins two (|queries| × candK)-row frames —
    * trivially broadcastable at any corpus size. At corpus scale the
    * dense leg swaps brute force for [[ivfTopK]]/[[bucketedTopK]]
    * candidates; the fusion tail is unchanged.
    */
  def hybridSearchRrf(
      documents: DataFrame, embeddings: DataFrame,
      queries: Seq[(Int, String)] = graft.text.TextOps.Bm25Queries,
      k: Int = 10, candK: Int = 20, rrfK: Int = 60): DataFrame = {
    val lex = graft.text.TextOps.searchBm25(documents, queries, k = candK)
      .select(col("query_id"), col("doc_id"), col("rank").as("lex_rank"))
    val e = withNorm(embeddings)
    val q = e.filter(col("vec_id").isInCollection(queries.map(_._1)))
      .select(col("vec_id").cast("int").as("query_id"),
        col("embedding").as("qe"), col("n2").as("qn2"))
    val c = e.select(col("vec_id").as("doc_id"),
      col("embedding").as("ce"), col("n2").as("cn2"))
    val ws = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("doc_id"))
    val sem = c.crossJoin(broadcast(q))
      .filter(col("doc_id") =!= col("query_id"))
      .withColumn("cosine", dot("qe", "ce") / (sqrt(col("qn2")) * sqrt(col("cn2"))))
      .withColumn("sem_rank", row_number().over(ws).cast("long"))
      .filter(col("sem_rank") <= candK)
      .select("query_id", "doc_id", "sem_rank")
    val wf = Window.partitionBy("query_id").orderBy(col("rrf_score").desc, col("doc_id"))
    lex.join(sem, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf_score",
        coalesce(lit(1.0) / (lit(rrfK) + col("lex_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK) + col("sem_rank")), lit(0.0)))
      .withColumn("rrf_rank", row_number().over(wf).cast("long"))
      .filter(col("rrf_rank") <= k)
      .select("query_id", "doc_id", "lex_rank", "sem_rank", "rrf_score", "rrf_rank")
      .orderBy("query_id", "rrf_rank")
  }

  /** DuckDB twin of [[hybridSearchRrf]] (the BM25 leg nests
    * TextOps.searchBm25Sql verbatim as a subquery).
    */
  def hybridSearchRrfSql(
      queries: Seq[(Int, String)] = graft.text.TextOps.Bm25Queries,
      k: Int = 10, candK: Int = 20, rrfK: Int = 60): String = {
    val qids = queries.map(_._1).mkString(", ")
    s"""WITH lex AS (
       |  SELECT query_id, doc_id, rank AS lex_rank
       |  FROM (${graft.text.TextOps.searchBm25Sql(queries, k = candK)})),
       |$NORM_CTE,
       |qv AS (SELECT CAST(vec_id AS INTEGER) AS query_id, embedding AS qe, n2 AS qn2
       |       FROM e WHERE vec_id IN ($qids)),
       |sc AS (SELECT qv.query_id, c.vec_id AS doc_id,
       |         (${dotSql("qv.qe", "c.embedding")}) / (sqrt(qv.qn2) * sqrt(c.n2)) AS cosine
       |       FROM qv, e c WHERE c.vec_id <> qv.query_id),
       |sem AS (SELECT query_id, doc_id,
       |          CAST(ROW_NUMBER() OVER (
       |            PARTITION BY query_id ORDER BY cosine DESC, doc_id) AS BIGINT) AS sem_rank
       |        FROM sc QUALIFY sem_rank <= $candK),
       |f AS (SELECT COALESCE(l.query_id, s.query_id) AS query_id,
       |        COALESCE(l.doc_id, s.doc_id) AS doc_id,
       |        l.lex_rank, s.sem_rank,
       |        COALESCE(CAST(1 AS DOUBLE) / ($rrfK + l.lex_rank), CAST(0 AS DOUBLE))
       |          + COALESCE(CAST(1 AS DOUBLE) / ($rrfK + s.sem_rank), CAST(0 AS DOUBLE)) AS rrf_score
       |      FROM lex l FULL OUTER JOIN sem s
       |        ON l.query_id = s.query_id AND l.doc_id = s.doc_id)
       |SELECT query_id, doc_id, lex_rank, sem_rank, rrf_score,
       |  CAST(ROW_NUMBER() OVER (
       |    PARTITION BY query_id ORDER BY rrf_score DESC, doc_id) AS BIGINT) AS rrf_rank
       |FROM f QUALIFY rrf_rank <= $k
       |ORDER BY query_id, rrf_rank""".stripMargin
  }

  /** Quantum for centroid-coordinate squares: a 1e-12 grid stored as
    * scaled BIGINTs so the 64-term ‖centroid‖² sum is an order-free
    * integer sum (the mockflow bucket-weight pattern — a double sum of 64
    * per-dimension terms would re-introduce summation-order ulps between
    * the engines' unordered GROUP BY folds).
    */
  private[sim] val DivScale = 1000000000000L

  /** Per-group embedding diversity — the curation signal diversity-aware
    * sampling and SemDeDup-style pruning act on (a group whose vectors
    * collapse onto their centroid carries near-duplicate content; one
    * with high spread is information-rich). Exact variance decomposition,
    * no pair enumeration:
    *
    *   diversity = E‖x‖² − ‖E[x]‖²   (total variance about the centroid)
    *   E‖x−y‖²  = 2·n/(n−1)·diversity over distinct pairs
    *
    * so the all-pairs mean distance comes from two aggregates. Scale
    * shape: one 64-way posexplode with map-side combine onto (label,
    * dim) — key space |labels|×64 however big the corpus — one
    * label-keyed agg for norms, and a labels-sized join; nothing
    * pairwise anywhere.
    *
    * Cross-engine exactness: per-row squared norms are the proven fused
    * dot product (bit-identical); components and norms are rounded to
    * 6 dp before the associative decimal sums; per-dimension means and
    * their squares are then identical double bits, and the final
    * 64-term centroid-norm sum crosses the engines as scaled-BIGINT
    * integers ([[DivScale]]).
    */
  def embeddingDiversity(embeddings: DataFrame): DataFrame = {
    val e = withNorm(embeddings)
    val perDim = e
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "comp")))
      .groupBy("label", "dim")
      .agg(
        graft.functions.Cols.detSum(round(col("comp").cast("double"), 6)).as("s1"),
        count(lit(1)).as("n"))
      .withColumn("mean_d", col("s1") / col("n"))
      .withColumn("q",
        round(col("mean_d") * col("mean_d") * DivScale).cast("long"))
    val centroid = perDim.groupBy("label")
      .agg((sum(col("q")).cast("double") / DivScale).as("centroid_sq_norm"))
    val norms = e.groupBy("label")
      .agg(
        count(lit(1)).as("n_vectors"),
        (graft.functions.Cols.detSum(round(col("n2"), 6)) / count(lit(1)))
          .as("avg_sq_norm"))
    norms.join(centroid, Seq("label"))
      .withColumn("diversity", col("avg_sq_norm") - col("centroid_sq_norm"))
      .select(col("label"), col("n_vectors"), col("avg_sq_norm"),
        col("centroid_sq_norm"), col("diversity"),
        when(col("n_vectors") > 1,
          lit(2.0) * col("n_vectors") / (col("n_vectors") - lit(1.0)) *
            col("diversity")).as("mean_pairwise_sq_dist"))
      .orderBy("label")
  }

  /** DuckDB twin of [[embeddingDiversity]]: the 64-way explode is a
    * lateral range(1,65), everything else mirrors term for term.
    */
  def embeddingDiversitySql: String =
    s"""WITH $NORM_CTE,
       |pd AS (
       |  SELECT label, i,
       |    CAST(SUM(CAST(round(CAST(embedding[i] AS DOUBLE), 6)
       |                  AS DECIMAL(28,6))) AS DOUBLE) AS s1,
       |    COUNT(*) AS n
       |  FROM e, range(1, ${Dim + 1}) t(i)
       |  GROUP BY 1, 2),
       |cen AS (
       |  SELECT label,
       |    CAST(SUM(CAST(round((s1 / n) * (s1 / n) * $DivScale) AS BIGINT))
       |         AS DOUBLE) / $DivScale AS centroid_sq_norm
       |  FROM pd GROUP BY 1),
       |nm AS (
       |  SELECT label, COUNT(*) AS n_vectors,
       |    CAST(SUM(CAST(round(n2, 6) AS DECIMAL(28,6))) AS DOUBLE)
       |      / COUNT(*) AS avg_sq_norm
       |  FROM e GROUP BY 1)
       |SELECT nm.label, n_vectors, avg_sq_norm, centroid_sq_norm,
       |  avg_sq_norm - centroid_sq_norm AS diversity,
       |  CASE WHEN n_vectors > 1
       |       THEN 2.0 * n_vectors / (n_vectors - 1.0)
       |            * (avg_sq_norm - centroid_sq_norm) END
       |    AS mean_pairwise_sq_dist
       |FROM nm JOIN cen USING (label)
       |ORDER BY label""".stripMargin

}
