package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.text.TextOps.{hexVal, hexValSql, toksSql}

/** Deterministic hash-based dataset splitting and stratified sampling —
  * how a training-data pipeline assigns every example to
  * train/validation/test (and draws reproducible subsamples) WITHOUT a
  * global shuffle, a stored assignment table, or any RNG state.
  *
  * The assignment is a pure function of the key: bucket =
  * int(md5(key)[0:6 hex]) % 100. That makes it (a) embarrassingly
  * parallel — a narrow projection, no shuffle, no coordination across
  * 1000 executors; (b) stable under reruns, repartitioning, and
  * incremental appends (new rows land in the same split forever — the
  * property `randomSplit` does NOT have); (c) joinable — any derived
  * table (embeddings, labels) splits identically by hashing the same key.
  *
  * Cross-engine determinism: the hex→int conversion is explicit ascii
  * arithmetic (TextOps.hexVal) rather than an engine-specific
  * parse-hex builtin, so DuckDB reproduces the buckets bit-for-bit.
  */
object HashSplit {

  /** First 6 hex digits of md5(key) as a long in [0, 2²⁴), mod nBuckets.
    * 6 digits keep the arithmetic in small-integer range in every engine
    * while leaving bucket-occupancy skew < 0.1% for nBuckets ≤ 1000.
    */
  def hashBucket(key: Column, nBuckets: Int): Column = {
    val h = md5(key.cast("string"))
    (0 until 6)
      .map(j => hexVal(substring(h, j + 1, 1)).cast("long") * lit(1L << (4 * (5 - j))))
      .reduce(_ + _) % nBuckets
  }

  /** DuckDB twin of [[hashBucket]] over an expression `key`. */
  def hashBucketSql(key: String, nBuckets: Int): String = {
    val h = s"md5(CAST($key AS VARCHAR))"
    val v = (0 until 6)
      .map(j => s"CAST(${hexValSql(s"substr($h, ${j + 1}, 1)")} AS BIGINT) * ${1L << (4 * (5 - j))}")
      .mkString(" + ")
    s"(($v) % $nBuckets)"
  }

  /** Per-document split assignment: bucket ∈ [0,100), train < 80 ≤ val
    * < 90 ≤ test. Narrow (shuffle-free) — the ORDER BY is presentation
    * only.
    */
  def splitAssign(documents: DataFrame): DataFrame = {
    val b = hashBucket(col("doc_id"), 100)
    documents.select(
      col("doc_id"),
      b.as("bucket"),
      splitOf(b).as("split"))
      .orderBy("doc_id")
  }

  val splitAssignSql: String = {
    val b = hashBucketSql("doc_id", 100)
    s"""SELECT doc_id, $b AS bucket,
       |  ${splitSql(b)} AS split
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** The 80/10/10 split rule over a bucket in [0, 100): train < 80 ≤ val
    * < 90 ≤ test. Every split assignment (per document, per near-dup
    * cluster, per vector) applies this one rule.
    */
  private[graft] def splitOf(bucket: Column): Column =
    when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")

  /** DuckDB twin of [[splitOf]] over a bucket expression. */
  private[graft] def splitSql(bucket: String): String =
    s"CASE WHEN $bucket < 80 THEN 'train' WHEN $bucket < 90 THEN 'val' ELSE 'test' END"

  /** Split-leakage rollup: each pair of `pairs` (`<key>_a`, `<key>_b`)
    * gets the split of both ends — the [[splitOf]] rule over the
    * `<key>_id` hash bucket of `ids` — and the pairs are counted per
    * unordered split pair; `leaks` marks the cross-split rows. The
    * splits frame is a narrow projection, so this is two id-keyed joins
    * of the pair frame and a |splits|²-bounded aggregate.
    */
  private[graft] def leakRollup(pairs: DataFrame, ids: DataFrame, key: String): DataFrame = {
    val id = s"${key}_id"
    val sp = ids.select(col(id), splitOf(hashBucket(col(id), 100)).as("split"))
    pairs
      .join(sp.select(col(id).as(s"${key}_a"), col("split").as("sa")), Seq(s"${key}_a"))
      .join(sp.select(col(id).as(s"${key}_b"), col("split").as("sb")), Seq(s"${key}_b"))
      .select(
        least(col("sa"), col("sb")).as("split_x"),
        greatest(col("sa"), col("sb")).as("split_y"))
      .groupBy("split_x", "split_y")
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("leaks", col("split_x") =!= col("split_y"))
      .orderBy("split_x", "split_y")
  }

  /** DuckDB twin of [[leakRollup]] over the `pairs` CTE and the `table`
    * relation: an `sp` CTE and the final SELECT that finish a WITH chain.
    */
  private[graft] def leakRollupSql(pairs: String, table: String, key: String): String = {
    val id = s"${key}_id"
    s"""sp AS (SELECT $id, ${splitSql(hashBucketSql(id, 100))} AS split FROM $table)
       |SELECT LEAST(pa.split, pb.split) AS split_x,
       |  GREATEST(pa.split, pb.split) AS split_y,
       |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |  LEAST(pa.split, pb.split) <> GREATEST(pa.split, pb.split) AS leaks
       |FROM $pairs p
       |JOIN sp pa ON pa.$id = p.${key}_a
       |JOIN sp pb ON pb.$id = p.${key}_b
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  /** Stratified deterministic sample: keep `pct`% of each stratum (here
    * `lang`), by hashing (stratum, key) so (a) the draw is independent
    * across strata and (b) changing the rate only ever grows/shrinks the
    * kept set monotonically. Narrow filter — no shuffle, no sampleBy
    * RNG.
    */
  def stratifiedSample(documents: DataFrame, pct: Int = 30): DataFrame = {
    val b = hashBucket(concat(col("lang"), lit("|"), col("doc_id").cast("string")), 100)
    documents
      .filter(b < pct)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy("doc_id")
  }

  def stratifiedSampleSql(pct: Int = 30): String = {
    val b = hashBucketSql("lang || '|' || CAST(doc_id AS VARCHAR)", 100)
    s"""SELECT doc_id, lang, source, n_chars FROM documents
       |WHERE $b < $pct ORDER BY doc_id""".stripMargin
  }

  /** Deterministic weighted sampling WITHOUT replacement (Efraimidis–
    * Spirakis A-ES): each row gets key = ln(u)/w with u a hash-derived
    * uniform and w its positive weight (here n_chars — "sample k docs
    * with probability ∝ length", the shape a quality- or domain-weighted
    * corpus draw takes); the sample is the top-k keys. Distributed cost
    * is one narrow projection + a bounded TakeOrdered (per-partition
    * heaps merged on the driver, no global sort) — the textbook
    * one-pass distributed weighted sample.
    *
    * Determinism: u comes from the md5 bucket (rerun-, layout- and
    * append-stable — appends can only displace, never reshuffle,
    * existing keys), and the key rounds to 9 decimals so both engines'
    * ln() land on the same double; ties break by doc_id.
    *
    * Precondition: weights must be strictly positive (A-ES is undefined
    * otherwise — w=0 gives key −Inf, w<0 flips the ranking), so rows
    * with n_chars ≤ 0 are excluded from the draw here and in the twin.
    */
  def weightedSample(documents: DataFrame, k: Int = 100): DataFrame = {
    val u = (hashBucket(col("doc_id"), 1 << 24).cast("double") + 0.5) / (1 << 24).toDouble
    documents
      .filter(col("n_chars") > 0)
      .withColumn("samp_key", round(log(u) / col("n_chars").cast("double"), 9))
      .orderBy(col("samp_key").desc, col("doc_id"))
      .limit(k)
      .select("doc_id", "source", "n_chars", "samp_key")
  }

  def weightedSampleSql(k: Int = 100): String = {
    val b = hashBucketSql("doc_id", 1 << 24)
    s"""WITH h AS (
       |  SELECT doc_id, source, n_chars,
       |    (($b) + 0.5) / 16777216.0 AS u
       |  FROM documents WHERE n_chars > 0)
       |SELECT doc_id, source, n_chars, round(ln(u) / n_chars, 9) AS samp_key
       |FROM h ORDER BY samp_key DESC, doc_id LIMIT $k""".stripMargin
  }

  /** Deterministic mixture resampling — materialize the copy list that
    * realizes [[graft.text.TextOps.domainMixture]]'s uniform-target
    * weights: every document appears `floor(w)` times plus one more copy
    * iff its hash bucket falls under the fractional part (so a source
    * with weight 2.3 upsamples ×2 everywhere and ×3 for a deterministic
    * 30% of its docs; weight 0.6 keeps a deterministic 60%). No RNG —
    * rerun-, layout- and append-stable like every sampler here. The
    * weights frame is domains-sized, so the join broadcasts; the copy
    * fan-out is a narrow per-row sequence explode.
    */
  def mixtureResample(documents: DataFrame): DataFrame = {
    val weights = graft.text.TextOps.domainMixture(documents)
      .select(col("source"), col("resample_weight"))
    val whole = floor(col("resample_weight"))
    val frac = col("resample_weight") - whole
    val extra = when(
      hashBucket(col("doc_id"), 1000).cast("double") < frac * 1000.0, 1L)
      .otherwise(0L)
    documents.join(broadcast(weights), "source")
      .withColumn("n_copies", whole + extra)
      .withColumn("copy_idx",
        explode(when(col("n_copies") > 0, sequence(lit(1L), col("n_copies")))
          .otherwise(array().cast("array<long>"))))
      .select(col("doc_id"), col("source"),
        col("copy_idx").cast("int").as("copy_idx"), col("n_copies"))
      .orderBy("doc_id", "copy_idx")
  }

  /** DuckDB twin of [[mixtureResample]] (inlines the domain-mixture
    * weight expression so both engines derive w identically).
    */
  val mixtureResampleSql: String = {
    val b = hashBucketSql("doc_id", 1000)
    raw"""WITH per AS (
       |  SELECT source, COUNT(*) AS n_docs,
       |    CAST(SUM(len(${toksSql()})) AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY 1),
       |tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens, COUNT(*) AS n_sources FROM per),
       |w AS (SELECT source,
       |  (CAST(total_tokens AS DOUBLE) / n_sources) / n_tokens AS resample_weight
       |  FROM per, tot),
       |j AS (SELECT d.doc_id, d.source,
       |  CAST(floor(resample_weight) AS BIGINT)
       |    + CASE WHEN CAST($b AS DOUBLE) < (resample_weight - floor(resample_weight)) * 1000.0
       |           THEN 1 ELSE 0 END AS n_copies
       |  FROM documents d JOIN w USING (source))
       |SELECT doc_id, source,
       |  CAST(unnest(generate_series(1, n_copies)) AS INTEGER) AS copy_idx, n_copies
       |FROM j ORDER BY doc_id, copy_idx""".stripMargin
  }

  /** Deterministic seeded corpus shuffle — the training-order
    * permutation a pipeline applies before sharding, so batch order is
    * decorrelated from ingestion order without any RNG state: sort by
    * `md5(seed || '|' || doc_id)` (hash order is an arbitrary-but-fixed
    * permutation; a new seed is a new permutation; appends never move
    * existing keys relative to each other). The dense 0-based position
    * comes from [[graft.rel.Scale.globalIndex]]'s range-repartition +
    * zipWithIndex machinery — never a single-partition ROW_NUMBER —
    * with doc_id as the total-order tiebreak. Like every sampler here:
    * rerun- and layout-stable, oracle-exact.
    */
  def corpusShuffle(documents: DataFrame, seed: Long = 42): DataFrame =
    graft.rel.Scale.globalIndex(
      documents.select(col("doc_id"), col("source"),
        md5(concat(lit(seed.toString), lit("|"), col("doc_id").cast("string")))
          .as("shuffle_key")),
      Seq("shuffle_key", "doc_id"), partitions = 32)
      .withColumnRenamed("global_idx", "shuffle_pos")
      .orderBy("shuffle_pos")

  /** DuckDB twin of [[corpusShuffle]]. */
  def corpusShuffleSql(seed: Long = 42): String =
    s"""SELECT doc_id, source,
       |  md5(concat('$seed', '|', CAST(doc_id AS VARCHAR))) AS shuffle_key,
       |  CAST(ROW_NUMBER() OVER (
       |    ORDER BY md5(concat('$seed', '|', CAST(doc_id AS VARCHAR))), doc_id) - 1
       |    AS BIGINT) AS shuffle_pos
       |FROM documents ORDER BY shuffle_pos""".stripMargin

  /** Curriculum training order: best-quality-first with randomness
    * WITHIN each quality band. Documents are ranked into exact quality
    * tiers ([[graft.rel.Scale.ntileExact]] — distributed, never a
    * single-partition NTILE window), the highest tier is scheduled
    * first, and inside a tier the order is a seeded md5 permutation
    * (same determinism contract as [[corpusShuffle]]: rerun-,
    * append-position- and layout-stable). The dense 0-based position
    * comes from the range-repartition global index over
    * (tier-rank, shuffle_key, doc_id) — a total order by construction.
    */
  def curriculumOrder(
      documents: DataFrame, tiers: Int = 10, seed: Long = 42): DataFrame = {
    val scored = documents.select(col("doc_id"),
      graft.text.TextOps.qualityScore(col("text")).as("quality_score"))
    val tiered = graft.rel.Scale
      .ntileExact(scored, tiers, Seq("quality_score", "doc_id"))
      .select(col("doc_id"), col("tier"),
        (lit(tiers) - col("tier")).as("tier_rank"),
        md5(concat(lit(seed.toString), lit("|"), col("doc_id").cast("string")))
          .as("shuffle_key"))
    graft.rel.Scale.globalIndex(
      tiered, Seq("tier_rank", "shuffle_key", "doc_id"), partitions = 32)
      .select(col("doc_id"), col("tier").cast("int").as("tier"),
        col("global_idx").as("curriculum_pos"))
      .orderBy("doc_id")
  }

  /** DuckDB twin of [[curriculumOrder]]. */
  def curriculumOrderSql(
      tiers: Int = 10, seed: Long = 42, scoreExpr: String): String =
    s"""WITH s AS (SELECT doc_id, $scoreExpr AS quality_score FROM documents),
       |t AS (SELECT doc_id,
       |        NTILE($tiers) OVER (ORDER BY quality_score, doc_id) AS tier
       |      FROM s),
       |k AS (SELECT doc_id, tier,
       |        md5(concat('$seed', '|', CAST(doc_id AS VARCHAR))) AS sk
       |      FROM t)
       |SELECT doc_id, CAST(tier AS INTEGER) AS tier,
       |  CAST(ROW_NUMBER() OVER (ORDER BY $tiers - tier, sk, doc_id) - 1
       |    AS BIGINT) AS curriculum_pos
       |FROM k ORDER BY doc_id""".stripMargin
}
