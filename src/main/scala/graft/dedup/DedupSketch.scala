package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.text.TextOps

/** Sketching layer of the dedup family: exact hash groups, shingles, MinHash signatures, LSH band pairs + calibration, n-gram Jaccard / containment / leakage verification, SimHash banding.
  * Split out of the former Dedup.scala monolith (r16) with zero
  * behavior change; mixed into [[Dedup]].
  */
private[graft] trait DedupSketch extends Serializable {
  private[dedup] val NumHashes = 8
  private[dedup] val Bands = 4 // 2 hashes per band

  /** Exact dedup groups: md5 of raw text → representative (min doc_id) +
    * multiplicity. `filter(n > 1)` of this is the dup report; the full
    * frame doubles as the dedup-keep list.
    */
  def exact(documents: DataFrame): DataFrame =
    documents
      .groupBy(md5(col("text")).as("content_md5"))
      .agg(min("doc_id").as("keep_doc_id"), count(lit(1)).as("n_copies"))
      .orderBy("content_md5")

  val exactSql: String =
    """SELECT md5(text) AS content_md5, MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  /** Keep-first by content: each row's rank among the rows with its
    * exact text, lowest doc_id first — rank 1 is the copy every exact
    * dedup keeps (min doc_id wins, not "whichever partition arrives
    * first").
    */
  private[dedup] def firstByContent: Column =
    row_number().over(Window.partitionBy(md5(col("text"))).orderBy(col("doc_id")))

  /** DuckDB twin of [[firstByContent]] over a relation with `text` and `doc_id`. */
  private[dedup] val FIRST_BY_CONTENT_SQL =
    "ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id)"

  /** doc_id → exploded 3-word shingles (docs with ≥3 tokens). */
  def shingles(documents: DataFrame): DataFrame =
    documents
      .withColumn("w", TextOps.toks(col("text")))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(w) - 2), i -> concat_ws(' ', w[i-1], w[i], w[i+1]))"))
        .as("shingle"))

  /** Distinct (doc_id, shingle) + its md5 — the single hashed-shingle
    * lineage every MinHash/Jaccard stage derives from. Distinct BEFORE
    * hashing so duplicate shingles within a doc are hashed once (the
    * MinHash min over distinct shingles equals the min over all).
    */
  def hashedShingles(documents: DataFrame): DataFrame =
    shingles(documents).distinct().withColumn("h", md5(col("shingle")))

  private[dedup] val RAW_SHINGLES_CTE =
    s"""toks AS (SELECT doc_id, ${TextOps.toksSql()} AS w FROM documents),
      |sh AS (SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
      |       FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i FROM toks))""".stripMargin

  private[dedup] val SHINGLES_CTE =
    s"""$RAW_SHINGLES_CTE,
       |hs AS (SELECT doc_id, shingle, md5(shingle) AS h
       |       FROM (SELECT DISTINCT doc_id, shingle FROM sh))""".stripMargin

  /** All n-gram span starts: (doc_id, start position i, gram hash) — the
    * one n-gram hasher, shared by span dedup and the n-gram
    * decontamination report.
    */
  private[dedup] def spanStarts(documents: DataFrame, n: Int): DataFrame = {
    val w = TextOps.toks(col("text"))
    documents.select(col("doc_id"), w.as("w"))
      .withColumn("i", explode(
        when(size(col("w")) >= n, sequence(lit(1), size(col("w")) - (n - 1)))
          .otherwise(array().cast("array<int>"))))
      .select(col("doc_id"), col("i"),
        md5(array_join(slice(col("w"), col("i"), lit(n)), " ")).as("h"))
  }

  /** SQL twin of [[spanStarts]]: `toks` (doc_id, w) and `gs` (doc_id, i, h). */
  private[dedup] def gramHashSqlCtes(n: Int): String =
    raw"""toks AS (SELECT doc_id, ${TextOps.toksSql()} AS w
       |          FROM documents),
       |gs AS (SELECT doc_id, CAST(i AS INTEGER) AS i,
       |         md5(array_to_string(w[i:i+${n - 1}], ' ')) AS h
       |       FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - ${n - 1})) AS i
       |             FROM toks))""".stripMargin

  /** Permutation k of a 32-hex-char md5: rotate left by 4k characters.
    * One md5 per shingle; the 8 orderings come from these rotations.
    */
  private[dedup] def perm(k: Int, h: Column): Column =
    if (k == 0) h
    else concat(substring(h, 4 * k + 1, 32 - 4 * k), substring(h, 1, 4 * k))

  private[dedup] def permSql(k: Int): String =
    if (k == 0) "h" else s"(substr(h, ${4 * k + 1}) || substr(h, 1, ${4 * k}))"

  /** MinHash signatures + 4 LSH band keys from a hashed-shingle frame. */
  private[dedup] def minhashSignaturesFrom(hashed: DataFrame): DataFrame = {
    val aggs = (0 until NumHashes).map(k => min(perm(k, col("h"))).as(s"mh$k"))
    val sigs = hashed.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
    (0 until Bands).foldLeft(sigs) { (df, j) =>
      df.withColumn(s"band$j", concat(col(s"mh${2 * j}"), col(s"mh${2 * j + 1}")))
    }
  }

  /** MinHash signatures (8 rotation-permuted min-hashes) + 4 LSH band
    * keys per doc.
    */
  def minhashSignatures(documents: DataFrame): DataFrame =
    minhashSignaturesFrom(hashedShingles(documents)).orderBy("doc_id")

  private[dedup] val SIG_CTE = {
    val mh = (0 until NumHashes)
      .map(k => s"MIN(${permSql(k)}) AS mh$k").mkString(", ")
    val bands = (0 until Bands)
      .map(j => s"mh${2 * j} || mh${2 * j + 1} AS band$j").mkString(", ")
    s"""$SHINGLES_CTE,
       |sig0 AS (SELECT doc_id, $mh FROM hs GROUP BY doc_id),
       |sig AS (SELECT *, $bands FROM sig0)""".stripMargin
  }

  val minhashSignaturesSql: String =
    s"WITH $SIG_CTE SELECT * FROM sig ORDER BY doc_id"

  /** LSH candidate pairs from a signature frame. The caller must persist
    * the signature frame — otherwise the whole shingle→minhash pipeline
    * re-executes once per side of each of the four band self-joins (8×).
    */
  private[dedup] def minhashPairsFrom(sigs: DataFrame): DataFrame =
    (0 until Bands).map { j =>
      sigs.as("x").join(sigs.as("y"),
        col(s"x.band$j") === col(s"y.band$j") && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
    }.reduce(_ unionByName _).distinct().orderBy("doc_a", "doc_b")

  /** LSH candidate pairs: docs sharing any of the 4 band keys (a < b).
    * The signature frame is persisted HERE, in the bare entry, so the
    * shingle→minhash pipeline runs once regardless of caller — the 8×
    * recompute the [[minhashPairsFrom]] contract warns about cannot
    * reach a cluster (PlanBudgetSpec pins the single source scan).
    */
  def minhashPairs(documents: DataFrame): DataFrame =
    minhashPairsFrom(minhashSignaturesFrom(hashedShingles(documents)).persist())

  private[dedup] val PAIRS_CTE = {
    val sels = (0 until Bands).map(j =>
      s"SELECT x.doc_id AS doc_a, y.doc_id AS doc_b FROM sig x JOIN sig y ON x.band$j = y.band$j AND x.doc_id < y.doc_id")
      .mkString(" UNION ALL ")
    s"""$SIG_CTE,
       |cand AS (SELECT DISTINCT doc_a, doc_b FROM ($sels))""".stripMargin
  }

  val minhashPairsSql: String =
    s"WITH $PAIRS_CTE SELECT doc_a, doc_b FROM cand ORDER BY doc_a, doc_b"

  // ---- LSH banding calibration (r14) ----------------------------------

  /** The (bands, rows-per-band) factorizations of the 8-hash signature —
    * every banding a pipeline could redeploy without recomputing
    * signatures. The shipping config is (4, 2).
    */
  val BandConfigs: Seq[(Int, Int)] = Seq((8, 1), (4, 2), (2, 4), (1, 8))

  /** EXACT capture-probability numerator at denominator 8^8: for a pair
    * whose signatures agree on `k` of the 8 min-hashes, the
    * signature-agreement Jaccard estimate is ŝ = k/8 and the classic LSH
    * S-curve gives P(captured | b bands × r rows) = 1 − (1 − ŝ^r)^b
    * = (8^8 − (8^r − k^r)^b · 8^(8−rb)) / 8^8 — all-integer for every
    * config with r·b = 8, so the expected-capture SUM crosses engines as
    * a BIGINT and only ONE double division happens at the end.
    */
  def captureNumerator(k: Int, b: Int, r: Int): Long = {
    require(k >= 0 && k <= NumHashes && b * r == NumHashes,
      s"need 0<=k<=8 and b*r=8, got k=$k b=$b r=$r")
    def ipow(base: Long, e: Int): Long = (0 until e).foldLeft(1L)((a, _) => a * base)
    ipow(8, 8) - ipow(ipow(8, r) - ipow(k.toLong, r), b)
  }

  /** LSH banding calibration report — the parameter-tuning pass a 100 TB
    * dedup pipeline runs before changing its banding: over the pair
    * frame the SHIPPING banding surfaces (never all-pairs), how many
    * pairs would each alternative (b × r) factorization of the same
    * 8-hash signatures still capture (recomputed from the per-hash
    * agreement pattern — a pair is captured iff ANY of the b bands
    * agrees on ALL its r hashes), and what capture count does the LSH
    * S-curve predict from each pair's agreement estimate
    * ([[captureNumerator]] — exact rational, BIGINT-summed). Actual vs
    * expected per config exposes banding miscalibration; the
    * more-bands-shorter-rows configs are monotonically more permissive.
    *
    * Scale shape: two id-keyed joins of the candidate frame onto the
    * signature frame, then ONE aggregation per config over a
    * pairs-sized frame; output is |configs| rows.
    */
  def lshBandCalibration(documents: DataFrame): DataFrame = {
    val sigs = minhashSignaturesFrom(hashedShingles(documents)).persist()
    val pairs = minhashPairsFrom(sigs)
    val aSig = sigs.select(col("doc_id").as("doc_a") +:
      (0 until NumHashes).map(k => col(s"mh$k").as(s"a$k")): _*)
    val bSig = sigs.select(col("doc_id").as("doc_b") +:
      (0 until NumHashes).map(k => col(s"mh$k").as(s"b$k")): _*)
    val agree = pairs.join(aSig, Seq("doc_a")).join(bSig, Seq("doc_b"))
      .select((0 until NumHashes).map(k =>
        (col(s"a$k") === col(s"b$k")).cast("int").as(s"ag$k")): _*)
      .withColumn("k_agree",
        (0 until NumHashes).map(k => col(s"ag$k")).reduce(_ + _))
      .persist()
    val perConfig = BandConfigs.map { case (b, r) =>
      val captured = (0 until b).map { j =>
        (0 until r).map(i => col(s"ag${j * r + i}") === 1).reduce(_ && _)
      }.reduce(_ || _)
      val pNum = (0 to NumHashes).foldLeft(lit(null).cast("long")) { (acc, k) =>
        when(col("k_agree") === k, lit(captureNumerator(k, b, r))).otherwise(acc)
      }
      agree.agg(
        count(lit(1)).as("n_pairs"),
        sum(captured.cast("long")).as("n_captured"),
        sum(pNum).as("p_num"))
        .select(
          lit(b).as("bands"), lit(r).as("rows_per_band"),
          col("n_pairs"),
          coalesce(col("n_captured"), lit(0L)).as("n_captured"),
          when(col("n_pairs") === 0, lit(0.0))
            .otherwise(col("n_captured") / col("n_pairs")).as("capture_rate"),
          (coalesce(col("p_num"), lit(0L)) / lit(16777216L) / lit(1.0))
            .as("expected_captured"))
    }
    // |configs| rows total — eagerly materialize the union so both cached
    // frames can be released here rather than leaking to the caller
    // (ADVICE r14). coalesce(1) first: the raw union carries 4×shuffle-
    // partitions near-empty partitions, and checkpointing them all cost
    // ~1.3 s of empty-task overhead per call (r15 sweep 1).
    val out = perConfig.reduce(_ unionByName _).coalesce(1).localCheckpoint()
    sigs.unpersist()
    agree.unpersist()
    out.orderBy(col("bands").desc)
  }

  /** DuckDB twin of [[lshBandCalibration]]: the shared signature/pair
    * CTEs, the same per-hash agreement pattern, the same band-AND/OR
    * recompute per config, and the same exact BIGINT capture numerators
    * (inlined from the same [[captureNumerator]] arithmetic).
    */
  val lshBandCalibrationSql: String = {
    val agreeCols = (0 until NumHashes)
      .map(k => s"CAST(a.mh$k = b.mh$k AS INTEGER) AS ag$k").mkString(", ")
    val kAgree = (0 until NumHashes).map(k => s"ag$k").mkString(" + ")
    val legs = BandConfigs.map { case (b, r) =>
      val captured = (0 until b).map { j =>
        "(" + (0 until r).map(i => s"ag${j * r + i} = 1").mkString(" AND ") + ")"
      }.mkString(" OR ")
      val pNum = "CASE k_agree " + (0 to NumHashes)
        .map(k => s"WHEN $k THEN CAST(${captureNumerator(k, b, r)} AS BIGINT)")
        .mkString(" ") + " END"
      s"""SELECT $b AS bands, $r AS rows_per_band,
         |  COUNT(*) AS n_pairs,
         |  CAST(COALESCE(SUM(CAST($captured AS BIGINT)), 0) AS BIGINT) AS n_captured,
         |  CASE WHEN COUNT(*) = 0 THEN 0.0
         |       ELSE CAST(COALESCE(SUM(CAST($captured AS BIGINT)), 0) AS BIGINT) / COUNT(*) END AS capture_rate,
         |  CAST(COALESCE(SUM($pNum), 0) AS BIGINT) / 16777216 / 1.0 AS expected_captured
         |FROM agree""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $PAIRS_CTE,
       |agree0 AS (
       |  SELECT $agreeCols
       |  FROM cand c
       |  JOIN sig a ON a.doc_id = c.doc_a
       |  JOIN sig b ON b.doc_id = c.doc_b),
       |agree AS (SELECT *, $kAgree AS k_agree FROM agree0)
       |SELECT * FROM ($legs) u ORDER BY bands DESC""".stripMargin
  }

  /** Shared pair-scoring block for the shingle-set operators
    * ([[ngramJaccard]], [[containmentPairs]]): join each (doc_a, doc_b)
    * candidate onto per-doc collect_set arrays — one compact array per
    * doc (persisted; both sides of every pair reuse it) — and emit
    * intersection/set sizes plus Jaccard. Callers layer their own extra
    * scores and filters on top.
    */
  private[dedup] def pairSetScores(cand: DataFrame, ss: DataFrame): DataFrame = {
    // collect_set over the md5s (distinct by construction): one compact
    // array per doc, reused for both sides of every candidate pair
    val sets = ss.groupBy("doc_id").agg(collect_set(col("h")).as("sh")).persist()
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sa")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("sb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("sa"), col("sb"))).cast("long").as("n_inter"),
        size(col("sa")).cast("long").as("n_a"),
        size(col("sb")).cast("long").as("n_b"))
      .withColumn("jaccard",
        col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")))
  }

  /** n-gram Jaccard similarity for LSH candidate pairs, computed over ONE
    * shared lineage: the persisted hashed-shingle frame feeds the
    * signatures (→ candidates) AND the per-doc shingle sets. The
    * intersection is size(array_intersect) over the two docs' collected
    * hash sets — two narrow joins of compact arrays onto the candidate
    * frame — instead of re-exploding every shingle of every candidate
    * doc through a (doc, shingle)-keyed shuffle (which materializes
    * |pairs|×|shingles/doc| rows and was the measured cost center). Set
    * sizes are bounded by document length, candidates are near-linear,
    * so nothing here scales super-linearly in the corpus.
    */
  def ngramJaccard(documents: DataFrame): DataFrame = {
    val ss = hashedShingles(documents).persist()
    val cand = minhashPairsFrom(minhashSignaturesFrom(ss).persist())
    pairSetScores(cand, ss)
      // the exploded-join formulation only surfaced pairs sharing ≥1
      // shingle; keep that contract (and the oracle) unchanged
      .filter(col("n_inter") > 0)
      .orderBy("doc_a", "doc_b")
  }

  /** Asymmetric containment (overlap coefficient) for quote/excerpt
    * detection: `n_inter / min(n_a, n_b)`. Symmetric Jaccard — and the
    * MinHash bands tuned for it — miss a short document quoted wholesale
    * inside a long one (the intersection is ~all of the short doc but
    * small relative to the union, so no band fires). Candidates here come
    * from a rare-shingle inverted index instead: docs sharing any shingle
    * with document frequency in [2, maxDf] pair up. A contained quote
    * shares ALL its shingles, including its rare ones, so the bucket
    * fires regardless of how lopsided the pair is.
    *
    * Scale shape: the posting self-join is bounded by construction —
    * per-shingle bucket ≤ maxDf rows, so pairs-per-shingle ≤ maxDf²/2;
    * ubiquitous (boilerplate) shingles are excluded by the df ceiling,
    * which is also what keeps the join sub-quadratic (their mass is the
    * [[boilerplateScrub]] operator's job). Intersections reuse the
    * compact collect_set arrays of the shared hashed-shingle lineage,
    * exactly like [[ngramJaccard]]. Pairs whose overlap clears
    * `minOverlap` while Jaccard does not are flagged `asymmetric`.
    */
  def containmentPairs(documents: DataFrame, minOverlap: Double = 0.5,
      maxDf: Int = 8): DataFrame = {
    val ss = hashedShingles(documents).persist()
    val rare = ss.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= maxDf)
      .select("h")
    val posting = ss.join(rare, "h")
    val cand = posting.select(col("doc_id").as("doc_a"), col("h"))
      .join(posting.select(col("doc_id").as("doc_b"), col("h")), Seq("h"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
    pairSetScores(cand, ss)
      .withColumn("overlap",
        col("n_inter").cast("double") / least(col("n_a"), col("n_b")))
      .filter(col("overlap") >= minOverlap)
      .withColumn("asymmetric", (col("jaccard") < lit(minOverlap)).cast("boolean"))
      .orderBy("doc_a", "doc_b")
  }

  def containmentPairsSql(minOverlap: Double = 0.5, maxDf: Int = 8): String =
    s"""WITH $SHINGLES_CTE,
       |dfreq AS (SELECT h, COUNT(*) AS df FROM hs GROUP BY 1),
       |rare AS (SELECT h FROM dfreq WHERE df BETWEEN 2 AND $maxDf),
       |post AS (SELECT doc_id, h FROM hs WHERE h IN (SELECT h FROM rare)),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM post a JOIN post b ON a.h = b.h AND a.doc_id < b.doc_id),
       |${pairInterSqlCtes("h")},
       |j AS (
       |  SELECT i.doc_a, i.doc_b, i.n_inter, sa.nsh AS n_a, sb.nsh AS n_b,
       |    CAST(i.n_inter AS DOUBLE) / (sa.nsh + sb.nsh - i.n_inter) AS jaccard,
       |    CAST(i.n_inter AS DOUBLE) / LEAST(sa.nsh, sb.nsh) AS overlap
       |  FROM inter i
       |  JOIN sz sa ON sa.doc_id = i.doc_a
       |  JOIN sz sb ON sb.doc_id = i.doc_b)
       |SELECT doc_a, doc_b, n_inter, n_a, n_b, jaccard, overlap,
       |  jaccard < $minOverlap AS asymmetric
       |FROM j WHERE overlap >= $minOverlap
       |ORDER BY doc_a, doc_b""".stripMargin

  /** SQL twin of [[pairSetScores]]'s counts over the `hs` and `cand`
    * CTEs: `sz` (doc_id, nsh) and `inter` (doc_a, doc_b, n_inter), the
    * two sides' shingles matched on column `key` (`shingle` or its md5
    * `h` — one per distinct shingle either way).
    */
  private[dedup] def pairInterSqlCtes(key: String): String =
    s"""sz AS (SELECT doc_id, COUNT(*) AS nsh FROM hs GROUP BY 1),
       |inter AS (
       |  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
       |  FROM cand c
       |  JOIN hs a ON a.doc_id = c.doc_a
       |  JOIN hs b ON b.doc_id = c.doc_b AND b.$key = a.$key
       |  GROUP BY 1, 2)""".stripMargin

  val ngramJaccardSql: String =
    s"""WITH $PAIRS_CTE,
       |${pairInterSqlCtes("shingle")}
       |SELECT i.doc_a, i.doc_b, i.n_inter, sa.nsh AS n_a, sb.nsh AS n_b,
       |  CAST(i.n_inter AS DOUBLE) / (sa.nsh + sb.nsh - i.n_inter) AS jaccard
       |FROM inter i
       |JOIN sz sa ON sa.doc_id = i.doc_a
       |JOIN sz sb ON sb.doc_id = i.doc_b
       |ORDER BY i.doc_a, i.doc_b""".stripMargin

  /** Split-leakage audit — the check a training pipeline runs after
    * splitting: near-duplicate document pairs (LSH candidates verified
    * at `jaccard ≥ minJaccard`) that STRADDLE the train/val/test
    * boundary. A test doc with a near-twin in train silently inflates
    * eval scores; this reports, per unordered split pair, how many
    * verified near-dup pairs cross it (`leaks = true` rows are the
    * problem; the diagonal rows are benign duplication inside one
    * split). Composes [[ngramJaccard]] with
    * [[graft.ml.HashSplit.splitAssign]]: the pair frame is near-linear
    * (LSH-bounded), the split assignment is a narrow hash — two
    * doc_id-keyed joins of a small frame against a narrow projection,
    * then a |splits|²-bounded aggregate. Nothing here re-shuffles the
    * corpus text.
    */
  def splitLeakage(documents: DataFrame, minJaccard: Double = 0.5): DataFrame = {
    val dups = ngramJaccard(documents)
      .filter(col("jaccard") >= minJaccard)
      .select("doc_a", "doc_b")
    graft.ml.HashSplit.leakRollup(dups, documents, "doc")
  }

  /** DuckDB twin of [[splitLeakage]]. */
  def splitLeakageSql(minJaccard: Double = 0.5): String =
    s"""WITH $PAIRS_CTE,
       |${pairInterSqlCtes("shingle")},
       |dup AS (
       |  SELECT i.doc_a, i.doc_b
       |  FROM inter i
       |  JOIN sz sa ON sa.doc_id = i.doc_a
       |  JOIN sz sb ON sb.doc_id = i.doc_b
       |  WHERE CAST(i.n_inter AS DOUBLE) / (sa.nsh + sb.nsh - i.n_inter) >= $minJaccard),
       |${graft.ml.HashSplit.leakRollupSql("dup", "documents", "doc")}""".stripMargin

  /** SimHash near-dup candidates via 16-bit banding of the 64-bit
    * signature: docs sharing any of the four 16-bit bands are candidates
    * (65,536 buckets per band); report pairs with Hamming distance ≤
    * maxHamming over all 64 bits. Equality joins on band buckets — never
    * all-pairs, and per-bucket populations stay sub-linear at scale.
    */
  def simhashPairs(documents: DataFrame, maxHamming: Int = 20): DataFrame = {
    // persist: the signature aggregation (64 bit-sums over exploded
    // tokens) would otherwise re-execute once per side of each of the
    // four band self-joins
    val sig = TextOps.simhash64(documents).persist()
    val withBands = sig
      .withColumn("band0", col("sim_lo").bitwiseAND(65535))
      .withColumn("band1", shiftright(col("sim_lo"), 16))
      .withColumn("band2", col("sim_hi").bitwiseAND(65535))
      .withColumn("band3", shiftright(col("sim_hi"), 16))
    val cand = (0 until 4).map { j =>
      withBands.as("x").join(withBands.as("y"),
        col(s"x.band$j") === col(s"y.band$j") && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
          col("x.sim_hi").as("hi_a"), col("x.sim_lo").as("lo_a"),
          col("y.sim_hi").as("hi_b"), col("y.sim_lo").as("lo_b"))
    }.reduce(_ unionByName _).distinct()
    cand
      .withColumn("hamming",
        (bit_count(col("hi_a").bitwiseXOR(col("hi_b"))) +
          bit_count(col("lo_a").bitwiseXOR(col("lo_b")))).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
      .orderBy("doc_a", "doc_b")
  }

  def simhashPairsSql(maxHamming: Int = 20): String = {
    val sels = (0 until 4).map(j =>
      s"SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, x.sim_hi AS hi_a, x.sim_lo AS lo_a, " +
        s"y.sim_hi AS hi_b, y.sim_lo AS lo_b " +
        s"FROM bands x JOIN bands y ON x.band$j = y.band$j AND x.doc_id < y.doc_id")
      .mkString(" UNION ALL ")
    s"""WITH ${TextOps.simhash64CteBody},
       |bands AS (SELECT doc_id, sim_hi, sim_lo,
       |  sim_lo & 65535 AS band0, sim_lo >> 16 AS band1,
       |  sim_hi & 65535 AS band2, sim_hi >> 16 AS band3
       |FROM simsel64),
       |cand AS (SELECT DISTINCT doc_a, doc_b, hi_a, lo_a, hi_b, lo_b FROM ($sels))
       |SELECT doc_a, doc_b,
       |  CAST(bit_count(xor(hi_a, hi_b)) + bit_count(xor(lo_a, lo_b)) AS INTEGER) AS hamming
       |FROM cand
       |WHERE bit_count(xor(hi_a, hi_b)) + bit_count(xor(lo_a, lo_b)) <= $maxHamming
       |ORDER BY doc_a, doc_b""".stripMargin
  }

}
