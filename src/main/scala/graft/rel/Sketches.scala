package graft.rel

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sketch-based approximations — at 100 TB the exact forms of
  * COUNT(DISTINCT) and percentile() are the expensive outliers (exact
  * distinct doubles the shuffle via expand; exact percentiles buffer
  * whole groups), and the sketch forms are what a production engine
  * actually runs:
  *
  *  - HyperLogLog++ (`approx_count_distinct`): fixed ~kB state per
  *    group regardless of cardinality, mergeable map-side — one narrow
  *    aggregation instead of an expand + wide shuffle;
  *  - t-digest (`approx_percentile`): bounded-memory mergeable quantile
  *    state instead of per-group sorted buffers.
  *
  * Library sketch values are engine-specific by construction (DuckDB's
  * HLL and Spark's HLL++ disagree in the last percent), so the sketches
  * registered here are ENGINE-OWNED ([[cmsHeavyHitters]],
  * [[hllCardinality]]): their hashes are md5 slices any engine can
  * replay, which makes every estimate oracle-exact, and the exact
  * columns ([[heavyHittersExact]], [[sketchStatsExact]]) ride along
  * for audit.
  */
object Sketches {

  /** Equi-width histogram of `value` with data-driven bounds — the
    * profiling pass before outlier clipping / feature binning. The
    * min/max come from a broadcast 1-row aggregate (no collect), the bin
    * assignment is a narrow projection, and the final count groups on
    * ≤ nBins keys. Bin edges use exact double arithmetic shared with the
    * oracle; the top edge folds into the last bin.
    */
  def valueHistogram(events: DataFrame, nBins: Int = 10): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val bounds = events.agg(min("value").as("lo"), max("value").as("hi"))
    val bin = least(
      floor((col("value") - col("lo")) / ((col("hi") - col("lo")) / nBins)).cast("long"),
      lit(nBins - 1L))
    events.crossJoin(broadcast(bounds))
      .withColumn("bin", bin)
      .groupBy("bin")
      .agg(
        count(lit(1)).as("n"),
        min("value").as("bin_min"),
        max("value").as("bin_max"))
      .orderBy("bin")
  }

  def valueHistogramSql(nBins: Int = 10): String =
    s"""WITH b AS (SELECT MIN(value) AS lo, MAX(value) AS hi FROM events),
       |a AS (SELECT value,
       |        LEAST(CAST(FLOOR((value - lo) / ((hi - lo) / $nBins)) AS BIGINT),
       |              ${nBins - 1}) AS bin
       |      FROM events CROSS JOIN b)
       |SELECT bin, COUNT(*) AS n, MIN(value) AS bin_min, MAX(value) AS bin_max
       |FROM a GROUP BY bin ORDER BY bin""".stripMargin

  /** Column-profile summary — the data-quality gate a pipeline runs
    * before training ingestion: one row per profiled column with null
    * rate, distinct count, and min/max rendered as strings. Spark
    * computes all columns in ONE aggregation pass (no per-column scans);
    * the unpivot to rows is a literal stack.
    */
  def profileEvents(events: DataFrame): DataFrame = {
    val cols = Seq("event_id", "user_id", "event_type", "value", "props")
    val aggs = cols.flatMap { c =>
      Seq(
        count(col(c)).as(s"${c}_n"),
        count(when(col(c).isNull, 1)).as(s"${c}_nulls"),
        countDistinct(col(c)).as(s"${c}_distinct"),
        min(col(c)).cast("string").as(s"${c}_min"),
        max(col(c)).cast("string").as(s"${c}_max"))
    }
    val one = events.agg(aggs.head, aggs.tail: _*)
    val stacked = cols.map { c =>
      struct(lit(c).as("column_name"), col(s"${c}_n").as("n_non_null"),
        col(s"${c}_nulls").as("n_null"), col(s"${c}_distinct").as("n_distinct"),
        col(s"${c}_min").as("min_repr"), col(s"${c}_max").as("max_repr"))
    }
    one.select(explode(array(stacked: _*)).as("p"))
      .select("p.*")
      .orderBy("column_name")
  }

  val profileEventsSql: String = {
    val cols = Seq("event_id", "user_id", "event_type", "value", "props")
    cols.map { c =>
      s"""SELECT '$c' AS column_name, COUNT($c) AS n_non_null,
         |  COUNT(*) - COUNT($c) AS n_null, COUNT(DISTINCT $c) AS n_distinct,
         |  CAST(MIN($c) AS VARCHAR) AS min_repr, CAST(MAX($c) AS VARCHAR) AS max_repr
         |FROM events""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
  }

  /** Exact top-k frequency leg — the audit ride-along of
    * [[cmsHeavyHitters]]. One hash aggregation + a bounded TakeOrdered —
    * no global sort.
    */
  def heavyHittersExact(events: DataFrame, k: Int = 10): DataFrame =
    events.groupBy("user_id")
      .agg(count(lit(1)).as("n_events"))
      .orderBy(col("n_events").desc, col("user_id"))
      .limit(k)

  def heavyHittersExactSql(k: Int = 10): String =
    s"""SELECT user_id, COUNT(*) AS n_events FROM events
       |GROUP BY user_id ORDER BY n_events DESC, user_id LIMIT $k""".stripMargin

  /** Exact cardinality + median — the audit leg [[hllCardinality]]'s
    * estimates are judged against. The median goes through round(x, 6) on both
    * sides so the two engines' linear-interpolation formulas (which can
    * differ by an ulp) land on the same double — the documented
    * cross-engine-safe pattern for derived doubles.
    */
  def sketchStatsExact(events: DataFrame): DataFrame =
    events.groupBy("event_type")
      .agg(
        countDistinct("user_id").as("users_exact"),
        round(expr("percentile(value, 0.5)"), 6).as("p50_exact"))
      .orderBy("event_type")

  val sketchStatsExactSql: String =
    """SELECT event_type, COUNT(DISTINCT user_id) AS users_exact,
      |  round(quantile_cont(value, 0.5), 6) AS p50_exact
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Heavy hitters via an ENGINE-OWNED Count-Min Sketch whose d row
    * hashes are disjoint 6-hex-digit slices of ONE md5 per key — the
    * CMS counter algebra (fixed `O(1/eps × ln 1/δ)` counter state,
    * estimate ≥ exact), but every counter is reproducible in ANY engine
    * that has md5, so the whole sketch is oracle-exact. The d×w counter grid is
    * one hash aggregation over a d-way in-row fan-out: counts are
    * map-side combinable and the reduced state is exactly d·w rows
    * (8 192 here) whatever the corpus size — the fixed-state mergeable
    * shape that makes CMS the 100 TB frequency sketch. Estimates probe
    * only the k retained keys (k·d rows joined against the broadcast
    * counter grid); CMS's `estimate ≥ exact` guarantee is visible in the
    * `rel_overestimate` column being ≥ 0 on every row (spec-asserted).
    */
  def cmsHeavyHitters(
      events: DataFrame, k: Int = 10, d: Int = 4, w: Int = 2048): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    require(d * 6 <= 32, "row hashes are disjoint 6-hex-digit md5 slices")
    // ONE md5 per event; row hash i reads the disjoint 6-hex-digit slice
    // at offset 6i (the standard split-one-wide-hash trick — 4× fewer
    // hash computations than hashing (i, key) per row)
    def bucketOf(h: org.apache.spark.sql.Column, ri: org.apache.spark.sql.Column) =
      (conv(substr(h, ri * 6 + 1, lit(6)), 16, 10).cast("long") % w).cast("int")
    val hashed = events.select(col("user_id"),
      md5(col("user_id").cast("string")).as("h"))
    val cells = hashed
      .select(col("h"), explode(sequence(lit(0), lit(d - 1))).as("ri"))
      .select(col("ri"), bucketOf(col("h"), col("ri")).as("bucket"))
    val counters = cells.groupBy("ri", "bucket").agg(count(lit(1)).as("cnt"))
    val topk = events.groupBy("user_id").agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("user_id")).limit(k)
    val probes = topk
      .withColumn("h", md5(col("user_id").cast("string")))
      .select(col("user_id"), col("n_exact"),
        explode(sequence(lit(0), lit(d - 1))).as("ri"), col("h"))
      .select(col("user_id"), col("n_exact"), col("ri"),
        bucketOf(col("h"), col("ri")).as("bucket"))
    probes.join(broadcast(counters), Seq("ri", "bucket"))
      .groupBy("user_id", "n_exact")
      .agg(min("cnt").as("n_cms"))
      .select(col("user_id"), col("n_exact"), col("n_cms"),
        ((col("n_cms") - col("n_exact")).cast("double") / col("n_exact"))
          .as("rel_overestimate"))
      .orderBy(col("n_exact").desc, col("user_id"))
  }

  def cmsHeavyHittersSql(k: Int = 10, d: Int = 4, w: Int = 2048): String = {
    import graft.text.TextOps.hexValSql
    // DuckDB twin of the 6-hex-digit slice at offset 6·ri: explicit
    // ascii arithmetic (same cross-engine-safe form as hashBucketSql)
    val v = (1 to 6)
      .map(j => s"CAST(${hexValSql(s"substr(h, ri * 6 + $j, 1)")} AS BIGINT) * ${1L << (4 * (6 - j))}")
      .mkString(" + ")
    val bucket = s"CAST(($v) % $w AS INTEGER)"
    s"""WITH rws AS (SELECT unnest(generate_series(0, ${d - 1})) AS ri),
       |hashed AS (SELECT md5(CAST(user_id AS VARCHAR)) AS h FROM events),
       |cells AS (
       |  SELECT ri, bucket, COUNT(*) AS cnt FROM (
       |    SELECT r.ri, $bucket AS bucket
       |    FROM hashed CROSS JOIN rws r)
       |  GROUP BY 1, 2),
       |topk AS (
       |  SELECT user_id, COUNT(*) AS n_exact, md5(CAST(user_id AS VARCHAR)) AS h
       |  FROM events GROUP BY 1 ORDER BY n_exact DESC, user_id LIMIT $k),
       |probes AS (
       |  SELECT user_id, n_exact, ri, $bucket AS bucket
       |  FROM topk CROSS JOIN rws)
       |SELECT p.user_id, p.n_exact, MIN(c.cnt) AS n_cms,
       |  CAST(MIN(c.cnt) - p.n_exact AS DOUBLE) / p.n_exact AS rel_overestimate
       |FROM probes p JOIN cells c ON p.ri = c.ri AND p.bucket = c.bucket
       |GROUP BY p.user_id, p.n_exact
       |ORDER BY p.n_exact DESC, p.user_id""".stripMargin
  }

  /** Per-event-type cardinality via an ENGINE-OWNED HyperLogLog whose
    * hash is md5-derived — the same register algebra as Spark's HLL++
    * (`approx_count_distinct`), reproducible bit-for-bit in any engine
    * with md5, so the ESTIMATE itself is oracle-exact (the builtin
    * HLL++ never can be). Register layout:
    * m=256 buckets from the first md5 byte; rank = leading-zero count of
    * the next 64 hash bits + 1, computed with integer/string ops only
    * (no transcendentals in the per-row path). State is a fixed
    * 256-register max-aggregate per group — mergeable map-side, O(m)
    * whatever the cardinality, the exact reason HLL is the 100 TB
    * COUNT(DISTINCT). Cross-engine determinism of the estimate: the
    * register sum Σ2^(65−M_j) is EXACT decimal integer arithmetic
    * (order-free — each term is a power of two ≤ 2^65, far inside
    * DECIMAL(38,0)), the one ln() in the linear-counting branch goes
    * through round(·,9), and the final estimate through round(·,6).
    */
  def hllCardinality(events: DataFrame, m: Int = 256): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    import graft.text.TextOps.hexVal
    require(m == 256, "bucket extraction below reads exactly the first md5 byte")
    val h = md5(col("user_id").cast("string"))
    val bucket = (hexVal(substring(h, 1, 1)) * 16 + hexVal(substring(h, 2, 1)))
      .cast("int")
    val tail = substring(h, 3, 16)
    val nz = length(regexp_extract(tail, "^(0*)", 1))
    val fd = hexVal(substr(tail, nz + lit(1), lit(1)))
    val nibbleLz = when(fd >= 8, 0).when(fd >= 4, 1).when(fd >= 2, 2).otherwise(3)
    val rank = when(nz === 16, lit(65)).otherwise(nz * 4 + nibbleLz + 1)
    val regs = events
      .select(col("event_type"), bucket.as("bucket"), rank.as("rank"))
      .groupBy("event_type", "bucket").agg(max("rank").as("m_j"))
    val grid = events.select("event_type").distinct()
      .select(col("event_type"), explode(sequence(lit(0), lit(m - 1))).as("bucket"))
    val agg = grid.join(regs, Seq("event_type", "bucket"), "left")
      .withColumn("m_j", coalesce(col("m_j"), lit(0)))
      .groupBy("event_type")
      .agg(
        sum(pow(lit(2.0), lit(65) - col("m_j")).cast("decimal(38,0)")).as("num"),
        sum(when(col("m_j") === 0, 1L).otherwise(0L)).as("n_zero"))
    // alpha_m·m²·2^65 folded to ONE double literal so both engines see
    // the identical numerator; raw estimate = literal / double(num)
    val alphaNum = 0.7213 / (1.0 + 1.079 / m) * m * m * math.pow(2.0, 65)
    val estRaw = lit(alphaNum) / col("num").cast("double")
    val linear = round(lit(m.toDouble) * round(log(lit(m.toDouble) / col("n_zero")), 9), 6)
    val est = when(estRaw <= lit(2.5 * m) && col("n_zero") > 0, linear)
      .otherwise(round(estRaw, 6))
    val exact = events.select("event_type", "user_id").distinct()
      .groupBy("event_type").agg(count(lit(1)).as("users_exact"))
    exact.join(broadcast(agg), Seq("event_type"))
      .select(col("event_type"), col("users_exact"),
        est.as("users_hll"),
        (abs(est - col("users_exact")) / col("users_exact")).as("rel_err"))
      .orderBy("event_type")
  }

  def hllCardinalitySql(m: Int = 256): String = {
    import graft.text.TextOps.hexValSql
    require(m == 256)
    val alphaNum = 0.7213 / (1.0 + 1.079 / m) * m * m * math.pow(2.0, 65)
    val aLit = s"CAST('$alphaNum' AS DOUBLE)"
    val mD = s"CAST($m AS DOUBLE)"
    s"""WITH h0 AS (
       |  SELECT event_type, md5(CAST(user_id AS VARCHAR)) AS hh FROM events),
       |h1 AS (SELECT event_type, hh, substr(hh, 3, 16) AS tail FROM h0),
       |h2 AS (SELECT event_type, hh, tail,
       |         length(regexp_extract(tail, '^(0*)', 1)) AS nz FROM h1),
       |h3 AS (SELECT event_type,
       |         CAST(${hexValSql("substr(hh, 1, 1)")} * 16 + ${hexValSql("substr(hh, 2, 1)")} AS INTEGER) AS bucket,
       |         CASE WHEN nz = 16 THEN 65
       |              ELSE nz * 4 + (CASE WHEN fd >= 8 THEN 0 WHEN fd >= 4 THEN 1
       |                                  WHEN fd >= 2 THEN 2 ELSE 3 END) + 1 END AS rank
       |       FROM (SELECT event_type, hh, nz,
       |               ${hexValSql("substr(tail, nz + 1, 1)")} AS fd FROM h2)),
       |regs AS (SELECT event_type, bucket, MAX(rank) AS m_j FROM h3 GROUP BY 1, 2),
       |grid AS (
       |  SELECT et.event_type, g.bucket
       |  FROM (SELECT DISTINCT event_type FROM events) et
       |  CROSS JOIN (SELECT unnest(generate_series(0, ${m - 1})) AS bucket) g),
       |fullr AS (
       |  SELECT g.event_type, COALESCE(r.m_j, 0) AS m_j
       |  FROM grid g LEFT JOIN regs r
       |    ON g.event_type = r.event_type AND g.bucket = r.bucket),
       |agg AS (
       |  SELECT event_type,
       |    SUM(CAST(power(2, 65 - m_j) AS DECIMAL(38,0))) AS num,
       |    SUM(CASE WHEN m_j = 0 THEN 1 ELSE 0 END) AS n_zero
       |  FROM fullr GROUP BY 1),
       |est AS (
       |  SELECT event_type,
       |    CASE WHEN ($aLit / CAST(num AS DOUBLE)) <= CAST(${2.5 * m} AS DOUBLE)
       |              AND n_zero > 0
       |         THEN round($mD * round(ln($mD / n_zero), 9), 6)
       |         ELSE round($aLit / CAST(num AS DOUBLE), 6) END AS users_hll
       |  FROM agg),
       |ex AS (
       |  SELECT event_type, COUNT(DISTINCT user_id) AS users_exact
       |  FROM events GROUP BY 1)
       |SELECT e.event_type, e.users_exact, s.users_hll,
       |  abs(s.users_hll - e.users_exact) / e.users_exact AS rel_err
       |FROM ex e JOIN est s USING (event_type)
       |ORDER BY e.event_type""".stripMargin
  }
}
