package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._


/** The quantized-ANN family: the engine-owned Lloyd trainer, SQ8 and
  * its two-stage serving, IVF-PQ, residual IVF-PQ with in-plan
  * trainers, and their SQL twins (r15 split, zero behavior change).
  */
private[sim] trait KnnQuant extends KnnCore {
  // ───────────────────────── engine-owned Lloyd trainer ──────────────────────

  /** Scale for the Lloyd trainer's integer domain: embedding components
    * (|x| < 1 on this table) quantize to micro-units via
    * floor(x·1e6) — every subsequent sum/difference/square/mean is BIGINT
    * arithmetic, order-free and replayable bit-for-bit by any engine.
    */
  private[sim] val LloydScale = 1000000L

  /** Quantized corpus (vec_id, q: 64 BIGINT micro-units), persisted — it
    * feeds every iteration's assign + update legs and the final report.
    */
  private[graft] def lloydQuantized(embeddings: DataFrame): DataFrame =
    quantized(embeddings).persist()

  /** The same (vec_id, q) frame uncached — for the legs that read the
    * corpus once (the exact rescore and ground-truth scans).
    */
  private[sim] def quantized(embeddings: DataFrame): DataFrame =
    withNorm(embeddings).select(col("vec_id"), expr(
      s"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * $LloydScale.0) AS BIGINT))")
      .as("q"))

  // ─────────── r18: the training loop fused to 1 job/iteration ───────────

  /** The k seed centroids as a collected grid — the md5-ranked LIMIT-k
    * frame, brought to the driver (k·Dim longs: parameter-sized, the same
    * bytes the join-form trainer's broadcast collected on every use; that
    * form is OptimizationEquivalenceSpec's reference).
    */
  private[graft] def lloydSeedGrid(e0: DataFrame, k: Int): Seq[Seq[Long]] =
    e0.withColumn("h", md5(col("vec_id").cast("string")))
      .orderBy("h", "vec_id").limit(k)
      .select("q").collect().toSeq.map(_.getSeq[Long](0))

  /** One Lloyd update off an assignment frame carrying (j, q), merged on
    * the driver: identical integer per-(cluster, dim) sums (ONE
    * partial-aggregated job), identical exactly-divisible floor-means
    * ((s − m)/n is exact in Long for the same reason the cast-through-
    * double form was exact), identical empty-cluster-keeps-previous rule
    * — just k collected rows instead of a join + eager checkpoint.
    */
  private[graft] def lloydUpdateGrid(grid: Seq[Seq[Long]],
      asg: DataFrame): Seq[Seq[Long]] = {
    val sums = asg.groupBy("j").agg(
      count(lit(1)).as("cnt"),
      (0 until Dim).map(i => sum(col("q").getItem(i)).as(s"s$i")): _*)
      .collect()
    val byJ = sums.map(r => r.getInt(0) -> r).toMap
    grid.zipWithIndex.map { case (old, j) =>
      byJ.get(j).fold(old) { r =>
        val cnt = r.getLong(1)
        (0 until Dim).map { i =>
          val s = r.getLong(2 + i)
          val m = ((s % cnt) + cnt) % cnt
          (s - m) / cnt
        }
      }
    }
  }

  /** The full Lloyd train (VERDICT r17 item 3, guide §1.2/§2.4): ONE
    * partial-aggregated job per iteration — the argmin assignment fused
    * into the per-cluster Dim-sum aggregation against a LITERAL centroid
    * grid — instead of the r17 loop's four job submissions per iteration
    * (grid collect_list aggregate, its broadcast build, the update
    * shuffle, the empty-cluster join's eager checkpoint). The grid is
    * parameter-sized state, not data: holding it as a literal is exactly
    * as scale-free as broadcasting it was. Arithmetic is unchanged term
    * for term (OptimizationEquivalenceSpec pins the trained grids
    * bit-equal to the r17 join-form loop).
    */
  private[graft] def lloydTrainGrid(e0: DataFrame, k: Int,
      iters: Int): Seq[Seq[Long]] = {
    var grid = lloydSeedGrid(e0, k)
    for (_ <- 1 to iters) grid = lloydUpdateGrid(grid, lloydAssignGrid(e0, grid))
    grid
  }

  /** Argmin assignment against a literal centroid grid — the join form's
    * `ds`/`j` expressions with its broadcast grid column replaced by a
    * k×Dim literal (no crossJoin, no per-use broadcast-build job).
    */
  private[graft] def lloydAssignGrid(e0: DataFrame,
      grid: Seq[Seq[Long]]): DataFrame =
    e0.withColumn("ds", transform(typedlit(grid), cenA =>
        aggregate(zip_with(col("q"), cenA, (x, c) => (x - c) * (x - c)),
          lit(0L), _ + _)))
      .withColumn("j",
        (array_position(col("ds"), array_min(col("ds"))) - 1).cast("int"))

  /** [[lloydAssignGrid]] carrying the home cell's distance `d` (the
    * argmin's minimum) — the assignment every stats, inertia and medoid
    * leg reads.
    */
  private[graft] def lloydAssignD(e0: DataFrame,
      grid: Seq[Seq[Long]]): DataFrame =
    lloydAssignGrid(e0, grid).withColumn("d", array_min(col("ds")))

  /** The (j, c) centroid frame of a trained grid, for consumers that keep
    * centroids in-plan (state-dir writes, checksum outputs) — the same
    * k rows/values/types the join-form trainer produced.
    */
  private[graft] def lloydCenFrame(spark: org.apache.spark.sql.SparkSession,
      grid: Seq[Seq[Long]]): DataFrame = {
    import spark.implicits._
    grid.zipWithIndex.map { case (c, j) => (j, c) }.toDF("j", "c")
  }

  /** K-means trained FROM SCRATCH inside the engine — a deterministic
    * Lloyd's loop whose every iteration is exact integer arithmetic, so
    * the TRAINER itself (not just a frozen-centroid serving point) is
    * replayable step-for-step by the SQL oracle. This closes the gap the
    * MLlib trainer ([[trainSemDedupCentroids]]) can't: k-means‖ init +
    * double accumulation are not SQL-expressible; the same move
    * that promoted the BPE trainer (`bpe_train`) and the HLL estimate
    * (`cardinality_hll`) to oracle-exact.
    *
    * Determinism contract, mirrored term-for-term in [[kmeansLloydTrainSql]]:
    *   - vectors quantize to BIGINT micro-units (floor(x·1e6): float→double
    *     widening is exact, one IEEE multiply, floor — identical in both
    *     engines);
    *   - seeds = the k vectors ranked first by md5(vec_id) (md5 is
    *     engine-independent; ties impossible, vec_id appended anyway);
    *   - assignment = argmin of the INTEGER squared distance, ties to the
    *     lowest cluster id (array_position takes the first minimum; the
    *     oracle's ROW_NUMBER orders by (d, j));
    *   - update = per-dimension floor-mean computed as (s − m)/n with
    *     m = ((s mod n) + n) mod n, so the numerator is exactly divisible
    *     and trunc-vs-floor division semantics can't diverge;
    *   - a cluster that loses all members keeps its previous centroid
    *     (the LEFT JOIN + COALESCE leg, same rule both engines).
    *
    * Scale shape: one quantize pass over the corpus, then per iteration
    * one broadcast of k·64 longs (the k×64 centroid grid — KB-sized at
    * any corpus size), one narrow argmin map, and one (k×64)-group
    * partial-aggregated sum — no shuffle ever carries vectors, and
    * nothing is all-pairs. The driver never sees the data (centroids stay
    * in-plan; the seed window runs on a LIMIT-k frame, bounded by
    * construction). iters unrolls the loop into one declarative plan —
    * at production scale you'd persist each iteration's assignment, which
    * is exactly what the registered query's persisted base frame does.
    * Output is pure-integer (sizes, inertia, centroid checksum), so the
    * hash gate needs no rounding at all.
    */
  def kmeansLloydTrain(embeddings: DataFrame, k: Int = 4, iters: Int = 3): DataFrame = {
    val e0 = lloydQuantized(embeddings)
    val grid = lloydTrainGrid(e0, k, iters)

    // final assignment checkpoints eagerly (vec_id, cluster, distance —
    // no vectors), freeing the quantized-corpus cache (r14 sweep)
    val fin = lloydAssignD(e0, grid)
      .select("vec_id", "j", "d")
      .localCheckpoint()
    e0.unpersist(blocking = false)
    val stats = fin
      .groupBy(col("j").as("cluster"))
      .agg(count(lit(1)).as("n"), sum("d").as("inertia"))
    lloydCenFrame(embeddings.sparkSession, grid)
      .select(col("j").as("cluster"),
        aggregate(col("c"), lit(0L), _ + _).as("c_sum"))
      .join(stats, Seq("cluster"), "left")
      .select(col("cluster"), coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("inertia"), lit(0L)).as("inertia"), col("c_sum"))
      .orderBy("cluster")
  }

  /** The training-convergence diagnostics a pipeline logs per Lloyd
    * iteration — one row per iteration: how many vectors were assigned,
    * how many CHANGED cluster vs the previous iteration (NULL on the
    * first — there is no previous assignment), the total inertia under
    * the incoming centroids, and how many clusters are nonempty. Same
    * determinism contract as [[kmeansLloydTrain]], so the whole trace
    * sits inside the hash gate; each iteration's assignment
    * localCheckpoints (a deployment persists assignments anyway) and the
    * movement count is a narrow self-join on vec_id.
    */
  def kmeansLloydTrace(embeddings: DataFrame, k: Int = 4, iters: Int = 3): DataFrame = {
    val e0 = lloydQuantized(embeddings)
    var grid = lloydSeedGrid(e0, k)
    var prevAsg: Option[DataFrame] = None
    var out: Option[DataFrame] = None
    for (it <- 1 to iters) {
      val asg = lloydAssignD(e0, grid)
        .select("vec_id", "j", "d", "q")
        .localCheckpoint()
      val base = asg.agg(
        count(lit(1)).as("n_assigned"),
        sum("d").as("inertia"),
        countDistinct("j").as("nonempty_clusters"))
      val row = (prevAsg match {
        case None => base.withColumn("n_moved", lit(null).cast("long"))
        case Some(p) =>
          val mv = asg.select(col("vec_id"), col("j").as("cj"))
            .join(p.select(col("vec_id"), col("j").as("pj")), Seq("vec_id"))
            .filter(col("cj") =!= col("pj"))
            .agg(count(lit(1)).as("n_moved"))
          base.crossJoin(broadcast(mv))
      }).select(lit(it).as("iter"), col("n_assigned"), col("n_moved"),
        col("inertia"), col("nonempty_clusters"))
      out = Some(out.fold(row)(_.unionByName(row)))
      prevAsg = Some(asg)
      // the update's sums read the checkpointed asg — one cached-leaf job
      grid = lloydUpdateGrid(grid, asg)
    }
    // every per-iteration frame the trace reads is checkpointed above —
    // the quantized-corpus cache has no remaining reader (r14 sweep)
    e0.unpersist(blocking = false)
    out.get.orderBy("iter")
  }

  /** [[quantized]] in SQL: `$name` = (vec_id, q) over the rows of the
    * normalized source `e` passing `where`.
    */
  private[sim] def quantizeSql(name: String, where: String): String =
    s"""$name AS (
       |  SELECT vec_id,
       |    list_transform(embedding,
       |      x -> CAST(floor(CAST(x AS DOUBLE) * $LloydScale.0) AS BIGINT)) AS q
       |  FROM e WHERE $where)""".stripMargin

  /** [[lloydAssignGrid]] in SQL: every `src` (vec_id, q) row passing
    * `where` against every cell of the long-form centroids `cen` (j, i,
    * cd) — (vec_id, cell, d, rk), rk ranking each row's cells nearest
    * first with ties to the lower cell (the argmin's rule).
    */
  private[sim] def cellRankSql(src: String, cen: String,
      where: String = "TRUE"): String =
    s"""SELECT vec_id, j AS cell, d,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, j) AS rk
       |  FROM (
       |    SELECT e.vec_id, c.j, SUM((e.q[t.i] - c.cd) * (e.q[t.i] - c.cd)) AS d
       |    FROM $src e CROSS JOIN range(1, ${Dim + 1}) t(i) JOIN $cen c ON c.i = t.i
       |    WHERE $where
       |    GROUP BY 1, 2)""".stripMargin

  /** [[lloydAssignD]] in SQL, the assign-and-argmin CTE pair: `$x` the
    * ranked distances of [[cellRankSql]], `$a` each `src` row's home
    * cell (vec_id, cell, d).
    */
  private[sim] def homeCellCtes(x: String, a: String, src: String,
      cen: String): String =
    s"""$x AS (
       |  ${cellRankSql(src, cen)}),
       |$a AS (SELECT vec_id, cell, d FROM $x WHERE rk = 1)""".stripMargin

  /** The shared CTE prefix for the Lloyd twins: quantize, md5 seeds,
    * then per-iteration blocks x/a/s/u/c (distance, argmin WITH its
    * min-distance kept, per-dim sum, floor-mean, coalesce). Centroid
    * state stays in LONG form (j, i, cd) so no list aggregation is
    * needed; (s − m)/n is exactly divisible, so DuckDB's double
    * division reproduces the BIGINT floor-mean exactly.
    */
  private[sim] def lloydSqlCtes(k: Int, iters: Int, where: String = "TRUE",
      prefix: String = "", includeNorm: Boolean = true): String = {
    val d1 = Dim + 1
    val P = prefix
    val iterCtes = (1 to iters).map { it =>
      val p = it - 1
      s"""${homeCellCtes(s"${P}x$it", s"${P}a$it", s"${P}e0", s"${P}c$p")},
         |${P}s$it AS (
         |  SELECT a.cell AS j, t.i, SUM(e.q[t.i]) AS s, COUNT(*) AS cnt
         |  FROM ${P}a$it a JOIN ${P}e0 e USING (vec_id) CROSS JOIN range(1, $d1) t(i)
         |  GROUP BY 1, 2),
         |${P}u$it AS (
         |  SELECT j, i,
         |    CAST((s - (((s % cnt) + cnt) % cnt)) / cnt AS BIGINT) AS cd
         |  FROM ${P}s$it),
         |${P}c$it AS (
         |  SELECT p.j, p.i, COALESCE(u.cd, p.cd) AS cd
         |  FROM ${P}c$p p LEFT JOIN ${P}u$it u ON u.j = p.j AND u.i = p.i)""".stripMargin
    }.mkString(",\n")
    val normPart = if (includeNorm) s"$NORM_CTE,\n" else ""
    s"""$normPart${quantizeSql(s"${P}e0", where)},
       |${P}sd AS (
       |  SELECT vec_id, q,
       |    ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
       |  FROM ${P}e0),
       |${P}c0 AS (
       |  SELECT CAST(rn - 1 AS INTEGER) AS j, t.i, q[t.i] AS cd
       |  FROM ${P}sd CROSS JOIN range(1, $d1) t(i) WHERE rn <= $k),
       |$iterCtes""".stripMargin
  }

  /** DuckDB twin of [[kmeansLloydTrain]]: the unrolled trainer of
    * [[lloydSqlCtes]], the final home assignment, per-cluster size and
    * inertia, and each centroid's checksum.
    */
  def kmeansLloydTrainSql(k: Int = 4, iters: Int = 3): String =
    s"""WITH ${lloydSqlCtes(k, iters)},
       |${homeCellCtes("fx", "fa", "e0", s"c$iters")},
       |st AS (SELECT cell AS cluster, COUNT(*) AS n,
       |         CAST(SUM(d) AS BIGINT) AS inertia FROM fa GROUP BY 1),
       |cs AS (SELECT j AS cluster, CAST(SUM(cd) AS BIGINT) AS c_sum
       |       FROM c$iters GROUP BY 1)
       |SELECT cs.cluster, COALESCE(st.n, 0) AS n,
       |  COALESCE(st.inertia, 0) AS inertia, cs.c_sum
       |FROM cs LEFT JOIN st USING (cluster)
       |ORDER BY cs.cluster""".stripMargin

  /** DuckDB twin of [[kmeansLloydTrace]]: one aggregate row per
    * iteration off the shared a{it} assignment CTEs; the movement count
    * is a scalar subquery joining successive assignments on vec_id.
    */
  def kmeansLloydTraceSql(k: Int = 4, iters: Int = 3): String = {
    val rows = (1 to iters).map { it =>
      val moved =
        if (it == 1) "CAST(NULL AS BIGINT)"
        else
          s"""(SELECT COUNT(*) FROM a$it x JOIN a${it - 1} p USING (vec_id)
             |     WHERE x.cell <> p.cell)""".stripMargin
      s"""SELECT $it AS iter, COUNT(*) AS n_assigned,
         |  $moved AS n_moved,
         |  CAST(SUM(d) AS BIGINT) AS inertia,
         |  COUNT(DISTINCT cell) AS nonempty_clusters
         |FROM a$it""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ${lloydSqlCtes(k, iters)}
       |SELECT * FROM ($rows)
       |ORDER BY iter""".stripMargin
  }

  // ─────── the Lloyd-IVF family's shared stages, one per engine ───────
  //
  // Every IVF/ANN query below is one filter-and-refine search: a coarse
  // leg (home cells + per-query probe sets under trained Lloyd cells),
  // an integer-L2 ranking of the surviving candidates, and — for the
  // recall experiments — the exhaustive ground truth and one
  // exact LEFT JOIN approx row. Each stage is written once per engine
  // here; the queries compose them.

  /** Exact integer squared L2 of two BIGINT micro-unit vectors. */
  private[sim] def intL2(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0L), _ + _)

  /** Integer-L2 top-k per query of a candidate frame carrying
    * (query_id, qq, vec_id, q): (query_id, neighbor_id, rank, d), ties to
    * the lower vec_id. Unordered — callers sort or aggregate.
    */
  private[sim] def intL2TopK(cand: DataFrame, k: Int): DataFrame =
    cand.withColumn("d", intL2(col("qq"), col("q")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("d"), col("vec_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("rank"), col("d"))

  /** The recall experiments' ground truth: the exact integer-L2 top-k of
    * each query (vec_id < nQueries) against every other row of a
    * (vec_id, q) frame — (query_id, neighbor_id). The bounded query set
    * broadcasts; nothing is cached here.
    */
  private[sim] def exactIntTopK(eq: DataFrame, nQueries: Int,
      k: Int): DataFrame = {
    val qset = eq.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("q").as("qq"))
    intL2TopK(eq.select("vec_id", "q").crossJoin(broadcast(qset))
        .filter(col("vec_id") =!= col("query_id")), k)
      .select("query_id", "neighbor_id")
  }

  /** The IVF probe sets: each (vec_id, q) row of `queries` against every
    * cell of `grid` (the assignment argmin's distance list), nearest first
    * with ties to the lower cell, cut at nprobe — (query_id, qq, cell,
    * pr); pr = 1 is the row's home cell. Eager: |queries| × nprobe rows,
    * after which the quantized caches it read have no reader.
    */
  private[sim] def ivfProbes(queries: DataFrame, grid: Seq[Seq[Long]],
      nprobe: Int): DataFrame =
    lloydAssignGrid(queries, grid)
      .select(col("vec_id").as("query_id"), col("q").as("qq"),
        posexplode(col("ds")).as(Seq("cell", "cd")))
      .withColumn("pr", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cd"), col("cell"))))
      .filter(col("pr") <= nprobe)
      .select("query_id", "qq", "cell", "pr")
      .localCheckpoint()

  /** Coarse IVF state: the trained centroid frame (j, c), the
    * checkpointed home assignment (vec_id, cell, q) and the query
    * [[ivfProbes]]. One coarse train feeds every leg that reads it — the
    * residual-PQ recall query's two variants share one.
    */
  private[sim] final case class IvfCoarse(
      cen: DataFrame, asg: DataFrame, qprobes: DataFrame)

  /** [[IvfCoarse]] of the quantized corpus `e0` (a [[lloydQuantized]]
    * frame), with probe sets for `queries` (vec_id, q): e0's own query
    * range, or an attached batch. Once both legs are checkpointed e0's
    * cache has no reader and unpersists.
    */
  private[sim] def ivfCoarseOf(e0: DataFrame, queries: DataFrame,
      cells: Int, iters: Int, nprobe: Int): IvfCoarse = {
    val grid = lloydTrainGrid(e0, cells, iters)
    val asg = lloydAssignGrid(e0, grid)
      .select(col("vec_id"), col("j").as("cell"), col("q"))
      .localCheckpoint()
    val qprobes = ivfProbes(queries, grid, nprobe)
    e0.unpersist(blocking = false)
    IvfCoarse(lloydCenFrame(e0.sparkSession, grid), asg, qprobes)
  }

  /** The cell-pruned candidates: every vector homed in one of a query's
    * probed cells, the query itself excluded — (cell, vec_id, q,
    * query_id, qq, pr), one equality join with the probe sets broadcast.
    */
  private[sim] def ivfCandidates(c: IvfCoarse): DataFrame =
    c.asg.join(broadcast(c.qprobes), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))

  /** DuckDB twin of [[ivfCoarseOf]]'s two rankings against the trained
    * cells `cen` (j, i, cd): `fca` — each e0 vector's home cell and its
    * distance (vec_id, cell, d); `pr` — each row of `qsrc` (a (vec_id, q)
    * relation) passing `qwhere`, with its nprobe nearest cells
    * (query_id, cell, d, pr). Both rank by (d, j), the argmin's
    * ties-to-the-lower-cell rule. Both are MATERIALIZED: the residual-PQ
    * blocks read them many times (see [[pqResidualCtes]]).
    */
  private[sim] def ivfCoarseSql(cen: String, qsrc: String, qwhere: String,
      nprobe: Int): String =
    s"""fcx AS (
       |  ${cellRankSql("e0", cen)}),
       |fca AS MATERIALIZED (SELECT vec_id, cell, d FROM fcx WHERE rk = 1),
       |pr AS MATERIALIZED (
       |  SELECT vec_id AS query_id, cell, d, rk AS pr FROM (
       |  ${cellRankSql(qsrc, cen, qwhere)})
       |  WHERE rk <= $nprobe)""".stripMargin

  /** [[intL2]] in SQL, over two joined BIGINT lists (the lambda reads
    * the outer columns — no per-dimension row fan-out).
    */
  private[sim] def intL2Sql(a: String, b: String): String =
    s"CAST(list_sum(list_transform(range(1, ${Dim + 1}), i -> ($a[i]-$b[i])*($a[i]-$b[i]))) AS BIGINT)"

  /** DuckDB twin of [[intL2TopK]] over a (query_id, neighbor_id) pair
    * relation: (query_id, neighbor_id, d, rn ≤ k), query vectors from
    * `qsrc`, candidates from e0, ties to the lower neighbor_id.
    */
  private[sim] def intL2TopKSql(pairs: String, qsrc: String, k: Int): String =
    s"""SELECT query_id, neighbor_id, d, rn FROM (
       |    SELECT query_id, neighbor_id, d,
       |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d, neighbor_id) AS rn
       |    FROM (
       |      SELECT p.query_id, p.neighbor_id, ${intL2Sql("qe.q", "ce.q")} AS d
       |      FROM $pairs p JOIN $qsrc qe ON qe.vec_id = p.query_id
       |        JOIN e0 ce ON ce.vec_id = p.neighbor_id))
       |  WHERE rn <= $k""".stripMargin

  /** DuckDB twin of [[ivfCandidates]] + [[intL2TopK]] over
    * [[ivfCoarseSql]]'s `fca`/`pr`: `cand` (query_id, neighbor_id) and
    * its top-k `ar` (query_id, neighbor_id, d, rn). `cand` is
    * MATERIALIZED for the twin that also counts it (the candidate budget).
    */
  private[sim] def ivfSearchSql(qsrc: String, k: Int): String =
    s"""cand AS MATERIALIZED (
       |  SELECT p.query_id, a.vec_id AS neighbor_id
       |  FROM pr p JOIN fca a ON a.cell = p.cell AND a.vec_id <> p.query_id),
       |ar AS (
       |  ${intL2TopKSql("cand", qsrc, k)})""".stripMargin

  /** DuckDB twin of [[exactIntTopK]] over e0: `bscore` (every query ×
    * other-vector pair) and `br`, its integer-L2 top-k (query_id,
    * neighbor_id, d, rn) — MATERIALIZED, since the twins with two
    * approximate legs join it twice.
    */
  private[sim] def exactSql(nQueries: Int, k: Int): String =
    s"""bscore AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
       |  FROM e0 q JOIN e0 c ON c.vec_id <> q.vec_id
       |  WHERE q.vec_id < $nQueries),
       |br AS MATERIALIZED (
       |  ${intL2TopKSql("bscore", "e0", k)})""".stripMargin

  /** DuckDB twin of [[recallRow]]: `exact` LEFT JOIN `approx` (relations
    * carrying query_id, neighbor_id) as one SELECT — `labels`, then
    * n_exact, hits, recall.
    */
  private[sim] def recallRowSql(labels: String, exact: String,
      approx: String): String =
    s"""SELECT $labels,
       |  COUNT(*) AS n_exact,
       |  COUNT(a.query_id) AS hits,
       |  CAST(COUNT(a.query_id) AS DOUBLE) / COUNT(*) AS recall
       |FROM $exact b LEFT JOIN $approx a
       |  ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id""".stripMargin

  /** IVF search whose coarse quantizer is the IN-ENGINE Lloyd trainer —
    * the whole trained-ANN pipeline (training included) inside the hash
    * gate, at a genuinely PRUNED operating point. [[ivfTopK]]'s MLlib
    * centroids force its oracle to the degenerate nprobe = numCells
    * configuration (where IVF ≡ brute force); here the centroids
    * themselves replay in SQL, so the sub-linear nprobe < cells search —
    * probe selection, cell-restricted candidates, integer L2 ranking —
    * is oracle-exact end to end. All arithmetic stays in the trainer's
    * BIGINT micro-unit domain: zero rounding anywhere.
    *
    * Scale shape: training as [[kmeansLloydTrain]]; search is one
    * equality join on the cell key (candidates ≈ nprobe/cells of the
    * corpus per query), with the bounded probe set broadcast.
    */
  def ivfLloydTopK(
      embeddings: DataFrame, nQueries: Int = 10, k: Int = 5,
      cells: Int = 16, iters: Int = 2, nprobe: Int = 2): DataFrame = {
    val e0 = lloydQuantized(embeddings)
    intL2TopK(ivfCandidates(ivfCoarseOf(e0,
        e0.filter(col("vec_id") < nQueries), cells, iters, nprobe)), k)
      .orderBy("query_id", "rank")
  }

  /** DuckDB twin of [[ivfLloydTopK]]: the shared Lloyd CTE prefix, the
    * coarse rankings, the cell-key candidate join and the integer L2
    * rank — term for term.
    */
  def ivfLloydTopKSql(
      nQueries: Int = 10, k: Int = 5,
      cells: Int = 16, iters: Int = 2, nprobe: Int = 2): String =
    s"""WITH ${lloydSqlCtes(cells, iters)},
       |${ivfCoarseSql(s"c$iters", "e0", s"vec_id < $nQueries", nprobe)},
       |${ivfSearchSql("e0", k)}
       |SELECT query_id, neighbor_id, CAST(rn AS INTEGER) AS "rank", d
       |FROM ar ORDER BY query_id, "rank"""".stripMargin

  /** The nprobe-operating-point experiment for the Lloyd IVF: recall@k
    * of the PRUNED search against the exhaustive integer-L2 ranking over
    * the same trained index — one training pass feeds both legs, one row
    * out, fully in-plan. Completes the measurement-query pattern every
    * approximate path here ships ([[pcaRecallPinned]], [[sq8Recall]]).
    */
  def ivfLloydRecall(
      embeddings: DataFrame, nQueries: Int = 10, k: Int = 5,
      cells: Int = 16, iters: Int = 2, nprobe: Int = 2): DataFrame = {
    val e0 = lloydQuantized(embeddings)
    val coarse = ivfCoarseOf(e0, e0.filter(col("vec_id") < nQueries),
      cells, iters, nprobe)
    recallRow(exactIntTopK(coarse.asg, nQueries, k),
      intL2TopK(ivfCandidates(coarse), k),
      lit(k).as("k"), lit(nprobe).as("nprobe"), lit(cells).as("cells"))
  }

  /** DuckDB twin of [[ivfLloydRecall]]: the shared Lloyd prefix, the
    * pruned leg exactly as in [[ivfLloydTopKSql]], the exhaustive leg,
    * one LEFT-JOIN aggregate row.
    */
  def ivfLloydRecallSql(
      nQueries: Int = 10, k: Int = 5,
      cells: Int = 16, iters: Int = 2, nprobe: Int = 2,
      prelude: String = ""): String =
    s"""WITH $prelude${lloydSqlCtes(cells, iters)},
       |${ivfCoarseSql(s"c$iters", "e0", s"vec_id < $nQueries", nprobe)},
       |${ivfSearchSql("e0", k)},
       |${exactSql(nQueries, k)}
       |${recallRowSql(s"CAST($k AS INTEGER) AS k, " +
           s"CAST($nprobe AS INTEGER) AS nprobe, CAST($cells AS INTEGER) AS cells",
         "br", "ar")}""".stripMargin

  // ─────────────────────── SQ8 scalar-quantized ANN ──────────────────────────

  /** SQ8 scalar quantization + top-k search — the third production ANN
    * compression path next to IVF (cell pruning, [[ivfTopK]]) and PQ
    * (codebook ADC, [[pqTopK]]): SYMMETRIC int8 over the NORMALIZED
    * vector, code = round(x/‖x‖ · 127) ∈ [−127, 127] — the standard
    * cosine-serving scheme, cutting vector memory 4× vs float32. The
    * integer dot product of two code vectors is ≈ 127²·cosine with
    * rounding error only; an AFFINE per-dim [min,max]→[0,255] code here
    * would inject offset cross-terms that destroy the cosine ranking —
    * the registered `sq8_recall` experiment is exactly the guard that
    * catches that mistake (it did: 0.04 recall on the affine draft vs
    * ~1 symmetric). Scoring is overflow-free integer SIMD shape
    * (127²·64 < 2²⁰).
    *
    * Cross-engine exactness: x/‖x‖ is the fixed IEEE expression tree
    * both engines already share (kmeansSizesPinned's ne); floor(·127 +
    * 0.5) is deterministic round-half-up; scores are BIGINT sums of int
    * products — the result hash-checks with no rounding anywhere.
    *
    * Scale shape: encoding is one fully NARROW map (symmetric codes
    * need no corpus-wide statistics pass at all), and the bounded query
    * set broadcasts against the candidate stream exactly like
    * [[bruteForceTopK]] — at corpus scale the candidate side swaps to
    * the IVF/bucketed generators with this integer scorer unchanged.
    */
  def sq8TopK(embeddings: DataFrame, nQueries: Int = 10, k: Int = 5): DataFrame = {
    val e = withNorm(embeddings)
    val codeExpr =
      "transform(embedding, x -> " +
        "CAST(floor((CAST(x AS DOUBLE) / sqrt(n2)) * 127.0D + 0.5D) AS INT))"
    // persisted: both join sides derive from it (same rule as
    // bucketedTopK's shared projection) — without it the norm+encode
    // pass runs once per side
    val coded = e
      .select(col("vec_id"), expr(codeExpr).as("code"))
      .persist()
    val q = coded.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("code").as("qc"))
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("neighbor_id"))
    coded.select(col("vec_id").as("neighbor_id"), col("code").as("cc"))
      .crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("score",
        aggregate(zip_with(col("qc"), col("cc"),
          (a, b) => a.cast("long") * b.cast("long")), lit(0L), _ + _))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("score"))
      .orderBy("query_id", "rank")
  }

  /** The experiment a pipeline runs before switching its serving path to
    * SQ8: recall@k of the quantized ranking against the exact cosine
    * top-k, computed entirely in-plan (one row out — no driver counts).
    * Both legs are the registered operators themselves, so the measured
    * number is the production code path's recall, not a simulation's.
    */
  def sq8Recall(embeddings: DataFrame, nQueries: Int = 10, k: Int = 5): DataFrame =
    recallRow(bruteForceTopK(embeddings, nQueries, k),
      sq8TopK(embeddings, nQueries, k),
      lit(k).as("k"), lit(nQueries).as("n_queries"))

  /** DuckDB twin of [[sq8Recall]]: both legs' pipelines under one WITH
    * ([[cosineTopKSql]] and [[sq8TopKCtes]]), one recall row.
    */
  def sq8RecallSql(nQueries: Int = 10, k: Int = 5, prelude: String = ""): String =
    s"""WITH $prelude$NORM_CTE,
       |${cosineTopKSql(nQueries, k)},
       |${sq8TopKCtes(nQueries, k)}
       |${recallRowSql(
           s"CAST($k AS INTEGER) AS k, CAST($nQueries AS INTEGER) AS n_queries",
           "br", "sr")}""".stripMargin

  /** DuckDB twin of [[sq8TopK]]. */
  def sq8TopKSql(nQueries: Int = 10, k: Int = 5): String =
    s"""WITH $NORM_CTE,
       |${sq8TopKCtes(nQueries, k)}
       |SELECT query_id, neighbor_id, CAST(rn AS INTEGER) AS "rank", score
       |FROM sr ORDER BY query_id, "rank"""".stripMargin

  /** The CTEs of [[sq8TopKSql]], shared by the SQ8 recall twins:
    * symmetric int8 codes in long form `cd` (vec_id, i, code), the score
    * join `ss` grouping the 64 per-dimension int products back into one
    * BIGINT per (query, candidate) pair, and `sr`, its top-k (query_id,
    * neighbor_id, score, rn).
    */
  private def sq8TopKCtes(nQueries: Int, k: Int): String =
    s"""cd AS (
       |  SELECT e.vec_id, t.i,
       |    CAST(floor((CAST(e.embedding[t.i] AS DOUBLE) / sqrt(e.n2))
       |               * 127.0 + 0.5) AS INTEGER) AS code
       |  FROM e CROSS JOIN range(1, ${Dim + 1}) t(i)),
       |ss AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    CAST(SUM(CAST(q.code AS BIGINT) * c.code) AS BIGINT) AS score
       |  FROM cd q JOIN cd c ON c.i = q.i AND c.vec_id <> q.vec_id
       |  WHERE q.vec_id < $nQueries
       |  GROUP BY 1, 2),
       |sr AS (SELECT query_id, neighbor_id, score, rn FROM (
       |         SELECT query_id, neighbor_id, score,
       |           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rn
       |         FROM ss) WHERE rn <= $k)""".stripMargin

  // ───────────── SQ8 two-stage serving: int8 retrieve + rescore ─────────

  /** Two-stage SQ8 serving — the production mitigation for scalar
    * quantization's one known failure mode, which the clustered fixture
    * exposes (r13): among NEAR-DUPLICATE candidates (intra-cluster
    * cosines within ~1e-3 of each other), int8 codes collapse to
    * near-ties below the 1/127 quantization step, so the top-k among
    * them is essentially arbitrary — `sq8_recall_clustered` measures
    * ~0.2 where the structureless-random table reads 0.98. The standard
    * fix is exactly this operator: retrieve a WIDER candidate set by
    * int8 score (stage 1 — cheap, 4× less memory traffic), then rescore
    * only those `rescoreR` candidates at full float precision and take
    * the true top-k. Cluster-level separation survives int8 easily, so
    * stage 1's recall@R is ~1 whenever R covers the near-dup set, and
    * the exact stage-2 ranking restores recall@k — the experiment
    * (`sq8_rescore_recall_clustered`) reads 1.0 on the same table.
    *
    * Scale shape: stage 1 is [[sq8TopK]] (narrow encode, broadcast
    * query set); stage 2 touches only nQueries·rescoreR rows — the
    * full-precision vectors are fetched for a bounded candidate list,
    * never the corpus.
    */
  def sq8RescoreTopK(
      embeddings: DataFrame, nQueries: Int = 10, k: Int = 5,
      rescoreR: Int = 100): DataFrame = {
    val e = withNorm(embeddings)
    val cand = sq8TopK(embeddings, nQueries, rescoreR)
      .select(col("query_id"), col("neighbor_id"))
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("n2").as("qn2"))
    val c = e.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("ce"), col("n2").as("cn2"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    cand.join(broadcast(q), Seq("query_id")).join(c, Seq("neighbor_id"))
      .withColumn("cosine",
        dot("qe", "ce") / (sqrt(col("qn2")) * sqrt(col("cn2"))))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cosine"))
      .orderBy("query_id", "rank")
  }

  /** recall@k of the two-stage path against exact cosine top-k — the
    * experiment that proves rescoring recovers what raw int8 ranking
    * loses on near-duplicate candidates.
    */
  def sq8RescoreRecall(
      embeddings: DataFrame, nQueries: Int = 10, k: Int = 5,
      rescoreR: Int = 100): DataFrame =
    recallRow(bruteForceTopK(embeddings, nQueries, k),
      sq8RescoreTopK(embeddings, nQueries, k, rescoreR),
      lit(k).as("k"), lit(rescoreR).as("rescore_r"))

  /** DuckDB twin of [[sq8RescoreRecall]]: int8 stage (cd/ss/sr at rn ≤
    * rescoreR), full-precision rescore of exactly those candidates, and
    * the brute-force leg, one LEFT-JOIN overlap row.
    */
  def sq8RescoreRecallSql(
      nQueries: Int = 10, k: Int = 5, rescoreR: Int = 100,
      prelude: String = ""): String =
    s"""WITH $prelude$NORM_CTE,
       |${sq8TopKCtes(nQueries, rescoreR)},
       |rs AS (
       |  SELECT s.query_id, s.neighbor_id,
       |    (${dotSql("q.embedding", "c.embedding")}) / (sqrt(q.n2) * sqrt(c.n2)) AS cosine
       |  FROM sr s
       |    JOIN e q ON q.vec_id = s.query_id
       |    JOIN e c ON c.vec_id = s.neighbor_id),
       |rr AS (SELECT query_id, neighbor_id FROM (
       |         SELECT query_id, neighbor_id,
       |           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rn
       |         FROM rs) WHERE rn <= $k),
       |${cosineTopKSql(nQueries, k)}
       |${recallRowSql(
           s"CAST($k AS INTEGER) AS k, CAST($rescoreR AS INTEGER) AS rescore_r",
           "br", "rr")}""".stripMargin

  // ───────────── IVF-PQ: coarse pruning × compressed scoring (r13) ──────

  /** The production ANN composition (FAISS's IndexIVFPQ shape): the
    * in-engine Lloyd trainer supplies the COARSE quantizer (cell
    * assignment + nprobe pruning, integer micro-unit domain — exactly
    * [[ivfLloydTopK]]'s front half), and the PINNED PQ codebooks supply
    * the COMPRESSED scorer (8 subspace codes per vector, per-query LUT,
    * ADC scan — exactly [[pqTopK]]'s back half, no-residual variant).
    * Both halves are individually oracle-exact, so the composition is
    * too: training, cell pruning, encoding and ADC ranking all replay in
    * SQL under one hash.
    *
    * Scale shape: candidates ≈ nprobe/cells of the corpus per query
    * (the IVF join), each scored by m=8 LUT reads against codes instead
    * of 64 float mults against raw vectors — memory traffic drops 16×
    * (8 bytes of codes vs 256 bytes of float32) on top of the cell
    * pruning, which is the whole point of the composition at 100 TB.
    */
  def ivfPqTopK(
      embeddings: DataFrame,
      codebooks: Array[Array[Array[Double]]],
      nQueries: Int = 10, k: Int = 5,
      cells: Int = 8, iters: Int = 2, nprobe: Int = 2): DataFrame = {
    val m = codebooks.length
    // coarse leg: Lloyd cells + per-query probe sets (integer domain);
    // the home assignment drops q — this query caches codes, not vectors
    val e0 = lloydQuantized(embeddings)
    val grid = lloydTrainGrid(e0, cells, iters)
    val asg = lloydAssignGrid(e0, grid)
      .select(col("vec_id"), col("j").as("cell")).localCheckpoint()
    val probes = ivfProbes(e0.filter(col("vec_id") < nQueries), grid, nprobe)
      .select("query_id", "cell")
    e0.unpersist(blocking = false)
    // compressed leg (r14, VERDICT item 7): the 256 B/row float corpus is
    // NEVER cached — at 100 TB the thing to keep hot is the m-byte codes,
    // not the raw vectors. One corpus scan feeds the encoder, whose coded
    // output the candidate join consumes exactly once; the query-side LUT
    // scan is a pushdown-filtered nQueries-row read of its own.
    val e = withNorm(embeddings)
    val coded = (0 until m).foldLeft(
      e.select(col("vec_id"), col("embedding"))) {
      (df, j) => df.withColumn(s"code$j", pqCodeCol(codebooks, j))
    }.drop("embedding")
    val q = (0 until m).foldLeft(
      e.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("embedding"))) {
      (df, j) => df.withColumn(s"lut$j", pqLutArr(codebooks, j))
    }.drop("embedding")
    val adist = (0 until m)
      .map(j => element_at(col(s"lut$j"), col(s"code$j") + 1))
      .reduceLeft(_ + _)
    val w = Window.partitionBy("query_id").orderBy(col("adist"), col("neighbor_id"))
    // cell-pruned candidates (equality join on the cell key, probe set
    // broadcast) → codes join → ADC rank
    asg.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
      .join(coded.withColumnRenamed("vec_id", "neighbor_id"), Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("adist", adist)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("adist"))
      .orderBy("query_id", "rank")
  }

  /** DuckDB twin of [[ivfPqTopK]]: the Lloyd CTE prefix + the coarse
    * rankings of [[ivfCoarseSql]], the PQ encode blocks
    * verbatim from [[pqTopKSql]] (VARCHAR→DOUBLE centroid literals — the
    * decimal-ceiling gotcha), joined on the pruned candidate set.
    */
  def ivfPqTopKSql(
      codebooks: Array[Array[Array[Double]]],
      nQueries: Int = 10, k: Int = 5,
      cells: Int = 8, iters: Int = 2, nprobe: Int = 2): String = {
    val m = codebooks.length
    val subDim = Dim / m
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
    s"""WITH ${lloydSqlCtes(cells, iters)},
       |${ivfCoarseSql(s"c$iters", "e0", s"vec_id < $nQueries", nprobe)},
       |pqd AS (
       |  SELECT vec_id,
       |    $cdCols
       |  FROM e),
       |pqm AS (
       |  SELECT *,
       |    $mCols
       |  FROM pqd),
       |codes AS (
       |  SELECT *,
       |    $codeCols
       |  FROM pqm),
       |cand AS (
       |  SELECT p.query_id, a.vec_id AS neighbor_id
       |  FROM pr p JOIN fca a ON a.cell = p.cell AND a.vec_id <> p.query_id),
       |s AS (
       |  SELECT cd2.query_id, cd2.neighbor_id,
       |    $adist AS adist
       |  FROM cand cd2
       |    JOIN codes c ON c.vec_id = cd2.neighbor_id
       |    JOIN codes q ON q.vec_id = cd2.query_id),
       |r AS (
       |  SELECT query_id, neighbor_id, adist,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS rn
       |  FROM s)
       |SELECT query_id, neighbor_id, CAST(rn AS INTEGER) AS "rank", adist
       |FROM r WHERE rn <= $k ORDER BY query_id, "rank"""".stripMargin
  }

  // ───── residual IVF-PQ: in-engine-trained codebooks (r14) ─────────────

  /** The TRUE FAISS IndexIVFPQ (VERDICT r13 item 1), with BOTH trained
    * artifacts inside the hash gate: the coarse quantizer is the
    * in-engine Lloyd trainer (as [[ivfLloydTopK]]), and the PQ codebooks
    * are now ALSO trained in-plan — per-subspace Lloyd's over the
    * integer micro-unit domain, same determinism contract as
    * [[kmeansLloydTrain]] (md5 seeds, argmin ties to the lowest code,
    * exactly-divisible floor-means, empty-codeword-keeps-previous) — so
    * unlike [[ivfPqTopK]] (pinned offline codebooks, no-residual), there
    * is no model artifact anywhere whose training the oracle cannot
    * replay. And the codebooks encode the RESIDUAL x − c(home cell)
    * rather than x: after coarse assignment every vector in a cell
    * shares the centroid, so quantizing the raw vector spends the whole
    * code budget re-describing the centroid (intra-cell candidates
    * collapse to identical codes — the same near-tie failure mode SQ8
    * shows on the clustered fixture), while quantizing the residual
    * spends it on exactly the within-cell geometry the final ranking
    * needs. `ivfpq_residual_recall_clustered` measures both variants on
    * the clustered table under equal nprobe and shows residual ≥
    * no-residual — the reason IndexIVFPQ serves at low nprobe.
    *
    * Search is ADC with PER-PROBE LUTs: a query computes its residual
    * against EACH probed cell's centroid (the candidate's codes were
    * taken against that same centroid, so table lookups compare like
    * with like), m×nC partial squared distances per (query, cell), then
    * each candidate costs m lookups + adds. All arithmetic stays BIGINT
    * (residuals are differences of micro-unit longs): zero rounding,
    * hash-exact end to end.
    *
    * Scale shape: coarse training as [[kmeansLloydTrain]]; PQ training
    * is per-(subspace, codeword, dim) partial-aggregated integer sums
    * over the residual long-form — k·m·64 groups, no vector shuffle; at
    * 100 TB both trainers run over a bounded sample (pass the sample as
    * `embeddings` — production PQ fits on ~10⁵ vectors) while encode and
    * search stay full-corpus: candidates ≈ nprobe/cells of the corpus
    * per query, each scored by m byte-code lookups. The float corpus is
    * never cached (codes and bounded probe/LUT frames are the only
    * reused state — the [[ivfPqTopK]] r14 rule).
    */
  def ivfPqResidualTopK(
      embeddings: DataFrame, nQueries: Int = 10, k: Int = 5,
      cells: Int = 8, iters: Int = 2, nprobe: Int = 2,
      m: Int = 16, nC: Int = 16, pqIters: Int = 3,
      residual: Boolean = true): DataFrame = {
    val e0 = lloydQuantized(embeddings)
    ivfPqResidualTopKFrom(
      ivfCoarseOf(e0, e0.filter(col("vec_id") < nQueries), cells, iters, nprobe),
      k, nprobe, m, nC, pqIters, residual)
  }

  /** [[ivfPqResidualTopK]] over a prebuilt coarse state. */
  private[sim] def ivfPqResidualTopKFrom(
      coarse: IvfCoarse, k: Int, nprobe: Int,
      m: Int, nC: Int, pqIters: Int,
      residual: Boolean): DataFrame = {
    require(Dim % m == 0, s"m=$m must divide Dim=$Dim")
    val subDim = Dim / m
    val IvfCoarse(cen, asg, qprobes) = coarse
    // ---- residual training set, long form (vec_id, cell, sub, rs) ----
    val cenB = cen.select(col("j").as("cell"), col("c"))
    def subSplit(arr: Column): Column =
      transform(sequence(lit(0), lit(m - 1)),
        jj => slice(arr, jj * lit(subDim) + lit(1), lit(subDim)))
    val resArr =
      if (residual) zip_with(col("q"), col("c"), (a, b) => a - b)
      else col("q")
    // eager: the PQ trainer iterates over it (the bounded-sample frame at
    // production scale), and the final encode reads it once more
    val rsub = asg.join(broadcast(cenB), Seq("cell"))
      .select(col("vec_id"), posexplode(subSplit(resArr)).as(Seq("sub", "rs")))
      .localCheckpoint()
    // ---- per-subspace Lloyd codebooks (sub, cidx, pc) ----------------
    // unpartitioned, but over the LIMIT-nC seed frame: nC rows at most
    val seedW = Window.orderBy("h", "vec_id")
    val seedIds = asg.select("vec_id")
      .withColumn("h", md5(col("vec_id").cast("string")))
      .orderBy("h", "vec_id").limit(nC)
      .withColumn("cidx", (row_number().over(seedW) - 1).cast("int"))
      .select("vec_id", "cidx")
    var pcb = rsub.join(broadcast(seedIds), Seq("vec_id"))
      .select(col("sub"), col("cidx"), col("rs").as("pc"))
      .localCheckpoint()
    def grid(cb: DataFrame): DataFrame = cb.groupBy("sub").agg(
      transform(array_sort(collect_list(struct(col("cidx"), col("pc")))),
        s => s.getField("pc")).as("cb"))
    def pqAssign(cb: DataFrame): DataFrame =
      rsub.join(broadcast(grid(cb)), Seq("sub"))
        .withColumn("ds", transform(col("cb"), cw =>
          aggregate(zip_with(col("rs"), cw, (x, c) => (x - c) * (x - c)),
            lit(0L), _ + _)))
        .withColumn("cidx",
          (array_position(col("ds"), array_min(col("ds"))) - 1).cast("int"))
    def pqUpdate(cb: DataFrame, pasg: DataFrame): DataFrame = {
      // r17: subDim per-dimension sums as aggregate expressions over ONE
      // partial-aggregated shuffle — the posexplode form shuffled
      // subDim× the rows through two aggregations (the Lloyd update
      // rewrite, one level down; same exact integers).
      val sums = pasg.groupBy("sub", "cidx").agg(
        count(lit(1)).as("cnt"),
        (0 until subDim).map(i => sum(col("rs").getItem(i)).as(s"s$i")): _*)
      val upd = sums.select(col("sub"), col("cidx"),
        array((0 until subDim).map { i =>
          val s = col(s"s$i")
          val mm = ((s % col("cnt")) + col("cnt")) % col("cnt")
          ((s - mm).cast("double") / col("cnt")).cast("long")
        }: _*).as("npc"))
      cb.join(upd, Seq("sub", "cidx"), "left")
        .select(col("sub"), col("cidx"), coalesce(col("npc"), col("pc")).as("pc"))
        .localCheckpoint()
    }
    for (_ <- 1 to pqIters) pcb = pqUpdate(pcb, pqAssign(pcb))
    // ---- encode the corpus: m codes per vector -----------------------
    val codesW = pqAssign(pcb)
      .select(col("vec_id"), col("sub"), col("cidx").as("code"))
      .groupBy("vec_id")
      .agg(transform(array_sort(collect_list(struct(col("sub"), col("code")))),
        s => s.getField("code")).as("codes"))
    // ---- per-(query, probed cell) residual LUTs ----------------------
    val qResArr =
      if (residual) zip_with(col("qq"), col("c"), (a, b) => a - b)
      else col("qq")
    val qsub = qprobes.join(broadcast(cenB), Seq("cell"))
      .select(col("query_id"), col("cell"),
        posexplode(subSplit(qResArr)).as(Seq("sub", "qs")))
    val luts = qsub.join(broadcast(grid(pcb)), Seq("sub"))
      .withColumn("ds", transform(col("cb"), cw =>
        aggregate(zip_with(col("qs"), cw, (x, c) => (x - c) * (x - c)),
          lit(0L), _ + _)))
      .groupBy("query_id", "cell")
      .agg(transform(array_sort(collect_list(struct(col("sub"), col("ds")))),
        s => s.getField("ds")).as("luts"))
      .localCheckpoint()
    // ---- cell-pruned candidates, ADC rank ----------------------------
    val w = Window.partitionBy("query_id").orderBy(col("adist"), col("neighbor_id"))
    asg.select(col("vec_id"), col("cell"))
      .join(broadcast(luts), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("luts"))
      .join(codesW.withColumnRenamed("vec_id", "neighbor_id"), Seq("neighbor_id"))
      .withColumn("adist",
        aggregate(zip_with(col("luts"), col("codes"),
          (l, cd) => element_at(l, cd + lit(1))), lit(0L), _ + _))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("adist"))
      .orderBy("query_id", "rank")
  }

  /** recall@k of [[ivfPqResidualTopK]] against the exact integer-L2
    * ranking over the same quantized domain (the [[ivfLloydRecall]]
    * exact leg) — one row per variant, labeled so the residual and
    * no-residual runs union into one comparable frame. Both variants run
    * off ONE coarse train and ONE exact ranking (r17): the Lloyd chain,
    * home assignment, probe sets and brute-force leg are identical
    * between them — only the PQ codebooks differ. Each output row is
    * bit-identical to an independent run of its variant.
    */
  def ivfPqResidualRecallBoth(
      embeddings: DataFrame, nQueries: Int = 10, k: Int = 5,
      cells: Int = 8, iters: Int = 2, nprobe: Int = 2,
      m: Int = 16, nC: Int = 16, pqIters: Int = 3): DataFrame = {
    val e0 = lloydQuantized(embeddings)
    val coarse = ivfCoarseOf(e0, e0.filter(col("vec_id") < nQueries),
      cells, iters, nprobe)
    val exact = exactIntTopK(coarse.asg, nQueries, k).localCheckpoint()
    def row(residual: Boolean): DataFrame = recallRow(exact,
      ivfPqResidualTopKFrom(coarse, k, nprobe, m, nC, pqIters, residual),
      lit(if (residual) "residual" else "no_residual").as("variant"),
      lit(k).as("k"), lit(nprobe).as("nprobe"), lit(cells).as("cells"),
      lit(m).as("m"), lit(nC).as("code_k"))
    row(residual = true).unionByName(row(residual = false))
  }

  /** The COMPLETE production serving stack — FAISS's IndexIVFPQ +
    * refine (r14): coarse cells prune to ~nprobe/cells of the corpus,
    * residual-PQ ADC ranks the survivors compressed, and only the top
    * `rescoreR` candidates per query are re-scored at full (quantized
    * integer) precision for the final top-k. The same two-stage shape as
    * [[sq8RescoreTopK]], one level up: compressed retrieval is allowed
    * to be approximate (recall@R ≈ 1 even where recall@k is mediocre —
    * the clustered fixture reads 0.5 at k=5), and the exact stage
    * touches nQueries·rescoreR rows, never the corpus.
    * `ivfpq_rescore_recall_clustered` measures the recovery: 0.5 → 1.0
    * on the same table, oracle-exact end to end (both trainers still
    * in-plan).
    */
  def ivfPqResidualRescoreTopK(
      embeddings: DataFrame, nQueries: Int = 10, k: Int = 5,
      cells: Int = 8, iters: Int = 2, nprobe: Int = 2,
      m: Int = 16, nC: Int = 16, pqIters: Int = 3,
      rescoreR: Int = 50): DataFrame = {
    val cand = ivfPqResidualTopK(embeddings, nQueries, rescoreR, cells,
      iters, nprobe, m, nC, pqIters)
      .select(col("query_id"), col("neighbor_id").as("vec_id"))
    // exact stage in the quantized integer domain — no cache, one narrow
    // corpus scan keyed into by the bounded candidate list
    val eq = quantized(embeddings)
    val q = eq.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("q").as("qq"))
    intL2TopK(cand.join(broadcast(q), Seq("query_id")).join(eq, Seq("vec_id")), k)
      .orderBy("query_id", "rank")
  }

  /** recall@k of the two-stage residual-IVF-PQ path against the exact
    * integer-L2 ranking — the recovery experiment.
    */
  def ivfPqResidualRescoreRecall(
      embeddings: DataFrame, nQueries: Int = 10, k: Int = 5,
      cells: Int = 8, iters: Int = 2, nprobe: Int = 2,
      m: Int = 16, nC: Int = 16, pqIters: Int = 3,
      rescoreR: Int = 50): DataFrame =
    recallRow(exactIntTopK(quantized(embeddings), nQueries, k),
      ivfPqResidualRescoreTopK(embeddings, nQueries, k, cells,
        iters, nprobe, m, nC, pqIters, rescoreR),
      lit(k).as("k"), lit(rescoreR).as("rescore_r"),
      lit(nprobe).as("nprobe"), lit(cells).as("cells"))

  /** DuckDB twin of [[ivfPqResidualRescoreTopK]]: the residual block's
    * ranked frame sliced at rescoreR, then the exact integer-L2 rescore
    * of exactly those pairs.
    */
  def ivfPqResidualRescoreTopKSql(
      nQueries: Int = 10, k: Int = 5, cells: Int = 8, iters: Int = 2,
      nprobe: Int = 2, m: Int = 16, nC: Int = 16, pqIters: Int = 3,
      rescoreR: Int = 50, prelude: String = ""): String =
    s"""WITH ${ivfPqResidualPrefix(nQueries, cells, iters, nprobe, prelude)},
       |${pqResidualCtes("", residual = true, m, nC, pqIters)},
       |rsq AS (SELECT query_id, neighbor_id FROM rr WHERE rn <= $rescoreR),
       |fr AS (
       |  ${intL2TopKSql("rsq", "e0", k)})
       |SELECT query_id, neighbor_id, CAST(rn AS INTEGER) AS "rank", d
       |FROM fr ORDER BY query_id, "rank"""".stripMargin

  /** DuckDB twin of [[ivfPqResidualRescoreRecall]]. */
  def ivfPqResidualRescoreRecallSql(
      nQueries: Int = 10, k: Int = 5, cells: Int = 8, iters: Int = 2,
      nprobe: Int = 2, m: Int = 16, nC: Int = 16, pqIters: Int = 3,
      rescoreR: Int = 50, prelude: String = ""): String =
    s"""WITH ${ivfPqResidualPrefix(nQueries, cells, iters, nprobe, prelude)},
       |${pqResidualCtes("", residual = true, m, nC, pqIters)},
       |rsq AS (SELECT query_id, neighbor_id FROM rr WHERE rn <= $rescoreR),
       |fr AS (
       |  ${intL2TopKSql("rsq", "e0", k)}),
       |${exactSql(nQueries, k)}
       |${recallRowSql(s"CAST($k AS INTEGER) AS k, " +
           s"CAST($rescoreR AS INTEGER) AS rescore_r, " +
           s"CAST($nprobe AS INTEGER) AS nprobe, CAST($cells AS INTEGER) AS cells",
         "br", "fr")}""".stripMargin

  /** The variant CTE block of the residual-IVF-PQ twins: residual (or
    * raw) long form, per-subspace Lloyd training unrolled per iteration
    * (px/pa/ps/pu/p — the [[lloydSqlCtes]] scheme with a (sub, c) state
    * key instead of j), final encode, per-(query, probe) LUTs, and the
    * ADC score/rank. Shares the coarse CTEs (e0, cfin, fca, pr, psd)
    * emitted by [[ivfPqResidualPrefix]].
    */
  private[sim] def pqResidualCtes(
      p: String, residual: Boolean, m: Int, nC: Int, pqIters: Int): String = {
    val subDim = Dim / m
    val d1 = Dim + 1
    val rExpr = if (residual) "e.q[t.i] - c.cd" else "e.q[t.i]"
    val qrExpr = if (residual) "qe.q[t.i] - c.cd" else "qe.q[t.i]"
    // AS MATERIALIZED on every multiply-referenced or chain-state CTE is
    // load-bearing (the r13 clusteredEmbeddingsCte lesson, compounded):
    // each p{it} references p{it-1} TWICE (distance chain + the COALESCE
    // left join), and rsub feeds every iteration — inlined, the plan
    // replays the residual derivation (which itself replays the COARSE
    // trainer) 2^pqIters times and the oracle runs minutes instead of
    // seconds (measured: >300 s → ~5 s).
    val iterCtes = (1 to pqIters).map { it =>
      val prev = it - 1
      s"""${p}px$it AS (
         |  SELECT r.vec_id, r.sub, q.c, SUM((r.r - q.cd) * (r.r - q.cd)) AS d
         |  FROM ${p}rsub r JOIN ${p}p$prev q ON q.sub = r.sub AND q.si = r.si
         |  GROUP BY 1, 2, 3),
         |${p}pa$it AS (
         |  SELECT vec_id, sub, c FROM (
         |    SELECT vec_id, sub, c,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d, c) AS rk
         |    FROM ${p}px$it) WHERE rk = 1),
         |${p}ps$it AS (
         |  SELECT a.sub, a.c, r.si, SUM(r.r) AS s, COUNT(*) AS cnt
         |  FROM ${p}pa$it a JOIN ${p}rsub r
         |    ON r.vec_id = a.vec_id AND r.sub = a.sub
         |  GROUP BY 1, 2, 3),
         |${p}pu$it AS (
         |  SELECT sub, c, si,
         |    CAST((s - (((s % cnt) + cnt) % cnt)) / cnt AS BIGINT) AS cd
         |  FROM ${p}ps$it),
         |${p}p$it AS MATERIALIZED (
         |  SELECT q.sub, q.c, q.si, COALESCE(u.cd, q.cd) AS cd
         |  FROM ${p}p$prev q LEFT JOIN ${p}pu$it u
         |    ON u.sub = q.sub AND u.c = q.c AND u.si = q.si)""".stripMargin
    }.mkString(",\n")
    s"""${p}res AS (
       |  SELECT e.vec_id, t.i, $rExpr AS r
       |  FROM e0 e JOIN fca a ON a.vec_id = e.vec_id
       |    CROSS JOIN range(1, $d1) t(i)
       |    JOIN cfin c ON c.j = a.cell AND c.i = t.i),
       |${p}rsub AS MATERIALIZED (
       |  SELECT vec_id, CAST((i - 1) // $subDim AS INTEGER) AS sub,
       |    ((i - 1) % $subDim) + 1 AS si, r
       |  FROM ${p}res),
       |${p}p0 AS MATERIALIZED (
       |  SELECT r.sub, CAST(s.rn - 1 AS INTEGER) AS c, r.si, r.r AS cd
       |  FROM ${p}rsub r JOIN psd s ON s.vec_id = r.vec_id
       |  WHERE s.rn <= $nC),
       |$iterCtes,
       |${p}pfx AS (
       |  SELECT r.vec_id, r.sub, q.c, SUM((r.r - q.cd) * (r.r - q.cd)) AS d
       |  FROM ${p}rsub r JOIN ${p}p$pqIters q
       |    ON q.sub = r.sub AND q.si = r.si
       |  GROUP BY 1, 2, 3),
       |${p}codes AS MATERIALIZED (
       |  SELECT vec_id, sub, c AS code FROM (
       |    SELECT vec_id, sub, c,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d, c) AS rk
       |    FROM ${p}pfx) WHERE rk = 1),
       |${p}qres AS (
       |  SELECT q.query_id, q.cell, t.i, $qrExpr AS r
       |  FROM pr q JOIN e0 qe ON qe.vec_id = q.query_id
       |    CROSS JOIN range(1, $d1) t(i)
       |    JOIN cfin c ON c.j = q.cell AND c.i = t.i),
       |${p}qsub AS (
       |  SELECT query_id, cell, CAST((i - 1) // $subDim AS INTEGER) AS sub,
       |    ((i - 1) % $subDim) + 1 AS si, r
       |  FROM ${p}qres),
       |${p}lut AS MATERIALIZED (
       |  SELECT s.query_id, s.cell, s.sub, q.c,
       |    SUM((s.r - q.cd) * (s.r - q.cd)) AS d
       |  FROM ${p}qsub s JOIN ${p}p$pqIters q
       |    ON q.sub = s.sub AND q.si = s.si
       |  GROUP BY 1, 2, 3, 4),
       |${p}sc AS (
       |  SELECT q.query_id, a.vec_id AS neighbor_id,
       |    CAST(SUM(l.d) AS BIGINT) AS adist
       |  FROM pr q
       |    JOIN fca a ON a.cell = q.cell AND a.vec_id <> q.query_id
       |    JOIN ${p}codes cd2 ON cd2.vec_id = a.vec_id
       |    JOIN ${p}lut l ON l.query_id = q.query_id AND l.cell = q.cell
       |      AND l.sub = cd2.sub AND l.c = cd2.code
       |  GROUP BY 1, 2),
       |${p}rr AS MATERIALIZED (
       |  SELECT query_id, neighbor_id, adist,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS rn
       |  FROM ${p}sc)""".stripMargin
  }

  /** The shared coarse prefix of the residual-IVF-PQ twins: the Lloyd
    * CTEs plus the coarse rankings of [[ivfCoarseSql]] (fca, pr) and the
    * global md5 seed ranking (psd) both variants and both query shapes
    * read.
    */
  private[sim] def ivfPqResidualPrefix(
      nQueries: Int, cells: Int, iters: Int, nprobe: Int,
      prelude: String = ""): String =
    // cfin pins the trained coarse centroids behind ONE materialization:
    // the variant blocks reference the centroid state repeatedly, and
    // every inlined reference would otherwise replay the whole unrolled
    // Lloyd chain (see the MATERIALIZED note in pqResidualCtes)
    s"""$prelude${lloydSqlCtes(cells, iters)},
       |cfin AS MATERIALIZED (SELECT j, i, cd FROM c$iters),
       |${ivfCoarseSql("cfin", "e0", s"vec_id < $nQueries", nprobe)},
       |psd AS MATERIALIZED (
       |  SELECT vec_id,
       |    ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
       |  FROM e0)""".stripMargin

  /** DuckDB twin of [[ivfPqResidualTopK]]. */
  def ivfPqResidualTopKSql(
      nQueries: Int = 10, k: Int = 5, cells: Int = 8, iters: Int = 2,
      nprobe: Int = 2, m: Int = 16, nC: Int = 16, pqIters: Int = 3,
      residual: Boolean = true, prelude: String = ""): String =
    s"""WITH ${ivfPqResidualPrefix(nQueries, cells, iters, nprobe, prelude)},
       |${pqResidualCtes("", residual, m, nC, pqIters)}
       |SELECT query_id, neighbor_id, CAST(rn AS INTEGER) AS "rank", adist
       |FROM rr WHERE rn <= $k ORDER BY query_id, "rank"""".stripMargin

  /** DuckDB twin of [[ivfPqResidualRecallBoth]]: one
    * shared coarse prefix + exact leg, the residual (r_) and raw (n_)
    * training/encode/search blocks side by side, one recall row each.
    */
  def ivfPqResidualRecallBothSql(
      nQueries: Int = 10, k: Int = 5, cells: Int = 8, iters: Int = 2,
      nprobe: Int = 2, m: Int = 16, nC: Int = 16, pqIters: Int = 3,
      prelude: String = ""): String = {
    def leg(p: String, variant: String) = recallRowSql(
      s"'$variant' AS variant, CAST($k AS INTEGER) AS k, " +
        s"CAST($nprobe AS INTEGER) AS nprobe, CAST($cells AS INTEGER) AS cells, " +
        s"CAST($m AS INTEGER) AS m, CAST($nC AS INTEGER) AS code_k",
      "br", s"(SELECT query_id, neighbor_id FROM ${p}rr WHERE rn <= $k)")
    s"""WITH ${ivfPqResidualPrefix(nQueries, cells, iters, nprobe, prelude)},
       |${exactSql(nQueries, k)},
       |${pqResidualCtes("r_", residual = true, m, nC, pqIters)},
       |${pqResidualCtes("n_", residual = false, m, nC, pqIters)}
       |SELECT * FROM (
       |${leg("r_", "residual")}
       |UNION ALL
       |${leg("n_", "no_residual")})
       |ORDER BY variant""".stripMargin
  }

}
