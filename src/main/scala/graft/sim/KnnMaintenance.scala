package graft.sim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._


/** Index maintenance decisions and the clustered fixture: incremental
  * IVF attach, the drift report, and the generated clustered
  * embedding corpus (r15 split, zero behavior change).
  */
private[sim] trait KnnMaintenance extends KnnQuant {
  // ────────── incremental IVF index maintenance (r13) ───────────────────

  /** The ANN half of the maintained-index-as-running-state family (the
    * exact/LSH dedup indexes already live there): the IVF index — cells
    * trained by the in-engine Lloyd trainer, one (vec_id, cell, vector)
    * row per corpus vector — is RUNNING STATE, and a new batch attaches
    * to it without retraining or rescanning: each batch vector is
    * assigned to its nearest EXISTING cell (the home cell its index row
    * joins the state under — an O(batch) delta append, exactly how
    * production IVF serves between periodic retrains) and searched
    * against the state-before-batch restricted to its nprobe nearest
    * cells. Output: one row per (batch vector, top-k state neighbor)
    * with the home cell and the integer L2 distance.
    *
    * Scale shape: training and state touch only the corpus; the batch
    * side is bounded by construction (probes broadcast, candidates ≈
    * nprobe/cells of the state per batch vector); nothing rescans the
    * corpus per batch and nothing is all-pairs.
    */
  def ivfAttachIncremental(
      embeddings: DataFrame, cells: Int = 8, iters: Int = 2,
      nprobe: Int = 2, k: Int = 3): DataFrame = {
    // the same corpus/batch carve the LSH incremental twin uses; the index
    // STATE is the coarse home assignment of the corpus, and each batch
    // vector's probe sets are its nprobe nearest existing cells, its home
    // cell first (batch × nprobe rows, eager — once they are materialized
    // neither quantized cache has a reader)
    val e0 = lloydQuantized(embeddings.filter(col("vec_id") % 3 =!= 0))
    val eb = lloydQuantized(embeddings.filter(col("vec_id") % 3 === 0))
    val coarse = ivfCoarseOf(e0, eb, cells, iters, nprobe)
    eb.unpersist(blocking = false)
    val home = coarse.qprobes.filter(col("pr") === 1)
      .select(col("query_id"), col("cell").as("home_cell"))
    intL2TopK(ivfCandidates(coarse), k)
      .join(broadcast(home), Seq("query_id"))
      .select(col("query_id").as("batch_id"), col("home_cell"),
        col("neighbor_id"), col("rank"), col("d"))
      .orderBy("batch_id", "rank")
  }

  /** The standard carve's batch (vec_id % 3 = 0), quantized as e0 is:
    * the `e0b` CTE of the maintenance twins.
    */
  private val CARVE_BATCH_CTE = quantizeSql("e0b", "vec_id % 3 = 0")

  /** DuckDB twin of [[ivfAttachIncremental]]: the Lloyd prefix trains on
    * the CORPUS carve only (the `where` filter on e0), the batch
    * quantizes in its own CTE, and attach/probe/search replay term for
    * term.
    */
  def ivfAttachIncrementalSql(
      cells: Int = 8, iters: Int = 2, nprobe: Int = 2, k: Int = 3): String =
    s"""WITH ${lloydSqlCtes(cells, iters, where = "vec_id % 3 <> 0")},
       |$CARVE_BATCH_CTE,
       |${ivfCoarseSql(s"c$iters", "e0b", "TRUE", nprobe)},
       |${ivfSearchSql("e0b", k)}
       |SELECT r.query_id AS batch_id, h.cell AS home_cell, r.neighbor_id,
       |  CAST(r.rn AS INTEGER) AS "rank", r.d
       |FROM ar r JOIN pr h ON h.query_id = r.query_id AND h.pr = 1
       |ORDER BY batch_id, "rank"""".stripMargin

  // ────────── IVF drift report: the retrain decision (r14) ─────────────

  /** The maintenance half [[ivfAttachIncremental]] was missing (VERDICT
    * r13 item 2): serving between retrains is O(batch), but production
    * IVF also has to decide WHEN the trained cells have drifted enough
    * to retrain. This report compares, per trained cell, the
    * training-time population against the attached batch under the SAME
    * centroids — sizes, integer inertia and radius (max centroid
    * distance), population shares — and derives the decision inputs:
    * `drift_ratio` (batch mean centroid distance / training mean — ≈1
    * for a stationary batch, ≫1 when the batch no longer matches the
    * trained geometry) and `retrain_due`, true when the ratio crosses
    * `driftRatio` or a cell's batch share outgrows `shareRatio` × its
    * training share (the imbalance signal: traffic is piling into cells
    * the quantizer carved small). IvfDriftSpec proves the contract: an
    * engineered drifted batch trips the flag, a stationary fresh draw
    * from the same mixture does not.
    *
    * Everything upstream of the two ratio columns is exact BIGINT
    * (counts, inertia sums, radii in micro-unit² domain); the ratios are
    * single IEEE divisions of those integers — deterministic in both
    * engines, so the whole report is hash-exact. Scale shape: train as
    * [[kmeansLloydTrain]]; the batch side is one narrow argmin pass +
    * one cells-sized aggregate; the report is cells rows.
    */
  def ivfDriftReport(
      corpus: DataFrame, batch: DataFrame, cells: Int = 8, iters: Int = 2,
      driftRatio: Double = 1.5, shareRatio: Double = 2.0): DataFrame = {
    val e0 = lloydQuantized(corpus)
    val grid = lloydTrainGrid(e0, cells, iters)
    // per-cell stats of a quantized frame's home assignment under the
    // trained cells; the assignment checkpoints, so the cache can go
    def homeStats(eq: DataFrame, suffix: String): DataFrame = {
      val asg = IvfMaintenance.homeCells(eq, grid).localCheckpoint()
      eq.unpersist(blocking = false)
      IvfMaintenance.cellStats(asg, suffix)
    }
    val ts = homeStats(e0, "train")
    val bs = homeStats(lloydQuantized(batch), "batch")
    IvfMaintenance.driftReport(lloydCenFrame(corpus.sparkSession, grid),
        ts, bs, driftRatio, shareRatio)
      .orderBy("cell")
  }

  /** [[ivfDriftReport]] over the registry's standard corpus/batch carve
    * (vec_id % 3 — the same split [[ivfAttachIncremental]] and the LSH
    * incremental twin use), so `ivf_drift_report` measures drift for
    * exactly the state `ivf_attach_incremental` maintains.
    */
  def ivfDriftReportCarve(
      embeddings: DataFrame, cells: Int = 8, iters: Int = 2): DataFrame =
    ivfDriftReport(
      embeddings.filter(col("vec_id") % 3 =!= 0),
      embeddings.filter(col("vec_id") % 3 === 0), cells, iters)

  /** DuckDB twin of [[ivfDriftReportCarve]]: Lloyd prefix on the corpus
    * carve, the corpus home cells (`fca`) and the batch's (`pr` at
    * nprobe 1) with their distances, then [[IvfMaintenance]]'s own
    * per-cell stats and drift-report SQL.
    */
  def ivfDriftReportCarveSql(
      cells: Int = 8, iters: Int = 2,
      driftRatio: Double = 1.5, shareRatio: Double = 2.0): String =
    s"""WITH ${lloydSqlCtes(cells, iters, where = "vec_id % 3 <> 0")},
       |$CARVE_BATCH_CTE,
       |${ivfCoarseSql(s"c$iters", "e0b", "TRUE", 1)},
       |ts AS (${IvfMaintenance.cellStatsSql("fca", "train")}),
       |bsx AS (${IvfMaintenance.cellStatsSql("pr", "batch")}),
       |cl AS (SELECT DISTINCT j AS cell FROM c$iters)
       |${IvfMaintenance.driftReportSql("cl", "ts", "bsx", driftRatio, shareRatio)}
       |ORDER BY cell""".stripMargin

  // ─────────────── clustered-embedding fixture (r13) ───────────────────

  /** Deterministic CLUSTERED embedding table — the honest input for ANN
    * operating-point experiments (VERDICT r12 item 4): the testdata
    * embeddings are structureless random vectors, on which
    * `ivf_lloyd_recall` reads 0.44 at nprobe=2/16 — not because the
    * operator is weak but because there is no cluster structure for the
    * coarse quantizer to find. Real embedding corpora ARE clustered
    * (that's why IVF works in production), so the recall trade-off the
    * operator exists to measure needs a clustered table to be visible.
    *
    * Generator (MockFlow's md5-draw style — both engines share the hash,
    * [[clusteredEmbeddingsCte]] is the verbatim DuckDB twin):
    *   - vec_id 0..n-1; true cluster g = int(md5("cg|"+id)[0:6 hex]) % k;
    *   - embedding[i] = center + noise, center = 8.0 iff i % k == g else
    *     0 (k disjoint axis blocks — separated by construction), noise =
    *     (u48("ce|"+id+"|"+i) − 0.5)·0.5 ∈ [−0.25, 0.25);
    *   - label = g (same role as the testdata's label column).
    * Every arithmetic step is exact in double (48-bit dyadic uniforms,
    * power-of-two scales, 8+noise fits 52 mantissa bits), and the one
    * rounding — the final float cast — is the same IEEE operation in
    * both engines, so the TABLE ITSELF is oracle-exact, not just the
    * queries over it.
    */
  def clusteredEmbeddings(spark: org.apache.spark.sql.SparkSession,
      n: Int = 500, kTrue: Int = 8): DataFrame =
    IvfMaintenance.mixEmbeddings(spark, 0, n, kTrue, 8.0)

  /** DuckDB twin of [[clusteredEmbeddings]], as a WITH prelude that
    * SHADOWS the `embeddings` table, so any existing oracle SQL runs
    * unchanged over the generated table: [[IvfMaintenance.mixEmbeddingsCte]]
    * at one segment. Ends with a comma — splice as the `prelude` of
    * [[ivfLloydRecallSql]] / [[sq8RecallSql]].
    */
  def clusteredEmbeddingsCte(n: Int = 500, kTrue: Int = 8): String =
    IvfMaintenance.mixEmbeddingsCte(n, 0, kTrue, 8.0)
}
