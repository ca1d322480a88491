package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The web graph as maintained PRODUCTION STATE on disk (VERDICT r15
  * item 1) — the last maintained-state family (exact/LSH text indexes,
  * IVF cells) to get its full production loop.
  * [[WebGraph.linkAuthorityIncremental]] proved the warm-start refresh
  * in-plan; this object is the running fold, shaped exactly like
  * [[graft.sim.IvfMaintenance]]: versioned edge-state + rank-state under
  * a state dir, a per-batch fold = edge merge + `warmIters` power steps,
  * a per-batch CONVERGENCE verdict (the drift-gate analogue), and a full
  * recompute GATED on the warm residual outrunning a threshold.
  *
  * Reference basis: the reference recomputes served artifacts per
  * ingest window (src/dag jobs, kpi_views.sql); the incremental-PageRank
  * serving shape (warm-start between gated full recomputes) is the
  * published practice for link authority over a live crawl.
  *
  * State layout (all per-batch writes `overwrite`-mode and derived only
  * from disk state BEFORE the batch, so a redelivered micro-batch N
  * rewrites identical content — replay-idempotent like the IVF/dedup
  * folds):
  *   - `edges_v{N}` — (src_host, dst_host, n_links), the hosts²-bounded
  *     merged edge weights serving batch N (v0 = the corpus graph);
  *   - `ranks_v{N}` — (host, r, base), the scaled-BIGINT authority
  *     serving batch N (v0 = the 5-iteration corpus chain);
  *   - `verdicts/b{N}` — batch N's convergence report (one row per
  *     host: prior/warm/probe ranks, the per-host probe gap, the batch
  *     residual, `retrain_due`).
  *
  * The GATE is the power-iteration residual: after the warm steps, run
  * ONE probe step more; if the largest per-host move still exceeds
  * `gapThreshold` (scaled-BIGINT — exact, order-free), the warm refresh
  * has not re-converged and the serving ranks are recomputed from init
  * (the retrain analogue). Otherwise the WARM ranks become the next
  * served version — the O(hosts · warmIters) serving path.
  *
  * Scale shape: the edge merge is one batch-sized groupBy folded into
  * hosts²-bounded state; every power step is the hosts-sized join +
  * aggregate of [[WebGraph.iterStep]]; the verdict is hosts-sized; the
  * gated recompute costs `iters` such steps exactly when the gate says
  * the warm state no longer serves. Nothing here scales with corpus
  * size except the batch's own link extraction.
  */
object WebGraphMaintenance {
  import WebGraph.{AuthorityScale, edgesWithOuts, hostsWithN, initRank,
    baseRank, initRanks, iterStep, powerChain, docEdgesSql, edgeStateSql,
    initRankSql, baseRankSql, initRanksSql, powerStepSql, powerChainSql}

  def edgesPath(stateDir: String, v: Long): String = s"$stateDir/edges_v$v"
  def ranksPath(stateDir: String, v: Long): String = s"$stateDir/ranks_v$v"

  private def exists(p: String): Boolean =
    java.nio.file.Files.exists(java.nio.file.Paths.get(p))

  /** Documents → host-level edge frame: the extraction chain the batch
    * twin and the queue stream both run (markup synth → link extract →
    * normalize → host graph).
    */
  def edgesOf(documents: DataFrame): DataFrame =
    WebGraph.linkHostGraph(WebGraph.htmlLinks(TextOps.htmlCorpus(documents)))

  /** Seed edges_v0 + ranks_v0 from the corpus — only if absent (a
    * resumed run must not reseed over its own maintained state).
    */
  def seedIfAbsent(corpusEdges: DataFrame, stateDir: String,
      iters: Int): Unit =
    if (!exists(edgesPath(stateDir, 0))) {
      val edges = corpusEdges.persist()
      val edgesW = edgesWithOuts(edges).localCheckpoint()
      val ranks = powerChain(initRanks(edges), edgesW, iters)
      edges.coalesce(1).write.mode("overwrite")
        .parquet(edgesPath(stateDir, 0))
      ranks.coalesce(1).write.mode("overwrite")
        .parquet(ranksPath(stateDir, 0))
      edges.unpersist(blocking = false)
    }

  /** One maintenance step for micro-batch `batchId` against the disk
    * state BEFORE it: merge the batch's edges, warm-refresh the ranks,
    * emit the convergence verdict, then gate the full recompute. Shared
    * verbatim by the in-plan batch twin and the graftqueue streaming
    * fold — streaming ≡ batch because they ARE the same code against
    * the same state layout.
    *
    * `crashAfterVerdicts` is the fault-injection seam for the recovery
    * spec: the named batch dies between its verdict write and its
    * edge/rank state writes — the half-applied worst case — and a
    * checkpoint resume must replay it to the identical end state.
    */
  private[graft] def maintenanceStep(s: SparkSession, stateDir: String,
      verdictsDir: String, batchEdges: DataFrame, batchId: Long,
      warmIters: Int, iters: Int, gapThreshold: Long,
      crashAfterVerdicts: Option[Long] = None): Unit = {
    val prevEdges = s.read.parquet(edgesPath(stateDir, batchId))
    val prevRanks = s.read.parquet(ranksPath(stateDir, batchId))
    val merged = prevEdges.select("src_host", "dst_host", "n_links")
      .unionByName(batchEdges.select("src_host", "dst_host", "n_links"))
      .groupBy("src_host", "dst_host").agg(sum("n_links").as("n_links"))
      .persist()
    // r18: out-weights pre-joined once for every chain/probe of the step
    val mergedW = edgesWithOuts(merged).localCheckpoint()
    // warm start: prior ranks re-based on the MERGED host set (a host
    // first seen in this batch cold-starts at the uniform S div N; the
    // damping base always reflects the current N)
    val warm0 = hostsWithN(merged)
      .join(prevRanks.select(col("host"), col("r").as("r_prior")),
        Seq("host"), "left")
      .select(col("host"), coalesce(col("r_prior"), initRank).as("r"),
        baseRank.as("base"))
      .localCheckpoint()
    val warm = powerChain(warm0, mergedW, warmIters)
    // the gate probe: one step further; the residual is how far the
    // warm state still moves — exact scaled-BIGINT, order-free. gaps is
    // the checkpointed frame (it is read twice: the verdict join and the
    // residual max); the probe step lives inside its lineage (r17 — one
    // eager job here instead of the probe's own).
    val probe = iterStep(warm, mergedW, warm0.select("host", "base"))
    val gaps = warm.select(col("host"), col("r").as("rank_warm_scaled"))
      .join(probe.select(col("host"), col("r").as("rank_probe_scaled")),
        "host")
      .withColumn("gap_step",
        abs(col("rank_probe_scaled") - col("rank_warm_scaled")))
      .localCheckpoint()
    // r18 (guide §5): the residual is ONE scalar off the checkpointed
    // gaps frame — collected once, inlined into the verdict projection
    // (the broadcast-aggregate crossJoin built the same number on every
    // executor) and reused for the gate, which previously re-READ the
    // just-written verdict parquet per batch. Same value, same verdict
    // bytes, same crash-replay semantics (the verdict is still written
    // before any state write).
    val residualMax = {
      val r = gaps.agg(max("gap_step")).collect()(0)
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    val verdict = warm0.select(col("host"), col("r").as("rank_prior_scaled"))
      .join(gaps, "host")
      .select((lit(batchId) + 1).cast("int").as("batch_seq"), col("host"),
        col("rank_prior_scaled"), col("rank_warm_scaled"),
        col("rank_probe_scaled"), col("gap_step"),
        lit(residualMax).as("residual_max"),
        lit(residualMax > gapThreshold).as("retrain_due"))
    verdict.coalesce(1).write.mode("overwrite")
      .parquet(s"$verdictsDir/b$batchId")
    if (crashAfterVerdicts.contains(batchId))
      throw new RuntimeException(
        s"injected crash after verdicts of batch $batchId (recovery spec)")
    merged.coalesce(1).write.mode("overwrite")
      .parquet(edgesPath(stateDir, batchId + 1))
    val next =
      if (residualMax > gapThreshold) powerChain(initRanks(merged), mergedW, iters)
      else warm
    next.coalesce(1).write.mode("overwrite")
      .parquet(ranksPath(stateDir, batchId + 1))
    merged.unpersist(blocking = false)
    ()
  }

  /** The gate threshold for the registered queries: 5·10⁸ numerator
    * units = 0.05% of the total rank mass as the largest allowed
    * per-host probe move. On the stationary %3 carve the warm state
    * re-converges well under it; the spam-burst drift leg overruns it
    * by orders of magnitude (WebGraphMaintenanceSpec pins both
    * margins).
    */
  val GapThreshold: Long = AuthorityScale / 2000

  /** The standard registry carve over `documents`: corpus = %3 ≠ 0 (the
    * state), the remainder split by parity into two crawl batches — the
    * same two-segment shape every maintained-state family uses.
    */
  private[graft] def carve(docs: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val d = docs.filter(col("doc_id").isNotNull)
    (d.filter(col("doc_id") % 3 =!= 0),
      d.filter(col("doc_id") % 6 === 0),
      d.filter(col("doc_id") % 6 === 3))
  }

  /** The BATCH two-phase twin of the streaming maintenance loop: the
    * same [[maintenanceStep]] fold run directly (no transport) over the
    * standard carve's two batches against a fresh state dir. Registered
    * under the SAME oracle as `streaming_link_authority`, so
    * stream ≡ batch is itself hash-checked.
    */
  def maintenanceBatch(spark: SparkSession, dir: String,
      warmIters: Int = 2, iters: Int = 5,
      gapThreshold: Long = GapThreshold): DataFrame =
    maintenanceBatchFrom(
      graft.TestdataAdapter.table(spark, dir, "documents"),
      warmIters, iters, gapThreshold)

  /** [[maintenanceBatch]] over any documents frame (the soak harness's
    * entry — fresh state per call, so every call times the FULL loop:
    * corpus seed + two extract/merge/refresh/gate steps).
    */
  def maintenanceBatchFrom(docs: DataFrame,
      warmIters: Int = 2, iters: Int = 5,
      gapThreshold: Long = GapThreshold): DataFrame = {
    val spark = docs.sparkSession
    val (corpus, b1, b2) = carve(docs)
    val staged = java.nio.file.Files
      .createTempDirectory("graft_wgm_batch").toString
    val (state, verd) = (s"$staged/state", s"$staged/verdicts")
    seedIfAbsent(edgesOf(corpus), state, iters)
    maintenanceStep(spark, state, verd, edgesOf(b1), 0L,
      warmIters, iters, gapThreshold)
    maintenanceStep(spark, state, verd, edgesOf(b2), 1L,
      warmIters, iters, gapThreshold)
    spark.read.parquet(s"$verd/*").orderBy("batch_seq", "host")
  }

  // ───────────────────────── DuckDB twins ──────────────────────────────

  /** One fold of the maintenance loop in SQL, batch edges `b${k}edges`
    * merged into `$prevEdges` with prior ranks `$priorRanks`: emits
    * `m$k` (merged edges), `rep$k` (the verdict), and `ranks$k` — the
    * next served ranks with the gate encoded STRUCTURALLY (warm rows
    * survive only when the gate stays closed, the full-recompute chain
    * `f${k}_*` only when it fires; a gate disagreement empties the next
    * fold's prior ranks and fails the hash loudly).
    */
  private def foldSql(k: Int, prevEdges: String, priorRanks: String,
      warmIters: Int, iters: Int, gapThreshold: Long): String =
    s"""m$k AS MATERIALIZED (
       |  SELECT src_host, dst_host, CAST(SUM(n_links) AS BIGINT) AS n_links
       |  FROM (SELECT * FROM $prevEdges UNION ALL SELECT * FROM b${k}edges)
       |  GROUP BY 1, 2),
       |${edgeStateSql(s"m$k", s"o$k", s"h$k", s"nb$k")},
       |w${k}_0 AS MATERIALIZED (
       |  SELECT h.host, COALESCE(p.r, $initRankSql) AS r, $baseRankSql AS base
       |  FROM h$k h CROSS JOIN nb$k LEFT JOIN $priorRanks p ON p.host = h.host),
       |${powerChainSql(t => s"w${k}_$t", warmIters, s"m$k", s"o$k")},
       |${powerStepSql(s"probe$k", s"w${k}_$warmIters", s"m$k", s"o$k")},
       |g$k AS MATERIALIZED (
       |  SELECT w.host, w0.r AS rank_prior_scaled, w.r AS rank_warm_scaled,
       |    p.r AS rank_probe_scaled,
       |    CAST(abs(p.r - w.r) AS BIGINT) AS gap_step
       |  FROM w${k}_$warmIters w
       |    JOIN probe$k p ON p.host = w.host
       |    JOIN w${k}_0 w0 ON w0.host = w.host),
       |rm$k AS (SELECT CAST(MAX(gap_step) AS BIGINT) AS residual_max FROM g$k),
       |rep$k AS MATERIALIZED (
       |  SELECT CAST($k AS INTEGER) AS batch_seq, g.host,
       |    g.rank_prior_scaled, g.rank_warm_scaled, g.rank_probe_scaled,
       |    g.gap_step, r.residual_max,
       |    r.residual_max > $gapThreshold AS retrain_due
       |  FROM g$k g CROSS JOIN rm$k r),
       |gate$k AS (SELECT COALESCE(bool_or(retrain_due), FALSE) AS due FROM rep$k),
       |${initRanksSql(s"f${k}_0", s"h$k", s"nb$k")},
       |${powerChainSql(t => s"f${k}_$t", iters, s"m$k", s"o$k")},
       |ranks$k AS MATERIALIZED (
       |  SELECT * FROM w${k}_$warmIters WHERE NOT (SELECT due FROM gate$k)
       |  UNION ALL
       |  SELECT * FROM f${k}_$iters WHERE (SELECT due FROM gate$k))""".stripMargin

  /** DuckDB twin of [[maintenanceBatch]] (and of the graftqueue
    * streaming form — same fold, same oracle): the corpus chain seeds
    * ranks_v0 ([[WebGraph.linkAuthorityCtes]], prefix `c`), then two
    * folds over the parity batches. On the stationary carve the gate
    * stays closed both times; the retrain-FIRING path is
    * `link_authority_retrain`.
    */
  def maintenanceCarveSql(warmIters: Int = 2, iters: Int = 5,
      gapThreshold: Long = GapThreshold): String =
    s"""WITH ${WebGraph.linkAuthorityCtes(iters,
          where = "doc_id IS NOT NULL AND doc_id % 3 <> 0", prefix = "c")},
       |${docEdgesSql("b1", "doc_id IS NOT NULL AND doc_id % 6 = 0")},
       |${foldSql(1, "cedges", s"cpr$iters", warmIters, iters, gapThreshold)},
       |${docEdgesSql("b2", "doc_id IS NOT NULL AND doc_id % 6 = 3")},
       |${foldSql(2, "m1", "ranks1", warmIters, iters, gapThreshold)}
       |SELECT * FROM (SELECT * FROM rep1 UNION ALL SELECT * FROM rep2)
       |ORDER BY batch_seq, host""".stripMargin

  // ───────────── the retrain-FIRING leg (spam-burst drift) ─────────────

  /** Deterministic synthetic corpus for the retrain experiment: doc_ids
    * [0, n) through the REAL extraction chain (markup synth → link
    * extract → host graph), so the organic edge weights come from the
    * generator arithmetic in both engines.
    */
  private def synthDocs(spark: SparkSession, lo: Long, hi: Long): DataFrame =
    spark.range(lo, hi).select(col("id").as("doc_id"), lit("x").as("text"))

  /** The spam burst: every organic host points `weight` links at a host
    * the corpus has never seen — the link-farm event an authority
    * pipeline exists to catch. The rank mass shifts massively, the warm
    * refresh cannot re-converge in `warmIters` steps, and the gate MUST
    * fire.
    */
  private def spamEdges(spark: SparkSession, weight: Long): DataFrame =
    spark.range(TextOps.HtmlHosts).select(
      concat(lit("h"), col("id").cast("string"), lit(".example"))
        .as("src_host"),
      lit("spam.example").as("dst_host"),
      lit(weight).as("n_links"))

  /** The retrain-FIRING maintenance run, in-plan over synthetic state:
    * corpus = docs [0, n) (organic graph), batch 1 = the spam burst
    * (gate fires: a new host absorbs a huge share of every host's
    * out-mass, and the 17-host re-base moves every rank), batch 2 = a
    * small organic crawl delta (docs [n, n+m)) against the RETRAINED
    * state — residual back under the gate: the loop closes, absorbed,
    * inside one hash. Also exercises the new-host cold start (the spam
    * host enters at the uniform rank).
    */
  def maintenanceRetrain(spark: SparkSession,
      n: Long = 300, m: Long = 30, spamWeight: Long = 60,
      warmIters: Int = 2, iters: Int = 5,
      gapThreshold: Long = GapThreshold): DataFrame = {
    val staged = java.nio.file.Files
      .createTempDirectory("graft_wgm_retrain").toString
    val (state, verd) = (s"$staged/state", s"$staged/verdicts")
    seedIfAbsent(edgesOf(synthDocs(spark, 0, n)), state, iters)
    maintenanceStep(spark, state, verd, spamEdges(spark, spamWeight), 0L,
      warmIters, iters, gapThreshold)
    maintenanceStep(spark, state, verd,
      edgesOf(synthDocs(spark, n, n + m)), 1L,
      warmIters, iters, gapThreshold)
    spark.read.parquet(s"$verd/*").orderBy("batch_seq", "host")
  }

  /** DuckDB twin of [[maintenanceRetrain]]: the synthetic-corpus chain
    * (doc range CTE shadowing `documents`), the spam burst as a VALUES
    * edge frame, then the two folds — the gate encoded structurally as
    * in [[maintenanceCarveSql]], so batch 1 must fire (else ranks1 keeps
    * the unconverged warm state and report 2 diverges) and batch 2 must
    * stay closed.
    */
  def maintenanceRetrainSql(n: Long = 300, m: Long = 30,
      spamWeight: Long = 60, warmIters: Int = 2, iters: Int = 5,
      gapThreshold: Long = GapThreshold): String = {
    import TextOps.HtmlHosts
    val spamRows = (0 until HtmlHosts).map(i =>
      s"SELECT 'h$i.example' AS src_host, 'spam.example' AS dst_host, CAST($spamWeight AS BIGINT) AS n_links")
      .mkString("\nUNION ALL\n")
    s"""WITH documents AS (SELECT range AS doc_id FROM range(0, ${n + m})),
       |${WebGraph.linkAuthorityCtes(iters,
          where = s"doc_id < $n", prefix = "c")},
       |b1edges AS MATERIALIZED ($spamRows),
       |${foldSql(1, "cedges", s"cpr$iters", warmIters, iters, gapThreshold)},
       |${docEdgesSql("b2", s"doc_id >= $n")},
       |${foldSql(2, "m1", "ranks1", warmIters, iters, gapThreshold)}
       |SELECT * FROM (SELECT * FROM rep1 UNION ALL SELECT * FROM rep2)
       |ORDER BY batch_seq, host""".stripMargin
  }
}
