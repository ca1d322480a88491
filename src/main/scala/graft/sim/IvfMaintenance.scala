package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The IVF index as maintained PRODUCTION STATE on disk (VERDICT r14
  * item 1): the text dedup indexes already run the full loop —
  * graftqueue-fed micro-batches, classify-against-state-before-batch,
  * O(batch) delta folds, crash recovery — while the ANN family only had
  * two-batch in-plan queries (`ivf_attach_incremental`,
  * `ivf_drift_report`). This object is the missing fold: versioned
  * centroid + per-cell-train-stats state under a state dir, an O(batch)
  * attach step per micro-batch, the drift report emitted as the batch's
  * verdict, and a RETRAIN gated on `retrain_due` that absorbs the whole
  * attached window (corpus ∪ deltas) into the next centroid version —
  * the maintenance loop `IvfDriftSpec` proves, as running state on real
  * transport (graftqueue via [[graft.streaming.IvfStream]]).
  *
  * Reference basis: the reference ingests continuously and recomputes
  * served artifacts per window (the src/dag jobs, kpi_views.sql); the ANN
  * maintenance shape itself follows the published IVF serving practice
  * (attach between periodic retrains; retrain when drift trips).
  *
  * State layout (all per-batch writes `overwrite`-mode and derived only
  * from disk state BEFORE the batch, so a redelivered micro-batch N
  * rewrites identical content — replay-idempotent like the dedup folds):
  *   - `centroids_v{N}` — the (j, c: 64×BIGINT) cell grid serving batch N
  *     (v0 = trained on the corpus at seed time);
  *   - `trainstats_v{N}` — per-cell (cell, n_train, inertia_train,
  *     radius_train) of the training window under centroids_v{N}: the
  *     drift baseline;
  *   - `delta_b{N}` — batch N's attached rows (vec_id, cell, d, q):
  *     bounded per-row state (64 BIGINTs), the retrain window's fuel;
  *   - `verdicts/b{N}` — batch N's drift report (one row per cell).
  *
  * Scale shape: seeding touches the corpus once; each batch step is one
  * broadcast of the KB-sized centroid grid + a narrow argmin map over
  * the batch + a cells-sized aggregate; the gate reads a cells-sized
  * verdict frame; a retrain is the explicit full-window cost production
  * pays exactly when the gate says the geometry no longer serves — and
  * the window is read back as ONE multi-path parquet scan (flat plan at
  * any number of folded batches, the Streams.stateBefore rule).
  */
object IvfMaintenance {
  import Knn.{lloydQuantized, lloydTrainGrid, lloydAssignGrid,
    lloydCenFrame, lloydSqlCtes, Dim, LloydScale}

  def cenPath(stateDir: String, v: Long): String = s"$stateDir/centroids_v$v"
  def statsPath(stateDir: String, v: Long): String = s"$stateDir/trainstats_v$v"
  def deltaPath(stateDir: String, b: Long): String = s"$stateDir/delta_b$b"

  private def exists(p: String): Boolean =
    java.nio.file.Files.exists(java.nio.file.Paths.get(p))

  /** Byte-identical copy of a (flat) parquet state dir — the gate-closed
    * version bump (r17): when `retrain_due` is false the next version IS
    * the current one, so re-reading and re-writing it through two Spark
    * jobs per batch bought nothing. Overwrite semantics match the Spark
    * write (delete target, then copy), so redelivered batches stay
    * replay-idempotent.
    */
  private def copyState(src: String, dst: String): Unit = {
    val s = java.nio.file.Paths.get(src)
    val d = java.nio.file.Paths.get(dst)
    if (java.nio.file.Files.exists(d)) {
      val walk = java.nio.file.Files.walk(d)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
      finally walk.close()
    }
    java.nio.file.Files.createDirectories(d)
    val list = java.nio.file.Files.list(s)
    try list.filter(p => java.nio.file.Files.isRegularFile(p))
      .forEach(p => java.nio.file.Files.copy(p, d.resolve(p.getFileName)))
    finally list.close()
  }

  private def train(e0: DataFrame, cells: Int, iters: Int): Seq[Seq[Long]] =
    lloydTrainGrid(e0, cells, iters)

  /** Per-cell stats of an assignment frame carrying (cell, d). */
  private[sim] def cellStats(asg: DataFrame, suffix: String): DataFrame =
    asg.groupBy("cell").agg(
      count(lit(1)).as(s"n_$suffix"),
      sum("d").as(s"inertia_$suffix"),
      max("d").as(s"radius_$suffix"))

  /** Seed centroids_v0 + trainstats_v0 from the corpus — only if absent
    * (a resumed run must not retrain over its own maintained state).
    */
  def seedIfAbsent(corpus: DataFrame, stateDir: String,
      cells: Int, iters: Int): Unit =
    if (!exists(cenPath(stateDir, 0))) {
      val e0 = lloydQuantized(corpus)
      val grid = train(e0, cells, iters)
      val asg = lloydAssignGrid(e0, grid)
        .withColumn("d", array_min(col("ds")))
        .select(col("vec_id"), col("j").as("cell"), col("d"))
      lloydCenFrame(corpus.sparkSession, grid)
        .coalesce(1).write.mode("overwrite").parquet(cenPath(stateDir, 0))
      cellStats(asg, "train")
        .coalesce(1).write.mode("overwrite").parquet(statsPath(stateDir, 0))
      e0.unpersist(blocking = false)
    }

  /** O(batch) attach: assign each batch vector to its nearest EXISTING
    * cell. Returns (vec_id, cell, d, q) — q kept so the delta can fuel a
    * later retrain without rescanning the source. Eager (checkpointed):
    * the report aggregation and the delta write both read it.
    */
  private def attachAssign(batch: DataFrame, cen: DataFrame): DataFrame = {
    val eb = lloydQuantized(batch)
    val grid = cen.select("j", "c").collect().sortBy(_.getInt(0))
      .toSeq.map(_.getSeq[Long](1))
    val out = lloydAssignGrid(eb, grid)
      .withColumn("d", array_min(col("ds")))
      .select(col("vec_id"), col("j").as("cell"), col("d"), col("q"))
      .localCheckpoint()
    eb.unpersist(blocking = false)
    out
  }

  /** The drift-report algebra of [[Knn.ivfDriftReport]], driven from
    * PERSISTED per-cell stats instead of in-plan assignment frames
    * (totals are the stats' sums — identical values): exact-integer
    * inputs, single IEEE divisions for the ratios, `retrain_due` when
    * the batch mean centroid distance outruns the training mean by
    * `driftRatio` or a cell's batch share outgrows `shareRatio` × its
    * training share.
    */
  private[sim] def driftReport(cen: DataFrame, ts: DataFrame, bs: DataFrame,
      driftRatio: Double, shareRatio: Double): DataFrame = {
    def nullifZero(c: org.apache.spark.sql.Column) =
      when(c === 0, lit(null)).otherwise(c)
    val totals = ts.agg(sum("n_train").as("nt_total"))
      .crossJoin(bs.agg(sum("n_batch").as("nb_total")))
    cen.select(col("j").as("cell"))
      .join(ts, Seq("cell"), "left")
      .join(bs, Seq("cell"), "left")
      .crossJoin(broadcast(totals))
      .select(col("cell"),
        coalesce(col("n_train"), lit(0L)).as("n_train"),
        coalesce(col("n_batch"), lit(0L)).as("n_batch"),
        coalesce(col("inertia_train"), lit(0L)).as("inertia_train"),
        coalesce(col("inertia_batch"), lit(0L)).as("inertia_batch"),
        coalesce(col("radius_train"), lit(0L)).as("radius_train"),
        coalesce(col("radius_batch"), lit(0L)).as("radius_batch"),
        col("nt_total"), col("nb_total"))
      .withColumn("mean_d_train",
        col("inertia_train").cast("double") / nullifZero(col("n_train")))
      .withColumn("mean_d_batch",
        col("inertia_batch").cast("double") / nullifZero(col("n_batch")))
      .withColumn("share_train",
        col("n_train").cast("double") / nullifZero(col("nt_total")))
      .withColumn("share_batch",
        col("n_batch").cast("double") / nullifZero(col("nb_total")))
      .withColumn("drift_ratio",
        col("mean_d_batch") / nullifZero(col("mean_d_train")))
      .withColumn("retrain_due",
        coalesce(col("drift_ratio") > lit(driftRatio), lit(false)) ||
          coalesce(col("share_batch") > lit(shareRatio) * col("share_train"),
            lit(false)))
      .drop("nt_total", "nb_total")
  }

  /** One maintenance step for micro-batch `batchId` against the disk
    * state BEFORE it: attach, emit the drift verdict, append the delta,
    * then gate the retrain. Shared verbatim by the in-plan batch twin
    * and the graftqueue streaming fold — streaming ≡ batch because they
    * ARE the same code against the same state layout.
    *
    * `crashAfterVerdicts` is the fault-injection seam for the recovery
    * spec: the named batch dies between its verdict write and its delta/
    * state writes — the half-applied worst case — and a checkpoint
    * resume must replay it to the identical end state.
    */
  private[graft] def maintenanceStep(s: SparkSession, corpus: DataFrame,
      stateDir: String, verdictsDir: String, batch: DataFrame, batchId: Long,
      cells: Int, iters: Int, driftRatio: Double, shareRatio: Double,
      crashAfterVerdicts: Option[Long] = None): Unit = {
    seedIfAbsent(corpus, stateDir, cells, iters)
    val cen = s.read.parquet(cenPath(stateDir, batchId))
    val ts = s.read.parquet(statsPath(stateDir, batchId))
    val asg = attachAssign(batch, cen)
    driftReport(cen, ts, cellStats(asg.select("cell", "d"), "batch"),
        driftRatio, shareRatio)
      .withColumn("batch_seq", (lit(batchId) + 1).cast("int"))
      .coalesce(1).write.mode("overwrite").parquet(s"$verdictsDir/b$batchId")
    if (crashAfterVerdicts.contains(batchId))
      throw new RuntimeException(
        s"injected crash after verdicts of batch $batchId (recovery spec)")
    asg.write.mode("overwrite").parquet(deltaPath(stateDir, batchId))
    val due = s.read.parquet(s"$verdictsDir/b$batchId")
      .filter(col("retrain_due")).limit(1).count() > 0
    if (due) {
      // retrain absorbs the whole attached window: corpus ∪ deltas ≤ N,
      // the deltas read back as ONE multi-path scan (flat plan however
      // many batches have folded)
      val corpusQ = lloydQuantized(corpus)
      val win = corpusQ.select("vec_id", "q")
        .unionByName(
          s.read.parquet((0L to batchId).map(deltaPath(stateDir, _)): _*)
            .select("vec_id", "q"))
        .persist()
      val grid2 = train(win, cells, iters)
      val asg2 = lloydAssignGrid(win, grid2)
        .withColumn("d", array_min(col("ds")))
        .select(col("vec_id"), col("j").as("cell"), col("d"))
      lloydCenFrame(s, grid2).coalesce(1).write.mode("overwrite")
        .parquet(cenPath(stateDir, batchId + 1))
      cellStats(asg2, "train")
        .coalesce(1).write.mode("overwrite")
        .parquet(statsPath(stateDir, batchId + 1))
      win.unpersist(blocking = false)
      corpusQ.unpersist(blocking = false)
    } else {
      copyState(cenPath(stateDir, batchId), cenPath(stateDir, batchId + 1))
      copyState(statsPath(stateDir, batchId), statsPath(stateDir, batchId + 1))
    }
    ()
  }

  /** The standard registry carve over the embeddings table: corpus =
    * vec_id % 3 ≠ 0 (the state `ivf_attach_incremental` maintains), the
    * %3 = 0 remainder split into two micro-batches by parity — the same
    * two-segment shape the dedup queue streams use.
    */
  private[graft] def carve(emb: DataFrame): (DataFrame, DataFrame, DataFrame) = (
    emb.filter(col("vec_id") % 3 =!= 0),
    emb.filter(col("vec_id") % 6 === 0),
    emb.filter(col("vec_id") % 6 === 3))

  /** The BATCH two-phase twin of the streaming maintenance loop: the
    * same [[maintenanceStep]] fold run directly (no transport) over the
    * standard carve's two batches against a fresh state dir. Registered
    * under the SAME oracle as `streaming_ivf_maintenance`, so
    * stream ≡ batch is itself hash-checked.
    */
  def maintenanceBatch(spark: SparkSession, dir: String,
      cells: Int = 8, iters: Int = 2,
      driftRatio: Double = 1.5, shareRatio: Double = 2.0): DataFrame =
    maintenanceBatchFrom(
      graft.TestdataAdapter.table(spark, dir, "embeddings"),
      cells, iters, driftRatio, shareRatio)

  /** [[maintenanceBatch]] over any embeddings frame (the soak harness's
    * entry — fresh state per call, so every call times the FULL loop:
    * seed train + two attach/verdict/gate steps).
    */
  def maintenanceBatchFrom(emb: DataFrame,
      cells: Int = 8, iters: Int = 2,
      driftRatio: Double = 1.5, shareRatio: Double = 2.0): DataFrame = {
    val spark = emb.sparkSession
    val (corpus, b1, b2) = carve(emb)
    val staged = java.nio.file.Files
      .createTempDirectory("graft_ivfm_batch").toString
    val (state, verd) = (s"$staged/state", s"$staged/verdicts")
    maintenanceStep(spark, corpus, state, verd, b1, 0L,
      cells, iters, driftRatio, shareRatio)
    maintenanceStep(spark, corpus, state, verd, b2, 1L,
      cells, iters, driftRatio, shareRatio)
    spark.read.parquet(s"$verd/*").orderBy("batch_seq", "cell")
  }

  // ───────────────────────── DuckDB twins ──────────────────────────────

  private def d1 = Dim + 1

  /** Quantize + assign + per-cell stats for one batch leg, against the
    * centroid CTE `cenCte`, emitting `${p}e0b` / `${p}bx` / `${p}ba` /
    * `${p}bs` (stats named n_batch/inertia_batch/radius_batch).
    */
  private def batchLegSql(p: String, srcWhere: String, cenCte: String): String =
    s"""${p}e0b AS (
       |  SELECT vec_id,
       |    list_transform(embedding,
       |      x -> CAST(floor(CAST(x AS DOUBLE) * $LloydScale.0) AS BIGINT)) AS q
       |  FROM e WHERE $srcWhere),
       |${p}bx AS (
       |  SELECT b.vec_id, c.j, SUM((b.q[t.i] - c.cd) * (b.q[t.i] - c.cd)) AS d
       |  FROM ${p}e0b b CROSS JOIN range(1, $d1) t(i) JOIN $cenCte c ON c.i = t.i
       |  GROUP BY 1, 2),
       |${p}ba AS (
       |  SELECT vec_id, j AS cell, d FROM (
       |    SELECT vec_id, j, d,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, j) AS rk
       |    FROM ${p}bx) WHERE rk = 1),
       |${p}bs AS MATERIALIZED (
       |  SELECT cell, COUNT(*) AS n_batch,
       |    CAST(SUM(d) AS BIGINT) AS inertia_batch,
       |    CAST(MAX(d) AS BIGINT) AS radius_batch
       |  FROM ${p}ba GROUP BY 1)""".stripMargin

  /** Final assignment + per-cell TRAIN stats off a finished Lloyd chain
    * (centroids `$cenCte`, quantized source `${p}src`), emitting
    * `${p}fx` / `${p}fa` / `${p}ts`.
    */
  private def trainStatsSql(p: String, srcCte: String, cenCte: String): String =
    s"""${p}fx AS (
       |  SELECT e.vec_id, c.j, SUM((e.q[t.i] - c.cd) * (e.q[t.i] - c.cd)) AS d
       |  FROM $srcCte e CROSS JOIN range(1, $d1) t(i) JOIN $cenCte c ON c.i = t.i
       |  GROUP BY 1, 2),
       |${p}fa AS (
       |  SELECT vec_id, j AS cell, d FROM (
       |    SELECT vec_id, j, d,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, j) AS rk
       |    FROM ${p}fx) WHERE rk = 1),
       |${p}ts AS MATERIALIZED (
       |  SELECT cell, COUNT(*) AS n_train,
       |    CAST(SUM(d) AS BIGINT) AS inertia_train,
       |    CAST(MAX(d) AS BIGINT) AS radius_train
       |  FROM ${p}fa GROUP BY 1)""".stripMargin

  /** The drift-report algebra as one SELECT over cell CTE `cellsCte`,
    * train stats `$tsCte`, batch stats `$bsCte` — same NULLIF'd ratio /
    * flag expressions as the Spark side, totals as BIGINT-cast sums of
    * the per-cell stats.
    */
  private def reportSql(cellsCte: String, tsCte: String, bsCte: String,
      batchSeq: Int, driftRatio: Double, shareRatio: Double): String =
    s"""SELECT cell, n_train, n_batch, inertia_train, inertia_batch,
       |  radius_train, radius_batch, mean_d_train, mean_d_batch,
       |  share_train, share_batch,
       |  mean_d_batch / NULLIF(mean_d_train, 0.0) AS drift_ratio,
       |  COALESCE(mean_d_batch / NULLIF(mean_d_train, 0.0) > $driftRatio, FALSE)
       |    OR COALESCE(share_batch > $shareRatio * share_train, FALSE) AS retrain_due,
       |  CAST($batchSeq AS INTEGER) AS batch_seq
       |FROM (
       |  SELECT *,
       |    CAST(inertia_train AS DOUBLE) / NULLIF(n_train, 0) AS mean_d_train,
       |    CAST(inertia_batch AS DOUBLE) / NULLIF(n_batch, 0) AS mean_d_batch,
       |    CAST(n_train AS DOUBLE) / NULLIF(nt_total, 0) AS share_train,
       |    CAST(n_batch AS DOUBLE) / NULLIF(nb_total, 0) AS share_batch
       |  FROM (
       |    SELECT c.cell,
       |      COALESCE(t.n_train, 0) AS n_train,
       |      COALESCE(b.n_batch, 0) AS n_batch,
       |      COALESCE(t.inertia_train, 0) AS inertia_train,
       |      COALESCE(b.inertia_batch, 0) AS inertia_batch,
       |      COALESCE(t.radius_train, 0) AS radius_train,
       |      COALESCE(b.radius_batch, 0) AS radius_batch,
       |      (SELECT CAST(SUM(n_train) AS BIGINT) FROM $tsCte) AS nt_total,
       |      (SELECT CAST(SUM(n_batch) AS BIGINT) FROM $bsCte) AS nb_total
       |    FROM $cellsCte c
       |      LEFT JOIN $tsCte t USING (cell)
       |      LEFT JOIN $bsCte b USING (cell)))""".stripMargin

  /** DuckDB twin of [[maintenanceBatch]] (and of the graftqueue
    * streaming form — same fold, same oracle): Lloyd on the corpus
    * carve, train stats, batch-1 report, then the retrain GATE encoded
    * STRUCTURALLY — the state serving batch 2 is v0 filtered by
    * `NOT (any retrain_due in report 1)`, so if the engine's gate and
    * the oracle's ever disagreed the v1 state would be empty and the
    * hash would fail loudly. (On the stationary testdata carve the gate
    * stays closed; the retrain-FIRING path is `ivf_maintenance_retrain`.)
    */
  def maintenanceCarveSql(cells: Int = 8, iters: Int = 2,
      driftRatio: Double = 1.5, shareRatio: Double = 2.0): String =
    s"""WITH ${lloydSqlCtes(cells, iters, where = "vec_id % 3 <> 0")},
       |cfin AS MATERIALIZED (SELECT * FROM c$iters),
       |${trainStatsSql("", "e0", "cfin")},
       |cl AS (SELECT DISTINCT j AS cell FROM cfin),
       |${batchLegSql("b1", "vec_id % 6 = 0", "cfin")},
       |rep1 AS MATERIALIZED (
       |${reportSql("cl", "ts", "b1bs", 1, driftRatio, shareRatio)}),
       |gate1 AS (SELECT COALESCE(bool_or(retrain_due), FALSE) AS due FROM rep1),
       |cv1 AS MATERIALIZED (SELECT * FROM cfin WHERE NOT (SELECT due FROM gate1)),
       |tsv1 AS MATERIALIZED (SELECT * FROM ts WHERE NOT (SELECT due FROM gate1)),
       |clv1 AS (SELECT DISTINCT j AS cell FROM cv1),
       |${batchLegSql("b2", "vec_id % 6 = 3", "cv1")},
       |rep2 AS (
       |${reportSql("clv1", "tsv1", "b2bs", 2, driftRatio, shareRatio)})
       |SELECT * FROM (SELECT * FROM rep1 UNION ALL SELECT * FROM rep2)
       |ORDER BY batch_seq, cell""".stripMargin

  // ───────────── the retrain-FIRING leg (clustered + drifted) ──────────

  /** Deterministic mixture segment for the retrain experiment — the
    * [[Knn.clusteredEmbeddings]] generator with an id range and a
    * parameterized block magnitude, so a SHIFTED mixture (mag −8 vs the
    * corpus's +8) is a real distribution change the drift gate must
    * catch. Same md5-dyadic arithmetic, so the table itself is
    * oracle-exact (see clusteredEmbeddings' contract).
    */
  def mixEmbeddings(spark: SparkSession, idLo: Int, idHi: Int,
      kTrue: Int, mag: Double): DataFrame = {
    def u48(key: org.apache.spark.sql.Column) =
      conv(substring(md5(key), 1, 12), 16, 10).cast("long")
        .cast("double") / lit((1L << 48).toDouble)
    spark.range(idLo, idHi).select(col("id").as("vec_id"))
      .withColumn("g",
        (conv(substring(md5(concat(lit("cg|"), col("vec_id").cast("string"))), 1, 6), 16, 10)
          .cast("long") % kTrue).cast("int"))
      .withColumn("embedding",
        transform(sequence(lit(0), lit(Dim - 1)), i =>
          (when(pmod(i, lit(kTrue)) === col("g"), lit(mag)).otherwise(lit(0.0d))
            + (u48(concat(lit("ce|"), col("vec_id").cast("string"),
                lit("|"), i.cast("string"))) - lit(0.5d)) * lit(0.5d))
            .cast("float")))
      .select(col("vec_id"), col("embedding"), col("g").as("label"))
  }

  /** DuckDB CTE shadowing `embeddings` with the three-segment mixture:
    * corpus [0, n) at +mag, batch-1 [n, n+m) and batch-2 [n+m, n+2m) at
    * −mag (the drifted stream). MATERIALIZED for the same OOM reason as
    * [[Knn.clusteredEmbeddingsCte]]. Ends with a comma — splice first.
    */
  def mixEmbeddingsCte(n: Int, m: Int, kTrue: Int, mag: Double): String = {
    def hexSum(key: String, digits: Int): String =
      (0 until digits).map(j =>
        s"CAST(${graft.text.TextOps.hexValSql(s"substr(md5($key), ${j + 1}, 1)")} AS BIGINT) * ${1L << (4 * (digits - 1 - j))}")
        .mkString("(", " + ", ")")
    def u48(key: String): String =
      s"(${hexSum(key, 12)} / CAST(${1L << 48} AS DOUBLE))"
    val gExpr =
      s"CAST(${hexSum("'cg|' || CAST(t.vec_id AS VARCHAR)", 6)} % $kTrue AS INTEGER)"
    val dimKey = "'ce|' || CAST(vec_id AS VARCHAR) || '|' || CAST(i AS VARCHAR)"
    val noise = s"(${u48(dimKey)} - 0.5) * 0.5"
    val magSql = s"CASE WHEN vec_id < $n THEN $mag ELSE ${-mag} END"
    s"""embeddings AS MATERIALIZED (
       |  SELECT vec_id,
       |    list_transform(range(0, $Dim), i ->
       |      CAST((CASE WHEN i % $kTrue = g THEN $magSql ELSE 0.0 END + $noise) AS REAL)) AS embedding,
       |    g AS label
       |  FROM (SELECT t.vec_id, $gExpr AS g FROM range(0, ${n + 2 * m}) t(vec_id))),
       |""".stripMargin
  }

  /** The retrain-FIRING maintenance run, in-plan over the generated
    * mixture: corpus at +8, both batches from the −8 mixture. Batch 1
    * trips `retrain_due` (its centroid distances dwarf the training
    * mean), the gate retrains on corpus ∪ batch 1, and batch 2 — more
    * of the SAME drifted mixture — reports ≈1 drift against the
    * retrained state: the loop closes, absorbed, inside one hash.
    * shareRatio is effectively off (the experiment isolates the drift
    * signal; a focused batch always outgrows a mixed window's shares).
    */
  def maintenanceRetrain(spark: SparkSession,
      n: Int = 360, m: Int = 120, kTrue: Int = 4, mag: Double = 8.0,
      cells: Int = 8, iters: Int = 2,
      driftRatio: Double = 1.5, shareRatio: Double = 1e9): DataFrame = {
    val corpus = mixEmbeddings(spark, 0, n, kTrue, mag)
    val b1 = mixEmbeddings(spark, n, n + m, kTrue, -mag)
    val b2 = mixEmbeddings(spark, n + m, n + 2 * m, kTrue, -mag)
    val staged = java.nio.file.Files
      .createTempDirectory("graft_ivfm_retrain").toString
    val (state, verd) = (s"$staged/state", s"$staged/verdicts")
    maintenanceStep(spark, corpus, state, verd, b1, 0L,
      cells, iters, driftRatio, shareRatio)
    maintenanceStep(spark, corpus, state, verd, b2, 1L,
      cells, iters, driftRatio, shareRatio)
    spark.read.parquet(s"$verd/*").orderBy("batch_seq", "cell")
  }

  /** DuckDB twin of [[maintenanceRetrain]]: the corpus Lloyd chain, the
    * batch-1 report (gate OPEN, asserted structurally — the retrained
    * chain's source is filtered by `(SELECT due FROM gate1)`, so a
    * closed gate would empty report 2 and fail the hash), then a SECOND
    * full Lloyd chain (prefix `r`) trained on corpus ∪ batch 1, its
    * train stats, and the batch-2 report against the retrained state.
    */
  def maintenanceRetrainSql(n: Int = 360, m: Int = 120, kTrue: Int = 4,
      mag: Double = 8.0, cells: Int = 8, iters: Int = 2,
      driftRatio: Double = 1.5, shareRatio: Double = 1e9): String =
    s"""WITH ${mixEmbeddingsCte(n, m, kTrue, mag)}
       |${lloydSqlCtes(cells, iters, where = s"vec_id < $n")},
       |cfin AS MATERIALIZED (SELECT * FROM c$iters),
       |${trainStatsSql("", "e0", "cfin")},
       |cl AS (SELECT DISTINCT j AS cell FROM cfin),
       |${batchLegSql("b1", s"vec_id >= $n AND vec_id < ${n + m}", "cfin")},
       |rep1 AS MATERIALIZED (
       |${reportSql("cl", "ts", "b1bs", 1, driftRatio, shareRatio)}),
       |gate1 AS (SELECT COALESCE(bool_or(retrain_due), FALSE) AS due FROM rep1),
       |${lloydSqlCtes(cells, iters,
          where = s"vec_id < ${n + m} AND (SELECT due FROM gate1)",
          prefix = "r", includeNorm = false)},
       |rcfin AS MATERIALIZED (SELECT * FROM rc$iters),
       |${trainStatsSql("r", "re0", "rcfin")},
       |rcl AS (SELECT DISTINCT j AS cell FROM rcfin),
       |${batchLegSql("b2", s"vec_id >= ${n + m}", "rcfin")},
       |rep2 AS (
       |${reportSql("rcl", "rts", "b2bs", 2, driftRatio, shareRatio)})
       |SELECT * FROM (SELECT * FROM rep1 UNION ALL SELECT * FROM rep2)
       |ORDER BY batch_seq, cell""".stripMargin
}
