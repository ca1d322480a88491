package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph-based ANN (r16, VERDICT item 2) — the one major ANN index
  * family the engine lacked beside IVF/PQ/SQ8: a deterministic
  * NSW-style proximity graph, built ROUND-BATCHED so both the build and
  * the search hash-gate the way the Lloyd loop does (fixed structure,
  * exact integer distances, total tie-breaks), and so the build is
  * data-parallel instead of per-element sequential — the published
  * batch-parallel construction shape (each round's insertions search
  * the graph FROZEN at the previous round, then the degree bound
  * re-prunes set-wise).
  *
  * Entry points are CLUSTER-ROUTED (the SPANN/DiskANN-style hybrid):
  * a Lloyd coarse quantizer picks one medoid per cell FROM THE SEED
  * BLOCK, and every beam search (build and serve) starts from that
  * entry set. This is load-bearing, not decoration: a pure
  * nearest-edge graph over strongly clustered data is a disjoint union
  * of per-cluster subgraphs, and a single-entry greedy walk can never
  * leave the entry's cluster (measured here first: recall 0.26 from
  * one entry vs 1.0 cluster-routed on the clustered fixture). The seed
  * block is md5-ranked — an unbiased deterministic sample, so it
  * covers the clusters the quantizer finds.
  *
  * Determinism contract, mirrored term-for-term by the SQL twins:
  *   - vectors quantize to BIGINT micro-units (the lloydQuantized rule),
  *     distances are exact integer squared-L2, every ranking ties on
  *     (d, id);
  *   - the seed block = the `seedSize` first vectors by
  *     (md5(vec_id), vec_id), linked all-pairs then degree-pruned to
  *     `m`; entries = per-Lloyd-cell seed medoid (members of the graph
  *     from round 0);
  *   - the remaining vectors insert in `rounds` fixed rounds
  *     (vec_id mod rounds — structure independent of corpus size, so
  *     ONE oracle string serves every scale factor);
  *   - per insertion: a beam search (width `beamW`, `hops` fixed hops)
  *     over the previous round's graph; the `m` nearest beam survivors
  *     become forward edges, reverse edges mirror them, and every
  *     node's adjacency re-prunes to the `m` nearest by (d, dst) —
  *     order-free within the round.
  *
  * Scale shape: the adjacency is a bounded n×m table; each build round
  * is one batch of beam searches = `hops` joins against the adjacency
  * (equality on the beam node — co-partitionable, nothing all-pairs
  * except the FIXED-size seed block) plus one degree-bound groupBy;
  * serving cost is a fixed candidate budget per query — the entry set
  * (cells-bounded) plus W·m per hop — regardless of corpus size, the
  * property graph indexes exist for.
  */
object KnnGraph {
  import Knn.{Dim, lloydQuantized, lloydTrainGrid, lloydAssignGrid,
    lloydSqlCtes, ivfCoarseOf, ivfCandidates, intL2TopK, exactIntTopK,
    recallRow, ivfCoarseSql, ivfSearchSql, exactSql, recallRowSql}

  /** How many nearest entry points the first beam keeps. */
  val EnterW = 2

  /** Exact integer squared-L2 between two quantized vectors. */
  private def pdist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => { val t = x - y; t * t }),
      lit(0L), _ + _)

  private def pdistSql(a: String, b: String): String =
    s"CAST(list_sum(list_transform(range(1, ${Dim + 1}), i -> ($a[i]-$b[i])*($a[i]-$b[i]))) AS BIGINT)"

  /** md5-ranked seed block — the deterministic unbiased sample the
    * graph bootstraps from (the lloydSeedGrid ranking).
    */
  private def seedOf(e0: DataFrame, seedSize: Int): DataFrame =
    e0.withColumn("h", md5(col("vec_id").cast("string")))
      .orderBy("h", "vec_id").limit(seedSize)
      .select("vec_id", "q")

  /** Cluster-routed entry set: train the Lloyd quantizer on the full
    * corpus, then take each cell's nearest SEED vector (ties
    * (d, vec_id)) — graph members from round 0, one per populated
    * cell.
    */
  private def entriesOf(e0: DataFrame, seed: DataFrame,
      cells: Int, iters: Int): DataFrame = {
    val grid = lloydTrainGrid(e0, cells, iters)
    lloydAssignGrid(seed, grid)
      .withColumn("d", array_min(col("ds")))
      .withColumn("rk", row_number().over(
        Window.partitionBy("j").orderBy(col("d"), col("vec_id"))))
      .filter(col("rk") === 1)
      .select(col("vec_id").as("cand"))
  }

  /** One beam-search pass for a query frame (qid, qq) over a frozen
    * adjacency (src, dst, d) — the batch form of NSW's ef-search:
    * score the entry set, then `hops` rounds of expand-the-beam's-
    * UNEXPANDED-nodes → score the newly discovered → re-rank the full
    * discovered pool to the beamW best by (d, cand). Expand-once is
    * load-bearing: a plain fixed-hop beam re-walks the same top nodes
    * every hop and stalls (measured: recall 0.96 oscillating vs 1.0
    * expand-once at the same budget). Returns the final beam
    * (qid, cand, d) and, when `withVisited`, every candidate ever
    * scored (the honest candidate-budget accounting for the recall
    * experiment).
    */
  /** The entry set with its vectors — (cand, cq), built ONCE per graph
    * (r18: the entries are frozen at build time, yet every walk
    * re-joined them against the corpus at hop 0 before this round —
    * one corpus-side join + broadcast build per walk for a ≤cells-row
    * frame).
    */
  private[graft] def entriesWithVecs(entries: DataFrame, e0: DataFrame): DataFrame =
    entries.join(e0.select(col("vec_id").as("cand"), col("q").as("cq")), "cand")
      .select(col("cand"), col("cq"))
      .localCheckpoint()

  private[graft] def beamSearch(queries: DataFrame, adj: DataFrame,
      e0: DataFrame, entriesv: DataFrame, beamW: Int, hops: Int,
      withVisited: Boolean = false): (DataFrame, DataFrame) = {
    val vecs = e0.select(col("vec_id").as("cand"), col("q").as("cq"))
    val w = Window.partitionBy("qid").orderBy(col("d"), col("cand"))
    def score(cands: DataFrame): DataFrame = cands
      .join(queries, "qid").join(vecs, "cand")
      .select(col("qid"), col("cand"), pdist(col("qq"), col("cq")).as("d"))
    // discovered = every (query, candidate) scored so far, carrying an
    // `exp` flag — true once the node's adjacency has been walked — AND
    // its rank rk by (d, cand) within the query; the beam is rk ≤ beamW.
    // Each hop expands only the beam's UNEXPANDED nodes — the batch
    // form of NSW's ef-search (a node's neighborhood is walked once;
    // the beam never oscillates over the same expansions). r17 batch 2
    // (guide §2.4): the hop is now ONE shuffle. The frontier is
    // rank-defined (rk ≤ width && !exp), so the flag flip is the
    // projection `exp || rk ≤ width` — no flip-join; freshly walked
    // candidates are scored WITHOUT the distinct + anti-join
    // (re-scores of known candidates are bounded by the constant
    // beam·m volume and produce identical d), and the per-(qid, cand)
    // min/max aggregate dedups the union exactly as the anti-join form
    // did. The rank window runs INSIDE the hop, on top of the
    // aggregate: the explicit repartition(qid) is the hop's single
    // exchange (hash(qid) satisfies the (qid, cand) clustering of the
    // aggregate and the window alike), and the next hop reads
    // frontier, flag and beam straight off the checkpointed leaf —
    // localCheckpoint under AQE reports UnknownPartitioning, so a rank
    // window AFTER the checkpoint would re-shuffle what the stored rk
    // gets for free (OptimizationEquivalenceSpec pins beam ≡ the r16
    // two-frame anti-join form).
    def rankIt(d: DataFrame): DataFrame =
      d.withColumn("rk", row_number().over(w))
    // hop-0 scoring off the pre-joined entry vectors: the crossJoin
    // already carries qq AND cq, so no corpus join at all here
    var discovered = rankIt(
      queries.crossJoin(broadcast(entriesv))
      .select(col("qid"), col("cand"), pdist(col("qq"), col("cq")).as("d"))
      .withColumn("exp", lit(false))
      .repartition(col("qid")))
      .localCheckpoint()
    // the first beam keeps only the EnterW nearest entries: the rest
    // are other clusters' medoids, and expanding them scores whole
    // far neighborhoods for nothing (measured: ~60 wasted candidates
    // per query at 16 entries)
    var width = EnterW
    for (t <- 1 to hops) {
      val frontier = discovered
        .filter(col("rk") <= width && !col("exp")).select("qid", "cand")
      val fresh = frontier.join(adj, frontier("cand") === adj("src"))
        .select(col("qid"), col("dst").as("cand"))
      discovered = rankIt(discovered
        .select(col("qid"), col("cand"), col("d"),
          (col("exp") || col("rk") <= width).as("exp"))
        .unionByName(score(fresh).withColumn("exp", lit(false)))
        .repartition(col("qid"))
        .groupBy("qid", "cand").agg(min("d").as("d"), max("exp").as("exp")))
      // r18: lineage cut every SECOND hop instead of every hop — the two
      // references the next hop takes on the un-checkpointed state are
      // the same subtree, so its repartition(qid) exchange and the
      // adj/vecs/queries broadcast builds dedup via ReuseExchange inside
      // ONE action instead of being rebuilt per hop (VERDICT r17 item 1:
      // fewer broadcast-build job submissions per hop, no extra bytes)
      if (t % 2 == 0 || t == hops) discovered = discovered.localCheckpoint()
      width = beamW
    }
    val beam = discovered
      .filter(col("rk") <= (if (hops == 0) EnterW else beamW))
      .drop("rk", "exp")
    (beam, if (withVisited) discovered.select("qid", "cand") else beam)
  }

  /** Build the proximity graph over a quantized corpus. Returns
    * (final adjacency — degree ≤ m plus the in-link floor — and the
    * entry set).
    *
    * The IN-LINK FLOOR is load-bearing: the degree re-prune keeps each
    * node's m best OUT-edges, but in high dimensions the k-NN digraph
    * is hub-skewed and a node nobody ranks highly ends with ZERO
    * in-links — unreachable by any walk (measured: exactly such an
    * orphan cost the last recall point). So every node's single best
    * in-edge (its nearest neighbor pointing back) is kept OUTSIDE the
    * prune pool, the DiskANN-style reachability guarantee. Duplicate
    * edges the floor re-adds are harmless: expansion dedups candidates.
    */
  private[graft] def buildGraph(e0: DataFrame, seedSize: Int, rounds: Int,
      m: Int, beamW: Int, hops: Int,
      cells: Int, iters: Int): (DataFrame, DataFrame) = {
    val seed = seedOf(e0, seedSize).localCheckpoint()
    val entries = entriesOf(e0, seed, cells, iters).localCheckpoint()
    // r18: the entry vectors ride with the entry ids — ONE corpus join
    // per graph instead of one inside every round's walk
    val entriesv = entriesWithVecs(entries, e0)
    val wsrc = Window.partitionBy("src").orderBy(col("d"), col("dst"))
    val pairs = seed.select(col("vec_id").as("src"), col("q").as("sq"))
      .join(seed.select(col("vec_id").as("dst"), col("q").as("dq")),
        col("src") =!= col("dst"))
      .select(col("src"), col("dst"), pdist(col("sq"), col("dq")).as("d"))
      .localCheckpoint()
    // r17 batch 2 (guide §2.4/§5): the pruned adjacency and the in-link
    // floors used to be TWO accumulated frames, each eagerly
    // checkpointed per round (plus a third checkpoint on the rank
    // frame) — three job submissions per round over KB-sized state.
    // They now ride in ONE frame with an `fl` flag (floors are kept
    // OUTSIDE the degree prune, exactly as before: the prune pool is
    // the fl=false rows). One checkpoint per round; the rank window is
    // recomputed from the walk's checkpointed state (a leaf read) for
    // its two consumers instead of being checkpointed itself. The
    // repartition(src) is the update's single exchange — hash(src)
    // satisfies both the (src, dst) min-aggregate and the degree-prune
    // window. Edge multiset ≡ the r16 two-frame form (duplicate edges
    // the floor re-adds stay harmless: expansion dedups candidates).
    var adjf = pairs
      .withColumn("rk", row_number().over(wsrc))
      .filter(col("rk") <= m).drop("rk")
      .withColumn("fl", lit(false))
      .unionByName(pairs
        .withColumn("rk", row_number().over(
          Window.partitionBy("dst").orderBy(col("d"), col("src"))))
        .filter(col("rk") === 1).drop("rk")
        .withColumn("fl", lit(true)))
      .localCheckpoint()
    for (r <- 1 to rounds) {
      // checkpointed: every hop of the walk re-broadcasts the query
      // frame, and without the checkpoint each of those broadcast
      // builds re-ran this anti-join subtree (guide §1.2: don't
      // compute things twice)
      val batch = e0.join(seed.select("vec_id"), Seq("vec_id"), "left_anti")
        .filter(col("vec_id") % rounds === (r - 1))
        .select(col("vec_id").as("qid"), col("q").as("qq"))
        .localCheckpoint()
      val (beam, _) = beamSearch(batch, adjf.select("src", "dst", "d"), e0,
        entriesv, beamW, hops)
      val ranked = beam.filter(col("cand") =!= col("qid"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("qid").orderBy(col("d"), col("cand"))))
      val fwd = ranked.filter(col("rk") <= m)
        .select(col("qid").as("src"), col("cand").as("dst"), col("d"))
      // inserted-node floor: its nearest found neighbor points back
      val newFloor = ranked.filter(col("rk") === 1)
        .select(col("cand").as("src"), col("qid").as("dst"), col("d"))
      adjf = adjf.filter(!col("fl")).select("src", "dst", "d")
        .unionByName(fwd)
        .unionByName(fwd.select(col("dst").as("src"), col("src").as("dst"),
          col("d")))
        .repartition(col("src"))
        .groupBy("src", "dst").agg(min("d").as("d"))
        .withColumn("rk", row_number().over(wsrc))
        .filter(col("rk") <= m).drop("rk")
        .withColumn("fl", lit(false))
        .unionByName(adjf.filter(col("fl")).unionByName(
          newFloor.withColumn("fl", lit(true))))
        .localCheckpoint()
    }
    (adjf.select("src", "dst", "d"), entries)
  }

  /** The served graph-ANN query: build the index, then beam-search
    * each query (vec_id < nQueries) from the cluster-routed entry set
    * and report the k nearest beam survivors (self excluded) by exact
    * integer distance.
    */
  def graphTopK(embeddings: DataFrame, nQueries: Int = 10, k: Int = 5,
      seedSize: Int = 64, rounds: Int = 4, m: Int = 8,
      beamW: Int = 8, hops: Int = 4,
      cells: Int = 8, iters: Int = 2): DataFrame = {
    val e0 = lloydQuantized(embeddings)
    val (adj, entries) =
      buildGraph(e0, seedSize, rounds, m, beamW, hops, cells, iters)
    val queries = e0.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("q").as("qq"))
      .localCheckpoint()
    val (beam, _) = beamSearch(queries, adj, e0,
      entriesWithVecs(entries, e0), beamW, hops)
    e0.unpersist(blocking = false)
    beam.filter(col("cand") =!= col("qid"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(col("d"), col("cand"))))
      .filter(col("rank") <= k)
      .select(col("qid").as("query_id"), col("cand").as("neighbor_id"),
        col("rank"), col("d"))
      .orderBy("query_id", "rank")
  }

  // ───────────────────────── DuckDB twins ──────────────────────────────

  /** The hop chain for one beam pass: emits `${p}cd$t` (deduped
    * candidates) and `${p}bm$t` (the rescored, width-pruned beam) for
    * t = 1..hops, walking adjacency `$adj` for query frame `$qf`
    * (columns qid, qq). `${p}bm0` must exist (the pruned entry beam).
    */
  private def beamHopsSql(p: String, qf: String, adj: String, gq: String,
      beamW: Int, hops: Int): String =
    (1 to hops).map { t =>
      s"""${p}fr$t AS (
         |  SELECT b.qid, b.cand FROM ${p}bm${t - 1} b
         |  WHERE NOT EXISTS (SELECT 1 FROM ${p}ex${t - 1} e
         |                    WHERE e.qid = b.qid AND e.cand = b.cand)),
         |${p}ex$t AS MATERIALIZED (
         |  SELECT qid, cand FROM ${p}ex${t - 1}
         |  UNION ALL SELECT qid, cand FROM ${p}fr$t),
         |${p}nw$t AS (
         |  SELECT DISTINCT f.qid, a.dst AS cand
         |  FROM ${p}fr$t f JOIN $adj a ON a.src = f.cand
         |  WHERE NOT EXISTS (SELECT 1 FROM ${p}dc${t - 1} d
         |                    WHERE d.qid = f.qid AND d.cand = a.dst)),
         |${p}dc$t AS MATERIALIZED (
         |  SELECT qid, cand, d FROM ${p}dc${t - 1}
         |  UNION ALL
         |  SELECT n.qid, n.cand, ${pdistSql("q.qq", "v.q")} AS d
         |  FROM ${p}nw$t n
         |    JOIN $qf q ON q.qid = n.qid
         |    JOIN $gq v ON v.vec_id = n.cand),
         |${p}bm$t AS MATERIALIZED (
         |  SELECT qid, cand, d FROM (
         |    SELECT qid, cand, d,
         |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d, cand) AS rk
         |    FROM ${p}dc$t)
         |  WHERE rk <= $beamW)""".stripMargin
    }.mkString(",\n")

  /** The entry-scored pool `${p}dc0`, its width-pruned beam `${p}bm0`,
    * and the empty expanded-set `${p}ex0` for query frame `$qf`
    * against the `gent` entry set.
    */
  private def beamSeedSql(p: String, qf: String, gq: String,
      beamW: Int): String =
    s"""${p}dc0 AS MATERIALIZED (
       |  SELECT b.qid, gent.cand, ${pdistSql("b.qq", "v.q")} AS d
       |  FROM $qf b CROSS JOIN gent
       |    JOIN $gq v ON v.vec_id = gent.cand),
       |${p}bm0 AS (
       |  SELECT qid, cand, d FROM (
       |    SELECT qid, cand, d,
       |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d, cand) AS rk
       |    FROM ${p}dc0)
       |  WHERE rk <= $EnterW),
       |${p}ex0 AS (SELECT qid, cand FROM ${p}dc0 WHERE 1 = 0)""".stripMargin

  /** The build chain over quantized CTE `$gq` (which must be the
    * lloydSqlCtes `e0`, whose final centroids `c$iters` route the
    * entries): seed block `gsd`, entry set `gent` (per-cell seed
    * medoid), `ad0`, then per round r the batch `bt$r`, its beam pass,
    * forward edges `fw$r`, and the re-pruned adjacency `ad$r`.
    */
  private def buildSql(gq: String, cenCte: String, seedSize: Int,
      rounds: Int, m: Int, beamW: Int, hops: Int): String = {
    val d1 = Dim + 1
    val roundCtes = (1 to rounds).map { r =>
      s"""bt$r AS MATERIALIZED (
         |  SELECT g.vec_id AS qid, g.q AS qq FROM $gq g
         |  WHERE g.vec_id NOT IN (SELECT vec_id FROM gsd)
         |    AND g.vec_id % $rounds = ${r - 1}),
         |${beamSeedSql(s"b${r}_", s"bt$r", gq, beamW)},
         |${beamHopsSql(s"b${r}_", s"bt$r", s"au${r - 1}", gq, beamW, hops)},
         |fw$r AS MATERIALIZED (
         |  SELECT qid AS src, cand AS dst, d FROM (
         |    SELECT qid, cand, d,
         |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d, cand) AS rk
         |    FROM b${r}_bm$hops WHERE cand <> qid)
         |  WHERE rk <= $m),
         |fl$r AS (
         |  SELECT cand AS src, qid AS dst, d FROM (
         |    SELECT qid, cand, d,
         |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d, cand) AS rk
         |    FROM b${r}_bm$hops WHERE cand <> qid)
         |  WHERE rk = 1),
         |flacc$r AS MATERIALIZED (
         |  SELECT src, dst, d FROM flacc${r - 1}
         |  UNION ALL SELECT src, dst, d FROM fl$r),
         |ad$r AS MATERIALIZED (
         |  SELECT src, dst, d FROM (
         |    SELECT src, dst, d,
         |      ROW_NUMBER() OVER (PARTITION BY src ORDER BY d, dst) AS rk
         |    FROM (SELECT src, dst, MIN(d) AS d FROM (
         |      SELECT * FROM ad${r - 1}
         |      UNION ALL SELECT * FROM fw$r
         |      UNION ALL SELECT dst AS src, src AS dst, d FROM fw$r)
         |      GROUP BY 1, 2))
         |  WHERE rk <= $m),
         |au$r AS MATERIALIZED (
         |  SELECT src, dst, d FROM ad$r
         |  UNION ALL SELECT src, dst, d FROM flacc$r)""".stripMargin
    }.mkString(",\n")
    s"""gsd AS MATERIALIZED (
       |  SELECT vec_id, q FROM (
       |    SELECT vec_id, q,
       |      ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
       |    FROM $gq)
       |  WHERE rn <= $seedSize),
       |gsx AS (
       |  SELECT e.vec_id, c.j, SUM((e.q[t.i] - c.cd) * (e.q[t.i] - c.cd)) AS d
       |  FROM gsd e CROSS JOIN range(1, $d1) t(i) JOIN $cenCte c ON c.i = t.i
       |  GROUP BY 1, 2),
       |gent AS MATERIALIZED (
       |  SELECT vec_id AS cand FROM (
       |    SELECT vec_id, j, d,
       |      ROW_NUMBER() OVER (PARTITION BY j ORDER BY d, vec_id) AS mrk
       |    FROM (
       |      SELECT vec_id, j, d,
       |        ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, j) AS ark
       |      FROM gsx)
       |    WHERE ark = 1)
       |  WHERE mrk = 1),
       |gpr AS MATERIALIZED (
       |  SELECT a.vec_id AS src, b.vec_id AS dst,
       |    ${pdistSql("a.q", "b.q")} AS d
       |  FROM gsd a JOIN gsd b ON b.vec_id <> a.vec_id),
       |ad0 AS MATERIALIZED (
       |  SELECT src, dst, d FROM (
       |    SELECT src, dst, d,
       |      ROW_NUMBER() OVER (PARTITION BY src ORDER BY d, dst) AS rk
       |    FROM gpr)
       |  WHERE rk <= $m),
       |flacc0 AS MATERIALIZED (
       |  SELECT src, dst, d FROM (
       |    SELECT src, dst, d,
       |      ROW_NUMBER() OVER (PARTITION BY dst ORDER BY d, src) AS rk
       |    FROM gpr)
       |  WHERE rk = 1),
       |au0 AS MATERIALIZED (
       |  SELECT src, dst, d FROM ad0
       |  UNION ALL SELECT src, dst, d FROM flacc0),
       |$roundCtes""".stripMargin
  }

  /** DuckDB twin of [[graphTopK]]: quantize (the shared Lloyd chain
    * supplies e0 AND the routing centroids), replay the round-batched
    * build, replay the search walk, rank. Structure (CTE count) is
    * fixed by (rounds, hops) — independent of corpus size, so this one
    * string serves every scale factor.
    */
  def graphTopKSql(nQueries: Int = 10, k: Int = 5,
      seedSize: Int = 64, rounds: Int = 4, m: Int = 8,
      beamW: Int = 8, hops: Int = 4,
      cells: Int = 8, iters: Int = 2, prelude: String = ""): String =
    s"""WITH $prelude${lloydSqlCtes(cells, iters)},
       |${buildSql("e0", s"c$iters", seedSize, rounds, m, beamW, hops)},
       |qs AS (SELECT vec_id AS qid, q AS qq FROM e0 WHERE vec_id < $nQueries),
       |${beamSeedSql("s_", "qs", "e0", beamW)},
       |${beamHopsSql("s_", "qs", s"au$rounds", "e0", beamW, hops)}
       |SELECT qid AS query_id, cand AS neighbor_id,
       |  CAST(rk AS INTEGER) AS "rank", d
       |FROM (
       |  SELECT qid, cand, d,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d, cand) AS rk
       |  FROM s_bm$hops WHERE cand <> qid)
       |WHERE rk <= $k ORDER BY query_id, "rank"""".stripMargin

  // ───────── the recall experiment: graph vs IVF, matched budget ───────

  /** Graph vs IVF recall at a MATCHED candidate budget on the clustered
    * fixture — the operating-point experiment the graph index exists
    * for: same trained corpus, same exact-integer ground truth, one row
    * per method carrying recall AND the honest per-query candidate
    * budget (distinct vectors actually scored, entry set included), so
    * "graph beats IVF at the same budget" is inside the hash, not a
    * doc claim.
    */
  def graphRecall(embeddings: DataFrame, nQueries: Int = 10, k: Int = 5,
      seedSize: Int = 64, rounds: Int = 4, m: Int = 8,
      beamW: Int = 8, hops: Int = 4, routeCells: Int = 8,
      cells: Int = 16, iters: Int = 2, nprobe: Int = 2): DataFrame = {
    val e0 = lloydQuantized(embeddings)
    val exact = exactIntTopK(e0, nQueries, k).localCheckpoint()
    // ── graph leg
    val qset = e0.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("q").as("qq"))
      .localCheckpoint()
    val (adj, entries) =
      buildGraph(e0, seedSize, rounds, m, beamW, hops, routeCells, iters)
    val (beam, visited) = beamSearch(qset,
      adj, e0, entriesWithVecs(entries, e0),
      beamW, hops, withVisited = true)
    val gTop = beam.filter(col("cand") =!= col("qid"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(col("d"), col("cand"))))
      .filter(col("rank") <= k)
      .select(col("qid").as("query_id"), col("cand").as("neighbor_id"))
    val gBudget = visited.filter(col("cand") =!= col("qid"))
      .groupBy("qid").agg(count(lit(1)).as("nc"))
      .agg(avg("nc").as("avg_candidates"))
    // ── IVF leg (the ivfLloydRecall machinery at the same corpus)
    val cand = ivfCandidates(ivfCoarseOf(e0, e0.filter(col("vec_id") < nQueries),
      cells, iters, nprobe)).localCheckpoint()
    val iBudget = cand.groupBy("query_id").agg(count(lit(1)).as("nc"))
      .agg(avg("nc").as("avg_candidates"))
    def row(method: String, top: DataFrame, budget: DataFrame): DataFrame =
      recallRow(exact, top, lit(method).as("method")).crossJoin(budget)
        .select("method", "avg_candidates", "n_exact", "hits", "recall")
    row("graph", gTop, gBudget)
      .unionByName(row("ivf", intL2TopK(cand, k), iBudget))
      .orderBy("method")
  }

  /** DuckDB twin of [[graphRecall]]: the Lloyd prefix supplies the
    * shared quantized corpus `e0`, the routing centroids AND the IVF
    * chain; the graph build + walk replay against `e0`; both legs
    * aggregate against the shared exact ranking.
    */
  def graphRecallSql(nQueries: Int = 10, k: Int = 5,
      seedSize: Int = 64, rounds: Int = 4, m: Int = 8,
      beamW: Int = 8, hops: Int = 4, routeCells: Int = 8,
      cells: Int = 16, iters: Int = 2, nprobe: Int = 2,
      prelude: String = ""): String = {
    def row(method: String, top: String, budget: String) = recallRowSql(
      s"'$method' AS method, (SELECT avg_candidates FROM $budget) AS avg_candidates",
      "br", top)
    s"""WITH $prelude${lloydSqlCtes(cells, iters)},
       |${lloydSqlCtes(routeCells, iters, prefix = "rt", includeNorm = false)},
       |${exactSql(nQueries, k)},
       |${buildSql("e0", s"rtc$iters", seedSize, rounds, m, beamW, hops)},
       |qs AS (SELECT vec_id AS qid, q AS qq FROM e0 WHERE vec_id < $nQueries),
       |${beamSeedSql("s_", "qs", "e0", beamW)},
       |${beamHopsSql("s_", "qs", s"au$rounds", "e0", beamW, hops)},
       |gtop AS (
       |  SELECT qid AS query_id, cand AS neighbor_id FROM (
       |    SELECT qid, cand,
       |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d, cand) AS rk
       |    FROM s_bm$hops WHERE cand <> qid)
       |  WHERE rk <= $k),
       |gbud AS (
       |  SELECT AVG(nc) AS avg_candidates FROM (
       |    SELECT qid, COUNT(*) AS nc FROM s_dc$hops
       |    WHERE cand <> qid GROUP BY 1)),
       |${ivfCoarseSql(s"c$iters", "e0", s"vec_id < $nQueries", nprobe)},
       |${ivfSearchSql("e0", k)},
       |ibud AS (
       |  SELECT AVG(nc) AS avg_candidates FROM (
       |    SELECT query_id, COUNT(*) AS nc FROM cand GROUP BY 1))
       |SELECT * FROM (
       |${row("graph", "gtop", "gbud")}
       |UNION ALL
       |${row("ivf", "ar", "ibud")})
       |ORDER BY method""".stripMargin
  }
}
