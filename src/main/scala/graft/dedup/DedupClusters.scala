package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.text.TextOps

/** Cluster layer: keep lists, distributed connected components, contamination reports, transitive dedup clusters, leakage-free split assignment, best-representative keep.
  * Split out of the former Dedup.scala monolith (r16) with zero
  * behavior change; mixed into [[Dedup]].
  */
private[graft] trait DedupClusters extends DedupSketch {
  /** Exact-dedup keep list applied back to the corpus: one representative
    * row per distinct content (P4-style dropDuplicates but deterministic —
    * min doc_id wins, not "whichever partition arrives first").
    */
  def dedupKeep(documents: DataFrame): DataFrame =
    documents
      .withColumn("rn", firstByContent)
      .filter(col("rn") === 1)
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")

  val dedupKeepSql: String =
    s"""SELECT doc_id, lang, source, n_chars FROM (
      |  SELECT doc_id, lang, source, n_chars,
      |    $FIRST_BY_CONTENT_SQL AS rn
      |  FROM documents) WHERE rn = 1 ORDER BY doc_id""".stripMargin

  /** Connected components over an undirected edge list via distributed
    * min-label propagation (the DataFrame form of the classic map-reduce
    * algorithm): every vertex starts labeled with its own id; each round
    * every vertex adopts the minimum label among itself and its
    * neighbors; the fixpoint label is the per-component minimum id. The
    * driver loop runs O(component diameter) rounds — near-dup clusters
    * are shallow — and each round is two key-partitioned shuffles, fully
    * distributed; the driver sees only a 1-row convergence aggregate per
    * round (the label sum, strictly decreasing until fixpoint), never
    * the data.
    */
  def connectedComponents(vertices: DataFrame, edges: DataFrame): DataFrame = {
    // localCheckpoint (not persist) everywhere in the loop: persist
    // truncates re-EXECUTION but not the LOGICAL plan, so an iterative
    // join would grow the plan every round and each job event would pay
    // an ever-larger plan-string rendering (measured: minutes of driver
    // CPU at 50 rounds). Checkpointing makes every round's frame a leaf.
    val e = edges.localCheckpoint() // materializes the LSH pipeline once
    val bidir = e
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(e.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .localCheckpoint()
    def labelSum(df: DataFrame): Long =
      df.agg(sum(col("cluster_id"))).head.getLong(0)
    var labels = vertices
      .select(col("doc_id"), col("doc_id").as("cluster_id")).localCheckpoint()
    var cur = labelSum(labels)
    var prev = cur + 1
    var rounds = 0
    while (cur != prev && rounds < 50) {
      val msgs = bidir.join(labels, bidir("src") === labels("doc_id"))
        .groupBy(bidir("dst"))
        .agg(min(col("cluster_id")).as("nbr_min"))
        .withColumnRenamed("dst", "doc_id")
      val adopted = labels.join(msgs, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("cluster_id"), coalesce(col("nbr_min"), col("cluster_id")))
            .as("cluster_id"))
      // pointer jumping: also follow my label's label, halving chain
      // depth every round — O(log diameter) rounds instead of O(diameter)
      val ptr = adopted
        .select(col("doc_id").as("pid"), col("cluster_id").as("plabel"))
      val next = adopted.join(ptr, adopted("cluster_id") === ptr("pid"), "left")
        .select(adopted("doc_id"),
          least(adopted("cluster_id"), coalesce(col("plabel"), adopted("cluster_id")))
            .as("cluster_id"))
        .localCheckpoint()
      prev = cur
      cur = labelSum(next)
      labels = next
      rounds += 1
    }
    require(cur == prev, s"connectedComponents: no fixpoint after $rounds rounds")
    labels
  }

  /** Benchmark decontamination — the train/test-leakage check a training
    * pipeline runs before any corpus ships: flag training documents that
    * share word 3-grams with a held-out benchmark set. Same hashed
    * 3-shingle lineage as the minhash family; the benchmark side is the
    * small one by construction (eval suites are thousands of docs, the
    * corpus is billions), so its distinct shingle set broadcasts and the
    * check is one narrow broadcast-hash join + one aggregation — no
    * all-pairs anything.
    */
  def contaminationReport(training: DataFrame, benchmark: DataFrame): DataFrame = {
    val tr = hashedShingles(training).select(col("doc_id"), col("h"))
    val ev = hashedShingles(benchmark).select(col("h")).distinct()
    tr.join(broadcast(ev), "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared_shingles"))
      .orderBy("doc_id")
  }

  /** DuckDB twin of the registered contamination query (benchmark =
    * doc_id % 100 = 7 — a stand-in for a real eval-suite table; the
    * operator itself takes any two frames).
    */
  val contaminationReportSql: String =
    s"""WITH $SHINGLES_CTE,
       |ev AS (SELECT DISTINCT h FROM hs WHERE doc_id % 100 = 7),
       |tr AS (SELECT doc_id, h FROM hs WHERE doc_id % 100 <> 7)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_shingles
       |FROM tr JOIN ev USING (h)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** [[contaminationReport]] at an arbitrary gram width — registered at
    * n = 13, the published exact-collision decontamination standard
    * (GPT-3's 13-gram filter; the 3-shingle form above is the
    * near-dup-grade sensitivity, this is the exact-overlap-grade one).
    * Grams are built in-row (transform over an index sequence + slice —
    * no explode-then-window), hashed, per-doc distinct; the benchmark
    * side broadcasts exactly like the 3-gram form, so the check stays
    * one narrow broadcast join at any corpus size.
    */
  def contaminationReportNgram(
      training: DataFrame, benchmark: DataFrame, n: Int = 13): DataFrame = {
    val tr = spanStarts(training, n).select("doc_id", "h").distinct()
    val ev = spanStarts(benchmark, n).select("h").distinct()
    tr.join(broadcast(ev), "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared_ngrams"))
      .orderBy("doc_id")
  }

  /** DuckDB twin of the registered 13-gram contamination query (same
    * benchmark stand-in slice as the 3-gram form).
    */
  def contaminationReportNgramSql(n: Int = 13): String =
    raw"""WITH ${gramHashSqlCtes(n)},
       |g AS (SELECT DISTINCT doc_id, h FROM gs),
       |ev AS (SELECT DISTINCT h FROM g WHERE doc_id % 100 = 7),
       |tr AS (SELECT doc_id, h FROM g WHERE doc_id % 100 <> 7)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_ngrams
       |FROM tr JOIN ev USING (h)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Duplicate CLUSTERS — the step after candidate pairs that a real
    * dedup pipeline needs before it can keep one representative per
    * duplicate group: LSH pair (a,b) and (b,c) must collapse to ONE
    * cluster {a,b,c} even though (a,c) never surfaced as a pair.
    * Transitive closure via [[connectedComponents]]; cluster_id is the
    * minimum doc_id of the cluster (the kept representative), and
    * singletons keep themselves.
    */
  def dedupClusters(documents: DataFrame): DataFrame = {
    val labels = connectedComponents(
      documents.select("doc_id"), minhashPairs(documents))
    val sizes = labels.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
      .orderBy("doc_id")
  }

  /** The closure chain every cluster twin opens its `WITH RECURSIVE`
    * with: the LSH pairs, `e` (both edge directions), `reach` (per-node
    * set of reaching roots), `lab` (doc_id, cluster_id = MIN root) and
    * `cs` (cluster_id, cluster_size).
    */
  private[dedup] val CLOSURE_CTES: String =
    s"""$PAIRS_CTE,
       |e AS (SELECT doc_a AS a, doc_b AS b FROM cand UNION ALL SELECT doc_b, doc_a FROM cand),
       |reach AS (
       |  SELECT doc_id AS node, doc_id AS root FROM documents
       |  UNION
       |  SELECT e.b, reach.root FROM reach JOIN e ON e.a = reach.node),
       |lab AS (SELECT node AS doc_id, MIN(root) AS cluster_id FROM reach GROUP BY 1),
       |cs AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM lab GROUP BY 1)""".stripMargin

  /** DuckDB twin of [[dedupClusters]]: transitive closure as a recursive
    * CTE (per-node set of reaching roots; MIN root = component id).
    */
  val dedupClustersSql: String =
    s"""WITH RECURSIVE $CLOSURE_CTES
       |SELECT l.doc_id, l.cluster_id, cs.cluster_size
       |FROM lab l JOIN cs USING (cluster_id)
       |ORDER BY doc_id""".stripMargin

  /** LEAKAGE-FREE train/val/test split: the standard per-document md5
    * split (ml.HashSplit.splitAssign) hashes doc_id, so two NEAR-
    * DUPLICATE documents can land in train and test — exactly the
    * contamination [[splitLeakage]] audits. This operator closes that
    * loop structurally: the split key is the near-dup CLUSTER
    * representative, so every member of a transitive near-dup cluster
    * lands in the same split by construction and cross-split leakage is
    * zero — not audited-small, impossible (spec-asserted over the LSH
    * pair frame). Fractions stay ~80/10/10 in cluster units (the
    * population is singleton-dominated). Same determinism contract as
    * the doc-level split: rerun-, layout- and append-stable.
    *
    * Scale: the labels (doc_id, cluster_id, cluster_size) come from the
    * soaked CC pipeline ([[dedupClusters]]), and the split itself is a
    * narrow hash over the label frame — no extra shuffle. Taking the
    * labels rather than the documents lets callers amortize the
    * clustering itself (the registry persists the labels once per scale
    * dir; a deployment keeps them as maintained state via
    * [[attachToClustersWithSizes]]).
    */
  def clusterSplitAssignFrom(labels: DataFrame): DataFrame = {
    val b = graft.ml.HashSplit.hashBucket(col("cluster_id"), 100)
    labels
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        b.as("bucket"),
        graft.ml.HashSplit.splitOf(b).as("split"))
      .orderBy("doc_id")
  }

  /** DuckDB twin of [[clusterSplitAssignFrom]] (the full recursive closure
    * nests as a subquery; plain concatenation, no stripMargin over the
    * spliced SQL).
    */
  val clusterSplitAssignSql: String = {
    val b = graft.ml.HashSplit.hashBucketSql("cluster_id", 100)
    s"WITH cl AS (SELECT * FROM ($dedupClustersSql))\n" +
      s"SELECT doc_id, cluster_id, cluster_size, $b AS bucket,\n" +
      s"  ${graft.ml.HashSplit.splitSql(b)} AS split\n" +
      "FROM cl ORDER BY doc_id"
  }

  /** Quality-max representative per near-dup cluster: [[nearDedupKeepFrom]]
    * keeps the minimum doc_id — fine for dedup bookkeeping, wasteful
    * for training data, where the cluster's BEST-quality member should
    * survive. Per cluster, keep the document with the highest
    * [[graft.text.TextOps.qualityScore]] (doc_id tie-break); singleton
    * clusters trivially keep themselves. One cluster_id window over the
    * label frame plus a narrow per-doc score join — no text ever
    * shuffles. Runs over an existing label frame (see
    * [[clusterSplitAssignFrom]] for the amortization contract).
    */
  def clusterBestKeepFrom(labels: DataFrame, documents: DataFrame): DataFrame = {
    val scored = documents.select(col("doc_id"),
      graft.text.TextOps.qualityScore(col("text")).as("quality_score"))
    val w = Window.partitionBy("cluster_id")
      .orderBy(col("quality_score").desc, col("doc_id"))
    labels
      .join(scored, Seq("doc_id"))
      .withColumn("rn", row_number().over(w))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        col("quality_score"), (col("rn") === 1).as("keep"))
      .orderBy("doc_id")
  }

  /** DuckDB twin of [[clusterBestKeepFrom]] over [[dedupClusters]]. */
  val clusterBestKeepSql: String =
    s"WITH cl AS (SELECT * FROM ($dedupClustersSql)),\n" +
      s"q AS (SELECT doc_id, ${TextOps.qualityScoreSqlExpr} AS quality_score FROM documents)\n" +
      "SELECT cl.doc_id, cl.cluster_id, cl.cluster_size, q.quality_score,\n" +
      "  (ROW_NUMBER() OVER (PARTITION BY cl.cluster_id\n" +
      "     ORDER BY q.quality_score DESC, cl.doc_id) = 1) AS keep\n" +
      "FROM cl JOIN q USING (doc_id) ORDER BY doc_id"

}
