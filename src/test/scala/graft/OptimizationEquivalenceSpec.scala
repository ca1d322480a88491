package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sim.Knn

/** r17 optimization round: operators whose INTERNALS changed for plan
  * shape (fewer exchanges / fewer eager checkpoint jobs) are pinned
  * bit-for-bit against the r16 formulation, re-implemented here inline.
  * The registered queries' oracle hashes are the outer gate; these legs
  * localize a mismatch to the exact rewrite if one ever appears.
  */
class OptimizationEquivalenceSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def embs = TestdataAdapter.table(spark, sfDir, "embeddings")

  // The join-form Lloyd trainer (seed frame, broadcast-grid assignment,
  // join + checkpoint update) that src/main ran before the r18 grid
  // trainer replaced it: the reference the grid forms are pinned to.

  /** k seed centroids in md5 order. The global window is over the
    * already-LIMITed k-row frame — bounded by construction, not a
    * corpus-wide single-partition sort (the heavy ranking is TakeOrdered).
    */
  private def lloydSeeds(e0: DataFrame, k: Int): DataFrame = {
    val seedW = Window.orderBy("h", "vec_id")
    e0.withColumn("h", md5(col("vec_id").cast("string")))
      .orderBy("h", "vec_id").limit(k)
      .withColumn("j", (row_number().over(seedW) - 1).cast("int"))
      .select(col("j"), col("q").as("c"))
  }

  /** Argmin assignment of the quantized corpus against the k-row
    * centroid frame: the centroids collapse to a one-row k×64 grid
    * (ordered by j) and broadcast — KB-sized at any corpus size.
    */
  private def lloydAssign(e0: DataFrame, cen: DataFrame): DataFrame = {
    val grid = cen.groupBy().agg(
      transform(array_sort(collect_list(struct(col("j"), col("c")))),
        s => s.getField("c")).as("cb"))
    e0.crossJoin(broadcast(grid))
      .withColumn("ds", transform(col("cb"), cenA =>
        aggregate(zip_with(col("q"), cenA, (x, c) => (x - c) * (x - c)),
          lit(0L), _ + _)))
      .withColumn("j", (array_position(col("ds"), array_min(col("ds"))) - 1).cast("int"))
  }

  /** One Lloyd update step: per-(cluster, dim) integer sums off an
    * assignment frame carrying (j, q), exactly-divisible floor-means,
    * empty-cluster-keeps-previous, lineage truncated (localCheckpoint,
    * never persist — the grown plan, not the data, is the cost; see the
    * connected-components loop for the same rule), otherwise iteration N
    * re-embeds and re-optimizes every earlier iteration's aggregation
    * subtree twice over.
    */
  private def lloydUpdate(cen: DataFrame, asg: DataFrame): DataFrame = {
    // r17 (guide §2.3/§2.4): the per-(cluster, dim) sums as Dim aggregate
    // expressions over ONE partial-aggregated hash shuffle of k rows —
    // the previous posexplode form pushed k×Dim exploded rows through
    // TWO aggregations (sum, then collect_list+array_sort rebuild) plus
    // the same join. Exactly-divisible floor-means are computed per
    // dimension from the identical integer sums, so every centroid bit
    // is unchanged (the first test below pins it).
    val sums = asg.groupBy("j").agg(
      count(lit(1)).as("cnt"),
      (0 until Knn.Dim).map(i => sum(col("q").getItem(i)).as(s"s$i")): _*)
    val newCen = sums.select(col("j"),
      array((0 until Knn.Dim).map { i =>
        val s = col(s"s$i")
        val m = ((s % col("cnt")) + col("cnt")) % col("cnt")
        ((s - m).cast("double") / col("cnt")).cast("long")
      }: _*).as("nc"))
    cen.join(newCen, Seq("j"), "left")
      .select(col("j"), coalesce(col("nc"), col("c")).as("c"))
      .localCheckpoint()
  }

  test("lloydUpdate: Dim-aggregate form ≡ the r16 posexplode form, bit for bit") {
    // r16 reference implementation: explode to (j, i, v), two
    // aggregations, collect_list+array_sort rebuild, join+coalesce
    def lloydUpdateR16(cen: DataFrame, asg: DataFrame): DataFrame = {
      val sums = asg
        .select(col("j"), posexplode(col("q")).as(Seq("i", "v")))
        .groupBy("j", "i")
        .agg(sum("v").as("s"), count(lit(1)).as("cnt"))
      val newCen = sums
        .withColumn("m", ((col("s") % col("cnt")) + col("cnt")) % col("cnt"))
        .withColumn("cd",
          ((col("s") - col("m")).cast("double") / col("cnt")).cast("long"))
        .groupBy("j")
        .agg(transform(array_sort(collect_list(struct(col("i"), col("cd")))),
          s => s.getField("cd")).as("nc"))
      cen.join(newCen, Seq("j"), "left")
        .select(col("j"), coalesce(col("nc"), col("c")).as("c"))
    }
    val e0 = Knn.lloydQuantized(embs)
    var cenNew = lloydSeeds(e0, 4)
    var cenOld = cenNew
    for (_ <- 1 to 3) {
      val asgNew = lloydAssign(e0, cenNew)
      val asgOld = lloydAssign(e0, cenOld)
      cenNew = lloydUpdate(cenNew, asgNew)
      cenOld = lloydUpdateR16(cenOld, asgOld).localCheckpoint()
      val a = cenNew.orderBy("j").collect().map(r =>
        (r.getInt(0), r.getSeq[Long](1).toList))
      val b = cenOld.orderBy("j").collect().map(r =>
        (r.getInt(0), r.getSeq[Long](1).toList))
      assert(a.toSeq == b.toSeq, "centroids diverged from the r16 form")
    }
    // empty-cluster keeps-previous leg: run an update off an assignment
    // that drops cluster 0 entirely
    val asg = lloydAssign(e0, cenNew).filter(col("j") =!= 0)
    val kept = lloydUpdate(cenNew, asg).orderBy("j").collect()
    val keptOld = lloydUpdateR16(cenOld, asg).orderBy("j").collect()
    assert(kept.map(r => (r.getInt(0), r.getSeq[Long](1).toList)).toSeq ==
      keptOld.map(r => (r.getInt(0), r.getSeq[Long](1).toList)).toSeq)
    e0.unpersist(blocking = false)
  }

  test("lloydTrainGrid: fused 1-job/iter trainer ≡ the r17 join-form loop, bit for bit") {
    // r18: the training loop collapsed to one aggregation job per
    // iteration with the centroid grid as a driver-held literal. Pin the
    // trained grid — per iteration — against the r17 loop
    // (lloydSeeds + lloydUpdate(lloydAssign)), and the literal-grid
    // assignment against the broadcast-grid assignment on the result.
    val e0 = Knn.lloydQuantized(embs)
    val (k, iters) = (4, 3)
    var cenOld = lloydSeeds(e0, k)
    var grid = Knn.lloydSeedGrid(e0, k)
    def gridOf(cen: DataFrame): Seq[Seq[Long]] =
      cen.orderBy("j").collect().map(_.getSeq[Long](1)).toSeq
    assert(grid == gridOf(cenOld), "seed grids diverged")
    for (it <- 1 to iters) {
      cenOld = lloydUpdate(cenOld, lloydAssign(e0, cenOld))
      grid = Knn.lloydUpdateGrid(grid, Knn.lloydAssignGrid(e0, grid))
      assert(grid == gridOf(cenOld), s"iteration $it centroids diverged")
    }
    // the literal-grid assignment ≡ the broadcast-grid assignment
    val a = Knn.lloydAssignGrid(e0, grid)
      .select("vec_id", "j", "ds").orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Long](2).toList)).toSeq
    val b = lloydAssign(e0, cenOld)
      .select("vec_id", "j", "ds").orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Long](2).toList)).toSeq
    assert(a == b, "literal-grid assignment diverged from the broadcast form")
    // empty-cluster-keeps-previous: an update fed an assignment frame
    // missing cluster 0 must keep its previous centroid in both forms
    val partial = lloydAssign(e0, cenOld).filter(col("j") =!= 0)
    assert(Knn.lloydUpdateGrid(grid, partial) ==
      gridOf(lloydUpdate(cenOld, partial)),
      "empty-cluster rule diverged")
    // the rebuilt centroid frame carries the same rows/types
    val cf = Knn.lloydCenFrame(spark, grid).orderBy("j").collect()
      .map(r => (r.getInt(0), r.getSeq[Long](1).toList)).toSeq
    assert(cf == cenOld.orderBy("j").collect()
      .map(r => (r.getInt(0), r.getSeq[Long](1).toList)).toSeq)
    e0.unpersist(blocking = false)
  }

  test("tfidfTopTerms: window-count df ≡ the r16 aggregate+join-back form") {
    // r16 reference: df via groupBy(term) over tf, joined back (the tf
    // subtree — explode included — ran twice)
    val docs = TestdataAdapter.table(spark, sfDir, "documents")
    val tok = docs.select(col("doc_id"),
      explode(split(trim(lower(col("text"))), "\\s+")).as("term"))
    val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfc = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("tfidf").desc, col("term"))
    val old = tf.join(dfc, "term").crossJoin(broadcast(n))
      .withColumn("tfidf",
        col("tf").cast("double") *
          (log((lit(1.0) + col("n")) / (lit(1.0) + col("df"))) + lit(1.0)))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select("doc_id", "term", "tf", "df", "tfidf", "rank")
      .orderBy("doc_id", "rank")
    val neu = graft.text.TextOps.tfidfTopTerms(docs)
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getLong(5))).toSeq
    assert(rows(neu) == rows(old),
      "window-count tfidf diverged from the r16 aggregate+join-back form")
  }

  test("bigramNllCore: window-count form ≡ the r16 aggregate+self-join form") {
    // r16 reference: c12 via groupBy(w1, w2) + join back onto the
    // instance frame (the instances crossed the (w1, w2) exchange twice)
    val docs = TestdataAdapter.table(spark, sfDir, "documents")
    def toksOf(c: org.apache.spark.sql.Column) =
      split(trim(lower(c)), "\\s+")
    val base = docs.select(col("doc_id"), toksOf(col("text")).as("w"))
    val inst = base
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(w) - 1), i -> struct(w[i-1] AS w1, w[i] AS w2))"))
        .as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val tokens = base.select(explode(col("w")).as("tok"))
    val uni = tokens.groupBy(col("tok").as("w1")).agg(count(lit(1)).as("c1"))
    val vocab = tokens.agg(countDistinct(col("tok")).as("v"))
    val old = inst
      .join(inst.groupBy("w1", "w2").agg(count(lit(1)).as("c12")), Seq("w1", "w2"))
      .join(uni, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .withColumn("nll", round(
        -log((col("c12") + lit(1).cast("double")) / (col("c1") + col("v"))), 6))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        (sum(col("nll").cast("decimal(28,6)")).cast("double") / count(lit(1)))
          .as("avg_nll"))
      .orderBy("doc_id")
    val neu = graft.text.TextOps.bigramLmScore(docs)
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(rows(neu) == rows(old),
      "window-count bigram NLL diverged from the r16 aggregate+self-join form")
  }

  test("beamSearch: flagged single-frame fold ≡ the r16 two-frame form") {
    import graft.sim.KnnGraph
    // r16 reference walk: discovered + a SEPARATE expanded frame, an
    // anti-join per hop — replayed over the SAME built graph
    def beamR16(queries: DataFrame, adj: DataFrame, e0: DataFrame,
        entries: DataFrame, beamW: Int, hops: Int): DataFrame = {
      def pdist(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
        aggregate(zip_with(a, b, (x, y) => { val t = x - y; t * t }),
          lit(0L), _ + _)
      val vecs = e0.select(col("vec_id").as("cand"), col("q").as("cq"))
      val w = Window.partitionBy("qid").orderBy(col("d"), col("cand"))
      def score(cands: DataFrame): DataFrame = cands
        .join(queries, "qid").join(vecs, "cand")
        .select(col("qid"), col("cand"), pdist(col("qq"), col("cq")).as("d"))
      var discovered = score(
        queries.crossJoin(broadcast(entries)).select("qid", "cand"))
        .localCheckpoint()
      var beam = discovered
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= KnnGraph.EnterW).drop("rk")
      var expanded = beam.select("qid", "cand").limit(0)
      for (_ <- 1 to hops) {
        val frontier = beam.select("qid", "cand")
          .join(expanded, Seq("qid", "cand"), "left_anti")
        expanded = expanded.unionByName(frontier).localCheckpoint()
        val fresh = frontier.join(adj, frontier("cand") === adj("src"))
          .select(col("qid"), col("dst").as("cand")).distinct()
          .join(discovered.select("qid", "cand"), Seq("qid", "cand"), "left_anti")
        discovered = discovered.unionByName(score(fresh)).localCheckpoint()
        beam = discovered
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= beamW).drop("rk")
      }
      beam
    }
    val e0 = Knn.lloydQuantized(embs)
    val (adj, entries) = KnnGraph.buildGraph(e0, seedSize = 64, rounds = 4,
      m = 8, beamW = 8, hops = 4, cells = 8, iters = 2)
    val queries = e0.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("q").as("qq"))
    val (beamNew, _) = KnnGraph.beamSearch(queries, adj, e0,
      KnnGraph.entriesWithVecs(entries, e0), beamW = 8, hops = 4)
    val beamOld = beamR16(queries, adj, e0, entries, beamW = 8, hops = 4)
    def rows(df: DataFrame) = df.select("qid", "cand", "d")
      .orderBy("qid", "cand").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows(beamNew) == rows(beamOld),
      "fused beam walk diverged from the r16 two-frame form")
    e0.unpersist(blocking = false)
  }
}
