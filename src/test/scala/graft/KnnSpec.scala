package graft

import graft.sim.Knn

class KnnSpec extends SparkSpec {
  import spark.implicits._

  // dim-64 helpers
  private def unit(i: Int): Array[Float] = {
    val a = Array.fill(64)(0f); a(i) = 1f; a
  }
  private def scaled(i: Int, s: Float): Array[Float] = {
    val a = Array.fill(64)(0f); a(i) = s; a
  }

  test("brute-force top-k ranks parallel=1.0 > partial > orthogonal, ties by id") {
    val e = Seq(
      (0L, unit(0), 0),               // query
      (1L, scaled(0, 2f), 0),         // parallel → cosine 1.0
      (2L, {
        val a = Array.fill(64)(0f); a(0) = 1f; a(1) = 1f; a
      }, 0),                          // 45° → ~0.707
      (3L, unit(1), 0))               // orthogonal → 0.0
      .toDF("vec_id", "embedding", "label")
    val r = Knn.bruteForceTopK(e, nQueries = 1, k = 3)
      .select("neighbor_id", "rank", "cosine")
      .as[(Long, Int, Double)].collect()
    assert(r.map(_._1).toSeq == Seq(1L, 2L, 3L))
    assert(r(0)._3 == 1.0)
    assert(math.abs(r(1)._3 - math.sqrt(0.5)) < 1e-12)
    assert(r(2)._3 == 0.0)
  }

  test("hard negatives: nearest DIFFERENT-label vectors only, ranked by cosine") {
    val e = Seq(
      (0L, unit(0), 0),               // anchor, label 0
      (1L, scaled(0, 2f), 0),         // parallel but SAME label → excluded
      (2L, {
        val a = Array.fill(64)(0f); a(0) = 1f; a(1) = 1f; a
      }, 1),                          // 45°, label 1 → hardest negative
      (3L, unit(1), 1),               // orthogonal, label 1 → second
      (4L, unit(2), 0))               // same label → excluded
      .toDF("vec_id", "embedding", "label")
    val r = Knn.hardNegatives(e, nAnchors = 1, k = 5)
      .select("negative_id", "negative_label", "rank", "cosine")
      .as[(Long, Int, Int, Double)].collect()
    assert(r.map(_._1).toSeq == Seq(2L, 3L)) // only different-label vecs
    assert(r.forall(_._2 == 1))
    assert(math.abs(r(0)._4 - math.sqrt(0.5)) < 1e-12)
    assert(r(1)._4 == 0.0)
  }

  test("semantic split leakage: cross-split near-dup vectors flag, same-split stay benign") {
    import graft.ml.HashSplit
    import org.apache.spark.sql.functions.col
    // derive ids on both sides of the boundary from the operator's own
    // hash, like the lexical splitLeakage spec
    val probe = spark.range(0, 300).select(col("id").as("doc_id"))
    val bySplit = HashSplit.splitAssign(probe.withColumn("text", col("doc_id").cast("string"))
        .withColumn("lang", col("text")).withColumn("source", col("text"))
        .withColumn("n_chars", col("doc_id")))
      .collect().groupBy(_.getAs[String]("split"))
      .map { case (k, v) => k -> v.map(_.getAs[Long]("doc_id")).toSeq }
    val Seq(tr1, tr2) = bySplit("train").take(2)
    val te1 = bySplit("test").head
    val e = Seq(
      (tr1, unit(0), 0),        // parallel to te1 → cross-split LEAK
      (te1, scaled(0, 2f), 0),
      (tr2, scaled(0, 3f), 0),  // parallel again → train∩train pair + another leak
      (bySplit("val").head, unit(40), 0)) // orthogonal singleton
      .toDF("vec_id", "embedding", "label")
    val r = Knn.semanticSplitLeakage(e, threshold = 0.9).collect()
      .map(x => (x.getAs[String]("split_x"), x.getAs[String]("split_y")) -> x).toMap
    assert(r(("test", "train")).getAs[Long]("n_pairs") == 2L) // te1 pairs with both train twins
    assert(r(("test", "train")).getAs[Boolean]("leaks"))
    assert(r(("train", "train")).getAs[Long]("n_pairs") == 1L)
    assert(!r(("train", "train")).getAs[Boolean]("leaks"))
    assert(!r.contains(("val", "val")))
  }

  test("zero-norm vectors are excluded (cosine undefined)") {
    val e = Seq((0L, unit(0), 0), (1L, Array.fill(64)(0f), 0))
      .toDF("vec_id", "embedding", "label")
    val r = Knn.bruteForceTopK(e, nQueries = 1, k = 5).count()
    assert(r == 0) // only the zero vector would be a neighbor; it is dropped
  }

  test("semantic decontamination flags only corpus vectors near a benchmark vector") {
    // vec 0 and 20 are the benchmark slice (vec_id % 20 == 0); vec 1 is
    // parallel to vec 0 (cosine 1.0, identical SRP bands), vec 2 is
    // orthogonal to both benchmark vectors
    val e = Seq(
      (0L, unit(0), 0), (20L, unit(1), 0),
      (1L, scaled(0, 3f), 0), (2L, unit(5), 0))
      .toDF("vec_id", "embedding", "label")
    val r = Knn.semanticDecontamination(e, threshold = 0.9).collect()
    assert(r.length == 1)
    assert(r.head.getAs[Long]("corpus_id") == 1L)
    assert(r.head.getAs[Long]("n_matches") == 1L)
    assert(r.head.getAs[Double]("max_cosine") == 1.0)
  }

  test("bucketed ANN only searches the query's sign-bucket") {
    val pos = unit(0)                          // bucket: dim0 positive
    val neg = { val a = Array.fill(64)(0f); a(0) = -1f; a(1) = 0.1f; a }
    val posNbr = { val a = Array.fill(64)(0f); a(0) = 0.9f; a(2) = 0.1f; a }
    val e = Seq((0L, pos, 0), (1L, posNbr, 0), (2L, neg, 0))
      .toDF("vec_id", "embedding", "label")
    val r = Knn.bucketedTopK(e, nQueries = 1, k = 5)
      .select("neighbor_id").as[Long].collect().toSet
    assert(r == Set(1L)) // the negative-bucket vector is never considered
  }

  test("IVF with separated clusters matches brute force exactly") {
    // 40 vectors in 4 orthogonal clusters (vec i → cluster i%4): within a
    // cluster cosine ≈ 1, across ≈ 0, so each query's true top-3 live in
    // its own cell and nprobe=1 loses nothing
    val e = (0 until 40).map { i =>
      val a = Array.fill(64)(0f)
      a(i % 4) = 1f
      a(10 + i % 5) = 0.05f * (i % 3 + 1)
      (i.toLong, a, i % 4)
    }.toDF("vec_id", "embedding", "label")
    val brute = Knn.bruteForceTopK(e, nQueries = 4, k = 3)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSet
    val ivf = Knn.ivfTopK(e, nQueries = 4, k = 3, numCells = 4, nprobe = 1)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(ivf == brute)
  }

  test("PQ with separated clusters matches the exact L2 top-k") {
    // 4 orthogonal clusters; each subspace carries at most 4 distinct
    // subvectors — fewer than the codebook size, so every point coincides
    // with a trained centroid, quantization error is exactly zero, and
    // ADC ranking must equal exact L2 ranking (ties by id on both sides)
    val e = (0 until 40).map { i =>
      val a = Array.fill(64)(0f)
      a(i % 4) = 1f                      // subspace 0: cluster direction
      a(9) = 0.1f * ((i / 4) % 4)        // subspace 1: within-cluster offset
      (i.toLong, a, i % 4)
    }.toDF("vec_id", "embedding", "label")
    // exact L2 top-3 computed naively (fine at spec scale)
    val rows = e.as[(Long, Array[Float], Int)].collect()
    def l2(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).map { case (x, y) => (x.toDouble - y) * (x.toDouble - y) }.sum
    val exact = (0L until 4L).flatMap { qid =>
      val qe = rows.find(_._1 == qid).get._2
      rows.filter(_._1 != qid)
        .map(r => (r._1, l2(qe, r._2)))
        .sortBy { case (id, d) => (d, id) }
        .take(3).zipWithIndex
        .map { case ((nid, _), i) => (qid, nid, i + 1) }
    }.toSet
    val pq = Knn.pqTopK(e, nQueries = 4, k = 3, m = 8, codebookSize = 8)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(pq == exact)
  }

  test("PQ codes are within the codebook range (the 32x compression contract)") {
    val e = TestdataAdapter.table(spark, "/root/testdata/sf0.001", "embeddings")
    val out = Knn.pqTopK(e, nQueries = 5, k = 2)
    // every query produced its k rows and approximate distances are finite
    val r = out.select("query_id", "adist").as[(Long, Double)].collect()
    assert(r.length == 10)
    assert(r.forall { case (_, d) => !d.isNaN && !d.isInfinite && d >= 0 })
  }

  test("PCA shortlist + rerank recovers most of the exact top-k") {
    val e = TestdataAdapter.table(spark, "/root/testdata/sf0.001", "embeddings")
    // fit the basis on this corpus (the fixture trainer), then serve it
    val (basis, explained) = Knn.trainPcaBasis(e)
    val r = Knn.pcaRecallPinned(e, basis, explained, nQueries = 20, k = 5).collect().head
    val ev = r.getAs[Double]("explained_variance")
    val recall = r.getAs[Double]("recall_at_k")
    assert(ev > 0.0 && ev <= 1.0)
    // near-isotropic synthetic vectors are PCA's worst case; even there
    // the 16-dim shortlist must beat coin-flip recall by a wide margin
    assert(recall > 0.5, s"two-stage recall $recall too low")
    assert(r.getAs[Long]("n_pairs") == 100L)
  }

  test("IVF cells stay balanced on the testdata embeddings") {
    val e = TestdataAdapter.table(spark, "/root/testdata/sf0.001", "embeddings")
    val n = e.count()
    // assignment balance of the committed 16-cell k-means quantizer
    val sizes = Knn.kmeansSizesPinned(e, graft.sim.SemDedupFixture.centroids)
      .select("n").as[Long].collect()
    assert(sizes.sum == n)
    // no cell degenerates to a majority bucket — the per-cell join stays
    // sub-linear (the sign-bucket path cannot guarantee this)
    assert(sizes.max < n / 3)
  }

  test("pinned k-means sizes: clusters partition the corpus; norms bound") {
    val e = TestdataAdapter.table(spark, "/root/testdata/sf0.001", "embeddings")
    val r = Knn.kmeansSizesPinned(e, graft.sim.SemDedupFixture.centroids).collect()
    assert(r.map(_.getAs[Long]("n")).sum == e.count())
    assert(r.forall { row =>
      val c = row.getAs[Int]("cluster")
      c >= 0 && c < graft.sim.SemDedupFixture.centroids.length &&
        row.getAs[Double]("min_norm") <= row.getAs[Double]("max_norm")
    })
  }

  test("pinned silhouette: scores in [-1,1], partition preserved, mean inside bounds") {
    val e = TestdataAdapter.table(spark, "/root/testdata/sf0.001", "embeddings")
    val r = Knn.kmeansSilhouettePinned(e, graft.sim.SemDedupFixture.centroids).collect()
    assert(r.map(_.getAs[Long]("n")).sum == e.count())
    assert(r.forall { row =>
      val (lo, hi, m) = (row.getAs[Double]("min_sil"),
        row.getAs[Double]("max_sil"), row.getAs[Double]("mean_sil"))
      lo >= -1.0 && hi <= 1.0 && lo <= hi &&
        // detAvg rounds per-row at 1e-6 before the mean — allow that slack
        m >= lo - 1e-6 && m <= hi + 1e-6
    })
  }

  test("near-dup pairs threshold and symmetry (a<b once)") {
    val e = Seq((0L, unit(0), 0), (1L, scaled(0, 3f), 0), (2L, unit(5), 0))
      .toDF("vec_id", "embedding", "label")
    val r = Knn.nearDupPairs(e, threshold = 0.9)
      .select("vec_a", "vec_b").as[(Long, Long)].collect()
    assert(r.toSeq == Seq((0L, 1L)))
  }

  test("semdedup: within-cluster duplicates drop to the min id, distinct vectors keep") {
    // two tight semantic groups (parallel vectors → cosine 1 within,
    // 0 across) plus a lone orthogonal vector
    val e = Seq(
      (0L, unit(0), 0), (1L, scaled(0, 2f), 0), (5L, scaled(0, 0.5f), 0), // group A
      (2L, unit(1), 1), (7L, scaled(1, 3f), 1),                           // group B
      (9L, unit(2), 2))                                                   // lone
      .toDF("vec_id", "embedding", "label")
    // one pinned centroid per group direction (normalized space)
    val centroids = Array(0, 1, 2).map(i => unit(i).map(_.toDouble))
    val r = Knn.semDedupKeepPinned(e, centroids, tau = 0.9).collect()
      .map(x => x.getAs[Long]("vec_id") ->
        (x.getAs[Boolean]("keep"), Option(x.getAs[java.lang.Long]("dup_of")).map(_.longValue())))
      .toMap
    assert(r(0L) == ((true, None)))
    assert(r(1L) == ((false, Some(0L))))
    assert(r(5L) == ((false, Some(0L))))
    assert(r(2L) == ((true, None)))
    assert(r(7L) == ((false, Some(2L))))
    assert(r(9L) == ((true, None)))
  }

  test("hybrid RRF: fused score is the exact two-leg formula, ranks dense, single-leg rows allowed") {
    val dir = "/root/testdata/sf0.001"
    val docs = TestdataAdapter.table(spark, dir, "documents")
    val embs = TestdataAdapter.table(spark, dir, "embeddings")
    val out = Knn.hybridSearchRrf(docs, embs, k = 10, candK = 20).collect()
    assert(out.nonEmpty)
    val byQuery = out.groupBy(_.getAs[Int]("query_id"))
    byQuery.foreach { case (q, rows) =>
      val ranks = rows.map(_.getAs[Long]("rrf_rank")).sorted.toSeq
      assert(ranks == (1L to rows.length), s"query $q ranks not dense: $ranks")
      assert(rows.length <= 10)
      // rank order must follow score desc (doc_id tie-break)
      val ordered = rows.sortBy(_.getAs[Long]("rrf_rank"))
      assert(ordered.map(_.getAs[Double]("rrf_score")).toSeq
        .sliding(2).forall { case Seq(a, b) => a >= b; case _ => true })
    }
    out.foreach { r =>
      val lex = Option(r.getAs[java.lang.Long]("lex_rank")).map(_.longValue())
      val sem = Option(r.getAs[java.lang.Long]("sem_rank")).map(_.longValue())
      assert(lex.nonEmpty || sem.nonEmpty, "a fused row must come from at least one leg")
      val expected = lex.map(l => 1.0 / (60 + l)).getOrElse(0.0) +
        sem.map(s => 1.0 / (60 + s)).getOrElse(0.0)
      assert(r.getAs[Double]("rrf_score") == expected,
        s"rrf_score mismatch for $r")
      assert(lex.forall(_ <= 20) && sem.forall(_ <= 20),
        "leg ranks must respect the candidate cutoff")
    }
    // both single-leg and both-leg rows actually occur in the fixture —
    // the full-outer fusion semantics are exercised, not vacuous
    assert(out.exists(r => r.isNullAt(r.fieldIndex("lex_rank"))))
    assert(out.exists(r => !r.isNullAt(r.fieldIndex("lex_rank")) &&
      !r.isNullAt(r.fieldIndex("sem_rank"))))
  }

  test("embedding diversity: decomposition matches brute-force pairwise mean; collapsed group ~0") {
    // group "spread": 4 distinct axis vectors; group "tight": 3 copies of
    // the same vector (norm 2), whose diversity must collapse to ~0
    val rows = Seq(
      (1L, unit(0), "spread"), (2L, unit(1), "spread"),
      (3L, unit(2), "spread"), (4L, unit(3), "spread"),
      (10L, scaled(5, 2f), "tight"), (11L, scaled(5, 2f), "tight"),
      (12L, scaled(5, 2f), "tight"))
    val df = rows.toDF("vec_id", "embedding", "label")
    val out = Knn.embeddingDiversity(df).collect()
      .map(r => r.getString(0) -> r).toMap

    // brute-force check for "spread": distinct unit vectors are mutually
    // orthogonal, so every distinct pair is at squared distance 2
    val sp = out("spread")
    assert(sp.getAs[Long]("n_vectors") === 4L)
    assert(math.abs(sp.getAs[Double]("avg_sq_norm") - 1.0) < 1e-6)
    // centroid = (1/4,1/4,1/4,1/4,0,…) → ‖c‖² = 4·(1/16) = 0.25
    assert(math.abs(sp.getAs[Double]("centroid_sq_norm") - 0.25) < 1e-6)
    assert(math.abs(sp.getAs[Double]("diversity") - 0.75) < 1e-6)
    assert(math.abs(sp.getAs[Double]("mean_pairwise_sq_dist") - 2.0) < 1e-5)

    val tight = out("tight")
    assert(tight.getAs[Long]("n_vectors") === 3L)
    assert(math.abs(tight.getAs[Double]("avg_sq_norm") - 4.0) < 1e-6)
    assert(math.abs(tight.getAs[Double]("diversity")) < 1e-6)
    assert(math.abs(tight.getAs[Double]("mean_pairwise_sq_dist")) < 1e-5)
  }

  // ── engine-owned Lloyd trainer ──

  /** Driver-side reimplementation of the kmeansLloydTrain contract —
    * an independent oracle for the spec (the DuckDB twin is the
    * cross-engine one): same quantization, md5 seed order, integer
    * argmin with lowest-j ties, floorDiv means, empty-keeps-previous.
    */
  private def lloydReference(
      rows: Seq[(Long, Array[Float])], k: Int, iters: Int)
      : (Seq[(Int, Long, Long, Long)], Seq[(Int, Long, Option[Long], Long, Long)],
         Seq[Array[Long]], Seq[(Long, Array[Long])]) = {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val q = rows
      .filter { case (_, a) => a.exists(_ != 0f) }
      .map { case (id, a) =>
        id -> a.map(x => math.floor(x.toDouble * 1000000.0).toLong)
      }
    val seeds = q.sortBy { case (id, _) => (md5hex(id.toString), id) }.take(k)
    var cen: Seq[Array[Long]] = seeds.map(_._2)
    def dist(v: Array[Long], c: Array[Long]): Long =
      v.zip(c).map { case (x, y) => (x - y) * (x - y) }.sum
    def assign(v: Array[Long]): Int =
      cen.zipWithIndex.minBy { case (c, j) => (dist(v, c), j) }._2
    var prev: Option[Map[Long, Int]] = None
    val trace: Seq[(Int, Long, Option[Long], Long, Long)] = (1 to iters).map { it =>
      val asg = q.map { case (id, v) => id -> assign(v) }.toMap
      val inertia = q.map { case (id, v) => dist(v, cen(asg(id))) }.sum
      val moved = prev.map(p => q.count { case (id, _) => p(id) != asg(id) }.toLong)
      val byJ = q.groupBy { case (id, _) => asg(id) }
      cen = cen.zipWithIndex.map { case (pc, j) =>
        byJ.get(j) match {
          case Some(member) =>
            val n = member.size
            (0 until 64).map(i =>
              Math.floorDiv(member.map(_._2(i)).sum, n.toLong)).toArray
          case None => pc
        }
      }
      prev = Some(asg)
      (it, q.size.toLong, moved, inertia, byJ.size.toLong)
    }
    val byJ = q.groupBy { case (_, v) => assign(v) }
    val fin = cen.zipWithIndex.map { case (c, j) =>
      val member = byJ.getOrElse(j, Seq.empty)
      val inertia = member.map { case (_, v) => dist(v, c) }.sum
      (j, member.size.toLong, inertia, c.sum)
    }
    (fin, trace, cen, q)
  }

  /** Driver-side replay of the Lloyd-IVF search tail: probe nprobe
    * nearest cells per query, rank cell-restricted candidates by the
    * integer L2 distance, ties to the lower id.
    */
  private def ivfReference(
      rows: Seq[(Long, Array[Float])], nQueries: Int, k: Int,
      cells: Int, iters: Int, nprobe: Int): Seq[(Long, Long, Int, Long)] = {
    val (_, _, cen, q) = lloydReference(rows, cells, iters)
    def dist(v: Array[Long], c: Array[Long]): Long =
      v.zip(c).map { case (x, y) => (x - y) * (x - y) }.sum
    val cellOf = q.map { case (id, v) =>
      id -> cen.zipWithIndex.minBy { case (c, j) => (dist(v, c), j) }._2
    }.toMap
    q.filter(_._1 < nQueries).sortBy(_._1).flatMap { case (qid, qv) =>
      val probed = cen.zipWithIndex
        .sortBy { case (c, j) => (dist(qv, c), j) }.take(nprobe).map(_._2).toSet
      q.filter { case (id, _) => id != qid && probed(cellOf(id)) }
        .map { case (id, v) => (id, dist(qv, v)) }
        .sortBy { case (id, d) => (d, id) }.take(k).zipWithIndex
        .map { case ((id, d), r) => (qid, id, r + 1, d) }
    }
  }

  test("Lloyd trainer: exact agreement with an independent driver-side replay") {
    val rows = Seq(
      (0L, scaled(0, 0.9f)), (1L, scaled(0, 1.0f)), (2L, scaled(0, 1.1f)),
      (3L, scaled(1, 0.9f)), (4L, scaled(1, 1.0f)), (5L, scaled(1, 1.1f)),
      (6L, scaled(2, 0.5f)), (7L, scaled(2, 0.6f)))
    val df = rows.map { case (id, a) => (id, a, 0) }
      .toDF("vec_id", "embedding", "label")
    val got = Knn.kmeansLloydTrain(df, k = 3, iters = 3)
      .as[(Int, Long, Long, Long)].collect().toSeq
    val (want, wantTrace, _, _) = lloydReference(rows, k = 3, iters = 3)
    assert(got === want.sortBy(_._1))
    // clusters partition the corpus
    assert(got.map(_._2).sum === rows.size)
    assert(got.forall(_._3 >= 0L))

    // the convergence trace replays identically too
    val gotTrace = Knn.kmeansLloydTrace(df, k = 3, iters = 3)
      .as[(Int, Long, Option[Long], Long, Long)].collect().toSeq
    assert(gotTrace === wantTrace)
    assert(gotTrace.head._3.isEmpty) // no previous assignment at iter 1
    // Lloyd's objective is non-increasing across iterations
    assert(gotTrace.map(_._4).sliding(2).forall(w => w.last <= w.head))
  }

  test("Lloyd-IVF: pruned search agrees with the driver replay; nprobe=cells ≡ integer brute force") {
    val rows = Seq(
      (0L, scaled(0, 0.9f)), (1L, scaled(0, 1.0f)), (2L, scaled(0, 1.1f)),
      (3L, scaled(1, 0.9f)), (4L, scaled(1, 1.0f)), (5L, scaled(1, 1.1f)),
      (6L, scaled(2, 0.5f)), (7L, scaled(2, 0.6f)), (8L, scaled(3, 0.8f)))
    val df = rows.map { case (id, a) => (id, a, 0) }
      .toDF("vec_id", "embedding", "label")
    // pruned point: nprobe=1 of 3 cells — candidates restricted to the
    // query's nearest cell, exactly as the reference replays it
    val pruned = Knn.ivfLloydTopK(df, nQueries = 3, k = 2,
      cells = 3, iters = 2, nprobe = 1)
      .as[(Long, Long, Int, Long)].collect().toSeq
    assert(pruned === ivfReference(rows, nQueries = 3, k = 2,
      cells = 3, iters = 2, nprobe = 1))
    // exhaustive point: nprobe=cells probes everything → the result IS
    // the integer-L2 brute force (which the reference then computes)
    val full = Knn.ivfLloydTopK(df, nQueries = 3, k = 2,
      cells = 3, iters = 2, nprobe = 3)
      .as[(Long, Long, Int, Long)].collect().toSeq
    assert(full === ivfReference(rows, nQueries = 3, k = 2,
      cells = 3, iters = 2, nprobe = 3))
    // pruning can only shrink the candidate pool: pruned hits ⊆ full ranking pool
    assert(pruned.map(_._4).forall(d => full.exists(_._4 <= d)))

    // the recall experiment equals the overlap of the two replayed legs
    val prunedSet = ivfReference(rows, nQueries = 3, k = 2,
      cells = 3, iters = 2, nprobe = 1).map(r => (r._1, r._2)).toSet
    val exactSet = ivfReference(rows, nQueries = 3, k = 2,
      cells = 3, iters = 2, nprobe = 3).map(r => (r._1, r._2)).toSet
    val rec = Knn.ivfLloydRecall(df, nQueries = 3, k = 2,
      cells = 3, iters = 2, nprobe = 1)
      .as[(Int, Int, Int, Long, Long, Double)].collect().head
    assert(rec._1 === 2 && rec._2 === 1 && rec._3 === 3)
    assert(rec._4 === exactSet.size.toLong)
    assert(rec._5 === (exactSet & prunedSet).size.toLong)
    assert(rec._6 === (exactSet & prunedSet).size.toDouble / exactSet.size)
  }

  test("Lloyd trainer: a cluster that loses all members keeps its previous centroid") {
    // 3 seeds over only 2 distinct locations: after the first update two
    // centroids coincide and one goes empty — it must keep its previous
    // centroid (n=0, inertia=0), exactly as the driver replay does
    val rows = Seq(
      (0L, scaled(0, 1.0f)), (1L, scaled(0, 1.0f)),
      (2L, scaled(1, 1.0f)), (3L, scaled(1, 1.0f)))
    val df = rows.map { case (id, a) => (id, a, 0) }
      .toDF("vec_id", "embedding", "label")
    val got = Knn.kmeansLloydTrain(df, k = 3, iters = 2)
      .as[(Int, Long, Long, Long)].collect().toSeq
    val want = lloydReference(rows, k = 3, iters = 2)._1.sortBy(_._1)
    assert(got === want)
    assert(got.exists(r => r._2 == 0L && r._3 == 0L)) // the empty cluster
    assert(got.map(_._2).sum === rows.size)
  }

  // ── SQ8 scalar-quantized ANN ──

  test("SQ8: symmetric int8 codes score as exact integer dot products (≈127²·cosine)") {
    // code = floor(x/‖x‖·127 + 0.5) ∈ [−127,127]; magnitude vanishes
    // under normalization, direction survives quantized
    val diag = { val a = Array.fill(64)(0f); a(0) = 1f; a(1) = 1f; a }
    val neg = { val a = Array.fill(64)(0f); a(0) = -1f; a }
    val e = Seq(
      (0L, unit(0), 0),        // query → code 127 on dim0
      (1L, diag, 0),           // 45°: 1/√2·127+0.5 → code 90 on dims 0,1
      (2L, unit(1), 0),        // orthogonal → score 0
      (3L, neg, 0))            // antiparallel → code −127 → negative score
      .toDF("vec_id", "embedding", "label")
    val r = Knn.sq8TopK(e, nQueries = 1, k = 3)
      .as[(Long, Long, Int, Long)].collect()
    val byId = r.map(x => x._2 -> x._4).toMap
    assert(byId(1L) === 127L * 90L)      // floor(0.7071·127+0.5) = 90
    assert(byId(2L) === 0L)
    assert(byId(3L) === 127L * -127L)
    // ranking follows cosine order: parallel-ish > orthogonal > antiparallel
    assert(r.sortBy(_._3).map(_._2).toSeq === Seq(1L, 2L, 3L))
  }

  test("SQ8: recall experiment returns 1.0 when quantization can't flip the ranking") {
    // well-separated directions: per-query cosine gaps are far larger
    // than the 1/127 rounding granularity, so the quantized top-k must
    // equal the exact top-k and the in-plan recall must be exactly 1.0
    def mix(i: Int, j: Int, wj: Float): Array[Float] = {
      val a = Array.fill(64)(0f); a(i) = 1f; a(j) = wj; a
    }
    val e = Seq(
      (0L, unit(0), 0), (1L, mix(0, 1, 0.1f), 0), (2L, mix(0, 1, 0.3f), 0),
      (3L, unit(2), 0), (4L, mix(2, 3, 0.1f), 0), (5L, mix(2, 3, 0.3f), 0),
      (6L, unit(4), 0), (7L, unit(5), 0))
      .toDF("vec_id", "embedding", "label")
    val row = Knn.sq8Recall(e, nQueries = 2, k = 2)
      .as[(Int, Int, Long, Long, Double)].collect().head
    assert(row === ((2, 2, 4L, 4L, 1.0)))
  }

  test("IVF attach: probing every cell ≡ brute-force integer L2 of batch vs corpus state") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val e = TestdataAdapter.table(spark, "/root/testdata/sf0.001", "embeddings")
    val cells = 4
    val attached = Knn.ivfAttachIncremental(e, cells = cells, nprobe = cells, k = 3)
      .select("batch_id", "neighbor_id", "rank", "d").collect()
    // independent brute force in the same integer micro-unit domain
    def quant(df: org.apache.spark.sql.DataFrame, idCol: String) =
      df.select(col("vec_id").as(idCol), expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))").as(s"q_$idCol"))
    val corpus = quant(e.filter(col("vec_id") % 3 =!= 0)
      .filter(expr("aggregate(zip_with(embedding, embedding, (a,b) -> CAST(a AS DOUBLE)*b), 0.0D, (x,y) -> x+y) > 0")), "nid")
    val batch = quant(e.filter(col("vec_id") % 3 === 0)
      .filter(expr("aggregate(zip_with(embedding, embedding, (a,b) -> CAST(a AS DOUBLE)*b), 0.0D, (x,y) -> x+y) > 0")), "bid")
    val w = Window.partitionBy("bid").orderBy(col("d"), col("nid"))
    val brute = batch.crossJoin(corpus)
      .withColumn("d", aggregate(zip_with(col("q_bid"), col("q_nid"),
        (x, y) => (x - y) * (x - y)), lit(0L), _ + _))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
      .select(col("bid"), col("nid"), col("rank"), col("d")).collect()
    assert(attached.map(_.toString).sorted.toSeq == brute.map(_.toString).sorted.toSeq)
  }

  test("IVF-PQ: probing every cell makes the composition ≡ plain PQ ADC by construction") {
    // at nprobe = cells the coarse quantizer prunes nothing, so the
    // composed pipeline must reduce exactly to pqTopK's full ADC scan —
    // the same degenerate-point identity knn_ivf's oracle uses
    val e = TestdataAdapter.table(spark, "/root/testdata/sf0.001", "embeddings")
    val cb = graft.sim.PqFixture.codebooks
    val composed = Knn.ivfPqTopK(e, cb, nQueries = 10, k = 5,
      cells = 4, iters = 2, nprobe = 4).collect()
    val plain = Knn.pqTopK(e, nQueries = 10, k = 5, pinned = Some(cb)).collect()
    assert(composed.map(_.toString).toSeq == plain.map(_.toString).toSeq)
  }
}
