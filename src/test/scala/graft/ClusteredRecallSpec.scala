package graft

import org.apache.spark.sql.functions._
import graft.sim.Knn

/** The clustered-embedding fixture and the recall band it exists to
  * expose (VERDICT r12 item 4): on structureless random vectors the
  * pruned IVF operating point reads 0.44 recall — not an operator
  * property, a data property. On a genuinely clustered table the same
  * operator at the same nprobe << cells point must read HIGH recall;
  * this spec pins that shape (the exact values are additionally
  * oracle-checked end to end by `ivf_lloyd_recall_clustered` /
  * `sq8_recall_clustered`, generator included).
  */
class ClusteredRecallSpec extends SparkSpec {

  private lazy val emb = Knn.clusteredEmbeddings(spark).persist()

  test("generator: deterministic, schema-compatible, clusters populated and separated") {
    assert(emb.columns.toSeq == Seq("vec_id", "embedding", "label"))
    assert(emb.count() == 500)
    val sizes = emb.groupBy("label").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(sizes.keySet == (0 until 8).toSet, s"all 8 true clusters populated: $sizes")
    assert(sizes.values.forall(_ >= 20), s"no degenerate cluster: $sizes")
    // re-generation is bit-identical (md5 draws, no rand())
    val again = Knn.clusteredEmbeddings(spark)
    assert(emb.exceptAll(again).isEmpty && again.exceptAll(emb).isEmpty)
    // separation: same-cluster dot products dwarf cross-cluster ones —
    // centers are disjoint axis blocks, noise is bounded by ±0.25
    val d = emb.select(col("label"),
      aggregate(col("embedding"), lit(0.0d),
        (acc, x) => acc + x.cast("double") * x.cast("double")).as("n2"))
    val n2 = d.agg(min("n2"), max("n2")).head
    assert(n2.getDouble(0) > 400 && n2.getDouble(1) < 650,
      s"norms concentrate around the 8-dim 8.0 block: $n2")
  }

  test("pruned IVF on clustered data reads high recall at nprobe << cells") {
    val r = Knn.ivfLloydRecall(emb, cells = 8, nprobe = 2).collect().head
    assert(r.getAs[Int]("nprobe") < r.getAs[Int]("cells"), "genuinely pruned")
    val recall = r.getAs[Double]("recall")
    assert(recall >= 0.9,
      s"clustered recall must show the high-recall-at-low-nprobe shape, got $recall")
  }

  test("SQ8's operating envelope: raw int8 ranking fails on near-dup candidates, " +
      "two-stage rescore recovers it") {
    // intra-cluster candidates are near-ties below the 1/127 quantization
    // step — raw int8 top-k among them is essentially arbitrary. This is
    // the KNOWN scalar-quantization failure mode (the random-table
    // sq8_recall reads 0.98; this is the other end of the envelope) and
    // exactly what production two-stage serving exists to fix.
    val raw = Knn.sq8Recall(emb).collect().head.getAs[Double]("recall")
    assert(raw < 0.6,
      s"clustered near-dups should defeat raw int8 ranking, got $raw")
    // stage 1 at R=100 covers the whole near-dup set (cluster-level
    // separation survives int8 trivially); full-precision rescore of
    // those candidates restores the exact ranking
    val rescored = Knn.sq8RescoreRecall(emb).collect().head.getAs[Double]("recall")
    assert(rescored >= 0.99,
      s"two-stage rescore must recover recall on the hard case, got $rescored")
    assert(rescored > raw)
  }

  test("residual IVF-PQ beats no-residual at equal nprobe on clustered data (r14)") {
    // after coarse assignment every in-cell candidate shares the
    // centroid: no-residual codes spend the code budget re-describing it
    // (codes collapse — the PQ analogue of SQ8's near-tie failure), while
    // residual codes describe the within-cell geometry the final ranking
    // needs. This is WHY FAISS IndexIVFPQ encodes residuals.
    val recall = Knn.ivfPqResidualRecallBoth(emb).collect()
      .map(r => r.getAs[String]("variant") -> r.getAs[Double]("recall")).toMap
    val (res, raw) = (recall("residual"), recall("no_residual"))
    assert(res >= raw,
      s"residual must be >= no-residual at equal nprobe: residual=$res raw=$raw")
    assert(res >= 0.5, s"residual coding should carry real ranking signal, got $res")
    // ...and the refine stage completes the production stack: compressed
    // retrieval at R=50 covers the true neighbors (recall@R ≈ 1 even
    // where recall@k is mediocre), exact rescore of only those rows
    // restores the ranking — the sq8 two-stage story one level up
    val rescored = Knn.ivfPqResidualRescoreRecall(emb)
      .collect().head.getAs[Double]("recall")
    assert(rescored >= 0.99,
      s"IndexIVFPQ+refine must recover recall on the hard case, got $rescored")
    assert(rescored > res)
  }
}
