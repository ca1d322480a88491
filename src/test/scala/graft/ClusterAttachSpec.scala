package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.dedup.Dedup

/** Incremental cluster maintenance (Dedup.attachToClusters): the
  * persisted label table + signature index must absorb a batch exactly
  * like a from-scratch recompute — including the hard case where ONE
  * batch document bridges two previously-separate clusters.
  */
class ClusterAttachSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private def docs = TestdataAdapter.table(spark, dir, "documents")

  // Deterministic bridge fixture (verified against this exact MinHash
  // construction): t1 and t2 share NO band — two separate clusters —
  // while their concatenation band-collides with BOTH.
  private val t1 = "nu xi beta iota rho pi nu kappa pi mu tau eta"
  private val t2 = "beta gamma gamma mu zeta kappa iota upsilon eta upsilon beta tau"

  private def frame(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  test("a bridging batch doc merges two existing clusters under the global min") {
    val corpus = frame(1L -> t1, 2L -> t1, 3L -> t2, 4L -> t2)
    val labels = Dedup.dedupClusters(corpus).select("doc_id", "cluster_id")
    // sanity: two separate clusters with min-id representatives
    assert(labels.orderBy("doc_id").as[(Long, Long)].collect().toSeq ==
      Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 3L)))
    val batch = frame(10L -> (t1 + " " + t2))
    val merged = Dedup.attachToClusters(labels, Dedup.lshIndex(corpus), batch)
    val got = merged.orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L), (10L, 1L)),
      s"bridge did not merge: $got")
    // and it equals the from-scratch recompute over the union
    val full = Dedup.dedupClusters(corpus.unionByName(batch))
      .select("doc_id", "cluster_id")
    assert(merged.exceptAll(full).isEmpty && full.exceptAll(merged).isEmpty)
  }

  test("attach over real data equals the from-scratch clustering") {
    val d = docs.select("doc_id", "text")
    val corpus = d.filter(col("doc_id") % 3 =!= 0)
    val batch = d.filter(col("doc_id") % 3 === 0)
    val inc = Dedup.attachToClustersWithSizes(
      Dedup.dedupClusters(corpus).select("doc_id", "cluster_id"),
      Dedup.lshIndex(corpus), batch)
    val full = Dedup.dedupClusters(d)
    assert(inc.exceptAll(full).isEmpty && full.exceptAll(inc).isEmpty)
  }

  // Adversarial fixtures (VERDICT r9 item 8), found by seeded search
  // against this exact MinHash construction (8 rotations of one md5,
  // 4 two-hash bands): tA..tD have pairwise-disjoint shingles and NO
  // pairwise band collision (four separate clusters), while
  //   - mega  = tA tB tC tD  band-collides with ALL FOUR texts
  //     (each text owns one complete band of the union signature), and
  //   - b12 = tA tB collides with both tA and tB,
  //     b23 = tB tC collides with both tB and tC.
  private val tA = "nu theta sigma mu rho sigma delta delta phi beta alpha mu"
  private val tB = "theta iota zeta eta zeta eta zeta sigma gamma alpha upsilon eta"
  private val tC = "delta epsilon gamma epsilon xi nu pi omega phi phi iota tau"
  private val tD = "iota rho rho theta rho eta omega lam zeta chi theta zeta"

  private def fourClusterState = {
    val corpus = frame(1L -> tA, 2L -> tA, 3L -> tB, 4L -> tB,
      5L -> tC, 6L -> tC, 7L -> tD, 8L -> tD)
    val labels = Dedup.dedupClusters(corpus).select("doc_id", "cluster_id")
    assert(labels.orderBy("doc_id").as[(Long, Long)].collect().toSeq ==
      Seq(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L, 5L -> 5L, 6L -> 5L,
        7L -> 7L, 8L -> 7L),
      "fixture precondition broken: expected four separate clusters")
    (corpus, labels)
  }

  test("one batch doc bridging FOUR existing clusters merges them all under the global min") {
    val (corpus, labels) = fourClusterState
    val batch = frame(100L -> (tA + " " + tB + " " + tC + " " + tD))
    val merged = Dedup.attachToClusters(labels, Dedup.lshIndex(corpus), batch)
    val got = merged.orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(got.forall(_._2 == 1L), s"k-way bridge did not collapse to the global min: $got")
    val full = Dedup.dedupClusters(corpus.unionByName(batch))
      .select("doc_id", "cluster_id")
    assert(merged.exceptAll(full).isEmpty && full.exceptAll(merged).isEmpty)
  }

  test("two bridging batches reach the same labels in either attach order") {
    val (corpus, labels0) = fourClusterState
    val p = frame(200L -> (tA + " " + tB)) // merges {1,2}+{3,4} under rep 1
    val q = frame(300L -> (tB + " " + tC)) // merges {3,4}+{5,6} under rep 3
    val idx0 = Dedup.lshIndex(corpus)
    // sequential attach = new labels out, signature index merged in —
    // the same state transition the registry's incremental queries run
    def attachSeq(first: org.apache.spark.sql.DataFrame,
        second: org.apache.spark.sql.DataFrame) = {
      val labels1 = Dedup.attachToClusters(labels0, idx0, first)
      Dedup.attachToClusters(labels1, idx0.unionByName(Dedup.lshIndex(first)), second)
        .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    }
    val pq = attachSeq(p, q)
    val qp = attachSeq(q, p)
    assert(pq == qp, s"attach order changed the labels:\nPQ=$pq\nQP=$qp")
    // the intermediate representative DIFFERS by order (P first merges
    // under rep 1, Q first merges under rep 3) — and both converge to
    // the from-scratch closure
    val full = Dedup.dedupClusters(corpus.unionByName(p).unionByName(q))
      .select("doc_id", "cluster_id")
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(pq == full, s"incremental differs from from-scratch:\ninc=$pq\nfull=$full")
    // tD's cluster must have survived untouched, everything else merged
    assert(full.filter(r => Set(7L, 8L)(r._1)).forall(_._2 == 7L))
    assert(full.filterNot(r => Set(7L, 8L)(r._1)).forall(_._2 == 1L))
  }

  test("attach against persisted state reads no corpus text") {
    val state = Files.createTempDirectory("graft_cc_plan").toString
    val d = docs.select("doc_id", "text")
    val corpus = d.filter(col("doc_id") % 3 =!= 0)
    d.filter(col("doc_id") % 3 === 0)
      .write.mode("overwrite").parquet(s"$state/batch")
    Dedup.dedupClusters(corpus).select("doc_id", "cluster_id")
      .write.mode("overwrite").parquet(s"$state/labels")
    Dedup.lshIndex(corpus).write.mode("overwrite").parquet(s"$state/sigs")
    val plan = Dedup.attachToClusters(
      spark.read.parquet(s"$state/labels"),
      spark.read.parquet(s"$state/sigs"),
      spark.read.parquet(s"$state/batch"))
      .queryExecution.executedPlan.toString
    val corpusScans = "documents\\.parquet".r.findAllIn(plan).length
    assert(corpusScans == 0, s"corpus rescanned $corpusScans times")
  }
}
