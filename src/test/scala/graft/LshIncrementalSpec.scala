package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.dedup.Dedup

/** The maintained near-dup LSH index (Dedup.{lshIndex,
  * classifyNearDupIncremental}; merging a batch is a plain union with its
  * own lshIndex): merged state must classify exactly like
  * an index rebuilt from scratch over the union, and classification
  * against persisted state must never rescan corpus text.
  */
class LshIncrementalSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private def docs = TestdataAdapter.table(spark, dir, "documents")

  private def persist(ix: org.apache.spark.sql.DataFrame, path: String) = {
    ix.write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  test("merged index classifies identically to a from-scratch rebuild") {
    val corpus = docs.filter(col("doc_id") % 3 =!= 0)
    val b1 = docs.filter(col("doc_id") % 3 === 0 && col("doc_id") % 2 === 0)
    val b2 = docs.filter(col("doc_id") % 3 === 0 && col("doc_id") % 2 =!= 0)
    val state = Files.createTempDirectory("graft_lsh_spec").toString
    val idx0 = persist(Dedup.lshIndex(corpus), s"$state/v0")
    val idx1 = persist(idx0.unionByName(Dedup.lshIndex(b1)), s"$state/v1")
    val viaMerge = Dedup.classifyNearDupIncremental(idx1, b2)
    val viaRebuild = Dedup.classifyNearDupIncremental(
      Dedup.lshIndex(corpus.unionByName(b1)), b2)
    assert(viaMerge.exceptAll(viaRebuild).isEmpty &&
      viaRebuild.exceptAll(viaMerge).isEmpty)
  }

  test("classify against persisted signatures reads no corpus text") {
    val state = Files.createTempDirectory("graft_lsh_plan").toString
    docs.filter(col("doc_id") % 3 === 0)
      .write.mode("overwrite").parquet(s"$state/batch")
    val batch = spark.read.parquet(s"$state/batch")
    val idx = persist(Dedup.lshIndex(docs.filter(col("doc_id") % 3 =!= 0)), s"$state/v0")
    val plan = Dedup.classifyNearDupIncremental(idx, batch)
      .queryExecution.executedPlan.toString
    val corpusScans = "documents\\.parquet".r.findAllIn(plan).length
    assert(corpusScans == 0, s"corpus rescanned $corpusScans times")
    assert(plan.contains("graft_lsh_plan"), "state parquet absent from plan")
  }

  test("an exact re-presented document is a full-agreement near-dup") {
    val corpus = docs.filter(col("doc_id") % 3 =!= 0)
    val idx = Dedup.lshIndex(corpus)
    // re-present corpus docs under shifted ids: every band collides and
    // all 8 min-hashes agree with the original
    val re = Dedup.classifyNearDupIncremental(
      idx, corpus.withColumn("doc_id", col("doc_id") + 1000000L))
    val bad = re.filter(!col("is_near_dup") || col("best_agreement") < 1.0)
    assert(bad.isEmpty)
  }
}
