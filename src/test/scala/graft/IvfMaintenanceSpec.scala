package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.functions._

import graft.sim.IvfMaintenance
import graft.streaming.IvfStream

/** The ANN maintenance loop as running state (r15, VERDICT item 1):
  * stream ≡ batch parity, exactly-once crash recovery at the worst
  * point (between a batch's verdict write and its delta/state writes),
  * the retrain gate firing and ABSORBING on engineered drift, and the
  * queue's float JSON round trip.
  */
class IvfMaintenanceSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def emb = TestdataAdapter.table(spark, sfDir, "embeddings")

  /** Stage the standard-carve batches as mtime-pinned parquet files so
    * the file source delivers them in carve order (the CrashRecoverySpec
    * staging pattern).
    */
  private def stage(root: String) = {
    val (corpus, b1, b2) = IvfMaintenance.carve(emb)
    b1.coalesce(1).write.mode("overwrite").parquet(s"$root/in/batch_a")
    b2.coalesce(1).write.mode("overwrite").parquet(s"$root/in/batch_b")
    Seq("batch_a" -> 0L, "batch_b" -> 60000L).foreach { case (n, off) =>
      val d = Paths.get(s"$root/in/$n")
      Files.list(d).forEach(p =>
        Files.setLastModifiedTime(p, FileTime.fromMillis(1700000000000L + off)))
      Files.setLastModifiedTime(d, FileTime.fromMillis(1700000000000L + off))
    }
    (b1.schema, corpus)
  }

  private def runFileStream(schema: org.apache.spark.sql.types.StructType,
      corpus: org.apache.spark.sql.DataFrame, root: String, tag: String,
      crash: Option[Long] = None): Unit =
    IvfStream.runIvfIndexStreamFrom(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$root/in/batch_*"),
      corpus, s"$root/${tag}state", s"$root/${tag}verdicts",
      s"$root/${tag}ckpt", crashAfterVerdictsOfBatch = crash)

  private def readSorted(path: String) =
    spark.read.parquet(path).orderBy("batch_seq", "cell").collect().toSeq

  private def stateRows(stateDir: String) = Seq(
    spark.read.parquet(IvfMaintenance.cenPath(stateDir, 2))
      .orderBy("j").collect().toSeq,
    spark.read.parquet(IvfMaintenance.statsPath(stateDir, 2))
      .orderBy("cell").collect().toSeq,
    spark.read.parquet(IvfMaintenance.deltaPath(stateDir, 0),
        IvfMaintenance.deltaPath(stateDir, 1))
      .orderBy("vec_id").collect().toSeq)

  test("ivf maintenance: crash between verdict and delta of batch 1, resume, end state identical") {
    val root = Files.createTempDirectory("graft_ivf_crash").toString
    val (schema, corpus) = stage(root)

    // --- uninterrupted reference run
    runFileStream(schema, corpus, root, "ref_")
    val refVerdicts = readSorted(s"$root/ref_verdicts/*")
    val refState = stateRows(s"$root/ref_state")
    assert(refVerdicts.nonEmpty, "reference run produced no verdicts")

    // --- crashed run: batch 0 commits; batch 1 dies half-applied
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      runFileStream(schema, corpus, root, "", crash = Some(1L))
    }
    assert(ex.getMessage.contains("injected crash"),
      s"unexpected failure mode: ${ex.getMessage.take(200)}")
    // the torn-write picture: batch 1's verdict is on disk, its delta
    // and the v2 state version are not
    assert(Files.exists(Paths.get(s"$root/verdicts/b1")), "b1 verdicts missing")
    assert(Files.exists(Paths.get(IvfMaintenance.deltaPath(s"$root/state", 0))),
      "batch-0 delta missing")
    assert(!Files.exists(Paths.get(IvfMaintenance.deltaPath(s"$root/state", 1))),
      "delta_b1 must NOT exist — the crash fires between verdict and delta")
    assert(!Files.exists(Paths.get(IvfMaintenance.cenPath(s"$root/state", 2))),
      "centroids_v2 must NOT exist — the crash fires before the state advance")
    val v0Mtime = Files.getLastModifiedTime(
      Paths.get(IvfMaintenance.cenPath(s"$root/state", 0)))

    // --- resume from the SAME checkpoint + state dirs, no fault injected
    runFileStream(schema, corpus, root, "")
    assert(readSorted(s"$root/verdicts/*") == refVerdicts,
      "verdicts after crash+resume differ from the uninterrupted run")
    assert(stateRows(s"$root/state") == refState,
      "final centroid/stats/delta state after crash+resume differs")
    assert(Files.getLastModifiedTime(
        Paths.get(IvfMaintenance.cenPath(s"$root/state", 0))) == v0Mtime,
      "resume re-seeded the immutable v0 centroids")
  }

  test("streaming queue form ≡ in-plan batch twin, row for row") {
    val streamed = IvfStream.ivfIndexQueueStream(spark, sfDir)
      .collect().toSeq
    val batch = IvfMaintenance.maintenanceBatch(spark, sfDir)
      .collect().toSeq
    assert(streamed.nonEmpty, "streaming maintenance produced no verdicts")
    assert(streamed == batch,
      "graftqueue maintenance verdicts differ from the batch twin")
  }

  test("in-plan drift report ≡ the batch-0 verdict rows the maintenance step persists") {
    // the step totals the persisted per-cell stats; the report reads the
    // same assignment in-plan — both must give the same rows
    val root = Files.createTempDirectory("graft_ivf_report").toString
    val (corpus, b1, _) = IvfMaintenance.carve(emb)
    IvfMaintenance.maintenanceStep(spark, corpus, s"$root/state",
      s"$root/verdicts", b1, 0L, cells = 8, iters = 2,
      driftRatio = 1.5, shareRatio = 2.0)
    val verdicts = spark.read.parquet(s"$root/verdicts/b0")
      .drop("batch_seq").orderBy("cell")
    val report = graft.sim.Knn.ivfDriftReport(corpus, b1)
    assert(report.columns.toSeq == verdicts.columns.toSeq)
    val rows = report.collect().toSeq
    assert(rows.nonEmpty, "drift report produced no rows")
    assert(rows == verdicts.collect().toSeq,
      "in-plan drift report differs from the persisted batch-0 verdicts")
  }

  test("embedding float arrays survive the JSON queue envelope bit-for-bit") {
    val src = emb.select("vec_id", "embedding").orderBy("vec_id").limit(50)
    val wire = org.apache.spark.sql.types.StructType.fromDDL(
      "vec_id BIGINT, embedding ARRAY<FLOAT>")
    val rt = src
      .select(to_json(struct(col("vec_id"), col("embedding"))).as("v"))
      .select(from_json(col("v"), wire).as("r")).select("r.*")
      .orderBy("vec_id")
    assert(rt.collect().toSeq == src.collect().toSeq,
      "to_json→from_json float round trip is not exact")
  }

  test("retrain gate: engineered drift fires it, the retrain absorbs the stream") {
    val (n, m) = (120, 40)
    val rep = IvfMaintenance.maintenanceRetrain(spark, n = n, m = m)
      .collect().toSeq
    val rep1 = rep.filter(_.getAs[Int]("batch_seq") == 1)
    val rep2 = rep.filter(_.getAs[Int]("batch_seq") == 2)
    assert(rep1.exists(_.getAs[Boolean]("retrain_due")),
      "drifted batch 1 did not trip retrain_due")
    assert(rep2.nonEmpty && rep2.forall(!_.getAs[Boolean]("retrain_due")),
      "batch 2 from the same drifted mixture still flags after the retrain")
    // the retrain really happened: batch 2's training window is
    // corpus ∪ batch 1 (n + m vectors), not the original corpus (n)
    assert(rep2.map(_.getAs[Long]("n_train")).sum == (n + m).toLong,
      "batch-2 report is not against the retrained (absorbed) window")
  }
}
