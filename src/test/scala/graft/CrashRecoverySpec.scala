package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.functions._

import graft.streaming.Streams

/** Checkpoint-restart recovery of the maintained dedup index (VERDICT r9
  * item 2): the reference survives a crash via per-message DB
  * transactions + offset commit (db-ingestion-service/ingestor.py:183-194
  * — a failed message neither writes nor advances the offset); our
  * equivalent is Structured Streaming checkpoint resume over the
  * replay-idempotent state fold. This spec proves the operational
  * property end-to-end, at the WORST crash point:
  *
  *  1. run the maintained-index stream to completion → reference verdicts
  *     and final state;
  *  2. run it again on fresh state with an injected crash in batch 1
  *     AFTER its verdict parquet is written but BEFORE its state persist
  *     (a half-applied batch — the classic torn write);
  *  3. resume from the SAME checkpoint: the file source re-delivers the
  *     uncommitted batch 1 with the same batchId, the fold re-reads state
  *     v1 from disk (not driver memory, which died with the crash), and
  *     the replay overwrites verdicts/b1 and writes v2;
  *  4. assert verdicts AND final state of the crashed+resumed run are
  *     row-identical to the uninterrupted run.
  */
class CrashRecoverySpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  /** Stage the continuous-ingest split the queue form produces
    * (corpus = docs with doc_id % 3 != 0, batches by doc_id parity) as
    * two batch files whose pinned mtimes give the file source the queue's
    * batch order.
    */
  private def stage(root: String) = {
    val docs = TestdataAdapter.table(spark, sfDir, "documents")
      .select("doc_id", "text", "lang", "source", "n_chars")
    docs.filter(col("doc_id") % 3 === 0 && col("doc_id") % 2 === 0)
      .coalesce(1).write.mode("overwrite").parquet(s"$root/in/batch_a")
    docs.filter(col("doc_id") % 3 === 0 && col("doc_id") % 2 =!= 0)
      .coalesce(1).write.mode("overwrite").parquet(s"$root/in/batch_b")
    Seq("batch_a" -> 0L, "batch_b" -> 60000L).foreach { case (n, off) =>
      val d = Paths.get(s"$root/in/$n")
      Files.list(d).forEach(p =>
        Files.setLastModifiedTime(p, FileTime.fromMillis(1700000000000L + off)))
      Files.setLastModifiedTime(d, FileTime.fromMillis(1700000000000L + off))
    }
    (docs.schema, docs.filter(col("doc_id") % 3 =!= 0))
  }

  /** The staged batch files as a stream, one file per micro-batch. */
  private def fileStream(schema: org.apache.spark.sql.types.StructType, root: String) =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$root/in/batch_*")

  private def readSorted(path: String) =
    spark.read.parquet(path).orderBy("doc_id").collect().toSeq

  /** base ∪ all deltas — the exact distinct hash table after 2 batches. */
  private def finalStateHashes(stateDir: String) =
    Streams.stateBefore(spark, stateDir, 2L)
      .collect().map(_.getString(0)).sorted.toSeq

  test("dedup index stream: crash after batch-1 verdicts, resume from checkpoint, end state identical") {
    val root = Files.createTempDirectory("graft_crash_recovery").toString
    val (schema, corpus) = stage(root)

    // --- uninterrupted reference run
    Streams.runDedupIndexStreamFrom(fileStream(schema, root), corpus,
      s"$root/ref_state", s"$root/ref_verdicts", s"$root/ref_ckpt")
    val refVerdicts = readSorted(s"$root/ref_verdicts/*")
    val refState = finalStateHashes(s"$root/ref_state")
    assert(refVerdicts.nonEmpty, "reference run produced no verdicts")
    // transport independence: the queue form feeds the same fold the same
    // two batches in the same order, so its verdicts equal the file run's
    assert(spark.read.parquet(s"$root/ref_verdicts/*").drop("is_new_bloom", "h")
      .orderBy("doc_id").collect().toSeq ==
      Streams.dedupIndexQueueStream(spark, sfDir).collect().toSeq,
      "file-source and queue-transport dedup index streams must agree verdict-for-verdict")

    // --- crashed run: batch 0 commits; batch 1 dies half-applied
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      Streams.runDedupIndexStreamFrom(fileStream(schema, root), corpus,
        s"$root/state", s"$root/verdicts", s"$root/ckpt",
        crashAfterVerdictsOfBatch = Some(1L))
    }
    assert(ex.getMessage.contains("injected crash"),
      s"unexpected failure mode: ${ex.getMessage.take(200)}")
    // the torn-write picture the crash must leave behind: batch 1's
    // verdicts are on disk but its state increment (delta + bloom) is not
    assert(Files.exists(Paths.get(s"$root/verdicts/b1")), "b1 verdicts missing")
    assert(Files.exists(Paths.get(s"$root/state/delta_b0")), "batch-0 delta missing")
    assert(Files.exists(Paths.get(s"$root/state/v1.bloom")), "v1 bloom missing")
    assert(!Files.exists(Paths.get(s"$root/state/delta_b1")),
      "delta_b1 must NOT exist — the crash fires before the batch-1 state persist")
    assert(!Files.exists(Paths.get(s"$root/state/v2.bloom")),
      "v2 bloom must NOT exist — the crash fires before the batch-1 state persist")
    // the base table is immutable state — a batch must never rewrite it
    val baseMtime = Files.getLastModifiedTime(Paths.get(s"$root/state/base"))

    // --- resume from the SAME checkpoint + state dirs, no fault injected
    Streams.runDedupIndexStreamFrom(fileStream(schema, root), corpus,
      s"$root/state", s"$root/verdicts", s"$root/ckpt")

    assert(Files.exists(Paths.get(s"$root/state/delta_b1")), "resume did not fold batch 1")
    assert(readSorted(s"$root/verdicts/*") == refVerdicts,
      "verdicts after crash+resume differ from the uninterrupted run")
    assert(finalStateHashes(s"$root/state") == refState,
      "final state hash table after crash+resume differs from the uninterrupted run")
    assert(Files.getLastModifiedTime(Paths.get(s"$root/state/base")) == baseMtime,
      "resume rewrote the immutable base table")
    // deltas carry only NEW hashes: base ∪ deltas must stay duplicate-free
    val all = spark.read.parquet(s"$root/state/base", s"$root/state/delta_b0",
      s"$root/state/delta_b1")
    assert(all.count() == all.distinct().count(),
      "base/delta state carries duplicate hashes — deltas must be disjoint")
  }

  test("LSH index stream: crash after batch-1 verdicts, resume from checkpoint, end state identical") {
    val root = Files.createTempDirectory("graft_crash_lsh").toString
    val (schema, corpus) = stage(root)

    // --- uninterrupted reference run
    Streams.runLshIndexStreamFrom(fileStream(schema, root), corpus,
      s"$root/ref_state", s"$root/ref_verdicts", s"$root/ref_ckpt")
    val refVerdicts = readSorted(s"$root/ref_verdicts/*")
    val refState = Streams.stateBefore(spark, s"$root/ref_state", 2L)
      .orderBy("doc_id").collect().toSeq
    assert(refVerdicts.nonEmpty, "reference run produced no verdicts")

    // --- crashed run: batch 1 dies after verdicts, before its delta
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      Streams.runLshIndexStreamFrom(fileStream(schema, root), corpus,
        s"$root/state", s"$root/verdicts", s"$root/ckpt",
        crashAfterVerdictsOfBatch = Some(1L))
    }
    assert(ex.getMessage.contains("injected crash"),
      s"unexpected failure mode: ${ex.getMessage.take(200)}")
    assert(Files.exists(Paths.get(s"$root/verdicts/b1")), "b1 verdicts missing")
    assert(Files.exists(Paths.get(s"$root/state/delta_b0")), "batch-0 delta missing")
    assert(!Files.exists(Paths.get(s"$root/state/delta_b1")),
      "delta_b1 must NOT exist — the crash fires before the batch-1 state persist")
    val baseMtime = Files.getLastModifiedTime(Paths.get(s"$root/state/base"))

    // --- resume from the SAME checkpoint + state dirs
    Streams.runLshIndexStreamFrom(fileStream(schema, root), corpus,
      s"$root/state", s"$root/verdicts", s"$root/ckpt")

    assert(Files.exists(Paths.get(s"$root/state/delta_b1")), "resume did not fold batch 1")
    assert(readSorted(s"$root/verdicts/*") == refVerdicts,
      "LSH verdicts after crash+resume differ from the uninterrupted run")
    assert(Streams.stateBefore(spark, s"$root/state", 2L)
      .orderBy("doc_id").collect().toSeq == refState,
      "final signature index after crash+resume differs from the uninterrupted run")
    assert(Files.getLastModifiedTime(Paths.get(s"$root/state/base")) == baseMtime,
      "resume rewrote the immutable signature base")
    // signature deltas are per-doc rows: doc_ids must stay unique across
    // base ∪ deltas (disjointness-by-construction)
    val all = Streams.stateBefore(spark, s"$root/state", 2L)
    assert(all.count() == all.select("doc_id").distinct().count(),
      "signature state carries duplicate doc_ids — deltas must be disjoint")
  }

  test("resumed run does not reprocess committed batches") {
    val root = Files.createTempDirectory("graft_crash_noreplay").toString
    val (schema, corpus) = stage(root)
    Streams.runDedupIndexStreamFrom(fileStream(schema, root), corpus,
      s"$root/state", s"$root/verdicts", s"$root/ckpt")
    val b0Mtime = Files.getLastModifiedTime(Paths.get(s"$root/verdicts/b0"))
    // second invocation against the exhausted checkpoint: all offsets are
    // committed, so AvailableNow finds nothing and must not rewrite any
    // verdict or state version
    Streams.runDedupIndexStreamFrom(fileStream(schema, root), corpus,
      s"$root/state", s"$root/verdicts", s"$root/ckpt")
    assert(Files.getLastModifiedTime(Paths.get(s"$root/verdicts/b0")) == b0Mtime,
      "a fully-committed checkpoint resume rewrote batch-0 verdicts")
    assert(!Files.exists(Paths.get(s"$root/state/delta_b2")) &&
      !Files.exists(Paths.get(s"$root/state/v3.bloom")),
      "a no-op resume must not mint a new state increment")
  }
}
