package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.text.WebGraphMaintenance

/** The web-graph maintenance loop on REAL transport (VERDICT r15 item
  * 1): crawl-delta document batches make the queue round trip of every
  * maintained-state stream ([[Streams.queueRoundTrip]]: JSON envelopes
  * on a `graftqueue` topic, drained as offset-ordered micro-batches, so
  * batch order IS the broker's commit order), and [[Streams.foldBatches]]
  * runs [[WebGraphMaintenance.maintenanceStep]] on each — extract
  * the batch's host edges, merge into the versioned edge state,
  * warm-refresh the authority ranks, emit the convergence verdict, gate
  * the full recompute — exactly the fold the in-plan batch twin
  * (`link_authority_maintenance`) runs, so the two registered queries
  * share one DuckDB oracle and stream ≡ batch is itself inside the hash
  * gate (the [[IvfStream]] discipline).
  *
  * Text transport: document text rides the envelope verbatim
  * (`to_json`/`from_json` round-trip strings exactly); the link
  * arithmetic depends only on doc_id, so the extraction chain inside
  * the fold sees byte-identical markup either way.
  */
object WebGraphStream {

  /** The maintenance fold over ANY streaming source of document rows —
    * exposed for the crash-recovery spec (`crashAfterVerdictsOfBatch`
    * is the same fault-injection seam as the IVF/dedup folds: the named
    * batch dies between its verdict write and its edge/rank state
    * writes).
    */
  private[graft] def runWebGraphStreamFrom(
      stream: DataFrame, corpusEdges: DataFrame, stateDir: String,
      verdictsDir: String, checkpoint: String,
      warmIters: Int = 2, iters: Int = 5,
      gapThreshold: Long = WebGraphMaintenance.GapThreshold,
      crashAfterVerdictsOfBatch: Option[Long] = None): Unit = {
    WebGraphMaintenance.seedIfAbsent(corpusEdges, stateDir, iters)
    Streams.foldBatches(stream, checkpoint) { (batch, batchId) =>
      WebGraphMaintenance.maintenanceStep(
        batch.sparkSession, stateDir, verdictsDir,
        WebGraphMaintenance.edgesOf(batch), batchId,
        warmIters, iters, gapThreshold, crashAfterVerdictsOfBatch)
    }
  }

  /** The registered streaming query: drain the two queue segments
    * through the maintenance fold, read back the per-batch convergence
    * verdicts. Hash-equal to [[WebGraphMaintenance.maintenanceBatch]]
    * under the shared oracle
    * ([[WebGraphMaintenance.maintenanceCarveSql]]).
    */
  def webGraphQueueStream(
      spark: SparkSession, dir: String,
      stateDir: Option[String] = None,
      warmIters: Int = 2, iters: Int = 5,
      gapThreshold: Long = WebGraphMaintenance.GapThreshold): DataFrame = {
    val (corpus, b1, b2) = WebGraphMaintenance.carve(
      graft.TestdataAdapter.table(spark, dir, "documents"))
    val stream = Streams.queueRoundTrip("doc_id",
      Seq(b1, b2).map(_.select("doc_id", "text")))
    val staged = Files.createTempDirectory("graft_wgq_state").toString
    runWebGraphStreamFrom(stream, WebGraphMaintenance.edgesOf(corpus),
      stateDir.getOrElse(s"$staged/state"), s"$staged/verdicts",
      Files.createTempDirectory("graft_wgq_ckpt").toString,
      warmIters, iters, gapThreshold)
    spark.read.parquet(s"$staged/verdicts/*").orderBy("batch_seq", "host")
  }
}
