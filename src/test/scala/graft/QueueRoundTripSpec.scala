package graft

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.streaming.Streams

/** The queue wire contract of the maintained-state streams
  * ([[Streams.queueRoundTrip]]): k produced frames drain through
  * [[Streams.foldBatches]] as exactly k micro-batches, in produce order,
  * each equal to its source frame — BIGINT, STRING (quotes, backslashes,
  * newlines, non-ASCII) and ARRAY<FLOAT> (compared as bit patterns)
  * alike. Each frame spans four partitions, so a produce not coalesced
  * to one segment, or a read without whole-segment admission, changes
  * the batch count.
  */
class QueueRoundTripSpec extends SparkSpec {

  private def rows(df: DataFrame): Seq[(Long, String, Seq[Int])] =
    df.collect().toSeq.map(r => (r.getLong(0), r.getString(1),
      r.getSeq[Float](2).map(java.lang.Float.floatToRawIntBits))).sortBy(_._1)

  test("k produced frames drain as k micro-batches in produce order, each equal to its frame") {
    // ids not monotone across frames: batch order must be produce order
    val frames = Seq(0L, 1000L, 500L).map { base =>
      spark.range(base, base + 40, 1, 4).select(
        col("id"),
        concat(lit("say \"hi\" \\ naïve\n#"), col("id").cast("string")).as("text"),
        array((col("id") * 0.1).cast("float"), (lit(1.0) / (col("id") + 3)).cast("float"),
          lit(Float.MinPositiveValue), lit(Float.MaxValue), lit(-0.0f)).as("emb"))
    }
    val seen = mutable.ArrayBuffer.empty[(Long, Seq[(String, String)], Seq[(Long, String, Seq[Int])])]
    Streams.foldBatches(Streams.queueRoundTrip("id", frames),
        Files.createTempDirectory("graft_qrt_ckpt").toString) { (batch, batchId) =>
      seen += ((batchId, batch.schema.map(f => f.name -> f.dataType.sql), rows(batch)))
    }
    assert(seen.map(_._1) == frames.indices.map(_.toLong),
      s"expected ${frames.size} micro-batches, got batch ids ${seen.map(_._1)}")
    frames.zip(seen).foreach { case (frame, (id, schema, got)) =>
      assert(schema == frame.schema.map(f => f.name -> f.dataType.sql),
        s"batch $id schema $schema")
      assert(got == rows(frame), s"batch $id differs from its source frame")
    }
  }
}
