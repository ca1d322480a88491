package graft.sources

import java.io.{DataInputStream, DataOutputStream, File, FileInputStream, FileOutputStream}
import java.util
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** A Spark DataSource V2 connector emulating the Kafka topic seam the
  * sandbox cannot host (SURVEY §2.1 S5/S6: the reference produces to and
  * consumes from 3 broker topics; this environment ships no broker and
  * no kafka connector jars). `graftqueue` is an append-only, offset-
  * tracked record queue over a directory — one subdirectory per topic,
  * immutable segment files, offsets assigned in committed-segment order
  * — exposing KAFKA'S READER SCHEMA (key/value binary, topic, partition,
  * offset, timestamp), so the documented `format("kafka")` swap is
  * EXECUTED, not just documented: the producer writes `producerEnvelope`
  * bytes through a V2 BatchWrite, and the consumer reads them back with
  * the same `.load().select(col("value").cast("string"))` + `from_json`
  * code a Kafka source feeds, in both batch and micro-batch streaming
  * (offset-range planning, AvailableNow-compatible).
  *
  * Deliberate divergences from a real broker, for sandbox determinism:
  * `timestamp` is null (broker-assigned in Kafka), `partition` is the
  * writer task's partition id, and offsets are globally consecutive in
  * committed-segment order rather than per-partition. Segment files are
  * named `segment-<seq>` (zero-padded per-topic sequence number), so
  * lexicographic order is exactly commit order — the broker's
  * offset-assignment contract. The record count lives in a fixed 8-byte
  * header (cached after first read; segments are immutable) so the NAME
  * can be a pure function of the claimed sequence number — which is what
  * makes commit CROSS-PROCESS safe: publication is one atomic
  * `Files.createLink(segment-<seq>, tmp)` (hard link = O_EXCL create of
  * the final name), two processes claiming the same seq collide with
  * `FileAlreadyExistsException` and the loser rescans-and-retries. Claim
  * and publication being the SAME syscall is load-bearing: a separate
  * claim-marker + rename scheme would leave a window where seq 6 is
  * visible before seq 5, shifting offsets a checkpointed reader already
  * handed out (and a crashed claimant would wedge the topic). See
  * GraftQueue.commitSegment; race-proven intra-JVM (GraftQueueSpec) and
  * across two forked JVMs (QueueRaceSpec / QueueRaceMain).
  *
  * Retention (r13): [[GraftQueue.retain]] deletes whole segments below
  * the minimum committed consumer offset ([[GraftQueue.consumerFloor]]
  * derives it from streaming checkpoints), Kafka-retention style. A
  * `truncated-<stamp>-<base>` marker records the log start offset so
  * absolute offsets NEVER move: surviving segments keep the offsets
  * checkpointed readers were handed, new consumers start at the earliest
  * available record, and producer stamps never restart below the
  * truncation point. Spec-proven in GraftQueueRetentionSpec (in-flight
  * streaming consumer unaffected across a truncation; disk reclaimed).
  *
  * r14 completes Kafka's maintenance triple: [[GraftQueue.retainByAge]]
  * (`retention.ms` — age-based prefix truncation independent of
  * consumers, same marker protocol) and [[GraftQueue.compact]]
  * (`cleanup.policy=compact` — latest-record-per-key prefix rewrite into
  * a `csegment` that keeps every surviving record's ORIGINAL absolute
  * offset and the prefix's full logical span, so downstream segments'
  * offsets and an in-flight consumer's checkpoint both stay valid;
  * checkpoint boundaries that land inside the compacted span are served
  * by offset-clamped sub-range reads). All three levers and the readers
  * share one listing-consistent [[GraftQueue.snapshot]] per planning
  * call (ADVICE r13). Spec-proven in GraftQueueCompactionSpec.
  */
object GraftQueue {
  val Schema: StructType = StructType(Seq(
    StructField("key", BinaryType),
    StructField("value", BinaryType),
    StructField("topic", StringType),
    StructField("partition", IntegerType),
    StructField("offset", LongType),
    StructField("timestamp", TimestampType)))

  /** Writer-side schema: exactly what a Kafka producer sink accepts. */
  val WriteSchema: StructType = StructType(Seq(
    StructField("key", BinaryType),
    StructField("value", BinaryType)))

  private[sources] def topicDir(path: String, topic: String): File =
    new File(path, topic)

  private val SegmentName = "segment-(\\d+)".r
  // Compacted segment (r14): `csegment-<stamp>` replaces the whole
  // prefix of the log up to (and including) stamp with its latest-
  // record-per-key rewrite. Format differs from a regular segment:
  // header = (logical span: Long, physical record count: Long), then
  // each record carries ITS ORIGINAL ABSOLUTE OFFSET explicitly —
  // compaction makes offsets sparse, so they can no longer be derived
  // from position. Shadowing rule: the csegment with the highest stamp
  // shadows EVERY segment (regular or compacted) with stamp <= its own;
  // publication is the same atomic hard-link claim as a regular
  // segment, so a crash after publish but before the shadowed files are
  // deleted leaves a log every reader already interprets correctly.
  private val CompactedName = "csegment-(\\d+)".r
  // Retention marker (r13): `truncated-<stamp14>-<base>` records that
  // every segment with sequence number <= stamp is logically removed and
  // that <base> records preceded the first surviving segment — Kafka's
  // logStartOffset. The marker is written BEFORE the segment files are
  // deleted, so a crash between the two steps leaves a consistent log
  // (readers skip marked segments whether or not their files remain).
  private val TruncMarker = "truncated-(\\d+)-(\\d+)".r

  private[sources] def isCompacted(f: File): Boolean =
    CompactedName.matches(f.getName)

  /** One consistent view of a topic log, from a SINGLE directory listing
    * (ADVICE r13): the truncation point, the log start offset, and the
    * live segment files in offset order — with the csegment shadowing
    * rule applied. Deriving base and segment list from two separate
    * listings let a retain()/compact() running between the two mislabel
    * surviving segments' absolute offsets; every planning entry point
    * (batch scan, micro-batch latestOffset/planInputPartitions, totals)
    * now takes exactly one snapshot per call.
    */
  private[sources] final case class LogSnapshot(
      truncStamp: Long, base: Long, segs: Seq[File]) {
    def total: Long = base + segs.map(spanOf).sum
  }

  private[sources] def snapshot(path: String, topic: String): LogSnapshot = {
    val d = topicDir(path, topic)
    val all =
      if (!d.isDirectory) Array.empty[File]
      else Option(d.listFiles()).getOrElse(Array.empty[File])
    // fail FAST on foreign "segment-" files (e.g. a queue dir written
    // by the retired pre-r12 `segment-<seq>-<uuid>-n<count>` format):
    // silently reading such a topic as empty/partial corrupts offset
    // arithmetic with no error signal (ADVICE r12)
    val foreign = all.filter(f =>
      (f.getName.startsWith("segment-") && !SegmentName.matches(f.getName)) ||
        (f.getName.startsWith("csegment-") && !CompactedName.matches(f.getName)))
    require(foreign.isEmpty,
      s"graftqueue topic $d contains unrecognized segment files " +
        s"(old format?): ${foreign.take(3).map(_.getName).mkString(", ")}")
    val ms = all.flatMap(f => f.getName match {
      case TruncMarker(stamp, base) => Some((stamp.toLong, base.toLong))
      case _ => None
    })
    val (truncStamp, base) = if (ms.isEmpty) (0L, 0L) else ms.maxBy(_._1)
    val regs = all.filter(f => SegmentName.matches(f.getName) && stampOf(f) > truncStamp)
    val comps = all.filter(f => isCompacted(f) && stampOf(f) > truncStamp)
    val live =
      if (comps.isEmpty) regs.toSeq
      else {
        val top = comps.maxBy(stampOf)
        // the newest csegment shadows everything at or below its stamp
        top +: regs.filter(f => stampOf(f) > stampOf(top)).toSeq
      }
    LogSnapshot(truncStamp, base, live.sortBy(stampOf))
  }

  /** Log start offset: the absolute offset of the first surviving record
    * (0 until retention runs). All offset arithmetic — batch scan starts,
    * micro-batch planning, totals — is based at this value, so committed
    * segments keep their original absolute offsets across truncation.
    */
  private[sources] def baseOffset(path: String, topic: String): Long =
    snapshot(path, topic).base

  // Segment metadata = the fixed header: (logical span, physical record
  // count) — identical for a regular segment, where offsets are dense;
  // a csegment's span covers the whole compacted prefix while its
  // physical count is the surviving latest-per-key records. Segments
  // are immutable once published, so one read per (JVM, segment)
  // suffices — offset arithmetic on the planning hot path stays
  // listing-only after first contact. Keyed by (path, length, mtime) so
  // a deleted-and-recreated topic dir (or a reused temp path within one
  // JVM) can never serve a stale count (ADVICE r12); retention and
  // compaction prune dead entries.
  private val metaCache = scala.collection.concurrent.TrieMap.empty[String, (Long, Long)]
  private def cacheKey(f: File): String =
    s"${f.getAbsolutePath}:${f.length}:${f.lastModified}"
  private[sources] def metaOf(f: File): (Long, Long) =
    metaCache.getOrElseUpdate(cacheKey(f), {
      val in = new DataInputStream(new FileInputStream(f))
      try {
        if (isCompacted(f)) { val span = in.readLong(); (span, in.readLong()) }
        else { val n = in.readLong(); (n, n) }
      } finally in.close()
    })

  /** Logical record span — the width a segment occupies in offset space
    * (== its record count for a regular segment; the compacted prefix's
    * original width for a csegment, which keeps every surviving record's
    * absolute offset stable).
    */
  private[sources] def spanOf(f: File): Long = metaOf(f)._1

  private[sources] def totalRecords(path: String, topic: String): Long =
    snapshot(path, topic).total

  private[sources] def stampOf(f: File): Long =
    f.getName.substring(f.getName.indexOf('-') + 1).toLong

  /** Next commit stamp for a topic: max existing stamp + 1 — a pure
    * per-topic sequence, NOT a wall-clock read. A millisecond timestamp
    * (the earliest form) could collide when two segments committed in the
    * same ms (leaving their order to the random uuid tie-break) and, on
    * a clock step, could even sort a NEW segment before one a
    * checkpointed reader had already consumed, shifting delivered
    * offsets after the fact. max+1 makes lexicographic name order
    * exactly commit order, always.
    */
  private[sources] def nextStamp(dir: File): Long = {
    // committed segments only — never in-flight temp files. The floor is
    // the truncation marker's stamp: after a FULL truncation the dir
    // holds no segment files, and restarting at 1 would hand out stamps
    // (and therefore offsets) a checkpointed reader already consumed.
    // csegments count too: a compacted prefix holds the stamp of its
    // last input, and new segments must sort after it.
    val all = Option(dir.listFiles()).getOrElse(Array.empty[File])
    val existing = all
      .filter(f => SegmentName.matches(f.getName) || isCompacted(f))
    val truncStamp = all.flatMap(f => f.getName match {
      case TruncMarker(stamp, _) => Some(stamp.toLong)
      case _ => None
    }).foldLeft(0L)(math.max)
    val maxExisting = if (existing.isEmpty) 0L else existing.map(stampOf).max
    math.max(maxExisting, truncStamp) + 1L
  }

  /** Result of one [[retain]] pass. */
  final case class RetentionResult(
      segmentsDeleted: Int, recordsTruncated: Long, logStartOffset: Long)

  /** Offset-based retention, Kafka-style (VERDICT r12 item 3): delete
    * every WHOLE segment whose record range lies entirely below
    * `minRetainedOffset` — the minimum committed offset across this
    * topic's consumers (see [[consumerFloor]]). Absolute offsets never
    * move: the truncation marker records the new log start offset, and
    * all planning bases itself there, so surviving segments keep the
    * offsets a checkpointed reader was already handed.
    *
    * Crash-safety: the marker is created atomically FIRST, then segment
    * files are deleted. A crash between the two leaves files that every
    * reader already skips (snapshot() filters stamp <= marker), and a
    * re-run finishes the deletes. Like Kafka, retention is cooperative:
    * calling it with an offset above a live consumer's position makes
    * that consumer's next fetch fail (its range no longer exists) — the
    * contract is exactly "pass the MIN over registered consumer
    * checkpoints".
    */
  /** Delete files no reader can see anyway — segments/csegments at or
    * below the truncation marker (a crashed retain/retainByAge lost its
    * deletes) and anything shadowed by the newest live csegment (a
    * crashed compact). Every maintenance entry point runs this first, so
    * re-running ANY of the three passes finishes a predecessor's
    * interrupted reclamation — without it, a csegment orphaned by a
    * crashed retain() (marker durable, delete lost) would leak its disk
    * forever: snapshots exclude it, so no later takeWhile ever selects
    * it (reviewer finding, r14).
    */
  private def reclaimShadowed(dir: File): Unit = {
    val all = Option(dir.listFiles()).getOrElse(Array.empty[File])
    val truncStamp = all.flatMap(f => f.getName match {
      case TruncMarker(stamp, _) => Some(stamp.toLong)
      case _ => None
    }).foldLeft(0L)(math.max)
    val topC = all.filter(isCompacted).map(stampOf)
      .filter(_ > truncStamp).foldLeft(0L)(math.max)
    all.foreach { f =>
      val isSeg = SegmentName.matches(f.getName)
      val isC = isCompacted(f)
      val dead = ((isSeg || isC) && stampOf(f) <= truncStamp) ||
        (isSeg && stampOf(f) <= topC) || (isC && stampOf(f) < topC)
      if (dead) { metaCache.remove(cacheKey(f)); f.delete() }
    }
  }

  def retain(path: String, topic: String, minRetainedOffset: Long): RetentionResult = {
    reclaimShadowed(topicDir(path, topic))
    val snap = snapshot(path, topic)
    var acc = snap.base
    val removable = snap.segs.takeWhile { f =>
      val end = acc + spanOf(f)
      val below = end <= minRetainedOffset
      if (below) acc = end
      below
    }
    truncatePrefix(topicDir(path, topic), snap.base, removable, acc)
  }

  /** Age-based retention — Kafka's `retention.ms` next to [[retain]]'s
    * offset lever: delete the log PREFIX whose segments were all
    * committed before `nowMs − maxAgeMs` (commit time = the published
    * file's mtime; the hard-link claim pins it at publication). Prefix-
    * only by construction (takeWhile): segment order is commit order, so
    * one young segment stops the scan and a clock step can never punch a
    * hole mid-log. Unlike [[retain]] this is NOT consumer-cooperative —
    * age retention deletes data whether or not a consumer has read it
    * (exactly Kafka's contract); a checkpointed consumer behind the cut
    * fails loudly on its next fetch rather than silently skipping.
    * Offsets never move: same marker-before-delete protocol.
    */
  def retainByAge(
      path: String, topic: String, maxAgeMs: Long,
      nowMs: Long = System.currentTimeMillis()): RetentionResult = {
    reclaimShadowed(topicDir(path, topic))
    val snap = snapshot(path, topic)
    val cutoff = nowMs - maxAgeMs
    var acc = snap.base
    val removable = snap.segs.takeWhile { f =>
      val old = f.lastModified() < cutoff
      if (old) acc += spanOf(f)
      old
    }
    truncatePrefix(topicDir(path, topic), snap.base, removable, acc)
  }

  /** Shared marker-before-delete tail of [[retain]]/[[retainByAge]]:
    * durable truncation marker FIRST (readers skip the prefix from that
    * instant, crash-safe), then reclaim files, cache entries and
    * superseded markers.
    */
  private def truncatePrefix(
      dir: File, base: Long, removable: Seq[File], newBase: Long): RetentionResult = {
    if (removable.isEmpty) return RetentionResult(0, 0L, base)
    val newStamp = stampOf(removable.last)
    val marker = new File(dir, f"truncated-$newStamp%014d-$newBase")
    try java.nio.file.Files.createFile(marker.toPath)
    catch { case _: java.nio.file.FileAlreadyExistsException => () }
    removable.foreach { f => metaCache.remove(cacheKey(f)); f.delete() }
    Option(dir.listFiles()).getOrElse(Array.empty[File]).foreach { f =>
      f.getName match {
        case TruncMarker(stamp, _) if stamp.toLong < newStamp => f.delete()
        case _ => ()
      }
    }
    RetentionResult(removable.size, newBase - base, newBase)
  }

  /** Result of one [[compact]] pass. */
  final case class CompactionResult(
      segmentsCompacted: Int, recordsIn: Long, recordsOut: Long,
      logStartOffset: Long)

  /** Log compaction — Kafka's `cleanup.policy=compact`, the third
    * maintenance lever next to offset- and age-based retention: rewrite
    * the log prefix below `uptoOffset` keeping only the LATEST record
    * per key (highest offset wins — exactly the S10 latest-wins upsert
    * semantics, applied inside the transport), into one `csegment` that
    * occupies the SAME offset span. The invariants retention
    * established all hold:
    *
    *   - absolute offsets never move: surviving records carry their
    *     original offsets explicitly (the csegment format stores them —
    *     compaction makes offsets sparse), and the csegment's logical
    *     span equals the prefix it replaced, so every downstream
    *     segment's planned start offset is unchanged;
    *   - an in-flight checkpointed consumer resumes exactly-once: a
    *     checkpoint boundary that now falls INSIDE the compacted span is
    *     served by an offset-clamped sub-range read of the csegment
    *     (compacted records filter by explicit offset — the one reader
    *     shape dense segments never needed);
    *   - crash-safe: the csegment publishes via the same atomic
    *     hard-link claim as a regular segment, and from that instant the
    *     snapshot's shadowing rule hides every input; deleting the
    *     shadowed files afterwards is pure reclamation, and a re-run
    *     (FileAlreadyExists on the claim) just finishes the deletes;
    *   - whole segments only (takeWhile below `uptoOffset`), so the
    *     active head keeps receiving appends untouched — Kafka's
    *     clean/dirty split.
    *
    * Keys compare as byte strings; the empty key (this sink's encoding
    * of a null key) is one key like any other. Memory is O(distinct
    * keys) in the compacted prefix — Kafka's cleaner dedup-buffer bound;
    * at broker scale the prefix is compacted in bounded windows.
    * Like [[retain]], cooperative: run it from the single maintenance
    * actor, passing an offset at or below the consumer floor unless
    * Kafka-style lossy-read semantics are intended.
    */
  def compact(path: String, topic: String, uptoOffset: Long): CompactionResult = {
    val dir = topicDir(path, topic)
    // finish any interrupted predecessor's reclamation first: files the
    // newest csegment (or a truncation marker) shadows are invisible to
    // every reader already, so deleting them here is pure cleanup — this
    // is what makes publish/mark-then-delete crash-safe end to end
    reclaimShadowed(dir)
    val snap = snapshot(path, topic)
    var acc = snap.base
    val prefix = snap.segs.takeWhile { f =>
      val end = acc + spanOf(f)
      val in = end <= uptoOffset
      if (in) acc = end
      in
    }
    val span = acc - snap.base
    if (prefix.isEmpty || span == 0L)
      return CompactionResult(0, 0L, 0L, snap.base)
    // a lone csegment prefix is already compacted — re-running would
    // rewrite it onto its own stamp (and the adopt path would then
    // delete it as an input); idempotent no-op instead
    if (prefix.length == 1 && isCompacted(prefix.head))
      return CompactionResult(0, 0L, 0L, snap.base)
    // latest-per-key sweep in offset order (last write wins). recordsIn
    // counts PHYSICAL records read — on a re-compaction over an existing
    // csegment that is fewer than the logical span (the span keeps holes
    // from the previous pass), and the in/out ratio is what compaction
    // effectiveness monitoring reads
    val latest = scala.collection.mutable.LinkedHashMap
      .empty[scala.collection.immutable.ArraySeq[Byte], (Long, Int, Array[Byte], Array[Byte])]
    var segStart = snap.base
    var physIn = 0L
    prefix.foreach { f =>
      foreachRecord(f, segStart) { (part, off, key, value) =>
        physIn += 1
        latest.put(scala.collection.immutable.ArraySeq.unsafeWrapArray(key),
          (off, part, key, value))
      }
      segStart += spanOf(f)
    }
    val out = latest.values.toArray.sortBy(_._1)
    val tmp = File.createTempFile("inflight-csegment-", "", dir)
    val os = new DataOutputStream(new FileOutputStream(tmp))
    try {
      os.writeLong(span)
      os.writeLong(out.length.toLong)
      out.foreach { case (off, part, key, value) =>
        os.writeInt(part)
        os.writeLong(off)
        os.writeInt(key.length); os.write(key)
        os.writeInt(value.length); os.write(value)
      }
    } finally os.close()
    val newStamp = stampOf(prefix.last)
    val target = new File(dir, f"csegment-$newStamp%014d")
    try java.nio.file.Files.createLink(target.toPath, tmp.toPath)
    catch {
      // a concurrent/crashed compactor already published this stamp —
      // the inputs were identical (same immutable prefix), so adopt it
      case _: java.nio.file.FileAlreadyExistsException => ()
    }
    tmp.delete()
    // published (or adopted) → reclaim everything it shadows: the input
    // files and any older csegments
    prefix.foreach { f => metaCache.remove(cacheKey(f)); f.delete() }
    Option(dir.listFiles()).getOrElse(Array.empty[File]).foreach { f =>
      if (isCompacted(f) && stampOf(f) < newStamp) {
        metaCache.remove(cacheKey(f)); f.delete()
      }
    }
    CompactionResult(prefix.size, physIn, out.length.toLong, snap.base)
  }

  /** Iterate a segment's records as (partition, absolute offset, key,
    * value) — dense offsets derived from `startOffset` for a regular
    * segment, explicit stored offsets for a csegment.
    */
  private def foreachRecord(f: File, startOffset: Long)(
      fn: (Int, Long, Array[Byte], Array[Byte]) => Unit): Unit =
    foreachRecordUntil(f, startOffset) { (p, o, k, v) => fn(p, o, k, v); false }

  /** [[foreachRecord]] with early termination: stop reading the moment
    * `fn` returns true. Records are length-prefixed, so stopping after
    * record i means exactly i+1 records were deserialized — the bounded
    * read [[offsetForTime]]'s probe contract depends on (r17; the prior
    * probe read every record of every live segment).
    */
  private def foreachRecordUntil(f: File, startOffset: Long)(
      fn: (Int, Long, Array[Byte], Array[Byte]) => Boolean): Unit = {
    val in = new DataInputStream(new FileInputStream(f))
    try {
      if (isCompacted(f)) {
        in.readLong() // span
        val phys = in.readLong()
        var i = 0L
        var stop = false
        while (i < phys && !stop) {
          val part = in.readInt()
          val off = in.readLong()
          val key = new Array[Byte](in.readInt()); in.readFully(key)
          val value = new Array[Byte](in.readInt()); in.readFully(value)
          stop = fn(part, off, key, value)
          i += 1
        }
      } else {
        val n = in.readLong()
        var i = 0L
        var stop = false
        while (i < n && !stop) {
          val part = in.readInt()
          val key = new Array[Byte](in.readInt()); in.readFully(key)
          val value = new Array[Byte](in.readInt()); in.readFully(value)
          stop = fn(part, startOffset + i, key, value)
          i += 1
        }
      }
    } finally in.close()
  }

  /** A segment's FIRST record as (absolute offset, key, value) — one
    * length-prefixed read after the header, nothing else deserialized
    * (None only for a degenerate empty segment). This is the per-segment
    * index-probe read: Kafka answers `offsetsForTimes` from the time
    * index without touching the log; this emulation's analogue is "one
    * record per segment file".
    */
  private def firstRecordOf(f: File, startOffset: Long)
      : Option[(Long, Array[Byte], Array[Byte])] = {
    var out: Option[(Long, Array[Byte], Array[Byte])] = None
    foreachRecordUntil(f, startOffset) { (_, off, k, v) =>
      out = Some((off, k, v)); true
    }
    out
  }

  /** Records deserialized by [[offsetForTime]] calls in this JVM —
    * test-only instrumentation that lets GraftQueueTimeSeekSpec pin the
    * probe's cost contract (≤ one record per live segment + the boundary
    * segment's span + one) instead of trusting scaladoc prose.
    */
  private[graft] val probeRecordsRead = new java.util.concurrent.atomic.AtomicLong

  /** The minimum committed offset across a set of Structured Streaming
    * checkpoint locations consuming this topic — the safe
    * `minRetainedOffset` for [[retain]]. Reads each checkpoint's commit
    * log for the latest COMMITTED batch and that batch's offset entry
    * (the offsets/ file's last line is this source's QueueOffset json,
    * a plain record count). A checkpoint with no committed batch pins
    * the floor at 0 — nothing may be truncated under a consumer that
    * has not durably processed anything yet.
    *
    * SINGLE-SOURCE queries only (ADVICE r13): the offsets file carries
    * "v1" / metadata json / ONE offset line per source, and this parser
    * takes the LAST line as this topic's offset — a checkpoint from a
    * multi-source query (e.g. a stream-stream join over two topics)
    * would surface another source's offset as this topic's floor and
    * could over-truncate. The 3-line shape is therefore VALIDATED, not
    * assumed: a checkpoint with more than one source fails loudly here
    * instead of feeding retain() a foreign offset.
    */
  def consumerFloor(checkpointDirs: Seq[String]): Long =
    if (checkpointDirs.isEmpty) 0L
    else checkpointDirs.map { cp =>
      val commits = new File(cp, "commits")
      val batches = Option(commits.listFiles()).getOrElse(Array.empty[File])
        .flatMap(f => scala.util.Try(f.getName.toLong).toOption)
      if (batches.isEmpty) 0L
      else {
        val offsetsFile = new File(new File(cp, "offsets"), batches.max.toString)
        if (!offsetsFile.isFile) 0L
        else {
          val lines = new String(
            java.nio.file.Files.readAllBytes(offsetsFile.toPath), "UTF-8")
            .linesIterator.toSeq
          // format: "v1" / metadata json / one offset json per source;
          // this source serializes QueueOffset as the bare number
          require(lines.length == 3 && lines.head.trim == "v1",
            s"$offsetsFile is not a single-source v1 offsets file " +
              s"(${lines.length} lines) — consumerFloor cannot attribute " +
              "an offset line to this topic; pass single-source checkpoints")
          scala.util.Try(lines.last.trim.toLong).getOrElse(0L)
        }
      }
    }.min

  /** Timestamp-indexed seek — Kafka's `offsetsForTimes` (r16, VERDICT
    * item 3), the natural lever after r15's offset seek: resolve an
    * EVENT-TIME target to the first offset whose record timestamp is
    * ≥ `ts`, then replay with the existing `startingOffset` machinery.
    * The queue's broker field is null by design (sandbox determinism),
    * so the timestamp lives where the reference keeps it — inside the
    * envelope payload — and the caller supplies `tsOf(key, value)` to
    * read it (Kafka's time index serves the same role broker-side).
    *
    * Contract (producer stamps nondecreasing in offset order — the
    * envelope producers' shape): a segment-granular index probe first —
    * ONE bounded read of each live segment's first record — then a
    * record scan of only the boundary segment(s), Kafka's
    * index-lookup-then-scan. Resolution semantics:
    *   - first offset with record ts ≥ target (sparse offsets inside a
    *     compacted span resolve to the first SURVIVOR at or past it);
    *   - target past the last record → the log end (an empty replay,
    *     Kafka's null-entry analogue);
    *   - target BELOW the retained log after a truncation → the true
    *     answer was deleted: fail loudly (the OffsetOutOfRange
    *     analogue), never a silently-wrong earliest-available guess.
    */
  def offsetForTime(path: String, topic: String, ts: Long,
      tsOf: (Array[Byte], Array[Byte]) => Long): Long = {
    val snap = snapshot(path, topic)
    if (snap.segs.isEmpty) {
      require(snap.base == 0L,
        s"offsetForTime($ts): the log for topic $topic is fully truncated " +
          s"(log start ${snap.base}) — the target's offset no longer " +
          "exists (OffsetOutOfRange)")
      return 0L
    }
    // index probe: (file, segment start offset, first record's ts) —
    // exactly ONE length-prefixed record read per live segment (r17; the
    // prior foreachRecord probe deserialized every record of every
    // segment, an O(total records) driver read at plan time that the
    // scaladoc's own contract disclaimed)
    var acc = snap.base
    val probe = snap.segs.map { f =>
      val first = firstRecordOf(f, acc).map { case (_, k, v) =>
        probeRecordsRead.incrementAndGet(); tsOf(k, v)
      }.getOrElse(Long.MaxValue)
      val e = (f, acc, first)
      acc += spanOf(f)
      e
    }
    require(!(ts < probe.head._3 && snap.base > 0L),
      s"offsetForTime($ts): the target predates the retained log for " +
        s"topic $topic (first surviving record ts ${probe.head._3}, log " +
        s"start ${snap.base}) — records holding the answer were " +
        "truncated (OffsetOutOfRange)")
    // boundary = the last segment whose first record is still below the
    // target (the answer is inside it or in a later segment). Stamps are
    // nondecreasing in offset order, so scanning stops at the first
    // record with ts >= target; a segment past the boundary whose first
    // record qualifies costs exactly one read.
    val startIdx = math.max(0, probe.lastIndexWhere(_._3 < ts))
    var best = -1L
    probe.drop(startIdx).foreach { case (f, segStart, _) =>
      if (best < 0L)
        foreachRecordUntil(f, segStart) { (_, off, k, v) =>
          probeRecordsRead.incrementAndGet()
          if (tsOf(k, v) >= ts) { best = off; true } else false
        }
    }
    if (best >= 0L) best else snap.total
  }

  /** The option-friendly timestamp extractor for [[offsetForTime]]:
    * `tsPattern` is a regex with ONE capture group applied to the
    * record value's UTF-8 text (the envelope convention is JSON, so
    * `"ts":(\d+)` reads a payload-embedded stamp). A DataSource option
    * cannot carry a function, so the pattern IS the wire contract for
    * `startingTimestamp` reads.
    */
  private[sources] def regexTsOf(
      pattern: String): (Array[Byte], Array[Byte]) => Long = {
    val re = pattern.r
    // validate the one-capture-group contract ONCE, up front: a matching
    // pattern with zero groups would otherwise surface as an opaque
    // IndexOutOfBounds from group(1) on the first record instead of the
    // descriptive misconfiguration error this contract promises (r17,
    // ADVICE r16)
    require(re.pattern.matcher("").groupCount() >= 1,
      s"tsPattern $pattern has no capture group — offsetForTime reads " +
        "the timestamp from the pattern's FIRST capture group")
    (_, v) => re.findFirstMatchIn(new String(v, "UTF-8"))
      .map(_.group(1).toLong)
      .getOrElse(throw new IllegalArgumentException(
        s"record value does not match tsPattern $pattern — " +
          "offsetForTime needs every retained record to carry the stamp"))
  }

  /** Publish a fully-written temp file as the next segment of `dir`'s
    * topic — CROSS-PROCESS safe, lock-free. The claimed name is a pure
    * function of the stamp, and the claim is a hard link (atomic O_EXCL
    * create of the final name): if two producers — threads OR separate
    * JVMs — race the same stamp, exactly one link succeeds and the other
    * sees `FileAlreadyExistsException`, rescans, and retries with the
    * next stamp. Because claim == publication, the ordering invariant
    * holds unconditionally: a claimant of stamp s observed s-1 already
    * visible, so by induction every segment sorts after everything a
    * reader could have consumed before it — the broker-assigned-offset
    * guarantee, with no window and no orphanable claim markers. A crash
    * before the link leaves only an `inflight-` temp file, never a
    * partial or misordered segment. Race-proven with 8 in-JVM producer
    * threads (GraftQueueSpec) and 2 forked JVMs × concurrent commits
    * (QueueRaceSpec).
    */
  private[sources] def commitSegment(dir: File, tmp: File): File = {
    var published: File = null
    while (published == null) {
      val stamp = f"${nextStamp(dir)}%014d"
      val target = new File(dir, s"segment-$stamp")
      try {
        java.nio.file.Files.createLink(target.toPath, tmp.toPath)
        published = target
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => () // lost the race; rescan
      }
    }
    tmp.delete()
    published
  }
}

class GraftQueueProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graftqueue"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = GraftQueue.Schema
  override def getTable(
      schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new GraftQueueTable(properties.get("path"), properties.get("topic"))
}

final class GraftQueueTable(path: String, topic: String) extends Table
    with SupportsRead with SupportsWrite {
  require(path != null, "graftqueue requires option(\"path\", ...)")
  require(topic != null, "graftqueue requires option(\"topic\", ...)")
  override def name(): String = s"graftqueue:$path/$topic"
  override def schema(): StructType = GraftQueue.Schema
  override def capabilities(): util.Set[TableCapability] = util.EnumSet.of(
    TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
    TableCapability.BATCH_WRITE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with Scan with Batch {
      override def build(): Scan = this
      override def readSchema(): StructType = GraftQueue.Schema
      override def toBatch: Batch = this
      override def planInputPartitions(): Array[InputPartition] = {
        // one partition per segment; start offsets are the running sum
        // based at the log start offset (retention never moves offsets).
        // ONE snapshot per planning call (ADVICE r13): base and segment
        // list derive from the same listing, so a concurrent retain()
        // can't skew the arithmetic between two reads.
        // `startingOffset` (r15) is Kafka's seek()/replay-from-X: serve
        // only records at offset >= X — a skip-count partial read when X
        // falls inside a dense segment, an offset-clamped sub-range when
        // it falls inside a compacted span, a whole-segment drop below.
        // `startingTimestamp` (r16) is Kafka's startingOffsetsByTimestamp:
        // resolve event time → offset via offsetForTime (tsPattern reads
        // the payload stamp), then ride the same seek machinery.
        val snap = GraftQueue.snapshot(path, topic)
        val from = Option(options.get("startingOffset"))
          .map(_.toLong)
          .orElse(Option(options.get("startingTimestamp")).map { ts =>
            val pat = options.get("tsPattern")
            require(pat != null, "startingTimestamp requires " +
              "option(\"tsPattern\", ...) — one capture group over the " +
              "record value text")
            GraftQueue.offsetForTime(path, topic, ts.toLong,
              GraftQueue.regexTsOf(pat))
          })
          .getOrElse(snap.base)
        require(from >= snap.base,
          s"startingOffset $from is below the log start ${snap.base} for " +
            s"topic $topic — those records were truncated " +
            "(OffsetOutOfRange); replay from the log start instead")
        var acc = snap.base
        snap.segs.flatMap { f =>
          val n = GraftQueue.spanOf(f)
          val p: Option[InputPartition] =
            if (GraftQueue.isCompacted(f)) {
              val lo = math.max(acc, from)
              if (lo < acc + n)
                Some(CompactedRangePartition(f.getAbsolutePath, topic, lo, acc + n))
              else None
            } else if (acc >= from)
              Some(QueueSegmentPartition(f.getAbsolutePath, topic, acc, n))
            else if (acc + n > from)
              Some(QueueSegmentPartition(f.getAbsolutePath, topic, acc, n,
                skip = from - acc))
            else None
          acc += n
          p
        }.toArray
      }
      override def createReaderFactory(): PartitionReaderFactory = QueueReaderFactory
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new QueueMicroBatchStream(path, topic,
          Option(options.get("maxRecordsPerTrigger")).map(_.toLong),
          Option(options.get("startingOffset")).map(_.toLong),
          Option(options.get("startingTimestamp")).map(_.toLong),
          Option(options.get("tsPattern")))
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    // Spark resolves the producer frame against the table schema before
    // this point (missing nullable columns arrive null-padded), so the
    // contract check is on the two fields the sink persists
    val in = info.schema()
    require(in.length >= 2 &&
      in.head.name == "key" && in.head.dataType == BinaryType &&
      in(1).name == "value" && in(1).dataType == BinaryType,
      s"graftqueue sink expects (key BINARY, value BINARY, ...), got $in")
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new BatchWrite {
          override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
            QueueWriterFactory(path, topic)
          // segments are self-committing (written to a temp name, renamed
          // into place in the task commit); nothing to do at job level
          override def commit(messages: Array[WriterCommitMessage]): Unit = ()
          override def abort(messages: Array[WriterCommitMessage]): Unit = ()
        }
      }
    }
  }
}

private case class QueueSegmentPartition(
    file: String, topic: String, startOffset: Long, count: Long,
    skip: Long = 0L) extends InputPartition

/** A sub-range read of a compacted segment: records filter by their
  * EXPLICIT stored offsets into [lo, hi). Needed because a checkpointed
  * consumer's batch boundary can fall anywhere inside the compacted
  * span (it was a segment boundary before compaction merged the
  * prefix); dense segments never split, so only csegments carry ranges.
  */
private case class CompactedRangePartition(
    file: String, topic: String, lo: Long, hi: Long) extends InputPartition

/** Offset = total committed record count (a single logical log). */
private case class QueueOffset(n: Long) extends Offset {
  override def json(): String = n.toString
}

/** Micro-batch planner with Kafka-style admission control: with
  * `maxRecordsPerTrigger` set, each trigger admits whole committed
  * segments up to (approximately) that many records — always at least
  * one segment past the start offset, the same progress guarantee
  * Kafka's maxOffsetsPerTrigger gives — so a backlog drains as a
  * SEQUENCE of offset-ordered micro-batches instead of one giant batch.
  * This is the production ordering contract the maintained-state
  * streams key on: batch order IS committed-offset order, not file
  * mtimes. Trigger.AvailableNow is supported natively (the end target
  * is pinned at prepare time, so late-arriving segments don't extend a
  * draining run).
  */
private final class QueueMicroBatchStream(
    path: String, topic: String, maxPerTrigger: Option[Long],
    startingOffset: Option[Long] = None,
    startingTimestamp: Option[Long] = None,
    tsPattern: Option[String] = None)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {
  @volatile private var availableNowTarget: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(GraftQueue.totalRecords(path, topic))

  override def getDefaultReadLimit: ReadLimit =
    maxPerTrigger.map(n => ReadLimit.maxRows(n)).getOrElse(ReadLimit.allAvailable())

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val startN = start.asInstanceOf[QueueOffset].n
    // one snapshot: base, segment list and (absent a pinned AvailableNow
    // target) the admission target all come from the same listing
    val snap = GraftQueue.snapshot(path, topic)
    // a checkpointed consumer BELOW the log start means records were
    // truncated under it (age-based retention is not consumer-
    // cooperative) — Kafka's OffsetOutOfRange. Fail loudly instead of
    // silently serving a gappy range (reviewer finding, r14;
    // auto.offset.reset is deliberately not emulated).
    require(startN >= snap.base,
      s"consumer offset $startN is below the log start ${snap.base} for " +
        s"topic $topic — records were truncated under this consumer " +
        "(OffsetOutOfRange); reset the checkpoint deliberately instead")
    val target = availableNowTarget.getOrElse(snap.total)
    val cap = limit match {
      case r: ReadMaxRows => startN + r.maxRows()
      case _ => Long.MaxValue
    }
    var acc = snap.base
    var hi = startN
    snap.segs.foreach { f =>
      acc += GraftQueue.spanOf(f)
      // whole segments only for dense logs; admit the first segment past
      // `start` unconditionally (progress guarantee), further ones while
      // under the row cap, never past the pinned AvailableNow target. A
      // csegment is the exception AGAIN (its reader serves arbitrary
      // sub-ranges by explicit offset): when compaction merged segments
      // ACROSS the pinned target — a compact() racing a draining run —
      // the admission end clamps to the target instead of never
      // qualifying, which would silently end the run below its pin
      // (reviewer finding, r14).
      val end = if (GraftQueue.isCompacted(f)) math.min(acc, target) else acc
      if (end > startN && end <= target && (end <= cap || hi == startN))
        hi = end
    }
    QueueOffset(hi)
  }

  // a NEW consumer starts at the earliest AVAILABLE record — the log
  // start offset, which is 0 until retention has truncated a prefix
  // (Kafka's auto.offset.reset=earliest against logStartOffset) — or at
  // an explicit `startingOffset` seek (r15: Kafka's startingOffsets /
  // consumer.seek for replay), validated against the log start
  override def initialOffset(): Offset = {
    val base = GraftQueue.baseOffset(path, topic)
    startingOffset.foreach(x => require(x >= base,
      s"startingOffset $x is below the log start $base for topic $topic " +
        "(OffsetOutOfRange); replay from the log start instead"))
    // startingTimestamp (r16): resolved HERE — initialOffset is only
    // consulted on a checkpoint-less first start, so a restarted
    // consumer never re-resolves against a log the target may have
    // aged out of. offsetForTime raises the OffsetOutOfRange analogue
    // itself when the target predates the retained log. Resolution is
    // LAZY inside orElse (r17, ADVICE r16): when startingOffset wins,
    // the losing timestamp leg must not probe the log or throw — the
    // batch path's orElse already behaved this way.
    QueueOffset(startingOffset.orElse(startingTimestamp.map { ts =>
      val pat = tsPattern.getOrElse(throw new IllegalArgumentException(
        "startingTimestamp requires option(\"tsPattern\", ...) — one " +
          "capture group over the record value text"))
      GraftQueue.offsetForTime(path, topic, ts, GraftQueue.regexTsOf(pat))
    }).getOrElse(base))
  }
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(start, readLimit) drives this source (SupportsAdmissionControl)")
  override def deserializeOffset(json: String): Offset = QueueOffset(json.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val lo = start.asInstanceOf[QueueOffset].n
    val hi = end.asInstanceOf[QueueOffset].n
    // whole segments for dense logs: a segment is inside the batch iff
    // its record range lies in [lo, hi) — counts are immutable once
    // committed, so dense ranges never split. A csegment is the one
    // exception: compaction may have merged segments ACROSS a boundary a
    // checkpointed consumer committed at, so its read clamps to the
    // overlap with [lo, hi) and filters by the records' stored offsets —
    // the consumer resumes exactly where it left off, seeing only the
    // latest-per-key survivors past its checkpoint (Kafka's compaction
    // contract). One snapshot per plan (ADVICE r13).
    val snap = GraftQueue.snapshot(path, topic)
    require(lo >= snap.base,
      s"batch start $lo is below the log start ${snap.base} for topic " +
        s"$topic — records were truncated under this consumer " +
        "(OffsetOutOfRange); reset the checkpoint deliberately instead")
    var acc = snap.base
    val out = ArrayBuffer.empty[InputPartition]
    snap.segs.foreach { f =>
      val n = GraftQueue.spanOf(f)
      if (GraftQueue.isCompacted(f)) {
        val s = math.max(acc, lo); val e = math.min(acc + n, hi)
        if (s < e) out += CompactedRangePartition(f.getAbsolutePath, topic, s, e)
      } else if (acc >= lo && acc + n <= hi)
        out += QueueSegmentPartition(f.getAbsolutePath, topic, acc, n)
      else if (acc < lo && acc + n > lo && acc + n <= hi)
        // a seek start inside a dense segment (startingOffset replay —
        // admission never splits dense segments, so only the FIRST
        // batch of a seeking consumer can land here): skip-count read
        out += QueueSegmentPartition(f.getAbsolutePath, topic, acc, n,
          skip = lo - acc)
      acc += n
    }
    out.toArray
  }
  override def createReaderFactory(): PartitionReaderFactory = QueueReaderFactory
}

private object QueueReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = partition match {
    case p: QueueSegmentPartition => new PartitionReader[InternalRow] {
      private val in = new DataInputStream(new FileInputStream(p.file))
      in.readLong() // skip the 8-byte record-count header
      private var i = 0L
      // consumer seek (r15): discard the records below the requested
      // start — dense records are length-prefixed, so a seek IS a
      // bounded read-and-drop; offsets stay startOffset + i.
      // (skipBytes may skip short; loop until done.)
      private def skipFully(n: Int): Unit = {
        var left = n
        while (left > 0) {
          val k = in.skipBytes(left)
          require(k > 0, s"unexpected EOF seeking in ${p.file}")
          left -= k
        }
      }
      while (i < p.skip) {
        in.readInt() // partition
        skipFully(in.readInt()) // key
        skipFully(in.readInt()) // value
        i += 1
      }
      private var row: InternalRow = _
      override def next(): Boolean =
        if (i >= p.count) false
        else {
          val part = in.readInt()
          val key = new Array[Byte](in.readInt()); in.readFully(key)
          val value = new Array[Byte](in.readInt()); in.readFully(value)
          row = new GenericInternalRow(Array[Any](
            key, value, UTF8String.fromString(p.topic), part,
            p.startOffset + i, null))
          i += 1
          true
        }
      override def get(): InternalRow = row
      override def close(): Unit = in.close()
    }
    // compacted segment: records carry explicit (sparse) offsets; the
    // reader streams the file and keeps those inside [lo, hi). Offsets
    // are written ascending, so the scan could early-exit past hi; the
    // single post-compaction segment is read once per batch either way.
    case p: CompactedRangePartition => new PartitionReader[InternalRow] {
      private val in = new DataInputStream(new FileInputStream(p.file))
      in.readLong() // logical span
      private val phys = in.readLong()
      private var i = 0L
      private var row: InternalRow = _
      override def next(): Boolean = {
        var found = false
        while (!found && i < phys) {
          val part = in.readInt()
          val off = in.readLong()
          val key = new Array[Byte](in.readInt()); in.readFully(key)
          val value = new Array[Byte](in.readInt()); in.readFully(value)
          i += 1
          if (off >= p.lo && off < p.hi) {
            row = new GenericInternalRow(Array[Any](
              key, value, UTF8String.fromString(p.topic), part, off, null))
            found = true
          }
        }
        found
      }
      override def get(): InternalRow = row
      override def close(): Unit = in.close()
    }
  }
}

private case class QueueWriterFactory(path: String, topic: String) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val dir = GraftQueue.topicDir(path, topic)
      dir.mkdirs()
      // "inflight-" prefix keeps uncommitted files OUT of the
      // "segment-" namespace that snapshot()/nextStamp scan — the old
      // "segment-inflight-" prefix could race into a concurrent
      // committer's stamp scan (and, in principle, a reader's listing)
      private val tmp = File.createTempFile("inflight-segment-", "", dir)
      private val out = new DataOutputStream(new FileOutputStream(tmp))
      out.writeLong(0L) // count header placeholder, patched at commit
      private var n = 0L
      override def write(record: InternalRow): Unit = {
        out.writeInt(partitionId)
        val key = if (record.isNullAt(0)) Array.empty[Byte] else record.getBinary(0)
        out.writeInt(key.length); out.write(key)
        val value = if (record.isNullAt(1)) Array.empty[Byte] else record.getBinary(1)
        out.writeInt(value.length); out.write(value)
        n += 1
      }
      override def commit(): WriterCommitMessage = {
        out.close()
        if (n == 0) { tmp.delete() }
        else {
          // patch the 8-byte count header, then publish atomically under
          // the next free zero-padded sequence number: lexicographic
          // order IS commit order, and the hard-link claim makes that
          // hold across PROCESSES, not just this JVM — see
          // GraftQueue.commitSegment for the invariant proof.
          val raf = new java.io.RandomAccessFile(tmp, "rw")
          try { raf.seek(0L); raf.writeLong(n) } finally raf.close()
          GraftQueue.commitSegment(dir, tmp)
        }
        new WriterCommitMessage {}
      }
      override def abort(): Unit = { out.close(); tmp.delete() }
      override def close(): Unit = ()
    }
}
