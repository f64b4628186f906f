package graft.sink

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** Streaming SOURCE over a graft-streaming table: tail the epoch commit log
  * — `spark.readStream.format("graft-streaming")` — turning the sink's
  * destination into a replayable, exactly-once relay stage (write pipeline A
  * → table → read pipeline B), a capability the write-only reference
  * delegates entirely to Hive.
  *
  * Offset = high-water mark over committed STREAMING epoch ids (monotonic
  * for a single writing query, preserved across compaction via the manifest
  * watermark). Each micro-batch reads exactly the files of the epochs in
  * `(start, end]`; a FRESH tail's first batch additionally includes the
  * compaction/batch manifests as an initial snapshot. A resumed tail sitting
  * BELOW a later compaction's watermark cannot replay the compacted epochs
  * individually — compact only ranges every consumer has passed, as with
  * any log-compacted store.
  */
final class GraftMicroBatchStream(
    requiredSchema: StructType,
    opts: GraftSinkOptions,
    conf: Broadcast[SerializableConfiguration])
  extends MicroBatchStream {

  private def log = new CommitLog(opts.tableDir, conf.value.value)

  // monotonic even across compaction: a compaction manifest preserves the
  // streaming watermark of the epochs it consumed
  private def hwm(): Long = log.streamingWatermark()

  override def initialOffset(): Offset = GraftStreamOffset(-1L)

  /** For a table populated only by batch writes / compactions (negative
    * manifests, no streaming watermark) the high-water mark stays -1 ==
    * initialOffset, and Spark would never plan a micro-batch — the
    * documented initial snapshot would never be delivered. The
    * `snapshotDone` sentinel makes the offset advance exactly once
    * (`-1` → `-1|snap`) so the first micro-batch ships the snapshot, then
    * goes quiescent until a streaming epoch appears.
    */
  override def latestOffset(): Offset = {
    val h = hwm()
    if (h >= 0L) GraftStreamOffset(h)
    else if (log.hasNonStreamingManifests())
      GraftStreamOffset(-1L, snapshotDone = true)
    else GraftStreamOffset(-1L)
  }

  override def deserializeOffset(json: String): Offset = {
    val t = json.trim
    if (t.endsWith("|snap"))
      GraftStreamOffset(t.stripSuffix("|snap").toLong, snapshotDone = true)
    else GraftStreamOffset(t.toLong)
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val startOff = start.asInstanceOf[GraftStreamOffset]
    val s = startOff.maxEpoch
    val e = end.asInstanceOf[GraftStreamOffset].maxEpoch
    // the take-rule, decidable from a manifest's HEADERS:
    //  - streaming epochs: exactly the (s, e] range;
    //  - negative (compaction/batch) manifests: only a FRESH tail (start
    //    = initial, snapshot not yet delivered) takes them — they cover
    //    rows whose original epochs no longer exist individually. A
    //    resuming tail (s >= 0, or the `|snap` sentinel) skips them — it
    //    already consumed those rows (or accepts the documented
    //    compact-behind-the-tail trade-off).
    def take(m: CommitLog#Manifest): Boolean =
      if (m.epochId >= 0L) m.epochId > s && m.epochId <= e
      else s == -1L && !startOff.snapshotDone && m.watermark.forall(_ <= e)
    // ONE manifest snapshot for the whole plan: committedEpochs+filesOf
    // would re-list the log per epoch AND could straddle a concurrent
    // compaction, silently dropping an epoch between the two reads.
    // SELECTIVE shard resolution (r15): only taken manifests' shard files
    // are parsed, so a steady-state tail's per-trigger plan cost is the
    // NEW epochs' entries — never the consolidated corpus's
    val snapshot = log.manifestsSelective(take)
    val files = snapshot.flatMap(m => if (take(m)) m.files else Seq.empty)
    files.map { f =>
      GraftInputPartition(f,
        CommitLog.partitionSegments(f, s"${opts.db}.${opts.table}").toMap)
        : InputPartition
    }.toArray
  }

  // the tail reads rows; which parquet decoder serves them is decided here,
  // on the driver, as for a batch scan
  override def createReaderFactory(): PartitionReaderFactory =
    GraftReaderFactory(requiredSchema, conf,
      parquetBatches = ParquetIO.batchReadSupported(requiredSchema))

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()
}

/** `snapshotDone` marks "initial snapshot delivered, no streaming epochs
  * yet" (`-1|snap`): distinct from the fresh `-1` so Spark plans exactly one
  * snapshot batch for a batch-only table, and from any real epoch id so a
  * later streaming epoch 0 still advances the offset. Offset equality is
  * json-string equality, so the sentinel must round-trip through json().
  */
final case class GraftStreamOffset(maxEpoch: Long, snapshotDone: Boolean = false)
  extends Offset {
  override def json(): String =
    if (snapshotDone) s"$maxEpoch|snap" else maxEpoch.toString
}
