package graft.sink

import java.nio.charset.StandardCharsets

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriter, WriterCommitMessage}
import org.apache.spark.sql.types.StructType

/** Files written by one task, reported to the driver for the epoch commit,
  * with each parquet file's serialized column stats ([[FileStats]]) riding
  * along so the manifest can record them for plan-time file skipping.
  */
final case class GraftCommitMessage(files: Seq[String], rows: Long,
    stats: Map[String, String] = Map.empty)
    extends WriterCommitMessage

/** Per-task writer: partition routing → JSON encode → batched append —
  * the reference's `HiveStreamDataWriter.scala:72-127` pipeline on the
  * Spark 4 connector API.
  *
  *  - Routing: partition values are extracted per row and select a
  *    per-partition open file (reference `:72-94` keys a writer map on the
  *    partition values; same map here, keyed by the rendered partition dir).
  *  - Encoding: [[JsonRowEncoder]] over the non-partition columns
  *    (reference `:96-100`; partition values live in the directory path,
  *    Hive-style).
  *  - Batching: rows are buffered and flushed every `batch.size` rows
  *    (reference commits a Hive txn per `batch.size` rows, `:102-105`);
  *    after `txn.per.batch` flushes the file is rotated, bounding file size
  *    the way the reference bounds a TransactionBatch
  *    (`HiveWriter.scala:86-91`).
  *
  * Durability model (deliberate upgrade): files become visible only through
  * the driver's epoch manifest ([[CommitLog]]), so a task that dies
  * mid-write leaks at most an unreferenced file — never a duplicate or a
  * torn read. File names embed (epoch, partitionId, taskId) for forensic
  * traceability under speculative execution.
  */
final class GraftDataWriter(
    schema: StructType,
    opts: GraftSinkOptions,
    conf: Configuration,
    partitionId: Int,
    taskId: Long,
    epochId: Long)
  extends DataWriter[InternalRow] with org.apache.spark.internal.Logging {

  private val partIdx: Array[Int] = opts.partitionColumns.map { c =>
    val i = schema.fieldIndex(c)
    i
  }.toArray
  private val dataIdx: Seq[Int] =
    schema.fields.indices.filterNot(partIdx.contains(_))
  // LAZY: only the jsonl landing encodes rows as JSON, and its encoder
  // enforces the reference's scalar-only column contract at construction.
  // The parquet landing handles nested types natively — e.g. the
  // embed-banded dedup stream lands its `embedding` array — so the scalar
  // check must not fire for formats that never use the encoder.
  private lazy val encoder = new JsonRowEncoder(schema, dataIdx)
  // jsonl and orc are scalar-only, and that contract must fail at WRITER
  // CONSTRUCTION (as the reference's does), not at the first written row —
  // an all-empty-partition epoch on a nested-schema stream would otherwise
  // commit silently.
  if (opts.isOrc) OrcIO.typeDescription(dataSchema)
  else if (!opts.isParquet) encoder

  private val tablePath = new Path(opts.tableDir)
  // with Kerberos options configured, obtain the filesystem under the
  // keytab login's doAs (reference HiveWriter.scala:46-54 wraps writer
  // creation the same way); subsequent stream operations inherit the UGI
  private lazy val fs: FileSystem = opts.ugi() match {
    case Some(u) =>
      u.doAs(new java.security.PrivilegedExceptionAction[FileSystem] {
        override def run(): FileSystem = tablePath.getFileSystem(conf)
      })
    case None => tablePath.getFileSystem(conf)
  }

  /** Data files and new partition directories go through [[DataFs]]:
    * resolved once per writer and shared by every segment and rotation.
    */
  private lazy val dataFs: FileSystem = DataFs.resolve(fs)

  /** One open segment per partition spec (reference's per-task writer map,
    * `HiveStreamDataWriter.scala:44,82-94`). Two landings share the
    * lifecycle (lazy open, size-bounded rotation, commit-close,
    * abort-discard): JSONL text (default, the reference's row-JSON shape)
    * and columnar parquet ([[ParquetIO]], the reference's ORC analogue).
    */
  private sealed trait Segment {
    def write(row: InternalRow): Unit
    def close(): Unit
    def discard(): Unit
    /** Push buffered rows toward durability mid-epoch (A11 keep-alive). */
    def heartbeatFlush(): Unit

    /** Bloom sidecar accumulator ([[Bloom.Running]]), shared by all three
      * landings: observe the FULL row (pre-projection — bloom columns
      * resolve against the stream schema) per write, snapshot to
      * `<file>.bloom` at every file close/rotation.
      */
    protected val bloom: Option[Bloom.Running] =
      if (opts.bloomColumns.isEmpty) None
      else Some(new Bloom.Running(schema, opts.bloomColumns, opts.bloomBits))

    protected def writeBloomSidecar(dataFile: String): Unit =
      bloom.foreach(b => Bloom.write(fs, dataFile, b.snapshotAndReset()))
  }

  // Columnar segments' per-writer state, built once per writer rather than
  // once per partition directory. One projection serves every segment:
  // each write consumes its projected row before the next call. The pinned
  // parquet conf is a full Configuration copy, fixed with the schema.
  private lazy val dataSchema = StructType(dataIdx.map(schema(_)).toArray)
  private lazy val dataProjection =
    org.apache.spark.sql.catalyst.expressions.UnsafeProjection
      .create(dataIdx.map(i => org.apache.spark.sql.catalyst.expressions
        .BoundReference(i, schema(i).dataType, nullable = true)).toArray)
  private lazy val parquetConf = ParquetIO.pinnedWriterConf(conf, dataSchema)

  private def newSegment(partDir: String): Segment =
    if (opts.isParquet) new ParquetSegment(partDir)
    else if (opts.isOrc) new OrcSegment(partDir)
    else new JsonlSegment(partDir)

  private def segmentDir(partDir: String): Path = {
    val dir = if (partDir.isEmpty) tablePath else new Path(tablePath, partDir)
    if (!opts.autoCreatePartitions && partDir.nonEmpty && !dataFs.exists(dir)) {
      throw new IllegalStateException(
        s"Partition directory $dir does not exist and " +
          s"${GraftSinkOptions.AUTO_CREATE_PARTITIONS} is false")
    }
    dataFs.mkdirs(dir)
    dir
  }

  // uid makes names collision-free under epoch replay / task retry with
  // reused ids; visibility is governed by the manifest, not the name
  private def segmentFile(dir: Path, seq: Int, ext: String): Path =
    new Path(dir, f"part-e$epochId-p$partitionId%05d-t$taskId-$uid-$seq%04d.$ext")

  /** Columnar landing: rows stream into a snappy parquet file through
    * Spark's own `InternalRow` write support. Batching differs from JSONL
    * by necessity — a parquet file cannot flush mid-write (pages live in
    * the writer's buffer until a row group completes), so `batch.size ×
    * txn.per.batch` bounds ROWS PER FILE (the same rotation ceiling the
    * JSONL path reaches via flushes-per-file) and the keep-alive is a
    * no-op.
    */
  private final class ParquetSegment(partDir: String) extends Segment {
    private val project = dataProjection
    private val maxRowsPerFile = opts.batchSize.toLong * opts.txnPerBatch
    private val pinned = parquetConf
    private var writer: org.apache.parquet.hadoop.ParquetWriter[InternalRow] = _
    private var file: Path = _
    private var rowsInFile = 0L
    private var seq = 0

    private def open(): Unit = {
      file = segmentFile(segmentDir(partDir), seq, "parquet")
      // like the ORC landing: bloom.columns also records native
      // per-row-group blooms (partition columns are path-only, filtered)
      writer = ParquetIO.createWriter(file, dataFs, pinned,
        bloomColumns = opts.bloomColumns.filter(dataSchema.fieldNames.contains))
      seq += 1
      rowsInFile = 0L
      files += file.toString
    }

    /** Close the open file and record its column stats from the footer the
      * writer just built in memory — zero extra IO, and the stats land in
      * the epoch manifest for plan-time file skipping.
      */
    private def closeFile(): Unit = {
      writer.close()
      statsByFile(file.toString) =
        FileStats.fromFooter(writer.getFooter).serialize
      writeBloomSidecar(file.toString)
      writer = null
    }

    override def write(row: InternalRow): Unit = {
      if (writer == null) open()
      writer.write(project(row))
      bloom.foreach(_.observe(row))
      rowsInFile += 1
      if (rowsInFile >= maxRowsPerFile) closeFile()
    }

    override def close(): Unit =
      if (writer != null) closeFile()

    override def discard(): Unit =
      if (writer != null) {
        try writer.close() catch { case _: Throwable => }
        writer = null
      }

    override def heartbeatFlush(): Unit = ()
  }

  /** ORC landing — the reference's LITERAL storage format (`stored as
    * orc`, `HiveStreamingExample.scala:26-31`). Same lifecycle as the
    * parquet segment: size-bounded rotation by rows-per-file, stats from
    * the writer's in-memory file statistics at close, no mid-file flush
    * (keep-alive is rejected at option parse).
    */
  private final class OrcSegment(partDir: String) extends Segment {
    private val project = dataProjection
    private val maxRowsPerFile = opts.batchSize.toLong * opts.txnPerBatch
    private var writer: OrcIO.RowWriter = _
    private var file: Path = _
    private var rowsInFile = 0L
    private var seq = 0

    private def open(): Unit = {
      file = segmentFile(segmentDir(partDir), seq, "orc")
      writer = new OrcIO.RowWriter(file, dataFs, dataSchema, conf,
        bloomColumns = opts.bloomColumns)
      seq += 1
      rowsInFile = 0L
      files += file.toString
    }

    private def closeFile(): Unit = {
      statsByFile(file.toString) = writer.closeWithStats()
      writeBloomSidecar(file.toString)
      writer = null
    }

    override def write(row: InternalRow): Unit = {
      if (writer == null) open()
      writer.write(project(row))
      bloom.foreach(_.observe(row))
      rowsInFile += 1
      if (rowsInFile >= maxRowsPerFile) closeFile()
    }

    override def close(): Unit =
      if (writer != null) closeFile()

    override def discard(): Unit =
      if (writer != null) {
        writer.abort()
        writer = null
      }

    override def heartbeatFlush(): Unit = ()
  }

  private final class JsonlSegment(partDir: String) extends Segment {
    var file: Path = _
    var out: FSDataOutputStream = _
    // 64 KiB row buffers are recycled across tasks/epochs through the
    // executor-singleton pool — the reference's writer-reuse pattern
    // (CachedHiveWriters) applied to the resource that is actually
    // long-lived here (the per-epoch files themselves must close at commit)
    val buf: StringBuilder = GraftDataWriter.bufferPool.getOrCreate(GraftDataWriter.BufKey)
    private var recycled = false
    // per-file column stats for manifest-level skipping — the encoder walks
    // every value anyway; parquet segments get these from the footer
    private val stats = new FileStats.Running(schema, dataIdx)
    private var rowsInFile = 0L
    var rowsInBuf = 0
    var flushes = 0
    var seq = 0

    def open(): Unit = {
      file = segmentFile(segmentDir(partDir), seq, "jsonl")
      out = dataFs.create(file, false)
      seq += 1
      flushes = 0
      rowsInFile = 0L
      files += file.toString
    }

    override def write(row: InternalRow): Unit = {
      if (out == null) open()
      encoder.encode(row, buf)
      buf.append('\n')
      stats.observe(row)
      bloom.foreach(_.observe(row))
      rowsInFile += 1
      rowsInBuf += 1
      if (rowsInBuf >= opts.batchSize) flush()
    }

    def flush(): Unit = if (rowsInBuf > 0) {
      out.write(buf.toString.getBytes(StandardCharsets.UTF_8))
      buf.clear()
      rowsInBuf = 0
      flushes += 1
      if (flushes >= opts.txnPerBatch) rotate()
    }

    // lazy rotation: close now, reopen on the next write — avoids trailing
    // empty files when the batch ends exactly on a rotation boundary
    def rotate(): Unit = {
      out.close(); out = null
      statsByFile(file.toString) = stats.snapshotAndReset(rowsInFile)
      writeBloomSidecar(file.toString)
    }

    override def close(): Unit = {
      flush()
      if (out != null) {
        out.close(); out = null
        statsByFile(file.toString) = stats.snapshotAndReset(rowsInFile)
        writeBloomSidecar(file.toString)
      }
      recycleBuf()
    }

    override def heartbeatFlush(): Unit = if (out != null) {
      flush()
      // flush() may have rotated (lazy rotation nulls the stream)
      if (out != null) out.hflush()
    }

    /** Abort path: drop buffered rows and close WITHOUT flushing, so the
      * mandatory `DataWriter.close()` after `abort()` cannot write into a
      * closed stream.
      */
    override def discard(): Unit = {
      rowsInBuf = 0
      buf.clear()
      if (out != null) {
        try out.close() catch { case _: Throwable => }
        out = null
      }
      recycleBuf()
    }

    private def recycleBuf(): Unit = if (!recycled) {
      recycled = true
      buf.clear()
      GraftDataWriter.bufferPool.recycle(GraftDataWriter.BufKey, buf)
    }
  }

  private val segments = mutable.HashMap.empty[String, Segment]
  private val files = mutable.ArrayBuffer.empty[String]
  private val statsByFile = mutable.HashMap.empty[String, String]
  private var rowCount = 0L
  private val uid = java.util.UUID.randomUUID().toString.take(8)

  private def partDirFor(row: InternalRow): String = {
    if (partIdx.isEmpty) ""
    else {
      val sb = new StringBuilder
      var i = 0
      while (i < partIdx.length) {
        if (i > 0) sb.append('/')
        val idx = partIdx(i)
        sb.append(schema(idx).name).append('=')
          .append(JsonRowEncoder.partitionString(schema(idx).dataType, row, idx))
        i += 1
      }
      sb.toString
    }
  }

  /** A11 keep-alive analogue (reference `HiveStreamDataWriter.scala:54-61`:
    * a per-task side thread heartbeats the open Hive transaction every 10 s
    * so it cannot expire mid-epoch). Here the liveness concern is buffered
    * bytes during a long epoch — the heartbeat pushes the row buffer and
    * hflushes the stream so progress is durable/observable without waiting
    * for the epoch commit. Off by default (`keepalive.interval.ms` = 0):
    * epoch-scoped durability does not need it.
    */
  private val heartbeat =
    if (opts.keepaliveIntervalMs <= 0) None
    else {
      val ex = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
        (r: Runnable) => {
          val t = new Thread(r, "graft-sink-keepalive"); t.setDaemon(true); t
        })
      ex.scheduleWithFixedDelay(() => try {
        GraftDataWriter.this.synchronized {
          segments.values.foreach(_.heartbeatFlush())
        }
      } catch {
        case t: Throwable => logWarning("keep-alive flush failed", t)
      }, opts.keepaliveIntervalMs, opts.keepaliveIntervalMs,
        java.util.concurrent.TimeUnit.MILLISECONDS)
      Some(ex)
    }

  override def write(row: InternalRow): Unit = synchronized {
    val dir = partDirFor(row)
    segments.getOrElseUpdate(dir, newSegment(dir)).write(row)
    rowCount += 1
  }

  /** Task commit: flush + close every segment, report the file list
    * (reference `HiveStreamDataWriter.scala:117-127` commits all in-use
    * writers and emits its commit message).
    */
  override def commit(): WriterCommitMessage = synchronized {
    heartbeat.foreach(_.shutdown())
    segments.values.foreach(_.close())
    logInfo(s"task commit: epoch=$epochId partition=$partitionId " +
      s"rows=$rowCount files=${files.size}")
    GraftCommitMessage(files.toSeq, rowCount, statsByFile.toMap)
  }

  /** Task abort: close and delete everything this task wrote (reference
    * `HiveStreamDataWriter.scala:108-115` aborts open transactions).
    */
  override def abort(): Unit = synchronized {
    heartbeat.foreach(_.shutdown())
    segments.values.foreach(_.discard())
    // every landing creates through `dataFs` (no .crc sidecars exist);
    // deleting through the checksum-layered `fs` is still correct — it
    // removes a sidecar if one exists and the data file either way
    files.foreach { p =>
      try fs.delete(new Path(p), false) catch { case _: Throwable => }
      // this writer knows whether it created sidecars — don't pay a
      // delete RPC per file when blooms are off (the manifest-side delete
      // paths can't know and stay unconditional)
      if (opts.bloomColumns.nonEmpty) Bloom.deleteSidecar(fs, p)
    }
  }

  override def close(): Unit = synchronized {
    heartbeat.foreach(_.shutdown())
    segments.values.foreach(_.close())
  }
}

object GraftDataWriter {
  private[sink] val BufKey = "row-buffer"

  /** Executor-singleton pool of row buffers, expiring idle entries after
    * 10 minutes — the reference's `CachedHiveWriters` lifecycle
    * (getOrCreate/recycle/timed sweep/shutdown hook) on the JVM-long-lived
    * resource of this sink.
    */
  private[sink] val bufferPool =
    new WriterPool[String, StringBuilder](_ => new StringBuilder(1 << 16), _ => ())
}
