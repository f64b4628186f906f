package graft.sink

import java.nio.charset.StandardCharsets

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
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
  *  - Batching: JSONL rows are buffered and flushed every `batch.size`
  *    rows (reference commits a Hive txn per `batch.size` rows,
  *    `:102-105`). Every landing rotates its file at `batch.size ×
  *    txn.per.batch` rows, bounding file size the way the reference bounds
  *    a TransactionBatch (`HiveWriter.scala:86-91`); a keep-alive flush
  *    does not count toward it.
  *  - Dictionaries (parquet and ORC): the first data file a task opens is
  *    its probe. It builds every column's dictionary, and at close records
  *    for the table which columns it wrote without one. Every later file
  *    writes those columns plain from the start, skipping a dictionary
  *    that would be built only to be discarded; the other columns keep
  *    their dictionaries, and a column the next probe keeps a dictionary
  *    for gets it back. See [[GraftDataWriter.plainColumns]].
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

  /** One open segment per partition spec (reference's per-task writer map,
    * `HiveStreamDataWriter.scala:44,82-94`), with one lifecycle for all
    * three landings: the file opens on the first write, closes once it
    * holds `batch.size × txn.per.batch` rows (the next write opens the
    * next one, so no empty trailing file appears), records its stats and
    * bloom sidecar at close, and is aborted on discard.
    */
  private final class Segment(partDir: String) {
    private val maxRowsPerFile = opts.batchSize.toLong * opts.txnPerBatch
    /** Bloom sidecar accumulator ([[Bloom.Running]]): observes the FULL
      * row (pre-projection — bloom columns resolve against the stream
      * schema) per write, snapshot to `<file>.bloom` at every file close.
      */
    private val bloom: Option[Bloom.Running] =
      if (opts.bloomColumns.isEmpty) None
      else Some(new Bloom.Running(schema, opts.bloomColumns, opts.bloomBits))
    private var file: DataFile = _
    private var path: Path = _
    private var rowsInFile = 0L
    private var seq = 0

    def write(row: InternalRow): Unit = {
      if (file == null) {
        path = segmentFile(segmentDir(partDir), seq, opts.format)
        file = openFile(path)
        seq += 1
        rowsInFile = 0L
        files += path.toString
      }
      file.write(row)
      bloom.foreach(_.observe(row))
      rowsInFile += 1
      if (rowsInFile >= maxRowsPerFile) close()
    }

    def close(): Unit = if (file != null) {
      statsByFile(path.toString) = file.close()
      bloom.foreach(b => Bloom.write(dataFs, path.toString, b.snapshotAndReset()))
      file = null
    }

    def discard(): Unit = if (file != null) {
      file.abort()
      file = null
    }

    def hflush(): Unit = if (file != null) file.hflush()
  }

  /** One open data file of the landing format. */
  private trait DataFile {
    def write(row: InternalRow): Unit
    /** Close the file and return its serialized [[FileStats]]. */
    def close(): String
    /** Abort path: release the file, dropping buffered rows and swallowing
      * errors (the writer's abort deletes the file afterwards).
      */
    def abort(): Unit
    /** Make buffered rows visible mid-file (A11 keep-alive); only the
      * JSONL file can, as columnar files buffer until a row group or
      * stripe completes (keep-alive is rejected for them at option parse).
      */
    def hflush(): Unit = ()
  }

  private val dictionaryKey = (opts.tableDir, opts.format)
  private var probeOpened = false

  /** Opens the task's first file as its probe, with every dictionary on;
    * later files skip the dictionaries the table's last probe discarded.
    */
  private def openFile(path: Path): DataFile = {
    val probe = !probeOpened
    probeOpened = true
    val plain =
      if (probe) Set.empty[String]
      else GraftDataWriter.plainColumns.getOrDefault(dictionaryKey, Set.empty)
    if (opts.isParquet) new ParquetFile(path, plain, probe)
    else if (opts.isOrc) new OrcFile(path, plain, probe)
    else new JsonlFile(path)
  }

  private def recordPlain(columns: Set[String]): Unit =
    GraftDataWriter.plainColumns.put(dictionaryKey, columns)

  // Columnar files' per-writer state, built once per writer rather than
  // once per file. One projection serves every file: each write consumes
  // its projected row before the next call. The pinned parquet conf is a
  // full Configuration copy, fixed with the schema.
  private lazy val dataSchema = StructType(dataIdx.map(schema(_)).toArray)
  private lazy val dataProjection =
    org.apache.spark.sql.catalyst.expressions.UnsafeProjection
      .create(dataIdx.map(i => org.apache.spark.sql.catalyst.expressions
        .BoundReference(i, schema(i).dataType, nullable = true)).toArray)
  private lazy val parquetConf = ParquetIO.pinnedWriterConf(conf, dataSchema)

  /** Columnar landing: snappy parquet through Spark's own `InternalRow`
    * write support; the column stats come from the footer the writer just
    * built in memory at close — zero extra IO.
    */
  private final class ParquetFile(path: Path, plain: Set[String], probe: Boolean)
      extends DataFile {
    // like the ORC landing: bloom.columns also records native
    // per-row-group blooms (partition columns are path-only, filtered)
    private val writer = ParquetIO.createWriter(path, dataFs, parquetConf,
      bloomColumns = opts.bloomColumns.filter(dataSchema.fieldNames.contains),
      plainColumns = plain)
    private val project = dataProjection
    override def write(row: InternalRow): Unit = writer.write(project(row))
    override def close(): String = {
      writer.close()
      if (probe) recordPlain(ParquetIO.plainColumns(writer.getFooter))
      FileStats.fromFooter(writer.getFooter).serialize
    }
    override def abort(): Unit = try writer.close() catch { case _: Throwable => }
  }

  /** ORC landing — the reference's LITERAL storage format (`stored as
    * orc`, `HiveStreamingExample.scala:26-31`); stats come from the
    * writer's in-memory file statistics at close.
    */
  private final class OrcFile(path: Path, plain: Set[String], probe: Boolean)
      extends DataFile {
    private val writer = new OrcIO.RowWriter(path, dataFs, dataSchema, conf,
      bloomColumns = opts.bloomColumns, directColumns = plain)
    private val project = dataProjection
    override def write(row: InternalRow): Unit = writer.write(project(row))
    override def close(): String = {
      val stats = writer.closeWithStats()
      if (probe) recordPlain(writer.plainColumns)
      stats
    }
    override def abort(): Unit = writer.abort()
  }

  /** JSONL landing (default, the reference's row-JSON shape): rows buffer
    * as text and reach the stream every `batch.size` rows. Column stats
    * are gathered while encoding — the encoder walks every value anyway.
    */
  private final class JsonlFile(path: Path) extends DataFile {
    private val out = dataFs.create(path, false)
    private val buf = new StringBuilder
    private val stats = new FileStats.Running(schema, dataIdx)
    private var rows = 0L
    private var rowsInBuf = 0

    override def write(row: InternalRow): Unit = {
      encoder.encode(row, buf)
      buf.append('\n')
      stats.observe(row)
      rows += 1
      rowsInBuf += 1
      if (rowsInBuf >= opts.batchSize) flush()
    }

    private def flush(): Unit = if (rowsInBuf > 0) {
      out.write(buf.toString.getBytes(StandardCharsets.UTF_8))
      buf.clear()
      rowsInBuf = 0
    }

    override def hflush(): Unit = {
      flush()
      out.hflush()
    }

    override def close(): String = {
      flush()
      out.close()
      stats.snapshotAndReset(rows)
    }

    override def abort(): Unit = try out.close() catch { case _: Throwable => }
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
          segments.values.foreach(_.hflush())
        }
      } catch {
        case t: Throwable => logWarning("keep-alive flush failed", t)
      }, opts.keepaliveIntervalMs, opts.keepaliveIntervalMs,
        java.util.concurrent.TimeUnit.MILLISECONDS)
      Some(ex)
    }

  override def write(row: InternalRow): Unit = synchronized {
    val dir = partDirFor(row)
    segments.getOrElseUpdate(dir, new Segment(dir)).write(row)
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

  /** What each table's latest probe file learned, per (table directory,
    * format): the columns it wrote without a dictionary, as parquet
    * dot-paths or ORC string column names. It lives per JVM, so every
    * writer task of the table in this executor reads it; a file that finds
    * no entry builds every dictionary, as a probe does. Learning pays
    * because a small file decides whether to keep a dictionary only after
    * building it whole: parquet at its first page, ORC at close when the
    * file holds less than one 10k-row stride.
    */
  private[sink] val plainColumns =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Set[String]]()
}
