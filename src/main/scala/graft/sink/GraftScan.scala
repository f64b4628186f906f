package graft.sink

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.vectorized.{ColumnVectorUtils, ConstantColumnVector}
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** Batch read path for a graft-streaming table:
  * `spark.read.format("graft-streaming").options(path/db/table).load()`.
  *
  * Visibility is resolved strictly through the epoch manifests
  * ([[CommitLog]]) — uncommitted / aborted / zombie-task files are never
  * read, the same guarantee a reference user gets from Hive only showing
  * committed transactions. One input partition per committed file (file
  * size is already bounded by the writer's rotation policy). Column pruning
  * is pushed into the parse: only requested fields are decoded, and
  * partition columns are served from the directory path without touching
  * file bytes.
  *
  * Two partition readers: [[GraftColumnarReader]] decodes a parquet or
  * ORC file into column vectors and attaches the partition values, and
  * [[GraftPartitionReader]] — the row scan, which the streaming tail also
  * uses — iterates that reader's batches, decoding row by row only JSONL
  * and a parquet projection Spark's vectorized decoder rejects.
  */
final class GraftScanBuilder(tableSchema: StructType, opts: GraftSinkOptions)
  extends ScanBuilder with SupportsPushDownRequiredColumns
  with org.apache.spark.sql.connector.read.SupportsPushDownFilters {

  private var required: StructType = tableSchema
  private var partitionPredicates: Seq[(String, String)] = Seq.empty
  private var pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // preserve our field metadata/order; keep only requested names
    val keep = requiredSchema.fieldNames.toSet
    required = StructType(tableSchema.fields.filter(f => keep.contains(f.name)))
  }

  /** Best-effort PARTITION PRUNING: equality predicates on partition
    * columns skip whole `col=value/` directories in `planInputPartitions`.
    * Every filter is returned as not-fully-handled so Spark re-evaluates
    * post-scan — pruning can only remove work, never rows it shouldn't.
    */
  override def pushFilters(
      filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = {
    // partition.columns may be absent on the read side; pruning is safe for
    // ANY equality attr because planInputPartitions only prunes a file when
    // that attr actually appears in its path with a contradicting value
    partitionPredicates = filters.collect {
      case org.apache.spark.sql.sources.EqualTo(attr, value) =>
        val encoded = value match {
          case s: String => JsonRowEncoder.sanitize(s)
          case other => String.valueOf(other)
        }
        attr -> encoded
    }.toSeq
    // kept for parquet row-group/page skipping and ORC stripe/row-group
    // SARG skipping (converted per file against its physical schema at
    // read time); JSONL partitions ignore them
    pushed = filters
    filters
  }

  // report the ORIGINAL filter objects (every pushed filter participates
  // in plan-time stats/bloom pruning and in-file skipping, and all are
  // re-evaluated post-scan) — the previous form rebuilt EqualTo filters
  // from the percent-ENCODED string partition values, so explain showed
  // predicates that were never evaluated in that form (wrong value, wrong
  // type, not necessarily a partition column)
  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] =
    pushed

  override def build(): Scan =
    new GraftScan(tableSchema, required, opts, partitionPredicates, pushed)
}

final class GraftScan(
    tableSchema: StructType,
    requiredSchema: StructType,
    opts: GraftSinkOptions,
    partitionPredicates: Seq[(String, String)] = Seq.empty,
    pushedSourceFilters: Array[org.apache.spark.sql.sources.Filter] = Array.empty)
  extends Scan with Batch {

  override def readSchema(): StructType = requiredSchema

  override def toBatch: Batch = this

  override def toMicroBatchStream(
      checkpointLocation: String): org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GraftMicroBatchStream(requiredSchema, opts,
      TaskConf.broadcast(org.apache.spark.sql.SparkSession.active.sparkContext))

  private lazy val plannedFiles: Seq[(String, Map[String, String])] = {
    val conf = org.apache.spark.sql.SparkSession.active
      .sparkContext.hadoopConfiguration
    GraftScan.planFiles(opts.tableDir, s"${opts.db}.${opts.table}", conf,
      partitionPredicates, pushedSourceFilters)
  }

  override def planInputPartitions(): Array[InputPartition] =
    plannedFiles.map { case (f, parts) =>
      GraftInputPartition(f, parts): InputPartition
    }.toArray

  /** Whether Spark's vectorized parquet decoder takes this projection;
    * decided here, on the driver, for the columnar gate and for the row
    * scan's choice of parquet decoder.
    */
  private lazy val parquetBatches = ParquetIO.batchReadSupported(requiredSchema)

  /** Columnar (vectorized) batches from [[GraftColumnarReader]] when no
    * planned file is JSONL and either none is parquet or the projection
    * is one Spark's vectorized parquet decoder takes; a parquet + ORC
    * table scans columnar too. Spark requires a scan's partitions to be
    * uniformly columnar or row-based, so one JSONL epoch keeps the whole
    * scan on the row path.
    */
  private[sink] lazy val columnar: Boolean =
    plannedFiles.nonEmpty && requiredSchema.nonEmpty &&
      !plannedFiles.exists(_._1.endsWith(".jsonl")) &&
      (parquetBatches || !plannedFiles.exists(_._1.endsWith(".parquet")))

  // once per scan, however often Spark asks for a reader factory
  private lazy val taskConf =
    TaskConf.broadcast(org.apache.spark.sql.SparkSession.active.sparkContext)

  override def createReaderFactory(): PartitionReaderFactory =
    GraftReaderFactory(requiredSchema, taskConf, parquetBatches,
      columnar = columnar, filters = pushedSourceFilters)
}

final case class GraftInputPartition(
    file: String, partitionValues: Map[String, String]) extends InputPartition

/** `parquetBatches`: whether parquet files are read through
  * [[GraftColumnarReader]] — [[ParquetIO.batchReadSupported]] of the
  * projection, decided on the driver.
  */
final case class GraftReaderFactory(
    requiredSchema: StructType, conf: Broadcast[SerializableConfiguration],
    parquetBatches: Boolean,
    columnar: Boolean = false,
    filters: Array[org.apache.spark.sql.sources.Filter] = Array.empty)
  extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new GraftPartitionReader(partition.asInstanceOf[GraftInputPartition],
      requiredSchema, conf.value.value, filters, parquetBatches)

  override def supportColumnarReads(partition: InputPartition): Boolean = columnar

  override def createColumnarReader(partition: InputPartition): PartitionReader[ColumnarBatch] =
    new GraftColumnarReader(partition.asInstanceOf[GraftInputPartition],
      requiredSchema, conf.value.value, filters)
}

object GraftScan {

  /** The driver-side FILE-PLANNING pass, shared verbatim between
    * [[GraftScan.planInputPartitions]] and `graft.PlanScaleBench` (which
    * times it at two file counts — at 100 TB this loop, not task launch,
    * is the query's constant driver cost). Three-stage prune per committed
    * file, cheapest test first and short-circuited:
    *
    *   1. PARTITION pruning — applied at TWO granularities: whole SHARDS
    *      of a partition-sharded manifest are skipped before their bytes
    *      are read ([[CommitLog.committedFilesWithStats]] — plan cost
    *      then tracks touched partitions, not table file count), and the
    *      per-entry `col=value` check below covers inline (unsharded)
    *      entries; pure string work, no IO beyond surviving shards.
    *   2. stats skipping — manifest-recorded min/max/null counts
    *      ([[FileStats]]); no IO beyond the already-parsed manifest.
    *   3. bloom skipping — per-file sidecar open + membership probe;
    *      the ONLY per-file IO, paid solely by files that survive 1 and 2
    *      under a membership-shaped predicate. A partition-pruned file
    *      never opens its sidecar, so sidecar IO scales with the probed
    *      partition's survivor count, never the table's file count.
    *
    * Filters are all re-applied post-scan, so every stage only ever
    * removes IO, never rows it shouldn't.
    */
  private[graft] def planFiles(tableDir: String, dbTable: String,
      conf: org.apache.hadoop.conf.Configuration,
      partitionPredicates: Seq[(String, String)],
      pushedSourceFilters: Array[org.apache.spark.sql.sources.Filter])
      : Seq[(String, Map[String, String])] = {
    lazy val bloomFs = new org.apache.hadoop.fs.Path(tableDir)
      .getFileSystem(conf)
    val membership = pushedSourceFilters.exists(hasMembershipShape)
    // only the columns named by membership predicates are worth loading
    // from a sidecar — others' bitsets are skipped at read ([[Bloom.read]])
    val bloomWanted = Bloom.membershipAttributes(pushedSourceFilters.toSeq)
    new CommitLog(tableDir, conf)
      .committedFilesWithStats(partitionPredicates).flatMap {
      case (f, stats) =>
        // Hive-style col=value segments below the table root only (the
        // warehouse base path may itself contain k=v-shaped directories)
        val parts = CommitLog.partitionSegments(f, dbTable).toMap
        val pruned = partitionPredicates.exists { case (k, v) =>
          parts.get(k).exists(_ != v)
        } ||
          stats.exists(st => pushedSourceFilters.exists(st.prunes)) ||
          (membership && Bloom.read(bloomFs, f, Some(bloomWanted)).exists(b =>
            pushedSourceFilters.exists(b.prunes)))
        if (pruned) None else Some(f -> parts)
    }
  }

  private def hasMembershipShape(f: org.apache.spark.sql.sources.Filter): Boolean =
    f match {
      case org.apache.spark.sql.sources.And(l, r) =>
        hasMembershipShape(l) || hasMembershipShape(r)
      case org.apache.spark.sql.sources.Or(l, r) =>
        hasMembershipShape(l) && hasMembershipShape(r)
      case _: org.apache.spark.sql.sources.EqualTo => true
      case _: org.apache.spark.sql.sources.EqualNullSafe => true
      case _: org.apache.spark.sql.sources.In => true
      case _ => false
    }
}

/** Columnar scan of one committed parquet or ORC file. The file's
  * non-partition projection is decoded by Spark's vectorized parquet
  * reader ([[ParquetIO.createVectorizedReader]]) or by
  * [[OrcIO.BatchReader]]; each keeps one vector set per file, refilled in
  * place. The batch is built once, in projection order: the file's
  * vectors matched by name (a field the file lacks reads as null), plus
  * each partition column as a constant vector.
  */
final class GraftColumnarReader(
    partition: GraftInputPartition, requiredSchema: StructType,
    conf: org.apache.hadoop.conf.Configuration,
    filters: Array[org.apache.spark.sql.sources.Filter] = Array.empty)
  extends PartitionReader[ColumnarBatch] {

  private val fileSchema = StructType(requiredSchema.fields
    .filterNot(f => partition.partitionValues.contains(f.name)))
  private val path = new Path(partition.file)

  // the file's vectors, in `fileSchema` order, and how to refill them
  private val (fileBatch, nextFileBatch, closeFile) =
    if (partition.file.endsWith(".orc")) {
      val r = new OrcIO.BatchReader(path, fileSchema, conf, filters.toSeq)
      (r.batch, () => r.nextBatch(), () => r.close())
    } else {
      val r = ParquetIO.createVectorizedReader(path, fileSchema, conf, filters.toSeq)
      (r.resultBatch(), () => r.nextBatch(), () => r.close())
    }

  private val batch = new ColumnarBatch(requiredSchema.fields.map { f =>
    partition.partitionValues.get(f.name) match {
      case Some(v) =>
        val c = new ConstantColumnVector(GraftColumnarReader.BatchRows, f.dataType)
        ColumnVectorUtils.populate(c,
          InternalRow(GraftPartitionReader.fromPathString(v, f.dataType)), 0)
        c
      case None => fileBatch.column(fileSchema.fieldIndex(f.name))
    }
  })

  override def next(): Boolean =
    nextFileBatch() && { batch.setNumRows(fileBatch.numRows); true }

  override def get(): ColumnarBatch = batch

  override def close(): Unit = closeFile()
}

object GraftColumnarReader {
  /** Rows per decoded batch of either format, and the capacity of the
    * partition constants beside them.
    */
  private[sink] val BatchRows = 4096
}

/** Row scan of one committed file, in projection order with partition
  * values attached. A `.orc` file, and a `.parquet` file when
  * `parquetBatches` holds, yields the rows of [[GraftColumnarReader]]'s
  * batches. A JSONL file, or a parquet projection Spark's vectorized
  * decoder rejects ([[ParquetIO.batchReadSupported]]: UDT or variant
  * columns, or its vectorized reader switched off), is decoded row by row
  * and each row copied into projection order beside the partition values.
  */
final class GraftPartitionReader(
    partition: GraftInputPartition, requiredSchema: StructType,
    conf: org.apache.hadoop.conf.Configuration,
    filters: Array[org.apache.spark.sql.sources.Filter] = Array.empty,
    parquetBatches: Boolean = true)
  extends PartitionReader[InternalRow] {

  // fields served from the path (partition columns) vs the file bytes
  private val partOrdinals: Seq[(Int, Any)] =
    requiredSchema.fields.zipWithIndex.flatMap { case (f, i) =>
      partition.partitionValues.get(f.name)
        .map(v => i -> GraftPartitionReader.fromPathString(v, f.dataType))
    }.toSeq
  private val fileSchema = StructType(requiredSchema.fields
    .filterNot(f => partition.partitionValues.contains(f.name)))
  private val fileOrdinals: Array[Int] = requiredSchema.fields.zipWithIndex
    .filterNot { case (f, _) => partition.partitionValues.contains(f.name) }
    .map(_._2)
  private val path = new Path(partition.file)

  /** The next row, or null at EOF. */
  private sealed trait RowSource {
    def nextRow(): InternalRow
    def close(): Unit
  }

  private final class BatchSource extends RowSource {
    private val reader = new GraftColumnarReader(partition, requiredSchema,
      conf, filters)
    private var rows: java.util.Iterator[InternalRow] =
      java.util.Collections.emptyIterator()
    override def nextRow(): InternalRow = {
      while (!rows.hasNext) {
        if (!reader.next()) return null
        rows = reader.get().rowIterator()
      }
      rows.next()
    }
    override def close(): Unit = reader.close()
  }

  /** A row decoded from the file (in `fileSchema` order) copied into
    * projection order beside the partition values; null (EOF) stays null.
    */
  private def fill(fileRow: InternalRow): InternalRow =
    if (fileRow == null) null
    else {
      val values = new Array[Any](requiredSchema.length)
      var i = 0
      while (i < fileOrdinals.length) {
        values(fileOrdinals(i)) =
          if (fileRow.isNullAt(i)) null
          else fileRow.get(i, fileSchema.fields(i).dataType)
        i += 1
      }
      partOrdinals.foreach { case (ord, v) => values(ord) = v }
      new GenericInternalRow(values)
    }

  private final class JsonlSource extends RowSource {
    private val decoder = new JsonRowDecoder(fileSchema)
    private val in = {
      val fs = path.getFileSystem(conf)
      new BufferedReader(new InputStreamReader(fs.open(path), StandardCharsets.UTF_8))
    }
    override def nextRow(): InternalRow = {
      // skip blank lines rather than treating one as EOF: the encoder never
      // emits them, but a manually-repaired or foreign file must not
      // silently truncate every row after the first blank
      var line = in.readLine()
      while (line != null && line.isEmpty) line = in.readLine()
      if (line == null) null else fill(decoder.decode(line))
    }
    override def close(): Unit = in.close()
  }

  /** Parquet's row decoder, for a projection the vectorized one rejects:
    * `fileSchema` is pushed into the read, so only the projected columns'
    * chunks are decoded ([[ParquetIO.createReader]]).
    */
  private final class ParquetRowSource extends RowSource {
    private val reader = ParquetIO.createReader(path, fileSchema, conf)
    override def nextRow(): InternalRow = fill(reader.read())
    override def close(): Unit = reader.close()
  }

  private val source: RowSource =
    if (partition.file.endsWith(".jsonl")) new JsonlSource
    else if (partition.file.endsWith(".parquet") && !parquetBatches)
      new ParquetRowSource
    else new BatchSource
  private var current: InternalRow = _

  override def next(): Boolean = {
    current = source.nextRow()
    current != null
  }

  override def get(): InternalRow = current

  override def close(): Unit = source.close()
}

object GraftPartitionReader {
  /** Inverse of [[JsonRowEncoder.partitionString]] for supported types. */
  def fromPathString(v: String, dt: DataType): Any = {
    import org.apache.spark.sql.types._
    if (v == "__NULL__") null
    else dt match {
      case StringType => UTF8String.fromString(unsanitize(v))
      case IntegerType => v.toInt
      case LongType => v.toLong
      case ShortType => v.toShort
      case ByteType => v.toByte
      case BooleanType => v.toBoolean
      case DateType => java.time.LocalDate.parse(v).toEpochDay.toInt
      case other => throw new IllegalArgumentException(
        s"Partition column type $other is not supported")
    }
  }

  /** Percent-decoding of a path value; manifest stats tokens share the
    * encoding ([[FileStats]]).
    */
  private[sink] def unsanitize(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '%' && i + 3 <= s.length) {
        sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
        i += 3
      } else { sb.append(s.charAt(i)); i += 1 }
    }
    sb.toString
  }
}
