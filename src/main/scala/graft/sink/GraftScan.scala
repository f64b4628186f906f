package graft.sink

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types.{DataType, StructType}
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

  /** Columnar (vectorized) batches when EVERY planned file is parquet
    * (Spark's vectorized parquet decoder) and the projection is
    * batch-decodable, or EVERY planned file is ORC ([[OrcIO.BatchReader]],
    * whose views serve every type the ORC landing writes). Spark requires
    * a scan's partitions to be uniformly columnar or row-based, so one
    * JSONL epoch — or a parquet/ORC mix — keeps the whole scan on the row
    * path.
    */
  private[sink] lazy val columnar: Boolean =
    plannedFiles.nonEmpty && requiredSchema.nonEmpty &&
      ((plannedFiles.forall(_._1.endsWith(".parquet")) &&
          ParquetIO.batchReadSupported(requiredSchema)) ||
        plannedFiles.forall(_._1.endsWith(".orc")))

  // once per scan, however often Spark asks for a reader factory
  private lazy val taskConf =
    TaskConf.broadcast(org.apache.spark.sql.SparkSession.active.sparkContext)

  override def createReaderFactory(): PartitionReaderFactory =
    GraftReaderFactory(requiredSchema, taskConf,
      columnar = columnar,
      filters = pushedSourceFilters)
}

final case class GraftInputPartition(
    file: String, partitionValues: Map[String, String]) extends InputPartition

final case class GraftReaderFactory(
    requiredSchema: StructType, conf: Broadcast[SerializableConfiguration],
    columnar: Boolean = false,
    filters: Array[org.apache.spark.sql.sources.Filter] = Array.empty)
  extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftInputPartition]
    new GraftPartitionReader(p, requiredSchema, conf.value.value, filters)
  }

  override def supportColumnarReads(partition: InputPartition): Boolean = columnar

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val p = partition.asInstanceOf[GraftInputPartition]
    if (p.file.endsWith(".orc"))
      new GraftOrcColumnarReader(p, requiredSchema, conf.value.value, filters)
    else new GraftColumnarReader(p, requiredSchema, conf.value.value, filters)
  }
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

/** Vectorized parquet scan of one committed file: Spark's columnar decoder
  * fills `ColumnVector`s straight from the column chunks (no row
  * materialization), partition columns ride along as constant vectors, and
  * the batch's columns are re-ordered to the projection's field order
  * (`initBatch` appends partition columns at the end).
  */
final class GraftColumnarReader(
    partition: GraftInputPartition, requiredSchema: StructType,
    conf: org.apache.hadoop.conf.Configuration,
    filters: Array[org.apache.spark.sql.sources.Filter] = Array.empty)
  extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {

  private val isPart: Array[Boolean] =
    requiredSchema.fields.map(f => partition.partitionValues.contains(f.name))
  private val fileSchema = StructType(
    requiredSchema.fields.zip(isPart).collect { case (f, false) => f })
  private val partSchema = StructType(
    requiredSchema.fields.zip(isPart).collect { case (f, true) => f })
  private val partRow = new GenericInternalRow(
    partSchema.fields.map(f => GraftPartitionReader.fromPathString(
      partition.partitionValues(f.name), f.dataType)).toArray[Any])
  // batch column i of the projection lives at: fileIdx within the file
  // columns, or fileCount + partIdx for partition constants
  private val reorder: Array[Int] = {
    var fi = 0; var pi = 0
    requiredSchema.fields.indices.map { i =>
      if (isPart(i)) { val r = fileSchema.length + pi; pi += 1; r }
      else { val r = fi; fi += 1; r }
    }.toArray
  }

  private val reader = ParquetIO.createVectorizedReader(
    new Path(partition.file), fileSchema, partSchema, partRow, conf,
    filters.toSeq)
  private var batch: org.apache.spark.sql.vectorized.ColumnarBatch = _
  // the reorder permutation and the underlying vectors are fixed per
  // file, so the identity test runs once and the reordered batch wrapper
  // is built once and re-wrapped only when the source batch instance
  // changes — not a fresh allocation per batch in the hot scan loop
  private val identityOrder = reorder.indices.forall(i => reorder(i) == i)
  private var lastSource: org.apache.spark.sql.vectorized.ColumnarBatch = _
  private var reordered: org.apache.spark.sql.vectorized.ColumnarBatch = _

  override def next(): Boolean = {
    if (!reader.nextKeyValue()) { batch = null; false }
    else {
      val b = reader.getCurrentValue
        .asInstanceOf[org.apache.spark.sql.vectorized.ColumnarBatch]
      batch =
        if (identityOrder) b
        else {
          if (b ne lastSource) {
            lastSource = b
            reordered = new org.apache.spark.sql.vectorized.ColumnarBatch(
              reorder.map(b.column), b.numRows())
          } else reordered.setNumRows(b.numRows())
          reordered
        }
      true
    }
  }

  override def get(): org.apache.spark.sql.vectorized.ColumnarBatch = batch

  override def close(): Unit = reader.close()
}

/** Vectorized ORC scan of one committed file (the ORC counterpart of
  * [[GraftColumnarReader]]): the [[OrcIO.BatchReader]]'s vectors — views
  * over the hive batches, null constants for fields the file lacks — plus
  * partition columns as `ConstantColumnVector`s, assembled once in
  * projection order: no per-batch reorder, no per-row materialization.
  */
final class GraftOrcColumnarReader(
    partition: GraftInputPartition, requiredSchema: StructType,
    conf: org.apache.hadoop.conf.Configuration,
    filters: Array[org.apache.spark.sql.sources.Filter] = Array.empty)
  extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {

  import org.apache.spark.sql.execution.vectorized.{ColumnVectorUtils, ConstantColumnVector}

  private val fileSchema = StructType(requiredSchema.fields
    .filterNot(f => partition.partitionValues.contains(f.name)))
  private val reader = new OrcIO.BatchReader(
    new Path(partition.file), fileSchema, conf, filters.toSeq)

  private val batch = {
    val fileVectors = fileSchema.fieldNames.zip(reader.vectors).toMap
    new org.apache.spark.sql.vectorized.ColumnarBatch(requiredSchema.fields.map { f =>
      partition.partitionValues.get(f.name) match {
        case Some(v) =>
          val c = new ConstantColumnVector(OrcIO.BatchRows, f.dataType)
          ColumnVectorUtils.populate(c,
            InternalRow(GraftPartitionReader.fromPathString(v, f.dataType)), 0)
          c
        case None => fileVectors(f.name)
      }
    })
  }

  override def next(): Boolean = {
    if (!reader.nextBatch()) false
    else { batch.setNumRows(reader.batch.numRows); true }
  }

  override def get(): org.apache.spark.sql.vectorized.ColumnarBatch = batch

  override def close(): Unit = reader.close()
}

final class GraftPartitionReader(
    partition: GraftInputPartition, requiredSchema: StructType,
    conf: org.apache.hadoop.conf.Configuration,
    filters: Array[org.apache.spark.sql.sources.Filter] = Array.empty)
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

  /** Per-file row decode, dispatched on the committed file's extension so a
    * table may mix JSONL and parquet epochs (the landing format is a
    * per-write option). Returns null at EOF.
    */
  private sealed trait RowSource {
    def nextRow(): InternalRow
    def close(): Unit
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
      if (line == null) null else decoder.decode(line)
    }
    override def close(): Unit = in.close()
  }

  /** Columnar scan: `fileSchema` is pushed into the parquet read, so only
    * the projected columns' chunks are decoded ([[ParquetIO.createReader]]).
    */
  private final class ParquetSource extends RowSource {
    private val reader = ParquetIO.createReader(path, fileSchema, conf)
    override def nextRow(): InternalRow = reader.read()
    override def close(): Unit = reader.close()
  }

  /** ORC scan: the rows of the same [[OrcIO.BatchReader]] batches the
    * columnar scan reads — one decode path, with the same projection mask
    * and stripe/row-group SearchArgument skipping.
    */
  private final class OrcSource extends RowSource {
    private val reader = new OrcIO.BatchReader(path, fileSchema, conf,
      filters.toSeq)
    private var rows: java.util.Iterator[InternalRow] =
      java.util.Collections.emptyIterator()
    override def nextRow(): InternalRow = {
      while (!rows.hasNext) {
        if (!reader.nextBatch()) return null
        rows = reader.batch.rowIterator()
      }
      rows.next()
    }
    override def close(): Unit = reader.close()
  }

  private val source: RowSource =
    if (partition.file.endsWith(".parquet")) new ParquetSource
    else if (partition.file.endsWith(".orc")) new OrcSource
    else new JsonlSource
  private var current: InternalRow = _

  override def next(): Boolean = {
    val fileRow = source.nextRow()
    if (fileRow == null) { current = null; false }
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
      current = new GenericInternalRow(values)
      true
    }
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

  /** [[unsanitize]] for the other percent-encoded consumers (manifest
    * stats tokens share the path encoding).
    */
  private[sink] def unsanitizePublic(s: String): String = unsanitize(s)

  private def unsanitize(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '%' && i + 2 < s.length + 1 && i + 3 <= s.length) {
        sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
        i += 3
      } else { sb.append(s.charAt(i)); i += 1 }
    }
    sb.toString
  }
}
