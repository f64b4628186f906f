package graft.sink

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetFileWriter, ParquetReader, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, ParquetWriteSupport}
import org.apache.spark.sql.types.StructType

/** Columnar landing mode for the sink — parity with the reference's physical
  * storage, which is ORC written by Hive's ACID machinery
  * (`HiveStreamingExample.scala:26-31` `stored as orc`;
  * `HiveWriter.scala:70-77`). Graft's columnar format is parquet (Spark's
  * native default), written and read through Spark's own row↔parquet
  * converters so every Spark type the JSONL path supports round-trips
  * identically:
  *
  *  - write: parquet-hadoop `ParquetWriter` over Spark's
  *    `ParquetWriteSupport` (the exact `InternalRow` consumer Spark's own
  *    parquet datasource uses), snappy-compressed; a column is
  *    dictionary-encoded unless the table's last probe file dropped its
  *    dictionary ([[plainColumns]], chosen per file by [[GraftDataWriter]]);
  *  - read: Spark's vectorized decoder ([[createVectorizedReader]], which
  *    [[GraftColumnarReader]] serves to both the columnar and the row
  *    scan), or for a projection it rejects, `ParquetReader` over Spark's
  *    `ParquetReadSupport` ([[createReader]]); either way the requested
  *    schema is pushed into the parquet scan — column pruning reaches the
  *    page level, so a 2-column projection of a 20-column table reads 2
  *    column chunks, not 20 (the scan story JSONL structurally cannot have);
  *  - compact: `ParquetFileWriter.appendFile` row-group concatenation — a
  *    byte-level copy of the compressed pages with no decode/re-encode, the
  *    columnar analogue of the JSONL byte-concat.
  *
  * Rebase modes are pinned to CORRECTED and timestamps to TIMESTAMP_MICROS
  * on both sides, so files are self-consistent regardless of the session
  * conf of whoever reads them back.
  */
object ParquetIO {

  /** Parquet files the sink writes always carry proleptic-Gregorian
    * (CORRECTED) dates/timestamps as int64 micros; `init` of both Spark
    * write- and read-support asserts these keys are present.
    *
    * A writer with a fixed schema (one streaming writer task) pins ONCE
    * and reuses the result across its segments and rotations — a
    * `new Configuration(base)` copy walks every property of the base conf,
    * which is pure per-file overhead when repeated for thousands of small
    * streaming segments.
    */
  def pinnedWriterConf(base: Configuration, schema: StructType): Configuration = {
    import org.apache.spark.sql.internal.SQLConf
    val conf = new Configuration(base)
    ParquetWriteSupport.setSchema(schema, conf)
    conf.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key, "false")
    conf.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key, "TIMESTAMP_MICROS")
    conf.set(SQLConf.PARQUET_REBASE_MODE_IN_WRITE.key, "CORRECTED")
    conf.set(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE.key, "CORRECTED")
    conf.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key,
      SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.defaultValueString)
    conf.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key,
      SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.defaultValueString)
    conf
  }

  private final class RowWriterBuilder(file: org.apache.parquet.io.OutputFile)
    extends ParquetWriter.Builder[InternalRow, RowWriterBuilder](file) {
    override def self(): RowWriterBuilder = this
    override def getWriteSupport(c: Configuration): WriteSupport[InternalRow] =
      new ParquetWriteSupport
  }

  /** OutputFile over an EXPLICIT filesystem instead of
    * `path.getFileSystem(conf)`, so segment writes and merge outputs go
    * through the sink's data fs ([[DataFs]]). Measured on the streaming-segment shape (88 ×
    * ~11 k-row files): the checksummed create+close is ~12 ms/file — the
    * dominant per-file cost, 3× the parquet encode itself — because every
    * segment becomes two files (data + .crc sidecar) plus redundant
    * client-side checksumming.
    */
  private final class FsOutputFile(fs: org.apache.hadoop.fs.FileSystem, path: Path)
    extends org.apache.parquet.io.OutputFile {
    override def create(blockSizeHint: Long): org.apache.parquet.io.PositionOutputStream =
      org.apache.parquet.hadoop.util.HadoopStreams.wrap(fs.create(path, false))
    override def createOrOverwrite(blockSizeHint: Long): org.apache.parquet.io.PositionOutputStream =
      org.apache.parquet.hadoop.util.HadoopStreams.wrap(fs.create(path, true))
    override def supportsBlockSize(): Boolean = true
    override def defaultBlockSize(): Long = fs.getDefaultBlockSize(path)
    override def getPath: String = path.toString
  }

  /** One open parquet segment, created through `fs` over an already-pinned
    * conf ([[pinnedWriterConf]]). `rowGroupSize` is deliberately small
    * (16 MiB) for a STREAMING writer: an epoch's worth of one partition's
    * rows is typically far below the 128 MiB batch default, and a row group
    * buffers entirely in executor memory until flushed.
    *
    * `bloomColumns` (r15, the parquet twin of the ORC writer blooms):
    * native per-row-group bloom filters for the named columns, so the
    * vectorized read path's row-group filter — which already evaluates
    * STATISTICS, DICTIONARY, and BLOOMFILTER levels for pushed predicates
    * — can skip row groups whose bloom excludes an equality/IN value even
    * when min/max ranges cover it. One `bloom.columns` option, three
    * skipping tiers on both columnar formats (manifest sidecar at plan
    * time, native bloom inside opened files).
    *
    * `plainColumns` (dot-paths, as [[plainColumns]] returns them) are
    * written without a dictionary. [[GraftDataWriter]] passes the columns
    * whose dictionary the table's last probe file discarded: where that
    * still holds, parquet would build the dictionary only to fall back to
    * the same plain pages.
    */
  def createWriter(
      path: Path, fs: org.apache.hadoop.fs.FileSystem, pinned: Configuration,
      bloomColumns: Seq[String] = Seq.empty,
      plainColumns: Set[String] = Set.empty): ParquetWriter[InternalRow] = {
    var b = new RowWriterBuilder(new FsOutputFile(fs, path))
      .withConf(pinned)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withWriteMode(ParquetFileWriter.Mode.CREATE)
      .withRowGroupSize(16L * 1024 * 1024)
    bloomColumns.foreach(c => b = b.withBloomFilterEnabled(c, true))
    plainColumns.foreach(c => b = b.withDictionaryEncoding(c, false))
    b.build()
  }

  /** The leaf columns of a written file that no row group stores with a
    * dictionary page, as the dot-paths `withDictionaryEncoding` takes. A
    * path with a `.` inside one of its names is left out: its dot-path
    * would name a different column.
    */
  def plainColumns(footer: org.apache.parquet.hadoop.metadata.ParquetMetadata): Set[String] =
    footer.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala)
      .groupBy(_.getPath)
      .collect { case (p, chunks) if !chunks.exists(_.hasDictionaryPage) &&
          !p.toArray.exists(_.contains(".")) => p.toDotString }
      .toSet

  /** A copy of `conf` that requests `requestedSchema` from Spark's
    * `ParquetReadSupport`. The parquet→catalyst schema converter asserts
    * its conf keys are present (its Configuration ctor does a bare
    * .toBoolean on each), so they are pinned to their defaults.
    */
  private def readConf(conf: Configuration, requestedSchema: StructType): Configuration = {
    import org.apache.spark.sql.internal.SQLConf
    val c = new Configuration(conf)
    c.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, requestedSchema.json)
    Seq(SQLConf.CASE_SENSITIVE, SQLConf.PARQUET_BINARY_AS_STRING,
      SQLConf.PARQUET_INT96_AS_TIMESTAMP, SQLConf.PARQUET_FIELD_ID_READ_ENABLED,
      SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED,
      SQLConf.LEGACY_PARQUET_NANOS_AS_LONG,
      SQLConf.PARQUET_IGNORE_VARIANT_ANNOTATION,
      SQLConf.PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION)
      .foreach(e => c.set(e.key, e.defaultValueString))
    c
  }

  /** Row reader returning `InternalRow`s in `requestedSchema` field order,
    * for a projection Spark's vectorized decoder rejects
    * ([[batchReadSupported]]). The requested schema is pushed into the
    * parquet scan (only its column chunks are read); fields absent from
    * the file materialize as null.
    */
  def createReader(
      path: Path, requestedSchema: StructType,
      conf: Configuration): ParquetReader[InternalRow] =
    // no-arg ParquetReadSupport pins datetimeRebase=CORRECTED — the mode
    // every file this sink writes was written with
    ParquetReader.builder(new ParquetReadSupport(), path)
      .withConf(readConf(conf, requestedSchema)).build()

  /** VECTORIZED batch reader over one sink parquet file — Spark's own
    * columnar decoder (`VectorizedParquetRecordReader`), the scan engine
    * behind its native parquet source: column chunks decode straight into
    * `ColumnVector`s, rows are never materialized, and downstream
    * whole-stage codegen consumes the batches directly. The batch holds
    * `fileSchema`'s columns only ([[GraftColumnarReader]] attaches the
    * partition values) and is allocated once, by `initBatch`. Rebase pins
    * match [[pinnedWriterConf]] (CORRECTED / UTC), so the files this sink
    * writes round-trip bit-exactly.
    */
  def createVectorizedReader(
      path: Path, fileSchema: StructType, conf: Configuration,
      filters: Seq[org.apache.spark.sql.sources.Filter] = Seq.empty)
      : org.apache.spark.sql.execution.datasources.parquet.VectorizedParquetRecordReader = {
    val c = readConf(conf, fileSchema)
    c.set(org.apache.parquet.hadoop.ParquetInputFormat.READ_SUPPORT_CLASS,
      classOf[ParquetReadSupport].getName)
    // push the query's filters into the parquet scan: row groups whose
    // column statistics contradict a predicate are skipped whole, and
    // column indexes prune at page granularity — at 100 TB this is the
    // difference between touching every committed byte and touching the
    // matching slice. Converted against THIS file's physical schema
    // (files may drift in field order across lineages); predicates on
    // columns absent from the file simply don't convert. Safe by
    // construction: the scan reports every filter as residual, so Spark
    // re-applies them post-scan — pushdown only removes IO, never rows it
    // shouldn't.
    if (filters.nonEmpty) {
      val schema = ParquetFileReader.readFooter(
        c, path, ParquetMetadataConverter.SKIP_ROW_GROUPS)
        .getFileMetaData.getSchema
      val converter = new org.apache.spark.sql.execution.datasources.parquet
        .ParquetFilters(schema, /* pushDownDate = */ true,
          /* pushDownTimestamp = */ true, /* pushDownDecimal = */ true,
          /* pushDownStringPredicate = */ true,
          /* pushDownInFilterThreshold = */ 10, /* caseSensitive = */ false,
          org.apache.spark.sql.catalyst.util.RebaseDateTime.RebaseSpec(
            org.apache.spark.sql.internal.LegacyBehaviorPolicy.CORRECTED))
      filters.flatMap(f => converter.createFilter(f))
        .reduceOption(org.apache.parquet.filter2.predicate.FilterApi.and)
        .foreach(p => org.apache.parquet.hadoop.ParquetInputFormat
          .setFilterPredicate(c, p))
    }
    val len = path.getFileSystem(c).getFileStatus(path).getLen
    // the old-API split class: it extends the mapreduce one, and Spark's
    // base reader downcasts to it for its locality accessors
    val split = new org.apache.hadoop.mapred.FileSplit(
      path, 0, len, Array.empty[String])
    val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
      c, new org.apache.hadoop.mapreduce.TaskAttemptID())
    val reader = new org.apache.spark.sql.execution.datasources.parquet
      .VectorizedParquetRecordReader(
        java.time.ZoneId.of("UTC"), "CORRECTED", "UTC", "CORRECTED", "UTC",
        /* useOffHeap = */ false, GraftColumnarReader.BatchRows)
    reader.initialize(split, ctx)
    reader.initBatch(new StructType(), InternalRow.empty)
    reader.enableReturningBatches()
    reader
  }

  /** Whether Spark's vectorized decoder supports every column of the
    * projection (plan-side gate for the columnar path).
    */
  def batchReadSupported(schema: StructType): Boolean =
    org.apache.spark.sql.execution.datasources.parquet.ParquetUtils
      .isBatchReadSupportedForSchema(
        org.apache.spark.sql.internal.SQLConf.get, schema)

  /** Row-group-level merge of parquet files — compressed pages are copied
    * byte-for-byte, never decoded. `appendFile` requires byte-identical
    * physical schemas, but the sink's schema contract is NAME-SET only
    * (column order and types deliberately unchecked, reference
    * `HiveSourceProvider.scala:55-58`), so epochs written by different
    * lineages may legitimately differ in field order — inputs are grouped
    * by their footer schema and each group merges into its own output
    * (readers dispatch per file, so a multi-schema directory stays fully
    * readable). Footer key-value metadata (including Spark's schema
    * record) is carried from each group's first input.
    *
    * Outputs are SIZE-BOUNDED: a schema group whose accumulated input bytes
    * exceed `targetBytes` splits into several consolidated files on input
    * boundaries — one ever-growing file per partition dir would make every
    * later full compaction rewrite the whole partition and leave plan-time
    * file skipping nothing to skip. Inputs are kept in the caller's
    * (epoch) order, so when a column correlates with arrival time — ids,
    * event timestamps, the common case for a streaming table — consecutive
    * outputs inherit tight, mostly-disjoint min/max ranges for free.
    *
    * @param targetFor output path for the i-th output file; called once
    *                  per (schema group × size chunk).
    * @param fs the file system outputs are created through ([[DataFs]]).
    * @param targetBytes split threshold on accumulated compressed input
    *                    bytes (block sizes from the footers already in
    *                    hand); `Long.MaxValue` restores one-per-group.
    * @return the written file paths.
    */
  def merge(inputs: Seq[Path], targetFor: Int => Path,
      fs: org.apache.hadoop.fs.FileSystem, conf: Configuration,
      targetBytes: Long = Long.MaxValue): Seq[Path] = {
    require(inputs.nonEmpty, "nothing to merge")
    val byFooter = inputs
      .map(p => p -> ParquetFileReader.readFooter(
        conf, p, ParquetMetadataConverter.NO_FILTER))
      .groupBy(_._2.getFileMetaData.getSchema)
      .values.toSeq
    var outIdx = -1
    byFooter.flatMap { group =>
      Compact.sizeChunks(group, targetBytes)(
        _._2.getBlocks.asScala.map(_.getCompressedSize).sum).map { chunk =>
        outIdx += 1
        val target = targetFor(outIdx)
        val footer = chunk.head._2
        val writer = new ParquetFileWriter(new FsOutputFile(fs, target),
          footer.getFileMetaData.getSchema, ParquetFileWriter.Mode.CREATE,
          ParquetWriter.DEFAULT_BLOCK_SIZE, ParquetWriter.MAX_PADDING_SIZE_DEFAULT)
        writer.start()
        chunk.foreach { case (p, _) =>
          writer.appendFile(HadoopInputFile.fromPath(p, conf))
        }
        writer.end(footer.getFileMetaData.getKeyValueMetaData)
        target
      }
    }
  }
}
