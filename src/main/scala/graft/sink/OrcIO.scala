package graft.sink

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.hive.ql.exec.vector._
import org.apache.orc.{OrcFile, OrcProto, TypeDescription}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** ORC landing mode — LITERAL storage parity with the reference, whose
  * tables are `stored as orc` and written through Hive's ACID machinery
  * (reference `example/.../HiveStreamingExample.scala:26-31`,
  * `HiveWriter.scala:70-77`). A user migrating a reference deployment can
  * keep the bytes-on-disk format: `option("format", "orc")`.
  *
  * Writes and reads go through the PUBLIC orc-core API (`OrcFile` +
  * `VectorizedRowBatch`); the sink's supported surface is scalar columns
  * only (the reference's JSON-scalar contract), so the row→vector fill
  * and the vector views are small closed type dispatches. Reads have ONE
  * path, [[BatchReader]]: the columnar scan serves its batches and the row
  * scan iterates their rows. Pushed filters become ORC SearchArguments
  * through Spark's own `OrcFilters` ([[searchArgument]]).
  *
  * Spark's ORC reader, vectors and serializer are NOT used, because each
  * would change what the sink stores or reads back:
  *   - `OrcColumnarBatchReader` opens files without `useUTCTimestamp`, so
  *     timestamps would shift with the host zone;
  *   - `OrcAtomicColumnVector` rebases dates and timestamps from the
  *     hybrid Julian calendar, while the writer here stores proleptic
  *     Gregorian values as they are;
  *   - `OrcSerializer` builds an `OrcStruct` per row on the write path.
  *
  * Determinism pins, mirroring ParquetIO's CORRECTED/UTC stance:
  * timestamps write and read with `useUTCTimestamp(true)` on BOTH sides,
  * so epoch micros round-trip bit-exactly regardless of host zone. Both
  * TimestampType and TimestampNTZType land as ORC `timestamp` (the sink's
  * JSONL path also collapses the two on read-back; the UTC session makes
  * the instant identical).
  */
object OrcIO {

  /** sink StructType (scalars only) → ORC schema. */
  def typeDescription(schema: StructType): TypeDescription = {
    val root = TypeDescription.createStruct()
    schema.fields.foreach { f =>
      val td = f.dataType match {
        case StringType => TypeDescription.createString()
        case IntegerType => TypeDescription.createInt()
        case LongType => TypeDescription.createLong()
        case ShortType => TypeDescription.createShort()
        case ByteType => TypeDescription.createByte()
        case DoubleType => TypeDescription.createDouble()
        case FloatType => TypeDescription.createFloat()
        case BooleanType => TypeDescription.createBoolean()
        case d: DecimalType =>
          TypeDescription.createDecimal()
            .withPrecision(d.precision).withScale(d.scale)
        case TimestampType | TimestampNTZType => TypeDescription.createTimestamp()
        case DateType => TypeDescription.createDate()
        case BinaryType => TypeDescription.createBinary()
        case other => throw new IllegalArgumentException(
          s"graft-streaming ORC landing supports scalar columns only; got $other")
      }
      root.addField(f.name, td)
    }
    root
  }

  private type Filler = (ColumnVector, Int, InternalRow, Int) => Unit

  private def fillerFor(dt: DataType): Filler = dt match {
    case StringType => (v, r, row, i) =>
      v.asInstanceOf[BytesColumnVector].setVal(r, row.getUTF8String(i).getBytes)
    case IntegerType => (v, r, row, i) =>
      v.asInstanceOf[LongColumnVector].vector(r) = row.getInt(i).toLong
    case LongType => (v, r, row, i) =>
      v.asInstanceOf[LongColumnVector].vector(r) = row.getLong(i)
    case ShortType => (v, r, row, i) =>
      v.asInstanceOf[LongColumnVector].vector(r) = row.getShort(i).toLong
    case ByteType => (v, r, row, i) =>
      v.asInstanceOf[LongColumnVector].vector(r) = row.getByte(i).toLong
    case DoubleType => (v, r, row, i) =>
      v.asInstanceOf[DoubleColumnVector].vector(r) = row.getDouble(i)
    case FloatType => (v, r, row, i) =>
      v.asInstanceOf[DoubleColumnVector].vector(r) = row.getFloat(i).toDouble
    case BooleanType => (v, r, row, i) =>
      v.asInstanceOf[LongColumnVector].vector(r) = if (row.getBoolean(i)) 1L else 0L
    case d: DecimalType => (v, r, row, i) =>
      v.asInstanceOf[DecimalColumnVector].vector(r).set(
        org.apache.hadoop.hive.common.`type`.HiveDecimal.create(
          row.getDecimal(i, d.precision, d.scale).toJavaBigDecimal))
    case TimestampType | TimestampNTZType => (v, r, row, i) => {
      val micros = row.getLong(i)
      val tv = v.asInstanceOf[TimestampColumnVector]
      tv.time(r) = Math.floorDiv(micros, 1000L)
      tv.nanos(r) = (Math.floorMod(micros, 1000000L) * 1000L).toInt
    }
    case DateType => (v, r, row, i) =>
      v.asInstanceOf[LongColumnVector].vector(r) = row.getInt(i).toLong
    case BinaryType => (v, r, row, i) =>
      v.asInstanceOf[BytesColumnVector].setVal(r, row.getBinary(i))
    case other => throw new IllegalArgumentException(
      s"graft-streaming ORC landing supports scalar columns only; got $other")
  }

  /** Streaming row writer over one ORC segment file. Same lifecycle as the
    * parquet segment writer.
    *
    * Dictionaries: ORC builds one per string column and keeps it only when
    * the distinct keys stay under `orc.dictionary.key.threshold` of the
    * rows; a file below one 10k-row stride decides that only at close,
    * after the whole dictionary is built. `directColumns` names string
    * columns to write DIRECT from the start ([[GraftDataWriter]] passes
    * the ones the table's last probe file wrote DIRECT), and after close
    * [[plainColumns]] reports which string columns this file wrote DIRECT.
    *
    * DECISION (r13 verdict #7, REVISED r15) — bloom filters on ORC
    * landings keep the format-uniform SIDECAR ([[Bloom]]) for DRIVER-side
    * plan-time file skipping ([[GraftScan.planFiles]] stage 3: a file is
    * dropped before any task is scheduled or footer opened — per-stripe
    * native metadata can never participate there), and compaction
    * ([[Compact]]) keeps OR-merging sidecars byte-wise without decoding
    * data files, identically for jsonl/parquet/orc.
    *
    * r15: with SARG pushdown in [[OrcIO.BatchReader]], native writer
    * blooms became what the r13 deferral predicted — COMPLEMENTARY
    * intra-file skipping after planning — so `bloom.columns` now ALSO
    * enables `bloomFilterColumns` on the ORC writer: inside a file a task
    * does open, equality/IN predicates skip 10k-row row groups whose
    * bloom excludes the value even when min/max ranges overlap. One user
    * option, two granularities; compaction's `mergeFiles` copies stripes
    * with their indexes intact, so native blooms survive folds without
    * re-derivation.
    *
    * Create through the writer's data fs ([[DataFs]]: no client-side
    * `.crc` sidecars — measured the dominant per-file cost on the parquet
    * path), rows buffer into a 1024-row `VectorizedRowBatch`, stripes
    * flush at 16 MiB to match the parquet segment's row-group sizing (a
    * stripe buffers entirely in executor memory per open segment; the orc
    * default 64 MiB would give a streaming writer with many concurrent
    * partition segments ~4x the parquet path's footprint).
    *
    * Known upstream encoding limitation: timestamps in the one-second
    * window before the epoch (1969-12-31 23:59:59.000001–.999999) read
    * back +1s off. ORC's TimestampTreeWriter truncates `time/1000`
    * (secs=0 instead of -1) and the reader's negative-millis compensation
    * cannot fire once reconstructed millis >= 0, making the file encoding
    * ambiguous with +0.999999s. Not fixable client-side; the parquet and
    * JSONL landings store exact micros and are unaffected.
    */
  final class RowWriter(path: Path, fs: org.apache.hadoop.fs.FileSystem,
      schema: StructType, conf: Configuration, bloomColumns: Seq[String] = Seq.empty,
      directColumns: Set[String] = Set.empty) {
    private val td = typeDescription(schema)
    private val fillers: Array[Filler] = schema.fields.map(f => fillerFor(f.dataType))
    private val options = {
      var opts = OrcFile.writerOptions(conf)
        .setSchema(td)
        .fileSystem(fs)
        .compress(org.apache.orc.CompressionKind.SNAPPY)
        .stripeSize(16L * 1024 * 1024)
        .useUTCTimestamp(true)
        .overwrite(false)
      // native row-group blooms for the SARG reader (columns outside this
      // file's schema — e.g. partition columns — are dropped, not errors)
      val bloomable = bloomColumns.filter(schema.fieldNames.contains)
      if (bloomable.nonEmpty)
        opts = opts.bloomFilterColumns(bloomable.mkString(","))
      val direct = schema.fieldNames.filter(n => directColumns(n) && listable(n))
      if (direct.nonEmpty)
        opts = opts.directEncodingColumns(direct.mkString(","))
      opts
    }
    private val encodings = new EncodingRecorder(fs, path, options)
    private val writer = OrcFile.createWriter(path, options.physicalWriter(encodings))
    private val batch = td.createRowBatch(1024)
    private var rows = 0L

    def write(row: InternalRow): Unit = {
      val r = batch.size
      var i = 0
      while (i < fillers.length) {
        val v = batch.cols(i)
        if (row.isNullAt(i)) { v.noNulls = false; v.isNull(r) = true }
        else fillers(i)(v, r, row, i)
        i += 1
      }
      batch.size += 1
      rows += 1
      if (batch.size == batch.getMaxSize) flushBatch()
    }

    private def flushBatch(): Unit = if (batch.size > 0) {
      writer.addRowBatch(batch)
      batch.reset()
    }

    /** Close and return the file's serialized column stats, mapped from
      * the writer's in-memory file statistics — zero extra IO, the ORC
      * analogue of `FileStats.fromFooter`.
      */
    def closeWithStats(): String = {
      flushBatch()
      writer.close()
      fromOrcStatistics(rows, td, writer.getStatistics).serialize
    }

    def abort(): Unit = {
      try writer.close() catch { case _: Throwable => }
    }

    /** After close: the string columns that every stripe wrote DIRECT. */
    def plainColumns: Set[String] =
      if (encodings.stripes.isEmpty) Set.empty
      else td.getFieldNames.asScala.zip(td.getChildren.asScala).collect {
        case (name, t) if t.getCategory == TypeDescription.Category.STRING &&
            encodings.stripes.forall { kinds =>
              kinds(t.getId) == OrcProto.ColumnEncoding.Kind.DIRECT ||
                kinds(t.getId) == OrcProto.ColumnEncoding.Kind.DIRECT_V2
            } => name
      }.toSet

    /** `directEncodingColumns` splits its list on `,`, walks `.` as a
      * nested path, trims names and matches them case-insensitively: list
      * only a name it resolves to this very column; the others keep their
      * dictionaries.
      */
    private def listable(name: String): Boolean =
      !name.exists(c => c == ',' || c == '.') && name == name.trim &&
        schema.fieldNames.count(_.equalsIgnoreCase(name)) == 1
  }

  /** The file's `PhysicalWriter`, passing every call through to ORC's own
    * and recording each stripe's column encodings as the stripe footer
    * goes out: no IO of its own. ORC's writer is created on the first
    * call, after `WriterImpl` has fixed the buffer size in `opts`, so the
    * file's bytes are those ORC would write without this wrapper.
    */
  private final class EncodingRecorder(fs: org.apache.hadoop.fs.FileSystem,
      path: Path, opts: OrcFile.WriterOptions) extends org.apache.orc.PhysicalWriter {
    private lazy val out = new org.apache.orc.impl.PhysicalFsWriter(fs, path, opts)
    /** Per written stripe, each column's encoding kind by column id. */
    val stripes =
      scala.collection.mutable.ArrayBuffer.empty[IndexedSeq[OrcProto.ColumnEncoding.Kind]]

    override def finalizeStripe(footer: OrcProto.StripeFooter.Builder,
        dirEntry: OrcProto.StripeInformation.Builder): Unit = {
      stripes += footer.getColumnsList.asScala.map(_.getKind).toIndexedSeq
      out.finalizeStripe(footer, dirEntry)
    }
    override def writeHeader(): Unit = out.writeHeader()
    override def createDataStream(name: org.apache.orc.impl.StreamName)
        : org.apache.orc.PhysicalWriter.OutputReceiver = out.createDataStream(name)
    override def writeIndex(name: org.apache.orc.impl.StreamName,
        index: OrcProto.RowIndex.Builder): Unit = out.writeIndex(name, index)
    override def writeBloomFilter(name: org.apache.orc.impl.StreamName,
        bloom: OrcProto.BloomFilterIndex.Builder): Unit = out.writeBloomFilter(name, bloom)
    override def writeStatistics(name: org.apache.orc.impl.StreamName,
        stats: OrcProto.ColumnStatistics.Builder): Unit = out.writeStatistics(name, stats)
    override def writeFileMetadata(meta: OrcProto.Metadata.Builder): Unit =
      out.writeFileMetadata(meta)
    override def writeFileFooter(footer: OrcProto.Footer.Builder): Unit =
      out.writeFileFooter(footer)
    override def writePostScript(ps: OrcProto.PostScript.Builder): Long =
      out.writePostScript(ps)
    override def close(): Unit = out.close()
    override def flush(): Unit = out.flush()
    override def appendRawStripe(stripe: java.nio.ByteBuffer,
        dirEntry: OrcProto.StripeInformation.Builder): Unit =
      out.appendRawStripe(stripe, dirEntry)
    override def getFileBytes(column: Int,
        variant: org.apache.orc.impl.writer.WriterEncryptionVariant): Long =
      out.getFileBytes(column, variant)
    override def getStreamOptions(): org.apache.orc.impl.writer.StreamOptions =
      out.getStreamOptions
  }

  /** Spark [[org.apache.spark.sql.vectorized.ColumnVector]] VIEW over one
    * hive `ColumnVector` of a `VectorizedRowBatch` — the zero-copy bridge
    * that lets the ORC scan hand Spark COLUMNAR batches the way the
    * parquet decoder does ([[GraftColumnarReader]]): no per-row
    * `InternalRow` materialization, values decoded lazily by position
    * straight from the ORC decode buffers. The wrapped hive vector object
    * is stable across `nextBatch` calls (ORC refills in place), so the
    * adapter wraps once per file; `isRepeating` run-length encoding maps
    * every row to slot 0.
    */
  final class OrcSparkColumnVector(
      dt: DataType,
      hv: org.apache.hadoop.hive.ql.exec.vector.ColumnVector)
    extends org.apache.spark.sql.vectorized.ColumnVector(dt) {

    /** Rows in the CURRENT batch — updated by the reader per nextBatch,
      * only consulted by numNulls().
      */
    private[OrcIO] var batchRows: Int = 0

    @inline private def r(row: Int): Int = if (hv.isRepeating) 0 else row

    override def close(): Unit = () // the hive batch is owned by the reader

    override def hasNull: Boolean = !hv.noNulls
    override def numNulls: Int =
      if (hv.noNulls) 0
      else if (hv.isRepeating) { if (hv.isNull(0)) batchRows else 0 }
      else (0 until batchRows).count(hv.isNull(_))
    override def isNullAt(row: Int): Boolean =
      !hv.noNulls && hv.isNull(r(row))

    private def longs = hv.asInstanceOf[LongColumnVector].vector
    private def doubles = hv.asInstanceOf[DoubleColumnVector].vector

    override def getBoolean(row: Int): Boolean = longs(r(row)) != 0L
    override def getByte(row: Int): Byte = longs(r(row)).toByte
    override def getShort(row: Int): Short = longs(r(row)).toShort
    override def getInt(row: Int): Int = longs(r(row)).toInt
    override def getLong(row: Int): Long = dt match {
      case TimestampType | TimestampNTZType =>
        val tv = hv.asInstanceOf[TimestampColumnVector]
        val i = r(row)
        Math.floorDiv(tv.time(i), 1000L) * 1000000L + tv.nanos(i) / 1000L
      case _ => longs(r(row))
    }
    override def getFloat(row: Int): Float = doubles(r(row)).toFloat
    override def getDouble(row: Int): Double = doubles(r(row))
    override def getUTF8String(row: Int): UTF8String = {
      val bv = hv.asInstanceOf[BytesColumnVector]
      val i = r(row)
      UTF8String.fromBytes(bv.vector(i), bv.start(i), bv.length(i))
    }
    override def getBinary(row: Int): Array[Byte] = {
      val bv = hv.asInstanceOf[BytesColumnVector]
      val i = r(row)
      java.util.Arrays.copyOfRange(bv.vector(i), bv.start(i),
        bv.start(i) + bv.length(i))
    }
    override def getDecimal(row: Int, precision: Int, scale: Int)
        : org.apache.spark.sql.types.Decimal =
      org.apache.spark.sql.types.Decimal(
        hv.asInstanceOf[DecimalColumnVector].vector(r(row))
          .getHiveDecimal.bigDecimalValue, precision, scale)

    override def getArray(row: Int): org.apache.spark.sql.vectorized.ColumnarArray =
      throw new UnsupportedOperationException("scalar columns only")
    override def getMap(row: Int): org.apache.spark.sql.vectorized.ColumnarMap =
      throw new UnsupportedOperationException("scalar columns only")
    override def getChild(ordinal: Int): org.apache.spark.sql.vectorized.ColumnVector =
      throw new UnsupportedOperationException("scalar columns only")
  }

  /** Reader over one committed ORC file, and the only ORC decode path:
    * [[GraftColumnarReader]] serves its batches to the columnar scan, and
    * the row scan iterates their rows ([[GraftPartitionReader]]).
    *
    *  - COLUMN PRUNING: only the projected fields' streams are read and
    *    decoded (the include mask). Fields are matched BY NAME against the
    *    file schema (name-set contract — field order may drift across
    *    lineages); a field the file lacks reads as a null constant.
    *  - STRIPE/ROW-GROUP PUSHDOWN: pushed filters become an ORC
    *    SearchArgument ([[searchArgument]]) over the projected fields
    *    present in THIS file, so the scan skips whole stripes via stripe
    *    statistics and 10k-row row groups via row indexes — and, when the
    *    writer recorded native blooms, equality/IN leaves skip row groups
    *    whose bloom excludes the value even when min/max ranges overlap.
    *    A filter on a column this lineage lacks declines instead of
    *    mis-skipping. Conservative by construction: `allowSARGToFilter`
    *    stays off (surviving row groups return ALL their rows) and Spark
    *    re-applies every filter post-scan.
    */
  final class BatchReader(path: Path, requestedSchema: StructType,
      conf: Configuration,
      filters: Seq[org.apache.spark.sql.sources.Filter] = Seq.empty) {
    private val reader = OrcFile.createReader(path,
      OrcFile.readerOptions(conf).useUTCTimestamp(true))
    private val fileTd = reader.getSchema
    private val fileNames = fileTd.getFieldNames.asScala.toIndexedSeq
    // requested field i ← file column fileCol(i), or -1 when absent
    private val fileCol: Array[Int] =
      requestedSchema.fields.map(f => fileNames.indexOf(f.name))
    private val rows = {
      val include = new Array[Boolean](fileTd.getMaximumId + 1)
      include(0) = true
      fileCol.filter(_ >= 0).foreach { c =>
        val child = fileTd.getChildren.get(c)
        (child.getId to child.getMaximumId).foreach(include(_) = true)
      }
      val opts = reader.options.include(include)
      val present = StructType(
        requestedSchema.fields.filter(f => fileNames.contains(f.name)))
      searchArgument(present, filters)
        .foreach(opts.searchArgument(_, fileNames.toArray))
      reader.rows(opts)
    }
    private val hiveBatch = fileTd.createRowBatch(GraftColumnarReader.BatchRows)

    /** Per requested field, in `requestedSchema` order: its view over the
      * file's column, or a null constant when the file lacks the field.
      */
    private val vectors: Array[org.apache.spark.sql.vectorized.ColumnVector] =
      requestedSchema.fields.zip(fileCol).map {
        case (f, c) if c >= 0 => new OrcSparkColumnVector(f.dataType, hiveBatch.cols(c))
        case (f, _) =>
          val v = new org.apache.spark.sql.execution.vectorized
            .ConstantColumnVector(GraftColumnarReader.BatchRows, f.dataType)
          v.setNull(); v
      }
    private val views = vectors.collect { case v: OrcSparkColumnVector => v }

    /** The current batch over [[vectors]], refilled by [[nextBatch]]. */
    val batch = new org.apache.spark.sql.vectorized.ColumnarBatch(vectors)

    /** Fill the next batch; false at EOF. */
    def nextBatch(): Boolean = {
      val more = rows.nextBatch(hiveBatch)
      // positional reads assume the batch is dense: a selection vector
      // (row-level SARG filtering, allowSARGToFilter — never enabled
      // here) would make positions 0..size wrong rows. Fail loudly if an
      // orc-core behavior change ever flips it on.
      require(!more || !hiveBatch.selectedInUse,
        "ORC returned a selected-rows batch; dense positional reads would be wrong")
      if (more) {
        views.foreach(_.batchRows = hiveBatch.size)
        batch.setNumRows(hiveBatch.size)
      }
      more
    }

    def close(): Unit = { rows.close(); reader.close() }
  }

  /** Pushed source filters → ORC SearchArgument over `fields` (the
    * projected fields present in one file), built by Spark's own
    * `OrcFilters` through [[org.apache.spark.sql.GraftSqlBridge]]. Only
    * integral, float/double, string and boolean fields take part:
    * date/timestamp/decimal/binary columns are left to the manifest stats
    * and sidecar blooms, which already skip at file level. `OrcFilters`
    * keeps a convertible `And` side and declines partial `Or`/`Not`
    * conversions and filters on columns outside `fields`.
    */
  private[sink] def searchArgument(fields: StructType,
      filters: Seq[org.apache.spark.sql.sources.Filter])
      : Option[org.apache.hadoop.hive.ql.io.sarg.SearchArgument] =
    org.apache.spark.sql.GraftSqlBridge.orcSearchArgument(
      StructType(fields.filter(_.dataType match {
        case ByteType | ShortType | IntegerType | LongType | FloatType |
             DoubleType | StringType | BooleanType => true
        case _ => false
      })), filters)

  /** ORC `ColumnStatistics` → manifest [[FileStats]], same tags/domains as
    * the parquet footer mapping: integers/dates/timestamp-micros → 'l',
    * doubles → 'd' (NaN-poisoned stats surface as null min/max upstream),
    * strings → 's', booleans → 'b'; decimals/binary record null counts
    * only. `stats(0)` is the root struct (row count); field i's stats sit
    * at the field's type id.
    */
  def fromOrcStatistics(
      rows: Long, td: TypeDescription,
      stats: Array[org.apache.orc.ColumnStatistics]): FileStats = {
    import org.apache.orc._
    val names = td.getFieldNames.asScala
    val children = td.getChildren.asScala
    val cols = names.zip(children).flatMap { case (name, child) =>
      val id = child.getId
      if (id >= stats.length) None
      else {
        val st = stats(id)
        val nulls = Some(rows - st.getNumberOfValues)
        val empty = st.getNumberOfValues == 0L
        val (mn, mx) = st match {
          case _ if empty => (None, None)
          case s: IntegerColumnStatistics =>
            (Some("l" + s.getMinimum), Some("l" + s.getMaximum))
          case s: DoubleColumnStatistics =>
            // ORC drops NaN from min/max silently, so [1.0, NaN] records
            // min=max=1.0 — but Spark orders NaN above every double, so a
            // pushed `> x` predicate would wrongly prune the file. The sum
            // accumulates every value, so any NaN poisons it: decline
            // min/max whenever the sum is NaN (also covers the all-NaN
            // case, where min > max).
            if (!java.lang.Double.isNaN(s.getSum) && s.getMinimum <= s.getMaximum)
              (Some("d" + s.getMinimum), Some("d" + s.getMaximum))
            else (None, None)
          case s: StringColumnStatistics
              if s.getMinimum != null && s.getMaximum != null =>
            // null min/max with values present = truncated bounds
            // (lower/upperBound only) — decline rather than mis-prune
            (Some("s" + s.getMinimum), Some("s" + s.getMaximum))
          case s: BooleanColumnStatistics =>
            (Some("b" + (s.getFalseCount == 0L)), Some("b" + (s.getTrueCount > 0L)))
          case s: DateColumnStatistics
              if s.getMinimumDayOfEpoch <= s.getMaximumDayOfEpoch =>
            (Some("D" + s.getMinimumDayOfEpoch), Some("D" + s.getMaximumDayOfEpoch))
          case s: TimestampColumnStatistics
              if s.getMinimumUTC != null && s.getMaximumUTC != null =>
            // millis from ORC stats; widen to micros bounds conservatively
            // (floor the min, ceil the max) so they bracket every value
            (Some("T" + s.getMinimumUTC.getTime * 1000L),
              Some("T" + (s.getMaximumUTC.getTime * 1000L + 999L)))
          case _ => (None, None)
        }
        Some(name -> ColStats(nulls, mn, mx))
      }
    }.toMap
    FileStats(rows, cols)
  }

  /** Stripe-level merge of ORC files (compressed stripes copied without
    * decode — the ORC analogue of `ParquetIO.merge`). Inputs are grouped
    * by file schema (name-set validation permits drift across lineages),
    * each group size-bounded into chunks on input boundaries, and each
    * chunk merged via `OrcFile.mergeFiles`. A file the merger rejects
    * (incompatible compression/version) stays live unmerged rather than
    * failing the cycle. Outputs are created through `fs` ([[DataFs]]).
    *
    * @return (written target paths, input paths actually consumed)
    */
  def merge(inputs: Seq[Path], targetFor: Int => Path,
      fs: org.apache.hadoop.fs.FileSystem, conf: Configuration,
      targetBytes: Long = Long.MaxValue): (Seq[Path], Seq[Path]) = {
    require(inputs.nonEmpty, "nothing to merge")
    val bySchema = inputs.map { p =>
      val r = OrcFile.createReader(p, OrcFile.readerOptions(conf))
      try (p, r.getSchema.toString, r.getContentLength)
      finally r.close()
    }.groupBy(_._2).values.toSeq
    var outIdx = -1
    val written = scala.collection.mutable.ArrayBuffer.empty[Path]
    val consumed = scala.collection.mutable.ArrayBuffer.empty[Path]
    bySchema.foreach { group =>
      Compact.sizeChunks(group, targetBytes)(_._3).foreach { chunk =>
        outIdx += 1
        val target = targetFor(outIdx)
        val merged = OrcFile.mergeFiles(target,
          OrcFile.writerOptions(conf).useUTCTimestamp(true).fileSystem(fs),
          chunk.map(_._1).asJava)
        written += target
        consumed ++= merged.asScala
      }
    }
    (written.toSeq, consumed.toSeq)
  }

  /** Re-derive manifest stats for a merged file from its footer metadata
    * (one metadata read, no data decode).
    */
  def statsFromFile(path: Path, conf: Configuration): String = {
    val r = OrcFile.createReader(path, OrcFile.readerOptions(conf))
    try fromOrcStatistics(r.getNumberOfRows, r.getSchema, r.getStatistics).serialize
    finally r.close()
  }
}
