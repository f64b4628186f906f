package graft.sink

import org.apache.parquet.column.statistics.Statistics
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.sources._
import org.apache.spark.unsafe.types.UTF8String

/** Per-file column statistics recorded in the commit manifest at write
  * time, enabling PLAN-TIME FILE SKIPPING: a scan with pushed predicates
  * drops whole committed files whose [min, max]/null-count provably
  * exclude every row — before an input partition is ever created, without
  * opening a single footer. This is the manifest-level data-skipping
  * design of log-structured table formats (Delta/Iceberg/Hudi publish
  * per-file stats in their commit logs for exactly this reason); at 100 TB
  * it is the difference between scheduling a task per committed file and
  * scheduling tasks only for the slice a predicate can touch. The
  * reference has no analogue — Hive ORC readers open every delta file of
  * the touched partitions.
  *
  * Stats come straight from the parquet footer the writer already built in
  * memory (`ParquetWriter.getFooter` after close — zero extra IO) and ride
  * the existing task→driver commit message. JSONL files accumulate the
  * same stats row-at-a-time while encoding ([[FileStats.Running]]), so
  * both landings skip identically.
  *
  * Every value token is SELF-TYPED (one-char tag) by the file's physical
  * parquet type, so stats need no table schema to produce or interpret,
  * and schema drift across lineages (a column re-typed between writers)
  * degrades to "no skip" via a tag mismatch instead of a wrong compare.
  * Skipping is conservative by construction: a file is dropped only when a
  * pushed predicate is PROVABLY empty over it, every pushed filter is
  * still re-evaluated by Spark post-scan, and anything unparseable or
  * unconvertible just declines to skip.
  */
final case class ColStats(
    nullCount: Option[Long], min: Option[String], max: Option[String])

final case class FileStats(rows: Long, cols: Map[String, ColStats]) {

  /** Manifest-line suffix: tab-joined tokens, each colon-separated;
    * names/values percent-encoded ([[JsonRowEncoder.sanitize]]) so tabs
    * and colons stay structural. `-` marks an absent null count; value
    * tokens are absent-or-tagged so they can never collide with `-`.
    */
  def serialize: String = {
    val sb = new StringBuilder("R:").append(rows)
    cols.toSeq.sortBy(_._1).foreach { case (name, c) =>
      sb.append('\t').append(JsonRowEncoder.sanitize(name)).append(':')
        .append(c.nullCount.map(_.toString).getOrElse("-")).append(':')
        .append(c.min.map(JsonRowEncoder.sanitize).getOrElse("-")).append(':')
        .append(c.max.map(JsonRowEncoder.sanitize).getOrElse("-"))
    }
    sb.toString
  }

  /** True when `filter` provably matches NO row of this file. */
  def prunes(filter: Filter): Boolean = filter match {
    case And(l, r) => prunes(l) || prunes(r)
    case Or(l, r) => prunes(l) && prunes(r)
    case EqualTo(a, v) =>
      if (v == null) true
      else forCol(a).exists(c => allNull(c) ||
        cmp(c.min, v).exists(_ > 0) || cmp(c.max, v).exists(_ < 0))
    case EqualNullSafe(a, null) => forCol(a).exists(_.nullCount.contains(0L))
    case EqualNullSafe(a, v) => prunes(EqualTo(a, v))
    case LessThan(a, v) =>
      v != null && forCol(a).exists(c => allNull(c) || cmp(c.min, v).exists(_ >= 0))
    case LessThanOrEqual(a, v) =>
      v != null && forCol(a).exists(c => allNull(c) || cmp(c.min, v).exists(_ > 0))
    case GreaterThan(a, v) =>
      v != null && forCol(a).exists(c => allNull(c) || cmp(c.max, v).exists(_ <= 0))
    case GreaterThanOrEqual(a, v) =>
      v != null && forCol(a).exists(c => allNull(c) || cmp(c.max, v).exists(_ < 0))
    case In(a, vs) =>
      // vs itself can be null through the public sources.In API — decline
      // (the bloom prune guards identically)
      vs != null && forCol(a).exists(c => allNull(c) ||
        vs.forall(v => v == null ||
          cmp(c.min, v).exists(_ > 0) || cmp(c.max, v).exists(_ < 0)))
    case IsNull(a) => forCol(a).exists(_.nullCount.contains(0L))
    case IsNotNull(a) => forCol(a).exists(allNull)
    case StringStartsWith(a, p) if p != null =>
      // any match is >= p, so max < p prunes; and byte-lexicographic order
      // is prefix-monotone, so min truncated to |p| bytes > p also prunes
      forCol(a).exists { c =>
        allNull(c) || {
          val pb = p.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          def bytes(tok: String): Option[Array[Byte]] =
            if (tok.startsWith("s"))
              Some(tok.drop(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
            else None
          def unsigned(x: Array[Byte], y: Array[Byte]): Int = {
            var i = 0
            while (i < x.length && i < y.length) {
              val d = (x(i) & 0xff) - (y(i) & 0xff)
              if (d != 0) return d
              i += 1
            }
            x.length - y.length
          }
          c.max.flatMap(bytes).exists(unsigned(_, pb) < 0) ||
            c.min.flatMap(bytes).exists(m => unsigned(m.take(pb.length), pb) > 0)
        }
      }
    case _ => false
  }

  private def forCol(name: String): Option[ColStats] = cols.get(name)

  private def allNull(c: ColStats): Boolean = c.nullCount.contains(rows)

  /** Sign of (stored bound − filter value), or None when the stored tag
    * and the filter value's runtime type cannot be compared exactly.
    */
  private def cmp(bound: Option[String], v: Any): Option[Int] =
    bound.filter(_.nonEmpty).flatMap { tok =>
      val tag = tok.head
      val s = tok.drop(1)
      try (tag, v) match {
        case ('l', _) =>
          FileStats.asLong(v).map(java.lang.Long.compare(s.toLong, _))
        // date-days and timestamp-micros carry their OWN tags: all three
        // domains are longs, and a column re-typed across writer lineages
        // (the sink's name-set-only schema contract) must degrade to
        // no-skip via a tag/value-class mismatch — under one shared 'l'
        // tag a date-written file probed with a timestamp value compared
        // days against micros and pruned files that contained matches
        case ('D', _) =>
          FileStats.asDateDays(v).map(java.lang.Long.compare(s.toLong, _))
        case ('T', _) =>
          FileStats.asMicros(v).map(java.lang.Long.compare(s.toLong, _))
        case ('d', _) =>
          FileStats.asDouble(v).flatMap { d =>
            val b = s.toDouble
            if (java.lang.Double.isNaN(b) || java.lang.Double.isNaN(d)) None
            // primitive compare so -0.0 == 0.0 (IEEE), unlike Double.compare
            else Some(if (b < d) -1 else if (b > d) 1 else 0)
          }
        case ('s', x: String) =>
          Some(UTF8String.fromString(s).binaryCompare(UTF8String.fromString(x)))
        case ('b', x: Boolean) =>
          Some(java.lang.Boolean.compare(s.toBoolean, x))
        case _ => None
      } catch {
        // a hand-edited or foreign manifest's malformed token: decline to
        // skip rather than fail the scan
        case _: NumberFormatException | _: IllegalArgumentException => None
      }
    }
}

object FileStats {

  /** Exact widenings only: a Long filter value against a double-tagged
    * bound is refused (2^53 rounding could flip a compare), as is anything
    * non-integral against a long-tagged one.
    */
  private[sink] def asLong(v: Any): Option[Long] = v match {
    case i: Int => Some(i.toLong)
    case l: Long => Some(l)
    case s: Short => Some(s.toLong)
    case b: Byte => Some(b.toLong)
    // date/timestamp values are NOT generic longs: they convert only
    // against their own tag domains ([[asDateDays]]/[[asMicros]]) so a
    // cross-lineage re-type can never compare days against micros
    case _ => None
  }

  /** Date-domain filter values → epoch days ('D' tag). */
  private[sink] def asDateDays(v: Any): Option[Long] = v match {
    case d: java.sql.Date => Some(d.toLocalDate.toEpochDay)
    case d: java.time.LocalDate => Some(d.toEpochDay)
    case _ => None
  }

  /** Timestamp-domain filter values → epoch micros ('T' tag). */
  private[sink] def asMicros(v: Any): Option[Long] = v match {
    case t: java.sql.Timestamp =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(t))
    case i: java.time.Instant =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(i))
    case dt: java.time.LocalDateTime =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.localDateTimeToMicros(dt))
    case _ => None
  }

  private[sink] def asDouble(v: Any): Option[Double] = v match {
    case d: Double => Some(d)
    case f: Float => Some(f.toDouble) // exact widening
    case i: Int => Some(i.toDouble)   // exact: 2^31 < 2^53
    case s: Short => Some(s.toDouble)
    case b: Byte => Some(b.toDouble)
    case _ => None
  }

  /** Inverse of [[FileStats.serialize]]; None on anything malformed (the
    * file then just never skips).
    */
  def parse(tokens: Seq[String]): Option[FileStats] =
    try {
      val r = tokens.headOption.filter(_.startsWith("R:")).map(_.drop(2).toLong)
      r.map { rows =>
        val cols = tokens.drop(1).map { t =>
          val Array(name, nc, mn, mx) = t.split(":", -1)
          GraftPartitionReader.unsanitize(name) -> ColStats(
            if (nc == "-") None else Some(nc.toLong),
            if (mn == "-") None else Some(unsanitizeTagged(mn)),
            if (mx == "-") None else Some(unsanitizeTagged(mx)))
        }.toMap
        FileStats(rows, cols)
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  private def unsanitizeTagged(tok: String): String =
    tok.head + GraftPartitionReader.unsanitize(tok.drop(1))

  /** Build stats from a parquet footer (the writer's in-memory one, or a
    * re-read after compaction). Only top-level primitive columns of
    * exactly-comparable physical types are recorded; a column whose
    * statistics any row group dropped (e.g. float NaN) records null count
    * only.
    */
  def fromFooter(footer: ParquetMetadata): FileStats = {
    import scala.jdk.CollectionConverters._
    val blocks = footer.getBlocks.asScala.toSeq
    val rows = blocks.map(_.getRowCount).sum
    val schema = footer.getFileMetaData.getSchema
    val cols = schema.getFields.asScala.flatMap { field =>
      if (!field.isPrimitive) None
      else {
        val prim = field.asPrimitiveType()
        tagFor(prim).flatMap { tag =>
          val name = field.getName
          val chunks = blocks.flatMap(_.getColumns.asScala.find(
            _.getPath.toDotString == name))
          if (chunks.size != blocks.size) None // column missing in a block
          else Some(name -> colStats(tag, chunks))
        }
      }
    }.toMap
    FileStats(rows, cols)
  }

  /** One-char comparison domain for a primitive column, or None when no
    * exact stats comparison exists (INT96, decimals, non-micros
    * timestamps, unsigned ints, raw binary...).
    */
  private def tagFor(prim: org.apache.parquet.schema.PrimitiveType): Option[Char] = {
    import org.apache.parquet.schema.Type.Repetition
    if (prim.getRepetition == Repetition.REPEATED) return None
    val logical = prim.getLogicalTypeAnnotation
    prim.getPrimitiveTypeName match {
      case BOOLEAN => Some('b')
      case FLOAT | DOUBLE => Some('d')
      case INT32 => logical match {
        case null => Some('l')
        case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation if i.isSigned => Some('l')
        case _: LogicalTypeAnnotation.DateLogicalTypeAnnotation => Some('D')
        case _ => None
      }
      case INT64 => logical match {
        case null => Some('l')
        case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation if i.isSigned => Some('l')
        case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
          if t.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS => Some('T')
        case _ => None
      }
      case BINARY => logical match {
        case _: LogicalTypeAnnotation.StringLogicalTypeAnnotation => Some('s')
        case _ => None
      }
      case _ => None
    }
  }

  private def colStats(
      tag: Char,
      chunks: Seq[org.apache.parquet.hadoop.metadata.ColumnChunkMetaData]): ColStats = {
    var nc: Option[Long] = Some(0L)
    var poisoned = false
    var mn: AnyRef = null
    var mx: AnyRef = null
    var cmpStats: Statistics[_] = null
    chunks.foreach { chunk =>
      val st = chunk.getStatistics
      if (st == null) { nc = None; poisoned = true }
      else {
        nc = if (st.isNumNullsSet) nc.map(_ + st.getNumNulls) else None
        val chunkAllNull = st.isNumNullsSet && st.getNumNulls == chunk.getValueCount
        if (!chunkAllNull) {
          if (!st.hasNonNullValue) poisoned = true // stats dropped (NaN...)
          else {
            cmpStats = st
            val cMin = st.genericGetMin.asInstanceOf[AnyRef]
            val cMax = st.genericGetMax.asInstanceOf[AnyRef]
            if (isNaN(cMin) || isNaN(cMax)) poisoned = true
            else {
              if (mn == null || compareGeneric(st, cMin, mn) < 0) mn = cMin
              if (mx == null || compareGeneric(st, cMax, mx) > 0) mx = cMax
            }
          }
        }
      }
    }
    if (poisoned || mn == null || mx == null) ColStats(nc, None, None)
    else ColStats(nc, Some(render(tag, mn)), Some(render(tag, mx)))
  }

  private def isNaN(v: AnyRef): Boolean = v match {
    case f: java.lang.Float => f.isNaN
    case d: java.lang.Double => d.isNaN
    case _ => false
  }

  /** Row-at-a-time stats accumulator for the JSONL landing. Parquet files
    * get per-file stats free from the writer's in-memory footer; a JSONL
    * segment sees every value anyway (it encodes each one), so this
    * accumulates the same (null count, min, max) per column while rows
    * stream through and snapshots a [[FileStats]] at file rotation —
    * closing the skipping gap where a point lookup planned every JSONL
    * file but 2/88 parquet files.
    *
    * Domains, tags, and edge handling mirror [[FileStats.fromFooter]]
    * exactly (same `cmp` consumer): signed integers → 'l', date-days →
    * 'D', timestamp-micros → 'T', float-widened-to-double → 'd' with NaN
    * poisoning min/max, strings → 's' under binary UTF-8 order, booleans
    * → 'b'; decimals/binary record null counts only.
    */
  final class Running(schema: org.apache.spark.sql.types.StructType, fieldIndices: Seq[Int]) {
    import org.apache.spark.sql.types._

    private sealed abstract class Acc(val name: String) {
      var nulls = 0L
      def observe(row: org.apache.spark.sql.catalyst.InternalRow, i: Int): Unit
      def minMax: (Option[String], Option[String])
      def resetMinMax(): Unit
      final def reset(): Unit = { nulls = 0L; resetMinMax() }
    }

    private final class LongAcc(name: String, tag: Char,
        get: (org.apache.spark.sql.catalyst.InternalRow, Int) => Long) extends Acc(name) {
      private var seen = false
      private var mn = 0L
      private var mx = 0L
      override def observe(row: org.apache.spark.sql.catalyst.InternalRow, i: Int): Unit = {
        val v = get(row, i)
        if (!seen) { seen = true; mn = v; mx = v }
        else { if (v < mn) mn = v; if (v > mx) mx = v }
      }
      override def minMax: (Option[String], Option[String]) =
        if (!seen) (None, None) else (Some(s"$tag$mn"), Some(s"$tag$mx"))
      override def resetMinMax(): Unit = seen = false
    }

    private final class DoubleAcc(name: String,
        get: (org.apache.spark.sql.catalyst.InternalRow, Int) => Double) extends Acc(name) {
      private var seen = false
      private var poisoned = false
      private var mn = 0d
      private var mx = 0d
      override def observe(row: org.apache.spark.sql.catalyst.InternalRow, i: Int): Unit = {
        val v = get(row, i)
        if (java.lang.Double.isNaN(v)) poisoned = true
        else if (!seen) { seen = true; mn = v; mx = v }
        else { if (v < mn) mn = v; if (v > mx) mx = v }
      }
      override def minMax: (Option[String], Option[String]) =
        if (poisoned || !seen) (None, None) else (Some("d" + mn), Some("d" + mx))
      override def resetMinMax(): Unit = { seen = false; poisoned = false }
    }

    private final class StringAcc(name: String) extends Acc(name) {
      private var mn: UTF8String = _
      private var mx: UTF8String = _
      override def observe(row: org.apache.spark.sql.catalyst.InternalRow, i: Int): Unit = {
        val v = row.getUTF8String(i)
        // clone only on bound replacement: the row's buffer may be recycled.
        // binaryCompare, not compareTo: Spark's compareTo throws whenever
        // `spark.testing` / SPARK_TESTING is set
        if (mn == null) { mn = v.clone(); mx = mn }
        else if (v.binaryCompare(mn) < 0) mn = v.clone()
        else if (v.binaryCompare(mx) > 0) mx = v.clone()
      }
      override def minMax: (Option[String], Option[String]) =
        if (mn == null) (None, None)
        else (Some("s" + mn.toString), Some("s" + mx.toString))
      override def resetMinMax(): Unit = { mn = null; mx = null }
    }

    private final class BoolAcc(name: String) extends Acc(name) {
      private var sawT = false
      private var sawF = false
      override def observe(row: org.apache.spark.sql.catalyst.InternalRow, i: Int): Unit =
        if (row.getBoolean(i)) sawT = true else sawF = true
      override def minMax: (Option[String], Option[String]) =
        if (!sawT && !sawF) (None, None)
        else (Some("b" + !sawF), Some("b" + sawT))
      override def resetMinMax(): Unit = { sawT = false; sawF = false }
    }

    private final class NullsOnlyAcc(name: String) extends Acc(name) {
      override def observe(row: org.apache.spark.sql.catalyst.InternalRow, i: Int): Unit = ()
      override def minMax: (Option[String], Option[String]) = (None, None)
      override def resetMinMax(): Unit = ()
    }

    private val ordinals: Array[Int] = fieldIndices.toArray
    private val accs: Array[Acc] = fieldIndices.map { i =>
      val f = schema(i)
      f.dataType match {
        case IntegerType => new LongAcc(f.name, 'l', (r, j) => r.getInt(j).toLong)
        case LongType => new LongAcc(f.name, 'l', (r, j) => r.getLong(j))
        case ShortType => new LongAcc(f.name, 'l', (r, j) => r.getShort(j).toLong)
        case ByteType => new LongAcc(f.name, 'l', (r, j) => r.getByte(j).toLong)
        case DateType => new LongAcc(f.name, 'D', (r, j) => r.getInt(j).toLong)
        case TimestampType | TimestampNTZType =>
          new LongAcc(f.name, 'T', (r, j) => r.getLong(j))
        case DoubleType => new DoubleAcc(f.name, (r, j) => r.getDouble(j))
        case FloatType => new DoubleAcc(f.name, (r, j) => r.getFloat(j).toDouble)
        case StringType => new StringAcc(f.name)
        case BooleanType => new BoolAcc(f.name)
        case _ => new NullsOnlyAcc(f.name)
      }
    }.toArray

    def observe(row: org.apache.spark.sql.catalyst.InternalRow): Unit = {
      var i = 0
      while (i < ordinals.length) {
        if (row.isNullAt(ordinals(i))) accs(i).nulls += 1
        else accs(i).observe(row, ordinals(i))
        i += 1
      }
    }

    /** Serialized [[FileStats]] for the rows observed since the last call,
      * then reset for the next file.
      */
    def snapshotAndReset(rows: Long): String = {
      val cols = accs.map { a =>
        val (mn, mx) = a.minMax
        a.name -> ColStats(Some(a.nulls), mn, mx)
      }.toMap
      accs.foreach(_.reset())
      FileStats(rows, cols).serialize
    }
  }

  @annotation.nowarn("cat=unchecked")
  private def compareGeneric(st: Statistics[_], a: AnyRef, b: AnyRef): Int =
    st.comparator.asInstanceOf[java.util.Comparator[AnyRef]].compare(a, b)

  /** Canonical token: tag + a string whose parse round-trips the value
    * EXACTLY in the tag's domain (floats render as their exactly-widened
    * double so a max bound can never shrink).
    */
  private def render(tag: Char, v: AnyRef): String = tag + (v match {
    case b: org.apache.parquet.io.api.Binary => b.toStringUsingUTF8
    case f: java.lang.Float => f.doubleValue.toString
    case other => other.toString
  })
}
