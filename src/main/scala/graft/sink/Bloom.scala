package graft.sink

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-file BLOOM FILTER sidecars for plan-time skipping on
  * point-lookup predicates — the complement of [[FileStats]] min/max:
  * a high-cardinality column whose values interleave across files (user
  * ids, request ids, content hashes) has useless per-file ranges unless
  * the table is re-clustered, but a per-file bloom answers `col = v`
  * membership directly. This is the bloom-filter-index design of
  * log-structured table formats (Delta's bloom filter index, Parquet's
  * footer blooms, ORC bloom streams) applied at the MANIFEST level: the
  * scan prunes a committed file without opening it.
  *
  * Mechanics:
  *  - opt-in per write via `bloom.columns` (+ `bloom.bits` sizing); every
  *    landing format records the same sidecar (`<data-file>.bloom`) since
  *    the writer observes each row anyway;
  *  - sidecars are NOT manifest-listed: absence of one (foreign files,
  *    clustered rewrites, disabled option) simply declines to skip —
  *    skipping is conservative exactly like [[FileStats.prunes]];
  *  - the scan probes sidecars only for files that survive min/max
  *    pruning and only when an equality/IN predicate exists, so the
  *    driver-side IO is bounded by the survivor count of a point lookup;
  *  - byte-level compaction ORs the input sidecars into the consolidated
  *    file's sidecar when geometries match (a bloom of a union is the OR
  *    of blooms) — skipping survives table maintenance;
  *  - deletion rides the existing data-file delete paths.
  *
  * Value canonicalization mirrors [[FileStats]]' tag domains ('l'ong
  * family, 'd'ouble family, 's'tring, 'b'oolean) with the same
  * exact-widening rules on the probe side, so a probe value whose runtime
  * type cannot be compared exactly declines to skip instead of hashing a
  * lossy conversion. k = 5 hash functions (double hashing over two XXH64
  * seeds); with the default m = 2^20 bits per column a 1M-row file sits
  * near fpp ~= 0.1, and `bloom.bits` scales m for bigger segments — a
  * false POSITIVE only costs a planned file, never correctness.
  */
object Bloom {

  val Magic = 0x47424C4D // "GBLM"
  val Version = 1
  val NumHashes = 5
  val DefaultBits: Int = 1 << 20

  private val Seed1 = 0xA1L
  private val Seed2 = 0xB2L

  /** FileStats-compatible tag for a bloom-able column type; None marks an
    * unsupported type (arrays, maps, decimals, binary...).
    */
  def tagFor(dt: DataType): Option[Char] = dt match {
    case IntegerType | LongType | ShortType | ByteType => Some('l')
    // separate tags (FileStats 'D'/'T'): a column re-typed across writer
    // lineages must decline the probe, not hash days against micros and
    // report a false "absent"
    case DateType => Some('D')
    case TimestampType | TimestampNTZType => Some('T')
    case DoubleType | FloatType => Some('d')
    case StringType => Some('s')
    case BooleanType => Some('b')
    case _ => None
  }

  /** One column's filter: fixed geometry (m bits), k = [[NumHashes]]. */
  final class ColBloom(val tag: Char, val bits: Int, val words: Array[Long]) {

    private def set(pos: Long): Unit = {
      val p = ((pos % bits) + bits) % bits
      words((p >>> 6).toInt) |= 1L << (p & 63)
    }

    private def get(pos: Long): Boolean = {
      val p = ((pos % bits) + bits) % bits
      (words((p >>> 6).toInt) & (1L << (p & 63))) != 0
    }

    def add(h1: Long, h2: Long): Unit = {
      var i = 0
      while (i < NumHashes) { set(h1 + i * h2); i += 1 }
    }

    def mightContain(h1: Long, h2: Long): Boolean = {
      var i = 0
      while (i < NumHashes) {
        if (!get(h1 + i * h2)) return false
        i += 1
      }
      true
    }
  }

  /** A file's sidecar: column name → bloom. */
  final class FileBloom(val cols: Map[String, ColBloom]) {

    /** True when `filter` provably matches NO row of the file — same
      * conservative contract and And/Or recursion as [[FileStats.prunes]].
      * Only membership shapes are decidable here; null-oriented filters
      * fall through (blooms record non-null values only, and `col = v`
      * never matches a null row anyway).
      */
    def prunes(filter: Filter): Boolean = filter match {
      case And(l, r) => prunes(l) || prunes(r)
      case Or(l, r) => prunes(l) && prunes(r)
      case EqualTo(a, v) => v != null && absent(a, v)
      case EqualNullSafe(a, v) => v != null && absent(a, v)
      case In(a, vs) =>
        vs != null && vs.nonEmpty && vs.forall(v => v == null || absent(a, v))
      case _ => false
    }

    private def absent(name: String, v: Any): Boolean =
      cols.get(name).exists { c =>
        probeHashes(c.tag, v) match {
          case Some((h1, h2)) => !c.mightContain(h1, h2)
          case None => false // not exactly convertible: decline to skip
        }
      }
  }

  /** (h1, h2) for a WRITE-side value already in its canonical domain. */
  private def hashPair(canonical: Long): (Long, Long) =
    (XXH64.hashLong(canonical, Seed1), XXH64.hashLong(canonical, Seed2))

  private def hashPair(s: UTF8String): (Long, Long) =
    (XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, Seed1),
      XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, Seed2))

  /** -0.0 folds onto 0.0 (they compare equal) and NaN onto the canonical
    * bit pattern, so write and probe sides can never disagree on bits.
    */
  private def canonicalDouble(d: Double): Long =
    if (java.lang.Double.isNaN(d)) 0x7ff8000000000000L
    else java.lang.Double.doubleToLongBits(d + 0.0d)

  /** Probe-side hashes for a filter value against a stored tag, with
    * [[FileStats]]' exact-widening rules (a Long probe against a 'd'
    * column refuses, etc.). None → decline to skip.
    */
  private def probeHashes(tag: Char, v: Any): Option[(Long, Long)] =
    tag match {
      case 'l' => FileStats.asLong(v).map(hashPair)
      case 'D' => FileStats.asDateDays(v).map(hashPair)
      case 'T' => FileStats.asMicros(v).map(hashPair)
      case 'd' => FileStats.asDouble(v).map(d => hashPair(canonicalDouble(d)))
      case 's' => v match {
        case s: String => Some(hashPair(UTF8String.fromString(s)))
        case u: UTF8String => Some(hashPair(u))
        case _ => None
      }
      case 'b' => v match {
        case b: Boolean => Some(hashPair(if (b) 1L else 0L))
        case _ => None
      }
      case _ => None
    }

  /** Row-at-a-time accumulator for one open segment file; snapshot at file
    * rotation. Unsupported column types fail construction loudly (the
    * option asked for skipping the engine cannot deliver).
    */
  final class Running(schema: StructType, colNames: Seq[String], bits: Int) {
    require(bits > 0 && bits % 64 == 0,
      s"bloom.bits must be a positive multiple of 64, got $bits")
    // the read side's validGeometry hard-caps bits at 2^28 (a corrupted
    // sidecar must not allocate gigabytes) — writing beyond the cap
    // would pay the full sidecar IO forever while every open silently
    // declines, so fail the configuration up front instead
    require(bits <= (1 << 28),
      s"bloom.bits must be <= ${1 << 28} (the reader's geometry cap); " +
        s"got $bits — larger sidecars would be written but never read")

    private final class Acc(val name: String, val ordinal: Int, val tag: Char,
        val hash: (InternalRow, Int) => (Long, Long))

    private val accs: Array[Acc] = colNames.map { n =>
      val i = schema.fieldNames.indexWhere(_.equalsIgnoreCase(n))
      require(i >= 0, s"bloom column '$n' not in schema " +
        schema.fieldNames.mkString(", "))
      val f = schema(i)
      val tag = tagFor(f.dataType).getOrElse(throw new IllegalArgumentException(
        s"bloom column '$n': type ${f.dataType.simpleString} has no " +
          "canonical hash domain (supported: integral/date/timestamp, " +
          "float/double, string, boolean)"))
      val h: (InternalRow, Int) => (Long, Long) = f.dataType match {
        case IntegerType | DateType => (r, j) => hashPair(r.getInt(j).toLong)
        case LongType | TimestampType | TimestampNTZType =>
          (r, j) => hashPair(r.getLong(j))
        case ShortType => (r, j) => hashPair(r.getShort(j).toLong)
        case ByteType => (r, j) => hashPair(r.getByte(j).toLong)
        case DoubleType => (r, j) => hashPair(canonicalDouble(r.getDouble(j)))
        case FloatType =>
          (r, j) => hashPair(canonicalDouble(r.getFloat(j).toDouble))
        case StringType => (r, j) => hashPair(r.getUTF8String(j))
        case BooleanType =>
          (r, j) => hashPair(if (r.getBoolean(j)) 1L else 0L)
        case other => throw new IllegalStateException(s"unreachable: $other")
      }
      new Acc(f.name, i, tag, h)
    }.toArray

    private var blooms: Array[ColBloom] = fresh()

    private def fresh(): Array[ColBloom] =
      accs.map(a => new ColBloom(a.tag, bits, new Array[Long](bits / 64)))

    def observe(row: InternalRow): Unit = {
      var i = 0
      while (i < accs.length) {
        val ord = accs(i).ordinal
        if (!row.isNullAt(ord)) {
          val (h1, h2) = accs(i).hash(row, ord)
          blooms(i).add(h1, h2)
        }
        i += 1
      }
    }

    /** The accumulated sidecar content, then reset for the next file. */
    def snapshotAndReset(): FileBloom = {
      val out = new FileBloom(
        accs.zip(blooms).map { case (a, b) => a.name -> b }.toMap)
      blooms = fresh()
      out
    }
  }

  def sidecarPath(dataFile: String): Path = new Path(dataFile + ".bloom")

  def write(fs: FileSystem, dataFile: String, bloom: FileBloom): Unit = {
    val out = new java.io.DataOutputStream(
      fs.create(sidecarPath(dataFile), true))
    try {
      out.writeInt(Magic)
      out.writeInt(Version)
      out.writeInt(NumHashes)
      out.writeInt(bloom.cols.size)
      bloom.cols.toSeq.sortBy(_._1).foreach { case (name, c) =>
        out.writeUTF(name)
        out.writeByte(c.tag.toInt)
        out.writeInt(c.bits)
        c.words.foreach(out.writeLong)
      }
    } finally out.close()
  }

  /** Geometry sanity for a sidecar read off disk: a foreign/bit-flipped
    * header must DECLINE (None) at read time, never throw at probe time
    * (bits = 0 would divide by zero in mightContain). The upper bound
    * (2^28 bits = 32 MiB/column) also stops a corrupt length from
    * allocating unbounded driver memory.
    */
  private def validGeometry(bits: Int): Boolean =
    bits > 0 && bits % 64 == 0 && bits <= (1 << 28)

  /** None on a missing/foreign/corrupt sidecar — the file just never
    * bloom-skips. `wanted` restricts which columns' bitsets are LOADED
    * (others are skipped over): a point-lookup plan pass only pays for
    * the columns its predicates actually name, a header-read otherwise.
    */
  def read(fs: FileSystem, dataFile: String,
      wanted: Option[Set[String]] = None): Option[FileBloom] =
    try {
      val p = sidecarPath(dataFile)
      if (!fs.exists(p)) None
      else {
        val in = new java.io.DataInputStream(fs.open(p))
        try {
          if (in.readInt() != Magic || in.readInt() != Version ||
              in.readInt() != NumHashes) None
          else {
            val n = in.readInt()
            if (n < 0 || n > 10000) None
            else {
              val cols = Seq.newBuilder[(String, ColBloom)]
              var ok = true
              var i = 0
              while (ok && i < n) {
                val name = in.readUTF()
                val tag = in.readByte().toChar
                val bits = in.readInt()
                if (!validGeometry(bits)) ok = false
                else if (wanted.exists(!_.contains(name))) {
                  // not referenced by any pushed membership filter: skip
                  // the bitset bytes without materializing them
                  var toSkip = bits / 8
                  while (toSkip > 0) {
                    val skipped = in.skipBytes(toSkip)
                    if (skipped <= 0) throw new java.io.EOFException()
                    toSkip -= skipped
                  }
                } else {
                  val words = new Array[Long](bits / 64)
                  var j = 0
                  while (j < words.length) { words(j) = in.readLong(); j += 1 }
                  cols += name -> new ColBloom(tag, bits, words)
                }
                i += 1
              }
              if (ok) Some(new FileBloom(cols.result().toMap)) else None
            }
          }
        } finally in.close()
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Attribute names a membership-shaped filter can probe — the `wanted`
    * set for [[read]].
    */
  def membershipAttributes(filters: Seq[Filter]): Set[String] = {
    def walk(f: Filter): Seq[String] = f match {
      case And(l, r) => walk(l) ++ walk(r)
      case Or(l, r) => walk(l) ++ walk(r)
      case EqualTo(a, _) => Seq(a)
      case EqualNullSafe(a, _) => Seq(a)
      case In(a, _) => Seq(a)
      case _ => Seq.empty
    }
    filters.flatMap(walk).toSet
  }

  /** OR the input files' sidecars (read through `fs`) into the single
    * consolidated output's sidecar (written through `out`, the outputs'
    * own [[DataFs]]) — only when every input has one and all geometries
    * agree (same columns, tags, sizes); otherwise no-op (absence = no
    * skip). Best-effort: a failure must never fail the compaction.
    */
  def tryMergeSidecars(fs: FileSystem, out: FileSystem,
      inputFiles: Seq[String], outputs: Seq[Path]): Unit =
    if (outputs.size == 1 && inputFiles.nonEmpty) try {
      val read0 = inputFiles.map(f => read(fs, f))
      if (read0.forall(_.isDefined)) {
        val all = read0.map(_.get)
        val head = all.head
        val compatible = all.tail.forall { b =>
          b.cols.keySet == head.cols.keySet && b.cols.forall { case (n, c) =>
            val h = head.cols(n)
            c.tag == h.tag && c.bits == h.bits
          }
        }
        if (compatible) {
          val merged = head.cols.map { case (n, h) =>
            val words = new Array[Long](h.words.length)
            all.foreach { b =>
              val w = b.cols(n).words
              var i = 0
              while (i < words.length) { words(i) |= w(i); i += 1 }
            }
            n -> new ColBloom(h.tag, h.bits, words)
          }
          write(out, outputs.head.toString, new FileBloom(merged))
        }
      }
    } catch { case scala.util.control.NonFatal(_) => }

  /** Delete a data file's sidecar if present — riders on every data-file
    * delete path (abort, compaction cleanup, trash purge).
    */
  def deleteSidecar(fs: FileSystem, dataFile: String): Unit =
    try fs.delete(sidecarPath(dataFile), false)
    catch { case scala.util.control.NonFatal(_) => }
}
