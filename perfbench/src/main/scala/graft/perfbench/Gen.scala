package graft.perfbench

/** One landed event, in the reference example's shape: key, user, message,
  * generator timestamp and the partition column.
  */
final case class Event(id: Long, user: String, msg: String, ts: Long, part: String)

/** One document offered to the near-dedup stream. */
final case class Doc(doc_id: Long, text: String)

/** Seeded input generators. Every value is a pure function of (seed, index),
  * so the same seed gives the same inputs whichever epoch or thread asks.
  */
object Gen {

  def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** Uniform in [0, 1) from a hash. */
  def unit(h: Long): Double = (h >>> 11).toDouble / (1L << 53).toDouble

  private val Vocab: Array[String] = Array.tabulate(512) { i =>
    val h = mix(i.toLong)
    val len = 3 + (h & 7).toInt
    (0 until len).map(k => ('a' + ((h >>> (8 + 5 * k)) & 15).toInt).toChar).mkString
  }

  /** Events with `partitions` partition values drawn with Zipf weights of
    * exponent `skew` (0 = uniform), `msgWords` random words before the
    * row's unique suffix (so `msg` is unique per row, yet its min/max over
    * any file spans the vocabulary: only a bloom sidecar can skip on it),
    * and ids increasing with arrival (so per-file id ranges are disjoint
    * across epochs and min/max stats can skip on `id`).
    */
  final class Events(seed: Long, partitions: Int, skew: Double, msgWords: Int) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(partitions)(k => 1.0 / math.pow(k + 1.0, skew))
      val s = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / s)
    }

    def partOf(id: Long): String = {
      val u = unit(mix(seed * 31 + id))
      var k = 0
      while (k < partitions - 1 && u >= cdf(k)) k += 1
      f"p$k%02d"
    }

    def msgOf(id: Long): String = {
      val sb = new StringBuilder
      var w = 0
      while (w < msgWords) {
        sb.append(Vocab((mix(seed * 131 + id * 17 + w) & 511).toInt)).append(' ')
        w += 1
      }
      sb.append('#').append(id).toString
    }

    def event(id: Long, ts: Long): Event =
      Event(id, f"u${math.floorMod(mix(seed + 7 * id), 10000L)}%05d", msgOf(id), ts, partOf(id))

    val partValues: Seq[String] = (0 until partitions).map(k => f"p$k%02d")
  }

  /** Documents with designed shares of exact duplicates and near duplicates
    * (one token of 25 replaced) of earlier unique documents; uniques draw
    * their tokens from disjoint per-document ranges, so no two uniques
    * share a shingle and none can be dropped by a band collision.
    */
  final class Docs(seed: Long, exactShare: Double, nearShare: Double) {
    val Tokens = 25

    /** 0 = unique, 1 = exact duplicate, 2 = near duplicate. Doc 0 is unique. */
    def kind(i: Long): Int = {
      if (i == 0) return 0
      val u = unit(mix(seed * 17 + i))
      if (u < exactShare) 1 else if (u < exactShare + nearShare) 2 else 0
    }

    /** The earlier doc a duplicate copies: walk back to a unique one. */
    def sourceOf(i: Long): Long = {
      var j = math.floorMod(mix(seed * 29 + i), i)
      while (kind(j) != 0) j -= 1
      j
    }

    private def tokens(i: Long): Array[String] =
      Array.tabulate(Tokens)(t => s"w${math.floorMod(mix(seed * 7 + i), 1000000007L)}x$t")

    def doc(i: Long): Doc = kind(i) match {
      case 0 => Doc(i, tokens(i).mkString(" "))
      case 1 => Doc(i, tokens(sourceOf(i)).mkString(" "))
      case _ =>
        val t = tokens(sourceOf(i))
        t(12) = s"m$i"
        Doc(i, t.mkString(" "))
    }
  }
}
