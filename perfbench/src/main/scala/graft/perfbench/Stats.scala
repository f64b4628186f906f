package graft.perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}

/** Measurement helpers shared by the workloads. */
object Stats {

  def now(): Long = System.nanoTime()

  /** Wall-clock milliseconds with the clock's sub-millisecond digits. */
  def wallMs(): Double = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000.0 + i.getNano / 1e6
  }
  def ms(t0: Long, t1: Long): Double = (t1 - t0) / 1e6
  def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  /** Nearest-rank percentile, `q` in [0, 1]. */
  def pct(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = now()
    val r = body
    (r, ms(t0, now()))
  }

  /** Bytes of every regular file below `dir` (data, sidecars, manifests). */
  def treeBytes(dir: String): Long = {
    val p = java.nio.file.Paths.get(new Path(dir).toUri.getPath)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val w = java.nio.file.Files.walk(p)
      try w.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size(_)).sum
      finally w.close()
    }
  }

  /** CPU nanoseconds (user and system) each live Java thread has used so
    * far, by thread id. The JVM's own collector and compiler threads are
    * not Java threads and are not in it.
    */
  def threadCpu(): Map[Long, Long] = {
    val mx = ManagementFactory.getThreadMXBean
    mx.getAllThreadIds.map(id => id -> mx.getThreadCpuTime(id)).filter(_._2 >= 0).toMap
  }

  /** CPU nanoseconds the Java threads used since snapshot `t0`. A thread
    * that ended meanwhile is not counted; the threads the library and Spark
    * run their work on are pooled and outlive a window.
    */
  def threadCpuSince(t0: Map[Long, Long]): Long =
    threadCpu().iterator.map { case (id, ns) => ns - t0.getOrElse(id, 0L) }.sum

  private val refTable = new Array[Int](1 << 14)
  @volatile private var refSink = 0

  /** CPU milliseconds the calling thread takes for one fixed computation
    * (2M xorshift steps scattered over a 64 KiB table): how fast the host
    * runs code at the moment. The neighbours' load on a shared host slows
    * it, and the ingest workloads' CPU per epoch with it.
    */
  def refCpuMs(): Double = {
    val mx = ManagementFactory.getThreadMXBean
    val c0 = mx.getCurrentThreadCpuTime
    var x = 0x9E3779B9
    var i = 0
    while (i < 2000000) {
      x ^= x << 13; x ^= x >>> 17; x ^= x << 5
      refTable(x & (refTable.length - 1)) += x
      i += 1
    }
    refSink = refTable(x & (refTable.length - 1))
    (mx.getCurrentThreadCpuTime - c0) / 1e6
  }

  /** The host's stolen and total CPU ticks so far, from the cpu line of
    * /proc/stat; zeros where there is no such file.
    */
  def hostTicks(): (Long, Long) = {
    val f = java.nio.file.Paths.get("/proc/stat")
    if (!java.nio.file.Files.isReadable(f)) (0L, 0L)
    else {
      val cpu = java.nio.file.Files.readAllLines(f).get(0).trim.split("\\s+").drop(1).map(_.toLong)
      (if (cpu.length > 7) cpu(7) else 0L, cpu.sum)
    }
  }
  /** Share of the host's CPU time the hypervisor stole between two
    * [[hostTicks]] readings.
    */
  def stealShare(t0: (Long, Long), t1: (Long, Long)): Double =
    (t1._1 - t0._1).toDouble / math.max(1L, t1._2 - t0._2)

  /** Total GC milliseconds so far, over all collectors. */
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Heap the running pipeline retains: occupancy right after a full
    * collection. The largest occupancy after the young collections of a
    * window depends on when the collections happen to fall and varied by a
    * third between runs; this does not.
    */
  def retainedMiB(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** File system operations counted by [[CountingFs]] (traced runs), and
    * bytes written from Hadoop's own statistics.
    */
  final case class FsOps(reads: Long, writes: Long, bytesWritten: Long) {
    def -(o: FsOps): FsOps = FsOps(reads - o.reads, writes - o.writes,
      bytesWritten - o.bytesWritten)
  }

  def fsOps(): FsOps = {
    val written = FileSystem.getGlobalStorageStatistics.iterator().asScala
      .flatMap(st => Option(st.getLong("bytesWritten"))).map(_.longValue).sum
    FsOps(CountingFs.reads.get, CountingFs.writes.get, written)
  }
}
