package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session; suites run in
  * the forked test JVM).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf0001 = "/root/testdata/sf0.001"
  def sf001 = "/root/testdata/sf0.01"

  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()

  /** A fresh temp directory, deleted with everything in it when the suite
    * ends.
    */
  def tempDir(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    tempDirs.add(p)
    p.toString
  }

  override protected def afterAll(): Unit =
    try {
      var p = tempDirs.poll()
      while (p != null) { TempDirs.delete(p.toFile); p = tempDirs.poll() }
    } finally super.afterAll()
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
