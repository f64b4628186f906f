package graft.sink

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** r19-advice regression guards on writer/scratch lifecycle behavior. */
class WriterContractSpec extends AnyFunSuite {

  private def opts(format: String, dir: String) = GraftSinkOptions(
    path = dir, db = "t", table = "x", partitionColumns = Seq.empty,
    batchSize = 10, txnPerBatch = 10, autoCreatePartitions = true,
    format = format)

  private val nested = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("nkeys", ArrayType(LongType))))

  test("jsonl writer rejects a nested schema at CONSTRUCTION, " +
      "not at the first written row") {
    val dir = java.nio.file.Files.createTempDirectory("wcs").toString
    // an all-empty-partition epoch writes no rows; a lazily-checked
    // encoder would let that epoch COMMIT on a schema the format can
    // never land — the contract must fail while the writer is built
    val e = intercept[IllegalArgumentException] {
      new GraftDataWriter(nested, opts("jsonl", dir),
        new Configuration(false), 0, 0L, 0L)
    }
    assert(e.getMessage.contains("scalar"))
  }

  test("parquet accepts a nested schema at construction; orc rejects it there") {
    val dir = java.nio.file.Files.createTempDirectory("wcs2").toString
    val w = new GraftDataWriter(nested, opts("parquet", dir),
      new Configuration(false), 0, 0L, 0L)
    w.abort() // never wrote; just proving construction succeeds
    // the ORC landing is scalar-only like jsonl, with the same
    // construction-time contract
    val e = intercept[IllegalArgumentException] {
      new GraftDataWriter(nested, opts("orc", dir),
        new Configuration(false), 0, 0L, 0L)
    }
    assert(e.getMessage.contains("scalar"))
  }

  test("TempDirs.scratch: re-requesting a prefix deletes the previous " +
      "scratch dir (bounded /tmp growth in looping sessions)") {
    val a = graft.TempDirs.scratch("graft_wcs_prefix")
    assert(new java.io.File(a).exists)
    val b = graft.TempDirs.scratch("graft_wcs_prefix")
    assert(!new java.io.File(a).exists,
      "previous same-prefix scratch dir must be reclaimed eagerly")
    assert(new java.io.File(b).exists)
    // distinct prefixes never interfere
    val c = graft.TempDirs.scratch("graft_wcs_other")
    assert(new java.io.File(b).exists && new java.io.File(c).exists)
  }
}
