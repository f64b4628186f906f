package graft.sink

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.sources.{EqualTo, Filter, In}

import graft.SparkSpec

/** Per-file bloom sidecars ([[Bloom]]): point-lookup skipping on a
  * high-cardinality column whose values INTERLEAVE across files — min/max
  * stats cannot prune it (every file spans the whole domain), a bloom
  * proves per-file absence. The spec drives the full lifecycle: landing
  * (all three formats), plan-time skipping, compaction OR-merge, and
  * sidecar deletion with the data files.
  */
class BloomSkippingSpec extends SparkSpec {

  private def tmp(): String =
    tempDir("graft-bloom")

  private def opts(path: String, extra: (String, String)*): Map[String, String] =
    Map("path" -> path, "db" -> "testdb", "table" -> "t",
      "bloom.columns" -> "key,uid", "bloom.bits" -> "8192") ++ extra.toMap

  private def hconf = spark.sparkContext.hadoopConfiguration

  private def fs(dir: String) = new Path(dir).getFileSystem(hconf)

  /** `epochs` batches of rows whose `key` values interleave: file k holds
    * keys ≡ k (mod epochs), so every file's [min, max] spans the whole
    * domain and stats alone can never prune a key probe.
    */
  private def land(dir: String, epochs: Int, extra: (String, String)*): Unit = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Int]
    val q = in.toDS()
      // keys are a gcd-1 permutation of 0..399: unique (no cross-file
      // collisions) and interleaved (every file spans the whole domain)
      .map(i => (i.toLong, s"k-${i * 37 % 400}", i.toLong * 7, s"m$i"))
      .toDF("id", "key", "uid", "msg")
      .writeStream.format("graft-streaming")
      .options(opts(dir, extra: _*))
      .option("checkpointLocation",
        s"$dir/_cp${BloomSkippingSpec.cpSeq.incrementAndGet()}")
      .start()
    (0 until epochs).foreach { e =>
      in.addData(e until 400 by epochs: _*)
      q.processAllAvailable()
    }
    q.stop()
  }

  private def planned(dir: String, filters: Filter*): Int = {
    val df = spark.read.format("graft-streaming").options(opts(dir)).load()
    val builder = new GraftScanBuilder(df.schema,
      GraftSinkOptions.from(new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        scala.jdk.CollectionConverters.MapHasAsJava(opts(dir)).asJava)))
    builder.pushFilters(filters.toArray)
    builder.build().asInstanceOf[GraftScan].planInputPartitions().length
  }

  private def keyOf(i: Int): String = s"k-${i * 37 % 400}"

  for (format <- Seq("jsonl", "parquet", "orc"))
    test(s"$format landing: bloom sidecar skips interleaved-key point lookups") {
      val dir = tmp()
      land(dir, epochs = 4, "format" -> format)
      val tableDir = s"$dir/testdb.t"
      val log = new CommitLog(tableDir, hconf)
      val files = log.committedFiles()
      assert(files.size === 4)
      val f = fs(tableDir)
      assert(files.forall(p => f.exists(Bloom.sidecarPath(p))),
        "every committed file carries its bloom sidecar")

      // row 123 landed in exactly one epoch; min/max cannot prune (every
      // file spans the whole key domain) but blooms plan exactly 1 file
      // (8192 bits / 100 values per file → fp probability ~0)
      assert(planned(dir) === 4)
      assert(planned(dir, EqualTo("key", keyOf(123))) === 1)
      assert(planned(dir, EqualTo("uid", 123L * 7)) === 1)
      // absent IN-RANGE value (lexicographically inside every file's
      // [min, max], so stats cannot prune — only the bloom can) → 0 files
      assert(planned(dir, EqualTo("key", "k-151x")) === 0)
      assert(planned(dir, In("key", Array[Any]("k-151x", "k-251x"))) === 0)
      // IN with one present value keeps that file
      assert(planned(dir, In("key", Array[Any](keyOf(123), "k-151x"))) === 1)
      // type-mismatched probe declines to skip (exact-widening rule)
      assert(planned(dir, EqualTo("uid", 2.5)) === 4)
      // the filter is re-applied post-scan: results are exact
      val out = spark.read.format("graft-streaming").options(opts(dir)).load()
      assert(out.filter(out("key") === keyOf(123)).count() === 1)
      assert(out.count() === 400)
    }

  test("compaction ORs sidecars; clustering drops them; deletes ride along") {
    val dir = tmp()
    land(dir, epochs = 4, "format" -> "parquet")
    val tableDir = s"$dir/testdb.t"
    val log = new CommitLog(tableDir, hconf)
    val before = log.committedFiles()
    val f = fs(tableDir)

    // consolidation to ONE output: the merged sidecar must answer for the
    // union — present keys keep planning 1 file, absent keys 0
    val res = Compact.run(tableDir, hconf, retainMillis = 0L)
    assert(res.supersededEpochs === 4)
    val after = log.committedFiles()
    assert(after.size === 1)
    assert(f.exists(Bloom.sidecarPath(after.head)),
      "single consolidated output inherits an OR-merged sidecar")
    assert(before.forall(p => !f.exists(Bloom.sidecarPath(p))),
      "superseded files' sidecars are deleted with them")
    assert(planned(dir, EqualTo("key", keyOf(123))) === 1)
    assert(planned(dir, EqualTo("key", "k-151x")) === 0,
      "the OR-merged bloom still proves absence of an in-range value")
    // no false negatives: every landed key still plans its file
    (0 until 400 by 37).foreach { i =>
      assert(planned(dir, EqualTo("key", keyOf(i))) === 1,
        s"key of row $i must not be lost by the merge")
    }

    // clustered rewrite re-sorts rows across files: sidecars are dropped
    // (absence = no skip, min/max now prunes the clustered column) and the
    // old ones deleted
    Compact.cluster(spark, tableDir, Seq("id"), retainMillis = 0L)
    val clustered = log.committedFiles()
    assert(clustered.forall(p => !f.exists(Bloom.sidecarPath(p))))
    assert(planned(dir, EqualTo("key", "k-151x")) === clustered.size,
      "no sidecar → conservative no-skip")
    val out = spark.read.format("graft-streaming").options(opts(dir)).load()
    assert(out.count() === 400)
  }

  test("corrupt sidecar geometry declines at read time, never throws at plan time") {
    val dir = tmp()
    land(dir, epochs = 2, "format" -> "parquet")
    val tableDir = s"$dir/testdb.t"
    val log = new CommitLog(tableDir, hconf)
    val victim = log.committedFiles().head
    val f = fs(tableDir)
    // overwrite the sidecar with a header that parses but declares an
    // invalid geometry (bits = 0): probing it would divide by zero if the
    // reader ever constructed the bloom
    val out = new java.io.DataOutputStream(
      f.create(Bloom.sidecarPath(victim), true))
    try {
      out.writeInt(Bloom.Magic); out.writeInt(Bloom.Version)
      out.writeInt(Bloom.NumHashes); out.writeInt(1)
      out.writeUTF("key"); out.writeByte('s'.toInt); out.writeInt(0)
    } finally out.close()
    assert(Bloom.read(f, victim).isEmpty, "invalid geometry must decline")
    // plan-time: the corrupt file declines to skip (conservative — still
    // planned even for an absent probe value), the healthy one prunes
    assert(planned(dir, EqualTo("key", "k-151x")) === 1)
    // and a PRESENT value still finds its row end-to-end
    val outDf = spark.read.format("graft-streaming").options(opts(dir)).load()
    assert(outDf.filter(outDf("key") === keyOf(123)).count() === 1)
  }

  test("geometry mismatch declines the merge; unsupported column type fails loudly") {
    val dir = tmp()
    // two lineages with different bloom.bits → OR-merge must decline
    // (second lineage batch-appended: a second stream would collide on
    // epoch ids and be replay-ignored)
    land(dir, epochs = 1, "format" -> "parquet")
    locally {
      import spark.implicits._
      Seq((9001L, "k-batch", 9001L * 7, "mb"))
        .toDF("id", "key", "uid", "msg")
        .write.format("graft-streaming")
        .options(opts(dir, "format" -> "parquet", "bloom.bits" -> "4096"))
        .mode("append").save()
    }
    val tableDir = s"$dir/testdb.t"
    val log = new CommitLog(tableDir, hconf)
    assert(log.committedFiles().size === 2)
    Compact.run(tableDir, hconf, retainMillis = 0L)
    val after = log.committedFiles()
    assert(after.size === 1)
    assert(!fs(tableDir).exists(Bloom.sidecarPath(after.head)),
      "mismatched geometries must not merge into a wrong bloom")
    assert(planned(dir, EqualTo("key", "k-151x")) === 1, "no bloom → no skip")

    // a bloom column with no canonical hash domain fails at write
    val err = intercept[Exception] {
      import spark.implicits._
      Seq((1L, BigDecimal("1.50"))).toDF("id", "dec")
        .write.format("graft-streaming")
        .option("path", tmp()).option("db", "d").option("table", "t")
        .option("bloom.columns", "dec").mode("append").save()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: messages(x.getCause))
    assert(messages(err).exists(m =>
      m != null && m.contains("no canonical hash domain")))
  }
}

object BloomSkippingSpec {
  val cpSeq = new java.util.concurrent.atomic.AtomicLong(0L)
}
