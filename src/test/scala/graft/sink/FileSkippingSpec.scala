package graft.sink

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.sources._

import graft.SparkSpec

/** Plan-time file skipping over manifest-recorded column stats
  * ([[FileStats]]): parquet epochs record per-file min/max/null-count in
  * the commit manifest at write time, and the batch scan drops whole files
  * whose stats contradict a pushed predicate BEFORE planning an input
  * partition. Correctness is conservative-by-construction (Spark re-applies
  * every filter post-scan), so these tests pin both halves: results stay
  * exact, and the planned partition count actually shrinks.
  */
class FileSkippingSpec extends SparkSpec {

  private def tmp(): String =
    tempDir("graft-skip")

  private def opts(path: String, extra: (String, String)*): Map[String, String] =
    Map("path" -> path, "db" -> "testdb", "table" -> "t",
      "format" -> "parquet") ++ extra.toMap

  private def log(dir: String) =
    new CommitLog(s"$dir/testdb.t", spark.sparkContext.hadoopConfiguration)

  /** Write `epochs` disjoint-range epochs through the streaming sink. */
  private def writeEpochs(dir: String, epochs: Int, perEpoch: Int = 100): Unit = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Int]
    val q = in.toDS()
      .map(i => (i.toLong, s"m$i", i % 2 == 0,
        if (i % 10 == 0) null else s"tag$i", i / 100.0))
      .toDF("id", "msg", "even", "tag", "score")
      .writeStream.format("graft-streaming").options(opts(dir))
      .option("checkpointLocation", s"$dir/_cp").start()
    (0 until epochs).foreach { e =>
      in.addData(e * 1000 until e * 1000 + perEpoch: _*)
      q.processAllAvailable()
    }
    q.stop()
  }

  /** Planned input partitions for a read with `filters` pushed. */
  private def planned(dir: String, filters: Filter*): Int = {
    val df = spark.read.format("graft-streaming").options(opts(dir)).load()
    val builder = new GraftScanBuilder(df.schema,
      GraftSinkOptions.from(new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        scala.jdk.CollectionConverters.MapHasAsJava(opts(dir)).asJava)))
    builder.pushFilters(filters.toArray)
    builder.build().asInstanceOf[GraftScan].planInputPartitions().length
  }

  test("stats land in the manifest for every parquet file") {
    val dir = tmp()
    writeEpochs(dir, 2)
    val ms = log(dir).manifests()
    val withFiles = ms.filter(_.files.nonEmpty)
    assert(withFiles.nonEmpty)
    withFiles.foreach { m =>
      m.files.foreach { f =>
        val st = m.fileStats.get(f)
        assert(st.isDefined, s"no stats recorded for $f")
        val id = st.get.cols("id")
        assert(id.min.exists(_.startsWith("l")) && id.max.exists(_.startsWith("l")))
        assert(id.nullCount.contains(0L))
        // the all-nulls-every-10th column records its null count
        assert(st.get.cols("tag").nullCount.exists(_ > 0L))
        assert(st.get.cols("msg").min.exists(_.startsWith("s")))
        assert(st.get.cols("score").min.exists(_.startsWith("d")))
      }
    }
  }

  test("planning skips files a predicate provably excludes") {
    val dir = tmp()
    writeEpochs(dir, 5)
    val all = planned(dir)
    assert(all >= 5, s"expected >=5 planned files, got $all")
    // point lookup: exactly one epoch's range contains 2042
    assert(planned(dir, EqualTo("id", 2042L)) === 1)
    // range straddling two epochs
    assert(planned(dir, GreaterThanOrEqual("id", 3050L), LessThan("id", 4010L)) === 2)
    // nothing anywhere
    assert(planned(dir, EqualTo("id", 999999L)) === 0)
    assert(planned(dir, GreaterThan("id", 999999L)) === 0)
    assert(planned(dir, LessThan("id", 0L)) === 0)
    // In over two epochs' ranges
    assert(planned(dir, In("id", Array[Any](5L, 3005L))) === 2)
    // string equality: file min/max bound the per-epoch msg range loosely
    // (lexicographic), but a value above every max must plan zero
    assert(planned(dir, EqualTo("msg", "zzz")) === 0)
    assert(planned(dir, StringStartsWith("msg", "zzz")) === 0)
    // double range
    assert(planned(dir, GreaterThan("score", 100.0)) === 0)
    // And/Or composition
    assert(planned(dir, Or(EqualTo("id", 5L), EqualTo("id", 4005L))) === 2)
    assert(planned(dir, And(IsNotNull("id"), EqualTo("id", 5L))) === 1)
    // filters that cannot prune keep every file: Long-vs-double domain
    // mismatch is refused, unknown columns are ignored
    assert(planned(dir, EqualTo("even", true)) === all)
    assert(planned(dir, EqualTo("nope", 1)) === all)
  }

  test("skipped plans still return exact results") {
    import spark.implicits._
    val dir = tmp()
    writeEpochs(dir, 5)
    val t = spark.read.format("graft-streaming").options(opts(dir)).load()
    assert(t.filter($"id" === 2042L).select("msg").as[String].collect() === Array("m2042"))
    assert(t.filter($"id" >= 3050L && $"id" < 4010L).count() === 60)
    assert(t.filter($"id" === 999999L).count() === 0)
    assert(t.filter($"tag".isNull).count() === 50)
    assert(t.filter($"tag".isNotNull && $"id" < 1000L).count() === 90)
  }

  test("null-count pruning: IsNull skips all-valued files, IsNotNull skips all-null ones") {
    import spark.implicits._
    val dir = tmp()
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Int]
    val q = in.toDS()
      .map(i => (i.toLong, if (i < 1000) null else s"v$i"))
      .toDF("id", "v")
      .writeStream.format("graft-streaming").options(opts(dir))
      .option("checkpointLocation", s"$dir/_cp").start()
    in.addData(0 until 100: _*) // epoch 0: v all null
    q.processAllAvailable()
    in.addData(1000 until 1100: _*) // epoch 1: v never null
    q.processAllAvailable()
    q.stop()
    assert(planned(dir, IsNull("v")) === 1)
    assert(planned(dir, IsNotNull("v")) === 1)
    val t = spark.read.format("graft-streaming").options(opts(dir)).load()
    assert(t.filter($"v".isNull).count() === 100)
    assert(t.filter($"v".isNotNull).count() === 100)
  }

  test("compaction carries stats: skipping still works on consolidated files") {
    val dir = tmp()
    writeEpochs(dir, 4)
    val r = Compact.run(s"$dir/testdb.t", spark.sparkContext.hadoopConfiguration)
    assert(r.supersededEpochs > 0)
    // all four epochs folded into one file — whole-table filters hit it,
    // out-of-range filters plan nothing
    val all = planned(dir)
    assert(all === 1, s"expected 1 consolidated file, got $all")
    assert(planned(dir, EqualTo("id", 999999L)) === 0)
    assert(planned(dir, EqualTo("id", 2042L)) === 1)
    import spark.implicits._
    val t = spark.read.format("graft-streaming").options(opts(dir)).load()
    assert(t.filter($"id" === 2042L).select("msg").as[String].collect() === Array("m2042"))
  }

  test("JSONL epochs record stats too: skipping works across mixed formats") {
    import spark.implicits._
    val dir = tmp()
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Int]
    // epoch 0 lands JSONL, epoch 1 parquet (format is a per-write option)
    val q1 = in.toDS().map(i => (i.toLong, s"m$i")).toDF("id", "msg")
      .writeStream.format("graft-streaming")
      .options(opts(dir, "format" -> "jsonl"))
      .option("checkpointLocation", s"$dir/_cp1").start()
    in.addData(0 until 100: _*)
    q1.processAllAvailable()
    q1.stop()
    // parquet epoch via the batch append path (a second streaming lineage
    // would restart at epoch 0 and be discarded as a replay, by design);
    // batch commits record stats the same way
    (1000 until 1100).map(i => (i.toLong, s"m$i")).toDF("id", "msg")
      .write.format("graft-streaming").options(opts(dir))
      .mode("append").save()
    // JSONL epochs accumulate row-at-a-time stats ([[FileStats.Running]]),
    // so point lookups skip the out-of-range file REGARDLESS of format
    assert(planned(dir, EqualTo("id", 5L)) === 1)
    assert(planned(dir, EqualTo("id", 1005L)) === 1)
    assert(planned(dir, EqualTo("id", 999999L)) === 0)
    val t = spark.read.format("graft-streaming").options(opts(dir)).load()
    assert(t.filter($"id" === 5L).count() === 1)
    assert(t.filter($"id" === 1005L).count() === 1)
    assert(t.count() === 200)
  }

  test("JSONL stats match the parquet domains: lookups, ranges, nulls, NaN") {
    import spark.implicits._
    val dir = tmp()
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Int]
    val q = in.toDS()
      .map(i => (i.toLong, s"m$i", i % 2 == 0,
        if (i % 10 == 0) null else s"tag$i",
        if (i % 100 == 7) Double.NaN else i / 100.0))
      .toDF("id", "msg", "even", "tag", "score")
      .writeStream.format("graft-streaming")
      .options(opts(dir, "format" -> "jsonl"))
      .option("checkpointLocation", s"$dir/_cp").start()
    (0 until 5).foreach { e =>
      in.addData(e * 1000 until e * 1000 + 100: _*)
      q.processAllAvailable()
    }
    q.stop()
    val ms = log(dir).manifests().filter(_.files.nonEmpty)
    assert(ms.nonEmpty)
    ms.foreach(m => m.files.foreach { f =>
      val st = m.fileStats.get(f)
      assert(st.isDefined, s"no stats recorded for JSONL $f")
      assert(st.get.cols("id").min.exists(_.startsWith("l")))
      assert(st.get.cols("msg").min.exists(_.startsWith("s")))
      assert(st.get.cols("tag").nullCount.exists(_ > 0L))
      // NaN in every file poisons double min/max, exactly like parquet
      assert(st.get.cols("score").min.isEmpty)
      assert(st.get.cols("score").nullCount.contains(0L))
    })
    assert(planned(dir, EqualTo("id", 2042L)) === 1)
    assert(planned(dir, GreaterThanOrEqual("id", 3050L), LessThan("id", 4010L)) === 2)
    assert(planned(dir, EqualTo("id", 999999L)) === 0)
    assert(planned(dir, EqualTo("msg", "zzz")) === 0)
    // NaN-poisoned double column never prunes
    assert(planned(dir, GreaterThan("score", 100.0)) === 5)
    val t = spark.read.format("graft-streaming").options(opts(dir)).load()
    assert(t.filter($"id" === 2042L).select("msg").as[String].collect() === Array("m2042"))
    assert(t.filter($"tag".isNull).count() === 50)
  }

  test("serialize/parse round-trips hostile names and values") {
    val st = FileStats(42L, Map(
      "col:with\ttabs" -> ColStats(Some(3L), Some("sa\tb:c"), Some("sz%z=/")),
      "плain" -> ColStats(None, Some("l-7"), Some("l9000")),
      "-" -> ColStats(Some(0L), None, Some("d1.5"))))
    val tokens = st.serialize.split('\t').toSeq
    val back = FileStats.parse(tokens)
    assert(back.contains(st))
    // malformed input declines instead of failing
    assert(FileStats.parse(Seq("garbage")).isEmpty)
    assert(FileStats.parse(Seq("R:notanumber")).isEmpty)
    assert(FileStats.parse(Seq.empty).isEmpty)
  }

  test("string stats work with spark.testing set (UTF8String.compareTo throws there)") {
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    import org.apache.spark.unsafe.types.UTF8String
    val prior = Option(System.getProperty("spark.testing"))
    System.setProperty("spark.testing", "true")
    try {
      val running = new FileStats.Running(
        StructType(Seq(StructField("s", StringType))), Seq(0))
      Seq("mm", "aa", "zz").foreach(v =>
        running.observe(org.apache.spark.sql.catalyst.InternalRow(UTF8String.fromString(v))))
      val st = FileStats.parse(running.snapshotAndReset(3L).split('\t').toSeq).get
      assert(st.cols("s") === ColStats(Some(0L), Some("saa"), Some("szz")))
      assert(st.prunes(EqualTo("s", "zzz")))
      assert(!st.prunes(EqualTo("s", "mm")))
    } finally prior match {
      case Some(v) => System.setProperty("spark.testing", v)
      case None => System.clearProperty("spark.testing")
    }
  }

  test("pruning logic edge cases: nulls, NaN refusal, boundary compares") {
    val st = FileStats(10L, Map(
      "a" -> ColStats(Some(0L), Some("l10"), Some("l20")),
      "s" -> ColStats(Some(2L), Some("sbb"), Some("sdd")),
      "d" -> ColStats(Some(0L), Some("d-0.0"), Some("d2.5")),
      "allnull" -> ColStats(Some(10L), None, None)))
    // boundaries are inclusive
    assert(!st.prunes(EqualTo("a", 10)))
    assert(!st.prunes(EqualTo("a", 20L)))
    assert(st.prunes(EqualTo("a", 9)))
    assert(st.prunes(EqualTo("a", 21)))
    assert(st.prunes(LessThan("a", 10)))
    assert(!st.prunes(LessThanOrEqual("a", 10)))
    assert(st.prunes(GreaterThan("a", 20)))
    assert(!st.prunes(GreaterThanOrEqual("a", 20)))
    // -0.0 min vs 0.0 filter: IEEE-equal, must NOT prune GreaterThanOrEqual
    assert(!st.prunes(LessThanOrEqual("d", 0.0)))
    // NaN filter value refuses to prune
    assert(!st.prunes(EqualTo("d", Double.NaN)))
    // Long filter against double-tagged bound refused (2^53 rounding)
    assert(!st.prunes(EqualTo("d", 9007199254740993L)))
    // all-null column: every value predicate prunes, IsNotNull prunes
    assert(st.prunes(EqualTo("allnull", 1)))
    assert(st.prunes(IsNotNull("allnull")))
    assert(!st.prunes(IsNull("allnull")))
    assert(st.prunes(IsNull("a")))
    // strings
    assert(st.prunes(EqualTo("s", "aa")))
    assert(!st.prunes(EqualTo("s", "cc")))
    assert(st.prunes(StringStartsWith("s", "a")))
    assert(st.prunes(StringStartsWith("s", "e")))
    assert(!st.prunes(StringStartsWith("s", "c")))
    // prefix-truncation min side: min "bb" truncated to |"b"| is "b" == p
    assert(!st.prunes(StringStartsWith("s", "b")))
    // null-comparing predicates match nothing → always prunable
    assert(st.prunes(EqualTo("a", null)))
    // unknown column or un-statted type: never prune
    assert(!st.prunes(EqualTo("zz", 1)))
    assert(!st.prunes(Not(EqualTo("a", 1))))
    // And prunes if either side does; Or only if both do
    assert(st.prunes(And(EqualTo("a", 9), EqualTo("zz", 1))))
    assert(!st.prunes(Or(EqualTo("a", 9), EqualTo("zz", 1))))
    assert(st.prunes(Or(EqualTo("a", 9), EqualTo("a", 21))))
    // In with a null values array (public sources.In API) declines
    assert(!st.prunes(In("a", null)))
  }

  test("date/timestamp stats carry their own tag domains — cross-type probes decline") {
    // a date-written column: days ~19700. Probing it with a TIMESTAMP
    // value (column re-typed across writer lineages — the sink's schema
    // contract is name-set only) must DECLINE, not compare days against
    // micros and prune a file that contains matches
    val dateStats = FileStats(10L, Map(
      "ts" -> ColStats(Some(0L), Some("D19700"), Some("D19800"))))
    val probeTs = java.sql.Timestamp.valueOf("2020-01-01 00:00:00")
    assert(!dateStats.prunes(EqualTo("ts", probeTs)),
      "timestamp probe against date-tagged stats must not prune")
    assert(!dateStats.prunes(GreaterThan("ts", probeTs)))
    // same-domain probes still work on both new tags
    assert(dateStats.prunes(
      EqualTo("ts", java.sql.Date.valueOf("2099-01-01"))))
    assert(!dateStats.prunes(
      EqualTo("ts", java.time.LocalDate.ofEpochDay(19750))))
    val tsStats = FileStats(10L, Map(
      "ts" -> ColStats(Some(0L), Some("T0"), Some("T1000000"))))
    assert(tsStats.prunes(EqualTo("ts", probeTs)))
    assert(!tsStats.prunes(EqualTo("ts",
      java.time.Instant.ofEpochSecond(0L))))
    assert(!tsStats.prunes(EqualTo("ts", java.sql.Date.valueOf("1970-01-01"))),
      "date probe against timestamp-tagged stats must not prune")
    // LEGACY manifests tagged 'l' for date/timestamp columns: date and
    // timestamp probes decline (conservative), integer probes still work
    val legacy = FileStats(10L, Map(
      "ts" -> ColStats(Some(0L), Some("l19700"), Some("l19800"))))
    assert(!legacy.prunes(EqualTo("ts", probeTs)))
    assert(!legacy.prunes(EqualTo("ts", java.sql.Date.valueOf("2099-01-01"))))
    assert(legacy.prunes(EqualTo("ts", 10)))
  }

  /** One committed 30k-row ORC file (3 × 10k row groups, ids even-only and
    * ascending) written through the sink with the given extra options.
    */
  private def writeOrc30k(extra: (String, String)*): String = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = tmp()
    val in = MemoryStream[Int]
    val q = in.toDS().map(i => (i.toLong * 2, s"m$i"))
      .toDF("id", "msg")
      .writeStream.format("graft-streaming")
      .options(opts(dir, (Seq("format" -> "orc",
        "batch.size" -> "30000") ++ extra): _*))
      .option("checkpointLocation", s"$dir/_cp").start()
    in.addData(0 until 30000: _*)
    q.processAllAvailable()
    q.stop()
    dir
  }

  private def orcRowCount(dir: String,
      filters: org.apache.spark.sql.sources.Filter*): Long = {
    val files = log(dir).committedFiles().filter(_.endsWith(".orc"))
    assert(files.size === 1, s"expected one ORC file, got $files")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("msg",
        org.apache.spark.sql.types.StringType)))
    val r = new OrcIO.BatchReader(new org.apache.hadoop.fs.Path(files.head),
      schema, spark.sparkContext.hadoopConfiguration, filters.toSeq)
    try { var n = 0L; while (r.nextBatch()) n += r.batch.numRows; n }
    finally r.close()
  }

  test("ORC SARG pushdown skips row groups inside a committed file") {
    val dir = writeOrc30k()
    assert(orcRowCount(dir) === 30000L, "unfiltered read sees every row")
    // point hit: exactly one 10k row group survives the row index
    val hit = orcRowCount(dir, EqualTo("id", 30000L))
    assert(hit === 10000L, s"equality must keep one row group, read $hit")
    // range predicate: two of three groups excluded
    val range = orcRowCount(dir, GreaterThanOrEqual("id", 45000L))
    assert(range <= 20000L, s"range must drop leading groups, read $range")
    // provably-empty: outside the file's min/max entirely
    assert(orcRowCount(dir, EqualTo("id", 999999L)) === 0L)
    // unconvertible filter (column not in the file) degrades to no-skip
    assert(orcRowCount(dir, EqualTo("nope", 1L)) === 30000L)
  }

  test("ORC pushdown keeps every row a fractional bound admits") {
    // Spark's SARG conversion casts a literal to the column's leaf type
    // (a pushed EqualTo("id", 1.5) would become id = 1), so this pins that
    // the planner only pushes literals that already have the column's
    // type: `id < 20000.5` reaches the scan as `id <= 20000`
    val dir = writeOrc30k()
    val t = spark.read.format("graft-streaming")
      .options(opts(dir, "format" -> "orc")).load()
    assert(t.where("id < 20000.5").count() === 10001L)
  }

  test("ORC native blooms skip in-range misses; absent without the option") {
    // ids are even; odd probes sit inside every row group's [min, max] so
    // ONLY a bloom can exclude them. Five probes: P(all false-positive)
    // ≈ 0.05⁵ — deterministic in practice.
    // every probe strictly INSIDE one row group's id range (rg0 covers
    // 0..19998, rg1 20000..39998, rg2 40000..59998) — a boundary-gap id
    // like 39999 would be excluded by min/max alone
    val probes = Seq(5001L, 7777L, 12345L, 24681L, 43215L)
    val bloomed = writeOrc30k("bloom.columns" -> "id")
    val hits = probes.map(p => orcRowCount(bloomed, EqualTo("id", p)))
    assert(hits.exists(_ === 0L),
      s"native blooms must exclude some in-range miss, got $hits")
    // without the option, min/max can never exclude an in-range value
    val plain = writeOrc30k()
    assert(probes.map(p => orcRowCount(plain, EqualTo("id", p)))
      .forall(_ === 10000L), "no bloom → the covering row group survives")
  }

  test("parquet native blooms: in-range equality misses skip the row group") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // even-only ids: odd probes sit inside [min, max] so only a bloom can
    // exclude them; the 30k-row file is ONE 16 MiB row group, so a bloom
    // miss reads zero rows where the no-bloom control decodes all 30k
    def write30k(extra: (String, String)*): String = {
      val dir = tmp()
      val in = MemoryStream[Int]
      val q = in.toDS().map(i => (i.toLong * 2, s"m$i")).toDF("id", "msg")
        .writeStream.format("graft-streaming")
        .options(opts(dir, (Seq("batch.size" -> "30000") ++ extra): _*))
        .option("checkpointLocation", s"$dir/_cp").start()
      in.addData(0 until 30000: _*)
      q.processAllAvailable()
      q.stop()
      dir
    }
    def rowsRead(dir: String, filters: Filter*): Long = {
      val files = log(dir).committedFiles().filter(_.endsWith(".parquet"))
      assert(files.size === 1)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("msg",
          org.apache.spark.sql.types.StringType)))
      val r = ParquetIO.createVectorizedReader(
        new org.apache.hadoop.fs.Path(files.head), schema,
        spark.sparkContext.hadoopConfiguration, filters.toSeq)
      try {
        var n = 0L
        while (r.nextKeyValue()) n += r.getCurrentValue
          .asInstanceOf[org.apache.spark.sql.vectorized.ColumnarBatch].numRows()
        n
      } finally r.close()
    }
    def bloomOffsets(dir: String): Seq[Long] = {
      val f = log(dir).committedFiles().filter(_.endsWith(".parquet")).head
      val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f),
          spark.sparkContext.hadoopConfiguration))
      try {
        import scala.jdk.CollectionConverters._
        rdr.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala
          .filter(_.getPath.toDotString == "id")
          .map(_.getBloomFilterOffset)).toSeq
      } finally rdr.close()
    }
    val probes = Seq(5001L, 7777L, 12345L, 24681L, 43215L)
    val bloomed = write30k("bloom.columns" -> "id")
    // the writer option physically lands a bloom in the column chunk...
    assert(bloomOffsets(bloomed).forall(_ >= 0L),
      "bloom.columns must write a native parquet bloom filter")
    assert(bloomOffsets(write30k()).forall(_ < 0L),
      "no option, no bloom bytes")
    // ...and the vectorized read path's row-group filter excludes every
    // in-range miss through it (these 30k-row files are also
    // dictionary-encoded, so parquet's DICTIONARY level would catch the
    // misses too — blooms are the tier that survives once cardinality
    // forces the dictionary fallback to plain encoding at scale)
    assert(probes.map(p => rowsRead(bloomed, EqualTo("id", p)))
      .forall(_ === 0L), "in-range misses must read zero rows")
    // sanity: a present value must NOT be skipped away entirely — the
    // reader ALSO prunes at PAGE level via the column index (an observed
    // hit read 20k of 30k rows: only the pages that can hold the value),
    // so the contract here is "its rows survive", not "the whole group"
    assert(rowsRead(bloomed, EqualTo("id", 12344L)) > 0L,
      "an equality hit must keep the value's pages")
  }

  test("SARG conversion: And drops unconvertible sides, Not must not") {
    import org.apache.spark.sql.types._
    val fields = StructType(Seq(
      StructField("id", LongType), StructField("msg", StringType)))
    def conv(fs: org.apache.spark.sql.sources.Filter*) =
      OrcIO.searchArgument(fields, fs.toSeq)
    assert(conv(EqualTo("id", 1L)).isDefined)
    assert(conv(In("msg", Array("a", "b"))).isDefined)
    // And keeps the convertible conjunct (skipping on it alone is sound)
    assert(conv(And(EqualTo("id", 1L), EqualTo("zz", 2L))).isDefined)
    // Or and Not require full convertibility — partial would over-skip
    assert(conv(Or(EqualTo("id", 1L), EqualTo("zz", 2L))).isEmpty)
    assert(conv(Not(And(EqualTo("id", 1L), EqualTo("zz", 2L)))).isEmpty)
    assert(conv(Not(EqualTo("id", 1L))).isDefined)
    // null literals and unsupported types decline
    assert(conv(EqualTo("id", null)).isEmpty)
    assert(conv(EqualTo("zz", 1L)).isEmpty)
  }
}
