package graft.sink

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FSDataOutputStream, FileSystem, FilterFileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.types._

/** Regression guards on writer/scratch lifecycle behavior, and on the file
  * system data files are created through ([[DataFs]]).
  */
class WriterContractSpec extends graft.SparkSpec {
  import WriterContractSpec.dictRow

  private def opts(format: String, dir: String) = GraftSinkOptions(
    path = dir, db = "t", table = "x", partitionColumns = Seq.empty,
    batchSize = 10, txnPerBatch = 10, autoCreatePartitions = true,
    format = format)

  private val nested = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("nkeys", ArrayType(LongType))))

  test("jsonl writer rejects a nested schema at CONSTRUCTION, " +
      "not at the first written row") {
    val dir = tempDir("wcs")
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
    val dir = tempDir("wcs2")
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

  private def hconf = spark.sparkContext.hadoopConfiguration

  private def sinkOpts(path: String, extra: (String, String)*) =
    Map("path" -> path, "db" -> "testdb", "table" -> "t",
      "partition.columns" -> "region") ++ extra

  /** One epoch each into one partitioned table: orc by stream, then
    * parquet and jsonl by batch append.
    */
  private def landAllFormats(dir: String): String = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def region(i: Int) = if (i % 2 == 0) "EU" else "US"
    val in = MemoryStream[Int]
    val q = in.toDS().map(i => (i, region(i), s"m$i")).toDF("id", "region", "msg")
      .writeStream.format("graft-streaming")
      .options(sinkOpts(dir, "format" -> "orc"))
      .option("checkpointLocation", s"$dir/_cp").start()
    try {
      in.addData(1 to 50: _*)
      q.processAllAvailable()
    } finally q.stop()
    Seq("parquet" -> (51 to 100), "jsonl" -> (101 to 150)).foreach { case (format, ids) =>
      ids.map(i => (i, region(i), s"m$i")).toDF("id", "region", "msg")
        .write.format("graft-streaming").mode("append")
        .options(sinkOpts(dir, "format" -> format)).save()
    }
    s"$dir/testdb.t"
  }

  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0x1ff

  private def octal(s: String) = Integer.parseInt(s, 8)

  /** Hadoop's default file and directory modes under the session's umask. */
  private def defaultModes: (Int, Int) = {
    val umask = FsPermission.getUMask(hconf)
    (FsPermission.getFileDefault.applyUMask(umask).toShort.toInt,
      FsPermission.getDirDefault.applyUMask(umask).toShort.toInt)
  }

  /** Every data file and partition directory under `tableDir` carries
    * [[defaultModes]], and data files named `<prefix>-…` exist in all
    * three formats.
    */
  private def assertModes(tableDir: String, prefix: String): Unit = {
    val (fileMode, dirMode) = defaultModes
    val all = Files.walk(Paths.get(tableDir)).iterator.asScala.toList
    val exts = Seq(".jsonl", ".parquet", ".orc")
    val dataFiles = all.filter(p =>
      Files.isRegularFile(p) && exts.exists(p.getFileName.toString.endsWith))
    val partDirs = all.filter(p => Files.isDirectory(p) && p.getFileName.toString.contains("="))
    val named = dataFiles.map(_.getFileName.toString).filter(_.startsWith(s"$prefix-"))
    assert(exts.forall(e => named.exists(_.endsWith(e))), named)
    assert(partDirs.size === 2)
    dataFiles.foreach(f => assert(mode(f) === fileMode, f"$f: ${mode(f)}%o"))
    partDirs.foreach(d => assert(mode(d) === dirMode, f"$d: ${mode(d)}%o"))
  }

  private def assertModesAcrossCompaction(dir: String): Unit = {
    val tableDir = landAllFormats(dir)
    assertModes(tableDir, "part")
    // one consolidated file per partition directory and format
    assert(Compact.run(tableDir, hconf, retainMillis = 0L).consolidatedFiles === 6)
    assertModes(tableDir, "compact")
  }

  test("data files and partition directories keep Hadoop's permission bits") {
    assert(defaultModes === (octal("644"), octal("755")))
    assertModesAcrossCompaction(tempDir("graft-perm"))
  }

  test("data files and partition directories follow fs.permissions.umask-mode") {
    // the cached `file:` fs keeps the conf it was created with, so the
    // umask only reaches uncached instances
    val keys = Map("fs.permissions.umask-mode" -> "077",
      "fs.file.impl.disable.cache" -> "true")
    keys.foreach { case (k, v) => hconf.set(k, v) }
    try {
      assert(defaultModes === (octal("600"), octal("700")))
      assertModesAcrossCompaction(tempDir("graft-perm077"))
    } finally keys.keys.foreach(hconf.unset)
  }

  test("ForkFreeLocalFs maps every mode to the same nine POSIX bits") {
    (0 until 512).foreach { m =>
      assert(ForkFreeLocalFs.posix(m) === java.nio.file.attribute.PosixFilePermissions
        .fromString(new FsPermission(m.toShort).toString), f"$m%o")
    }
  }

  test("DataFs.resolve: only a checksummed fs over stock RawLocalFileSystem is replaced") {
    val conf = new Configuration()
    val local = FileSystem.getLocal(conf)
    assert(local.isInstanceOf[ChecksumFileSystem])
    val resolved = DataFs.resolve(local)
    assert(resolved.getClass === classOf[ForkFreeLocalFs])
    assert(resolved.getUri === local.getRawFileSystem.getUri)
    assert(resolved.getConf eq local.getRawFileSystem.getConf)
    // a raw subclass under a checksummed fs is that raw fs, as configured
    val probe = new CreateProbeFs
    assert(DataFs.resolve(new LocalFileSystem(probe)) eq probe)
    // anything not checksummed is used as is
    val raw = new RawLocalFileSystem
    assert(DataFs.resolve(raw) eq raw)
    assert(DataFs.resolve(probe) eq probe)
    val filtered = new FilterFileSystem(local)
    assert(DataFs.resolve(filtered) eq filtered)
  }

  test("a configured file system, raw or checksummed over a raw subclass, " +
      "creates every data file the manifest lists") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val scheme = CreateProbeFs.Scheme
    val keys = Seq(s"fs.$scheme.impl", s"fs.$scheme.impl.disable.cache")
    hconf.set(keys(1), "true")
    try for {
      impl <- Seq(classOf[CreateProbeFs], classOf[ChecksummedCreateProbeFs])
      format <- Seq("jsonl", "parquet", "orc")
    } {
      hconf.set(keys(0), impl.getName)
      val dir = tempDir(s"graft-probe-$format")
      CreateProbeFs.created.clear()
      val in = MemoryStream[Int]
      val q = in.toDS().map(i => (i, if (i % 2 == 0) "EU" else "US", s"m$i"))
        .toDF("id", "region", "msg")
        .writeStream.format("graft-streaming")
        .options(sinkOpts(s"$scheme://$dir", "format" -> format,
          "batch.size" -> "10", "txn.per.batch" -> "2"))
        .option("checkpointLocation", s"$dir/_cp").start()
      // two epochs, so Compact.run below has manifests to fold
      try Seq(1 to 50, 51 to 100).foreach { ids =>
        in.addData(ids: _*)
        q.processAllAvailable()
      } finally q.stop()
      val listed = new CommitLog(s"$scheme://$dir/testdb.t", hconf).committedFiles()
        .map(f => new Path(f).toUri.getPath)
      // a data file created through the checksummed fs would also create
      // `.part-….crc`, which this filter leaves out
      val createdData = CreateProbeFs.created.asScala.toSeq
        .filter(p => new Path(p).getName.startsWith("part-"))
      val label = s"${impl.getSimpleName} $format"
      assert(listed.size > 2, s"$label: $listed")
      assert(createdData.size === listed.size, label)
      assert(createdData.sorted === listed.sorted, label)
      assert(!CreateProbeFs.created.asScala.exists(_.contains("/.part-")), label)
      // Compact's merge outputs are data files too
      if (format != "jsonl") {
        CreateProbeFs.created.clear()
        val table = s"$scheme://$dir/testdb.t"
        assert(Compact.run(table, hconf, retainMillis = 0L).consolidatedFiles === 2, label)
        val outputs = new CommitLog(table, hconf).committedFiles()
          .map(f => new Path(f).toUri.getPath)
        val createdOutputs = CreateProbeFs.created.asScala.toSeq
          .filter(p => new Path(p).getName.startsWith("compact-"))
        assert(outputs.forall(f => new Path(f).getName.startsWith("compact-")), label)
        assert(createdOutputs.sorted === outputs.sorted, s"compact $label")
        assert(!CreateProbeFs.created.asScala.exists(_.contains("/.compact-")),
          s"compact $label")
      }
    } finally keys.foreach(hconf.unset)
  }

  /** Whether each column of a landed file has a dictionary: a parquet
    * dictionary page, or an ORC DICTIONARY encoding in every stripe.
    */
  private def dictionaryEncoded(file: String): Map[String, Boolean] = {
    val path = new Path(file)
    if (file.endsWith(".parquet")) {
      val footer = org.apache.parquet.hadoop.ParquetFileReader.readFooter(hconf, path,
        org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER)
      footer.getBlocks.asScala.flatMap(_.getColumns.asScala).groupBy(_.getPath.toDotString)
        .map { case (c, chunks) => c -> chunks.forall(_.hasDictionaryPage) }
    } else {
      val reader = org.apache.orc.OrcFile.createReader(path,
        org.apache.orc.OrcFile.readerOptions(hconf))
      val rows = reader.rows().asInstanceOf[org.apache.orc.impl.RecordReaderImpl]
      try {
        val footers = reader.getStripes.asScala.map(rows.readStripeFooter)
        val td = reader.getSchema
        td.getFieldNames.asScala.zip(td.getChildren.asScala).map { case (c, t) =>
          c -> footers.forall(_.getColumns(t.getId).getKind ==
            org.apache.orc.OrcProto.ColumnEncoding.Kind.DICTIONARY_V2)
        }.toMap
      } finally { rows.close(); reader.close() }
    }
  }

  private val dictSchema = StructType(Seq(StructField("id", LongType),
    StructField("msg", StringType), StructField("cat", StringType)))

  /** A file's rows under `schema`, with `parts` as its partition values,
    * through the row reader and through the columnar reader; for parquet
    * the row reader on parquet's row decoder must agree with the first.
    * Strings come back as `String`, a null field as null.
    */
  private def readBoth(file: String, schema: StructType = dictSchema,
      parts: Map[String, String] = Map.empty): (Seq[Seq[Any]], Seq[Seq[Any]]) = {
    def values(r: org.apache.spark.sql.catalyst.InternalRow): Seq[Any] =
      schema.fields.indices.map { i =>
        if (r.isNullAt(i)) null
        else r.get(i, schema(i).dataType) match {
          case s: org.apache.spark.unsafe.types.UTF8String => s.toString
          case v => v
        }
      }
    val part = GraftInputPartition(file, parts)
    def rowsOf(parquetBatches: Boolean) = {
      val row = new GraftPartitionReader(part, schema, hconf,
        parquetBatches = parquetBatches)
      try Iterator.continually(row.next()).takeWhile(identity)
        .map(_ => values(row.get())).toList finally row.close()
    }
    val rows = rowsOf(parquetBatches = true)
    if (file.endsWith(".parquet"))
      assert(rowsOf(parquetBatches = false) === rows, s"parquet row decoder: $file")
    val col = new GraftColumnarReader(part, schema, hconf)
    val batches = try Iterator.continually(col.next()).takeWhile(identity)
      .flatMap(_ => col.get().rowIterator().asScala.map(values)).toList
      finally col.close()
    (rows, batches)
  }

  for (format <- Seq("parquet", "orc")) {
    test(s"$format: later files skip the dictionaries the table's last probe file discarded") {
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val dir = tempDir(s"graft-dict-$format")
      val options = sinkOpts(dir, "format" -> format)
      val tableDir = GraftSinkOptions.from(
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(options.asJava)).tableDir
      def recorded = Option(GraftDataWriter.plainColumns.get((tableDir, format)))
      val learned = if (format == "parquet") Set("id", "msg") else Set("msg")
      // epochs 1-2 carry a unique msg, epochs 3-4 only 3 msg values; every
      // epoch is one task whose first row is "US" (its probe file)
      val epochs = (1 to 4).map(e => ((e - 1) * 600 + 1 to e * 600, e <= 2))
      val in = MemoryStream[Int]
      val q = in.toDS().map(i => dictRow(i, uniqueMsg = (i - 1) / 600 < 2))
        .toDF("id", "msg", "cat", "region")
        .writeStream.format("graft-streaming").options(options)
        .option("checkpointLocation", s"$dir/_cp").start()
      val filesByEpoch = try epochs.zipWithIndex.map { case ((ids, _), e) =>
        in.addData(ids: _*)
        q.processAllAvailable()
        // (a) the probe of a unique-msg epoch records msg (and, for parquet,
        // the unique id) as plain; the 4-value cat keeps its dictionary
        if (e == 0) assert(recorded === Some(learned))
        assert(!recorded.exists(_.contains("cat")), s"epoch ${e + 1}: $recorded")
        val files = new CommitLog(tableDir, hconf).committedFiles()
          .filter(f => new Path(f).getName.startsWith(s"part-e$e-"))
        assert(files.size === 2, s"epoch ${e + 1}: $files")
        files.map(f => (if (f.contains("region=US")) "US" else "EU") -> f).toMap
      } finally q.stop()
      val encoded = filesByEpoch.map(_.map { case (r, f) => r -> dictionaryEncoded(f) })
      encoded.zipWithIndex.foreach { case (byRegion, e) =>
        // (b) cat is dictionary-encoded in every file of every epoch
        byRegion.foreach { case (r, cols) =>
          assert(cols("cat"), s"epoch ${e + 1} $r: $cols")
        }
      }
      // (c) drift: epoch 3's later file still follows epoch 2's outcome
      // and writes its 3-value msg plain; the probe of epoch 3 keeps the
      // msg dictionary, so by epoch 4 the later file has it again
      assert(!encoded(1)("EU")("msg"))
      assert(encoded(2)("US")("msg") && !encoded(2)("EU")("msg"))
      assert(encoded(3)("EU")("msg") && encoded(3)("US")("msg"))
      assert(recorded.exists(r => !r.contains("msg")), s"$recorded")
      // (d) both readers return what was sent, and compaction keeps it
      val sent = epochs.flatMap { case (ids, unique) =>
        ids.map(i => dictRow(i, unique)).map(r => (r._1, r._2, r._3)) }
      def byId(rows: Seq[Seq[Any]]) = rows.sortBy(_.head.asInstanceOf[Long])
      filesByEpoch.flatMap(_.values).map(readBoth(_)).unzip match {
        case (rows, batches) =>
          val sentRows = sent.map(_.productIterator.toSeq)
          assert(byId(rows.flatten) === sentRows)
          assert(byId(batches.flatten) === sentRows)
      }
      // a partition column in the middle of the projection, a field the
      // files lack, and projections that read no file column at all
      val middle = StructType(Seq(StructField("id", LongType),
        StructField("region", StringType), StructField("msg", StringType),
        StructField("absent", StringType)))
      val regionOnly = StructType(Seq(StructField("region", StringType)))
      filesByEpoch.flatMap(_.toSeq).foreach { case (region, f) =>
        val parts = Map("region" -> region)
        val fileRows = readBoth(f)._1
        val expected = fileRows.map(r => Seq(r(0), region, r(1), null))
        val (rows, batches) = readBoth(f, middle, parts)
        assert(byId(rows) === byId(expected), f)
        assert(byId(batches) === byId(expected), f)
        assert(readBoth(f, StructType(Nil), parts) ===
          (fileRows.map(_ => Nil), fileRows.map(_ => Nil)), f)
        assert(readBoth(f, regionOnly, parts) ===
          (fileRows.map(_ => Seq(region)), fileRows.map(_ => Seq(region))), f)
      }
      def countAndSum() = {
        val df = spark.read.format("graft-streaming").options(options).load()
        val r = df.agg(org.apache.spark.sql.functions.count("*"),
          org.apache.spark.sql.functions.sum("id")).head
        (r.getLong(0), r.getLong(1))
      }
      val expected = (sent.size.toLong, sent.map(_._1).sum)
      assert(countAndSum() === expected)
      assert(Compact.run(tableDir, hconf, retainMillis = 0L).consolidatedFiles === 2)
      assert(countAndSum() === expected)

      // (e) a file that skips the learned dictionaries has the bytes of
      // one that built and discarded them
      val batch = (1 to 800).map(i => dictRow(i, uniqueMsg = true))
      def land(dir: String, rows: Seq[(Long, String, String, String)]): Unit =
        rows.toDF("id", "msg", "cat", "region").coalesce(1)
          .write.format("graft-streaming").mode("append")
          .options(sinkOpts(dir, "format" -> format)).save()
      def euFiles(dir: String) = new CommitLog(s"$dir/testdb.t", hconf).committedFiles()
        .filter(_.contains("region=EU"))
      val fresh = tempDir(s"graft-dict-fresh-$format")
      land(fresh, batch)
      val warm = tempDir(s"graft-dict-warm-$format")
      land(warm, (1001 to 1800).map(i => dictRow(i, uniqueMsg = true)))
      val warmed = euFiles(warm).toSet
      land(warm, batch)
      // "US" opens first in both tables, so "EU" is the later file: in the
      // fresh table it builds every dictionary, in the warm one it skips
      // the dictionaries the warm-up's probe discarded
      val Seq(a) = euFiles(fresh)
      val Seq(b) = euFiles(warm).filterNot(warmed)
      assert(dictionaryEncoded(a).filter(_._2).keySet === Set("cat"))
      assert(dictionaryEncoded(b).filter(_._2).keySet === Set("cat"))
      def bytes(f: String) = Files.readAllBytes(Paths.get(new Path(f).toUri.getPath))
      assert(bytes(a).length === bytes(b).length)
      assert(java.util.Arrays.equals(bytes(a), bytes(b)))
      assert(readBoth(a) === readBoth(b))
    }
  }
}

object WriterContractSpec {
  /** One row of the dictionary-learning tests: unique `id` and (when
    * `uniqueMsg`) unique `msg`, a 4-value `cat`, and 2 regions. Odd ids
    * are "US", so a run that starts at an odd id makes the "US" file its
    * task's probe and the "EU" file a later one.
    */
  def dictRow(i: Int, uniqueMsg: Boolean): (Long, String, String, String) =
    (i.toLong, if (uniqueMsg) s"msg-$i-${i * 7919}" else s"x${i % 3}",
      s"c${i % 4}", if (i % 2 == 0) "EU" else "US")
}

/** The local file system under its own scheme, recording the path of
  * every file it creates.
  */
final class CreateProbeFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create(s"${CreateProbeFs.Scheme}:///")
  override def getScheme: String = CreateProbeFs.Scheme
  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    CreateProbeFs.created.add(f.toUri.getPath)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    CreateProbeFs.created.add(f.toUri.getPath)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object CreateProbeFs {
  val Scheme = "graftcreates"
  val created = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}

/** [[CreateProbeFs]] under Hadoop's checksummed local file system. */
final class ChecksummedCreateProbeFs extends LocalFileSystem(new CreateProbeFs) {
  override def getScheme: String = CreateProbeFs.Scheme
}
