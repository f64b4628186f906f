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
