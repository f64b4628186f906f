package graft.sink

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.{Success, Try}

import org.apache.hadoop.fs.{FSDataOutputStream, FileStatus, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The epoch commit's fixed cost and the protocol that keeps it fixed: the
  * compaction index under `_commits/_compactions/` (the tombstone guard
  * reads only the manifests it lists), manifests created through
  * [[DataFs]] with an in-file CRC-32 instead of a `.crc` sidecar, and
  * Compact's commit surviving a crash at any of its mutating calls.
  */
class CommitIndexSpec extends graft.SparkSpec {

  private def hconf = spark.sparkContext.hadoopConfiguration

  /** Runs `body` with `impl` serving `scheme`, uncached, so every
    * `getFileSystem` builds a fresh instance of it.
    */
  private def withScheme[T](scheme: String, impl: Class[_ <: FileSystem])(body: => T): T = {
    val keys = Seq(s"fs.$scheme.impl", s"fs.$scheme.impl.disable.cache")
    hconf.set(keys(0), impl.getName)
    hconf.set(keys(1), "true")
    try body finally keys.foreach(hconf.unset)
  }

  private def commits(tableDir: String) = Paths.get(tableDir, CommitLog.COMMITS_DIR)
  private def index(tableDir: String) = commits(tableDir).resolve(CommitLog.INDEX_DIR)
  private def markers(tableDir: String): Set[Long] =
    Files.list(index(tableDir)).iterator().asScala.map(_.getFileName.toString.toLong).toSet

  /** A one-line jsonl data file under the table, returned by path. */
  private def dataFile(tableDir: String, name: String, id: Long): String = {
    val p = Paths.get(tableDir, name)
    Files.createDirectories(p.getParent)
    Files.write(p, s"""{"id":$id}\n""".getBytes("UTF-8"))
    p.toString
  }

  test("a streaming epoch commit does the same file-system work at 10 and 300 manifests") {
    withScheme(CountingFs.Scheme, classOf[ChecksummedCountingFs]) {
      def commitCalls(history: Int): (String, Seq[(String, String)]) = {
        val dir = s"${tempDir("graft-count")}/db.t"
        val log = new CommitLog(s"${CountingFs.Scheme}://$dir", hconf)
        val files = (0 until 32).map(i => s"${CountingFs.Scheme}://$dir/p=${i % 8}/part-$i.jsonl")
        assert(log.commit(0L, files))
        // the history: epoch 0's manifest copied as epochs 1 until `history`
        val first = commits(dir).resolve("epoch-0.manifest")
        (1 until history).foreach(e => Files.copy(first, first.resolveSibling(s"epoch-$e.manifest")))
        CountingFs.calls.clear()
        assert(log.commit(history.toLong, files))
        (dir, CountingFs.calls.asScala.toSeq)
      }
      val (_, small) = commitCalls(10)
      val (dir, large) = commitCalls(300)
      def byKind(calls: Seq[(String, String)]) = calls.groupBy(_._1).map { case (k, v) => k -> v.size }
      assert(byKind(small) === byKind(large), s"10 manifests: $small\n300 manifests: $large")
      assert(Set("listStatus", "getFileStatus", "create", "rename").subsetOf(byKind(large).keySet),
        large)
      val commitsDir = commits(dir).toString
      assert(!large.contains("listStatus" -> commitsDir), "the guard must not list _commits/")
      assert(large.count { case (op, p) => op == "create" && p.startsWith(commitsDir + "/") } === 1,
        large)
      assert(Files.exists(commits(dir).resolve("epoch-300.manifest")))
      assert(!Files.exists(commits(dir).resolve(".epoch-300.manifest.crc")))
      assert(Files.list(commits(dir)).iterator().asScala.forall(!_.toString.endsWith(".crc")))
    }
  }

  test("a table without the index keeps the listing guard; one Compact.run builds the index") {
    val dir = s"${tempDir("graft-legacy")}/db.t"
    val log = new CommitLog(dir, hconf)
    assert(log.commit(0L, Seq(dataFile(dir, "a.jsonl", 1))))
    assert(log.commit(1L, Seq(dataFile(dir, "b.jsonl", 2))))
    assert(Compact.run(dir, hconf).supersededEpochs === 2)
    val first = log.manifests().map(_.epochId)
    assert(first.size === 1 && first.head < 0)
    assert(markers(dir) === first.toSet)
    // the same history as a graft before the index left it, plus a batch
    // manifest, which carries no compaction header
    graft.TempDirs.delete(index(dir).toFile)
    assert(log.commit(-5L, Seq(dataFile(dir, "batch.jsonl", 3))))
    assert(!Files.exists(index(dir)), "only a new _commits/ gets the index with it")
    Seq(0L, 1L).foreach { e =>
      val err = intercept[IllegalStateException](log.commit(e, Seq(dataFile(dir, "r.jsonl", 9))))
      assert(err.getMessage.contains("compacted"), e)
    }
    assert(log.commit(2L, Seq(dataFile(dir, "c.jsonl", 4))))
    assert(log.commit(3L, Seq(dataFile(dir, "d.jsonl", 5))))
    // a minor compaction folds epochs 2 and 3 and leaves the first
    // compaction and the batch manifest live
    assert(Compact.run(dir, hconf, deltasOnly = true).supersededEpochs === 2)
    val withHeaders = log.manifests().filter(m =>
      m.supersedes.nonEmpty || m.watermark.nonEmpty || m.tombstoneCeiling.nonEmpty)
    assert(withHeaders.size === 2 && withHeaders.forall(_.epochId < 0))
    assert(log.manifests().exists(_.epochId == -5L))
    assert(markers(dir) === withHeaders.map(_.epochId).toSet,
      "one marker per header-carrying manifest, none for the batch manifest")
    Seq(0L, 1L, 2L, 3L).foreach { e =>
      val err = intercept[IllegalStateException](log.commit(e, Seq(dataFile(dir, "r.jsonl", 9))))
      assert(err.getMessage.contains("compacted"), e)
    }
    assert(log.commit(4L, Seq(dataFile(dir, "e.jsonl", 6))))
    assert(log.allTombstones() === Set(0L, 1L, 2L, 3L))
    assert(log.streamingWatermark() === 4L)
  }

  test("an epoch whose rename races a compaction's ceiling is removed and fails loudly") {
    withScheme(RenameHookFs.Scheme, classOf[ChecksummedRenameHookFs]) {
      def raced(consumed: Boolean): (String, Try[Boolean]) = {
        val dir = s"${tempDir("graft-race")}/db.t"
        val log = new CommitLog(s"${RenameHookFs.Scheme}://$dir", hconf)
        assert(log.commit(0L, Seq(dataFile(dir, "a.jsonl", 1))))
        // a compaction lands between epoch 1's guard and its rename, its
        // ceiling covering epoch 1 — listing it as consumed, or not
        RenameHookFs.beforeRename = dst => if (dst.getName == "epoch-1.manifest") {
          RenameHookFs.beforeRename = _ => ()
          assert(new CommitLog(dir, hconf).commit(-7L, Seq.empty,
            supersedes = if (consumed) Seq(0L, 1L) else Seq(0L),
            watermark = Some(1L), tombstoneCeiling = Some(1L)))
        }
        try (dir, Try(log.commit(1L, Seq(dataFile(dir, "b.jsonl", 2)))))
        finally RenameHookFs.beforeRename = _ => ()
      }
      val (dir, lost) = raced(consumed = false)
      assert(lost.failed.get.getMessage.contains("raced a compaction"), lost)
      assert(!Files.exists(commits(dir).resolve("epoch-1.manifest")),
        "the dead-on-arrival manifest must be removed")
      // a compaction that consumed the epoch carried its rows: a success
      val (dir2, carried) = raced(consumed = true)
      assert(carried === Success(true))
      assert(Files.exists(commits(dir2).resolve("epoch-1.manifest")))
    }
  }

  test("Compact.run survives a crash at every mutating call: the guard holds, " +
      "rows stay exactly once, an orphan marker changes nothing") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val template = tempDir("graft-crash-template")
    val in = MemoryStream[Int]
    val q = in.toDS().map(i => (i.toLong, if (i % 2 == 0) "EU" else "US"))
      .toDF("id", "region")
      .writeStream.format("graft-streaming")
      .options(Map("path" -> template, "db" -> "db", "table" -> "t",
        "partition.columns" -> "region"))
      .option("checkpointLocation", s"$template/_cp").start()
    try Seq(1 to 10, 11 to 20, 21 to 30).foreach { ids =>
      in.addData(ids: _*)
      q.processAllAvailable()
    } finally q.stop()
    val epochs = new CommitLog(s"$template/db.t", hconf).committedEpochs()
    assert(epochs === Seq(0L, 1L, 2L))
    val want = (30L, (1L to 30L).sum)

    /** Count and sum of `id` over the live files, read line by line. */
    def rows(table: String): (Long, Long) = {
      val ids = new CommitLog(table, hconf).committedFiles().flatMap { f =>
        Files.readAllLines(Paths.get(new Path(f).toUri.getPath)).asScala
          .flatMap(l => "\"id\":(\\d+)".r.findFirstMatchIn(l).map(_.group(1).toLong))
      }
      (ids.size.toLong, ids.sum)
    }
    def check(table: String, label: String): Unit = {
      assert(rows(table) === want, label)
      val log = new CommitLog(table, hconf)
      // no streamed epoch can publish again: a replay of an epoch whose
      // manifest is still there is discarded, a tombstoned one throws
      epochs.foreach { e =>
        assert(Try(log.commit(e, Seq(s"$table/replay-$e.jsonl"))) != Success(true),
          s"$label: epoch $e published twice")
      }
    }
    def copyOf(label: String): String = {
      val to = Paths.get(tempDir(s"graft-crash-$label"))
      val from = Paths.get(template, "db.t")
      Files.walk(from).iterator().asScala.foreach { p =>
        val t = to.resolve("db.t").resolve(from.relativize(p).toString)
        if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
      }
      to.resolve("db.t").toString
    }
    withScheme(CrashFs.Scheme, classOf[ChecksummedCrashFs]) {
      Seq(("indexed", 0L), ("legacy", 10 * 60 * 1000L)).foreach { case (variant, retain) =>
        var orphans = 0
        var n = 1
        var done = false
        while (!done) {
          val table = copyOf(s"$variant-$n")
          if (variant == "legacy") graft.TempDirs.delete(index(table).toFile)
          CrashFs.mutations.set(0)
          CrashFs.crashAt = n
          val crashed =
            try Try(Compact.run(s"${CrashFs.Scheme}://$table", hconf, retainMillis = retain)).isFailure
            finally CrashFs.crashAt = Int.MaxValue
          val label = s"$variant, crash at mutating call $n"
          if (!crashed) {
            assert(n > 5, s"$variant: a crash-free run must take several mutating calls")
            info(s"$variant: crashed at each of ${n - 1} mutating calls")
            done = true
          } else {
            if (Files.exists(index(table)) &&
                markers(table).exists(id => !Files.exists(commits(table).resolve(s"epoch-$id.manifest"))))
              orphans += 1
            check(table, label)
            // the crashed compactor's lock stays behind: reclaim it, re-run
            // (its ledgers name the table by the same scheme)
            Seq(".compaction.lock", "..compaction.lock.crc")
              .foreach(f => Files.deleteIfExists(commits(table).resolve(f)))
            Compact.run(s"${CrashFs.Scheme}://$table", hconf, retainMillis = retain)
            check(table, s"$label, re-run")
            assert(Files.exists(index(table)), label)
            assert(markers(table).forall(id =>
              Files.exists(commits(table).resolve(s"epoch-$id.manifest"))), s"$label: orphan marker kept")
            assert(new CommitLog(table, hconf).manifests().size === 1, label)
            n += 1
          }
        }
        assert(orphans > 0, s"$variant: no crash left an orphan marker")
      }
    }
  }

  test("a flipped byte fails a new manifest's read by name; a legacy manifest still reads") {
    val dir = s"${tempDir("graft-crc")}/db.t"
    val log = new CommitLog(dir, hconf)
    val files = Seq(s"$dir/a.jsonl", s"$dir/b.jsonl")
    assert(log.commit(0L, files))
    val manifest = commits(dir).resolve("epoch-0.manifest")
    assert(!Files.exists(commits(dir).resolve(".epoch-0.manifest.crc")))
    val bytes = Files.readAllBytes(manifest)
    val text = new String(bytes, "UTF-8")
    assert(text.startsWith("#format:2 crc32:"), text)
    // the file lines never include the seal line
    assert(log.filesOf(0L) === files)
    (text.indexOf('\n') + 1 until bytes.length).foreach { i =>
      val flipped = bytes.clone
      flipped(i) = (flipped(i) ^ 0x04).toByte
      Files.write(manifest, flipped)
      val err = intercept[java.io.IOException](log.manifests())
      assert(err.getMessage.contains("epoch-0.manifest"), s"byte $i: ${err.getMessage}")
    }
    Files.write(manifest, bytes)
    assert(log.filesOf(0L) === files)
    // a hand-written manifest without the seal, through the checksummed
    // fs, which writes its `.crc` (and checks it on read)
    val local = FileSystem.getLocal(hconf)
    val legacy = log.manifestPath(1L)
    val out = local.create(legacy, false)
    try out.write("#format:2\nc.jsonl\n".getBytes("UTF-8")) finally out.close()
    assert(Files.exists(commits(dir).resolve(".epoch-1.manifest.crc")))
    assert(log.filesOf(1L) === Seq(s"$dir/c.jsonl"))
    // a shard's CRC-32 rides its reference in the sealed parent
    val wide = (0 until 100).map(i => s"$dir/p=${i % 4}/part-$i.jsonl")
    assert(log.commit(2L, wide))
    assert(log.filesOf(2L).sorted === wide.sorted)
    val shard = Files.walk(commits(dir)).iterator().asScala
      .find(_.getFileName.toString.startsWith("shard-")).get
    val shardBytes = Files.readAllBytes(shard)
    shardBytes(0) = (shardBytes(0) ^ 0x04).toByte
    Files.write(shard, shardBytes)
    val err = intercept[java.io.IOException](log.filesOf(2L))
    assert(err.getMessage.contains(shard.getFileName.toString), err.getMessage)
  }
}

/** The local file system under its own scheme, recording each
  * `listStatus`, `getFileStatus`, `open`, `create` and `rename` with its
  * path (a rename by its target).
  */
final class CountingFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create(s"${CountingFs.Scheme}:///")
  override def getScheme: String = CountingFs.Scheme
  private def note(op: String, p: Path): Unit = CountingFs.calls.add(op -> p.toUri.getPath)
  override def listStatus(f: Path): Array[FileStatus] = { note("listStatus", f); super.listStatus(f) }
  override def getFileStatus(f: Path): FileStatus = { note("getFileStatus", f); super.getFileStatus(f) }
  override def open(f: Path, bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    note("open", f); super.open(f, bufferSize)
  }
  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    note("create", f); super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    note("create", f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { note("rename", dst); super.rename(src, dst) }
}

object CountingFs {
  val Scheme = "graftcount"
  val calls = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
}

final class ChecksummedCountingFs extends LocalFileSystem(new CountingFs) {
  override def getScheme: String = CountingFs.Scheme
}

/** The local file system under its own scheme, running a hook before each
  * rename.
  */
final class RenameHookFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create(s"${RenameHookFs.Scheme}:///")
  override def getScheme: String = RenameHookFs.Scheme
  override def rename(src: Path, dst: Path): Boolean = {
    RenameHookFs.beforeRename(dst)
    super.rename(src, dst)
  }
}

object RenameHookFs {
  val Scheme = "graftrename"
  @volatile var beforeRename: Path => Unit = _ => ()
}

final class ChecksummedRenameHookFs extends LocalFileSystem(new RenameHookFs) {
  override def getScheme: String = RenameHookFs.Scheme
}

/** The local file system under its own scheme, dying at its
  * `crashAt`-th mutating call (create, rename, delete, mkdirs): that call
  * and every later one throw, as nothing runs after a process dies.
  */
final class CrashFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create(s"${CrashFs.Scheme}:///")
  override def getScheme: String = CrashFs.Scheme
  private def mutate(): Unit =
    if (CrashFs.mutations.incrementAndGet() >= CrashFs.crashAt)
      throw new java.io.IOException("injected crash")
  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    mutate(); super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    mutate(); super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { mutate(); super.rename(src, dst) }
  override def delete(p: Path, recursive: Boolean): Boolean = { mutate(); super.delete(p, recursive) }
  override def mkdirs(p: Path, permission: FsPermission): Boolean = {
    mutate(); super.mkdirs(p, permission)
  }
  override def mkdirs(p: Path): Boolean = { mutate(); super.mkdirs(p) }
}

object CrashFs {
  val Scheme = "graftcrash"
  val mutations = new java.util.concurrent.atomic.AtomicInteger
  @volatile var crashAt: Int = Int.MaxValue
}

final class ChecksummedCrashFs extends LocalFileSystem(new CrashFs) {
  override def getScheme: String = CrashFs.Scheme
}
