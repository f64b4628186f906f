package graft.sink

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec

/** Partition-sharded commit-log manifests (r14 verdict #1): a large commit
  * moves its file lines into one shard file per partition directory so a
  * partition-pruned read parses only the touched partitions' entries. The
  * flat parse was measured at ~36 µs/file (SINKBENCH_r14 plan_scale) —
  * seconds of driver time per query at the 10⁵–10⁶ files 100 TB implies;
  * with sharding, plan cost tracks the PROBED partitions' entry count.
  *
  * These tests pin: layout (parent holds `#shard:` headers only), full-read
  * fidelity (files + stats identical to a flat commit), the pruning bound
  * itself (untouched partitions' shard files are NEVER opened — asserted
  * through the [[CommitLog.shardFileReads]] instrumentation counter),
  * replay/cleanup hygiene, and the e2e read path.
  */
class ShardedManifestSpec extends SparkSpec {

  private def conf = spark.sparkContext.hadoopConfiguration
  private def tmpTable(): String =
    s"${tempDir("graft-shard")}/testdb.t"

  /** `nParts` partition dirs × `perPart` files, every file with stats. */
  private def syntheticCommit(log: CommitLog, tableDir: String,
      epoch: Long, nParts: Int, perPart: Int): (Seq[String], Map[String, FileStats]) = {
    val files = for (p <- 0 until nParts; i <- 0 until perPart)
      yield s"$tableDir/p=v$p/part-$p-$i.parquet"
    val stats = files.zipWithIndex.map { case (f, i) =>
      f -> FileStats(10L,
        Map("id" -> ColStats(Some(0L), Some(s"l${i * 10}"), Some(s"l${i * 10 + 9}"))))
    }.toMap
    assert(log.commit(epoch, files,
      fileStats = stats.map { case (f, st) => f -> st.serialize }))
    (files, stats)
  }

  private def manifestText(tableDir: String, epoch: Long): String = {
    val p = new Path(s"$tableDir/${CommitLog.COMMITS_DIR}/epoch-$epoch.manifest")
    CommitLog.readFully(p.getFileSystem(conf), p)
  }

  private def shardDirs(tableDir: String): Seq[String] = {
    val commits = new Path(tableDir, CommitLog.COMMITS_DIR)
    val fs = commits.getFileSystem(conf)
    if (!fs.exists(commits)) Seq.empty
    else fs.listStatus(commits).map(_.getPath.getName).toSeq
      .filter(_.contains(".shards-"))
  }

  test("large commit shards by partition dir; parent holds headers only") {
    val dir = tmpTable()
    val log = new CommitLog(dir, conf)
    val (files, stats) = syntheticCommit(log, dir, 0L, nParts = 8, perPart = 16)
    val text = manifestText(dir, 0L)
    assert(text.linesIterator.forall(l =>
        l.startsWith("#shard:") || l.startsWith("#format:")),
      s"sharded parent must hold only #shard headers:\n$text")
    assert(text.linesIterator.count(_.startsWith("#shard:")) === 8,
      "one shard per partition dir")
    assert(shardDirs(dir).size === 1)
    // full read: identical result to a flat manifest — every file, every stat
    val got = log.committedFilesWithStats()
    assert(got.map(_._1).sorted === files.sorted)
    got.foreach { case (f, st) => assert(st === stats.get(f), f) }
    // shardRefs surface the layout with the shared partition values
    val refs = log.manifests().head.shardRefs
    assert(refs.size === 8)
    assert(refs.map(_.partitionValues).toSet ===
      (0 until 8).map(p => Map("p" -> s"v$p")).toSet)
  }

  test("partition-pruned read never opens untouched partitions' shards") {
    val dir = tmpTable()
    val log = new CommitLog(dir, conf)
    val (files, _) = syntheticCommit(log, dir, 0L, nParts = 8, perPart = 16)
    CommitLog.shardFileReads.set(0L)
    val pruned = log.committedFilesWithStats(Seq("p" -> "v3"))
    assert(CommitLog.shardFileReads.get === 1L,
      "exactly the probed partition's shard may be opened")
    assert(pruned.map(_._1).sorted ===
      files.filter(_.contains("/p=v3/")).sorted)
    // a predicate on a column absent from the shard path prunes nothing
    CommitLog.shardFileReads.set(0L)
    assert(log.committedFilesWithStats(Seq("other" -> "x")).size === files.size)
    assert(CommitLog.shardFileReads.get === 8L)
  }

  test("planFiles: shard pruning composes with stats skipping") {
    val dir = tmpTable()
    val log = new CommitLog(dir, conf)
    syntheticCommit(log, dir, 0L, nParts = 8, perPart = 16)
    import org.apache.spark.sql.sources.EqualTo
    CommitLog.shardFileReads.set(0L)
    // id=325 lives in exactly one file (i=32 → p=v2, i%16=0); partition
    // pred narrows the parse to p=v2's shard, stats narrow to one file
    val planned = GraftScan.planFiles(dir, "testdb.t", conf,
      Seq("p" -> "v2"), Array(EqualTo("id", 325L), EqualTo("p", "v2")))
    assert(CommitLog.shardFileReads.get === 1L)
    assert(planned.size === 1)
    assert(planned.head._1.contains("/p=v2/"))
    assert(planned.head._2 === Map("p" -> "v2"))
  }

  test("small commits stay flat; replay of a sharded epoch leaves no debris") {
    val dir = tmpTable()
    val log = new CommitLog(dir, conf)
    // below threshold: flat manifest, no shard dir
    val few = (0 until 8).map(i => s"$dir/p=a/part-$i.parquet")
    assert(log.commit(1L, few))
    assert(manifestText(dir, 1L).linesIterator.forall(!_.startsWith("#shard:")))
    assert(shardDirs(dir).isEmpty)
    // sharded epoch, then replay: second commit refuses AND removes the
    // attempt's own shard dir — one dir stands after the dust settles
    syntheticCommit(log, dir, 2L, nParts = 4, perPart = 32)
    assert(shardDirs(dir).size === 1)
    val replay = (0 until 128).map(i => s"$dir/p=r/replay-$i.parquet")
    assert(!log.commit(2L, replay), "replayed epoch must not commit")
    assert(shardDirs(dir).size === 1, "failed attempt's shard dir removed")
    assert(log.committedFiles().count(_.contains("replay")) === 0)
  }

  test("purge sweeps a crashed attempt's shard dir even when the epoch lives") {
    val dir = tmpTable()
    val log = new CommitLog(dir, conf)
    // the SUCCESSFUL commit of epoch 7 (its own uuid'd shard dir)...
    syntheticCommit(log, dir, 7L, nParts = 4, perPart = 32)
    val live = shardDirs(dir)
    assert(live.size === 1)
    // ...plus a fabricated CRASHED attempt of the SAME epoch: shards
    // written, rename never happened, replay then succeeded under the
    // live dir above. Backdate past the in-flight age guard.
    val commits = new Path(dir, CommitLog.COMMITS_DIR)
    val fs = commits.getFileSystem(conf)
    val dead = new Path(commits, ".epoch-7.shards-deadbeef")
    fs.mkdirs(dead)
    val out = fs.create(new Path(dead, "shard-00000"), false)
    out.write(s"$dir/p=z/ghost.parquet".getBytes("UTF-8")); out.close()
    // past the sweep's 15-minute in-flight-commit age floor
    fs.setTimes(dead, System.currentTimeMillis() - 16L * 60 * 1000, -1)
    fs.setTimes(new Path(commits, live.head),
      System.currentTimeMillis() - 16L * 60 * 1000, -1)
    Compact.run(dir, conf, retainMillis = 0L)
    val after = shardDirs(dir)
    assert(!after.contains(".epoch-7.shards-deadbeef"),
      "unreferenced attempt dir must be swept while its epoch lives")
    assert(after.contains(live.head),
      "the manifest-referenced dir must survive the sweep")
    assert(log.committedFiles().count(_.contains("ghost")) === 0)
    assert(log.filesOf(7L).nonEmpty, "the live epoch still resolves")
  }

  test("purge deletes a crashed attempt's registered outputs; live files survive") {
    val dir = tmpTable()
    val log = new CommitLog(dir, conf)
    val fs = new Path(dir).getFileSystem(conf)
    val dataDir = new Path(dir, "p=a")
    fs.mkdirs(dataDir)
    def touch(p: Path): Unit = {
      val o = fs.create(p, false); o.write("x".getBytes("UTF-8")); o.close()
    }
    val livef = new Path(dataDir, "compact-livestem-0.jsonl")
    touch(livef)
    assert(log.commit(1L, Seq(livef.toString)))
    // fabricate a kill-9'd attempt: a ledger registering two stems (one
    // matching the LIVE file — the manifest-reference guard must keep
    // it — one matching only an orphan) plus a scratch dir
    val orphan = new Path(dataDir, "compact-deadbeef-0.jsonl")
    touch(orphan)
    val tmpd = new Path(dataDir, ".cluster-deadbeef")
    fs.mkdirs(tmpd); touch(new Path(tmpd, "part-0"))
    val ledger = new Path(dir,
      s"${CommitLog.COMMITS_DIR}/.outputs-pending-test")
    val o = fs.create(ledger, false)
    o.write((s"out:$dataDir/compact-deadbeef\n" +
      s"out:$dataDir/compact-livestem\ntmp:$tmpd").getBytes("UTF-8"))
    o.close()
    Compact.run(dir, conf, retainMillis = 60000L)
    assert(!fs.exists(orphan), "unreferenced registered output swept")
    assert(!fs.exists(tmpd), "scratch dir swept")
    assert(fs.exists(livef), "manifest-referenced file survives the sweep")
    assert(!fs.exists(ledger), "the crashed attempt's ledger is gone")
  }

  test("deleteManifest removes the epoch's shard dirs; headers stay cheap") {
    val dir = tmpTable()
    val log = new CommitLog(dir, conf)
    syntheticCommit(log, dir, 3L, nParts = 4, perPart = 32)
    // header-only readers never touch shards, however large the commit
    CommitLog.shardFileReads.set(0L)
    log.streamingWatermark()
    val negGuardProbe = log.commit(4L, Seq(s"$dir/p=a/x.parquet"))
    assert(negGuardProbe)
    assert(CommitLog.shardFileReads.get === 0L,
      "watermark/tombstone-guard reads must stay header-only")
    // epoch-id listing needs no shard bytes either; filesOf resolves ONLY
    // the requested epoch's shards (the flat epoch 4 costs zero)
    CommitLog.shardFileReads.set(0L)
    assert(log.committedEpochs() === Seq(3L, 4L))
    assert(CommitLog.shardFileReads.get === 0L,
      "committedEpochs must stay header-only")
    assert(log.filesOf(4L) === Seq(s"$dir/p=a/x.parquet"))
    assert(CommitLog.shardFileReads.get === 0L,
      "filesOf(flat epoch) must not resolve the sharded manifest")
    log.deleteManifest(3L)
    assert(shardDirs(dir).isEmpty, "shard dirs ride their manifest")
    assert(log.committedFiles() === Seq(s"$dir/p=a/x.parquet"))
  }

  test("un-partitioned wide commits shard too (empty partition path round-trips)") {
    val dir = tmpTable()
    val log = new CommitLog(dir, conf)
    // root-level files: no k=v segments — one shard, header ends in a
    // bare tab whose empty field must survive split() semantics
    val files = (0 until 100).map(i => s"$dir/part-$i.parquet")
    assert(log.commit(0L, files))
    assert(manifestText(dir, 0L).linesIterator.forall(l =>
      l.startsWith("#shard:") || l.startsWith("#format:")))
    assert(log.committedFiles().sorted === files.sorted)
    // a partition predicate can never prune a shard with no k=v evidence
    CommitLog.shardFileReads.set(0L)
    assert(log.committedFilesWithStats(Seq("p" -> "x")).size === 100)
    assert(CommitLog.shardFileReads.get === 1L)
  }

  test("manifestsSelective resolves only the needed manifests' shards") {
    val dir = tmpTable()
    val log = new CommitLog(dir, conf)
    syntheticCommit(log, dir, 1L, nParts = 4, perPart = 32) // 4 shards
    syntheticCommit(log, dir, 2L, nParts = 8, perPart = 16) // 8 shards
    CommitLog.shardFileReads.set(0L)
    val ms = log.manifestsSelective(_.epochId == 2L)
    assert(CommitLog.shardFileReads.get === 8L,
      "only the needed manifest's shards may be opened")
    assert(ms.map(_.epochId).toSet === Set(1L, 2L),
      "headers of EVERY live manifest still come back (liveness filter)")
    assert(ms.find(_.epochId == 2L).get.files.size === 128)
    assert(ms.find(_.epochId == 1L).get.files.isEmpty,
      "an unneeded sharded manifest carries headers only")
  }

  test("tailing source relays a sharded table exactly-once (incl. post-compaction)") {
    val prev = System.getProperty("graft.commitlog.shard.threshold")
    System.setProperty("graft.commitlog.shard.threshold", "4")
    try {
      import spark.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val root = tempDir("graft-shardtail")
      val in = MemoryStream[Int]
      val writer = in.toDS().map(i => (i.toLong, s"c${i % 6}", s"m$i"))
        .toDF("id", "cat", "msg")
        .writeStream.format("graft-streaming")
        .option("path", root).option("db", "testdb").option("table", "t")
        .option("partition.columns", "cat").option("format", "parquet")
        .option("checkpointLocation", s"$root/_cpw").start()
      in.addData(0 until 60: _*)
      writer.processAllAvailable()
      val tableDir = s"$root/testdb.t"
      assert(shardDirs(tableDir).nonEmpty, "epochs must shard at threshold 4")
      val reader = spark.readStream.format("graft-streaming")
        .option("path", root).option("db", "testdb").option("table", "t")
        .load()
        .writeStream.format("memory").queryName("shard_relay")
        .option("checkpointLocation", s"$root/_cpr").start()
      reader.processAllAvailable()
      assert(spark.table("shard_relay").count() === 60)
      // a compaction (itself publishing a sharded negative manifest) must
      // not disturb the tail, and later sharded epochs keep relaying
      Compact.run(tableDir, conf, retainMillis = 0L)
      in.addData(60 until 90: _*)
      writer.processAllAvailable()
      reader.processAllAvailable()
      writer.stop(); reader.stop()
      import org.apache.spark.sql.functions.col
      val got = spark.table("shard_relay").select(col("id"))
        .as[Long].collect().sorted
      assert(got.toSeq === (0L until 90L),
        "sharded-table relay must deliver each row exactly once")
    } finally {
      if (prev == null) System.clearProperty("graft.commitlog.shard.threshold")
      else System.setProperty("graft.commitlog.shard.threshold", prev)
    }
  }

  test("e2e: sharded epochs serve the DSv2 read path with partition pruning") {
    val prev = System.getProperty("graft.commitlog.shard.threshold")
    System.setProperty("graft.commitlog.shard.threshold", "4")
    try {
      import spark.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val root = tempDir("graft-sharde2e")
      val in = MemoryStream[Int]
      val q = in.toDS().map(i => (i.toLong, s"m$i", s"c${i % 6}"))
        .toDF("id", "msg", "cat")
        .writeStream.format("graft-streaming")
        .option("path", root).option("db", "testdb").option("table", "t")
        .option("partition.columns", "cat")
        .option("format", "parquet")
        .option("checkpointLocation", s"$root/_cp").start()
      in.addData(0 until 120: _*)
      q.processAllAvailable()
      q.stop()
      val tableDir = s"$root/testdb.t"
      assert(shardDirs(tableDir).nonEmpty, "epoch of 6 files must shard at threshold 4")
      val df = spark.read.format("graft-streaming")
        .option("path", root).option("db", "testdb").option("table", "t").load()
      CommitLog.shardFileReads.set(0L)
      val rows = df.filter($"cat" === "c2").select("id").as[Long].collect().sorted
      assert(rows === (0 until 120).filter(_ % 6 == 2).map(_.toLong).toArray)
      assert(CommitLog.shardFileReads.get <= 2L,
        s"partition filter must prune shard reads, got ${CommitLog.shardFileReads.get}")
      // full-table read still sees every row
      assert(df.count() === 120L)
      // compaction consolidates sharded epochs and cleans their shard dirs
      Compact.run(tableDir, conf, retainMillis = 0L)
      assert(df.count() === 120L)
      assert(spark.read.format("graft-streaming")
        .option("path", root).option("db", "testdb").option("table", "t").load()
        .filter($"cat" === "c5").count() === 20L)
    } finally {
      if (prev == null) System.clearProperty("graft.commitlog.shard.threshold")
      else System.setProperty("graft.commitlog.shard.threshold", prev)
    }
  }
}
