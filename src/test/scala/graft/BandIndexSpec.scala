package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The streaming near-dedup side index's maintenance machinery at its
  * failure boundaries: tiered compaction bounds, crash-window replay,
  * the single-writer lease, and the first-epoch replay hole.
  * (The probe semantics themselves are pinned in StreamingSurfaceSpec.)
  */
class BandIndexSpec extends SparkSpec {

  private val B = graft.streaming.BandIndex
  private def fsOf(tableDir: String) =
    new Path(tableDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def allBuckets = (0 until B.NumBuckets).toSet
  private def keysOf(tableDir: String): Set[Long] = {
    import spark.implicits._
    B.readKeys(spark, tableDir, allBuckets, excludeEpoch = Long.MaxValue)
      .as[Long].collect().toSet
  }
  private def epochKeys(e: Int): Seq[Long] =
    (e * 100 until e * 100 + 20).map(_.toLong)
  private def appendEpoch(tableDir: String, e: Int): Unit = {
    import spark.implicits._
    B.append(epochKeys(e).map(k => (k, k)).toDF("doc_id", "bk"), tableDir, e.toLong)
  }

  test("tiered compaction: runs stay bounded, keys exact, protected epoch untouched") {
    val dir = tempDir("banddex_tier")
    val tableDir = s"$dir/corpus.docs"
    val compactEvery = 4
    var sawTierMerge = false
    (0 until 16).foreach { e =>
      appendEpoch(tableDir, e)
      if ((e + 1) % compactEvery == 0) {
        val runsBefore = B.stats(spark, tableDir).runs
        B.compact(spark, tableDir, protectEpoch = e.toLong)
        val st = B.stats(spark, tableDir)
        // the ladder's invariant is PER SIZE CLASS: a class reaching
        // TierFanout runs always merges, so after the fixpoint every class
        // holds fewer — the total may legitimately exceed TierFanout when
        // runs span several classes (mixed-size test below pins that)
        val classes = B.runClassCounts(spark, tableDir)
        assert(classes.values.forall(_ < B.TierFanout),
          s"after compact at epoch $e: a size class exceeds the tier " +
            s"fan-out: $classes")
        if (st.runs < runsBefore + 1 && runsBefore > 0) sawTierMerge = true
        // probe-side bound: a bucket holds at most the runs + the protected
        // epoch's delta + the not-yet-compacted deltas of this cycle
        assert(st.maxFilesPerBucket <= B.TierFanout + compactEvery,
          s"bucket file count ${st.maxFilesPerBucket} not bounded at epoch $e")
        // keys survive every consolidation exactly
        assert(keysOf(tableDir) === (0 to e).flatMap(epochKeys).toSet,
          s"compaction at epoch $e changed the key set")
        // the in-flight epoch's files must stay out of the consolidation
        // (the replay exclude-own-epoch guarantee depends on it)
        val protectedFiles = B.selectFiles(fsOf(tableDir), tableDir,
          allBuckets, excludeEpoch = Long.MaxValue)
          .filter(_.contains(s"epoch-$e-"))
        assert(protectedFiles.nonEmpty,
          s"protectEpoch=$e files were consumed by compaction")
      }
    }
    // 16 epochs → 4 L0 runs of ~equal size: the ladder must have fired at
    // least once (without it the 4th cycle would sit at 4 runs forever)
    assert(sawTierMerge, "no tier merge ever fired across 4 same-class runs")
  }

  test("tier machinery property: arbitrary append/compact schedules preserve keys exactly and keep runs bounded") {
    import spark.implicits._
    // deterministic pseudo-random schedules (house property-test style):
    // duplicate keys across epochs, EMPTY epochs, back-to-back compactions
    // with nothing to do, and protectEpoch always the in-flight epoch —
    // the shapes a real ingest produces in arbitrary interleavings
    for (seed <- Seq(7L, 1234L, 987654L)) {
      var rng = seed
      def next(bound: Int): Int = {
        rng = rng * 6364136223846793005L + 1442695040888963407L
        (math.abs(rng >> 33) % bound).toInt
      }
      val dir = tempDir(s"banddex_prop$seed")
      val tableDir = s"$dir/corpus.docs"
      val expected = scala.collection.mutable.Set.empty[Long]
      (0 until 10).foreach { e =>
        // keys from a SMALL range so epochs overlap (distinct() in merges
        // must collapse them without losing anything)
        val ks = Seq.fill(next(13))(next(40).toLong)
        expected ++= ks
        B.append(
          if (ks.isEmpty)
            spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              org.apache.spark.sql.types.StructType(Seq(
                org.apache.spark.sql.types.StructField("doc_id",
                  org.apache.spark.sql.types.LongType),
                org.apache.spark.sql.types.StructField("bk",
                  org.apache.spark.sql.types.LongType))))
          else ks.map(k => (k, k)).toDF("doc_id", "bk"),
          tableDir, e.toLong)
        if (next(3) == 0) {
          B.compact(spark, tableDir, protectEpoch = e.toLong)
          // occasionally compact twice in a row — the second must be a
          // safe (often no-op) pass, never a corruption
          if (next(4) == 0) B.compact(spark, tableDir, protectEpoch = e.toLong)
          val classes = B.runClassCounts(spark, tableDir)
          assert(classes.values.forall(_ < B.TierFanout),
            s"seed $seed epoch $e: a size class exceeds the tier fan-out: " +
              s"$classes")
        }
        assert(keysOf(tableDir) === expected.toSet,
          s"seed $seed epoch $e: key set diverged")
      }
    }
  }

  test("mixed-size epochs: runs span several size classes, each class under the fan-out") {
    import spark.implicits._
    val dir = tempDir("banddex_mixed")
    val tableDir = s"$dir/corpus.docs"
    // epoch sizes spanning orders of magnitude → L0 runs land in different
    // log4-byte classes; each compact seals the in-flight cycle's deltas
    val sizes = Seq(20000, 3, 15000, 5, 2, 25000, 4, 18000, 6, 3, 22000, 2)
    var maxTotalRuns = 0
    val expected = scala.collection.mutable.Set.empty[Long]
    sizes.zipWithIndex.foreach { case (n, e) =>
      val ks = (0 until n).map(i => e * 1000000L + i)
      expected ++= ks
      B.append(ks.map(k => (k, k)).toDF("doc_id", "bk"), tableDir, e.toLong)
      B.compact(spark, tableDir, protectEpoch = e.toLong)
      val classes = B.runClassCounts(spark, tableDir)
      // the REAL invariant: per-class bound...
      assert(classes.values.forall(_ < B.TierFanout),
        s"epoch $e: a size class exceeds the fan-out: $classes")
      maxTotalRuns = math.max(maxTotalRuns, classes.values.sum)
      assert(keysOf(tableDir) === expected.toSet,
        s"epoch $e: key set diverged under mixed-size compaction")
    }
    // ...and the fixture genuinely exercises it: at some point the TOTAL
    // run count exceeded TierFanout (the old global assert would have
    // fired) because runs legitimately spread across classes
    assert(maxTotalRuns > B.TierFanout,
      s"fixture too uniform: total runs never exceeded the fan-out " +
        s"($maxTotalRuns) — it does not distinguish the per-class bound " +
        "from the old global one")
  }

  test("layout meta: recorded at creation, validated on open, one-time heal for meta-less tables") {
    val dir = tempDir("banddex_meta")
    val tableDir = s"$dir/corpus.docs"
    val fs = fsOf(tableDir)
    appendEpoch(tableDir, 0)
    val metaPath = new Path(B.dir(tableDir), B.MetaName)
    assert(fs.exists(metaPath), "append must record the layout meta")
    val recorded = graft.sink.CommitLog.readFully(fs, metaPath)
    assert(recorded.contains(s"numBuckets=${B.NumBuckets}"))
    assert(recorded.contains("numBands="))
    // a jar built with a DIFFERENT bucket constant must fail loudly on
    // every entry point, not silently mis-bucket probes
    val out = fs.create(metaPath, true)
    try out.write(recorded.replace(
      s"numBuckets=${B.NumBuckets}", "numBuckets=16").getBytes("UTF-8"))
    finally out.close()
    val e1 = intercept[IllegalStateException] { appendEpoch(tableDir, 1) }
    assert(e1.getMessage.contains("numBuckets=16") &&
      e1.getMessage.contains("mismatch"))
    val e2 = intercept[IllegalStateException] {
      B.compact(spark, tableDir, protectEpoch = 1L)
    }
    assert(e2.getMessage.contains("mismatch"))
    val e3 = intercept[IllegalStateException] {
      B.ensureBackfilled(spark, tableDir, replayingEpoch = 1L)
    }
    assert(e3.getMessage.contains("mismatch"))
    // a PRE-META table (index dir exists, no _meta) heals exactly once
    fs.delete(metaPath, false)
    B.ensureBackfilled(spark, tableDir, replayingEpoch = 1L)
    assert(fs.exists(metaPath), "meta-less table must heal on open")
    assert(graft.sink.CommitLog.readFully(fs, metaPath)
      .contains(s"numBuckets=${B.NumBuckets}"))
    // healed table keeps working, keys intact
    appendEpoch(tableDir, 1)
    assert(keysOf(tableDir) === (0 to 1).flatMap(epochKeys).toSet)
    // unknown keys from a FUTURE jar are tolerated
    val out2 = fs.create(metaPath, true)
    try out2.write((graft.sink.CommitLog.readFully(fs, metaPath) +
      "\nfutureKnob=42").getBytes("UTF-8"))
    finally out2.close()
    appendEpoch(tableDir, 2)
  }

  test("lease takeover during a delayed renew converges to a single writer") {
    val dir = tempDir("banddex_toctou")
    val tableDir = s"$dir/corpus.docs"
    val fs = fsOf(tableDir)
    // writer A holds the lease, then stalls past staleMs (no heartbeat)
    B.acquireLease(spark, tableDir, "writer-A", staleMs = 100L)
    Thread.sleep(150)
    // A wakes INSIDE renewLease: its ownership read has already passed when
    // B breaks the stale lease and takes over — the classic TOCTOU window,
    // injected via the test seam. A's write then clobbers B's fresh lock.
    B.renewLease(spark, tableDir, "writer-A", { () =>
      B.acquireLease(spark, tableDir, "writer-B", staleMs = 100L)
    })
    // the takeover grace window is what resolves this: B's acquireLease
    // re-verifies TakeoverGraceMs after its create... but here B's full
    // acquire (grace included) fit inside A's read→write gap, so A's
    // clobber landed after B returned. The system must still converge:
    // exactly one writer survives its NEXT renew — A holds the lock file,
    // so B's per-epoch tripwire fails and B stops.
    val holder = graft.sink.CommitLog
      .readFully(fs, B.lockPath(tableDir)).trim
    assert(holder === "writer-A", "A's delayed renew re-took the lock")
    val e = intercept[IllegalStateException] {
      B.renewLease(spark, tableDir, "writer-B")
    }
    assert(e.getMessage.contains("lost the lease"),
      "the clobbered taker must stop at its next renew — two writers " +
        "never both continue past one renew period")
    B.renewLease(spark, tableDir, "writer-A")
    B.releaseLease(spark, tableDir, "writer-A")

    // the common interleave the grace window DOES close: B's create lands,
    // then A's delayed write lands INSIDE B's grace wait → B's re-verify
    // sees the clobber and B aborts its start instead of running dual
    val dir2 = tempDir("banddex_toctou2")
    val tableDir2 = s"$dir2/corpus.docs"
    B.acquireLease(spark, tableDir2, "writer-A", staleMs = 100L)
    Thread.sleep(150)
    val clobber = new Thread(() => {
      // A's renew write delayed into B's grace window
      Thread.sleep(B.TakeoverGraceMs / 3)
      val out = fs.create(B.lockPath(tableDir2), true)
      try out.write("writer-A".getBytes("UTF-8")) finally out.close()
    })
    clobber.start()
    val e2 = intercept[IllegalStateException] {
      B.acquireLease(spark, tableDir2, "writer-B", staleMs = 100L)
    }
    clobber.join()
    assert(e2.getMessage.contains("takeover") || e2.getMessage.contains("grace"),
      s"B must abort when the original holder's renew lands in the grace " +
        s"window: ${e2.getMessage}")
  }

  test("crash window: planted tmp dirs and stale attempt files are invisible, swept, and superseded") {
    import spark.implicits._
    val dir = tempDir("banddex_crash")
    val tableDir = s"$dir/corpus.docs"
    val fs = fsOf(tableDir)
    appendEpoch(tableDir, 0)
    appendEpoch(tableDir, 1)
    val idxDir = new Path(B.dir(tableDir))
    // a crashed epoch-2 attempt: its un-renamed tmp dir survives with bogus
    // keys inside...
    val crashTmp = new Path(idxDir, ".epoch-2.tmp-crashed")
    Seq(999999L).toDF("bk").coalesce(1)
      .write.parquet(new Path(crashTmp, "bucket=3").toString)
    // ...and a HALF-PUBLISHED attempt: publish renames per bucket, so a
    // crash mid-loop leaves some buckets already holding final-named
    // epoch-2 files (here: a stale key the retry no longer produces)
    val staleTmp = new Path(idxDir, ".stale-build")
    Seq(888888L).toDF("bk").coalesce(1).write.parquet(staleTmp.toString)
    val stalePart = fs.listStatus(staleTmp)
      .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
    val bdir = new Path(idxDir, "bucket=7")
    fs.mkdirs(bdir)
    fs.rename(stalePart, new Path(bdir, "epoch-2-0.parquet"))
    fs.delete(staleTmp, true)
    val planted = keysOf(tableDir) // sanity: the stale final-named file IS live
    assert(planted.contains(888888L), "fixture must plant a visible stale file")
    // the REPLAYING batch's own probe: epoch 2's files — stale attempt
    // included — are invisible to it, so it cannot collide with itself
    val probe = B.readKeys(spark, tableDir, allBuckets, excludeEpoch = 2L)
      .as[Long].collect().toSet
    assert(probe === (epochKeys(0) ++ epochKeys(1)).toSet,
      "replay probe must see exactly the earlier epochs' keys")
    // the replayed append supersedes the stale file and sweeps the tmp dir
    appendEpoch(tableDir, 2)
    assert(keysOf(tableDir) === (0 to 2).flatMap(epochKeys).toSet,
      "replayed append must remove the crashed attempt's keys")
    assert(!fs.exists(crashTmp), "orphaned tmp dir must be swept")
    // a crashed COMPACT attempt sweeps the same way
    val crashCompact = new Path(idxDir, ".compact.tmp-crashed")
    Seq(777777L).toDF("bk").coalesce(1)
      .write.parquet(new Path(crashCompact, "bucket=5").toString)
    B.compact(spark, tableDir, protectEpoch = 2L)
    assert(!fs.exists(crashCompact), "orphaned compact tmp must be swept")
    assert(keysOf(tableDir) === (0 to 2).flatMap(epochKeys).toSet,
      "compaction after the crash must preserve the exact key set")
    assert(fs.listStatus(idxDir).forall(st =>
      !st.getPath.getName.startsWith(".")), "no dot-dirs may remain")
  }

  test("single-writer lease: a second concurrent start fails fast; restart after stop proceeds with state intact") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("banddex_lease")
    val tableDir = s"$dir/corpus.docs"
    val base = (1 to 24).map(i => s"tok$i").mkString(" ")
    val in = MemoryStream[(Long, String)]
    // tiny staleness so this test also covers the IDLE-WRITER case: with
    // per-epoch-only renewal the lease of an idle-but-healthy stream would
    // go stale and a second starter would break it mid-life — the
    // heartbeat daemon must keep it fresh between batches
    val q1 = graft.streaming.StreamingNearDedup.start(
      in.toDF().toDF("doc_id", "text"), dir, "corpus", "docs", s"$dir/_cp",
      leaseStaleMs = 500L)
    in.addData((1L, base))
    q1.processAllAvailable()
    Thread.sleep(1500) // idle well past leaseStaleMs — only the heartbeat saves it
    // second writer on the same table: refused while the first is LIVE,
    // idle or not
    val e = intercept[IllegalStateException] {
      graft.streaming.StreamingNearDedup.start(
        in.toDF().toDF("doc_id", "text"), dir, "corpus", "docs", s"$dir/_cp2",
        leaseStaleMs = 500L)
    }
    assert(e.getMessage.contains("SINGLE writer") ||
      e.getMessage.contains("concurrent starter"))
    // stop releases SYNCHRONOUSLY — the natural stop-then-restart pattern
    // must not spuriously fail on an undelivered listener event
    q1.stop()
    val fs = fsOf(tableDir)
    assert(!fs.exists(B.lockPath(tableDir)), "stop must release the lease")
    // restart from the same checkpoint: lease re-acquired, and the index
    // carries the dedup state across writers — a near-dup of the first
    // writer's doc is still dropped
    val q2 = graft.streaming.StreamingNearDedup.start(
      in.toDF().toDF("doc_id", "text"), dir, "corpus", "docs", s"$dir/_cp")
    in.addData(
      (2L, (1 to 24).map(i => if (i == 12) "CHANGED" else s"tok$i").mkString(" ")),
      (3L, (100 to 123).map(i => s"other$i").mkString(" ")))
    q2.processAllAvailable()
    q2.stop()
    val kept = graft.sink.CommitLog.readCommitted(spark, tableDir)
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq === Seq(1L, 3L),
      "the near-dup must be dropped against the PREVIOUS writer's corpus")
  }

  test("lease lifecycle: stale locks are broken, a usurped writer fails its renew") {
    val dir = tempDir("banddex_stale")
    val tableDir = s"$dir/corpus.docs"
    // writer A acquires, then "crashes" (no release, no renewals)
    B.acquireLease(spark, tableDir, "writer-A", staleMs = 100L)
    // a live lease refuses a taker...
    intercept[IllegalStateException] {
      B.acquireLease(spark, tableDir, "writer-B", staleMs = 60000L)
    }
    Thread.sleep(150)
    // ...but once stale (crashed holder stopped renewing) it is broken and
    // taken over — the crash-recovery path a restart relies on
    B.acquireLease(spark, tableDir, "writer-B", staleMs = 100L)
    // the usurped writer's next heartbeat must FAIL (split-brain guard):
    // were it allowed to continue, two writers would interleave publishes
    val e = intercept[IllegalStateException] {
      B.renewLease(spark, tableDir, "writer-A")
    }
    assert(e.getMessage.contains("lost the lease"))
    // the live holder's renew keeps working, and release frees the table
    B.renewLease(spark, tableDir, "writer-B")
    B.releaseLease(spark, tableDir, "writer-B")
    B.acquireLease(spark, tableDir, "writer-C", staleMs = 60000L)
    B.releaseLease(spark, tableDir, "writer-C")
  }

  test("replay hole: a replayed first epoch never backfills its own rows; heal is one-time even for keyless tables") {
    import spark.implicits._
    // (a) crash between the very first data commit and the index append:
    // the replay must NOT backfill the epoch's own landed rows (the probe
    // could not hide them — backfill publishes under epoch -1)
    val dir = tempDir("banddex_replay")
    val tableDir = s"$dir/corpus.docs"
    val docs = Seq((1L, (1 to 24).map(i => s"tok$i").mkString(" ")))
      .toDF("doc_id", "text")
    graft.streaming.StreamingNearDedup.withBands(docs)
      .write.format("graft-streaming").mode("append")
      .option("path", dir).option("db", "corpus").option("table", "docs")
      .option(graft.sink.GraftSinkOptions.COMMIT_EPOCH, 0L)
      .save()
    val fs = fsOf(tableDir)
    assert(!fs.exists(new Path(B.dir(tableDir))), "fixture: data but no index")
    B.ensureBackfilled(spark, tableDir, replayingEpoch = 0L)
    assert(fs.exists(new Path(B.dir(tableDir))),
      "the heal must create the index dir so it never re-fires")
    assert(keysOf(tableDir).isEmpty,
      "the replaying epoch's own rows must not be backfilled — " +
        "excludeEpoch cannot hide backfill-published keys")
    // contrast: the same table replayed at a LATER epoch does backfill the
    // genuinely-earlier corpus
    val dir2 = tempDir("banddex_replay2")
    val tableDir2 = s"$dir2/corpus.docs"
    graft.streaming.StreamingNearDedup.withBands(docs)
      .write.format("graft-streaming").mode("append")
      .option("path", dir2).option("db", "corpus").option("table", "docs")
      .option(graft.sink.GraftSinkOptions.COMMIT_EPOCH, 0L)
      .save()
    B.ensureBackfilled(spark, tableDir2, replayingEpoch = 1L)
    assert(keysOf(tableDir2).nonEmpty,
      "a pre-index corpus below the replaying epoch must be backfilled")
    // (b) an all-short-doc epoch publishes no keys, but its append must
    // still create the index dir — otherwise ensureBackfilled re-runs a
    // full-table backfill scan EVERY epoch
    val dir3 = tempDir("banddex_empty")
    val tableDir3 = s"$dir3/corpus.docs"
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("bk",
          org.apache.spark.sql.types.LongType))))
    B.append(empty, tableDir3, 0L)
    assert(fsOf(tableDir3).exists(new Path(B.dir(tableDir3))),
      "an empty append must still create the index dir (one-time heal)")
  }
}
