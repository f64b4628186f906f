package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Plan-time scaling benchmark (r13 verdict #4): measures the DRIVER-side
  * file-planning cost curve of the manifest + stats + bloom skipping
  * pipeline at two committed-file counts (~10× apart), through the exact
  * production path (`GraftScan.planFiles`).
  *
  * Why this matters at 100 TB: at 128 MiB targets the table holds
  * ~10⁵–10⁶ committed files, and every query pays the planning loop ONCE
  * on the driver before any task launches. SINKBENCH_r13 proved skipping
  * QUALITY at 88 files (bloom point lookup plans 1-of-88); nothing
  * measured the planning COST curve. The claimed bound, which this main
  * verifies empirically at two scales:
  *
  *   plan cost = O(total files) manifest parse (cheap string/JSON work,
  *               no per-file IO — the µs/file slope this bench pins)
  *             + O(files in the probed partition that survive stats)
  *               bloom sidecar opens (the only per-file IO; partition
  *               pruning runs FIRST and short-circuits, so sidecar IO
  *               never scales with table file count)
  *
  * Emits one JSON line with, per scale: epochs, files_total,
  * manifest_parse_sec, plan_sec with a partition-pruned point lookup,
  * plan_sec with the same membership probe but NO partition predicate
  * (every stats survivor's sidecar opened — the shape a bounded deployment
  * avoids), and the partition/stats survivor counts that prove the bloom
  * IO bound. Env: SPARK_GRAFT_PLAN_EPOCHS_A (12), _EPOCHS_B (240),
  * SPARK_GRAFT_CPUS (32).
  */
object PlanScaleBench {
  def main(args: Array[String]): Unit = {
    val epochsA = sys.env.getOrElse("SPARK_GRAFT_PLAN_EPOCHS_A", "12").toInt
    val epochsB = sys.env.getOrElse("SPARK_GRAFT_PLAN_EPOCHS_B", "240").toInt
    val spark = MainSession.start(MainSession.cpus(32))
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val conf = spark.sparkContext.hadoopConfiguration

    def buildTable(epochs: Int): (String, Long) = {
      val dir = java.nio.file.Files.createTempDirectory("graft_planscale").toString
      val in = MemoryStream[Long]
      val q = in.toDS()
        .map(i => (i, s"msg payload for row $i with some width", s"t${i % 8}"))
        .toDF("id", "msg", "etype")
        .writeStream.format("graft-streaming")
        .option("path", dir).option("db", "bench").option("table", "plans")
        .option("partition.columns", "etype")
        .option("batch.size", "100000")
        .option("format", "parquet")
        .option("bloom.columns", "msg")
        .option("checkpointLocation", s"$dir/_cp")
        .start()
      var off = 0L
      val perEpoch = 400L
      (0 until epochs).foreach { _ =>
        in.addData(off until (off + perEpoch): _*)
        off += perEpoch
        q.processAllAvailable()
      }
      q.stop()
      (dir, off)
    }

    def timeMedian(n: Int)(body: => Unit): Double = {
      val ts = (0 until n).map { _ =>
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
      }.sorted
      ts(ts.size / 2)
    }

    // The SHARDED scale points (r14 verdict #1): the streaming build above
    // tops out ~2k files in reasonable wall time, but the 100 TB question
    // is 10⁴–10⁶. Fabricate compaction-shaped tables (ONE negative-id
    // commit listing every file with real stats — exactly what Compact
    // publishes; at ≥64 entries the commit log shards it by partition
    // dir) and measure the same planFiles path. Data files never exist on
    // disk — planFiles opens no data file, and the probe is partition +
    // stats-shaped so the bloom stage touches only the single stats
    // survivor. Holding per-partition entry count FIXED while files_total
    // grows 10× (64 → 640 partitions), the partition-pruned plan parses
    // one parent + ONE shard at both points: measured-flat plan cost vs
    // files_total, while the full (unpruned) parse stays linear — the
    // bound the sharding exists to provide.
    def buildSynthetic(nParts: Int, perPart: Int): (String, Long) = {
      val dir = java.nio.file.Files
        .createTempDirectory("graft_planscale_syn").toString
      val tableDir = s"$dir/bench.plans"
      val log = new graft.sink.CommitLog(tableDir, conf)
      val files = for (p <- 0 until nParts; i <- 0 until perPart)
        yield f"$tableDir/etype=t$p/compact-$p%04d-$i%05d.parquet"
      val stats = files.zipWithIndex.map { case (f, i) =>
        f -> graft.sink.FileStats(10L, Map("id" -> graft.sink.ColStats(
          Some(0L), Some(s"l${i * 10L}"), Some(s"l${i * 10L + 9}")))).serialize
      }.toMap
      require(log.commit(-1L, files, fileStats = stats))
      (tableDir, files.size.toLong)
    }

    val synthetic = Seq((64, 160), (640, 160)).map { case (nParts, perPart) =>
      val (tableDir, filesTotal) = buildSynthetic(nParts, perPart)
      val log = new graft.sink.CommitLog(tableDir, conf)
      import org.apache.spark.sql.sources.EqualTo
      // probe: partition t3, one id inside exactly one file of that dir
      val fileIdx = 3 * perPart + perPart / 2
      val probeId = fileIdx * 10L + 5L
      val partPreds = Seq("etype" -> "t3")
      val pushed: Array[org.apache.spark.sql.sources.Filter] =
        Array(EqualTo("etype", "t3"), EqualTo("id", probeId))
      val fullParseSec = timeMedian(5)(log.committedFilesWithStats())
      graft.sink.CommitLog.shardFileReads.set(0L)
      var planned: Seq[(String, Map[String, String])] = Seq.empty
      val planPrunedSec = timeMedian(5) {
        graft.sink.CommitLog.shardFileReads.set(0L)
        planned = graft.sink.GraftScan.planFiles(
          tableDir, "bench.plans", conf, partPreds, pushed)
      }
      val shardsRead = graft.sink.CommitLog.shardFileReads.get
      require(planned.size == 1 && planned.head._1.contains("/etype=t3/"),
        s"synthetic probe must plan exactly its file, got ${planned.size}")
      require(shardsRead == 1L,
        s"pruned plan must open exactly one shard, opened $shardsRead")
      f"""{"files_total":$filesTotal,"partitions":$nParts,""" +
        f""""full_parse_sec":$fullParseSec%.4f,""" +
        f""""plan_sec_partition_pruned":$planPrunedSec%.4f,""" +
        f""""shards_read":$shardsRead,"files_planned":${planned.size}}"""
    }

    val scales = Seq(epochsA, epochsB).map { epochs =>
      val (dir, rows) = buildTable(epochs)
      val tableDir = s"$dir/bench.plans"
      val log = new graft.sink.CommitLog(tableDir, conf)
      val withStats = log.committedFilesWithStats()
      val filesTotal = withStats.size
      // probe: a row from the middle epoch — id equality (stats-prunable),
      // msg equality (bloom-only: unique, interleaved), partition etype
      val probeId = rows / 2 + 1
      val probeMsg = s"msg payload for row $probeId with some width"
      val probeEtype = s"t${probeId % 8}"
      import org.apache.spark.sql.sources.EqualTo
      val pushed: Array[org.apache.spark.sql.sources.Filter] =
        Array(EqualTo("etype", probeEtype), EqualTo("msg", probeMsg))
      val partPreds = Seq("etype" -> probeEtype)

      val manifestParseSec = timeMedian(5)(log.committedFilesWithStats())
      var plannedPartitioned: Seq[(String, Map[String, String])] = Seq.empty
      val planPartSec = timeMedian(5) {
        plannedPartitioned = graft.sink.GraftScan.planFiles(
          tableDir, "bench.plans", conf, partPreds, pushed)
      }
      // same membership probe, partition predicate withheld: every stats
      // survivor in EVERY directory pays a sidecar open — the unbounded
      // shape, measured for contrast
      var plannedUnpartitioned: Seq[(String, Map[String, String])] = Seq.empty
      val planNoPartSec = timeMedian(5) {
        plannedUnpartitioned = graft.sink.GraftScan.planFiles(
          tableDir, "bench.plans", conf, Seq.empty,
          Array(EqualTo("msg", probeMsg)))
      }
      val inPartition = withStats.count { case (f, _) =>
        graft.sink.CommitLog.partitionSegments(f, "bench.plans")
          .toMap.get("etype").contains(probeEtype)
      }
      // the bound the scaladoc claims: partition pruning caps sidecar IO
      // at the probed directory's file count (1/8 of the table here), and
      // the bloom answers with ~1 planned file at any scale
      require(inPartition * 4 <= filesTotal,
        s"partition layout broken: $inPartition of $filesTotal in one dir")
      require(plannedPartitioned.size <= 2,
        s"bloom point lookup planned ${plannedPartitioned.size} files")
      require(plannedUnpartitioned.size <= 2,
        s"unpartitioned bloom lookup planned ${plannedUnpartitioned.size}")
      f"""{"epochs":$epochs,"files_total":$filesTotal,"rows":$rows,""" +
        f""""manifest_parse_sec":$manifestParseSec%.4f,""" +
        f""""plan_sec_partition_pruned":$planPartSec%.4f,""" +
        f""""plan_sec_no_partition":$planNoPartSec%.4f,""" +
        f""""files_in_probed_partition":$inPartition,""" +
        f""""files_planned":${plannedPartitioned.size}}"""
    }
    println(s"""{"metric":"plan_scale","scales":[${scales.mkString(",")}],""" +
      s""""synthetic_sharded":[${synthetic.mkString(",")}]}""")
    spark.stop()
  }
}
