package graft.sink

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.sources.EqualTo

import graft.SparkSpec

/** Size-bounded consolidation and the clustered (OPTIMIZE-style) rewrite.
  *
  * At scale a partition directory must never fold into ONE ever-growing
  * file: later compactions would rewrite the whole partition and plan-time
  * file skipping would have nothing to skip. `Compact.run` therefore splits
  * consolidated outputs at `targetFileBytes`, and `Compact.cluster`
  * re-sorts a table by user columns so file stats prune AFTER compaction
  * too — the log-structured-table maintenance pair (compact + cluster) the
  * reference delegates wholesale to Hive ACID's compactor.
  */
class CompactClusterSpec extends SparkSpec {

  private def tmp(): String =
    tempDir("graft-cluster")

  private def opts(path: String, extra: (String, String)*): Map[String, String] =
    (Map("path" -> path, "db" -> "testdb", "table" -> "t",
      "format" -> "parquet") ++ extra.toMap)

  private def hconf = spark.sparkContext.hadoopConfiguration

  /** Land `epochs` batches through a real stream; `idsOf(e)` picks each
    * epoch's rows.
    */
  private def land(dir: String, epochs: Int, idsOf: Int => Seq[Int],
      extra: (String, String)*): Unit = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Int]
    val q = in.toDS()
      .map(i => (i, if (i % 2 == 0) "EU" else "US", s"m$i"))
      .toDF("id", "region", "msg")
      .writeStream.format("graft-streaming")
      .options(opts(dir, extra: _*))
      // unique per call: a test landing two lineages runs two queries, and
      // a second query must not resume the first one's checkpoint
      .option("checkpointLocation",
        s"$dir/_cp${CompactClusterSpec.cpSeq.incrementAndGet()}")
      .start()
    (0 until epochs).foreach { e =>
      in.addData(idsOf(e): _*)
      q.processAllAvailable()
    }
    q.stop()
  }

  private def idBounds(st: FileStats): (Long, Long) = {
    val c = st.cols("id")
    // long-tagged tokens ('l' + digits) — ids are INT32 columns
    (c.min.get.drop(1).toLong, c.max.get.drop(1).toLong)
  }

  test("consolidation splits outputs at targetFileBytes, keeping stats per chunk") {
    val dir = tmp()
    // sequential ids per epoch → arrival-correlated, disjoint per-file ranges
    land(dir, epochs = 5, e => e * 100 until (e + 1) * 100)
    val tableDir = s"$dir/testdb.t"
    val log = new CommitLog(tableDir, hconf)
    val before = log.committedFiles()
    assert(before.size === 5)

    // target of 1 byte → every input is its own chunk: the split logic is
    // exercised deterministically regardless of physical file sizes
    val res = Compact.run(tableDir, hconf, retainMillis = 0L,
      targetFileBytes = 1L)
    assert(res.supersededEpochs === 5)
    assert(res.consolidatedFiles === 5, "1-byte target: one output per input")

    val withStats = log.committedFilesWithStats()
    assert(withStats.size === 5)
    assert(withStats.forall(_._2.nonEmpty),
      "every split output must re-derive manifest stats from its footer")
    // epoch-ordered folding keeps the disjoint ranges: a point probe plans 1
    val probe = EqualTo("id", 250)
    assert(withStats.count { case (_, st) => !st.exists(_.prunes(probe)) } === 1)
    val out = CommitLog.readCommitted(spark, tableDir)
    import spark.implicits._
    assert(out.select("id").as[Long].collect().sorted.toSeq === (0L until 500L))
  }

  test("jsonl consolidation splits at targetFileBytes on input boundaries") {
    val dir = tmp()
    land(dir, epochs = 4, e => e * 50 until (e + 1) * 50, "format" -> "jsonl")
    val tableDir = s"$dir/testdb.t"
    val log = new CommitLog(tableDir, hconf)
    val res = Compact.run(tableDir, hconf, retainMillis = 0L,
      targetFileBytes = 1L)
    assert(res.consolidatedFiles === 4)
    val after = log.committedFiles()
    assert(after.forall(f => f.contains("compact-") && f.endsWith(".jsonl")))
    import spark.implicits._
    val out = CommitLog.readCommitted(spark, tableDir)
    assert(out.select("id").as[Long].collect().sorted.toSeq === (0L until 200L))
  }

  test("cluster: sort-rewrite makes post-compaction file skipping real") {
    val dir = tmp()
    // INTERLEAVED ids: every epoch spans the full range, so byte-level
    // consolidation (arrival order) could never give pruning ranges
    land(dir, epochs = 5, e => (e until 500 by 5))
    val tableDir = s"$dir/testdb.t"
    val log = new CommitLog(tableDir, hconf)
    val probe = EqualTo("id", 250)
    val preStats = log.committedFilesWithStats()
    assert(preStats.count { case (_, st) => !st.exists(_.prunes(probe)) } === 5,
      "interleaved landing: no file prunable before clustering")
    val before = log.committedFiles()
    val fs = new Path(tableDir).getFileSystem(hconf)
    val total = before.map(f => fs.getFileStatus(new Path(f)).getLen).sum
    val hwmBefore = log.streamingWatermark()

    val res = Compact.cluster(spark, tableDir, Seq("id"),
      targetFileBytes = math.max(1L, total / 4), retainMillis = 0L)
    assert(res.supersededEpochs === 5)
    assert(res.consolidatedFiles >= 2, "the size target must split the rewrite")

    val withStats = log.committedFilesWithStats()
    assert(withStats.forall { case (f, st) =>
      f.contains("compact-") && f.endsWith(".parquet") && st.nonEmpty
    })
    // ranges must now be pairwise disjoint → the probe plans exactly 1 file
    val bounds = withStats.map(p => idBounds(p._2.get)).sortBy(_._1)
    bounds.sliding(2).foreach {
      case Seq((_, max1), (min2, _)) =>
        assert(max1 < min2, s"overlapping clustered ranges: $bounds")
      case _ =>
    }
    assert(withStats.count { case (_, st) => !st.exists(_.prunes(probe)) } === 1)

    import spark.implicits._
    val out = CommitLog.readCommitted(spark, tableDir)
    assert(out.select("id").as[Long].collect().sorted.toSeq === (0L until 500L))
    assert(out.filter($"id" === 250).select("msg").as[String].collect()
      === Array("m250"))
    assert(before.forall(f => !fs.exists(new Path(f))), "old files cleaned")
    assert(log.streamingWatermark() === hwmBefore, "watermark survives cluster")
  }

  test("cluster on an ORC table: sort-rewrite + per-file pruning, like parquet") {
    val dir = tmp()
    // interleaved ids: nothing prunable before clustering (the reference's
    // own storage format — stored-as-orc tables — gets the same
    // OPTIMIZE/CLUSTER BY path as parquet landings)
    land(dir, epochs = 5, e => (e until 500 by 5), "format" -> "orc")
    val tableDir = s"$dir/testdb.t"
    val log = new CommitLog(tableDir, hconf)
    val probe = EqualTo("id", 250)
    val preStats = log.committedFilesWithStats()
    assert(preStats.count { case (_, st) => !st.exists(_.prunes(probe)) } === 5,
      "interleaved landing: no ORC file prunable before clustering")
    val before = log.committedFiles()
    assert(before.forall(_.endsWith(".orc")))
    val fs = new Path(tableDir).getFileSystem(hconf)
    val total = before.map(f => fs.getFileStatus(new Path(f)).getLen).sum

    val res = Compact.cluster(spark, tableDir, Seq("id"),
      targetFileBytes = math.max(1L, total / 4), retainMillis = 0L)
    assert(res.supersededEpochs === 5)
    assert(res.consolidatedFiles >= 2, "the size target must split the rewrite")

    val withStats = log.committedFilesWithStats()
    assert(withStats.forall { case (f, st) =>
      f.contains("compact-") && f.endsWith(".orc") && st.nonEmpty
    }, "clustered outputs stay ORC with re-derived stats")
    val bounds = withStats.map(p => idBounds(p._2.get)).sortBy(_._1)
    bounds.sliding(2).foreach {
      case Seq((_, max1), (min2, _)) =>
        assert(max1 < min2, s"overlapping clustered ranges: $bounds")
      case _ =>
    }
    assert(withStats.count { case (_, st) => !st.exists(_.prunes(probe)) } === 1,
      "a point probe must plan exactly one clustered ORC file")

    import spark.implicits._
    val out = CommitLog.readCommitted(spark, tableDir)
    assert(out.select("id").as[Long].collect().sorted.toSeq === (0L until 500L))
    assert(out.filter($"id" === 250).select("msg").as[String].collect()
      === Array("m250"))
    assert(before.forall(f => !fs.exists(new Path(f))), "old ORC files cleaned")
  }

  test("cluster on a mixed parquet+orc table rewrites each format in place") {
    val dir = tmp()
    // two landing lineages in one table: streamed parquet epochs, then a
    // batch-landed ORC append (a second stream would collide on epoch ids)
    land(dir, epochs = 2, e => (e until 300 by 3))
    locally {
      import spark.implicits._
      (2 until 300 by 3).map(i => (i, if (i % 2 == 0) "EU" else "US", s"m$i"))
        .toDF("id", "region", "msg")
        .write.format("graft-streaming")
        .options(opts(dir, "format" -> "orc")).mode("append").save()
    }
    val tableDir = s"$dir/testdb.t"
    val log = new CommitLog(tableDir, hconf)
    val exts = log.committedFiles().map(_.split('.').last).toSet
    assert(exts === Set("parquet", "orc"), s"need both lineages, got $exts")

    val res = Compact.cluster(spark, tableDir, Seq("id"), retainMillis = 0L)
    assert(res.supersededEpochs === 3)
    val after = log.committedFiles()
    assert(after.map(_.split('.').last).toSet === Set("parquet", "orc"),
      "each format clusters into its own outputs")
    import spark.implicits._
    val out = CommitLog.readCommitted(spark, tableDir)
    assert(out.select("id").as[Long].collect().sorted.toSeq === (0L until 300L))
  }

  test("cluster keeps files in their partition directories") {
    val dir = tmp()
    land(dir, epochs = 4, e => (e until 400 by 4),
      "partition.columns" -> "region")
    val tableDir = s"$dir/testdb.t"
    val log = new CommitLog(tableDir, hconf)
    assert(log.committedFiles().forall(f =>
      f.contains("region=EU") || f.contains("region=US")))

    val res = Compact.cluster(spark, tableDir, Seq("id"),
      targetFileBytes = 1L << 12, retainMillis = 0L)
    assert(res.supersededEpochs === 4)
    val after = log.committedFiles()
    assert(after.forall(f => f.contains("region=EU") || f.contains("region=US")),
      "clustered rewrite must stay inside partition routing")

    import spark.implicits._
    val out = CommitLog.readCommitted(spark, tableDir)
    assert(out.count() === 400)
    assert(out.filter($"region" === "EU").count() === 200)
    assert(out.select("id").as[Long].collect().sorted.toSeq === (0L until 400L))

    // partition columns live in the path — clustering by one must explain
    val e = intercept[IllegalArgumentException] {
      Compact.cluster(spark, tableDir, Seq("region"), retainMillis = 0L)
    }
    assert(e.getMessage.contains("partition columns"))
  }

  test("cluster rewrites many partition directories concurrently and intact") {
    val dir = tmp()
    // 12 partition dirs (id % 12), interleaved ids within each — the
    // many-dir shape whose serial per-dir submission was wall-time linear
    // in dir count; the concurrent path must preserve per-dir routing,
    // per-dir sort ranges, and the full row set
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Int]
    val q = in.toDS()
      .map(i => (i, s"g${i % 12}", s"m$i"))
      .toDF("id", "grp", "msg")
      .writeStream.format("graft-streaming")
      .options(opts(dir, "partition.columns" -> "grp"))
      .option("checkpointLocation", s"$dir/_cp")
      .start()
    (0 until 3).foreach { e =>
      in.addData(e until 600 by 3: _*)
      q.processAllAvailable()
    }
    q.stop()
    val tableDir = s"$dir/testdb.t"
    val log = new CommitLog(tableDir, hconf)
    val dirsBefore = log.committedFiles()
      .map(f => new Path(f).getParent.getName).toSet
    assert(dirsBefore.size === 12)

    val res = Compact.cluster(spark, tableDir, Seq("id"),
      targetFileBytes = 1L << 12, retainMillis = 0L, dirParallelism = 8)
    assert(res.supersededEpochs === 3)
    val after = log.committedFilesWithStats()
    assert(after.map(p => new Path(p._1).getParent.getName).toSet === dirsBefore,
      "every partition directory must survive the concurrent rewrite")
    // within each dir the clustered ranges must be pairwise disjoint
    after.groupBy(p => new Path(p._1).getParent).foreach { case (_, fs0) =>
      val bounds = fs0.flatMap(_._2.map(idBounds)).sortBy(_._1)
      bounds.sliding(2).foreach {
        case Seq((_, max1), (min2, _)) => assert(max1 < min2)
        case _ =>
      }
    }
    val out = CommitLog.readCommitted(spark, tableDir)
    assert(out.select("id").as[Long].collect().sorted.toSeq === (0L until 600L))
    assert(out.filter($"grp" === "g7").count() === 50)
  }

  test("zorder cluster: every clustered column prunes; linear only the first") {
    // 20x20 grid of independent keys (a, b): after a LINEAR (a, b) sort
    // each size-split file holds a narrow a-range but ALL b values, so
    // b-predicates can never prune; the z-order rewrite gives both columns
    // narrow per-file ranges
    def landGrid(dir: String): Unit = {
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val in = MemoryStream[Int]
      val q = in.toDS()
        .map(i => (i, i % 20, (i / 20) % 20, s"m$i"))
        .toDF("id", "a", "b", "msg")
        .writeStream.format("graft-streaming")
        .options(opts(dir))
        .option("checkpointLocation",
          s"$dir/_cp${CompactClusterSpec.cpSeq.incrementAndGet()}")
        .start()
      (0 until 2).foreach { e =>
        in.addData(e until 400 by 2: _*)
        q.processAllAvailable()
      }
      q.stop()
    }
    def nonPruned(log: CommitLog, probe: org.apache.spark.sql.sources.Filter): Int =
      log.committedFilesWithStats().count { case (_, st) => !st.exists(_.prunes(probe)) }
    def rewrite(dir: String, zorder: Boolean): CommitLog = {
      landGrid(dir)
      val tableDir = s"$dir/testdb.t"
      val log = new CommitLog(tableDir, hconf)
      val fs = new Path(tableDir).getFileSystem(hconf)
      val total = log.committedFiles()
        .map(f => fs.getFileStatus(new Path(f)).getLen).sum
      Compact.cluster(spark, tableDir, Seq("a", "b"),
        targetFileBytes = math.max(1L, total / 8), retainMillis = 0L,
        zorder = zorder)
      log
    }
    val aProbe = EqualTo("a", 10)
    val bProbe = EqualTo("b", 10)

    val linear = rewrite(tmp(), zorder = false)
    val nLinear = linear.committedFiles().size
    assert(nLinear >= 4, s"size target must split the linear rewrite, got $nLinear")
    assert(nonPruned(linear, aProbe) < nLinear, "linear prunes on the lead key")
    assert(nonPruned(linear, bProbe) === nLinear,
      "linear sort leaves the trailing key unprunable — the gap z-order closes")

    val zed = rewrite(tmp(), zorder = true)
    val nZ = zed.committedFiles().size
    assert(nZ >= 4, s"size target must split the z-order rewrite, got $nZ")
    val (zA, zB) = (nonPruned(zed, aProbe), nonPruned(zed, bProbe))
    assert(zA < nZ, s"z-order must prune on a: planned $zA of $nZ")
    assert(zB < nZ, s"z-order must prune on b: planned $zB of $nZ")
    assert(zB.toDouble / nZ < nonPruned(linear, bProbe).toDouble / nLinear,
      "z-order must plan a smaller file fraction than linear for the trailing key")

    // the z-value is a sort key only: the data read back is unchanged
    import spark.implicits._
    Seq(linear, zed).foreach { log =>
      val tableDir = log.committedFiles().head.split("/testdb.t/").head + "/testdb.t"
      val out = CommitLog.readCommitted(spark, tableDir)
      assert(out.columns.toSeq === Seq("id", "a", "b", "msg"))
      assert(out.select("id").as[Long].collect().sorted.toSeq === (0L until 400L))
    }
  }

  test("zorder rejects > 7 columns (Morton key must fit a long)") {
    val dir = tmp()
    land(dir, epochs = 1, e => 0 until 10)
    val e = intercept[IllegalArgumentException] {
      Compact.cluster(spark, s"$dir/testdb.t",
        (1 to 8).map(i => s"c$i"), zorder = true)
    }
    assert(e.getMessage.contains("at most"))
  }

  test("cluster rejects a table with JSONL epochs") {
    val dir = tmp()
    land(dir, epochs = 2, e => e * 10 until (e + 1) * 10, "format" -> "jsonl")
    val e = intercept[IllegalArgumentException] {
      Compact.cluster(spark, s"$dir/testdb.t", Seq("id"))
    }
    assert(e.getMessage.contains("columnar"))
  }
}

object CompactClusterSpec {
  val cpSeq = new java.util.concurrent.atomic.AtomicLong(0L)
}
