package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Sink-throughput benchmark main: the reference's actual function is a
  * streaming sink (`HiveStreamDataWriter.scala` — row→JSON→Hive txn
  * batches), so the query bench alone doesn't measure parity with it.
  * This main drives the full structured-streaming write path — planner,
  * epoch txn lifecycle, per-row partition routing, JSON encode, batched
  * file writes, manifest commit — end to end through `graft-streaming`
  * and prints one JSON line with measured rows/s.
  *
  * Shape mirrors the reference example (`HiveStreamingExample.scala`: a
  * narrow id/msg-style row plus a partition column); rows arrive in
  * `BATCHES` micro-batches of `ROWS / BATCHES` rows after one untimed
  * warm-up batch, from a MemoryStream (no source bottleneck, so the sink
  * path is what's timed). After the timed run the table is read back via
  * the manifest-gated batch path and the count is asserted — a throughput
  * number that dropped or duplicated rows would be meaningless.
  *
  * Env knobs: SPARK_GRAFT_SINK_ROWS (default 1,000,000), _BATCHES (10),
  * _BATCHSIZE (rows per flushed batch — the reference's `batch.size`
  * group-commit knob, default 10000), _FORMAT (jsonl | parquet landing
  * mode), SPARK_GRAFT_CPUS (32).
  */
object SinkBench {
  def main(args: Array[String]): Unit = {
    val rows = sys.env.getOrElse("SPARK_GRAFT_SINK_ROWS", "1000000").toInt
    val batches = sys.env.getOrElse("SPARK_GRAFT_SINK_BATCHES", "10").toInt
    val batchSize = sys.env.getOrElse("SPARK_GRAFT_SINK_BATCHSIZE", "10000").toInt
    val format = sys.env.getOrElse("SPARK_GRAFT_SINK_FORMAT", "jsonl")
    // opt-in bloom sidecars (comma column list, e.g. "msg"): the write
    // path then pays the per-row observe + per-file sidecar, and the bench
    // measures what it buys — a point lookup on a unique-per-row column
    // planning 1 file where min/max stats plan all of them
    val bloomCols = sys.env.getOrElse("SPARK_GRAFT_SINK_BLOOM", "")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val dir = TempDirs.scratch("graft_sinkbench")
    val in = MemoryStream[Long]
    // reference-example row shape: key, message, event-type partition column
    val q = in.toDS()
      .map(i => (i, s"user-${i % 9973}", s"msg payload for row $i with some width", s"t${i % 8}"))
      .toDF("id", "user", "msg", "etype")
      .writeStream.format("graft-streaming")
      .option("path", dir).option("db", "bench").option("table", "events")
      .option("partition.columns", "etype")
      .option("batch.size", batchSize.toString)
      .option("format", format)
      .options(if (bloomCols.nonEmpty)
        Map("bloom.columns" -> bloomCols) else Map.empty[String, String])
      .option("checkpointLocation", s"$dir/_cp")
      .start()

    val warm = 10000
    in.addData(0L until warm.toLong: _*)
    q.processAllAvailable()

    val perBatch = rows / batches
    val t0 = System.nanoTime()
    var off = warm.toLong
    (0 until batches).foreach { _ =>
      in.addData(off until (off + perBatch): _*)
      off += perBatch
      q.processAllAvailable()
    }
    val sec = (System.nanoTime() - t0) / 1e9
    q.stop()

    // exactly-once check: the manifest-gated read must see warm + timed rows
    def table = spark.read.format("graft-streaming")
      .option("path", dir).option("db", "bench").option("table", "events")
      .load()
    val landed = table.count()
    val expected = warm + perBatch.toLong * batches
    require(landed == expected, s"sink lost/duplicated rows: $landed != $expected")

    // scan-side story (the reason columnar landing exists): a projected
    // aggregate over the landed table — parquet reads 2 column chunks
    // (vectorized when all-parquet), JSONL must decode every byte of
    // every row
    val r0 = System.nanoTime()
    table.selectExpr("sum(id)", "avg(length(msg))").collect()
    val readSec = (System.nanoTime() - r0) / 1e9

    // plan-time file skipping: a point lookup on the (monotone) id column
    // must plan only the one epoch's files whose manifest stats contain
    // the probe — on the pre-compaction table that is ~1/batches of the
    // committed files, the multi-file state an always-on ingest is in
    val probeId = warm.toLong + perBatch.toLong * batches / 2 + 1
    val log = new graft.sink.CommitLog(s"$dir/bench.events",
      spark.sparkContext.hadoopConfiguration)
    val withStats = log.committedFilesWithStats()
    val filesTotal = withStats.size
    val probeFilter = org.apache.spark.sql.sources.EqualTo("id", probeId)
    val filesPlanned = withStats.count {
      case (_, st) => !st.exists(_.prunes(probeFilter))
    }
    val f0 = System.nanoTime()
    val hits = table.where(s"id = $probeId").count()
    val readFilteredSec = (System.nanoTime() - f0) / 1e9
    require(hits == 1L, s"point lookup found $hits rows for id=$probeId")

    // bloom skipping: msg is UNIQUE per row and interleaved, so min/max
    // stats can never prune it — only the sidecar can. Measured before and
    // after compaction (the OR-merged sidecar must keep answering)
    def bloomPlanned(probe: org.apache.spark.sql.sources.Filter): (Int, Int) = {
      val fsys = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val all = log.committedFilesWithStats()
      val n = all.count { case (f, st) =>
        !(st.exists(_.prunes(probe)) ||
          graft.sink.Bloom.read(fsys, f).exists(_.prunes(probe)))
      }
      (n, all.size)
    }
    val bloomJson = if (bloomCols.nonEmpty) {
      val probeMsg = s"msg payload for row $probeId with some width"
      val probe = org.apache.spark.sql.sources.EqualTo("msg", probeMsg)
      val (planned, total) = bloomPlanned(probe)
      val b0 = System.nanoTime()
      val bHits = table.where(s"msg = '$probeMsg'").count()
      val bloomLookupSec = (System.nanoTime() - b0) / 1e9
      require(bHits == 1L, s"bloom point lookup found $bHits rows")
      s""","bloom_columns":"$bloomCols","bloom_files_planned":$planned,"bloom_files_total":$total,"bloom_lookup_seconds":$bloomLookupSec"""
    } else ""

    // the same read after compaction folds the ~batches×partitions small
    // epoch files into one file per partition dir — the table state a
    // maintained deployment scans, where per-file reader setup no longer
    // masks the columnar decode advantage
    graft.sink.Compact.run(s"$dir/bench.events",
      spark.sparkContext.hadoopConfiguration, retainMillis = 0L)
    val r1 = System.nanoTime()
    table.selectExpr("sum(id)", "avg(length(msg))").collect()
    val readCompactSec = (System.nanoTime() - r1) / 1e9
    require(table.count() == expected, "compaction changed the row count")

    // post-compaction bloom probe: each partition dir folded to one file,
    // whose sidecar is the OR of its inputs' — skipping must survive
    val bloomCompactJson = if (bloomCols.nonEmpty) {
      val probeMsg = s"msg payload for row $probeId with some width"
      val probe = org.apache.spark.sql.sources.EqualTo("msg", probeMsg)
      val (planned, total) = bloomPlanned(probe)
      require(table.where(s"msg = '$probeMsg'").count() == 1L,
        "bloom lookup after compaction lost the row")
      s""","bloom_files_planned_compacted":$planned,"bloom_files_total_compacted":$total"""
    } else ""

    // ORC in-file SARG skipping (r15): post-compaction each partition dir
    // holds one wide ORC file (~rows/8 ≈ 12 row groups at defaults); a
    // point lookup's SearchArgument should decode ONE 10k row group, not
    // the file. Measured through the production BatchReader — the same
    // reader the DSv2 scan drives — as decoded-row counts + wall.
    val orcSargJson = if (format == "orc") {
      val probePart = s"/etype=t${probeId % 8}/"
      val f = log.committedFiles()
        .filter(p => p.endsWith(".orc") && p.contains(probePart)).head
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("msg",
          org.apache.spark.sql.types.StringType)))
      def readRows(fs2: Seq[org.apache.spark.sql.sources.Filter]): (Long, Double) = {
        val t = System.nanoTime()
        val r = new graft.sink.OrcIO.BatchReader(
          new org.apache.hadoop.fs.Path(f), schema,
          spark.sparkContext.hadoopConfiguration, fs2)
        try { var n = 0L; while (r.nextBatch()) n += r.batch.numRows
          (n, (System.nanoTime() - t) / 1e9) }
        finally r.close()
      }
      val (full, fullSec) = readRows(Seq.empty)
      val (sargRows, sargSec) = readRows(Seq(probeFilter))
      require(sargRows < full,
        s"ORC SARG must skip row groups: read $sargRows of $full")
      s""","orc_file_rows":$full,"orc_sarg_rows":$sargRows,""" +
        s""""orc_full_read_seconds":$fullSec,"orc_sarg_read_seconds":$sargSec"""
    } else ""

    // clustered rewrite (parquet only): `user` is UNcorrelated with arrival,
    // so neither epoch files nor compacted concat can ever prune on it —
    // only the sort-rewrite gives disjoint per-file ranges. The measured
    // pair (files planned, lookup seconds) is the post-maintenance serving
    // story for a selective non-time predicate
    val clusterJson = if (format == "parquet") {
      // size the target off the actual table bytes so the rewrite yields ~4
      // files per partition dir at ANY bench scale (at production scale the
      // 128 MiB default does this naturally; the bench table is ~10 MiB)
      val fsys = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val tableBytes = log.committedFiles()
        .map(f => fsys.getFileStatus(new org.apache.hadoop.fs.Path(f)).getLen).sum
      val c0 = System.nanoTime()
      graft.sink.Compact.cluster(spark, s"$dir/bench.events", Seq("user"),
        targetFileBytes = math.max(1L, tableBytes / 32), retainMillis = 0L)
      val clusterSec = (System.nanoTime() - c0) / 1e9
      val clustered = log.committedFilesWithStats()
      val userProbe = org.apache.spark.sql.sources.EqualTo("user", "user-5000")
      val planned = clustered.count {
        case (_, st) => !st.exists(_.prunes(userProbe))
      }
      val c1 = System.nanoTime()
      val userHits = table.where("user = 'user-5000'").count()
      val readClusteredSec = (System.nanoTime() - c1) / 1e9
      require(userHits > 0, "clustered point lookup found no rows")
      require(table.count() == expected, "cluster changed the row count")
      s""","cluster_seconds":$clusterSec,"files_clustered":${clustered.size},"files_planned_clustered":$planned,"read_clustered_seconds":$readClusteredSec"""
    } else ""

    val rps = perBatch.toLong * batches / sec
    println(s"""{"metric":"sink_rows_per_sec","value":${rps.round},"unit":"rows/sec","rows":${perBatch * batches},"batches":$batches,"batch_size":$batchSize,"format":"$format","seconds":$sec,"read_seconds":$readSec,"read_rows_per_sec":${(landed / readSec).round},"read_compacted_seconds":$readCompactSec,"read_compacted_rows_per_sec":${(landed / readCompactSec).round},"read_filtered_seconds":$readFilteredSec,"files_total":$filesTotal,"files_planned":$filesPlanned$bloomJson$bloomCompactJson$orcSargJson$clusterJson,"partitions":8,"verified_rows":$landed}""")
    spark.stop()
  }
}
