package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Structured-Streaming operator surface the reference's users compose
  * upstream of the sink (SURVEY §2.B) plus the streaming-only suite row of
  * §2.C: watermark late-drop, streaming dropDuplicates, foreachBatch.
  */
class StreamingSurfaceSpec extends SparkSpec {

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("watermark: late events beyond the threshold are dropped") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val agg = in.toDF().toDF("ts", "k")
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "10 minutes"), $"k").count()
    val q = agg.writeStream.format("memory").queryName("wm_out")
      .outputMode("append").start()

    in.addData((ts(0), "a"), (ts(5), "a"))
    q.processAllAvailable()
    // advance event time far past the first window + watermark → closes it
    in.addData((ts(40), "a"))
    q.processAllAvailable()
    // this event is >10 min older than the max seen (10:40) → dropped
    in.addData((ts(1), "a"))
    q.processAllAvailable()
    // close all windows
    in.addData((ts(59), "flush"))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("wm_out")
      .select(col("window.start").cast("string"), $"k", $"count").as[(String, String, Long)]
      .collect().toSet
    // first window has exactly the 2 on-time events; the late 10:01 event
    // never re-opened it
    assert(rows.contains(("2024-01-01 10:00:00", "a", 2L)))
  }

  test("streaming dropDuplicates with watermark: dupes across batches removed") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val dedup = in.toDF().toDF("ts", "id")
      .withWatermark("ts", "30 minutes")
      .dropDuplicates("id")
    val q = dedup.writeStream.format("memory").queryName("dd_out")
      .outputMode("append").start()
    in.addData((ts(0), "x"), (ts(1), "y"), (ts(2), "x"))
    q.processAllAvailable()
    in.addData((ts(3), "x"), (ts(4), "z"))
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("dd_out").select("id").as[String].collect().sorted
    assert(ids.toSeq === Seq("x", "y", "z"))
  }

  test("foreachBatch: per-epoch batch DataFrames observed exactly once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Int]
    val seen = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    val q = in.toDS().writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[Int], epoch: Long) =>
        seen.put(epoch, df.count())
        ()
      }
      .start()
    in.addData(1 to 10: _*)
    q.processAllAvailable()
    in.addData(11 to 30: _*)
    q.processAllAvailable()
    q.stop()
    assert(seen.values().stream().mapToLong(identity(_)).sum() === 30L)
  }

  test("session windows (streaming session_window) match the batch analogue") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val agg = in.toDF().toDF("ts", "user")
      .withWatermark("ts", "1 minute")
      .groupBy(session_window($"ts", "30 minutes"), $"user").count()
    val q = agg.writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    // two sessions for u1 (gap 35 min between 10:10 and 10:45), one for u2
    in.addData((ts(0), "u1"), (ts(10), "u1"), (ts(45), "u1"), (ts(5), "u2"))
    q.processAllAvailable()
    in.addData((Timestamp.valueOf("2024-01-01 12:00:00"), "flush"))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("sess_out")
      .select($"user", $"count").as[(String, Long)].collect()
      .filter(_._1 != "flush").toSet
    assert(rows === Set(("u1", 2L), ("u1", 1L), ("u2", 1L)))
  }

  test("session windows: batch lag-cumsum analogue matches streaming session_window") {
    // q_stream_session's batch formulation (TimeOps.sessionOn: lag +
    // cumulative break-flag sum, break on gap > threshold) claims the
    // SAME semantics as streaming session_window — including the exact-
    // boundary case (gap == threshold merges: session_window merges
    // touching intervals, the analogue breaks only on strict >). Run both
    // over the same rows, boundary cases included, and compare sessions
    // as (user, n_events, sum_value, start_ms) sets. Streaming
    // window.end is start-of-last-event + gap while the batch analogue
    // reports max event ts, so end times are intentionally not compared.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val gapMin = 30
    val rows = Seq(
      // u1: 10:00, 10:29:59 (gap < 30m, same), 10:59:59 (== 30m exactly,
      // must MERGE in both), 11:45 (> 30m, new session)
      (1L, "u1", 1.0, Timestamp.valueOf("2024-01-01 10:00:00")),
      (2L, "u1", 2.0, Timestamp.valueOf("2024-01-01 10:29:59")),
      (3L, "u1", 3.0, Timestamp.valueOf("2024-01-01 10:59:59")),
      (4L, "u1", 4.0, Timestamp.valueOf("2024-01-01 11:45:00")),
      // u2: one lone event, then one 30:01 later (> gap, new session)
      (5L, "u2", 5.0, Timestamp.valueOf("2024-01-01 10:10:00")),
      (6L, "u2", 6.0, Timestamp.valueOf("2024-01-01 10:40:01")))
    val batchDf = rows.toDF("event_id", "user_id", "value", "ts")
      .select(col("event_id"), col("user_id"), col("value"),
        (col("ts").cast("double") * 1000).cast("long").as("ts_ms"))
    val batch = graft.operators.TimeOps.sessionOn(batchDf)
      .select($"user_id", $"n_events", $"sum_value", $"session_start_ms")
      .as[(String, Long, Double, Long)].collect().toSet

    val in = MemoryStream[(Long, String, Double, Timestamp)]
    val agg = in.toDF().toDF("event_id", "user_id", "value", "ts")
      .withWatermark("ts", "1 minute")
      .groupBy(session_window($"ts", s"$gapMin minutes").as("w"), $"user_id")
      .agg(count(lit(1)).as("n_events"), sum($"value").as("sum_value"))
      .select($"user_id", $"n_events", $"sum_value",
        (col("w.start").cast("double") * 1000).cast("long")
          .as("session_start_ms"))
    val q = agg.writeStream.format("memory").queryName("sess_parity")
      .outputMode("append").start()
    in.addData(rows: _*)
    q.processAllAvailable()
    in.addData((99L, "flush", 0.0, Timestamp.valueOf("2024-01-01 15:00:00")))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("sess_parity")
      .as[(String, Long, Double, Long)].collect()
      .filter(_._1 != "flush").toSet
    assert(streamed === batch,
      s"streaming sessions $streamed != batch analogue $batch")
  }

  test("tumbling/sliding windows (streaming window()) match the batch expression") {
    // q_stream_tumbling/q_stream_sliding claim their window() expression is
    // streaming-compatible verbatim; run the SAME groupBy under
    // readStream+watermark and compare against the batch result on the
    // same rows
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq((ts(0), 1.0), (ts(10), 2.0), (ts(40), 3.0),
      (ts(55), 4.0), (Timestamp.valueOf("2024-01-01 11:20:00"), 5.0))
    def shape(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(window($"ts", "1 hour", "30 minutes").as("w"))
      .agg(count(lit(1)).as("cnt"), sum($"v").as("s"))
      .select($"w.start".as("ws"), $"cnt", $"s")
    val batch = shape(rows.toDF("ts", "v"))
      .as[(Timestamp, Long, Double)].collect().toSet
    val in = MemoryStream[(Timestamp, Double)]
    val q = shape(in.toDF().toDF("ts", "v").withWatermark("ts", "1 minute"))
      .writeStream.format("memory").queryName("win_out")
      .outputMode("complete").start()
    in.addData(rows: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("win_out")
      .as[(Timestamp, Long, Double)].collect().toSet
    assert(streamed === batch)
    assert(batch.size === 4, s"fixture must span several windows: $batch")
  }

  test("custom state: flatMapGroupsWithState keeps running per-user counters") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Int)]
    val counted = in.toDS()
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user: String, events: Iterator[(String, Int)], state: GroupState[Long]) =>
          val total = state.getOption.getOrElse(0L) + events.size
          state.update(total)
          Iterator((user, total))
      }
    val q = counted.toDF("user", "total")
      .writeStream.format("memory").queryName("fmgws_out")
      .outputMode("update").start()
    in.addData(("a", 1), ("a", 2), ("b", 1))
    q.processAllAvailable()
    in.addData(("a", 3))
    q.processAllAvailable()
    q.stop()
    import org.apache.spark.sql.functions.max
    val finals = spark.table("fmgws_out").groupBy("user")
      .agg(max("total").as("total")).as[(String, Long)].collect().toMap
    // state carried across micro-batches: a saw 2 then 1 more, b saw 1
    assert(finals === Map("a" -> 3L, "b" -> 1L))
  }

  test("freq_items_sketch aggregates under Structured Streaming (complete mode)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[String]
    val sk = org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.FreqItemsSketch(
        org.apache.spark.sql.GraftSqlBridge.expression(
          org.apache.spark.sql.functions.col("value")), 4)
        .toAggregateExpression())
    val q = in.toDF()
      .agg(sk.as("sketch"))
      .writeStream.format("memory").queryName("fis_stream_out")
      .outputMode("complete").start()
    in.addData(Seq.fill(30)("a") ++ Seq.fill(10)("b"): _*)
    q.processAllAvailable()
    in.addData(Seq.fill(30)("a") ++ (0 until 5).map("rare" + _): _*)
    q.processAllAvailable()
    q.stop()
    val m = spark.table("fis_stream_out")
      .head.getMap[String, Long](0)
    // n = 75, k = 4 → error bound n/(k+1) = 15; 'a' (60) must survive
    // the cross-micro-batch state merge with est within the bound
    assert(m.contains("a"), s"heavy item must survive streaming merges: $m")
    assert(m("a") <= 60 && m("a") >= 60 - 15, s"a bound: ${m("a")}")
  }

  test("streaming content dedup: duplicates across epochs never reach the table") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("sdedup")
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingDedup.start(
      in.toDF().toDF("doc_id", "text"),
      dir, "corpus", "docs", s"$dir/_cp")
    in.addData((1L, "the quick brown fox"), (2L, "lorem ipsum"),
      (3L, "The Quick Brown Fox")) // case-dup of doc 1
    q.processAllAvailable()
    // second epoch: one repeat, one new
    in.addData((4L, "lorem ipsum"), (5L, "genuinely new text"))
    q.processAllAvailable()
    q.stop()
    val out = graft.sink.CommitLog.readCommitted(spark, s"$dir/corpus.docs")
    assert(out.count() === 3, "expected exactly the 3 unique contents")
    assert(out.select("fp").distinct().count() === 3)
    val texts = out.select("text").as[String].collect().map(_.toLowerCase).sorted
    assert(texts === Array("genuinely new text", "lorem ipsum", "the quick brown fox"))
  }

  // shared banding helper: doc_id -> set of non-null band keys, computed
  // with the SAME construction the streaming operator uses
  private def bandSets(rows: Seq[(Long, String)]): Map[Long, Set[Long]] = {
    import spark.implicits._
    graft.streaming.StreamingNearDedup
      .withBands(rows.toDF("doc_id", "text"))
      .collect().map { r =>
        r.getLong(0) -> (0 until 8).map(b =>
          Option(r.get(r.fieldIndex(s"band_$b"))).map(_.asInstanceOf[Long]))
          .flatten.toSet
      }.toMap
  }

  test("streaming NEAR-dedup: LSH-banded docs dropped across and within epochs, chains through dropped docs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("sneardedup")
    val base = (1 to 24).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 24).map(i => if (i == 12) "CHANGED" else s"tok$i").mkString(" ")
    val distinctText = (100 to 123).map(i => s"other$i").mkString(" ")
    // epoch-3 fixture: a doc banding-similar to the DROPPED doc 2 but to no
    // KEPT doc — the row that discriminates the declared "kept or not"
    // policy from a landed-docs-only one (under which it would pass).
    // Found deterministically among two-token variants of the base so the
    // fixture survives future banding-parameter changes.
    val chainCands = (1 to 24).filterNot(_ == 12).map { p =>
      p.toLong -> (1 to 24).map(i =>
        if (i == 12) "CHANGED" else if (i == p) s"ALT$p" else s"tok$i")
        .mkString(" ")
    }
    val mainBands = bandSets(Seq((1L, base), (2L, nearDup), (4L, distinctText)))
    val candBands = bandSets(chainCands)
    val chainText = chainCands.collectFirst {
      case (p, text)
        if (candBands(p) & mainBands(2L)).nonEmpty &&
          (candBands(p) & mainBands(1L)).isEmpty &&
          (candBands(p) & mainBands(4L)).isEmpty => text
    }.getOrElse(fail("no candidate collides with the dropped doc alone; " +
      "the fixture search space needs widening, not a code fix"))
    val rows = Seq(
      (1L, base), (2L, nearDup),          // epoch 1: 2 should collapse into 1
      (3L, base), (4L, distinctText),     // epoch 2: 3 = exact dup, 4 new
      (5L, "too short"),                  // <3 tokens: no evidence, passes
      (6L, chainText),                    // epoch 3: similar ONLY to dropped 2
      (7L, (200 to 223).map(i => s"fresh$i").mkString(" ")))
    // driver-side simulation of the declared policy over the SAME banding:
    // any earlier arrival (kept or not) sharing a band drops you
    val bands = bandSets(rows)
    val expected = rows.map(_._1).foldLeft(Vector.empty[Long]) { (kept, id) =>
      val earlier = rows.map(_._1).filter(_ < id)
      if (earlier.exists(e => (bands(e) & bands(id)).nonEmpty)) kept
      else kept :+ id
    }
    assert(expected.contains(1L) && !expected.contains(3L),
      s"fixture must exercise an exact cross-epoch dup; got $expected")
    assert(!expected.contains(2L),
      "the 1-word-in-24 near-dup must share a band with the original " +
        "(if this fails the fixture needs a closer pair, not a code fix)")
    assert(!expected.contains(6L) && expected.contains(7L),
      s"doc 6 must collapse into the chain through dropped doc 2; got $expected")
    val in = MemoryStream[(Long, String)]
    // compactEvery = 2: the index is consolidated mid-stream (after epoch
    // 1), so epoch 2's probe — including the chain through dropped doc 2 —
    // runs against compacted state; the expected outcome is unchanged
    val q = graft.streaming.StreamingNearDedup.start(
      in.toDF().toDF("doc_id", "text"), dir, "corpus", "docs", s"$dir/_cp",
      compactEvery = 2)
    in.addData(rows(0), rows(1))
    q.processAllAvailable()
    in.addData(rows(2), rows(3), rows(4))
    q.processAllAvailable()
    in.addData(rows(5), rows(6))
    q.processAllAvailable()
    q.stop()
    val out = graft.sink.CommitLog.readCommitted(spark, s"$dir/corpus.docs")
    assert(out.select("doc_id").as[Long].collect().sorted.toSeq ===
      expected.sorted)
    // short doc landed with NULL band keys (no false sharing)
    assert(out.filter($"doc_id" === 5L).select("band_0").collect()
      .forall(_.isNullAt(0)))
  }

  test("streaming NEAR-dedup with simhash banding: chunk collisions drop arrivals; meta pins the scheme") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // doc_id -> tagged 16-bit chunk keys, via the operator's own banding
    def shBands(rows: Seq[(Long, String)]): Map[Long, Set[Long]] =
      graft.streaming.StreamingNearDedup
        .withSimHashBands(rows.toDF("doc_id", "text"))
        .collect().map { r =>
          r.getLong(0) -> (0 until 4).flatMap(b =>
            Option(r.get(r.fieldIndex(s"band_$b"))).map(_.asInstanceOf[Long]))
            .toSet
        }.toMap
    val dir = tempDir("ssimdedup")
    val tableDir = s"$dir/corpus.docs"
    val base = (1 to 24).map(i => s"tok$i").mkString(" ")
    // deterministic fixture search (same approach as the minhash case):
    // find a one-token variant that shares a simhash chunk with base —
    // one flipped token moves few of the 64 vote sums past their bias
    // threshold, so most variants qualify, but we never ASSUME one does
    val baseBands = shBands(Seq((1L, base)))(1L)
    val nearDup = (1 to 24).map { p =>
      (1 to 24).map(i => if (i == p) s"ALT$p" else s"tok$i").mkString(" ")
    }.find(t => (shBands(Seq((9L, t)))(9L) & baseBands).nonEmpty)
      .getOrElse(fail("no one-token variant shares a simhash chunk with " +
        "base; widen the fixture search, not the code"))
    val rows = Seq(
      (1L, base),
      (2L, nearDup),                                       // drops: shares a chunk
      (3L, base),                                          // drops: exact dup
      (4L, (100 to 123).map(i => s"zqx$i").mkString(" "))) // may or may not collide
    val bands = shBands(rows)
    val expected = rows.map(_._1).foldLeft(Vector.empty[Long]) { (kept, id) =>
      if (rows.map(_._1).filter(_ < id)
          .exists(e => (bands(e) & bands(id)).nonEmpty)) kept
      else kept :+ id
    }
    assert(expected.contains(1L) && !expected.contains(2L) &&
      !expected.contains(3L), s"fixture sanity: $expected")
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingNearDedup.start(
      in.toDF().toDF("doc_id", "text"), dir, "corpus", "docs", s"$dir/_cp",
      banding = graft.streaming.StreamingNearDedup.BandingSimHash)
    in.addData(rows(0), rows(1))
    q.processAllAvailable()
    in.addData(rows(2), rows(3))
    q.processAllAvailable()
    q.stop()
    val out = graft.sink.CommitLog.readCommitted(spark, tableDir)
    assert(out.select("doc_id").as[Long].collect().sorted.toSeq ===
      expected.sorted, "stream must agree with the policy simulation")
    // the simhash layout: 4 band columns, no minhash band_4..7
    assert(out.columns.count(_.startsWith("band_")) === 4)
    // the scheme is pinned in the index meta...
    val fs = new org.apache.hadoop.fs.Path(tableDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val meta = graft.sink.CommitLog.readFully(fs, new org.apache.hadoop.fs.Path(
      s"${graft.streaming.BandIndex.dir(tableDir)}/_meta"))
    assert(meta.contains("banding=simhash") && meta.contains("numBands=4"))
    // ...so a minhash writer entering this table fails loudly, pre-probe
    val ex = intercept[IllegalStateException] {
      graft.streaming.BandIndex.ensureBackfilled(spark, tableDir,
        banding = graft.streaming.StreamingNearDedup.BandingMinHash)
    }
    assert(ex.getMessage.contains("layout mismatch"))
  }

  test("streaming SEMANTIC dedup with embed banding: sign-LSH collisions drop arrivals; meta pins the scheme") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // doc_id -> tagged 8-bit sign-LSH keys, via the operator's own banding
    def embBands(rows: Seq[(Long, Seq[Double])]): Map[Long, Set[Long]] =
      graft.streaming.StreamingNearDedup
        .withEmbedBands(rows.toDF("doc_id", "embedding"))
        .collect().map { r =>
          r.getLong(0) -> (0 until 8).flatMap(b =>
            Option(r.get(r.fieldIndex(s"band_$b"))).map(_.asInstanceOf[Long]))
            .toSet
        }.toMap
    val dir = tempDir("sembdedup")
    val tableDir = s"$dir/corpus.docs"
    val rnd = new scala.util.Random(7L)
    val base = Seq.fill(64)(rnd.nextGaussian())
    // deterministic fixture search (same approach as the simhash case):
    // a one-coordinate nudge moves few of the 64 plane signs, so most
    // variants share a band with base — but we never ASSUME one does
    val baseBands = embBands(Seq((1L, base)))(1L)
    val nearDup = (0 until 64).map(p => base.updated(p, base(p) + 0.05))
      .find(v => (embBands(Seq((9L, v)))(9L) & baseBands).nonEmpty)
      .getOrElse(fail("no one-coordinate variant shares a sign-LSH band " +
        "with base; widen the fixture search, not the code"))
    val rows = Seq(
      (1L, base),
      (2L, nearDup),                           // drops: shares a band
      (3L, base),                              // drops: exact dup
      (4L, Seq.fill(64)(rnd.nextGaussian())),  // may or may not collide
      (5L, Seq.fill(64)(0.0)))                 // zero norm: no evidence, passes
    val bands = embBands(rows)
    assert(bands(5L).isEmpty, "zero-norm embedding must band to NULL keys")
    val expected = rows.map(_._1).foldLeft(Vector.empty[Long]) { (kept, id) =>
      if (rows.map(_._1).filter(_ < id)
          .exists(e => (bands(e) & bands(id)).nonEmpty)) kept
      else kept :+ id
    }
    assert(expected.contains(1L) && !expected.contains(2L) &&
      !expected.contains(3L) && expected.contains(5L),
      s"fixture sanity: $expected")
    val in = MemoryStream[(Long, Seq[Double])]
    val q = graft.streaming.StreamingNearDedup.start(
      in.toDF().toDF("doc_id", "embedding"), dir, "corpus", "docs",
      s"$dir/_cp",
      banding = graft.streaming.StreamingNearDedup.BandingEmbed,
      // the embedding array can't land through the scalar-only jsonl
      // default — vector payloads take the columnar landing
      sinkOptions = Map(graft.sink.GraftSinkOptions.FORMAT ->
        graft.sink.GraftSinkOptions.FORMAT_PARQUET))
    in.addData(rows(0), rows(1))
    q.processAllAvailable()
    in.addData(rows(2), rows(3), rows(4))
    q.processAllAvailable()
    q.stop()
    val out = graft.sink.CommitLog.readCommitted(spark, tableDir)
    assert(out.select("doc_id").as[Long].collect().sorted.toSeq ===
      expected.sorted, "stream must agree with the policy simulation")
    // the embed layout: 8 tagged band columns
    assert(out.columns.count(_.startsWith("band_")) === 8)
    // zero-norm doc landed with NULL band keys (no false sharing)
    assert(out.filter($"doc_id" === 5L).select("band_0").collect()
      .forall(_.isNullAt(0)))
    // the scheme is pinned in the index meta...
    val fs = new org.apache.hadoop.fs.Path(tableDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val meta = graft.sink.CommitLog.readFully(fs, new org.apache.hadoop.fs.Path(
      s"${graft.streaming.BandIndex.dir(tableDir)}/_meta"))
    assert(meta.contains("banding=embed") && meta.contains("numBands=8"))
    // ...so a minhash writer entering this table fails loudly, pre-probe
    val ex = intercept[IllegalStateException] {
      graft.streaming.BandIndex.ensureBackfilled(spark, tableDir,
        banding = graft.streaming.StreamingNearDedup.BandingMinHash)
    }
    assert(ex.getMessage.contains("layout mismatch"))
  }

  test("wide embed banding (embed-4x16): the corpus-size knob bands identically and pins its width") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def wBands(rows: Seq[(Long, Seq[Double])]): Map[Long, Set[Long]] =
      graft.streaming.StreamingNearDedup
        .withEmbedBands(rows.toDF("doc_id", "embedding"), 4, 16)
        .collect().map { r =>
          r.getLong(0) -> (0 until 4).flatMap(b =>
            Option(r.get(r.fieldIndex(s"band_$b"))).map(_.asInstanceOf[Long]))
            .toSet
        }.toMap
    val dir = tempDir("swembdedup")
    val tableDir = s"$dir/corpus.docs"
    val rnd = new scala.util.Random(11L)
    val base = Seq.fill(64)(rnd.nextGaussian())
    val baseBands = wBands(Seq((1L, base)))(1L)
    // 16-bit bands: one-coordinate nudges flip few of the 64 plane signs,
    // so a variant sharing a full 16-plane band exists — found, not assumed
    val nearDup = (0 until 64).map(p => base.updated(p, base(p) + 0.02))
      .find(v => (wBands(Seq((9L, v)))(9L) & baseBands).nonEmpty)
      .getOrElse(fail("no one-coordinate variant shares a 16-bit band; " +
        "widen the fixture search, not the code"))
    val rows = Seq((1L, base), (2L, nearDup), (3L, base),
      (4L, Seq.fill(64)(rnd.nextGaussian())))
    val bands = wBands(rows)
    val expected = rows.map(_._1).foldLeft(Vector.empty[Long]) { (kept, id) =>
      if (rows.map(_._1).filter(_ < id)
          .exists(e => (bands(e) & bands(id)).nonEmpty)) kept
      else kept :+ id
    }
    assert(expected.contains(1L) && !expected.contains(2L) &&
      !expected.contains(3L), s"fixture sanity: $expected")
    val in = MemoryStream[(Long, Seq[Double])]
    val q = graft.streaming.StreamingNearDedup.start(
      in.toDF().toDF("doc_id", "embedding"), dir, "corpus", "docs",
      s"$dir/_cp", banding = "embed-4x16",
      sinkOptions = Map(graft.sink.GraftSinkOptions.FORMAT ->
        graft.sink.GraftSinkOptions.FORMAT_PARQUET))
    in.addData(rows(0), rows(1))
    q.processAllAvailable()
    in.addData(rows(2), rows(3))
    q.processAllAvailable()
    q.stop()
    val out = graft.sink.CommitLog.readCommitted(spark, tableDir)
    assert(out.select("doc_id").as[Long].collect().sorted.toSeq ===
      expected.sorted, "stream must agree with the policy simulation")
    assert(out.columns.count(_.startsWith("band_")) === 4)
    // meta pins the WIDTH, so the default 8x8 embed writer is rejected
    val meta = graft.sink.CommitLog.readFully(
      new org.apache.hadoop.fs.Path(tableDir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration),
      new org.apache.hadoop.fs.Path(
        s"${graft.streaming.BandIndex.dir(tableDir)}/_meta"))
    assert(meta.contains("banding=embed") && meta.contains("numBands=4") &&
      meta.contains("bandSize=16"))
    val ex = intercept[IllegalStateException] {
      graft.streaming.BandIndex.ensureBackfilled(spark, tableDir,
        banding = graft.streaming.StreamingNearDedup.BandingEmbed)
    }
    assert(ex.getMessage.contains("layout mismatch"))
    // out-of-range widths fail at construction
    val bad = intercept[IllegalArgumentException] {
      graft.streaming.StreamingNearDedup.start(
        in.toDF().toDF("doc_id", "embedding"), dir, "corpus", "docs2",
        s"$dir/_cp2", banding = "embed-8x33")
    }
    assert(bad.getMessage.contains("out of range"))
  }

  test("band index bounds the per-epoch state read to the batch's touched buckets") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("banddex")
    val tableDir = s"$dir/corpus.docs"
    val rows = Seq(
      (1L, (1 to 24).map(i => s"aa$i").mkString(" ")),
      (2L, (1 to 24).map(i => s"bb$i").mkString(" ")),
      (3L, (1 to 24).map(i => s"aa$i").mkString(" "))) // exact dup of 1, dropped
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingNearDedup.start(
      in.toDF().toDF("doc_id", "text"), dir, "corpus", "docs", s"$dir/_cp")
    in.addData(rows(0))
    q.processAllAvailable()
    in.addData(rows(1), rows(2))
    q.processAllAvailable()
    q.stop()
    val fs = new org.apache.hadoop.fs.Path(tableDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val B = graft.streaming.BandIndex
    // the index recorded EVERY arrival's keys — doc 3 was dropped, yet its
    // (= doc 1's) keys are present exactly as the kept-or-not policy needs
    val allBuckets = (0 until B.NumBuckets).toSet
    val indexed = B.readKeys(spark, tableDir, allBuckets, excludeEpoch = 999L)
      .as[Long].collect().toSet
    val expectedKeys = bandSets(rows).values.flatten.toSet
    assert(indexed === expectedKeys,
      "index must hold the band keys of all arrivals, dropped ones included")
    // per-epoch boundedness: a probe for ONE touched bucket lists only that
    // bucket's files — the whole-corpus scan is structurally impossible
    val bucketOfKey = (k: Long) => java.lang.Math.floorMod(k, B.NumBuckets.toLong).toInt
    val someBucket = indexed.map(bucketOfKey).head
    val files = B.selectFiles(fs, tableDir, Set(someBucket), excludeEpoch = 999L)
    assert(files.nonEmpty)
    assert(files.forall(_.contains(s"bucket=$someBucket/")),
      s"probe for bucket $someBucket returned foreign files: $files")
    val untouched = allBuckets -- indexed.map(bucketOfKey)
    if (untouched.nonEmpty)
      assert(B.selectFiles(fs, tableDir, Set(untouched.head), 999L).isEmpty)
    // replay safety: the reading epoch's own files are invisible to it
    val epochs = B.selectFiles(fs, tableDir, allBuckets, excludeEpoch = 0L)
    assert(epochs.nonEmpty && epochs.forall(!_.contains("epoch-0-")),
      s"excludeEpoch must hide the epoch's own files: $epochs")
    // compaction: one consolidated file per bucket, identical key set
    B.compact(spark, tableDir)
    val after = B.selectFiles(fs, tableDir, allBuckets, excludeEpoch = 999L)
    val byBucket = after.groupBy(f => f.split("bucket=")(1).split("/")(0))
    assert(byBucket.values.forall(_.size == 1),
      s"every bucket must collapse to one file: $byBucket")
    assert(after.forall(_.contains("epoch--2-")),
      s"consolidated files must use the fresh negative id: $after")
    val compacted = B.readKeys(spark, tableDir, allBuckets, excludeEpoch = 999L)
      .as[Long].collect().toSet
    assert(compacted === expectedKeys,
      "compaction must preserve the key set exactly")
    // replayed append (same epoch, same keys) is idempotent: re-publishing
    // epoch 1 leaves the readable key set unchanged
    B.append(bandSets(Seq(rows(1), rows(2)))
      .toSeq.flatMap { case (id, ks) => ks.map(id -> _) }
      .toDF("doc_id", "bk"), tableDir, 1L)
    val reAppended = B.readKeys(spark, tableDir, allBuckets, excludeEpoch = 999L)
      .as[Long].collect().toSet
    assert(reAppended === expectedKeys,
      "a replayed epoch append must not change the key set")
    // backfill (pre-index table upgrade): rebuilding from the committed
    // rows' band columns recovers exactly the LANDED docs' keys —
    // exercised through ensureBackfilled, the per-epoch heal the stream
    // loop calls, so a jar upgrade over a pre-index table cannot silently
    // probe an empty key set
    fs.delete(new org.apache.hadoop.fs.Path(B.dir(tableDir)), true)
    B.ensureBackfilled(spark, tableDir)
    val landedKeys = bandSets(Seq(rows(0), rows(1))).values.flatten.toSet
    val refilled = B.readKeys(spark, tableDir, allBuckets, excludeEpoch = 999L)
      .as[Long].collect().toSet
    assert(refilled === landedKeys,
      "backfill must recover the landed docs' band keys from the table")
  }

  test("in-loop table compaction: self-maintaining ingest keeps manifests bounded, dedup state intact") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("sndtc")
    val tableDir = s"$dir/corpus.docs"
    val mk = (seed: Int) => (100 to 123).map(i => s"w$seed-$i").mkString(" ")
    val rows = Seq(
      (1L, mk(1)), (2L, mk(2)),   // epoch 0
      (3L, mk(1)), (4L, mk(3)),   // epoch 1: 3 = exact dup of 1, dropped
      (5L, mk(4)),                // epoch 2
      (6L, mk(2)), (7L, mk(5)))   // epoch 3: 6 dups the COMPACTED epoch-0 doc
    val in = MemoryStream[(Long, String)]
    // both maintenance loops on: the index compacts AND the data table
    // minor-compacts, while dedup must keep working across the swaps —
    // including against a doc whose epoch was already consolidated
    val q = graft.streaming.StreamingNearDedup.start(
      in.toDF().toDF("doc_id", "text"), dir, "corpus", "docs", s"$dir/_cp",
      compactEvery = 2, compactTableEvery = 2)
    Seq(Seq(rows(0), rows(1)), Seq(rows(2), rows(3)), Seq(rows(4)),
      Seq(rows(5), rows(6))).foreach { chunk =>
      in.addData(chunk: _*)
      q.processAllAvailable()
    }
    q.stop()
    val kept = graft.sink.CommitLog.readCommitted(spark, tableDir)
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq === Seq(1L, 2L, 4L, 5L, 7L),
      "dedup must hold across index AND table compaction")
    val log = new graft.sink.CommitLog(tableDir,
      spark.sparkContext.hadoopConfiguration)
    val epochs = log.committedEpochs()
    // 4 streaming epochs landed, but the live manifest set is consolidated:
    // minors + the protected tail, never one manifest per epoch
    assert(epochs.count(_ < 0) >= 1, s"no minor manifest published: $epochs")
    assert(epochs.count(_ >= 0) <= 2,
      s"delta manifests must consolidate, got $epochs")
  }

  test("in-loop compaction faults: a held lock skips the cycle, the stream survives and compacts later; persistent faults escalate") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("sndfault")
    val tableDir = s"$dir/corpus.docs"
    val fs = new org.apache.hadoop.fs.Path(tableDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mk = (seed: Int) => (100 to 123).map(i => s"w$seed-$i").mkString(" ")
    // an EXTERNAL compactor's fresh lock is in place before the stream's
    // first maintenance cycle → Compact.run throws, the NonFatal catch
    // must skip the cycle, and the QUERY must keep ingesting
    val lock = new org.apache.hadoop.fs.Path(tableDir,
      s"${graft.sink.CommitLog.COMMITS_DIR}/.compaction.lock")
    fs.mkdirs(lock.getParent)
    fs.create(lock, false).close()
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingNearDedup.start(
      in.toDF().toDF("doc_id", "text"), dir, "corpus", "docs", s"$dir/_cp",
      compactTableEvery = 1)
    in.addData((1L, mk(1))); q.processAllAvailable()
    in.addData((2L, mk(2))); q.processAllAvailable()
    assert(q.isActive, "a failing compaction cycle must not kill the query")
    val log = new graft.sink.CommitLog(tableDir,
      spark.sparkContext.hadoopConfiguration)
    assert(log.committedEpochs().count(_ < 0) === 0,
      "held lock: no minor manifest may have been published")
    // the external compactor releases → the NEXT cycle compacts normally
    fs.delete(lock, false)
    in.addData((3L, mk(3))); q.processAllAvailable()
    assert(log.committedEpochs().count(_ < 0) >= 1,
      "after the lock clears, the next cycle must compact")
    q.stop()
    assert(graft.sink.CommitLog.readCommitted(spark, tableDir).count() === 3,
      "all rows must have landed despite the skipped cycle")

    // lock contention held across MANY cycles is coordination, not a
    // fault: it must never escalate (an external compactor legitimately
    // spans epochs; a crash leftover heals on the lock's own 30-min clock)
    val dir2 = tempDir("sndfault2")
    val tableDir2 = s"$dir2/corpus.docs"
    val lock2 = new org.apache.hadoop.fs.Path(tableDir2,
      s"${graft.sink.CommitLog.COMMITS_DIR}/.compaction.lock")
    fs.mkdirs(lock2.getParent)
    fs.create(lock2, false).close()
    val in2 = MemoryStream[(Long, String)]
    val q2 = graft.streaming.StreamingNearDedup.start(
      in2.toDF().toDF("doc_id", "text"), dir2, "corpus", "docs", s"$dir2/_cp",
      compactTableEvery = 1)
    (1 to graft.streaming.StreamingNearDedup.MaxCompactionFailures + 2)
      .foreach { i =>
        fs.setTimes(lock2, System.currentTimeMillis(), -1)
        in2.addData((i.toLong, mk(i)))
        q2.processAllAvailable()
      }
    assert(q2.isActive,
      "a held compactor lock must never escalate into a query failure")
    q2.stop()

    // a genuinely persistent NON-coordination fault (here: a corrupt
    // trash ledger — a directory where a file must be — that every cycle
    // trips over) fails the query after MaxCompactionFailures consecutive
    // cycles instead of silently never compacting again
    val dir3 = tempDir("sndfault3")
    val tableDir3 = s"$dir3/corpus.docs"
    val badTrash = new org.apache.hadoop.fs.Path(tableDir3,
      s"${graft.sink.CommitLog.COMMITS_DIR}/.trash-1-corrupt")
    fs.mkdirs(badTrash) // ts=1 → always expired → purge opens it each cycle
    val in3 = MemoryStream[(Long, String)]
    val q3 = graft.streaming.StreamingNearDedup.start(
      in3.toDF().toDF("doc_id", "text"), dir3, "corpus", "docs", s"$dir3/_cp",
      compactTableEvery = 1)
    val failed = intercept[Exception] {
      (1 to graft.streaming.StreamingNearDedup.MaxCompactionFailures + 1)
        .foreach { i =>
          in3.addData((i.toLong, mk(i)))
          q3.processAllAvailable()
        }
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(failed).exists(_.contains("consecutive cycles")),
      s"persistent compaction faults must escalate: ${messages(failed)}")
    q3.stop()
  }

  test("streaming NEAR-dedup matches the policy simulation over the 500-doc corpus") {
    // the fixture test pins the policy on hand-built chains; this runs the
    // REAL documents table (sf0.001, 500 docs with organic near-dups)
    // through three epochs — with mid-stream index compaction — and checks
    // the kept set against an O(n·bands) driver simulation of the declared
    // first-arrival policy
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("sneardedup500")
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select($"doc_id", $"text").as[(Long, String)].collect().sortBy(_._1)
    assert(docs.length == 500)
    val bands = bandSets(docs.toSeq)
    val firstSeen = scala.collection.mutable.Map.empty[Long, Long]
    val expected = docs.map(_._1).filter { id =>
      val hit = bands(id).exists(bk => firstSeen.getOrElse(bk, id) < id)
      bands(id).foreach(bk => if (!firstSeen.contains(bk)) firstSeen(bk) = id)
      !hit
    }
    assert(expected.length < docs.length,
      "the organic corpus must contain at least one near-dup chain")
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingNearDedup.start(
      in.toDF().toDF("doc_id", "text"), dir, "corpus", "docs", s"$dir/_cp",
      compactEvery = 2)
    docs.grouped(200).foreach { chunk =>
      in.addData(chunk.toIndexedSeq: _*)
      q.processAllAvailable()
    }
    q.stop()
    val kept = graft.sink.CommitLog.readCommitted(spark, s"$dir/corpus.docs")
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq === expected.toSeq)
  }

  test("continuous trigger e2e: rate source -> graft sink, rows land exactly-once " +
      "(reference RateStreamingExample.scala:81)") {
    import spark.implicits._
    val dir = tempDir("graft-continuous")
    // the reference demonstrates Trigger.Continuous(3000) into its sink;
    // prove the graft sink under the same execution mode: continuous
    // epochs call the SAME StreamingWrite.commit(epochId, _) contract the
    // micro-batch path uses, so the epoch-idempotent manifest gives
    // exactly-once here too (the reference's no-op commit is what makes
    // its own sink at-least-once)
    val q = spark.readStream.format("rate")
      .option("rowsPerSecond", "200")
      .option("numPartitions", "2")
      .load()
      .select(col("value").as("id"),
        concat(lit("m"), col("value")).as("msg"))
      .writeStream.format("graft-streaming")
      .option("path", dir).option("db", "contdb").option("table", "t")
      .option("checkpointLocation", s"$dir/_cp")
      .trigger(org.apache.spark.sql.streaming.Trigger.Continuous("500 milliseconds"))
      .start()
    // continuous queries have no processAllAvailable; wait until data
    // lands. 120 s: under full-suite load on a busy host the first
    // continuous epoch has been observed to take over the old 60 s bound
    // (r15 — the test then passed alone immediately)
    val deadline = System.currentTimeMillis() + 120000
    def landed(): Long =
      try graft.sink.CommitLog.readCommitted(spark, s"$dir/contdb.t").count()
      catch { case _: Throwable => 0L }
    while (landed() == 0 && System.currentTimeMillis() < deadline &&
      q.exception.isEmpty) Thread.sleep(250)
    q.exception.foreach(e => fail(s"continuous query failed: $e"))
    q.stop()
    val out = graft.sink.CommitLog.readCommitted(spark, s"$dir/contdb.t")
    val n = out.count()
    assert(n > 0, "continuous epochs must land rows")
    // exactly-once: every rate value appears at most once, and the landed
    // set is dense from 0 (rate emits 0,1,2,... per partition interleaved)
    assert(out.select("id").distinct().count() === n,
      "continuous replay must never duplicate rows")
    val ids = out.select("id").as[Long].collect().sorted
    assert(ids.head === 0L && ids.last === n - 1,
      s"landed ids must be the dense rate prefix 0..${n - 1}")
    // the landing epochs are streaming manifests (non-negative epoch ids)
    val log = new graft.sink.CommitLog(s"$dir/contdb.t",
      spark.sparkContext.hadoopConfiguration)
    assert(log.manifests().exists(m => m.epochId >= 0 && m.files.nonEmpty))
  }

  test("socket source scan e2e (reference HiveStreamingExample.scala:63-66)") {
    import spark.implicits._
    val server = new java.net.ServerSocket(0)
    val port = server.getLocalPort
    val writer = new Thread(() => {
      val sock = server.accept()
      val out = new java.io.PrintWriter(sock.getOutputStream, true)
      (1 to 5).foreach(i => out.println(s"$i,msg$i"))
      // keep the socket open long enough for the micro-batch to drain
      Thread.sleep(8000)
      out.close(); sock.close()
    })
    writer.setDaemon(true)
    writer.start()
    val q = spark.readStream.format("socket")
      .option("host", "localhost").option("port", port).load()
      .as[String]
      .map { line => val p = line.split(","); (p(0).toInt, p(1)) }
      .toDF("id", "msg")
      .writeStream.format("memory").queryName("socket_out").start()
    val deadline = System.currentTimeMillis() + 15000
    while (spark.table("socket_out").count() < 5 &&
      System.currentTimeMillis() < deadline) Thread.sleep(300)
    q.stop()
    server.close()
    val rows = spark.table("socket_out").as[(Int, String)].collect().sortBy(_._1)
    assert(rows.length === 5)
    assert(rows.head === ((1, "msg1")))
  }

  test("socket source -> typed map -> graft sink e2e: the reference's own " +
      "north-star pipeline lands exactly-once " +
      "(HiveStreamingExample.scala:63-80)") {
    import spark.implicits._
    val dir = tempDir("graft-socket")
    val server = new java.net.ServerSocket(0)
    val port = server.getLocalPort
    val writer = new Thread(() => {
      val sock = server.accept()
      val out = new java.io.PrintWriter(sock.getOutputStream, true)
      (1 to 7).foreach(i => out.println(s"$i,msg$i"))
      Thread.sleep(20000) // keep open while micro-batches drain
      out.close(); sock.close()
    })
    writer.setDaemon(true)
    writer.start()
    val q = spark.readStream.format("socket")
      .option("host", "localhost").option("port", port).load()
      .as[String]
      .map { line =>
        val p = line.split(",")
        assert(p.length == 2) // the reference example's arity assert
        (p(0).toLong, p(1))
      }
      .toDF("id", "msg")
      .writeStream.format("graft-streaming")
      .option("path", dir).option("db", "sockdb").option("table", "t")
      .option("checkpointLocation", s"$dir/_cp")
      .start()
    def landed(): Long =
      try graft.sink.CommitLog.readCommitted(spark, s"$dir/sockdb.t").count()
      catch { case _: Throwable => 0L }
    val deadline = System.currentTimeMillis() + 60000
    while (landed() < 7 && System.currentTimeMillis() < deadline &&
      q.exception.isEmpty) Thread.sleep(300)
    q.exception.foreach(e => fail(s"socket query failed: $e"))
    q.stop()
    server.close()
    val out = graft.sink.CommitLog.readCommitted(spark, s"$dir/sockdb.t")
    val rows = out.select("id", "msg").as[(Long, String)].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq === (1L to 7L),
      "all socket lines land exactly once — no loss, no epoch replay dupes")
    assert(rows.head === ((1L, "msg1")))
  }

  test("socket-style typed map/parse pipeline shape (reference example parity)") {
    // HiveStreamingExample.scala:67-74 parses "id,msg" lines with a typed
    // map + arity assert; same pipeline over a memory stream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[String]
    val parsed = in.toDS().map { line =>
      val parts = line.split(",")
      assert(parts.length == 2)
      (parts(0).toInt, parts(1))
    }.toDF("id", "msg")
    val q = parsed.writeStream.format("memory").queryName("parse_out").start()
    in.addData("1,hello", "2,world")
    q.processAllAvailable()
    q.stop()
    assert(spark.table("parse_out").count() === 2)
  }
}
