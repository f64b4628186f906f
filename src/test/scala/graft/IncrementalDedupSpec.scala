package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.StreamingNearDedup

/** Batch dedup against a stored index (r19 verdict #8) must be the SAME
  * policy as the streaming loop — not a re-implementation that happens to
  * agree on easy cases. The decision core is shared code
  * ([[StreamingNearDedup.dropsFor]]); this spec pins the equivalence
  * END-TO-END against a live two-epoch stream on the same arrivals, for
  * both a sketch banding (minhash) and the text-replayable ngram banding
  * the oracled registry query uses.
  */
class IncrementalDedupSpec extends SparkSpec {

  private val base = (1 to 24).map(i => s"tok$i").mkString(" ")
  private def nearDup(of: String, at: Int): String = {
    val tk = of.split(" "); tk(at) = "CHANGED"; tk.mkString(" ")
  }
  private val uniqueA = (100 to 123).map(i => s"alpha$i").mkString(" ")
  private val uniqueB = (200 to 223).map(i => s"beta$i").mkString(" ")

  // epoch 0 (the pre-existing corpus): a base doc, a near-dup of it
  // (dropped in-stream, but its keys are still recorded), a unique doc
  private val epoch0 = Seq(1L -> base, 2L -> nearDup(base, 12), 3L -> uniqueA)
  // epoch 1 (the refresh batch): a near-dup of the corpus base (index
  // drop), a new unique doc, a near-dup of THAT same-epoch doc
  // (within-batch drop), and a sub-3-token doc (no keys, always lands)
  private val epoch1 = Seq(11L -> nearDup(base, 5), 12L -> uniqueB,
    13L -> nearDup(uniqueB, 7), 14L -> "too short")

  for (banding <- Seq(StreamingNearDedup.BandingNgram,
      StreamingNearDedup.BandingMinHash)) {
    test(s"batch-against-stored-index == live two-epoch stream ($banding)") {
      val s = spark
      import s.implicits._
      implicit val sqlCtx = s.sqlContext

      // live stream: two epochs through the real foreachBatch policy
      val dir = tempDir("inc_equiv")
      val in = MemoryStream[(Long, String)]
      // parquet landing: the ngram scheme's banded frame carries the
      // `nkeys` ARRAY column, which the jsonl scalar contract rejects
      val q = StreamingNearDedup.start(
        in.toDF().toDF("doc_id", "text"), dir, "corpus", "docs",
        s"$dir/_cp", banding = banding,
        sinkOptions = Map(graft.sink.GraftSinkOptions.FORMAT -> "parquet"))
      in.addData(epoch0: _*)
      q.processAllAvailable()
      in.addData(epoch1: _*)
      q.processAllAvailable()
      q.stop()
      val streamKept = graft.sink.CommitLog
        .readCommitted(spark, s"$dir/corpus.docs")
        .select("doc_id").as[Long].collect().toSet
      val streamKeptBatch = streamKept.filter(_ >= 10L)

      // batch path: seed a FRESH index with epoch 0's arrivals (all of
      // them — the policy records kept and dropped alike), then dedupe
      // epoch 1 against it without any stream
      val dir2 = tempDir("inc_batch") + "/corpus.docs"
      val df0 = epoch0.toDF("doc_id", "text")
      val df1 = epoch1.toDF("doc_id", "text")
      StreamingNearDedup.recordBatch(df0, dir2, banding, epochId = 0L)
      val batchKept = StreamingNearDedup
        .dedupBatchAgainstIndex(df1, dir2, banding, epochId = 1L)
        .select("doc_id").as[Long].collect().toSet

      assert(batchKept === streamKeptBatch,
        s"batch decision must equal the streaming policy's ($banding)")
      // the fixture must actually exercise all three decision legs —
      // index drop, within-batch drop, key-less pass — or the
      // equivalence above proves nothing
      assert(!batchKept.contains(11L), "near-dup of the corpus must drop")
      assert(batchKept.contains(12L), "a new unique doc must land")
      assert(!batchKept.contains(13L),
        "a near-dup of a smaller-id batch doc must drop")
      assert(batchKept.contains(14L), "a key-less short doc must land")
    }
  }

  test("recordBatch on a table created under a DIFFERENT banding fails " +
      "loudly instead of mixing key spaces") {
    val s = spark
    import s.implicits._
    val dir = tempDir("inc_mixed") + "/corpus.docs"
    StreamingNearDedup.recordBatch(Seq(1L -> base).toDF("doc_id", "text"),
      dir, StreamingNearDedup.BandingMinHash, epochId = 0L)
    val e = intercept[IllegalStateException] {
      StreamingNearDedup.recordBatch(Seq(2L -> uniqueA).toDF("doc_id", "text"),
        dir, StreamingNearDedup.BandingNgram, epochId = 1L)
    }
    assert(e.getMessage.contains("banding") ||
      e.getMessage.contains("_meta"),
      s"expected the layout-meta validation to name the mismatch: $e")
  }

  test("empty and key-less batches are safe no-ops for the decision") {
    val s = spark
    import s.implicits._
    val dir = tempDir("inc_empty") + "/corpus.docs"
    StreamingNearDedup.recordBatch(Seq(1L -> base).toDF("doc_id", "text"),
      dir, StreamingNearDedup.BandingNgram, epochId = 0L)
    // a batch of ONLY key-less (sub-3-token) docs: everything lands
    val kept = StreamingNearDedup.dedupBatchAgainstIndex(
      Seq(10L -> "a b", 11L -> "").toDF("doc_id", "text"), dir,
      StreamingNearDedup.BandingNgram, epochId = 1L)
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(10L, 11L))
    // a fully empty batch: empty result, no crash on the touched collect
    val kept2 = StreamingNearDedup.dedupBatchAgainstIndex(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), dir,
      StreamingNearDedup.BandingNgram, epochId = 2L)
    assert(kept2.count() === 0L)
  }

  test("dedupBatchAgainstIndex computes the banding once: banded and keys " +
      "are persisted and the kept plan reads the cache") {
    val s = spark
    import s.implicits._
    import org.apache.spark.storage.StorageLevel
    val dir = tempDir("inc_persist") + "/corpus.docs"
    StreamingNearDedup.recordBatch(
      Seq(1L -> base).toDF("doc_id", "text"), dir,
      StreamingNearDedup.BandingNgram, epochId = 0L)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val kept = StreamingNearDedup.dedupBatchAgainstIndex(
      Seq(10L -> uniqueB, 11L -> nearDup(base, 5)).toDF("doc_id", "text"),
      dir, StreamingNearDedup.BandingNgram, epochId = 1L)
    val added = spark.sparkContext.getPersistentRDDs
      .filterNot { case (id, _) => before(id) }
    try {
      // both the banded frame and its exploded keys must be cached at
      // MEMORY_AND_DISK — the streaming loop's level — so the four
      // consumers (touched collect, index probe, within-batch min-agg,
      // final anti-join) evaluate the shingle/hash stage exactly once
      assert(added.size >= 2,
        s"expected banded AND keys persisted; new cached RDDs: ${added.size}")
      assert(added.values.forall(_.getStorageLevel ==
        StorageLevel.MEMORY_AND_DISK))
      assert(kept.select("doc_id").as[Long].collect().toSet === Set(10L))
      // the executed kept plan must READ those caches (an InMemoryTableScan
      // / table-cache stage), not re-derive the banding from the raw text
      val plan = kept.queryExecution.executedPlan.toString
      assert(plan.contains("InMemoryTableScan") ||
        plan.contains("TableCacheQueryStage"),
        s"kept plan must scan the persisted banding, got:\n$plan")
    } finally added.values.foreach(_.unpersist(true))
  }

  test("dedupBatchAgainstIndexManaged: release() frees the caches, kept stays correct") {
    // r21 advice: repeated-refresh pipelines need a cache-lifetime handle —
    // without one, every call accumulates two batch-sized caches until
    // session teardown. The managed overload's release() must unpersist
    // BOTH frames, and the kept frame must remain correct (lazily
    // recomputable) afterwards.
    val s = spark
    import s.implicits._
    val dir = tempDir("inc_managed") + "/corpus.docs"
    StreamingNearDedup.recordBatch(
      Seq(1L -> base).toDF("doc_id", "text"), dir,
      StreamingNearDedup.BandingNgram, epochId = 0L)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (kept, release) = StreamingNearDedup.dedupBatchAgainstIndexManaged(
      Seq(10L -> uniqueB, 11L -> nearDup(base, 5)).toDF("doc_id", "text"),
      dir, StreamingNearDedup.BandingNgram, epochId = 1L)
    assert(kept.select("doc_id").as[Long].collect().toSet === Set(10L))
    release()
    // non-blocking unpersist: poll briefly for the async removal
    val deadline = System.nanoTime + 10L * 1000 * 1000 * 1000
    def leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    while (leaked.nonEmpty && System.nanoTime < deadline) Thread.sleep(100)
    assert(leaked.isEmpty, s"release() must unpersist both caches; left: $leaked")
    // still correct after release — the plan recomputes the banding
    assert(kept.select("doc_id").as[Long].collect().toSet === Set(10L))
  }

  test("record=true makes the refresh part of the corpus for the next batch") {
    val s = spark
    import s.implicits._
    val dir = tempDir("inc_record") + "/corpus.docs"
    StreamingNearDedup.recordBatch(
      Seq(1L -> base).toDF("doc_id", "text"), dir,
      StreamingNearDedup.BandingNgram, epochId = 0L)
    // refresh 1 lands uniqueB and RECORDS it
    val kept1 = StreamingNearDedup.dedupBatchAgainstIndex(
      Seq(10L -> uniqueB).toDF("doc_id", "text"), dir,
      StreamingNearDedup.BandingNgram, epochId = 1L, record = true)
      .select("doc_id").as[Long].collect().toSet
    assert(kept1 === Set(10L))
    // refresh 2: a copy of refresh 1's doc must now drop against it
    val kept2 = StreamingNearDedup.dedupBatchAgainstIndex(
      Seq(20L -> uniqueB, 21L -> uniqueA).toDF("doc_id", "text"), dir,
      StreamingNearDedup.BandingNgram, epochId = 2L)
      .select("doc_id").as[Long].collect().toSet
    assert(kept2 === Set(21L),
      "a recorded refresh must act as corpus for the next one")
  }
}
