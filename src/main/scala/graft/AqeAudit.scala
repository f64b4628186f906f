package graft

/** Diagnostic main: `graft.AqeAudit [q_name...]` executes each named query
  * (default: the shuffle-heavy dedup/similarity set below) under the BENCH
  * config ([[MainSession]] at `SPARK_GRAFT_CPUS`, default 32; AQE on, the
  * Spark 4 default) over `SPARK_GRAFT_SF_DIR` (default sf0.1), and prints
  * its shuffle bytes and its full formatted FINAL adaptive plan, so the
  * AQE behavior and the plan shapes recorded in SCALE.md are observed,
  * not asserted. Collect() (results are tens of rows) forces execution so
  * AdaptiveSparkPlan reaches isFinalPlan=true and the AQEShuffleRead
  * nodes show their runtime-coalesced partition counts.
  */
object AqeAudit {

  /** Task-level shuffle byte totals, accumulated across a query's jobs so
    * SCALE.md can quote MEASURED shuffle volumes instead of qualitative
    * claims. Reset per query; reads are taken after a settle sleep since
    * the listener bus delivers task-end events asynchronously.
    */
  private class ShuffleBytes extends org.apache.spark.scheduler.SparkListener {
    val write = new java.util.concurrent.atomic.AtomicLong
    val read = new java.util.concurrent.atomic.AtomicLong
    override def onTaskEnd(
        te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) {
        write.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        read.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      }
    }
    def reset(): Unit = { write.set(0); read.set(0) }
  }

  private def mb(bytes: Long): String = f"${bytes / 1048576.0}%.1f MiB"

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = MainSession.start(MainSession.cpus(32))
    val bytes = new ShuffleBytes
    spark.sparkContext.addSparkListener(bytes)
    println(s"adaptive.enabled=${spark.conf.get("spark.sql.adaptive.enabled")} " +
      s"coalescePartitions=${spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")} " +
      s"skewJoin=${spark.conf.get("spark.sql.adaptive.skewJoin.enabled")} " +
      s"advisoryPartitionSize=${spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")}")
    val interesting = if (args.nonEmpty) args.toSeq else
      Seq("q_dedup_ngram", "q_dedup_near", "q_dedup_simhash", "q_dedup_embed",
        "q_dedup_cluster", "q_sim_knn_join", "q_join_inner",
        "q_quality_repetition", "q_source_mix", "q_join_asof",
        "q_window_rank",
        // r15 additions: retention's two user/cohort exchanges, nearest
        // as-of's single exchange serving both carries, bigrams'
        // two-level agg, zscore's metadata-only stats shuffle
        "q_window_retention", "q_join_asof_nearest", "q_text_bigrams",
        "q_agg_zscore", "q_agg_corr",
        // r15 late additions: the salted join's replicated shuffle, the
        // sample's WindowGroupLimit-pruned exchange, the gap profile's
        // single user exchange, semantic clustering's log-round iteration
        "q_join_skew", "q_sample_group", "q_window_gap", "q_dedup_semantic",
        // r16 additions: quantization lines must shuffle nothing beyond
        // the contract sort; the LM score's token join + doc aggregate
        "q_embed_quantize", "q_embed_codes", "q_quality_lm")
    interesting.foreach { name =>
      bytes.reset()
      val df = SparkEntry.queries(name)(spark, dir)
      val n = df.collect().length // executes THIS QueryExecution → final plan
      Thread.sleep(500) // let the async listener bus drain task-end events
      println(s"\n########## $name (rows=$n) shuffleWrite=${mb(bytes.write.get)} " +
        s"shuffleRead=${mb(bytes.read.get)}")
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
