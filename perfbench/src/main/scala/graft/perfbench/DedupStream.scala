package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sink.GraftSinkOptions
import graft.streaming.StreamingNearDedup

/** `dedup_stream`: closed loop through `StreamingNearDedup.start` — MinHash
  * banding, the BandIndex probe and append, parquet landing through the
  * foreachBatch `commit.epoch` path, and index compaction every
  * `compact_every` epochs — over documents with designed shares of exact
  * duplicates, near duplicates and far-apart uniques.
  */
object DedupStream {

  final class State(val dir: String, val in: MemoryStream[Doc], val q: StreamingQuery,
      var next: Long)

  /** The jobs of a dedup epoch by what their plan touches: the band index
    * directory, the sink's append, or else the banding and drop joins.
    */
  val layerOf: Layers.LayerOf = (plan, _) =>
    if (plan.contains(graft.streaming.BandIndex.DirName)) "bandindex"
    else if (plan.contains("AppendData")) "writer"
    else "banding"

  def run(ctx: Ctx): Outcome = {
    import ctx.spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = ctx.spark.sqlContext
    val perEpoch = ctx.pInt("docs_per_epoch")
    val gen = new Gen.Docs(ctx.seed, ctx.pDouble("exact_share"), ctx.pDouble("near_share"))
    def epoch(st: State): Unit = {
      val b = (st.next until st.next + perEpoch).map(gen.doc)
      st.next += perEpoch
      ctx.tracer.span("stream.epoch") {
        ctx.op {
          ctx.tracer.span("upstream.add_data")(st.in.addData(b))
          ctx.tracer.span("stream.await")(st.q.processAllAvailable())
        }
      }
    }

    val (st, setupS) = ctx.setupMedian[State] { s => s.q.stop(); ctx.deleteTree(s.dir) } { rep =>
      val dir = s"${ctx.root}/dedup-$rep"
      val in = MemoryStream[Doc](ctx.nproc)
      val q = StreamingNearDedup.start(in.toDF(), dir, "bench", "docs", s"$dir/_cp",
        compactEvery = ctx.pInt("compact_every"),
        sinkOptions = Map(GraftSinkOptions.FORMAT -> GraftSinkOptions.FORMAT_PARQUET))
      val s = new State(dir, in, q, 0L)
      epoch(s) // warm-up epoch
      s
    }

    def pass(): Seq[Double] = {
      val lat = mutable.Buffer.empty[Double]
      val t0 = Stats.now()
      while (Stats.secs(t0, Stats.now()) < ctx.seconds) {
        val (_, ms) = Stats.timed(epoch(st))
        lat += ms
      }
      lat.toSeq
    }
    val layers = mutable.Map.empty[String, (Double, String)]
    val docs0 = st.next
    val lat =
      if (!ctx.trace) pass()
      else {
        val untraced = pass()
        val (traced, m) = Layers.tracedPass(ctx, layerOf)(pass())
        layers ++= m ++ Layers.overhead(ctx, untraced, traced)
        traced
      }
    val memMb = Stats.retainedMiB()
    ctx.phase("timed")
    st.q.stop()
    val offered = st.next
    val timedDocs = (offered - docs0) / (if (ctx.trace) 2 else 1)

    val table = s"${st.dir}/bench.docs"
    Tamper.apply(ctx, table)
    val landed = ctx.read(st.dir, "bench", "docs").select("doc_id", "text").as[(Long, String)]
      .collect()
    val ids = landed.map(_._1).toSet
    val kinds = (0L until offered).map(gen.kind)
    val uniques = kinds.count(_ == 0)
    ctx.check("no exact duplicate text landed", landed.map(_._2).distinct.length == landed.length)
    ctx.check("every designed-unique document landed exactly once",
      ids.size == landed.length && (0L until offered).forall(i => kinds(i.toInt) != 0 || ids(i)))
    ctx.check("only offered documents landed", ids.forall(i => i >= 0 && i < offered))
    val dups = offered - uniques
    val dropped = offered - landed.length
    ctx.info("docs_offered") = offered.toString
    ctx.info("drop_ratio_vs_designed") = f"${dropped.toDouble / dups}%.3f"
    ctx.info("epoch_samples") = lat.size.toString
    val m = Map(
      "setup_s" -> (setupS, "s"),
      "dedup_docs_per_s" -> (timedDocs / (lat.sum / 1000), "docs/s"),
      "epoch_p50_ms" -> (Stats.pct(lat, 0.5), "ms"),
      "stored_bytes_per_row" -> (Stats.treeBytes(table).toDouble / landed.length, "B/row"),
      "mem_retained_mb" -> (memMb, "MiB"))
    if (!ctx.trace) ctx.outcome(m)
    else {
      val tab = Layers.ProbeTable(st.dir, "bench", "docs", "parquet", idCol = "doc_id",
        textCol = "text", partCol = None)
      val sample = (offered until offered + ctx.pInt("probe_rows")).map(gen.doc)
      layers ++= Layers.probes(ctx, tab, sample, (d: Doc) => Layers.Key(d.doc_id, d.text, None),
        sample.take(5000).toDF(), drops = (dropped, dups))
      ctx.outcome(layers.toMap)
    }
  }
}
