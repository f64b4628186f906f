package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

/** `ingest_bulk` and `ingest_trickle`: closed loop. The next epoch is added
  * only after the previous one committed; the same rows land in one table
  * per format, one format at a time, so each format's epoch is its own.
  * `ingest_bulk` lands large epochs as jsonl, parquet and orc: per-row
  * writer work dominates and the fixed per-epoch cost is amortised.
  * `ingest_trickle` lands small epochs as jsonl: the fixed per-epoch cost
  * dominates.
  *
  * The measure is CPU time: that of the JVM's Java threads during each
  * epoch, over that of a fixed reference computation run between epochs
  * (see README.md for why not wall time).
  */
object Ingest {

  final class State(val dir: String, val streams: Map[String, MemoryStream[Event]],
      val queries: Map[String, StreamingQuery], val expect: Expect, var nextId: Long) {
    def stop(): Unit = queries.values.foreach(_.stop())
  }

  /** One timed pass: the wall (ms) of every epoch, per format the wall (ms)
    * and CPU (ns) of its epochs, rows sent to each table, and the CPU (ms)
    * of each run of the reference computation.
    */
  final case class Pass(lat: Seq[Double], perFormat: Map[String, (Double, Long)],
      rows: Double, refMs: Seq[Double])

  def run(ctx: Ctx): Outcome = {
    import ctx.spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = ctx.spark.sqlContext
    val formats = ctx.p("formats").split(",").toSeq
    val rowsPerEpoch = ctx.pInt("rows_per_epoch")
    val gen = new Gen.Events(ctx.seed, ctx.pInt("partition_values"),
      ctx.pDouble("skew"), ctx.pInt("msg_words"))
    def batch(st: State): Seq[Event] = {
      val b = (st.nextId until st.nextId + rowsPerEpoch).map(i => gen.event(i, i))
      st.nextId += rowsPerEpoch
      b
    }
    def epoch(st: State, b: Seq[Event], lat: mutable.Buffer[Double],
        perFormat: mutable.Map[String, (Double, Long)]): Unit = {
      formats.foreach { f =>
        val c0 = Stats.threadCpu()
        val t0 = Stats.now()
        ctx.tracer.span(s"stream.epoch.$f") {
          ctx.op {
            ctx.tracer.span("upstream.add_data")(st.streams(f).addData(b))
            ctx.tracer.span("stream.await")(st.queries(f).processAllAvailable())
          }
        }
        val dt = Stats.ms(t0, Stats.now())
        val cpu = Stats.threadCpuSince(c0)
        lat += dt
        val (w, c) = perFormat.getOrElse(f, (0.0, 0L))
        perFormat(f) = (w + dt, c + cpu)
      }
      st.expect.addAll(b)
    }

    val (st, setupS) = ctx.setupMedian[State] { s => s.stop(); ctx.deleteTree(s.dir) } { rep =>
      val dir = s"${ctx.root}/ingest-$rep"
      val streams = formats.map(f => f -> MemoryStream[Event](ctx.nproc)).toMap
      val queries = formats.map { f =>
        f -> streams(f).toDF().writeStream.format("graft-streaming")
          .option("path", dir).option("db", "bench").option("table", f)
          .option("partition.columns", "part").option("format", f)
          .option("checkpointLocation", s"$dir/_cp_$f")
          .start()
      }.toMap
      val s = new State(dir, streams, queries, new Expect, 0L)
      (0 until ctx.pInt("warm_epochs")).foreach { _ =>
        epoch(s, batch(s), mutable.Buffer.empty, mutable.Map.empty)
      }
      s
    }

    def pass(): Pass = {
      val lat = mutable.Buffer.empty[Double]
      val perFormat = mutable.Map.empty[String, (Double, Long)]
      val refMs = mutable.Buffer.empty[Double]
      var rows = 0L
      var refNs = 0L
      val h0 = Stats.hostTicks()
      val t0 = Stats.now()
      while (Stats.secs(t0, Stats.now()) < ctx.seconds) {
        // the reference computation runs between epochs, for about 2% of
        // the pass: some 60 samples whatever the epochs' size
        while (refNs <= 0.02 * (Stats.now() - t0)) {
          val r0 = Stats.now()
          refMs += Stats.refCpuMs()
          refNs += Stats.now() - r0
        }
        val b = ctx.tracer.span("upstream.generate")(batch(st))
        epoch(st, b, lat, perFormat)
        rows += b.size
      }
      ctx.info("host_steal_share") = f"${Stats.stealShare(h0, Stats.hostTicks())}%.3f"
      Pass(lat.toSeq, perFormat.toMap, rows.toDouble, refMs.toSeq)
    }

    val layers = mutable.Map.empty[String, (Double, String)]
    val p =
      if (!ctx.trace) pass()
      else {
        val untraced = pass()
        val (traced, m) = Layers.tracedPass(ctx, (_, _) => "writer")(pass())
        layers ++= m ++ Layers.overhead(ctx, untraced.lat, traced.lat)
        traced
      }
    val memMb = Stats.retainedMiB()
    ctx.phase("timed")
    st.stop()

    val tables = formats.map(f => s"${st.dir}/bench.$f")
    Tamper.apply(ctx, tables.head)
    formats.foreach { f =>
      ctx.check(s"exactly-once $f: per-partition counts and id sums",
        st.expect.matchesCommitted(ctx, s"${st.dir}/bench.$f", f))
    }
    // the single-task trap: every epoch must have been written by one
    // task per source partition, read back from the committed file names
    val tasksPerEpoch = Layers.writerTasksPerEpoch(ctx, tables.head)
    ctx.info("writer_tasks_per_epoch") = tasksPerEpoch.mkString(",")
    ctx.check(s"writer tasks per epoch == nproc (${ctx.nproc})",
      tasksPerEpoch.nonEmpty && tasksPerEpoch.forall(_ == ctx.nproc))

    val stored = tables.map(t => Stats.treeBytes(t)).sum.toDouble
    val epochs = p.lat.size
    val cpuMsPerEpoch = p.perFormat.values.map(_._2).sum / 1e6 / epochs
    val refMs = Stats.median(p.refMs)
    formats.foreach { f =>
      val (wallMs, cpuNs) = p.perFormat(f)
      ctx.info(s"ingest_rows_per_s.$f") = f"${p.rows / (wallMs / 1000)}%.0f"
      ctx.info(s"epoch_cpu_ms.$f") = f"${cpuNs / 1e6 / (epochs / formats.size)}%.1f"
    }
    // wall-clock and raw CPU figures: on a shared host they follow the
    // neighbours' load, so they are reported here and not gated on
    ctx.info("ingest_rows_per_s") = f"${p.rows * formats.size / (p.lat.sum / 1000)}%.0f"
    ctx.info("epoch_cpu_ms") = f"$cpuMsPerEpoch%.1f"
    ctx.info("ref_cpu_ms") = f"$refMs%.3f"
    ctx.info("freshness_samples") = epochs.toString
    ctx.info("freshness_p50_ms") = f"${Stats.pct(p.lat, 0.5)}%.1f"
    ctx.info("freshness_p95_ms") = f"${Stats.pct(p.lat, 0.95)}%.1f"
    val m = Map(
      "setup_s" -> (setupS, "s"),
      "epoch_cpu_refs" -> (cpuMsPerEpoch / refMs, "refs"),
      "stored_bytes_per_row" -> (stored / (formats.size * st.expect.rows), "B/row"),
      "mem_retained_mb" -> (memMb, "MiB"))
    if (!ctx.trace) ctx.outcome(m)
    else {
      val sample = (st.nextId until st.nextId + ctx.pInt("probe_rows")).map(i => gen.event(i, i))
      layers ++= Layers.probes(ctx, Layers.ProbeTable(st.dir, "bench", "jsonl", "jsonl"),
        sample, Layers.eventKey, Layers.textsOf(ctx, sample))
      ctx.outcome(layers.toMap)
    }
  }
}
