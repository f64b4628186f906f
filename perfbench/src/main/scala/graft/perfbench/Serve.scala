package graft.perfbench

import scala.collection.mutable

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.functions._

import graft.sink.Compact

/** `serve`: reads beside writes. Set-up lands a many-epoch table through
  * the sink, as parquet and as orc, with bloom sidecars on `msg`. Each
  * timed cycle takes a fresh copy of both tables and runs, in order: the
  * projected aggregate scan, a single-client point-lookup mix rotating over
  * the three skip paths (id equality → stats, msg equality → bloom,
  * partition plus id → partition pruning), a fresh tailing read, compaction
  * and the scan again. The writer ran only in set-up.
  */
object Serve {
  val Formats: Seq[String] = Seq("parquet", "orc")

  final class State(val dir: String, val expect: Expect, val rows: Long)

  def run(ctx: Ctx): Outcome = {
    import ctx.spark.implicits._
    val epochs = ctx.pInt("epochs")
    val perEpoch = ctx.pInt("rows_per_epoch")
    val gen = new Gen.Events(ctx.seed, ctx.pInt("partition_values"),
      ctx.pDouble("skew"), ctx.pInt("msg_words"))
    val bloomBits = ctx.p("bloom_bits")

    def land(dir: String): State = {
      val expect = new Expect
      (0 until epochs).foreach { e =>
        val rows = (e.toLong * perEpoch until (e + 1).toLong * perEpoch).map(i => gen.event(i, i))
        expect.addAll(rows)
        // one writer task per epoch: one file per partition value per epoch
        val df = ctx.spark.createDataset(rows).coalesce(1)
        Formats.foreach { f =>
          df.write.format("graft-streaming").mode("append")
            .option("path", dir).option("db", "bench").option("table", f)
            .option("partition.columns", "part").option("format", f)
            .option("bloom.columns", "msg").option("bloom.bits", bloomBits)
            .option("commit.epoch", e.toString).save()
        }
      }
      new State(dir, expect, expect.rows)
    }
    val (st, setupS) = ctx.setupMedian[State](s => ctx.deleteTree(s.dir)) { rep =>
      land(s"${ctx.root}/serve-$rep")
    }
    val tables = Formats.map(f => s"${st.dir}/bench.$f")
    Tamper.apply(ctx, tables.head)
    Formats.foreach { f =>
      ctx.check(s"landed $f table: per-partition counts and id sums",
        st.expect.matchesCommitted(ctx, s"${st.dir}/bench.$f", f))
    }
    val stored = tables.map(t => Stats.treeBytes(t)).sum.toDouble
    val total = (st.expect.rows, st.expect.idSum)

    var cycleNo = 0
    final case class Cycle(lookupMs: Seq[Double], scanRows: Double, scanMs: Double,
        tailRows: Double, tailMs: Double, compactMs: Double, layer: Layers.M)

    /** One cycle over fresh copies of both tables. */
    def cycle(lookups: Int): Cycle = {
      val dir = s"${ctx.root}/cycle-$cycleNo"
      Formats.foreach(f => FileUtil.copy(ctx.fs, new Path(s"${st.dir}/bench.$f"), ctx.fs,
        new Path(s"$dir/bench.$f"), false, ctx.conf))
      def agg(f: String) = ctx.read(dir, "bench", f)
        .agg(count(lit(1)), sum(col("id")), sum(length(col("msg")))).head()
      var scanRows, scanMs, tailRows, tailMs, compactMs = 0.0
      val lat = mutable.Buffer.empty[Double]
      val layer = mutable.Map.empty[String, (Double, String)]
      def scan(f: String, what: String): Unit = {
        val (r, ms) = Stats.timed(ctx.tracer.span("scan.aggregate")(ctx.op(agg(f))))
        ctx.check(s"$what scan of $f: count and id sum", (r.getLong(0), r.getLong(1)) == total)
        scanRows += r.getLong(0); scanMs += ms
      }
      Formats.foreach(scan(_, "first"))
      (0 until lookups).foreach { i =>
        val id = math.floorMod(Gen.mix(ctx.seed * 1013 + cycleNo * 100003L + i), st.rows)
        val f = Formats(i % Formats.size)
        val t = ctx.read(dir, "bench", f)
        val q = (i / Formats.size) % 3 match {
          case 0 => t.where(col("id") === id)
          case 1 => t.where(col("msg") === gen.msgOf(id))
          case _ => t.where(col("part") === gen.partOf(id) && col("id") === id)
        }
        val (rows, ms) = Stats.timed(ctx.tracer.span("scan.lookup")(q.select("id", "msg").collect()))
        ctx.check(s"lookup of id $id in $f returns exactly its row",
          rows.length == 1 && rows.head.getLong(0) == id && rows.head.getString(1) == gen.msgOf(id))
        lat += ms
      }
      Formats.foreach { f =>
        val tab = Layers.ProbeTable(dir, "bench", f, f, bloom = true)
        val (n, s, progs, ms) = ctx.tracer.span("tail.catch_up")(ctx.op(
          Layers.tailOnce(ctx, tab, s"$dir/_tail_cp_$f")))
        ctx.check(s"tailing read of $f: count and id sum", (n, s) == total)
        tailRows += n; tailMs += ms
        if (f == Formats.head) layer ++= Layers.tailMetrics(n, progs, ms)
      }
      Formats.foreach { f =>
        val (_, ms) = Stats.timed(ctx.tracer.span("compact.run")(ctx.op(
          Compact.run(s"$dir/bench.$f", ctx.conf, retainMillis = 0L))))
        compactMs += ms
      }
      Formats.foreach(scan(_, "post-compaction"))
      ctx.deleteTree(dir)
      cycleNo += 1
      Cycle(lat.toSeq, scanRows, scanMs, tailRows, tailMs, compactMs, layer.toMap)
    }

    val lookups = ctx.pInt("lookups_per_cycle")
    def pass(): Seq[Cycle] = {
      val t0 = Stats.now()
      val cs = mutable.Buffer(cycle(lookups))
      while (Stats.secs(t0, Stats.now()) < ctx.seconds) cs += cycle(lookups)
      cs.toSeq
    }
    val layers = mutable.Map.empty[String, (Double, String)]
    val cycles =
      if (!ctx.trace) pass()
      else {
        val untraced = pass()
        val (traced, m) = Layers.tracedPass(ctx, Layers.byContainer)(pass())
        layers ++= m ++ Layers.overhead(ctx, untraced.flatMap(_.lookupMs), traced.flatMap(_.lookupMs))
        traced
      }
    val memMb = Stats.retainedMiB()
    ctx.phase("timed")

    val lat = cycles.flatMap(_.lookupMs)
    ctx.info("cycles") = cycles.size.toString
    ctx.info("lookup_samples") = lat.size.toString
    val m = Map(
      "setup_s" -> (setupS, "s"),
      "scan_rows_per_s" -> (cycles.map(_.scanRows).sum / cycles.map(_.scanMs).sum * 1000, "rows/s"),
      "lookup_p50_ms" -> (Stats.pct(lat, 0.5), "ms"),
      "lookup_p95_ms" -> (Stats.pct(lat, 0.95), "ms"),
      "tail_rows_per_s" -> (cycles.map(_.tailRows).sum / cycles.map(_.tailMs).sum * 1000, "rows/s"),
      "compact_s" -> (Stats.median(cycles.map(_.compactMs)) / 1000, "s"),
      "stored_bytes_per_row" -> (stored / (Formats.size * st.rows), "B/row"),
      "mem_retained_mb" -> (memMb, "MiB"))
    if (!ctx.trace) ctx.outcome(m)
    else {
      val tab = Layers.ProbeTable(st.dir, "bench", "parquet", "parquet", bloom = true)
      val sample = (st.rows until st.rows + ctx.pInt("probe_rows")).map(i => gen.event(i, i))
      val probed = Layers.probes(ctx, tab, sample, Layers.eventKey, Layers.textsOf(ctx, sample))
      // the timed cycles tailed and compacted the landed tables themselves
      val compacted = ctx.tracer.span("compact.probe")(
        Layers.compact(ctx, tab, s"${ctx.root}/probe-compact"))
      layers ++= probed ++ compacted ++ cycles.last.layer
      ctx.outcome(layers.toMap)
    }
  }
}
