package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{DataFrame, Encoder}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, Filter}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.sink.{Bloom, CommitLog, Compact, GraftDataWriter, GraftScan, GraftSinkOptions}
import graft.streaming.{BandIndex, StreamingNearDedup}

/** Per-layer metrics of the traced run, measured from outside the library:
  * Spark's progress and listener events around the workload's own calls,
  * and direct calls into each layer on the workload's own tables.
  */
object Layers {
  type M = Map[String, (Double, String)]

  private var listening = false
  private val progress = new Progress

  /** Names the layer of a job from its SQL plan text and the name of the
    * innermost harness or trigger span it ran in.
    */
  type LayerOf = (String, String) => String

  /** The layer of the span a job ran in: `scan.lookup` → scan. */
  val byContainer: LayerOf = (_, span) => span.takeWhile(_ != '.')

  /** Runs `body` as the traced timed pass: spans around it, Spark's events
    * recorded, and the stream, scheduler, writer, fs and jvm layer metrics
    * of the epochs that ran inside it.
    */
  def tracedPass[T](ctx: Ctx, layerOf: LayerOf)(body: => T): (T, M) = {
    if (!listening) {
      ctx.spark.sparkContext.addSparkListener(ctx.events)
      ctx.spark.streams.addListener(progress)
      listening = true
    }
    ctx.tracer.on = true
    drain(ctx)
    val fs0 = Stats.fsOps()
    val gc0 = Stats.gcMs()
    val w0 = System.currentTimeMillis().toDouble
    val r = ctx.tracer.span("workload")(body)
    drain(ctx)
    val w1 = System.currentTimeMillis().toDouble
    val dFs = Stats.fsOps() - fs0
    val gcMs = (Stats.gcMs() - gc0).toDouble
    val trig = progress.events.toArray(Array.empty[StreamingQueryProgress]).toSeq
      .filter(p => Progress.startMs(p) >= w0 - 1 && Progress.endMs(p) <= w1 + 1)
    (r, assemble(ctx, trig, layerOf, w0, w1) ++ Map(
      "fs.write_ops_per_epoch" -> (dFs.writes.toDouble / math.max(1, trig.size), "count"),
      "fs.read_ops_per_epoch" -> (dFs.reads.toDouble / math.max(1, trig.size), "count"),
      "fs.bytes_written_per_row" -> (dFs.bytesWritten.toDouble /
        math.max(1L, trig.map(_.numInputRows).sum), "B/row"),
      "jvm.gc_ms" -> (gcMs, "ms")))
  }

  def drain(ctx: Ctx): Unit = org.apache.spark.perfbench.ListenerBus.drain(ctx.spark.sparkContext)

  /** Places triggers and jobs under the harness spans that contain them,
    * and derives the stream, scheduler and writer metrics per epoch.
    */
  private def assemble(ctx: Ctx, trig: Seq[StreamingQueryProgress],
      layerOf: LayerOf, w0: Double, w1: Double): M = {
    val t = ctx.tracer
    val harness = t.all.filter(s => s.startMs >= w0 - 1 && s.endMs <= w1 + 1)
    def innermost(pool: Seq[Span], a: Double, b: Double): Option[Span] =
      pool.filter(s => s.startMs - 2 <= a && b <= s.endMs + 2).minByOption(s => s.endMs - s.startMs)
    val trigSpans = trig.flatMap { p =>
      val parent = innermost(harness, Progress.startMs(p), Progress.endMs(p))
      Progress.spans(t, p, parent.map(_.id).getOrElse(0L), parent.map(_.trace).getOrElse(0L))
    }
    val jobs = ctx.events.jobsIn(w0, w1)
    val pool = harness ++ trigSpans
    val jobLayer = jobs.map(j => j.id -> layerOf(ctx.events.planOf(j),
      innermost(harness, j.startMs.toDouble, j.endMs.toDouble).map(_.name).getOrElse(""))).toMap
    val jobSpans = jobs.flatMap { j =>
      val parent = innermost(pool, j.startMs.toDouble, j.endMs.toDouble)
      val layer = jobLayer(j.id)
      val js = Span(t.nextId(), parent.map(_.id).getOrElse(0L),
        parent.map(_.trace).getOrElse(0L), "spark.job", j.startMs.toDouble, j.endMs.toDouble)
      js +: ctx.events.tasksOf(j.stages.toSet).map(k => Span(t.nextId(), js.id, js.trace,
        s"$layer.task", math.max(k.launchMs.toDouble, js.startMs),
        math.min(k.finishMs.toDouble, js.endMs),
        Map("cpu_ns" -> k.cpuNs.toDouble, "gc_ms" -> k.gcMs.toDouble)))
    }
    (trigSpans ++ jobSpans).foreach(t.add)

    // per-epoch views
    val epochs = trig.filter(_.numInputRows > 0)
    val perEpochJobs = epochs.map(p =>
      jobs.filter(j => j.startMs >= Progress.startMs(p) - 1 && j.endMs <= Progress.endMs(p) + 1))
    def p50(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val writerTasks = perEpochJobs.map(_.filter(j => jobLayer(j.id) == "writer")
      .flatMap(j => ctx.events.tasksOf(j.stages.toSet)))
    val allWriter = writerTasks.flatten
    val rows = epochs.map(_.numInputRows).sum.toDouble
    val phase = Progress.Phases.collect { case (k, name) if k != "getBatch" =>
      s"${name}_ms" -> (p50(epochs.map(Progress.dur(_, k))), "ms") }
    phase.toMap ++ Map(
      "stream.trigger_ms" -> (p50(epochs.map(Progress.dur(_, "triggerExecution"))), "ms"),
      "stream.epochs" -> (epochs.size.toDouble, "count"),
      "stream.rows_per_epoch" -> (rows / math.max(1, epochs.size), "rows"),
      "spark.jobs_per_epoch" -> (mean(perEpochJobs.map(_.size.toDouble)), "count"),
      "spark.stages_per_epoch" -> (mean(perEpochJobs.map(_.map(_.stages.size).sum.toDouble)), "count"),
      "spark.tasks_per_epoch" -> (mean(perEpochJobs.map(_.map(j =>
        ctx.events.tasksOf(j.stages.toSet).size).sum.toDouble)), "count"),
      "spark.idle_gap_ms" -> (p50(epochs.zip(perEpochJobs).map { case (p, js) =>
        Progress.dur(p, "triggerExecution") - SparkEvents.covered(
          js.map(j => (j.startMs.toDouble, j.endMs.toDouble)), Progress.startMs(p), Progress.endMs(p))
      }), "ms"),
      "writer.tasks_per_epoch" -> (mean(writerTasks.map(_.size.toDouble)), "count"),
      "writer.task_ms_p50" -> (p50(allWriter.map(k => (k.finishMs - k.launchMs).toDouble)), "ms"),
      "writer.task_ms_max" -> (mean(writerTasks.filter(_.nonEmpty).map(ts =>
        ts.map(k => (k.finishMs - k.launchMs).toDouble).max)), "ms"),
      "writer.cpu_ns_per_row" -> (allWriter.map(_.cpuNs.toDouble).sum / math.max(1.0, rows), "ns/row"),
      "writer.gc_ms" -> (allWriter.map(_.gcMs.toDouble).sum, "ms"))
  }

  /** Tracing overhead: the traced pass's median operation time against the
    * untraced pass's, both over the same workload state.
    */
  def overhead(ctx: Ctx, untraced: Seq[Double], traced: Seq[Double]): M = {
    val (u, t) = (Stats.median(untraced), Stats.median(traced))
    ctx.traceMeta("untraced_op_ms") = u
    ctx.traceMeta("traced_op_ms") = t
    Map("trace.overhead_ms" -> (t - u, "ms"), "trace.overhead_ratio" -> (t / u, "ratio"))
  }

  /** Source partition of every committed data file, per streaming epoch,
    * read from the `p<partition>` field of the file names.
    */
  def writerTasksPerEpoch(ctx: Ctx, tableDir: String): Seq[Int] = {
    val P = raw".*/part-e(\d+)-p(\d+)-.*".r
    new CommitLog(tableDir, ctx.conf).committedFiles().collect { case f @ P(e, p) => (e.toLong, p) }
      .groupBy(_._1).toSeq.sortBy(_._1).map(_._2.map(_._2).distinct.size)
  }

  // ---------------------------------------------------------------- probes

  /** A landed table the probes read: its id and text columns, and its
    * partition column if it has one.
    */
  final case class ProbeTable(path: String, db: String, table: String, format: String,
      idCol: String = "id", textCol: String = "msg", partCol: Option[String] = Some("part"),
      bloom: Boolean = false) {
    def dir: String = s"$path/$db.$table"
  }

  /** A key the probes look up: exactly one landed row carries it. */
  final case class Key(id: Long, text: String, part: Option[String])

  val eventKey: Event => Key = e => Key(e.id, e.msg, Some(e.part))

  /** The texts banding and the band index probes run over. */
  def textsOf(ctx: Ctx, events: Seq[Event]): DataFrame = {
    import ctx.spark.implicits._
    events.take(5000).map(e => Doc(e.id, e.msg)).toDF()
  }

  /** Direct calls into every layer, so each layer metric is measured on
    * every workload: the commit log of the workload's own table; scan
    * planning, file skipping, a tailing read and compaction on a probe
    * table landed from `sample` in the workload's format and partitioning
    * (the workload's own table can hold thousands of files, and these
    * calls cost time per file); banding and the band index over `texts`;
    * and the writer driven directly on `sample`. `drops` is (documents
    * dropped, designed duplicates) where the workload dedups.
    */
  def probes[T: Encoder](ctx: Ctx, tab: ProbeTable, sample: Seq[T], keyOf: T => Key,
      texts: DataFrame, drops: (Long, Long) = (0L, 0L)): M = ctx.tracer.span("probes") {
    val out = mutable.Map.empty[String, (Double, String)]
    val scratch = s"${ctx.root}/probes"
    out ++= ctx.tracer.span("commitlog.probe")(commitLog(ctx, tab, scratch))
    val pt = ctx.tracer.span("writer.land_probe_table")(landProbeTable(ctx, tab, sample, scratch))
    val keys = (0 until 8).map(k => keyOf(sample(math.floorMod(Gen.mix(ctx.seed * 977 + k),
      sample.size.toLong).toInt)))
    out ++= ctx.tracer.span("scan.probe")(scan(ctx, pt, keys))
    out ++= ctx.tracer.span("tail.probe")(tail(ctx, pt))
    out ++= ctx.tracer.span("compact.probe")(compactTable(ctx, pt))
    out ++= ctx.tracer.span("banding.probe")(banding(ctx, texts))
    out ++= ctx.tracer.span("bandindex.probe")(bandIndex(ctx, tab, texts, s"$scratch/banddex", drops))
    out ++= ctx.tracer.span("writer.probe")(writer(ctx, tab, sample, s"$scratch/writer"))
    out ++= ctx.tracer.span("upstream.probe")(upstream(ctx, tab, sample, s"$scratch/upstream"))
    ctx.deleteTree(scratch)
    out.toMap
  }

  /** `sample` landed as four streaming epochs (batch writes carrying
    * `commit.epoch`) in the table's format and partitioning, with bloom
    * sidecars on its text column.
    */
  def landProbeTable[T: Encoder](ctx: Ctx, tab: ProbeTable, sample: Seq[T],
      scratch: String): ProbeTable = {
    val pt = tab.copy(path = scratch, db = "probe", table = "t", bloom = true)
    sample.grouped(math.max(1, sample.size / 4)).zipWithIndex.foreach { case (rows, e) =>
      ctx.spark.createDataset(rows).write.format("graft-streaming").mode("append")
        .option("path", pt.path).option("db", pt.db).option("table", pt.table)
        .option("format", pt.format).option("bloom.columns", pt.textCol)
        .option("bloom.bits", "4096").option("commit.epoch", e.toString)
        .options(pt.partCol.map(c => Map("partition.columns" -> c)).getOrElse(Map.empty[String, String]))
        .save()
    }
    pt
  }

  private def medianOf(n: Int)(body: => Unit): Double =
    Stats.median((0 until n).map(_ => Stats.timed(body)._2))

  def commitLog(ctx: Ctx, tab: ProbeTable, scratch: String): M = {
    val commits = new Path(tab.dir, CommitLog.COMMITS_DIR)
    val manifests = ctx.fs.listStatus(commits).filter(_.getPath.getName.endsWith(".manifest"))
    val copy = s"$scratch/${tab.db}.${tab.table}"
    FileUtil.copy(ctx.fs, commits, ctx.fs, new Path(copy, CommitLog.COMMITS_DIR), false, ctx.conf)
    val log = new CommitLog(copy, ctx.conf)
    var next = log.committedEpochs().foldLeft(0L)(math.max) + 1
    val files = (0 until ctx.nproc).map(i => s"$copy/part=x/probe-$i.jsonl")
    val commitMs = medianOf(5) { log.commit(next, files); next += 1 }
    val live = new CommitLog(tab.dir, ctx.conf)
    val listMs = medianOf(5)(live.committedFilesWithStats())
    val liveFiles = live.committedFiles().map(f => new Path(f).toUri.getPath).toSet
    // data files on disk: below the table, outside `_`/`.` entries, not sidecars
    val root = java.nio.file.Paths.get(new Path(tab.dir).toUri.getPath)
    val walk = java.nio.file.Files.walk(root)
    val onDisk = try walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
      .filterNot(p => root.relativize(p).iterator().asScala.exists { s =>
        val n = s.toString; n.startsWith("_") || n.startsWith(".") })
      .map(_.toString).filterNot(_.endsWith(".bloom")).toList
      finally walk.close()
    val perEpoch = live.manifests().filter(_.epochId >= 0).map(_.files.size.toDouble)
    val replays = progress.events.toArray(Array.empty[StreamingQueryProgress]).toSeq
      .filter(_.numInputRows > 0).groupBy(p => (p.runId, p.batchId)).count(_._2.size > 1)
    Map(
      "commitlog.commit_ms" -> (commitMs, "ms"),
      "commitlog.list_ms" -> (listMs, "ms"),
      "commitlog.manifests" -> (manifests.length.toDouble, "count"),
      "commitlog.manifest_bytes" -> (manifests.map(_.getLen).sum.toDouble, "B"),
      "commitlog.replayed_epochs" -> (replays.toDouble, "count"),
      "commitlog.orphan_files" -> (onDisk.count(f => !liveFiles(f)).toDouble, "count"),
      "writer.files_per_epoch" -> (if (perEpoch.isEmpty) 0.0 else perEpoch.sum / perEpoch.size, "count"))
  }

  /** Point-lookup filters of the three skip paths: id equality (stats),
    * text equality (bloom), partition plus id (partition pruning).
    */
  def lookupFilters(tab: ProbeTable, k: Key): Seq[(Seq[(String, String)], Array[Filter])] =
    Seq((Seq.empty[(String, String)], Array[Filter](EqualTo(tab.idCol, k.id))),
      (Seq.empty[(String, String)], Array[Filter](EqualTo(tab.textCol, k.text)))) ++
      tab.partCol.zip(k.part).map { case (c, v) =>
        (Seq(c -> v), Array[Filter](EqualTo(c, v), EqualTo(tab.idCol, k.id))) }

  def scan(ctx: Ctx, tab: ProbeTable, keys: Seq[Key]): M = {
    val log = new CommitLog(tab.dir, ctx.conf)
    val withStats = log.committedFilesWithStats()
    val total = withStats.size.toDouble
    val dbTable = s"${tab.db}.${tab.table}"
    val plans = keys.flatMap(k => lookupFilters(tab, k)).map { case (pp, fs) =>
      Stats.timed(GraftScan.planFiles(tab.dir, dbTable, ctx.conf, pp, fs).size) }
    val planned = plans.map(_._1.toDouble)
    // cascade of the three skip stages, as GraftScan applies them; on the
    // text-equality lookups, a file that passes its sidecar beyond the one
    // file holding the key is a bloom false positive
    var byPart, byStats, byBloom, bloomChecked, bloomPassed = 0L
    keys.flatMap(k => lookupFilters(tab, k)).foreach { case (pp, fs) =>
      val onText = fs.exists { case EqualTo(c, _) => c == tab.textCol; case _ => false }
      withStats.foreach { case (f, st) =>
        val parts = CommitLog.partitionSegments(f, dbTable).toMap
        if (pp.exists { case (c, v) => parts.get(c).exists(_ != v) }) byPart += 1
        else if (st.exists(s => fs.exists(s.prunes))) byStats += 1
        else Bloom.read(ctx.fs, f).foreach { b =>
          val pruned = fs.exists(b.prunes)
          if (pruned) byBloom += 1
          if (onText) { bloomChecked += 1; if (!pruned) bloomPassed += 1 }
        }
      }
    }
    val negatives = bloomChecked - (if (bloomChecked > 0) keys.size else 0)
    val df = ctx.read(tab.path, tab.db, tab.table)
      .agg(sum(col(tab.idCol)), sum(length(col(tab.textCol))))
    val w0 = System.currentTimeMillis()
    val (_, aggMs) = Stats.timed(df.collect())
    drain(ctx)
    val readTasks = ctx.events.jobsIn(w0.toDouble, System.currentTimeMillis().toDouble)
      .flatMap(j => ctx.events.tasksOf(j.stages.toSet))
    val recs = readTasks.map(_.recordsRead).sum.toDouble
    val runMs = readTasks.map(_.runMs).sum.toDouble
    Map(
      "scan.plan_ms" -> (Stats.median(plans.map(_._2)), "ms"),
      "scan.files_total" -> (total, "count"),
      "scan.files_planned" -> (planned.sum / planned.size, "count"),
      "scan.skip_ratio" -> (1 - planned.sum / planned.size / math.max(1.0, total), "ratio"),
      "scan.useful_file_ratio" -> (planned.size / math.max(1.0, planned.sum), "ratio"),
      "scan.decode_rows_per_s" -> (recs / math.max(1e-3, runMs / 1000), "rows/s"),
      "scan.aggregate_ms" -> (aggMs, "ms"),
      "scan.columnar" -> (if (df.queryExecution.executedPlan.toString.contains("ColumnarToRow")) 1.0
        else 0.0, "count"),
      "skip.by_partition" -> (byPart.toDouble / planned.size, "count"),
      "skip.by_stats" -> (byStats.toDouble / planned.size, "count"),
      "skip.by_bloom" -> (byBloom.toDouble / planned.size, "count"),
      "skip.bloom_false_positive_ratio" -> (if (negatives <= 0) 0.0
        else (bloomPassed - keys.size).toDouble / negatives, "ratio"))
  }

  /** A fresh tailing read of the whole table, counted and summed. */
  def tailOnce(ctx: Ctx, tab: ProbeTable, ckpt: String): (Long, Long, Seq[StreamingQueryProgress], Double) = {
    val n = new java.util.concurrent.atomic.AtomicLong()
    val s = new java.util.concurrent.atomic.AtomicLong()
    val idCol = tab.idCol
    val t0 = Stats.now()
    val q = ctx.spark.readStream.format("graft-streaming")
      .option("path", tab.path).option("db", tab.db).option("table", tab.table).load()
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: DataFrame, _: Long) =>
        val r = df.agg(count(lit(1)), coalesce(sum(col(idCol)), lit(0L))).head()
        n.addAndGet(r.getLong(0)); s.addAndGet(r.getLong(1)); ()
      }.start()
    q.awaitTermination()
    val ms = Stats.ms(t0, Stats.now())
    (n.get, s.get, q.recentProgress.toSeq.filter(_.numInputRows > 0), ms)
  }

  def tailMetrics(rows: Long, progs: Seq[StreamingQueryProgress], ms: Double): M = Map(
    "tail.epochs_read" -> (progs.size.toDouble, "count"),
    "tail.plan_ms_per_epoch" -> (if (progs.isEmpty) 0.0 else Stats.median(progs.map(p =>
      Progress.dur(p, "latestOffset") + Progress.dur(p, "queryPlanning"))), "ms"),
    "tail.rows_per_s" -> (rows / (ms / 1000), "rows/s"))

  def tail(ctx: Ctx, tab: ProbeTable): M = {
    val (n, s, progs, ms) = tailOnce(ctx, tab, s"${ctx.root}/probes/tail_cp")
    val agg = ctx.read(tab.path, tab.db, tab.table)
      .agg(count(lit(1)), sum(col(tab.idCol))).head()
    ctx.check(s"tail probe of ${tab.table} preserves count and id sum",
      n == agg.getLong(0) && s == agg.getLong(1))
    tailMetrics(n, progs, ms)
  }

  /** Compacts a copy of the table: files in and out, bytes rewritten, and
    * the aggregate scan before and after.
    */
  def compact(ctx: Ctx, tab: ProbeTable, scratch: String): M = {
    val copy = tab.copy(path = scratch)
    FileUtil.copy(ctx.fs, new Path(tab.dir), ctx.fs, new Path(copy.dir), false, ctx.conf)
    compactTable(ctx, copy)
  }

  def compactTable(ctx: Ctx, tab: ProbeTable): M = {
    def agg() = ctx.read(tab.path, tab.db, tab.table)
      .agg(count(lit(1)), sum(col(tab.idCol)), sum(length(col(tab.textCol)))).head()
    val log = new CommitLog(tab.dir, ctx.conf)
    def liveBytes = log.committedFiles().map(f => ctx.fs.getFileStatus(new Path(f)).getLen).sum
    val filesIn = log.committedFiles().size
    val bytesIn = liveBytes
    val (before, scanBefore) = Stats.timed(agg())
    val (_, compactMs) = Stats.timed(Compact.run(tab.dir, ctx.conf, retainMillis = 0L))
    val (after, scanAfter) = Stats.timed(agg())
    ctx.check(s"compaction of ${tab.table} preserves count and id sum",
      before.getLong(0) == after.getLong(0) && before.getLong(1) == after.getLong(1))
    Map(
      "compact.files_in" -> (filesIn.toDouble, "count"),
      "compact.files_out" -> (log.committedFiles().size.toDouble, "count"),
      "compact.bytes_rewritten_ratio" -> (liveBytes.toDouble / math.max(1L, bytesIn), "ratio"),
      "compact.scan_speedup_x" -> (scanBefore / scanAfter, "x"),
      "compact.s" -> (compactMs / 1000, "s"))
  }

  /** MinHash banding of the workload's texts into the noop sink. */
  def banding(ctx: Ctx, texts: DataFrame): M = {
    val n = texts.count().toDouble
    val ms = medianOf(3)(StreamingNearDedup.withBands(texts).write.format("noop")
      .mode("overwrite").save())
    Map("banding.ns_per_doc" -> (ms * 1e6 / n, "ns/doc"))
  }

  /** The band index of a dedup table, or, for a table without one, an
    * index built from the workload's texts in scratch space.
    */
  def bandIndex(ctx: Ctx, tab: ProbeTable, texts: DataFrame, scratch: String,
      drops: (Long, Long)): M = {
    val table = if (ctx.fs.exists(new Path(BandIndex.dir(tab.dir)))) tab.dir
      else {
        val keys = StreamingNearDedup.withBands(texts)
          .select(col("doc_id"), explode(array((0 until StreamingNearDedup.NumBands)
            .map(b => col(s"band_$b")): _*)).as("bk"))
        BandIndex.append(keys, s"$scratch/bench.idx", 0L)
        s"$scratch/bench.idx"
      }
    val idx = new Path(BandIndex.dir(table))
    var files, bytes = 0L
    val it = ctx.fs.listFiles(idx, true)
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) { files += 1; bytes += f.getLen }
    }
    val touched = (0 until BandIndex.NumBuckets by 4).toSet
    val readMs = medianOf(3)(BandIndex.readKeys(ctx.spark, table, touched, -1L).count())
    Map(
      "bandindex.files" -> (files.toDouble, "count"),
      "bandindex.bytes" -> (bytes.toDouble, "B"),
      "bandindex.read_keys_ms" -> (readMs, "ms"),
      "bandindex.drop_ratio" -> (if (drops._2 == 0) 0.0 else drops._1.toDouble / drops._2, "ratio"))
  }

  /** A GraftDataWriter driven directly on the sample rows, per format, then
    * the single-task and nproc-task landing of the same rows.
    */
  def writer[T: Encoder](ctx: Ctx, tab: ProbeTable, sample: Seq[T], scratch: String): M = {
    val df = ctx.spark.createDataset(sample).toDF()
    val schema = df.schema
    val rows = df.queryExecution.toRdd.map(_.copy()).collect()
    val n = rows.length.toDouble
    val out = mutable.Map.empty[String, (Double, String)]
    var epoch = 0L
    Seq("jsonl", "parquet", "orc").foreach { fmt =>
      val opts = GraftSinkOptions(path = scratch, db = "direct", table = fmt,
        partitionColumns = tab.partCol.toSeq, batchSize = 10000, txnPerBatch = 100,
        autoCreatePartitions = true, format = fmt,
        bloomColumns = if (tab.bloom) Seq(tab.textCol) else Seq.empty,
        bloomBits = if (tab.bloom) 4096 else Bloom.DefaultBits)
      val log = new CommitLog(opts.tableDir, ctx.conf)
      val samples = (0 until 3).map { _ =>
        epoch += 1
        val w = new GraftDataWriter(schema, opts, ctx.conf, 0, epoch, epoch)
        val t0 = Stats.now()
        rows.foreach(w.write)
        val msg = w.commit().asInstanceOf[graft.sink.GraftCommitMessage]
        val t1 = Stats.now()
        log.commit(epoch, msg.files, fileStats = msg.stats)
        val t2 = Stats.now()
        val bytes = msg.files.map(f => ctx.fs.getFileStatus(new Path(f)).getLen).sum
        (Stats.ms(t0, t1), Stats.ms(t1, t2), bytes.toDouble)
      }.tail
      out(s"writer.direct_ns_per_row.$fmt") = (Stats.median(samples.map(_._1)) * 1e6 / n, "ns/row")
      out(s"writer.direct_commit_ms.$fmt") = (Stats.median(samples.map(_._2)), "ms")
      out(s"writer.bytes_per_row.$fmt") = (samples.head._3 / n, "B/row")
    }
    def land(d: DataFrame, table: String): Double = {
      def once() = d.write.format("graft-streaming").mode("append")
        .option("path", scratch).option("db", "scale").option("table", table)
        .options(tab.partCol.map(c => Map("partition.columns" -> c)).getOrElse(Map.empty[String, String]))
        .save()
      once()
      n / (medianOf(3)(once()) / 1000)
    }
    val one = land(df.coalesce(1), "one")
    val many = land(df.repartition(ctx.nproc), "many")
    out("writer.single_task_rows_per_s") = (one, "rows/s")
    out("writer.scaling_x") = (many / one, "x")
    out.toMap
  }

  /** The sample rows as epochs of a stream into the noop sink and into the
    * graft sink in the table's format: the upstream cost every sink epoch
    * pays, and its share of the sink's addBatch.
    */
  def upstream[T: Encoder](ctx: Ctx, tab: ProbeTable, sample: Seq[T], scratch: String): M = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = ctx.spark.sqlContext
    def addBatchMs(sink: String): Double = {
      val in = MemoryStream[T](ctx.nproc)
      val w = in.toDF().writeStream.option("checkpointLocation", s"$scratch/_cp_$sink")
      val q: StreamingQuery =
        if (sink == "noop") w.format("noop").start()
        else w.format("graft-streaming").option("path", scratch).option("db", "up")
          .option("table", "t").option("format", tab.format)
          .options(tab.partCol.map(c => Map("partition.columns" -> c)).getOrElse(Map.empty[String, String]))
          .start()
      try {
        (0 until 4).foreach { _ => in.addData(sample); q.processAllAvailable() }
        Stats.median(q.recentProgress.toSeq.filter(_.numInputRows > 0).drop(1)
          .map(Progress.dur(_, "addBatch")))
      } finally q.stop()
    }
    val noop = addBatchMs("noop")
    val sink = addBatchMs("graft")
    Map("upstream.noop_ms_per_epoch" -> (noop, "ms"), "upstream.share" -> (noop / sink, "ratio"))
  }
}
