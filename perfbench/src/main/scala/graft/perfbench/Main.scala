package graft.perfbench

import scala.collection.mutable

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Entry point of the sink benchmark. `run.py` builds this package and
  * launches it once per run:
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --root <per-run dir> --nproc <n> [--spans <file>] [--tamper <kind>]
  *        [--param key=value ...]
  *
  * Everything the run writes goes below `--root`, which the launcher
  * removes afterwards. The last stdout line is the result object.
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toSeq
    def one(k: String): String = a.collectFirst { case (`k`, v) => v }
      .getOrElse(throw new IllegalArgumentException(s"missing --$k"))
    val params = a.collect { case ("param", kv) =>
      val Array(k, v) = kv.split("=", 2); k -> v }.toMap
    val ctx = new Ctx(
      workload = one("workload"), seed = one("seed").toLong,
      seconds = one("seconds").toDouble, trace = one("trace") == "1",
      root = one("root"), nproc = one("nproc").toInt, params = params,
      tamper = a.collectFirst { case ("tamper", v) => v })
    val spans = a.collectFirst { case ("spans", v) => v }
    val body: Ctx => Outcome = ctx.workload match {
      case "ingest_bulk" | "ingest_trickle" => Ingest.run
      case "serve" => Serve.run
      case "dedup_stream" => DedupStream.run
      case w => throw new IllegalArgumentException(s"unknown workload '$w'")
    }
    val out = try body(ctx) finally {
      ctx.phase("checks")
      spans.foreach(f => ctx.tracer.write(f, ctx.traceMeta.toMap))
      ctx.spark.stop()
    }
    ctx.info.foreach { case (k, v) => System.err.println(s"[perfbench] $k=$v") }
    val metrics = out.metrics.toSeq.sortBy(_._1).map { case (k, (v, unit)) =>
      k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(unit)))
    }
    println(Json.obj(Seq(
      "correct" -> (out.failed == 0).toString,
      "attempted" -> out.attempted.toString,
      "failed" -> out.failed.toString,
      "metrics" -> Json.obj(metrics))))
    if (out.failed > 0) sys.exit(1)
  }
}

/** What one run measured: metric name → (value, unit), and its operation
  * tally (epochs, queries, lookups and correctness checks).
  */
final case class Outcome(metrics: Map[String, (Double, String)], attempted: Long, failed: Long)

/** Per-run state shared by the workloads. */
final class Ctx(val workload: String, val seed: Long, val seconds: Double,
    val trace: Boolean, val root: String, val nproc: Int,
    params: Map[String, String], val tamper: Option[String]) {

  def p(k: String): String = params.getOrElse(k,
    throw new IllegalArgumentException(s"workload parameter '$k' not given"))
  def pInt(k: String): Int = p(k).toInt
  def pDouble(k: String): Double = p(k).toDouble

  if (trace) CountingFs.install()
  val spark: SparkSession = SparkSession.builder()
    .master(s"local[$nproc]")
    .appName(s"perfbench-$workload")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", nproc.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.local.dir", s"$root/spark-local")
    .config("spark.sql.warehouse.dir", s"$root/warehouse")
    .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
    // the checks read a manifest's file list directly: list it in place,
    // never with a Spark listing job
    .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1000000")
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")
  // compiles the reference computation before anything is timed
  (0 until 20).foreach(_ => Stats.refCpuMs())
  val fs: FileSystem = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
  def conf: org.apache.hadoop.conf.Configuration = spark.sparkContext.hadoopConfiguration

  val tracer = new Tracer
  val events = new SparkEvents
  val traceMeta: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  val info: mutable.Map[String, String] = mutable.LinkedHashMap(
    "nproc" -> nproc.toString,
    "heap_max_mb" -> (Runtime.getRuntime.maxMemory / (1024 * 1024)).toString,
    "java" -> System.getProperty("java.version"),
    "spark" -> org.apache.spark.SPARK_VERSION,
    "seed" -> seed.toString, "workload" -> workload)

  // wall seconds of each phase of the run, for the info lines
  private var phaseT0 = Stats.now()
  def phase(name: String): Unit = {
    val t = Stats.now()
    info(s"phase_s.$name") = f"${Stats.secs(phaseT0, t)}%.2f"
    phaseT0 = t
  }

  // the operation tally of the run: every epoch, query, lookup and
  // correctness check counts once; a failed check fails the run
  private var attempted = 0L
  private var failedOps = 0L
  def op[T](body: => T): T = { attempted += 1; body }
  def check(what: String, ok: Boolean): Unit = {
    attempted += 1
    if (!ok) { failedOps += 1; System.err.println(s"[perfbench] CHECK FAILED: $what") }
  }
  def outcome(m: Map[String, (Double, String)]): Outcome = Outcome(m, attempted, failedOps)

  /** Runs `setup` three times, closing each state but the last; returns
    * the last state and the median set-up time. The time is the CPU time
    * of the JVM's Java threads, as for the epochs (see README.md): on a
    * shared host the wall time of a set-up grew by up to 95% with the
    * neighbours' load. The wall times are printed as info.
    */
  def setupMedian[S](close: S => Unit)(setup: Int => S): (S, Double) = {
    val runs = (0 until 3).map { rep =>
      val c0 = Stats.threadCpu()
      val t0 = Stats.now()
      val s = setup(rep)
      val wall = Stats.secs(t0, Stats.now())
      val cpu = Stats.threadCpuSince(c0) / 1e9
      if (rep < 2) close(s)
      (s, cpu, wall)
    }
    info("setup_s_samples") = runs.map(r => f"${r._2}%.3f").mkString(",")
    info("setup_wall_s_samples") = runs.map(r => f"${r._3}%.3f").mkString(",")
    phase("setup")
    (runs.last._1, Stats.median(runs.map(_._2)))
  }

  def deleteTree(dir: String): Unit = { fs.delete(new Path(dir), true); () }

  def read(path: String, db: String, table: String): DataFrame =
    spark.read.format("graft-streaming")
      .option("path", path).option("db", db).option("table", table).load()
}

object Expect {
  /** Data columns of a landed [[Event]] table; `part` lives in the path. */
  val EventSchema = "id LONG, user STRING, msg STRING, ts LONG"
}

/** Expected contents of a landed table: per partition value, the row count
  * and the sum of ids. Exactly-once holds when the landed table reproduces
  * both for every value.
  */
final class Expect {
  val parts: mutable.Map[String, (Long, Long)] = mutable.Map.empty
  def add(part: String, id: Long): Unit = {
    val (n, s) = parts.getOrElse(part, (0L, 0L))
    parts(part) = (n + 1, s + id)
  }
  def addAll(es: Iterable[Event]): Unit = es.foreach(e => add(e.part, e.id))
  def rows: Long = parts.values.map(_._1).sum
  def idSum: Long = parts.values.map(_._2).sum

  /** Compares `df`'s per-`partCol` (count, sum(id)) with the expectation. */
  def matches(df: DataFrame, partCol: String = "part", idCol: String = "id"): Boolean = {
    val got = df.groupBy(col(partCol)).agg(count(lit(1)), sum(col(idCol)))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    got == parts.toMap
  }

  /** [[matches]] over the files the table's manifests publish, read
    * independently of the sink's reader: jsonl lines parsed here in the
    * harness, columnar files by Spark's own file sources. Parsing here also
    * spares a trickle table's thousands of small files one task each.
    */
  def matchesCommitted(ctx: Ctx, tableDir: String, format: String): Boolean = {
    val files = new graft.sink.CommitLog(tableDir, ctx.conf).committedFiles()
    format match {
      case "jsonl" =>
        val dbTable = new Path(tableDir).getName
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper
        val got = new Expect
        files.foreach { f =>
          val part = graft.sink.CommitLog.partitionSegments(f, dbTable).toMap.getOrElse("part", "")
          val in = new java.io.BufferedReader(new java.io.InputStreamReader(
            ctx.fs.open(new Path(f)), java.nio.charset.StandardCharsets.UTF_8))
          try {
            var line = in.readLine()
            while (line != null) {
              if (line.nonEmpty) got.add(part, mapper.readTree(line).get("id").asLong)
              line = in.readLine()
            }
          } finally in.close()
        }
        got.parts.toMap == parts.toMap
      case "parquet" => matches(ctx.spark.read.schema(Expect.EventSchema)
        .option("basePath", tableDir).parquet(files: _*))
      case "orc" => matches(ctx.spark.read.schema(Expect.EventSchema)
        .option("basePath", tableDir).orc(files: _*))
    }
  }
}
