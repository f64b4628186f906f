package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One traced interval, in wall-clock milliseconds. `parent` 0 = a root. */
final case class Span(id: Long, parent: Long, trace: Long, name: String,
    startMs: Double, endMs: Double, attrs: Map[String, Double] = Map.empty)

/** Spans kept in memory and written out when the run ends. Until the
  * traced pass turns it on every call is a pass-through, so untraced
  * passes pay nothing. Harness spans are timed with the monotonic clock
  * and mapped onto the wall clock Spark's listener events use, so both
  * nest in one timeline.
  */
final class Tracer {
  @volatile var on = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val nano0 = System.nanoTime()
  private val wall0 = Stats.wallMs()
  private val stack = new ThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }

  def wallMs(nano: Long): Double = wall0 + (nano - nano0) / 1e6
  def nextId(): Long = ids.incrementAndGet()

  /** Times `body` as a span. A span opened outside any other starts a new
    * trace; one opened inside nests under it.
    */
  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId()
      val (parent, trace) = stack.get() match {
        case (p, t) :: _ => (p, t)
        case Nil => (0L, id)
      }
      stack.set((id, trace) :: stack.get())
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get().tail)
        spans.add(Span(id, parent, trace, name, wallMs(t0), wallMs(t1)))
      }
    }

  def add(s: Span): Unit = if (on) spans.add(s)

  def all: Seq[Span] = spans.asScala.toSeq

  def write(path: String, meta: Map[String, Double]): Unit = {
    val out = new java.io.PrintWriter(path, "UTF-8")
    try {
      out.println(Json.obj(Map("meta" -> Json.obj(meta.map { case (k, v) => k -> Json.num(v) }))))
      all.sortBy(_.startMs).foreach { s =>
        out.println(Json.obj(Map(
          "id" -> s.id.toString, "parent" -> s.parent.toString,
          "trace" -> s.trace.toString, "name" -> Json.str(s.name),
          "start_ms" -> Json.num(s.startMs), "end_ms" -> Json.num(s.endMs),
          "attrs" -> Json.obj(s.attrs.map { case (k, v) => k -> Json.num(v) }))))
      }
    } finally out.close()
  }
}

/** What Spark's listener bus reports about jobs, stages and tasks;
  * registered only for the traced pass.
  */
final class SparkEvents extends SparkListener {
  import SparkEvents.{Job, Task}

  val jobs = new ConcurrentLinkedQueue[Job]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  // physical plan text of each SQL execution, which names the tables and
  // directories a job reads and writes
  private val plans = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  private val open = new java.util.concurrent.ConcurrentHashMap[Int, Job]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      plans.put(s.executionId, s.physicalPlanDescription)
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val exec = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
    open.put(e.jobId, Job(e.jobId, e.time, -1L, e.stageIds, exec))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val j = open.remove(e.jobId)
    if (j != null) { j.endMs = e.time; jobs.add(j) }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null)
      tasks.add(Task(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime, m.inputMetrics.recordsRead))
  }

  def jobsIn(lo: Double, hi: Double): Seq[Job] =
    jobs.asScala.toSeq.filter(j => j.startMs >= lo - 1 && j.endMs <= hi + 1)
  /** The plan text of the SQL execution a job ran for, or "". */
  def planOf(j: Job): String = j.execution.flatMap(x => Option(plans.get(x))).getOrElse("")
  def tasksOf(stages: Set[Int]): Seq[Task] =
    tasks.asScala.toSeq.filter(t => stages(t.stage))
}

/** Collects every progress event of every query, in arrival order. */
final class Progress extends StreamingQueryListener {
  val events = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    events.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

object Progress {
  def startMs(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
  def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
  def endMs(p: StreamingQueryProgress): Double = startMs(p) + dur(p, "triggerExecution")

  /** Trigger phases in the order MicroBatchExecution runs them. */
  val Phases: Seq[(String, String)] = Seq(
    "latestOffset" -> "stream.latest_offset", "walCommit" -> "stream.wal_commit",
    "getBatch" -> "stream.get_batch", "queryPlanning" -> "stream.query_planning",
    "addBatch" -> "stream.add_batch", "commitOffsets" -> "stream.commit_offsets")

  /** Lays a trigger's phases end to end from its start, under `parent`;
    * the phases' order is fixed by the engine, their durations are Spark's.
    */
  def spans(t: Tracer, p: StreamingQueryProgress, parent: Long, trace: Long): Seq[Span] = {
    val trig = Span(t.nextId(), parent, trace, "stream.trigger", startMs(p), endMs(p),
      Map("rows" -> p.numInputRows.toDouble, "batch" -> p.batchId.toDouble))
    var at = trig.startMs
    val phases = Phases.flatMap { case (k, name) =>
      val d = dur(p, k)
      if (d <= 0) None
      else {
        val s = Span(t.nextId(), trig.id, trace, name, at, math.min(at + d, trig.endMs))
        at += d
        Some(s)
      }
    }
    trig +: phases
  }
}

/** Tiny JSON writer: the harness prints and records only flat numbers. */
object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) throw new IllegalArgumentException(s"not a finite number: $v")
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.lang.Double.toString(v)
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

object SparkEvents {
  final case class Job(id: Int, startMs: Long, var endMs: Long, stages: Seq[Int],
      execution: Option[Long])
  final case class Task(stage: Int, launchMs: Long, finishMs: Long, runMs: Long,
      cpuNs: Long, gcMs: Long, recordsRead: Long)

  /** Union length of intervals, clipped to [lo, hi]. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val s = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    s.foreach { case (a, b) =>
      if (curA.isNaN) { curA = a; curB = b }
      else if (a <= curB) curB = math.max(curB, b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

}
