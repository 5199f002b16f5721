package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable.ArrayBuffer

/** One timed call into a layer. Times are epoch ms (to line up with
  * Spark's listener event times) plus nanoTime for the duration.
  */
final case class Span(id: Int, parent: Int, name: String, layer: String,
    startMs: Long, endMs: Long, durNs: Long) {
  def durS: Double = durNs / 1e9
}

/** Records spans around the benchmark's calls into graft's modules.
  *
  * Every call goes through [[apply]], traced or not, so both kinds of run
  * execute the same code; only while `on` are spans kept (in memory,
  * written out when the run ends) and the Spark listeners attached.
  */
final class Tracer {
  var on = false
  val spans = ArrayBuffer.empty[Span]
  /** Every call, traced or not: (name, op index, nesting depth, seconds,
    * CPU seconds of the whole process).
    */
  val calls = ArrayBuffer.empty[(String, Int, Int, Double, Double)]
  var op = 0
  private var depth = 0
  private var stack: List[Int] = Nil
  private var nextId = 0

  /** Per name of the calls directly inside ops, the median over ops
    * `>= 0` of its seconds.
    */
  def opCallMedians: Map[String, Double] = opCallTimes.map { case (n, ts) => n -> Stats.median(ts) }

  /** Per name of the calls directly inside ops, its seconds in each op
    * `>= 0`, in op order.
    */
  def opCallTimes: Map[String, Seq[Double]] = opCalls(_._4)

  /** The same, in CPU seconds of the whole process. */
  def opCallCpu: Map[String, Seq[Double]] = opCalls(_._5)

  private def opCalls(f: ((String, Int, Int, Double, Double)) => Double): Map[String, Seq[Double]] =
    calls.filter { case (_, o, d, _, _) => o >= 0 && d == 1 }.groupBy(_._1)
      .map { case (n, cs) => n -> cs.map(f).toSeq }

  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def apply[T](layer: String, name: String)(body: => T): T = {
    val d = depth
    depth += 1
    val c0 = osBean.getProcessCpuTime
    val t0 = System.nanoTime()
    try if (on) traced(layer, name, body) else body
    finally {
      depth = d
      calls += ((name, op, d, (System.nanoTime() - t0) / 1e9, (osBean.getProcessCpuTime - c0) / 1e9))
    }
  }

  /** Records a call made on another thread inside the current call: it
    * started at `startMs` (epoch) and took `durNs`.
    */
  def nested(layer: String, name: String, startMs: Long, durNs: Long): Unit = {
    calls += ((name, op, depth, durNs / 1e9, Double.NaN))
    if (on) {
      spans += Span(nextId, stack.headOption.getOrElse(-1), name, layer, startMs,
        startMs + durNs / 1000000, durNs)
      nextId += 1
    }
  }

  private def traced[T](layer: String, name: String, body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val dur = System.nanoTime() - t0
      stack = stack.tail
      spans += Span(id, parent, name, layer, ms, System.currentTimeMillis(), dur)
    }
  }

  /** Span duration minus the part of its interval covered by its
    * children (children of one span never overlap: one client thread).
    */
  def selfNs(s: Span): Long = s.durNs - spans.filter(_.parent == s.id).map(_.durNs).sum

  def byName(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Id of the outermost span enclosing `s` (itself if it has no parent). */
  def rootOf(s: Span): Int = {
    val byId = spans.map(x => x.id -> x).toMap
    var cur = s
    while (cur.parent >= 0) cur = byId(cur.parent)
    cur.id
  }
}

/** Spark-side counters, attributed to spans afterwards by event time. */
private final case class Task(stage: Int, finishMs: Long, durMs: Long, runMs: Long, cpuNs: Long,
    shuffleW: Long, shuffleR: Long, spill: Long)
private final case class Stage(id: Int, doneMs: Long)

final class Meter extends SparkListener with QueryExecutionListener {
  private val jobs = ArrayBuffer.empty[(Int, Long)]     // (jobId, startMs)
  private val jobEnds = scala.collection.mutable.Map.empty[Int, Long]
  private val stages = ArrayBuffer.empty[Stage]
  private val tasks = ArrayBuffer.empty[Task]
  private val planning = ArrayBuffer.empty[(Long, Long)] // (startMs, planning ms)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += ((e.jobId, e.time)) }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { jobEnds(e.jobId) = e.time }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += Stage(e.stageInfo.stageId, e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null)
      tasks += Task(e.stageId, e.taskInfo.finishTime, e.taskInfo.duration, m.executorRunTime,
        m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled)
  }
  private def phases(qe: QueryExecution): Unit = synchronized {
    val ps = qe.tracker.phases.values
    if (ps.nonEmpty) planning += ((ps.map(_.startTimeMs).min, ps.map(_.durationMs).sum))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)

  /** Counters for the interval [a, b] (epoch ms). */
  def window(a: Long, b: Long): Map[String, Double] = synchronized {
    def in(t: Long) = t >= a && t <= b
    val ts = tasks.filter(t => in(t.finishMs))
    val ss = stages.filter(s => in(s.doneMs)).map(_.id).toSet
    val skew = ts.filter(t => ss(t.stage)).groupBy(_.stage).values.map { g =>
      val d = g.map(_.durMs.toDouble).sorted
      val med = Stats.median(d.toSeq)
      if (med <= 0) 1.0 else d.last / med
    }
    val js = jobs.filter { case (_, s) => in(s) }
    val intervals = js.map { case (id, s) => (s, jobEnds.getOrElse(id, s)) }
    Map(
      "spark.jobs" -> js.size.toDouble,
      "spark.stages" -> ss.size.toDouble,
      "spark.tasks" -> ts.size.toDouble,
      "spark.executor_run_s" -> ts.map(_.runMs).sum / 1e3,
      "spark.executor_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "spark.shuffle_write_bytes" -> ts.map(_.shuffleW).sum.toDouble,
      "spark.shuffle_read_bytes" -> ts.map(_.shuffleR).sum.toDouble,
      "spark.spill_bytes" -> ts.map(_.spill).sum.toDouble,
      "spark.task_skew_max" -> (if (skew.isEmpty) 1.0 else skew.max),
      "spark.driver_only_s" -> math.max(0L, (b - a) - covered(intervals.toSeq, a, b)) / 1e3,
      "spark.planning_s" -> planning.filter { case (s, _) => in(s) }.map(_._2).sum / 1e3)
  }

  /** Milliseconds of [a, b] covered by the union of the intervals. */
  private def covered(iv: Seq[(Long, Long)], a: Long, b: Long): Long = {
    var total = 0L
    var end = a
    iv.map { case (s, e) => (math.max(s, a), math.min(e, b)) }.filter { case (s, e) => e > s }
      .sortBy(_._1).foreach { case (s, e) =>
        if (e > end) { total += e - math.max(s, end); end = e }
      }
    total
  }
}
