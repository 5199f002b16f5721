package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** One workload driven by [[Main]]: set up once, then timed ops in a
  * closed loop with one client (the next op starts when the last ends).
  */
trait Workload {
  /** Rows or docs one op consumes. */
  def itemsPerOp: Long

  /** One-time program set-up (inputs loaded, indexes built). */
  def setUp(): Unit

  /** Untimed ops after set-up, for JIT and codegen: op times still fall
    * by a third from the first to the second op after a cold start.
    */
  def warmUp(): Unit = (-warmOps until 0).foreach(op)

  /** How many untimed ops [[warmUp]] runs. */
  def warmOps: Int = Main.WarmOps

  /** One timed op (a full pass or one micro-batch); returns its answers. */
  def op(i: Int): Map[String, String]

  /** Nanoseconds spent so far in untimed checks inside ops. */
  def untimedNs: Long

  /** Indices of the ops whose answers are wrong (None: the op threw). */
  def wrongOps(answers: Seq[Option[Map[String, String]]]): Seq[Int]

  /** Bytes the workload persisted per byte of its input. */
  def storedBytesPerInputByte: Double

  /** Traced runs only: per-layer figures the spans do not give, from
    * probes and counts.
    */
  def layerMetrics(): Map[String, Double]

  /** Untraced figures worth keeping in the run record. */
  def record: Map[String, Any] = Map.empty

  def close(): Unit
}

object Main {
  /** Set-up is repeated this often per run; setup_s is the median. */
  val SetupReps = 3
  val WarmOps = 2
  /** An untraced run's timed loop runs at least this many ops, past its
    * deadline if need be: op times still fall over the first ops after
    * warm-up, so a median over fewer would read higher on a slower host.
    */
  val MinOps = 3

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val enterMs = System.currentTimeMillis()
    val opt = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cores = Runtime.getRuntime.availableProcessors
    val out = new File(opt("out"))
    val runId = opt("run-id")
    val workDir = new File(out, runId + ".work")
    val tr = new Tracer
    val os = ManagementFactory.getOperatingSystemMXBean
    val loadBefore = os.getSystemLoadAverage
    var loadMax = loadBefore

    // setup_s: JVM start to main, the (cold) session start, the median of
    // SetupReps repeats of the workload's one-time set-up, and the
    // untimed warm-up ops.
    val s0 = System.nanoTime()
    val spark = graft.GraftSession.local(cores)
    val sessionS = (System.nanoTime() - s0) / 1e9
    val setups = ArrayBuffer.empty[Double]
    var wl: Workload = null
    for (k <- 0 until SetupReps) {
      if (wl != null) wl.close()
      val dir = new File(workDir, s"setup$k")
      dir.mkdirs()
      val t0 = System.nanoTime()
      wl = workload match {
        case "table_etl" => new TableEtl(spark, opt("data"), dir, tr)
        case "corpus_curate" => new CorpusCurate(spark, opt("data"), dir, tr)
        case "stream_ingest" => new StreamIngest(spark, opt("data"), dir, tr)
      }
      wl.setUp()
      setups += (System.nanoTime() - t0) / 1e9
      loadMax = math.max(loadMax, os.getSystemLoadAverage)
    }
    val w0 = System.nanoTime()
    tr.op = -1
    wl.warmUp()
    val warmS = (System.nanoTime() - w0) / 1e9
    val setupS = (enterMs - jvmStartMs) / 1e3 + sessionS + Stats.median(setups.toSeq) + warmS
    val speed = new Speed(spark.sparkContext, cores)
    speed.probe(Speed.WarmProbes)

    final case class Loop(times: Seq[Double], answers: Seq[Option[Map[String, String]]],
        wallS: Double, host: graft.HostMeters.Delta)
    // Untimed, between ops: a full collection, so every op starts from
    // the same heap, and the heap still live after it is measured. The
    // median over the op boundaries: cached blocks Spark frees
    // asynchronously outlive some boundaries and not others.
    val liveHeap = ArrayBuffer.empty[Double]
    def fullGc(): Unit = {
      System.gc()
      liveHeap += ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }
    fullGc()
    var nextOp = 0
    def loop(secs: Double, minOps: Int): Loop = {
      val times = ArrayBuffer.empty[Double]
      val answers = ArrayBuffer.empty[Option[Map[String, String]]]
      val h0 = graft.HostMeters.snap()
      val deadline = h0.wallNs + (secs * 1e9).toLong
      do {
        val u0 = wl.untimedNs
        tr.op = nextOp
        val t0 = System.nanoTime()
        answers += (try Some(tr("workload", "op")(wl.op(nextOp))) catch {
          case NonFatal(e) =>
            System.err.println(s"op $nextOp failed: $e")
            e.printStackTrace()
            None
        })
        times += (System.nanoTime() - t0 - (wl.untimedNs - u0)) / 1e9
        nextOp += 1
        fullGc()
        speed.probe(Speed.PerOp)
        loadMax = math.max(loadMax, os.getSystemLoadAverage)
      } while (System.nanoTime() < deadline || times.size < minOps)
      val h1 = graft.HostMeters.snap()
      Loop(times.toSeq, answers.toSeq, (h1.wallNs - h0.wallNs) / 1e9, graft.HostMeters.delta(h0, h1))
    }

    val metrics = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val record = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    // The traced run measures half its time untraced and half traced, so
    // the gap between the two is the tracing overhead on this workload.
    val plain = if (traced) loop(seconds / 2, 1) else loop(seconds, MinOps)
    var loops = Seq(plain)
    if (traced) {
      val meter = new Meter
      spark.sparkContext.addSparkListener(meter)
      spark.listenerManager.register(meter)
      tr.on = true
      val t = loop(seconds / 2, 1)
      tr.on = false
      org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(meter)
      spark.listenerManager.unregister(meter)
      loops :+= t
      // Per-layer figures: each span's median duration (the run record
      // keeps these) and its median share of its op's wall time (the
      // result line reports these: a share of 0 is a bypassed layer).
      val opSpans = tr.byName("op")
      val perOp = opSpans.map(s => meter.window(s.startMs, s.endMs))
      perOp.head.keys.foreach(k => metrics(k) = Stats.median(perOp.map(_(k))))
      val opOf = tr.spans.map(s => s.id -> tr.rootOf(s)).toMap
      val inner = tr.spans.filter(_.name != "op")
      inner.map(_.name).distinct.foreach { n =>
        metrics(n + "_s") = Stats.median(tr.byName(n).map(_.durS))
      }
      def shares(key: Span => String, value: Span => Long): Unit =
        inner.groupBy(key).foreach { case (k, ss) =>
          metrics(k) = Stats.median(opSpans.map { o =>
            ss.filter(s => opOf(s.id) == o.id).map(value).sum.toDouble / o.durNs })
        }
      shares(_.name + "_frac", _.durNs)
      shares(s => s"self.${s.layer}_frac", tr.selfNs)
      metrics("session.start_s") = sessionS
      metrics("setup.program_s") = Stats.median(setups.toSeq)
      metrics("setup.warmup_s") = warmS
      metrics("jvm.gc_s") = t.host.gcSec / t.times.size
      metrics("host.steal_frac") = t.host.stealFrac(cores)
      metrics("host.speed_scale") = speed.scale
      metrics("trace.untraced_op_s") = Stats.median(plain.times)
      metrics("trace.traced_op_s") = Stats.median(t.times)
      metrics("trace.overhead_frac") = Stats.median(t.times) / Stats.median(plain.times) - 1
      metrics("op.slope_s") = Stats.slope(plain.times ++ t.times)
      metrics ++= wl.layerMetrics()
      writeSpans(new File(out, runId + ".spans.jsonl"), runId, tr, meter)
    } else {
      // in seconds at the reference host speed (see Speed); the run
      // record keeps them as measured
      metrics("setup_s") = setupS * speed.scale
      // An op's time is the sum over its calls of each call's median
      // across the timed ops: one slow call (a GC pause, a burst of host
      // load, a late JIT compile) moves a median of a few whole ops, not
      // this.
      val opS = tr.opCallMedians.values.sum
      metrics("op_s") = opS * speed.scale
      metrics("items_per_s") = wl.itemsPerOp / (opS * speed.scale)
      record("measured") = Map("setup_s" -> setupS, "op_s" -> opS)
      metrics("stored_bytes_per_input_byte") = wl.storedBytesPerInputByte
    }

    val answers = loops.flatMap(_.answers)
    val wrong = wl.wrongOps(answers).toSet
    val peakRss = peakRssMb()
    val liveHeapMb = Stats.median(liveHeap.toSeq)
    if (!traced) metrics("live_heap_mb") = liveHeapMb
    val allTimes = loops.flatMap(_.times)
    val gcS = loops.map(_.host.gcSec).sum
    val wallS = loops.map(_.wallS).sum
    record ++= Seq(
      "run_id" -> runId, "workload" -> workload, "seed" -> opt("seed").toLong, "traced" -> traced,
      "seconds" -> seconds, "host" -> Map(
        "nproc" -> cores, "master" -> spark.sparkContext.master,
        "jdk" -> System.getProperty("java.version"), "spark" -> spark.version,
        "commit" -> opt("commit"), "source_digest" -> opt("source"),
        "loadavg_before" -> loadBefore, "loadavg_max" -> loadMax,
        "loadavg_after" -> os.getSystemLoadAverage,
        "probe_s_each" -> speed.each, "speed_scale" -> speed.scale,
        "steal_frac" -> loops.map(_.host.stealCoreSec).sum / (wallS * cores),
        "gc_share" -> gcS / wallS),
      "setup" -> Map("jvm_to_main_s" -> (enterMs - jvmStartMs) / 1e3, "session_s" -> sessionS,
        "program_s_each" -> setups.toSeq, "warmup_s" -> warmS),
      "op_s" -> allTimes, "failed_ops" -> wrong.toSeq.sorted,
      "failed_frac" -> wrong.size.toDouble / answers.size,
      "peak_rss_mb" -> peakRss, "live_heap_mb_each" -> liveHeap.toSeq, "metrics" -> metrics.toMap) ++ wl.record
    val tail = Stats.tail(plain.times)
    record("call_median_s") = tr.opCallMedians
    record("call_s") = tr.opCallTimes
    record("call_cpu_s") = tr.opCallCpu
    record("op_tail") = tail.map { case (p, v) => Map("percentile" -> p, "value_s" -> v, "samples" -> plain.times.size) }
      .getOrElse(Map("samples" -> plain.times.size))
    wl.close()
    spark.stop()
    Gen.deleteTree(workDir)
    val recFile = new File(out, runId + ".json")
    java.nio.file.Files.write(recFile.toPath, Json(record.toMap).getBytes("UTF-8"))
    val result = Map("correct" -> wrong.isEmpty, "attempted" -> answers.size,
      "failed" -> wrong.size, "metrics" -> metrics.toMap)
    println(Json(result))
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  private def writeSpans(f: File, runId: String, tr: Tracer, meter: Meter): Unit = {
    val w = new java.io.PrintWriter(f, "UTF-8")
    try tr.spans.sortBy(_.id).foreach { s =>
      w.println(Json(Map("run_id" -> runId, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "layer" -> s.layer, "start_ms" -> s.startMs, "end_ms" -> s.endMs, "dur_s" -> s.durS,
        "self_s" -> tr.selfNs(s) / 1e9, "counters" -> meter.window(s.startMs, s.endMs))))
    } finally w.close()
  }
}

/** Minimal JSON rendering for the result line and the run records. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => Gen.jsonString(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => Gen.jsonString(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => Gen.jsonString(other.toString)
  }
}
