package graftbench

import org.apache.spark.SparkContext

import scala.collection.mutable.ArrayBuffer

/** The host's speed, probed through the timed loop.
  *
  * The benchmark shares a few cores of a host with other tenants, and what
  * they run moves this process's speed by a third and more over minutes,
  * with next to no steal time: the cores stay ours but run slower (an op's
  * CPU seconds grow with its wall time). A run's own timings cannot tell
  * that apart from a slower program, so the run probes a fixed job between
  * its ops and reports its times scaled to a reference speed:
  * `seconds * RefProbeS / median probe`.
  *
  * The probe is one Spark job of `cores` tasks on the task threads the ops
  * use; each task fills an array with a fixed pseudo-random sequence and
  * sorts it. It calls no graft code and no SQL, so no change to graft or
  * to the settings `GraftSession` chooses moves it.
  */
final class Speed(sc: SparkContext, cores: Int) {
  private val probes = ArrayBuffer.empty[Double]

  /** Runs `n` probes. */
  def probe(n: Int): Unit = (0 until n).foreach { _ =>
    val t0 = System.nanoTime()
    sc.parallelize(0 until cores, cores).map(k => Speed.kernel(k.toLong)).collect()
    probes += (System.nanoTime() - t0) / 1e9
  }

  /** Probe times, the JIT warm-up probes first. */
  def each: Seq[Double] = probes.toSeq

  /** Median probe, leaving out the warm-up probes. */
  def median: Double = Stats.median(probes.drop(Speed.WarmProbes).toSeq)

  /** Factor that scales this run's seconds to the reference speed. */
  def scale: Double = Speed.RefProbeS / median
}

object Speed {
  /** Probe seconds at the reference speed. */
  val RefProbeS = 0.25
  /** Probes run before the timed loop, for the JIT, and left out of the
    * median.
    */
  val WarmProbes = 1
  /** Probes after each timed op. */
  val PerOp = 2
  private val Len = 1 << 19
  private val Reps = 4

  private[graftbench] def kernel(seed: Long): Long = {
    val a = new Array[Long](Len)
    var acc = 0L
    var r = 0
    while (r < Reps) {
      var x = seed * 31 + r
      var i = 0
      while (i < Len) {
        x = x * 6364136223846793005L + 1442695040888963407L
        a(i) = x >>> 1
        i += 1
      }
      java.util.Arrays.sort(a)
      acc += a(Len / 2)
      r += 1
    }
    acc
  }
}
