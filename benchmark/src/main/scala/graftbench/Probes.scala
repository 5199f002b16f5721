package graftbench

import graft.functions.TextFunctions
import graft.plans.Kernels
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Kernel cost per row, for the traced runs: the noop-sunk kernel column
  * minus the noop-sunk raw column over the same cached rows, divided by
  * the row count (median of three).
  */
object Probes {
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def nsPerRow(docs: DataFrame, kernel: Column): Double = {
    val df = docs.select(col("text")).persist(StorageLevel.MEMORY_ONLY)
    try {
      val n = df.count()
      def t(c: Column): Long = { val t0 = System.nanoTime(); noop(df.select(c)); System.nanoTime() - t0 }
      t(kernel)
      Stats.median((0 until 3).map(_ => (t(kernel) - t(col("text"))).toDouble)) / n
    } finally df.unpersist()
  }

  /** The text kernels of `functions` and `plans` on a workload's own
    * text column.
    */
  def textKernels(docs: DataFrame): Map[String, Double] = Map(
    "plans.minhash_sig_ns_per_row" ->
      nsPerRow(docs, Kernels.minhashSig(Kernels.wordShingles(col("text"), 3), 64)),
    "functions.lang_id_ns_per_row" -> nsPerRow(docs, TextFunctions.langId(col("text"))),
    "functions.redact_pii_ns_per_row" -> nsPerRow(docs, TextFunctions.redactPii(col("text"))))
}
