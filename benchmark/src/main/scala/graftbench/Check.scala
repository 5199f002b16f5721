package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Order-independent fingerprint of a table: row count plus the sums of
  * the two 32-bit halves of each row's xxhash64 over all columns, typed
  * (the same answer with another column type is a different answer).
  */
final case class Digest(rows: Long, lo: Long, hi: Long)

object Check {

  /** One aggregate job. It reads every output column, so Catalyst prunes
    * nothing the op computes; it serves as the timed action of most ops
    * and as their correctness check at once.
    */
  def digest(df: DataFrame): Digest = {
    // positional names: joins may output one name twice
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val h = xxhash64(named.columns.toSeq.map(col): _*)
    val r = named.agg(count(lit(1)), coalesce(sum(h.bitwiseAND(0xffffffffL)), lit(0L)),
      coalesce(sum(shiftrightunsigned(h, 32)), lit(0L))).head()
    Digest(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Keys whose answer in `got` differs from `want` or is missing. */
  def mismatches[K, V](want: Map[K, V], got: Map[K, V]): Seq[K] =
    want.keys.filter(k => !got.get(k).contains(want(k))).toSeq

  /** A readable difference; lists (comma-separated) show what is
    * missing and what is extra, up to 20 items each.
    */
  private def describe[V](want: V, got: Option[V]): String = (want, got) match {
    case (w: String, Some(g: String)) if w.contains(',') || g.contains(',') =>
      val (ws, gs) = (w.split(",").toSet, g.split(",").toSet)
      s"missing ${(ws -- gs).take(20).mkString(",")}; extra ${(gs -- ws).take(20).mkString(",")}"
    case _ => s"want $want, got $got"
  }

  /** Ops that failed: those that threw (no answers) plus those with any
    * answer differing from `want(i)`. `answers(i)` holds op i's answers
    * by name.
    */
  def failedOps[K, V](want: Int => Map[K, V], answers: Seq[Option[Map[K, V]]]): Seq[Int] =
    answers.indices.filter { i =>
      val bad = answers(i).map(a => mismatches(want(i), a).map(k => s"$k: ${describe(want(i)(k), a.get(k))}"))
      bad.foreach(_.foreach(m => System.err.println(s"op $i wrong answer: $m")))
      bad.forall(_.nonEmpty)
    }
}
