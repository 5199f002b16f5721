package graftbench

import org.scalatest.funsuite.AnyFunSuite

/** The correctness gate of the benchmark: a planted wrong answer must
  * count as a failed op. Run with `sbt test` in this directory.
  */
class CheckSpec extends AnyFunSuite {

  private val want = Map("import" -> Digest(100, 7, 9).toString, "survivors" -> "1,4,5")

  test("matching answers fail no op") {
    assert(Check.failedOps((_: Int) => want, Seq(Some(want), Some(want))) === Seq())
  }

  test("a planted wrong digest fails exactly that op") {
    val planted = want.updated("import", Digest(100, 7, 10).toString)
    assert(Check.failedOps((_: Int) => want, Seq(Some(want), Some(planted), Some(want))) === Seq(1))
  }

  test("a planted extra survivor, a missing answer and a thrown op all fail") {
    val extra = want.updated("survivors", "1,2,4,5")
    val missing = want - "survivors"
    assert(Check.failedOps((_: Int) => want, Seq(Some(extra), Some(missing), None)) === Seq(0, 1, 2))
  }

  test("per-op expectations: a survivor of another batch is wrong") {
    val perBatch = Map(0 -> "1,2", 1 -> "3,4")
    val answers = Seq(Some(Map("survivors" -> "1,2")), Some(Map("survivors" -> "1,2")))
    assert(Check.failedOps((i: Int) => Map("survivors" -> perBatch(i)), answers) === Seq(1))
  }

  test("tail is the highest percentile with ten samples beyond it") {
    assert(Stats.tail((1 to 10).map(_.toDouble)) === None)
    assert(Stats.tail((1 to 11).map(_.toDouble)) === Some((9, 1.0)))
    assert(Stats.tail((1 to 100).map(_.toDouble)) === Some((90, 90.0)))
  }
}
