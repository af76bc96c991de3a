package graft.bench

import org.scalatest.funsuite.AnyFunSuite

/** `SortSweep.parseArgs`: the reference's flags and defaults, and no
  * sweep that measures nothing — zero iterations would write
  * `avg_us` = `min_us` = 0.0, a failed cell posing as the fastest.
  */
class SortSweepArgsSpec extends AnyFunSuite {

  private def parse(args: String*) = SortSweep.parseArgs(args.toArray)

  private def assertRejected(args: String*): Unit = {
    val e = intercept[IllegalArgumentException](parse(args: _*))
    assert(e.getMessage.contains(SortSweep.Usage), s"no usage line for ${args.mkString(" ")}")
  }

  test("parseArgs: reference defaults, and every flag read") {
    assert(parse() == SortSweep.Opt())
    assert(parse("--case", "utf8-tuple", "--begin", "1000", "--end", "5000", "--step-size", "2000",
      "--iters", "5", "--out", "o", "--parquet", "--merge") ==
      SortSweep.Opt("utf8-tuple", 1000, 5000, 2000, 5, "o", parquet = true, merge = true))
    assert(parse("--begin", "7", "--end", "7", "--iters", "1", "--step-size", "1").begin == 7)
  }

  test("parseArgs rejects --iters below 1") {
    assertRejected("--iters", "0")
    assertRejected("--iters", "-3")
  }

  test("parseArgs rejects --step-size below 1") {
    assertRejected("--step-size", "0")
  }

  test("parseArgs rejects begin < 1 and begin > end") {
    assertRejected("--begin", "0")
    assertRejected("--begin", "5000", "--end", "1000")
  }

  test("parseArgs rejects an unknown flag with the usage line") {
    assertRejected("--size", "10")
  }
}
