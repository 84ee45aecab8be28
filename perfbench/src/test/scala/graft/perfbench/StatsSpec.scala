package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(7.0)) == 7.0)
  }

  test("percentiles interpolate between closest ranks") {
    val xs = (1 to 10).map(_.toDouble)
    assert(Stats.percentile(xs, 0) == 1.0)
    assert(Stats.percentile(xs, 100) == 10.0)
    assert(math.abs(Stats.percentile(xs, 90) - 9.1) < 1e-12)
    assert(Stats.percentile(xs.reverse, 50) == 5.5)
  }

  test("a summary keeps its sample count") {
    val s = Stats.summary(Seq(0.5, 0.1, 0.3, 0.9, 0.7))
    assert(s.n == 5)
    assert(s.p50 == 0.5)
    assert(math.abs(s.p90 - 0.82) < 1e-12)
  }

  test("no samples is an error, not a number") {
    intercept[IllegalArgumentException](Stats.median(Nil))
    intercept[IllegalArgumentException](Stats.percentile(Seq(1.0), 101))
  }
}
