package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  private def xs(n: Int) = (1 to n).map(_.toDouble)

  test("a percentile is reported only with at least 10 samples beyond it") {
    assert(Stats.percentile(xs(19), 0.5).isEmpty)
    assert(Stats.percentile(xs(20), 0.5).contains(10.0))
    assert(Stats.percentile(xs(99), 0.9).isEmpty)
    assert(Stats.percentile(xs(100), 0.9).contains(90.0))
    assert(Stats.percentile(xs(999), 0.99).isEmpty)
  }

  test("median of odd and even counts; geometric mean") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(math.abs(Stats.geomean(Seq(100.0, 400.0)) - 200.0) < 1e-9)
    assert(Stats.geomean(Nil).isNaN)
  }

  test("span self time is its duration minus its children's") {
    val spans = IndexedSeq(
      Trace.Span("outer", 0, 100, -1, "r"), Trace.Span("inner", 10, 40, 0, "r"),
      Trace.Span("inner", 50, 70, 0, "r"), Trace.Span("late", 200, 300, -1, "r"))
    val self = Trace.selfTimes(spans, _.end <= 100)
    assert(self == Map("outer" -> 50 / 1e9, "inner" -> 50 / 1e9))
  }
}
