package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("a percentile carries its sample count") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 50).contains(Stats.Pct(50, 50.0, 100)))
    assert(Stats.percentile(xs, 90).contains(Stats.Pct(90, 90.0, 100)))
  }

  test("a percentile with fewer than ten samples beyond it is refused") {
    assert(Stats.percentile((1 to 19).map(_.toDouble), 50).isEmpty)
    assert(Stats.percentile((1 to 20).map(_.toDouble), 50).isDefined)
    assert(Stats.percentile((1 to 99).map(_.toDouble), 90).isEmpty)
    assert(Stats.percentile(Nil, 50).isEmpty)
    assert(Stats.highest((1 to 40).map(_.toDouble)).map(_.p).contains(75.0))
  }

  test("median") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }
}
