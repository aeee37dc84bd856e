package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("nearest-rank percentile and median") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 50.0)
    assert(Stats.percentile(xs, 90) == 90.0)
    assert(Stats.percentile(xs, 99) == 99.0)
    assert(Stats.percentile(xs, 100) == 100.0)
    assert(Stats.percentile(Seq(3.0, 1.0, 2.0), 50) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0)
  }

  test("a tail percentile needs ten samples beyond it") {
    assert(Stats.beyond(100, 90) == 10)
    assert(Stats.beyond(99, 90) == 9)
    assert(Stats.beyond(1000, 99) == 10)
    assert(Stats.beyond(10000, 99.9) == 10)
    assert(Stats.beyond(39, 75) == 9)
    assert(Stats.sizeFor(75) == 40)
    assert(Stats.sizeFor(90) == 100)
    assert(Stats.sizeFor(95) == 200)
    assert(Stats.sizeFor(99) == 1000)
  }

  test("a failed call stays in the sample and counts as missing the percentile") {
    val ok = Seq.fill(9)(1.0)
    assert(Stats.percentile(ok :+ Double.PositiveInfinity, 50) == 1.0)
    assert(Stats.percentile(ok :+ Double.PositiveInfinity, 95).isInfinite)
    assert(Stats.percentile(Seq.fill(6)(Double.PositiveInfinity) ++ ok.take(4), 50).isInfinite)
  }
}
