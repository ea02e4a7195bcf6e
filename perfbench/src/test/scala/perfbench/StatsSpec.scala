package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("Harrell-Davis median: exact on symmetric samples, between the middle order statistics") {
    assert(math.abs(Stats.hdQuantile(Seq(1.0, 2.0, 3.0)) - 2.0) < 1e-12)
    assert(math.abs(Stats.hdQuantile(Seq(5.0, 1.0, 4.0, 2.0)) - 3.0) < 1e-12)
    val skewed = Seq(1.0, 1.1, 1.2, 1.3, 9.0)
    val m = Stats.hdQuantile(skewed)
    assert(m > 1.2 && m < Stats.median(Seq(1.3, 9.0)))
    assert(Stats.hdQuantile(Seq(7.0)) == 7.0)
  }

  test("tail is the highest percentile with ten samples above it") {
    val xs = (1 to 20).map(_.toDouble)
    assert(Stats.tail(xs).contains((10.0, 50.0, 10)))
    val many = (1 to 1000).map(_.toDouble)
    assert(Stats.tail(many).contains((990.0, 99.0, 10)))
  }

  test("tail needs at least eleven samples") {
    assert(Stats.tail((1 to 10).map(_.toDouble)).isEmpty)
    assert(Stats.tail((1 to 11).map(_.toDouble)).contains((1.0, 100.0 / 11, 10)))
  }

  test("tied samples are not counted as beyond the tail") {
    // fifteen samples tie at the top: only the value below them has ten above it
    val xs = Seq.fill(5)(1.0) ++ Seq.fill(15)(2.0)
    assert(Stats.tail(xs).contains((1.0, 25.0, 15)))
    assert(Stats.tail(Seq.fill(30)(1.0)).isEmpty)
  }

  test("tail does not depend on sample order") {
    val xs = (1 to 37).map(i => (i * 7919 % 101).toDouble)
    assert(Stats.tail(xs) == Stats.tail(xs.reverse))
  }
}
