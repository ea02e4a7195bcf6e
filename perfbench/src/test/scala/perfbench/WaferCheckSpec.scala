package perfbench

import org.scalatest.funsuite.AnyFunSuite

class WaferCheckSpec extends AnyFunSuite {
  test("percentile interpolates between order statistics") {
    val v = Array(1.0, 2.0, 3.0, 4.0)
    assert(WaferCheck.percentile(v, 0.25) == 1.75)
    assert(WaferCheck.percentile(v, 0.75) == 3.25)
    assert(WaferCheck.percentile(Array(5.0), 0.75) == 5.0)
  }

  test("IQR replay filters each size column in turn, per group") {
    def r(k: String, g: String, x: Double, y: Double = 1.0, a: Double = 1.0) = (k, g, Array(x, y, a))
    val normal = (1 to 8).map(i => r(s"n$i", "A", i.toDouble, i.toDouble, i.toDouble))
    val rows = normal ++ Seq(
      r("bigx", "A", 100, 5, 5), r("bigy", "A", 5, 100, 5),
      r("solo", "B", 1000), // a one-row group is never filtered
      r("nokey", null, 1))  // a null group is dropped
    val kept = WaferCheck.iqrSurvivors(rows)
    assert(kept == normal.map(_._1).toSet + "solo")
  }

  test("a converged 2-means has no misassigned points; a swapped label shows") {
    val a = Seq(Array(0.0, 0.0), Array(0.1, 0.0), Array(0.0, 0.1))
    val b = Seq(Array(5.0, 5.0), Array(5.1, 5.0), Array(5.0, 5.1))
    val good = a.map(_ -> 0) ++ b.map(_ -> 1)
    assert(WaferCheck.misassigned(good) == 0)
    val bad = good.updated(0, (a.head, 1))
    assert(WaferCheck.misassigned(bad) > 0)
  }

  test("the reference counts are pinned: a moved killer count is a problem") {
    import WaferCheck.{pinProblems, pinnedKillerRows => k, pinnedOutputRows => n}
    assert(pinProblems(n, k).isEmpty)
    assert(pinProblems(n, k + 1).size == 1)
    assert(pinProblems(0, k).size == 1)
  }
}
