package perfbench

import org.scalatest.funsuite.AnyFunSuite

class SpanMathSpec extends AnyFunSuite {
  private def sp(id: Int, parent: Int, a: Double, b: Double, name: String = "s") =
    Span(id, name, parent, 0, a, b)

  test("self time subtracts the union of overlapping children") {
    val spans = Seq(
      sp(0, -1, 0, 100),
      sp(1, 0, 10, 40), sp(2, 0, 30, 60), // overlap 30..40 counts once
      sp(3, 0, 80, 90),
      sp(4, 1, 15, 20)) // grandchild: charged to span 1, not to the root
    val self = SpanMath.selfMs(spans)
    assert(self(0) == 100 - (50 + 10))
    assert(self(1) == 30 - 5)
    assert(self(2) == 30)
    assert(self(4) == 5)
  }

  test("children are clipped to their parent and nested children are covered once") {
    val spans = Seq(sp(0, -1, 0, 100), sp(1, 0, 90, 120), sp(2, 0, 20, 50), sp(3, 0, 25, 30))
    assert(SpanMath.selfMs(spans)(0) == 100 - 10 - 30)
  }

  test("a job goes to the innermost span whose window holds its start") {
    val spans = Seq(sp(0, -1, 0, 100, "op"), sp(1, 0, 10, 40, "a"), sp(2, 0, 40.5, 70, "b"))
    assert(SpanMath.attribute(spans, 20).map(_.name).contains("a"))
    assert(SpanMath.attribute(spans, 80).map(_.name).contains("op"))
    assert(SpanMath.attribute(spans, 200).isEmpty)
  }

  test("a truncated millisecond stamp still lands in the span it started in") {
    // a job submitted at 40.7 ms is stamped 40: inside b, which began at 40.5
    val spans = Seq(sp(0, -1, 0, 100, "op"), sp(1, 0, 10, 40.5, "a"), sp(2, 0, 40.5, 70, "b"))
    assert(SpanMath.attribute(spans, 40).map(_.name).contains("b"))
  }

  test("jobs from concurrent threads are attributed by time, not by thread") {
    // three fits running in parallel inside one call: all land in the call
    val spans = Seq(sp(0, -1, 0, 100, "op"), sp(1, 0, 10, 60, "kmeans"), sp(2, 0, 60, 90, "label"))
    val jobStarts = Seq(12L, 13L, 13L, 35L, 59L)
    assert(jobStarts.flatMap(SpanMath.attribute(spans, _)).map(_.name).distinct == Seq("kmeans"))
  }
}
