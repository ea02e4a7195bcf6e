package perfbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite {
  private val rows = Seq(Row(1L, "a", 0.5), Row(2L, "b", null), Row(3L, "c", 1.25))

  test("the digest does not depend on row order") {
    val cols = Seq("k", "s", "x")
    assert(Digest.of(cols, rows) == Digest.of(cols, rows.reverse))
    assert(Digest.of(cols, rows) == Digest.of(cols, Seq(rows(1), rows(2), rows(0))))
  }

  test("the digest does not depend on column order") {
    val swapped = rows.map(r => Row(r.get(2), r.get(0), r.get(1)))
    assert(Digest.of(Seq("k", "s", "x"), rows) == Digest.of(Seq("x", "k", "s"), swapped))
  }

  test("values, nulls and duplicate rows all change the digest") {
    val cols = Seq("k", "s", "x")
    val base = Digest.of(cols, rows)
    assert(Digest.of(cols, rows.updated(0, Row(1L, "a", 0.6))) != base)
    assert(Digest.of(cols, rows.updated(1, Row(2L, "b", 0.0))) != base)
    assert(Digest.of(cols, rows :+ rows.head) != base)
    assert(Digest.of(cols, rows).startsWith("3:"))
  }

  test("floating values compare at 6 decimals and integral values match their double") {
    assert(Digest.of(Seq("x"), Seq(Row(0.1 + 0.2))) == Digest.of(Seq("x"), Seq(Row(0.3))))
    assert(Digest.of(Seq("x"), Seq(Row(2L))) == Digest.of(Seq("x"), Seq(Row(2.0))))
    assert(Digest.of(Seq("x"), Seq(Row(0.3))) != Digest.of(Seq("x"), Seq(Row(0.300001))))
  }
}
