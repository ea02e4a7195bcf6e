package graft.operators

import org.apache.spark.graft.JobCounter
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The IQR small-input dispatch contract: the driver-side sequential
  * bounds replay must be BIT-IDENTICAL to the distributed per-pass
  * percentile plan — same survivors on every input, including the
  * adversarial shapes (null values, null keys, <2-count groups, IQR==0
  * groups, duplicate values, groups fully eliminated mid-sequence).
  */
class IqrDispatchSpec extends SparkSpec {
  import spark.implicits._

  /** Join-count fingerprint: the dispatch plan carries ONE bounds join
    * regardless of the number of value columns; the distributed plan
    * carries one per pass.
    */
  private def joinCount(df: DataFrame): Int =
    "BroadcastHashJoin|BroadcastNestedLoopJoin".r
      .findAllIn(df.queryExecution.executedPlan.toString).length

  private def withConfs[A](kvs: (String, String)*)(body: => A): A = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  private def withLimit[A](limit: String)(body: => A): A =
    withConfs("spark.graft.iqr.localLimit" -> limit)(body)

  private def canon(rows: Array[Row]): Seq[Seq[Any]] =
    rows.toSeq
      .map(_.toSeq.map {
        case d: java.lang.Double => java.lang.Double.doubleToLongBits(d)
        case x                   => x
      })
      .sortBy(_.toString())

  private def randomFrame(seed: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val groups = Seq("a", "b", "c", "tiny", "const", null)
    val rows = (0 until 400).map { i =>
      val g = groups(rnd.nextInt(groups.length))
      def v(): java.lang.Double = rnd.nextInt(10) match {
        case 0          => null // nulls in both value columns
        case 1          => Double.box(5.0) // heavy duplicate mass (interp ties)
        case 2          => Double.box(rnd.nextInt(4).toDouble) // small int grid
        case 3 if i % 7 == 0 => Double.box(1e9 * rnd.nextDouble()) // outliers
        case _          => Double.box(math.rint(rnd.nextDouble() * 1000) / 10)
      }
      val (c1, c2) =
        if (g == "tiny") (if (i % 2 == 0) Double.box(1.0) else null, v()) // <2 non-null
        else if (g == "const") (Double.box(7.0), v()) // IQR == 0 pass 1
        else (v(), v())
      (g, c1, c2)
    }
    rows.toDF("g", "c1", "c2")
  }

  test("dispatch equals forced-distributed bit-for-bit on adversarial random frames") {
    for (seed <- 1 to 6) {
      val df = randomFrame(seed)
      val local = withLimit("1000000")(
        IqrOutlierFilter(df, Seq("g"), Seq("c1", "c2")))
      val dist = withLimit("0")(
        IqrOutlierFilter(df, Seq("g"), Seq("c1", "c2")))
      assert(joinCount(local) === 1, s"seed $seed: dispatch is one combined join")
      assert(joinCount(dist) === 2, s"seed $seed: distributed is one join per pass")
      assert(canon(local.collect()) === canon(dist.collect()), s"seed $seed")
    }
  }

  test("kept null keys: both paths agree with dropNullKeys=false") {
    val df = randomFrame(7)
    val local = withLimit("1000000")(
      IqrOutlierFilter(df, Seq("g"), Seq("c1", "c2"), dropNullKeys = false))
    val dist = withLimit("0")(
      IqrOutlierFilter(df, Seq("g"), Seq("c1", "c2"), dropNullKeys = false))
    assert(local.filter(col("g").isNull).count() > 0, "null-key group survives")
    assert(canon(local.collect()) === canon(dist.collect()))
  }

  test("empty groupCols: global bounds agree across paths") {
    val df = randomFrame(8)
    val local = withLimit("1000000")(
      IqrOutlierFilter(df, Seq.empty, Seq("c1", "c2")))
    val dist = withLimit("0")(
      IqrOutlierFilter(df, Seq.empty, Seq("c1", "c2")))
    assert(canon(local.collect()) === canon(dist.collect()))
  }

  test("a group eliminated at pass 1 contributes nothing to pass 2 bounds") {
    // g1's single huge c1 row dies at pass 1 → g1 absent from pass-2
    // grouping; its c2=0.0 must NOT drag pass-2 bounds for anyone.
    val df = Seq(
      ("g1", 1.0, 10.0), ("g1", 1.0, 10.0), ("g1", 1.0, 10.0), ("g1", 2.0, 10.0),
      ("g1", 1000.0, 10.0),
      ("g2", 1.0, 1.0), ("g2", 2.0, 2.0), ("g2", 3.0, 3.0), ("g2", 4.0, 400.0)
    ).toDF("g", "c1", "c2")
    val local = withLimit("1000000")(
      IqrOutlierFilter(df, Seq("g"), Seq("c1", "c2")))
    val dist = withLimit("0")(
      IqrOutlierFilter(df, Seq("g"), Seq("c1", "c2")))
    assert(canon(local.collect()) === canon(dist.collect()))
    assert(local.filter(col("c1") === 1000.0).count() === 0)
  }

  test("building the local tier on a balanced input launches one job") {
    val df = randomFrame(16).repartition(4).cache()
    try {
      df.count()
      val (out, jobs) = JobCounter(spark.sparkContext)(
        withLimit("100000")(IqrOutlierFilter(df, Seq("g"), Seq("c1", "c2"))))
      assert(jobs === 1, s"$jobs jobs")
      assert(joinCount(out) === 1, "the driver replay ran")
    } finally df.unpersist()
  }

  test("over-limit probe falls through to the distributed plan") {
    val df = randomFrame(9)
    val out = withLimit("10")(IqrOutlierFilter(df, Seq("g"), Seq("c1", "c2")))
    assert(joinCount(out) === 2, "per-pass joins → distributed path ran")
    val dist = withLimit("0")(IqrOutlierFilter(df, Seq("g"), Seq("c1", "c2")))
    assert(canon(out.collect()) === canon(dist.collect()))
  }

  test("localLimit at or above Int.MaxValue-1 routes distributed (probe must fit an Int)") {
    val df = randomFrame(10)
    val out = withLimit(Int.MaxValue.toString)(
      IqrOutlierFilter(df, Seq("g"), Seq("c1")))
    assert(joinCount(out) === 1) // one pass → one join either way…
    val out2 = withLimit(Int.MaxValue.toString)(
      IqrOutlierFilter(df, Seq("g"), Seq("c1", "c2")))
    assert(joinCount(out2) === 2, "…two passes betray the distributed path")
  }

  /** Forces a distributed exact-bounds strategy: a 1-row localLimit
    * takes the probe count and routes past the driver replay, then a
    * 1-row bufferedBoundsLimit picks the sort strategy and 0 the
    * buffered aggregate.
    */
  private def withStrategy[A](sort: Boolean)(body: => A): A =
    withConfs(
      "spark.graft.iqr.localLimit" -> "1",
      "spark.graft.iqr.bufferedBoundsLimit" -> (if (sort) "1" else "0"))(body)

  test("sort-strategy bounds are bit-identical to the buffered percentile aggregate") {
    // Forced distributed (withStrategy), A/B on the exact-bounds
    // strategy: order-statistics-over-rank vs value-buffering
    // percentile. Same order stats + same interpolation arithmetic ⇒
    // the survivor sets must match bit-for-bit on every adversarial
    // shape (incl. zero-non-null groups, which must still emit a
    // bounds row or the inner join would silently drop them).
    for (seed <- 11 to 14) {
      val df = randomFrame(seed)
      val sorted = withStrategy(sort = true)(
        IqrOutlierFilter(df, Seq("g"), Seq("c1", "c2")))
      val buffered = withStrategy(sort = false)(
        IqrOutlierFilter(df, Seq("g"), Seq("c1", "c2")))
      assert(canon(sorted.collect()) === canon(buffered.collect()), s"seed $seed")
    }
    // kept null keys + empty groupCols through the sort strategy
    val df = randomFrame(15)
    assert(
      canon(withStrategy(sort = true)(
        IqrOutlierFilter(df, Seq("g"), Seq("c1", "c2"), dropNullKeys = false)).collect()) ===
      canon(withStrategy(sort = false)(
        IqrOutlierFilter(df, Seq("g"), Seq("c1", "c2"), dropNullKeys = false)).collect()))
    assert(
      canon(withStrategy(sort = true)(
        IqrOutlierFilter(df, Seq.empty, Seq("c1"))).collect()) ===
      canon(withStrategy(sort = false)(
        IqrOutlierFilter(df, Seq.empty, Seq("c1"))).collect()))
  }

  test("a group whose values are all null emits a bounds row on the sort path") {
    val df = Seq(
      ("gnull", None: Option[Double], Some(1.0)),
      ("gnull", None, Some(2.0)),
      ("g", Some(1.0), Some(1.0)), ("g", Some(2.0), Some(2.0)),
      ("g", Some(3.0), Some(3.0)), ("g", Some(100.0), Some(4.0))
    ).toDF("g", "c1", "c2")
    val out = withStrategy(sort = true)(
      IqrOutlierFilter(df, Seq("g"), Seq("c1", "c2")))
    // gnull has cnt=0 on c1 → skipped (rows kept, nulls included);
    // g filters its c1 outlier
    assert(out.filter(col("g") === "gnull").count() === 2)
    assert(out.filter(col("c1") === 100.0).count() === 0)
  }

  test("exactPercentile replays Spark's percentile bit-for-bit") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 8) {
      val n = 1 + rnd.nextInt(50)
      val vals = Array.fill(n)(rnd.nextInt(6) match {
        case 0 => 5.0
        case 1 => rnd.nextInt(3).toDouble
        case _ => rnd.nextDouble() * 100
      })
      val expected = vals.toSeq.toDF("v")
        .agg(expr("percentile(v, array(0.25D, 0.5D, 0.75D, 0.9D))"))
        .head().getSeq[Double](0)
      val sorted = vals.clone(); java.util.Arrays.sort(sorted)
      val got = Seq(0.25, 0.5, 0.75, 0.9).map(IqrOutlierFilter.exactPercentile(sorted, _))
      assert(
        got.map(java.lang.Double.doubleToLongBits) ===
          expected.map(java.lang.Double.doubleToLongBits), s"trial $trial")
    }
  }
}
