package graft

import org.apache.spark.graft.JobCounter
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, LongType, StringType}

import graft.operators.{EquiDepthBins, ZOrderLayout}

/** The layout scorer: the driver slab fold equals the Catalyst CASE-tree
  * fold it replaced, both dispatch branches give the same verdict, and
  * the sketch slab contract holds on harness data.
  */
class ZOrderLayoutSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"
  private def keyedFrame =
    ZOrderLayout.keyed(Tables(spark, dir, "lineitem"), "l_partkey", "l_suppkey")

  /** Skewed keys: a third of the rows share one (a, b) cell and a fifth
    * of the rest another, so several percentile boundaries land exactly
    * on a key value.
    */
  private def skewedKeyed: DataFrame = ZOrderLayout.keyed(
    spark.range(0, 6000).selectExpr(
      "CASE WHEN id % 3 = 0 THEN 5 ELSE (id * id) % 1500 END AS p",
      "CASE WHEN id % 5 = 0 THEN 9 ELSE (id * 7) % 300 - 40 END AS q"),
    "p", "q")

  private val ps63 = (1 to 63).map(_ / 64.0).toArray

  /** The in-engine scorer: exact boundaries from the collected
    * histogram, then each layout's slabs assigned by the
    * `searchCountExpr(strict = true)` CASE tree and folded by Catalyst.
    * Returns the rows and the z layout's boundaries.
    */
  private def catalystScoreExact(keyed: DataFrame): (Seq[Row], Seq[Double]) = {
    val hist = keyed.groupBy("a", "b", "z", "k").agg(count(lit(1)).as("__c")).cache()
    try {
      val cells = hist.select("z", "k", "__c").collect()
      def bounds(i: Int) = ZOrderLayout.histPercentiles(
        cells.map(r => (r.getAs[Number](i).longValue(), r.getLong(2))), ps63)
      def area(keyCol: String, bs: Array[Double]): Long = hist
        .select(col("a"), col("b"),
          expr(EquiDepthBins.searchCountExpr(keyCol, bs.map(b => s"${b}D").toSeq, strict = true))
            .as("slab"))
        .groupBy("slab")
        .agg(((max("a") - min("a") + 1) * (max("b") - min("b") + 1)).as("area"))
        .agg(sum("area")).head().getLong(0)
      val (zbs, kbs) = (bounds(0), bounds(1))
      val (za, la) = (area("z", zbs), area("k", kbs))
      (Seq(Row("zorder", za, za < la), Row("linear", la, za < la)), zbs.toSeq)
    } finally hist.unpersist()
  }

  test("slabOf is the searchCountExpr(strict = true) CASE tree, ties included") {
    import spark.implicits._
    val bs = Array(3.0, 3.0, 7.0, 7.0, 7.0, 12.5, 40.0)
    val keys = (-1L to 45L).toSeq
    val live = keys.toDF("x")
      .select(col("x"),
        expr(EquiDepthBins.searchCountExpr("x", bs.map(b => s"${b}D").toSeq, strict = true)))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    keys.foreach(x => assert(ZOrderLayout.slabOf(x.toDouble, bs) === live(x), s"key $x"))
    assert(ZOrderLayout.slabOf(7.0, bs) === 2)
  }

  test("scoreExact's driver fold equals the Catalyst CASE-tree fold on skewed keys") {
    val skewed = skewedKeyed
    val zs = skewed.select("z").distinct().collect().map(_.getAs[Number](0).doubleValue()).toSet
    Seq(skewed, keyedFrame).foreach { k =>
      val (want, zbs) = catalystScoreExact(k)
      val got = ZOrderLayout.scoreExact(k)
      assert(got.schema.map(f => f.name -> f.dataType) ===
        Seq("layout" -> StringType, "sum_area" -> LongType, "zorder_wins" -> BooleanType))
      assert(got.collect().toSeq === want)
      if (k eq skewed) assert(zbs.exists(zs.contains), "no z key equals a boundary")
    }
  }

  test("building scoreExact launches at most two jobs") {
    val k = keyedFrame
    val (out, jobs) = JobCounter(spark.sparkContext)(ZOrderLayout.scoreExact(k))
    assert(jobs <= 2, s"$jobs jobs")
    assert(out.count() === 2)
  }

  test("the sketch contract fails on skewed keys: one cell outweighs a slab") {
    val rows = ZOrderLayout.scoreSketch(skewedKeyed).collect()
    assert(rows.length === 2)
    assert(rows.forall(r => !r.getAs[Boolean]("slabs_ok")), rows.mkString(";"))
    assert(rows.forall(_.getAs[Long]("n_rows") == 6000L))
  }

  test("score: exact branch at-or-below the limit, sketch above; same verdict") {
    val k = keyedFrame
    val exact = ZOrderLayout.score(k, exactLimit = Long.MaxValue).collect()
    assert(exact.length === 2)
    assert(exact.forall(_.getAs[String]("mode") == "exact"), exact.mkString(";"))
    val sketch = ZOrderLayout.score(k, exactLimit = 0L).collect()
    assert(sketch.length === 2)
    assert(sketch.forall(_.getAs[String]("mode") == "sketch"), sketch.mkString(";"))
    // the layout DECISION must not depend on the branch taken
    val eWins = exact.map(r =>
      r.getAs[String]("layout") -> r.getAs[Boolean]("zorder_wins")).toMap
    val sWins = sketch.map(r =>
      r.getAs[String]("layout") -> r.getAs[Boolean]("zorder_wins")).toMap
    assert(eWins === sWins)
  }

  test("score: the default limit comes from spark.graft.layout.exactLimit") {
    val k = keyedFrame
    spark.conf.set("spark.graft.layout.exactLimit", "0")
    try assert(ZOrderLayout.score(k).collect()
      .forall(_.getAs[String]("mode") == "sketch"))
    finally spark.conf.unset("spark.graft.layout.exactLimit")
    // unset → 10M default → harness row count takes the exact branch
    assert(ZOrderLayout.score(k).collect()
      .forall(_.getAs[String]("mode") == "exact"))
  }

  test("sketch slab-population contract holds across ALL 64 slabs") {
    val rows = ZOrderLayout.scoreSketch(keyedFrame).collect()
    assert(rows.length === 2)
    assert(rows.forall(_.getAs[Boolean]("slabs_ok")), rows.mkString(";"))
  }

  test("histPercentiles replays Spark's percentile+round bit-for-bit") {
    // skewed deterministic (value, freq) histogram: values cluster via
    // a quadratic residue walk, frequencies power-law-ish — exercises
    // tie ranks, interpolated ranks, and exact-hit ranks (lower==higher)
    import org.apache.spark.sql.functions._
    val pairs = (0 until 500).map { i =>
      val v = (i.toLong * i * 2654435761L) % 4096L
      val c = 1L + (i.toLong * 40503L) % 97L
      (v, c)
    }.toArray
    // duplicate values must merge identically on both sides
    val ps = (1 to 63).map(_ / 64.0) ++ Seq(0.0, 1.0, 0.5)
    val psArr = ps.mkString(", ")
    import spark.implicits._
    val live = pairs.toSeq.toDF("v", "c")
      .agg(expr(s"transform(percentile(v, array($psArr), c), q -> round(q, 6))"))
      .head().getSeq[Double](0)
    val merged = pairs.groupBy(_._1).map { case (v, g) => (v, g.map(_._2).sum) }.toArray
    val replay = ZOrderLayout.histPercentiles(merged, ps.toArray)
    assert(live.toSeq === replay.toSeq)
    // single-row histogram: every percentile is the value itself
    assert(ZOrderLayout.histPercentiles(Array((7L, 3L)), Array(0.0, 0.33, 1.0))
      .toSeq === Seq(7.0, 7.0, 7.0))
  }

  test("histPercentiles property: random histograms match the live agg") {
    // 8 seeded-random histograms (sizes 1..200, freq 1..1000, values
    // with forced ties) checked against percentile(v, ps, c) in ONE
    // grouped pass — the PropertySpecs seeded-loop discipline.
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(4242)
    val cases = (0 until 8).map { cid =>
      val sz = 1 + rnd.nextInt(200)
      cid -> Array.fill(sz)(
        (rnd.nextInt(50).toLong * 7L, 1L + rnd.nextInt(1000).toLong))
    }
    val ps = Seq(0.0, 0.125, 1.0 / 3, 0.5, 0.75, 63.0 / 64, 1.0)
    val psArr = ps.mkString(", ")
    import spark.implicits._
    val live = cases.flatMap { case (cid, pairs) =>
      pairs.map(p => (cid, p._1, p._2))
    }.toDF("cid", "v", "c")
      .groupBy("cid")
      .agg(expr(s"transform(percentile(v, array($psArr), c), q -> round(q, 6))")
        .as("qs"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    cases.foreach { case (cid, pairs) =>
      val merged = pairs.groupBy(_._1).map { case (v, g) => (v, g.map(_._2).sum) }.toArray
      val replay = ZOrderLayout.histPercentiles(merged, ps.toArray)
      assert(live(cid).toSeq === replay.toSeq, s"case $cid diverged")
    }
  }

  test("scoreExact fails with a named error on an empty keyed frame") {
    val empty = keyedFrame.filter(org.apache.spark.sql.functions.lit(false))
    val e = intercept[IllegalArgumentException](ZOrderLayout.scoreExact(empty))
    assert(e.getMessage.contains("empty keyed frame"))
  }
}
