package graft

import org.apache.spark.sql.functions._

/** `Num.davgLocal` must equal Spark's
  * `CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE) / COUNT(x)` on the raw
  * bits, on the same values, and hand back (None) exactly the inputs the
  * cast cannot represent.
  */
class NumSpec extends SparkSpec {
  import spark.implicits._

  private val bits = java.lang.Double.doubleToRawLongBits _

  /** Spark's mean of each named set of values, by one grouped aggregate. */
  private def sparkMeans(sets: Seq[(String, Array[Double])]): Map[String, Double] =
    sets.flatMap { case (name, xs) => xs.map(name -> _) }.toDF("set", "x")
      .repartition(3)
      .groupBy("set").agg((Num.dsum(col("x")) / count(col("x"))).as("m"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

  private def assertReplays(sets: Seq[(String, Array[Double])]): Unit = {
    val want = sparkMeans(sets)
    for ((name, xs) <- sets) {
      val got = Num.davgLocal(xs)
      assert(got.isDefined, name)
      assert(bits(got.get) === bits(want(name)), s"$name: replay ${got.get} vs Spark ${want(name)}")
    }
  }

  test("the replay equals Spark's decimal mean bit for bit") {
    val rnd = new scala.util.Random(20261020)
    // log-uniform magnitudes from 1e-7 to 1e12, both signs
    def value(): Double = {
      val v = math.pow(10, -7 + 19 * rnd.nextDouble())
      if (rnd.nextBoolean()) v else -v
    }
    val random = (1 to 24).map(i => s"random$i" -> Array.fill(1 + rnd.nextInt(200))(value()))
    val positive = (1 to 4).map(i => s"positive$i" ->
      Array.fill(50)(math.pow(10, -7 + 19 * rnd.nextDouble())))
    val negative = positive.map { case (n, xs) => s"neg-$n" -> xs.map(-_) }
    val squares = (1 to 6).map { i =>
      s"squares$i" -> Array.fill(100)(value() / 1e4).map(x => x * x)
    }
    val edge = Seq(1e9 - 0.5, math.nextDown(1e9), 1e9, math.nextUp(1e9), 1e9 + 0.5,
      999999999.9999995, 1000000000.0000005)
    assertReplays(random ++ positive ++ negative ++ squares ++ Seq(
      "zeros" -> Array(0.0, -0.0),
      "negZero" -> Array(-0.0),
      "tieSmall" -> Array(0.0000005),
      "tieNeg" -> Array(-2.5e-7),
      "tieMid" -> Array(1.2345675),
      "ties" -> Array(0.0000005, -2.5e-7, 1.2345675, 2.5e-7, -0.0000005, -1.2345675, 0.5e-6),
      "fastEdge" -> edge.toArray,
      "fastEdgeNeg" -> edge.map(-_).toArray,
      "nearDecimalMax" -> Array(math.nextDown(1e22), -math.nextDown(1e22), 1.0)))
  }

  test("a sum past Long range in millionths still replays exactly") {
    // each term is on the fast path (< 1e9), their millionths overflow a Long
    val big = Array.tabulate(10000)(i => 999999999.5 - i * 1e-3)
    assert(big.map(x => math.round(x * 1e6).toDouble).sum > Long.MaxValue.toDouble)
    assertReplays(Seq("overflow" -> big, "overflowNeg" -> big.map(-_),
      "overflowMixed" -> (big ++ Array(-1.5, 2.25))))
  }

  test("values the decimal cast cannot hold are left to the aggregate") {
    for (bad <- Seq(Double.PositiveInfinity, Double.NegativeInfinity, Double.NaN,
        1e22, -1e22, 1e300))
      assert(Num.davgLocal(Array(1.0, bad, 2.0)).isEmpty, s"$bad")
  }
}
