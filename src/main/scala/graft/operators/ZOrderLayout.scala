package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, LongType, StringType, StructType}

/** Z-order vs linear layout scoring (the OPTIMIZE ZORDER decision:
  * which key layout gives min/max file skipping the smallest per-slab
  * bounding boxes). Both layouts bin the rows into 64 slabs by 63
  * boundaries over their key (Morton z, or the linear k = a·1024 + b)
  * and score Σ slab bounding-box area.
  *
  *  - [[scoreExact]] (q318, the oracle truth): exact percentile
  *    boundaries.
  *  - [[scoreSketch]] (q344): boundaries from one mergeable
  *    `approx_percentile` pass over the keyed stream, plus the
  *    slab-population contract.
  *  - [[score]]: exact at or below `spark.graft.layout.exactLimit` rows
  *    (default 10M), sketch above.
  *
  * Invariants shared by every entry: the (a, b, z, k) histogram is
  * bounded at 2²⁰ rows by the mod-1024 key construction whatever the
  * data size; it is collected once (one `groupBy` count) and both
  * layouts' boundaries, slab assignment and areas are folded on the
  * driver from it. A cell's slab is #{j : b_j < key}, the key promoted
  * to double — the `EquiDepthBins.searchCountExpr(strict = true)`
  * semantics, which ZOrderLayoutSpec pins the fold against. The result
  * is a 2-row local frame.
  */
object ZOrderLayout {
  /** Morton interleave of two 10-bit ints as a pure integer expression
    * string (bit i of a → bit 2i, bit i of b → bit 2i+1), expanded at
    * plan time — codegen-able arithmetic, no UDF.
    */
  def morton10(a: String, b: String): String =
    (0 until 10).map(i =>
      s"(((($a) >> $i) & 1) << ${2 * i}) + (((($b) >> $i) & 1) << ${2 * i + 1})")
      .mkString(" + ")

  private val qs63 = (1 to 63).map(i => i / 64.0).mkString(", ")

  /** (a, b, z, k) keyed frame from two integer key expressions mod 1024.
    * `pmod`, not `%`: Spark's `%` is sign-preserving, and a negative
    * a/b would sign-extend through morton10's shifts and alias k cells
    * (a=1,b=-1 collides with a=0,b=1023) — pmod pins a,b ∈ [0,1024) for
    * ANY integer key expression, keeping (a,b) ↔ z ↔ k bijective.
    *
    * Not checkpointed: [[scoreExact]] reads the keyed stream once,
    * straight into the histogram aggregate; the entries that read it
    * twice ([[scoreSketch]], [[score]]) checkpoint it themselves.
    */
  def keyed(df: DataFrame, aExpr: String, bExpr: String): DataFrame =
    df.select(expr(s"pmod($aExpr, 1024)").as("a"), expr(s"pmod($bExpr, 1024)").as("b"))
      .withColumn("z", expr(morton10("a", "b")))
      .withColumn("k", col("a") * 1024 + col("b"))

  /** The (a, b, z, k) cell counts on the driver, column-major: one
    * `groupBy` count, ≤ 2²⁰ rows by the mod-1024 key construction.
    */
  private final class Hist(
      val a: Array[Long], val b: Array[Long],
      val z: Array[Long], val k: Array[Long], val c: Array[Long])

  private def histogram(keyed: DataFrame, caller: String): Hist = {
    val rows = keyed.groupBy("a", "b", "z", "k").agg(count(lit(1))).collect()
    require(rows.nonEmpty, s"ZOrderLayout.$caller: empty keyed frame — nothing to score")
    def long(i: Int): Array[Long] = rows.map(_.getAs[Number](i).longValue())
    new Hist(long(0), long(1), long(2), long(3), long(4))
  }

  /** Slab of `key` among `bs`: the balanced binary search of
    * `EquiDepthBins.searchCountExpr(strict = true)`, step for step, so
    * #{j : b_j < key} for sorted boundaries.
    */
  private[graft] def slabOf(key: Double, bs: Array[Double]): Int = {
    var lo = 0
    var hi = bs.length
    while (lo < hi) {
      val mid = (lo + hi) / 2
      if (key <= bs(mid)) hi = mid else lo = mid + 1
    }
    lo
  }

  /** One layout over the histogram → (Σ bounding-box area over the
    * non-empty slabs, each slab's row count). Area per slab is
    * (max a − min a + 1)·(max b − min b + 1); Σ c recovers the raw
    * per-slab row count exactly.
    */
  private def slabFold(h: Hist, key: Array[Long], bs: Array[Double]): (Long, Array[Long]) = {
    val m = bs.length + 1
    val minA = Array.fill(m)(Long.MaxValue)
    val maxA = Array.fill(m)(Long.MinValue)
    val minB = Array.fill(m)(Long.MaxValue)
    val maxB = Array.fill(m)(Long.MinValue)
    val pop = new Array[Long](m)
    var i = 0
    while (i < key.length) {
      val s = slabOf(key(i).toDouble, bs)
      minA(s) = math.min(minA(s), h.a(i)); maxA(s) = math.max(maxA(s), h.a(i))
      minB(s) = math.min(minB(s), h.b(i)); maxB(s) = math.max(maxB(s), h.b(i))
      pop(s) += h.c(i)
      i += 1
    }
    val area = (0 until m).iterator.filter(pop(_) > 0)
      .map(s => (maxA(s) - minA(s) + 1) * (maxB(s) - minB(s) + 1)).sum
    (area, pop)
  }

  private val exactSchema = new StructType()
    .add("layout", StringType, nullable = false)
    .add("sum_area", LongType)
    .add("zorder_wins", BooleanType)

  private val sketchSchema = new StructType()
    .add("layout", StringType, nullable = false)
    .add("n_rows", LongType, nullable = false)
    .add("slabs_ok", BooleanType)
    .add("sum_area", LongType)
    .add("zorder_wins", BooleanType)

  private def localFrame(keyed: DataFrame, schema: StructType, rows: Row*): DataFrame =
    keyed.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** Exact interpolated percentiles from a (value, frequency) histogram —
    * a bit-identical driver-side replay of Spark's `Percentile` aggregate
    * (sql/catalyst percentiles.scala: position = p·(n−1), floor/ceil rank
    * lookup over accumulated counts, (higher−position)·lowerKey +
    * (position−lower)·higherKey) followed by Spark's `round(x, 6)` double
    * semantics (BigDecimal.valueOf — the decimal-string round). Same
    * IEEE operations in the same order ⇒ the same doubles the previous
    * in-engine `transform(percentile(...), round(q, 6))` produced;
    * ZOrderLayoutSpec pins the equality against the live aggregate on
    * skewed weighted data.
    */
  private[graft] def histPercentiles(
      pairs: Array[(Long, Long)], ps: Array[Double]): Array[Double] = {
    val sorted = pairs.sortBy(_._1)
    val cum = new Array[Long](sorted.length)
    var acc = 0L
    var i = 0
    while (i < sorted.length) { acc += sorted(i)._2; cum(i) = acc; i += 1 }
    val n = acc
    ps.map { p =>
      val position = p * (n - 1)
      val lower = math.floor(position).toLong
      val higher = math.ceil(position).toLong
      def idxOf(rank1: Long): Int = { // first index with cum >= rank1
        var lo = 0; var hi = sorted.length - 1
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (cum(mid) < rank1) lo = mid + 1 else hi = mid
        }
        lo
      }
      val loIdx = idxOf(lower + 1)
      val lowerKey = sorted(loIdx)._1.toDouble
      val v =
        if (lower == higher) lowerKey
        else {
          val hiIdx = idxOf(higher + 1)
          if (hiIdx == loIdx) lowerKey
          else {
            val higherKey = sorted(hiIdx)._1.toDouble
            (higher - position) * lowerKey + (position - lower) * higherKey
          }
        }
      java.math.BigDecimal.valueOf(v)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    }
  }

  private val ps63: Array[Double] = (1 to 63).map(i => i / 64.0).toArray

  /** Exact-boundary scoring → (layout, sum_area, zorder_wins), zorder
    * row first. Boundaries are a bit-identical driver replay of Spark's
    * `percentile` + `round(x, 6)` over the collected histogram
    * ([[histPercentiles]]); the keyed stream is read once, by the
    * histogram aggregate.
    */
  def scoreExact(keyed: DataFrame): DataFrame = {
    val h = histogram(keyed, "scoreExact")
    def area(key: Array[Long]): Long =
      slabFold(h, key, histPercentiles(key.zip(h.c), ps63))._1
    val (za, la) = (area(h.z), area(h.k))
    localFrame(keyed, exactSchema,
      Row("zorder", za, za < la), Row("linear", la, za < la))
  }

  /** Sketch-boundary scoring → (layout, n_rows, slabs_ok, sum_area,
    * zorder_wins), zorder row first. One mergeable approx_percentile
    * agg over the keyed stream fits both layouts' boundaries (integer
    * input ⇒ actual data values); the slab folds and the
    * slab-population contract run on the collected histogram. The
    * contract: all 64 slabs non-empty, each holding n/64 ± (n/500 + 8)
    * rows — the count catches empty slabs from degenerate duplicate
    * boundaries.
    */
  def scoreSketch(keyed: DataFrame): DataFrame = sketchOn(keyed.localCheckpoint())

  /** [[scoreSketch]] body over an already-pinned keyed frame — split out
    * so [[score]]'s dispatch can reuse ITS checkpoint without paying a
    * second materialization. Reads the keyed frame twice: the boundary
    * agg and the histogram.
    */
  private def sketchOn(keyed: DataFrame): DataFrame = {
    val row = keyed.agg(
      expr(s"approx_percentile(z, array($qs63), 10000)").as("zb"),
      expr(s"approx_percentile(k, array($qs63), 10000)").as("kb"),
      count(lit(1)).as("n")).head()
    val n = row.getLong(2)
    require(n > 0, "ZOrderLayout.scoreSketch: empty keyed frame — nothing to score")
    val slack = n / 500 + 8
    val h = histogram(keyed, "scoreSketch")
    def fold(key: Array[Long], i: Int): (Long, Boolean) = {
      val (area, pop) = slabFold(h, key, row.getSeq[Number](i).map(_.doubleValue()).toArray)
      val live = pop.filter(_ > 0)
      (area, live.length == 64 &&
        live.forall(p => p >= n / 64 - slack && p <= n / 64 + slack))
    }
    val ((za, zOk), (la, lOk)) = (fold(h.z, 0), fold(h.k, 1))
    localFrame(keyed, sketchSchema,
      Row("zorder", n, zOk, za, za < la), Row("linear", n, lOk, la, za < la))
  }

  /** Scale-dispatched scoring → (layout, sum_area, zorder_wins, mode)
    * ordered by layout. Row count at or below
    * `spark.graft.layout.exactLimit` (default 10M) takes the exact
    * oracle-truth path; above it, the mergeable-sketch path.
    */
  def score(keyed: DataFrame, exactLimit: Long = -1L): DataFrame = {
    val limit =
      if (exactLimit >= 0) exactLimit
      else keyed.sparkSession.conf
        .get("spark.graft.layout.exactLimit", "10000000").toLong
    // the dispatch count plus either branch reads the stream at least
    // twice — pin it once here
    val kc = keyed.localCheckpoint()
    val out =
      if (kc.count() <= limit) scoreExact(kc).withColumn("mode", lit("exact"))
      else sketchOn(kc)
        .select(col("layout"), col("sum_area"), col("zorder_wins"))
        .withColumn("mode", lit("sketch"))
    out.orderBy("layout")
  }
}
