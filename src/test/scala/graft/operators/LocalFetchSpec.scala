package graft.operators

import org.apache.spark.graft.JobCounter
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructType}

import graft.SparkSpec

/** `LocalFetch` sizes a frame exactly in one job, returns its rows when
  * they fit under the limit, and never ships more than the limit.
  */
class LocalFetchSpec extends SparkSpec {
  import spark.implicits._

  /** `n` rows as (id, label, value) over `parts` partitions; `skewed`
    * puts every row into the last partition.
    */
  private def frame(n: Int, parts: Int, skewed: Boolean = false): DataFrame = {
    val rows = (0 until n).map(i => Row(i.toLong, s"r$i", if (i % 5 == 0) null else i * 0.5))
    val rdd =
      if (!skewed) spark.sparkContext.parallelize(rows, parts)
      else spark.sparkContext.parallelize(0 until parts, parts)
        .flatMap(p => if (p == parts - 1) rows else Nil)
    spark.createDataFrame(rdd, new StructType()
      .add("id", LongType).add("label", StringType).add("v", DoubleType))
  }

  private def check(df: DataFrame, limit: Long, expectRows: Boolean): Unit = {
    val want = df.collect()
    val first = LocalFetch.boundedPass(df, limit)
    assert(first.map(_._1).sum === want.length, "the first job counts every row")
    val shipped = first.iterator.filter(_._2 != null).map(_._2.length.toLong).sum
    assert(shipped <= math.max(0L, limit), s"the first job shipped $shipped rows over limit $limit")
    val (n, rows) = LocalFetch(df, limit)
    assert(n === want.length)
    assert(rows.isDefined === expectRows, s"rows returned at n=$n, limit=$limit")
    rows.foreach(r => assert(r.toSeq === want.toSeq))
  }

  test("an empty frame: count 0 and no rows to return") {
    check(frame(0, 3), 10, expectRows = true)
    check(spark.emptyDataFrame, 10, expectRows = true)
    check(frame(0, 3), 0, expectRows = true)
  }

  test("limit 0 ships nothing and still counts") {
    check(frame(7, 3), 0, expectRows = false)
  }

  test("more partitions than the limit: the counts come back, the rows by a collect") {
    val df = frame(4, 8)
    assert(df.rdd.getNumPartitions === 8)
    check(df, 5, expectRows = true)
    check(df, 3, expectRows = false)
  }

  test("exactly limit rows come back; limit + 1 rows do not") {
    check(frame(12, 4), 12, expectRows = true)
    check(frame(13, 4), 12, expectRows = false)
    check(frame(100, 4), 100, expectRows = true)
    check(frame(101, 4), 100, expectRows = false)
  }

  test("all rows in one of many partitions: the skew fallback returns the exact rows") {
    val df = frame(20, 4, skewed = true)
    assert(df.rdd.glom().map(_.length).collect().toSeq === Seq(0, 0, 0, 20))
    check(df, 20, expectRows = true)
    check(df, 19, expectRows = false)
  }

  test("a balanced frame under the limit is one job") {
    val df = Seq.tabulate(40)(i => (i, i * 2.0)).toDF("a", "b").repartition(4).cache()
    try {
      df.count()
      val ((n, rows), jobs) = JobCounter(spark.sparkContext)(LocalFetch(df, 1000))
      assert(n === 40 && rows.map(_.length).contains(40))
      assert(jobs === 1, s"$jobs jobs")
      assert(rows.get.map(r => (r.getInt(0), r.getDouble(1))).toSet ===
        (0 until 40).map(i => (i, i * 2.0)).toSet)
    } finally df.unpersist()
  }
}
