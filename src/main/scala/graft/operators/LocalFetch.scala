package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.InternalRow

/** A bounded fetch for the driver-local tiers: one job that sizes a frame
  * exactly and, when it fits under `limit` rows, brings it to the driver.
  *
  * Each task counts all of its rows and copies at most
  * ⌊limit / numPartitions⌋ of them; a task over that share ships none.
  * The job therefore never ships more than `limit` rows, and the driver
  * learns the exact total either way. When the total fits but a skewed
  * task went over its share, one plain collect follows; it too ships at
  * most `limit` rows. A tier decision that needs the row count and then
  * the rows pays one job instead of a count job plus a collect.
  */
object LocalFetch {

  /** (exact row count of `df`, its rows when that count is ≤ `limit`).
    * The rows come in partition order, as `collect()` returns them.
    */
  def apply(df: DataFrame, limit: Long): (Long, Option[Array[Row]]) = {
    val parts = boundedPass(df, limit)
    val total = parts.iterator.map(_._1).sum
    val rows =
      if (total > limit) None
      else if (parts.exists(_._2 == null)) Some(df.collect())
      else {
        val toRow = CatalystTypeConverters.createToScalaConverter(df.schema)
        Some(parts.flatMap(_._2).map(r => toRow(r).asInstanceOf[Row]))
      }
    (total, rows)
  }

  /** The one job: per partition, its row count and, when that count is
    * within the per-task share, its rows (else null).
    */
  private[operators] def boundedPass(df: DataFrame, limit: Long): Array[(Long, Array[InternalRow])] = {
    val rdd = df.queryExecution.toRdd
    val share = if (rdd.getNumPartitions == 0) 0L else math.max(0L, limit) / rdd.getNumPartitions
    df.sparkSession.sparkContext.runJob(rdd, (it: Iterator[InternalRow]) => {
      val buf = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
      var n = 0L
      while (it.hasNext) {
        val r = it.next()
        // the scan reuses its row object: keep a copy
        if (n < share) buf += r.copy()
        n += 1
      }
      (n, if (n <= share) buf.toArray else null)
    })
  }
}
