package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.TopKPerKey

/** Dev measurement: TopKPerKeyExec vs the window row_number rewrite on
  * the same per-key top-k task (orders: top-3 per priority). Run on the
  * harness dir and, if present, the ScaleCheck 10× staging dir:
  *   runMain graft.tools.TopKCompare [sfDir] [sfDir10x]
  * Wall-clock parity locally is expected on small inputs — the exec's
  * structural win is memory (k rows/key vs a full sort buffer) — but at
  * 10× the sort cost starts to show in the window path.
  */
object TopKCompare {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.local()

    def orders(dir: String) = spark.read.parquet(s"$dir/orders.parquet")
      .select("o_orderpriority", "o_orderkey", "o_totalprice")
    def viaExec(df: DataFrame) = TopKPerKey(
      df, Seq("o_orderpriority"), Seq("o_totalprice" -> false, "o_orderkey" -> true), 3)
    def viaWindow(df: DataFrame) = df
      .withColumn("rn", row_number().over(
        Window.partitionBy("o_orderpriority")
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)))
      .filter(col("rn") <= 3).drop("rn")
    def time(f: => DataFrame): Double = {
      val t0 = System.nanoTime()
      f.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    val dirs = sfDir +: args.drop(1).toSeq
    dirs.foreach { dir =>
      val df = orders(dir)
      // sanity: identical result sets
      val a = viaExec(df).collect().map(_.toString).sorted
      val b = viaWindow(df).collect().map(_.toString).sorted
      require(a.sameElements(b), s"results differ on $dir")
      time(viaExec(df)); time(viaWindow(df)) // warm
      val te = (1 to 3).map(_ => time(viaExec(df))).min
      val tw = (1 to 3).map(_ => time(viaWindow(df))).min
      println(f"[topk] $dir%-40s exec=$te%6.3f s  window=$tw%6.3f s  window/exec=${tw / te}%4.2f")
    }
    spark.stop()
  }
}
