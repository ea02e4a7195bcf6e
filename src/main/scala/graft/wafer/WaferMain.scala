package graft.wafer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end pipeline entry point — the reference's `python main.py`
  * (main.py:14-151): ingest → diagnostics → 4-stage preprocess → CSV
  * export → summary + contingency reports. A reference user's
  * `main()` maps 1:1 onto this.
  */
object WaferMain {
  def main(args: Array[String]): Unit = {
    val inputPath = args.headOption.getOrElse("dataset.csv")
    val outputDir = args.lift(1).getOrElse("processed_data")
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("wafer-defect-pipeline")
      .config("spark.sql.shuffle.partitions", graft.GraftSession.cpus().toLong)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    run(spark, inputPath, outputDir)
  }

  def run(spark: SparkSession, inputPath: String, outputDir: String): DataFrame = {
    val raw = WaferPipeline.loadCsv(spark, inputPath)

    // input diagnostics (main.py:43-54)
    val before = WaferPipeline.summary(raw)
    println(s"input: ${before.rows} rows x ${raw.columns.length} cols, " +
      s"${before.nullCells} missing cells")
    println(s"defects: REAL=${before.realDefects} FALSE=${before.falseDefects}; " +
      s"classes=${before.classes.mkString(",")}")

    val processed = WaferPipeline.preprocess(raw).cache()
    WaferPipeline.validateSchema(processed, WaferSchema.inputSchema)
    WaferPipeline.writeCsv(processed, outputDir)

    // output report (main.py:114-151)
    val after = WaferPipeline.summary(processed)
    val removed = before.rows - after.rows
    println(f"outlier removal: ${before.rows} -> ${after.rows} rows " +
      f"(${100.0 * removed / before.rows}%.2f%% removed)")
    println(s"final columns: ${processed.columns.length}")
    println(s"cluster distribution: ${after.clusterDist.toSeq.sortBy(_._1.getOrElse(-1)).mkString(", ")}")
    println(s"killer defects: ${after.killerCount} / ${after.rows}")
    // step x cluster contingency (main.py:140-151, D4 pivot)
    processed
      .filter(col("KMeans_Cluster").isNotNull)
      .groupBy("Step_desc").pivot("KMeans_Cluster", Seq(0, 1)).count()
      .na.fill(0L).orderBy("Step_desc")
      .show(truncate = false)
    processed
  }
}
