package graft.wafer

import graft.SparkSpec

class WaferMainSpec extends SparkSpec {
  test("WaferMain.run: the reference main() end-to-end (ingest→pipeline→export→report)") {
    val inDir = java.nio.file.Files.createTempDirectory("graft_main_in")
    val outDir = java.nio.file.Files.createTempDirectory("graft_main_out")
    try {
      val in = inDir.toString
      val out = outDir.toString + "/processed"
      WaferPipeline.writeCsv(WaferFixture.df(spark), in)
      val processed = WaferMain.run(spark, in, out)
      assert(processed.columns.length === 31)
      assert(processed.count() > 0)
      val files = new java.io.File(out).listFiles.map(_.getName)
      assert(files.exists(_.endsWith(".csv")), files.mkString(","))
      val back = spark.read.option("header", "true").csv(out)
      assert(back.count() === processed.count())
      assert(back.columns.length === 31)
    } finally Seq(inDir, outDir).foreach(d => org.apache.commons.io.FileUtils.deleteQuietly(d.toFile))
  }
}
