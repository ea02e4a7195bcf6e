package graft.wafer

import org.apache.spark.graft.JobCounter
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

class WaferPipelineSpec extends SparkSpec {
  lazy val fixture = WaferFixture.df(spark).cache()

  private def deleteTree(p: java.nio.file.Path): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(p.toFile)

  /** In-test reference implementation of the pandas semantics
    * (preprocessing.py:69-113): per-class sequential upper-IQR filter
    * with linear-interpolation quantiles, <2-non-null and IQR==0 skips,
    * NaN rows dropped in filtered groups, null-class rows dropped.
    */
  private def referenceOutlierFilter(
      rows: Seq[Row], classIdx: Int, colIdxs: Seq[Int]): Seq[Row] = {
    def quantile(sorted: IndexedSeq[Double], p: Double): Double = {
      val pos = (sorted.size - 1) * p
      val lo = pos.toInt
      val frac = pos - lo
      if (lo + 1 < sorted.size) sorted(lo) + (sorted(lo + 1) - sorted(lo)) * frac
      else sorted(lo)
    }
    rows.filter(!_.isNullAt(classIdx)).groupBy(_.getString(classIdx)).flatMap {
      case (_, groupRows) =>
        var cur = groupRows
        for (ci <- colIdxs) {
          val vals = cur.filter(!_.isNullAt(ci)).map(_.getDouble(ci)).sorted.toIndexedSeq
          if (vals.size >= 2) {
            val q1 = quantile(vals, 0.25)
            val q3 = quantile(vals, 0.75)
            if (q3 - q1 != 0.0) {
              val ub = q3 + 1.5 * (q3 - q1)
              cur = cur.filter(r => !r.isNullAt(ci) && r.getDouble(ci) <= ub)
            }
          }
        }
        cur
    }.toSeq
  }

  test("outlier removal matches pandas-semantics reference on the fixture") {
    val got = WaferPipeline.removeOutliersByClass(fixture)
    val schema = fixture.schema
    val classIdx = schema.fieldIndex("Class")
    val colIdxs = WaferSchema.sizeCols.map(schema.fieldIndex)
    val want = referenceOutlierFilter(fixture.collect().toSeq, classIdx, colIdxs)
    val lotIdx = schema.fieldIndex("LOT_ID")
    assert(got.select(fixture.columns.map(col): _*).collect().map(_.getString(lotIdx)).toSet
      === want.map(_.getString(lotIdx)).toSet)
    // sanity on the planted structure:
    val byClass = got.groupBy("Class").count().collect()
      .map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(!byClass.contains(None), "null-Class rows must be dropped")
    assert(byClass(Some("B")) === 30, "IQR==0 col skipped, SIZE_Y outliers removed")
    assert(byClass(Some("C")) === 11, "<2 non-null group passes through")
  }

  test("upper bound only: minimum values survive") {
    val got = WaferPipeline.removeOutliersByClass(fixture)
    val minIn = fixture.filter(col("Class") === "A").agg(min("SIZE_X")).head.getDouble(0)
    val minOut = got.filter(col("Class") === "A").agg(min("SIZE_X")).head.getDouble(0)
    assert(minIn === minOut)
  }

  test("engineered features: formulas, inf asymmetry, null propagation") {
    import spark.implicits._
    val df = Seq(
      // (MDAT_OFFSET, MDAT_GL, INTENSITY, PATCHNOISE, SIZE_X, SIZE_Y, DEFECT_AREA)
      (5.0, 1.0, 10.0, 4.0, 9.0, 3.0, 2.0),          // plain ratios
      (5.0, -1e-6, 10.0, 4.0, 9.0, -1e-6, 2.0),      // exact-zero denominators
      (Double.NaN, 1.0, 10.0, 4.0, 9.0, 3.0, 2.0)    // NaN input propagates (pandas NaN)
    ).toDF("MDAT_OFFSET", "MDAT_GL", "INTENSITY", "PATCHNOISE", "SIZE_X", "SIZE_Y", "DEFECT_AREA")
    val out = WaferPipeline.addEngineeredFeatures(df).collect()
    val r0 = out(0)
    assert(math.abs(r0.getDouble(7) - 5.0 / (1.0 + 1e-6)) < 1e-12)  // SNR_OFFSET_GL
    assert(math.abs(r0.getDouble(9) - 9.0 / (3.0 + 1e-6)) < 1e-12)  // ASPECT_RATIO
    val r1 = out(1)
    assert(r1.getDouble(7).isPosInfinity, "F1 keeps +inf (reference asymmetry)")
    assert(r1.isNullAt(9), "F3 scrubs inf to null")
    val r2 = out(2)
    assert(r2.getDouble(7).isNaN, "NaN numerator propagates through F1 like pandas")
  }

  test("kmeans: labels exactly for REAL+analysed-step+complete-feature rows; k=2; blobs split") {
    val labeled = WaferPipeline.runKMeansByStep(fixture).cache()
    val withCluster = labeled.filter(col("KMeans_Cluster").isNotNull)
    // eligibility: REAL, step in defaults, no null features
    val eligible = fixture
      .filter(col("IS_DEFECT") === "REAL" &&
        col("Step_desc").isin(WaferSchema.defaultSteps: _*))
      .na.drop("any", WaferSchema.clusterFeatures)
    assert(withCluster.count() === eligible.count())
    assert(labeled.filter(col("IS_DEFECT") === "FALSE" && col("KMeans_Cluster").isNotNull).count() === 0)
    assert(labeled.filter(col("Step_desc") === "OTHER" && col("KMeans_Cluster").isNotNull).count() === 0)
    // structural correctness per step: 2 non-empty clusters that exactly
    // separate the two planted blobs (ENERGY_PARAM sign marks the blob)
    for (step <- WaferSchema.defaultSteps) {
      val sub = withCluster.filter(col("Step_desc") === step)
        .select(col("KMeans_Cluster"), (col("ENERGY_PARAM") > 0).as("blob"))
        .collect().map(r => (r.getInt(0), r.getBoolean(1)))
      assert(sub.map(_._1).distinct.sorted.toSeq === Seq(0, 1), s"step $step: two clusters")
      val pure = sub.groupBy(_._1).values.forall(g => g.map(_._2).distinct.size === 1)
      assert(pure, s"step $step: clusters align with planted blobs")
    }
    // determinism: same seed → same assignment
    val again = WaferPipeline.runKMeansByStep(fixture)
      .filter(col("KMeans_Cluster").isNotNull)
      .groupBy("Step_desc", "KMeans_Cluster").count()
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    val first = withCluster.groupBy("Step_desc", "KMeans_Cluster").count()
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    assert(again === first)
    // sequential-fits mode (the Bench measurement knob) is result-
    // identical: each per-step fit is independent and seed-pinned, so
    // ordering them cannot change any assignment
    spark.conf.set("spark.graft.wafer.concurrentFits", "false")
    val seq = try {
      WaferPipeline.runKMeansByStep(fixture)
        .filter(col("KMeans_Cluster").isNotNull)
        .groupBy("Step_desc", "KMeans_Cluster").count()
        .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    } finally spark.conf.unset("spark.graft.wafer.concurrentFits")
    assert(seq === first)
  }

  test("kmeans structural contract holds on the FORCED-DISTRIBUTED MLlib path too") {
    // the default path at fixture size is the driver-side Lloyd's
    // dispatch; localLimit=0 forces the distributed MLlib fit — both
    // must satisfy the same structural contract (§5.3): eligibility,
    // two non-empty clusters, exact blob separation, determinism
    spark.conf.set("spark.graft.wafer.kmeansLocalLimit", "0")
    try {
      val labeled = WaferPipeline.runKMeansByStep(fixture)
        .filter(col("KMeans_Cluster").isNotNull).cache()
      val eligible = fixture
        .filter(col("IS_DEFECT") === "REAL" &&
          col("Step_desc").isin(WaferSchema.defaultSteps: _*))
        .na.drop("any", WaferSchema.clusterFeatures)
      assert(labeled.count() === eligible.count())
      for (step <- WaferSchema.defaultSteps) {
        val sub = labeled.filter(col("Step_desc") === step)
          .select(col("KMeans_Cluster"), (col("ENERGY_PARAM") > 0).as("blob"))
          .collect().map(r => (r.getInt(0), r.getBoolean(1)))
        assert(sub.map(_._1).distinct.sorted.toSeq === Seq(0, 1), s"step $step")
        val pure = sub.groupBy(_._1).values.forall(g => g.map(_._2).distinct.size === 1)
        assert(pure, s"step $step: clusters align with planted blobs")
      }
      labeled.unpersist()
    } finally spark.conf.unset("spark.graft.wafer.kmeansLocalLimit")
  }

  test("kmeans characterization: cluster and killer counts on a CSV round trip are pinned") {
    // WaferDataGen written and re-read as the benchmark does, so row ids
    // come from a file scan's partitioning; the local Lloyd's seeds its
    // init by row id, so a changed id or z-score moves these counts
    val dir = java.nio.file.Files.createTempDirectory("graft_kmeans_pin")
    try {
      val in = dir.resolve("in").toString
      WaferDataGen.generate(spark, 20000L, 42L).write.option("header", "true").csv(in)
      val out = WaferPipeline.preprocess(WaferPipeline.loadCsv(spark, in)).cache()
      val counts = out.filter(col("KMeans_Cluster").isNotNull)
        .groupBy("Step_desc", "KMeans_Cluster").count().collect()
        .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
      val killers = out.filter(col("is_killer_defect")).count()
      out.unpersist()
      // pinned from the per-step-probe implementation this path replaced
      assert(counts === Map(("PC", 0) -> 585L, ("PC", 1) -> 590L, ("RMG", 0) -> 551L,
        ("RMG", 1) -> 567L, ("CBCMP", 0) -> 608L, ("CBCMP", 1) -> 565L))
      assert(killers === 1765L)
    } finally deleteTree(dir)
  }

  test("kmeans characterization: the MLlib tier's counts on a CSV round trip are pinned") {
    // the same input as the local-tier pin, with kmeansLocalLimit=0 so
    // every step takes the distributed MLlib fit; its random init samples
    // the fit input in order, so a reordered or re-scaled input moves these
    val dir = java.nio.file.Files.createTempDirectory("graft_kmeans_mllib_pin")
    spark.conf.set("spark.graft.wafer.kmeansLocalLimit", "0")
    try {
      val in = dir.resolve("in").toString
      WaferDataGen.generate(spark, 20000L, 42L).write.option("header", "true").csv(in)
      val out = WaferPipeline.preprocess(WaferPipeline.loadCsv(spark, in)).cache()
      val counts = out.filter(col("KMeans_Cluster").isNotNull)
        .groupBy("Step_desc", "KMeans_Cluster").count().collect()
        .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
      val killers = out.filter(col("is_killer_defect")).count()
      out.unpersist()
      // pinned from the row-id join write-back this projection replaced
      assert(counts === Map(("PC", 0) -> 590L, ("PC", 1) -> 585L, ("RMG", 0) -> 551L,
        ("RMG", 1) -> 567L, ("CBCMP", 0) -> 608L, ("CBCMP", 1) -> 565L))
      assert(killers === 1760L)
    } finally {
      spark.conf.unset("spark.graft.wafer.kmeansLocalLimit")
      deleteTree(dir)
    }
  }

  test("kmeans: the local tier runs at most two jobs") {
    def jobs(): Int = JobCounter(spark.sparkContext)(WaferPipeline.runKMeansByStep(fixture))._2
    jobs() // warm-up: fills the fixture cache
    val n = jobs()
    assert(n <= 2, s"runKMeansByStep ran $n jobs")
  }

  test("kmeans: a limit under the fit set but over every step gives the replay's labels") {
    // past the limit the moments come from the Spark aggregate and each
    // step is still local; under it they are replayed on the driver, so
    // equal labels mean the replay's z-scores equal the aggregate's
    val dir = java.nio.file.Files.createTempDirectory("graft_kmeans_mixed")
    try {
      val in = dir.resolve("in").toString
      WaferDataGen.generate(spark, 20000L, 42L).write.option("header", "true").csv(in)
      val input = WaferPipeline.addEngineeredFeatures(
        WaferPipeline.removeOutliersByClass(WaferPipeline.loadCsv(spark, in))).cache()
      val fit = input.filter(col("IS_DEFECT") === "REAL" &&
          col("Step_desc").isin(WaferSchema.defaultSteps: _*))
        .na.drop("any", WaferSchema.clusterFeatures)
      val total = fit.count()
      val largest = fit.groupBy("Step_desc").count().agg(max("count")).head.getLong(0)
      assert(largest < total)
      def run(): (Seq[String], Int) = {
        val (out, jobs) = JobCounter(spark.sparkContext)(WaferPipeline.runKMeansByStep(input))
        (out.collect().map(_.toString).sorted.toSeq, jobs)
      }
      val (replayed, replayJobs) = run()
      spark.conf.set("spark.graft.wafer.kmeansLocalLimit", largest.toString)
      val (aggregated, aggregateJobs) = try run()
        finally spark.conf.unset("spark.graft.wafer.kmeansLocalLimit")
      assert(aggregateJobs > replayJobs, s"aggregate path $aggregateJobs jobs, replay $replayJobs")
      assert(replayed.count(_.endsWith(",null]")) < replayed.size)
      assert(aggregated === replayed)
      input.unpersist()
    } finally deleteTree(dir)
  }

  test("kmeans: the local path's job count does not grow with the number of steps") {
    def jobs(steps: Seq[String]): Int =
      JobCounter(spark.sparkContext)(WaferPipeline.runKMeansByStep(fixture, steps))._2
    jobs(Seq("PC")) // warm-up: fills the fixture cache
    val one = jobs(Seq("PC"))
    val three = jobs(WaferSchema.defaultSteps)
    assert(one === three, s"one step: $one jobs, three steps: $three jobs")
  }

  test("killer labeling follows the (step, cluster) mapping; boolean non-null") {
    val labeled = WaferPipeline.labelKillerDefects(
      WaferPipeline.runKMeansByStep(fixture)).cache()
    assert(labeled.filter(col("is_killer_defect").isNull).count() === 0)
    val bad = labeled.filter(col("is_killer_defect") &&
      !(col("IS_DEFECT") === "REAL" &&
        ((col("Step_desc") === "PC") && (col("KMeans_Cluster") === 1) ||
          (col("Step_desc") === "RMG") && (col("KMeans_Cluster") === 1) ||
          (col("Step_desc") === "CBCMP") && (col("KMeans_Cluster") === 0))))
    assert(bad.count() === 0)
    // and some killers exist (each step has both clusters populated)
    assert(labeled.filter(col("is_killer_defect")).count() > 0)
  }

  test("composer toggles skip stages; full pipeline yields 31 columns") {
    val full = WaferPipeline.preprocess(fixture)
    assert(full.columns.length === 31)
    val noml = WaferPipeline.preprocess(fixture, runClustering = false, labelKiller = false)
    assert(!noml.columns.contains("KMeans_Cluster"))
    assert(noml.columns.length === 29)
    val nothing = WaferPipeline.preprocess(fixture,
      removeOutliers = false, addFeatures = false, runClustering = false, labelKiller = false)
    assert(nothing.columns.toSeq === fixture.columns.toSeq)
  }

  test("summary aggregates report the pipeline's numbers") {
    val out = WaferPipeline.preprocess(fixture).cache()
    val s = WaferPipeline.summary(out)
    assert(s.rows === out.count())
    assert(s.classes === Seq("A", "B", "C"))
    assert(s.killerCount === out.filter(col("is_killer_defect")).count())
    assert(s.clusterDist.values.sum === s.rows)
  }

  /** The summary as four separate actions — its definition before the
    * aggregates were fused into one grouped job.
    */
  private def referenceSummary(df: DataFrame): WaferPipeline.Summary = {
    val cols = df.columns
    val nullCountCols = cols.map(c => sum(when(col(c).isNull, 1L).otherwise(0L)))
      .reduce(_ + _).as("nulls")
    val base = df.agg(
      count(lit(1)).as("rows"),
      nullCountCols,
      count(when(col("IS_DEFECT") === "REAL", 1)).as("real"),
      count(when(col("IS_DEFECT") === "FALSE", 1)).as("false")).head()
    val classes = df.filter(col("Class").isNotNull)
      .select("Class").distinct().orderBy("Class")
      .collect().map(_.getString(0)).toSeq
    val clusterDist =
      if (cols.contains("KMeans_Cluster"))
        df.groupBy("KMeans_Cluster").count().collect()
          .map(r => (if (r.isNullAt(0)) None else Some(r.getInt(0))) -> r.getLong(1))
          .toMap
      else Map.empty[Option[Int], Long]
    val killer =
      if (cols.contains("is_killer_defect"))
        df.filter(col("is_killer_defect")).count()
      else 0L
    WaferPipeline.Summary(base.getLong(0), base.getLong(1), base.getLong(2), base.getLong(3),
      classes, clusterDist, killer)
  }

  test("summary: the one-job aggregate equals the four-action reference") {
    val processed = WaferPipeline.preprocess(fixture)
    // null Class / IS_DEFECT / cluster rows, and classes whose Java
    // (UTF-16) order differs from Spark's binary UTF-8 order
    val extra = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row.fromSeq(processed.schema.map(_ => null)),
      Row.fromSeq(processed.schema.map(f => f.name match {
        case "Class" => "\uFF21"; case "IS_DEFECT" => "REAL"; case "KMeans_Cluster" => 1
        case "is_killer_defect" => true; case _ => null })),
      Row.fromSeq(processed.schema.map(f => f.name match {
        case "Class" => "\uD83D\uDE00"; case "IS_DEFECT" => null; case "KMeans_Cluster" => null
        case "is_killer_defect" => false; case "SIZE_X" => 1.0; case _ => null }))), 2),
      StructType(processed.schema.map(_.copy(nullable = true))))
    val withNulls = processed.unionByName(extra).cache()
    try {
      // the raw input has neither KMeans_Cluster nor is_killer_defect
      for (df <- Seq(withNulls, fixture)) {
        val want = referenceSummary(df)
        assert(WaferPipeline.summary(df) === want)
      }
      assert(WaferPipeline.summary(withNulls).classes.takeRight(2) === Seq("\uFF21", "\uD83D\uDE00"))
      assert(WaferPipeline.summary(withNulls).clusterDist.contains(None))
      assert(WaferPipeline.summary(fixture).clusterDist.isEmpty)
      val (_, jobs) = JobCounter(spark.sparkContext)(WaferPipeline.summary(withNulls))
      assert(jobs <= 2, s"summary ran $jobs jobs")
    } finally withNulls.unpersist()
  }

  test("loadCsv fails fast on missing path and on empty input (data_loader.py:42-48)") {
    intercept[org.apache.spark.sql.AnalysisException] {
      WaferPipeline.loadCsv(spark, "/tmp/graft_no_such_dir_12345")
    }
    val emptyDir = java.nio.file.Files.createTempDirectory("graft_empty_csv")
    try {
      java.nio.file.Files.writeString(
        emptyDir.resolve("part-0.csv"),
        WaferSchema.inputSchema.fieldNames.mkString(",") + "\n") // header only
      intercept[IllegalArgumentException] {
        WaferPipeline.loadCsv(spark, emptyDir.toString)
      }
    } finally deleteTree(emptyDir)
  }

  test("loadCsv reads its files once: the pipeline runs after the input is deleted") {
    val root = java.nio.file.Files.createTempDirectory("graft_load_once")
    try {
      val in = root.resolve("in")
      WaferDataGen.generate(spark, 3000L, 7L).write.option("header", "true").csv(in.toString)
      def run(deleteInput: Boolean, out: String): (Long, Long) = {
        val raw = WaferPipeline.loadCsv(spark, in.toString)
        if (deleteInput) deleteTree(in)
        val done = WaferPipeline.preprocess(raw)
        WaferPipeline.writeCsv(done, out)
        val s = WaferPipeline.summary(done)
        (s.rows, s.killerCount)
      }
      val kept = run(deleteInput = false, root.resolve("kept").toString)
      val deleted = run(deleteInput = true, root.resolve("deleted").toString)
      assert(!java.nio.file.Files.exists(in))
      assert(kept._1 > 0 && kept._2 > 0, s"$kept")
      assert(deleted === kept)
    } finally deleteTree(root)
  }

  test("schema validator flags missing and mismatched columns") {
    import spark.implicits._
    WaferPipeline.validateSchema(fixture, WaferSchema.inputSchema) // passes
    val wrong = Seq(("a", 1)).toDF("Class", "SIZE_X") // SIZE_X int, not double
    intercept[IllegalArgumentException] {
      WaferPipeline.validateSchema(wrong, WaferSchema.inputSchema)
    }
  }

  test("csv round trip preserves rows (A1/A5)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_wafer_csv")
    try {
      WaferPipeline.writeCsv(
        fixture.select(WaferSchema.inputSchema.fieldNames.map(col): _*), dir.toString)
      val back = WaferPipeline.loadCsv(spark, dir.toString)
      assert(back.count() === fixture.count())
      assert(back.schema === WaferSchema.inputSchema)
    } finally deleteTree(dir)
  }

  test("writeCsv: one part file with the bytes of a coalesce(1) write; no staging left") {
    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("s", StringType), StructField("d", DoubleType)))
    val rows = Seq(
      Row(1, "plain", 1.5), Row(2, null, null), Row(3, "a,b", Double.PositiveInfinity),
      Row(4, "say \"hi\", twice", Double.NegativeInfinity), Row(5, "line1\nline2", Double.NaN),
      Row(null, "", -0.0), Row(7, "tail", 1e-300))
    // 7 rows over 9 slices: partition 0 and others are empty
    val multi = spark.createDataFrame(spark.sparkContext.parallelize(rows, 9), schema)
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    def entries(dir: java.nio.file.Path): Seq[java.io.File] =
      Option(dir.toFile.listFiles).map(_.toSeq).getOrElse(Nil)
    def csvBytes(dir: java.nio.file.Path): Array[Byte] = java.nio.file.Files.readAllBytes(
      entries(dir).filter(_.getName.endsWith(".csv")).head.toPath)
    val root = java.nio.file.Files.createTempDirectory("graft_write_csv")
    try {
      for ((name, df) <- Seq("multi" -> multi, "empty" -> empty)) {
        val out = root.resolve(name)
        val ref = root.resolve(s"$name-ref")
        WaferPipeline.writeCsv(df, out.toString)
        df.coalesce(1).write.option("header", "true").csv(ref.toString)
        val visible = entries(out).map(_.getName).filterNot(_.startsWith("."))
        assert(visible.count(_.endsWith(".csv")) === 1 && visible.size === 2 &&
          visible.contains("_SUCCESS"), s"$name: ${visible.mkString(",")}")
        assert(entries(out).forall(_.isFile), s"$name: a directory remains in the output")
        assert(new String(csvBytes(out), "UTF-8") === new String(csvBytes(ref), "UTF-8"), name)
        assert(java.util.Arrays.equals(csvBytes(out), csvBytes(ref)), name)
      }
      assert(multi.rdd.getNumPartitions === 9)
      // a write whose tasks fail leaves the previous output as it was
      val failing = multi.withColumn("s",
        when(col("id") === 5, raise_error(lit("boom"))).otherwise(col("s")))
      val before = csvBytes(root.resolve("multi"))
      intercept[Exception](WaferPipeline.writeCsv(failing, root.resolve("multi").toString))
      assert(java.util.Arrays.equals(csvBytes(root.resolve("multi")), before))
      // and no staging directory remains, after success or failure
      assert(entries(root).map(_.getName).sorted ===
        Seq("empty", "empty-ref", "multi", "multi-ref"))
    } finally deleteTree(root)
  }
}
