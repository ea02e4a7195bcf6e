package graft.wafer

import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.IOUtils
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.csv.{CSVOptions, UnivocityGenerator}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.Num
import graft.operators.IqrOutlierFilter

/** The wafer-defect pipeline, Spark-first: lazy DataFrame→DataFrame
  * stages replacing the reference's eager pandas copies
  * (/root/reference/main.py:14-132, src/preprocessing.py:46-283).
  *
  * Reference-shape mapping (SURVEY.md §2):
  *   - loadCsv            ← A1-A4 DataLoader (+ the schema validation the
  *                          reference README promises but never ships)
  *   - removeOutliersByClass ← G7 per-Class sequential IQR
  *   - addEngineeredFeatures ← F1-F4 (inf-scrub asymmetry preserved)
  *   - runKMeansByStep    ← G1-G4 per-step scale+cluster+write-back
  *   - labelKillerDefects ← G5/F8 rule labeler
  *   - preprocess         ← G6 togglable composer
  *   - summary            ← I console report aggregates (D4-D10)
  *
  * Scale: stages compose lazily into one Catalyst plan; callers should
  * cache() the post-outlier frame when running the full pipeline (the
  * one reused intermediate). The eager work inside the stages is:
  *   - the outlier stage's per-group quantile bounds (tiny collects);
  *   - runKMeansByStep: the row-id frame (`withId`) cached for the call,
  *     one per-step moments aggregate, the fit (one z-vector collect for
  *     the driver-local steps, cached MLlib fits past the limit, each
  *     label frame `localCheckpoint`ed) and a `localCheckpoint` of the
  *     labelled result, after which `withId` is released;
  *   - summary and writeCsv, which are actions by definition.
  */
object WaferPipeline {

  /** CSV ingest with the declared 25-column schema (A1). Fails fast on
    * missing path (AnalysisException) and empty input, mirroring
    * data_loader.py:42-48.
    */
  def loadCsv(spark: SparkSession, path: String, encoding: String = "UTF-8"): DataFrame = {
    val df = spark.read
      .option("header", "true")
      .option("encoding", encoding)
      .schema(WaferSchema.inputSchema)
      .csv(path)
    if (df.isEmpty) throw new IllegalArgumentException(s"empty dataset: $path")
    df
  }

  /** Assert a frame still carries the expected columns+types — the
    * per-stage "Schema Validator" (README.md:60).
    */
  def validateSchema(df: DataFrame, expected: StructType): DataFrame = {
    val got = df.schema.map(f => f.name -> f.dataType).toMap
    val missing = expected.filterNot(f => got.get(f.name).contains(f.dataType))
    require(missing.isEmpty,
      s"schema validation failed; missing/mismatched: ${missing.map(_.name).mkString(",")}")
    df
  }

  /** G7: per-Class sequential upper-IQR outlier removal over the three
    * size columns. Null-Class rows are dropped (pandas groupby
    * semantics, preprocessing.py:93 — documented reference behavior).
    */
  def removeOutliersByClass(
      df: DataFrame,
      iqrMultiplier: Double = 1.5,
      exact: Boolean = true): DataFrame =
    IqrOutlierFilter(df, Seq("Class"), WaferSchema.sizeCols, k = iqrMultiplier,
      exact = exact)

  /** IEEE division semantics matching pandas: x/0 → ±inf (or NaN for
    * 0/0), null propagates. Spark ANSI mode would throw on /0, and
    * non-ANSI returns null — neither matches, so branch explicitly.
    * The 0-denominator branch is only reached when the epsilon-shifted
    * denominator is exactly 0 (input == -1e-6).
    */
  private def ieeeDiv(num: Column, den: Column): Column =
    // null-first: a null DENOMINATOR must propagate null (pandas
    // x/NaN = NaN = missing) — the bare `den =!= 0.0` guard evaluates
    // null on it and would fall into the zero-denominator branch,
    // fabricating ±Infinity for a missing input
    when(num.isNull || den.isNull, lit(null))
      .when(den =!= 0.0, num / den)
      .otherwise(
        when(num > 0.0, lit(Double.PositiveInfinity))
          .when(num < 0.0, lit(Double.NegativeInfinity))
          .otherwise(lit(Double.NaN))) // num == 0.0

  /** ±inf/NaN → null scrub (F3/F4's post-division cleanup,
    * preprocessing.py:145,149 — pandas replaces ±inf with NaN; our
    * missing marker is null).
    */
  private def scrub(c: Column): Column =
    when(isnan(c) || c === Double.PositiveInfinity || c === Double.NegativeInfinity, lit(null))
      .otherwise(c)

  /** F1-F4: four engineered ratio features (preprocessing.py:115-151).
    * F1/F2 intentionally keep ±inf; F3/F4 scrub to null — asymmetry is
    * reference behavior (SURVEY.md §2 F).
    */
  def addEngineeredFeatures(df: DataFrame): DataFrame = df
    .withColumn("SNR_OFFSET_GL",
      ieeeDiv(col("MDAT_OFFSET"), col("MDAT_GL") + lit(1e-6)))
    .withColumn("SNR_INTENSITY_NOISE",
      ieeeDiv(col("INTENSITY"), col("PATCHNOISE") + lit(1e-6)))
    .withColumn("ASPECT_RATIO",
      scrub(ieeeDiv(col("SIZE_X"), col("SIZE_Y") + lit(1e-6))))
    .withColumn("DENSITY_SIGNAL",
      scrub(ieeeDiv(col("INTENSITY"), col("DEFECT_AREA") + lit(1e-6))))

  /** Driver-side seeded Lloyd's over collected z-vectors — the
    * small-subset fit path of [[runKMeansByStep]]. Deterministic and
    * partition-invariant: rows are iterated in row-id order (float sums
    * see one fixed order), initial centers are the first k DISTINCT
    * vectors under a seed-mixed hash ranking of row ids, nearest-center
    * ties break to the lower cluster index, and an emptied cluster
    * keeps its previous center (standard Lloyd's). ≤ 20 iterations or
    * assignment fixpoint, matching the MLlib defaults it replaces.
    * Returns (row id, cluster) pairs in row-id order.
    */
  private def localKMeansLabels(
      rows: Array[(Long, Array[Double])], k: Int, seed: Long): Array[(Long, Int)] = {
    val sorted = rows.sortBy(_._1)
    val n = sorted.length
    val dim = sorted(0)._2.length
    def mix(id: Long): Long = {
      var x = id + seed * -7046029254386353131L
      x = (x ^ (x >>> 30)) * -4658895280553007687L
      x = (x ^ (x >>> 27)) * -7723592293110705685L
      x ^ (x >>> 31)
    }
    val ranked = sorted.sortBy(r => (mix(r._1), r._1))
    val init = scala.collection.mutable.ArrayBuffer[Array[Double]]()
    var ri = 0
    while (init.length < k && ri < n) {
      val v = ranked(ri)._2
      if (!init.exists(_.sameElements(v))) init += v.clone()
      ri += 1
    }
    while (init.length < k) init += init.head.clone() // < k distinct points
    val centers = init.toArray
    val assign = Array.fill(n)(-1)
    var changed = true
    var iter = 0
    while (changed && iter < 20) {
      changed = false
      var i = 0
      while (i < n) {
        var best = 0
        var bestD = Double.MaxValue
        var c = 0
        while (c < k) {
          var d = 0.0
          var j = 0
          while (j < dim) {
            val t = sorted(i)._2(j) - centers(c)(j); d += t * t; j += 1
          }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        if (assign(i) != best) { changed = true; assign(i) = best }
        i += 1
      }
      val sums = Array.fill(k, dim)(0.0)
      val cnts = Array.fill(k)(0L)
      var i2 = 0
      while (i2 < n) {
        val c = assign(i2); cnts(c) += 1
        var j = 0
        while (j < dim) { sums(c)(j) += sorted(i2)._2(j); j += 1 }
        i2 += 1
      }
      var c2 = 0
      while (c2 < k) {
        if (cnts(c2) > 0) {
          var j = 0
          while (j < dim) { centers(c2)(j) = sums(c2)(j) / cnts(c2); j += 1 }
        }
        c2 += 1
      }
      iter += 1
    }
    sorted.indices.map(i => (sorted(i)._1, assign(i))).toArray
  }

  /** G1-G4: per-step K-Means over z-scored features, labels joined back
    * by row id (the Spark replacement for pandas index write-back,
    * preprocessing.py:153-208).
    *
    * Parity decisions (SURVEY.md §7.4):
    *   - z-score is computed with population std (ddof=0) from exact
    *     decimal moments — sklearn StandardScaler parity, deterministic
    *     across shuffle orders; constant features scale by 1 like
    *     sklearn;
    *   - MLlib KMeans(seed) replaces sklearn's n_init=10 restarts;
    *     cluster ids are arbitrary in both — correctness is structural
    *     (§5.3), not id-equal;
    *   - per-step subsets at or under
    *     `spark.graft.wafer.kmeansLocalLimit` (default 500k rows; 0
    *     disables) fit via a driver-side seeded Lloyd's over the
    *     collected z-vectors ([[localKMeansLabels]]); the distributed
    *     MLlib path is the shape past the limit.
    *
    * Job structure: one grouped aggregate yields every step's row count
    * and moments, and the count picks the fit, so there is no probe job.
    * All driver-local steps share one z-vector collect and are fitted
    * in a plain loop; the local path's job count does not grow with the
    * number of steps. Each MLlib step is its own cached fit. One left
    * join by row id plus a `localCheckpoint` writes the labels back.
    */
  def runKMeansByStep(
      df: DataFrame,
      steps: Seq[String] = WaferSchema.defaultSteps,
      k: Int = 2,
      seed: Long = 42L,
      features: Seq[String] = WaferSchema.clusterFeatures): DataFrame = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val spark = df.sparkSession
    import spark.implicits._
    // the local Lloyd's seeds its init by row id, so the ids must come
    // from this frame's own partitioning; cached because the moments,
    // the fits and the write-back all read it
    val withId = df.withColumn("__row_id", monotonically_increasing_id()).cache()
    val subset = withId
      .filter(col("IS_DEFECT") === "REAL" && col("Step_desc").isin(steps: _*))
      .na.drop("any", features)
    // per step: row count, then (mean, mean of squares) per feature
    val moments: Map[String, Row] = subset.groupBy("Step_desc")
      .agg(count(lit(1)).as("__n"), features.flatMap(f => Seq(
        (Num.dsum(col(f)) / count(col(f))).as(s"__m_$f"),
        (Num.dsum(col(f) * col(f)) / count(col(f))).as(s"__msq_$f"))): _*)
      .collect().map(r => r.getString(0) -> r).toMap
    // z-vectors of the given steps; each step's moments enter as
    // literals, through the same expressions the aggregate's columns
    // would, so the z-scores do not depend on how they are fetched
    def scaled(fitSteps: Seq[String]): DataFrame = {
      val zCols = features.zipWithIndex.map { case (f, j) =>
        fitSteps.map { step =>
          val m = lit(moments(step).getDouble(2 + 2 * j))
          val sd = sqrt(lit(moments(step).getDouble(3 + 2 * j)) - m * m)
          step -> (col(f) - m) / when(sd === 0.0 || sd.isNull, lit(1.0)).otherwise(sd)
        }.foldLeft(lit(null).cast("double")) { case (acc, (step, z)) =>
          when(col("Step_desc") === step, z).otherwise(acc)
        }.as(s"__z_$f")
      }
      subset.filter(col("Step_desc").isin(fitSteps: _*))
        .select((col("__row_id") +: col("Step_desc") +: zCols): _*)
    }
    val localLimit = spark.conf
      .get("spark.graft.wafer.kmeansLocalLimit", "500000").toLong
    // Small-subset dispatch (the cc.localLimit discipline, applied
    // to the fit): an MLlib fit on a per-step subset this size is
    // ~20 scheduled jobs whose wall is task-launch floors and
    // whose scheduling noise was the widest band in every driver
    // bench — while the same Lloyd's iterations over the collected
    // z-vectors (≤ 500k × 18 doubles per step) are milliseconds of
    // driver compute, deterministic and partition-invariant by
    // construction (rows iterated in row-id order, seeded
    // hash-ranked init). Cluster ids are arbitrary under BOTH
    // paths (correctness is structural, §5.3). Past the limit the
    // distributed MLlib path below runs unchanged — the 100 TB
    // shape, where per-step subsets are billions of rows.
    val (localSteps, mllibSteps) = steps.distinct.filter(moments.contains)
      .partition(step => localLimit > 0 && moments(step).getLong(1) <= localLimit)
    val localLabels =
      if (localSteps.isEmpty) Nil
      else {
        val byStep = scaled(localSteps).collect().groupBy(_.getString(1))
        localSteps.flatMap { step =>
          localKMeansLabels(byStep(step).map(r =>
            (r.getLong(0), Array.tabulate(features.size)(j => r.getDouble(j + 2)))), k, seed)
        }
      }
    def fitMllib(step: String): DataFrame = {
      val z = scaled(Seq(step))
      val cnt = moments(step).getLong(1)
      // cache the z-scored vectors: the fit is iterative and would
      // otherwise re-evaluate the upstream plan once per pass
      val fitInput = z
        .withColumn("__fv", array_to_vector(array(features.map(f => col(s"__z_$f")): _*)))
        // one partition per ~500k rows (floor 1): each iteration is
        // a handful of tasks, large subsets keep their parallelism
        .coalesce(math.max(1L, math.min(z.rdd.getNumPartitions.toLong, cnt / 500000L + 1)).toInt)
        .cache()
      try {
        // random init (seed-pinned): k-means||'s multi-round
        // distributed seeding is pure scheduling overhead at these
        // subset sizes, and cluster ids are permutation-arbitrary
        // either way (correctness is structural, §5.3)
        val model = new KMeans()
          .setK(k).setSeed(seed).setInitMode("random")
          .setFeaturesCol("__fv").setPredictionCol("__cluster")
          .fit(fitInput)
        model.transform(fitInput).select(col("__row_id"),
          col("__cluster").cast(IntegerType).as("KMeans_Cluster"))
          .localCheckpoint() // materialize so fit input can be freed
      } finally fitInput.unpersist()
    }
    // MLlib steps are independent → fit them concurrently by default:
    // each fit is a latency-bound chain of jobs, so overlapping the
    // chains is genuine throughput (same-box A/B, r13: sequential
    // wafer median 5.38 s vs concurrent 2.66 s).
    // `spark.graft.wafer.concurrentFits=false` pins them sequential
    // for measurement experiments; results are identical either way
    // (fits are per-step independent).
    val concurrent = spark.conf
      .get("spark.graft.wafer.concurrentFits", "true").toBoolean
    val mllibLabels =
      if (concurrent)
        Await.result(Future.sequence(mllibSteps.map(step => Future(fitMllib(step)))),
          Duration.Inf)
      else mllibSteps.map(fitMllib)
    val labelParts =
      (if (localLabels.isEmpty) Nil else Seq(localLabels.toDF("__row_id", "KMeans_Cluster"))) ++
        mllibLabels
    val out =
      if (labelParts.isEmpty)
        withId.withColumn("KMeans_Cluster", lit(null).cast(IntegerType))
      else withId.join(labelParts.reduce(_ unionByName _), Seq("__row_id"), "left")
    // materialize, then free the withId cache: the returned lazy plan
    // references it, so without this every pipeline run in a session
    // leaks a cached copy of the full input
    val result = out.drop("__row_id").localCheckpoint()
    withId.unpersist()
    result
  }

  /** G5/F8: rule-based killer labeling — the reference's row loop folded
    * into one chained-when expression (preprocessing.py:210-243).
    */
  def labelKillerDefects(
      df: DataFrame,
      mapping: Map[String, Int] = WaferSchema.killerClusterMapping): DataFrame = {
    val flag = mapping.toSeq.sortBy(_._1).foldLeft(lit(false)) {
      case (acc, (step, cluster)) =>
        when(col("IS_DEFECT") === "REAL" && col("Step_desc") === step &&
          col("KMeans_Cluster") === cluster, lit(true)).otherwise(acc)
    }
    df.withColumn("is_killer_defect", flag)
  }

  /** G6: togglable 4-stage composer (preprocessing.py:245-283). */
  /** exactQuantiles=false switches the outlier stage to t-digest
    * approx_percentile — the 100 TB path: single-pass, mergeable,
    * bounded memory, vs exact percentile which buffers every group
    * value (measured 55s of a 68s run at 6.4M rows, <2s approx).
    */
  def preprocess(
      df: DataFrame,
      removeOutliers: Boolean = true,
      addFeatures: Boolean = true,
      runClustering: Boolean = true,
      labelKiller: Boolean = true,
      exactQuantiles: Boolean = true): DataFrame = {
    var out = df
    if (removeOutliers) out = removeOutliersByClass(out, exact = exactQuantiles)
    if (addFeatures) out = addEngineeredFeatures(out)
    if (runClustering) out = runKMeansByStep(out)
    if (labelKiller) out = labelKillerDefects(out)
    out
  }

  /** I: the console report's aggregates (main.py:36-151), one collected
    * summary instead of 15 separate len() calls.
    */
  case class Summary(
      rows: Long,
      nullCells: Long,
      realDefects: Long,
      falseDefects: Long,
      classes: Seq[String],
      clusterDist: Map[Option[Int], Long],
      killerCount: Long)

  /** One grouped aggregate — rows and null cells per (Class, IS_DEFECT,
    * plus KMeans_Cluster and is_killer_defect when present) — folded on
    * the driver. The groups are few (classes × defect flags × clusters),
    * so the fold is cheap, and `classes` is sorted in Spark's binary
    * string order, as an `orderBy("Class")` would return it.
    */
  def summary(df: DataFrame): Summary = {
    val cols = df.columns
    val keys = Seq("Class", "IS_DEFECT") ++
      Seq("KMeans_Cluster", "is_killer_defect").filter(cols.contains)
    val nullsInRow = cols.map(c => when(col(c).isNull, 1L).otherwise(0L)).reduce(_ + _)
    val groups = df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)), sum(nullsInRow))
      .collect()
    val n = keys.size
    def rowsWhere(p: Row => Boolean): Long = groups.filter(p).map(_.getLong(n)).sum
    val classes = groups.filter(!_.isNullAt(0)).map(_.getString(0)).distinct
      .sortWith((a, b) => UTF8String.fromString(a).compareTo(UTF8String.fromString(b)) < 0)
      .toSeq
    val clusterDist =
      if (cols.contains("KMeans_Cluster")) {
        val i = keys.indexOf("KMeans_Cluster")
        groups.groupMapReduce(r => if (r.isNullAt(i)) None else Some(r.getInt(i)))(
          _.getLong(n))(_ + _)
      } else Map.empty[Option[Int], Long]
    val killer =
      if (cols.contains("is_killer_defect")) {
        val i = keys.indexOf("is_killer_defect")
        rowsWhere(r => !r.isNullAt(i) && r.getBoolean(i))
      } else 0L
    Summary(rowsWhere(_ => true), groups.map(_.getLong(n + 1)).sum,
      rowsWhere(r => r.getString(1) == "REAL"), rowsWhere(r => r.getString(1) == "FALSE"),
      classes, clusterDist, killer)
  }

  /** A5: CSV export as one file, mirroring the reference's single-file
    * output for operator hand-off — only sane for small exports; at
    * scale callers write partitioned parquet instead.
    *
    * Job structure: one parallel write job, a part per input partition,
    * into a hidden staging directory beside `path`; the driver then
    * replaces `path` with one `part-00000-…csv` that concatenates the
    * parts in partition order and keeps the first header only, so the
    * file has the bytes a `coalesce(1)` write of the same frame
    * produces without one task formatting every row. The frame is fully
    * written before `path` is touched, so a frame that reads `path`
    * still works and a failed write leaves `path` as it was; the staging
    * directory is removed either way.
    */
  def writeCsv(df: DataFrame, path: String): Unit = {
    val fs = new Path(path).getFileSystem(df.sparkSession.sessionState.newHadoopConf())
    val out = fs.makeQualified(new Path(path))
    val staging = new Path(out.getParent, s".${out.getName}.staging-${java.util.UUID.randomUUID}")
    try {
      df.write.option("header", "true").csv(staging.toString)
      // Spark writes the header at the head of every part file (and a
      // header-only part 0 for an empty frame); strip all but one
      val header = {
        val w = new java.io.StringWriter
        val gen = new UnivocityGenerator(df.schema, w,
          new CSVOptions(Map("header" -> "true"), true,
            df.sparkSession.sessionState.conf.sessionLocalTimeZone))
        gen.writeHeaders()
        gen.flush()
        w.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      }
      val parts = fs.listStatus(staging).map(_.getPath)
        .filter(p => p.getName.startsWith("part-"))
        .sortBy(p => (p.getName.drop(5).takeWhile(_.isDigit).toInt, p.getName))
      val merged = new Path(staging, "_merged")
      val dst = fs.create(merged, false)
      try {
        dst.write(header)
        parts.foreach { p =>
          val in = fs.open(p)
          try {
            val head = new Array[Byte](header.length)
            in.readFully(head)
            require(java.util.Arrays.equals(head, header), s"unexpected CSV header in $p")
            IOUtils.copyBytes(in, dst, 1 << 16, false)
          } finally in.close()
        }
      } finally dst.close()
      fs.delete(out, true)
      fs.mkdirs(out)
      if (!fs.rename(merged, new Path(out, parts.head.getName)))
        throw new java.io.IOException(s"could not move $merged into $out")
      fs.create(new Path(out, "_SUCCESS"), false).close()
    } finally fs.delete(staging, true)
  }
}
