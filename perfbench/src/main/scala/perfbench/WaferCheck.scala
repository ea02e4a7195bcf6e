package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Checks one exported wafer pipeline result against the input it came
  * from, without calling the pipeline: the surviving rows are recomputed
  * by a plain-Scala replay of the per-Class sequential upper-IQR filter,
  * and the clustering is checked as a converged 2-means per analysed
  * step (every row nearest its own cluster's centroid in z-space).
  */
object WaferCheck {
  val sizeCols = Seq("SIZE_X", "SIZE_Y", "DEFECT_AREA")
  val features = Seq(
    "SIZE_X", "SIZE_Y", "DEFECT_AREA", "ENERGY_PARAM", "MDAT_OFFSET", "RELATIVEMAGNITUDE",
    "PATCHDEFECTSIGNAL", "INTENSITY", "POLARITY", "MDAT_GL", "MDAT_NOISE", "PATCHNOISE",
    "SIZE_D", "RADIUS", "ANGLE", "ALIGNRATIO", "SPOTLIKENESS", "ACTIVERATIO")
  val steps = Seq("PC", "RMG", "CBCMP")
  val killerCluster = Map("PC" -> 1, "RMG" -> 1, "CBCMP" -> 0)
  val outputColumns = 31

  /** The canonical input (`WaferMain`'s row count and seed) and the
    * counts the pipeline gives on it: rows after IQR, and rows labelled
    * killer.
    */
  val referenceRows = 63909L
  val referenceSeed = 42L
  val pinnedOutputRows = 62000L
  val pinnedKillerRows = 5556L

  final case class Result(problems: Seq[String], rows: Long, killers: Long, inputRows: Long) {
    def ok: Boolean = problems.isEmpty
  }

  /** Spark's exact percentile: position (n-1)p, linear between the two
    * neighbouring order statistics in Spark's arithmetic form.
    */
  def percentile(sorted: Array[Double], p: Double): Double = {
    val pos = (sorted.length - 1) * p
    val lo = math.floor(pos).toLong
    val hi = math.ceil(pos).toLong
    val vLo = sorted(lo.toInt)
    val vHi = sorted(hi.toInt)
    if (hi == lo || vLo == vHi) vLo else (hi - pos) * vLo + (pos - lo) * vHi
  }

  /** Keys of the rows that survive the sequential per-group upper-IQR
    * passes (k = 1.5): a group with fewer than two values or a zero IQR
    * is left as it is for that column.
    */
  def iqrSurvivors(rows: Seq[(String, String, Array[Double])], k: Double = 1.5): Set[String] = {
    var cur = rows.filter(_._2 != null)
    for (ci <- sizeCols.indices) {
      val bounds = cur.groupBy(_._2).map { case (g, rs) =>
        val v = rs.map(_._3(ci)).toArray.sorted
        val q1 = percentile(v, 0.25)
        val q3 = percentile(v, 0.75)
        g -> (if (v.length < 2 || q3 - q1 == 0.0) Double.PositiveInfinity else q3 + k * (q3 - q1))
      }
      cur = cur.filter(r => r._3(ci) <= bounds(r._2))
    }
    cur.map(_._1).toSet
  }

  /** Whether each point sits nearest its own cluster's centroid; returns
    * the number of points that do not (0 for a converged clustering).
    */
  def misassigned(points: Seq[(Array[Double], Int)]): Int = {
    val dim = points.head._1.length
    val centroids = points.groupBy(_._2).map { case (c, ps) =>
      c -> Array.tabulate(dim)(j => ps.map(_._1(j)).sum / ps.size)
    }
    def d2(a: Array[Double], b: Array[Double]) = a.indices.map(j => (a(j) - b(j)) * (a(j) - b(j))).sum
    points.count { case (p, c) =>
      val own = d2(p, centroids(c))
      centroids.exists { case (o, z) => o != c && d2(p, z) < own - 1e-9 * (1 + own) }
    }
  }

  def zScores(raw: Seq[Array[Double]]): Seq[Array[Double]] = {
    val n = raw.size.toDouble
    val dim = raw.head.length
    val mean = Array.tabulate(dim)(j => raw.map(_(j)).sum / n)
    val sd = Array.tabulate(dim) { j =>
      val s = math.sqrt(raw.map(r => (r(j) - mean(j)) * (r(j) - mean(j))).sum / n)
      if (s == 0.0 || s.isNaN) 1.0 else s
    }
    raw.map(r => Array.tabulate(dim)(j => (r(j) - mean(j)) / sd(j)))
  }

  /** Rows and killer rows of an export. */
  def counts(spark: SparkSession, exportDir: String): (Long, Long) = {
    val out = spark.read.option("header", "true").csv(exportDir)
    (out.count(), out.filter(col("is_killer_defect") === "true").count())
  }

  def pinProblems(rows: Long, killers: Long): Seq[String] =
    (if (rows != pinnedOutputRows) Seq(s"$rows output rows, pinned $pinnedOutputRows") else Nil) ++
      (if (killers != pinnedKillerRows) Seq(s"$killers killer rows, pinned $pinnedKillerRows") else Nil)

  def check(spark: SparkSession, inputDir: String, exportDir: String): Result = {
    val problems = Seq.newBuilder[String]
    val input = spark.read.option("header", "true").csv(inputDir)
      .select((Seq("LOT_ID", "Class") ++ sizeCols).map(col): _*).collect()
      .map(r => (r.getString(0), r.getString(1), sizeCols.indices.map(i => r.getString(i + 2).toDouble).toArray))
      .toSeq
    val expectedKeys = iqrSurvivors(input)

    val out = spark.read.option("header", "true").csv(exportDir)
    if (out.columns.length != outputColumns)
      problems += s"export has ${out.columns.length} columns, expected $outputColumns"
    val needed = Seq("LOT_ID", "IS_DEFECT", "Step_desc", "KMeans_Cluster", "is_killer_defect")
    val missing = (needed ++ features).filterNot(out.columns.contains)
    if (missing.nonEmpty) return Result(problems.result() :+ s"export lacks ${missing.mkString(",")}", 0, 0, input.size)

    val rows = out.select((needed ++ features).map(col): _*).collect()
    val keys = rows.map(_.getString(0))
    if (keys.length != expectedKeys.size)
      problems += s"export has ${keys.length} rows, the IQR replay keeps ${expectedKeys.size}"
    if (keys.toSet != expectedKeys)
      problems += s"${(keys.toSet diff expectedKeys).size} unexpected and ${(expectedKeys diff keys.toSet).size} missing rows"

    var killers = 0L
    val byStep = scala.collection.mutable.Map.empty[String, Vector[(Array[Double], Int)]]
    var badNull, badKiller = 0
    rows.foreach { r =>
      val real = r.getString(1) == "REAL"
      val step = r.getString(2)
      val analysed = real && steps.contains(step)
      val cluster = Option(r.getString(3)).map(_.toInt)
      val killer = r.getString(4).toBoolean
      if (cluster.isDefined != analysed) badNull += 1
      if (killer != (real && cluster.isDefined && killerCluster.get(step).contains(cluster.get))) badKiller += 1
      if (killer) killers += 1
      if (analysed && cluster.isDefined)
        byStep(step) = byStep.getOrElse(step, Vector.empty) :+
          ((features.indices.map(i => r.getString(5 + i).toDouble).toArray, cluster.get))
    }
    if (badNull > 0) problems += s"$badNull rows with KMeans_Cluster set off the analysed REAL rows (or missing on them)"
    if (badKiller > 0) problems += s"$badKiller rows whose is_killer_defect disagrees with the step/cluster rule"
    byStep.foreach { case (step, pts) =>
      val z = zScores(pts.map(_._1)).zip(pts.map(_._2))
      if (pts.map(_._2).distinct.size != 2) problems += s"step $step has ${pts.map(_._2).distinct.size} clusters, expected 2"
      else {
        val bad = misassigned(z)
        if (bad > 0) problems += s"step $step: $bad rows not nearest their own centroid"
      }
    }
    Result(problems.result(), keys.length.toLong, killers, input.size.toLong)
  }
}
