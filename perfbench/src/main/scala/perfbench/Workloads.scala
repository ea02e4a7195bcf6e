package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.wafer.{WaferDataGen, WaferPipeline}

/** A closed-loop, single-client workload. `setup` prepares the inputs
  * in a fresh directory (it is timed); `pass` runs one pass of ops, calling `op` once per op;
  * `check` verifies the outputs of the last pass, untimed, and returns
  * (op, problem) pairs.
  */
trait Workload {
  def setup(dir: String): Unit
  def pass(p: Int, op: (String, () => Unit) => Unit): Unit
  def check(): Seq[(String, String)]
  /** Facts about the checked output worth printing beside the metrics. */
  def facts: Seq[(String, Any)] = Nil
  /** Per-layer values the workload measures itself, from its last pass. */
  def ownLayers: Map[String, Double] = Map.empty
}

object Workloads {
  val waferCalls = Seq("load", "outliers", "features", "kmeans", "label", "export", "summary")

  /** The catalog queries of the mix: `graft.Bench`'s headline and heavy
    * rows plus the directed triangle twin.
    */
  val mixQueries: Seq[String] = graft.Bench.headline ++ graft.Bench.heavy :+ "q165_triangle_degree"

  def apply(name: String, spark: SparkSession, tr: Tracer, runDir: String, dataDir: String,
      digests: Map[String, String], seed: Long): Workload = name match {
    case "wafer_etl" => new WaferEtl(spark, tr, runDir, 63909L, seed)
    case "wafer_etl_10x" => new WaferEtl(spark, tr, runDir, 639090L, seed)
    case "query_mix" => new QueryMix(spark, tr, dataDir, digests, seed)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }
}

/** The reference pipeline on a generated wafer CSV: one op is the call
  * sequence `WaferMain.run` performs, each call timed as its own span.
  */
final class WaferEtl(spark: SparkSession, tr: Tracer, runDir: String, rows: Long, seed: Long)
    extends Workload {
  private var input: String = _
  private val exportDir = s"$runDir/export"
  private var keptRows = 0L

  def setup(dir: String): Unit = {
    input = s"$dir/wafer_csv"
    generate(rows, seed, input)
  }

  private def generate(n: Long, s: Long, dir: String): Unit =
    WaferDataGen.generate(spark, n, s).write.option("header", "true").csv(dir)

  /** The call sequence of `WaferMain.run`; returns the summary's row count. */
  private def runPipeline(in: String, out: String): Long = {
    val raw = tr.span("load")(WaferPipeline.loadCsv(spark, in))
    val kept = tr.span("outliers")(WaferPipeline.removeOutliersByClass(raw))
    val feat = tr.span("features")(WaferPipeline.addEngineeredFeatures(kept))
    val km = tr.span("kmeans")(WaferPipeline.runKMeansByStep(feat))
    val labelled = tr.span("label")(WaferPipeline.labelKillerDefects(km)).cache()
    try {
      tr.span("export")(WaferPipeline.writeCsv(labelled, out))
      tr.span("summary")(WaferPipeline.summary(labelled)).rows
    } finally labelled.unpersist()
  }

  def pass(p: Int, op: (String, () => Unit) => Unit): Unit =
    op("wafer", () => keptRows = runPipeline(input, exportDir))

  private var result: WaferCheck.Result = _
  private var reference: (Long, Long) = _

  /** Checks the last op's export against its input, then runs the
    * pipeline once more on the reference input, whose row and killer
    * counts are pinned: cluster ids are arbitrary, so only a pin shows a
    * change that swaps them or lands in another 2-means fixed point.
    */
  def check(): Seq[(String, String)] = {
    result = WaferCheck.check(spark, input, exportDir)
    val refIn = s"$runDir/reference/wafer_csv"
    val refOut = s"$runDir/reference/export"
    generate(WaferCheck.referenceRows, WaferCheck.referenceSeed, refIn)
    runPipeline(refIn, refOut)
    reference = WaferCheck.counts(spark, refOut)
    (result.problems ++ WaferCheck.pinProblems(reference._1, reference._2)
      .map("reference input: " + _)).map("wafer" -> _)
  }

  override def facts: Seq[(String, Any)] =
    Option(result).toSeq.flatMap(r =>
      Seq("input_rows" -> rows, "output_rows" -> r.rows, "killer_rows" -> r.killers)) ++
      Option(reference).toSeq.flatMap { case (r, k) =>
        Seq("reference_output_rows" -> r, "reference_killer_rows" -> k) }

  override def ownLayers: Map[String, Double] =
    Map("wafer.kept_ratio" -> keptRows.toDouble / rows)
}

/** The catalog query mix over the staged catalog tables. One op is
  * one query: building it, then a `noop` write of its result. Every pass
  * runs each query once, in an order drawn from the seed.
  */
final class QueryMix(spark: SparkSession, tr: Tracer, dataDir: String,
    digests: Map[String, String], seed: Long) extends Workload {
  private var staged: String = _
  private val queries = graft.SparkEntry.queries

  /** Copies the catalog into the run directory. The catalog is committed
    * already staged in `graft.Bench`'s multi-file layout (one parquet
    * directory per table, events as one plain file).
    */
  def setup(dir: String): Unit = {
    staged = s"$dir/tables"
    val src = Paths.get(dataDir)
    val st = Files.walk(src)
    try st.iterator().asScala.foreach { f =>
      val to = Paths.get(staged).resolve(src.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(to) else Files.copy(f, to)
    } finally st.close()
  }

  private val got = scala.collection.mutable.Map.empty[String, String]

  /** The first warm pass also digests each query's result, outside the
    * op, by collecting the DataFrame the op just wrote.
    */
  def pass(p: Int, op: (String, () => Unit) => Unit): Unit =
    new Random(seed * 1000003L + p).shuffle(Workloads.mixQueries).foreach { q =>
      var df: DataFrame = null
      op(q, () => {
        df = tr.span("build")(queries(q)(spark, staged))
        tr.span("run")(df.write.format("noop").mode("overwrite").save())
      })
      if (p == 1 && df != null)
        got(q) = try Digest.of(df.columns.toSeq, df.collect().toSeq)
          catch { case NonFatal(e) => s"error: $e" }
    }

  def check(): Seq[(String, String)] = Workloads.mixQueries.flatMap { q =>
    (digests.get(q), got.get(q)) match {
      case (_, None) => Some(q -> "no result to check")
      case (None, Some(g)) => Some(q -> s"no pinned digest (got $g)")
      case (Some(want), Some(g)) if want != g => Some(q -> s"digest $g, pinned $want")
      case _ => None
    }
  }
}
