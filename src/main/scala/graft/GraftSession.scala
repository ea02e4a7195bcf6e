package graft

import org.apache.spark.sql.SparkSession

/** The one session builder of the local dev and verification mains
  * (`Verify`, `tools.BenchOne`, `tools.PlanAudit`, `tools.PlanDump`,
  * `tools.ScaleCheck`).
  *
  * Two entry points keep their own builder: `Bench`, whose measurement
  * harness is frozen, and `wafer.WaferMain`, the user-facing pipeline,
  * which keeps its `SPARK_MASTER` deployment setting and its UI but
  * takes its partition count from [[cpus]].
  *
  * The CPU rule and the conf list are plain values, so they can be
  * checked without starting a session.
  */
object GraftSession {
  val CpusVar = "SPARK_GRAFT_CPUS"

  /** Local cores: `SPARK_GRAFT_CPUS` when set (a positive integer; any
    * other value fails naming the variable), else every available
    * processor.
    */
  def cpus(env: Map[String, String] = sys.env): Int = env.get(CpusVar) match {
    case None => Runtime.getRuntime.availableProcessors
    case Some(v) => v.trim.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(
        s"$CpusVar must be a positive integer, got '$v'"))
  }

  /** Session conf of a local session on `cpus` cores. */
  def conf(cpus: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  /** `local[cpus]` session with [[conf]] and the given log level. */
  def local(logLevel: String = "ERROR"): SparkSession = {
    val n = cpus()
    val spark = conf(n)
      .foldLeft(SparkSession.builder().master(s"local[$n]")) {
        case (b, (k, v)) => b.config(k, v)
      }
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** Splits `k=v` conf override tokens into the parsed pairs and the
    * malformed tokens (no `=`, or an empty key), so each caller decides
    * whether a malformed token stops the run or is skipped.
    */
  def parseOverrides(tokens: Seq[String]): (Seq[(String, String)], Seq[String]) = {
    val parsed = tokens.map(t => t -> (t.split("=", 2) match {
      case Array(k, v) if k.nonEmpty => Some(k -> v)
      case _ => None
    }))
    (parsed.flatMap(_._2), parsed.collect { case (t, None) => t })
  }
}
