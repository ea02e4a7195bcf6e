package graft.tools

import org.apache.spark.sql.execution.ExplainMode

/** Dev tool: writes `.explain("formatted")` for declared queries to
  * files, for the optimization-round plan receipts
  * (plans/rNN/<query>_{before,after}.txt). Not part of the driver
  * contract; run via
  *
  *   runMain graft.tools.PlanDump <sfDir> <outDir> <spec> [<spec> ...]
  *
  * where <spec> is `queryName[@fileTag][:conf=val,conf=val...]` — the
  * conf overrides let the "before" variant of a size-dispatched
  * operator be captured from the same binary (e.g.
  * `q22_iqr_outlier_filter@q22_before:spark.graft.iqr.localLimit=0`
  * forces the pre-dispatch distributed plan). Overridden confs are
  * restored after each dump.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val spark = graft.GraftSession.local()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))

    args.drop(2).foreach { spec =>
      val (namePart, confPart) = spec.indexOf(':') match {
        case -1 => (spec, "")
        case i  => (spec.take(i), spec.drop(i + 1))
      }
      val (name, tag) = namePart.indexOf('@') match {
        case -1 => (namePart, namePart)
        case i  => (namePart.take(i), namePart.drop(i + 1))
      }
      // a malformed token is reported and skipped; the other dumps run
      val (overrides, bad) = graft.GraftSession.parseOverrides(
        confPart.split(',').filter(_.nonEmpty).toSeq)
      bad.foreach(kv =>
        println(s"[plandump] bad conf token '$kv' in spec '$spec' — skipped"))
      val saved = overrides.map { case (k, _) =>
        k -> scala.util.Try(spark.conf.get(k)).toOption
      }
      overrides.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"$tag.txt"),
          txt.getBytes("UTF-8"))
        println(s"[plandump] wrote $outDir/$tag.txt (${txt.length} chars)")
      } catch {
        case e: Throwable => println(s"[plandump] $name FAILED: $e")
      } finally {
        saved.foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None)    => spark.conf.unset(k)
        }
      }
    }
    spark.stop()
  }
}
