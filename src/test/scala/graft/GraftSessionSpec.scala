package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** The local session factory's CPU rule and conf list, checked as plain
  * values: starting a session here would reconfigure the shared test
  * session. Plus a guard that the factory stays the one builder.
  */
class GraftSessionSpec extends AnyFunSuite {

  test("CPU rule: unset uses every processor, a positive integer is taken as is") {
    assert(GraftSession.cpus(Map.empty) === Runtime.getRuntime.availableProcessors)
    assert(GraftSession.cpus(Map("SPARK_GRAFT_CPUS" -> "6")) === 6)
  }

  test("CPU rule: zero, negative and non-numeric values fail naming the variable") {
    for (v <- Seq("0", "-1", "abc")) {
      val e = intercept[IllegalArgumentException](
        GraftSession.cpus(Map("SPARK_GRAFT_CPUS" -> v)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), s"value '$v'")
      assert(e.getMessage.contains(s"'$v'"), s"value '$v'")
    }
  }

  test("conf list: partitions equal cpus, UTC session time zone, UI off") {
    val conf = GraftSession.conf(6).toMap
    assert(conf("spark.sql.shuffle.partitions") === "6")
    assert(conf("spark.sql.session.timeZone") === "UTC")
    assert(conf("spark.ui.enabled") === "false")
  }

  test("conf overrides: k=v tokens parse, malformed tokens are returned by name") {
    val (ok, bad) = GraftSession.parseOverrides(
      Seq("spark.graft.iqr.localLimit=0", "a=b=c", "typo", "=v", "k="))
    assert(ok === Seq("spark.graft.iqr.localLimit" -> "0", "a" -> "b=c", "k" -> ""))
    assert(bad === Seq("typo", "=v"))
  }

  private def mainSources: Seq[Path] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root missing")
    val s = Files.walk(root)
    try s.filter(_.toString.endsWith(".scala")).toArray.toSeq.map(_.asInstanceOf[Path])
    finally s.close()
  }

  private def filesContaining(needle: String): Set[String] =
    mainSources.filter(p => Files.readString(p).contains(needle))
      .map(_.getFileName.toString).toSet

  test("only GraftSession, Bench and WaferMain build a SparkSession") {
    assert(filesContaining("SparkSession.builder") ===
      Set("GraftSession.scala", "Bench.scala", "WaferMain.scala"))
  }

  test("only GraftSession and Bench read SPARK_GRAFT_CPUS") {
    assert(filesContaining("SPARK_GRAFT_CPUS") === Set("GraftSession.scala", "Bench.scala"))
  }
}
