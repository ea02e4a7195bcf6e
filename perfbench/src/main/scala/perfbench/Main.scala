package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** Runs one workload in this JVM and writes its result as JSON.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *     --run-dir <dir> --data-dir <catalog tables> --digests <file> --cores <n>
  *     [--trace-out <file>]
  *
  * Order of a run: session, the input set-up, one cold pass, warm passes
  * until `--seconds` have passed, then the untimed output check.
  * Everything is written under `--run-dir`.
  */
object Main {
  /** One pass: its op count, and the op time, GC time and codegen it
    * accumulated inside its ops (work between ops is not counted).
    */
  final case class PassRec(idx: Int, ops: Int, opS: Double, gcMs: Long, codegenCount: Long,
      codegenMs: Double)

  val minWarmOps = 6

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val runDir = opt("run-dir")
    val cores = opt("cores").toInt

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

    val tr = new Tracer(trace)
    val rec = new Recorder
    if (trace) {
      spark.sparkContext.addSparkListener(rec)
      spark.listenerManager.register(rec)
    }
    val digests = opt.get("digests").filter(p => Files.exists(Paths.get(p))).map { p =>
      Files.readAllLines(Paths.get(p)).asScala.map(_.trim).filter(_.nonEmpty)
        .map(_.split("\\s+")).map(a => a(0) -> a(1)).toMap
    }.getOrElse(Map.empty)
    val w = Workloads(workload, spark, tr, runDir, opt("data-dir"), digests, seed)

    val t0 = System.nanoTime()
    w.setup(s"$runDir/inputs")
    val setupS = (System.nanoTime() - t0) / 1e9

    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs = gcBeans.map(_.getCollectionTime).filter(_ > 0).sum
    val codegen = CodegenMetrics.METRIC_COMPILATION_TIME
    def codegenMs = codegen.getSnapshot.getMean * codegen.getCount

    val opPass = mutable.Map.empty[Int, Int]
    val warmLat = mutable.ArrayBuffer.empty[Double]
    var attempted = 0
    var thrown = 0
    val passes = mutable.ArrayBuffer.empty[PassRec]

    def runPass(p: Int): Unit = {
      var opS, cgMs = 0.0
      var gc, cg = 0L
      var ops = 0
      w.pass(p, (name, body) => {
        tr.op = opPass.size
        opPass(tr.op) = p
        val (g0, c0, cm0, s0) = (gcMs, codegen.getCount, codegenMs, System.nanoTime())
        val ok =
          try { tr.span(name)(body()); true }
          catch { case NonFatal(e) => System.err.println(s"[perfbench] op $name failed: $e"); false }
        val s = (System.nanoTime() - s0) / 1e9
        ops += 1; opS += s; gc += gcMs - g0; cg += codegen.getCount - c0; cgMs += codegenMs - cm0
        attempted += 1
        if (!ok) thrown += 1
        else if (p > 0) warmLat += s
      })
      passes += PassRec(p, ops, opS, gc, cg, cgMs)
    }

    runPass(0)
    // warm passes until `seconds` of op time and at least `minWarmOps`
    // ops are measured, so the median always has a few samples, but no
    // longer than 4 × `seconds` when single ops are long
    def warmS = passes.filter(_.idx > 0).map(_.opS).sum
    def warmOps = attempted - passes.head.ops
    var p = 1
    while (p == 1 || (warmS < 4 * seconds && (warmS < seconds || warmOps < minWarmOps))) {
      runPass(p)
      p += 1
    }
    val warm = passes.filter(_.idx > 0)

    tr.op = -1 // spans of the check belong to no op
    val c0 = System.nanoTime()
    val problems =
      try w.check()
      catch { case NonFatal(e) => Seq("check" -> s"check failed: $e") }
    val checkS = (System.nanoTime() - c0) / 1e9
    problems.foreach { case (o, m) => System.err.println(s"[perfbench] wrong output of $o: $m") }
    val wrongOps = problems.map(_._1).distinct.size
    val failed = thrown + wrongOps

    val cold = passes.head
    val tail = Stats.tail(warmLat.toSeq)
    val e2e = mutable.LinkedHashMap[String, Any](
      "setup_s" -> (sessionS + setupS),
      "cold_pass_s" -> cold.opS,
      "latency_p50_s" -> (if (warmLat.isEmpty) -1.0 else Stats.hdQuantile(warmLat.toSeq)),
      "latency_tail_s" -> tail.map(_._1).getOrElse(-1.0),
      "ops_per_s" -> warmLat.size / warmLat.sum,
      "failed_ratio" -> failed.toDouble / math.max(1, attempted))
    val info = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "cores" -> cores,
      "session_s" -> sessionS, "inputs_s" -> setupS,
      "latency_tail_pct" -> tail.map(_._2).getOrElse(-1.0),
      "latency_tail_beyond" -> tail.map(_._3).getOrElse(0),
      "warm_ops" -> warmLat.size, "warm_passes" -> warm.size, "warm_s" -> warmS,
      "warm_op_s" -> warmLat, "check_s" -> checkS,
      "attempted" -> attempted, "failed" -> failed, "correct" -> (failed == 0),
      "problems" -> problems.map { case (o, m) => s"$o: $m" })
    info ++= w.facts

    val layers: Map[String, Double] =
      if (!trace) Map.empty
      else {
        org.apache.spark.perfbench.Drain(spark.sparkContext)
        val heapPeakMb = ManagementFactory.getMemoryPoolMXBeans.asScala
          .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum / 1048576.0
        val l = Layers(tr.spans, rec, opPass.toMap, passes.toSeq, cores)
        l ++ w.ownLayers ++ Map("jvm.heap_peak_mb" -> heapPeakMb)
      }
    opt.get("trace-out").foreach { out =>
      val js = tr.spans.map(s => Json.obj(Seq("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "op" -> s.op, "start_ms" -> s.startMs, "end_ms" -> s.endMs)))
      Files.write(Paths.get(out), js.map(_.text).mkString("[", ",\n", "]\n").getBytes("UTF-8"))
    }

    val result = Json.obj(Seq("end_to_end" -> Json.obj(e2e.toSeq),
      "info" -> Json.obj(info.toSeq), "layers" -> Json.obj(layers.toSeq.sortBy(_._1))))
    Files.write(Paths.get(s"$runDir/result.json"), result.text.getBytes("UTF-8"))
    spark.stop()
  }
}

/** Per-layer figures of one traced run. Jobs go to spans by time window
  * (their submission time), tasks follow their stage's job. Each figure
  * is taken per pass and reported as the median over the warm passes,
  * except the codegen figures, which are the cold pass's.
  */
object Layers {
  def names: Seq[String] =
    Workloads.waferCalls.flatMap(c => Seq(s"wafer.$c.self_s", s"wafer.$c.jobs")) ++
      Seq("outliers", "kmeans", "export").flatMap(c =>
        Seq(s"wafer.$c.tasks", s"wafer.$c.task_busy_s", s"wafer.$c.result_mb")) ++
      Seq("wafer.kept_ratio") ++
      Seq("self_s", "jobs", "tasks", "result_mb").map("queries.build." + _) ++
      Workloads.mixQueries.flatMap(q => Seq("build_s", "run_s", "jobs").map(s"query.$q." + _)) ++
      Seq("analyze_s", "optimize_s", "physical_s").map("plans." + _) ++
      Seq("jobs", "stages", "tasks", "task_busy_s", "busy_ratio", "sched_wait_s", "input_mb",
        "output_mb", "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "result_mb",
        "failed_tasks").map("exec." + _) ++
      Seq("gc_s", "codegen_compile_s", "codegen_classes", "heap_peak_mb").map("jvm." + _)

  def apply(spans: Seq[Span], rec: Recorder, opPass: Map[Int, Int], passes: Seq[Main.PassRec],
      cores: Int): Map[String, Double] = {
    val jobs = rec.jobs
    val spanOfJob: Map[Int, Span] =
      jobs.flatMap(j => SpanMath.attribute(spans, j.startMs).map(j.jobId -> _)).toMap
    val jobOfStage: Map[Int, Int] =
      jobs.flatMap(j => j.stageIds.map(_ -> j.jobId)).groupMapReduce(_._1)(_._2)(math.min)
    val tasksOfJob = rec.tasks.groupBy(t => jobOfStage.getOrElse(t.stageId, -1))
    val stagesOfJob = rec.stages.groupBy(s => jobOfStage.getOrElse(s.stageId, -1))
    val jobsOfSpan: Map[Int, Seq[Int]] = spanOfJob.toSeq.groupMap(_._2.id)(_._1)
    val self = SpanMath.selfMs(spans)
    val mb = 1048576.0

    def jobsUnder(s: Span): Seq[Int] =
      jobsOfSpan.getOrElse(s.id, Nil) ++ spans.filter(_.parent == s.id).flatMap(jobsUnder)
    def tasksOf(js: Seq[Int]) = js.flatMap(tasksOfJob.getOrElse(_, Nil))
    def sumMb(ts: Seq[TaskRec])(f: TaskRec => Long) = ts.map(f).sum / mb
    def busyS(ts: Seq[TaskRec]) = ts.map(_.durMs).sum / 1000.0

    val perPass: Seq[Map[String, Double]] = passes.filter(_.idx > 0).map { p =>
      val ops = opPass.collect { case (o, q) if q == p.idx => o }.toSet
      val opSpans = spans.filter(s => ops(s.op))
      val roots = opSpans.filter(_.parent < 0)
      val js = roots.flatMap(jobsUnder)
      val ts = tasksOf(js)
      val exec = Map(
        "exec.jobs" -> js.size.toDouble,
        "exec.stages" -> js.flatMap(stagesOfJob.getOrElse(_, Nil)).size.toDouble,
        "exec.tasks" -> ts.size.toDouble,
        "exec.task_busy_s" -> busyS(ts),
        "exec.busy_ratio" -> busyS(ts) / (p.opS * cores),
        "exec.sched_wait_s" -> js.flatMap(stagesOfJob.getOrElse(_, Nil))
          .map(s => math.max(0L, s.firstLaunchMs - s.submittedMs)).sum / 1000.0,
        "exec.input_mb" -> sumMb(ts)(_.inputBytes),
        "exec.output_mb" -> sumMb(ts)(_.outputBytes),
        "exec.shuffle_read_mb" -> sumMb(ts)(_.shuffleReadBytes),
        "exec.shuffle_write_mb" -> sumMb(ts)(_.shuffleWriteBytes),
        "exec.spill_mb" -> sumMb(ts)(_.spillBytes),
        "exec.result_mb" -> sumMb(ts)(_.resultBytes),
        "exec.failed_tasks" -> ts.count(_.failed).toDouble)
      val pl = rec.plans.filter(r => SpanMath.attribute(roots, r.atMs).isDefined)
      val plans = Map(
        "plans.analyze_s" -> pl.map(_.analyzeMs).sum / 1000.0,
        "plans.optimize_s" -> pl.map(_.optimizeMs).sum / 1000.0,
        "plans.physical_s" -> pl.map(_.physicalMs).sum / 1000.0)
      val calls = opSpans.filter(_.parent >= 0)
      val wafer = Workloads.waferCalls.flatMap { c =>
        val cs = calls.filter(s => s.name == c && roots.exists(r => r.id == s.parent && r.name == "wafer"))
        val cj = cs.flatMap(jobsUnder)
        val ct = tasksOf(cj)
        Seq(s"wafer.$c.self_s" -> cs.map(s => self(s.id)).sum / 1000.0,
          s"wafer.$c.jobs" -> cj.size.toDouble,
          s"wafer.$c.tasks" -> ct.size.toDouble,
          s"wafer.$c.task_busy_s" -> busyS(ct),
          s"wafer.$c.result_mb" -> sumMb(ct)(_.resultBytes))
      }
      val builds = calls.filter(_.name == "build")
      val bj = builds.flatMap(jobsUnder)
      val queries = Seq(
        "queries.build.self_s" -> builds.map(s => self(s.id)).sum / 1000.0,
        "queries.build.jobs" -> bj.size.toDouble,
        "queries.build.tasks" -> tasksOf(bj).size.toDouble,
        "queries.build.result_mb" -> sumMb(tasksOf(bj))(_.resultBytes)) ++
        roots.filter(r => Workloads.mixQueries.contains(r.name)).flatMap { r =>
          def dur(n: String) = calls.filter(c => c.parent == r.id && c.name == n).map(_.durMs).sum / 1000.0
          Seq(s"query.${r.name}.build_s" -> dur("build"), s"query.${r.name}.run_s" -> dur("run"),
            s"query.${r.name}.jobs" -> jobsUnder(r).size.toDouble)
        }
      exec ++ plans ++ wafer ++ queries ++ Map("jvm.gc_s" -> p.gcMs / 1000.0)
    }
    val cold = passes.head
    val measured = Layers.names.map { n =>
      val vs = perPass.flatMap(_.get(n))
      n -> (if (vs.isEmpty) 0.0 else Stats.median(vs))
    }.toMap
    // op time outside the seven wafer calls: how much of the op the
    // call spans leave unaccounted
    val waferOpSelf = perPassOpSelf(spans, self, opPass, passes, "wafer")
    measured ++ Map(
      "jvm.codegen_compile_s" -> cold.codegenMs / 1000.0,
      "jvm.codegen_classes" -> cold.codegenCount.toDouble) ++
      waferOpSelf.map("wafer.op.self_s" -> _)
  }

  private def perPassOpSelf(spans: Seq[Span], self: Map[Int, Double], opPass: Map[Int, Int],
      passes: Seq[Main.PassRec], root: String): Option[Double] = {
    val vs = passes.filter(_.idx > 0).flatMap { p =>
      spans.find(s => s.parent < 0 && s.name == root && opPass.get(s.op).contains(p.idx))
        .map(s => self(s.id) / 1000.0)
    }
    if (vs.isEmpty) None else Some(Stats.median(vs))
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  final case class Raw(text: String)

  def obj(kv: Seq[(String, Any)]): Raw =
    Raw(kv.map { case (k, v) => quote(k) + ":" + value(v) }.mkString("{", ",", "}"))

  def value(v: Any): String = v match {
    case Raw(t) => t
    case s: String => quote(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
