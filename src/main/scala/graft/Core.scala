package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, StructType}

/** One declared engine capability: a Spark implementation plus (when the
  * semantics are SQL-expressible) an equivalent ANSI SQL string the driver
  * runs through DuckDB on the same parquet tables.
  *
  * Column names of `fn`'s result and the oracle SQL MUST match — the
  * driver's compare sorts columns by name before hashing.
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None,
)

/** Loaders for the driver-generated harness tables (TESTDATA.md).
  * All inputs are parquet; filters/projections declared downstream are
  * pushed into the scan by Catalyst (verify via .explain: PushedFilters /
  * ReadSchema).
  *
  * Each table's schema is inferred once per signature and every read
  * passes it to `spark.read.schema`: an inferring `spark.read.parquet`
  * runs a footer-reading Spark job on every call, even for a table read
  * a moment ago. The signature is every leaf file's (path, length,
  * modification time) plus the session's parquet reader confs, so a
  * table regenerated in place, or a flipped `binaryAsString` /
  * `nanosAsLong`, is inferred afresh. One entry per path; a changed
  * signature replaces it.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private type Signature = (Seq[(String, Long, Long)], Map[String, String])
  private final case class Inferred(signature: Signature, schema: StructType)
  private val inferred = new java.util.concurrent.ConcurrentHashMap[String, Inferred]()

  private def signature(spark: SparkSession, path: String): Signature = {
    import org.apache.hadoop.fs.FileStatus
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // listStatus, not listFiles: a LocatedFileStatus copies each local
    // file's permissions, which forks a shell per file (~3 ms each)
    def leaves(st: FileStatus): Seq[(String, Long, Long)] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(leaves)
      else Seq((st.getPath.toString, st.getLen, st.getModificationTime))
    val readerConfs = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
    }
    (leaves(fs.getFileStatus(p)).sorted, readerConfs)
  }

  /** The parquet schema Spark infers for `path` under the session's
    * current confs, inferred only when the signature changed.
    */
  private[graft] def schemaOf(spark: SparkSession, path: String): StructType = {
    val sig = signature(spark, path)
    val hit = inferred.get(path)
    if (hit != null && hit.signature == sig) hit.schema
    else {
      val schema = spark.read.parquet(path).schema
      inferred.put(path, Inferred(sig, schema))
      schema
    }
  }

  private def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schemaOf(spark, path)).parquet(path)

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      // events.ts has shipped as parquet TIMESTAMP(NANOS) in some harness
      // drops and TIMESTAMP(MICROS, isAdjustedToUTC=false) in others, so
      // sniff the footer type instead of assuming. NANOS: Spark has no
      // nanosecond timestamp type and refuses the file outright — read
      // nanos as raw long and truncate to microseconds (floor division),
      // exactly how DuckDB truncates on CAST(ts_ns AS TIMESTAMP). MICROS
      // without UTC adjustment arrives as TIMESTAMP_NTZ — cast to the
      // session-zoned type (a value no-op under the UTC session zone both
      // mains set) so every downstream window/unix_ts op sees one type.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      normalizeEventTs(read(spark, s"$dir/$name.parquet"))
    } else {
      read(spark, s"$dir/$name.parquet")
    }

  /** Bring `ts` to session-zoned TimestampType regardless of how the
    * harness parquet encoded it (long nanos / TIMESTAMP_NTZ / already
    * zoned).
    */
  private def normalizeEventTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }

  /** Streaming read of the events table (same ts handling as the batch
    * path; the declared schema must be the RAW footer schema — whatever
    * encoding the harness shipped: long nanos, TIMESTAMP_NTZ micros, or
    * already-zoned — because normalizeEventTs converts after the source).
    */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val rawSchema = schemaOf(spark, s"$dir/events.parquet")
    // FileStreamSource insists on a directory path (it manages its own
    // basePath); the harness table is a single file. Stage a symlink to
    // it in a per-sfDir temp directory and stream that directory.
    // md5 pathTag, not String.hashCode: a 32-bit collision between two
    // dataset paths would silently stream the WRONG dataset's events
    // (the link is created first-wins). A symlink follows the live
    // file, so regeneration needs no content fingerprint here.
    val stage = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"),
      s"graft_events_stream_${Stage.pathTag(dir)}")
    java.nio.file.Files.createDirectories(stage)
    val link = stage.resolve("events.parquet")
    if (!java.nio.file.Files.exists(link)) {
      try {
        java.nio.file.Files.createSymbolicLink(
          link, java.nio.file.Paths.get(s"$dir/events.parquet"))
        ()
      } catch {
        // two sessions raced the exists/create pair — the winner's
        // link points at the same target, nothing to do
        case _: java.nio.file.FileAlreadyExistsException => ()
      }
    }
    normalizeEventTs(spark.readStream.schema(rawSchema).parquet(stage.toString))
  }
}

/** Numeric helpers shared by the query catalog.
  *
  * Floating-point sums are order-dependent, and Spark's shuffle order is
  * nondeterministic — a plain sum(double) can differ in its last bits
  * between runs and between engines, which breaks hash-comparison against
  * the DuckDB oracle. `dsum` sums through an exact DECIMAL, then casts the
  * exact result back to double: bit-identical in any execution order and
  * in any engine. This is also the right call at 100 TB — decimal partial
  * aggregates stay in Tungsten codegen and cost ~nothing relative to the
  * shuffle they ride on.
  */
/** Session-level entry point for interactive / SQL-first use: register
  * every harness table as a temp view (so the entire engine surface is
  * reachable from `spark.sql`), with the GraftExtensions-injected
  * function + rewrite rule available when the session was built with
  * `spark.sql.extensions=graft.plans.GraftExtensions`.
  */
object Graft {
  /** Register all tables under `dir` as temp views named as in
    * TESTDATA.md (`lineitem`, `orders`, …). Returns the table names.
    */
  def registerTables(spark: SparkSession, dir: String): Seq[String] = {
    Tables.all.foreach(n => Tables(spark, dir, n).createOrReplaceTempView(n))
    Tables.all
  }
}

/** Checkpoint discipline for iterative (fixpoint / relaxation / peel)
  * loops.
  *
  * `Dataset.localCheckpoint()` truncates lineage but PRESERVES the origin
  * plan's estimated statistics on the resulting `LogicalRDD`. In a loop
  * whose round self-joins the previous round's checkpoint (Bellman
  * relaxation, label propagation, BFS frontiers, PERT passes), the
  * size-only stats visitor multiplies child sizeInBytes at every join —
  * so the estimate SQUARES per round. By round ~18 the BigInt carries
  * millions of digits and join planning spends seconds-to-minutes purely
  * in BigInteger Toom-Cook multiplication (measured: 90 s to plan a
  * 200-row round; jstack shows the driver pinned in
  * SizeInBytesOnlyStatsPlanVisitor → BigInteger.multiply).
  *
  * `Iterate.ckpt` materializes the round like localCheckpoint, then
  * round-trips the checkpointed RDD through `createDataFrame`, producing
  * a fresh leaf with DEFAULT stats — constant-size numbers, constant
  * planning cost per round. Join strategy is unaffected in practice: AQE
  * re-derives true sizes from shuffle statistics at runtime, which is
  * also the only signal that matters on a real cluster at 100 TB (the
  * origin estimate after one checkpoint was already fiction).
  *
  * The stats-preservation hazard also bites ONE-SHOT checkpoints that
  * fan out into joins, not just loops: rewriting the co-purchase edge
  * build (round 12) from a join-of-distincts to groupBy+explode changed
  * the checkpointed leaf's inherited estimate from huge to small, and
  * every downstream wedge join re-planned around a fictional
  * broadcast-sized edge list — ~70% slower over IDENTICAL materialized
  * rows. When a checkpointed frame feeds join planning, prefer this
  * stats-reset over a bare localCheckpoint unless the origin estimate
  * is known faithful.
  */
object Iterate {
  def ckpt(df: DataFrame): DataFrame = {
    val ck = df.localCheckpoint()
    ck.sparkSession.createDataFrame(ck.rdd, ck.schema)
  }

  /** Fixed-point iteration with EARLY EXIT (round-10 verdict item 6).
    *
    * Runs `step` up to `maxRounds` times (checkpointing every round —
    * the ckpt discipline above) and STOPS as soon as a round changes
    * nothing: rows are matched FULL OUTER on `key` (an added or removed
    * key is a change — a growing frontier can never be declared
    * converged) and compared null-safely on `watch`. For monotone
    * relaxations (BFS min-dist, PERT max/min relax, label propagation)
    * convergence is OUTPUT-INVARIANT — the remaining rounds would all
    * be no-ops — so a fixed-round oracle CTE stays bit-identical while
    * the engine skips the dead rounds. The per-round change check is
    * one outer-join + limit-1 existence probe over two checkpointed
    * frames — far cheaper than a dead relaxation round (which pays the
    * same join PLUS the aggregation and ckpt).
    *
    * Returns (result, roundsExecuted). `earlyExit = false` runs all
    * `maxRounds` blindly — the spec hook proving the exit is invisible
    * (same output either way), never a semantics change.
    */
  /** Delta-frontier fixed-point iteration (round-11 verdict item 1).
    *
    * [[fixpoint]] skips DEAD rounds, but every LIVE round still
    * reprocesses the FULL frame — at 100 TB a relaxation whose last
    * frontier is 50 keys would still join billions of rows per round.
    * This is the delta-iteration plan (Ewen et al., "Spinning Fast
    * Iterative Data Flows", VLDB 2012): `step` receives
    * (state, frontier) where frontier holds ONLY the keys the previous
    * round changed, and returns (nextState, nextFrontier). A correct
    * step recomputes just the frontier's neighborhood and merges it
    * into the state with a broadcast-sized join — per-round work is
    * then proportional to the CHANGE, not the data, and a
    * late-converging component drags only its own neighborhood.
    *
    * `step` returns ONE merged frame carrying a boolean `flagCol`
    * marking the changed rows; the loop checkpoints it ONCE per round
    * and derives both the next state (drop the flag) and the next
    * frontier (filter on it) as lazy views over the same materialized
    * RDD — the round-10 lesson that per-round wall on dictionary-sized
    * frames is materializations and job launches, not rows (a
    * three-checkpoint round measured ~70% slower than this single-
    * checkpoint form at sf0.1). The loop stops when the frontier is
    * empty (an empty frontier can never repopulate — `step` derives
    * the next frontier from the current one) or at `maxRounds`. For
    * synchronous (Jacobi-style) monotone relaxations the round-r state
    * is IDENTICAL to the full-frame fixpoint's round-r state — keys
    * outside the frontier's neighborhood would have recomputed their
    * old value — so a fixed-round oracle stays bit-identical. The
    * returned frontier sizes (count() over a just-materialized
    * checkpoint — a cheap local fold that doubles as the empty probe)
    * are the observability hook the planted-graph specs pin.
    * `earlyExit = false` runs all rounds blindly (an empty frontier
    * makes them no-ops) — the spec hook proving the exit is invisible.
    *
    * Returns (state, roundsExecuted, frontierSizes).
    */
  def deltaFixpoint(
      init: DataFrame, initFrontier: DataFrame, maxRounds: Int,
      flagCol: String = "__delta_chg", earlyExit: Boolean = true)(
      step: (DataFrame, DataFrame) => DataFrame): (DataFrame, Int, Seq[Long]) = {
    var cur = ckpt(init)
    var frontier = ckpt(initFrontier)
    var n = frontier.count()
    val sizes = scala.collection.mutable.ArrayBuffer[Long]()
    var rounds = 0
    while (rounds < maxRounds && (n > 0 || !earlyExit)) {
      val merged = ckpt(step(cur, frontier))
      cur = merged.drop(flagCol)
      frontier = merged.filter(col(flagCol)).drop(flagCol)
      n = frontier.count()
      sizes += n
      rounds += 1
    }
    (cur, rounds, sizes.toSeq)
  }

  def fixpoint(
      init: DataFrame, maxRounds: Int, key: Seq[String], watch: Seq[String],
      earlyExit: Boolean = true)(step: DataFrame => DataFrame): (DataFrame, Int) = {
    var cur = ckpt(init)
    var rounds = 0
    var converged = false
    while (rounds < maxRounds && !converged) {
      val nxt = ckpt(step(cur))
      rounds += 1
      if (earlyExit) {
        // FULL OUTER on the key with presence markers: a row added or
        // removed by the step is a change even when every matched row's
        // watch columns are identical — an inner-join probe would
        // declare convergence on a growing frontier and silently
        // truncate it (the scaladoc's output-invariance promise).
        // reduceOption: an empty watch list means presence-only
        // convergence (pure frontier growth/shrink) — a bare reduce
        // would throw on it instead
        val changedPred = watch
          .map(c => !(col(s"__fp_n.$c") <=> col(s"__fp_p.$c")))
          .reduceOption(_ || _).getOrElse(lit(false)) ||
          col("__fp_n.__fp_present_n").isNull ||
          col("__fp_p.__fp_present_p").isNull
        converged = nxt.withColumn("__fp_present_n", lit(true)).alias("__fp_n")
          .join(cur.withColumn("__fp_present_p", lit(true)).alias("__fp_p"),
            key, "full_outer")
          .filter(changedPred)
          .isEmpty
      }
      cur = nxt
    }
    (cur, rounds)
  }
}

/** Content-fingerprinted staging keys for idempotent tmp-dir caches.
  *
  * A staged artifact keyed only by the dataset PATH (or worse, its
  * 32-bit hashCode) silently serves STALE derived data when the
  * harness regenerates the parquet in place between runs — the
  * correctness gate would then compare old staged facts against the
  * oracle's fresh reads (the Training67 MV advisory, generalized).
  * This key folds in each source table's per-file size + mtime, so a
  * regenerated source gets a fresh staging root, and md5 of the full
  * path (vs String.hashCode) keeps two datasets from colliding.
  */
object Stage {
  /** Stable per-SOURCE tag (md5 of the dataset path, 8 hex chars): part
    * of every staging-dir name so [[sweepSiblings]] can scope its
    * deletes to generations of the SAME dataset — a bare shared prefix
    * would let a run on sfA evict sfB's live staging (and two
    * concurrent processes on different sources would evict each other
    * mid-measurement).
    */
  def pathTag(d: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)

  /** Delete sibling staging dirs under `parent` that carry `prefix` but
    * are not `keep`. Content-fingerprinted keys mint a FRESH dir every
    * time the source tables regenerate, so without a sweep the stale
    * generations (multi-GB for the bench staging and the ScaleCheck
    * replicas) accumulate until the tmp filesystem fills; this also
    * retires dirs from the pre-fingerprint hashCode keys. Callers pass
    * a prefix that INCLUDES [[pathTag]] so only the same source's
    * generations are swept.
    */
  def sweepSiblings(parent: String, prefix: String, keep: String): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    // Two hardenings against concurrent runs straddling a dataset
    // regeneration (round-11 advisory):
    //  - skip dirs touched in the last 30 min: a sibling process'
    //    LIVE staging (it was created/written recently; reads don't
    //    bump mtime, but a generation old enough to be stale is hours
    //    old) must not be evicted mid-measurement;
    //  - delete the completion markers FIRST: rm ignores per-file
    //    delete failures, so a partially-swept dir could otherwise
    //    survive WITH its _STAGED/_DONE marker and be trusted as a
    //    complete artifact on the next run.
    val recentMs = 30L * 60 * 1000
    val now = System.currentTimeMillis()
    // liveness must look at the WHOLE tree, not the top-level dir: a
    // directory's mtime only moves when its direct entries change, so a
    // sibling writing inside a nested table subdir for >30 min would
    // read as stale from the top while actively being written (round-12
    // advisory). Walking the tree costs one listing pass over dirs that
    // are candidates for deletion anyway.
    def newestMtime(f: java.io.File): Long = {
      val own = f.lastModified()
      val kids = Option(f.listFiles()).map(_.map(newestMtime)).getOrElse(Array.empty)
      if (kids.isEmpty) own else math.max(own, kids.max)
    }
    Option(new java.io.File(parent).listFiles()).foreach(_.foreach { f =>
      if (f.isDirectory && f.getName.startsWith(prefix) && f.getName != keep
          && now - newestMtime(f) > recentMs) {
        val markers = Seq("_STAGED", "_DONE")
          .map(new java.io.File(f, _)).filter(_.exists())
        // only recurse once every marker is verifiably gone; a dir
        // whose marker cannot be deleted is left fully intact
        if (markers.forall(_.delete())) rm(f)
      }
    })
  }

  def key(d: String, tables: String*): String = {
    import java.nio.file.{Files, Path, Paths}
    def entryFp(p: Path): String =
      s"${p.getFileName}:${Files.size(p)}:${Files.getLastModifiedTime(p).toMillis}"
    val fp = tables.map { t =>
      val base = Paths.get(s"$d/$t.parquet")
      require(Files.exists(base), s"Stage.key: table '$t' not found at $base")
      val entries =
        if (Files.isDirectory(base)) {
          import scala.jdk.CollectionConverters._
          // Files.list holds an fd until closed — and key() runs on every
          // execution of each staged query, so a leak accumulates fast.
          val st = Files.list(base)
          try st.iterator().asScala.toSeq.sortBy(_.getFileName.toString)
          finally st.close()
        } else Seq(base)
      entries.map(entryFp).mkString(",")
    }.mkString(s"$d|", ";", "")
    java.security.MessageDigest.getInstance("MD5")
      .digest(fp.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)
  }
}

object Num {
  /** Order-independent double sum: cast each term to DECIMAL(28,6), sum
    * exactly, cast back. SQL mirror: CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE).
    */
  def dsum(c: Column): Column = sum(c.cast(DecimalType(28, 6))).cast("double")

  /** Order-independent mean built from dsum / count. */
  def davg(c: Column): Column = (dsum(c) / count(c)).cast("double")

  /** `dsum(x) / count(x)` over a non-empty array of values, computed on
    * the driver and bit-identical to Spark's. Spark casts each double to
    * DECIMAL(28,6) by rounding `Double.toString(x)` HALF_UP to 6 places,
    * sums the decimals exactly and converts the sum with
    * `java.math.BigDecimal.doubleValue`; this does the same.
    *
    * Fast path: a sum of longs in millionths. For |x| < 1e9 the product
    * x·1e6 is an exact-integer-range double within 1.5 ulps of the
    * decimal string's value (`Double.toString(x)` lies within ½ ulp of
    * x), so outside 4 ulps of a .5 boundary both round to the same
    * integer. A value inside that band or past 1e9 is rounded from its
    * string with BigDecimal, as is the sum once the long would overflow.
    *
    * None when a value is NaN or ±Inf, or would overflow DECIMAL(28,6)
    * (|x| ≥ 1e22): there the caller runs the aggregate, so Spark's own
    * result or error stands.
    */
  def davgLocal(xs: Array[Double]): Option[Double] = {
    require(xs.nonEmpty, "davgLocal needs at least one value")
    var fast = 0L
    var slow = java.math.BigDecimal.ZERO
    var i = 0
    while (i < xs.length) {
      val x = xs(i)
      val ax = math.abs(x)
      if (!(ax < 1e22)) return None // NaN, ±Inf or a DECIMAL(28,6) overflow
      val a = ax * 1e6
      val whole = math.floor(a)
      val frac = a - whole
      if (ax < 1e9 && math.abs(frac - 0.5) > 4 * math.ulp(a)) {
        val m = (if (frac > 0.5) whole + 1 else whole).toLong
        val t = if (x < 0) -m else m
        val next = fast + t
        if (((fast ^ next) & (t ^ next)) < 0) { // long overflow
          slow = slow.add(java.math.BigDecimal.valueOf(fast, 6))
          fast = t
        } else fast = next
      } else
        slow = slow.add(new java.math.BigDecimal(java.lang.Double.toString(x))
          .setScale(6, java.math.RoundingMode.HALF_UP))
      i += 1
    }
    Some(slow.add(java.math.BigDecimal.valueOf(fast, 6)).doubleValue / xs.length)
  }

  /** SQL fragments mirroring dsum/davg for DuckDB oracle strings. */
  def dsumSql(x: String): String = s"CAST(SUM(CAST(($x) AS DECIMAL(28,6))) AS DOUBLE)"
  def davgSql(x: String): String = s"(${dsumSql(x)} / COUNT($x))"
}
