package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, DoubleType, StructField, StructType}

/** Per-group sequential upper-IQR outlier filter.
  *
  * Re-expresses the reference's `remove_outliers_by_class`
  * (`/root/reference/src/preprocessing.py:69-113`) Spark-first: instead of
  * pandas' group-iterate-concat, each column pass is
  * groupBy→agg(percentile)→broadcast-join→filter, so the big side never
  * shuffles — only the tiny per-group bounds table moves.
  *
  * Pinned reference semantics:
  *   - columns are filtered **sequentially**: pass N's quantiles are
  *     computed on the survivors of pass N-1 (preprocessing.py:96-108
  *     rebinds `filtered`);
  *   - **upper bound only**: drop rows with value > Q3 + k·IQR
  *     (README.md:47-54 confirms no lower bound);
  *   - a group is left unfiltered for a column when it has <2 non-null
  *     values (preprocessing.py:97) or IQR == 0 (preprocessing.py:104);
  *   - rows whose value is null in the filtered column are dropped in
  *     filtered groups (pandas `NaN <= x` → False) but kept in skipped
  *     groups;
  *   - rows with a null group key are dropped entirely when
  *     `dropNullKeys` (pandas groupby drops NaN keys — a documented
  *     reference behavior we replicate, see SURVEY.md §2 D1).
  *
  * Scale: the bounds side is ≤ #groups rows → always broadcast. The data
  * side is scanned once per column pass; callers with expensive upstream
  * plans should cache the input. The exact strategy is SIZE-DISPATCHED
  * three ways on one count probe: driver bounds replay under
  * `spark.graft.iqr.localLimit` (100k), the value-buffering `percentile`
  * aggregate up to `spark.graft.iqr.bufferedBoundsLimit` (50M), and
  * ORDER STATISTICS over a scalable rank past it ([[sortedBounds]]:
  * range-exchange sort + keyed aggs, bounded task memory at any group
  * size — EXACT quantiles remain available at 100 TB, value buffering
  * never OOMs an executor). The two limits are the only levers: with
  * the probe opted out (localLimit <= 0) there is no count, and the
  * buffered aggregate runs. All three are bit-identical by
  * construction and A/B-spec'd. `exact=false` swaps to
  * `approx_percentile` (t-digest, single pass, mergeable) when a
  * bounded accuracy cost buys a one-pass plan.
  *
  * Small-input dispatch (the cc.localLimit discipline applied to the
  * bounds computation): when the exact-quantile input fits under
  * `spark.graft.iqr.localLimit` rows (default 100k; 0 or Int.MaxValue-ish
  * disables), a column-pruned count sizes the input and a plain collect
  * of the projected (groupCols, valueCols-as-double) columns fetches
  * the data (count-then-fetch — see the probe comment for why a
  * limit-pushed collect is the wrong probe at scale), the
  * sequential per-pass bounds are replayed on the driver with
  * BIT-IDENTICAL arithmetic to Spark's `Percentile` aggregate (same
  * sorted-order-statistic interpolation formula, same
  * `SQLOrderingUtil.compareDoubles` filter semantics — see
  * [[exactPercentile]]), and the result plan is ONE broadcast join plus
  * one conjunctive filter with the literal bounds. The distributed path
  * is N eager agg jobs, each re-executing the scan plus the prior pass
  * chain — pure job-launch floors at these sizes, while the driver
  * replay over ≤100k collected rows is milliseconds. Past the limit the
  * probe falls through to the unchanged per-pass distributed plan (the
  * probe itself is then just the count scan; sequential-filter
  * algebra note: with FIXED per-pass bounds, applying the passes as one
  * conjunction is exactly the sequential survivor set, because pass N
  * only ever removes rows).
  */
object IqrOutlierFilter {
  def apply(
      df: DataFrame,
      groupCols: Seq[String],
      valueCols: Seq[String],
      k: Double = 1.5,
      dropNullKeys: Boolean = true,
      exact: Boolean = true): DataFrame = {
    // reduceOption: groupCols may be EMPTY (global, ungrouped IQR pass —
    // the reference's whole-frame form); a bare reduce throws on it
    val cur =
      if (dropNullKeys)
        df.filter(groupCols.map(col(_).isNotNull)
          .reduceOption(_ && _).getOrElse(lit(true)))
      else df
    // default 100k since round 14 (was 1M): the driver's r13 bench
    // measured the ≤1M driver-replay tier SLOWER than the distributed
    // buffered aggregate at sf0.1's 600k-row lineitem (q22 0.81 → 1.14 s
    // — a count probe plus a full projection collect per execution vs
    // one 32-way percentile agg), and the same-box r14 A/B agrees
    // (local 1.02–1.15 vs probe+buffered 0.86–0.95 isolated warm). At
    // 100k the replay keeps its real wins (the wafer pipeline's 64k-row
    // IQR stages) and stops adding driver collects to inputs that are
    // comfortably distributed work.
    val localLimit = df.sparkSession.conf
      .get("spark.graft.iqr.localLimit", "100000").toLong
    // approx mode never dispatches: replaying a t-digest sketch
    // bit-identically is not tractable, and approx IS the 100 TB path.
    // An Int.MaxValue-ish limit routes distributed like the <=0 opt-out
    // (the probe's limit must fit an Int) — the cc-dispatch discipline.
    if (exact && valueCols.nonEmpty &&
        localLimit > 0 && localLimit < Int.MaxValue - 1) {
      // COUNT-then-fetch probe (not a limit-pushed collect: CollectLimit
      // probes partitions in sequential scale-up waves and ships every
      // scanned row to the driver — measured 10× q22, the waves shipped
      // ~3M rows across serial jobs just to learn "over limit"). The
      // column-pruned count moves no rows at any scale — and past the
      // dispatch limit it is ALSO the exact-strategy size signal
      // (knownCount) the distributed pass uses to pick buffered-vs-sort
      // bounds, so the probe is never wasted work.
      val n = cur.select((groupCols ++ valueCols).map(col): _*).count()
      if (n <= localLimit)
        localBoundsPlan(df, cur, groupCols, valueCols, k, dropNullKeys)
      else
        distributedPasses(df, cur, groupCols, valueCols, k, dropNullKeys,
          exact, knownCount = Some(n))
    } else
      distributedPasses(df, cur, groupCols, valueCols, k, dropNullKeys,
        exact, knownCount = None)
  }

  /** The distributed per-pass plan: one eager percentile aggregate per
    * value column, each rejoined as a literal broadcast bounds table.
    */
  private def distributedPasses(
      df: DataFrame,
      start: DataFrame,
      groupCols: Seq[String],
      valueCols: Seq[String],
      k: Double,
      dropNullKeys: Boolean,
      exact: Boolean,
      knownCount: Option[Long]): DataFrame = {
    // Exact-bounds strategy is SIZE-DISPATCHED (strategy choice only —
    // both strategies are bit-identical by construction, A/B-spec'd):
    // the value-buffering percentile aggregate is the faster form at
    // moderate scale (measured 10×/6M: 3.6 s vs the sort machinery's
    // 8.4 s — the rank path pays a checkpoint-sort per pass), but it
    // holds EVERY group value in a boxed aggregation buffer, so one hot
    // group of ~100M+ rows is an executor OOM. Past
    // `spark.graft.iqr.bufferedBoundsLimit` total rows (default 50M —
    // a memory-safety valve like dfCap, sized so even a single
    // all-one-group input stays comfortably under executor heap) the
    // bounds come from order statistics over a scalable rank
    // ([[sortedBounds]]): bounded task memory at ANY group size, the
    // exact form's 100 TB shape. Without a probe count (dispatch opted
    // out) the buffered aggregate runs.
    val bufferedLimit = df.sparkSession.conf
      .get("spark.graft.iqr.bufferedBoundsLimit", "50000000").toLong
    val useSort = exact && bufferedLimit > 0 && knownCount.exists(_ > bufferedLimit)
    var cur = start
    for (c <- valueCols) {
      // The per-group bounds are <= #groups rows: collect them eagerly and
      // rejoin as a literal LocalRelation. Keeping them lazy instead would
      // embed pass N-1's whole join subtree inside pass N's aggregate —
      // the final plan then re-executes every earlier pass per pass
      // (O(cols²) scans); with literal bounds the final plan is one scan
      // plus a linear chain of broadcast-local joins and filters.
      val boundsLocal =
        if (useSort) sortedBounds(df, cur, groupCols, c, k)
        else {
          // Both quartiles come from ONE percentile(col, array(...))
          // aggregate so the group's values are buffered (exact) /
          // sketched (approx) once, not once per quantile. The exact
          // form buffers EVERY group value in its aggregation buffer —
          // the memory pathology the sort strategy exists to avoid.
          val pcts =
            if (exact) expr(s"percentile($c, array(0.25D, 0.75D))")
            else expr(s"approx_percentile($c, array(0.25D, 0.75D), 10000)")
          val bounds = cur
            .groupBy(groupCols.map(col): _*)
            .agg(pcts.as("__qs"), count(col(c)).as("__cnt"))
            .withColumn("__q1", element_at(col("__qs"), 1).cast("double"))
            .withColumn("__q3", element_at(col("__qs"), 2).cast("double"))
            .drop("__qs")
            .withColumn("__ub",
              col("__q3") + lit(k) * (col("__q3") - col("__q1")))
          localFrame(df, bounds.collect().toList, bounds.schema)
        }
      cur = joinBounds(cur, boundsLocal, groupCols, dropNullKeys)
        .filter(
          col("__cnt") < 2 ||
            (col("__q3") - col("__q1")) === 0.0 ||
            (col(c).isNotNull && col(c) <= col("__ub")))
        .drop("__q1", "__q3", "__cnt", "__ub")
    }
    cur.select(df.columns.map(col).toIndexedSeq: _*) // using-column joins move keys first; restore input order
  }

  /** Driver-side sequential bounds replay over an input the caller has
    * already count-probed under the dispatch limit. The fetch is a
    * plain parallel collect (no limit node, no CollectLimit waves);
    * together with the caller's count, the under-limit path executes
    * the upstream twice — callers with expensive upstream plans should
    * cache the input, as the scaladoc already directs.
    */
  private def localBoundsPlan(
      df: DataFrame,
      cur: DataFrame,
      groupCols: Seq[String],
      valueCols: Seq[String],
      k: Double,
      dropNullKeys: Boolean): DataFrame = {
    val gArity = groupCols.length
    // Values are cast to double UP FRONT: Spark's Percentile converts
    // each buffered key with toDoubleValue before interpolating, and the
    // distributed filter's `value <= __ub` promotes the value to double —
    // casting at the probe is the same arithmetic, one conversion earlier.
    val probeCols = groupCols.map(col) ++ valueCols.map(c => col(c).cast("double"))
    val sample = cur.select(probeCols: _*).collect()

    def keyOf(r: Row): List[Any] = List.tabulate(gArity)(r.get)
    // Per pass, per pass-start group: (skip, ub). skip folds the
    // cnt<2 / IQR==0 guards with the exact double arithmetic the
    // Catalyst filter would use ((q3-q1) == 0.0 on primitives).
    val passBounds = Array.fill(valueCols.length)(
      scala.collection.mutable.HashMap.empty[List[Any], (Boolean, Any)])
    var rows: Array[Row] = sample
    var ci = 0
    while (ci < valueCols.length) {
      val vIdx = gArity + ci
      val byKey = rows.groupBy(keyOf)
      byKey.foreach { case (key, rs) =>
        val vals = rs.iterator.filter(!_.isNullAt(vIdx)).map(_.getDouble(vIdx)).toArray
        if (vals.length == 0) passBounds(ci)(key) = (true, null)
        else {
          java.util.Arrays.sort(vals)
          val q1 = exactPercentile(vals, 0.25)
          val q3 = exactPercentile(vals, 0.75)
          val skip = vals.length < 2 || (q3 - q1) == 0.0
          passBounds(ci)(key) = (skip, q3 + k * (q3 - q1))
        }
      }
      rows = rows.filter { r =>
        val (skip, ub) = passBounds(ci)(keyOf(r))
        skip || (!r.isNullAt(vIdx) &&
          compareDoubles(r.getDouble(vIdx), ub.asInstanceOf[Double]) <= 0)
      }
      ci += 1
    }
    // One combined literal bounds table over the PASS-0 groups (every
    // group present in `cur` has a row, so the inner join below keeps
    // all rows and the filter does the dropping). Groups eliminated
    // before pass N carry skip=true there — their rows are already
    // condemned by an earlier conjunct.
    val allKeys = passBounds.headOption.map(_.keySet)
      .getOrElse(sample.iterator.map(keyOf).toSet)
    val boundsSchema = StructType(
      groupCols.map(g => cur.schema(cur.schema.fieldIndex(g))) ++
        valueCols.indices.flatMap(i => Seq(
          StructField(s"__skip_$i", BooleanType),
          StructField(s"__ub_$i", DoubleType))))
    val boundsRows = allKeys.iterator.map { key =>
      val passVals = valueCols.indices.flatMap { i =>
        val (skip, ub) = passBounds(i).getOrElse(key, (true, null))
        Seq[Any](skip, if (skip) null else ub)
      }
      Row.fromSeq(key ++ passVals)
    }.toList
    val boundsLocal = localFrame(df, boundsRows, boundsSchema)
    val keep = valueCols.zipWithIndex.map { case (c, i) =>
      col(s"__skip_$i") || (col(c).isNotNull && col(c) <= col(s"__ub_$i"))
    }.reduce(_ && _)
    joinBounds(cur, boundsLocal, groupCols, dropNullKeys)
      .filter(keep)
      .select(df.columns.map(col).toIndexedSeq: _*)
  }

  /** Exact per-group quartile bounds via order statistics over a
    * scalable rank — the past-`bufferedBoundsLimit` form of the exact
    * strategy. The value-buffering `percentile` aggregate holds EVERY
    * group value in its aggregation buffer (a boxed value→count map):
    * faster at moderate scale (measured at 6M rows: 3.6 s buffered vs
    * 8.4 s here — this path pays a checkpoint-sort per pass), but one
    * hot group of ~100M+ rows is an executor OOM, which is why size
    * dispatches to this form. This path never materializes a group:
    * rank the non-null
    * values by (groupCols, value) with [[ScalableRank.withRowNumber]]
    * (range exchange + partition-local sort — nothing data-sized on one
    * task), take per-group bases/counts from one keyed aggregate, pick
    * the ≤4 order statistics per group by a broadcast rank join, and
    * interpolate on the driver with the same bit-exact arithmetic as
    * the buffered aggregate ([[interpolate]] — same order statistics,
    * same FP expression, so the strategies are bit-identical by
    * construction; the A/B spec pins it). Everything collected is
    * bounded by #groups — the same broadcastable-bounds contract the
    * buffered path already carries.
    *
    * Ties in `(groupCols, value)` leave the rank order arbitrary, which
    * is harmless: equal-rank candidates carry equal VALUES (the only
    * compare-equal-but-bit-distinct doubles are ±0.0 — see
    * [[exactPercentile]]).
    */
  private def sortedBounds(
      df: DataFrame,
      cur: DataFrame,
      groupCols: Seq[String],
      c: String,
      k: Double): DataFrame = {
    val gArity = groupCols.length
    def keyOf(r: Row): List[Any] = List.tabulate(gArity)(r.get)
    // group census: EVERY group present in cur, with its non-null count
    // (keyed partial agg — a zero-non-null group must still emit a
    // bounds row or the inner bounds join would drop its rows, where
    // the cnt<2 guard should keep them)
    val census = cur.groupBy(groupCols.map(col): _*)
      .agg(count(col(c)).as("__cnt")).collect().toList
    val nn = cur.filter(col(c).isNotNull)
      .select((groupCols.map(col) :+ col(c).cast("double").as("__v")): _*)
    val ranked = ScalableRank.withRowNumber(
      nn, groupCols.map(col) :+ col("__v"), "__gr")
    val bases = ranked.groupBy(groupCols.map(col): _*)
      .agg(min(col("__gr")).as("__base")).collect()
      .map(r => keyOf(r) -> r.getLong(gArity)).toMap
    val cnts = census.iterator
      .map(r => keyOf(r) -> r.getLong(gArity)).toMap
    // the ≤4 global ranks per group that carry its quartile order stats
    val targets = scala.collection.mutable.LinkedHashSet.empty[Long]
    def statRanks(base: Long, n: Long, p: Double): (Double, Long, Long) = {
      val position = (n - 1).toDouble * p
      val lower = math.floor(position).toLong
      val higher = math.ceil(position).toLong
      (position, base + lower, base + higher)
    }
    bases.foreach { case (key, base) =>
      val n = cnts(key)
      Seq(0.25, 0.75).foreach { p =>
        val (_, lo, hi) = statRanks(base, n, p)
        targets += lo; targets += hi
      }
    }
    val spark = df.sparkSession
    import spark.implicits._
    val valueAt: Map[Long, Double] =
      if (targets.isEmpty) Map.empty
      else ranked
        .join(broadcast(targets.toSeq.toDF("__gr")), Seq("__gr"))
        .select(col("__gr"), col("__v")).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val boundsSchema = StructType(
      groupCols.map(g => cur.schema(cur.schema.fieldIndex(g))) ++ Seq(
        StructField("__cnt", org.apache.spark.sql.types.LongType),
        StructField("__q1", DoubleType),
        StructField("__q3", DoubleType),
        StructField("__ub", DoubleType)))
    val rows = census.map { r =>
      val key = keyOf(r)
      val cnt = cnts(key)
      val qs: Seq[Any] =
        if (cnt == 0) Seq(null, null, null)
        else {
          val base = bases(key)
          def statAt(p: Double): Double = {
            val (position, loRank, hiRank) = statRanks(base, cnt, p)
            interpolate(position, loRank - base, hiRank - base,
              valueAt(loRank), valueAt(hiRank))
          }
          val q1 = statAt(0.25)
          val q3 = statAt(0.75)
          Seq(q1, q3, q3 + k * (q3 - q1))
        }
      Row.fromSeq(key ++ (cnt +: qs))
    }
    localFrame(df, rows, boundsSchema)
  }

  /** The shared interpolation tail of Spark's `Percentile.getPercentile`
    * (see [[exactPercentile]]): lower/higher are 0-based order-statistic
    * indices, vLo/vHi their values.
    */
  private[operators] def interpolate(
      position: Double, lower: Long, higher: Long,
      vLo: Double, vHi: Double): Double =
    if (higher == lower) vLo
    else if (java.lang.Double.doubleToLongBits(vHi) ==
        java.lang.Double.doubleToLongBits(vLo)) vLo
    else (higher - position) * vLo + (position - lower) * vHi

  /** Bit-identical replay of Spark's exact `Percentile.getPercentile`
    * over an ascending-sorted non-empty array of non-null doubles:
    * position = (n-1)·p; with lower = ⌊position⌋ and higher = ⌈position⌉,
    * the result is arr(lower) when the position is integral or both
    * order statistics are the same key, else
    * (higher−position)·arr(lower) + (position−lower)·arr(higher) — the
    * exact FP expression, NOT the algebraically-equal lo + frac·(hi−lo).
    * Spark's buffer is a value→count map whose binarySearchCount(lower+1)
    * is precisely the 0-based order statistic, so direct array indexing
    * is the same lookup; the same-key branch mirrors the boxed-equality
    * check (bit equality — after java.util.Arrays.sort, equal-bit
    * duplicates are adjacent, and the only compare-equal-but-bit-distinct
    * doubles are ±0.0, which no upstream of ours produces).
    */
  private[operators] def exactPercentile(sorted: Array[Double], p: Double): Double = {
    val position = (sorted.length - 1).toDouble * p
    val lower = math.floor(position).toLong
    val higher = math.ceil(position).toLong
    interpolate(position, lower, higher,
      sorted(lower.toInt), sorted(higher.toInt))
  }

  /** Catalyst's double comparison (`SQLOrderingUtil.compareDoubles`):
    * ±0.0 compare equal, NaN is greatest, NaN equals NaN.
    */
  private[operators] def compareDoubles(x: Double, y: Double): Int =
    if (x == y) 0 else java.lang.Double.compare(x, y)

  /** The bounds join both paths share. dropNullKeys=false must join
    * NULL-SAFELY: groupBy emits a null-key bounds row, but a
    * using-columns inner join never matches null = null — the
    * kept-null-keys promise would silently drop those rows anyway.
    */
  private def joinBounds(
      cur: DataFrame,
      boundsLocal: DataFrame,
      groupCols: Seq[String],
      dropNullKeys: Boolean): DataFrame =
    if (dropNullKeys) cur.join(broadcast(boundsLocal), groupCols, "inner")
    else {
      val bl = groupCols.foldLeft(boundsLocal)(
        (d, g) => d.withColumnRenamed(g, s"__bk_$g"))
      cur.join(broadcast(bl),
          // reduceOption: empty groupCols degenerates to the one-row
          // global-bounds cross join (lit(true)), matching the old
          // using-columns behavior instead of throwing
          groupCols.map(g => col(g) <=> col(s"__bk_$g"))
            .reduceOption(_ && _).getOrElse(lit(true)),
          "inner")
        .drop(groupCols.map(g => s"__bk_$g"): _*)
    }

  private def localFrame(df: DataFrame, rows: List[Row], schema: StructType): DataFrame =
    df.sparkSession.createDataFrame(
      new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      schema)
}
