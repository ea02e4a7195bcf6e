package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Shared graph machinery for the co-purchase family (q143/q165/q223/
  * q245/q261/q307/q339 all analyze the parts-sharing-an-order graph) —
  * ONE edge-list definition plus the SCALE-DISPATCHED triangle/k-core
  * defaults (the `LinkPrediction.topK` pattern: measure the exact
  * algorithm's resource with an aggregation the query needs anyway, then
  * route exact vs a deterministic sampled estimator).
  *
  * Triangle tiers ([[triangleStats]] for q143/q342,
  * [[triangleDegreeStats]] for q165). Both open with one aggregate over
  * the edge list that counts it and checks the input contract (u < v,
  * no null id), then route:
  *
  *  - ≤ 500k edges (the `cc.localLimit` scale) → the pairs are collected
  *    once and [[localTriangleCensus]] answers on the driver. At this
  *    size the Spark plans are bound by job launches (16–24 jobs for a
  *    graph of ~10⁵ edges), not by the wedge work, which the
  *    degree-ordered array count does in milliseconds;
  *  - above → the distributed plans: q143's id-oriented
  *    [[exactTriangleCount]], q165's degree-oriented wedge join.
  *
  * On either tier, a wedge mass Σ deg² over
  * `spark.graft.graph.wedgeMassLimit` routes n_triangles to the sampled
  * estimator below (run on Spark; n_nodes/n_edges/max_outdeg stay exact).
  *
  * The estimator is DOULION-shaped (Tsourakakis et al., KDD'09: count
  * triangles on an edge-sampled graph, rescale by the inverse sampling
  * probability cubed) but with DETERMINISTIC hash selection instead of
  * coin flips: an edge survives iff hash60(u ':' v) % p == 0. That keeps
  * the whole estimate a pure function of the data — reproducible across
  * runs, engines, and partitionings — which is what lets the sampled
  * branch be declared and HASH-oracled (DuckDB runs the identical
  * selection), not just contract-gated.
  *
  * Scale shape of the sampled branch: the sample pass is one codegen'd
  * per-row predicate (no shuffle); every downstream join/agg then runs on
  * m/p edges and ~mass/p² wedges — the knob that keeps the wedge-bound
  * family alive at 100 TB where exact enumeration's Σ deg² work is the
  * query. Estimator error is O(√(p³/T)) relative on T triangles — at the
  * harness graph (T ≈ 4·10⁵, p = 4) under 1%.
  */
object Graphs {

  /** Default keep-1-in-p for the sampled branches (p = 4: 16× less wedge
    * mass, <1% triangle error at harness scale; overridable via conf
    * `spark.graft.graph.sampleMod`).
    */
  val defaultSampleMod: Int = 4

  /** Doubled-edge-count ceiling for the exact k-core peel (measured:
    * 24M doubled edges peel in ~51 s single-box at 10× harness scale —
    * safe but the slowest roster entry there; 10⁷ routes that regime to
    * the sampled peel while every harness-scale correctness run stays
    * exact). Overridable via conf `spark.graft.graph.kcoreEdgeLimit`.
    */
  val defaultKcoreEdgeLimit: Long = 10000000L

  /** Edge-list size at or under which the triangle queries count on the
    * driver (see the object doc). 500k pairs are ~8 MB collected; the
    * sf0.01 graph (115,729 edges) is local, sf0.1 (1.2M) distributed.
    */
  private val LocalEdgeLimit: Long = 500000L

  /** Oriented (u < v), distinct co-purchase edges: parts that share an
    * order. Checkpointed — every caller fans out over it (degree aggs,
    * wedge joins, peel rounds), and the co-occurrence stage is the
    * expensive floor under the whole graph family, so its shuffle count
    * matters: ONE groupBy(order) collects each order's distinct part
    * set (collect_set — per-order sets are small: order fan-in, not
    * corpus size), pairs come from a posexplode + sorted-slice explode
    * (two Generate operators; i < j over the sorted set ⇒ u < v by
    * construction — measured faster than both the nested-lambda
    * comprehension and the old self-join), and one distinct dedups
    * across orders. Two shuffles total — the former distinct(o,p) →
    * self-join(o) → distinct(u,v) plan paid three exchanges plus the
    * join build for the identical output.
    *
    * `Iterate.ckpt`, NOT a bare localCheckpoint: localCheckpoint
    * preserves the ORIGIN plan's size estimate on the LogicalRDD, and
    * the groupBy+explode origin estimates small where the old
    * join-of-distincts estimated huge — downstream wedge joins then
    * re-planned around a fictional broadcast-sized edge list and ran
    * ~70% slower (measured: triangle join 3.5 s vs 2.1 s over the SAME
    * materialized rows). The fresh-leaf default stats + AQE runtime
    * sizes restore the intended shuffle-join plans.
    *
    * Honest caveat: a pathological order touching millions of parts
    * would make one row's set huge; order fan-in is bounded in every
    * real purchase ledger (≤7 in TPC-H), and the pair mass Σ|parts|²
    * is the same in either plan.
    */
  def coPurchaseEdges(lineitem: DataFrame): DataFrame =
    graft.Iterate.ckpt(
      lineitem
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .groupBy("o").agg(expr("array_sort(collect_set(p))").as("ps"))
        .select(posexplode(col("ps")).as(Seq("i", "u")), col("ps"))
        .select(col("u"),
          explode(expr("slice(ps, i + 2, size(ps) - i - 1)")).as("v"))
        .distinct())

  /** DuckDB CTE fragment building the same edge list (`op`, `e`) — the
    * oracle-side twin of [[coPurchaseEdges]], kept next to it so the two
    * dialects cannot drift.
    */
  val coPurchaseEdgesDuck: String =
    """op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |        e AS (
      |          SELECT DISTINCT a.p AS u, b.p AS v
      |          FROM op a JOIN op b ON a.o = b.o AND a.p < b.p)""".stripMargin

  /** Both directions of an oriented edge list (the adjacency view the
    * degree/peel/BFS passes read).
    */
  def doubled(e: DataFrame): DataFrame =
    e.select("u", "v").unionAll(e.select(col("v").as("u"), col("u").as("v")))

  /** Deterministic 1-in-p edge sample: keep iff hash60(u ':' v) % p == 0.
    * Pure per-row codegen predicate — the sample never shuffles.
    */
  def sampleEdges(e: DataFrame, p: Int): DataFrame =
    e.filter(expr(samplePredSpark(p)))

  def samplePredSpark(p: Int): String =
    s"${TextOps.hash60Spark("concat(cast(u as string), ':', cast(v as string))")} % $p = 0"

  /** DuckDB mirror of [[samplePredSpark]]. */
  def samplePredDuck(p: Int): String =
    s"${TextOps.hash60Duck("CAST(u AS VARCHAR) || ':' || CAST(v AS VARCHAR)")} % $p = 0"

  /** Exact oriented triangle count — q143's plan: each triangle is ONE
    * (a→b, b→c, a→c) row under the u<v orientation, two equi-joins, and
    * the closing join is SHUFFLE_HASH-hinted so the wedge stream (the
    * Σ deg² mass) is hash-probed against the edge list, never sorted.
    *
    * Bloom pre-filter on the closing join: triangles << wedges — at
    * sf0.1 the wedge stream is 49.3M rows against a 1.2M-row edge list, and all but the closing ~0.5% of it
    * was shuffled into the closing join only to find no match. A
    * broadcast Bloom filter over xxhash64(u,v) of the edge list
    * (~1.4 MB at fpp 1% for 1.2M edges) drops definitely-non-closing
    * wedges BEFORE the exchange. No false negatives ⇒ the count is
    * IDENTICAL (false positives only cost a little residual shuffle),
    * and the filter bitset is an order-independent OR-merge, so the
    * result stays deterministic under any task order. Measured at
    * sf0.1: closing join 2.05–2.99 s → bloom build 0.57 s + filtered
    * join 1.08–1.36 s, counts equal.
    *
    * Scale gate: past `spark.graft.graph.triangleBloomMaxEdges`
    * (default 10⁸ ≈ 115 MB of filter at 1% — broadcastable; billions
    * of edges would not be) the pre-filter is skipped and the plan is
    * the unfiltered join. `knownEdgeCount` lets callers that
    * already counted the edge list (triangleStats) avoid a second
    * count job; pass a NON-NEGATIVE count only for the exact frame
    * being joined.
    */
  def exactTriangleCount(e: DataFrame, knownEdgeCount: Long = -1L): Long = {
    val nEdges = if (knownEdgeCount >= 0) knownEdgeCount else e.count()
    val bp = closingBloomPred(e, nEdges, col("u"), col("v"),
      col("e1.u"), col("e2.v"))
    val n = e.as("e1").join(e.as("e2"), col("e1.v") === col("e2.u"))
      .filter(bp.pred)
      .join(e.as("e3").hint("SHUFFLE_HASH"),
        col("e1.u") === col("e3.u") && col("e2.v") === col("e3.v"))
      .count()
    bp.release()
    n
  }

  /** A closing-join pre-filter predicate plus its release handle:
    * callers invoke `release()` after the terminal action so each query
    * execution frees its filter instead of leaving it to the GC-driven
    * ContextCleaner (a bench rep would otherwise leak up to ~115 MB per
    * execution at the 10⁸-edge gate), and drops the probe's temp
    * function, so a long-lived session's function registry does not
    * grow with each build.
    */
  final case class BloomPred(pred: org.apache.spark.sql.Column,
      release: () => Unit)

  /** Shared closing-join Bloom pre-filter (see [[exactTriangleCount]]):
    * a broadcast Bloom over xxhash64(ku, kv) of `edges`, returned as a
    * predicate on the probe stream's (pu, pv). `lit(true)` (the
    * unfiltered join) when the edge list is empty or larger than
    * `spark.graft.graph.triangleBloomMaxEdges` — a multi-billion-edge
    * filter would not broadcast. No false negatives, order-independent
    * bitset merge: the downstream equi-join's result is identical and
    * deterministic either way.
    */
  def closingBloomPred(
      edges: DataFrame, nEdges: Long,
      ku: org.apache.spark.sql.Column, kv: org.apache.spark.sql.Column,
      pu: org.apache.spark.sql.Column, pv: org.apache.spark.sql.Column)
      : BloomPred = {
    val s = edges.sparkSession
    val bloomMax = s.conf.get(
      "spark.graft.graph.triangleBloomMaxEdges", "100000000").toLong
    if (nEdges > 0 && nEdges <= bloomMax) {
      val bf = edges.stat.bloomFilter(xxhash64(ku, kv), nEdges, 0.01)
      val bfB = s.sparkContext.broadcast(bf)
      // a codegen'd Catalyst probe, not a ScalaUDF: no boxing or UDF
      // bridge on the query's hottest stream
      val (probe, dropProbe) =
        graft.functions.BloomMightContain.column(s, bfB, xxhash64(pu, pv))
      BloomPred(probe, () => { dropProbe(); bfB.destroy(); () })
    } else BloomPred(lit(true), () => ())
  }

  /** Wedge mass Σ deg(n)² of the doubled graph — the exact enumeration's
    * resource, measured with one keyed agg + one scalar agg.
    */
  def wedgeMass(e: DataFrame): Long = {
    val deg = doubled(e).groupBy("u").agg(count(lit(1)).as("dg"))
    Option(deg.agg(sum(col("dg") * col("dg"))).first().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
  }

  /** Exact census of a graph given as distinct u < v id pairs
    * (`us(i)`, `vs(i)`), all on the driver in primitive arrays:
    *
    *  - ids re-index densely (sorted distinct ids, binary search per
    *    endpoint), so ids past Int.MaxValue are fine;
    *  - the re-indexed pairs are sorted, which also finds duplicates;
    *  - each edge points from the lower to the higher (degree, id), the
    *    orientation q165 uses, so every out-degree is O(√m);
    *  - sorted CSR out-lists; for each node a, its out-neighbours are
    *    marked, and every out-out path a→b→c with c marked closes one
    *    triangle (Chiba–Nishizeki), each triangle counted once at its
    *    lowest-ranked vertex.
    *
    * Work is O(m log m + m^1.5). Throws IllegalArgumentException on a
    * pair with u >= v or a repeated pair.
    */
  def localTriangleCensus(us: Array[Long], vs: Array[Long]): TriangleCensus = {
    require(us.length == vs.length, "us and vs must have the same length")
    val m = us.length
    var i = 0
    val ids = {
      val all = java.util.Arrays.copyOf(us, 2 * m)
      System.arraycopy(vs, 0, all, m, m)
      java.util.Arrays.sort(all)
      var k = 0
      i = 0
      while (i < all.length) {
        if (k == 0 || all(i) != all(k - 1)) { all(k) = all(i); k += 1 }
        i += 1
      }
      java.util.Arrays.copyOf(all, k)
    }
    val n = ids.length
    // (index(u) << 32) | index(v): both indices are non-negative ints
    val pairs = new Array[Long](m)
    i = 0
    while (i < m) {
      if (us(i) >= vs(i)) throw new IllegalArgumentException(
        s"triangle input must be u < v pairs: got (${us(i)}, ${vs(i)})")
      pairs(i) = (java.util.Arrays.binarySearch(ids, us(i)).toLong << 32) |
        java.util.Arrays.binarySearch(ids, vs(i))
      i += 1
    }
    java.util.Arrays.sort(pairs)
    val deg = new Array[Int](n)
    i = 0
    while (i < m) {
      if (i > 0 && pairs(i) == pairs(i - 1)) throw new IllegalArgumentException(
        s"triangle input must be distinct pairs: (${ids((pairs(i) >>> 32).toInt)}, " +
          s"${ids(pairs(i).toInt)}) repeats")
      deg((pairs(i) >>> 32).toInt) += 1
      deg(pairs(i).toInt) += 1
      i += 1
    }
    // CSR out-lists under the (degree, index) orientation; index order
    // is id order, so this is q165's (degree, id) rule
    val off = new Array[Int](n + 1)
    val src = new Array[Int](m)
    val dst = new Array[Int](m)
    i = 0
    while (i < m) {
      val a = (pairs(i) >>> 32).toInt
      val b = pairs(i).toInt
      val aFirst = deg(a) < deg(b) || (deg(a) == deg(b) && a < b)
      src(i) = if (aFirst) a else b
      dst(i) = if (aFirst) b else a
      off(src(i) + 1) += 1
      i += 1
    }
    var maxOut = 0
    var wedgeMass = 0L
    i = 0
    while (i < n) {
      maxOut = math.max(maxOut, off(i + 1))
      wedgeMass += deg(i).toLong * deg(i)
      off(i + 1) += off(i)
      i += 1
    }
    val adj = new Array[Int](m)
    val fill = java.util.Arrays.copyOf(off, n)
    i = 0
    while (i < m) {
      adj(fill(src(i))) = dst(i)
      fill(src(i)) += 1
      i += 1
    }
    val mark = Array.fill(n)(-1)
    var triangles = 0L
    var a = 0
    while (a < n) {
      java.util.Arrays.sort(adj, off(a), off(a + 1))
      var j = off(a)
      while (j < off(a + 1)) { mark(adj(j)) = a; j += 1 }
      j = off(a)
      while (j < off(a + 1)) {
        val b = adj(j)
        var k = off(b)
        while (k < off(b + 1)) {
          if (mark(adj(k)) == a) triangles += 1
          k += 1
        }
        j += 1
      }
      a += 1
    }
    TriangleCensus(n.toLong, m.toLong, wedgeMass, maxOut.toLong, triangles)
  }

  /** What [[localTriangleCensus]] measures: node and edge counts, the
    * wedge mass Σ deg², the largest out-degree under the (degree, id)
    * orientation, and the exact triangle count.
    */
  final case class TriangleCensus(nNodes: Long, nEdges: Long,
      wedgeMass: Long, maxOutDeg: Long, triangles: Long)

  /** The triangle queries' opening job: ONE aggregate counts the edge
    * list and the pairs that break the u < v contract (a null id counts
    * as a break), and throws IllegalArgumentException on any. Distinct
    * pairs are the caller's duty on the distributed tier; the local
    * census checks them while it sorts. At or under `localEdgeLimit`
    * edges (0 turns the local tier off) the pairs are collected and
    * counted on the driver — Right(census); otherwise Left(edge count).
    */
  private def triangleDispatch(e: DataFrame,
      localEdgeLimit: Long): Either[Long, TriangleCensus] = {
    val row = e.agg(count(lit(1)),
      count_if(!coalesce(col("u") < col("v"), lit(false)))).first()
    val (m, bad) = (row.getLong(0), row.getLong(1))
    if (bad > 0) throw new IllegalArgumentException(
      s"triangle input must be u < v pairs: $bad of $m pairs have u >= v or a null id")
    if (localEdgeLimit <= 0 || m > localEdgeLimit) Left(m)
    else {
      val rows = e.select(col("u").cast("long"), col("v").cast("long")).collect()
      Right(localTriangleCensus(rows.map(_.getLong(0)), rows.map(_.getLong(1))))
    }
  }

  /** Wedge-mass limit and sample modulus: the explicit argument when
    * given (limit >= 0, mod > 0), else the session conf, else the default.
    */
  private def wedgeSettings(e: DataFrame, wedgeMassLimit: Long,
      sampleMod: Int): (Long, Int) = {
    val conf = e.sparkSession.conf
    val limit =
      if (wedgeMassLimit >= 0) wedgeMassLimit
      else conf.get("spark.graft.graph.wedgeMassLimit",
        LinkPrediction.defaultWedgeMassLimit.toString).toLong
    val p =
      if (sampleMod > 0) sampleMod
      else conf.get("spark.graft.graph.sampleMod",
        defaultSampleMod.toString).toInt
    (limit, p)
  }

  /** Triangle census (n_nodes, n_edges, n_triangles) of a distinct u < v
    * edge list — q143, and q342 with the limit pinned to 0. Tier by
    * edge count (see the object doc): the driver census at or under
    * `localEdgeLimit`, else one degree aggregate for n_nodes and the
    * wedge mass plus [[exactTriangleCount]]. n_nodes/n_edges are always
    * exact; the wedge mass routes n_triangles:
    *
    *  - mass ≤ `spark.graft.graph.wedgeMassLimit` (default 5·10⁸, the
    *    `LinkPrediction` ceiling) → the exact count of the tier;
    *  - above → DOULION on the deterministic 1-in-p sample: exact count
    *    on the sampled graph × p³ (each triangle survives with p⁻³).
    *    Semantics in this regime: an unbiased deterministic estimate
    *    (relative error ~√(p³/T)), the standard trade that keeps the
    *    wedge-bound count alive on a dense 100 TB graph.
    */
  def triangleStats(e: DataFrame, wedgeMassLimit: Long = -1L,
      sampleMod: Int = -1, localEdgeLimit: Long = LocalEdgeLimit): DataFrame = {
    val (limit, p) = wedgeSettings(e, wedgeMassLimit, sampleMod)
    def sampled = exactTriangleCount(sampleEdges(e, p).localCheckpoint()) *
      p.toLong * p * p
    val (nodes, edges, tri) = triangleDispatch(e, localEdgeLimit) match {
      case Right(c) =>
        (c.nNodes, c.nEdges, if (c.wedgeMass <= limit) c.triangles else sampled)
      case Left(edges) =>
        // n_nodes and the wedge mass are two moments of ONE degree
        // table: every node appears as `u` in the doubled edge set, so
        // count(deg) = |V|, and Σ deg² is the wedge mass
        val deg = doubled(e).groupBy("u").agg(count(lit(1)).as("dg"))
        val census = deg.agg(
          count(lit(1)).as("n"),
          sum(col("dg") * col("dg")).as("m")).first()
        val mass = Option(census.get(1)).map(_.asInstanceOf[Long]).getOrElse(0L)
        (census.getLong(0), edges,
          if (mass <= limit) exactTriangleCount(e, knownEdgeCount = edges)
          else sampled)
    }
    import e.sparkSession.implicits._
    Seq((nodes, edges, tri)).toDF("n_nodes", "n_edges", "n_triangles")
  }

  /** Degree-ordered triangle census (n_edges, n_triangles, max_outdeg)
    * of a distinct u < v edge list — q165. Edges orient low-(degree, id)
    * → high-(degree, id), so every out-degree is O(√m) whatever the
    * degree distribution; max_outdeg witnesses that bound. Same tiers
    * and wedge-mass routing as [[triangleStats]]; on the sampled branch
    * the 1-in-p sample gets its OWN degree orientation, and n_edges and
    * max_outdeg stay exact from the full graph's.
    */
  def triangleDegreeStats(e: DataFrame, wedgeMassLimit: Long = -1L,
      sampleMod: Int = -1, localEdgeLimit: Long = LocalEdgeLimit): DataFrame = {
    val (limit, p) = wedgeSettings(e, wedgeMassLimit, sampleMod)
    def sampled = {
      val sde = orient(sampleEdges(e, p).localCheckpoint())
      orientedTriangleCount(sde, sde.count()) * p.toLong * p * p
    }
    val (nEdges, tri, maxOut) = triangleDispatch(e, localEdgeLimit) match {
      case Right(c) =>
        (c.nEdges, if (c.wedgeMass <= limit) c.triangles else sampled, c.maxOutDeg)
      case Left(edges) =>
        val de = orient(e)
        val maxOut = Option(de.groupBy("s").agg(count(lit(1)).as("od"))
          .agg(max("od")).first().get(0))
          .map(_.asInstanceOf[Long]).getOrElse(0L)
        (edges,
          if (wedgeMass(e) <= limit) orientedTriangleCount(de, edges) else sampled,
          maxOut)
    }
    import e.sparkSession.implicits._
    Seq((nEdges, tri, maxOut)).toDF("n_edges", "n_triangles", "max_outdeg")
  }

  /** (s, t) edges oriented low-(degree, id) → high-(degree, id),
    * checkpointed: the wedge self-join reads it twice.
    */
  private def orient(e: DataFrame): DataFrame = {
    val deg = e.select(col("u").as("n"))
      .unionAll(e.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("dg"))
    val uFirst = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    e.join(deg.withColumnRenamed("n", "u").withColumnRenamed("dg", "du"), "u")
      .join(deg.withColumnRenamed("n", "v").withColumnRenamed("dg", "dv"), "v")
      .select(when(uFirst, col("u")).otherwise(col("v")).as("s"),
        when(uFirst, col("v")).otherwise(col("u")).as("t"))
      .localCheckpoint()
  }

  /** Exact triangle count over a degree-oriented (s, t) list of `nEdges`
    * edges. Each unordered out-pair enumerates ONCE (t1 < t2 — half the
    * Σ out-deg² mass of the both-orders form); the closing edge joins in
    * id-canonical form (x < y) so one equi-key catches whichever way the
    * orientation pointed it. As in [[exactTriangleCount]], the closing
    * join is SHUFFLE_HASH (the wedge stream is probed, never sorted) and
    * a Bloom filter over the closing edges drops non-closing out-pairs
    * before the exchange: the out-pair key (w1.t, w2.t) is already
    * ordered, matching (x, y).
    */
  private def orientedTriangleCount(de: DataFrame, nEdges: Long): Long = {
    val cDe = de.select(
      least(col("s"), col("t")).as("x"), greatest(col("s"), col("t")).as("y"))
    val bp = closingBloomPred(
      cDe, nEdges, col("x"), col("y"), col("w1.t"), col("w2.t"))
    val n = de.as("w1")
      .join(de.as("w2"),
        col("w1.s") === col("w2.s") && col("w1.t") < col("w2.t"))
      .filter(bp.pred)
      .join(cDe.hint("SHUFFLE_HASH"),
        col("x") === col("w1.t") && col("y") === col("w2.t"))
      .count()
    bp.release()
    n
  }

  /** k-core peel census (round, n_nodes, n_edges) over `rounds` rounds
    * with a SCALE-DISPATCHED graph: the doubled-edge count (the peel's
    * per-round work) routes
    *
    *  - ≤ `spark.graft.graph.kcoreEdgeLimit` (default 10⁷) → EXACT peel
    *    of the full graph at threshold `k` (the q245 oracle-truth form);
    *  - above → peel of the deterministic 1-in-p edge sample at
    *    threshold ⌈k/p⌉, edge counts rescaled ×p. Semantics in this
    *    regime: a degree-concentration estimate (sampled degrees are
    *    Binomial(deg, 1/p), so the k-core census is approximated by the
    *    ⌈k/p⌉-core of the sample — the p× work reduction that keeps the
    *    multi-round peel alive when the full edge list outgrows a box).
    *
    * DELTA-FRONTIER rounds (round-11 verdict item 1): the edge list is
    * checkpointed ONCE and never rewritten; the peel maintains only a
    * node-sized DEGREE-IN-THE-SURVIVING-GRAPH table, so each round is
    * driven by the REMOVED set (the frontier), not a full-graph
    * recompute:
    *
    *   removed = deg < k entries — one filter over the node-sized
    *             degree table (the old plan's full-edge groupBy is
    *             gone);
    *   dec     = STATIC edges with v removed this round, grouped by u
    *             — one broadcast-semi-join scan of the fixed edge list
    *             whose aggregated mass is the frontier's neighborhood
    *             (edges into previously-removed v's were already
    *             subtracted the round their v fell; u's outside the
    *             live degree table drop out of the merge below);
    *   deg'    = (deg ∖ removed) − dec, dropping newly isolated
    *             nodes — node-sized, broadcast-joined, the ONLY frame
    *             written per round.
    *
    * The old plan shuffled and REWROTE the full edge list through two
    * hash joins every round; this one's per-round cost is a shuffle-
    * free scan of the static edge list plus a node-table merge. The
    * census comes free from the degree invariant (n_nodes = live rows,
    * doubled edges = Σ deg — bit-identical to the old distinct/count
    * probes). After round one `removed` is frontier-sized, so every
    * join broadcasts — the shape a 100 TB peel needs: a
    * late-converging component drags only its own neighborhood.
    */
  def kcoreRounds(e: DataFrame, k: Int, rounds: Int,
      edgeLimit: Long = -1L, sampleMod: Int = -1): DataFrame =
    kcoreRoundsCounted(e, k, rounds, edgeLimit, sampleMod)._1

  /** As kcoreRounds, but also returns how many peel rounds actually
    * executed (a convergence-probe round counts — it runs the
    * removed-set filter) and the per-round removed-frontier sizes —
    * the early-exit + delta observability hooks GraphsKcoreSpec and
    * DeltaFrontierSpec pin.
    */
  private[graft] def kcoreRoundsCounted(e: DataFrame, k: Int, rounds: Int,
      edgeLimit: Long = -1L, sampleMod: Int = -1): (DataFrame, Int, Seq[Long]) = {
    val s = e.sparkSession
    val limit =
      if (edgeLimit >= 0) edgeLimit
      else s.conf.get("spark.graft.graph.kcoreEdgeLimit",
        defaultKcoreEdgeLimit.toString).toLong
    val p =
      if (sampleMod > 0) sampleMod
      else s.conf.get("spark.graft.graph.sampleMod",
        defaultSampleMod.toString).toInt
    // the dispatch probe is one count over the (checkpointed) oriented
    // edge list the query builds anyway
    val m = 2L * e.count()
    val (und, kk, scale) =
      if (m <= limit) (doubled(e).localCheckpoint(true), k, 1L)
      else (doubled(sampleEdges(e, p)).localCheckpoint(true),
        (k + p - 1) / p, p.toLong)
    // node-sized degree table; invariant: deg holds EXACTLY the
    // surviving nodes with ≥1 edge to another survivor, dg = that
    // degree. `und` stays the STATIC round-0 graph — only deg evolves.
    var deg = und.groupBy("u").agg(count(lit(1)).as("dg"))
      .localCheckpoint(true)
    def degCounts(): (Long, Long) = {
      val row = deg.agg(count(lit(1)).as("n"),
        coalesce(sum("dg"), lit(0L)).as("s")).first()
      (row.getLong(0), row.getLong(1))
    }
    val out = scala.collection.mutable.ArrayBuffer[(Int, Long, Long)]()
    var (nodes, edges) = degCounts()
    out += ((0, nodes, edges / 2 * scale))
    val frontierSizes = scala.collection.mutable.ArrayBuffer[Long]()
    var r = 1
    var executed = 0
    while (r <= rounds && out.size == r) {
      executed += 1
      // lazy view over the checkpointed deg — each use is a local scan
      val removed = deg.filter(col("dg") < kk).select("u")
      val nRemoved = removed.count()
      frontierSizes += nRemoved
      if (nRemoved == 0) {
        // fixpoint: nothing below threshold — every later round is a
        // no-op; emit the remaining fixed rows without any join work
        // (output-invariant w.r.t. the fixed-round oracle unroll)
        for (rr <- r to rounds) out += ((rr, nodes, edges / 2 * scale))
      } else {
        // degree decrements from the STATIC edge list: edges whose v
        // fell THIS round (v was live until now, so each such edge is
        // subtracted exactly once across the peel); rows whose u is
        // already dead vanish in the deg-side merge join below
        val dec = und
          .join(removed.withColumnRenamed("u", "v"), Seq("v"), "left_semi")
          .groupBy("u").agg(count(lit(1)).as("__dec"))
        deg = deg
          .join(removed, Seq("u"), "left_anti")
          .join(dec, Seq("u"), "left")
          .select(col("u"),
            (col("dg") - coalesce(col("__dec"), lit(0L))).as("dg"))
          .filter(col("dg") > 0) // newly isolated: no surviving edge
          .localCheckpoint(true)
        val (n2, e2) = degCounts()
        out += ((r, n2, e2 / 2 * scale))
        nodes = n2
        edges = e2
      }
      r += 1
    }
    import s.implicits._
    (out.toSeq.toDF("round", "n_nodes", "n_edges"), executed,
      frontierSizes.toSeq)
  }
}
