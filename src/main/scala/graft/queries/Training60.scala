package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.operators.{Graphs, Similarity}

/** Sixtieth wave — the round-8 verdict's scale-dispatch and persistence
  * closures, each declaring the branch a 100 TB run actually takes:
  *
  *  - q342: the DOULION triangle estimate — the routed form of q143's
  *    dispatcher above the wedge-mass limit, declared with the sampled
  *    branch FORCED and fully HASH-oracled (the 1-in-p edge selection
  *    is a deterministic hash, so DuckDB replays the identical sample
  *    and the estimate is a pure function of the data — stronger than a
  *    contract gate).
  *  - q343: the sampled k-core peel — q245's routed form above the
  *    edge limit (peel the 1-in-p sample at ⌈k/p⌉, edges rescaled ×p),
  *    same determinism argument, same full hash oracle.
  *  - q344: q318's sketch-boundary twin — Z-order vs linear layout
  *    scoring with `approx_percentile` slab boundaries instead of the
  *    two 63-point exact percentile aggs (the roster's last declared
  *    exact-percentile scale-killer), gated by the slab-population
  *    contract and the layout VERDICT (which must agree with the
  *    exact-boundary oracle).
  *  - q345: probe of a PERSISTED IVF-PQ index — codebooks + per-vector
  *    codes stored once as versioned snapshots (the 4× memory shrink
  *    artifact), probed with zero quantizer fits at query time;
  *    bit-identical to the in-query q112 form by the DeterministicKMeans
  *    integer argument, so q112's full SQL oracle is reused verbatim.
  */
object Training60 {
  private def t(s: SparkSession, d: String, n: String) = Tables(s, d, n)

  val defs: Seq[QueryDef] = Seq(

    // ---- DOULION triangle estimate (Tsourakakis et al., KDD'09, with
    // deterministic hash selection): keep an edge iff
    // hash60(u ':' v) % 4 = 0, count triangles EXACTLY on the sampled
    // graph (the q143 oriented SHUFFLE_HASH plan over m/4 edges and
    // ~mass/16 wedges), rescale ×4³ — each triangle survives with 4⁻³.
    // This is the branch Graphs.triangleStats routes to above
    // `spark.graft.graph.wedgeMassLimit`; declaring it with the limit
    // pinned to 0 makes the 100 TB form itself a hash-oracled roster
    // entry (n_nodes/n_edges stay exact — they are linear passes).
    // Estimator error ~√(p³/T): <1% on the harness graph's ~4·10⁵
    // triangles.
    QueryDef(
      "q342_triangle_doulion",
      (s, d) =>
        Graphs.triangleStats(
          Graphs.coPurchaseEdges(t(s, d, "lineitem")),
          wedgeMassLimit = 0L, sampleMod = 4),
      Some(s"""
        WITH ${Graphs.coPurchaseEdgesDuck},
        se AS (SELECT u, v FROM e WHERE ${Graphs.samplePredDuck(4)})
        SELECT (SELECT count(*)
                FROM (SELECT u AS n FROM e UNION SELECT v FROM e)) AS n_nodes,
               (SELECT count(*) FROM e) AS n_edges,
               64 * (SELECT count(*)
                     FROM se e1 JOIN se e2 ON e1.v = e2.u
                                JOIN se e3 ON e1.u = e3.u AND e2.v = e3.v)
                 AS n_triangles""")),

    // ---- sampled k-core peel: the branch Graphs.kcoreRounds routes to
    // above `spark.graft.graph.kcoreEdgeLimit` — peel the deterministic
    // 1-in-4 edge sample at threshold ⌈80/4⌉ = 20 for 6 rounds, report
    // edge counts rescaled ×4 (sampled degrees are Binomial(deg, 1/4),
    // so the 80-core census concentrates onto the 20-core of the
    // sample). Work per round is one keyed agg + two hash semi-joins
    // over m/4 edges — the 4× reduction that keeps the multi-round peel
    // alive when the full edge list outgrows a box. Deterministic
    // selection ⇒ full hash oracle (DuckDB unrolls the same 6 rounds on
    // the same sample).
    QueryDef(
      "q343_kcore_sampled",
      (s, d) =>
        Graphs.kcoreRounds(
          Graphs.coPurchaseEdges(t(s, d, "lineitem")),
          k = 80, rounds = 6, edgeLimit = 0L, sampleMod = 4),
      Some {
        val rounds = (1 to 6).map { r =>
          s"""keep$r AS MATERIALIZED (
             |  SELECT u FROM (SELECT u, count(*) AS dg FROM und${r - 1} GROUP BY u)
             |  WHERE dg >= 20),
             |und$r AS MATERIALIZED (
             |  SELECT und${r - 1}.u, und${r - 1}.v FROM und${r - 1}
             |  JOIN keep$r ka ON und${r - 1}.u = ka.u
             |  JOIN keep$r kb ON und${r - 1}.v = kb.u)"""
            .stripMargin
        }.mkString(",\n")
        val sel = (0 to 6).map(r =>
          s"SELECT CAST($r AS INT) AS round, " +
            s"(SELECT count(DISTINCT u) FROM und$r) AS n_nodes, " +
            s"(SELECT count(*) // 2 * 4 FROM und$r) AS n_edges")
          .mkString(" UNION ALL ")
        s"""
        WITH ${Graphs.coPurchaseEdgesDuck},
        se AS MATERIALIZED (
          SELECT u, v FROM e WHERE ${Graphs.samplePredDuck(4)}),
        und0 AS MATERIALIZED (
          SELECT u, v FROM se UNION ALL SELECT v AS u, u AS v FROM se),
        $rounds
        $sel ORDER BY round"""
      }),

    // ---- q318's production twin: Z-order vs linear layout quality
    // with SKETCH slab boundaries. The exact q318 stays oracle truth;
    // THIS is the plan that survives 100 TB: boundaries for BOTH
    // layouts come from ONE mergeable approx_percentile aggregation
    // (no global per-key value collection); bounding boxes AND slab
    // populations are folded on the driver from the same ≤ 2²⁰-row
    // (a, b, z, k) histogram q318 collects. Gates (the q294 sketch-contract discipline — sketch
    // outputs are merge-order-dependent, so the oracle pins exact
    // counts + contracts, not sketch values):
    //   slabs_ok — every slab's population is n/64 ± (n/500 + 8)
    //     (boundary rank error ≤ n/10000 at accuracy 10000; 10×+
    //     headroom, robust to merge order and boundary-value ties);
    //   zorder_wins — the layout DECISION from sketch-boundary areas,
    //     which must equal the oracle's exact-boundary verdict (the
    //     margin at harness scale is 2.5×, far beyond boundary jitter).
    QueryDef(
      "q344_zorder_layout_sketch",
      (s, d) => {
        // sketch-boundary scoring lives in operators/ZOrderLayout (ONE
        // mergeable approx_percentile agg fits both layouts' grids; the
        // slab-population contract rides the driver fold, all 64 slab
        // ids checked); ZOrderLayout.score dispatches here past
        // spark.graft.layout.exactLimit
        import graft.operators.ZOrderLayout
        ZOrderLayout.scoreSketch(ZOrderLayout.keyed(
            t(s, d, "lineitem"), "l_partkey", "l_suppkey"))
          .select("layout", "n_rows", "slabs_ok", "zorder_wins")
          .orderBy("layout")
      },
      Some {
        val qs = (1 to 63).map(i => i / 64.0).mkString(", ")
        val morton = (0 until 10).map(i =>
          s"(((pa >> $i) & 1) << ${2 * i}) + " +
            s"(((pb >> $i) & 1) << ${2 * i + 1})")
          .mkString(" + ")
        s"""
        WITH pm AS (
          -- pmod mirror of ZOrderLayout.keyed (q318 oracle discipline):
          -- DuckDB % is sign-preserving, Spark's pmod is not
          SELECT ((l_partkey % 1024) + 1024) % 1024 AS pa,
                 ((l_suppkey % 1024) + 1024) % 1024 AS pb
          FROM lineitem),
        keyed AS (
          SELECT pa AS a, pb AS b,
                 $morton AS z,
                 pa * 1024 + pb AS k
          FROM pm),
        zb AS (
          SELECT list_transform(quantile_cont(z, [$qs]), q -> round(q, 6)) AS bs
          FROM keyed),
        lb AS (
          SELECT list_transform(quantile_cont(k, [$qs]), q -> round(q, 6)) AS bs
          FROM keyed),
        za AS (
          SELECT CAST(sum(area) AS BIGINT) AS sum_area FROM (
            SELECT (max(a) - min(a) + 1) * (max(b) - min(b) + 1) AS area
            FROM (SELECT a, b, len(list_filter(zb.bs, e -> z > e)) AS slab
                  FROM keyed, zb) t
            GROUP BY slab) t2),
        la AS (
          SELECT CAST(sum(area) AS BIGINT) AS sum_area FROM (
            SELECT (max(a) - min(a) + 1) * (max(b) - min(b) + 1) AS area
            FROM (SELECT a, b, len(list_filter(lb.bs, e -> k > e)) AS slab
                  FROM keyed, lb) t
            GROUP BY slab) t2),
        nn AS (SELECT count(*) AS n FROM keyed)
        SELECT layout, n_rows, TRUE AS slabs_ok, zorder_wins FROM (
          SELECT 'zorder' AS layout, nn.n AS n_rows,
                 za.sum_area < la.sum_area AS zorder_wins
          FROM za, la, nn
          UNION ALL
          SELECT 'linear', nn.n, za.sum_area < la.sum_area
          FROM za, la, nn) u
        ORDER BY layout"""
      }),

    // ---- persisted IVF-PQ probe: the index artifacts (per-vector
    // coarse list + 4 subspace codes, the 4 codebooks, the coarse
    // centroids) are BUILT ONCE as versioned snapshots
    // (Similarity.buildIvfPqIndex — Sinks commit protocol) and the
    // declared query PROBES THE STORE: zero quantizer fits, zero full
    // vectors read at query time — the artifact a 100 TB ANN
    // deployment actually serves from (PQ's 4× memory shrink is
    // pointless if codebooks refit per query). DeterministicKMeans
    // integer math makes the stored-index probe bit-identical to the
    // in-query q112 form, so q112's full SQL oracle — coarse chain, 4
    // subspace chains, relational ADC tables, probe + rank replay — is
    // reused VERBATIM (same defs entry, zero drift). The snapshot root
    // is wiped per run so the version chain is deterministic.
    QueryDef(
      "q345_ivfpq_index_probe",
      (s, d) => {
        val root = java.nio.file.Paths.get(
          sys.props("java.io.tmpdir"),
          s"graft_ivfpqidx_${Integer.toHexString(d.hashCode)}").toString
        val rootFile = new java.io.File(root)
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
        }
        if (rootFile.exists()) rm(rootFile)
        val emb = t(s, d, "embeddings")
        Similarity.buildIvfPqIndex(emb, "vec_id", "embedding", root,
          version = 0L, nlist = 4, subspaces = 4, subDim = 16,
          codebook = 8, iters = 2)
        Similarity.probeIvfPqIndex(root,
          emb.filter(col("vec_id").isin(0L, 1L, 2L)),
          "vec_id", "embedding", k = 3, nprobe = 2)
      },
      Some(Training3.defs.find(_.name == "q112_ivf_pq_ann")
        .getOrElse(sys.error("missing q112 twin")).oracle
        .getOrElse(sys.error("q112 has no oracle")))),
  )
}
