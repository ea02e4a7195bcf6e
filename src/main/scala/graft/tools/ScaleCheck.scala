package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Empirical scale-up check: build a key-consistent N× copy of the
  * harness tables (fact keys shifted per replica so join multiplicities
  * stay realistic — duplicating keys verbatim would quadratically
  * inflate joins; dims stay as-is), then time representative queries at
  * 1× and N× on the same session. Near-linear growth (ideally sub-
  * linear wall-clock on idle cores) is the evidence a plan survives
  * scale-up; anything super-linear is a red flag to fix.
  *
  *   runMain graft.tools.ScaleCheck [sfDir] [factor] [namePrefixes]
  */
object ScaleCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map(_.toInt).getOrElse(10)
    // optional comma-separated name-prefix filter (dev loop: re-measure
    // just the queries being worked on)
    val only = args.lift(2).map(_.split(',').toSeq)
    val spark = graft.GraftSession.local()

    // content-fingerprinted key (graft.Stage.key): the q386 incident
    // proved the harness regenerates the parquet in place between
    // sessions — a hashCode-keyed _DONE cache then silently reuses a
    // replica built from the OLD tables. Generator changes still need
    // the `e` tag bump; source changes now invalidate automatically.
    val scalePrefix = s"graft_scale${factor}e_${graft.Stage.pathTag(sfDir)}_"
    val out = s"/tmp/$scalePrefix" +
      graft.Stage.key(sfDir, "lineitem", "orders", "customer", "part",
        "supplier", "nation", "region", "events", "documents", "embeddings")
    // retire THIS source's replicas from prior generations — each is
    // factor× the source; the pathTag scope keeps concurrent runs on
    // different sources from evicting each other mid-measurement
    graft.Stage.sweepSiblings("/tmp", scalePrefix,
      new java.io.File(out).getName)

    // key shift: large stride so replica keyspaces never collide
    val S = 1000000000L
    def shifted(name: String, keyCols: Seq[String], textSalt: Option[String] = None): DataFrame = {
      val base = spark.read.parquet(s"$sfDir/$name.parquet")
      (0 until factor).map { i =>
        var df = base
        keyCols.foreach(k => df = df.withColumn(k, col(k) + lit(i * S)))
        textSalt.foreach(t =>
          // prefix every WORD with a replica tag: shingle vocabularies
          // are disjoint across replicas, so the near-dup pair
          // structure stays per-replica realistic. (Salting only the
          // end of the text makes all replicas near-dups of each other
          // and measures pair-output explosion, not plan scaling.)
          df = df.withColumn(t,
            concat(lit(s"r${i}_"), regexp_replace(col(t), " ", s" r${i}_"))))
        df
      }.reduce(_ unionAll _)
    }

    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(out, "_DONE"))) {
      Map(
        "lineitem" -> shifted("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey")),
        "orders" -> shifted("orders", Seq("o_orderkey", "o_custkey")),
        "customer" -> shifted("customer", Seq("c_custkey")),
        "part" -> shifted("part", Seq("p_partkey")),
        "supplier" -> shifted("supplier", Seq("s_suppkey")),
        "documents" -> shifted("documents", Seq("doc_id"), textSalt = Some("text")),
        "embeddings" -> shifted("embeddings", Seq("vec_id")),
        "region" -> spark.read.parquet(s"$sfDir/region.parquet"),
        "nation" -> spark.read.parquet(s"$sfDir/nation.parquet"),
      ).foreach { case (n, df) =>
        df.repartition(16).write.mode("overwrite").parquet(s"$out/$n.parquet")
      }
      // events: replicate with user_id/event_id shifted per replica (ts
      // is deliberately NOT shifted — 10× users over the same time span
      // is how event traffic actually scales). Every events query in the
      // roster is user- or id-keyed, so per-replica session/funnel/run
      // structure stays realistic: each replica contributes its own
      // disjoint users with the original per-user gap patterns. Read via
      // Tables (ts footer-encoding normalization), written back as plain
      // TIMESTAMP — which Tables passes through on the re-read.
      val eventsBase = graft.Tables(spark, sfDir, "events")
      (0 until factor).map { i =>
        eventsBase
          .withColumn("event_id", col("event_id") + lit(i * S))
          .withColumn("user_id", col("user_id") + lit(i * S))
      }.reduce(_ unionAll _)
        .repartition(16).write.mode("overwrite").parquet(s"$out/events.parquet")
      java.nio.file.Files.createFile(java.nio.file.Paths.get(out, "_DONE"))
    }

    val queries = Seq(
      "q01_pricing_summary", "q03_revenue_by_nation", "q06_outer_join_agg",
      "q07_window_topk", "q22_iqr_outlier_filter", "q45_minhash_bands",
      "q47_ngram_jaccard", "q49_cosine_topk", "q61_hash_sample",
      "q72_bloom_semi_join", "q74_bm25", "q85_interval_join",
      "q491_interval_overlap",
      "q105_line_dedup", "q109_pagerank", "q112_ivf_pq_ann",
      "q115_dup_spans", "q117_unigram_surprisal", "q119_salted_agg",
      "q125_topk_perkey", "q126_bpe_encode", "q132_simhash_degree",
      "q133_cms_heavy_hitters", "q135_pii_redaction", "q136_char_entropy",
      "q137_negative_sampling", "q141_simhash60_degree",
      // events is replicated (user_id/event_id shifted per replica), so
      // the user-keyed event shapes are measured. q145 stays excluded:
      // part names are not salted, so its prefix blocks would grow
      // x-fold per replica — that measures the replication artifact (an
      // adversarial name distribution), not the plan; the q145 scaladoc
      // documents the LSH-blocking swap for that regime.
      // triangles stream Σ deg² wedge rows through the closing join —
      // SHUFFLE_HASH-hinted so the wedge stream is hash-probed, never
      // sorted, and q165 enumerates each unordered out-pair ONCE
      // against an id-canonical closing edge (half the mass of the
      // both-orders form). Measured isolated at 10×: q143 3.9×
      // (was 5.1×), q165 4.6× (was 7.0×) — linear wedge mass,
      // shuffle-IO bound; full table in SCALE_r07.md
      "q143_triangle_count", "q144_interpolate", "q146_ks_drift",
      // wave VII: fusion lists are rank-truncated before the join, PSI
      // is two passes + 10-row arithmetic, PMI fan-out is vocab-capped
      "q147_rrf_fusion", "q148_psi_drift", "q150_pmi_pairs",
      // wave VIII/IX: the event shapes are all user-keyed passes
      "q151_attribution", "q152_skyline", "q153_weighted_median",
      "q154_cusum_changepoint", "q156_hll_merge", "q157_benford",
      // degree-oriented triangles, to compare against q143's id-order
      "q165_triangle_degree",
      // waves X-XII: rank/concentration machines whose windows run over
      // dictionaries, the Zipf TakeOrdered vocabulary cut, and the
      // corpus-audit shapes (ESS one-agg, source-bounded vocab overlap,
      // checkpointed confusion matrix), plus the user-keyed event
      // profiles (A/B lift, day-of-week, dispersion). The r6 outlier
      // ratios for q174/q182 (2.8×/2.7×) did not reproduce on the
      // regenerated 10× dataset — re-measured 1.7×/2.2× (2026-08);
      // q174's midrank dictionary is price-valued and does NOT grow
      // under replication, q182's only data-sized pass is the
      // (source, word) distinct whose shuffle grows with the salted
      // vocabulary — both linear by construction.
      // q173 joined the roster in r11 when its exclusive-prefix midrank
      // moved onto the two-phase withPrefixSum (value-dictionary sized)
      "q173_mwu_auc",
      "q174_spearman", "q176_ab_test", "q177_concentration",
      "q178_zipf_slope", "q179_dow_profile", "q181_ess_weights",
      "q182_vocab_overlap", "q184_lang_kappa", "q186_event_dispersion",
      // wave XV: HRW fold is per-row compute into an 8-key agg; the
      // compaction window runs over file metadata; welford-merge is
      // one groupBy re-aggregated; q198's day dictionary stays the
      // same size at 10x (dates aren't shifted) so the rolling window
      // is constant and only the daily agg absorbs the growth.
      "q194_shard_rendezvous", "q196_compaction_plan",
      "q197_welford_merge", "q198_rolling_corr",
      // wave XVI: the lateral top-k prunes map-side (WindowGroupLimit)
      // before its one customer shuffle; the recursive frontier shrinks
      // 10x per round so 10x data adds one round; try_divide is
      // map-only into a 3-key agg; the null-safe join is key-sized
      // because both sides aggregate first; islands are ONE keyed
      // window pass (measured 1.7× at 10×). q200's measured 3.0× is
      // partly a replication artifact: shifted keys are 10-digit, so
      // every replica row walks ~1.7× more recursion levels than the
      // 1× original — the frontier still shrinks 10× per round.
      "q199_lateral_topk", "q200_recursive_rollup",
      "q201_interval_islands", "q202_listagg_top_langs",
      "q203_try_arithmetic", "q204_nullsafe_join",
      // wave XVII: the cross-source matrix and prefix join run over
      // documents (replicated with disjoint per-replica vocabularies,
      // so near-dup structure stays per-replica realistic); the gap
      // census is keyed aggs + one anti equi-join (measured 1.7×), TWA
      // one keyed window (1.4×); the prefix join derives per-row
      // codegen prefixes + candidate-bounded verify (4.8× at 10× —
      // sub-linear in the 10× posting mass; the multi-pass hashing of
      // the salted 10× vocabulary is the remaining linear cost).
      "q205_sequence_gaps", "q206_time_weighted_avg",
      "q207_cross_source_neardup", "q208_prefix_filter_join",
      // wave XVIII: q209/q211 keep their bounded query sets (vec_id<10,
      // first replica) so scoring grows linearly with the corpus.
      // q210/q212 use EVERY vector as a query — quadratic by
      // construction in the brute-force harness form — and are excluded
      // here; their production form feeds the same downstream joins
      // from an ANN candidate list (q50/q63), which is the linear path.
      "q209_maxsim_late_interaction", "q211_rocchio_rerank",
      // wave XIX: pruning stats and the price audit are lineitem/orders
      // shapes (one data-sized agg each); runs and the funnel are
      // user-keyed window/agg passes (measured 1.6× / 1.9× at 10×).
      "q213_minmax_pruning", "q214_event_runs",
      "q215_constrained_funnel", "q216_price_audit",
      // wave XX: coverage curve's data pass is the word count (vocab
      // grows ~10x with salted replicas but stays dictionary-sized);
      // the sampled join reads 1/16 of each replicated side; the diff
      // is one full-outer shuffle join.
      "q217_vocab_coverage", "q218_join_card_estimate",
      "q220_snapshot_diff",
      // wave XXI: postings filtered to the term set before any shuffle
      // (term df grows linearly with replicas); decile binning is the
      // EquiDepthBins broadcast-fold shape.
      "q221_conjunctive_search", "q222_source_decile_mix",
      // wave XXII: the wedge join is degree-capped and pair-shuffled at
      // mass-sized parallelism (measured 18.2× at 10×: 10× wedge mass +
      // the pair shuffle outgrowing one box's page cache, no OOM —
      // q231 at 2.8× is the sub-linear form); the disorder profile is
      // one keyed window pass (measured 1.9×).
      "q223_link_prediction", "q224_disorder_profile",
      // waves XXIII-XXIV: hashing census and budget curve are
      // dictionary shapes; containment rides the q47 join; the KMV
      // merge is keyed-window + TakeOrdered.
      "q225_feature_hashing", "q226_bottomk_sample_merge",
      "q227_containment_pairs", "q228_budget_fill",
      // wave XXV: the IVF-fed graph-cleanup twins run at the production
      // index setting here (nlist sized to the corpus at constant list
      // length, fixed nprobe budget — see the conf hook below); the
      // minhash link predictor's candidate mass is band-bucket-capped.
      "q229_mutual_knn_ivf", "q230_knn_audit_ivf",
      "q231_link_prediction_minhash",
      // wave XXVII: DSIR is a token explode into a 64-key agg + doc
      // re-agg; the projection audit's pair mass is bounded per
      // replica (|a−b| ≤ 500 under the 1e9 stride); CDC chunking is
      // keyed window + keyed aggs; the run audit windows are
      // partitioned by shard.
      "q235_dsir_importance", "q236_random_projection",
      "q237_cdc_chunk_dedup", "q238_shuffle_run_audit",
      // wave XXVIII: the privacy audit is two keyed aggs + a broadcast
      // mix; the DP release and calibration bins are single
      // map-side-combinable aggs; PCA's data pass is ONE distributive
      // aggregate (iteration cost is dim², row-independent).
      "q239_l_diversity", "q240_dp_laplace",
      "q241_calibration_bins", "q242_power_iteration_pca",
      // wave XXIX: the SQL-UDF and FILTER aggregates are single
      // map-side passes; k-core is 6 rounds of keyed agg + semi-join
      // on a shrinking localCheckpoint'd edge set; session-variable
      // query is scan + one agg.
      "q243_sql_udf", "q244_filter_clause_agg", "q245_kcore",
      "q246_session_variables",
      // wave XXX: IVM's delta pass touches only the change mass;
      // the cluster split rides the banded pair join + CC; pHash is
      // per-row codegen + a bucket-capped equality join. (q247 is
      // write-heavy — it commits a snapshot chain per run — so its
      // ratio mixes storage and compute like q220.)
      "q247_incremental_agg", "q248_cluster_split", "q249_phash_neardup",
      // wave XXXI: skip-gram pair mass is ≤ 4× the subsampled token
      // mass (equi-join on doc,pos); target encoding is two
      // dictionary aggs broadcast back; KMV is distinct + a map-side-
      // pruned rank window over ≤2 types; the bucketed join pays its
      // one-time bucketed write then joins exchange-free (write-heavy
      // like q220/q247).
      "q250_skipgram_pairs", "q251_target_encoding",
      "q252_kmv_intersection", "q253_bucketed_join",
      // wave XXXII: contracts are per-table aggs + one FK equi-join;
      // quantile normalization is a keyed rank window + a dictionary
      // CDF broadcast fold (no data-sized unkeyed window); k-center is
      // k rounds of min-update + TakeOrdered(1); the centroid audit
      // is one explode-agg + broadcast argmin.
      "q254_data_contracts", "q255_quantile_normalize",
      "q256_kcenter_coreset", "q257_centroid_label_audit",
      // wave XXXIII: KW and JSD are dictionary machines after one
      // data-sized agg; the decomposition windows run over the day
      // dictionary; assortativity rides the q143 co-purchase edge
      // build with broadcast degree moments.
      "q258_kruskal_wallis", "q259_js_divergence",
      "q260_seasonal_decompose", "q261_assortativity",
      // wave XXXIV: pivot/unpivot runs over the month dictionary after
      // one keyed agg; the keyed trend is dims-broadcast + two-level
      // agg; sliding distinct is a 7× explode into one keyed distinct;
      // the path miner is a map-side-pruned keyed window.
      "q262_sql_pivot_unpivot", "q263_grouped_trend",
      "q264_sliding_distinct", "q265_top_paths",
      // wave XXXV: the isotonic fit and Shapley lattice are dictionary
      // machines after one keyed agg each; Wilson is a single agg
      // pass; PPR is the q109 join-agg rounds over the banded near-dup
      // edge list.
      "q266_isotonic_calibration", "q267_shapley_attribution",
      "q268_wilson_intervals", "q269_personalized_pagerank",
      // wave XXXVI: the conformal threshold is a bucket histogram +
      // one tiny in-bucket select; grid clustering is one cell-keyed
      // count then dictionary work; skew diagnosis is one explode-agg;
      // backoff scoring joins vocabulary-sized count tables.
      "q270_conformal_threshold", "q271_grid_density_clusters",
      "q272_skew_diagnosis", "q273_stupid_backoff",
      // wave XXXVII: greedy cover is 5 rounds of keyed count +
      // TakeOrdered(1); features/DiD are keyed aggs; recall eval rides
      // the bounded-query ANN paths.
      "q274_greedy_set_cover", "q275_point_in_time_features",
      "q276_diff_in_diff", "q277_ann_recall_eval",
      // wave XXXVIII: the RR mechanism and the fairness report are one
      // agg each; bucket digests one map-side keyed agg; LTV is two
      // keyed aggs + a cohort-keyed dictionary window.
      "q278_randomized_response", "q279_fairness_report",
      "q280_merkle_digest", "q281_cohort_ltv",
      // wave XXXIX: the joint histogram and the decomposition are one
      // keyed agg each; the absorption chain's data pass is one keyed
      // transition window; the backtest runs on the day dictionary.
      "q282_joint_histogram", "q283_markov_absorption",
      "q284_price_volume_mix", "q285_seasonal_naive_backtest",
      // wave XL: multiprobe rides the bounded-query LSH paths; the
      // entropy chain and the k-fold report are one keyed pass each;
      // GROUP BY ALL is one keyed agg.
      "q286_multiprobe_recall", "q287_markov_entropy_rate",
      "q288_group_by_all", "q289_stratified_kfold",
      // wave XLI: bands/dispersion/PR-sweep are one keyed-agg pass
      // each; the mover ranks run over the checkpointed part dim.
      "q290_daily_quantile_bands", "q291_dispersion_index",
      "q292_rank_movers", "q293_pr_curve",
      // the real BMP decode is one per-row mapPartitions pass
      "q51_multimodal_binary",
      // wave XLII: the sketch-grid KS/bands twins are two scans + a
      // bucket-table fold each (no sorts — the point of the twins);
      // the stored-index probe pays an untimed-in-deployment build
      // here (write-heavy like q220/q247) then probes exchange-light.
      "q294_ks_drift_tdigest", "q295_quantile_bands_tdigest",
      "q296_ann_index_probe",
      // wave XLIII: Otsu and WAV are per-row codec passes; Holt's data
      // pass is one keyed count (recurrence runs on the day
      // dictionary); bag ops are two value-keyed multiplicity shuffles.
      "q297_bmp_otsu", "q298_wav_features", "q299_holt_linear",
      "q300_bag_set_ops",
      // wave XLIV: MAD is two grouped-percentile passes over a 3-key
      // group; co-occurrence postings are capped to 20 broadcast words
      // before the pair join; LOCF is one keyed window pass; observe
      // rides a single noop-write scan.
      "q301_mad_outliers", "q302_cooccurrence_itemsets",
      "q303_locf_impute", "q304_observe_metrics",
      // wave XLV: map ops and chunking are per-row generate passes;
      // BFS is 4 keyed-min rounds over the checkpointed edge list;
      // PPS cumulates over the part dictionary only.
      "q305_map_type_ops", "q306_rag_chunking",
      "q307_bfs_distance", "q308_pps_systematic_sample",
      // wave XLVI: batch windows/sessions are one keyed agg each; URL
      // parse is per-row strings; bitmap distinct shuffles fixed-width
      // bitmap rows.
      "q309_batch_time_window", "q310_batch_session_window",
      "q311_url_functions", "q312_bitmap_distinct",
      // wave XLVII: both sketches are one mergeable agg over the data
      // plus the exact-witness agg; XML parse is per-row into a lang
      // dictionary; pipe syntax is the q01 shape.
      "q313_approx_top_k", "q314_hll_sketch_union",
      "q315_from_xml", "q316_sql_pipe_syntax",
      // wave XLVIII: phrase postings filter to two words pre-shuffle;
      // z-order slabs come from percentile boundaries + broadcast fold
      // (no global window); erasure is a keys-only semi-join chain.
      "q317_phrase_search", "q318_zorder_layout",
      "q319_gdpr_erasure_plan",
      // wave XLIX: format round-trips are write-then-agg (write-heavy
      // like q220); the streaming bands run one incremental sketch agg
      // + one batch gate fold.
      "q320_orc_roundtrip", "q321_jsonl_roundtrip",
      "q322_stream_quantile_bands",
      // wave L: SPC is one keyed count + day-dictionary windows; the
      // bitmap artifact shuffles fixed-width rows; canonicalization is
      // per-row parse into a canonical-keyed agg.
      "q323_spc_rules", "q324_bitmap_incremental_distinct",
      "q325_url_canonical_dedup",
      // wave LI: stratified PPS is one keyed window; the sliding HLL
      // scans data once into day sketches (the 7x explode is the exact
      // witness only).
      "q326_stratified_pps", "q327_sliding_hll_distinct",
      // wave LII: mode/rollup are single keyed aggs; percentile_disc
      // is one keyed rank window + conditional agg.
      "q328_mode_contract", "q329_percentile_disc", "q330_grouping_id",
      // wave LIII: U cumulates over the price dictionary; the sweep is
      // one keyed window + one agg.
      "q331_mann_whitney", "q332_watermark_sweep",
      // wave LIV: one Generate pass into a combinable count.
      "q333_custom_udtf",
      // wave LV: CSV round-trip is write-then-agg; NOT IN/EXISTS are
      // broadcast (null-aware) anti joins on a dim-sized probe.
      "q334_csv_quoting", "q335_not_in_null_semantics",
      // wave LVI: NDCG rides the bounded-query LSH/brute paths; the
      // HLL intersection is one sketch agg + exact-witness agg.
      "q336_ndcg_eval", "q337_hll_intersection",
      // wave LVII: the planner is 4 single-pass aggs; the Hill tail is
      // the co-purchase degree agg + a dictionary-sized log sum.
      "q338_encoding_planner", "q339_powerlaw_tail",
      // wave LVIII: index-only aggregate — ratio measures the (one-time)
      // gbd staging, the answer itself reads zero data bytes.
      "q340_gbd_agg_pushdown",
      // wave LIX: streaming exact distinct — fixed-width bitmap state.
      "q341_stream_bitmap_distinct",
      // wave LX: the sampled graph twins run on 1/4 of the edges (the
      // routed 100 TB forms); the z-order sketch twin is one mergeable
      // sketch agg + two slab passes; the PQ probe pays an untimed-in-
      // deployment build (write-heavy like q296) then probes codes.
      "q342_triangle_doulion", "q343_kcore_sampled",
      "q344_zorder_layout_sketch", "q345_ivfpq_index_probe",
      // wave LXI: HITS is 3 keyed aggs + broadcast maxes; the fuzzy and
      // proximity joins are generate-then-equi-join (variant / cell
      // keys); schema evolution is write-then-merged-scan (write-heavy
      // like q220); canonical selection rides the audited LSH pair
      // machinery + a cluster-keyed window. q348's measured 8.8× is a
      // replication-DENSITY artifact (10× points on the same fixed
      // 1024² grid ⇒ ~100× qualifying pairs — the q145 pattern): a
      // production deployment sizes the cell grid to hold constant
      // per-cell density as data grows (the q348 scaladoc's knob), so
      // the candidate mass per point stays bounded.
      "q346_hits", "q347_deletion_neighborhood_join",
      "q348_grid_proximity_join", "q349_schema_evolution_scan",
      "q350_dedup_canonical_quality",
      // wave LXII: the outer stream join stages 3 microbatch files then
      // runs watermarked join state (write-heavy staging + streaming
      // engine, like q80/q81); IVM terms are delta-sized joins; SCD2 is
      // one full-outer dim join; dependency checks are keyed aggs +
      // distinct anti-joins.
      "q351_stream_outer_join", "q352_ivm_join_view",
      "q353_scd2_build", "q354_dependency_discovery",
      // wave LXIII: the concurrency scan is keyed windows + a
      // dictionary-sized hour offset; chained streaming windows are
      // two stateful aggs (staging write-heavy like q351); Hamilton
      // runs on the language dictionary; TA touches 2 TakeOrdered
      // cuts + 2m re-scores.
      "q355_peak_concurrency", "q356_stream_two_level_window",
      "q357_largest_remainder_allocation", "q358_threshold_algorithm_topk",
      // wave LXIV: walks are W-keyed windows over frontier joins;
      // anomaly scoring is one literal-centroid codegen pass after the
      // bounded fit; modularity rides the capped LSH pair join.
      "q359_random_walks", "q360_kmeans_anomaly", "q361_graph_modularity",
      // wave LXV: IDENTIFIER is the q01 agg shape; the two-pass median
      // is two scans + a ~n/4096 bucket read; late-dim is two dim
      // joins; CDC apply stages 3 change batches through RocksDB state
      // (write-heavy staging like q351).
      "q362_sql_identifier_clause", "q363_twopass_exact_median",
      "q364_late_arriving_dim", "q365_stream_cdc_apply",
      // wave LXVI: the model sweep is 3 bounded fits + 3 codegen
      // scoring passes; VAD is one per-row generate pass; the
      // watermark-scoped dedup stages 5 microbatch files (write-heavy
      // staging like q351/q365).
      "q366_kmeans_model_selection", "q367_wav_vad_segments",
      "q368_stream_dedup_within_watermark",
      // wave LXVII: the MV rewrite answers from the kilobyte summary
      // (its ratio measures the one-time MV build); the guard pays the
      // base scan by design.
      "q369_materialized_view_rewrite", "q370_materialized_view_guard",
      // wave LXVIII: the bootstrap is one x32 generate into a 32-key
      // agg; anti-entropy is two keyed digest aggs + dictionary
      // compares; FK layering is 6 distinct anti-joins + driver peel.
      "q371_poisson_bootstrap_ci", "q372_merkle_antientropy",
      "q373_fk_topology_layers",
      // wave LXIX: recovery stages two stream runs + checkpoint
      // restart (staging-dominated like q351); DPP pays the one-time
      // partitioned fact write, then scans 2/5 partitions.
      "q374_stream_checkpoint_recovery", "q375_dynamic_partition_pruning",
      // wave LXX: EXECUTE IMMEDIATE is the q01 agg shape; dictionary
      // match is one automaton pass + a terms×partitions shuffle; the
      // regression is one joined aggregation pass + scalar Cramer.
      "q376_execute_immediate", "q377_dictionary_match",
      "q378_multiple_regression",
      // wave LXXI: the bitmap semijoin moves only kilobyte bitmaps
      // per bucket; the stump is two keyed aggs + a 60-row argmax;
      // the layout compare is three dictionary-keyed aggs off one
      // checkpointed scan.
      "q379_bitmap_index_semijoin", "q380_decision_stump",
      "q381_hilbert_layout",
      // wave LXXII: closeness is 4 keyed-min BFS rounds over pivot ×
      // node state; MG shuffles only k×partitions summary rows; the
      // skew join's cost IS the skew-split demonstration.
      "q382_closeness_sampled", "q383_misra_gries_heavy_hitters",
      "q384_aqe_skew_join",
      // wave LXXIII: branch merge is staging-write-dominated (3 full
      // snapshot writes + 2 diff joins); partition evolution pays the
      // one-time two-generation write then pruned scans; the pattern
      // match is one groupBy whose state is each user's own events.
      "q385_branch_merge_three_way", "q386_partition_evolution",
      "q387_sequence_pattern",
      // wave LXXIV: Bellman–Ford rounds keep node-sized state over the
      // cnt≥2-thinned graph; HT rides the q308 dictionary window; the
      // RLS view is two dimension-scan censuses.
      "q388_weighted_shortest_path", "q389_horvitz_thompson",
      "q390_row_policy_view",
      // wave LXXV: filtered kNN scores queries×corpus once and ranks
      // twice off the checkpointed sims; bucket pruning pays the
      // one-time bucketed write then reads ≤3/16 bucket files; lambda
      // is a staging write + one stream pass over the tail.
      "q391_filtered_knn", "q392_bucket_pruning",
      "q393_lambda_reconciliation",
      // wave LXXVI: silhouette is a bounded fit + one literal-centroid
      // scoring pass; edit distance DP is capped at 500 codes per
      // pair over a key-local join; histogram answering is two scans
      // (boundaries + witness) and a 64-row summary.
      "q394_kmeans_silhouette", "q395_sequence_edit_distance",
      "q396_histogram_answering",
      // wave LXXVII: the interval frame is one window pass + census;
      // lineage walks a PLAN, not data (O(1) in N); the Gram matrix
      // shuffles partitions × 2080 cells regardless of corpus size.
      "q397_interval_range_frame", "q398_column_lineage",
      "q399_gram_matrix",
      // wave LXXVIII: Q21-shape is two keyed aggs + a dictionary
      // culprit join (the correlated subqueries are de-correlated);
      // variant explode is one generate pass into a key census.
      "q400_waiting_orders", "q401_variant_explode",
      // wave LXXIX: tokenization is two dim-joined censuses; triples
      // ride the bounded frequent-pair dictionary; bucketing is one
      // keyed agg over a per-row integer bucket.
      "q402_tokenization_join_preserving", "q403_frequent_triples",
      "q404_length_bucketing_waste",
      // wave LXXX: the ledger folds a day-dictionary array; nested
      // pruning pays the one-time struct write then a one-leaf scan;
      // uplift is a dictionary window + one keyed spend agg.
      "q405_audit_chain", "q406_nested_schema_pruning",
      "q407_uplift_deciles",
      // wave LXXXI: the bloom join discards non-joining fact rows
      // before the shuffle; the CAS sink is staging + 3 versioned
      // merges through the stream engine.
      "q408_runtime_bloom_filter", "q409_stream_foreachbatch_cas",
      // wave LXXXII: Theil is one joined pass + nation-dictionary
      // algebra; shares are dictionary joins; sparse retrieval is
      // bounded by postings × 128 cap, independent of corpus size.
      "q410_theil_decomposition", "q411_share_of_parent",
      "q412_sparse_dot_topk",
      // wave LXXXIII: the incremental index pays build+insert+probe;
      // removal attribution is driver algebra on the 5-state chain;
      // top-N+OTHER ranks the part dictionary only.
      "q413_ann_index_incremental", "q414_markov_removal_attribution",
      "q415_topn_other_rollup",
      // wave LXXXIV: dynamic sessions are one native session agg +
      // censuses; the orphan audit is file-listing-sized; pattern
      // predicates are one dimension scan.
      "q416_dynamic_gap_sessions", "q417_orphan_file_audit",
      "q418_pattern_predicates",
      // wave LXXXV: the metrics audit IS the star query it audits;
      // nested analytics is one nest-building agg + lambda passes;
      // rollback is three snapshot writes.
      "q419_plan_metrics_audit", "q420_nested_array_analytics",
      "q421_snapshot_rollback",
      // wave LXXXVI: the lattice audits are 3 dictionary group-counts
      // off one checkpointed dim join; burn rates are day/hour
      // dictionaries; the unpivot reshapes a 1-row wide frame.
      "q422_generalization_lattice", "q423_slo_burn_rate",
      "q424_multi_measure_unpivot",
      // wave LXXXVII: the learned-index audit is one ranked dictionary
      // pass + slab algebra; the BOM walk is ⌈log₄ keys⌉ recursion
      // rounds over the part dictionary.
      "q425_learned_index_error", "q426_bom_explosion",
      // wave LXXXVIII: water-filling is one sorted window pass over
      // the customer dictionary; star-EXCEPT is a plain orders census.
      "q427_maxmin_fair_allocation", "q428_select_except_star",
      // wave LXXXIX: the clock sample is one TakeOrdered top-k; ring
      // assignment is a literal CASE tree into a 9-row census; SPRT is
      // an arm-keyed window walk.
      "q429_weighted_reservoir_sample", "q430_consistent_hash_ring",
      "q431_sprt_sequential_test",
      // wave XC: the wavelet pipeline is one fact agg + 256-row frames;
      // FS pairs are block-bounded (the q89 shape) + integer weights;
      // FTL is one fact agg + day×arm dictionary windows.
      "q432_haar_synopsis", "q433_fellegi_sunter_linkage",
      "q434_ftl_expert_replay",
      // wave XCI: the V-optimal DP runs on a collected 64-slot grid;
      // winsorized stats are one cum window over the cents dictionary
      // + one clamped agg pass; Simpson is two dictionary-sized joins
      // off one fact agg.
      "q435_voptimal_histogram", "q436_winsorized_stats",
      "q437_simpsons_paradox",
      // wave XCII: the reducer semi-joins before joining (that IS the
      // measurement); KM and Little are one fact agg each + ≤61-row /
      // delta-day dictionary windows.
      "q438_yannakakis_reducer", "q439_kaplan_meier",
      "q440_littles_law_audit",
      // wave XCIII: W1 and the sparse table are one fact agg + 64/256
      // dictionary windows; rules ride the op-pair self-join (the
      // co-purchase shape) into ppm arithmetic.
      "q441_wasserstein_drift", "q442_sparse_table_rmq",
      "q443_association_rules",
      // wave XCIV: view selection is one fact agg + 8-row lattice
      // algebra; footprint is one keyed lead window; Kendall pairs the
      // ~2.4k-day dictionary (date span fixed under replication).
      "q444_view_selection_greedy", "q445_working_set_footprint",
      "q446_kendall_tau",
      // wave XCV: AMS is 80 sum(CASE) columns of one scan + the exact
      // witness agg; the permutation test is 256 columns of one scan;
      // CEM is one join-agg into a stratum dictionary.
      "q447_ams_f2_sketch", "q448_permutation_test",
      "q449_coarsened_exact_matching",
      // wave XCVI: the hull tests a 125-point dictionary; Allen pairs
      // are per-customer quadratic = linear in customers; PID is day
      // dictionary windows after one fact agg.
      "q450_convex_extremes", "q451_allen_interval_census",
      "q452_pid_autoscaler",
      // wave XCVII: the profile pairs the ~2.4k-day window dictionary;
      // Lorenz is one fact agg + one cum window over the customer
      // dictionary; the 2x2 suite is one join-agg.
      "q453_matrix_profile_discord", "q454_lorenz_gini",
      "q455_odds_ratio_suite",
      // wave XCVIII: social choice is one join-agg into a 5×5 profile;
      // Banzhaf enumerates a fixed 32-row lattice; PERT runs 24 fixed
      // keyed-join relaxation rounds over the part dictionary (each a
      // stats-reset Iterate.ckpt — constant planning cost per round).
      "q456_condorcet_borda", "q457_banzhaf_power",
      "q458_critical_path_pert",
      // wave XCIX: GS runs ≤25 rounds over a 5-row state (converges in
      // ~5); Huffman's 24 merge rounds work on a ≤25-row roots table;
      // DTW's 23 waves fill a fixed 12×12 grid — all three are
      // dictionary-sized loops whose only scale-bound stage is the one
      // base aggregation.
      "q459_stable_matching", "q460_huffman_lengths",
      "q461_dtw_alignment",
      // wave C: FIFO rides keyed cumsums + a per-part-bounded overlap
      // join (pairs ≤ lots + draws per part — linear overall); IPF is 10
      // half-rounds of windowed scaling on a ≤125-cell table; the
      // assignment enumerates a FIXED 120-permutation lattice after one
      // join-agg.
      "q462_fifo_inventory", "q463_ipf_raking",
      "q464_assignment_optimal",
      // wave CI: multi-distinct is one Expand(×3)+two-level agg pass;
      // bitemporal is a 9-cell broadcast interval join over the version
      // log; null-skew split unions a never-shuffled pass-through branch
      // with a broadcast join on the non-null keys.
      "q465_multi_distinct_expand", "q466_bitemporal_asof",
      "q467_null_skew_split",
      // wave CII: the manifest join scans only the blocks the runtime
      // In-set intersects — work scales with the manifest, not the corpus.
      "q468_gbd_runtime_prune",
      // wave CIII: each perceptron epoch is one scan-agg (6 total); CF
      // rides the per-order-bounded co-occurrence join; billing is one
      // join-agg + a decile window over the customer dictionary.
      "q469_batch_perceptron", "q470_item_cf_recs",
      "q471_tiered_billing",
      // wave CIV: the leaderboard state is (daily actives) per key with
      // top-3 emission; the IN-list semi-join broadcasts 64 values; the
      // equalizer is a per-row decode pass.
      "q472_stream_topk_state", "q473_inlist_join_rule",
      "q474_bmp_equalize",
      // wave CV: Luhn is a per-row digit pass; the SI sweep is two keyed
      // windows over 2 rows/txn; Q17 is one per-part agg joined back.
      "q475_luhn_validation", "q476_si_conflict_sweep",
      "q477_decorrelated_q17",
      // wave CVI: ISO census and Hampel run over the fixed day
      // dictionary after one fact agg; varint is a lag window per key
      // column.
      "q478_iso_week_census", "q479_hampel_filter",
      "q480_varint_delta_size",
      // wave CVII: business days are per-row closed-form arithmetic;
      // the fiscal mapping is per-row date math + one rollup; cron
      // expansion joins 5 rules to the day dictionary.
      "q481_business_days", "q482_fiscal_445",
      "q483_cron_expansion",
      // wave CVIII: DRF runs 40 rounds over a 5-row state; knapsack 24
      // rounds over a 61-row state; newsvendor is one keyed agg + a
      // 3-candidate cost evaluation pass.
      "q484_drf_allocation", "q485_knapsack_dp",
      "q486_newsvendor_quantile",
      // wave CIX: the partitioner audit is two agg passes (the bounds
      // collect is 31 values); Banker's is 5 rounds over a 5-row state.
      "q487_range_partitioner_balance", "q488_bankers_safety",
      // wave CX: q396's sketch twin — one mergeable approx_percentile
      // agg + one slab-census scan + the exact witness scan.
      "q489_histogram_answering_sketch",
      // wave CXI: the flagship operator's approx twin — two sequential
      // IQR filter chains (exact + t-digest) and one rank-audit agg,
      // all broadcast-bounds passes over one checkpointed scan.
      "q490_iqr_approx_contract")
    val qs = graft.SparkEntry.queries
    // IVF-fed queries (q229/q230) are measured at the PRODUCTION index
    // setting: nlist grows with the corpus so inverted lists keep a
    // constant length, nprobe stays a fixed budget — which is exactly
    // how an ANN index is operated as data grows, and what makes the
    // per-query candidate count (≈ nprobe · N/nlist) scale-invariant.
    // At 1× this coincides with the declared default (nlist = nprobe =
    // 8: full probe, the oracle identity), so the 1× leg times the
    // exact declared computation.
    val annQueries = Set("q229_mutual_knn_ivf", "q230_knn_audit_ivf")
    def setAnn(nlist: Int): Unit = {
      spark.conf.set("spark.graft.ann.nlist", nlist.toString)
      spark.conf.set("spark.graft.ann.nprobe", "8")
    }
    // q348 is measured at the PRODUCTION grid setting: the point domain
    // grows with the corpus (side ∝ √N) so per-cell density — and with
    // it the per-point candidate mass — stays constant, exactly how a
    // spatial-bucketing deployment is operated as data grows. At 1×
    // this is the declared default (side 1024, the oracle identity).
    val gridQueries = Set("q348_grid_proximity_join")
    def timeIt(dir: String, name: String): Double = {
      if (annQueries(name)) setAnn(if (dir == out) 8 * factor else 8)
      if (gridQueries(name)) spark.conf.set("spark.graft.grid.side",
        (if (dir == out) math.round(1024 * math.sqrt(factor.toDouble)) else 1024L).toString)
      val t0 = System.nanoTime()
      try qs(name)(spark, dir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => println(s"[scale] $name FAILED: $e"); return -1 }
      finally {
        // restore session defaults: a leaked production-setting conf
        // would silently re-route every LATER roster query that reads
        // it (autoTopK documents that an explicit conf wins)
        if (annQueries(name)) {
          spark.conf.unset("spark.graft.ann.nlist")
          spark.conf.unset("spark.graft.ann.nprobe")
        }
        if (gridQueries(name)) spark.conf.unset("spark.graft.grid.side")
      }
      (System.nanoTime() - t0) / 1e9
    }
    // Queries whose fn stages tables/indexes IDEMPOTENTLY (tableExists /
    // _SUCCESS-gated writes): their first N× run pays a one-time staging
    // write a deployment amortizes over every subsequent query, so the
    // end-to-end ratio reads as a scale failure when the query itself is
    // flat (r9 ledger: q340 20.5×, q392 11.8×, q386 6.1×, q406 5.6×,
    // q375 3.1× — all staging). For these, run the N× leg twice: the
    // second run hits the staged artifact and times the QUERY; the
    // difference is reported as stage_s. (The 1× leg is already
    // query-only — its untimed warm-up run pays the 1× staging.)
    val stagedQueries = Set(
      "q340_gbd_agg_pushdown", "q375_dynamic_partition_pruning",
      "q386_partition_evolution", "q392_bucket_pruning",
      "q406_nested_schema_pruning")
    // Dispatch-boundary queries: their 1× leg runs the small-input
    // driver dispatch (iqr.localLimit 1M sits between the legs), so the
    // 1× warm-up never compiles the DISTRIBUTED plan the N× leg
    // executes — every other roster query reuses its 1×-warmed codegen
    // classes at N×, but a boundary query's first N× run pays fresh
    // whole-stage compilation and reads as a scale failure (measured,
    // q22: first 10× run 5.8 s, steady-state 2.8-3.4 s — the same wall
    // r08 recorded for the identical distributed plan). Like
    // stagedQueries, run the N× leg twice and time the second, printing
    // the first-run delta so nothing is hidden. (q490 also crosses the
    // boundary but is NOT here: its 10× wall is dominated by the exact
    // witness's per-group value-buffering percentile — measured 5-rep
    // warm band 6.9-30.7 s at 10×, GC-bound boxed maps over 6M rows —
    // so a second-run time is one more draw from that band, not a
    // cleaner number. That pathology is the very thing the q490
    // contract documents as the reason approx is the 100 TB path; its
    // single-shot methodology stays as r11 measured it.)
    val boundaryQueries = Set("q22_iqr_outlier_filter")
    // a failed leg must print FAIL, never a ratio: -1/-1 would render
    // as a perfect 1.0 and a skimmed ledger (or the catalog generator's
    // numeric-row regex) would record a broken query as flat-scaling
    def ratioStr(t1: Double, tn: Double): String =
      if (t1 < 0 || tn < 0) " FAIL" else f"${tn / t1}%5.1f"
    // In-run drift calibration (the Bench.scala fixture, verbatim): the
    // same fixed synthetic no-I/O query, timed before and after the
    // sweep. A ledger row is only comparable across sessions when both
    // sessions' calibration sits in the same band (calm ≈ 0.5-0.7 s on
    // this box); re-measures taken during a drift wave must be re-run,
    // not recorded — round-11 adjudicated three rows on drift-era
    // numbers precisely because ScaleCheck could not prove calm.
    def calibOnce(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 200000000L, 1, 32)
        .selectExpr("(id * 2654435761L) % 1000003 AS h")
        .groupBy(expr("h % 997"))
        .agg(count(lit(1)).as("n"), sum(expr("h")).as("s"))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    calibOnce() // warm the fixture's codegen before the recorded sample
    println(f"[scale] calibration_s ${Seq(calibOnce(), calibOnce(), calibOnce()).sorted.apply(1)}%.3f")
    println(f"[scale] ${"query"}%-24s 1x_sec  ${factor}x_sec  ratio")
    queries.filter(q => only.forall(_.exists(q.startsWith))).foreach { q =>
      timeIt(sfDir, q) // warm codegen/JIT on the small side
      val t1 = timeIt(sfDir, q)
      if (stagedQueries(q)) {
        val tTotal = timeIt(out, q) // staging write + query
        val tn = timeIt(out, q) // query against the staged artifact
        println(f"[scale] $q%-24s $t1%6.2f  $tn%7.2f  ${ratioStr(t1, tn)}" +
          f"  (stage ${tTotal - tn}%.2f s, stage+query $tTotal%.2f s)")
      } else if (boundaryQueries(q)) {
        val tFirst = timeIt(out, q) // compiles the distributed plan
        val tn = timeIt(out, q) // the warmed distributed plan
        println(f"[scale] $q%-24s $t1%6.2f  $tn%7.2f  ${ratioStr(t1, tn)}" +
          f"  (first ${tFirst}%.2f s: cold distributed-plan codegen)")
      } else {
        val tn = timeIt(out, q)
        println(f"[scale] $q%-24s $t1%6.2f  $tn%7.2f  ${ratioStr(t1, tn)}")
      }
    }

    def row(name: String, t1: Double, tn: Double): Unit =
      println(f"[scale] $name%-24s $t1%6.2f  $tn%7.2f  ${ratioStr(t1, tn)}")

    // The composed wafer pipeline (the reference's main()) — benched at
    // its canonical 63,909-row scale for years but never scale-swept.
    // Input is pre-materialized and cached so the timing covers the
    // pipeline, not datagen.
    if (only.forall(_.exists("wafer_pipeline".startsWith))) {
      def waferAt(n: Long, warm: Boolean): Double = {
        val in = graft.wafer.WaferDataGen.generate(
          spark, n, parts = spark.sparkContext.defaultParallelism).cache()
        in.count()
        def once(): Double = {
          val t0 = System.nanoTime()
          graft.wafer.WaferPipeline.preprocess(in)
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        try { if (warm) once(); once() } finally { in.unpersist(); () }
      }
      val w1 = waferAt(63909L, warm = true)
      row("wafer_pipeline", w1, waferAt(63909L * factor, warm = false))
      // the 100× row (6.39M rows): the flagship composed pipeline's
      // "survives 100× scale-up" evidence — every stage is a keyed agg,
      // a broadcast bounds-join, or a seed-pinned KMeans over the same
      // row count, so the expectation is ≤ 20× wall at 100× data
      if (factor == 10)
        row("wafer_pipeline_100x", w1, waferAt(63909L * 100, warm = false))
    }

    // Snapshot READ-BACK half of the storage family (q232-q234 are
    // write-heavy — they commit a version chain per run, so their
    // end-to-end ratio measures tmpfs write bandwidth; the scale
    // question that matters for time travel / CDC / retention is how
    // the READ side grows). Chain built untimed per scale, then: AS OF
    // read of v0, CDC classification v0→v1, retention plan.
    if (only.forall(_.exists("snapshot_read".startsWith))) {
      import graft.sources.Sinks
      def chain(dir: String, tag: String): String = {
        val root = s"/tmp/graft_scaleread_$tag"
        val f = new java.io.File(root)
        def rm(x: java.io.File): Unit = {
          Option(x.listFiles()).foreach(_.foreach(rm)); x.delete(); ()
        }
        if (f.exists()) rm(f)
        val base = spark.read.parquet(s"$dir/orders.parquet")
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
          .withColumn("v", lit(0L))
        Sinks.mergeSnapshot(base, root, Seq("o_orderkey"), "v", 0L)
        val delta = base
          .filter(pmod(col("o_orderkey"), lit(10)) === 0)
          .withColumn("o_totalprice", col("o_totalprice") * 2)
          .withColumn("v", lit(1L))
        Sinks.mergeSnapshot(delta, root, Seq("o_orderkey"), "v", 1L)
        root
      }
      val r1 = chain(sfDir, "1x")
      val rn = chain(out, s"${factor}x")
      def t(body: => DataFrame): Double = {
        val t0 = System.nanoTime()
        body.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      def asof(r: String) = t(Sinks.readSnapshot(spark, r, 0L))
      def cdc(r: String) =
        t(Sinks.snapshotChanges(spark, r, 0L, 1L, Seq("o_orderkey")))
      def ret(r: String) = t(Sinks.retentionPlan(spark, r, keepLast = 1))
      asof(r1); row("snapshot_read_asof", asof(r1), asof(rn))
      cdc(r1); row("snapshot_read_cdc", cdc(r1), cdc(rn))
      ret(r1); row("snapshot_read_retention", ret(r1), ret(rn))
    }

    // Streaming STEADY-STATE (round-9 verdict item 7): the end-to-end
    // ratios of q322/q341 are cold-start-dominated (one microbatch over
    // a single file — session spin-up inverts the ratio and hides the
    // per-batch cost that matters in deployment). Here the events table
    // is staged as 8 slice files and streamed with maxFilesPerTrigger=1
    // → 8 microbatches; a StreamingQueryListener records each trigger's
    // execution time, and the reported number is the MEDIAN of batches
    // after the first (the warmed incremental-update cost). Two state
    // shapes: the q341 bitmap-distinct agg (fixed-width mergeable
    // state) and the q322 per-day quantile-sketch agg.
    if (only.forall(_.exists("stream_steady".startsWith))) {
      import org.apache.spark.sql.streaming.StreamingQueryListener
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      def stageSlices(srcDir: String, tag: String): String = {
        // content-fingerprinted + pathTag-scoped for the same reasons
        // as `out` above
        val steadyPrefix =
          s"graft_steady_${tag}_${graft.Stage.pathTag(srcDir)}_"
        val stage = s"/tmp/$steadyPrefix${graft.Stage.key(srcDir, "events")}"
        graft.Stage.sweepSiblings("/tmp", steadyPrefix,
          new java.io.File(stage).getName)
        if (!java.nio.file.Files.exists(java.nio.file.Paths.get(stage, "_DONE"))) {
          graft.Tables(spark, srcDir, "events")
            .repartition(8, col("user_id"))
            .write.mode("overwrite").parquet(s"$stage/events")
          java.nio.file.Files.createFile(java.nio.file.Paths.get(stage, "_DONE"))
        }
        s"$stage/events"
      }
      def batchTimes(path: String, shape: String): Seq[Double] = {
        val durs = scala.collection.mutable.ArrayBuffer[Double]()
        val listener = new StreamingQueryListener {
          override def onQueryStarted(e: QueryStartedEvent): Unit = ()
          override def onQueryProgress(e: QueryProgressEvent): Unit =
            if (e.progress.numInputRows > 0)
              durs.synchronized {
                // a batch may lack the triggerExecution duration key —
                // a bare .get would NPE inside the async listener
                Option(e.progress.durationMs.get("triggerExecution"))
                  .foreach(d => durs += d.toDouble / 1000.0)
                ()
              }
          override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
        }
        spark.streams.addListener(listener)
        try {
          val schema = spark.read.parquet(path).schema
          val ev = spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1").parquet(path)
          val agg = shape match {
            case "bitmap" => ev
              .select(to_date(col("ts")).as("day"), col("user_id"))
              .groupBy(col("day"),
                expr("bitmap_bucket_number(user_id)").as("bucket"))
              .agg(expr("bitmap_construct_agg(bitmap_bit_position(user_id))")
                .as("bm"))
            case _ => ev
              .select(to_date(col("ts")).as("day"), col("value"))
              .groupBy("day")
              .agg(expr("approx_percentile(value, array(0.1d, 0.5d, 0.9d), 10000)")
                .as("ap"))
          }
          val q = agg.writeStream.outputMode("update").format("memory")
            .queryName(s"steady_${shape}_${System.nanoTime()}").start()
          try q.processAllAvailable() finally q.stop()
          Thread.sleep(2000) // listener events are async; let them drain
          durs.synchronized(durs.toSeq)
        } finally spark.streams.removeListener(listener)
      }
      def median(xs: Seq[Double]): Double = {
        val s = xs.sorted; s(s.length / 2)
      }
      val p1 = stageSlices(sfDir, "1x")
      val pn = stageSlices(out, s"${factor}x")
      Seq("bitmap", "sketch").foreach { shape =>
        val d1 = batchTimes(p1, shape)
        val dn = batchTimes(pn, shape)
        // need ≥2 batches per leg (first is warm-up, the median runs
        // over the rest) — a tiny input or undrained async listener
        // otherwise crashes the whole run AFTER the expensive legs
        if (d1.size < 2 || dn.size < 2)
          println(s"[scale] steady_$shape SKIPPED: too few recorded " +
            s"batches (1x=${d1.size}, ${factor}x=${dn.size})")
        else {
          println(f"[scale] steady_$shape%-17s 1x: first=${d1.head}%.2f " +
            f"median_rest=${median(d1.tail)}%.3f (${d1.length} batches)  " +
            f"${factor}x: first=${dn.head}%.2f median_rest=${median(dn.tail)}%.3f")
          row(s"stream_steady_$shape", median(d1.tail), median(dn.tail))
        }
      }
    }
    // bracket drift WITHIN the run as well (the Bench calibration_end_s
    // discipline): a wave that started mid-sweep shows up as the two
    // calibration numbers disagreeing
    println(f"[scale] calibration_end_s ${Seq(calibOnce(), calibOnce(), calibOnce()).sorted.apply(1)}%.3f")
    spark.stop()
  }
}
