package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** Ninth wave: sketch mergeability and integer-exact audit statistics.
  *
  *  - q156 exercises the property that makes sketches THE 100 TB
  *    distinct-count answer: per-partition sketches UNION losslessly.
  *    q32 gates a single global sketch; here daily Datasketches HLL
  *    sketches are merged across days and the merged estimate must
  *    still meet the accuracy contract against the exact witness.
  *  - q157 is the Benford first-digit audit — the classic fraud /
  *    data-quality screen — with the expected log10(1+1/d) masses as
  *    precomputed ppm literals (the q145 discipline: model constants
  *    are inputs, not runtime libm), leading digits extracted from the
  *    cents string so no float log appears anywhere.
  */
object Training9 {
  private def t(s: SparkSession, d: String, n: String) = Tables(s, d, n)

  val defs: Seq[QueryDef] = Seq(

    // ---- mergeable-HLL contract: daily user sketches per event type,
    // hll_union_agg'd across days, estimate within 3% of the exact
    // distinct witness. The merge tree is exactly how a 1000-executor
    // cluster counts distincts: partial sketches per partition/day, one
    // tiny union at the root — no shuffle of raw ids, bounded memory.
    QueryDef(
      "q156_hll_merge",
      (s, d) => {
        val ev = t(s, d, "events").select(col("event_type"), col("user_id"),
          date_trunc("day", col("ts")).cast("date").as("day"))
        val daily = ev.groupBy("event_type", "day")
          .agg(expr("hll_sketch_agg(user_id, 12)").as("sk"))
        val merged = daily.groupBy("event_type")
          .agg(
            expr("hll_sketch_estimate(hll_union_agg(sk, false))").as("__est"),
            count(lit(1)).as("n_days"))
        val exact = ev.groupBy("event_type")
          .agg(countDistinct("user_id").as("n_users_exact"))
        merged.join(exact, "event_type")
          .select(col("event_type"), col("n_users_exact"), col("n_days"),
            (abs(col("__est") - col("n_users_exact")) * lit(100L) <=
              lit(3L) * col("n_users_exact")).as("merged_ok"))
      },
      Some("""
        SELECT event_type,
               count(DISTINCT user_id) AS n_users_exact,
               count(DISTINCT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)) AS n_days,
               TRUE AS merged_ok
        FROM events GROUP BY 1""")),

    // ---- Benford first-digit audit of l_extendedprice: observed
    // leading-digit counts vs the Benford expectation. Digits come from
    // the cents STRING (positive money, so cents and value share a
    // leading digit) — no log10 at runtime; the expected masses
    // round(log10(1+1/d)·1e6) are literals. obs_ppm uses half-up
    // integer division; dev_ppm = |obs − exp| is the audit signal.
    QueryDef(
      "q157_benford",
      (s, d) => {
        val benford = Seq(301030L, 176091L, 124939L, 96910L, 79181L,
          66947L, 57992L, 51153L, 45757L)
        val expCase = benford.zipWithIndex
          .map { case (ppm, i) => s"WHEN ${i + 1} THEN ${ppm}L" }
          .mkString("CASE digit ", " ", " END")
        // the 9-row digit table is localCheckpointed so the total
        // branch folds it instead of re-running the data-sized agg
        val digits = t(s, d, "lineitem")
          .select(expr("""CAST(substr(CAST(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
                          AS STRING), 1, 1) AS BIGINT)""").as("digit"))
          .groupBy("digit").agg(count(lit(1)).as("n_obs"))
          .localCheckpoint()
        val tot = digits.agg(sum("n_obs").as("n_total"))
        digits.crossJoin(broadcast(tot))
          .select(col("digit"), col("n_obs"),
            expr("(2 * 1000000 * n_obs + n_total) div (2 * n_total)").as("obs_ppm"),
            expr(expCase).as("exp_ppm"))
          .withColumn("dev_ppm", abs(col("obs_ppm") - col("exp_ppm")))
      },
      Some("""
        WITH digits AS (
          SELECT CAST(substr(CAST(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
                      AS VARCHAR), 1, 1) AS BIGINT) AS digit
          FROM lineitem),
        c AS (SELECT digit, count(*) AS n_obs FROM digits GROUP BY 1),
        t AS (SELECT sum(n_obs) AS n_total FROM c),
        e AS (
          SELECT digit, n_obs,
                 (2 * 1000000 * n_obs + n_total) // (2 * n_total) AS obs_ppm,
                 CASE digit WHEN 1 THEN 301030 WHEN 2 THEN 176091
                            WHEN 3 THEN 124939 WHEN 4 THEN 96910
                            WHEN 5 THEN 79181 WHEN 6 THEN 66947
                            WHEN 7 THEN 57992 WHEN 8 THEN 51153
                            WHEN 9 THEN 45757 END AS exp_ppm
          FROM c, t)
        SELECT digit, n_obs, CAST(obs_ppm AS BIGINT) AS obs_ppm,
               CAST(exp_ppm AS BIGINT) AS exp_ppm,
               CAST(abs(obs_ppm - exp_ppm) AS BIGINT) AS dev_ppm
        FROM e""")),

    // ---- Hill estimator of the power-law tail index over the supplier
    // fan-out distribution (distinct parts per supplier). THE statistic
    // behind the engine's skew playbook: alpha near 1-2 means heavy
    // tail → salting/AQE-skew-split territory; large alpha means
    // salting is wasted work. Top-k degrees by TakeOrdered (never a
    // global sort), the 50-row tail localCheckpointed, ln on
    // exact-integer ratios rounded to micro-nats, half-up alpha_milli.
    QueryDef(
      "q158_hill_tail",
      (s, d) => {
        val deg = t(s, d, "lineitem")
          .groupBy("l_suppkey")
          .agg(countDistinct("l_partkey").as("degree"))
        val top = deg.orderBy(col("degree").desc, col("l_suppkey").asc)
          .limit(50).select("degree").localCheckpoint()
        val mn = top.agg(min("degree").as("x_min"))
        top.crossJoin(broadcast(mn))
          .agg(count(lit(1)).as("k"), max(col("x_min")).as("x_min"),
            sum(expr("""CAST(round(ln(CAST(degree AS DOUBLE) / CAST(x_min AS DOUBLE))
                        * 1000000) AS BIGINT)""")).as("denom_micro"))
          .select(col("k"), col("x_min"), col("denom_micro"),
            expr("""CASE WHEN denom_micro > 0
                    THEN CAST((2 * (k - 1) * 1000000000 + denom_micro)
                              div (2 * denom_micro) AS BIGINT)
                    ELSE 0 END""").as("alpha_milli"))
      },
      Some("""
        WITH deg AS (
          SELECT l_suppkey, count(DISTINCT l_partkey) AS degree
          FROM lineitem GROUP BY 1),
        top AS (
          SELECT degree FROM deg ORDER BY degree DESC, l_suppkey LIMIT 50),
        mn AS (SELECT min(degree) AS x_min FROM top),
        t AS (
          SELECT count(*) AS k,
                 CAST(sum(CAST(round(ln(CAST(degree AS DOUBLE) / CAST(x_min AS DOUBLE))
                     * 1000000) AS BIGINT)) AS BIGINT) AS denom_micro
          FROM top, mn)
        SELECT CAST(k AS BIGINT) AS k, x_min, denom_micro,
               CASE WHEN denom_micro > 0
                    THEN CAST((2 * (k - 1) * 1000000000 + denom_micro)
                              // (2 * denom_micro) AS BIGINT)
                    ELSE 0 END AS alpha_milli
        FROM t, mn""")),

    // ---- tokenizer fertility: tokens per character by (lang, source) —
    // the corpus-budgeting metric (how many tokens a byte budget buys,
    // per slice). One scan, one agg, exact integers with half-up ppm.
    QueryDef(
      "q159_fertility",
      (s, d) =>
        t(s, d, "documents")
          .groupBy("lang", "source")
          .agg(count(lit(1)).as("n_docs"),
            sum(expr("size(split(text, ' '))")).as("n_tokens"),
            sum(length(col("text"))).as("n_chars"))
          .select(col("lang"), col("source"), col("n_docs"), col("n_tokens"),
            col("n_chars"),
            expr("""CAST((2 * 1000000 * n_tokens + n_chars)
                    div (2 * n_chars) AS BIGINT)""").as("tok_per_char_ppm")),
      Some("""
        WITH a AS (
          SELECT lang, source, count(*) AS n_docs,
                 sum(len(string_split(text, ' '))) AS n_tokens,
                 sum(length(text)) AS n_chars
          FROM documents GROUP BY 1, 2)
        SELECT lang, source, n_docs,
               CAST(n_tokens AS BIGINT) AS n_tokens,
               CAST(n_chars AS BIGINT) AS n_chars,
               CAST((2 * 1000000 * n_tokens + n_chars)
                    // (2 * n_chars) AS BIGINT) AS tok_per_char_ppm
        FROM a""")),

    // ---- mutual information I(source; lang) — the categorical
    // association statistic (is language mixture independent of
    // source?), built like q148/q150: exact contingency counts, one
    // micro-nat ln per CELL on an exact-integer ratio, Σ c_xy·ln_micro
    // kept exact, MI emitted in nano-nats with sign-split half-up
    // division (per-cell terms carry either sign; the true MI is ≥ 0
    // but the rounded sum may sit a hair under for independent data).
    // The contingency table is localCheckpointed so the three margin
    // folds reuse it instead of re-scanning.
    QueryDef(
      "q160_mutual_information",
      (s, d) => {
        val cells = t(s, d, "documents")
          .groupBy("source", "lang").agg(count(lit(1)).as("cxy"))
          .localCheckpoint()
        val mx = cells.groupBy("source").agg(sum("cxy").as("cx"))
        val my = cells.groupBy("lang").agg(sum("cxy").as("cy"))
        val n = cells.agg(sum("cxy").as("n"))
        cells.join(mx, "source").join(my, "lang").crossJoin(broadcast(n))
          .select(col("cxy"), col("n"),
            expr("""cxy * CAST(round(ln((CAST(cxy AS DOUBLE) * CAST(n AS DOUBLE)) /
                                       (CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE)))
                               * 1000000) AS BIGINT)""").as("term"))
          .groupBy("n")
          .agg(count(lit(1)).as("n_cells"), sum("term").as("s"))
          .select(col("n_cells"), col("n").as("n_docs"),
            expr("""CASE WHEN s >= 0
                    THEN CAST((2 * 1000 * s + n) div (2 * n) AS BIGINT)
                    ELSE -CAST((2 * 1000 * (-s) + n) div (2 * n) AS BIGINT)
                    END""").as("mi_nano"))
      },
      Some("""
        WITH cells AS (
          SELECT source, lang, count(*) AS cxy FROM documents GROUP BY 1, 2),
        mx AS (SELECT source, CAST(sum(cxy) AS BIGINT) AS cx FROM cells GROUP BY 1),
        my AS (SELECT lang, CAST(sum(cxy) AS BIGINT) AS cy FROM cells GROUP BY 1),
        t AS (SELECT CAST(sum(cxy) AS BIGINT) AS n FROM cells),
        terms AS (
          SELECT cxy * CAST(round(ln((CAST(cxy AS DOUBLE) * CAST(n AS DOUBLE)) /
                                     (CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE)))
                            * 1000000) AS BIGINT) AS term, n
          FROM cells JOIN mx USING (source) JOIN my USING (lang), t),
        agg AS (
          SELECT count(*) AS n_cells, max(n) AS n_docs,
                 CAST(sum(term) AS BIGINT) AS s
          FROM terms)
        SELECT CAST(n_cells AS BIGINT) AS n_cells, n_docs,
               CASE WHEN s >= 0
                    THEN CAST((2 * 1000 * s + n_docs) // (2 * n_docs) AS BIGINT)
                    ELSE -CAST((2 * 1000 * (-s) + n_docs) // (2 * n_docs) AS BIGINT)
                    END AS mi_nano
        FROM agg""")),

    // ---- robust anomaly days: flag days whose count deviates from the
    // per-type median by more than 3·1.4826·MAD (the 50%-breakdown
    // outlier rule, q127's MAD applied to the q154 daily series).
    // Integer-exact throughout: medians of integer counts interpolate
    // to halves at worst, so doubling (med2 half-units, mad4
    // quarter-units) keeps every comparison in BIGINTs —
    // 10000·dev_half > 22239·mad4 IS |x−med| > 4.4478·MAD. The daily
    // table is localCheckpointed; both percentile passes and the final
    // flag run over its |types|·|days| rows.
    QueryDef(
      "q161_anomaly_days",
      (s, d) => {
        val daily = t(s, d, "events")
          .groupBy(col("event_type"),
            date_trunc("day", col("ts")).cast("date").as("day"))
          .agg(count(lit(1)).as("x"))
          .localCheckpoint()
        val med = daily.groupBy("event_type")
          .agg(expr("CAST(round(2 * percentile(x, 0.5d)) AS BIGINT)").as("med2"))
        val dev = daily.join(med, "event_type")
          .withColumn("dev_half", abs(lit(2) * col("x") - col("med2")))
        val mad = dev.groupBy("event_type")
          .agg(expr("CAST(round(2 * percentile(dev_half, 0.5d)) AS BIGINT)").as("mad4"))
        dev.join(mad, "event_type")
          .select(col("event_type"), col("day"), col("x"),
            (lit(10000L) * col("dev_half") > lit(22239L) * col("mad4"))
              .as("is_anomaly"))
      },
      Some("""
        WITH daily AS (
          SELECT event_type,
                 CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
                 count(*) AS x
          FROM events GROUP BY 1, 2),
        med AS (
          SELECT event_type,
                 CAST(round(2 * quantile_cont(x, 0.5)) AS BIGINT) AS med2
          FROM daily GROUP BY 1),
        dev AS (
          SELECT d.event_type, day, x, abs(2 * x - med2) AS dev_half
          FROM daily d JOIN med USING (event_type)),
        mad AS (
          SELECT event_type,
                 CAST(round(2 * quantile_cont(dev_half, 0.5)) AS BIGINT) AS mad4
          FROM dev GROUP BY 1)
        SELECT dev.event_type, day, CAST(x AS BIGINT) AS x,
               (10000 * dev_half > 22239 * mad4) AS is_anomaly
        FROM dev JOIN mad USING (event_type)""")),

    // ---- conversion-latency distribution: for every purchase preceded
    // by a view from the same user within 7 days, the lag to the MOST
    // RECENT prior view (one keyed IGNORE-NULLS window — the q144
    // two-pass trick, never a per-purchase self-join), summarized as
    // exact-count + median + p90 per purchase hour-of-day. Percentiles
    // interpolate on exact integer micros and round at source (the
    // q146 grid precedent for cross-engine quantile_cont parity).
    QueryDef(
      "q162_conversion_lag",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        val ev = t(s, d, "events")
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
          .withColumn("last_view_us",
            last(when(col("event_type") === "view", unix_micros(col("ts"))), true)
              .over(w))
        ev.filter(col("event_type") === "purchase" && col("last_view_us").isNotNull)
          .select(hour(col("ts")).as("hr"),
            (unix_micros(col("ts")) - col("last_view_us")).as("lag_us"))
          .filter(col("lag_us") > 0 && col("lag_us") <= 604800000000L)
          .groupBy("hr")
          .agg(count(lit(1)).as("n"),
            expr("CAST(round(percentile(lag_us, 0.5d)) AS BIGINT)").as("med_us"),
            expr("CAST(round(percentile(lag_us, 0.9d)) AS BIGINT)").as("p90_us"))
      },
      Some("""
        WITH ev AS (
          SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type
          FROM events),
        lv AS (
          SELECT user_id, ts, event_type,
                 last_value(CASE WHEN event_type = 'view'
                                 THEN epoch_us(ts) END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS last_view_us
          FROM ev),
        lags AS (
          SELECT hour(ts) AS hr, epoch_us(ts) - last_view_us AS lag_us
          FROM lv
          WHERE event_type = 'purchase' AND last_view_us IS NOT NULL
            AND epoch_us(ts) - last_view_us > 0
            AND epoch_us(ts) - last_view_us <= 604800000000)
        SELECT hr, count(*) AS n,
               CAST(round(quantile_cont(lag_us, 0.5)) AS BIGINT) AS med_us,
               CAST(round(quantile_cont(lag_us, 0.9)) AS BIGINT) AS p90_us
        FROM lags GROUP BY 1""")),

    // ---- semi-structured via Spark 4 VARIANT: parse_json once into
    // the binary variant encoding, then typed variant_get extraction —
    // the scale path for JSON columns (parse once, shred cheaply;
    // repeated get_json_object string-parses the blob per expression,
    // which is exactly what q27 does for contrast). Same answer, newer
    // engine surface; DuckDB oracles via its native JSON reader.
    QueryDef(
      "q163_variant_json",
      (s, d) =>
        t(s, d, "events")
          .select(col("event_type"),
            expr("variant_get(parse_json(props), '$.k', 'int')").as("k"))
          .groupBy(col("event_type"), expr("k % 7").as("k_mod7"))
          .agg(count(lit(1)).as("n"), min("k").as("k_min"), max("k").as("k_max")),
      Some("""
        SELECT event_type,
               CAST(json_extract_string(props, '$.k') AS INTEGER) % 7 AS k_mod7,
               count(*) AS n,
               min(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS k_min,
               max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS k_max
        FROM events GROUP BY 1, 2""")),

    // ---- order-invariant table digest: XOR of canonical-row hashes +
    // row count, the O(1)-output reconciliation primitive ("did the
    // migration/backfill preserve the data?" compares two digests, not
    // 100 TB of rows). XOR commutes, so the digest is independent of
    // partitioning and row order and each partition folds locally —
    // one scan, one scalar. Honest caveat: XOR cancels even
    // multiplicities of identical rows (the count catches pure
    // additions/deletions; a paired duplicate+drop of the SAME row is
    // the blind spot — the standard trade-off for this digest family).
    QueryDef(
      "q164_table_digest",
      (s, d) => {
        import graft.operators.TextOps.hash60Spark
        val rowStr = """concat_ws('|',
          CAST(l_orderkey AS STRING), CAST(l_partkey AS STRING),
          CAST(l_suppkey AS STRING),
          CAST(CAST(round(l_quantity * 100, 0) AS BIGINT) AS STRING),
          CAST(CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS STRING))"""
        t(s, d, "lineitem")
          .select(expr(hash60Spark(rowStr)).as("h"))
          .agg(count(lit(1)).as("n_rows"), expr("bit_xor(h)").as("digest"))
      },
      Some(s"""
        WITH h AS (
          SELECT ${graft.operators.TextOps.hash60Duck("""concat_ws('|',
            CAST(l_orderkey AS VARCHAR), CAST(l_partkey AS VARCHAR),
            CAST(l_suppkey AS VARCHAR),
            CAST(CAST(round(l_quantity * 100, 0) AS BIGINT) AS VARCHAR),
            CAST(CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS VARCHAR))""")} AS h
          FROM lineitem)
        SELECT count(*) AS n_rows, bit_xor(h) AS digest FROM h""")),

    // ---- degree-ordered triangle counting: edges orient
    // low-(degree, id) → high-(degree, id), so every triangle has
    // exactly one apex with two out-edges and a closing edge between
    // their heads, and the out-degree of ANY node is O(√m) (a hub
    // receives edges instead of emitting them) — the bound that keeps
    // wedge fan-out tame where q143's id order degrades on hubs.
    // max_outdeg witnesses that bound; n_triangles equals q143's by
    // construction (Training9Spec asserts the identity). Tiers live in
    // Graphs.triangleDegreeStats: graphs of ≤ 500k edges (sf0.01) are
    // counted on the driver after one edge collect, because the Spark
    // plan costs ~22 job launches on a graph that small; larger ones
    // (sf0.1) run the degree-oriented wedge join, and a wedge mass over
    // `spark.graft.graph.wedgeMassLimit` routes the count to the
    // deterministic 1-in-p DOULION sample (q143's estimator).
    QueryDef(
      "q165_triangle_degree",
      (s, d) =>
        graft.operators.Graphs.triangleDegreeStats(
          graft.operators.Graphs.coPurchaseEdges(t(s, d, "lineitem"))),
      Some("""
        WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        e AS (
          SELECT DISTINCT a.p AS u, b.p AS v
          FROM op a JOIN op b ON a.o = b.o AND a.p < b.p),
        deg AS (
          SELECT n, count(*) AS dg
          FROM (SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e)
          GROUP BY 1),
        de AS (
          SELECT CASE WHEN du.dg < dv.dg OR (du.dg = dv.dg AND e.u < e.v)
                      THEN e.u ELSE e.v END AS s,
                 CASE WHEN du.dg < dv.dg OR (du.dg = dv.dg AND e.u < e.v)
                      THEN e.v ELSE e.u END AS t
          FROM e JOIN deg du ON du.n = e.u JOIN deg dv ON dv.n = e.v)
        SELECT (SELECT count(*) FROM de) AS n_edges,
               (SELECT count(*)
                FROM de w1 JOIN de w2 ON w1.s = w2.s AND w1.t <> w2.t
                           JOIN de c ON c.s = w1.t AND c.t = w2.t) AS n_triangles,
               (SELECT max(od) FROM (SELECT s, count(*) AS od FROM de GROUP BY 1))
                 AS max_outdeg""")),
  )
}
