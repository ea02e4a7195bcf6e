package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** Forty-eighth wave — positional retrieval, data layout, and
  * compliance:
  *
  *  - q317: phrase search over positional postings (the IR capability
  *    term search q221 can't express: adjacency), postings filtered to
  *    the phrase words BEFORE any shuffle.
  *  - q318: Z-order (Morton) layout quality — interleave two key
  *    columns bit-by-bit (plan-time-generated integer expression, no
  *    UDF) and measure per-slab bounding-box area against the linear
  *    layout: the data-layout decision behind OPTIMIZE ZORDER /
  *    file-skipping effectiveness at 100 TB.
  *  - q319: GDPR erasure impact plan — the customer→orders→lineitem
  *    cascade counted per table before any delete runs (semi-join
  *    chains, keys-only), the compliance dry-run a warehouse needs.
  */
object Training48 {
  private def t(s: SparkSession, d: String, n: String) = Tables(s, d, n)

  /** Morton interleave for the ORACLE SQL — the engine-neutral integer
    * arithmetic is owned by graft.operators.ZOrderLayout.morton10 (one
    * source for both dialects, so engine and oracle cannot drift).
    */
  private def morton10(a: String, b: String): String =
    graft.operators.ZOrderLayout.morton10(a, b)

  val defs: Seq[QueryDef] = Seq(

    // ---- phrase search: the corpus's most frequent adjacent bigram is
    // found first (positional window per doc), then located EXACTLY via
    // the positional-postings self-join (p2.pos = p1.pos + 1) — the
    // inverted-index-with-positions shape. Postings are filtered to the
    // two phrase words before the join shuffles, so the join input is
    // term-frequency-sized, not corpus-sized; the bigram discovery pass
    // is one keyed window + one agg.
    QueryDef(
      "q317_phrase_search",
      (s, d) => {
        val post = t(s, d, "documents")
          .select(col("doc_id"),
            posexplode(expr("filter(split(text, ' '), w -> w <> '')"))
              .as(Seq("pos", "word")))
          .localCheckpoint() // bigram discovery + phrase verify read it
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy("pos")
        val big = post
          .withColumn("nxt", lead("word", 1).over(w))
          .filter(col("nxt").isNotNull)
          .groupBy("word", "nxt").agg(count(lit(1)).as("c"))
          .orderBy(col("c").desc, col("word").asc, col("nxt").asc)
          .limit(1)
          .select(col("word").as("w1"), col("nxt").as("w2"))
        val phrase = broadcast(big)
        val p1 = post.join(phrase, post("word") === phrase("w1"))
          .select(col("doc_id"), col("pos"), col("w1"), col("w2"))
        val p2 = post.select(col("doc_id").as("doc2"), col("pos").as("pos2"),
          col("word").as("word2"))
        p1.join(p2,
          col("doc_id") === col("doc2") &&
            col("pos2") === col("pos") + 1 && col("word2") === col("w2"))
          .groupBy("w1", "w2")
          .agg(countDistinct("doc_id").as("n_docs"),
            count(lit(1)).as("n_occurrences"))
      },
      Some("""
        WITH post AS (
          SELECT doc_id, u.pos, u.word FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(toks) + 1),
                     i -> {'pos': i - 1, 'word': toks[CAST(i AS INTEGER)]}))
                     AS u
            FROM (SELECT doc_id,
                         list_filter(string_split(text, ' '), x -> x <> '')
                           AS toks
                  FROM documents) d) z),
        big AS (
          SELECT word AS w1, nxt AS w2 FROM (
            SELECT word, lead(word) OVER (PARTITION BY doc_id ORDER BY pos)
                     AS nxt
            FROM post) z
          WHERE nxt IS NOT NULL
          GROUP BY 1, 2
          ORDER BY count(*) DESC, w1, w2 LIMIT 1),
        hits AS (
          SELECT a.doc_id, big.w1, big.w2
          FROM post a
          JOIN big ON a.word = big.w1
          JOIN post b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
                     AND b.word = big.w2)
        SELECT w1, w2, count(DISTINCT doc_id) AS n_docs,
               count(*) AS n_occurrences
        FROM hits GROUP BY 1, 2""")),

    // ---- Z-order layout quality: rows keyed by (a, b) = (partkey,
    // suppkey) mod 1024 are binned into 64 equal-population slabs two
    // ways — by Morton z-value and by the linear key a·1024+b — and
    // each layout is scored by Σ slab bounding-box area (what min/max
    // file skipping sees: smaller boxes ⇒ more prunable files). The
    // interleave is a plan-time-expanded integer expression (no UDF).
    // The (a, b, z, k) histogram is bounded at 2²⁰ rows by the mod-1024
    // keying, collected once, and folded on the driver: 63 exact
    // percentile boundaries per layout, slab = #{boundaries < key}, no
    // global window (at deployment the same boundaries drive the
    // write-side repartitionByRange). THIS exact-percentile form is the
    // ORACLE TRUTH; q344_zorder_layout_sketch is its sketch-boundary
    // twin (one mergeable approx_percentile agg fits both layouts'
    // boundaries, slab-population contract gate), and
    // ZOrderLayout.score routes there past spark.graft.layout.exactLimit.
    // zorder_wins reports whether the z layout's total box area beats
    // linear — TRUE whenever the key grid is dense (sf0.01+ here); on a
    // very sparse grid (sf0.001) linear's thin-slab shape can win, which
    // the computed verdict records honestly.
    QueryDef(
      "q318_zorder_layout",
      (s, d) => {
        import graft.operators.ZOrderLayout
        ZOrderLayout.scoreExact(ZOrderLayout.keyed(
          t(s, d, "lineitem"), "l_partkey", "l_suppkey")).orderBy("layout")
      },
      Some {
        val qs = (1 to 63).map(i => i / 64.0).mkString(", ")
        s"""
        WITH pm AS (
          -- pmod mirror of ZOrderLayout.keyed: Spark pins a,b in [0,1024)
          -- via pmod even for negative keys; DuckDB % is sign-preserving,
          -- so the double-mod keeps both dialects identical on ANY key sign
          SELECT ((l_partkey % 1024) + 1024) % 1024 AS pa,
                 ((l_suppkey % 1024) + 1024) % 1024 AS pb
          FROM lineitem),
        keyed AS (
          SELECT pa AS a, pb AS b,
                 ${morton10("pa", "pb")} AS z,
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
        zl AS (SELECT za.sum_area AS zs, la.sum_area AS ls FROM za, la)
        SELECT layout, sum_area, zorder_wins FROM (
          SELECT 'zorder' AS layout, zs AS sum_area, zs < ls AS zorder_wins
          FROM zl
          UNION ALL
          SELECT 'linear', ls, zs < ls FROM zl) u
        ORDER BY layout"""
      }),

    // ---- GDPR erasure impact plan: for the customers selected for
    // erasure (c_custkey % 97 = 0), the dry-run counts what a cascade
    // delete touches — customer rows, their orders, their orders'
    // lineitems — per table with exact ppm shares. Keys-only semi-join
    // chain: each fact passes once, the erasure key set flows as
    // broadcast/semi joins, nothing data-sized materializes. (The
    // actual delete at deployment is a MERGE/anti-join write per table
    // — this is its cost/blast-radius estimate.)
    QueryDef(
      "q319_gdpr_erasure_plan",
      (s, d) => {
        import s.implicits._
        val erased = t(s, d, "customer")
          .filter(col("c_custkey") % 97 === 0)
          .select(col("c_custkey"))
          .localCheckpoint() // three semi-joins read it
        val custTotal = t(s, d, "customer").count()
        val custHit = erased.count()
        val orders = t(s, d, "orders")
        val ordTotal = orders.count()
        val ordHit = orders.join(erased,
          orders("o_custkey") === erased("c_custkey"), "left_semi")
        val ordHitN = ordHit.count()
        val li = t(s, d, "lineitem")
        val liTotal = li.count()
        val liHitN = li.join(ordHit.select("o_orderkey"),
          li("l_orderkey") === col("o_orderkey"), "left_semi").count()
        def ppm(hit: Long, total: Long): Long =
          (2 * 1000000L * hit + total) / (2 * total)
        Seq(
          ("customer", custTotal, custHit, ppm(custHit, custTotal)),
          ("lineitem", liTotal, liHitN, ppm(liHitN, liTotal)),
          ("orders", ordTotal, ordHitN, ppm(ordHitN, ordTotal)))
          .toDF("table_name", "n_rows", "n_affected", "share_ppm")
          .orderBy("table_name")
      },
      Some("""
        WITH erased AS (
          SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0),
        ohit AS (
          SELECT o_orderkey FROM orders
          WHERE o_custkey IN (SELECT c_custkey FROM erased)),
        rows AS (
          SELECT 'customer' AS table_name,
                 (SELECT count(*) FROM customer) AS n_rows,
                 (SELECT count(*) FROM erased) AS n_affected
          UNION ALL
          SELECT 'orders', (SELECT count(*) FROM orders),
                 (SELECT count(*) FROM ohit)
          UNION ALL
          SELECT 'lineitem', (SELECT count(*) FROM lineitem),
                 (SELECT count(*) FROM lineitem
                  WHERE l_orderkey IN (SELECT o_orderkey FROM ohit)))
        SELECT table_name, CAST(n_rows AS BIGINT) AS n_rows,
               CAST(n_affected AS BIGINT) AS n_affected,
               CAST((2 * 1000000 * n_affected + n_rows) // (2 * n_rows)
                 AS BIGINT) AS share_ppm
        FROM rows ORDER BY table_name""")),
  )
}
