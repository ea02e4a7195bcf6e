package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed Lloyd's k-means whose every number is computed in exact
  * 64-bit integer arithmetic, so the result is bit-identical on any
  * engine, any partitioning, any executor count — which is what lets a
  * k-means query be checked by the cross-engine SQL oracle at all
  * (MLlib's float accumulation is engine- and plan-order-specific).
  *
  * Domain trick: each vector component is scaled to micro-units
  * (`round(x * 1e6)` as BIGINT — unambiguous for float inputs: no float
  * lands exactly on a 6-dp midpoint, since 5·10⁻⁷ has no finite binary
  * expansion). Distances are integer sums of squared differences
  * (|x|≲1, 64 dims → ≤2⁴⁶, no overflow); centroid updates are half-up
  * integer division `sign(s)·((2|s|+n) div (2n))`, identical in Spark,
  * DuckDB, and JVM long math. Seeds are the k rows with the smallest
  * 60-bit md5 hash of the id (deterministic pseudo-random, expressible
  * in SQL). Fixed iteration count — no data-dependent convergence test.
  *
  * Scale shape (the production pattern for Lloyd's on a cluster):
  * centroids are k·dim longs — always driver/broadcast-size. Each round
  * is ONE map-side-combinable aggregation over the corpus: the
  * assignment is a generated per-row integer fold over the (codegen'd)
  * zip of the vector with k literal centroid arrays — no join, no
  * shuffle of the N·k distance matrix, no window. The only shuffle per
  * round is the k×(dim+2)-cell partial-aggregate exchange.
  */
object DeterministicKMeans {

  private def hash60(e: String): String =
    s"cast(conv(substr(md5($e), 1, 15), 16, 10) as bigint)"

  /** Per-row labels: (idCol, cluster) for every input row after `iters`
    * assignment rounds — the user-facing output of a clustering.
    */
  def assignments(
      df: DataFrame, idCol: String, vecCol: String,
      k: Int = 8, iters: Int = 5): DataFrame =
    run(df, idCol, vecCol, k, iters) { (base, assignCol, _) =>
      base.select(col("__id").as(idCol), assignCol.as("cluster"))
    }

  /** The model surface: fitted centroids (micro-unit longs, index =
    * cluster id) plus the per-row assignment frame. Centroids are
    * k·dim longs — always driver-size; callers embed them as constants
    * (e.g. the ADC lookup tables of an IVF-PQ index).
    */
  def fit(
      df: DataFrame, idCol: String, vecCol: String,
      k: Int = 8, iters: Int = 5): (Array[Array[Long]], DataFrame) = {
    var fitted: Array[Array[Long]] = null
    val assigns = run(df, idCol, vecCol, k, iters) { (base, assignCol, cents) =>
      fitted = cents
      base.select(col("__id").as(idCol), assignCol.as("cluster"))
    }
    (fitted, assigns)
  }

  /** (cluster, n_points, id_sum) after `iters` assignment rounds with
    * `iters - 1` centroid updates between them; `cluster` is the seed
    * rank (0..k-1), `id_sum` pins the exact membership. Only non-empty
    * clusters appear.
    */
  def clusterSizes(
      df: DataFrame, idCol: String, vecCol: String,
      k: Int = 8, iters: Int = 5): DataFrame =
    run(df, idCol, vecCol, k, iters) { (base, assignCol, _) =>
      base
        .withColumn("cluster", assignCol)
        .groupBy("cluster")
        .agg(count(lit(1)).as("n_points"), sum("__id").as("id_sum"))
    }

  /** Shared Lloyd's driver: fits the centroids, then hands the caller
    * the micro-unit frame plus the final assignment column to shape the
    * output. The result reads no cache: the distributed tier's is
    * localCheckpoint'd so the cache can be freed, and the local tier's
    * is built from driver rows.
    */
  private def run(
      df: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int)(
      finish: (DataFrame, Column, Array[Array[Long]]) => DataFrame): DataFrame = {
    require(k > 0 && iters > 0)

    // micro-unit integer vectors; cache: every round re-aggregates this
    val cached = df.select(
      col(idCol).cast("long").as("__id"),
      expr(s"transform($vecCol, x -> cast(round(cast(x as double) * 1000000, 0) as bigint))")
        .as("__v6"))
      .cache()
    try {
      // Small-input dispatch. Budget: at most
      // `spark.graft.kmeans.localLimit` rows (default 200k, <= ~100 MB
      // of micro-vectors at dim 64) reach the driver; <= 0 opts out.
      // One LocalFetch job counts the input, fills the cache the
      // distributed rounds read, and under the limit returns the rows.
      // Each distributed round is an aggregation job plus a collect,
      // pure launch overhead at this size. The driver replay runs the
      // identical exact-integer algorithm with the same tie rules, so
      // its result is bit-identical to the distributed rounds (the
      // dispatch-equality spec asserts it).
      val localLimit = df.sparkSession.conf
        .get("spark.graft.kmeans.localLimit", "200000").toLong
      val (n, fetched) = LocalFetch(cached, localLimit)
      if (localLimit > 0 && fetched.isDefined) {
        val rows = fetched.get.map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
        require(rows.nonEmpty, "k-means on an empty input")
        def hash60local(id: Long): Long = {
          val hex = java.security.MessageDigest.getInstance("MD5")
            .digest(id.toString.getBytes("UTF-8"))
            .map("%02x".format(_)).mkString
          java.lang.Long.parseLong(hex.substring(0, 15), 16)
        }
        var cents: Array[Array[Long]] = rows
          .sortBy(r => (hash60local(r._1), r._1)).take(k).map(_._2.clone())
        val dim = cents(0).length
        // argmin with first-match ties — array_position semantics
        def assignOf(v: Array[Long], cs: Array[Array[Long]]): Int = {
          var best = 0; var bestD = Long.MaxValue
          var c = 0
          while (c < cs.length) {
            var d = 0L; var i = 0
            while (i < dim) { val t = v(i) - cs(c)(i); d += t * t; i += 1 }
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          best
        }
        var r = 0
        while (r < iters - 1) {
          val sums = Array.fill(k, dim)(0L)
          val cnts = Array.fill(k)(0L)
          rows.foreach { case (_, v) =>
            val c = assignOf(v, cents); cnts(c) += 1
            var i = 0
            while (i < dim) { sums(c)(i) += v(i); i += 1 }
          }
          val next = cents.map(_.clone()) // empty cluster keeps its centroid
          var c = 0
          while (c < k) {
            if (cnts(c) > 0) {
              var i = 0
              while (i < dim) {
                val s = sums(c)(i); val m = cnts(c)
                // half-up integer mean, sign-symmetric — the exact
                // formula of the distributed update below
                next(c)(i) = if (s < 0) -((2 * -s + m) / (2 * m)) else (2 * s + m) / (2 * m)
                i += 1
              }
            }
            c += 1
          }
          cents = next
          r += 1
        }
        val labeled = rows.map { case (id, v) => (id, assignOf(v, cents).toLong) }
        import df.sparkSession.implicits._
        val base2 = labeled.toSeq.toDF("__id", "__cluster")
        return finish(base2, col("__cluster"), cents)
      }

      // size-aware parallelism: each round is a full aggregation job, so
      // on a small fit set task-launch overhead dominates 32-way fan-out
      // — narrow to a few partitions; a 100 TB fit set keeps its
      // partitioning
      val base = if (n < 1000000) cached.coalesce(4) else cached

      // deterministic seeds: k smallest (hash60(id), id)
      var cents: Array[Array[Long]] = base
        .orderBy(expr(hash60("cast(__id as string)")).asc, col("__id").asc)
        .limit(k)
        .select(col("__v6"))
        .collect()
        .map(_.getSeq[Long](0).toArray)
      require(cents.nonEmpty, "k-means on an empty input")
      val dim = cents(0).length

      // Centroids enter the plan as single ArrayType Literal nodes
      // (typedlit), NOT as CreateArray over k·dim child literals: the
      // literal payload is an opaque constant to the analyzer, codegen,
      // and the codegen cache, so the per-round assignment tree stays
      // ~k nodes instead of ~2·k·dim — with five rounds of changing
      // centroids the unrolled form re-analyzed and re-janino-compiled
      // thousands of literal nodes per run (measured 1.5→6.5s on q52).
      def distCol(c: Array[Long]): Column =
        aggregate(
          zip_with(col("__v6"), typedlit(c.toSeq), (x, cc) => (x - cc) * (x - cc)),
          lit(0L), (acc, d) => acc + d)
      // argmin cluster: first position of the min distance = smallest
      // cluster id among ties (array_position returns the first match)
      def assignCol(cs: Array[Array[Long]]): Column = {
        val ds = array(cs.toIndexedSeq.map(distCol): _*)
        (array_position(ds, array_min(ds)) - 1).cast("long")
      }

      var r = 0
      while (r < iters - 1) {
        // one aggregation job: per-cluster count + per-dim micro-sums
        val sumCols = (0 until dim).map(i =>
          sum(element_at(col("__v6"), i + 1)).as(s"s$i"))
        val agg = base
          .withColumn("__c", assignCol(cents))
          .groupBy("__c")
          .agg(count(lit(1)).as("n"), sumCols: _*)
          .collect()
        val next = cents.map(_.clone()) // empty cluster keeps its centroid
        agg.foreach { r =>
          val c = r.getAs[Long]("__c").toInt
          val n = r.getAs[Long]("n")
          var i = 0
          while (i < dim) {
            val s = r.getAs[Long](s"s$i")
            // half-up integer mean, sign-symmetric; exact in long math
            next(c)(i) = if (s < 0) -((2 * -s + n) / (2 * n)) else (2 * s + n) / (2 * n)
            i += 1
          }
        }
        cents = next
        r += 1
      }

      finish(base, assignCol(cents), cents)
        .localCheckpoint() // materialize so the cache can be freed
    } finally cached.unpersist()
  }

  /** The DuckDB oracle for clusterSizes on a table `emb(idCol, vecCol)`
    * — the same fixed-point algorithm unrolled as CTE stages (SQL has no
    * loop), emitted from the same code path so the two can't drift.
    */
  def clusterSizesDuck(
      table: String, idCol: String, vecCol: String,
      k: Int = 8, iters: Int = 5): String =
    assignmentsDuckCtes(table, idCol, vecCol, k, iters) + s"""
      SELECT cluster, count(*) AS n_points,
             CAST(sum(id) AS BIGINT) AS id_sum
      FROM assignF GROUP BY cluster"""

  /** The WITH-clause prefix of the oracle, ending at `assignF(id,
    * cluster)` — the per-row assignment relation. Callers append either
    * a bare SELECT (clusterSizesDuck) or further `, cte AS (...)` stages
    * that build on the labels (e.g. the semantic-dedup oracle).
    */
  def assignmentsDuckCtes(
      table: String, idCol: String, vecCol: String,
      k: Int = 8, iters: Int = 5): String =
    "\n      WITH " + assignmentsCtesBody(table, idCol, vecCol, k, iters)

  /** The same CTE chain WITHOUT the leading `WITH` and with every CTE
    * name prefixed `pfx` — composable: a caller can stitch several
    * independent k-means runs (e.g. one per PQ subspace) into one WITH
    * clause. `vecCol` may be any list-valued SQL expression over the
    * table's columns (e.g. `embedding[1:16]`).
    */
  def assignmentsCtesBody(
      table: String, idCol: String, vecCol: String,
      k: Int = 8, iters: Int = 5, pfx: String = ""): String = {
    val h = s"('0x' || substr(md5($idCol::VARCHAR), 1, 15))::BIGINT"
    val header = s"""${pfx}ex AS (
        SELECT $idCol AS id,
               unnest(range(len($vecCol))) AS dim,
               CAST(round(CAST(unnest($vecCol) AS DOUBLE) * 1000000) AS BIGINT) AS x6
        FROM $table),
      ${pfx}seeds AS (
        SELECT id, cluster FROM (
          SELECT $idCol AS id,
                 row_number() OVER (ORDER BY $h, $idCol) - 1 AS cluster
          FROM $table) WHERE cluster < $k),
      ${pfx}cent0 AS (
        SELECT s.cluster, e.dim, e.x6 AS c6
        FROM ${pfx}seeds s JOIN ${pfx}ex e ON e.id = s.id)"""
    val rounds = (0 until iters - 1).map { t =>
      s"""
      ${pfx}dist$t AS (
        SELECT e.id, c.cluster, sum((e.x6 - c.c6) * (e.x6 - c.c6)) AS d
        FROM ${pfx}ex e JOIN ${pfx}cent$t c ON e.dim = c.dim
        GROUP BY e.id, c.cluster),
      ${pfx}assign$t AS (
        SELECT id, cluster FROM (
          SELECT id, cluster,
                 row_number() OVER (PARTITION BY id ORDER BY d, cluster) AS rn
          FROM ${pfx}dist$t) WHERE rn = 1),
      ${pfx}sums$t AS (
        SELECT a.cluster, e.dim, sum(e.x6) AS s, count(*) AS n
        FROM ${pfx}assign$t a JOIN ${pfx}ex e ON e.id = a.id
        GROUP BY a.cluster, e.dim),
      ${pfx}cent${t + 1} AS (
        SELECT c.cluster, c.dim,
               CASE WHEN s.s IS NULL THEN c.c6
                    WHEN s.s < 0 THEN -((2 * (-s.s) + s.n) // (2 * s.n))
                    ELSE (2 * s.s + s.n) // (2 * s.n) END AS c6
        FROM ${pfx}cent$t c LEFT JOIN ${pfx}sums$t s
          ON s.cluster = c.cluster AND s.dim = c.dim)"""
    }.mkString(",", ",", "")
    val last = iters - 1
    val footer = s"""
      , ${pfx}distF AS (
        SELECT e.id, c.cluster, sum((e.x6 - c.c6) * (e.x6 - c.c6)) AS d
        FROM ${pfx}ex e JOIN ${pfx}cent$last c ON e.dim = c.dim
        GROUP BY e.id, c.cluster),
      ${pfx}assignF AS (
        SELECT id, cluster FROM (
          SELECT id, cluster,
                 row_number() OVER (PARTITION BY id ORDER BY d, cluster) AS rn
          FROM ${pfx}distF) WHERE rn = 1)"""
    header + rounds + footer
  }
}
