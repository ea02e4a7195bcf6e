package graft

import org.apache.spark.graft.JobCounter
import org.apache.spark.sql.DataFrame

import graft.operators.Graphs

/** The triangle queries' two tiers answer alike: the driver census
  * (default edge limit) equals the distributed plans (`localEdgeLimit =
  * 0`) for q143's (n_nodes, n_edges, n_triangles) and q165's (n_edges,
  * n_triangles, max_outdeg), on the catalog graph and on hand-built
  * shapes, and also when the wedge-mass limit forces the sampled
  * branch. Both tiers reject a pair that breaks the u < v contract, and
  * building q143/q165 on the catalog stays a handful of jobs.
  */
class TriangleDispatchSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private def catalogEdges() = Graphs.coPurchaseEdges(Tables(spark, dir, "lineitem"))

  private def edges(ps: Seq[(Long, Long)]): DataFrame = ps.toDF("u", "v")

  private def q143(e: DataFrame, limit: Long, wedgeMassLimit: Long = -1L) =
    Graphs.triangleStats(e, wedgeMassLimit = wedgeMassLimit, localEdgeLimit = limit)
      .collect().head.toSeq
  private def q165(e: DataFrame, limit: Long, wedgeMassLimit: Long = -1L) =
    Graphs.triangleDegreeStats(e, wedgeMassLimit = wedgeMassLimit, localEdgeLimit = limit)
      .collect().head.toSeq

  /** Asserts local == distributed for both queries; returns the local rows. */
  private def bothTiersAgree(e: DataFrame, wedgeMassLimit: Long = -1L)
      : (Seq[Any], Seq[Any]) = {
    val local143 = q143(e, 500000L, wedgeMassLimit)
    val local165 = q165(e, 500000L, wedgeMassLimit)
    assert(local143 === q143(e, 0L, wedgeMassLimit), "q143 local vs distributed")
    assert(local165 === q165(e, 0L, wedgeMassLimit), "q165 local vs distributed")
    (local143, local165)
  }

  private val hubRing: Seq[(Long, Long)] =
    (1L to 400L).map(i => (0L, i)) ++ (1L to 399L).map(i => (i, i + 1))

  private val k25: Seq[(Long, Long)] =
    for (i <- 0L until 25L; j <- i + 1 until 25L) yield (i, j)

  test("catalog co-purchase graph: both tiers agree and q143/q165 count the same triangles") {
    val e = catalogEdges()
    val (a, b) = bothTiersAgree(e)
    assert(a(2).asInstanceOf[Long] > 0L, "non-vacuous: the graph has triangles")
    assert(a(1) === b(0) && a(2) === b(1), "q143 and q165 share n_edges and n_triangles")
  }

  test("planted hub + ring: both tiers agree; the hub absorbs its edges") {
    val (a, b) = bothTiersAgree(edges(hubRing))
    // 399 hub-ring triangles (0, i, i+1); the hub has the top degree, so
    // each ring node emits its hub edge and at most one ring edge
    assert(a === Seq(401L, 799L, 399L))
    assert(b === Seq(799L, 399L, 2L))
  }

  test("K25 clique: both tiers agree on C(25,3) triangles") {
    val (a, b) = bothTiersAgree(edges(k25))
    // equal degrees → id order: node 0 emits all 24 edges
    assert(a === Seq(25L, 300L, 2300L))
    assert(b === Seq(300L, 2300L, 24L))
  }

  test("seeded random graph: both tiers agree") {
    val rnd = new scala.util.Random(20261019L)
    val ps = (for (i <- 0L until 200L; j <- i + 1 until 200L
      if rnd.nextDouble() < 0.08) yield (i * 7919L % 1000003L, j * 7919L % 1000003L))
      .map { case (x, y) => (math.min(x, y), math.max(x, y)) }
    val (a, _) = bothTiersAgree(edges(ps))
    assert(a(2).asInstanceOf[Long] > 0L)
  }

  test("empty edge list and a single edge: both tiers agree") {
    val (ea, eb) = bothTiersAgree(edges(Seq.empty))
    assert(ea === Seq(0L, 0L, 0L))
    assert(eb === Seq(0L, 0L, 0L))
    val (sa, sb) = bothTiersAgree(edges(Seq((5L, 9L))))
    assert(sa === Seq(2L, 1L, 0L))
    assert(sb === Seq(1L, 0L, 1L))
  }

  test("ids above Int.MaxValue are not folded together") {
    // the four ids agree in their low 32 bits: an Int-truncating index
    // would see one node
    val ids = Seq(1L, 1L + (1L << 32), 1L + (1L << 33), 1L + (1L << 40))
    val ps = for (i <- ids.indices; j <- i + 1 until ids.size) yield (ids(i), ids(j))
    val (a, b) = bothTiersAgree(edges(ps))
    assert(a === Seq(4L, 6L, 4L))
    assert(b === Seq(6L, 4L, 3L))
  }

  test("wedgeMassLimit = 0 routes both tiers to the same sampled estimate") {
    val e = catalogEdges()
    val exact = q143(e, 500000L)
    val (a, b) = bothTiersAgree(e, wedgeMassLimit = 0L)
    assert(a.take(2) === exact.take(2), "n_nodes/n_edges stay exact")
    assert(a(2) === b(1), "q143 and q165 sample the same subgraph")
    assert(a(2) !== exact(2), "the sampled branch ran")
  }

  test("both tiers reject a u >= v pair or a null id; the local tier rejects a repeat") {
    for (bad <- Seq(Seq((1L, 2L), (3L, 3L)), Seq((1L, 2L), (4L, 3L))); limit <- Seq(500000L, 0L)) {
      val ex = intercept[IllegalArgumentException](q143(edges(bad), limit))
      assert(ex.getMessage.contains("u < v"), ex.getMessage)
      intercept[IllegalArgumentException](q165(edges(bad), limit))
    }
    val withNull = Seq((Some(1L), Some(2L)), (Some(1L), None)).toDF("u", "v")
    for (limit <- Seq(500000L, 0L))
      intercept[IllegalArgumentException](q143(withNull, limit))
    val dup = intercept[IllegalArgumentException](
      q143(edges(Seq((1L, 2L), (2L, 3L), (1L, 2L))), 500000L))
    assert(dup.getMessage.contains("distinct"), dup.getMessage)
    assert(intercept[IllegalArgumentException](
      Graphs.localTriangleCensus(Array(7L), Array(7L))).getMessage.contains("u < v"))
  }

  test("building q143 and q165 on the catalog launches at most 8 jobs each") {
    def build(name: String) =
      SparkEntry.allDefs.find(_.name == name).get.fn(spark, dir).collect()
    for (name <- Seq("q143_triangle_count", "q165_triangle_degree")) {
      build(name) // warm-up
      val (_, jobs) = JobCounter(spark.sparkContext)(build(name))
      assert(jobs <= 8, s"$name launched $jobs jobs")
    }
  }
}
