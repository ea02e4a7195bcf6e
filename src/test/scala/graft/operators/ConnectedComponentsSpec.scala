package graft.operators

import org.apache.spark.graft.JobCounter
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Dedup.connectedComponents on handcrafted graphs: component labels,
  * multi-round convergence (chains longer than one hop), isolation of
  * separate components, and the empty-edge-list edge case.
  */
class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  private def components(pairs: Seq[(Long, Long)]): Map[Long, Long] =
    Dedup.connectedComponents(pairs.toDF("a", "b"), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("two components: {1,2,3} and {5,6}") {
    val got = components(Seq((1L, 2L), (2L, 3L), (5L, 6L)))
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L))
  }

  test("long chain converges past one propagation round (diameter 7)") {
    val chain = (1L until 8L).map(i => (i, i + 1))
    val got = components(chain)
    assert(got === (1L to 8L).map(_ -> 1L).toMap)
  }

  test("label flows against edge orientation (high id listed first)") {
    // pairs as (big, small): propagation must still reach everyone
    val got = components(Seq((9L, 4L), (4L, 2L), (7L, 9L)))
    assert(got === Map(2L -> 2L, 4L -> 2L, 9L -> 2L, 7L -> 2L))
  }

  test("empty pair list yields empty labels") {
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(Dedup.connectedComponents(empty, "a", "b").count() === 0L)
  }

  test("random graphs match an in-test union-find oracle") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 5) {
      val n = 10 + rnd.nextInt(20)
      val pairs = Seq.fill(n) {
        (rnd.nextInt(25).toLong, rnd.nextInt(25).toLong)
      }.filter { case (a, b) => a != b }
      // union-find oracle
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct
      // canonicalize: component id = min member id
      val expected = nodes.groupBy(find).flatMap { case (_, members) =>
        val mn = members.min; members.map(_ -> mn)
      }
      assert(components(pairs) === expected, s"trial $trial pairs=$pairs")
    }
  }

  private def starComponents(pairs: Seq[(Long, Long)], maxIter: Int = 20): Map[Long, Long] =
    Dedup.connectedComponentsStar(pairs.toDF("a", "b"), "a", "b", maxIter)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("star contraction: 10k-node path graph (min-label's worst case) in O(log n) rounds") {
    // diameter 10_000: min-label propagation would need 10k rounds;
    // star contraction must land inside maxIter = 20 ≈ log2(10k) + slack,
    // or the labels come out wrong and the assertion fails.
    val n = 10000L
    val path = (0L until n - 1).map(i => (i, i + 1))
    // force the DISTRIBUTED star rounds — the small-graph union-find
    // dispatch would otherwise absorb this graph and the log-round
    // convergence claim would go untested
    spark.conf.set("spark.graft.cc.localLimit", "0")
    val got =
      try starComponents(path, maxIter = 20)
      finally spark.conf.unset("spark.graft.cc.localLimit")
    assert(got.size === n)
    assert(got.values.forall(_ == 0L), "single component labeled by its min node")
  }

  test("star contraction matches union-find and min-label on random graphs") {
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val pairs = Seq.fill(25 + rnd.nextInt(15)) {
        (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong)
      }.filter { case (a, b) => a != b }
      assert(starComponents(pairs) === components(pairs), s"trial $trial pairs=$pairs")
    }
  }

  test("local union-find dispatch equals the forced-distributed plans (both variants)") {
    // default localLimit routes these graphs through the driver-side
    // union-find; limit 0 is the explicit opt-out that forces the
    // distributed rounds — every labeling must be identical across all
    // four paths (the dispatch must be invisible)
    val rnd = new scala.util.Random(13)
    for (trial <- 1 to 3) {
      val pairs = Seq.fill(30 + rnd.nextInt(20)) {
        (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong)
      }.filter { case (a, b) => a != b }
      val localProp = components(pairs)
      val localStar = starComponents(pairs)
      spark.conf.set("spark.graft.cc.localLimit", "0")
      try {
        val distProp = components(pairs)
        val distStar = starComponents(pairs)
        assert(localProp === distProp, s"trial $trial propagation")
        assert(localStar === distStar, s"trial $trial star")
        assert(localProp === localStar, s"trial $trial cross-variant")
      } finally spark.conf.unset("spark.graft.cc.localLimit")
    }
  }

  test("pair graphs past the local limit route distributed and stay correct") {
    // force the ceiling BELOW the graph size: the fetch must see the
    // count over the limit and fall through to the distributed plan
    val chain = (1L to 50L).map(i => (i, i + 1))
    spark.conf.set("spark.graft.cc.localLimit", "10")
    try {
      val got = starComponents(chain)
      assert(got.size === 51 && got.values.forall(_ == 1L))
    } finally spark.conf.unset("spark.graft.cc.localLimit")
  }

  test("star contraction: empty and two-component graphs") {
    assert(starComponents(Seq.empty).isEmpty)
    assert(starComponents(Seq((1L, 2L), (2L, 3L), (5L, 6L))) ===
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L))
  }

  test("leaf peel drains the loop (planted graph, pinned sizes)") {
    // Three isolated pairs + a diameter-7 chain, forced distributed.
    // Every pair peels its larger endpoint in round 1 (isolating the
    // smaller), and the chain's contracted-star leaves peel EVERY
    // round — the pinned active-edge counts are the observability hook
    // (the deltaFixpoint discipline): a regression that keeps peelable
    // leaves in the loop shows up as a fatter sequence, and a
    // regression that peels too eagerly breaks the label assertions.
    spark.conf.set("spark.graft.cc.localLimit", "0")
    try {
      val pairs = ((0L until 7L).map(i => (i, i + 1)) ++
        Seq((100L, 101L), (102L, 103L), (104L, 105L))).toDF("a", "b")
      val (out, rounds, sizes) =
        Dedup.connectedComponentsStarCounted(pairs, "a", "b")
      // strictly shrinking to 0 — the verdict-item-7 contract: the
      // peel/contract pre-phase drains pairs AND chain without ever
      // entering a (densifying) star round
      assert(sizes.zip(sizes.tail).forall { case (a, b) => b < a },
        s"per-round active-edge counts must strictly shrink: $sizes")
      assert(rounds === 5 && sizes === Seq(8L, 6L, 4L, 2L, 0L))
      val got = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === ((0L to 7L).map(_ -> 0L) ++
        Seq(100L -> 100L, 101L -> 100L, 102L -> 102L,
          103L -> 102L, 104L -> 104L, 105L -> 104L)).toMap)

      // a pairs-only graph is ALL stars: one round, empty remainder —
      // the loop must end with no chain left to iterate
      val (out2, rounds2, sizes2) = Dedup.connectedComponentsStarCounted(
        Seq((100L, 101L), (102L, 103L), (104L, 105L)).toDF("a", "b"), "a", "b")
      assert(rounds2 === 1 && sizes2 === Seq(0L))
      assert(out2.count() === 6L)
    } finally spark.conf.unset("spark.graft.cc.localLimit")
  }

  test("pure chain: per-round active mass strictly shrinks (leaf peel)") {
    // The r13 worst case: whole-star parking had NOTHING to park on a
    // chain until convergence (its full mass re-entered every round).
    // Leaf peeling must shrink the active edge set every round — on a
    // 64-node chain the doubled input is 126 active rows, so every
    // subsequent count must strictly decrease until 0.
    spark.conf.set("spark.graft.cc.localLimit", "0")
    try {
      val chain = (0L until 63L).map(i => (i, i + 1)).toDF("a", "b")
      val (out, _, sizes) =
        Dedup.connectedComponentsStarCounted(chain, "a", "b")
      assert(sizes.nonEmpty && sizes.last === 0L, s"loop must drain: $sizes")
      assert((126L +: sizes).zip(sizes).forall { case (a, b) => b < a },
        s"chain active-edge counts must strictly shrink from 126: $sizes")
      assert(sizes === Seq(88L, 60L, 40L, 26L, 14L, 8L, 4L, 2L, 0L))
      val got = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === (0L to 63L).map(_ -> 0L).toMap)
    } finally spark.conf.unset("spark.graft.cc.localLimit")
  }

  test("null pair ids are dropped identically on local and distributed paths") {
    // the driver union-find would NPE on getLong(null); the distributed
    // joins silently never match a null key — the dispatch filters
    // nulls up front so both paths see the same effective graph
    val pairs = Seq(
      (Some(1L), Some(2L)), (None, Some(3L)), (Some(4L), None),
      (Some(2L), Some(5L)), (None: Option[Long], None: Option[Long]))
      .toDF("a", "b")
    def run(): Map[Long, Long] =
      Dedup.connectedComponentsStar(pairs, "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val local = run()
    spark.conf.set("spark.graft.cc.localLimit", "0")
    val dist = try run() finally spark.conf.unset("spark.graft.cc.localLimit")
    assert(local === Map(1L -> 1L, 2L -> 1L, 5L -> 1L))
    assert(local === dist)
  }

  test("localLimit at or above Int.MaxValue-1 routes distributed (truncation check would be blind)") {
    // a limit that high would ask for a driver union-find over more
    // pairs than an array can index, so it opts out of the local path
    spark.conf.set("spark.graft.cc.localLimit", Long.MaxValue.toString)
    try {
      val got = starComponents(Seq((1L, 2L), (2L, 3L), (5L, 6L)))
      assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L))
    } finally spark.conf.unset("spark.graft.cc.localLimit")
  }

  test("deterministic across repartitioning") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (3L, 5L), (10L, 11L))
    val a = components(pairs)
    val b = Dedup.connectedComponents(
      pairs.toDF("a", "b").repartition(7, col("b")), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a === b)
  }

  test("building star components on the local tier launches one job") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a", "b")
    val (out, jobs) = JobCounter(spark.sparkContext)(
      Dedup.connectedComponentsStar(pairs, "a", "b"))
    assert(jobs === 1, s"$jobs jobs")
    assert(out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ===
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L))
  }
}
