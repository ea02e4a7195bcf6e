package graft.operators

import org.apache.spark.graft.JobCounter
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** DeterministicKMeans: clustering quality on planted blobs, exact
  * partition-invariance (the property that makes it oracle-checkable),
  * and output invariants.
  */
class DeterministicKMeansSpec extends SparkSpec {
  import spark.implicits._

  // two well-separated 8-dim blobs, 40 points each, deterministic jitter
  private lazy val blobs = (0 until 80).map { i =>
    val center = if (i < 40) 1.0f else -1.0f
    val v = (0 until 8).map(d => center + 0.01f * ((i * 7 + d * 3) % 5)).toArray
    (i.toLong, v)
  }.toDF("vec_id", "embedding")

  test("planted blobs split perfectly at k=2") {
    val out = DeterministicKMeans.clusterSizes(blobs, "vec_id", "embedding", k = 2, iters = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(out.map(_._2).sorted.toSeq === Seq(40L, 40L))
    // membership check via id_sum: ids 0..39 sum to 780, 40..79 to 2380
    assert(out.map(_._3).sorted.toSeq === Seq(780L, 2380L))
  }

  test("bit-identical result under different partitioning") {
    val a = DeterministicKMeans.clusterSizes(blobs.repartition(1), "vec_id", "embedding", k = 3, iters = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val b = DeterministicKMeans.clusterSizes(blobs.repartition(7, col("vec_id")), "vec_id", "embedding", k = 3, iters = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(a === b)
  }

  test("assignments agree with clusterSizes") {
    val asg = DeterministicKMeans.assignments(blobs, "vec_id", "embedding", k = 4, iters = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(asg.length === 80)
    val fromAsg = asg.groupBy(_._2).map { case (c, xs) =>
      (c, xs.length.toLong, xs.map(_._1).sum)
    }.toSet
    val sizes = DeterministicKMeans.clusterSizes(blobs, "vec_id", "embedding", k = 4, iters = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(fromAsg === sizes)
  }

  test("driver-replay dispatch is BIT-IDENTICAL to the forced-distributed rounds") {
    // exact integer arithmetic with pinned tie rules is what makes the
    // local path safe under the SQL hash oracle — assert it outright:
    // assignments, cluster sizes, AND fitted centroids must match the
    // distributed rounds exactly, across ks/iters and on ragged ids
    val ragged = (0 until 57).map { i =>
      val v = (0 until 5).map(d => math.sin(i * 2.7 + d).toFloat).toArray
      (i * 13L + 7L, v)
    }.toDF("vec_id", "embedding")
    for ((df, k, iters) <- Seq((blobs, 2, 5), (blobs, 4, 3), (ragged, 3, 4))) {
      val localAsg = DeterministicKMeans
        .assignments(df, "vec_id", "embedding", k, iters)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val (localCents, _) = DeterministicKMeans.fit(df, "vec_id", "embedding", k, iters)
      spark.conf.set("spark.graft.kmeans.localLimit", "0")
      val (distAsg, distCents) = try {
        val a = DeterministicKMeans
          .assignments(df, "vec_id", "embedding", k, iters)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val (c, _) = DeterministicKMeans.fit(df, "vec_id", "embedding", k, iters)
        (a, c)
      } finally spark.conf.unset("spark.graft.kmeans.localLimit")
      assert(localAsg === distAsg, s"k=$k iters=$iters assignments")
      assert(localCents.map(_.toSeq).toSeq === distCents.map(_.toSeq).toSeq,
        s"k=$k iters=$iters centroids")
    }
  }

  test("clusters partition the input: sizes sum to N, ids to ΣN") {
    val out = DeterministicKMeans.clusterSizes(blobs, "vec_id", "embedding", k = 8, iters = 5)
      .collect()
    assert(out.map(_.getLong(1)).sum === 80L)
    assert(out.map(_.getLong(2)).sum === (0L until 80L).sum)
    assert(out.map(_.getLong(0)).distinct.length === out.length)
  }

  test("building clusterSizes on the local tier launches at most two jobs") {
    val (out, jobs) = JobCounter(spark.sparkContext)(
      DeterministicKMeans.clusterSizes(blobs, "vec_id", "embedding", k = 2, iters = 5))
    assert(jobs <= 2, s"$jobs jobs")
    assert(out.collect().map(_.getLong(1)).sorted.toSeq === Seq(40L, 40L))
  }
}
