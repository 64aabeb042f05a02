package graft

import org.apache.spark.sql.functions._
import graft.ops.KMeans

/** Lloyd k-means against a JVM replay of the same scaled-integer spec:
  * seeds = k smallest ids, d² on 1e6-scaled longs, centroid update =
  * floor(mean) per dimension, ties to the smaller cluster id.
  */
class KMeansSpec extends SparkSuite {

  private def refLloyd(vecs: Map[Long, Seq[Double]], k: Int, iters: Int)
      : Map[Long, (Long, Long)] = {
    val sv = vecs.map { case (id, v) =>
      id -> v.map(x => math.round(x * 1000000)) }
    var cent: Map[Long, Seq[Long]] =
      sv.filter(_._1 < k).map { case (id, s) => id -> s }
    def d2(a: Seq[Long], b: Seq[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    var out = Map.empty[Long, (Long, Long)]
    for (_ <- 1 to iters) {
      out = sv.map { case (id, s) =>
        val (d, cid) = cent.toSeq.map { case (cid, c) => (d2(s, c), cid) }
          .minBy(identity)
        id -> (cid, d)
      }
      cent = out.groupBy(_._2._1).map { case (cid, members) =>
        val ss = members.keys.toSeq.map(sv)
        cid -> ss.head.indices.map(i =>
          math.floor(ss.map(_(i)).sum.toDouble / ss.size).toLong)
      }
    }
    out
  }

  test("lloydAssign matches the scaled-integer reference on a 3-blob set") {
    import spark.implicits._
    // three separated blobs plus points that flip clusters after update 1
    val vecs: Map[Long, Seq[Double]] = Map(
      0L -> Seq(0.0, 0.0), 1L -> Seq(10.0, 10.0), 2L -> Seq(0.2, -0.1),
      3L -> Seq(0.1, 0.15), 4L -> Seq(9.8, 10.2), 5L -> Seq(10.1, 9.9),
      6L -> Seq(5.2, 5.0), 7L -> Seq(4.9, 5.1), 8L -> Seq(5.05, 4.9),
      9L -> Seq(-0.2, 0.05))
    val df = vecs.toSeq.map { case (id, v) => (id, v.map(_.toFloat)) }
      .toDF("vec_id", "embedding")
    for (iters <- Seq(1, 2, 3)) {
      val got = KMeans.lloydAssign(df, "vec_id", "embedding", k = 2, iters)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
        .toMap
      assert(got == refLloyd(vecs, 2, iters), s"iters=$iters")
    }
  }

  test("tie on distance assigns the smaller cluster id") {
    import spark.implicits._
    // ids 0,1 are the seeds; id 2 is equidistant from both
    val df = Seq(
      (0L, Seq(0.0f)), (1L, Seq(2.0f)), (2L, Seq(1.0f)))
      .toDF("vec_id", "embedding")
    val got = KMeans.lloydAssign(df, "vec_id", "embedding", k = 2, iters = 1)
      .filter(col("vec_id") === 2L).collect()
    assert(got.head.getLong(1) == 0L)
  }

  test("duplicate vectors each count toward their cluster's mean") {
    import spark.implicits._
    // ids 2 and 3 are equal: cluster 0's update is floor((0 + 1e6 + 1e6) / 3)
    val vecs: Map[Long, Seq[Double]] = Map(
      0L -> Seq(0.0), 1L -> Seq(10.0), 2L -> Seq(1.0), 3L -> Seq(1.0))
    val df = vecs.toSeq.map { case (id, v) => (id, v.map(_.toFloat)) }
      .toDF("vec_id", "embedding")
    val got = KMeans.lloydAssign(df, "vec_id", "embedding", k = 2, iters = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got(0L) == (0L, 666666L * 666666L))
    assert(got == refLloyd(vecs, 2, 2))
  }

  test("a cluster that loses all members drops out of the next assignment") {
    import spark.implicits._
    // seed 1 captures everything after the first update: all mass near 0
    val df = Seq(
      (0L, Seq(0.0f)), (1L, Seq(0.3f)), (2L, Seq(0.31f)), (3L, Seq(0.29f)))
      .toDF("vec_id", "embedding")
    val got = KMeans.lloydAssign(df, "vec_id", "embedding", k = 2, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == refLloyd(
      Map(0L -> Seq(0.0), 1L -> Seq(0.3), 2L -> Seq(0.31), 3L -> Seq(0.29)),
      2, 3).map { case (id, (cid, _)) => id -> cid })
  }
}
