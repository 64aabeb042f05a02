package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.apache.spark.sql.functions._

/** Randomized properties for the round-10 exact kernels, via the raw
  * ScalaCheck harness (PropertySpec's pattern). Spark-bound properties run
  * few, small cases — each case is a full job — and do not shrink: a
  * failing case is reported as drawn, not after hundreds more jobs.
  */
class R10PropertySpec extends SparkSuite {

  private def check(name: String, prop: Prop, n: Int): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), prop)
    assert(res.passed, s"$name: $res")
  }

  private val edgeGen: Gen[Seq[(Long, Long)]] =
    Gen.listOfN(25, Gen.zip(Gen.chooseNum(0L, 11L), Gen.chooseNum(0L, 11L)))
      .map(_.filter(e => e._1 != e._2))
      .suchThat(_.nonEmpty)

  test("triangles: engine == in-memory reference on random graphs") {
    import spark.implicits._
    check("triangles", Prop.forAllNoShrink(edgeGen) { edges =>
      val got = graft.ops.Triangles
        .perNode(edges.toDF("src", "dst"), "src", "dst")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      got == graft.ops.Triangles.perNodeRef(edges)
    }, n = 8)
  }

  test("kmeans: engine == scaled-integer reference on random vectors") {
    import spark.implicits._
    val vecsGen = Gen.listOfN(12,
        Gen.listOfN(3, Gen.chooseNum(-5.0, 5.0)))
      .map(_.zipWithIndex.map { case (v, i) => i.toLong -> v })
    check("kmeans", Prop.forAllNoShrink(vecsGen, Gen.oneOf(1, 2)) { (vecs, iters) =>
      val df = vecs.map { case (id, v) => (id, v.map(_.toFloat)) }
        .toDF("vec_id", "embedding")
      val got = graft.ops.KMeans.lloydAssign(df, "vec_id", "embedding", 2, iters)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      // reference replay (KMeansSpec's refLloyd, inlined); the DataFrame
      // column is FLOAT, so the reference must round-trip through Float
      // before scaling or the rounded int can differ by 1
      val sv = vecs.map { case (id, v) =>
        id -> v.map(x => math.round(x.toFloat.toDouble * 1e6)) }.toMap
      var cent: Map[Long, Seq[Long]] = sv.filter(_._1 < 2)
      var ref = Map.empty[Long, (Long, Long)]
      for (_ <- 1 to iters) {
        ref = sv.map { case (id, s) =>
          val (d, cid) = cent.toSeq.map { case (c, cv) =>
            (s.zip(cv).map { case (x, y) => (x - y) * (x - y) }.sum, c)
          }.minBy(identity)
          id -> (cid, d)
        }
        cent = ref.groupBy(_._2._1).map { case (cid, ms) =>
          val ss = ms.keys.toSeq.map(sv)
          cid -> ss.head.indices.map(i =>
            math.floor(ss.map(_(i)).sum.toDouble / ss.size).toLong)
        }
      }
      got == ref
    }, n = 8)
  }

  test("sweep: engine == brute force; swap-invariant under interval order") {
    import spark.implicits._
    val ivGen = Gen.listOfN(30,
        Gen.zip(Gen.chooseNum(0L, 50L), Gen.chooseNum(1L, 20L)))
      .map(_.map { case (s, len) => (s, s + len) })
      .suchThat(_.nonEmpty)
    check("sweep", Prop.forAllNoShrink(ivGen) { ivs =>
      val got = graft.ops.Sweep
        .peakConcurrency(ivs.toDF("s", "e"), "s", "e").head()
      val events = ivs.flatMap { case (s, e) => Seq((s, 1), (e, -1)) }
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq.sortBy(_._1)
      val sweep = events.scanLeft((0L, 0)) {
        case ((_, acc), (t, d)) => (t, acc + d) }.drop(1)
      val peak = sweep.map(_._2).max
      got.getLong(0) == peak.toLong &&
        got.getLong(1) == sweep.find(_._2 == peak).get._1
    }, n = 8)
  }

  test("weighted median: crossing rule holds and matches brute force") {
    import spark.implicits._
    val rowsGen = Gen.nonEmptyListOf(
      Gen.zip(Gen.chooseNum(0L, 9L), Gen.chooseNum(1L, 5L)))
    check("wmedian", Prop.forAllNoShrink(rowsGen) { rows =>
      val df = rows.map { case (v, w) => ("g", v, w) }.toDF("grp", "v", "w")
      val got = graft.ops.Quantiles.weightedMedian(df, "grp", "v", "w").head()
      val tot = rows.map(_._2).sum
      val byV = rows.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      val ref = byV.keys.toSeq.sorted
        .find(v => 2 * byV.filterKeys(_ <= v).values.sum >= tot).get
      got.getLong(1) == tot && got.getLong(2) == ref
    }, n = 12)
  }

  test("cusum: closed form equals the recursive clamp on random series") {
    import spark.implicits._
    val seriesGen = Gen.nonEmptyListOf(Gen.chooseNum(0L, 50L))
      .suchThat(_.size >= 2)
    check("cusum", Prop.forAllNoShrink(seriesGen) { series =>
      val df = series.zipWithIndex.map { case (n, i) => (i.toLong, n) }
        .toDF("p", "n")
      val got = graft.ops.TimeSeries.cusum(df, "p", "n", 1, 20)
        .orderBy("p").collect().map(_.getLong(2)).toSeq
      val d = series.size; val total = series.sum
      var s = 0L
      val ref = series.map { n =>
        s = math.max(0L, s + (n * d - total)); s }
      got == ref
    }, n = 12)
  }

  test("mann-whitney: U1(A) + U1(B) == n1*n2 under group swap") {
    import spark.implicits._
    val sampGen = Gen.zip(
      Gen.nonEmptyListOf(Gen.chooseNum(0, 6).map(_.toDouble)),
      Gen.nonEmptyListOf(Gen.chooseNum(0, 6).map(_.toDouble)))
    check("mw", Prop.forAllNoShrink(sampGen) { case (a, b) =>
      val df = (a.map(("a", _)) ++ b.map(("b", _))).toDF("g", "v")
      val ra = graft.ops.RankTest.mannWhitney(df, col("v"), col("g") === "a").head()
      val rb = graft.ops.RankTest.mannWhitney(df, col("v"), col("g") === "b").head()
      // doubled scale: 2U1 + 2U2 = 2·n1·n2, and z antisymmetric
      ra.getLong(2) + rb.getLong(2) == 2L * a.size * b.size &&
        (ra.isNullAt(3) || math.abs(ra.getDouble(3) + rb.getDouble(3)) <= 2e-6)
    }, n = 8)
  }
}
