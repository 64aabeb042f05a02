package graft

import org.apache.spark.sql.functions._
import graft.ops.{Blocking, Skyline}

/** Skyline vs O(n²) dominance reference; sorted-neighborhood vs a
  * sequential sliding-window reference.
  */
class SkylineBlockingSpec extends SparkSuite {
  import spark.implicits._

  test("front2 equals the O(n²) dominance reference on random points") {
    val rnd = new scala.util.Random(42)
    val pts = (1L to 300L).map(i =>
      (i, rnd.nextInt(40).toDouble, math.floor(rnd.nextDouble() * 1000) / 10))
    val got = Skyline.front2(pts.toDF("id", "x", "y").repartition(7), "x", "y")
      .select("id").as[Long].collect().toSet
    assert(got === Skyline.front2Ref(pts))
  }

  test("duplicate points on the front all survive; nulls are excluded") {
    val pts = Seq(
      (1L, Some(10.0), Some(5.0)), (2L, Some(10.0), Some(5.0)), // dup front pt
      (3L, Some(9.0), Some(6.0)), (4L, Some(9.0), Some(4.0)),   // 4 dominated by 3
      (5L, None, Some(99.0)), (6L, Some(99.0), None))           // nulls out
    val got = Skyline.front2(pts.toDF("id", "x", "y"), "x", "y")
      .select("id").as[Long].collect().toSet
    assert(got === Set(1L, 2L, 3L))
  }

  test("descending-x running max crosses partition boundaries correctly") {
    // strictly increasing y with increasing x: the front is ONLY the max-x
    // point; any partition-boundary bug would leak extra "survivors"
    val pts = (1L to 500L).map(i => (i, i.toDouble, i.toDouble))
    val got = Skyline.front2(pts.toDF("id", "x", "y").repartition(11), "x", "y")
      .select("id").as[Long].collect().toSet
    assert(got === Set(500L))
  }

  test("sortedNeighborhood equals the sequential sliding-window reference") {
    val rnd = new scala.util.Random(7)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
    val docs = (1L to 120L).map { i =>
      val words = (0 until 6).map(_ => vocab(rnd.nextInt(vocab.size)))
      (i, words.mkString(" "))
    }
    val (w, t) = (5, 0.5)
    // reference: same key, same ordering, exhaustive window scan
    val keyed = docs.map { case (id, text) =>
      val toks = text.split(" ").filter(_.nonEmpty).distinct.toSeq
      (id, toks.sorted.take(3).mkString(" "), toks.toSet)
    }.sortBy { case (id, k, _) => (k, id) }
    val want = (for {
      i <- keyed.indices
      j <- (i + 1) until math.min(i + w, keyed.size)
      inter = keyed(i)._3.intersect(keyed(j)._3).size.toDouble
      un = keyed(i)._3.union(keyed(j)._3).size
      if un > 0 && inter / un >= t
    } yield (keyed(i)._1, keyed(j)._1, inter / un)).toSet
    val toks = filter(split(col("text"), " "), x => length(x) > 0)
    val got = Blocking.sortedNeighborhood(
        docs.toDF("doc_id", "text").repartition(9), "doc_id",
        concat_ws(" ", slice(array_sort(array_distinct(toks)), 1, 3)),
        toks, w, t)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === want)
  }

  test("sortedNeighborhood candidate count is O(n·w) under one hot key") {
    // every doc identical ⇒ hash blocking would yield n²/2 pairs; the
    // sorted window must yield exactly (n-w+1)(w-1) + C(w-1,2)
    val n = 50
    val w = 4
    val docs = (1L to n.toLong).map(i => (i, "same words here"))
    val toks = filter(split(col("text"), " "), x => length(x) > 0)
    val got = Blocking.sortedNeighborhood(docs.toDF("doc_id", "text"),
      "doc_id", lit("k"), toks, w, 0.5).count()
    val expected = (0 until n).map(i => math.min(w - 1, n - 1 - i)).sum
    assert(got === expected.toLong)
  }

  test("sortedNeighborhood under duplicate ids: self-id pairs dropped, no quadratic re-join") {
    // round-13 constant-at-scale sweep find: duplicate ids (re-ingested
    // shard corruption) sort adjacent under the (key, id) rank tiebreak,
    // and their id-equal rank-pairs used to amplify the payload re-join
    // |dup|² per pair (300 copies of one id = 2.7e9 jaccard evals). The
    // id_a =!= id_b predicate kills them row-locally.
    val dup = (1 to 200).map(_ => (7L, "same words here")) :+
      ((8L, "same words here"))
    val toks = filter(split(col("text"), " "), x => length(x) > 0)
    // round-14 advice: the guard's recall cost (pairs between DISTINCT
    // records sharing a corrupted id are dropped) must be VISIBLE — pin
    // the one-line stderr note that names the duplicate-id regime.
    // Round-15 verdict #3: the audit must not run a side-effect job of its
    // own — it rides the op's one materialization as an observe() metric,
    // so we also pin JOB-COUNT PARITY against a dup-free call of the
    // identical shape.
    val errBuf = new java.io.ByteArrayOutputStream()
    val realErr = System.err
    System.setErr(new java.io.PrintStream(errBuf, true, "UTF-8"))
    val (out, jobsDup) =
      try jobsOf(Blocking.sortedNeighborhood(dup.toDF("doc_id", "text"),
        "doc_id", lit("k"), toks, w = 4, threshold = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1))))
      finally System.setErr(realErr)
    // no (7,7) self pairs; the genuine (7,8) neighbor pair survives
    // (multiplied by id-7's window multiplicity, linear not quadratic)
    assert(out.forall { case (a, b) => a != b }, out.take(5).toSeq)
    assert(out.contains((7L, 8L)) || out.contains((8L, 7L)))
    // the note counts EXACTLY the dropped id-equal window pairs: ranks
    // 1..200 all id 7, window 4 → Σ_{d=1..3} (200 − d) = 594
    val err = new String(errBuf.toByteArray, "UTF-8")
    assert(err.contains("594 candidate pairs dropped"), err)
    // dup-free call of the same size/shape: same number of Spark jobs
    // (the audit adds none) and no note
    val uniq = (1L to 201L).map(i => (i, "same words here"))
    val errBuf2 = new java.io.ByteArrayOutputStream()
    System.setErr(new java.io.PrintStream(errBuf2, true, "UTF-8"))
    val (_, jobsUniq) =
      try jobsOf(Blocking.sortedNeighborhood(uniq.toDF("doc_id", "text"),
        "doc_id", lit("k"), toks, w = 4, threshold = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1))))
      finally System.setErr(realErr)
    assert(jobsDup === jobsUniq,
      s"dup-id audit launched extra jobs: $jobsDup vs $jobsUniq")
    assert(!new String(errBuf2.toByteArray, "UTF-8").contains("dropped"),
      "note fired on dup-free input")
  }
}
