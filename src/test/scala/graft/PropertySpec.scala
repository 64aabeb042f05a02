package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.apache.spark.sql.functions._
import graft.functions.Hashing

/** Property tests (SURVEY §5) via raw ScalaCheck (scalatestplus is not on
  * the classpath): pooled variance identity, split determinism/convergence,
  * dedup-keep-first, reindex contiguity, portable-rounding parity.
  */
class PropertySpec extends SparkSuite {

  private def check(name: String, prop: Prop, n: Int = 50): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), prop)
    assert(res.passed, s"$name: $res")
  }

  test("pooled variance == flat variance on concatenated chunks") {
    val chunkGen = Gen.nonEmptyListOf(Gen.chooseNum(-100.0, 100.0))
    check("pooled", Prop.forAll(Gen.nonEmptyListOf(chunkGen)) { chunks =>
      val all = chunks.flatten
      val flatMean = all.sum / all.size
      val flatVar = all.map(x => (x - flatMean) * (x - flatMean)).sum / all.size
      var s = 0L; var sumMu = 0.0; var sumM2 = 0.0
      chunks.foreach { c =>
        val n = c.size
        val mu = c.sum / n
        val v = c.map(x => (x - mu) * (x - mu)).sum / n
        s += n; sumMu += n * mu; sumM2 += n * (v + mu * mu)
      }
      val mean = sumMu / s
      val varp = math.max(sumM2 / s - mean * mean, 0.0)
      math.abs(mean - flatMean) < 1e-9 * math.max(1, math.abs(flatMean)) &&
        math.abs(varp - flatVar) < 1e-6 * math.max(1.0, flatVar)
    }, n = 30)
  }

  test("dedup keep-first + reindex: contiguous 0..N-1, first occurrence kept") {
    check("dedup", Prop.forAll(Gen.nonEmptyListOf(Gen.chooseNum(0, 20))) { frameIdxs =>
      val withOrd = frameIdxs.zipWithIndex
      val sorted = withOrd.sortBy(t => (t._1, t._2))
      val deduped = sorted.foldLeft(Vector.empty[(Int, Int)]) { (acc, t) =>
        if (acc.nonEmpty && acc.last._1 == t._1) acc else acc :+ t
      }
      val firstOcc = withOrd.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
      deduped.zipWithIndex.forall { case ((orig, ord), i) => ord == firstOcc(orig) } &&
        deduped.indices == (0 until deduped.size)
    }, n = 30)
  }

  test("portable rounding: scala twin == SQL twin formula") {
    check("round", Prop.forAll(Gen.chooseNum(-1e6, 1e6), Gen.chooseNum(0, 6)) { (x, d) =>
      val p = math.pow(10, d)
      math.floor(x * p + 0.5) / p == math.floor(x * p + 0.5).toLong / p
    }, n = 200)
  }

  test("split assignment: deterministic, fraction-convergent") {
    import spark.implicits._
    val n = 5000
    val ids = (0 until n).toDF("id").select(col("id").cast("string").as("k"))
    val s1 = ids.select(Hashing.splitAssign(col("k"), "s1", 0.7, 0.2).as("sp"))
      .groupBy("sp").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(s1("train") / n.toDouble - 0.7) < 0.03)
    assert(math.abs(s1("val") / n.toDouble - 0.2) < 0.03)
    assert(math.abs(s1.getOrElse("test", 0L) / n.toDouble - 0.1) < 0.03)
  }

  test("hashUnit is uniform-ish over [0,1)") {
    import spark.implicits._
    val buckets = (0 until 10000).toDF("id")
      .select((Hashing.hashUnit(col("id").cast("string"), "u") * 10).cast("int").as("b"))
      .groupBy("b").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(buckets.keySet === (0 until 10).toSet)
    buckets.values.foreach(c => assert(math.abs(c - 1000L) < 150, s"bucket skew: $buckets"))
  }

  test("tokenBudgetSelect == single-reducer window prefix sum (random corpora)") {
    import spark.implicits._
    val docGen = Gen.listOfN(60,
      Gen.zip(Gen.chooseNum(0.0, 1.0), Gen.chooseNum(1L, 500L)))
    check("budget", Prop.forAllNoShrink(docGen, Gen.chooseNum(0L, 20000L)) { (rows, budget) =>
      val df = rows.zipWithIndex
        .map { case ((sc, tk), i) => (i.toLong, sc, tk) }
        .toDF("doc_id", "score", "tokens")
        .repartition(7) // force multi-partition range path
      val got = graft.ops.Curation
        .tokenBudgetSelect(df, "doc_id", col("score"), col("tokens"), budget)
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(3), r.getBoolean(4))).toMap
      // oracle: sequential scan in (score desc, id) order
      var cum = 0L
      val expect = rows.zipWithIndex
        .map { case ((sc, tk), i) => (i.toLong, sc, tk) }
        .sortBy { case (id, sc, _) => (-sc, id) }
        .map { case (id, _, tk) =>
          val r = id -> ((cum, cum < budget)); cum += tk; r
        }.toMap
      got == expect
    }, n = 20)
  }

  test("approx_count_distinct tracks the exact distinct aggregate within rsd") {
    // the 100 TB twin of q41's exact count(DISTINCT): HLL++ sketch values
    // are engine-specific (not oracle-hashable), so the accuracy contract
    // lives here — within advertised rsd of the exact form on a
    // cardinality large enough that the sketch actually estimates
    import spark.implicits._
    val df = (0 until 200000).map(i => (i % 4, s"u${i % 37519}")).toDF("g", "user")
    val got = df.groupBy("g").agg(
        countDistinct(col("user")).as("exact"),
        approx_count_distinct(col("user"), 0.02).as("approx"))
      .collect()
    assert(got.length === 4)
    got.foreach { r =>
      val exact = r.getLong(1).toDouble
      val approx = r.getLong(2).toDouble
      assert(math.abs(approx - exact) / exact < 0.06,
        s"sketch drift: exact=$exact approx=$approx")
    }
  }

  test("bloom sketch has NO false negatives on random key sets") {
    // THE critical BloomJoin property: build inserts via BloomFilterAggregate,
    // probe tests via BloomFilterMightContain — a hash-convention mismatch
    // between the two would produce false NEGATIVES, which drop true matches
    // BEFORE the residual join (false positives are filtered there; false
    // negatives are unrecoverable). Random longs incl. negatives/extremes.
    import spark.implicits._
    val keyGen = Gen.oneOf(
      Gen.chooseNum(Long.MinValue, Long.MaxValue),
      Gen.oneOf(0L, -1L, 1L, Long.MinValue, Long.MaxValue))
    check("bloom-no-false-neg",
      Prop.forAllNoShrink(Gen.nonEmptyListOf(keyGen).map(_.distinct)) { keys =>
        val df = keys.toDF("k")
        val sketch = graft.ops.BloomJoin.buildSketch(
          df, col("k"), keys.size.toLong, 0.03).get
        df.filter(graft.ops.BloomJoin.mightContain(sketch, col("k")))
          .count() == keys.size
      }, n = 10)
  }
}
