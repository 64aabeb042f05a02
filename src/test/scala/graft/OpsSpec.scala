package graft

import org.apache.spark.sql.functions._
import graft.functions.{Hashing, TextAnalysis}
import graft.ops.{Dedup, Similarity}

/** Unit/property tests for the LLM-pipeline operators. */
class OpsSpec extends SparkSuite {
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy cat"),
    (2L, "completely different content about spark engines"),
    (3L, "the quick brown fox jumps over the lazy dog"), // exact dup of 0
    (4L, "el la de que y en un los se por")
  ).toDF("doc_id", "text")

  test("exact dedup groups identical texts, keeper = min id") {
    val out = Dedup.exactDedup(docs, "text", "doc_id")
      .select("doc_id", "is_keeper", "group_size")
      .collect().map(r => r.getLong(0) -> ((r.getBoolean(1), r.getLong(2)))).toMap
    assert(out(0L) === ((true, 2L)))
    assert(out(3L) === ((false, 2L)))
    assert(out(1L) === ((true, 1L)))
  }

  test("jaccard pairs find near-dups, not unrelated docs") {
    val toks = docs.withColumn("_toks", array_distinct(TextAnalysis.tokens(col("text"))))
    val pairs = Dedup.jaccardPairs(toks, "doc_id", "_toks", lit(1), 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys.contains((0L, 1L))) // 8/10 tokens shared
    assert(keys.contains((0L, 3L))) // identical
    assert(!keys.exists(p => p._1 == 2L || p._2 == 2L))
    val j03 = pairs.find(p => (p._1, p._2) == ((0L, 3L))).get._3
    assert(j03 === 1.0)
  }

  test("minhash LSH finds the exact-dup and near-dup pairs") {
    val sh = docs.withColumn("_sh",
      TextAnalysis.wordShingles(TextAnalysis.tokens(col("text")), 2))
    val pairs = Dedup.minhashLshPairs(sh, "doc_id", "_sh", 4, 3, "t", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 3L)))
    // near-dup 0-1 shares 7/9 2-gram shingles ≈ 0.7 — LSH at 4x3 should
    // catch it with high probability under any seed; verify it did here
    assert(pairs.contains((0L, 1L)))
  }

  test("minhash portable and fast flavors agree on candidate recall of exact dups") {
    val sh = docs.withColumn("_sh",
      TextAnalysis.wordShingles(TextAnalysis.tokens(col("text")), 2))
    val fast = Dedup.minhashLshPairs(sh, "doc_id", "_sh", 4, 3, "t", 0.99, portable = false)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fast.contains((0L, 3L)))
  }

  // Hot-bucket guard (duplicate spam): every band bucket holds the full
  // spam set, far over AutoSubBlockTarget=512, so the per-bucket
  // sub-chunking engages — the result set must be EXACTLY the unguarded
  // one (all C(n,2) spam pairs, each once, nothing else).
  private lazy val spamDocs = {
    val spam = (0L until 600L).map(i => (i, "viral copy pasta spreads everywhere online fast"))
    val rest = (600L until 650L).map(i => (i, s"unique$i alpha$i beta$i gamma$i delta$i"))
    (spam ++ rest).toDF("doc_id", "text")
  }

  test("minhashLshPairs: viral duplicate bucket → exact pair set under sub-chunking") {
    val sh = spamDocs.withColumn("_sh",
      TextAnalysis.wordShingles(TextAnalysis.tokens(col("text")), 2))
    val pairs = Dedup.minhashLshPairs(sh, "doc_id", "_sh", 4, 3, "t", 0.5)
    val agg = pairs.agg(count(lit(1)), min("jac"), max("id_b")).head()
    assert(agg.getLong(0) === 600L * 599L / 2)   // every spam pair, exactly once
    assert(agg.getDouble(1) === 1.0)             // all identical
    assert(agg.getLong(2) < 600L)                // no unique doc leaked in
  }

  test("simhashHammingPairs: viral signature bucket → exact pair set under sub-chunking") {
    val sigs = spamDocs.select(col("doc_id"),
      when(col("doc_id") < 600, lit(0x2AAAL))
        .otherwise(shiftleft(col("doc_id"), 20)).as("sh"))
    val pairs = Dedup.simhashHammingPairs(sigs, "doc_id", "sh", 16, 3)
    val spamPairs = pairs.filter(col("id_a") < 600 && col("id_b") < 600)
    assert(spamPairs.count() === 600L * 599L / 2)
    assert(spamPairs.agg(max("hamming")).head().getInt(0) === 0)
    assert(pairs.count() === pairs.dropDuplicates("id_a", "id_b").count())
  }

  test("simhashHammingPairs: caller columns named like old internals don't collide") {
    // regression: the chunked-join guard once used bare `_s` internally,
    // so a signature column named `_s` hit AMBIGUOUS_REFERENCE on the hot
    // path (PLANS.md, Round-8 continuation 2, "Robustness fix found by the
    // probe")
    val sigs = spamDocs.select(col("doc_id"),
      when(col("doc_id") < 600, lit(0x2AAAL))
        .otherwise(shiftleft(col("doc_id"), 20)).as("_s"))
    val pairs = Dedup.simhashHammingPairs(sigs, "doc_id", "_s", 16, 3)
    assert(pairs.filter(col("id_a") < 600 && col("id_b") < 600).count() ===
      600L * 599L / 2)
  }

  test("crossMinhashLshPairs: viral bucket on both sides → exact L×R pair set") {
    val sh = spamDocs.withColumn("_sh",
      TextAnalysis.wordShingles(TextAnalysis.tokens(col("text")), 2))
    val left = sh
    val right = sh.filter(col("doc_id") < 600)
      .withColumn("doc_id", col("doc_id") + 10000L)
    val pairs = Dedup.crossMinhashLshPairs(left, right, "doc_id", "_sh", 4, 3, "t", 0.5)
    val agg = pairs.agg(count(lit(1)), min("jac")).head()
    assert(agg.getLong(0) === 600L * 600L)       // every cross pair, exactly once
    assert(agg.getDouble(1) === 1.0)
  }

  test("simhash: identical texts equal, near-dups close, different far") {
    val sigs = docs.withColumn("_sh",
      Dedup.simhash(TextAnalysis.tokens(col("text")), 16, "s1"))
      .select("doc_id", "_sh").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(0L) === sigs(3L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sigs(0L), sigs(1L)) < ham(sigs(0L), sigs(2L)))
  }

  test("cosine similarity: self = 1, orthogonal = 0, ranking sane") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(1.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(vecs, "vec_id", "embedding",
      col("vec_id") === 0, 3).collect()
      .map(r => (r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(top.head._1 === 3L) // identical vector first
    assert(math.abs(top.head._2 - 1.0) < 1e-5)
    assert(top(1)._1 === 1L)
    assert(top(2)._1 === 2L)
    assert(math.abs(top(2)._2) < 1e-5)
  }

  test("broadcast query-side cap: refuse past maxQueryRows, override flows") {
    // round-15 broadcast audit: the query set of the brute-force/LSH/IVF
    // search forms is BROADCAST — "queryPred matched more than I thought"
    // is a driver/broadcast OOM, so the cap refuses loudly BEFORE the
    // broadcast build (the Signal.guardEventsPerKey discipline). The
    // guard is lazy (no job at call time) and rides the query side only.
    val vecs = spark.range(0, 50).selectExpr("id AS vec_id",
      "array(cast(id as float), 1.0f, 0.0f) AS embedding")
    val wide = Similarity.bruteForceTopK(vecs, "vec_id", "embedding",
      col("vec_id") >= 0, 3, maxQueryRows = 10) // all 50 rows match
    val e = intercept[Exception](wide.collect())
    val chain = graft.tools.EmptySweep.messageChain(e)
    assert(chain.contains("maxQueryRows") && chain.contains("broadcast"),
      s"want the named query-cap refusal, got: $chain")
    // explicit override on a measured bound flows
    val ok = Similarity.bruteForceTopK(vecs, "vec_id", "embedding",
      col("vec_id") >= 0, 3, maxQueryRows = 64)
    assert(ok.count() === 50L * 3)
    // the LSH and IVF probe forms share the guard
    val lsh = Similarity.signLshTopK(vecs, "vec_id", "embedding",
      col("vec_id") >= 0, 3, planes = 4, seed = "s", probes = 0,
      maxQueryRows = 10)
    val e2 = intercept[Exception](lsh.collect())
    assert(graft.tools.EmptySweep.messageChain(e2).contains("maxQueryRows"))
    val ivf = graft.ops.IvfIndex.searchTopK(vecs, "vec_id", "embedding",
      col("vec_id") >= 0, 3, nCentroids = 2, nProbe = 1, seed = "s",
      maxQueryRows = 10)
    val e3 = intercept[Exception](ivf.collect())
    assert(graft.tools.EmptySweep.messageChain(e3).contains("maxQueryRows"))
  }

  test("semanticDedup keeps the max-norm member per cosine cluster") {
    // two near-parallel vectors (cos ≈ 1) + one orthogonal, same block
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f), "a"),
      (2L, Array(2.0f, 0.01f, 0.0f), "a"), // parallel to 1, bigger norm
      (3L, Array(0.0f, 1.0f, 0.0f), "a"),
      (4L, Array(0.0f, 0.0f, 1.0f), "b")
    ).toDF("vec_id", "embedding", "label")
    val sc = Similarity.scaled(col("embedding"))
    val out = Dedup.semanticDedup(vecs, "vec_id", "embedding", col("label"),
        0.9, Similarity.dotScaled(sc, sc))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(out(1L) === ((1L, 2L, false))) // clustered with 2, loses on norm
    assert(out(2L) === ((1L, 2L, true)))  // survivor: bigger norm
    assert(out(3L) === ((3L, 1L, true)))  // singleton clusters always kept
    assert(out(4L) === ((4L, 1L, true)))
  }

  test("probeBuckets flips the smallest-margin planes, home bucket first") {
    // dots (0.5, -0.01, 0.3, -0.2): home = 0101b = 5; margin order:
    // plane 1 (0.01), plane 3 (0.2), plane 2 (0.3), plane 0 (0.5)
    val df = Seq(1).toDF("x")
      .withColumn("dots", array(lit(0.5), lit(-0.01), lit(0.3), lit(-0.2)))
    val out = df.select(Similarity.probeBuckets(col("dots"), 4, 2).as("pb"))
      .head().getSeq[Long](0)
    assert(out == Seq(5L, 5L ^ 2L, 5L ^ 8L)) // home, flip p1, flip p3
    val none = df.select(Similarity.probeBuckets(col("dots"), 4, 0).as("pb"))
      .head().getSeq[Long](0)
    assert(none == Seq(5L))
    intercept[IllegalArgumentException] {
      df.select(Similarity.probeBuckets(col("dots"), 4, 5)).collect()
    }
  }

  test("multi-probe signLshTopK is a superset path: probes=0 equals the original") {
    val vecs = (0 until 40).map { i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 31 + d * 7).toFloat))
    }.toDF("vec_id", "embedding")
    val p0 = Similarity.signLshTopK(vecs, "vec_id", "embedding",
      col("vec_id") % 10 === 0, 3, 4, "mp", probes = 0)
      .select("query_id", "neighbor_id").collect().toSet
    val base = Similarity.signLshTopK(vecs, "vec_id", "embedding",
      col("vec_id") % 10 === 0, 3, 4, "mp")
      .select("query_id", "neighbor_id").collect().toSet
    assert(p0 == base)
    // candidate pool can only grow with probes: every probes=0 CANDIDATE
    // remains a candidate, so per-query top-3 sim floor can only rise
    val simFloor0 = Similarity.signLshTopK(vecs, "vec_id", "embedding",
      col("vec_id") % 10 === 0, 3, 4, "mp", probes = 0)
      .groupBy("query_id").agg(min(col("sim")).as("m")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val simFloor2 = Similarity.signLshTopK(vecs, "vec_id", "embedding",
      col("vec_id") % 10 === 0, 3, 4, "mp", probes = 2)
      .groupBy("query_id").agg(min(col("sim")).as("m")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    simFloor0.foreach { case (q, m0) =>
      assert(simFloor2(q) >= m0, s"query $q: probes=2 floor ${simFloor2(q)} < $m0")
    }
  }

  test("sign-LSH top-k recalls the identical vector (same bucket by construction)") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.2f, -0.3f, 0.5f)),
      (1L, Array(1.0f, 0.2f, -0.3f, 0.5f)),
      (2L, Array(-1.0f, -0.2f, 0.3f, -0.5f))
    ).toDF("vec_id", "embedding")
    val top = Similarity.signLshTopK(vecs, "vec_id", "embedding",
      col("vec_id") === 0, 2, planes = 4, seed = "p").collect()
    assert(top.map(_.getLong(1)).contains(1L))
  }

  test("hash60Jvm (driver-side plane tables) is bit-identical to the hash60 expression") {
    val strs = ((0 until 64).map(i => s"0:$i") ++ Seq("3:7", "", "x")).toDF("x")
    val fromExpr = strs.select(col("x"), Hashing.hash60(col("x"), "lsh1").as("h"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    fromExpr.foreach { case (s, h) =>
      assert(Hashing.hash60Jvm(s, "lsh1") === h, s"mismatch for '$s'")
    }
  }

  test("native Hash60 expression is bit-identical to the composed md5/conv chain") {
    val strs = ((0 until 500).map(i => s"token_$i") ++ Seq("", "a", "é中文", "with:colons", "sp ace")).toDF("x")
    val mismatches = strs.select(
      Hashing.hash60(col("x"), "seedA").as("native"),
      Hashing.hash60Composed(col("x"), "seedA").as("composed"))
      .filter(col("native") =!= col("composed")).count()
    assert(mismatches === 0)
    // also inside a higher-order lambda (interpreted path)
    val arr = Seq(Seq("a", "b", "c")).toDF("xs")
    val nat = arr.select(transform(col("xs"), x => Hashing.hash60(x, "s")).as("h")).head.getSeq[Long](0)
    val comp = arr.select(transform(col("xs"), x => Hashing.hash60Composed(x, "s")).as("h")).head.getSeq[Long](0)
    assert(nat === comp)
  }

  test("hash60 is deterministic, seeded, in range") {
    val ids = (0 until 1000).toDF("x")
    val h1 = ids.select(Hashing.hash60(col("x").cast("string"), "a").as("h")).collect().map(_.getLong(0))
    val h2 = ids.select(Hashing.hash60(col("x").cast("string"), "a").as("h")).collect().map(_.getLong(0))
    val h3 = ids.select(Hashing.hash60(col("x").cast("string"), "b").as("h")).collect().map(_.getLong(0))
    assert(h1.toSeq === h2.toSeq)
    assert(h1.toSeq !== h3.toSeq)
    assert(h1.forall(h => h >= 0 && h < (1L << 60)))
  }

  test("language ID picks the language whose stopwords dominate") {
    val out = docs.select(col("doc_id"), TextAnalysis.langId(TextAnalysis.tokens(col("text"))).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(0L) === "en")
    assert(out(4L) === "es")
  }

  test("native WordShinglesExpr is identical to the composed shingle chain") {
    val texts = Seq("the quick Brown  fox", "a b", "", "  ", "one", "x y z w v u t").toDF("t")
    val both = texts.select(
      graft.functions.WordShinglesExpr(col("t"), 2).as("native"),
      TextAnalysis.wordShingles(TextAnalysis.tokens(col("t")), 2).as("composed"))
      .collect()
    both.foreach { r =>
      assert(r.getSeq[String](0) === r.getSeq[String](1))
    }
  }

  test("wordShingles: short docs yield empty set, no descending-sequence bug") {
    val d = Seq((0L, "one two"), (1L, "a b c d")).toDF("id", "text")
    val sh = d.select(col("id"),
      TextAnalysis.wordShingles(TextAnalysis.tokens(col("text")), 3).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(sh(0L) === Seq.empty)
    assert(sh(1L) === Seq("a b c", "b c d"))
  }

  test("signLshTopK: empty corpus yields empty result; ragged widths keep full-width planes") {
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(Similarity.signLshTopK(empty, "vec_id", "embedding",
      col("vec_id") === 0, 2, planes = 4, seed = "p").count() === 0)
    // ragged: first row narrower than the widest — wide vectors must not
    // collapse into bucket 0 (max-width probe, not first-row probe)
    val ragged = Seq(
      (0L, Array(0.5f, 0.5f)),
      (1L, Array(1.0f, 0.2f, -0.3f, 0.5f)),
      (2L, Array(1.0f, 0.2f, -0.3f, 0.5f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.signLshTopK(ragged, "vec_id", "embedding",
      col("vec_id") === 1, 2, planes = 4, seed = "p").collect()
    assert(out.map(_.getLong(1)).contains(2L)) // identical wide vector recalled
  }

  test("salted skew join handles null row keys and rejects outer types") {
    val big = Seq((java.lang.Long.valueOf(1L), "a"), (null.asInstanceOf[java.lang.Long], "a"))
      .toDF("id", "k")
    val small = Seq(("a", 10L)).toDF("k", "v")
    val out = graft.ops.SkewJoin.saltedJoin(big, small, "k", col("id"), salts = 4)
      .select("k", "v").collect()
    assert(out.length === 2) // the null-id row still joins
    intercept[IllegalArgumentException] {
      graft.ops.SkewJoin.saltedJoin(big, small, "k", col("id"), 4, joinType = "full")
    }
  }

  test("salted skew join equals the plain join and spreads hot keys over salts") {
    // Zipfian key: 900 of 1000 rows share key "hot"
    val big = (0 until 1000).map(i =>
      (i.toLong, if (i < 900) "hot" else s"cold_${i % 7}")).toDF("id", "k")
    val small = Seq(("hot", 1L), ("cold_0", 2L), ("cold_1", 3L), ("cold_2", 4L),
      ("cold_3", 5L), ("cold_4", 6L), ("cold_5", 7L), ("cold_6", 8L)).toDF("k", "v")
    val plain = big.join(small, Seq("k")).select("id", "k", "v")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val salted = graft.ops.SkewJoin.saltedJoin(big, small, "k", col("id"), salts = 8)
      .select("id", "k", "v")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(salted === plain)
    assert(plain.size === 1000)
    // the hot key's rows really split across multiple salts
    val saltSpread = big.filter(col("k") === "hot")
      .select(org.apache.spark.sql.functions.pmod(
        Hashing.hash60(col("id").cast("string"), "salt"), lit(8L)).as("s"))
      .distinct().count()
    assert(saltSpread > 4, s"hot key used only $saltSpread of 8 salts")
  }

  test("banded simhash hamming join equals brute-force all-pairs (pigeonhole completeness)") {
    // 200 random 16-bit signatures, seeded: dense enough that every
    // Hamming bucket 0..3 is populated and multi-band matches occur
    val rnd = new scala.util.Random(7)
    val sigs = (0 until 200).map(i => (i.toLong, (rnd.nextInt(1 << 16)).toLong))
    val df = sigs.toDF("id", "sh")
    val banded = Dedup.simhashHammingPairs(df, "id", "sh", 16, 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    val brute = (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs if ia < ib
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
    } yield ((ia, ib), h)).toMap
    assert(banded === brute)
    assert(brute.nonEmpty, "fixture produced no close pairs — test is vacuous")
  }

  test("simhashHammingPairs rejects a bit width the bands cannot split evenly") {
    val df = Seq((1L, 5L)).toDF("id", "sh")
    intercept[IllegalArgumentException] {
      Dedup.simhashHammingPairs(df, "id", "sh", 16, 2) // 3 bands ∤ 16 bits
    }
  }
}
