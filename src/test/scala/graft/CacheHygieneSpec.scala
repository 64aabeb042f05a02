package graft

/** Round-8 verdict #2: no gate may leave cached tables behind after its
  * result is materialized. Ops that pin shared intermediates now close the
  * lifecycle via [[graft.ops.Pins.sealOutput]] (materialize once, release
  * pins); this spec runs a representative gate per swept module over the
  * sf0.001 testdata and asserts the session cache manager is empty after
  * each materialization.
  */
class CacheHygieneSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  // one gate per swept persist site family:
  //   q26 jaccardPairs, q27 minhash LSH, q50 TfIdf topTerms, q61 CountMin
  //   (query-level pin), q76 PageRank loop, q87 stupidBackoff, q150/q159
  //   NaiveBayes train/eval, q62 Boilerplate, q88 mooreLewis-family
  //   round-9 additions: q184 HITS / q193 BFS (graph loop pins), q187
  //   bigram barrier, q195 postings barrier
  //   the other iteration-driver loops: q153 LabelProp, q158 KCore,
  //   q163 RandomWalk, q221 personalized PageRank, q49 Cluster closure
  private val prefixes =
    Set("q26", "q27", "q49", "q50", "q61", "q62", "q76", "q87", "q88",
      "q150", "q153", "q158", "q159", "q163", "q184", "q187", "q193",
      "q195", "q221")

  test("representative gates leave no cached tables behind") {
    // suites share one session (and its cache manager); earlier suites may
    // legitimately have left session-scoped caches — this spec asserts OUR
    // gates add nothing, so start from a clean slate
    spark.catalog.clearCache()
    val picked = SparkEntry.queries.filter { case (name, _) =>
      prefixes.contains(name.takeWhile(_ != '_'))
    }
    assert(picked.size === prefixes.size,
      s"gate roster drifted: found ${picked.keys.toSeq.sorted}")
    picked.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      fn(spark, dir).count()
      assert(spark.sharedState.cacheManager.isEmpty,
        s"$name left cached tables behind")
    }
  }
}
