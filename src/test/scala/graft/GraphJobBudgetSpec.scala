package graft

import org.apache.spark.sql.DataFrame

import graft.ops.{Bfs, Cluster, Hits, KCore, LabelProp, PageRank, Pins, RandomWalk}

/** Spark jobs per iterative graph-op call under this suite's session
  * (local[4], 4 shuffle partitions) on GraphFallbackParitySpec's 120-node,
  * 300-edge graph. Jobs are set by the plans, not by timing, so a count
  * that moves means an iteration loop changed its actions, its lineage
  * cuts or its regime choice. A zero ceiling forces the keyed regime.
  *
  * Also pins the pin lifecycle around each call: a refused call leaves no
  * cached table behind, and a sealed call leaves exactly one persistent
  * RDD, the output's own checkpoint.
  */
class GraphJobBudgetSpec extends SparkSuite {
  import spark.implicits._

  private val edges = {
    val rnd = new scala.util.Random(42)
    (0 until 300).map(_ => (rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
  }
  private lazy val df = edges.toDF("src", "dst")
  private lazy val sym = (edges ++ edges.map(_.swap)).toDF("src", "dst")
  private lazy val pairs = edges.toDF("id_a", "id_b")
  private lazy val seeds = Seq(3L, 17L, 42L).toDF("v")

  private val calls: Seq[(String, () => DataFrame)] = Seq(
    "pagerank 5" -> (() => PageRank.run(sym, "src", "dst", 5)),
    "pagerank 5 keyed" -> (() => PageRank.run(sym, "src", "dst", 5, bcastNodeCeiling = 0L)),
    "pagerank 11" -> (() => PageRank.run(sym, "src", "dst", 11)),
    "ppr 4" -> (() => PageRank.personalized(sym, "src", "dst", seeds, 4)),
    "ppr 4 keyed" -> (() =>
      PageRank.personalized(sym, "src", "dst", seeds, 4, bcastNodeCeiling = 0L)),
    "labelprop 4" -> (() => LabelProp.run(df, "src", "dst", 4)),
    "labelprop 4 keyed" -> (() => LabelProp.run(df, "src", "dst", 4, bcastNodeCeiling = 0L)),
    "hits 3" -> (() => Hits.run(df, "src", "dst", 3)),
    "hits 3 keyed" -> (() => Hits.run(df, "src", "dst", 3, bcastNodeCeiling = 0L)),
    "kcore 2/8" -> (() => KCore.run(df, "src", "dst", 2, 8)),
    "kcore 2/8 keyed" -> (() => KCore.run(df, "src", "dst", 2, 8, bcastNodeCeiling = 0L)),
    "bfs 4" -> (() => Bfs.distances(df, "src", "dst", seeds, 4)),
    "walks 4" -> (() => RandomWalk.walks(df, "src", "dst", 4)),
    "walks 4 keyed" -> (() => RandomWalk.walks(df, "src", "dst", 4, bcastEdgeCeiling = 0L)),
    "star driver" -> (() => Cluster.alternatingStar(pairs, "id_a", "id_b")),
    "star distributed" -> (() =>
      Cluster.alternatingStar(pairs, "id_a", "id_b", driverClosureCeiling = 0L)),
    "propagation" -> (() => Cluster.labelPropagation(pairs, "id_a", "id_b")))

  private val jobBudget = Map(
    "pagerank 5" -> 24, "pagerank 5 keyed" -> 47, "pagerank 11" -> 37,
    "ppr 4" -> 27, "ppr 4 keyed" -> 46,
    "labelprop 4" -> 16, "labelprop 4 keyed" -> 39,
    "hits 3" -> 29, "hits 3 keyed" -> 37,
    "kcore 2/8" -> 25, "kcore 2/8 keyed" -> 25,
    "bfs 4" -> 24,
    "walks 4" -> 17, "walks 4 keyed" -> 26,
    "star driver" -> 3, "star distributed" -> 43, "propagation" -> 42)

  test("graph op calls: pinned job counts") {
    calls.foreach { case (_, call) => call() } // warm the session's codegen and schema paths
    // the op call plus one collect of its output, so an op that returns a
    // lazy plan pays for it here too
    val counted = calls.map { case (name, call) => name -> jobsOf(call().collect())._2 }
    assert(counted.toMap === jobBudget, s"counted: $counted")
  }

  test("a refused call leaves no cached table behind") {
    val dangling = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val noEdges = Seq.empty[(Long, Long)].toDF("src", "dst")
    val refusals: Seq[(String, () => DataFrame, String)] = Seq(
      ("pagerank dangling", () => PageRank.run(dangling, "src", "dst", 3), "out-edges"),
      ("ppr empty seeds", () =>
        PageRank.personalized(sym, "src", "dst", Seq.empty[Long].toDF("v"), 3),
        "non-empty seed set"),
      ("ppr foreign seed", () =>
        PageRank.personalized(sym, "src", "dst", Seq(3L, 10000L).toDF("v"), 3),
        "not graph nodes"),
      ("labelprop empty", () => LabelProp.run(noEdges, "src", "dst", 3), "empty graph"),
      ("propagation unconverged", () =>
        Cluster.labelPropagation(pairs, "id_a", "id_b", maxIter = 1), "did not converge"))
    val leaks = refusals.filter { case (name, call, msg) =>
      spark.catalog.clearCache()
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains(msg), s"$name: ${e.getMessage}")
      !spark.sharedState.cacheManager.isEmpty
    }
    assert(leaks.isEmpty, s"left cached tables behind: ${leaks.map(_._1)}")
    Pins.releaseAll(spark)
    intercept[IllegalArgumentException](Cluster.alternatingStar(pairs, "id_a", "id_b",
      maxIter = 1, driverClosureCeiling = 0L))
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "unconverged alternatingStar left checkpoint blocks behind")
  }

  test("a sealed call leaves exactly its output's checkpoint") {
    val sealedCalls = calls.filterNot { case (name, _) =>
      // the keyed walk's lazy union reads every step's checkpoint; the
      // driver closure returns a local relation
      name == "walks 4 keyed" || name == "star driver"
    }
    val left = sealedCalls.map { case (name, call) =>
      Pins.releaseAll(spark)
      call()
      assert(spark.sharedState.cacheManager.isEmpty, s"$name left cached tables behind")
      name -> spark.sparkContext.getPersistentRDDs.size
    }
    assert(left.forall(_._2 == 1), s"persistent RDDs after each call: $left")
  }
}
