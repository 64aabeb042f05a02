package graft

import org.apache.spark.sql.DataFrame
import graft.ops.{Hits, Iterate, KCore, LabelProp, PageRank, RandomWalk}

/** Broadcast-regime vs keyed-join-fallback parity for the iterative graph
  * ops. Every gate and probe so far exercised only the broadcast branch
  * (the graphs are far under the 1M-node / 32M-edge ceilings); this spec
  * forces the fallback branch with a zero ceiling and pins its output to
  * the broadcast branch's exact result — the two regimes share arithmetic
  * and must be bit-identical, whatever the partitioning. This also covers
  * the HITS overflow guard in the fallback regime: `Hits.rescaled` (whose
  * observed min feeds the driver-side `checkOverflow`) is
  * regime-independent — the ceiling only swaps which join side broadcasts
  * — so the guarded rescale runs verbatim in the keyed-join branch
  * exercised here.
  */
class GraphFallbackParitySpec extends SparkSuite {
  import spark.implicits._

  /** Deterministic (fixed-seed) random directed multigraph, ~2.5
    * edges/node — dense enough that the 2-core is non-trivial.
    */
  private def randEdges(n: Int, m: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(42)
    (0 until m).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
  }

  private val edges = randEdges(120, 300)

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def assertParity(bcast: DataFrame, fallback: DataFrame, op: String)
      : Unit = {
    val b = sortedRows(bcast)
    val f = sortedRows(fallback)
    assert(b.nonEmpty, s"$op: empty broadcast-regime output")
    assert(b === f, s"$op: keyed-join fallback diverged from broadcast regime")
  }

  test("PageRank/LabelProp: broadcast-chain cut path (rounds > BcastChainCut) matches the reference") {
    // round-18: the lazy broadcast chain is cut with a localCheckpoint
    // every BcastChainCut rounds; gate iteration counts (≤ 8) never cross
    // it, so this pins the cut path explicitly — 11 rounds crosses one
    // cut, and the result must equal the in-memory reference exactly.
    assert(Iterate.BcastChainCut <= 10,
      "test assumes the cut fires within 11 rounds")
    val symSeq = (edges ++ edges.map(_.swap)).distinct
    val sym = symSeq.toDF("src", "dst")
    val pr = PageRank.run(sym, "src", "dst", iters = 11)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pr === PageRank.runRef(symSeq, 11))
    val lp = LabelProp.run(sym, "src", "dst", rounds = 11)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lp === LabelProp.runRef(symSeq, 11))
    val seeds = symSeq.map(_._1).distinct.take(5)
    val ppr = PageRank.personalized(sym, "src", "dst",
        seeds.toDF("v"), iters = 11)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ppr === PageRank.personalizedRef(symSeq, seeds.toSet, 11))
  }

  test("PageRank: keyed-join fallback matches broadcast regime") {
    // symmetrize: run() requires out-degree >= 1 everywhere
    val sym = (edges ++ edges.map(_.swap)).toDF("src", "dst")
    assertParity(
      PageRank.run(sym, "src", "dst", iters = 5),
      PageRank.run(sym, "src", "dst", iters = 5, bcastNodeCeiling = 0L),
      "PageRank.run")
  }

  test("personalized PageRank: keyed-join fallback matches broadcast regime") {
    val sym = (edges ++ edges.map(_.swap)).toDF("src", "dst")
    val seeds = Seq(3L, 17L, 42L).toDF("v")
    assertParity(
      PageRank.personalized(sym, "src", "dst", seeds, iters = 4),
      PageRank.personalized(sym, "src", "dst", seeds, iters = 4,
        bcastNodeCeiling = 0L),
      "PageRank.personalized")
  }

  test("HITS: keyed-join fallback matches broadcast regime") {
    val df = edges.toDF("src", "dst")
    assertParity(
      Hits.run(df, "src", "dst", iters = 3),
      Hits.run(df, "src", "dst", iters = 3, bcastNodeCeiling = 0L),
      "Hits.run")
  }

  test("LabelProp: keyed-join fallback matches broadcast regime") {
    val df = edges.toDF("src", "dst")
    assertParity(
      LabelProp.run(df, "src", "dst", rounds = 4),
      LabelProp.run(df, "src", "dst", rounds = 4, bcastNodeCeiling = 0L),
      "LabelProp.run")
  }

  test("KCore: non-broadcast keep table matches broadcast regime") {
    val df = edges.toDF("src", "dst")
    assertParity(
      KCore.run(df, "src", "dst", k = 2, rounds = 8),
      KCore.run(df, "src", "dst", k = 2, rounds = 8, bcastNodeCeiling = 0L),
      "KCore.run")
  }

  test("RandomWalk: two-equi-join fallback matches adjacency-broadcast regime") {
    val df = edges.toDF("src", "dst")
    assertParity(
      RandomWalk.walks(df, "src", "dst", steps = 4),
      RandomWalk.walks(df, "src", "dst", steps = 4, bcastEdgeCeiling = 0L),
      "RandomWalk.walks")
  }

  test("fallback regimes also match the in-memory references") {
    val df = edges.toDF("src", "dst")
    val hits = Hits.run(df, "src", "dst", iters = 3, bcastNodeCeiling = 0L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(hits === Hits.runRef(edges, 3))
    val lp = LabelProp.run(df, "src", "dst", rounds = 4, bcastNodeCeiling = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lp === LabelProp.runRef(edges, 4))
  }
}
