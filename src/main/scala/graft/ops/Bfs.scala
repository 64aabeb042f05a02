package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Multi-source BFS over an undirected-as-given edge list: minimum hop
  * distance from a SOURCE SET, capped at `maxHops` rounds — host-graph
  * reachability ("how far is this page from a trusted seed set"), the
  * graph-distance feature quality pipelines attach next to PageRank and
  * HITS scores. Deterministic by construction: distance is a pure min.
  *
  * Scale shape — frontier-DELTA iteration, not a full-relaxation rework:
  * each round expands only the NODES DISCOVERED LAST ROUND (edges ⋈
  * frontier, one keyed join), drops already-known nodes with a left-anti
  * join, and appends the survivors at distance r. Work per round is
  * O(edges incident to the frontier), total O(E) across all rounds —
  * the textbook level-synchronous BFS. `known` is checkpointed per round
  * on an [[Iterate.Chain]] (it is read twice per round: anti-join + next
  * union); the edge table is persisted once and released on return
  * ([[Pins]]).
  * Unreached nodes are absent from the output (their distance is not
  * `maxHops`-representable, and emitting every node would make the
  * output graph-sized instead of reachable-set-sized).
  */
object Bfs {

  /** `sources`: one column `v`. Returns (node_id, dist), dist ∈ [0, maxHops]. */
  def distances(edgesDf: DataFrame, srcCol: String, dstCol: String,
      sources: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 1, s"maxHops must be >= 1, got $maxHops")
    val dir = edgesDf.select(
      col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
    val edges = dir
      .unionByName(dir.select(col("dst").as("src"), col("src").as("dst")))
      .where(col("src") =!= col("dst"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // `known` lives on a checkpoint chain; its size rides each checkpoint job
    val chain = new Iterate.Chain
    var known: DataFrame = null
    def checkpointKnown(df: DataFrame): Long = {
      val (k, m) = chain.next(df, count(lit(1)).as("n"))
      known = k
      m("n").asInstanceOf[Long]
    }
    var knownCount = checkpointKnown(
      sources.select(col("v").cast("long").as("v"), lit(0L).as("dist")).distinct())
    var frontier = known.select("v")
    var r = 1
    var done = false
    while (r <= maxHops && !done) {
      val next = edges.join(frontier.withColumnRenamed("v", "src"), "src")
        .select(col("dst").as("v")).distinct()
        .join(known, Seq("v"), "left_anti")
        .select(col("v"), lit(r.toLong).as("dist"))
      // `next` is disjoint from `known` (the anti-join), so an unchanged
      // size means this round discovered nothing
      val grown = checkpointKnown(known.unionByName(next))
      // derive the NEXT frontier from the checkpointed table, never from
      // `next`'s lazy lineage: the expansion join must run exactly once
      // per round (inside the checkpoint) — a lazy frontier would re-run
      // it for the next round's join
      frontier = known.where(col("dist") === r).select("v")
      // a drained frontier ends the walk early — the remaining rounds
      // would join empty sets (cheap but pointless jobs)
      done = grown == knownCount
      knownCount = grown
      r += 1
    }
    val out = Pins.sealOutput(known.select(col("v").as("node_id"), col("dist")), edges)
    chain.release()
    out
  }

  /** In-memory reference for tests. */
  def distancesRef(edges: Seq[(Long, Long)], sources: Set[Long],
      maxHops: Int): Map[Long, Long] = {
    val und = (edges ++ edges.map(_.swap)).filter(e => e._1 != e._2).distinct
    val adj = und.groupBy(_._1).map { case (v, g) => v -> g.map(_._2) }
    var dist = sources.map(_ -> 0L).toMap
    var frontier = sources
    for (r <- 1 to maxHops if frontier.nonEmpty) {
      val next = frontier.flatMap(v => adj.getOrElse(v, Nil))
        .filterNot(dist.contains)
      dist ++= next.map(_ -> r.toLong)
      frontier = next
    }
    dist
  }
}
