package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.Hashing

/** Deterministic uniform random walks — the corpus generator for skip-gram
  * graph embeddings (DeepWalk, Perozzi et al. KDD'14; node2vec's p=q=1
  * case). Classic walkers draw from an RNG, which makes the training
  * corpus irreproducible under distributed execution; here step t of walk
  * w moves to `neighbors(v)[hash60(w:t) mod deg(v)]` over the
  * neighbor-index table, so every walk is a pure function of the graph —
  * same corpus on any cluster, replayable by a SQL oracle.
  *
  * Scale shape, two regimes on the same arithmetic (same oracle): when
  * the adjacency-ARRAY table (total payload = the symmetrized edge list,
  * ≈ 16m bytes) fits a broadcast, every step is ONE broadcast join + an
  * `element_at` projection — zero shuffles after the adjacency build, and
  * no per-step lineage cut is needed (the whole multi-step union is a
  * stack of map-side joins over walk-count rows). Past the broadcast
  * ceiling, the original two-equi-join form runs (frontier ⋈ degree,
  * then ⋈ the per-node neighbor-index table), with the frontier
  * checkpointed per step. `neighbors(v)` is the dst-sorted list in both
  * regimes, so `[hash mod deg]` picks the identical node.
  */
object RandomWalk {

  /** Broadcast ceiling for the adjacency-ARRAY table: edge-payload rows
    * (~16 B/edge packed in arrays, built ONCE — not re-broadcast per
    * step), hence 32M edges ≈ 512 MB, not the per-round
    * [[Iterate.BcastNodeCeiling]]. Overridable as a test knob
    * (fallback-parity spec).
    */
  val BcastEdgeCeiling: Long = 32L * 1000 * 1000

  /** One walk of `steps` steps from every node of the symmetrized graph.
    * Returns (walk_id, step, node) — step 0 is the start node itself.
    */
  def walks(edgesDf: DataFrame, srcCol: String, dstCol: String,
      steps: Int, seed: String = "rw",
      bcastEdgeCeiling: Long = BcastEdgeCeiling): DataFrame = {
    require(steps >= 1, s"steps must be >= 1, got $steps")
    val dir = edgesDf.select(
      col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
    val edges = dir
      .unionByName(dir.select(col("dst").as("src"), col("src").as("dst")))
      .where(col("src") =!= col("dst"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val m = edges.count()
    if (m <= bcastEdgeCeiling) {
      // broadcast regime: dst-sorted neighbor arrays, one map-side join
      // per step, walk state never shuffles. The aggregate is PINNED:
      // without the pin every broadcast build would re-run the graph-sized
      // groupBy (measured 7 s of pure recompute at sf0.1).
      val adjTbl = edges.groupBy(col("src").as("cur"))
        .agg(sort_array(collect_list(col("dst"))).as("_nb"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val adjArr = broadcast(adjTbl)
      var frontier = adjTbl.select(col("cur").as("walk_id"), col("cur"))
      var out = frontier.select(col("walk_id"), lit(0).as("step"),
        col("cur").as("node"))
      val stepPins = Seq.newBuilder[DataFrame]
      for (t <- 1 to steps) {
        val pick = Hashing.hash60(
          concat(col("walk_id").cast("string"), lit(":"), lit(t.toString)),
          seed) % size(col("_nb"))
        // localCheckpoint per step: each step is referenced by
        // BOTH the next step's join and its own union branch, and the
        // self-join re-aliasing gives every branch's adjacency-broadcast
        // occurrence fresh expression ids — exchange reuse never fires
        // across them, so the lazy form rebuilt the broadcast ~steps²/2
        // times (26 overlapping 0.5 s build jobs at sf0.1). One tiny
        // walk-count-row checkpoint per step caps it at one build per
        // step against the cached aggregate.
        frontier = frontier.join(adjArr, "cur")
          .select(col("walk_id"),
            element_at(col("_nb"), (pick + 1).cast("int")).as("cur"))
          .localCheckpoint()
        stepPins += frontier
        out = out.unionByName(
          frontier.select(col("walk_id"), lit(t).as("step"),
            col("cur").as("node")))
      }
      // the sealed walks no longer read the step checkpoints
      val walks = Pins.sealOutput(out, edges, adjTbl)
      Iterate.release(stepPins.result(): _*)
      return walks
    }
    val adjW = Window.partitionBy("src").orderBy("dst")
    val adj = edges
      .select(col("src").as("v"), col("dst").as("nbr"),
        (row_number().over(adjW) - 1).cast("long").as("idx"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val deg = adj.groupBy("v").agg(count(lit(1)).as("d"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    adj.count(); deg.count()

    // every step's frontier is referenced by the FINAL union, so each is
    // pinned with an eager localCheckpoint (walk-count rows — node-sized)
    // and none is released until the caller drops the result; this also
    // keeps the union's plan depth O(1) per step
    var frontier = deg.select(col("v").as("walk_id"), col("v").as("cur"))
      .localCheckpoint()
    var out = frontier.select(col("walk_id"), lit(0).as("step"),
      col("cur").as("node"))
    for (t <- 1 to steps) {
      val pick = Hashing.hash60(
        concat(col("walk_id").cast("string"), lit(":"), lit(t.toString)),
        seed) % col("d")
      frontier = frontier
        .join(deg.withColumnRenamed("v", "cur"), "cur")
        .select(col("walk_id"), col("cur"), pick.as("_pick"))
        .join(adj, col("cur") === adj("v") && col("_pick") === adj("idx"))
        .select(col("walk_id"), col("nbr").as("cur"))
        .localCheckpoint()
      out = out.unionByName(
        frontier.select(col("walk_id"), lit(t).as("step"),
          col("cur").as("node")))
    }
    Iterate.release(adj, deg, edges)
    out
  }
}
