package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.graft.GraftBridge
import org.apache.spark.storage.StorageLevel

/** The iteration driver of the graph operators: the broadcast ceiling and
  * lineage-cut cadences, the rolling checkpoint chain, the fixed-rounds
  * loop in both regimes, and the release of pins when a call is refused.
  * Checkpoints are `localCheckpoint`s: a lost executor loses their blocks
  * and fails the loop (a reliable `checkpoint` needs a checkpoint
  * directory and writes every cut to storage).
  */
object Iterate {

  /** Broadcast-regime ceiling for row-per-node score and label tables that
    * are re-broadcast every round: ~64 B/row in the driver-built hashed
    * relation, so 1M nodes is ~64 MB per round, about the most a driver
    * should absorb every round. The ops take it as a per-call test knob so
    * the keyed regime is parity-testable on small graphs.
    */
  val BcastNodeCeiling: Long = 1000000L

  /** A lazy broadcast chain is cut with an eager checkpoint every this
    * many rounds. Until the sealing action, every uncut round keeps its
    * broadcasts (PageRank: rank + contrib; LabelProp: labels) referenced,
    * so the cut bounds live broadcasts to one window's worth (~1 GiB at
    * the node ceiling) instead of growing with the round count.
    */
  val BcastChainCut: Int = 8

  /** The keyed (materializing) regime persists every round and replaces
    * the persist with a checkpoint every this many rounds, keeping its
    * plan depth O(1).
    */
  val KeyedCut: Int = 4

  /** Frees what `pins` hold: the session cache entry of a persisted table
    * and the blocks of a checkpointed one (RDD-level blocks, which
    * `Dataset.unpersist` does not reach).
    */
  def release(pins: DataFrame*): Unit = pins.foreach { p =>
    p.unpersist()
    GraftBridge.checkpointRdd(p).foreach(_.unpersist(blocking = false))
  }

  /** `require` for a call that holds pins: a refusal releases them first,
    * so a caught refusal leaves nothing cached behind.
    */
  def require(cond: Boolean, msg: => String, pins: DataFrame*): Unit =
    if (!cond) {
      release(pins: _*)
      Predef.require(cond, msg)
    }

  /** Rolling checkpoint chain: `next` eagerly checkpoints a round, then
    * frees the chain's previous checkpoint, which the new round no longer
    * reads once the checkpoint job has run. The latest checkpoint backs
    * the caller's frame until `release`.
    */
  final class Chain {
    private var live: Option[DataFrame] = None

    /** Checkpoints `df`, observing `metrics` on the checkpoint job itself.
      * Returns the checkpointed frame and the observed values by name; a
      * metric that is absent (the optimizer proved the plan empty and
      * dropped the observer) reads as null, which a `Long` cast turns
      * into 0.
      */
    def next(df: DataFrame, metrics: Column*): (DataFrame, Map[String, Any]) = {
      val obs = Observation()
      val out = (if (metrics.isEmpty) df
        else df.observe(obs, metrics.head, metrics.tail: _*)).localCheckpoint()
      release()
      live = Some(out)
      (out, if (metrics.isEmpty) Map.empty[String, Any] else obs.get.withDefaultValue(null))
    }

    /** Frees the latest checkpoint; only once nothing downstream reads it. */
    def release(): Unit = {
      live.foreach(Iterate.release(_))
      live = None
    }
  }

  /** Runs `rounds` applications of `step` from `init`, then `seal`s the
    * last round and frees the loop's own pins.
    *
    * `lazyChain` (node-sized tables broadcast every round): each round is
    * consumed exactly once, by the next round's broadcast build, so rounds
    * chain lazily and `seal`'s action builds the nested broadcasts
    * bottom-up, each once; the chain is cut every [[BcastChainCut]] rounds.
    * Otherwise (keyed joins) every round is persisted and counted, and
    * every [[KeyedCut]]-th round is checkpointed instead.
    */
  def fixedRounds(init: DataFrame, rounds: Int, lazyChain: Boolean)
      (step: DataFrame => DataFrame)(seal: DataFrame => DataFrame): DataFrame = {
    val chain = new Chain
    var cur = init
    if (!lazyChain) {
      cur = init.persist(StorageLevel.MEMORY_AND_DISK)
      cur.count()
    }
    for (i <- 1 to rounds) {
      val next = step(cur)
      cur = if (lazyChain) {
        if (i % BcastChainCut == 0 && i < rounds) chain.next(next)._1 else next
      } else {
        val pinned =
          if (i % KeyedCut == 0) chain.next(next)._1
          else next.persist(StorageLevel.MEMORY_AND_DISK)
        pinned.count()
        cur.unpersist(false)
        pinned
      }
    }
    val out = seal(cur)
    cur.unpersist(false)
    chain.release()
    out
  }
}
