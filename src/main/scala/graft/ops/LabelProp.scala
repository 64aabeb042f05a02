package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Synchronous label-propagation community detection (Raghavan et al.,
  * Phys. Rev. E 2007) made deterministic: every node starts with its own id
  * as label; each round every node adopts the label most frequent among its
  * neighbors, ties broken by SMALLEST label; the round count is FIXED (a
  * contract, not a convergence test). Classic LPA breaks ties randomly and
  * updates asynchronously — both are non-reproducible under distributed
  * execution, so this variant pins both choices, making the result exactly
  * replayable by an unrolled SQL oracle (same contract philosophy as
  * [[PageRank]]).
  *
  * Scale design (identical to PageRank's): the symmetrized edge list is
  * shuffled ONCE onto dst and persisted; each round joins the nodes-sized
  * label table (broadcast under [[Iterate.BcastNodeCeiling]]) and
  * aggregates per (dst, label) with map-side combine — zero per-round
  * edge shuffles on the broadcast path. The argmax is
  * `max(struct(cnt, -label))`, a single aggregate, not a per-group sort.
  * Rounds run through [[Iterate.fixedRounds]]: a lazy chain cut every
  * [[Iterate.BcastChainCut]] rounds in the broadcast regime, a
  * materializing loop cut every [[Iterate.KeyedCut]] rounds in the keyed
  * regime.
  */
object LabelProp {

  /** Run `rounds` fixed rounds over an undirected graph given as a directed
    * edge list (the op symmetrizes + dedups internally). Returns
    * (node_id, community) for every node incident to an edge.
    */
  def run(edgesDf: DataFrame, srcCol: String, dstCol: String,
      rounds: Int, bcastNodeCeiling: Long = Iterate.BcastNodeCeiling)
      : DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val dir = edgesDf.select(
      col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
    val edges = dir
      .unionByName(dir.select(col("dst").as("src"), col("src").as("dst")))
      .where(col("src") =!= col("dst"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = edges.select(col("src").as("v")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = nodes.count()
    Iterate.require(n > 0, "empty graph", edges, nodes)
    val broadcastLabels = n <= bcastNodeCeiling
    val side: DataFrame => DataFrame = if (broadcastLabels) broadcast(_) else identity
    // on the dst-pre-partitioned copy the two-level aggregate runs
    // exchange-free: hash(dst) satisfies both the (dst, label) and the dst
    // clustering
    val edgesD = edges
      .repartition(col(if (broadcastLabels) "dst" else "src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    edgesD.count()
    Iterate.fixedRounds(nodes.withColumn("label", col("v")), rounds, broadcastLabels) { lab =>
      edgesD.join(side(lab.withColumnRenamed("v", "src")), "src")
        .groupBy(col("dst"), col("label"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("dst").as("v2"))
        .agg(max(struct(col("cnt"), (-col("label")).as("nl"))).as("m"))
        .select(col("v2").as("v"), (-col("m.nl")).as("label"))
    } { lab =>
      Pins.sealOutput(lab.select(col("v").as("node_id"), col("label").as("community")),
        edges, nodes, edgesD)
    }
  }

  /** In-memory reference for tests (same synchronous min-tiebreak rule). */
  def runRef(edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
    val es = (edges ++ edges.map(_.swap)).filter(e => e._1 != e._2).distinct
    val adj = es.groupBy(_._1).map { case (v, g) => v -> g.map(_._2) }
    var lab = adj.keys.map(v => v -> v).toMap
    for (_ <- 1 to rounds) {
      lab = adj.map { case (v, ns) =>
        val freq = ns.groupBy(lab).map { case (l, g) => (l, g.size) }
        v -> freq.toSeq.minBy { case (l, c) => (-c, l) }._1
      }
    }
    lab
  }
}
