package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** k-core extraction by iterative peeling (Seidman 1983; the distributed
  * formulation of Montresor et al.): repeatedly delete nodes of degree < k
  * until none remain — the surviving subgraph is the k-core, the standard
  * "densely-embedded" signal for graph-side curation (spam rings and
  * boilerplate link farms live in high cores; peripheral one-off nodes
  * don't).
  *
  * The round count is FIXED (contract, not convergence test) so an
  * unrolled SQL oracle can replay it; peeling is monotone, so R rounds
  * compute the exact k-core whenever it stabilizes within R rounds and a
  * documented R-round approximation otherwise — the gate pins R high
  * enough for its graph (stability is itself checked by the spec).
  *
  * Scale shape per round: one map-side-combined degree aggregation over
  * the surviving edges and one semi-join to drop edges touching peeled
  * nodes — both keyed equi-shuffles, nothing quadratic; lineage cut with
  * an [[Iterate.Chain]] checkpoint every round.
  */
object KCore {

  /** Peel `rounds` times with threshold `k` over an undirected graph given
    * as a directed edge list (symmetrized + dedup'd internally). Returns
    * (node_id, core_deg): surviving nodes with their degree inside the
    * surviving subgraph.
    */
  def run(edgesDf: DataFrame, srcCol: String, dstCol: String,
      k: Int, rounds: Int,
      bcastNodeCeiling: Long = Iterate.BcastNodeCeiling): DataFrame = {
    require(rounds >= 1 && k >= 1, s"need rounds >= 1 and k >= 1")
    val dir = edgesDf.select(
      col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
    var edges = dir
      .unionByName(dir.select(col("dst").as("src"), col("src").as("dst")))
      .where(col("src") =!= col("dst"))
      .distinct()
      // pre-partition on src: the per-round degree groupBy and the src-side
      // semi-join then run exchange-free; only the (small, broadcast) keep
      // table moves per round
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var edgeCount = edges.count()
    // Broadcastability is decided ONCE, from round 1's keep table: peeling
    // is monotone (dropping edges can only lower surviving degrees), so the
    // keep table only shrinks and "round-1 keep count under the ceiling"
    // certifies every later round too. This needs no separate node-count
    // pass, and keeps the broadcast regime for graphs whose node count
    // exceeds the ceiling but whose degree-≥-k core does not.
    var bcastKeep = false
    val chain = new Iterate.Chain
    var i = 1
    var stable = false
    while (i <= rounds && !stable) {
      // persist the keep table: it feeds BOTH semi-joins (without the pin
      // the degree aggregation would run twice per round). Counted only in
      // round 1 (the broadcast decision); later rounds let the checkpoint
      // job materialize it on first use.
      val keep0 = edges.groupBy(col("src").as("v"))
        .agg(count(lit(1)).as("d"))
        .where(col("d") >= k)
        .select("v")
        .persist(StorageLevel.MEMORY_AND_DISK)
      if (i == 1) bcastKeep = keep0.count() <= bcastNodeCeiling
      val keep = if (bcastKeep) broadcast(keep0) else keep0
      // drop every edge with a peeled endpoint (two semi-joins); the
      // surviving-edge count rides the checkpoint job. Both probes key the
      // broadcast on the SAME `v` column (no alias): the two exchanges then
      // canonicalize identically and ReuseExchange builds the keep relation
      // once per round instead of twice.
      // The cut is EVERY round (PageRank and LabelProp cut every 4 or 8): each
      // round references the previous edge plan THREE times (degree agg +
      // both semi-joins), so the un-cut logical plan grows 3^rounds and
      // Catalyst analysis, not execution, dominates within a handful of
      // rounds.
      val (next, m) = chain.next(edges
        .join(keep, col("src") === col("v"), "left_semi")
        .join(keep, col("dst") === col("v"), "left_semi")
        .select("src", "dst"), count(lit(1)).as("n"))
      val nextCount = m("n").asInstanceOf[Long]
      keep0.unpersist(false)
      edges.unpersist(false)
      edges = next
      // early exit: peeling is idempotent once no edge was dropped, so the
      // remaining rounds are identity maps — the result is EXACTLY the
      // R-round contract, just without paying for the no-op rounds
      stable = nextCount == edgeCount
      edgeCount = nextCount
      i += 1
    }
    // report the post-R-rounds state verbatim (no extra filter): identical
    // to the true k-core whenever peeling stabilized within R rounds
    edges.groupBy(col("src").as("node_id"))
      .agg(count(lit(1)).as("core_deg"))
  }

  /** In-memory reference: peel to a FIXED point (the true k-core). */
  def runRef(edges: Seq[(Long, Long)], k: Int): Map[Long, Long] = {
    var es = (edges ++ edges.map(_.swap)).filter(e => e._1 != e._2).distinct
    var changed = true
    while (changed) {
      val deg = es.groupBy(_._1).map { case (v, g) => v -> g.size }
      val keep = deg.filter(_._2 >= k).keySet
      val next = es.filter(e => keep(e._1) && keep(e._2))
      changed = next.size != es.size
      es = next
    }
    es.groupBy(_._1).map { case (v, g) => v -> g.size.toLong }
      .filter(_._2 >= k)
  }
}
