package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Deterministic PageRank in exact integer arithmetic — the iterative
  * join+aggregate workload (the pattern behind label propagation, embedding
  * propagation, influence scoring) made bit-portable:
  *
  *  - ranks live in integer mass units (scale 1e12), so partial-aggregation
  *    sums are exact and order-independent — the same result on any cluster
  *    topology, and replayable by any engine with integer division;
  *  - each edge carries `floor(rank(src) / outdeg(src))`; the damping is
  *    `base + (17 · Σ) div 20` (0.85 as a ratio of integers);
  *  - iteration count is FIXED (a contract, not a convergence test), so
  *    the oracle can unroll the same number of steps.
  *
  * Scale design: the edge list is shuffled ONCE onto its join key and
  * persisted; each iteration is one shuffle (groupBy dst) + one broadcast-
  * or sort-merge join against the (nodes-sized) rank table, run by
  * [[Iterate.fixedRounds]], which cuts lineage so the plan does not grow
  * with iterations.
  */
object PageRank {

  val Scale: Long = 1000000000000L // 1e12 mass units

  /** Run `iters` fixed iterations over a directed edge list (srcCol,
    * dstCol). The node universe is the SOURCE side: every node must have
    * out-degree ≥ 1, and a destination that never appears as a source (a
    * dangling sink — it would silently absorb mass the integer contract
    * cannot redistribute) fails loudly up front; symmetrize bipartite or
    * sink-bearing inputs first. Returns (node_id, rank_scaled).
    */
  def run(edgesDf: DataFrame, srcCol: String, dstCol: String,
      iters: Int, bcastNodeCeiling: Long = Iterate.BcastNodeCeiling): DataFrame =
    rank(edgesDf, srcCol, dstCol, None, iters, bcastNodeCeiling)

  /** PERSONALIZED PageRank: the teleport mass lands only on `seeds`
    * (one column `v`, each a graph node), so ranks measure proximity to
    * the seed set — the "relevance to a trusted corpus" signal behind
    * seed-expanded curation (find pages close to known-good ones). Same
    * integer contract as [[run]]: init = Scale DIV |S| on seeds (0
    * elsewhere), per-round r(v) = b(v) + ⌊17·Σ contrib⌋/20 with the
    * per-NODE base b(v) = (3·Scale/20) DIV |S| on seeds and 0 elsewhere.
    * [[run]] is the case where every node is a seed.
    */
  def personalized(edgesDf: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, iters: Int,
      bcastNodeCeiling: Long = Iterate.BcastNodeCeiling): DataFrame =
    rank(edgesDf, srcCol, dstCol, Some(seeds), iters, bcastNodeCeiling)

  private def rank(edgesDf: DataFrame, srcCol: String, dstCol: String,
      seeds: Option[DataFrame], iters: Int, bcastNodeCeiling: Long): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val edges = edgesDf
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val seedSet = seeds.map(_.select(col("v").cast("long").as("v")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK))
    val nSeeds = seedSet.map(_.count())
    // ONE node-stats pass for degree, node universe, dangling check and
    // seed membership: per node, `d` = out-degree (each edge contributes
    // one src tag) and `_src` records whether the node ever appears as a
    // source — a node seen only as dst is exactly a dangling sink. The
    // seed flag rides the same aggregate via a broadcast left join.
    val nodeStats = edges.select(col("src").as("v"), lit(1).as("_s"))
      .unionAll(edges.select(col("dst").as("v"), lit(0).as("_s")))
      .groupBy("v").agg(sum("_s").as("d"), max("_s").as("_src"))
    val stats = seedSet.fold(nodeStats)(s =>
        nodeStats.join(broadcast(s.withColumn("_sd", lit(1))), Seq("v"), "left"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val isSeed = if (seeds.isEmpty) lit(true) else col("_sd").isNotNull
    val cnts = stats.agg(
      count(when(col("_src") === 1, 1)),
      count(when(col("_src") === 0, 1)),
      count(when(isSeed && col("_src") === 1, 1))).head()
    val (n, nDangling, nSeedsInGraph) = (cnts.getLong(0), cnts.getLong(1), cnts.getLong(2))
    val pins = edges +: stats +: seedSet.toSeq
    // refusal order: a dangling sink, then the seed set, then an empty
    // graph (an empty seed set on an empty graph is refused for its seeds)
    Iterate.require(nDangling == 0L, s"$nDangling node(s) have in-edges but no " +
      "out-edges — PageRank's contract requires out-degree >= 1 for every " +
      "node; symmetrize the edge list (or drop edges into sinks) first", pins: _*)
    nSeeds.foreach { ns =>
      Iterate.require(ns > 0, "personalized pagerank needs a non-empty seed set", pins: _*)
      Iterate.require(nSeedsInGraph == ns, s"${ns - nSeedsInGraph} seed(s) are not " +
        "graph nodes — the teleport mass would silently vanish; intersect the " +
        "seed set first", pins: _*)
    }
    Iterate.require(n > 0, "empty graph", pins: _*)
    val teleport = nSeeds.getOrElse(n)
    val base = (Scale * 3L / 20L) / teleport
    // node universe + per-node base and initial rank in ONE node-sized table
    val nodes = stats.select(col("v"),
      when(isSeed, lit(base)).otherwise(lit(0L)).as("b"),
      when(isSeed, lit(Scale / teleport)).otherwise(lit(0L)).as("r"))
    // Partitioning choice is keyed to HOW the per-iteration join runs:
    //  - rank table broadcastable (the common shape — node table orders of
    //    magnitude smaller than the edge list): the join needs NO edge
    //    partitioning, so pre-partition edges on DST, the aggregation key.
    //    The broadcast join preserves the streamed side's partitioning and
    //    the dst→v alias keeps it visible, so every iteration's groupBy
    //    runs WITHOUT an exchange — zero per-iteration edge shuffles.
    //  - rank table too big to broadcast: partition on SRC so the
    //    sort-merge join co-locates against the rank table instead, and
    //    pay the groupBy shuffle.
    val broadcastRanks = n <= bcastNodeCeiling
    val side: DataFrame => DataFrame = if (broadcastRanks) broadcast(_) else identity
    // deg is node-sized, so in the broadcast regime the attach join moves
    // no edge bytes (only the repartition onto dst does)
    val edgesD = edges
      .join(side(stats.select(col("v").as("src"), col("d"))), "src")
      .repartition(col(if (broadcastRanks) "dst" else "src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    edgesD.count()
    Iterate.fixedRounds(nodes.select(col("v"), col("r")), iters, broadcastRanks) { pr =>
      // integer division (DIV), NOT `/`: Spark's `/` is double division,
      // whose truncation can land one off when the rounded quotient
      // crosses an integer boundary
      val contrib = edgesD
        .join(side(pr.withColumnRenamed("v", "src")), "src")
        .select(col("dst").as("v"), expr("r DIV d").as("c"))
        .groupBy("v")
        .agg(sum("c").as("s"))
      // LEFT join back onto the full node set: the aggregation only
      // yields nodes with in-edges, so a zero-in-degree node would
      // vanish from the rank table after round 1 (and stop contributing
      // from round 2). runRef keeps it at `base`; coalesce(s, 0)
      // matches that exactly.
      nodes.join(side(contrib), Seq("v"), "left")
        .select(col("v"), (col("b") + expr("(17 * coalesce(s, 0)) DIV 20")).as("r"))
    } { pr =>
      Pins.sealOutput(pr.select(col("v").as("node_id"), col("r").as("rank_scaled")),
        pins :+ edgesD: _*)
    }
  }

  /** JVM twin of [[personalized]] for tests. */
  def personalizedRef(edges: Seq[(Long, Long)], seeds: Set[Long],
      iters: Int): Map[Long, Long] = {
    val es = edges.distinct
    val deg = es.groupBy(_._1).map { case (s, g) => s -> g.size.toLong }
    val nodes = es.map(_._1).distinct
    val init = Scale / seeds.size
    val b = (Scale * 3L / 20L) / seeds.size
    var pr = nodes.map(v => v -> (if (seeds(v)) init else 0L)).toMap
    for (_ <- 1 to iters) {
      val contribs = es.groupBy(_._2).map { case (dst, g) =>
        dst -> g.map { case (s, _) => pr(s) / deg(s) }.sum
      }
      pr = nodes.map(v => v ->
        ((if (seeds(v)) b else 0L) + 17L * contribs.getOrElse(v, 0L) / 20L)).toMap
    }
    pr
  }

  /** In-memory reference for tests (same integer arithmetic). */
  def runRef(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val es = edges.distinct
    val deg = es.groupBy(_._1).map { case (s, g) => s -> g.size.toLong }
    val nodes = es.map(_._1).distinct
    val n = nodes.size.toLong
    val init = Scale / n
    val base = (Scale * 3L / 20L) / n
    var pr = nodes.map(_ -> init).toMap
    for (_ <- 1 to iters) {
      val contribs = es.groupBy(_._2).map { case (dst, g) =>
        dst -> g.map { case (s, _) => pr(s) / deg(s) }.sum
      }
      pr = nodes.map(v => v -> (base + 17L * contribs.getOrElse(v, 0L) / 20L)).toMap
    }
    pr
  }
}
