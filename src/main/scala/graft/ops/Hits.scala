package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** HITS hubs-and-authorities (Kleinberg, JACM'99) over a DIRECTED edge
  * list — the link-analysis complement to [[PageRank]]: a node is a good
  * HUB when it points at good authorities, a good AUTHORITY when good
  * hubs point at it. Curation use: in a citation/link graph over a crawl,
  * authority scores surface canonical documents and hub scores surface
  * index/listing pages (which a quality filter usually wants to
  * down-weight).
  *
  * Exactness contract (the [[PageRank]] convention): all arithmetic is
  * scaled-int — init `Scale` per node, per-round sums are exact Long, and
  * the textbook L2 normalization (a sqrt — not portable) is replaced by
  * integer max-rescaling: after each half-step every score is divided by
  * `ceil(max/Scale)` (integer DIV), bounding scores at ~`Scale` with zero
  * floating point. Same fixed point structure, deterministic on any
  * engine/partitioning, and the DuckDB oracle replays it term-for-term
  * with unrolled iteration CTEs (the q76 pattern).
  *
  * Overflow budget: after rescale every score ≤ Scale (1e12); a sum over
  * in/out-degree d keeps d·Scale < 2^63 up to d ≈ 9·10⁶ — far past any
  * realistic per-node degree in a curation graph. Past it, Long overflow
  * flips signs — and that IS detected: every half-step's rescale
  * aggregate also takes min(score) and [[checkOverflow]] refuses a
  * negative (scores are sums of non-negatives, so any negative is an
  * overflow), turning the silent-garbage mode into a loud failure.
  *
  * Scale shape: two regimes on the same arithmetic. Node-sized score
  * tables broadcast into edge copies pre-partitioned by each half-step's
  * GROUP key (src / dst) — the broadcast join preserves that
  * partitioning, so every per-round groupBy runs on co-located data and
  * the edge-sized shuffle is paid twice TOTAL, not twice per round. Past
  * the broadcast ceiling ([[Iterate.BcastNodeCeiling]]; the table is
  * re-broadcast every half-step) the keyed-join form runs unchanged,
  * including the overflow guard: `rescaled` is shared by both regimes.
  * Each score lives on its own [[Iterate.Chain]], checkpointed every
  * half-step; output sealed, all pins released ([[Pins]]).
  */
object Hits {

  val Scale: Long = PageRank.Scale // 1e12, shared convention

  /** Integer max-rescale divisor: max(1, ceil(mx / Scale)) — pure, pinned
    * by HitsSpec (it is the arithmetic the oracle unrolls per half-step).
    */
  def rescaleDivisor(mx: Long): Long = math.max(1L, (mx + Scale - 1L) / Scale)

  /** Overflow guard, fed by the observed min: scores are sums of
    * non-negatives, so a negative min can ONLY mean a Long sum
    * sign-flipped — the ~9.2e6 per-node degree budget (scaladoc) was
    * exceeded. Loud, never silent.
    */
  def checkOverflow(mn: Long): Unit =
    require(mn >= 0, s"graft hits: half-step Long sum overflowed " +
      s"(min=$mn) — per-node degree exceeds the ~9.2e6 budget at " +
      "Scale=1e12")

  /** Run `iters` full hub→authority→hub rounds; returns
    * (node_id, hub_scaled, auth_scaled) for every node incident to an
    * edge. Self-loops allowed (they just feed a node's own scores);
    * duplicate edges collapse (distinct) so multiplicity doesn't double
    * mass.
    */
  def run(edgesDf: DataFrame, srcCol: String, dstCol: String,
      iters: Int, bcastNodeCeiling: Long = Iterate.BcastNodeCeiling)
      : DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val edges = edgesDf
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = edges.select(col("src").as("v"))
      .union(edges.select(col("dst").as("v")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Broadcast regime: pre-partition the edge table ONCE by each
    // half-step's GROUP key and broadcast the score side, so every groupBy
    // lands on already-co-located data (2·iters edge shuffles → 2, paid
    // once). The ceiling is the row-per-node figure, NOT the 32M
    // edge-payload threshold: the score table is re-broadcast 2·iters
    // times, and 32M nodes would mean two ~2 GiB collects+broadcasts per
    // round.
    val bcastScores = nodes.count() <= bcastNodeCeiling
    def edgesBy(key: String): DataFrame = if (bcastScores)
      edges.repartition(col(key)).persist(StorageLevel.MEMORY_AND_DISK) else edges
    val (edgesByDst, edgesBySrc) = (edgesBy("dst"), edgesBy("src"))
    def scoreSide(s: DataFrame): DataFrame =
      if (bcastScores) broadcast(s) else s

    // integer max-rescale: x -> x DIV max(1, ceil(max(x)/Scale)). The
    // max/min aggregate rides the checkpoint job as observed metrics, so
    // the divisor is a driver-side literal (no aggregate job per
    // half-step). The raw scores are pinned BEFORE the rescale projection
    // re-reads them, or each half-step would evaluate its join lineage
    // twice. The pin is a checkpoint, not a lazy persist: each half-step
    // reads its predecessor TWICE (next half-step's join + the output
    // join), so without an eager cut the logical tree doubles per
    // half-step, and AQE renders the plan string on every stage update —
    // 2^(2·iters) nested copies were ~80 s of driver time at sf0.1.
    def rescaled(chain: Iterate.Chain, scores: DataFrame, c: String): DataFrame = {
      val (pinned, m) = chain.next(scores, max(col(c)).as("_mx"), min(col(c)).as("_mn"))
      checkOverflow(m("_mn").asInstanceOf[Long])
      val div = rescaleDivisor(m("_mx").asInstanceOf[Long])
      pinned.select(col("v"), expr(s"$c DIV ${div}L").as(c))
    }

    val (hubChain, authChain) = (new Iterate.Chain, new Iterate.Chain)
    var hub = hubChain.next(nodes.select(col("v"), lit(Scale).as("h")))._1
    var auth: DataFrame = null
    for (_ <- 1 to iters) {
      // authority half-step: a(v) = Σ_{u→v} h(u), absent in-edges → 0
      val aRaw = edgesByDst
        .join(scoreSide(hub.withColumnRenamed("v", "src")), "src")
        .groupBy(col("dst").as("v")).agg(sum("h").as("a"))
      auth = rescaled(authChain,
        nodes.join(aRaw, Seq("v"), "left")
          .select(col("v"), coalesce(col("a"), lit(0L)).as("a")), "a")
      // hub half-step: h(v) = Σ_{v→w} a(w), absent out-edges → 0
      val hRaw = edgesBySrc
        .join(scoreSide(auth.withColumnRenamed("v", "dst")), "dst")
        .groupBy(col("src").as("v")).agg(sum("a").as("h"))
      hub = rescaled(hubChain,
        nodes.join(hRaw, Seq("v"), "left")
          .select(col("v"), coalesce(col("h"), lit(0L)).as("h")), "h")
    }
    val out = Pins.sealOutput(
      hub.join(auth, "v")
        .select(col("v").as("node_id"), col("h").as("hub_scaled"),
          col("a").as("auth_scaled")),
      edges, nodes, edgesByDst, edgesBySrc)
    hubChain.release()
    authChain.release()
    out
  }

  /** In-memory reference for tests (same integer arithmetic). */
  def runRef(edges: Seq[(Long, Long)], iters: Int): Map[Long, (Long, Long)] = {
    val es = edges.distinct
    val nodes = (es.map(_._1) ++ es.map(_._2)).distinct
    def rescale(m: Map[Long, Long]): Map[Long, Long] = {
      val mx = m.values.max
      val d = math.max(1L, (mx + Scale - 1) / Scale)
      m.map { case (k, x) => k -> x / d }
    }
    var hub = nodes.map(_ -> Scale).toMap
    var auth = Map.empty[Long, Long]
    for (_ <- 1 to iters) {
      auth = rescale(nodes.map(v =>
        v -> es.filter(_._2 == v).map(e => hub(e._1)).sum).toMap)
      hub = rescale(nodes.map(v =>
        v -> es.filter(_._1 == v).map(e => auth(e._2)).sum).toMap)
    }
    nodes.map(v => v -> (hub(v), auth(v))).toMap
  }
}
