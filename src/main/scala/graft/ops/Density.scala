package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Density-based clustering (DBSCAN, Ester et al. KDD'96) over an embedding
  * column — the curation use-case is density-aware subsampling: dense
  * regions of the embedding space are redundant (keep few), sparse regions
  * are rare (keep all), and DBSCAN's core/border/noise partition is exactly
  * that signal. Complements [[Dedup.semanticDedup]] (which keeps ONE row per
  * near-dup component regardless of density): DBSCAN distinguishes "this
  * point sits in a dense blob" from "this point merely touches one".
  *
  * Deterministic variant: classic DBSCAN assigns a border point to the
  * first core point that claims it (scan-order dependent). Here a border
  * point joins the MINIMUM cluster id among its core neighbors, so output
  * is reproducible under any partitioning — the property every gate (and
  * any incremental re-run at scale) needs.
  *
  * Scale shape (100 TB): the ONLY pairwise stage is the eps-neighbor join,
  * delegated to [[Similarity.cosinePairs]] — bounded per blocking cell,
  * hot cells auto-decomposed via `subBlocks`. Everything after is linear:
  * one groupBy for degrees, [[Cluster.alternatingStar]] on the CORE-CORE
  * pair set (O(log n) rounds on pairs, not the corpus), one join + groupBy
  * for border attachment. No per-point region queries (the textbook
  * sequential formulation) — the neighbor graph is built once, in bulk.
  */
object Density {

  /** DBSCAN over `df` with cosine-similarity neighborhoods.
    *
    * A point's eps-neighborhood is the set of same-block points with
    * cosine ≥ `threshold` (exact scaled-int cosine, engine-portable); a
    * point is core when |neighborhood ∪ self| ≥ `minPts`.
    *
    * Returns one row per input row: (idCol, is_core, cluster_id, role)
    * where role ∈ ('core','border','noise') and cluster_id is the minimum
    * member id of the density-connected component (NULL for noise).
    */
  def dbscan(df: DataFrame, idCol: String, vecCol: String, blockKey: Column,
      threshold: Double, minPts: Int, subBlocks: Int = 1): DataFrame = {
    require(minPts >= 1, s"minPts must be >= 1, got $minPts")
    val pairs = Similarity.cosinePairs(df, idCol, vecCol, blockKey, threshold,
      subBlocks)
    // Symmetrized neighbor edges, persisted: degrees, the core-core edge
    // subset, and border attachment all read it — one pairwise computation,
    // three cheap consumers.
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val degrees = edges.groupBy("src").agg(count(lit(1)).as("_nbrs"))
    val ids = df.select(col(idCol))
    val coreFlags = ids
      .join(degrees.withColumnRenamed("src", idCol), Seq(idCol), "left")
      .select(col(idCol),
        (coalesce(col("_nbrs"), lit(0L)) + 1L >= minPts).as("is_core"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val coreIds = coreFlags.filter(col("is_core")).select(col(idCol))
    // Density-connected components: closure over core-core edges only —
    // border points never bridge clusters (the defining DBSCAN asymmetry).
    val coreEdges = edges
      .join(coreIds.withColumnRenamed(idCol, "src"), Seq("src"), "left_semi")
      .join(coreIds.withColumnRenamed(idCol, "dst"), Seq("dst"), "left_semi")
      .filter(col("src") < col("dst"))
    val coreLabels = Cluster.clusters(coreIds, idCol, coreEdges, "src", "dst")
      .select(col(idCol), col("cluster_id"))
    // Border attachment: min cluster id among core neighbors (deterministic
    // tie-break, see object scaladoc). One join keyed on the core endpoint.
    val borderLabels = edges
      .join(coreLabels.withColumnRenamed(idCol, "dst")
        .withColumnRenamed("cluster_id", "_nbr_cluster"), Seq("dst"))
      .groupBy(col("src").as(idCol))
      .agg(min(col("_nbr_cluster")).as("_border_cluster"))
    val out = coreFlags
      .join(coreLabels.withColumnRenamed("cluster_id", "_core_cluster"),
        Seq(idCol), "left")
      .join(borderLabels, Seq(idCol), "left")
      .select(col(idCol), col("is_core"),
        when(col("is_core"), col("_core_cluster"))
          .otherwise(col("_border_cluster")).as("cluster_id"))
      .withColumn("role",
        when(col("is_core"), lit("core"))
          .when(col("cluster_id").isNotNull, lit("border"))
          .otherwise(lit("noise")))
    // Pin the (corpus-sized, narrow) result BEFORE releasing the neighbor
    // graph — returning the lazy plan and unpersisting would re-run the
    // pairwise join once per downstream action. Same rolling-materialization
    // discipline as the closure's checkpoint chain ([[Iterate.Chain]]).
    val pinned = out.localCheckpoint()
    edges.unpersist(blocking = false)
    coreFlags.unpersist(blocking = false)
    pinned
  }
}
