package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over embedding columns (`array<float>`).
  *
  * Numeric portability: the dot product is computed over 1e6-scaled
  * integers (exact Long arithmetic — order-independent, identical on every
  * engine), with a final fixed IEEE division. A plain float dot product
  * differs in the last ulps between engines and between shuffle
  * topologies; this one doesn't. The quantization error (~1e-6 relative)
  * is far below any similarity threshold in use.
  *
  * Scale paths:
  *  - [[bruteForceTopK]]: queries × corpus via broadcast of the (small)
  *    query set — exact, O(|Q|·n), the correctness baseline;
  *  - [[signLshTopK]]: random-hyperplane sign buckets prune the corpus to
  *    same-bucket candidates before exact re-ranking — the 100 TB path
  *    (bucket join instead of cross product).
  */
object Similarity {

  /** Default cap on BROADCAST QUERY SIDES ([[bruteForceTopK]],
    * [[hardNegatives]], [[signLshTopK]], IvfIndex/Quantize probes). The
    * query set ships to every executor and — for the brute-force forms —
    * multiplies a full corpus scan per row, so "queryPred matched more
    * than I thought" is a driver/broadcast OOM wearing a top-k contract
    * (the round-15 broadcast audit; the Signal.guardEventsPerKey
    * discipline applied to broadcast builds). 100k rows ≈ 100–800 MB of
    * scaled vectors at 64–768 dims — past it, refuse loudly and point at
    * the scale path.
    */
  private[ops] val DefaultMaxQueryRows = 100000

  /** Refuse-loudly cap riding the query-side plan: a global count window
    * (one partition of the QUERY side only — spills, never OOMs) raises a
    * NAMED error before the broadcast build. Lazy — no job at call time.
    */
  private[ops] def guardQueryRows(queries: DataFrame, maxQueryRows: Int,
      what: String): DataFrame = {
    require(maxQueryRows > 0, s"maxQueryRows must be > 0, got $maxQueryRows")
    val n = count(lit(1)).over(Window.partitionBy())
    queries.withColumn("_qn", n)
      .filter(assert_true(col("_qn") <= maxQueryRows,
        format_string(
          s"$what: query set has %d rows (cap $maxQueryRows) — the query " +
            "side is broadcast to every executor (8 GB hard wall, driver " +
            "heap first), so an unbounded queryPred is an OOM, not a slow " +
            "query; narrow queryPred, raise maxQueryRows if the bound is " +
            "measured, or use the LSH/IVF scale path for corpus-sized " +
            "query sets",
          col("_qn"))).isNull)
      .drop("_qn")
  }

  /** Scaled-integer vector: round(x * 1e6) per element, as array<long>. */
  def scaled(v: Column): Column =
    transform(v.cast("array<double>"), x => round(x * 1000000).cast("long"))

  /** Exact Long dot product of two scaled vectors (native codegen — see
    * [[graft.functions.DotLong]] for the bit-compat contract with the
    * interpreted aggregate/zip_with form it replaced).
    */
  def dotScaled(a: Column, b: Column): Column = graft.functions.Dot.long(a, b)

  /** Euclidean norm of a scaled vector, as the double every cosine below
    * divides by. Precomputed ONCE PER ROW before any pairwise join — the
    * norms are row-local, so computing them inside the pair expression
    * (as a naive cosine(a, b) does) multiplies their cost by the
    * candidate count.
    */
  def normScaled(s: Column): Column = sqrt(dotScaled(s, s).cast("double"))

  /** Cosine similarity from scaled vectors: exact integer dot and norms,
    * one deterministic double division at the end.
    */
  def cosineScaled(sa: Column, sb: Column): Column =
    cosineFromNorms(sa, sb, normScaled(sa), normScaled(sb))

  /** Cosine from precomputed per-row norms: ONE dot per pair. Bit-identical
    * to [[cosineScaled]] (same operands, same IEEE op sequence).
    */
  def cosineFromNorms(sa: Column, sb: Column, na: Column, nb: Column): Column = {
    val dot = dotScaled(sa, sb).cast("double")
    when(na > 0 && nb > 0, dot / (na * nb)).otherwise(lit(0.0))
  }

  /** Exact top-k neighbors for each query row (a filtered subset of `df`).
    * The query side is broadcast; ranking is on (rounded cosine, id) so tie
    * order is total and engine-independent.
    */
  def bruteForceTopK(df: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, k: Int,
      maxQueryRows: Int = DefaultMaxQueryRows): DataFrame = {
    val spread = df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    val corpus = spread.select(col(idCol).as("neighbor_id"), scaled(col(vecCol)).as("_sn"))
      .withColumn("_nn", normScaled(col("_sn")))
    val queries = guardQueryRows(spread.filter(queryPred),
        maxQueryRows, "Similarity.bruteForceTopK")
      .select(col(idCol).as("query_id"), scaled(col(vecCol)).as("_sq"))
      .withColumn("_nq", normScaled(col("_sq")))
    val sims = corpus.crossJoin(broadcast(queries))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", graft.functions.Exact.roundPortable(
        cosineFromNorms(col("_sq"), col("_sn"), col("_nq"), col("_nn")), 6))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    sims.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("sim"), col("rank"))
  }

  /** Hard-negative mining: for each query vector, the top-k most-similar
    * corpus vectors with a DIFFERENT label — the contrastive-training
    * counterpart of [[bruteForceTopK]] (same exact-scaled-int cosine, same
    * broadcast-NLJ shape, linear in the corpus for a bounded query set;
    * swap in the LSH/IVF candidate generators for corpus-scale query
    * sets).
    */
  def hardNegatives(df: DataFrame, idCol: String, vecCol: String,
      labelCol: String, queryPred: Column, k: Int,
      maxQueryRows: Int = DefaultMaxQueryRows): DataFrame = {
    val spread = df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    val corpus = spread.select(col(idCol).as("neighbor_id"),
        col(labelCol).as("_ln"), scaled(col(vecCol)).as("_sn"))
      .withColumn("_nn", normScaled(col("_sn")))
    val queries = guardQueryRows(spread.filter(queryPred),
        maxQueryRows, "Similarity.hardNegatives")
      .select(col(idCol).as("query_id"), col(labelCol).as("_lq"),
        scaled(col(vecCol)).as("_sq"))
      .withColumn("_nq", normScaled(col("_sq")))
    val sims = corpus.crossJoin(broadcast(queries))
      .filter(col("_ln") =!= col("_lq"))
      .withColumn("sim", graft.functions.Exact.roundPortable(
        cosineFromNorms(col("_sq"), col("_sn"), col("_nq"), col("_nn")), 6))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    sims.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("sim"), col("rank"))
  }

  /** Deterministic pseudo-random hyperplane vector for one plane: per-dim
    * md5-derived values in [-0.5, 0.5). Computed ONCE on the driver
    * (bit-identical to the per-row `hashUnit(…) - 0.5` expression — the
    * oracle SQL mirrors that form) and shipped as an array literal: the
    * per-row cost drops from planes×dims md5 calls to one zip_with dot.
    */
  def planeVector(plane: Int, dims: Int, seed: String): Seq[Double] =
    (0 until dims).map(i =>
      graft.functions.Hashing.hash60Jvm(s"$plane:$i", seed).toDouble /
        1152921504606846976.0 /* 2^60 */ - 0.5)

  /** Johnson-Lindenstrauss random projection: append `planes` columns
    * p0..p{planes-1}, each the dot of the vector with a deterministic
    * literal hyperplane (same [[planeVector]] family as sign-LSH, so the
    * projection is reproducible across runs/engines). Per-row map work —
    * no shuffle; the cheap front-end for ANN or visualization at scale.
    *
    * `dims` is only a floor for the plane-literal length: by default the
    * corpus max width is probed (one bounded aggregate at call time, same
    * pattern as [[signLshTopK]]) and the literals sized to cover it — a
    * vector WIDER than the literal would make the zip_with dot return
    * NULL silently. [[planeVector]] entries depend only on (plane, index,
    * seed), so a longer literal leaves every existing projection value
    * unchanged. Callers that KNOW the corpus width (fixed-dim embedding
    * tables, streaming inputs where an eager action is illegal) pass
    * `probeWidth = false` with `dims` = that width and skip the extra
    * scan.
    */
  def randomProjection(df: DataFrame, vecCol: String, planes: Int,
      seed: String, dims: Int = 64, probeWidth: Boolean = true): DataFrame = {
    val sv = col(vecCol).cast("array<double>")
    val width =
      if (!probeWidth) dims
      else {
        val probed = df.agg(max(size(col(vecCol)))).head()
        if (probed.isNullAt(0)) dims else math.max(dims, probed.getInt(0))
      }
    (0 until planes).foldLeft(df) { (acc, p) =>
      val pv = typedLit(planeVector(p, width, seed))
      acc.withColumn(s"p$p", graft.functions.Exact.roundPortable(
        graft.functions.Dot.double(sv, slice(pv, lit(1), size(sv))), 6))
    }
  }

  /** Per-plane hyperplane dots as `array<double>` — the shared input of
    * the bucket id (signs) and multi-probe flip order (margins).
    */
  def planeDots(v: Column, planes: Int, seed: String, dims: Int): Column = {
    val sv = v.cast("array<double>")
    array((0 until planes).map { p =>
      val pv = typedLit(planeVector(p, dims, seed))
      graft.functions.Dot.double(sv, slice(pv, lit(1), size(sv)))
    }: _*)
  }

  /** Sign-LSH bucket id from the plane dots: bit p set iff dot_p >= 0. */
  def bucketFromDots(dots: Column, planes: Int): Column =
    (0 until planes).map { p =>
      when(element_at(dots, p + 1) >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Multi-probe bucket list (Lv et al., VLDB'07 shape): the home bucket
    * first, then `probes` Hamming-1 neighbors obtained by flipping the
    * planes with the SMALLEST |dot| margin (a near-zero dot means the
    * vector sits close to that hyperplane, so its true neighbors most
    * likely landed just across it). Flip order is (|dot| asc, plane asc)
    * — a total order, identical in the SQL mirror. Probe buckets are
    * pairwise distinct (each flips a different bit of the same home
    * bucket), so a corpus vector can reach a query through at most one
    * probe — no candidate dedup needed downstream.
    */
  def probeBuckets(dots: Column, planes: Int, probes: Int): Column = {
    require(probes >= 0 && probes <= planes,
      s"need 0 <= probes <= planes, got $probes/$planes")
    val home = bucketFromDots(dots, planes)
    if (probes == 0) array(home)
    else {
      // the sorted struct carries the flip MASK (1L << p) directly; the
      // mask is monotone in p, so (m, mask) sorts exactly like (m, p)
      val ranked = array_sort(array((0 until planes).map { p =>
        struct(abs(element_at(dots, p + 1)).as("m"), lit(1L << p).as("b"))
      }: _*))
      concat(array(home), transform(slice(ranked, 1, probes),
        s => home.bitwiseXOR(s.getField("b"))))
    }
  }

  /** Approximate top-k: candidates share the sign-LSH bucket; exact cosine
    * re-rank within candidates. Recall < 1 by construction — the scale
    * path, benchmarked against [[bruteForceTopK]] (and hash-gated by
    * q110/q111). `probes` > 0 additionally probes that many Hamming-1
    * query buckets in margin order ([[probeBuckets]]): candidate pool —
    * and recall — grow roughly linearly with probes at (probes+1)× the
    * per-query join fan-out, still bounded per bucket.
    */
  def signLshTopK(df: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, k: Int, planes: Int, seed: String,
      probes: Int = 0,
      maxQueryRows: Int = DefaultMaxQueryRows): DataFrame = {
    // max-width probe for the corpus dimensionality (bounds the plane
    // literals): max — not an arbitrary first row — so ragged corpora still
    // get full-length plane vectors (a too-short literal would null-pad the
    // zip_with and collapse wide vectors into bucket 0). Empty/all-null
    // corpus → empty result with the output schema.
    val dimsRow = df.agg(max(size(col(vecCol)))).head()
    if (dimsRow.isNullAt(0))
      return df.sparkSession.createDataFrame(
        df.sparkSession.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("query_id",
            df.schema(idCol).dataType),
          org.apache.spark.sql.types.StructField("neighbor_id",
            df.schema(idCol).dataType),
          org.apache.spark.sql.types.StructField("sim",
            org.apache.spark.sql.types.DoubleType),
          org.apache.spark.sql.types.StructField("rank",
            org.apache.spark.sql.types.IntegerType))))
    val dims = dimsRow.getInt(0)
    // spread before the per-row plane dots: single-file sources otherwise
    // evaluate the bucketing on one core (see COVERAGE.md scale notes)
    val spread = df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    val dotted = spread.select(col(idCol), col(vecCol),
      planeDots(col(vecCol), planes, seed, dims).as("_dots"))
    val corpus = dotted.select(bucketFromDots(col("_dots"), planes).as("_bucket"),
      col(idCol).as("neighbor_id"), scaled(col(vecCol)).as("_sn"))
      .withColumn("_nn", normScaled(col("_sn")))
    // query side explodes over the (distinct) probe buckets — a corpus
    // vector reaches a query through at most one of them, no dedup needed.
    // The row cap guards the PRE-explode count; the broadcast build is at
    // most (probes+1)× that (probes is a caller literal, not data-driven)
    val queries = guardQueryRows(dotted.filter(queryPred),
        maxQueryRows, "Similarity.signLshTopK")
      .select(explode(probeBuckets(col("_dots"), planes, probes)).as("_bucket"),
        col(idCol).as("query_id"), scaled(col(vecCol)).as("_sq"))
      .withColumn("_nq", normScaled(col("_sq")))
    val sims = corpus.join(broadcast(queries), Seq("_bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", graft.functions.Exact.roundPortable(
        cosineFromNorms(col("_sq"), col("_sn"), col("_nq"), col("_nn")), 6))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    sims.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("sim"), col("rank"))
  }

  /** Embedding near-dup pairs within a blocking column (e.g. a cluster
    * label or LSH bucket): cosine ≥ threshold.
    *
    * `subBlocks` > 1 applies the replicated-triangular decomposition for
    * hot blocks (see [[graft.ops.Dedup.jaccardPairs]]): identical pairs,
    * s× replication, s²× reducers.
    */
  def cosinePairs(df: DataFrame, idCol: String, vecCol: String,
      blockKey: Column, threshold: Double, subBlocks: Int = 1): DataFrame = {
    require(subBlocks >= 1, s"subBlocks must be >= 1, got $subBlocks")
    val prepared = df.repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(blockKey.as("blk"), col(idCol).as("id"), scaled(col(vecCol)).as("_s"))
      .withColumn("_n", normScaled(col("_s")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val chunk = pmod(xxhash64(col("id")), lit(subBlocks)).cast("int")
    val replicas = explode(sequence(lit(0), lit(subBlocks - 1)))
    val (a, b) =
      if (subBlocks == 1) (
        prepared.select(col("blk"), col("id").as("id_a"), col("_s").as("_sa"),
          col("_n").as("_na")),
        prepared.select(col("blk"), col("id").as("id_b"), col("_s").as("_sb"),
          col("_n").as("_nb")))
      else (
        prepared.select(col("blk"), col("id").as("id_a"), col("_s").as("_sa"),
          col("_n").as("_na"), chunk.as("_ca"), replicas.as("_cb")),
        prepared.select(col("blk"), col("id").as("id_b"), col("_s").as("_sb"),
          col("_n").as("_nb"), replicas.as("_ca"), chunk.as("_cb")))
    val joinKeys = if (subBlocks == 1) Seq("blk") else Seq("blk", "_ca", "_cb")
    Pins.sealOutput(
      a.join(b, joinKeys)
        .filter(col("id_a") < col("id_b"))
        .withColumn("sim", graft.functions.Exact.roundPortable(
          cosineFromNorms(col("_sa"), col("_sb"), col("_na"), col("_nb")), 6))
        .filter(col("sim") >= threshold)
        .select(col("id_a"), col("id_b"), col("sim")),
      prepared)
  }
}
