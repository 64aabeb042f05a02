package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{Hashing, TextAnalysis}

/** Deduplication operators for training-data pipelines: exact, n-gram
  * Jaccard, MinHash+LSH, SimHash.
  *
  * Scale design:
  *  - exact dedup is one hash-groupBy (single shuffle on the fingerprint);
  *  - pairwise Jaccard is NEVER all-pairs: candidates come from a blocking
  *    key (caller-chosen) or from MinHash-LSH band buckets, so the join is
  *    an equi-join Catalyst can shuffle-hash — the O(n²) explosion is
  *    bounded per bucket;
  *  - signatures/bands are pure column expressions (no UDF, no shuffle).
  *
  * Two hash flavors: `portable = true` uses the md5-based 60-bit hash
  * (engine-portable, oracle-checkable); `false` uses xxhash64 (≈10× faster,
  * the 100 TB default).
  */
object Dedup {

  /** Auto sub-blocking (`subBlocks = 0`) splits a block once its
    * population would exceed this many rows per chunk pair. The budget is
    * PAIRS per reducer, not rows: a chunk pair of `t` rows a side carries
    * ~t² candidate pairs, so t = 512 caps a reducer at ~260k merge-scan
    * Jaccard evaluations (sub-second) — the round-6 target of 4096 rows
    * (~16M pairs, tens of seconds on one core) left mid-sized blocks
    * serialized on single reducers while the rest of the cluster idled.
    * Replication cost is s = ceil(maxBlock/512) copies of each row, paid
    * only on blocks that exceed the target.
    */
  val AutoSubBlockTarget: Long = 512L

  /** Cap on per-bucket sub-chunk count for the bucket-keyed joins
    * ([[minhashLshPairs]], [[crossMinhashLshPairs]],
    * [[simhashHammingPairs]]). Higher than [[jaccardPairs]]'s global cap
    * of 16 because the per-bucket scheme replicates ONLY hot-bucket rows:
    * a viral 70k-member bucket at s=64 costs 64× replication of those 70k
    * rows (4.5M rows — trivial) while spreading its ~2.4B candidate pairs
    * over 64² = 4096 reducers (~0.6M pairs each).
    */
  val MaxBucketSubChunks: Int = 64

  /** Per-bucket pairs-aware sub-chunking for a bucket-keyed SELF-join —
    * the hot-bucket guard for the LSH band joins. A band-bucket self-join
    * shuffles on the bucket key alone, so t near-identical documents in
    * one bucket put t²/2 candidate pairs through ONE reducer (viral
    * duplicates are exactly this shape: a 705-member cluster at sf0.1 ⇒
    * ~70k members at 100×, ~2.4B pairs on one core).
    *
    * Same replicated-triangular decomposition as [[jaccardPairs]] (side A
    * replicates under (bucket, c, 0..s-1), side B under (bucket, 0..s-1,
    * c); a pair with chunks (cx, cy) meets on EXACTLY (bucket, cx, cy) —
    * every pair once, no dedup pass), but the chunk count s is PER BUCKET:
    * s = ceil(population / [[AutoSubBlockTarget]]), capped at
    * [[MaxBucketSubChunks]]. Only over-budget buckets are listed in the
    * broadcast "hot plan" (≤ rows/512 entries by construction — a bucket
    * must exceed 512 rows to appear, so the plan is always a vanishing
    * fraction of the table); cold buckets join against nothing and keep
    * s=1. When NO bucket is over budget the fast path returns the inputs
    * untouched — the common case pays one map-side-combined count over the
    * already-persisted key table and nothing else, and the join plan is
    * identical to the unguarded one.
    *
    * Returns the two join sides plus the join key columns
    * (`bucketCols` or `bucketCols ++ (_ca, _cb)`).
    */
  private def chunkedSelfJoinSides(keys: DataFrame, bucketCols: Seq[String],
      idCol: String): (DataFrame, DataFrame, Seq[String]) = {
    val counts = keys.groupBy(bucketCols.map(col): _*).count()
    val maxRow = counts.agg(max("count")).head()
    val maxBucket = if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0)
    if (maxBucket <= AutoSubBlockTarget) (keys, keys, bucketCols)
    else {
      val hot = broadcast(counts.filter(col("count") > AutoSubBlockTarget)
        .withColumn("_graft_s", least(lit(MaxBucketSubChunks),
          ceil(col("count").cast("double") / AutoSubBlockTarget)).cast("int"))
        .drop("count"))
      val withS = keys.join(hot, bucketCols, "left")
        .withColumn("_graft_s", coalesce(col("_graft_s"), lit(1)))
      val chunk = pmod(xxhash64(col(idCol)), col("_graft_s")).cast("int")
      val reps = explode(sequence(lit(0), col("_graft_s") - 1))
      val a = withS.withColumn("_graft_ca", chunk).withColumn("_graft_cb", reps).drop("_graft_s")
      val b = withS.withColumn("_graft_ca", reps).withColumn("_graft_cb", chunk).drop("_graft_s")
      (a, b, bucketCols ++ Seq("_graft_ca", "_graft_cb"))
    }
  }

  /** Cross-join flavor of [[chunkedSelfJoinSides]]: left×right bucket join
    * with per-bucket 2-D chunking. For a bucket with L left rows and R
    * right rows, left chunks into s_l = ceil(L/target) and right into
    * s_r = ceil(R/target); each left row replicates across the right's
    * chunks and vice versa, so a (l, r) pair meets on exactly
    * (bucket, chunk_l, chunk_r) and per-reducer work is bounded by
    * ~target² pairs. The hot plan holds only buckets over budget on
    * EITHER side and is broadcast; the all-cold fast path returns the
    * inputs untouched. The plan join is inner on the counts pair, which
    * also prunes bucket rows with no counterpart on the other side —
    * those produce no pairs anyway.
    */
  private def chunkedCrossJoinSides(ls: DataFrame, rs: DataFrame,
      bucketCols: Seq[String], leftId: String, rightId: String)
      : (DataFrame, DataFrame, Seq[String]) = {
    val lc = ls.groupBy(bucketCols.map(col): _*).agg(count(lit(1)).as("_graft_lc"))
    val rc = rs.groupBy(bucketCols.map(col): _*).agg(count(lit(1)).as("_graft_rc"))
    val both = lc.join(rc, bucketCols)
    val maxRow = both.agg(max("_graft_lc"), max("_graft_rc")).head()
    val maxL = if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0)
    val maxR = if (maxRow.isNullAt(1)) 0L else maxRow.getLong(1)
    if (maxL <= AutoSubBlockTarget && maxR <= AutoSubBlockTarget) (ls, rs, bucketCols)
    else {
      def sOf(c: Column): Column = least(lit(MaxBucketSubChunks),
        ceil(c.cast("double") / AutoSubBlockTarget)).cast("int")
      val hot = broadcast(both
        .filter(col("_graft_lc") > AutoSubBlockTarget || col("_graft_rc") > AutoSubBlockTarget)
        .select(bucketCols.map(col) ++
          Seq(sOf(col("_graft_lc")).as("_graft_sl"), sOf(col("_graft_rc")).as("_graft_sr")): _*))
      val l2 = ls.join(hot, bucketCols, "left")
        .withColumn("_graft_sl", coalesce(col("_graft_sl"), lit(1)))
        .withColumn("_graft_sr", coalesce(col("_graft_sr"), lit(1)))
        .withColumn("_graft_cl", pmod(xxhash64(col(leftId)), col("_graft_sl")).cast("int"))
        .withColumn("_graft_cr", explode(sequence(lit(0), col("_graft_sr") - 1)))
        .drop("_graft_sl", "_graft_sr")
      val r2 = rs.join(hot, bucketCols, "left")
        .withColumn("_graft_sl", coalesce(col("_graft_sl"), lit(1)))
        .withColumn("_graft_sr", coalesce(col("_graft_sr"), lit(1)))
        .withColumn("_graft_cl", explode(sequence(lit(0), col("_graft_sl") - 1)))
        .withColumn("_graft_cr", pmod(xxhash64(col(rightId)), col("_graft_sr")).cast("int"))
        .drop("_graft_sl", "_graft_sr")
      (l2, r2, bucketCols ++ Seq("_graft_cl", "_graft_cr"))
    }
  }

  def hash60(c: Column, seed: String, portable: Boolean): Column =
    if (portable) Hashing.hash60(c, seed)
    else abs(xxhash64(lit(seed), c))

  /** Exact dedup: content fingerprint + keep-min-id flag. One shuffle. */
  def exactDedup(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
    df.withColumn("fp", md5(col(textCol)))
      .withColumn("keeper_id", min(col(idCol)).over(w))
      .withColumn("is_keeper", col(idCol) === col("keeper_id"))
      .withColumn("group_size", count(lit(1)).over(w))
  }

  /** Exact word-set Jaccard similarity between two token-set columns. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = size(array_union(a, b)).cast("double")
    when(union > 0, inter / union).otherwise(lit(0.0))
  }

  /** Blocked pairwise near-dup: pairs within the same `blockKey` whose
    * token-set Jaccard ≥ threshold. Block sizes bound the quadratic term;
    * the join itself is a plain equi-join on the block key.
    *
    * Per-pair cost is kept minimal (the candidate count is quadratic in
    * the block size, so every per-pair op is multiplied by it):
    *  - token arrays are deduplicated ONCE per row, so
    *    `|A∪B| = |A|+|B|-|A∩B|` replaces the second per-pair set op;
    *  - a size-ratio prefilter drops pairs before the intersect:
    *    `jac ≤ min(|A|,|B|) / max(|A|,|B|)` (intersect ≤ min, union ≥
    *    max), so `min < t·max` cannot reach the threshold. Same result
    *    set, but the surviving pairs — the only ones paying the
    *    intersect — are typically a small fraction.
    *
    * `subBlocks` > 1 enables the replicated-triangular decomposition
    * (comment at the join below): identical result set, s× replication,
    * s²× parallelism per block — for hot blocks / few distinct keys.
    * `subBlocks = 0` picks it automatically from the observed maximum
    * block population (one tiny aggregation over the already-persisted
    * prep): s = ceil(maxBlock / 4096) capped at 16, so small corpora pay
    * nothing and hot blocks split themselves — the result set is
    * s-invariant, so auto-tuning cannot change answers.
    */
  def jaccardPairs(df: DataFrame, idCol: String, tokensCol: String,
      blockKey: Column, threshold: Double, subBlocks: Int = 1): DataFrame = {
    require(subBlocks >= 0, s"subBlocks must be >= 0 (0 = auto), got $subBlocks")
    // Single-file sources arrive as ONE partition: spread rows BEFORE the
    // token/shingle expressions run, and cache so the two self-join
    // branches do not each re-derive them (higher-order exprs are
    // interpreted, not codegen'd — recomputing per pair row is fatal).
    val prepared = df
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol),
        sort_array(array_distinct(col(tokensCol))).as(tokensCol), blockKey.as("blk"))
      .withColumn("_nt", size(col(tokensCol)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Replicated-triangular sub-blocking: a blocked SELF-join shuffles on
    // the block key alone, so one block = one reducer — at 100 TB a hot
    // block (or merely few distinct blocks) serializes the quadratic
    // verify work. With `subBlocks` = s, each row gets a deterministic
    // chunk c = hash(id) mod s; side A replicates each row s times under
    // keys (blk, c, 0..s-1), side B under (blk, 0..s-1, c). A pair with
    // chunks (cx, cy) then meets on EXACTLY the key (blk, cx, cy) — every
    // pair produced once, no dedup pass — while the block's work spreads
    // over s² reducers for s× data replication.
    val s =
      if (subBlocks > 0) subBlocks
      else {
        val maxRow = prepared.groupBy("blk").count().agg(max("count")).head()
        val maxBlock = if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0)
        math.min(16L, (maxBlock + AutoSubBlockTarget - 1) / AutoSubBlockTarget).toInt
          .max(1)
      }
    val chunk = pmod(xxhash64(col(idCol)), lit(s)).cast("int")
    val replicas = explode(sequence(lit(0), lit(s - 1)))
    val (a, b) =
      if (s == 1) (
        prepared.select(col(idCol).as("id_a"), col(tokensCol).as("toks_a"),
          col("_nt").as("_na"), col("blk")),
        prepared.select(col(idCol).as("id_b"), col(tokensCol).as("toks_b"),
          col("_nt").as("_nb"), col("blk")))
      else (
        prepared.select(col(idCol).as("id_a"), col(tokensCol).as("toks_a"),
          col("_nt").as("_na"), col("blk"), chunk.as("_ca"), replicas.as("_cb")),
        prepared.select(col(idCol).as("id_b"), col(tokensCol).as("toks_b"),
          col("_nt").as("_nb"), col("blk"), replicas.as("_ca"), chunk.as("_cb")))
    // sorted-distinct per row once → per-pair merge scan, no per-pair sets
    val inter = graft.functions.SortedIntersectSize(col("toks_a"), col("toks_b"))
      .cast("double")
    val union = (col("_na") + col("_nb")).cast("double") - inter
    // 1e-9 slack >> any double-rounding gap, so the prefilter can only keep
    // extra pairs (which the exact jac filter then drops), never lose one
    val sizeRatioOk = greatest(col("_na"), col("_nb")) === 0 ||
      least(col("_na"), col("_nb")).cast("double") /
        greatest(col("_na"), col("_nb")).cast("double") >= lit(threshold - 1e-9)
    val joinKeys = if (s == 1) Seq("blk") else Seq("blk", "_ca", "_cb")
    Pins.sealOutput(
      a.join(b, joinKeys)
        .filter(col("id_a") < col("id_b") && sizeRatioOk)
        .withColumn("jac", when(union > 0, inter / union).otherwise(lit(0.0)))
        .filter(col("jac") >= threshold)
        .select(col("id_a"), col("id_b"), col("jac")),
      prepared)
  }

  /** Blocked containment near-dup: pairs where the SMALLER token set is
    * mostly inside the larger — `|A∩B| / min(|A|,|B|) ≥ threshold`. Catches
    * quote/excerpt/superset relationships that symmetric Jaccard misses
    * (a 50-token quote inside a 500-token doc has jac ≤ 0.1 but
    * containment 1.0). Same blocked equi-join + per-row sorted-distinct +
    * per-pair merge-scan shape as [[jaccardPairs]]; no size-ratio
    * prefilter (size MISMATCH is the signal here).
    */
  def containmentPairs(df: DataFrame, idCol: String, tokensCol: String,
      blockKey: Column, threshold: Double): DataFrame = {
    val prepared = df
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol),
        sort_array(array_distinct(col(tokensCol))).as(tokensCol), blockKey.as("blk"))
      .withColumn("_nt", size(col(tokensCol)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = prepared.select(col(idCol).as("id_a"), col(tokensCol).as("toks_a"),
      col("_nt").as("_na"), col("blk"))
    val b = prepared.select(col(idCol).as("id_b"), col(tokensCol).as("toks_b"),
      col("_nt").as("_nb"), col("blk"))
    val inter = graft.functions.SortedIntersectSize(col("toks_a"), col("toks_b"))
      .cast("double")
    val denom = least(col("_na"), col("_nb")).cast("double")
    Pins.sealOutput(
      a.join(b, Seq("blk"))
        .filter(col("id_a") < col("id_b") && least(col("_na"), col("_nb")) > 0)
        // when() rather than relying on the filter below the projection:
        // Catalyst pushes the containment>=threshold predicate through the
        // Project (alias-substituted) and combines filters, which keeps
        // the guard only via And's left-to-right short-circuit — the
        // when() makes the zero-denominator row impossible by construction
        // instead of by conjunct order (round-13 division audit; same
        // discipline as jaccardPairs)
        .withColumn("containment", when(denom > 0, inter / denom).otherwise(lit(0.0)))
        .filter(col("containment") >= threshold)
        .select(col("id_a"), col("id_b"), col("containment")),
      prepared)
  }

  /** Blocked edit-distance near-dup: pairs within the same `blockKey` whose
    * Levenshtein distance ≤ `maxDist`. The same equi-join blocking shape as
    * [[jaccardPairs]] (never all-pairs), with three per-pair cost bounds:
    *  - a length prefilter — `|len(a) − len(b)| ≤ maxDist` is a lower bound
    *    on edit distance, and lengths are computed once per ROW;
    *  - an EQUALITY fast path: identical texts (the most common near-dup
    *    at corpus scale) resolve to dist 0 with one O(len) compare —
    *    measured 22 s/pair WITHOUT it on equal 100k-char strings
    *    (round-12 hostile-text sweep), because…
    *  - …Spark's thresholded `levenshtein(a, b, k)` bails at k+1 but its
    *    work is NOT the banded O(len·k) (measured ~O(len²): 22–61 s on
    *    100k-char pairs, equal or not). The threshold keeps small-field
    *    dedup (titles, names, short paragraphs — this operator's domain)
    *    cheap; LONG-document near-dup belongs to the jaccard/minhash
    *    family, never per-pair edit distance.
    *
    * The domain is SELF-ENFORCING (round-12 verdict: guidance became a
    * guard): any non-null text longer than `maxTextLen` (default 4096
    * chars) refuses loudly — during the one distributed pass that already
    * computes per-row lengths, no extra action — with the jaccard/minhash
    * routing in the message. Callers who have measured their corpus can
    * raise the limit explicitly; they cannot eat the 61 s/pair tail by
    * accident.
    */
  def editDistancePairs(df: DataFrame, idCol: String, textCol: String,
      blockKey: Column, maxDist: Int, maxTextLen: Int = 4096): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    require(maxTextLen > 0, s"maxTextLen must be > 0, got $maxTextLen")
    val prepared = df
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol), col(textCol), blockKey.as("blk"))
      .withColumn("_len", length(col(textCol)))
      // length guard rides the existing per-row pass: assert_true returns
      // NULL when the predicate holds (null texts pass — the join's length
      // prefilter drops them as before) and raises the routing message
      // otherwise. An unused projected column would be pruned; a filter
      // predicate is not.
      .filter(assert_true(col("_len").isNull || col("_len") <= maxTextLen,
        format_string(
          "editDistancePairs: text of length %d exceeds maxTextLen=%d — " +
            "per-pair edit distance is for short fields (Spark's " +
            "thresholded levenshtein measures ~O(len^2): 22-61 s/pair at " +
            "100k chars); route long-document near-dup to jaccardPairs/" +
            "minhashLshPairs, or pass maxTextLen explicitly",
          col("_len"), lit(maxTextLen))).isNull)
    val a = prepared.select(col(idCol).as("id_a"), col(textCol).as("text_a"),
      col("_len").as("_la"), col("blk"))
    val b = prepared.select(col(idCol).as("id_b"), col(textCol).as("text_b"),
      col("_len").as("_lb"), col("blk"))
    a.join(b, "blk")
      .filter(col("id_a") < col("id_b") &&
        abs(col("_la") - col("_lb")) <= maxDist)
      .withColumn("dist",
        when(col("text_a") === col("text_b"), lit(0))
          .otherwise(levenshtein(col("text_a"), col("text_b"), maxDist)))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  /** MinHash signature: `numHashes` seeded min-hashes over the shingle set,
    * as one array column. O(#shingles × numHashes) codegen'd work per row.
    */
  def minhashSignature(shingles: Column, numHashes: Int, seed: String,
      portable: Boolean = true): Column =
    array((0 until numHashes).map(h =>
      array_min(transform(shingles, s => hash60(s, s"$seed:$h", portable)))): _*)

  /** LSH band keys: signature sliced into `bands` bands of `rowsPerBand`,
    * each band hashed to one bucket id.
    */
  def lshBandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map(b =>
      md5(concat_ws(",", transform(slice(sig, b * rowsPerBand + 1, rowsPerBand),
        x => x.cast("string"))))): _*)

  /** Full MinHash+LSH near-dup pipeline: shingle → signature → bands →
    * explode → bucket self-join → distinct candidate pairs → exact Jaccard
    * verification ≥ threshold.
    *
    * Scale: the only shuffles are the band-bucket join (keys are uniform
    * hashes → no skew) and the final distinct. Candidate count ≈
    * Σ bucket² — tuned by (bands × rowsPerBand) against the target
    * similarity threshold.
    */
  /** Shared prep for the LSH joins: the shingle-sorted base plus the
    * exploded (id, band, bucket) key table, both persisted (see the
    * barrier notes in [[minhashLshPairs]]). The key table deliberately
    * does NOT carry the shingle arrays: the candidate join + distinct
    * shuffles up to bands × Σ bucket² rows, and moving the token payload
    * through that shuffle is the dominant byte cost at corpus scale — the
    * payload re-joins AFTER the distinct, when only |unique pairs| rows
    * remain (PLANS.md, Round-8, "Candidate distinct narrowed").
    */
  private def bandedShingles(df: DataFrame, idCol: String, shinglesCol: String,
      bands: Int, rowsPerBand: Int, seed: String,
      portable: Boolean): (DataFrame, DataFrame) = {
    val base = df
      .filter(size(col(shinglesCol)) > 0)
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol), sort_array(array_distinct(col(shinglesCol))).as(shinglesCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bandKeysCol =
      if (portable) graft.functions.MinHashBandKeys(col(shinglesCol), bands, rowsPerBand, seed)
      else lshBandKeys(minhashSignature(col(shinglesCol), bands * rowsPerBand, seed, portable),
        bands, rowsPerBand)
    val keys = base
      .select(col(idCol), posexplode(bandKeysCol).as(Seq("band", "bucket")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (base, keys)
  }

  /** Cross-corpus MinHash+LSH near-dup: (left_id, right_id, jac) pairs
    * BETWEEN two document sets — the incremental-dedup primitive (screen a
    * new batch against the existing corpus without re-pairing the corpus
    * with itself).
    *
    * Scale shape: identical to [[minhashLshPairs]] except the bucket join
    * is left×right instead of a self-join — with a small new batch the
    * right side's band table broadcasts and the corpus is one scan; the
    * candidate term is Σ |bucket_L|·|bucket_R|, which an incremental batch
    * keeps tiny. Both sides use the SAME seed so signatures are
    * join-compatible across runs.
    */
  def crossMinhashLshPairs(left: DataFrame, right: DataFrame, idCol: String,
      shinglesCol: String, bands: Int, rowsPerBand: Int, seed: String,
      threshold: Double, portable: Boolean = true): DataFrame = {
    val (lBase, lKeys) = bandedShingles(left, idCol, shinglesCol, bands, rowsPerBand, seed, portable)
    val (rBase, rKeys) = bandedShingles(right, idCol, shinglesCol, bands, rowsPerBand, seed, portable)
    val ls0 = lKeys.select(col("band"), col("bucket"), col(idCol).as("id_left"))
    val rs0 = rKeys.select(col("band"), col("bucket"), col(idCol).as("id_right"))
    // hot-bucket guard: per-bucket 2-D chunking bounds any reducer at
    // ~target² candidate pairs even when one bucket goes viral
    val (ls, rs, joinKeys) = chunkedCrossJoinSides(ls0, rs0,
      Seq("band", "bucket"), "id_left", "id_right")
    // narrow candidate pairs first; token payloads re-join after the distinct
    val candidates = ls.join(rs, joinKeys)
      .select("id_left", "id_right")
      .dropDuplicates("id_left", "id_right")
      // spread before the payload attach — see the self-join note below:
      // byte-based AQE coalescing would serialize the per-pair verify
      .repartition(left.sparkSession.sparkContext.defaultParallelism)
    val inter = graft.functions.SortedIntersectSize(col("toks_a"), col("toks_b"))
      .cast("double")
    val union = (size(col("toks_a")) + size(col("toks_b"))).cast("double") - inter
    Pins.sealOutput(
      candidates
        .join(lBase.select(col(idCol).as("id_left"), col(shinglesCol).as("toks_a")), "id_left")
        .join(rBase.select(col(idCol).as("id_right"), col(shinglesCol).as("toks_b")), "id_right")
        .withColumn("jac", when(union > 0, inter / union).otherwise(lit(0.0)))
        .filter(col("jac") >= threshold)
        .select(col("id_left"), col("id_right"), col("jac")),
      lBase, lKeys, rBase, rKeys)
  }

  def minhashLshPairs(df: DataFrame, idCol: String, shinglesCol: String,
      bands: Int, rowsPerBand: Int, seed: String, threshold: Double,
      portable: Boolean = true): DataFrame = {
    // bandedShingles carries TWO materialization barriers, both
    // load-bearing (explicit MEMORY_AND_DISK — the Dataset default,
    // spelled out because the barrier surviving memory pressure is what
    // the correctness of the cost model here relies on):
    // 1. `base` caches the shingle arrays. Without it, CollapseProject
    //    re-inlines the shingle expression into EVERY one of the
    //    bands x rows min-hash transforms (there is no common-subexpression
    //    elimination in interpreted eval) -- tokenization would run 12x
    //    per row, and the collapsed projection slides below the
    //    repartition into the single-split scan stage.
    // 2. `sigs` caches the band buckets so the two self-join branches
    //    reuse one materialization.
    // sorted-distinct shingles: min-hashing is order- and dup-independent,
    // and the sorted form lets the final verify run the merge-scan
    // intersect instead of per-candidate hash sets (identical Jaccard).
    // The portable flavor inside is the fused one-pass MinHashBandKeys
    // kernel (bit-identical to the composed signature → band-keys
    // pipeline — see its scaladoc for why the composed form is
    // pathological).
    val (base, keys) = bandedShingles(df, idCol, shinglesCol, bands, rowsPerBand, seed, portable)
    // hot-bucket guard: per-bucket replicated-triangular sub-chunking —
    // a viral bucket's t²/2 pairs spread over s² reducers instead of one
    val (ka, kb, joinKeys) = chunkedSelfJoinSides(keys, Seq("band", "bucket"), idCol)
    val a = ka.select(joinKeys.map(col) :+ col(idCol).as("id_a"): _*)
    val b = kb.select(joinKeys.map(col) :+ col(idCol).as("id_b"): _*)
    // narrow candidate pairs first; token payloads re-join after the distinct
    val candidates = a.join(b, joinKeys)
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
      // AQE coalesces the post-distinct exchange by BYTES, but a candidate
      // row is 16 bytes of ids whose downstream cost is a per-pair
      // merge-scan verify over the attached shingle arrays — byte-based
      // coalescing funnels the entire verify (and the sealing store) onto
      // ONE task while the rest of the cluster idles (thread-dumped on the
      // q141 spam shape: a single `SortedIntersectImpl.count` task under
      // `MemoryStore.putIterator`, 31 cores parked). Spread the pairs
      // round-robin to cluster parallelism before the payload attach: the
      // exchange moves only the narrow id pairs (output-sized), the
      // explicit count is one AQE never coalesces, and the verify runs
      // wide at every scale.
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
    val inter = graft.functions.SortedIntersectSize(col("toks_a"), col("toks_b"))
      .cast("double")
    val union = (size(col("toks_a")) + size(col("toks_b"))).cast("double") - inter
    Pins.sealOutput(
      candidates
        .join(base.select(col(idCol).as("id_a"), col(shinglesCol).as("toks_a")), "id_a")
        .join(base.select(col(idCol).as("id_b"), col(shinglesCol).as("toks_b")), "id_b")
        .withColumn("jac", when(union > 0, inter / union).otherwise(lit(0.0)))
        .filter(col("jac") >= threshold)
        .select(col("id_a"), col("id_b"), col("jac")),
      base, keys)
  }

  /** SimHash over a token array: per-token seeded hash, bit-majority vote
    * over `bits` positions → integer signature. Near-dups have small
    * Hamming distance.
    */
  def simhash(toks: Column, bits: Int, seed: String, portable: Boolean = true): Column =
    simhashFromHashes(transform(toks, t => hash60(t, seed, portable)), bits)

  /** SimHash from a hash array: native one-pass bit-majority kernel
    * ([[graft.functions.SimHashBits]] — bit-compat with the composed
    * per-bit aggregate form it replaced, including null semantics).
    */
  def simhashFromHashes(hashes: Column, bits: Int): Column =
    graft.functions.SimHashBits(hashes, bits)

  /** Hamming distance between two simhash signatures. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** All id pairs whose `bits`-bit SimHash signatures are within Hamming
    * distance `maxHamming`, found by pigeonhole banding (the web-scale
    * SimHash dedup join of Manku/Jain/Sarma, WWW'07 "Detecting
    * Near-Duplicates for Web Crawling"): split the signature into
    * `maxHamming + 1` contiguous bit bands — two signatures within the
    * budget must agree EXACTLY on at least one band, so candidate
    * generation is an equi-join on (band index, band value). Unlike the
    * length-blocked q28 shape, this makes no assumption about the
    * documents themselves: recall is 100% BY CONSTRUCTION over the
    * signature space, and the join never goes all-pairs. Candidates that
    * match in several bands are deduplicated before the exact
    * Hamming-verify filter.
    *
    * Scale shape: band buckets are uniform hash values, so the self-join
    * is a skew-free equi-join; per-bucket population at B-bit bands is
    * n / 2^B in expectation — at 100 TB run 64-bit signatures with
    * 16-bit bands (4-band/Hamming≤3), which bounds any bucket to a
    * vanishing corpus fraction. 16-bit signatures here keep the gate
    * oracle-mirrorable against q28's established signature SQL.
    *
    * `bits` must be divisible by `maxHamming + 1`; `df` carries one row
    * per id with a precomputed signature (see [[simhash]]).
    */
  def simhashHammingPairs(df: DataFrame, idCol: String, simhashCol: String,
      bits: Int, maxHamming: Int): DataFrame = {
    val bands = maxHamming + 1
    require(bits % bands == 0,
      s"bits=$bits must be divisible by maxHamming+1=$bands")
    val bandBits = bits / bands
    val mask = (1L << bandBits) - 1
    val keys = df.select(col(idCol), col(simhashCol),
        posexplode(array((0 until bands).map(i =>
          shiftright(col(simhashCol), i * bandBits).bitwiseAND(lit(mask))): _*))
          .as(Seq("band", "bval")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // hot-bucket guard: identical signatures all land in the SAME band
    // buckets, so duplicate spam concentrates here too
    val (ka, kb, joinKeys) = chunkedSelfJoinSides(keys, Seq("band", "bval"), idCol)
    val a = ka.select((joinKeys.map(col) :+ col(idCol).as("id_a")) :+
      col(simhashCol).as("sh_a"): _*)
    val b = kb.select((joinKeys.map(col) :+ col(idCol).as("id_b")) :+
      col(simhashCol).as("sh_b"): _*)
    Pins.sealOutput(
      a.join(b, joinKeys)
        .filter(col("id_a") < col("id_b"))
        .dropDuplicates("id_a", "id_b")
        .withColumn("hamming", hamming(col("sh_a"), col("sh_b")))
        .filter(col("hamming") <= maxHamming)
        .select(col("id_a"), col("id_b"), col("hamming")),
      keys)
  }

  /** SemDeDup-style semantic deduplication over an embedding column:
    * within each blocking cell (cluster label, IVF cell, LSH bucket),
    * vectors with cosine ≥ `threshold` form near-dup pairs; pairs close
    * into clusters ([[Cluster.clusters]] alternating-star — iterations on
    * the PAIR set, not the corpus); one survivor per cluster is kept by
    * descending `score` (ties → min id). Returns the full corpus labeled
    * with `cluster_id`, `cluster_size`, and the survivor flag `kept` —
    * filter on `kept` for the deduplicated corpus, or keep all rows for
    * audit.
    *
    * Scale shape: pairwise work is bounded per blocking cell (the caller
    * picks the cell — semantic label here, [[Similarity.signLshTopK]]
    * buckets or an IVF assignment at corpus scale); the corpus itself
    * pays one join + two windows.
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
      blockKey: Column, threshold: Double, score: Column): DataFrame = {
    val pairs = Similarity.cosinePairs(df, idCol, vecCol, blockKey, threshold)
    val labeled = Cluster.clusters(df.select(col(idCol)), idCol,
      pairs, "id_a", "id_b")
    val scores = df.select(col(idCol), score.as("_score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_id")
      .orderBy(col("_score").desc, col(idCol))
    labeled.join(scores, Seq(idCol))
      .withColumn("kept", row_number().over(w) === 1)
      .drop("is_canonical", "_score")
  }
}
