package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.Similarity

/** Similarity search over the `embeddings` table. The cosine is computed on
  * 1e6-scaled integer vectors (exact, engine-portable — see Similarity
  * scaladoc); ranking keys are (rounded sim, id) so ordering is total.
  */
object SimilarityQueries {

  /** DuckDB scaled-int vector + dot helpers. */
  private val DuckScaled =
    "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"
  private def duckDot(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), p -> p[1] * p[2]))"

  /** Brute-force exact cosine top-5 for every 25th vector as query. */
  val q29CosineTopK: Q = Q(
    "q29_cosine_topk",
    s"""WITH sv AS (
       |  SELECT vec_id, $DuckScaled AS s FROM embeddings
       |), sims AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    CAST(floor((CAST(${duckDot("q.s", "c.s")} AS DOUBLE)
       |      / (sqrt(CAST(${duckDot("q.s", "q.s")} AS DOUBLE))
       |         * sqrt(CAST(${duckDot("c.s", "c.s")} AS DOUBLE)))) * 1000000 + 0.5) AS BIGINT) / CAST(1000000 AS DOUBLE) AS sim
       |  FROM sv q JOIN sv c ON q.vec_id % 25 = 0 AND q.vec_id <> c.vec_id
       |), ranked AS (
       |  SELECT query_id, neighbor_id, sim,
       |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM sims
       |)
       |SELECT query_id, neighbor_id, sim, rank FROM ranked WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin) { (s, dir) =>
    Similarity.bruteForceTopK(Tables.embeddings(s, dir), "vec_id", "embedding",
      col("vec_id") % 25 === 0, 5)
      .orderBy("query_id", "rank")
  }

  /** Embedding near-dup pairs: cosine ≥ 0.35 within the same cluster label (the synthetic corpus has no pairs above ~0.48, so 0.35 exercises the operator with a non-empty result)
    * (semantic blocking keeps the pairwise term bounded).
    */
  val q30EmbedNearDup: Q = Q(
    "q30_embed_neardup",
    s"""WITH sv AS (
       |  SELECT vec_id, label, $DuckScaled AS s FROM embeddings
       |)
       |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |  CAST(floor((CAST(${duckDot("a.s", "b.s")} AS DOUBLE)
       |    / (sqrt(CAST(${duckDot("a.s", "a.s")} AS DOUBLE))
       |       * sqrt(CAST(${duckDot("b.s", "b.s")} AS DOUBLE)))) * 1000000 + 0.5) AS BIGINT) / CAST(1000000 AS DOUBLE) AS sim
       |FROM sv a JOIN sv b ON a.label = b.label AND a.vec_id < b.vec_id
       |WHERE CAST(${duckDot("a.s", "b.s")} AS DOUBLE)
       |    / (sqrt(CAST(${duckDot("a.s", "a.s")} AS DOUBLE))
       |       * sqrt(CAST(${duckDot("b.s", "b.s")} AS DOUBLE))) >= 0.35
       |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
    Similarity.cosinePairs(Tables.embeddings(s, dir), "vec_id", "embedding",
      col("label"), 0.35)
      .orderBy("id_a", "id_b")
  }

  /** Per-dimension global stats of the embedding corpus (posexplode →
    * groupBy(dim)) — the A6 pooled-stats operator on the star schema, with
    * exact scaled-integer mean/std.
    */
  val q31EmbedDimStats: Q = Q(
    "q31_embed_dim_stats",
    s"""SELECT dim, count(*) AS n,
       |  CAST(floor((CAST(sum(sv) AS DOUBLE) / count(*) / CAST(1000000.0 AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) / CAST(1000000 AS DOUBLE) AS mean,
       |  CAST(floor((sqrt(greatest(0.0, (CAST(sum(sv * sv) AS DOUBLE)
       |      - CAST(sum(sv) AS DOUBLE) * CAST(sum(sv) AS DOUBLE) / count(*)) / count(*)))
       |    / CAST(1000000.0 AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) / CAST(1000000 AS DOUBLE) AS std,
       |  CAST(min(v) AS DOUBLE) AS min_v, CAST(max(v) AS DOUBLE) AS max_v
       |FROM (
       |  SELECT unnest(generate_series(0, len(embedding) - 1)) AS dim,
       |    unnest(embedding) AS v,
       |    unnest($DuckScaled) AS sv
       |  FROM embeddings
       |)
       |GROUP BY dim
       |ORDER BY dim""".stripMargin) { (s, dir) =>
    Tables.embeddings(s, dir)
      .select(posexplode(Similarity.scaled(col("embedding"))).as(Seq("dim", "sv")),
        col("embedding"))
      .withColumn("v", element_at(col("embedding"), col("dim") + 1))
      .groupBy("dim")
      .agg(
        count(lit(1)).as("n"),
        graft.functions.Exact.roundPortable(
          sum("sv").cast("double") / count(lit(1)) / 1000000.0, 6).as("mean"),
        // greatest(0, ·) on BOTH engines: on a constant dimension sum²
        // rounds once it passes 2⁵³ and the radicand can land a hair below
        // zero — sqrt would return NaN and the exact cast would raise on a
        // legitimate input (round-13 division/sqrt audit).
        // Per-row sv² ≤ 1e12 fits a Long, but the per-dim SUM overflows
        // 2⁶³ at ~9.2e6 rows/dim for |x|≈1 embeddings — trivially reached
        // at corpus scale — so promote per row, the q218/groupedOls
        // discipline (round-14 micros-headroom audit). DuckDB's SUM
        // already promotes BIGINT→HUGEINT; both sides cast the exact sum
        // to DOUBLE, so the gate hash is unchanged.
        graft.functions.Exact.roundPortable(sqrt(greatest(lit(0.0),
          (sum((col("sv") * col("sv")).cast("decimal(38,0)")).cast("double") -
            sum("sv").cast("double") * sum("sv").cast("double") / count(lit(1)))
            / count(lit(1)))) / 1000000.0, 6).as("std"),
        min("v").cast("double").as("min_v"),
        max("v").cast("double").as("max_v"))
      .orderBy("dim")
  }

  /** Sessionization of the events stream (batch form): sessions split at
    * >30 min gaps per user — the gaps-and-islands pattern both engines
    * express with lag + running sum.
    */
  val q32Sessionize: Q = Q(
    "q32_sessionize",
    """SELECT user_id, session_id, count(*) AS n_events,
      |  min(ts_us) AS session_start_us, max(ts_us) AS session_end_us,
      |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_value
      |FROM (
      |  SELECT user_id, ts_us, value,
      |    CAST(sum(CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS BIGINT) AS session_id
      |  FROM (
      |    SELECT user_id, event_id, value,
      |      epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
      |      lag(epoch_us(CAST(ts AS TIMESTAMP)))
      |        OVER (PARTITION BY user_id ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS prev_us
      |    FROM events
      |  )
      |)
      |GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin) { (s, dir) =>
    graft.ops.Sessionize.sessions(
      Tables.events(s, dir), col("user_id"), col("ts"), col("event_id"),
      gapMicros = 1800000000L)
      .groupBy("user_id", "session_id")
      .agg(
        count(lit(1)).as("n_events"),
        min("ts_us").as("session_start_us"),
        max("ts_us").as("session_end_us"),
        (sum(graft.functions.Exact.cents(col("value"))).cast("double") / 100.0).as("sum_value"))
      .orderBy("user_id", "session_id")
  }

  /** Sign-LSH approximate top-k (the 100 TB similarity path): candidates
    * share a 4-plane random-hyperplane sign bucket; exact scaled-integer
    * cosine re-rank within the bucket. The oracle mirrors the full
    * pipeline — md5-derived plane components, left-fold double dot for the
    * sign (list_reduce = Spark aggregate's fold order), bucket equi-join,
    * identical re-rank.
    */
  val q36SignLshTopK: Q = {
    val span = "CAST(1152921504606846976 AS DOUBLE)" // 2^60
    val plane = s"(CAST(('0x' || substring(md5('lsh1:' || CAST(p AS VARCHAR) || ':' || CAST(i - 1 AS VARCHAR)), 1, 15)) AS BIGINT) / $span - CAST(0.5 AS DOUBLE))"
    val bucket =
      s"""list_sum(list_transform(generate_series(0, 3), p ->
         |    CASE WHEN list_reduce(
         |        list_transform(generate_series(1, len(embedding)), i ->
         |          CAST(embedding[i] AS DOUBLE) * $plane),
         |        (acc, x) -> acc + x) >= CAST(0 AS DOUBLE)
         |      THEN CAST(1 AS BIGINT) << p ELSE CAST(0 AS BIGINT) END))""".stripMargin
    Q(
      "q36_signlsh_topk",
      s"""WITH b AS (
         |  SELECT vec_id, $DuckScaled AS s, $bucket AS bkt FROM embeddings
         |), sims AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    CAST(floor((CAST(${duckDot("q.s", "c.s")} AS DOUBLE)
         |      / (sqrt(CAST(${duckDot("q.s", "q.s")} AS DOUBLE))
         |         * sqrt(CAST(${duckDot("c.s", "c.s")} AS DOUBLE)))) * 1000000 + 0.5) AS BIGINT) / CAST(1000000 AS DOUBLE) AS sim
         |  FROM b q JOIN b c ON q.bkt = c.bkt AND q.vec_id % 25 = 0 AND q.vec_id <> c.vec_id
         |), ranked AS (
         |  SELECT query_id, neighbor_id, sim,
         |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
         |  FROM sims
         |)
         |SELECT query_id, neighbor_id, sim, rank FROM ranked WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin) { (s, dir) =>
      Similarity.signLshTopK(Tables.embeddings(s, dir), "vec_id", "embedding",
        col("vec_id") % 25 === 0, k = 5, planes = 4, seed = "lsh1")
        .orderBy("query_id", "rank")
    }
  }

  /** IVF approximate top-k: deterministic hash-sampled centroids, nearest-
    * centroid inverted lists, nProbe=2 probing, exact re-rank. The oracle
    * replays each stage: hash-ordered centroid pick, double-arithmetic
    * centroid cosine (same fold order as Spark's aggregate), argmax with
    * earliest-centroid tiebreak (row_number over sim DESC, ord), probe-list
    * equi-join, scaled-integer re-rank.
    */
  val q37IvfTopK: Q = Q(
    "q37_ivf_topk",
    s"""WITH hashed AS (
       |  SELECT vec_id, embedding,
       |    CAST(('0x' || substring(md5('ivf1:' || CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
       |  FROM embeddings
       |), cents AS (
       |  SELECT vec_id AS cid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv,
       |    row_number() OVER (ORDER BY h) AS ord
       |  FROM hashed ORDER BY h LIMIT 8
       |), vc AS (
       |  SELECT vec_id, cid, ord,
       |    CASE WHEN nv > CAST(0 AS DOUBLE) THEN dot / (nv * nc) ELSE CAST(0 AS DOUBLE) END AS sim
       |  FROM (
       |    SELECT e.vec_id, c.cid, c.ord,
       |      list_reduce(list_transform(generate_series(1, len(e.embedding)), i ->
       |        CAST(e.embedding[i] AS DOUBLE) * c.cv[i]), (acc, x) -> acc + x) AS dot,
       |      sqrt(list_reduce(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (acc, x) -> acc + x)) AS nv,
       |      sqrt(list_reduce(list_transform(c.cv, x -> x * x), (acc, x) -> acc + x)) AS nc
       |    FROM embeddings e CROSS JOIN cents c
       |  )
       |), assigned AS (
       |  SELECT vec_id, cid AS centroid FROM (
       |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, ord) AS rn FROM vc
       |  ) WHERE rn = 1
       |), probes AS (
       |  SELECT vec_id AS query_id, cid AS centroid FROM (
       |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, ord) AS rn
       |    FROM vc WHERE vec_id % 25 = 0
       |  ) WHERE rn <= 2
       |), sv AS (
       |  SELECT vec_id, $DuckScaled AS s FROM embeddings
       |), sims AS (
       |  SELECT p.query_id, a.vec_id AS neighbor_id,
       |    CAST(floor((CAST(${duckDot("q.s", "c.s")} AS DOUBLE)
       |      / (sqrt(CAST(${duckDot("q.s", "q.s")} AS DOUBLE))
       |         * sqrt(CAST(${duckDot("c.s", "c.s")} AS DOUBLE)))) * 1000000 + 0.5) AS BIGINT) / CAST(1000000 AS DOUBLE) AS sim
       |  FROM probes p
       |  JOIN assigned a ON a.centroid = p.centroid AND a.vec_id <> p.query_id
       |  JOIN sv q ON q.vec_id = p.query_id
       |  JOIN sv c ON c.vec_id = a.vec_id
       |), ranked AS (
       |  SELECT query_id, neighbor_id, sim,
       |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM sims
       |)
       |SELECT query_id, neighbor_id, sim, rank FROM ranked WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin) { (s, dir) =>
    graft.ops.IvfIndex.searchTopK(Tables.embeddings(s, dir), "vec_id", "embedding",
      col("vec_id") % 25 === 0, k = 5, nCentroids = 8, nProbe = 2, seed = "ivf1")
      .orderBy("query_id", "rank")
  }

  /** IVF ANN with MLlib-KMeans-trained centroids (the BASELINE "DataFrame
    * + MLlib" approach): the learned-centroid variant of q37. KMeans
    * output depends on MLlib internals (init sampling, float reduction
    * order), so the approximate top-k rows themselves are not
    * oracle-checkable; what IS checkable is the invariant the operator
    * exists to provide — recall against exact brute force. The gate emits
    * ONE row: the exact-side query and neighbor counts (SQL-expressible —
    * the oracle recomputes them) and `recall_ok` = the MLlib-IVF top-k's
    * AGGREGATE overlap with the exact top-k is ≥ 30% of all exact
    * neighbors. Aggregate, not per-query: with nProbe=2 of 8 lists an
    * individual query can legitimately land 0 overlaps (measured per-query
    * min 0 at sf0.01/sf0.1), while the aggregate recall measured
    * 0.49–0.62 across sf0.001/0.01/0.1 — the 0.30 floor has ~1.6×
    * margin yet a wrong centroid bridge, broken probe list, or broken
    * re-rank drops it to ~0 and flips the column FALSE → hash mismatch.
    */
  val q70MllibIvf: Q = Q(
    "q70_mllib_ivf",
    s"""WITH sv AS (
       |  SELECT vec_id, $DuckScaled AS s FROM embeddings
       |), sims AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    CAST(floor((CAST(${duckDot("q.s", "c.s")} AS DOUBLE)
       |      / (sqrt(CAST(${duckDot("q.s", "q.s")} AS DOUBLE))
       |         * sqrt(CAST(${duckDot("c.s", "c.s")} AS DOUBLE)))) * 1000000 + 0.5) AS BIGINT) / CAST(1000000 AS DOUBLE) AS sim
       |  FROM sv q JOIN sv c ON q.vec_id % 25 = 0 AND q.vec_id <> c.vec_id
       |), ranked AS (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM sims
       |)
       |SELECT count(DISTINCT query_id) AS n_queries, count(*) AS n_exact,
       |  TRUE AS recall_ok
       |FROM ranked WHERE rank <= 5""".stripMargin) { (s, dir) =>
    val emb = Tables.embeddings(s, dir)
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      col("vec_id") % 25 === 0, 5).select("query_id", "neighbor_id")
    val approx = graft.ml.MlBridge.ivfTopKKMeans(emb, "vec_id",
      "embedding", col("vec_id") % 25 === 0, k = 5, nCentroids = 8,
      nProbe = 2, seed = 42L).select("query_id", "neighbor_id")
    val overlap = exact.join(approx, Seq("query_id", "neighbor_id"), "left_semi")
      .agg(count(lit(1)).as("_overlap"))
    exact.agg(count_distinct(col("query_id")).as("n_queries"),
        count(lit(1)).as("n_exact"))
      .crossJoin(overlap) // both sides are single rows
      .select(col("n_queries"), col("n_exact"),
        (col("_overlap") * 10 >= col("n_exact") * 3).as("recall_ok"))
  }

  /** Exact linear-interpolation per-dimension quantiles (numpy `quantile`
    * semantics, [[graft.ops.Quantiles.perDimension]]), gated bit-for-bit:
    * both engines pick the two bracketing order statistics per dim and
    * interpolate with the same IEEE formula.
    */
  val q38EmbedQuantiles: Q = {
    val ps = Seq("q01" -> 0.01, "q50" -> 0.5, "q99" -> 0.99)
    def p(d: Double) = s"CAST($d AS DOUBLE)"
    val caseCols = ps.map { case (name, q) =>
      s"""    max(CASE WHEN rn = CAST(floor(${p(q)} * (n_w - 1)) AS BIGINT) THEN v END) AS _lo_$name,
         |    max(CASE WHEN rn = CAST(ceil(${p(q)} * (n_w - 1)) AS BIGINT) THEN v END) AS _hi_$name""".stripMargin
    }.mkString(",\n")
    val outCols = ps.map { case (name, q) =>
      val pos = s"${p(q)} * (n - 1)"
      s"""  CAST(floor((_lo_$name + ($pos - floor($pos)) * (_hi_$name - _lo_$name)) * 1000000 + 0.5) AS BIGINT) / CAST(1000000 AS DOUBLE) AS $name"""
    }.mkString(",\n")
    Q(
      "q38_embed_quantiles",
      s"""WITH e AS (
         |  SELECT unnest(generate_series(0, len(embedding) - 1)) AS dim,
         |    unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS v
         |  FROM embeddings
         |), r AS (
         |  SELECT dim, v,
         |    row_number() OVER (PARTITION BY dim ORDER BY v) - 1 AS rn,
         |    count(*) OVER (PARTITION BY dim) AS n_w
         |  FROM e
         |), g AS (
         |  SELECT dim, count(*) AS n,
         |$caseCols
         |  FROM r GROUP BY dim
         |)
         |SELECT dim, n,
         |$outCols
         |FROM g ORDER BY dim""".stripMargin) { (s, dir) =>
      graft.ops.Quantiles.perDimension(Tables.embeddings(s, dir), "embedding", ps)
        .orderBy("dim")
    }
  }

  /** Symmetric int8 embedding quantization (ops/Quantize): per-vector
    * codes + rounded scale, bit-identical across engines via the portable
    * floor(x+0.5) rounding. Row-local column math only — no shuffle.
    *
    * Gate boundary: the int8 code VECTOR is projected to a comma-joined
    * string — the driver's pandas-based hasher cannot sort array cells
    * (round-5 q57 `unhashable type: numpy.ndarray` crash); the operator
    * itself ([[graft.ops.Quantize.int8Codes]]) stays array-native.
    */
  val q57EmbedQuantize: Q = Q(
    "q57_embed_quantize",
    """SELECT vec_id,
      |  CAST(floor(mx * 1000000 + 0.5) AS BIGINT) / CAST(1000000 AS DOUBLE) AS max_abs,
      |  array_to_string(CASE WHEN mx > 0
      |    THEN list_transform(embedding, x -> CAST(CAST(floor(CAST(x AS DOUBLE) * 127 / mx + 0.5) AS BIGINT) AS VARCHAR))
      |    ELSE list_transform(embedding, x -> '0') END, ',') AS codes
      |FROM (
      |  SELECT vec_id, embedding,
      |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx
      |  FROM embeddings
      |)
      |ORDER BY vec_id""".stripMargin) { (s, dir) =>
    Tables.embeddings(s, dir)
      .select(col("vec_id"),
        graft.functions.Exact.roundPortable(
          graft.ops.Quantize.maxAbs(col("embedding")), 6).as("max_abs"),
        array_join(graft.ops.Quantize.int8Codes(col("embedding"))
          .cast("array<string>"), ",").as("codes"))
      .orderBy("vec_id")
  }

  /** Hard-negative mining: exact cosine top-5 DIFFERENT-label neighbors
    * for every 125th vector — the contrastive-training sampler.
    */
  val q98HardNegatives: Q = Q(
    "q98_hard_negatives",
    s"""WITH sv AS (
       |  SELECT vec_id, label, $DuckScaled AS s FROM embeddings
       |), sims AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    CAST(floor((CAST(${duckDot("q.s", "c.s")} AS DOUBLE)
       |      / (sqrt(CAST(${duckDot("q.s", "q.s")} AS DOUBLE))
       |         * sqrt(CAST(${duckDot("c.s", "c.s")} AS DOUBLE)))) * 1000000 + 0.5) AS BIGINT) / CAST(1000000 AS DOUBLE) AS sim
       |  FROM sv q JOIN sv c ON q.vec_id % 125 = 0 AND q.label <> c.label
       |), ranked AS (
       |  SELECT query_id, neighbor_id, sim,
       |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM sims
       |)
       |SELECT query_id, neighbor_id, sim, rank FROM ranked WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin) { (s, dir) =>
    Similarity.hardNegatives(Tables.embeddings(s, dir), "vec_id", "embedding",
      "label", col("vec_id") % 125 === 0, 5)
      .orderBy("query_id", "rank")
  }

  /** Random projection (JL) of every embedding onto 4 deterministic
    * hyperplanes — reproducible dimensionality reduction.
    */
  val q99RandomProjection: Q = {
    val span = "CAST(1152921504606846976 AS DOUBLE)" // 2^60
    def plane(p: Int) =
      s"(CAST(('0x' || substring(md5('rp:$p:' || CAST(i - 1 AS VARCHAR)), 1, 15)) AS BIGINT) / $span - CAST(0.5 AS DOUBLE))"
    val cols = (0 until 4).map { p =>
      "  " + graft.functions.Exact.roundPortableSql(
        s"""list_reduce(
           |    list_transform(generate_series(1, len(embedding)), i ->
           |      CAST(embedding[i] AS DOUBLE) * ${plane(p)}),
           |    (acc, x) -> acc + x)""".stripMargin, 6) + s" AS p$p"
    }.mkString(",\n")
    Q(
      "q99_random_projection",
      s"""SELECT vec_id,
         |$cols
         |FROM embeddings
         |ORDER BY vec_id""".stripMargin) { (s, dir) =>
      // embeddings are fixed 64-dim (TESTDATA) — skip the width probe scan
      Similarity.randomProjection(Tables.embeddings(s, dir), "embedding", 4,
          "rp", dims = 64, probeWidth = false)
        .select("vec_id", "p0", "p1", "p2", "p3")
        .orderBy("vec_id")
    }
  }

  /** SemDeDup end to end (ops/Dedup.semanticDedup): q30's cosine pairs →
    * connected components on the pair set → one survivor per cluster by
    * descending exact scaled norm² (ties → min id). The oracle replays the
    * pair predicate, the recursive closure, and the keep window.
    */
  val q107SemanticDedup: Q = Q(
    "q107_semantic_dedup",
    s"""WITH RECURSIVE sv AS (
       |  SELECT vec_id, label, $DuckScaled AS s FROM embeddings
       |), pairs AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM sv a JOIN sv b ON a.label = b.label AND a.vec_id < b.vec_id
       |  WHERE CAST(${duckDot("a.s", "b.s")} AS DOUBLE)
       |      / (sqrt(CAST(${duckDot("a.s", "a.s")} AS DOUBLE))
       |         * sqrt(CAST(${duckDot("b.s", "b.s")} AS DOUBLE))) >= 0.35
       |), edges AS (
       |  SELECT id_a AS es, id_b AS ed FROM pairs
       |  UNION
       |  SELECT id_b AS es, id_a AS ed FROM pairs
       |), reach(id, lbl) AS (
       |  SELECT vec_id, vec_id FROM embeddings
       |  UNION
       |  SELECT e.ed, r.lbl FROM reach r JOIN edges e ON e.es = r.id WHERE r.lbl < e.ed
       |), lab AS (
       |  SELECT id AS vec_id, min(lbl) AS cluster_id FROM reach GROUP BY id
       |), scored AS (
       |  SELECT l.vec_id, l.cluster_id, ${duckDot("sv.s", "sv.s")} AS nsq
       |  FROM lab l JOIN sv ON sv.vec_id = l.vec_id
       |)
       |SELECT vec_id, cluster_id,
       |  count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       |  (row_number() OVER (PARTITION BY cluster_id ORDER BY nsq DESC, vec_id) = 1) AS kept
       |FROM scored
       |ORDER BY vec_id""".stripMargin) { (s, dir) =>
    val sc = Similarity.scaled(col("embedding"))
    graft.ops.Dedup.semanticDedup(Tables.embeddings(s, dir), "vec_id",
        "embedding", col("label"), 0.35, Similarity.dotScaled(sc, sc))
      .orderBy("vec_id")
  }

  /** Sign-LSH ANN recall vs exact brute force, EXACTLY mirrored: both the
    * exact top-5 (q29 pipeline) and the LSH top-5 (q36 pipeline, buckets
    * included) are replayed in the oracle, so the overlap count is
    * hash-checked as a hard number — stronger than q70's recall-floor
    * pattern, possible here because sign-LSH (unlike MLlib KMeans) is
    * fully SQL-expressible. (At sf0.01 the number is 13/100: the
    * synthetic corpus is near-orthogonal, so 4-plane buckets admit few
    * true neighbors — the harness pins whatever the config yields; tune
    * planes/multi-probe against THIS gate when recall matters.)
    */
  val q110SignLshRecall: Q = {
    val span = "CAST(1152921504606846976 AS DOUBLE)" // 2^60
    val plane = s"(CAST(('0x' || substring(md5('lsh1:' || CAST(p AS VARCHAR) || ':' || CAST(i - 1 AS VARCHAR)), 1, 15)) AS BIGINT) / $span - CAST(0.5 AS DOUBLE))"
    val bucket =
      s"""list_sum(list_transform(generate_series(0, 3), p ->
         |    CASE WHEN list_reduce(
         |        list_transform(generate_series(1, len(embedding)), i ->
         |          CAST(embedding[i] AS DOUBLE) * $plane),
         |        (acc, x) -> acc + x) >= CAST(0 AS DOUBLE)
         |      THEN CAST(1 AS BIGINT) << p ELSE CAST(0 AS BIGINT) END))""".stripMargin
    Q(
      "q110_signlsh_recall",
      s"""WITH b AS (
         |  SELECT vec_id, $DuckScaled AS s, $bucket AS bkt FROM embeddings
         |), er AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |        CAST(floor((CAST(${duckDot("q.s", "c.s")} AS DOUBLE)
         |          / (sqrt(CAST(${duckDot("q.s", "q.s")} AS DOUBLE))
         |             * sqrt(CAST(${duckDot("c.s", "c.s")} AS DOUBLE)))) * 1000000 + 0.5) AS BIGINT) DESC,
         |        c.vec_id) AS rank
         |    FROM b q JOIN b c ON q.vec_id % 25 = 0 AND q.vec_id <> c.vec_id
         |  ) WHERE rank <= 5
         |), lr AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |        CAST(floor((CAST(${duckDot("q.s", "c.s")} AS DOUBLE)
         |          / (sqrt(CAST(${duckDot("q.s", "q.s")} AS DOUBLE))
         |             * sqrt(CAST(${duckDot("c.s", "c.s")} AS DOUBLE)))) * 1000000 + 0.5) AS BIGINT) DESC,
         |        c.vec_id) AS rank
         |    FROM b q JOIN b c ON q.bkt = c.bkt AND q.vec_id % 25 = 0 AND q.vec_id <> c.vec_id
         |  ) WHERE rank <= 5
         |)
         |SELECT
         |  (SELECT count(DISTINCT query_id) FROM er) AS n_queries,
         |  (SELECT count(*) FROM er) AS n_exact,
         |  (SELECT count(*) FROM er JOIN lr USING (query_id, neighbor_id)) AS n_overlap""".stripMargin) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        col("vec_id") % 25 === 0, 5).select("query_id", "neighbor_id")
      val approx = Similarity.signLshTopK(emb, "vec_id", "embedding",
        col("vec_id") % 25 === 0, k = 5, planes = 4, seed = "lsh1")
        .select("query_id", "neighbor_id")
      val overlap = exact.join(approx, Seq("query_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("n_overlap"))
      exact.agg(count_distinct(col("query_id")).as("n_queries"),
          count(lit(1)).as("n_exact"))
        .crossJoin(overlap) // both sides are single rows
    }
  }

  /** Multi-probe sign-LSH (Similarity.probeBuckets — Lv et al. VLDB'07
    * shape): the recall gain of probing 2 margin-ordered Hamming-1 buckets
    * is hash-checked as hard numbers next to the single-bucket overlap —
    * the oracle replays dots, home bucket, |margin| flip order, probe
    * expansion, and both re-rankings.
    */
  val q111MultiProbeRecall: Q = {
    val span = "CAST(1152921504606846976 AS DOUBLE)" // 2^60
    val planeP = s"(CAST(('0x' || substring(md5('lsh1:' || CAST(p AS VARCHAR) || ':' || CAST(i - 1 AS VARCHAR)), 1, 15)) AS BIGINT) / $span - CAST(0.5 AS DOUBLE))"
    val simInt =
      s"""CAST(floor((CAST(${duckDot("q.s", "c.s")} AS DOUBLE)
         |          / (sqrt(CAST(${duckDot("q.s", "q.s")} AS DOUBLE))
         |             * sqrt(CAST(${duckDot("c.s", "c.s")} AS DOUBLE)))) * 1000000 + 0.5) AS BIGINT)""".stripMargin
    Q(
      "q111_multiprobe_recall",
      s"""WITH base AS (
         |  SELECT vec_id, $DuckScaled AS s,
         |    list_transform(generate_series(0, 3), p ->
         |      list_reduce(list_transform(generate_series(1, len(embedding)), i ->
         |        CAST(embedding[i] AS DOUBLE) * $planeP),
         |      (acc, x) -> acc + x)) AS dots
         |  FROM embeddings
         |), b AS (
         |  SELECT vec_id, s,
         |    list_sum(list_transform(generate_series(1, 4), p ->
         |      CASE WHEN dots[p] >= CAST(0 AS DOUBLE)
         |        THEN CAST(1 AS BIGINT) << (p - 1) ELSE CAST(0 AS BIGINT) END)) AS bkt,
         |    dots
         |  FROM base
         |), qprobe AS (
         |  SELECT vec_id, s, unnest([bkt] || list_transform(
         |      (list_sort(list_transform(generate_series(1, 4),
         |        p -> {'m': abs(dots[p]), 'b': CAST(1 AS BIGINT) << (p - 1)})))[1:2],
         |      f -> xor(bkt, f.b))) AS bkt
         |  FROM b WHERE vec_id % 25 = 0
         |), er AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY q.vec_id ORDER BY $simInt DESC, c.vec_id) AS rank
         |    FROM b q JOIN b c ON q.vec_id % 25 = 0 AND q.vec_id <> c.vec_id
         |  ) WHERE rank <= 5
         |), lr0 AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY q.vec_id ORDER BY $simInt DESC, c.vec_id) AS rank
         |    FROM b q JOIN b c ON q.bkt = c.bkt AND q.vec_id % 25 = 0 AND q.vec_id <> c.vec_id
         |  ) WHERE rank <= 5
         |), lr2 AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY q.vec_id ORDER BY $simInt DESC, c.vec_id) AS rank
         |    FROM qprobe q JOIN b c ON q.bkt = c.bkt AND q.vec_id <> c.vec_id
         |  ) WHERE rank <= 5
         |)
         |SELECT
         |  (SELECT count(DISTINCT query_id) FROM er) AS n_queries,
         |  (SELECT count(*) FROM er) AS n_exact,
         |  (SELECT count(*) FROM er JOIN lr0 USING (query_id, neighbor_id)) AS n_overlap_p0,
         |  (SELECT count(*) FROM er JOIN lr2 USING (query_id, neighbor_id)) AS n_overlap_p2""".stripMargin) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val pred = col("vec_id") % 25 === 0
      val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", pred, 5)
        .select("query_id", "neighbor_id")
      def overlap(probes: Int, as: String) =
        exact.join(
            Similarity.signLshTopK(emb, "vec_id", "embedding", pred,
              k = 5, planes = 4, seed = "lsh1", probes = probes)
              .select("query_id", "neighbor_id"),
            Seq("query_id", "neighbor_id"), "left_semi")
          .agg(count(lit(1)).as(as))
      exact.agg(count_distinct(col("query_id")).as("n_queries"),
          count(lit(1)).as("n_exact"))
        .crossJoin(overlap(0, "n_overlap_p0")) // single-row sides
        .crossJoin(overlap(2, "n_overlap_p2"))
    }
  }

  /** Product quantization (Jégou TPAMI 2011): 64-dim scaled vectors split
    * into 8 subspaces, each coded against 16 deterministic seed centroids
    * (the first 16 vectors) by exact integer squared-L2 argmin. The
    * oracle replays the scaling, the centroid table, every subspace
    * argmin (key = ‖c‖² − 2·v·c, ties → lowest index), the dash-joined
    * code string, and the exact total quantization error.
    */
  val q119PqCodes: Q = Q(
    "q119_pq_codes",
    s"""WITH sv AS (
       |  SELECT vec_id, $DuckScaled AS s FROM embeddings
       |), cent AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ci, s
       |  FROM (SELECT vec_id, s FROM sv ORDER BY vec_id LIMIT 16)
       |), mm AS (
       |  SELECT unnest(generate_series(0, 7)) AS m
       |), pm AS (
       |  SELECT v.vec_id, mm.m, c.ci,
       |    CAST(list_sum(list_transform(generate_series(1, 8),
       |        j -> c.s[mm.m * 8 + j] * c.s[mm.m * 8 + j])) AS BIGINT)
       |      - 2 * CAST(list_sum(list_transform(generate_series(1, 8),
       |        j -> v.s[mm.m * 8 + j] * c.s[mm.m * 8 + j])) AS BIGINT) AS key,
       |    CAST(list_sum(list_transform(generate_series(1, 8),
       |        j -> v.s[mm.m * 8 + j] * v.s[mm.m * 8 + j])) AS BIGINT) AS nvm
       |  FROM sv v CROSS JOIN mm CROSS JOIN cent c
       |), best AS (
       |  SELECT vec_id, m, ci, nvm + key AS dist,
       |    row_number() OVER (PARTITION BY vec_id, m ORDER BY key, ci) AS rn
       |  FROM pm
       |)
       |SELECT vec_id,
       |  array_to_string(list(ci ORDER BY m), '-') AS codes,
       |  CAST(SUM(dist) AS BIGINT) AS qerr_scaled
       |FROM best WHERE rn = 1
       |GROUP BY vec_id
       |ORDER BY vec_id""".stripMargin) { (s, dir) =>
    val emb = Tables.embeddings(s, dir)
    val cents = graft.ops.Quantize.pqSeedCentroids(emb, "vec_id", "embedding", 8, 16)
    graft.ops.Quantize.pqCodes(emb, "vec_id", "embedding", cents)
      .orderBy("vec_id")
  }

  /** ADC top-10 search over the q119 PQ codes (Jégou TPAMI'11 §IV):
    * queries are the vec_id ≡ 7 (mod 100) slice; each query's m×k exact
    * sub-distance LUT is applied to every doc's codes, k nearest by
    * (adc asc, id). The oracle rebuilds centroids, codes, LUT, and the
    * ranking from the same scaled integers.
    */
  val q124PqAdc: Q = Q(
    "q124_pq_adc",
    s"""WITH sv AS (
       |  SELECT vec_id, $DuckScaled AS s FROM embeddings
       |), cent AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ci, s
       |  FROM (SELECT vec_id, s FROM sv ORDER BY vec_id LIMIT 16)
       |), mm AS (
       |  SELECT unnest(generate_series(0, 7)) AS m
       |), pm AS (
       |  SELECT v.vec_id, mm.m, c.ci,
       |    CAST(list_sum(list_transform(generate_series(1, 8),
       |        j -> c.s[mm.m * 8 + j] * c.s[mm.m * 8 + j])) AS BIGINT)
       |      - 2 * CAST(list_sum(list_transform(generate_series(1, 8),
       |        j -> v.s[mm.m * 8 + j] * c.s[mm.m * 8 + j])) AS BIGINT) AS key
       |  FROM sv v CROSS JOIN mm CROSS JOIN cent c
       |), best AS (
       |  SELECT vec_id, m, ci,
       |    row_number() OVER (PARTITION BY vec_id, m ORDER BY key, ci) AS rn
       |  FROM pm
       |), qs AS (
       |  SELECT vec_id AS qid, s FROM sv WHERE vec_id % 100 = 7
       |), lut AS (
       |  SELECT q.qid, mm.m, c.ci,
       |    CAST(list_sum(list_transform(generate_series(1, 8),
       |        j -> (q.s[mm.m * 8 + j] - c.s[mm.m * 8 + j])
       |           * (q.s[mm.m * 8 + j] - c.s[mm.m * 8 + j]))) AS BIGINT) AS d
       |  FROM qs q CROSS JOIN mm CROSS JOIN cent c
       |), adc AS (
       |  SELECT l.qid AS query_id, b.vec_id AS doc_id,
       |    CAST(SUM(l.d) AS BIGINT) AS adc_scaled
       |  FROM best b JOIN lut l ON b.m = l.m AND b.ci = l.ci
       |  WHERE b.rn = 1
       |  GROUP BY l.qid, b.vec_id
       |)
       |SELECT query_id, doc_id, adc_scaled, rank FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY adc_scaled, doc_id) AS BIGINT) AS rank
       |  FROM adc)
       |WHERE rank <= 10
       |ORDER BY query_id, rank""".stripMargin) { (s, dir) =>
    val emb = Tables.embeddings(s, dir)
    val cents = graft.ops.Quantize.pqSeedCentroids(emb, "vec_id", "embedding", 8, 16)
    graft.ops.Quantize.adcTopK(emb, "vec_id", "embedding", cents,
        pmod(col("vec_id"), lit(100L)) === 7, k = 10)
      .orderBy("query_id", "rank")
  }

  /** Per-cluster centroid similarity matrix: one distributed aggregate
    * builds a scaled-integer SUM vector per label, then a tiny self-join
    * compares the 10 centroids pairwise — the cluster-summarization /
    * semantic-dedup diagnostic (which clusters are near-duplicates of each
    * other?). Key trick for exactness: cos(sum_a/n_a, sum_b/n_b) ==
    * cos(sum_a, sum_b) — the counts cancel — so the whole pipeline stays in
    * exact BIGINT up to the final sqrt (6-dp rounded on both engines). The
    * heavy stage is corpus-sized (one explode + one groupBy); the pairwise
    * stage is k² over k = 10 labels. At 1e8+ rows per label the scaled sums
    * approach Long range — mean-center or right-shift the scale first.
    */
  val q133CentroidSim: Q = Q(
    "q133_centroid_sim",
    s"""WITH sv AS (
       |  SELECT label, unnest(generate_series(0, len(embedding) - 1)) AS dim,
       |    unnest($DuckScaled) AS v
       |  FROM embeddings
       |), sums AS (
       |  SELECT label, dim, CAST(sum(v) AS BIGINT) AS s
       |  FROM sv GROUP BY label, dim
       |), cent AS (
       |  SELECT label, list(s ORDER BY dim) AS c FROM sums GROUP BY label
       |)
       |SELECT a.label AS label_a, b.label AS label_b,
       |  CAST(floor((CAST(${duckDot("a.c", "b.c")} AS DOUBLE)
       |    / (sqrt(CAST(${duckDot("a.c", "a.c")} AS DOUBLE))
       |       * sqrt(CAST(${duckDot("b.c", "b.c")} AS DOUBLE)))) * 1000000 + 0.5) AS BIGINT)
       |    / CAST(1000000 AS DOUBLE) AS sim
       |FROM cent a JOIN cent b ON a.label < b.label
       |ORDER BY label_a, label_b""".stripMargin) { (s, dir) =>
    val sums = Tables.embeddings(s, dir)
      .select(col("label"),
        posexplode(Similarity.scaled(col("embedding"))).as(Seq("dim", "v")))
      .groupBy("label", "dim").agg(sum("v").as("s"))
    val cent = sums.groupBy("label")
      .agg(transform(sort_array(collect_list(struct(col("dim"), col("s")))),
        x => x("s")).as("c"))
    val a = cent.select(col("label").as("label_a"), col("c").as("ca"))
    val b = cent.select(col("label").as("label_b"), col("c").as("cb"))
    a.join(b, col("label_a") < col("label_b"))
      .select(col("label_a"), col("label_b"),
        graft.functions.Exact.roundPortable(
          Similarity.dotScaled(col("ca"), col("cb")).cast("double") /
            (sqrt(Similarity.dotScaled(col("ca"), col("ca")).cast("double")) *
              sqrt(Similarity.dotScaled(col("cb"), col("cb")).cast("double"))),
          6).as("sim"))
      .orderBy("label_a", "label_b")
  }

  /** DBSCAN density clustering (ops/Density.dbscan): eps-neighbor pairs are
    * q30's blocked cosine join, core points have ≥ minPts-1 neighbors,
    * clusters are the closure over CORE-CORE edges only, border points
    * attach to the min cluster among their core neighbors, the rest is
    * noise. The oracle replays the neighbor predicate, the degree count,
    * the recursive core closure, and the border attachment — every branch
    * of the core/border/noise trichotomy is hash-checked. (At sf0.01 with
    * threshold 0.30 / minPts 3 the corpus splits 35 core / 49 border /
    * 416 noise — all three roles populated.)
    */
  val q142Dbscan: Q = Q(
    "q142_dbscan",
    s"""WITH RECURSIVE sv AS (
       |  SELECT vec_id, label, $DuckScaled AS s FROM embeddings
       |), pairs AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM sv a JOIN sv b ON a.label = b.label AND a.vec_id < b.vec_id
       |  WHERE CAST(${duckDot("a.s", "b.s")} AS DOUBLE)
       |      / (sqrt(CAST(${duckDot("a.s", "a.s")} AS DOUBLE))
       |         * sqrt(CAST(${duckDot("b.s", "b.s")} AS DOUBLE))) >= 0.30
       |), edges AS (
       |  SELECT id_a AS es, id_b AS ed FROM pairs
       |  UNION
       |  SELECT id_b AS es, id_a AS ed FROM pairs
       |), deg AS (
       |  SELECT es AS id, count(*) AS nbrs FROM edges GROUP BY es
       |), core AS (
       |  SELECT e.vec_id, coalesce(d.nbrs, 0) + 1 >= 3 AS is_core
       |  FROM embeddings e LEFT JOIN deg d ON d.id = e.vec_id
       |), cedges AS (
       |  SELECT e.es, e.ed FROM edges e
       |  JOIN core a ON a.vec_id = e.es AND a.is_core
       |  JOIN core b ON b.vec_id = e.ed AND b.is_core
       |), reach(id, lbl) AS (
       |  SELECT vec_id, vec_id FROM core WHERE is_core
       |  UNION
       |  SELECT e.ed, r.lbl FROM reach r JOIN cedges e ON e.es = r.id
       |  WHERE r.lbl < e.ed
       |), clab AS (
       |  SELECT id AS vec_id, min(lbl) AS cluster_id FROM reach GROUP BY id
       |), border AS (
       |  SELECT e.es AS vec_id, min(c.cluster_id) AS cluster_id
       |  FROM edges e JOIN clab c ON c.vec_id = e.ed
       |  GROUP BY e.es
       |)
       |SELECT co.vec_id, co.is_core,
       |  coalesce(cl.cluster_id, CASE WHEN co.is_core THEN NULL
       |                               ELSE bo.cluster_id END) AS cluster_id,
       |  CASE WHEN co.is_core THEN 'core'
       |       WHEN bo.cluster_id IS NOT NULL THEN 'border'
       |       ELSE 'noise' END AS role
       |FROM core co
       |LEFT JOIN clab cl ON cl.vec_id = co.vec_id AND co.is_core
       |LEFT JOIN border bo ON bo.vec_id = co.vec_id AND NOT co.is_core
       |ORDER BY co.vec_id""".stripMargin) { (s, dir) =>
    graft.ops.Density.dbscan(Tables.embeddings(s, dir), "vec_id", "embedding",
        col("label"), 0.30, 3)
      .orderBy("vec_id")
  }

  /** IVF-ADC combined ANN (q209): the production FAISS-style layout —
    * coarse IVF cells bound WHICH vectors are scanned (q37's seeded
    * deterministic centroids, 8 cells, nProbe=2), the PQ asymmetric-
    * distance LUT bounds the COST per scanned vector (q124's first-16
    * codebook, pure-integer ADC). The oracle composes both gated
    * replays: assignment + probe lists, per-doc PQ codes, per-query
    * LUTs, then the ADC top-10 restricted to the probed cells' members.
    */
  val q209IvfAdc: Q = Q(
    "q209_ivf_adc",
    s"""WITH hashed AS (
       |  SELECT vec_id, embedding,
       |    CAST(('0x' || substring(md5('ivf1:' || CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
       |  FROM embeddings
       |), icents AS (
       |  SELECT vec_id AS cid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv,
       |    row_number() OVER (ORDER BY h) AS ord
       |  FROM hashed ORDER BY h LIMIT 8
       |), vc AS (
       |  SELECT vec_id, cid, ord,
       |    CASE WHEN nv > CAST(0 AS DOUBLE) THEN dot / (nv * nc) ELSE CAST(0 AS DOUBLE) END AS sim
       |  FROM (
       |    SELECT e.vec_id, c.cid, c.ord,
       |      list_reduce(list_transform(generate_series(1, len(e.embedding)), i ->
       |        CAST(e.embedding[i] AS DOUBLE) * c.cv[i]), (acc, x) -> acc + x) AS dot,
       |      sqrt(list_reduce(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (acc, x) -> acc + x)) AS nv,
       |      sqrt(list_reduce(list_transform(c.cv, x -> x * x), (acc, x) -> acc + x)) AS nc
       |    FROM embeddings e CROSS JOIN icents c
       |  )
       |), assigned AS (
       |  SELECT vec_id, cid AS centroid FROM (
       |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, ord) AS rn FROM vc
       |  ) WHERE rn = 1
       |), probes AS (
       |  SELECT vec_id AS query_id, cid AS centroid FROM (
       |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, ord) AS rn
       |    FROM vc WHERE vec_id % 100 = 7
       |  ) WHERE rn <= 2
       |), sv AS (
       |  SELECT vec_id, $DuckScaled AS s FROM embeddings
       |), pcent AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ci, s
       |  FROM (SELECT vec_id, s FROM sv ORDER BY vec_id LIMIT 16)
       |), mm AS (
       |  SELECT unnest(generate_series(0, 7)) AS m
       |), pm AS (
       |  SELECT v.vec_id, mm.m, c.ci,
       |    CAST(list_sum(list_transform(generate_series(1, 8),
       |        j -> c.s[mm.m * 8 + j] * c.s[mm.m * 8 + j])) AS BIGINT)
       |      - 2 * CAST(list_sum(list_transform(generate_series(1, 8),
       |        j -> v.s[mm.m * 8 + j] * c.s[mm.m * 8 + j])) AS BIGINT) AS key
       |  FROM sv v CROSS JOIN mm CROSS JOIN pcent c
       |), best AS (
       |  SELECT vec_id, m, ci,
       |    row_number() OVER (PARTITION BY vec_id, m ORDER BY key, ci) AS rn
       |  FROM pm
       |), lut AS (
       |  SELECT q.vec_id AS qid, mm.m, c.ci,
       |    CAST(list_sum(list_transform(generate_series(1, 8),
       |        j -> (q.s[mm.m * 8 + j] - c.s[mm.m * 8 + j])
       |           * (q.s[mm.m * 8 + j] - c.s[mm.m * 8 + j]))) AS BIGINT) AS d
       |  FROM (SELECT vec_id, s FROM sv WHERE vec_id % 100 = 7) q
       |  CROSS JOIN mm CROSS JOIN pcent c
       |), adc AS (
       |  SELECT p.query_id, b.vec_id AS doc_id,
       |    CAST(SUM(l.d) AS BIGINT) AS adc_scaled
       |  FROM probes p
       |  JOIN assigned a ON a.centroid = p.centroid AND a.vec_id <> p.query_id
       |  JOIN best b ON b.vec_id = a.vec_id AND b.rn = 1
       |  JOIN lut l ON l.qid = p.query_id AND l.m = b.m AND l.ci = b.ci
       |  GROUP BY p.query_id, b.vec_id
       |)
       |SELECT query_id, doc_id, adc_scaled, rank FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY adc_scaled, doc_id) AS BIGINT) AS rank
       |  FROM adc)
       |WHERE rank <= 10
       |ORDER BY query_id, rank""".stripMargin) { (s, dir) =>
    val emb = Tables.embeddings(s, dir)
    val pq = graft.ops.Quantize.pqSeedCentroids(emb, "vec_id", "embedding", 8, 16)
    val ivf = graft.ops.IvfIndex.pickCentroids(emb, "vec_id", "embedding", 8, "ivf1")
    graft.ops.Quantize.ivfAdcTopK(emb, "vec_id", "embedding", pq, ivf,
        nProbe = 2, pmod(col("vec_id"), lit(100L)) === 7, k = 10)
      .orderBy("query_id", "rank")
  }

  /** Lloyd k-means (k=8, 2 iterations, smallest-id seeds) on exact
    * 1e6-scaled integer distances — the iterative-clustering surface the
    * board lacked (DBSCAN/label-prop are density/graph clustering; this is
    * the centroid-refinement loop). Determinism argument for the one FP
    * step (the floored per-dimension mean): sum and count are exact
    * integers; IEEE division is correctly rounded, so floor(sum/count) can
    * only disagree with the exact floor when sum/count sits within one ulp
    * (~1e-7 at the 1e9 magnitudes here) of an integer — but a non-integer
    * exact ratio is at least 1/count ≥ 2e-4 away from any integer, and an
    * integer exact ratio divides exactly. The gate checks the FINAL
    * assignment: per-cluster membership count, integer SSE against the
    * iteration-1 centroids, and the smallest member id.
    */
  private def duckD2(s: String, c: String): String =
    s"CAST(list_sum(list_transform(list_zip($s, $c), p -> (p[1]-p[2])*(p[1]-p[2]))) AS BIGINT)"

  /** The q211 2-iteration Lloyd replay as a WITH-clause body (`a2` is the
    * final assignment) — shared with q220's composition oracle.
    */
  private def kmeansCtes(k: Int): String =
    s"""sv AS (
       |  SELECT vec_id, $DuckScaled AS s FROM embeddings
       |), c0 AS (
       |  SELECT vec_id AS cid, s AS c FROM sv WHERE vec_id < $k
       |), d1 AS (
       |  SELECT sv.vec_id, c0.cid, ${duckD2("sv.s", "c0.c")} AS d2
       |  FROM sv, c0
       |), a1 AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
       |    FROM d1) WHERE rn = 1
       |), m1 AS (
       |  SELECT cid, dim, CAST(floor(CAST(sum(x) AS DOUBLE) / count(*)) AS BIGINT) AS cx
       |  FROM (
       |    SELECT a1.cid, unnest(generate_series(0, len(sv.s) - 1)) AS dim,
       |      unnest(sv.s) AS x
       |    FROM a1 JOIN sv USING (vec_id))
       |  GROUP BY cid, dim
       |), c1 AS (
       |  SELECT cid, list(cx ORDER BY dim) AS c FROM m1 GROUP BY cid
       |), d2t AS (
       |  SELECT sv.vec_id, c1.cid, ${duckD2("sv.s", "c1.c")} AS d2
       |  FROM sv, c1
       |), a2 AS (
       |  SELECT vec_id, cid, d2 FROM (
       |    SELECT vec_id, cid, d2,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
       |    FROM d2t) WHERE rn = 1
       |)""".stripMargin

  val q211KmeansLloyd: Q = {
    val k = 8
    Q(
      "q211_kmeans_lloyd",
      s"""WITH ${kmeansCtes(k)}
         |SELECT cid AS cluster_id, count(*) AS n_members,
         |  CAST(sum(d2) AS BIGINT) AS sse, min(vec_id) AS min_member
         |FROM a2 GROUP BY cid ORDER BY cluster_id""".stripMargin) { (s, dir) =>
      graft.ops.KMeans.lloydAssign(
          Tables.embeddings(s, dir), "vec_id", "embedding", k, iters = 2)
        .groupBy("cluster_id")
        .agg(count(lit(1)).as("n_members"),
          sum(col("d2")).cast("long").as("sse"),
          min(col("vec_id")).as("min_member"))
        .orderBy("cluster_id")
    }
  }

  /** Cluster-balanced train/test split — the composition the two ops were
    * built for: k-means assigns every vector a topic cluster (q211's exact
    * replay), then the EXACT-proportion splitter holds out ⌊0.2·n⌋ per
    * CLUSTER (q214's rank rule with cluster_id as the stratum), so the
    * holdout has the same topic mix as the training set — the
    * topic-stratified eval-set construction a curation pipeline runs
    * before finetuning. Per-cluster split counts out; the oracle replays
    * both stages end-to-end.
    */
  val q220ClusterBalancedSplit: Q = {
    val k = 8
    Q(
      "q220_cluster_balanced_split",
      s"""WITH ${kmeansCtes(k)}, r AS (
         |  SELECT vec_id, cid,
         |    row_number() OVER (PARTITION BY cid ORDER BY
         |      CAST(('0x' || substring(md5('cb1:' || CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT),
         |      vec_id) AS rk,
         |    count(*) OVER (PARTITION BY cid) AS n
         |  FROM a2)
         |SELECT cid AS cluster_id,
         |  CASE WHEN rk * 5 <= n * 4 THEN 'train' ELSE 'test' END AS split,
         |  count(*) AS n_vecs, min(vec_id) AS min_vec
         |FROM r GROUP BY 1, 2
         |ORDER BY cluster_id, split""".stripMargin) { (s, dir) =>
      val assign = graft.ops.KMeans.lloydAssign(
        Tables.embeddings(s, dir), "vec_id", "embedding", k, iters = 2)
      graft.ops.Sampling.exactStratifiedSplit(
          assign.select("vec_id", "cluster_id"),
          "cluster_id", col("vec_id"), "cb1", 4, 5)
        .groupBy("cluster_id", "split")
        .agg(count(lit(1)).as("n_vecs"), min(col("vec_id")).as("min_vec"))
        .orderBy("cluster_id", "split")
    }
  }

  /** MMR diverse top-10 (Carbonell & Goldstein SIGIR'98) relevant to
    * vec 0: greedy argmax of sim(query) − 0.5·max_sim(selected), sims
    * rounded at 1e-6 BEFORE score arithmetic and ties to the smaller id,
    * so the greedy trace replays exactly. The engine updates the
    * diversity penalty incrementally (one greatest() projection per round
    * against the newest pick — never a candidates × selected join); the
    * oracle unrolls all 10 picks as chained argmax CTEs over a
    * precomputed pair-sim table.
    */
  val q223MmrDiverse: Q = {
    val (k, lam) = (10, 0.5)
    def r6(e: String) = graft.functions.Exact.roundPortableSql(e, 6)
    def cos(a: String, b: String) =
      r6(s"CAST(${duckDot(s"$a.s", s"$b.s")} AS DOUBLE) / " +
        s"(sqrt(CAST(${duckDot(s"$a.s", s"$a.s")} AS DOUBLE)) * " +
        s"sqrt(CAST(${duckDot(s"$b.s", s"$b.s")} AS DOUBLE)))")
    val head =
      s"""WITH sv AS MATERIALIZED (SELECT vec_id, $DuckScaled AS s FROM embeddings),
         |simq AS MATERIALIZED (
         |  SELECT a.vec_id, ${cos("a", "q")} AS sq
         |  FROM sv a, (SELECT s FROM sv WHERE vec_id = 0) q
         |  WHERE a.vec_id <> 0),
         |pair AS MATERIALIZED (
         |  SELECT a.vec_id AS ia, b.vec_id AS ib, ${cos("a", "b")} AS sab
         |  FROM sv a, sv b
         |  WHERE a.vec_id <> 0 AND b.vec_id <> 0 AND a.vec_id <> b.vec_id),
         |p1 AS MATERIALIZED (SELECT vec_id FROM simq ORDER BY sq DESC, vec_id LIMIT 1),
         |k1 AS MATERIALIZED (SELECT vec_id FROM p1)""".stripMargin
    val steps = (2 to k).map { i =>
      s"""p$i AS MATERIALIZED (
         |  SELECT s.vec_id FROM simq s
         |  JOIN (SELECT p.ia, max(p.sab) AS ms FROM pair p
         |        JOIN k${i - 1} sel ON p.ib = sel.vec_id GROUP BY p.ia) m
         |    ON m.ia = s.vec_id
         |  WHERE s.vec_id NOT IN (SELECT vec_id FROM k${i - 1})
         |  ORDER BY s.sq - $lam * m.ms DESC, s.vec_id
         |  LIMIT 1),
         |k$i AS MATERIALIZED (SELECT vec_id FROM k${i - 1}
         |        UNION ALL SELECT vec_id FROM p$i)""".stripMargin
    }
    val ranks = (1 to k).map(i =>
      s"SELECT CAST($i AS BIGINT) AS rank, vec_id FROM p$i")
      .mkString("\n  UNION ALL ")
    val sql = (head +: steps).mkString(",\n") +
      s"\nSELECT rank, vec_id FROM (\n  $ranks\n) ORDER BY rank"
    Q("q223_mmr_diverse", sql) { (s, dir) =>
      graft.ops.Diversify.mmrTopK(
        Tables.embeddings(s, dir), "vec_id", "embedding",
        queryId = 0L, k = k, lambda = lam)
    }
  }

  val all: Seq[Q] = Seq(q29CosineTopK, q30EmbedNearDup, q31EmbedDimStats,
    q32Sessionize, q36SignLshTopK, q37IvfTopK, q38EmbedQuantiles,
    q57EmbedQuantize, q70MllibIvf, q98HardNegatives, q99RandomProjection,
    q107SemanticDedup, q110SignLshRecall, q111MultiProbeRecall, q119PqCodes,
    q124PqAdc, q133CentroidSim, q142Dbscan, q209IvfAdc, q211KmeansLloyd,
    q220ClusterBalancedSplit, q223MmrDiverse)
}
