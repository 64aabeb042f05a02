package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Item co-occurrence counting — the SPPMI / item2vec statistic: for every
  * unordered item pair, how many users interacted with both (Levy &
  * Goldberg NeurIPS'14 use exactly this matrix as the embedding
  * factorization target).
  *
  * The hazard at scale is the per-user quadratic: a crawler account that
  * touched 10⁶ items would emit 5·10¹¹ pairs. The cap is therefore part
  * of the operator contract, not a tuning flag: each user contributes
  * only their `maxItemsPerUser` most-interacted items (ties broken on the
  * item id, so the kept set is deterministic and SQL-replayable), giving
  * a hard O(users · m²) bound on emitted pairs. The cap filter itself is
  * the rank-filter idiom (map-side WindowGroupLimit — the full
  * (user, item) table never shuffles twice).
  *
  * Plan: one groupBy(user, item) count, one per-user top-m rank filter,
  * one self-equi-join on user (item_a < item_b), one pair aggregation.
  */
object Cooccur {

  /** Distinct co-occurrence EDGES (src < dst): items sharing a key, built
    * with ONE groupBy + a per-row sorted-pair explosion instead of the
    * two-sided self-equi-join — the grouped form shuffles the table once
    * and does the quadratic work as per-row array math (k is the per-key
    * item count; for bounded-k data like order lines this measured ~35%
    * faster than the self-join at sf0.1). For UNBOUNDED k use
    * [[itemPairs]]'s cap contract instead — this helper is for edge lists
    * where every pair is wanted.
    *
    * The bounded-k assumption is SELF-ENFORCING (round-14 explode audit,
    * the editDistancePairs/gapFillHourly refuse-loudly pattern): the
    * per-key pair array is built by `flatten(transform(...))`, which
    * materializes all k(k−1)/2 structs in ONE row buffer before the
    * explode — a single corrupted hot key with k = 10⁶ items is a
    * multi-TB row, an executor OOM, not a slow query. Keys past
    * `maxItemsPerKey` (default 2048 ≈ 2M pairs ≈ 32 MB per row buffer)
    * refuse loudly with the [[itemPairs]] routing in the message; callers
    * who have measured their key bound can raise it explicitly (cost near
    * the cap: PLANS.md "coedges near-cap probe"; pinned by CooccurSkewSpec).
    */
  /** `packIds = true` (round-18, guide §2.3 "narrower types"): when the
    * caller KNOWS every item id fits [0, 2^31) — a per-dataset domain
    * fact, asserted loudly in-plan — each sorted pair (x, y) is packed
    * into ONE long `x·2^32 + y` for the build + distinct, and unpacked
    * after. Since x < y always, the packing is a bijection, so the
    * distinct pair set is identical. Two wins at the quadratic row count:
    * the per-key pair buffer is a primitive long array instead of
    * k(k−1)/2 struct rows, and the distinct shuffles 8-byte keys instead
    * of 16-byte two-column rows. Callers with wider id domains keep the
    * struct path (packIds = false, the default).
    */
  def coedges(df: DataFrame, keyCol: String, itemCol: String,
      maxItemsPerKey: Int = 2048, packIds: Boolean = false): DataFrame = {
    require(maxItemsPerKey > 1, s"maxItemsPerKey must be > 1, got $maxItemsPerKey")
    val grouped = df.select(col(keyCol).as("_k"), col(itemCol).as("_p"))
      .groupBy("_k").agg(sort_array(collect_set(col("_p"))).as("_ps"))
      // the guard rides the grouped pass (a filter predicate survives
      // pruning; assert_true is NULL when the bound holds)
      .filter(assert_true(size(col("_ps")) <= maxItemsPerKey,
        format_string(
          "coedges: key %s has %d distinct items (cap " +
            s"$maxItemsPerKey) — the grouped pair build materializes " +
            "k(k-1)/2 structs per row and a hot key would OOM the " +
            "executor; use itemPairs(maxItemsPerUser) for unbounded-k " +
            "data, or pass maxItemsPerKey explicitly",
          col("_k").cast("string"), size(col("_ps")))).isNull)
    if (packIds) {
      grouped
        // _ps is sorted ascending, so min = first and max = last element:
        // the id-domain guard rides the same pass, no extra aggregation
        .filter(assert_true(size(col("_ps")) === 0 ||
          (element_at(col("_ps"), 1) >= 0 &&
            element_at(col("_ps"), -1) < lit(2147483648L)),
          format_string(
            "coedges(packIds=true): key %s has item ids outside " +
              "[0, 2^31) — the packed-long pair build cannot represent " +
              "them; call coedges with packIds = false",
            col("_k").cast("string"))).isNull)
        .select(explode(expr(
          "flatten(transform(_ps, (x, i) -> " +
            "transform(slice(_ps, i + 2, size(_ps)), " +
            "y -> CAST(x AS BIGINT) * 4294967296 + CAST(y AS BIGINT))))"))
          .as("_pk"))
        .distinct()
        .select(expr("shiftright(_pk, 32)").as("src"),
          expr("_pk & 4294967295").as("dst"))
    } else {
      grouped
        .select(explode(expr(
          "flatten(transform(_ps, (x, i) -> " +
            "transform(slice(_ps, i + 2, size(_ps)), " +
            "y -> struct(x AS src, y AS dst))))")).as("_e"))
        .select(col("_e.src"), col("_e.dst"))
        .distinct()
    }
  }

  def itemPairs(df: DataFrame, userCol: String, itemCol: String,
      maxItemsPerUser: Int): DataFrame = {
    val w = Window.partitionBy(col(userCol))
      .orderBy(col("_cnt").desc, col(itemCol))
    val kept = df
      .groupBy(col(userCol), col(itemCol))
      .agg(count(lit(1)).as("_cnt"))
      .withColumn("_rnk", row_number().over(w))
      .where(col("_rnk") <= maxItemsPerUser)
      .select(col(userCol), col(itemCol))
    val a = kept.select(col(userCol), col(itemCol).as("item_a"))
    val b = kept.select(col(userCol), col(itemCol).as("item_b"))
    a.join(b, Seq(userCol))
      .where(col("item_a") < col("item_b"))
      .groupBy("item_a", "item_b")
      .agg(count(lit(1)).as("n_users"))
  }
}
