package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.Exact._
import graft.functions.Hashing

/** Core relational operators (SURVEY.md §2.2–§2.6) expressed over the star
  * schema: fused multi-aggregate scans, broadcast-dim joins, semi/anti joins,
  * window dedup/reindex, relaxed unions, CASE classification, deterministic
  * split hashing, group fingerprints.
  *
  * Scale notes baked into each plan:
  *  - dims (region/nation/customer/part/supplier) are broadcast — no shuffle
  *    of the fact table for dimension enrichment;
  *  - money math is exact scaled-integer (see [[graft.functions.Exact]]) so
  *    partial aggregation is deterministic under any shuffle topology;
  *  - every query ends in an explicit orderBy — determinism never depends on
  *    partition order.
  */
object Relational {

  /** A1-style fused single-pass aggregation (reference validate_one.py:89-100
    * computes 9 aggregates in one scan): pricing summary per flag/status.
    */
  val q01PricingSummary: Q = Q(
    "q01_pricing_summary",
    """SELECT l_returnflag, l_linestatus,
      |  count(*) AS n_rows,
      |  CAST(sum(CAST(round(l_quantity*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_qty,
      |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_price,
      |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))) AS DOUBLE)/10000.0 AS sum_disc_price,
      |  CAST(floor((CAST(sum(CAST(round(l_quantity*100) AS BIGINT)) AS DOUBLE)/100.0 / count(*)) * 1000000 + 0.5) AS BIGINT) / CAST(1000000 AS DOUBLE) AS avg_qty,
      |  min(CAST(l_shipdate AS DATE)) AS min_ship,
      |  max(CAST(l_shipdate AS DATE)) AS max_ship
      |FROM lineitem
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        count(lit(1)).as("n_rows"),
        fromCents(sum(cents(col("l_quantity")))).as("sum_qty"),
        fromCents(sum(cents(col("l_extendedprice")))).as("sum_price"),
        (sum(cents(col("l_extendedprice")) * (lit(100) - cents(col("l_discount"))))
          .cast("double") / 10000.0).as("sum_disc_price"),
        graft.functions.Exact.roundPortable(fromCents(sum(cents(col("l_quantity")))) / count(lit(1)), 6).as("avg_qty"),
        min(col("l_shipdate").cast("date")).as("min_ship"),
        max(col("l_shipdate").cast("date")).as("max_ship"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** TPC-H-Q5-shaped multi-join: fact shuffled once; all four dims broadcast
    * (at 100 TB the only shuffle is lineitem⋈orders on orderkey; dims are
    * KB–MB and never move the fact table).
    */
  val q02RevenueByNation: Q = Q(
    "q02_revenue_by_nation",
    """SELECT n.n_name AS nation,
      |  count(*) AS n_items,
      |  CAST(sum(CAST(round(l.l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l.l_discount*100) AS BIGINT))) AS DOUBLE)/10000.0 AS revenue
      |FROM lineitem l
      |JOIN orders o ON l.l_orderkey = o.o_orderkey
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |JOIN nation n ON c.c_nationkey = n.n_nationkey
      |JOIN region r ON n.n_regionkey = r.r_regionkey
      |GROUP BY n.n_name
      |ORDER BY nation""".stripMargin) { (s, dir) =>
    val li = Tables.lineitem(s, dir)
    val o  = Tables.orders(s, dir)
    val c  = Tables.customer(s, dir)
    val n  = Tables.nation(s, dir)
    val r  = Tables.region(s, dir)
    // customer GROWS with SF (150k·SF rows) — no broadcast hint: a hint is
    // honored unconditionally (8 GB hard wall at production scale), while
    // file-size stats + AQE pick broadcast at any SF where it actually
    // fits. nation/region are FIXED-cardinality dims (25/5 rows) — hinted.
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(n("n_name").as("nation"))
      .agg(
        count(lit(1)).as("n_items"),
        (sum(cents(col("l_extendedprice")) * (lit(100) - cents(col("l_discount"))))
          .cast("double") / 10000.0).as("revenue"))
      .orderBy("nation")
  }

  /** Broadcast-join + per-group top-k (rank on exact cents, id tiebreak —
    * deterministic under ties).
    */
  val q03TopPartsPerBrand: Q = Q(
    "q03_top_parts_per_brand",
    """WITH rev AS (
      |  SELECT p.p_brand, l.l_partkey,
      |    sum(CAST(round(l.l_extendedprice*100) AS BIGINT)) AS rev_cents
      |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      |  GROUP BY p.p_brand, l.l_partkey
      |), ranked AS (
      |  SELECT p_brand, l_partkey, rev_cents,
      |    row_number() OVER (PARTITION BY p_brand ORDER BY rev_cents DESC, l_partkey) AS rk
      |  FROM rev
      |)
      |SELECT p_brand, l_partkey AS partkey, CAST(rev_cents AS DOUBLE)/100.0 AS revenue, rk
      |FROM ranked WHERE rk <= 3
      |ORDER BY p_brand, rk""".stripMargin) { (s, dir) =>
    val li = Tables.lineitem(s, dir)
    val p  = Tables.part(s, dir)
    // part grows with SF (200k·SF rows) — stats/AQE decide, no hard hint
    val rev = li.join(p, li("l_partkey") === p("p_partkey"))
      .groupBy(col("p_brand"), col("l_partkey"))
      .agg(sum(cents(col("l_extendedprice"))).as("rev_cents"))
    val w = Window.partitionBy("p_brand").orderBy(col("rev_cents").desc, col("l_partkey"))
    rev.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("p_brand"), col("l_partkey").as("partkey"),
        fromCents(col("rev_cents")).as("revenue"), col("rk"))
      .orderBy("p_brand", "rk")
  }

  /** W2 dedup-keep-first: per key keep the first row in a defined order.
    * `dropDuplicates` does NOT guarantee keep-first — the row_number window
    * form does (reference align_transform_refactored.py:108-110).
    */
  val q04DedupKeepFirst: Q = Q(
    "q04_dedup_keep_first",
    """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey
      |FROM (
      |  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
      |    row_number() OVER (PARTITION BY l_orderkey
      |                       ORDER BY l_linenumber, l_partkey, l_suppkey) AS rn
      |  FROM lineitem
      |) WHERE rn = 1
      |ORDER BY l_orderkey""".stripMargin) { (s, dir) =>
    // The sort key must be TOTAL over the projected columns: linenumber alone
    // is not unique per order in this data, and a partial order makes the
    // keep-first winner depend on partitioning.
    val w = Window.partitionBy("l_orderkey")
      .orderBy("l_linenumber", "l_partkey", "l_suppkey")
    Tables.lineitem(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
      .orderBy("l_orderkey")
  }

  /** W3 reindex 0..N-1 within group (reference align_transform:111 overwrites
    * frame_index with a post-sort contiguous range).
    */
  val q05Reindex: Q = Q(
    "q05_reindex",
    """SELECT l_orderkey, l_linenumber,
      |  row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber) - 1 AS new_index
      |FROM lineitem
      |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy("l_orderkey").orderBy("l_linenumber")
    Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
        (row_number().over(w) - 1).as("new_index"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** A2 monotonicity / sortedness check via lag: is `ts` non-decreasing and
    * `value` strictly increasing when each user's events are ordered by
    * event_id? (reference validate_one.py:93-94 checks frame/timestamp order
    * with diff()).
    */
  val q06Monotonic: Q = Q(
    "q06_monotonic_check",
    """SELECT user_id, count(*) AS n_events,
      |  CAST(min(CASE WHEN ts_ok THEN 1 ELSE 0 END) AS BOOLEAN) AS ts_sorted,
      |  CAST(min(CASE WHEN ev_ok THEN 1 ELSE 0 END) AS BOOLEAN) AS events_distinct
      |FROM (
      |  SELECT user_id,
      |    coalesce(epoch_us(CAST(ts AS TIMESTAMP)) >= lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER w, TRUE) AS ts_ok,
      |    coalesce(event_id > lag(event_id) OVER w, TRUE) AS ev_ok
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
      |)
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy("user_id").orderBy("event_id")
    Tables.events(s, dir)
      .withColumn("ts_us", unix_micros(col("ts")))
      .withColumn("ts_ok", coalesce(col("ts_us") >= lag("ts_us", 1).over(w), lit(true)))
      .withColumn("ev_ok", coalesce(col("event_id") > lag("event_id", 1).over(w), lit(true)))
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_events"),
        min(when(col("ts_ok"), 1).otherwise(0)).cast("boolean").as("ts_sorted"),
        min(when(col("ev_ok"), 1).otherwise(0)).cast("boolean").as("events_distinct"))
      .orderBy("user_id")
  }

  /** F3 + F6: CASE-WHEN classification + deterministic seeded hash split
    * (the reference's materialize split, materialize_refactored.py:16-26,
    * re-expressed with the portable md5-60bit hash — see Hashing.scaladoc).
    */
  val q07HashSplit: Q = Q(
    "q07_hash_split",
    """SELECT split, event_type, count(*) AS n,
      |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_value
      |FROM (
      |  SELECT event_type, value,
      |    CASE
      |      WHEN h < 0.8 THEN 'train'
      |      WHEN h < 0.9 THEN 'val'
      |      ELSE 'test'
      |    END AS split
      |  FROM (
      |    SELECT event_type, value,
      |      CAST(CAST(('0x' || substring(md5('42' || ':' || CAST(user_id AS VARCHAR)),1,15)) AS BIGINT) AS DOUBLE)/1152921504606846976.0 AS h
      |    FROM events
      |  )
      |)
      |GROUP BY split, event_type
      |ORDER BY split, event_type""".stripMargin) { (s, dir) =>
    Tables.events(s, dir)
      .withColumn("split",
        Hashing.splitAssign(col("user_id").cast("string"), "42", 0.8, 0.1))
      .groupBy("split", "event_type")
      .agg(count(lit(1)).as("n"),
        fromCents(sum(cents(col("value")))).as("sum_value"))
      .orderBy("split", "event_type")
  }

  /** J5 semi-join: customers having at least one open-priority order. */
  val q08SemiJoin: Q = Q(
    "q08_semi_join",
    """SELECT c.c_mktsegment AS segment, count(*) AS n_customers
      |FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
      |GROUP BY c.c_mktsegment
      |ORDER BY segment""".stripMargin) { (s, dir) =>
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir).filter(col("o_orderpriority") === "1-URGENT")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy("segment")
  }

  /** J2 anti-join (the discover stage's DELETED-tombstone shape,
    * discover_refactored.py:124-136): customers with no urgent orders.
    * (Every customer has *some* order in this corpus, so the filterless
    * anti-join would be a degenerate empty gate.)
    */
  val q09AntiJoin: Q = Q(
    "q09_anti_join",
    """SELECT c_custkey, c_name, c_mktsegment
      |FROM customer c
      |WHERE NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
      |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir).filter(col("o_orderpriority") === "1-URGENT")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select("c_custkey", "c_name", "c_mktsegment")
      .orderBy("c_custkey")
  }

  /** U1 relaxed by-name union (discover_refactored.py:159-163 unions rows
    * with heterogeneous columns): parts and suppliers as one entity table,
    * missing columns null-filled.
    */
  val q10UnionByName: Q = Q(
    "q10_union_by_name",
    """SELECT kind, id, name, size
      |FROM (
      |  SELECT 'part' AS kind, p_partkey AS id, p_name AS name, p_size AS size FROM part
      |  UNION ALL BY NAME
      |  SELECT 'supplier' AS kind, s_suppkey AS id, s_name AS name, NULL::INTEGER AS size FROM supplier
      |)
      |ORDER BY kind, id""".stripMargin) { (s, dir) =>
    val p = Tables.part(s, dir)
      .select(lit("part").as("kind"), col("p_partkey").as("id"),
        col("p_name").as("name"), col("p_size").as("size"))
    val sup = Tables.supplier(s, dir)
      .select(lit("supplier").as("kind"), col("s_suppkey").as("id"),
        col("s_name").as("name"))
    p.unionByName(sup, allowMissingColumns = true)
      .select("kind", "id", "name", "size")
      .orderBy("kind", "id")
  }

  /** U2/J6 distinct key pairs + F1-style scalar derivation. */
  val q11DistinctPairs: Q = Q(
    "q11_distinct_pairs",
    """SELECT l_suppkey, count(DISTINCT l_partkey) AS n_parts,
      |  count(DISTINCT l_orderkey) AS n_orders
      |FROM lineitem
      |GROUP BY l_suppkey
      |ORDER BY l_suppkey""".stripMargin) { (s, dir) =>
    Tables.lineitem(s, dir)
      .groupBy("l_suppkey")
      .agg(countDistinct("l_partkey").as("n_parts"),
        countDistinct("l_orderkey").as("n_orders"))
      .orderBy("l_suppkey")
  }

  /** F7/F4 group fingerprint: md5 over the sorted member encodings of each
    * order (order-independent combine like fp/fingerprint.py:37-38).
    */
  val q12OrderFingerprint: Q = Q(
    "q12_order_fingerprint",
    """SELECT l_orderkey,
      |  md5(string_agg(part, ',' ORDER BY part)) AS fingerprint,
      |  count(*) AS n_lines
      |FROM (
      |  SELECT l_orderkey,
      |    CAST(l_linenumber AS VARCHAR) || ':' || CAST(l_partkey AS VARCHAR) || ':' || CAST(l_suppkey AS VARCHAR) AS part
      |  FROM lineitem
      |)
      |GROUP BY l_orderkey
      |ORDER BY l_orderkey""".stripMargin) { (s, dir) =>
    Tables.lineitem(s, dir)
      .withColumn("part",
        concat_ws(":", col("l_linenumber").cast("string"),
          col("l_partkey").cast("string"), col("l_suppkey").cast("string")))
      .groupBy("l_orderkey")
      .agg(
        Hashing.combineFingerprint(collect_list(col("part"))).as("fingerprint"),
        count(lit(1)).as("n_lines"))
      .orderBy("l_orderkey")
  }

  /** P4/P5-style predicate stack: null/NaN guard + range filter + projection
    * (pushed to the parquet scan by Catalyst).
    */
  val q13FilterPushdown: Q = Q(
    "q13_filter_pushdown",
    """SELECT event_id, user_id, event_type,
      |  CAST(round(value*100) AS BIGINT) AS value_cents
      |FROM events
      |WHERE value IS NOT NULL AND NOT isnan(value)
      |  AND value >= 100.0 AND event_type IN ('click','purchase')
      |ORDER BY event_id""".stripMargin) { (s, dir) =>
    Tables.events(s, dir)
      .filter(col("value").isNotNull && !isnan(col("value")) &&
        col("value") >= 100.0 && col("event_type").isin("click", "purchase"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        cents(col("value")).as("value_cents"))
      .orderBy("event_id")
  }

  /** Time-bucketed aggregation (tumbling window, processing the `events`
    * table the way the streaming path would — hourly buckets, exact sums).
    */
  val q14EventsHourly: Q = Q(
    "q14_events_hourly",
    """SELECT epoch_ms(CAST(date_trunc('hour', ts) AS TIMESTAMP)) AS hour_start,
      |  event_type, count(*) AS n,
      |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY hour_start, event_type""".stripMargin) { (s, dir) =>
    Tables.events(s, dir)
      .groupBy(
        unix_millis(date_trunc("hour", col("ts"))).as("hour_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        fromCents(sum(cents(col("value")))).as("sum_value"))
      .orderBy("hour_start", "event_type")
  }

  /** Distinct aggregate (extension surface — the reference has none):
    * exact per-group distinct cardinality. Spark plans this as a two-phase
    * expand/partial-distinct aggregation — distributable, unlike a naive
    * collect_set. The sketch twin for 100 TB (`approx_count_distinct`,
    * HLL++) is property-tested against this exact form in PropertySpec:
    * sketch VALUES are engine-specific, so only the exact form is
    * oracle-hashable.
    */
  val q41DistinctUsers: Q = Q(
    "q41_distinct_users",
    """SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin) { (s, dir) =>
    Tables.events(s, dir)
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
      .orderBy("event_type")
  }

  /** Pivot (extension surface): per-user event counts widened to one
    * column per event type. With an EXPLICIT value list Spark compiles
    * the pivot to a single conditional-aggregation pass (no second scan
    * to discover values, which at 100 TB would double the read) — the
    * same shape the oracle states as FILTER counts. Spark leaves
    * never-seen combinations null where a FILTER count yields 0, so the
    * pivot output is coalesced to make the contract exact.
    */
  val q43PivotUserEvents: Q = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    Q(
      "q43_pivot_user_events",
      s"""SELECT user_id,
         |${types.map(t => s"  count(*) FILTER (WHERE event_type = '$t') AS $t").mkString(",\n")}
         |FROM events
         |GROUP BY user_id
         |ORDER BY user_id""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .groupBy("user_id")
        .pivot("event_type", types)
        .agg(count(lit(1)))
        .select(col("user_id") +: types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
        .orderBy("user_id")
    }
  }

  /** As-of join (extension surface — Spark has no built-in): every
    * purchase matched to the user's most recent click at-or-before it.
    * One shuffle (union + window merge, ops/AsOfJoin); the oracle mirrors
    * the same interleave so tie semantics hash identically.
    */
  val q44AsofClicks: Q = Q(
    "q44_asof_clicks",
    """WITH u AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, 0 AS side,
      |    event_id AS tb, epoch_us(CAST(ts AS TIMESTAMP)) AS rts,
      |    event_id AS cid, CAST(NULL AS BIGINT) AS eid
      |  FROM events WHERE event_type = 'click'
      |  UNION ALL
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)), 1,
      |    event_id, NULL, NULL, event_id
      |  FROM events WHERE event_type = 'purchase'
      |), c AS (
      |  SELECT user_id, ts_us, side, eid,
      |    last_value(rts IGNORE NULLS) OVER w AS asof_ts_us,
      |    last_value(cid IGNORE NULLS) OVER w AS click_id
      |  FROM u
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, side, tb
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |)
      |SELECT user_id, ts_us, eid AS event_id, asof_ts_us, click_id
      |FROM c WHERE side = 1
      |ORDER BY user_id, ts_us, event_id""".stripMargin) { (s, dir) =>
    val base = Tables.events(s, dir).select(col("user_id"),
      unix_micros(col("ts")).as("ts_us"), col("event_id"), col("event_type"))
    val purchases = base.filter(col("event_type") === "purchase")
      .select("user_id", "ts_us", "event_id")
    val clicks = base.filter(col("event_type") === "click")
      .select("user_id", "ts_us", "event_id")
    graft.ops.AsOfJoin.backward(purchases, clicks, "user_id", "ts_us",
      "event_id", Seq("event_id" -> "click_id"))
      .orderBy("user_id", "ts_us", "event_id")
  }

  /** As-of FORWARD join: every purchase matched to the user's NEXT click
    * at or after it (response attribution), via the same union + one-window
    * merge as q44 with the frame flipped — `first_value IGNORE NULLS` over
    * `ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING`. One key shuffle,
    * no range explosion; tie contract mirrored in the oracle (left before
    * right at equal ts, smallest event_id among equal right ts).
    */
  val q136AsofForward: Q = Q(
    "q136_asof_forward",
    """WITH u AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, 1 AS side,
      |    event_id AS tb, epoch_us(CAST(ts AS TIMESTAMP)) AS rts,
      |    event_id AS cid, CAST(NULL AS BIGINT) AS eid
      |  FROM events WHERE event_type = 'click'
      |  UNION ALL
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)), 0,
      |    event_id, NULL, NULL, event_id
      |  FROM events WHERE event_type = 'purchase'
      |), c AS (
      |  SELECT user_id, ts_us, side, eid,
      |    first_value(rts IGNORE NULLS) OVER w AS asof_ts_us,
      |    first_value(cid IGNORE NULLS) OVER w AS click_id
      |  FROM u
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, side, tb
      |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
      |)
      |SELECT user_id, ts_us, eid AS event_id, asof_ts_us, click_id
      |FROM c WHERE side = 0
      |ORDER BY user_id, ts_us, event_id""".stripMargin) { (s, dir) =>
    val base = Tables.events(s, dir).select(col("user_id"),
      unix_micros(col("ts")).as("ts_us"), col("event_id"), col("event_type"))
    val purchases = base.filter(col("event_type") === "purchase")
      .select("user_id", "ts_us", "event_id")
    val clicks = base.filter(col("event_type") === "click")
      .select("user_id", "ts_us", "event_id")
    graft.ops.AsOfJoin.forward(purchases, clicks, "user_id", "ts_us",
      "event_id", Seq("event_id" -> "click_id"))
      .orderBy("user_id", "ts_us", "event_id")
  }

  /** Semi-structured VARIANT path (Spark 4): the props JSON parsed into the
    * binary VariantType (`parse_json`) and fields read back with typed
    * `variant_get` — the open-schema alternative to q58's declared-schema
    * `from_json` (no schema up front; shredded field access at scan speed).
    * Same engine-visible contract, different decode path, both gated.
    */
  val q139VariantProps: Q = Q(
    "q139_variant_props",
    """SELECT CAST(json_extract(props, '$.k') AS BIGINT) % 7 AS k_res,
      |  count(*) AS n, CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
      |FROM events
      |WHERE props IS NOT NULL
      |GROUP BY 1
      |ORDER BY k_res NULLS FIRST""".stripMargin) { (s, dir) =>
    Tables.events(s, dir)
      .filter(col("props").isNotNull)
      .select(
        expr("variant_get(parse_json(props), '$.k', 'bigint')").as("k"),
        col("value"))
      .groupBy((col("k") % 7).as("k_res"))
      .agg(count(lit(1)).as("n"),
        sum(col("k")).as("sum_k"),
        sum(cents(col("value"))).as("sum_value_cents"))
      .orderBy("k_res")
  }

  /** Range join (extension surface — no Spark built-in): lineitems
    * matched to IRREGULAR quantity bands `[lo, hi)` via the bucketized
    * equi-join (ops/RangeJoin) instead of an un-plannable theta join.
    * The band table is inlined on both engines; the oracle states the
    * range predicate directly (DuckDB plans it natively as an IEJoin).
    */
  val q45RangeBands: Q = {
    val bands = Seq(("b0_tiny", 0L, 3L), ("b1_small", 3L, 7L),
      ("b2_mid", 7L, 15L), ("b3_large", 15L, 30L), ("b4_huge", 30L, 60L))
    Q(
      "q45_range_bands",
      s"""WITH bands(band, lo, hi) AS (VALUES
         |  ${bands.map { case (b, lo, hi) => s"('$b', $lo, $hi)" }.mkString(", ")})
         |SELECT band, count(*) AS n,
         |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
         |FROM lineitem JOIN bands
         |  ON CAST(l_quantity AS BIGINT) >= lo AND CAST(l_quantity AS BIGINT) < hi
         |GROUP BY band
         |ORDER BY band""".stripMargin) { (s, dir) =>
      import s.implicits._
      val bandDf = bands.toDF("band", "lo", "hi")
      val items = Tables.lineitem(s, dir)
        .select(col("l_quantity").cast("long").as("q"))
      graft.ops.RangeJoin.bucketed(items, "q", bandDf, "lo", "hi", bucketWidth = 8L)
        .groupBy("band")
        .agg(count(lit(1)).as("n"), sum("q").as("sum_qty"))
        .orderBy("band")
    }
  }

  /** Unpivot/melt (extension surface): the q43 wide table back to long
    * (user_id, event_type, n) INCLUDING explicit zero rows — Spark's
    * `unpivot` is a per-row Expand (map-side, no shuffle); the oracle
    * states the same long form as users × types with left-joined counts.
    */
  val q46UnpivotUserEvents: Q = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    Q(
      "q46_unpivot_user_events",
      """WITH t(event_type) AS (VALUES ('click'), ('error'), ('purchase'), ('signup'), ('view')),
        |u AS (SELECT DISTINCT user_id FROM events),
        |c AS (SELECT user_id, event_type, count(*) AS n FROM events GROUP BY 1, 2)
        |SELECT u.user_id, t.event_type, CAST(COALESCE(c.n, 0) AS BIGINT) AS n
        |FROM u CROSS JOIN t
        |LEFT JOIN c ON c.user_id = u.user_id AND c.event_type = t.event_type
        |ORDER BY u.user_id, t.event_type""".stripMargin) { (s, dir) =>
      val wide = Tables.events(s, dir)
        .groupBy("user_id")
        .pivot("event_type", types)
        .agg(count(lit(1)))
        .select(col("user_id") +: types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
      wide.unpivot(Array(col("user_id")), types.map(col).toArray, "event_type", "n")
        .orderBy("user_id", "event_type")
    }
  }

  /** Ranking-window suite (extension surface): rank / dense_rank /
    * ntile / percent_rank / cume_dist over users ordered by exact total
    * event value. The global window ranks the AGGREGATED users-sized
    * table, not the event corpus — the corpus pays one groupBy shuffle
    * with map-side partial sums, and only the aggregate (|users| rows)
    * passes through the single-partition global sort. Ordering key
    * (cents desc, user_id) is total, so every rank function is
    * deterministic and the percent ranks are exact IEEE divisions.
    */
  val q53RankingSuite: Q = Q(
    "q53_ranking_suite",
    """WITH t AS (
      |  SELECT user_id,
      |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      |  FROM events GROUP BY user_id
      |)
      |SELECT user_id, CAST(cents AS DOUBLE) / 100.0 AS total_value,
      |  rank() OVER o AS rnk,
      |  dense_rank() OVER o AS dense_rnk,
      |  ntile(4) OVER o AS quartile,
      |  CAST(floor(percent_rank() OVER o * 1000000 + 0.5) AS BIGINT) / CAST(1000000 AS DOUBLE) AS pct_rank,
      |  CAST(floor(cume_dist() OVER o * 1000000 + 0.5) AS BIGINT) / CAST(1000000 AS DOUBLE) AS cume
      |FROM t
      |WINDOW o AS (ORDER BY cents DESC, user_id)
      |ORDER BY user_id""".stripMargin) { (s, dir) =>
    import graft.functions.Exact
    val t = Tables.events(s, dir)
      .groupBy("user_id")
      .agg(sum(Exact.cents(col("value"))).as("cents"))
    val o = org.apache.spark.sql.expressions.Window
      .orderBy(col("cents").desc, col("user_id"))
    t.select(
        col("user_id"),
        Exact.fromCents(col("cents")).as("total_value"),
        rank().over(o).as("rnk"),
        dense_rank().over(o).as("dense_rnk"),
        ntile(4).over(o).as("quartile"),
        Exact.roundPortable(percent_rank().over(o), 6).as("pct_rank"),
        Exact.roundPortable(cume_dist().over(o), 6).as("cume"))
      .orderBy("user_id")
  }

  /** Full outer join (completes the join family next to inner / left /
    * semi / anti): high-balance customers reconciled against
    * frequent-order customers — both unmatched sides survive with null
    * fills and a side classification. Spark plans full outer as a
    * sort-merge join (broadcast is not available for full outer): one
    * shuffle per side on the key, which is the scale-correct shape.
    */
  val q54FullOuterReconcile: Q = Q(
    "q54_full_outer_reconcile",
    """WITH a AS (
      |  SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal > 7000
      |), b AS (
      |  SELECT o_custkey, count(*) AS n_orders FROM orders
      |  GROUP BY o_custkey HAVING count(*) >= 3
      |)
      |SELECT coalesce(a.c_custkey, b.o_custkey) AS custkey,
      |  a.c_acctbal, b.n_orders,
      |  CASE WHEN a.c_custkey IS NULL THEN 'orders_only'
      |       WHEN b.o_custkey IS NULL THEN 'balance_only'
      |       ELSE 'both' END AS side
      |FROM a FULL OUTER JOIN b ON a.c_custkey = b.o_custkey
      |ORDER BY custkey""".stripMargin) { (s, dir) =>
    val a = Tables.customer(s, dir)
      .filter(col("c_acctbal") > 7000)
      .select("c_custkey", "c_acctbal")
    val b = Tables.orders(s, dir)
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"))
      .filter(col("n_orders") >= 3)
    a.join(b, a("c_custkey") === b("o_custkey"), "full_outer")
      .select(
        coalesce(a("c_custkey"), b("o_custkey")).as("custkey"),
        a("c_acctbal"), b("n_orders"),
        when(a("c_custkey").isNull, "orders_only")
          .when(b("o_custkey").isNull, "balance_only")
          .otherwise("both").as("side"))
      .orderBy("custkey")
  }

  /** CDC latest-wins upsert (ops/Upsert): the customer snapshot with an
    * order-derived change feed applied — per customer the newest order
    * (by orderdate, orderkey) overwrites the balance, and a newest order
    * in status 'F' acts as a tombstone deleting the key. One shuffle
    * (window on the key); the same MERGE shape as the reference's
    * manifest CDC (SURVEY T1/T4) without a table format.
    */
  val q56CdcUpsert: Q = Q(
    "q56_cdc_upsert",
    """WITH all_rows AS (
      |  SELECT c_custkey AS custkey, c_acctbal AS balance,
      |    CAST(-1 AS BIGINT) AS ver_ts, CAST(-1 AS BIGINT) AS ver_id,
      |    false AS deleted
      |  FROM customer
      |  UNION ALL
      |  SELECT o_custkey, o_totalprice,
      |    epoch_ms(CAST(o_orderdate AS TIMESTAMP)), o_orderkey,
      |    (o_orderstatus = 'F')
      |  FROM orders
      |), ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY custkey
      |    ORDER BY ver_ts DESC, ver_id DESC) AS rn
      |  FROM all_rows
      |)
      |SELECT custkey, balance, (ver_id >= 0) AS from_change
      |FROM ranked WHERE rn = 1 AND NOT deleted
      |ORDER BY custkey""".stripMargin) { (s, dir) =>
    val base = Tables.customer(s, dir).select(
      col("c_custkey").as("custkey"), col("c_acctbal").as("balance"),
      lit(-1L).as("ver_ts"), lit(-1L).as("ver_id"), lit(false).as("deleted"))
    val changes = Tables.orders(s, dir).select(
      col("o_custkey").as("custkey"), col("o_totalprice").as("balance"),
      // parquet timestamp[ms] loads as TIMESTAMP_NTZ; session TZ is UTC on
      // both engines, so the NTZ→TZ cast yields DuckDB's epoch_ms exactly
      unix_millis(col("o_orderdate").cast("timestamp")).as("ver_ts"),
      col("o_orderkey").as("ver_id"),
      (col("o_orderstatus") === "F").as("deleted"))
    graft.ops.Upsert.latestWins(base, changes, Seq("custkey"),
      Seq("ver_ts", "ver_id"), "deleted")
      .select(col("custkey"), col("balance"), (col("ver_id") >= 0).as("from_change"))
      .orderBy("custkey")
  }

  /** Semi-structured extraction: the events `props` JSON column parsed
    * ONCE per row with a declared schema (`from_json` — typed, codegen'd,
    * no re-parse per field, unlike chained get_json_object calls), then
    * aggregated by the extracted field. The schema-on-read pattern for
    * sidecar metadata at scale.
    */
  val q58PropsExtract: Q = Q(
    "q58_props_extract",
    """SELECT k_bucket, count(*) AS n,
      |  CAST(sum(k) AS BIGINT) AS sum_k,
      |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
      |FROM (
      |  SELECT CAST(json_extract(props, '$.k') AS BIGINT) AS k,
      |    CAST(json_extract(props, '$.k') AS BIGINT) // 10 AS k_bucket, value
      |  FROM events
      |)
      |GROUP BY k_bucket
      |ORDER BY k_bucket""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.types._
    val propsSchema = StructType(Seq(StructField("k", LongType)))
    Tables.events(s, dir)
      .withColumn("_p", from_json(col("props"), propsSchema))
      // FLOOR division to match DuckDB's `//` (Spark DIV truncates toward
      // zero — differs on negative k): subtract the positive modulus first,
      // so the quotient is exact at any BIGINT magnitude (no double round-trip)
      .select(col("_p.k").as("k"),
        expr("(_p.k - pmod(_p.k, 10)) DIV 10").as("k_bucket"), col("value"))
      .groupBy("k_bucket")
      .agg(count(lit(1)).as("n"),
        sum("k").as("sum_k"),
        sum(graft.functions.Exact.cents(col("value"))).as("sum_value_cents"))
      .orderBy("k_bucket")
  }

  /** Ordered sequence extraction (array agg): each user's first 20 event
    * types in time order — the behavioral-sequence shape a training
    * pipeline feeds to sequence models. `collect_list` alone is
    * partition-order-nondeterministic, so the events are collected as
    * (ts, id, type) structs and sorted IN the array (sort_array on the
    * struct = lexicographic on the total-order key), then projected —
    * deterministic under any shuffle topology.
    *
    * The first-20 cut happens BEFORE collection (round-14
    * collect-then-slice audit): slicing after collect_list still
    * materialized every event of a hot user in one non-spillable agg
    * buffer — a bot account with 10⁸ events is a multi-GB buffer for a
    * 20-element output. The rank window shares the groupBy's exchange
    * (same key) and spills; (ts_us, event_id) is the oracle's exact
    * ORDER BY, a total order (event_id unique), so the kept 20 are
    * identical.
    *
    * Gate boundary: the journey ARRAY is comma-joined to one string per
    * user — the driver's pandas hasher cannot sort array cells (round-5
    * q60 crash); sequence consumers use the array form upstream of this
    * final projection.
    */
  val q60UserJourneys: Q = Q(
    "q60_user_journeys",
    """SELECT user_id, count(*) AS n_events,
      |  array_to_string((array_agg(event_type ORDER BY ts_us, event_id))[1:20], ',') AS journey
      |FROM (
      |  SELECT user_id, event_id, event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
      |  FROM events
      |)
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin) { (s, dir) =>
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
    Tables.events(s, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("event_type"))
      .withColumn("_rk", row_number().over(w))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        array_join(transform(sort_array(collect_list(when(col("_rk") <= 20,
            struct(col("ts_us"), col("event_id"), col("event_type"))))),
          e => e.getField("event_type")), ",").as("journey"))
      .orderBy("user_id")
  }

  /** Z-order (Morton) values over (l_partkey, l_suppkey) — the layout key
    * for two-dimensional data skipping (ops.ZOrder.layoutByZ sorts by it;
    * ZOrderSpec proves the balanced-pruning property). The bit interleave
    * is pure integer ops, replayed exactly by the oracle.
    */
  val q71ZOrder: Q = Q(
    "q71_zorder",
    """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
      |  CAST(list_aggregate(list_transform(range(0, 31), i ->
      |    (((l_partkey >> i) & 1) << (2 * i)) | (((l_suppkey >> i) & 1) << (2 * i + 1))),
      |    'sum') AS BIGINT) AS z
      |FROM lineitem
      |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
    Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
        graft.ops.ZOrder.zValue2(col("l_partkey"), col("l_suppkey")).as("z"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** Data-quality counters via Dataset.observe (CollectMetrics): computed
    * during the pass that materializes the frame — no second scan. The
    * oracle recomputes the same exact-integer counters declaratively.
    */
  val q72ObservedQuality: Q = Q(
    "q72_observed_quality",
    """SELECT count(*) AS n_rows,
      |  count(*) FILTER (WHERE l_shipdate IS NULL) AS n_null_ship,
      |  count(*) FILTER (WHERE l_discount < 0 OR l_discount > 1) AS n_bad_discount,
      |  count(*) FILTER (WHERE l_quantity <= 0) AS n_nonpos_qty,
      |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents
      |FROM lineitem""".stripMargin) { (s, dir) =>
    val (observed, obs) = graft.ops.QualityMetrics.lineitemQuality(Tables.lineitem(s, dir))
    graft.ops.QualityMetrics.collect(s, observed, obs)(df => { df.count(); () })
  }

  /** Fixed-width histogram per event type (10 buckets of 50): the binned
    * aggregation every profiling pass needs; bucket arithmetic is one
    * division + floor, portable bit-for-bit.
    */
  val q74ValueHistogram: Q = Q(
    "q74_value_histogram",
    """SELECT event_type, CAST(least(floor(value / 50), 9) AS BIGINT) AS bucket,
      |  count(*) AS n,
      |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
      |FROM events
      |GROUP BY event_type, bucket
      |ORDER BY event_type, bucket""".stripMargin) { (s, dir) =>
    Tables.events(s, dir)
      .groupBy(col("event_type"),
        least(floor(col("value") / 50), lit(9L)).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(graft.functions.Exact.cents(col("value"))).as("sum_cents"))
      .orderBy("event_type", "bucket")
  }

  /** Running per-user cumulative sum — the ROWS UNBOUNDED PRECEDING frame
    * over a (ts, event_id) total order, exact cents.
    */
  val q78RunningSum: Q = Q(
    "q78_running_sum",
    """SELECT event_id, user_id,
      |  CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER (
      |    PARTITION BY user_id
      |    ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_cents
      |FROM events
      |ORDER BY user_id, running_cents, event_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id")
      .orderBy(unix_micros(col("ts")), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, dir)
      .select(col("event_id"), col("user_id"),
        sum(graft.functions.Exact.cents(col("value"))).over(w).as("running_cents"))
      .orderBy("user_id", "running_cents", "event_id")
  }

  /** Percent-of-total (whole-partition window): each nation's share of
    * global revenue — exact cents ratio, one division, portable rounding.
    */
  val q79RevenueShare: Q = Q(
    "q79_revenue_share",
    """WITH rev AS (
      |  SELECT n.n_name,
      |    CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) AS BIGINT) AS cents
      |  FROM lineitem l
      |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
      |  JOIN nation n ON n.n_nationkey = s.s_nationkey
      |  GROUP BY n.n_name
      |)
      |SELECT n_name, cents,
      |  CAST(floor((CAST(cents AS DOUBLE) / CAST(sum(cents) OVER () AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) / CAST(1000000 AS DOUBLE) AS share
      |FROM rev
      |ORDER BY n_name""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val cents = sum(graft.functions.Exact.cents(
      col("l_extendedprice") * (lit(1) - col("l_discount")))).as("cents")
    // supplier grows with SF (10k·SF rows) — stats/AQE decide; nation is a
    // fixed 25-row dim, hinted
    val rev = Tables.lineitem(s, dir)
      .join(Tables.supplier(s, dir), col("s_suppkey") === col("l_suppkey"))
      .join(broadcast(Tables.nation(s, dir)), col("n_nationkey") === col("s_nationkey"))
      .groupBy("n_name").agg(cents)
    rev.select(col("n_name"), col("cents"),
        graft.functions.Exact.roundPortable(
          col("cents").cast("double") /
            sum(col("cents")).over(Window.partitionBy()).cast("double"), 6).as("share"))
      .orderBy("n_name")
  }

  /** Bloom-prefiltered semi-join (ops/BloomJoin): the urgent-order key set
    * (~20% of orders) becomes one bloom sketch; lineitem is prefiltered by
    * a codegen'd might_contain AT THE SCAN before the residual exact
    * semi-join shuffles only survivors. Result is exactly the plain
    * semi-join — the oracle is the IN-subquery form.
    */
  val q106BloomSemiJoin: Q = Q(
    "q106_bloom_semi_join",
    """SELECT l_returnflag,
      |  count(*) AS n_items,
      |  CAST(sum(CAST(round(l_quantity*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_qty,
      |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))) AS DOUBLE)/10000.0 AS revenue
      |FROM lineitem
      |WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
    val urgent = Tables.orders(s, dir)
      .where(col("o_orderpriority") === "1-URGENT")
    graft.ops.BloomJoin.semiJoin(
        Tables.lineitem(s, dir), col("l_orderkey"), urgent, col("o_orderkey"))
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n_items"),
        fromCents(sum(cents(col("l_quantity")))).as("sum_qty"),
        (sum(cents(col("l_extendedprice")) * (lit(100) - cents(col("l_discount"))))
          .cast("double") / 10000.0).as("revenue"))
      .orderBy("l_returnflag")
  }

  /** Bloom-prefiltered ANTI join (ops/BloomJoin.antiJoin — the q09/J2
    * tombstone shape at bloom scale): definite-absent lineitems are kept
    * map-only with NO exchange; only the might_contain sliver pays the
    * exact anti-join. Oracle is NOT EXISTS (same NULL semantics as
    * left_anti).
    */
  val q108BloomAntiJoin: Q = Q(
    "q108_bloom_anti_join",
    """SELECT l_returnflag,
      |  count(*) AS n_items,
      |  CAST(sum(CAST(round(l_quantity*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_qty
      |FROM lineitem l
      |WHERE NOT EXISTS (SELECT 1 FROM orders o
      |  WHERE o.o_orderkey = l.l_orderkey AND o.o_orderpriority = '1-URGENT')
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
    val urgent = Tables.orders(s, dir)
      .where(col("o_orderpriority") === "1-URGENT")
    graft.ops.BloomJoin.antiJoin(
        Tables.lineitem(s, dir), col("l_orderkey"), urgent, col("o_orderkey"))
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n_items"),
        fromCents(sum(cents(col("l_quantity")))).as("sum_qty"))
      .orderBy("l_returnflag")
  }

  /** Hive-partitioned write + pruned selective read, gated with a built-in
    * tripwire: the documents table is rewritten `partitionBy(source)`, read
    * back with a partition-column predicate, and the gate THROWS unless the
    * executed scan carries partition filters that actually shrink the file
    * list (the layout lever that decides whether a selective read touches
    * 3/20ths of a 100 TB table or all of it). The oracle checks the values;
    * the tripwire checks the plan — a gate that silently read everything
    * would still hash-match, so the plan assertion is part of the gate.
    */
  val q131PartitionPrune: Q = Q(
    "q131_partition_prune",
    """SELECT source, count(*) AS n,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM documents
      |WHERE source IN ('src0', 'src1', 'src2')
      |GROUP BY source
      |ORDER BY source""".stripMargin) { (s, dir) =>
    graft.io.TempDirs.withTempDir("q131") { tmpDir =>
      val tmp = tmpDir.toString
      val docs = Tables.documents(s, dir)
      docs.write.mode("overwrite").partitionBy("source").parquet(tmp)
      // explicit schema on the read-back: an EMPTY corpus writes a
      // zero-file layout and schema inference would fail on it — an
      // empty partitioned export is legitimate (round-12 empty sweep)
      val agg = s.read.schema(docs.schema).parquet(tmp)
        .filter(col("source").isin("src0", "src1", "src2"))
        .groupBy("source")
        .agg(count(lit(1)).as("n"), sum("n_chars").cast("long").as("sum_chars"))
        .orderBy("source")
      // the checkpoint pins the rows before withTempDir deletes the staging
      // layout the plan reads from
      val (out, rows, scans) = certified(agg) {
        case sc: org.apache.spark.sql.execution.FileSourceScanExec => sc
      }
      // plan tripwire — fail loudly if the partition filter didn't reach the
      // scan or didn't shrink the file list. A scan stage that produced no
      // rows is replaced by an empty relation in the final adaptive plan,
      // so only a read that flowed must still show its scan.
      if (rows > 0 && scans.isEmpty) throw new IllegalStateException(
        "q131: no FileSourceScanExec in the executed plan")
      scans.headOption.foreach { scan =>
        val total = scan.relation.location.listFiles(Nil, Nil).map(_.files.size).sum
        // total == 0 (empty layout): nothing was partitioned (no dirs to
        // discover, `source` reads as a data column) and nothing can be
        // pruned — both assertions are vacuous, not violated
        if (total > 0 && scan.partitionFilters.isEmpty)
          throw new IllegalStateException(
            "q131: partition filter did not reach the scan (partitionFilters empty)")
        val kept = scan.relation.location.listFiles(
          scan.partitionFilters, scan.dataFilters).map(_.files.size).sum
        if (total > 0 && kept >= total) throw new IllegalStateException(
          s"q131: partition pruning ineffective — scan reads $kept of $total files")
      }
      out
    }
  }

  /** Bucketed co-located join, driver-gated with a plan tripwire: lineitem
    * and orders are rewritten `bucketBy(8, orderkey)` + sortBy, joined with
    * broadcast disabled, and the gate THROWS if ANY exchange appears in the
    * executed join plan — the write-once-shuffle-never lever for repeated
    * joins on a stable key (at 100 TB, re-shuffling the fact table per join
    * is the dominant avoidable cost; bucketing pays it once at write time,
    * and sortBy lets the merge join skip the per-task sort too). The oracle
    * checks the join's values; the tripwire checks the physical plan.
    */
  val q132BucketedJoin: Q = Q(
    "q132_bucketed_join",
    """SELECT c.c_mktsegment AS segment, count(*) AS n_orders,
      |  CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |    AS sum_price_cents
      |FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      |GROUP BY 1
      |ORDER BY 1""".stripMargin) { (s, dir) =>
    graft.io.TempDirs.withTempDir("q132") { wh =>
      // unique table names: repeated/concurrent gate runs in one session
      // must not race on DROP TABLE / saveAsTable (round-7 advice)
      val run = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      val (tOrd, tCust) = (s"q132_ord_$run", s"q132_cust_$run")
      try {
        Tables.orders(s, dir).select("o_custkey", "o_totalprice")
          .write.mode("overwrite").bucketBy(8, "o_custkey").sortBy("o_custkey")
          .option("path", s"$wh/ord").saveAsTable(tOrd)
        Tables.customer(s, dir).select("c_custkey", "c_mktsegment")
          .write.mode("overwrite").bucketBy(8, "c_custkey").sortBy("c_custkey")
          .option("path", s"$wh/cust").saveAsTable(tCust)
        // broadcast off so the no-exchange claim is about bucketing, not
        // about the dimension being small; the threshold is restored only
        // AFTER the gated result is pinned, so the execution the oracle
        // checks is the same one the tripwire certified (round-7 advice).
        // The agg's own groupBy/sort exchanges sit ABOVE the join, so the
        // no-shuffle claim is asserted on the join's SUBTREE: bucketed
        // inputs must feed the merge join with no exchange.
        withConfs(s, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
          val agg = s.table(tOrd)
            .join(s.table(tCust), col("o_custkey") === col("c_custkey"))
            .groupBy(col("c_mktsegment").as("segment"))
            .agg(count(lit(1)).as("n_orders"),
              sum(cents(col("o_totalprice"))).as("sum_price_cents"))
            .orderBy("segment")
          val (out, rows, joins) = certified(agg) {
            case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
            case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
          }
          // vacuous on an empty input — AQE's empty-relation propagation
          // collapses the join away entirely (round-12 empty-input sweep)
          if (rows > 0) {
            if (joins.isEmpty) throw new IllegalStateException(
              "q132: no shuffled/merge join in the executed plan — the " +
                "no-broadcast window did not produce the bucketed join shape")
            val below = joins.flatMap(_.children.flatMap(c => PlanWalk.collect(c) {
              case e: org.apache.spark.sql.execution.exchange.Exchange => e
            }))
            if (below.nonEmpty) throw new IllegalStateException(
              s"q132: bucketed join shuffled (${below.size} exchange(s) below " +
                "the join) — co-located bucketing is not being honored")
          }
          out
        }
      } finally Seq(tOrd, tCust).foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  /** Cost-based join reorder, driver-gated with a plan tripwire: the query
    * is WRITTEN in the worst order (fact ⋈ fact first, the selective
    * filtered dim last); with CBO + ANALYZE'd column stats the optimizer
    * must rewrite the join tree to start from the selective dim — the
    * make-or-break lever for multi-join star queries at 100 TB, where all
    * intermediate sizes depend on which join runs first. The gate THROWS
    * unless (a) the stats-blind plan keeps the written fact-fact order
    * (calibrating that the rewrite can only come from the cost model) and
    * (b) the CBO plan's innermost join touches the dim. The oracle checks
    * the values; DuckDB's own optimizer is free to pick any order — the
    * CONTRACT is the result set.
    */
  val q162CboReorder: Q = Q(
    "q162_cbo_reorder",
    """SELECT o.o_custkey % 8 AS bucket, count(*) AS n,
      |  CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
      |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |WHERE c.c_nationkey = 3
      |GROUP BY 1
      |ORDER BY 1""".stripMargin) { (s, dir) =>
    graft.io.TempDirs.withTempDir("q162") { wh =>
      val run = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      val (tLi, tOrd, tCust) = (s"q162_li_$run", s"q162_ord_$run", s"q162_cust_$run")
      try {
        Tables.lineitem(s, dir).select("l_orderkey", "l_extendedprice")
          .write.mode("overwrite").option("path", s"$wh/li").saveAsTable(tLi)
        Tables.orders(s, dir).select("o_orderkey", "o_custkey")
          .write.mode("overwrite").option("path", s"$wh/ord").saveAsTable(tOrd)
        Tables.customer(s, dir).select("c_custkey", "c_nationkey")
          .write.mode("overwrite").option("path", s"$wh/cust").saveAsTable(tCust)
        Seq(tLi, tOrd, tCust).foreach { t =>
          s.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS FOR ALL COLUMNS")
        }
        val query =
          s"""SELECT o.o_custkey % 8 AS bucket, count(*) AS n,
             |  CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
             |FROM $tLi l JOIN $tOrd o ON l.l_orderkey = o.o_orderkey
             |JOIN $tCust c ON o.o_custkey = c.c_custkey
             |WHERE c.c_nationkey = 3
             |GROUP BY 1""".stripMargin
        // left-to-right catalog-table order of the optimized join tree's leaves
        def leafOrder(df: DataFrame): Seq[String] =
          df.queryExecution.optimizedPlan.collectLeaves().flatMap {
            case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
              r.catalogTable.map(_.identifier.table)
            case _ => None
          }
        val blindOrder = withConfs(s, "spark.sql.cbo.enabled" -> "false") {
          leafOrder(s.sql(query))
        }
        if (blindOrder.take(2).toSet != Set(tLi, tOrd))
          throw new IllegalStateException(
            s"q162: stats-blind plan no longer keeps the written fact-fact " +
              s"order ($blindOrder) — the gate's calibration premise broke")
        withConfs(s, "spark.sql.cbo.enabled" -> "true",
            "spark.sql.cbo.joinReorder.enabled" -> "true") {
          val cboDf = s.sql(query)
          val cboOrder = leafOrder(cboDf)
          if (!cboOrder.take(2).contains(tCust))
            throw new IllegalStateException(
              s"q162: CBO join reorder did not pull the selective dim into the " +
                s"innermost join (leaf order $cboOrder) — stats are not driving " +
                "the join tree")
          // materialize inside the CBO window so the checked values come
          // from the certified plan
          cboDf.orderBy("bucket").localCheckpoint()
        }
      } finally Seq(tLi, tOrd, tCust).foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  /** `body` with the session confs `pins` set, restored after: a key that
    * was set explicitly gets its value back, the others are unset. The
    * snapshot reads the explicit settings alone (`getAll`). `getOption`
    * resolves defaults and fallback keys, and `get(k, null)` still follows
    * a fallback key to its parent's setting, so restoring either would
    * leave a key that was unset (say
    * `spark.sql.adaptive.advisoryPartitionSizeInBytes`) explicitly set and
    * no longer following its parent for the rest of the session.
    */
  private def withConfs[T](s: SparkSession, pins: (String, String)*)(body: => T): T = {
    val set = s.conf.getAll
    try {
      pins.foreach { case (k, v) => s.conf.set(k, v) }
      body
    } finally pins.foreach { case (k, _) => set.get(k).fold(s.conf.unset(k))(s.conf.set(k, _)) }
  }

  /** Spark's walker over executed plans: it descends into an adaptive
    * plan's current plan and into each query stage's plan, which a plain
    * `collect` treats as leaves. Its own object, so the trait's
    * `collect`/`find`/`foreach` stay out of `Relational`'s scope.
    */
  private object PlanWalk
      extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

  /** The certification step of a plan-tripwired gate: runs `df` once, as
    * an eager `localCheckpoint`, and returns the pinned rows, the row count
    * observed on that same job, and the nodes of its finalized adaptive
    * plan that `pf` matches. The count reads 0 when the optimizer proved
    * the plan empty and dropped the observer (`Observed.longs`).
    */
  private def certified[T](df: DataFrame)(
      pf: PartialFunction[org.apache.spark.sql.execution.SparkPlan, T])
      : (DataFrame, Long, Seq[T]) = {
    val obs = org.apache.spark.sql.Observation()
    val observed = df.observe(obs, count(lit(1)).as("rows"))
    val out = observed.localCheckpoint()
    val Seq(rows) = graft.stages.Observed.longs(obs, "rows")
    (out, rows, PlanWalk.collect(observed.queryExecution.executedPlan)(pf))
  }

  /** Runtime bloom-filter injection (`InjectRuntimeFilter`), driver-gated
    * with a plan tripwire (round-7 verdict #4 — previously spec-only in
    * AdaptiveSpec): a selective dim filter is turned into a bloom filter
    * built from the creation side and pushed onto the FACT scan, so the
    * shuffle moves only rows that might join — at 100 TB this is the
    * difference between shuffling the whole fact table and shuffling the
    * ~matching sliver when the dim predicate is selective but not
    * broadcast-small. Gate THROWS unless the EXECUTED plan carries a
    * `BloomFilterMightContain` on the fact side; the oracle checks the
    * join's values against a plain join.
    */
  val q140BloomInject: Q = Q(
    "q140_bloom_inject",
    """SELECT l_returnflag, count(*) AS n_items,
      |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT)
      |    AS sum_price_cents
      |FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      |WHERE o.o_orderpriority = '1-URGENT'
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
    withConfs(s,
      // broadcast off: with a broadcast-able dim the planner ships the dim
      // itself (strictly better); the bloom path is FOR the non-broadcast
      // regime, so the gate pins that regime explicitly
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      // sf-sized thresholds: the production defaults (10 MB creation side /
      // 10 GB application-side scan) gate the identical rewrite at cluster
      // scale — the rule, not the thresholds, is what the gate certifies
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "1KB",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB") {
      val urgent = Tables.orders(s, dir)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey")
      val joined = Tables.lineitem(s, dir)
        .select("l_orderkey", "l_returnflag", "l_extendedprice")
        .join(urgent, col("l_orderkey") === col("o_orderkey"))
      // the bloom-pushed fact scan is inside the gated aggregate's plan.
      // `rows` counts the aggregate's output, which is empty iff the join
      // output was, so the plan-shape assertion stays vacuous when AQE's
      // empty-relation propagation collapses the join (round-12 sweep).
      val agg = joined.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_items"),
          sum(cents(col("l_extendedprice"))).as("sum_price_cents"))
        .orderBy("l_returnflag")
      val (out, rows, blooms) = certified(agg) {
        case f: org.apache.spark.sql.execution.FilterExec
            if f.condition.exists(_.isInstanceOf[
              org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain]) => f
      }
      if (rows > 0 && blooms.isEmpty) throw new IllegalStateException(
        "q140: no BloomFilterMightContain in the executed plan — the " +
          "runtime bloom-filter injection did not fire")
      out
    }
  }

  /** Dynamic partition pruning (DPP), driver-gated with a plan tripwire:
    * the documents table is rewritten hive-partitioned by `source`, joined
    * to a small dimension whose SELECTIVE predicate is on a NON-partition
    * column (`grp = 1` — derivable only by running the dim side), and the
    * gate THROWS unless the executed fact scan carries a
    * `DynamicPruningExpression` in its partition filters AND the runtime
    * partition count actually shrank. q131 gates STATIC pruning (predicate
    * literally on the partition column); DPP is the star-schema version —
    * at 100 TB the dim filter is almost never on the partition column
    * itself, and without DPP the fact side reads every partition before
    * the join throws 3/4 of them away. The dim is written to parquet and
    * read back so the build side is a real scan (the shape the rule serves),
    * not a foldable local relation.
    */
  val q143DppPrune: Q = Q(
    "q143_dpp_prune",
    """WITH dim AS (
      |  SELECT DISTINCT source,
      |    CAST(substring(source, 4) AS INT) % 4 AS grp
      |  FROM documents
      |)
      |SELECT d.source, count(*) AS n, CAST(sum(d.n_chars) AS BIGINT) AS sum_chars
      |FROM documents d JOIN dim ON dim.source = d.source
      |WHERE dim.grp = 1
      |GROUP BY d.source
      |ORDER BY d.source""".stripMargin) { (s, dir) =>
    // The tripwire certifies the DPP RULE, and the rule (with the default
    // dynamicPartitionPruning.reuseBroadcastOnly=true) only fires when the
    // dim side is broadcast-able — so the gate pins the confs its verdict
    // depends on, the q144 discipline: an ambient session that disables
    // broadcast joins (the invariance sweep's `nobroadcast` mode, or a
    // cluster default) must not flip a certification gate into a refusal.
    withConfs(s,
      "spark.sql.optimizer.dynamicPartitionPruning.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "10MB",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "10MB"
    )(graft.io.TempDirs.withTempDir("q143") { tmpDir =>
      val docs = Tables.documents(s, dir)
      docs.write.mode("overwrite").partitionBy("source")
        .parquet(s"$tmpDir/fact")
      val dimSchema = org.apache.spark.sql.types.StructType(
        Seq(docs.schema("source"),
          org.apache.spark.sql.types.StructField("grp",
            org.apache.spark.sql.types.IntegerType)))
      docs.select(col("source")).distinct()
        .withColumn("grp", expr("CAST(substring(source, 4) AS INT) % 4"))
        .write.mode("overwrite").parquet(s"$tmpDir/dim")
      // explicit schemas: an EMPTY corpus writes zero-file layouts on both
      // sides and schema inference would fail (round-12 empty sweep)
      val fact = s.read.schema(docs.schema).parquet(s"$tmpDir/fact")
      val dim = s.read.schema(dimSchema).parquet(s"$tmpDir/dim")
        .filter(col("grp") === 1)
        .select(col("source").as("dim_source"))
      val joined = fact.join(dim, col("source") === col("dim_source"))
      // the DPP'd fact scan (and its numPartitions metric) is inside the
      // gated aggregate's plan; `rows` is empty iff the join output was
      val agg = joined.groupBy("source")
        .agg(count(lit(1)).as("n"), sum("n_chars").cast("long").as("sum_chars"))
        .orderBy("source")
      val (out, rows, scans) = certified(agg) {
        case sc: org.apache.spark.sql.execution.FileSourceScanExec
            if sc.relation.partitionSchema.exists(_.name == "source") => sc
      }
      // the fact scan's own listing: one directory per `source` value
      val totalParts = scans.headOption.fold(0)(_.relation.location.listFiles(Nil, Nil).size)
      // DPP is only assertable when it could have fired AND shrunk
      // something: with <2 partitions there is nothing to prune away, and
      // with zero join output the empty dim side collapses the plan
      // before any pruning expression exists (round-12 degenerate sweeps)
      if (totalParts > 1 && rows > 0) {
        val dppScan = scans.find(_.partitionFilters.exists(_.exists(
          _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.DynamicPruningExpression])))
          .getOrElse(throw new IllegalStateException(
            "q143: no DynamicPruningExpression on the partitioned fact scan — " +
              "dynamic partition pruning did not fire"))
        val partsRead = dppScan.metrics.get("numPartitions").map(_.value)
        partsRead.foreach { n =>
          if (n >= totalParts) throw new IllegalStateException(
            s"q143: DPP ineffective — fact scan read $n of $totalParts partitions")
        }
      }
      out
    })
  }

  /** AQE skew-join split, driver-gated with a plan tripwire: a 90%-one-key
    * fact (lineitem keyed to a single hot value) sort-merge-joins a
    * 100-key dim with broadcast disabled, skew thresholds scaled to the
    * test corpus, and the gate THROWS unless the executed SortMergeJoin is
    * marked `isSkewJoin` — AQE's runtime answer to the hot-key problem
    * (the hot post-shuffle partition is split into chunks, the matching
    * dim partition replicated per chunk). The thresholds are sf-sized; the
    * RULE is what the gate certifies — at 100 TB the defaults (256 MB
    * partition threshold, factor 5) gate the identical rewrite. This is
    * the runtime twin of q40's deterministic salting: salting restructures
    * the plan ahead of time, AQE repairs it after the map stage measures
    * the actual sizes. The oracle replays the skewed-key derivation and
    * the join on an engine with no AQE — values must be identical because
    * the split changes scheduling, never semantics.
    */
  val q144SkewSplit: Q = Q(
    "q144_skew_split",
    """WITH fact AS (
      |  SELECT CASE WHEN l_orderkey % 10 < 9 THEN 0
      |              ELSE l_orderkey % 100 END AS key,
      |    l_returnflag,
      |    CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents
      |  FROM lineitem
      |), dim AS (
      |  SELECT o_orderkey % 100 AS key, count(*) AS n_orders
      |  FROM orders GROUP BY 1
      |)
      |SELECT f.l_returnflag, count(*) AS n,
      |  CAST(sum(f.price_cents * d.n_orders) AS BIGINT) AS weighted_cents
      |FROM fact f JOIN dim d ON d.key = f.key
      |GROUP BY f.l_returnflag
      |ORDER BY f.l_returnflag""".stripMargin) { (s, dir) =>
    withConfs(s,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      // sf-sized thresholds (defaults: 256MB/factor 5 — right for 100 TB,
      // unreachable for a 60k-row test corpus). Factor 1 + 16KB floor:
      // the hot partition (~90% of the fact, ~500KB of shuffle bytes)
      // trips both conditions at sf0.01 and above.
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB") {
      val fact = Tables.lineitem(s, dir).select(
        when(col("l_orderkey") % 10 < 9, lit(0L))
          .otherwise(col("l_orderkey") % 100).as("key"),
        col("l_returnflag"),
        cents(col("l_extendedprice")).as("price_cents"))
        // AQE splits a skewed reduce partition at MAP-task boundaries — a
        // one-file test corpus produces ONE map task, which is unsplittable
        // by construction. 16 map tasks mimic the many-task map stage any
        // real fact table has; at cluster scale this repartition is absent.
        .repartition(16)
      val dim = Tables.orders(s, dir)
        .groupBy((col("o_orderkey") % 100).as("key"))
        .agg(count(lit(1)).as("n_orders"))
        // pin the dim: OptimizeSkewedJoin matches a bare shuffle stage
        // directly under each Sort — a final-aggregate between Sort and
        // the exchange (the unpinned plan) defeats the pattern, because
        // splitting an aggregation's input would duplicate its rows
        .localCheckpoint()
      val joined = fact.join(dim, Seq("key"))
      // the skew-marked SortMergeJoin is inside the gated aggregate's plan
      // (the groupBy above regroups on a different key, so splitting the
      // join's partitions introduces no extra shuffle and
      // OptimizeSkewedJoin still applies). Vacuous on an empty input — AQE
      // collapses the join (round-12 sweep).
      val agg = joined.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(col("price_cents") * col("n_orders")).as("weighted_cents"))
        .orderBy("l_returnflag")
      val (out, rows, skewed) = certified(agg) {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec
            if j.isSkewJoin => j
      }
      if (rows > 0 && skewed.isEmpty) throw new IllegalStateException(
        "q144: no skew-marked SortMergeJoin in the executed plan — " +
          "AQE skew-join split did not fire")
      out
    }
  }

  /** AQE post-shuffle partition coalescing, driver-gated with a plan
    * tripwire: a small aggregation runs with the session's 32 shuffle
    * partitions, and the gate THROWS unless the executed plan's
    * AQEShuffleRead coalesced them below the static number — the lever
    * that keeps `spark.sql.shuffle.partitions` sized for the LARGEST
    * stage (at 100 TB: tens of thousands) without paying thousands of
    * near-empty tasks on every small intermediate stage. The oracle
    * checks the aggregation's values: coalescing changes task count,
    * never results.
    */
  val q145AqeCoalesce: Q = Q(
    "q145_aqe_coalesce",
    """SELECT o_orderpriority, count(*) AS n,
      |  CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)
      |    AS sum_cents
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
    withConfs(s,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64MB") {
      val agg = Tables.orders(s, dir)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(cents(col("o_totalprice"))).as("sum_cents"))
        .orderBy("o_orderpriority")
      // Vacuous on an empty input — the collapsed plan has no exchange to
      // coalesce (round-12 empty-input sweep).
      val (out, rows, reads) = certified(agg) {
        case r: org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec => r
      }
      val staticParts = s.conf.get("spark.sql.shuffle.partitions").toInt
      if (rows > 0 && reads.isEmpty) throw new IllegalStateException(
        "q145: no AQEShuffleRead in the executed plan — AQE coalescing " +
          "is not active")
      if (rows > 0 && !reads.exists(_.partitionSpecs.size < staticParts))
        throw new IllegalStateException(
          s"q145: AQE did not coalesce below the static $staticParts " +
            s"partitions (specs: ${reads.map(_.partitionSpecs.size).mkString(",")})")
      out
    }
  }

  /** Per-group top-k with WindowGroupLimit pushdown, driver-gated with a
    * plan tripwire: the rank-filter idiom (`row_number() ≤ k`) must plan a
    * `WindowGroupLimit` below the shuffle — each map task keeps only its
    * local top-k per group BEFORE the exchange, so the shuffle moves
    * O(groups·k) rows instead of the whole fact table. At 100 TB the
    * difference is shuffling ~MBs vs the corpus. q03 uses the idiom for
    * values; this gate pins the physical plan so a Spark upgrade or conf
    * drift that silently reverts to full-shuffle window ranking fails
    * loudly.
    */
  val q146WindowTopK: Q = Q(
    "q146_window_topk",
    """WITH ranked AS (
      |  SELECT o_custkey, o_orderkey,
      |    CAST(round(o_totalprice*100) AS BIGINT) AS price_cents,
      |    row_number() OVER (PARTITION BY o_custkey
      |      ORDER BY CAST(round(o_totalprice*100) AS BIGINT) DESC, o_orderkey) AS rk
      |  FROM orders
      |)
      |SELECT o_custkey, o_orderkey, price_cents, rk
      |FROM ranked WHERE rk <= 2
      |ORDER BY o_custkey, rk""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("price_cents").desc, col("o_orderkey"))
    val topk = Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderkey"),
        cents(col("o_totalprice")).as("price_cents"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 2)
      .orderBy("o_custkey", "rk")
    val (out, _, limits) = certified(topk) {
      case l: org.apache.spark.sql.execution.window.WindowGroupLimitExec => l
    }
    if (limits.isEmpty) throw new IllegalStateException(
      "q146: no WindowGroupLimit in the executed plan — the rank filter " +
        "is shuffling the full table before ranking")
    out
  }

  /** AQE runtime join-strategy conversion, driver-gated with a plan
    * tripwire: the STATIC broadcast threshold is disabled (the planner
    * sees an unknown-sized join and picks sort-merge) while the ADAPTIVE
    * threshold stays on — when the filtered dim's true size materializes
    * at runtime, AQE replans the SMJ into a broadcast-hash join. The gate
    * THROWS unless the executed plan carries a BroadcastHashJoin, which
    * under a -1 static threshold can ONLY have come from the runtime
    * conversion. This is the stats-blind-ETL lever at 100 TB: intermediate
    * outputs have no catalog statistics, so compile-time planning cannot
    * know the dim shrank to broadcast size — the runtime measurement can.
    * The oracle checks the join's values; strategy never changes results.
    */
  val q149AqeBroadcast: Q = Q(
    "q149_aqe_broadcast",
    """SELECT l.l_linestatus, count(*) AS n,
      |  CAST(sum(CAST(round(l.l_extendedprice*100) AS BIGINT)) AS BIGINT)
      |    AS sum_price_cents
      |FROM lineitem l
      |JOIN orders o ON o.o_orderkey = l.l_orderkey
      |WHERE o.o_orderpriority = '1-URGENT' AND o.o_totalprice > 150000
      |GROUP BY l.l_linestatus
      |ORDER BY l.l_linestatus""".stripMargin) { (s, dir) =>
    withConfs(s,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "10MB") {
      val dim = Tables.orders(s, dir)
        .filter(col("o_orderpriority") === "1-URGENT" &&
          col("o_totalprice") > 150000)
        .select("o_orderkey")
        // pin: the conversion needs a materialized stage whose runtime
        // size AQE can measure below the adaptive threshold
        .localCheckpoint()
      val joined = Tables.lineitem(s, dir)
        .select("l_orderkey", "l_linestatus", "l_extendedprice")
        .join(dim, col("l_orderkey") === col("o_orderkey"))
      // the runtime-converted BroadcastHashJoin is inside the gated
      // aggregate's plan. Vacuous on an empty input — AQE collapses the
      // join (round-12 sweep).
      val agg = joined.groupBy("l_linestatus")
        .agg(count(lit(1)).as("n"),
          sum(cents(col("l_extendedprice"))).as("sum_price_cents"))
        .orderBy("l_linestatus")
      val (out, rows, bhj) = certified(agg) {
        case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
      }
      if (rows > 0 && bhj.isEmpty) throw new IllegalStateException(
        "q149: no BroadcastHashJoin in the executed plan — AQE did not " +
          "convert the stats-blind sort-merge join at runtime")
      out
    }
  }

  /** 2D skyline (Pareto front) of parts maximizing (p_size,
    * p_retailprice): no other part is ≥ on both axes and > on one. The
    * engine runs the O(n) two-pass group-max + descending running-max plan
    * (ops.Skyline); the oracle replays the same decomposition with a
    * frame-excluded window max, which is provably the dominance test in 2D.
    */
  val q155Skyline: Q = Q(
    "q155_skyline",
    """WITH pts AS (
      |  SELECT p_partkey, p_size, p_retailprice FROM part
      |  WHERE p_size IS NOT NULL AND p_retailprice IS NOT NULL
      |), g AS (SELECT p_size, max(p_retailprice) AS gy FROM pts GROUP BY p_size),
      |r AS (
      |  SELECT p_size, gy, max(gy) OVER (ORDER BY p_size DESC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS em
      |  FROM g)
      |SELECT p.p_partkey, p.p_size, p.p_retailprice
      |FROM pts p JOIN r USING (p_size)
      |WHERE p.p_retailprice = r.gy AND (r.em IS NULL OR r.em < p.p_retailprice)
      |ORDER BY p_partkey""".stripMargin) { (s, dir) =>
    graft.ops.Skyline.front2(
        Tables.part(s, dir).select("p_partkey", "p_size", "p_retailprice"),
        "p_size", "p_retailprice")
      .select("p_partkey", "p_size", "p_retailprice")
      .orderBy("p_partkey")
  }

  /** Hourly gap-fill + forward fill over the event stream: one row per
    * (event_type, hour) in the type's own observed range, zero counts on
    * silent hours, and the running last non-null hourly cents total — the
    * densify primitive under drift monitors and rate curves. The oracle
    * builds the same per-key spine with generate_series and replays the
    * IGNORE NULLS running last.
    */
  val q160GapFill: Q = Q(
    "q160_gap_fill",
    """WITH hourly AS (
      |  SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
      |    count(*) AS n, CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      |  FROM events GROUP BY 1, 2
      |), bounds AS (
      |  SELECT event_type, min(hour) AS lo, max(hour) AS hi FROM hourly GROUP BY 1
      |), spine AS (
      |  SELECT event_type, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour
      |  FROM bounds
      |)
      |SELECT s.event_type, epoch_ms(s.hour) AS hour_start,
      |  CAST(coalesce(h.n, 0) AS BIGINT) AS n_events,
      |  CAST(last_value(h.cents IGNORE NULLS) OVER (
      |    PARTITION BY s.event_type ORDER BY s.hour
      |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS filled_cents
      |FROM spine s LEFT JOIN hourly h
      |  ON h.event_type = s.event_type AND h.hour = s.hour
      |ORDER BY s.event_type, hour_start""".stripMargin) { (s, dir) =>
    graft.ops.TimeSeries.gapFillHourly(
        Tables.events(s, dir), "event_type", "ts",
        sum(graft.functions.Exact.cents(col("value"))), "cents")
      .select(col("event_type"), unix_millis(col("hour")).as("hour_start"),
        col("n_events"), col("filled_cents"))
      .orderBy("event_type", "hour_start")
  }

  /** CUBE grouping sets with grouping_id: all four aggregation levels of
    * (returnflag, linestatus) in ONE pass — Spark plans the cube as an
    * Expand (4× replication) feeding a partially-aggregated shuffle, so
    * the fact table is scanned once and only (groups × levels) rows move,
    * not 4× the corpus. Subtotal NULLs are coalesced to 'ALL' and the
    * grouping_id bitmask (identical semantics in DuckDB's GROUPING())
    * keeps the levels distinguishable and the sort deterministic.
    */
  val q167CubeGrouping: Q = Q(
    "q167_cube_grouping",
    """SELECT coalesce(l_returnflag, 'ALL') AS rflag,
      |  coalesce(l_linestatus, 'ALL') AS lstatus,
      |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
      |  count(*) AS n_rows,
      |  CAST(sum(CAST(round(l_quantity*100) AS BIGINT)) AS BIGINT) AS qty_cents
      |FROM lineitem
      |GROUP BY CUBE(l_returnflag, l_linestatus)
      |ORDER BY gid, rflag, lstatus""".stripMargin) { (s, dir) =>
    Tables.lineitem(s, dir)
      .cube("l_returnflag", "l_linestatus")
      .agg(grouping_id().cast("long").as("gid"), count(lit(1)).as("n_rows"),
        sum(cents(col("l_quantity"))).as("qty_cents"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("rflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("lstatus"),
        col("gid"), col("n_rows"), col("qty_cents"))
      .orderBy("gid", "rflag", "lstatus")
  }

  /** 24-hour trailing moving count/sum per event type — the RANGE-frame
    * sliding window, computed with [[graft.ops.SlidingAgg]]'s sliced
    * decomposition: events route to 4-day slices (+ a ≤25 % boundary
    * replica), so parallelism is keys × slices instead of one task per
    * event type, and the result is provably identical to the global RANGE
    * window the oracle runs.
    */
  val q172SlidingWindow: Q = Q(
    "q172_sliding_window",
    """SELECT event_id, event_type, ts_us,
      |  CAST(count(*) OVER w AS BIGINT) AS n_win,
      |  CAST(sum(cents) OVER w AS BIGINT) AS sum_win
      |FROM (
      |  SELECT event_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
      |    CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events
      |)
      |WINDOW w AS (PARTITION BY event_type ORDER BY ts_us
      |  RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)
      |ORDER BY event_type, ts_us, event_id""".stripMargin) { (s, dir) =>
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"), cents(col("value")).as("cents"))
    val slid = graft.ops.SlidingAgg.trailing(ev, "event_type", col("ts_us"),
        col("cents"), lookbackUs = 86400000000L, sliceUs = 4 * 86400000000L)
      .select("event_id", "event_type", "ts_us", "n_win", "sum_win")
      .orderBy("event_type", "ts_us", "event_id")
    // plan tripwire — the sliced decomposition's whole point is that the
    // RANGE window partitions on (key, _slice), not the key alone (which
    // would serialize each key's timeline through one task at scale).
    // Vacuous on an empty input — AQE's empty-relation propagation elides
    // the window (round-12 sweep).
    val (out, rows, windows) = certified(slid) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    if (rows > 0 && windows.isEmpty) throw new IllegalStateException(
      "q172: no WindowExec in the executed plan")
    if (rows > 0 && !windows.exists(_.partitionSpec.size >= 2))
      throw new IllegalStateException(
        "q172: sliding window lost its slice partitioning — partitionSpec is " +
          windows.map(_.partitionSpec.map(_.sql).mkString("(", ",", ")")).mkString("; "))
    out
  }

  /** Join-key skew profile over lineitem's part key: top-20 heaviest keys
    * with exact integer permille share and ×100-of-mean load — the
    * measurement that justifies q40's salting and q144's AQE skew
    * thresholds. Top-k is a TakeOrdered, never a one-reducer window.
    */
  val q174SkewProfile: Q = Q(
    "q174_skew_profile",
    """WITH c AS (
      |  SELECT CAST(l_partkey AS VARCHAR) AS key, count(*) AS cnt
      |  FROM lineitem GROUP BY 1
      |), t AS (
      |  SELECT CAST(sum(cnt) AS BIGINT) AS total, count(*) AS n_keys FROM c
      |)
      |SELECT CAST(rnk AS BIGINT) AS rnk, key, cnt,
      |  cnt * 1000 // total AS permille,
      |  cnt * n_keys * 100 // total AS mean_multiple_x100
      |FROM (
      |  SELECT key, cnt, row_number() OVER (ORDER BY cnt DESC, key) AS rnk
      |  FROM c
      |) CROSS JOIN t
      |WHERE rnk <= 20
      |ORDER BY rnk""".stripMargin) { (s, dir) =>
    graft.ops.SkewProbe.keyProfile(Tables.lineitem(s, dir),
        col("l_partkey"), topK = 20)
      .orderBy("rnk")
  }

  /** GraftExtensions optimizer rules, driver-gated with a plan tripwire
    * (round-8 verdict #4 — previously spec-only in PlanRulesSpec): a
    * COMPOSED-builtin query — the md5-conv split chain and an unbounded
    * `levenshtein(a, b) <= k` predicate, exactly what a plain-SQL user
    * writes — runs with the extension installed, and the gate THROWS
    * unless the EXECUTED plan carries both fused kernels: the native
    * [[graft.functions.Hash60]] (one pass, no md5 string round-trip) and
    * the THRESHOLDED `levenshtein(a, b, k)` (O(len·k) banded, not O(len²)).
    * Values are checked against a DuckDB oracle that replays the composed
    * forms — the rewrites' bit-compat contracts made executable.
    */
  val q182ExtensionFusion: Q = Q(
    "q182_extension_fusion",
    """SELECT bucket, count(*) AS n,
      |  CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)
      |    AS sum_price_cents
      |FROM (
      |  SELECT
      |    CAST(('0x' || substring(md5('xsplit' || ':' ||
      |      CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) % 10 AS bucket,
      |    o_totalprice
      |  FROM orders
      |  WHERE levenshtein(o_orderpriority, '2-HIGH') <= 5
      |)
      |GROUP BY bucket
      |ORDER BY bucket""".stripMargin) { (s, dir) =>
    val prev = s.experimental.extraOptimizations
    graft.plans.GraftExtensions.install(s)
    try {
      val composed = Tables.orders(s, dir)
        .filter(expr("levenshtein(o_orderpriority, '2-HIGH') <= 5"))
        .select(
          expr("CAST(conv(substring(md5(concat_ws(':', 'xsplit', " +
            "CAST(o_orderkey AS STRING))), 1, 15), 16, 10) AS BIGINT) % 10")
            .as("bucket"),
          col("o_totalprice"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          sum(cents(col("o_totalprice"))).as("sum_price_cents"))
        .orderBy("bucket")
      // Vacuous on an empty input — empty-relation propagation folds the
      // whole expression tree away (round-12 empty-input sweep).
      val (out, rows, nodes) = certified(composed) { case n => n }
      val exprs = nodes.flatMap(_.expressions.flatMap(_.collect { case e => e }))
      if (rows > 0 && !exprs.exists(_.isInstanceOf[graft.functions.Hash60]))
        throw new IllegalStateException(
          "q182: no fused Hash60 in the executed plan — FuseHash60Rule " +
            "did not rewrite the composed md5-conv chain")
      val bounded = exprs.exists {
        case org.apache.spark.sql.catalyst.expressions.Levenshtein(_, _, Some(_)) => true
        case _ => false
      }
      val unbounded = exprs.exists {
        case org.apache.spark.sql.catalyst.expressions.Levenshtein(_, _, None) => true
        case _ => false
      }
      if (rows > 0 && (!bounded || unbounded))
        throw new IllegalStateException(
          s"q182: BoundLevenshteinRule did not rewrite (bounded=$bounded, " +
            s"unbounded=$unbounded)")
      out
    } finally s.experimental.extraOptimizations = prev
  }

  /** Parquet schema evolution via mergeSchema: a dataset written in two
    * generations — an old slice without a column and a new slice with it —
    * must read back as ONE table with the union schema, old rows NULL in
    * the added column. The data-lake reality every long-lived pipeline
    * hits (the reference's manifest rows accrete optional fields across
    * recorder versions the same way: every URI/meta field in
    * /root/reference/src/neura_pipeline/core/models.py:9-36 is Optional,
    * filled only when that generation of the recorder produced it).
    * Per-file footer schemas are
    * reconciled at planning time; the gate aggregates per lang across both
    * generations and counts which rows carried the new column.
    */
  val q189SchemaEvolution: Q = Q(
    "q189_schema_evolution",
    """SELECT lang, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_with_source,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM documents
      |GROUP BY lang
      |ORDER BY lang""".stripMargin) { (s, dir) =>
    graft.io.TempDirs.withTempDir("q189") { tmpDir =>
      val docs = Tables.documents(s, dir)
      // generation 1 (odd ids withheld → even ids, OLD schema: no source)
      docs.filter(col("doc_id") % 2 === 0)
        .select("doc_id", "lang", "n_chars")
        .write.mode("overwrite").parquet(s"$tmpDir/gen=1")
      // generation 2 (odd ids, NEW schema: + source column)
      docs.filter(col("doc_id") % 2 === 1)
        .select("doc_id", "lang", "n_chars", "source")
        .write.mode("overwrite").parquet(s"$tmpDir/gen=2")
      val merged = s.read.option("mergeSchema", "true").parquet(tmpDir.toString)
      require(merged.schema.fieldNames.contains("source"),
        "q189: mergeSchema dropped the evolved column")
      merged.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("source").isNotNull, 1L).otherwise(0L)).as("n_with_source"),
          sum("n_chars").cast("long").as("sum_chars"))
        .orderBy("lang")
        .localCheckpoint() // pin before withTempDir deletes the staging
    }
  }

  /** HyperLogLog++ approximate distinct counting (`approx_count_distinct`)
    * — THE cardinality sketch for 100 TB telemetry (exact distinct
    * shuffles every key; HLL merges fixed 2^p-register sketches with
    * map-side combine, one small row per group). An approximation can't
    * hash-match a DuckDB replay, so the gate follows the q110 recall
    * pattern: it computes approx AND exact per event_type, THROWS unless
    * every relative error is within the configured rsd budget (2% rsd →
    * 3σ = 6% tripwire), and outputs the exact counts plus the verified
    * flag — fully oracle-able, with the sketch's accuracy contract
    * enforced inside the gate. HLL++ register merges are commutative and
    * associative, so the sketch result is partition-order independent —
    * the assertion is deterministic, not flaky.
    */
  val q192ApproxDistinct: Q = Q(
    "q192_approx_distinct",
    """SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT)
      |    AS exact_users,
      |  true AS hll_within_budget
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin) { (s, dir) =>
    val rsd = 0.02
    val both = Tables.events(s, dir)
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("exact_users"),
        approx_count_distinct(col("user_id"), rsd).as("approx_users"))
      .localCheckpoint()
    val worstRow = both.select(
      // a group whose rows carry only NULL user_ids has exact = 0 and no
      // error to measure — skip it rather than divide by zero (ANSI)
      max(when(col("exact_users") > 0,
        abs(col("approx_users") - col("exact_users"))
          .cast("double") / col("exact_users").cast("double"))).as("e"))
      .head()
    // null max = zero groups (empty input): no sketch to hold to a budget
    if (!worstRow.isNullAt(0)) {
      val worst = worstRow.getDouble(0)
      if (worst > 3 * rsd) throw new IllegalStateException(
        f"q192: HLL relative error $worst%.4f exceeds the 3-sigma budget " +
          f"${3 * rsd}%.4f at rsd=$rsd")
    }
    both.select(col("event_type"), col("exact_users"),
        lit(true).as("hll_within_budget"))
      .orderBy("event_type")
  }

  /** Bounded-file writes (`maxRecordsPerFile` + one task per partition
    * key): the output-hygiene contract of a 100 TB export — downstream
    * consumers need files that are neither gigantic (one reader pins a
    * whole shard) nor confetti (listing storms). `repartition(key)` puts
    * each key's rows on exactly one task, so the writer's per-file split
    * yields a DETERMINISTIC ceil(rows/cap) file count per key — which the
    * oracle states in closed form. The gate THROWS if any written file
    * exceeds the cap (grouping the read-back by input_file_name), then
    * emits the per-key row and file counts.
    */
  val q194BoundedFileWrite: Q = Q(
    "q194_bounded_file_write",
    """SELECT lang, CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST((count(*) + 499) // 500 AS BIGINT) AS n_files
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
    graft.io.TempDirs.withTempDir("q194") { tmpDir =>
      val docs = Tables.documents(s, dir)
      docs
        .repartition(col("lang"))
        .write.partitionBy("lang")
        .option("maxRecordsPerFile", 500)
        .mode("overwrite").parquet(tmpDir.toString)
      // explicit schema: an empty export writes zero files and schema
      // inference would fail on the bare dir (round-12 empty sweep)
      val perFile = s.read.schema(docs.schema).parquet(tmpDir.toString)
        .groupBy(col("lang"), input_file_name().as("_f"))
        .agg(count(lit(1)).as("_n"))
        .localCheckpoint() // pinned: consumed by the tripwire AND the output
      val over = perFile.filter(col("_n") > 500).count()
      if (over > 0) throw new IllegalStateException(
        s"q194: $over written file(s) exceed maxRecordsPerFile=500")
      perFile.groupBy("lang")
        .agg(sum("_n").as("n_rows"), count(lit(1)).as("n_files"))
        .orderBy("lang")
        .localCheckpoint() // pin before withTempDir deletes the staging
    }
  }

  /** Null-safe equi-join (`<=>` / IS NOT DISTINCT FROM): NULL keys MATCH
    * each other instead of vanishing — the semantics a reconciliation
    * join needs when "unknown" is itself a legitimate bucket. Two
    * per-bucket aggregates over a deliberately nullable derived key join
    * null-safely; a plain equi-join would silently drop the NULL bucket
    * row from both sides.
    */
  val q196NullSafeJoin: Q = Q(
    "q196_null_safe_join",
    """WITH k AS (
      |  SELECT nullif(user_id % 7, 3) AS bucket, event_type FROM events
      |), clicks AS (
      |  SELECT bucket, count(*) AS n_clicks FROM k
      |  WHERE event_type = 'click' GROUP BY bucket
      |), views AS (
      |  SELECT bucket, count(*) AS n_views FROM k
      |  WHERE event_type = 'view' GROUP BY bucket
      |)
      |SELECT c.bucket, n_clicks, n_views
      |FROM clicks c JOIN views v ON c.bucket IS NOT DISTINCT FROM v.bucket
      |ORDER BY c.bucket NULLS FIRST""".stripMargin) { (s, dir) =>
    val k = Tables.events(s, dir)
      .select(nullif(col("user_id") % 7, lit(3)).as("bucket"),
        col("event_type"))
    val clicks = k.where(col("event_type") === "click")
      .groupBy("bucket").agg(count(lit(1)).as("n_clicks"))
    val views = k.where(col("event_type") === "view")
      .groupBy("bucket").agg(count(lit(1)).as("n_views"))
      .withColumnRenamed("bucket", "v_bucket")
    clicks.join(views, col("bucket") <=> col("v_bucket"))
      .select(col("bucket"), col("n_clicks"), col("n_views"))
      .orderBy(col("bucket").asc_nulls_first)
  }

  /** explode_outer: rows whose array is EMPTY survive as a NULL element
    * row instead of disappearing — the left-join flavor of flattening a
    * collection. Plain explode silently drops every doc with no long
    * token; the gate's per-doc census must include them at 0, which only
    * the outer form produces from the exploded path.
    */
  val q197ExplodeOuter: Q = Q(
    "q197_explode_outer",
    """SELECT doc_id,
      |  CAST(len(list_filter(string_split(translate(text,
      |    'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'),
      |    ' '), t -> len(t) >= 9)) AS BIGINT) AS n_long
      |FROM documents
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Tables.documentsSpread(s, dir)
      .select(col("doc_id"),
        explode_outer(filter(graft.functions.TextAnalysis.tokens(col("text")),
          t => length(t) >= 9)).as("tok"))
      .groupBy("doc_id")
      .agg(count(col("tok")).as("n_long")) // count(col) skips the NULL row
      .orderBy("doc_id")
  }

  /** Exact DECIMAL aggregation: the fixed-point arithmetic surface next
    * to the repo's scaled-long convention — quantities cast to
    * DECIMAL(12,2) (integer-valued, so the cast is exact on any engine)
    * and summed in decimal. The SUM stays decimal (that's the operator
    * under test); the GATE BOUNDARY is cast to DOUBLE on both engines
    * because high-precision DECIMAL does not survive the driver's
    * compare harness representation-stably (DuckDB's DECIMAL(38,2) is
    * hugeint-backed and degrades to float64 through pandas — "506627.0"
    * — while Spark's parquet decimal round-trips as decimal.Decimal —
    * "506627.00" — so the round-9 gate failed on RENDERING with every
    * value identical). The DOUBLE cast is exact here: the sums are
    * integer-valued and ≪ 2^53. Exact.gateBoundary pins this rule.
    */
  val q198DecimalAgg: Q = Q(
    "q198_decimal_agg",
    """SELECT l_returnflag,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
      |    AS total_qty,
      |  count(*) AS n_items
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(gateBoundary(sum(col("l_quantity").cast("decimal(12,2)")))
          .as("total_qty"),
        count(lit(1)).as("n_items"))
      .orderBy("l_returnflag")
  }

  /** ORC round-trip (q201): the second columnar format a lake ingests
    * besides parquet — write the documents table as zlib ORC, read it
    * back, aggregate. The oracle aggregates the ORIGINAL table, so any
    * value/type mangling in the round-trip (string encoding, long
    * widths, nulls) breaks the hash — round-trip transparency as a
    * checkable contract, same shape as q189's parquet evolution gate.
    */
  val q201OrcRoundtrip: Q = Q(
    "q201_orc_roundtrip",
    """SELECT lang, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |  CAST(sum(len(text)) AS BIGINT) AS sum_text_len
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
    graft.io.TempDirs.withTempDir("q201") { tmpDir =>
      Tables.documents(s, dir)
        .write.mode("overwrite")
        .option("compression", "zlib")
        .orc(tmpDir.toString)
      s.read.orc(tmpDir.toString)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").cast("long").as("sum_chars"),
          sum(length(col("text"))).cast("long").as("sum_text_len"))
        .orderBy("lang")
        .localCheckpoint()
    }
  }

  /** CSV round-trip under HOSTILE content (q202): a crafted column with
    * embedded commas, double quotes, and newlines — the cases that break
    * naive CSV emitters. Written with default quoting, read back with
    * multiLine (quoted newlines span physical lines), and aggregated;
    * the oracle computes the same aggregate from the source expression
    * directly, so any quoting/escape mangling shifts the lengths and
    * fails the hash.
    */
  val q202CsvRoundtrip: Q = Q(
    "q202_csv_roundtrip",
    """SELECT lang, count(*) AS n_docs,
      |  CAST(sum(len('a,"b' || chr(10) || lang || '",c')) AS BIGINT)
      |    AS sum_crafted_len
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
    graft.io.TempDirs.withTempDir("q202") { tmpDir =>
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          concat(lit("a,\"b\n"), col("lang"), lit("\",c")).as("crafted"))
        .write.mode("overwrite")
        .option("header", "true")
        .csv(tmpDir.toString)
      s.read
        .option("header", "true")
        .option("multiLine", "true")
        .option("inferSchema", "false")
        .csv(tmpDir.toString)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("crafted"))).cast("long").as("sum_crafted_len"))
        .orderBy("lang")
        .localCheckpoint()
    }
  }

  val all: Seq[Q] = Seq(
    q01PricingSummary, q02RevenueByNation, q03TopPartsPerBrand,
    q04DedupKeepFirst, q05Reindex, q06Monotonic, q07HashSplit,
    q08SemiJoin, q09AntiJoin, q10UnionByName, q11DistinctPairs,
    q12OrderFingerprint, q13FilterPushdown, q14EventsHourly,
    q41DistinctUsers, q43PivotUserEvents, q44AsofClicks, q45RangeBands,
    q46UnpivotUserEvents, q53RankingSuite, q54FullOuterReconcile,
    q56CdcUpsert, q58PropsExtract, q60UserJourneys, q71ZOrder,
    q72ObservedQuality, q74ValueHistogram, q78RunningSum,
    q79RevenueShare, q106BloomSemiJoin, q108BloomAntiJoin,
    q131PartitionPrune, q132BucketedJoin, q136AsofForward,
    q139VariantProps, q140BloomInject, q143DppPrune, q144SkewSplit,
    q145AqeCoalesce, q146WindowTopK, q149AqeBroadcast, q155Skyline,
    q160GapFill, q162CboReorder, q167CubeGrouping, q172SlidingWindow,
    q174SkewProfile, q182ExtensionFusion, q189SchemaEvolution,
    q192ApproxDistinct, q194BoundedFileWrite, q196NullSafeJoin,
    q197ExplodeOuter, q198DecimalAgg, q201OrcRoundtrip, q202CsvRoundtrip)
}
