package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.EventStream

/** Regression coverage for physical-type drift in the driver testdata
  * (round-6 incident: events.ts silently moved from parquet INT64
  * TIMESTAMP(NANOS) to TIMESTAMP(MICROS, NTZ), killing 18 batch gates and
  * 1000×-shrinking every streaming event-time). Both encodings must load to
  * the SAME TimestampType values through Tables.events AND through the
  * streaming source, and anything else must fail loudly with a named error.
  */
class TablesSpec extends SparkSuite {

  // one hour of events: 3 users, 20 events, 90s apart, starting 2024-01-01
  private val baseUs = 1704067200000000L
  private def rows: Seq[(Long, Long, Long, String, Double, String)] =
    (0 until 20).map { i =>
      (i.toLong, baseUs + i * 90000000L, (i % 3).toLong,
        if (i % 2 == 0) "click" else "view", i * 1.5, s"""{"i":$i}""")
    }

  /** Fixture A — legacy shape: ts surfaces as a raw INT64 of NANOS (what the
    * nanosAsLong conf hands the reader for TIMESTAMP(NANOS) files).
    */
  private lazy val nanosDir: String = {
    import spark.implicits._
    val d = tmpDir("ts-nanos")
    rows.toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
      .select(col("event_id"), (col("ts_us") * 1000L).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .coalesce(1).write.mode("overwrite").parquet(s"$d/events.parquet")
    d
  }

  /** Fixture B — current shape: ts is TIMESTAMP_NTZ (parquet micros,
    * isAdjustedToUTC=false), as the regenerated driver testdata writes it.
    */
  private lazy val ntzDir: String = {
    import spark.implicits._
    val d = tmpDir("ts-ntz")
    rows.toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
      .select(col("event_id"),
        timestamp_micros(col("ts_us")).cast(TimestampNTZType).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .coalesce(1).write.mode("overwrite").parquet(s"$d/events.parquet")
    d
  }

  test("Tables.events normalizes both ts encodings to identical values") {
    val a = Tables.events(spark, nanosDir)
    val b = Tables.events(spark, ntzDir)
    assert(a.schema("ts").dataType === TimestampType)
    assert(b.schema("ts").dataType === TimestampType)
    val ua = a.select(col("event_id"), unix_micros(col("ts")).as("us"))
    val ub = b.select(col("event_id"), unix_micros(col("ts")).as("us"))
    assert(ua.except(ub).isEmpty && ub.except(ua).isEmpty)
    // and the values are the intended wall-clock, not shifted or shrunk
    assert(ua.orderBy("event_id").head().getLong(1) === baseUs)
  }

  test("real testdata events loads and spans a sane epoch range") {
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    assert(ev.schema("ts").dataType === TimestampType)
    val mm = ev.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
    // any honest event-time sits between 2000-01-01 and 2100-01-01 in µs;
    // the round-6 bug (÷1000 shrink) would land near 1970 and fail here
    assert(mm.getLong(0) > 946684800000000L, s"min ts ${mm.getLong(0)} — shrunk?")
    assert(mm.getLong(1) < 4102444800000000L)
  }

  test("streaming source normalizes both ts encodings identically") {
    val sa = EventStream.runToMemory(spark, s"$nanosDir/events.parquet",
      EventStream.hourlyAgg, "ts_enc_a", OutputMode.Complete)
    val sb = EventStream.runToMemory(spark, s"$ntzDir/events.parquet",
      EventStream.hourlyAgg, "ts_enc_b", OutputMode.Complete)
    val la = sa.collect().toSet
    val lb = sb.collect().toSet
    assert(la === lb)
    assert(la.nonEmpty && la.map(_.getLong(0)).min === baseUs / 1000L)
  }

  test("actual streaming GATES produce identical results on both ts encodings") {
    // round-8 verdict #8: not just the loader/transform — the driver-facing
    // gate functions themselves, end-to-end (drain + tripwire + sink),
    // against a NANOS-encoded events fixture and the current NTZ shape.
    // q33 covers the windowed-agg path, q39 the arbitrary-stateful
    // (mapGroupsWithState) path, q137 the checkpointed-restart drain and
    // q199 the batched Append drain.
    for (gate <- Seq("q33_streaming_hourly", "q39_running_user_counts",
        "q137_stream_restart", "q199_outer_stream_join")) {
      val fn = SparkEntry.queries(gate)
      val a = fn(spark, nanosDir).collect().toSet
      val b = fn(spark, ntzDir).collect().toSet
      assert(a === b, s"$gate diverges across ts encodings")
      assert(a.nonEmpty, s"$gate produced no rows on the fixture")
    }
  }

  test("streaming tripwire invariants catch row loss and time shrink") {
    val range = Some((baseUs, baseUs + 19 * 90000000L))
    // healthy drain: exact count, max inside range
    EventStream.tripwire("ok", 20L, baseUs + 90000000L, 20L, range)
    // self-join double-scan is legitimate
    EventStream.tripwire("ok2", 40L, baseUs, 20L, range)
    // no event-time tracked: only the count invariant applies
    EventStream.tripwire("ok3", 20L, Long.MinValue, 20L, range)
    // lost rows
    val e1 = intercept[IllegalStateException] {
      EventStream.tripwire("lost", 19L, baseUs, 20L, range)
    }
    assert(e1.getMessage.contains("rows lost"))
    // the round-6 class: event-times shrunk 1000× land far below the range
    val e2 = intercept[IllegalStateException] {
      EventStream.tripwire("shrunk", 20L, baseUs / 1000L, 20L, range)
    }
    assert(e2.getMessage.contains("corrupting"))
    // an EMPTY file drained to zero rows is healthy (round-12 empty-input
    // sweep: the old ctlRows <= 0 branch false-alarmed here) — but
    // ingesting rows a 0-row file cannot hold is phantom data
    EventStream.tripwire("empty_ok", 0L, Long.MinValue, 0L, None)
    val e3 = intercept[IllegalStateException] {
      EventStream.tripwire("phantom", 5L, Long.MinValue, 0L, None)
    }
    assert(e3.getMessage.contains("phantom"))
    // a non-UTF-8 stream shows a non-ASCII character as `?`
    Seq(e1, e2, e3).foreach(e =>
      assert(e.getMessage.forall(_ < 128), e.getMessage))
    // 0-of-N is allowed: pushed-down predicates prune whole row groups on
    // a small file, so a filter matching nothing decodes nothing — the
    // oracle, not the tripwire, owns the dead-source case (round-12)
    EventStream.tripwire("pruned_ok", 0L, Long.MinValue, 20L, range)
  }

  test("checkpointed restart recovers state and never replays a file") {
    val restarted = EventStream.runWithRestart(spark,
      s"$ntzDir/events.parquet", EventStream.hourlyAgg, "ts_restart")
    val batch = Tables.events(spark, ntzDir)
      .groupBy(unix_millis(date_trunc("hour", col("ts"))).as("hour_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(graft.functions.Exact.cents(col("value"))).as("sum_value_cents"))
    assert(restarted.count() === batch.count())
    assert(restarted.except(batch).isEmpty && batch.except(restarted).isEmpty)
    // the pre-restart table only saw file 1 — a strict subset of the rows,
    // proving the restart genuinely contributed state (not a single drain)
    val pre = restarted.sparkSession.table("ts_restart_pre")
    assert(pre.agg(sum("n")).head().getLong(0) <
      restarted.agg(sum("n")).head().getLong(0))
  }

  test("unsupported ts physical type fails with a named, actionable error") {
    val e = intercept[IllegalArgumentException] {
      Tables.normalizeTs(StringType, "events")
    }
    assert(e.getMessage.contains("events.ts"))
    assert(e.getMessage.contains("STRING"))
  }

  test("numeric-column drift fails loudly, not deep in Catalyst") {
    // value as DECIMAL instead of DOUBLE must be named by assertColumnTypes
    import spark.implicits._
    val d = tmpDir("num-drift")
    Seq((1L, BigDecimal(1.5))).toDF("event_id", "value")
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    val df = spark.read.parquet(s"$d/events.parquet")
    val e = intercept[IllegalArgumentException] {
      Tables.assertColumnTypes(df, "events",
        "event_id" -> Set[DataType](LongType),
        "value" -> Set[DataType](DoubleType))
    }
    assert(e.getMessage.contains("events.value"))
    assert(e.getMessage.contains("DOUBLE"))
  }

  test("dimension tables load under the tripwire; key widths pass unchanged") {
    // supplier/part/nation/region get the same drift guard as the facts
    // (round-7 advice #7) — and the INTEGER keys the current testdata ships
    // must pass through UNCHANGED (gates output them raw; widening would
    // flip the schema the oracle compares against)
    val d = "/root/testdata/sf0.001"
    assert(Tables.supplier(spark, d).schema("s_acctbal").dataType === DoubleType)
    assert(Tables.part(spark, d).schema("p_retailprice").dataType === DoubleType)
    val nk = Tables.nation(spark, d).schema("n_nationkey").dataType
    assert(nk === IntegerType || nk === LongType)
    assert(Tables.nation(spark, d).schema("n_nationkey").dataType ===
      spark.read.parquet(s"$d/nation.parquet").schema("n_nationkey").dataType)
    assert(Tables.region(spark, d).count() > 0)
  }

  test("dimension-table drift (DECIMAL money column) fails loudly") {
    import spark.implicits._
    val d = tmpDir("supp-drift")
    Seq((1L, "s1", 1, BigDecimal(10.5))).toDF(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      .write.mode("overwrite").parquet(s"$d/supplier.parquet")
    val e = intercept[IllegalArgumentException] {
      Tables.supplier(spark, d)
    }
    assert(e.getMessage.contains("supplier.s_acctbal"))
  }

  test("loadPath schema memo: parity with bare read, rewrite invalidation") {
    import spark.implicits._
    val d = tmpDir("schema-memo")
    val f = s"$d/t.parquet"
    Seq((1L, "a"), (2L, "b")).toDF("id", "s")
      .coalesce(1).write.mode("overwrite").parquet(f)
    // single parquet directories still count as directories → memo bypass;
    // point at the part file inside for the single-file path
    val part = new java.io.File(f).listFiles()
      .filter(_.getName.endsWith(".parquet")).head.getAbsolutePath
    val bare = spark.read.parquet(part)
    val first = Tables.loadPath(spark, part)   // populates the memo
    val memoed = Tables.loadPath(spark, part)  // served from it
    assert(first.schema === bare.schema)
    assert(memoed.schema === bare.schema)
    assert(memoed.orderBy("id").collect().toSeq ===
      bare.orderBy("id").collect().toSeq)
    // rewriting the file (different length and/or mtime) must invalidate:
    // the new schema, not the stale memo entry, is what loads
    Seq((1L, "a", 9.9)).toDF("id", "s", "extra")
      .coalesce(1).write.mode("overwrite").parquet(f)
    val part2 = new java.io.File(f).listFiles()
      .filter(_.getName.endsWith(".parquet")).head.getAbsolutePath
    val reread = Tables.loadPath(spark, part2)
    assert(reread.schema.fieldNames.toSet === Set("id", "s", "extra"))
    // directory paths bypass the memo entirely and still load
    assert(Tables.loadPath(spark, f).count() === 1L)
    // missing path behaves exactly like a bare read (throws from Spark)
    intercept[Exception] { Tables.loadPath(spark, s"$d/nope.parquet").count() }
  }

  test("benign narrower numerics are conformed up, not fatal") {
    // INT32 key + FLOAT value: same families as the canonical types — the
    // loader must widen them to LONG/DOUBLE instead of killing every gate
    // on the next testdata regeneration
    import spark.implicits._
    val d = tmpDir("num-widen")
    Seq((1, 1.5f), (2, 2.5f)).toDF("event_id", "value")
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    val df = spark.read.parquet(s"$d/events.parquet")
    val out = Tables.assertColumnTypes(df, "events",
      "event_id" -> Set[DataType](LongType),
      "value" -> Set[DataType](DoubleType))
    assert(out.schema("event_id").dataType === LongType)
    assert(out.schema("value").dataType === DoubleType)
    assert(out.agg(sum("event_id")).head().getLong(0) === 3L)
  }

  test("the driver's entry() smoke contract: the flagship query returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
    graft.ops.Pins.releaseAll(spark)
  }
}
