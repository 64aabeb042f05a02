package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.EventStream
import graft.multimodal.Media
import graft.queries.{Q, StreamingQueries}

/** Streaming-equals-batch equivalence + multimodal plumbing tests. */
class StreamingSpec extends SparkSuite {

  private val sfDir = "/root/testdata/sf0.001"

  test("streaming hourly agg equals batch groupBy on the same data") {
    val streamed = EventStream.runToMemory(spark, s"$sfDir/events.parquet",
      EventStream.hourlyAgg, "t_hourly", OutputMode.Complete)
    val batch = Tables.events(spark, sfDir)
      .groupBy(unix_millis(date_trunc("hour", col("ts"))).as("hour_start"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(graft.functions.Exact.cents(col("value"))).as("sum_value_cents"))
    assert(streamed.count() === batch.count())
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty)
  }

  test("streaming funnel state equals the batch funnel fold after a drain") {
    val streamed = EventStream.runToMemory(spark, s"$sfDir/events.parquet",
      df => EventStream.funnelState(spark, df,
        Seq("view", "click", "purchase"), 21600000000L),
      "t_funnel", OutputMode.Update)
    val batch = graft.ops.Behavior.funnel(Tables.events(spark, sfDir),
      "user_id", "ts", "event_type", Seq("view", "click", "purchase"),
      21600000000L)
    assert(streamed.count() === batch.count())
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty)
  }

  test("transformWithState session timers: drained output equals the batch rule, boundaries exact") {
    // the TwsTimerProbe fixture, pinned as a spec: trailing sessions whose
    // ms-ceiled close is <= the final watermark (ms-floored max - delay)
    // fire BY TIMER — including the exact-boundary and sub-ms cases —
    // later ones don't; in-batch closures always emit
    val gapUs = 60L * 1000000L
    val delayUs = 600L * 1000000L
    val base = 1700000000L * 1000000L
    val maxUs = base + 3600L * 1000000L
    val wmUs = (maxUs / 1000L - delayUs / 1000L) * 1000L
    val cases = Seq(
      (1L, wmUs - gapUs - 1000000L, true),  // 1s early → fires
      (2L, wmUs - gapUs, true),             // exact boundary → fires
      (3L, wmUs - gapUs + 1000L, false),    // 1ms late → held
      (4L, wmUs - gapUs + 1000000L, false), // 1s late → held
      (5L, wmUs - gapUs - 500L, true))      // sub-ms early (ceil) → fires
    val rows = cases.flatMap { case (u, lastUs, _) =>
      Seq((u * 1000L, lastUs - 3 * gapUs, u), (u * 1000L + 1, lastUs, u))
    } :+ ((99000L, maxUs, 99L))
    import spark.implicits._
    val df = rows.toDF("event_id", "ts_us", "user_id")
      .select(col("event_id"), expr("timestamp_micros(ts_us)").as("ts"),
        col("user_id"), lit("view").as("event_type"),
        lit(1.0).as("value"), lit("{}").as("props"))
    val dir = tmpDir("tws_timer")
    graft.io.SingleFile.writeParquetAtomic(df, s"$dir/events.parquet")
    val out = EventStream.runToMemory(spark, s"$dir/events.parquet",
      d => EventStream.sessionTimeouts(spark, d, gapUs, "10 minutes"),
      "t_tws_timer", OutputMode.Append)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4))).toSet
    val expected = cases.flatMap { case (u, lastUs, fires) =>
      val first = (u, lastUs - 3 * gapUs, lastUs - 3 * gapUs + gapUs, 1L, "batch")
      if (fires) Seq(first, (u, lastUs, lastUs + gapUs, 1L, "timer"))
      else Seq(first)
    }.toSet // user 99's single trailing session is open → never emitted
    assert(out === expected)
  }

  // Stream-stream outer joins drain in two micro-batches (even event_ids
  // first) and evict on the min of both sides' watermarks, each
  // floor_ms(max ts) − 2 h. Both fixtures carry a view and a click at max1
  // in the first file and a later view in the second, so the final
  // watermark is wm1 = floor_ms(max1) − 2 h.
  private val joinWinUs = 1800L * 1000000L
  private val joinBase = 1700000000L * 1000000L
  private val max1Us = joinBase + 86400L * 1000000L
  private val wm1Us = (max1Us / 1000L - 7200000L) * 1000L
  private val joinSetters = Seq((990L, max1Us, 99L, "view"),
    (992L, max1Us, 96L, "click"), (991L, max1Us + 3600L * 1000000L, 98L, "view"))

  /** Runs `gate` on `rows` (event_id, ts_us, user_id, event_type) and
    * returns its rows, the batch rule's matched (view, click) pairs, its
    * unmatched views and clicks, and the final watermark in ms.
    */
  private def outerJoinRun(gate: Q, rows: Seq[(Long, Long, Long, String)]) = {
    import spark.implicits._
    val dir = tmpDir(gate.name)
    graft.io.SingleFile.writeParquetAtomic(
      rows.toDF("event_id", "ts_us", "user_id", "event_type")
        .select(col("event_id"), expr("timestamp_micros(ts_us)").as("ts"),
          col("user_id"), col("event_type"), lit(1.0).as("value"),
          lit("{}").as("props")), s"$dir/events.parquet")
    val out = gate.run(spark, dir).collect().map(r => r.toSeq.map {
      case null => None
      case v => Some(v.asInstanceOf[Long])
    }).toSet
    val (views, clicks) = rows.partition(_._4 == "view")
    def hit(v: (Long, Long, Long, String), c: (Long, Long, Long, String)) =
      v._3 == c._3 && c._2 >= v._2 && c._2 <= v._2 + joinWinUs
    val pairs = for (v <- views; c <- clicks if hit(v, c)) yield (v, c)
    val wmMs = Seq(views, clicks).map(s => Math.floorDiv(s.map(_._2).max, 1000L)).min - 7200000L
    (out, pairs, views.filterNot(v => clicks.exists(hit(v, _))),
      clicks.filterNot(c => views.exists(hit(_, c))), wmMs)
  }

  test("q199 outer stream join: an unmatched view's null row emits iff v_us <= (wm_ms - 1800001) * 1000") {
    // the round-9 probe's view fixture (PLANS.md, Round 9, q199), pinned
    // through the gate's own drain
    val cases = Seq( // (user, v_us, emits): the view's window end vs wm1
      (1L, wm1Us - joinWinUs - 60000000L, true), // 1 min before
      (2L, wm1Us - joinWinUs, false),            // exactly at
      (3L, wm1Us - joinWinUs + 1000L, false),    // 1 ms after
      (4L, wm1Us - joinWinUs + 60000000L, false), // 1 min after
      (5L, wm1Us - joinWinUs - 500L, false),     // 0.5 ms before
      (6L, wm1Us - joinWinUs - 2000L, true),     // 2 ms before
      (7L, wm1Us - joinWinUs - 1000L, true))     // 1 ms before
    val rows = cases.map { case (u, v, _) => (u * 10L, v, u, "view") } ++ Seq(
      (500L, joinBase, 50L, "view"), (501L, joinBase + 60000000L, 50L, "click"),
      (600L, joinBase + 5000000L, 60L, "view"), (602L, joinBase + 6000000L, 60L, "click")) ++
      joinSetters
    val (out, pairs, lonelyViews, _, wmMs) =
      outerJoinRun(StreamingQueries.q199OuterStreamJoin, rows)
    assert(wmMs * 1000L === wm1Us)
    val expected = pairs.map { case (v, c) => Seq(Some(v._3), Some(v._1), Some(c._1), Some(v._2)) } ++
      lonelyViews.filter(_._2 <= (wmMs - 1800001L) * 1000L)
        .map(v => Seq(Some(v._3), Some(v._1), None, Some(v._2)))
    assert(out === expected.toSet)
    cases.foreach { case (u, v, emits) =>
      assert(out.contains(Seq(Some(u), Some(u * 10L), None, Some(v))) === emits, s"case $u")
    }
  }

  test("q200 full outer stream join: an unmatched click's null row emits iff c_us <= (wm_ms - 1) * 1000") {
    // the round-9 probe's click fixture (PLANS.md, Round 9, q200), pinned
    // through the gate's own drain
    val cases = Seq( // (user, c_us, emits): the click vs wm1
      (11L, wm1Us - 60000000L, true), // 1 min before
      (12L, wm1Us, false),            // exactly at
      (13L, wm1Us + 1000L, false),    // 1 ms after
      (14L, wm1Us - 500L, false),     // 0.5 ms before
      (15L, wm1Us - 1000L, true),     // 1 ms before
      (16L, wm1Us - 2000L, true))     // 2 ms before
    // event_id -1: a negative odd id still drains with the odd half
    val rows = cases.map { case (u, t, _) => (u * 10L, t, u, "click") } ++ Seq(
      (500L, joinBase, 50L, "view"), (501L, joinBase + 60000000L, 50L, "click"),
      (-1L, joinBase, 70L, "click")) ++
      joinSetters
    val (out, pairs, lonelyViews, lonelyClicks, wmMs) =
      outerJoinRun(StreamingQueries.q200FullOuterStreamJoin, rows)
    assert(wmMs * 1000L === wm1Us)
    val expected = pairs.map { case (v, c) => Seq(Some(v._3), Some(v._1), Some(c._1)) } ++
      lonelyViews.filter(_._2 <= (wmMs - 1800001L) * 1000L)
        .map(v => Seq(Some(v._3), Some(v._1), None)) ++
      lonelyClicks.filter(_._2 <= (wmMs - 1L) * 1000L)
        .map(c => Seq(Some(c._3), None, Some(c._1)))
    assert(out === expected.toSet)
    cases.foreach { case (u, _, emits) =>
      assert(out.contains(Seq(Some(u), None, Some(u * 10L))) === emits, s"case $u")
    }
    assert(out.contains(Seq(Some(70L), None, Some(-1L))), "event_id -1")
  }

  test("q203 dedup eviction: a first-seen key re-admits iff floor_ms(first_ts) + delay <= wm1") {
    // the round-9 probe's fixture (PLANS.md, Round 9, q203) through q203's
    // drain and transform shape: each first-seen row in batch 1, a
    // duplicate in batches 2 and 3; the setters put batch 2's planning
    // watermark at wm1 = floor_ms(max1) − 1 h
    val delayUs = 3600L * 1000000L
    val wmUs = (max1Us / 1000L - delayUs / 1000L) * 1000L
    val cases = Seq( // (user, first_ts, emissions): the state's expiry vs wm1
      (101L, wmUs - delayUs - 60000000L, 2L), // 1 min below
      (102L, wmUs - delayUs - 2000L, 2L),     // 2 ms below
      (103L, wmUs - delayUs - 1000L, 2L),     // 1 ms below
      (104L, wmUs - delayUs - 500L, 2L),      // 0.5 ms below (floored: 1 ms)
      (105L, wmUs - delayUs, 2L),             // exactly at
      (106L, wmUs - delayUs + 1000L, 1L))     // 1 ms above
    val rows = cases.flatMap { case (u, t, _) => Seq((u * 30L, t, u),
      (u * 30L + 1L, max1Us - 1000000L, u), (u * 30L + 2L, max1Us - 500000L, u))
    } ++ Seq((900L, max1Us, 900L), (901L, max1Us + 1000000L, 901L),
      (902L, max1Us + 2000000L, 902L))
    import spark.implicits._
    val df = rows.toDF("event_id", "ts_us", "user_id")
      .select(col("user_id"), expr("timestamp_micros(ts_us)").as("ts"), col("event_id"))
    val out = EventStream.runBatchedAppend(spark,
      (0 to 2).map(b => df.filter(col("event_id") % 3 === b)),
      d => d.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("user_id")
        .select("user_id"),
      "t_dedup_evict")
      .groupBy("user_id").agg(count(lit(1))).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = rows.groupBy(_._3).map { case (u, rs) =>
      u -> (if (Math.floorDiv(rs.map(_._2).min, 1000L) * 1000L + delayUs <= wmUs) 2L else 1L)
    }
    assert(out === expected)
    cases.foreach { case (u, _, n) => assert(out(u) === n, s"case $u") }
  }

  test("transformWithState modal type equals the batch mode after a drain") {
    val streamed = EventStream.runToMemory(spark, s"$sfDir/events.parquet",
      df => EventStream.userModalType(spark, df), "t_tws", OutputMode.Update)
    val counts = Tables.events(spark, sfDir)
      .groupBy("user_id", "event_type").agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("n").desc, col("event_type"))
    val batch = counts
      .withColumn("r", row_number().over(w))
      .withColumn("n_events", sum("n").over(
        org.apache.spark.sql.expressions.Window.partitionBy("user_id")))
      .where(col("r") === 1)
      .select(col("user_id"), col("n_events"),
        col("event_type").as("top_type"), col("n").as("top_n"))
    assert(streamed.count() === batch.count())
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty)
  }

  test("streaming session windows match batch gaps-and-islands boundaries") {
    val streamed = EventStream.runToMemory(spark, s"$sfDir/events.parquet",
      EventStream.sessionAgg, "t_sess", OutputMode.Complete)
    val batch = graft.ops.Sessionize.sessions(
      Tables.events(spark, sfDir), col("user_id"), col("ts"), col("event_id"),
      gapMicros = 1800000000L)
      .groupBy("user_id", "session_id")
      .agg(min("ts_us").as("session_start_us"),
        (max("ts_us") + 1800000000L).as("session_end_us"),
        count(lit(1)).as("n_events"),
        sum(graft.functions.Exact.cents(col("value"))).as("sum_value_cents"))
      .drop("session_id")
    assert(streamed.count() === batch.count())
    assert(streamed.select(batch.columns.map(col): _*).except(batch).isEmpty)
  }

  test("stateful running user counts process every event exactly once") {
    import spark.implicits._
    val counts = EventStream.runToMemory(spark, s"$sfDir/events.parquet",
      df => EventStream.runningUserCounts(spark, df), "t_counts", OutputMode.Update)
    // Update-mode memory sink keeps every update; the LAST row per user is
    // the final state. Sum of final counts == total events.
    val finalCounts = counts.groupBy("user_id").agg(max("n_events").as("n"))
    val total = finalCounts.agg(sum("n")).head().getLong(0)
    assert(total === Tables.events(spark, sfDir).count())
  }

  test("streaming dedup (both flavors) equals batch DISTINCT") {
    val batch = Tables.events(spark, sfDir)
      .select("user_id", "event_type").distinct()
    val unbounded = EventStream.runToMemory(spark, s"$sfDir/events.parquet",
      df => EventStream.distinctUserEventTypes(df), "t_dedup", OutputMode.Append)
    assert(unbounded.count() === batch.count())
    assert(unbounded.except(batch).isEmpty)
    // watermark-bounded flavor: all events fit inside the bound here, so
    // the result must still be the exact distinct set
    val bounded = EventStream.runToMemory(spark, s"$sfDir/events.parquet",
      df => EventStream.distinctUserEventTypes(df, Some("100 days")),
      "t_dedup_wm", OutputMode.Append)
    assert(bounded.count() === batch.count())
    assert(bounded.except(batch).isEmpty)
  }

  test("flatMapGroupsWithState sessions equal session_window sessions") {
    val viaFmgws = EventStream.sessionsViaFMGWS(spark, Tables.events(spark, sfDir))
    val viaWindow = EventStream.runToMemory(spark, s"$sfDir/events.parquet",
      EventStream.sessionAgg, "t_fmgws_ref", OutputMode.Complete)
    assert(viaFmgws.count() > 0)
    assert(viaFmgws.count() === viaWindow.count())
    val cols = viaFmgws.columns.map(col)
    assert(viaFmgws.except(viaWindow.select(cols: _*)).isEmpty &&
      viaWindow.select(cols: _*).except(viaFmgws).isEmpty)
  }

  test("stream-stream interval join equals the batch theta-join") {
    val streamed = EventStream.runToMemory(spark, s"$sfDir/events.parquet",
      EventStream.clickAttribution, "t_ssjoin", OutputMode.Append)
    val e = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
    val batch = e.where(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts_us").as("click_us"))
      .join(e.where(col("event_type") === "view")
          .select(col("user_id"), col("event_id").as("view_id"), col("ts_us").as("view_us")),
        Seq("user_id"))
      .where(col("view_us") <= col("click_us") &&
        col("view_us") >= col("click_us") - 1800000000L)
    assert(streamed.count() > 0)
    assert(streamed.count() === batch.count())
    assert(streamed.select(batch.columns.map(col): _*).except(batch).isEmpty &&
      batch.except(streamed.select(batch.columns.map(col): _*)).isEmpty)
  }

  test("multimodal: synthetic media bytes are 128B, decode features deterministic") {
    val media = Media.syntheticMediaFromDocs(Tables.documents(spark, sfDir))
    val stats = Media.byteStats(media)
    assert(stats.filter(col("n_bytes") =!= 128).count() === 0)
    val f1 = Media.decodeFrames(spark, media).collect()
      .map(d => d.media_id -> d.pixels.toSeq).toMap
    val f2 = Media.decodeFrames(spark, media).collect()
      .map(d => d.media_id -> d.pixels.toSeq).toMap
    assert(f1 === f2)
    assert(f1.values.forall(_.size === 16))
    // different docs → different features (hash-derived)
    assert(f1(0L) !== f1(1L))
  }

  test("multimodal: resize + frame sampling plumbing") {
    val media = Media.syntheticMediaFromDocs(Tables.documents(spark, sfDir))
    val decoded = Media.decodeFrames(spark, media)
    val resized = Media.resizeFeatures(spark, decoded, 4)
    val row = resized.orderBy("media_id").head()
    assert(row.getSeq[Float](2).size === 4)
    // deterministic: same input -> same resized features
    val again = Media.resizeFeatures(spark, Media.decodeFrames(spark, media), 4)
      .orderBy("media_id").head()
    assert(row.getSeq[Float](2) === again.getSeq[Float](2))
    val sampled = Media.sampleFrames(decoded, 2)
    assert(sampled.count() === decoded.count()) // single-frame media: all kept (frame 0)
  }

  test("IVF ANN: recalls the exact top neighbour for most queries") {
    val topExact = graft.ops.Similarity.bruteForceTopK(
      Tables.embeddings(spark, sfDir), "vec_id", "embedding",
      org.apache.spark.sql.functions.col("vec_id") % 50 === 0, 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val topIvf = graft.ops.IvfIndex.searchTopK(
      Tables.embeddings(spark, sfDir), "vec_id", "embedding",
      org.apache.spark.sql.functions.col("vec_id") % 50 === 0, 1,
      nCentroids = 8, nProbe = 4, seed = "ivf")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(topIvf.nonEmpty)
    val agree = topExact.keys.count(k => topIvf.get(k).contains(topExact(k)))
    // nProbe=4 of 8 centroids: expect at least half the exact top-1s found
    assert(agree * 2 >= topExact.size, s"IVF recall too low: $agree/${topExact.size}")
  }

  test("multimodal: binaryFile ingestion reads real files") {
    val dir = tmpDir("media_in")
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "a.bin"),
      Array.fill[Byte](64)(7))
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "b.bin"),
      Array.fill[Byte](32)(9))
    val df = Media.readBinaryDir(spark, dir, "*.bin")
    val sizes = df.select(length(col("bytes"))).collect().map(_.getInt(0)).sorted
    assert(sizes.toSeq === Seq(32, 64))
  }
}
