package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.Tables
import graft.multimodal.Media
import graft.streaming.EventStream

/** Structured-Streaming and multimodal operators surfaced through the
  * correctness gate.
  */
object StreamingQueries {

  /** The streaming hourly aggregation, drained with a memory sink in
    * Complete mode over the static events parquet — must produce EXACTLY
    * the batch answer (same oracle as q14, different engine path: state
    * store + watermark instead of a shuffle agg).
    */
  val q33StreamingHourly: Q = Q(
    "q33_streaming_hourly",
    """SELECT epoch_ms(CAST(date_trunc('hour', ts) AS TIMESTAMP)) AS hour_start,
      |  event_type, count(*) AS n,
      |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_value_cents
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY hour_start, event_type""".stripMargin) { (s, dir) =>
    EventStream.runToMemory(s, s"$dir/events.parquet",
      EventStream.hourlyAgg, "q33_mem", OutputMode.Complete)
      .orderBy("hour_start", "event_type")
  }

  /** The 30-minute gap sessions of the events as (user, start, end =
    * last + gap, count, exact cents sum): q34's and q77's oracle.
    */
  private val GapSessionsSql =
    """SELECT user_id, min(ts_us) AS session_start_us,
      |  max(ts_us) + 1800000000 AS session_end_us,
      |  count(*) AS n_events,
      |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_value_cents
      |FROM (
      |  SELECT user_id, ts_us, value,
      |    sum(CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS session_id
      |  FROM (
      |    SELECT user_id, event_id, value,
      |      epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
      |      lag(epoch_us(CAST(ts AS TIMESTAMP)))
      |        OVER (PARTITION BY user_id ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS prev_us
      |    FROM events
      |  )
      |)
      |GROUP BY user_id, session_id
      |ORDER BY user_id, session_start_us""".stripMargin

  /** Streaming sessionization via session_window in Complete mode — must
    * match the batch gaps-and-islands sessionization (q32's session
    * boundaries re-derived as (start, end, count) tuples).
    */
  val q34StreamingSessions: Q = Q(
    "q34_streaming_sessions", GapSessionsSql) { (s, dir) =>
    EventStream.runToMemory(s, s"$dir/events.parquet",
      EventStream.sessionAgg, "q34_mem", OutputMode.Complete)
      .orderBy("user_id", "session_start_us")
  }

  /** Multimodal cheap pass: metadata/byte stats over the synthetic media
    * table (128 md5-derived bytes per doc) — bytes column plumbing
    * (unhex/concat/length) verified against the oracle's blob functions.
    */
  val q35MediaByteStats: Q = Q(
    "q35_media_byte_stats",
    """SELECT doc_id AS media_id,
      |  octet_length(from_hex(
      |    md5('0:' || text) || md5('1:' || text) || md5('2:' || text) || md5('3:' || text) ||
      |    md5('4:' || text) || md5('5:' || text) || md5('6:' || text) || md5('7:' || text))) AS n_bytes,
      |  'fake' AS format,
      |  (doc_id % 64 + 16) * (doc_id % 48 + 12) AS n_pixels
      |FROM documents
      |ORDER BY media_id""".stripMargin) { (s, dir) =>
    Media.byteStats(Media.syntheticMediaFromDocs(Tables.documents(s, dir)))
      .orderBy("media_id")
  }

  /** Custom stateful streaming operator (mapGroupsWithState): the running
    * per-user counter's FINAL state after draining the events file must
    * equal the batch groupBy — the state-machine surface gated against a
    * plain SQL aggregate. Update mode + one AvailableNow-style batch →
    * exactly one row per user in the memory sink.
    */
  val q39RunningUserCounts: Q = Q(
    "q39_running_user_counts",
    """SELECT user_id, count(*) AS n_events,
      |  max(coalesce(value, CAST(0 AS DOUBLE))) AS max_value
      |FROM events
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin) { (s, dir) =>
    EventStream.runToMemory(s, s"$dir/events.parquet",
      df => EventStream.runningUserCounts(s, df), "q39_mem", OutputMode.Update)
      .orderBy("user_id")
  }

  /** Streaming exact dedup (stateful dropDuplicates): the drained
    * first-seen distinct key set must equal the batch DISTINCT — the
    * fourth stateful-streaming operator gated (windows, sessions,
    * mapGroupsWithState, dedup).
    */
  val q55StreamingDedup: Q = Q(
    "q55_streaming_dedup",
    """SELECT DISTINCT user_id, event_type FROM events
      |ORDER BY user_id, event_type""".stripMargin) { (s, dir) =>
    EventStream.runToMemory(s, s"$dir/events.parquet",
      df => EventStream.distinctUserEventTypes(df), "q55_mem", OutputMode.Append)
      .orderBy("user_id", "event_type")
  }

  /** Streaming SLIDING windows (1 h size / 30 min slide) in Complete mode:
    * each event lands in exactly two overlapping windows. The oracle
    * replays the window assignment arithmetic in integer micros — window
    * starts floor(ts/slide)·slide − k·slide for k ∈ {0,1}.
    */
  val q59SlidingWindows: Q = Q(
    "q59_sliding_windows",
    """WITH e AS (
      |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_type, value
      |  FROM events
      |), w AS (
      |  SELECT (ts_us // 1800000000) * 1800000000 - k * 1800000000 AS w_us,
      |    event_type, value
      |  FROM e, generate_series(0, 1) t(k)
      |)
      |SELECT w_us // 1000 AS window_start_ms, event_type, count(*) AS n,
      |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
      |FROM w
      |GROUP BY 1, 2
      |ORDER BY window_start_ms, event_type""".stripMargin) { (s, dir) =>
    EventStream.runToMemory(s, s"$dir/events.parquet",
      EventStream.slidingAgg, "q59_mem", OutputMode.Complete)
      .orderBy("window_start_ms", "event_type")
  }

  /** Stream-stream interval join in Append mode: clicks joined to the same
    * user's views within the preceding 30 minutes, drained over the static
    * events file — must equal the batch theta-join. The oracle compares in
    * integer micros (the Spark side reads ns-as-long and truncates to µs,
    * so the time-window predicate must be evaluated at µs precision on
    * both engines).
    */
  val q69StreamJoin: Q = Q(
    "q69_stream_join",
    """WITH e AS (
      |  SELECT event_id, user_id, event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
      |  FROM events
      |)
      |SELECT c.user_id, c.event_id AS click_id, v.event_id AS view_id,
      |  c.ts_us AS click_us, v.ts_us AS view_us
      |FROM e c JOIN e v
      |  ON c.event_type = 'click' AND v.event_type = 'view'
      |  AND c.user_id = v.user_id
      |  AND v.ts_us <= c.ts_us AND v.ts_us >= c.ts_us - 1800000000
      |ORDER BY click_id, view_id""".stripMargin) { (s, dir) =>
    EventStream.runToMemory(s, s"$dir/events.parquet",
      EventStream.clickAttribution, "q69_mem", OutputMode.Append)
      .orderBy("click_id", "view_id")
  }

  /** Stream-static broadcast join + aggregation in Complete mode: the
    * drained result must equal the batch join/groupBy. The static side is
    * read from the drain session (stateless broadcast — only the final
    * aggregation is stateful).
    */
  val q73StreamStaticJoin: Q = Q(
    "q73_stream_static_join",
    """SELECT n.n_name, count(*) AS n,
      |  CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
      |FROM events e JOIN nation n ON n.n_nationkey = e.user_id % 25
      |GROUP BY n.n_name
      |ORDER BY n.n_name""".stripMargin) { (s, dir) =>
    EventStream.runToMemory(s, s"$dir/events.parquet",
      df => EventStream.staticEnrichedCounts(df,
        Tables.loadPath(df.sparkSession, s"$dir/nation.parquet")),
      "q73_mem", OutputMode.Complete)
      .orderBy("n_name")
  }

  /** flatMapGroupsWithState sessionization (one group invocation → many
    * session rows), same oracle contract as q34 — the third arbitrary-
    * stateful surface gated (mapGroupsWithState, dropDuplicates, FMGWS).
    */
  val q77FmgwsSessions: Q = Q(
    "q77_fmgws_sessions", GapSessionsSql) { (s, dir) =>
    EventStream.sessionsViaFMGWS(s, Tables.events(s, dir))
      .orderBy("user_id", "session_start_us")
  }

  /** Streaming CDC apply gated end-to-end: the q56 change set split into
    * FOUR files and merged micro-batch by micro-batch via foreachBatch +
    * latestWins (IncrementalMerge), each batch atomically rewriting the
    * base snapshot. Tombstone retention makes the fold associative, so the
    * final live view must equal the ONE-SHOT merge — the oracle is q56's
    * MERGE-semantics SQL verbatim. This is the batch-incremental contract
    * (SURVEY T1) made driver-checkable, not just spec-checked.
    */
  val q130IncrementalMerge: Q = Q(
    "q130_incremental_merge",
    """WITH all_rows AS (
      |  SELECT c_custkey AS custkey, c_acctbal AS balance,
      |    CAST(-1 AS BIGINT) AS ver_ts, CAST(-1 AS BIGINT) AS ver_id,
      |    false AS deleted
      |  FROM customer
      |  UNION ALL
      |  SELECT o_custkey, o_totalprice,
      |    epoch_ms(CAST(o_orderdate AS TIMESTAMP)), o_orderkey,
      |    (o_orderstatus = 'F')
      |  FROM orders WHERE o_orderkey % 4 = 0
      |), ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY custkey
      |    ORDER BY ver_ts DESC, ver_id DESC) AS rn
      |  FROM all_rows
      |)
      |SELECT custkey, balance, (ver_id >= 0) AS from_change
      |FROM ranked WHERE rn = 1 AND NOT deleted
      |ORDER BY custkey""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.functions._
    graft.io.TempDirs.withTempDir("q130") { tmpDir =>
    val tmp = tmpDir.toString
    val basePath = s"$tmp/base.parquet"
    val changesDir = s"$tmp/changes"
    val base = Tables.customer(s, dir).select(
      col("c_custkey").as("custkey"), col("c_acctbal").as("balance"),
      lit(-1L).as("ver_ts"), lit(-1L).as("ver_id"), lit(false).as("deleted"))
    graft.io.SingleFile.writeParquetAtomic(base, basePath)
    // a 1/4 slice of orders: the gate proves the FOLD is associative, which
    // needs multiple batches, not the full change volume (each micro-batch
    // rewrites the whole base — q56 covers the one-shot merge on all rows)
    val changes = Tables.orders(s, dir)
      .filter(col("o_orderkey") % 4 === 0)
      .select(
        col("o_custkey").as("custkey"), col("o_totalprice").as("balance"),
        unix_millis(col("o_orderdate").cast("timestamp")).as("ver_ts"),
        col("o_orderkey").as("ver_id"),
        (col("o_orderstatus") === "F").as("deleted"))
    changes.repartition(4).write.mode("overwrite").parquet(changesDir)
    val stream = s.readStream.schema(changes.schema)
      .option("maxFilesPerTrigger", 1) // one change file per micro-batch
      .parquet(changesDir)
    graft.streaming.IncrementalMerge.run(s, stream, basePath,
      Seq("custkey"), Seq("ver_ts", "ver_id"), "deleted", "q130_merge")
      .awaitTermination()
    // localCheckpoint pins the merged rows before withTempDir deletes the
    // base/changes staging the plan reads from
    graft.streaming.IncrementalMerge.liveView(s, basePath, "deleted")
      .select(col("custkey"), col("balance"), (col("ver_id") >= 0L).as("from_change"))
      .orderBy("custkey")
      .localCheckpoint()
    }
  }

  /** Watermark-BOUNDED streaming dedup (`dropDuplicatesWithinWatermark`):
    * unlike q55's unbounded dropDuplicates (state grows with distinct keys
    * forever), this operator evicts key state once the watermark passes —
    * the only dedup a continuous production stream can afford. With a delay
    * covering the whole drained file, eviction removes nothing the drain
    * still needs, so the result must equal the batch DISTINCT exactly —
    * gating the eviction-capable operator itself, not just its spec.
    */
  val q134StreamingDedupBounded: Q = Q(
    "q134_streaming_dedup_bounded",
    """SELECT DISTINCT user_id, event_type FROM events
      |ORDER BY user_id, event_type""".stripMargin) { (s, dir) =>
    EventStream.runToMemory(s, s"$dir/events.parquet",
      df => EventStream.distinctUserEventTypes(df, Some("100 days")),
      "q134_mem", OutputMode.Append)
      .orderBy("user_id", "event_type")
  }

  /** Multimodal decode path made driver-checkable: the synthetic media
    * table (md5-derived 128-byte blobs) runs through the REAL executor-side
    * decode shape — `mapPartitions` with a per-partition codec context
    * (Media.decodeFrames) — and the gate emits the per-position byte sums
    * recovered from the decoded float features. Recovery is exact:
    * feature[k] = (Σ_{j<8} byte_{j,k}/255f)/8, and the accumulated float
    * error (~1e-7) is three orders below the 1/2040 rounding slack, so
    * round(feature·2040) is the integer Σ byte_{j,k} bit-for-bit. The
    * oracle rebuilds the same sums from md5 hex directly — proving blob
    * synthesis, the typed frame schema, and the decode fan-out end to end
    * without a codec library in the container.
    */
  val q135MediaFeatures: Q = Q(
    "q135_media_features",
    """SELECT doc_id AS media_id, k AS pos,
      |  CAST(sum(CAST(('0x' || substring(md5(CAST(j AS VARCHAR) || ':' || text), 2*k+1, 2)) AS INT)) AS BIGINT) AS byte_sum
      |FROM documents, generate_series(0, 7) tj(j), generate_series(0, 15) tk(k)
      |GROUP BY doc_id, k
      |ORDER BY media_id, pos""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.functions._
    val decoded = Media.decodeFrames(s,
      Media.syntheticMediaFromDocs(Tables.documents(s, dir)))
    decoded.toDF()
      .select(col("media_id"), posexplode(col("pixels")).as(Seq("pos", "f")))
      .select(col("media_id"), col("pos"),
        round(col("f").cast("double") * 2040).cast("long").as("byte_sum"))
      .orderBy("media_id", "pos")
  }

  /** Exactly-once across a stop/restart: the hourly aggregation drained in
    * two checkpointed queries (file 1, stop, file 2 arrives, resume). The
    * file-source commit log must not replay file 1 and the state store must
    * restore its counts — the final Complete-mode emission equals the
    * one-shot batch answer over all events (q33's oracle verbatim). Replay
    * doubles counts, state loss halves them; both break the hash.
    */
  val q137StreamRestart: Q = Q(
    "q137_stream_restart",
    """SELECT epoch_ms(CAST(date_trunc('hour', ts) AS TIMESTAMP)) AS hour_start,
      |  event_type, count(*) AS n,
      |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_value_cents
      |FROM events WHERE event_id % 4 = 0
      |GROUP BY 1, 2
      |ORDER BY hour_start, event_type""".stripMargin) { (s, dir) =>
    // a 1/4 slice: the contract under test is recovery (no replay, no state
    // loss), which needs two checkpointed drains, not the full volume
    EventStream.runWithRestart(s, s"$dir/events.parquet",
      EventStream.hourlyAgg, "q137_mem",
      rowFilter = col("event_id") % 4 === 0)
      .orderBy("hour_start", "event_type")
  }

  /** The decode→resize chain end-to-end: q135's decoded 16-float features
    * resampled to 4 bins (fixed-width averaging — the deterministic
    * stand-in for pixel-space interpolation). Recovery trick as q135's,
    * one level up: resized[r] = (Σ_{k∈4r..4r+3} feature[k])/4, so
    * round(resized·4·2040) is the exact 32-byte group sum (float error
    * still three orders under the rounding slack). Oracle groups the md5
    * bytes by k DIV 4.
    */
  val q138MediaResize: Q = Q(
    "q138_media_resize",
    """SELECT doc_id AS media_id, k // 4 AS pos,
      |  CAST(sum(CAST(('0x' || substring(md5(CAST(j AS VARCHAR) || ':' || text), 2*k+1, 2)) AS INT)) AS BIGINT) AS byte_sum
      |FROM documents, generate_series(0, 7) tj(j), generate_series(0, 15) tk(k)
      |GROUP BY doc_id, k // 4
      |ORDER BY media_id, pos""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.functions._
    val decoded = Media.decodeFrames(s,
      Media.syntheticMediaFromDocs(Tables.documents(s, dir)))
    Media.resizeFeatures(s, decoded, targetLen = 4)
      .select(col("media_id"), posexplode(col("features")).as(Seq("pos", "f")))
      .select(col("media_id"), col("pos"),
        round(col("f").cast("double") * 4 * 2040).cast("long").as("byte_sum"))
      .orderBy("media_id", "pos")
  }

  /** Perceptual image hash (pHash) over the synthetic media blobs: exact
    * integer 2D DCT (separable row/column passes against a literal
    * round(1024·cos) basis), bit per coefficient vs the coefficient
    * median, 63-bit hash — plus the per-hash collision count (distance-0
    * duplicate groups). The oracle replays the full integer DCT chain from
    * the md5 pixel synthesis, so every hash bit is driver-checked.
    */
  val q157Phash: Q = {
    import graft.multimodal.Phash
    val rowVals = (for { u <- 0 until Phash.Keep; n <- 0 until Phash.Rows }
      yield s"($u, $n, ${Phash.basis(n, u, Phash.Rows)})").mkString(", ")
    val colVals = (for { v <- 0 until Phash.Keep; n <- 0 until Phash.Cols }
      yield s"($v, $n, ${Phash.basis(n, v, Phash.Cols)})").mkString(", ")
    Q(
      "q157_phash",
      s"""WITH rowb(u, r, wr) AS (VALUES $rowVals),
         |colb(v, c, wc) AS (VALUES $colVals),
         |pix AS (
         |  SELECT doc_id AS media_id, j AS r, k AS c,
         |    CAST(('0x' || substring(md5(CAST(j AS VARCHAR) || ':' || text), 2*k+1, 2)) AS BIGINT) AS x
         |  FROM documents, generate_series(0, ${Phash.Rows - 1}) tj(j),
         |    generate_series(0, ${Phash.Cols - 1}) tk(k)
         |), t1 AS (
         |  SELECT media_id, u, c, CAST(SUM(wr * x) AS BIGINT) AS t
         |  FROM pix JOIN rowb ON rowb.r = pix.r GROUP BY media_id, u, c
         |), y AS (
         |  SELECT media_id, u, v, CAST(SUM(wc * t) AS BIGINT) AS y
         |  FROM t1 JOIN colb ON colb.c = t1.c GROUP BY media_id, u, v
         |  HAVING NOT (u = 0 AND v = 0)
         |), med AS (
         |  SELECT media_id, list_sort(list(y))[32] AS med FROM y GROUP BY media_id
         |), ph AS (
         |  SELECT y.media_id,
         |    CAST(SUM(CASE WHEN y.y > med.med
         |      THEN (CAST(1 AS BIGINT) << CAST(u * ${Phash.Keep} + v - 1 AS INT))
         |      ELSE 0 END) AS BIGINT) AS phash
         |  FROM y JOIN med ON med.media_id = y.media_id
         |  GROUP BY y.media_id
         |)
         |SELECT media_id, phash,
         |  CAST(count(*) OVER (PARTITION BY phash) AS BIGINT) AS n_same_hash
         |FROM ph ORDER BY media_id""".stripMargin) { (s, dir) =>
      val media = Media.syntheticMediaFromDocs(Tables.documents(s, dir))
      val ph = Phash.phash(s, media)
      val w = org.apache.spark.sql.expressions.Window.partitionBy("phash")
      ph.withColumn("n_same_hash", count(lit(1)).over(w))
        .orderBy("media_id")
    }
  }

  /** Streaming funnel: the mapGroupsWithState machine's drained final
    * state must equal the batch funnel (q168's greedy windowed-MIN
    * contract) — a multi-step state machine gated beyond q39's monotone
    * counter. Same oracle as q168.
    */
  val q179StreamingFunnel: Q = Q(
    "q179_streaming_funnel",
    s"""WITH e AS (
       |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_type
       |  FROM events
       |), s0 AS (
       |  SELECT user_id, min(ts_us) AS t0 FROM e
       |  WHERE event_type = 'view' GROUP BY 1
       |), s1 AS (
       |  SELECT e.user_id, min(ts_us) AS t1 FROM e JOIN s0 USING (user_id)
       |  WHERE event_type = 'click' AND ts_us > t0
       |    AND ts_us <= t0 + 21600000000 GROUP BY 1
       |), s2 AS (
       |  SELECT e.user_id, min(ts_us) AS t2 FROM e JOIN s1 USING (user_id)
       |  WHERE event_type = 'purchase' AND ts_us > t1
       |    AND ts_us <= t1 + 21600000000 GROUP BY 1
       |)
       |SELECT u.user_id, coalesce(t0, 0) AS t0_us, coalesce(t1, 0) AS t1_us,
       |  coalesce(t2, 0) AS t2_us,
       |  CAST(CAST(t0 IS NOT NULL AS BIGINT) + CAST(t1 IS NOT NULL AS BIGINT)
       |    + CAST(t2 IS NOT NULL AS BIGINT) AS BIGINT) AS steps_completed
       |FROM (SELECT DISTINCT user_id FROM e) u
       |LEFT JOIN s0 USING (user_id) LEFT JOIN s1 USING (user_id)
       |LEFT JOIN s2 USING (user_id)
       |ORDER BY user_id""".stripMargin) { (s, dir) =>
    EventStream.runToMemory(s, s"$dir/events.parquet",
      df => EventStream.funnelState(s, df,
        Seq("view", "click", "purchase"), 21600000000L),
      "q179_mem", OutputMode.Update)
      .orderBy("user_id")
  }

  /** transformWithState (Spark 4 arbitrary state, RocksDB-backed): the
    * drained per-user MapState mode must equal the batch modal-type
    * aggregate with the (count desc, type asc) tiebreak — the NEW
    * stateful API gated next to its mapGroupsWithState (q39/q179) and
    * flatMapGroupsWithState (q77) predecessors.
    */
  val q180TwsModalType: Q = Q(
    "q180_tws_modal_type",
    """WITH c AS (
      |  SELECT user_id, event_type, count(*) AS n
      |  FROM events GROUP BY 1, 2
      |), t AS (
      |  SELECT user_id, CAST(SUM(n) AS BIGINT) AS n_events FROM c GROUP BY 1
      |), m AS (
      |  SELECT user_id, event_type AS top_type, n AS top_n FROM (
      |    SELECT *, row_number() OVER (
      |      PARTITION BY user_id ORDER BY n DESC, event_type) AS r
      |    FROM c
      |  ) WHERE r = 1
      |)
      |SELECT user_id, n_events, top_type, CAST(top_n AS BIGINT) AS top_n
      |FROM t JOIN m USING (user_id)
      |ORDER BY user_id""".stripMargin) { (s, dir) =>
    EventStream.runToMemory(s, s"$dir/events.parquet",
      df => EventStream.userModalType(s, df), "q180_mem", OutputMode.Update)
      .orderBy("user_id")
  }

  /** transformWithState EVENT-TIME TIMERS (q183): session-timeout emission
    * — sessions closed by a later in-batch event emit immediately
    * (`closed_by='batch'`); each user's trailing open session emits via a
    * registered timer (`closed_by='timer'`) only once the watermark passes
    * its `last + gap` close, and a session still open when the drain's
    * watermark stops advancing is NOT emitted. The timer arithmetic is
    * ms-grained, pinned by StreamingSpec's session-timer fixture: a timer at
    * `ceil(close_us/1000)` fires iff it is `<=` the final watermark
    * `floor(max_ts_us/1000) - delay_ms` — including the exact-boundary
    * case. The oracle replays sessionization AND that firing rule.
    */
  val q183TwsSessionTimers: Q = Q(
    "q183_tws_session_timers",
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
      |  FROM events
      |), wm AS (
      |  SELECT (max(ts_us) // 1000 - 7200000) AS wm_ms FROM e
      |), s AS (
      |  SELECT user_id, ts_us, event_id,
      |    CASE WHEN lag(ts_us) OVER w IS NULL
      |           OR ts_us - lag(ts_us) OVER w > 1800000000
      |         THEN 1 ELSE 0 END AS brk
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
      |), g AS (
      |  SELECT user_id, ts_us,
      |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |      ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM s
      |), sess AS (
      |  SELECT user_id, sid, min(ts_us) AS session_start_us,
      |    max(ts_us) + 1800000000 AS session_end_us,
      |    count(*) AS n_events
      |  FROM g GROUP BY user_id, sid
      |), flagged AS (
      |  SELECT *, sid = max(sid) OVER (PARTITION BY user_id) AS is_last
      |  FROM sess
      |)
      |SELECT user_id, session_start_us, session_end_us,
      |  CAST(n_events AS BIGINT) AS n_events,
      |  CASE WHEN is_last THEN 'timer' ELSE 'batch' END AS closed_by
      |FROM flagged CROSS JOIN wm
      |WHERE (NOT is_last) OR ((session_end_us + 999) // 1000) <= wm_ms
      |ORDER BY user_id, session_start_us""".stripMargin) { (s, dir) =>
    EventStream.runToMemory(s, s"$dir/events.parquet",
      df => EventStream.sessionTimeouts(s, df,
        gapUs = 1800000000L, delay = "2 hours"),
      "q183_mem", OutputMode.Append)
      .orderBy("user_id", "session_start_us")
  }

  /** transformWithState ListState (q185): per-user last-3 events — the
    * bounded recency buffer, completing the typed-state surface (q180
    * MapState, q183 ValueState + event-time timers, here ListState).
    * Update-mode drain leaves each user's final list; the oracle is the
    * batch recency window.
    */
  val q185TwsRecentEvents: Q = Q(
    "q185_tws_recent_events",
    """SELECT user_id, rn, ts_us, event_id, event_type
      |FROM (
      |  SELECT user_id,
      |    CAST(row_number() OVER (PARTITION BY user_id
      |      ORDER BY ts_us DESC, event_id DESC) AS BIGINT) AS rn,
      |    ts_us, event_id, event_type
      |  FROM (
      |    SELECT user_id, event_id, event_type,
      |      epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
      |    FROM events
      |  )
      |) WHERE rn <= 3
      |ORDER BY user_id, rn""".stripMargin) { (s, dir) =>
    EventStream.runToMemory(s, s"$dir/events.parquet",
      df => EventStream.recentEvents(s, df, k = 3),
      "q185_mem", OutputMode.Update)
      .orderBy("user_id", "rn")
  }

  /** transformWithState INITIAL STATE (q191): warm-start a streaming
    * per-user counter from a batch snapshot (even event_ids), stream the
    * rest (odd event_ids), and the final totals must equal the batch
    * count over ALL events — proving the snapshot seeded real state.
    * Snapshot-only users never emit (initial state is state, not input);
    * the oracle filters to users with ≥1 streamed event.
    */
  val q191TwsWarmStart: Q = Q(
    "q191_tws_warm_start",
    """WITH c AS (
      |  SELECT user_id,
      |    CAST(SUM(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_init,
      |    CAST(count(*) AS BIGINT) AS n_all,
      |    SUM(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END) AS n_stream
      |  FROM events GROUP BY 1
      |)
      |SELECT user_id, n_all AS n_events, n_init AS from_init
      |FROM c WHERE n_stream > 0
      |ORDER BY user_id""".stripMargin) { (s, dir) =>
    EventStream.runToMemory(s, s"$dir/events.parquet",
      df => {
        val ss = df.sparkSession
        val snapshot = graft.Tables.events(ss, dir)
          .filter(col("event_id") % 2 === 0)
          .groupBy("user_id").agg(count(lit(1)).as("n"))
        EventStream.warmStartCounts(s,
          df.filter(col("event_id") % 2 === 1), snapshot)
      },
      "q191_mem", OutputMode.Update)
      .orderBy("user_id")
  }

  /** Views `joinType`-joined to same-user clicks in the following 30
    * minutes, both sides watermarked 2 hours: the interval join of q199,
    * q200, q207 and q208, each of which selects its own output row.
    */
  private def viewClickJoin(d: DataFrame, joinType: String): DataFrame = {
    val views = d.where(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("event_id").as("view_id"))
      .withWatermark("v_ts", "2 hours")
    val clicks = d.where(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
      .withWatermark("c_ts", "2 hours")
    views.join(clicks,
      col("v_user") === col("c_user") &&
        col("c_ts") >= col("v_ts") &&
        col("c_ts") <= col("v_ts") + expr("INTERVAL 30 MINUTES"),
      joinType)
  }

  /** q199's and q200's drain: `transform` over two micro-batches, the
    * events with an even `event_id` first, then the odd ones (pmod, so a
    * negative odd id is odd too). An `event_id` parity split, unlike a hash
    * split, is DuckDB-replayable; the halves read through `Tables.events`,
    * so the staged files hold normalized ts.
    */
  private def parityDrain(s: SparkSession, dir: String, queryName: String)(
      transform: DataFrame => DataFrame): DataFrame = {
    val events = Tables.events(s, dir)
    val parity = pmod(col("event_id"), lit(2))
    EventStream.runBatchedAppend(s,
      Seq(events.where(parity === 0), events.where(parity === 1)),
      transform, queryName)
  }

  /** Stream-stream LEFT OUTER interval join (q199): views left-joined to
    * same-user clicks in the following 30 minutes; a view with NO click
    * emits its null row only once the state watermark PROVES no match can
    * arrive. The emission rule is pinned by StreamingSpec's q199 test (7
    * boundary cases incl. sub-ms; PLANS.md, Round 9, "Round-9 late
    * addition: q199"): nulls are a MULTI-batch phenomenon
    * (batch N evicts with the watermark derived from batches < N — a
    * single-batch drain can never emit one; the two-batch drain plus the
    * engine's final NO-DATA batch bring every view under the FULL-data
    * watermark), the watermark is the MIN of both sides' (each
    * floor-ms(max ts) − delay), and a globally-unmatched view emits iff
    * `v_us <= (wm_ms − windowMs − 1) · 1000`. The batch split drops out
    * of the oracle entirely — the final no-data eviction pass subsumes
    * the per-batch thresholds. Inner rows across batches all survive
    * (eviction runs after each batch's join).
    */
  val q199OuterStreamJoin: Q = Q(
    "q199_outer_stream_join",
    """WITH e AS (
      |  SELECT event_id, user_id, event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |  FROM events
      |), v AS (
      |  SELECT user_id, event_id AS view_id, us AS v_us FROM e
      |  WHERE event_type = 'view'
      |), c AS (
      |  SELECT user_id, event_id AS click_id, us AS c_us FROM e
      |  WHERE event_type = 'click'
      |), wm AS (
      |  SELECT least(
      |    (SELECT max(us) // 1000 FROM e WHERE event_type = 'view'),
      |    (SELECT max(us) // 1000 FROM e WHERE event_type = 'click')
      |  ) - 7200000 AS wm_ms
      |), matched AS (
      |  SELECT v.user_id, v.view_id, c.click_id, v.v_us AS view_us
      |  FROM v JOIN c ON c.user_id = v.user_id
      |    AND c.c_us >= v.v_us AND c.c_us <= v.v_us + 1800000000
      |), nulls AS (
      |  SELECT v.user_id, v.view_id, CAST(NULL AS BIGINT) AS click_id,
      |    v.v_us AS view_us
      |  FROM v CROSS JOIN wm
      |  WHERE NOT EXISTS (
      |      SELECT 1 FROM c WHERE c.user_id = v.user_id
      |        AND c.c_us >= v.v_us AND c.c_us <= v.v_us + 1800000000)
      |    AND v.v_us <= (wm.wm_ms - 1800001) * 1000
      |)
      |SELECT user_id, view_id, click_id, view_us FROM matched
      |UNION ALL
      |SELECT user_id, view_id, click_id, view_us FROM nulls
      |ORDER BY user_id, view_id, click_id""".stripMargin) { (s, dir) =>
    parityDrain(s, dir, "q199_outer")(viewClickJoin(_, "left_outer")
      .select(col("v_user").as("user_id"), col("view_id"),
        col("click_id"), unix_micros(col("v_ts")).as("view_us")))
      .orderBy("user_id", "view_id", "click_id")
  }

  /** Stream-stream FULL OUTER interval join (q200): q199's left side plus
    * the symmetric click-side nulls. StreamingSpec's q200 test pins the
    * click rule: eviction keys off the GLOBAL min watermark (not the
    * per-side one), with the click's join allowance of 0 and the same
    * extra −1 ms —
    * an unmatched click emits iff `c_us ≤ (wm_ms − 1) · 1000`, verified
    * at 1 min / 2 ms / 1 ms / 0.5 ms / exact / +1 ms boundaries.
    */
  val q200FullOuterStreamJoin: Q = Q(
    "q200_full_outer_stream_join",
    """WITH e AS (
      |  SELECT event_id, user_id, event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |  FROM events
      |), v AS (
      |  SELECT user_id, event_id AS view_id, us AS v_us FROM e
      |  WHERE event_type = 'view'
      |), c AS (
      |  SELECT user_id, event_id AS click_id, us AS c_us FROM e
      |  WHERE event_type = 'click'
      |), wm AS (
      |  SELECT least(
      |    (SELECT max(us) // 1000 FROM e WHERE event_type = 'view'),
      |    (SELECT max(us) // 1000 FROM e WHERE event_type = 'click')
      |  ) - 7200000 AS wm_ms
      |), matched AS (
      |  SELECT v.user_id, v.view_id, c.click_id
      |  FROM v JOIN c ON c.user_id = v.user_id
      |    AND c.c_us >= v.v_us AND c.c_us <= v.v_us + 1800000000
      |), vnull AS (
      |  SELECT v.user_id, v.view_id, CAST(NULL AS BIGINT) AS click_id
      |  FROM v CROSS JOIN wm
      |  WHERE NOT EXISTS (
      |      SELECT 1 FROM c WHERE c.user_id = v.user_id
      |        AND c.c_us >= v.v_us AND c.c_us <= v.v_us + 1800000000)
      |    AND v.v_us <= (wm.wm_ms - 1800001) * 1000
      |), cnull AS (
      |  SELECT c.user_id, CAST(NULL AS BIGINT) AS view_id, c.click_id
      |  FROM c CROSS JOIN wm
      |  WHERE NOT EXISTS (
      |      SELECT 1 FROM v WHERE v.user_id = c.user_id
      |        AND c.c_us >= v.v_us AND c.c_us <= v.v_us + 1800000000)
      |    AND c.c_us <= (wm.wm_ms - 1) * 1000
      |)
      |SELECT user_id, view_id, click_id FROM matched
      |UNION ALL SELECT user_id, view_id, click_id FROM vnull
      |UNION ALL SELECT user_id, view_id, click_id FROM cnull
      |ORDER BY user_id, view_id, click_id""".stripMargin) { (s, dir) =>
    parityDrain(s, dir, "q200_full_outer")(viewClickJoin(_, "full_outer")
      .select(coalesce(col("v_user"), col("c_user")).as("user_id"),
        col("view_id"), col("click_id")))
      .orderBy("user_id", "view_id", "click_id")
  }

  /** dropDuplicatesWithinWatermark EVICTION + RE-ADMISSION (q203): q134
    * gates the dedup happy path; this gates what happens when a key's
    * state AGES OUT — the duplicate that arrives after expiry is a fresh
    * first-seen and emits AGAIN. Contract pinned by StreamingSpec's q203
    * eviction test (PLANS.md, Round 9, "q203 (final round-9 gate)"):
    * state expiry = floor_ms(first_ts) + delay_ms; eviction runs at batch
    * END against the batch's PLANNING watermark, inclusive (expiry ≤ wm),
    * so same-batch duplicates still drop and re-admission starts the next
    * batch; duplicates do NOT extend expiry. Rows below the watermark
    * follow a separate late-input rule (one batch behind; q204, q210),
    * so this fixture keeps EVERY row above the watermark of its batch —
    * the gate certifies eviction/re-admission, not late-row admission.
    * Fixture: one row per (user, batch); batch-1 times spread over 49
    * hours (eviction boundary falls between whole hours — ms-edge-free),
    * batch-2/3 rows sit above the batch-1 maximum. Multiplicity per user
    * is then exactly 1 + (1 if the batch-1 record expired under batch
    * 2's planning watermark — re-admitted by the batch-3 row).
    */
  val q203DedupReadmission: Q = Q(
    "q203_dedup_readmission",
    """WITH u AS (SELECT DISTINCT user_id FROM events),
      |b1 AS (
      |  SELECT user_id,
      |    1700000000000000 + (user_id % 49) * 3600000000 AS us
      |  FROM u
      |), wm2 AS (
      |  SELECT (max(us) // 1000) - 7200000 AS wm_ms FROM b1
      |)
      |SELECT u.user_id,
      |  CAST(CASE WHEN (b1.us // 1000 + 7200000) <= wm2.wm_ms
      |       THEN 2 ELSE 1 END AS BIGINT) AS n_emissions
      |FROM u JOIN b1 USING (user_id) CROSS JOIN wm2
      |ORDER BY user_id""".stripMargin) { (s, dir) =>
    val users = Tables.events(s, dir).select("user_id").distinct()
      .localCheckpoint()
    val b1 = users.select(col("user_id"),
      expr("timestamp_micros(1700000000000000 + (user_id % 49) * 3600000000)")
        .as("ts"))
    val m1 = b1.agg(max(unix_micros(col("ts"))).as("_mx"))
    def later(offsetUs: Long) = users.crossJoin(broadcast(m1))
      .select(col("user_id"),
        expr(s"timestamp_micros(_mx + ${offsetUs}L)").as("ts"))
    EventStream.runBatchedAppend(s,
      Seq(b1, later(3600000000L), later(7200000000L)),
      d => d.withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark("user_id")
        .select("user_id"),
      "q203_readmit")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_emissions"))
      .orderBy("user_id")
  }

  /** Streaming-dedup LATE-INPUT filter (q204): completes q203's contract
    * with the admission side (PLANS.md round-9 probe record; q210) — batch N
    * filters its inputs against batch N−1's watermark (one batch BEHIND
    * the eviction watermark: Spark's dual late/eviction watermark
    * design), the comparison is FULL µs precision on the row, and the
    * boundary is inclusive: a row is dropped iff
    * `ts_us <= wm_late_us` (+0.5 ms above admitted, exact and −0.5 ms
    * dropped). Fixture: batch 1 sets the late watermark with one row at
    * a fixed epoch, batch 3 carries one row per events-user offset
    * {−1000, −500, 0, +500, +1000} µs from it by user_id % 5 — exactly
    * the users at positive offsets emit.
    */
  val q204DedupLateFilter: Q = Q(
    "q204_dedup_late_filter",
    """WITH u AS (SELECT DISTINCT user_id FROM events)
      |SELECT user_id FROM u WHERE user_id % 5 >= 3
      |UNION ALL SELECT 999999998 AS user_id
      |UNION ALL SELECT 999999999 AS user_id
      |ORDER BY user_id""".stripMargin) { (s, dir) =>
    val t1Us = 1700000000000000L
    val wmLateUs = t1Us - 3600L * 1000000L
    import s.implicits._
    val p1 = Seq(999999999L).toDF("user_id")
      .select(col("user_id"), expr(s"timestamp_micros(${t1Us}L)").as("ts"))
    val p2 = Seq(999999998L).toDF("user_id")
      .select(col("user_id"),
        expr(s"timestamp_micros(${t1Us + 3600L * 1000000L}L)").as("ts"))
    val p3 = Tables.events(s, dir).select("user_id").distinct()
      .select(col("user_id"),
        expr(s"timestamp_micros(${wmLateUs}L + (user_id % 5 - 2) * 500)")
          .as("ts"))
    EventStream.runBatchedAppend(s, Seq(p1, p2, p3),
      d => d.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("user_id")
        .select("user_id"),
      "q204_late")
      .orderBy("user_id")
  }

  /** Hourly windowed aggregation in APPEND mode (q205): unlike q33's
    * Complete mode (every window re-emitted each batch), Append emits a
    * window exactly once — when the watermark passes its END and the
    * window is finalized/evicted. After a drain plus the engine's final
    * no-data batch, the emitted set is the windows whose end sits at or
    * below the full-data watermark `floor_ms(max ts) − delay`; the last
    * open windows are withheld (they are not over). The oracle states
    * that window subset in closed form — the semantic difference between
    * the two output modes made hash-checkable.
    */
  val q205AppendWindows: Q = Q(
    "q205_append_windows",
    """WITH e AS (
      |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type, value
      |  FROM events
      |), wm AS (
      |  SELECT (max(us) // 1000 - 7200000) AS wm_ms FROM e
      |)
      |SELECT (us // 3600000000) * 3600000 AS hour_start, event_type,
      |  count(*) AS n,
      |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT)
      |    AS sum_value_cents
      |FROM e CROSS JOIN wm
      |WHERE (us // 3600000000) * 3600000 + 3600000 <= wm.wm_ms
      |GROUP BY 1, 2
      |ORDER BY hour_start, event_type""".stripMargin) { (s, dir) =>
    EventStream.runToMemory(s, s"$dir/events.parquet",
      EventStream.hourlyAgg, "q205_mem", OutputMode.Append)
      .orderBy("hour_start", "event_type")
  }

  /** session_window in APPEND mode (q206): q34 drains sessions in
    * Complete mode; Append emits each merged session exactly once, when
    * the watermark passes its END (last event + gap, inclusive at ms
    * grain via the final no-data batch) — each user's trailing
    * still-open session is withheld. The oracle is q34's sessionization
    * fold filtered to watermark-finalized sessions.
    */
  val q206AppendSessions: Q = Q(
    "q206_append_sessions",
    """WITH e AS (
      |  SELECT user_id, event_id, value,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
      |  FROM events
      |), wm AS (SELECT (max(ts_us) // 1000 - 7200000) AS wm_ms FROM e),
      |s AS (
      |  SELECT user_id, ts_us, value,
      |    sum(CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000
      |        THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
      |      AS session_id
      |  FROM (
      |    SELECT user_id, event_id, value, ts_us,
      |      lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
      |        AS prev_us
      |    FROM e
      |  )
      |), sess AS (
      |  SELECT user_id, min(ts_us) AS session_start_us,
      |    max(ts_us) + 1800000000 AS session_end_us,
      |    count(*) AS n_events,
      |    CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT)
      |      AS sum_value_cents
      |  FROM s GROUP BY user_id, session_id
      |)
      |SELECT user_id, session_start_us, session_end_us, n_events,
      |  sum_value_cents
      |FROM sess CROSS JOIN wm
      |WHERE session_end_us // 1000 <= wm.wm_ms
      |ORDER BY user_id, session_start_us""".stripMargin) { (s, dir) =>
    EventStream.runToMemory(s, s"$dir/events.parquet",
      EventStream.sessionAgg, "q206_mem", OutputMode.Append)
      .orderBy("user_id", "session_start_us")
  }

  /** Stream-stream LEFT SEMI interval join (q207): completes the
    * streaming join-type matrix (inner q69, left outer q199, full outer
    * q200) — a view emits ONCE when its first matching click arrives,
    * never re-emits for further matches, and unmatched views emit
    * nothing (no null row, no watermark wait). The emitted set is
    * therefore exactly the EXISTS subset — no emission-rule subtlety,
    * which is itself the contract worth pinning.
    */
  val q207SemiStreamJoin: Q = Q(
    "q207_semi_stream_join",
    """WITH e AS (
      |  SELECT event_id, user_id, event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |  FROM events
      |)
      |SELECT v.user_id, v.event_id AS view_id, v.us AS view_us
      |FROM e v
      |WHERE v.event_type = 'view' AND EXISTS (
      |  SELECT 1 FROM e c WHERE c.event_type = 'click'
      |    AND c.user_id = v.user_id
      |    AND c.us >= v.us AND c.us <= v.us + 1800000000)
      |ORDER BY view_id""".stripMargin) { (s, dir) =>
    EventStream.runToMemory(s, s"$dir/events.parquet",
      viewClickJoin(_, "left_semi")
        .select(col("v_user").as("user_id"), col("view_id"),
          unix_micros(col("v_ts")).as("view_us")),
      "q207_mem", OutputMode.Append)
      .orderBy("view_id")
  }

  /** CHAINED stateful operators (q208): a stream-stream interval join
    * feeding a tumbling windowed aggregation in ONE streaming query —
    * the multiple-stateful-operator support added in Spark 3.5/4
    * (SPARK-42376), previously impossible without an intermediate sink.
    * Attribution pairs (click within 30 min after the view) aggregate
    * into hourly counts on the CLICK time, Append mode: a window
    * finalizes under the aggregation's PROPAGATED watermark, which the
    * engine delays by the join's interval bound (30 min) — the emitted
    * set is windows with `end ≤ wm − 30min` at ms grain. The oracle
    * replays the join, the window assignment, and that propagated-
    * watermark finalization rule.
    */
  val q208ChainedStateful: Q = Q(
    "q208_chained_stateful",
    """WITH e AS (
      |  SELECT event_id, user_id, event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |  FROM events
      |), wm AS (
      |  SELECT least(
      |    (SELECT max(us) // 1000 FROM e WHERE event_type = 'view'),
      |    (SELECT max(us) // 1000 FROM e WHERE event_type = 'click')
      |  ) - 7200000 AS wm_ms
      |), pairs AS (
      |  SELECT c.us AS c_us
      |  FROM e v JOIN e c
      |    ON v.event_type = 'view' AND c.event_type = 'click'
      |    AND c.user_id = v.user_id
      |    AND c.us >= v.us AND c.us <= v.us + 1800000000
      |)
      |SELECT (c_us // 3600000000) * 3600000 AS hour_start,
      |  count(*) AS n_pairs
      |FROM pairs CROSS JOIN wm
      |WHERE (c_us // 3600000000) * 3600000 + 3600000 <= wm.wm_ms - 1800000
      |GROUP BY 1
      |ORDER BY hour_start""".stripMargin) { (s, dir) =>
    EventStream.runToMemory(s, s"$dir/events.parquet",
      viewClickJoin(_, "inner")
        .groupBy(window(col("c_ts"), "1 hour"))
        .agg(count(lit(1)).as("n_pairs"))
        .select(unix_millis(col("window.start")).as("hour_start"),
          col("n_pairs")),
      "q208_mem", OutputMode.Append)
      .orderBy("hour_start")
  }

  /** Sub-watermark ADMISSION (q210): the corner q203's probe saw behave
    * "inconsistently" until PLANS.md's round-9 repro resolved it — Spark's dedup
    * late-input filter runs against the PREVIOUS batch's planning
    * watermark (one batch behind eviction), so a row BELOW the current
    * batch's eviction watermark is still ADMITTED (and emitted as
    * first-seen) when it clears the lagged filter value. Fixture: batch 1
    * anchors at t1 (its own planning watermark is unset → batch 2's late
    * filter passes everything); batch 2 carries every events-user at
    * t1 − 2h — BELOW batch 2's 1-hour eviction watermark (t1 − 1h) yet
    * admitted and emitted; batch 3 carries disjoint users (+10^9) at the
    * SAME timestamp — now ≤ batch 2's planning watermark (t1 − 1h), so
    * every one is late-dropped. Output = anchor + all batch-2 users and
    * NO batch-3 user: both halves of the dual-watermark design in one
    * hash. (Round-9 verdict item 5: the rule frozen as a gate, not just
    * a probe note.)
    */
  val q210DedupSubWmAdmission: Q = Q(
    "q210_dedup_subwm_admission",
    """SELECT DISTINCT user_id FROM events
      |UNION ALL SELECT 999999999 AS user_id
      |ORDER BY user_id""".stripMargin) { (s, dir) =>
    val t1Us = 1700000000000000L
    val subUs = t1Us - 2L * 3600L * 1000000L // below the eviction watermark
    import s.implicits._
    val p1 = Seq(999999999L).toDF("user_id")
      .select(col("user_id"), expr(s"timestamp_micros(${t1Us}L)").as("ts"))
    val users = Tables.events(s, dir).select("user_id").distinct()
      .localCheckpoint()
    val p2 = users
      .select(col("user_id"), expr(s"timestamp_micros(${subUs}L)").as("ts"))
    val p3 = users
      .select((col("user_id") + 1000000000L).as("user_id"),
        expr(s"timestamp_micros(${subUs}L)").as("ts"))
    EventStream.runBatchedAppend(s, Seq(p1, p2, p3),
      d => d.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("user_id")
        .select("user_id"),
      "q210_subwm")
      .orderBy("user_id")
  }

  /** Dynamic-gap streaming sessionization: purchase events hold the
    * session open 1 hour, others 30 minutes (`session_window(ts,
    * gapExpr)`). Windows [ts, ts+gap(row)) merge on overlap (inclusive at
    * the boundary, the q34-pinned rule) with merged end = max end — so
    * the batch replay needs a RUNNING MAX of window ends (a lag of the
    * previous timestamp, the fixed-gap replay, is wrong the moment a
    * long-gap event is followed by a short-gap one inside its window).
    */
  val q219DynamicSessionGap: Q = Q(
    "q219_dynamic_session_gap",
    """SELECT user_id, min(ts_us) AS session_start_us,
      |  max(end_us) AS session_end_us, count(*) AS n_events,
      |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_value_cents
      |FROM (
      |  SELECT user_id, ts_us, value, end_us,
      |    sum(CASE WHEN cme IS NULL OR ts_us > cme THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS sid
      |  FROM (
      |    SELECT user_id, event_id, ts_us, value, ts_us + gap_us AS end_us,
      |      max(ts_us + gap_us) OVER (PARTITION BY user_id
      |        ORDER BY ts_us, event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cme
      |    FROM (
      |      SELECT user_id, event_id, value,
      |        epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
      |        CASE WHEN event_type = 'purchase' THEN 3600000000
      |             ELSE 1800000000 END AS gap_us
      |      FROM events)))
      |GROUP BY user_id, sid
      |ORDER BY user_id, session_start_us""".stripMargin) { (s, dir) =>
    EventStream.runToMemory(s, s"$dir/events.parquet",
      EventStream.dynamicSessionAgg, "q219_mem", OutputMode.Complete)
      .orderBy("user_id", "session_start_us")
  }

  val all: Seq[Q] = Seq(q33StreamingHourly, q34StreamingSessions,
    q35MediaByteStats, q39RunningUserCounts, q55StreamingDedup,
    q59SlidingWindows, q69StreamJoin, q73StreamStaticJoin,
    q77FmgwsSessions, q130IncrementalMerge, q134StreamingDedupBounded,
    q135MediaFeatures, q137StreamRestart, q138MediaResize, q157Phash,
    q179StreamingFunnel, q180TwsModalType, q183TwsSessionTimers,
    q185TwsRecentEvents, q191TwsWarmStart, q199OuterStreamJoin,
    q200FullOuterStreamJoin, q203DedupReadmission, q204DedupLateFilter,
    q205AppendWindows, q206AppendSessions, q207SemiStreamJoin,
    q208ChainedStateful, q210DedupSubWmAdmission, q219DynamicSessionGap)
}
