package graft.tools

import org.apache.spark.sql.SparkSession
import graft.core.Json

/** Degenerate-input robustness sweep: run EVERY gate against a testdata
  * directory whose tables carry the real schemas but ZERO rows.
  *
  * Contract under test (the operational one — at 100 TB a partition
  * filter or a bad day upstream routinely hands an operator an empty
  * input): each gate either
  *  - returns a result (possibly 0 rows), or
  *  - raises a DELIBERATE error — IllegalArgumentException (a
  *    documented precondition like vocabGrowth's non-empty corpus) or
  *    an AnalysisException — with a human-readable message.
  * What it must never do: NPE, MatchError, NoSuchElementException on a
  * silent `.head()`, index-out-of-bounds — the "worked until the first
  * empty partition day" class.
  *
  * Usage: EmptySweep <schemaSourceSfDir> [gateSubstring]
  * Writes the empty tables under java.io.tmpdir, prints one PASS/LOUD/
  * FAIL line per gate and a summary; exits nonzero on any FAIL.
  */
object EmptySweep {
  /** Exception classes that mean "the code fell over", not "the code
    * refused": the sweep fails on these anywhere in the cause chain.
    */
  private val crashClasses = Seq(
    classOf[NullPointerException],
    classOf[scala.MatchError],
    classOf[NoSuchElementException],
    classOf[IndexOutOfBoundsException],
    classOf[ArithmeticException],
    classOf[ClassCastException],
    classOf[UnsupportedOperationException])

  def crashIn(e: Throwable): Option[Throwable] = {
    // BFS over cause AND suppressed chains: AQE's STAGE_MATERIALIZATION_
    // MULTIPLE_FAILURES (and streaming teardown) attach concurrent stage
    // failures as suppressed exceptions, not causes — a crash hidden
    // there must not be misread as a loud refusal (round-14 extreme-value
    // sweep triage). Visited-set + cap bound the walk on cyclic chains.
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[Throwable, java.lang.Boolean]())
    val queue = scala.collection.mutable.Queue[Throwable](e)
    var visited = 0
    while (queue.nonEmpty && visited < 64) {
      val cur = queue.dequeue()
      if (cur != null && seen.add(cur)) {
        visited += 1
        if (crashClasses.exists(_.isInstance(cur)) && !nanDomainRefusal(cur)
            && !overflowDomainRefusal(cur))
          return Some(cur)
        Option(cur.getCause).foreach(queue.enqueue(_))
        cur.getSuppressed.foreach(queue.enqueue(_))
      }
    }
    None
  }

  /** Every message reachable from `e` — same BFS as [[crashIn]] over
    * cause AND suppressed chains, concatenated with " | ". The spec
    * refusal ledgers pin named fragments against this: AQE's
    * STAGE_MATERIALIZATION_MULTIPLE_FAILURES and streaming teardown
    * wrappers put the actual refusal one level down, sometimes only in
    * `suppressed`, so a cause-only walk would miss it.
    */
  def messageChain(e: Throwable): String = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[Throwable, java.lang.Boolean]())
    val queue = scala.collection.mutable.Queue[Throwable](e)
    val msgs = scala.collection.mutable.ListBuffer[String]()
    var visited = 0
    while (queue.nonEmpty && visited < 64) {
      val cur = queue.dequeue()
      if (cur != null && seen.add(cur)) {
        visited += 1
        Option(cur.getMessage).filter(_.nonEmpty).foreach(msgs += _)
        Option(cur.getCause).foreach(queue.enqueue(_))
        cur.getSuppressed.foreach(queue.enqueue(_))
      }
    }
    msgs.mkString(" | ")
  }

  /** An ANSI arithmetic error on NON-FINITE input data is the exact
    * scaled-integer kernels' DOCUMENTED domain contract, not a crash: a
    * NaN/Infinity reaching `Exact.cents` / `Similarity.scaled` raises
    * CAST_OVERFLOW loudly — identically to the DuckDB oracle's
    * CAST(NaN AS BIGINT) — instead of silently nulling rows out of exact
    * sums. (The reference pipeline quarantines non-finite values in its
    * validate stage; gates assume validated numeric domains.) Engine-
    * derived arithmetic errors (a tripwire dividing by its own zero) have
    * no NaN in the message and still count as crashes — the q192 class.
    */
  def nanDomainRefusal(e: Throwable): Boolean =
    e.isInstanceOf[ArithmeticException] && {
      val m = Option(e.getMessage).getOrElse("")
      m.contains("NaN") || m.contains("Infinity")
    }

  /** The FINITE sibling of [[nanDomainRefusal]] (round-14 extreme-value
    * sweep): a value whose 1e6/1e2 scaling passes 2⁶³ — or whose exact
    * integer product does — raises ANSI CAST_OVERFLOW / ARITHMETIC_
    * OVERFLOW. That is the round-13 headroom contract ("loud, not
    * wrapped"): the exact kernels' documented domain is |x| ≲ 9.2e12 at
    * micros scale, and input past it must refuse NAMED rather than
    * degrade. DIVIDE_BY_ZERO is deliberately NOT matched — an engine
    * dividing by its own derived zero is the q192 bug class and still
    * counts as a crash.
    */
  def overflowDomainRefusal(e: Throwable): Boolean =
    e.isInstanceOf[ArithmeticException] && {
      val m = Option(e.getMessage).getOrElse("")
      m.contains("CAST_OVERFLOW") || m.contains("ARITHMETIC_OVERFLOW") ||
        m.contains("long overflow")
    }

  def writeEmptyTables(spark: SparkSession, srcDir: String, outDir: String)
      : Unit = writeTables(spark, srcDir, outDir, 0)

  /** Rewrite every table with its first `n` rows (by the first column —
    * deterministic), zero rows with the real schema when n = 0, or — when
    * n < 0 — the FIRST row replicated |n| times verbatim (duplicate keys,
    * zero variance, one hot block: the degenerate-distribution shapes).
    * The session reads with nanosAsLong, so a sampled events table lands
    * with INT64-nanos `ts` — one of the three physical encodings
    * Tables.events normalizes, and the tripwires must survive it like any
    * other drift.
    */
  def writeTables(spark: SparkSession, srcDir: String, outDir: String,
      n: Int): Unit = {
    // same belt as Tables.events: a legacy INT64-nanos ts column refuses
    // to load without this (the copy then lands as plain INT64-nanos)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    graft.Tables.all.foreach { t =>
      val src = spark.read.parquet(s"$srcDir/$t.parquet")
      val first = org.apache.spark.sql.functions.col(src.schema.fieldNames.head)
      val out =
        if (n == 0) spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], src.schema)
        else if (n > 0) src.orderBy(first).limit(n)
        else { // one row, |n| verbatim copies
          val one = src.orderBy(first).limit(1)
          Seq.fill(-n - 1)(one).foldLeft(one)(_ unionAll _)
        }
      out.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }
  }

  /** Rows with identity intact and every OTHER nullable column nulled —
    * the "payload went missing" shape: null text through tokenizers, null
    * embedding arrays through the native kernels, null timestamps through
    * the event-time paths.
    */
  def writeNullTables(spark: SparkSession, srcDir: String, outDir: String,
      n: Int): Unit = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    import org.apache.spark.sql.functions.{col, lit}
    graft.Tables.all.foreach { t =>
      val src = spark.read.parquet(s"$srcDir/$t.parquet")
      val first = src.schema.fieldNames.head
      val nulled = src.orderBy(col(first)).limit(n).select(
        src.schema.fields.map { f =>
          if (f.name == first || !f.nullable) col(f.name)
          else lit(null).cast(f.dataType).as(f.name)
        }.toIndexedSeq: _*)
      nulled.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }
  }

  /** Rows with every float/double value (including inside arrays)
    * replaced by NaN — the "upstream numeric bug" shape: NaN scores
    * through normalizers, NaN embeddings through the scaled-integer
    * kernels, NaN event values through the cents paths.
    */
  def writeNanTables(spark: SparkSession, srcDir: String, outDir: String,
      n: Int): Unit = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    import org.apache.spark.sql.functions.{col, lit, transform => atransform}
    import org.apache.spark.sql.types._
    graft.Tables.all.foreach { t =>
      val src = spark.read.parquet(s"$srcDir/$t.parquet")
      val first = src.schema.fieldNames.head
      val nan = src.orderBy(col(first)).limit(n).select(
        src.schema.fields.map { f =>
          f.dataType match {
            case DoubleType => lit(Double.NaN).as(f.name)
            case FloatType => lit(Float.NaN).as(f.name)
            case ArrayType(DoubleType, _) =>
              atransform(col(f.name), _ => lit(Double.NaN)).as(f.name)
            case ArrayType(FloatType, _) =>
              atransform(col(f.name), _ => lit(Float.NaN)).as(f.name)
            case _ => col(f.name)
          }
        }.toIndexedSeq: _*)
      nan.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }
  }

  /** Extreme-magnitude numerics: every float/double value (including
    * inside arrays) replaced by a per-row rotation of IEEE edge shapes —
    * ±MaxValue (any sum → ±Inf; any 1e6 scale-then-cast → the named
    * CAST overflow), the smallest denormal (rounds to 0 through every
    * scale), −0.0 (bit-distinct, SQL-equal — groupBy/join key
    * normalization), and 1e15 (finite but past 2⁵³: double arithmetic
    * silently loses integer exactness). The round-14 micros-headroom
    * audit's predictions, probed empirically: exact kernels must refuse
    * LOUDLY (the NaN sweep's contract), nothing may crash, and no gate
    * may return a silently-wrong finite result built from an Inf.
    */
  def writeExtremeTables(spark: SparkSession, srcDir: String, outDir: String,
      n: Int = 20): Unit = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    import org.apache.spark.sql.functions.{col, lit, element_at, array, pmod,
      xxhash64, transform => atransform}
    import org.apache.spark.sql.types._
    val shapes: Seq[Double] = Seq(
      Double.MaxValue, -Double.MaxValue, java.lang.Double.MIN_VALUE, -0.0, 1e15)
    graft.Tables.all.foreach { t =>
      val src = spark.read.parquet(s"$srcDir/$t.parquet")
      val first = src.schema.fieldNames.head
      val rot = pmod(xxhash64(col(first)), lit(shapes.size)).cast("int") + 1
      val pick = element_at(array(shapes.map(lit): _*), rot)
      val out = src.orderBy(col(first)).limit(n).select(
        src.schema.fields.map { f =>
          f.dataType match {
            case DoubleType => pick.as(f.name)
            case FloatType => pick.cast(FloatType).as(f.name)
            case ArrayType(DoubleType, _) =>
              atransform(col(f.name), _ => pick).as(f.name)
            case ArrayType(FloatType, _) =>
              atransform(col(f.name), _ => pick.cast(FloatType)).as(f.name)
            case _ => col(f.name)
          }
        }.toIndexedSeq: _*)
      out.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }
  }

  /** Hot-key shape (round-15, the tenth degenerate shape): concentrate
    * ~all rows of each keyed table onto ONE key — DISTINCT payloads
    * (unlike the ×300 constant shape), one grouping-key value. This is
    * the empirical probe for the per-key full-history fold guards
    * (Signal.debounce/ewma, Behavior.funnel — non-spillable aggregation
    * buffers) and for every other per-key buffer/window in the tree: the
    * guarded folds must refuse loudly past `maxEventsPerKey`; everything
    * window/streaming-based must FLOW (window operators spill-sort).
    *
    * Per table the stamped columns are the GROUPING keys, not identities
    * (doc_id/event_id stay unique — id duplication is the ×300 shape's
    * job). `events` additionally replicates `eventsRepl`× with re-uniqued
    * event_ids so the hot key exceeds the folds' 200k default cap;
    * `event_type` is stamped too (maximal concentration — and the first
    * sf0.001 event's type is a non-funnel type, which keeps the
    * stream-stream click×view join from going quadratic on 250k rows of
    * one user, probing "flows" rather than "hangs").
    */
  def writeHotKeyTables(spark: SparkSession, srcDir: String, outDir: String,
      eventsRepl: Int = 250): Unit = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    import org.apache.spark.sql.functions.{col, explode, lit, sequence}
    val keyCols: Map[String, Seq[String]] = Map(
      "events" -> Seq("user_id", "event_type"),
      "lineitem" -> Seq("l_orderkey"),
      "orders" -> Seq("o_custkey"),
      "customer" -> Seq("c_nationkey"),
      "supplier" -> Seq("s_nationkey"),
      "part" -> Seq("p_brand"),
      "nation" -> Seq("n_regionkey"),
      "documents" -> Seq("lang", "source"),
      "embeddings" -> Seq("label"))
    graft.Tables.all.foreach { t =>
      val src = spark.read.parquet(s"$srcDir/$t.parquet")
      val first = col(src.schema.fieldNames.head)
      val keys = keyCols.getOrElse(t, Nil).filter(src.columns.contains)
      var out = src
      if (keys.nonEmpty) {
        val firstRow = src.orderBy(first).limit(1)
          .select(keys.map(col): _*).head()
        keys.zipWithIndex.foreach { case (k, i) =>
          out = out.withColumn(k,
            lit(firstRow.get(i)).cast(src.schema(k).dataType))
        }
      }
      if (t == "events" && eventsRepl > 1)
        out = out
          .withColumn("_i", explode(sequence(lit(0), lit(eventsRepl - 1))))
          .withColumn("event_id",
            col("event_id") * eventsRepl + col("_i"))
          .drop("_i")
      out.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }
  }

  /** Time-extreme shape (round-15, the ELEVENTH degenerate shape): every
    * timestamp value replaced by a per-row rotation of temporal edges —
    * year 0001 (far past, pre-Gregorian-cutover territory), epoch zero,
    * a duplicate-microsecond anchor (twice in the rotation, so ~40% of
    * rows share ONE exact microsecond: Δt = 0 through every rate/EWMA/
    * debounce/session-gap division), and year 9999 (far future; its
    * micros value ≈ 2.5e17, so any nanos conversion or micros product
    * overflows 2⁶³ loudly). Because the rotation is per ROW, a single
    * key's history mixes year 0001 with year 9999 — a ~8.8e7-hour span
    * that must trip gapFillHourly's maxSpanHours cap NAMED rather than
    * densify (the corrupt-timestamp scenario that cap documents), and a
    * ~10¹⁷-microsecond watermark range through every event-time path.
    */
  def writeTimewarpTables(spark: SparkSession, srcDir: String, outDir: String,
      n: Int = 20): Unit = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    import org.apache.spark.sql.functions.{col, lit, element_at, array, pmod,
      xxhash64, to_timestamp}
    import org.apache.spark.sql.types._
    val shapes = Seq(
      "0001-01-03 00:00:00",
      "1970-01-01 00:00:00",
      "2024-06-01 12:00:00.000001", // duplicate-microsecond anchor ×2
      "2024-06-01 12:00:00.000001",
      "9999-12-28 00:00:00")
    val picks = array(shapes.map(s => to_timestamp(lit(s))): _*)
    graft.Tables.all.foreach { t =>
      val src = spark.read.parquet(s"$srcDir/$t.parquet")
      val first = src.schema.fieldNames.head
      val rot = pmod(xxhash64(col(first)), lit(shapes.size)).cast("int") + 1
      val out = src.orderBy(col(first)).limit(n).select(
        src.schema.fields.map { f =>
          f.dataType match {
            case TimestampType | TimestampNTZType =>
              element_at(picks, rot).cast(f.dataType).as(f.name)
            case _ => col(f.name)
          }
        }.toIndexedSeq: _*)
      out.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }
  }

  /** Wide-dims shape (round-15, the TWELFTH degenerate shape): every
    * embedding column stretched to `wideDims` (default 1536 — the width
    * production text-embedding models actually emit, 24× the committed
    * testdata's 64) by tiling the row's real values with a per-copy
    * perturbation (keeps magnitudes in-domain — width is the ONLY
    * variable). Complements the wide-dims kernel record (PLANS.md,
    * Round-15, "Wide-dims probe"): the SHAPE runs every embeddings
    * consumer on the board — quantizers (PQ sub-vector split at 1536/m),
    * IVF/LSH literal builds (planes×1536, k×1536 typedLits), dim-stats,
    * projections — where a dims-driven assumption (codegen size,
    * sub-block arithmetic, a hardcoded 64) would crash rather than refuse.
    */
  def writeWideTables(spark: SparkSession, srcDir: String, outDir: String,
      n: Int = 20, wideDims: Int = 1536): Unit = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    import org.apache.spark.sql.functions.{col, lit, element_at, flatten,
      transform => atransform, sequence, size => asize, pmod}
    import org.apache.spark.sql.types._
    graft.Tables.all.foreach { t =>
      val src = spark.read.parquet(s"$srcDir/$t.parquet")
      val first = src.schema.fieldNames.head
      val out = src.orderBy(col(first)).limit(n).select(
        src.schema.fields.map { f =>
          f.dataType match {
            case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
              // tile ceil(wide/|v|) perturbed copies, cut to wideDims
              org.apache.spark.sql.functions.slice(
                flatten(atransform(
                  sequence(lit(0), (lit(wideDims) /
                    org.apache.spark.sql.functions.greatest(
                      lit(1), asize(col(f.name)))).cast("int")),
                  rep => atransform(col(f.name),
                    x => x + (pmod(rep.cast("long"), lit(7L)).cast("float")
                      / 100f)))),
                1, wideDims).as(f.name)
            case _ => col(f.name)
          }
        }.toIndexedSeq: _*)
      out.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }
  }

  /** Hostile text: every string column replaced by a rotation of
    * adversarial shapes — astral-plane emoji (surrogate pairs), combining
    * marks, RTL runs, a NUL byte, zero-width joiners, a 100k-char repeat —
    * aimed at the tokenizers, shingles, normalizers and hash kernels.
    */
  def writeUnicodeTables(spark: SparkSession, srcDir: String, outDir: String,
      longRepeat: Int = 8000): Unit = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    import org.apache.spark.sql.functions.{col, lit, pmod, element_at, array}
    import org.apache.spark.sql.types._
    val shapes = Seq(
      "😀🤖 café café 👨‍👩‍👧",
      "السلام عليكم שלום",
      "a\u0000b​‌‍c ́̂̃",
      ("lorem ipsum " * longRepeat).trim, // tool default ~100k chars, NBSP separators;
      // specs pass a short repeat (stays inside editDistancePairs maxTextLen)
      "�￾\t\r\n  mixed\tws")
    graft.Tables.all.foreach { t =>
      val src = spark.read.parquet(s"$srcDir/$t.parquet")
      val first = src.schema.fieldNames.head
      val rot = pmod(org.apache.spark.sql.functions.xxhash64(col(first)),
        lit(shapes.size)).cast("int") + 1
      val out = src.orderBy(col(first)).limit(20).select(
        src.schema.fields.map { f =>
          if (f.name != first && f.dataType == StringType)
            element_at(array(shapes.map(lit): _*), rot).as(f.name)
          else col(f.name)
        }.toIndexedSeq: _*)
      out.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }
  }

  /** Writer for each tool-runnable shape, keyed by its mode string — the
    * full degenerate battery in one place (the `battery` mode runs them
    * all and writes the machine-readable ledger).
    */
  val shapeWriters: Seq[(String, (SparkSession, String, String) => Unit)] = Seq(
    "empty" -> ((s, src, out) => writeTables(s, src, out, 0)),
    "3row" -> ((s, src, out) => writeTables(s, src, out, 3)),
    "dup100" -> ((s, src, out) => writeTables(s, src, out, -100)),
    "dup300" -> ((s, src, out) => writeTables(s, src, out, -300)),
    "nulls" -> ((s, src, out) => writeNullTables(s, src, out, 3)),
    "nan" -> ((s, src, out) => writeNanTables(s, src, out, 3)),
    "unicode" -> ((s, src, out) => writeUnicodeTables(s, src, out)),
    "extreme" -> ((s, src, out) => writeExtremeTables(s, src, out)),
    "hotkey" -> ((s, src, out) => writeHotKeyTables(s, src, out)),
    "timewarp" -> ((s, src, out) => writeTimewarpTables(s, src, out)),
    "wide" -> ((s, src, out) => writeWideTables(s, src, out)),
    // round-16 verdict #6: close the loop between the wide-dims kernel
    // record (PLANS.md, Round-16, "Wide-dims probe at 4096": kernels
    // linear to 4096 dims) and the full board — every gate
    // at the 4096-dim embedding width, not just the ANN kernels
    "wide4096" -> ((s, src, out) =>
      writeWideTables(s, src, out, wideDims = 4096)))

  /** Classify one gate run on `dir`: ("PASS", rows) / ("LOUD", class +
    * first message line) / ("FAIL", crash class + message). The single-
    * shape CLI and the battery ledger share this so their verdicts can
    * never drift apart.
    */
  def gateOutcome(spark: SparkSession, dir: String,
      fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
      : (String, String) =
    try {
      val n = fn(spark, dir).count()
      ("PASS", s"$n rows")
    } catch {
      case e: Throwable =>
        crashIn(e) match {
          case Some(crash) =>
            ("FAIL", s"${crash.getClass.getName}: ${crash.getMessage}" +
              crash.getStackTrace.take(3).map(f => s"\n        at $f").mkString)
          case None =>
            val m = Option(e.getMessage).getOrElse("").linesIterator
              .take(1).mkString
            val inner = (Option(e.getCause) ++ e.getSuppressed.headOption)
              .flatMap(t => Option(t.getMessage)).headOption
              .map(_.linesIterator.take(1).mkString)
              .filter(im => im.nonEmpty && !m.contains(im))
              .map(im => s" <- $im").getOrElse("")
            ("LOUD", s"${e.getClass.getSimpleName}: $m$inner")
        }
    } finally graft.ops.Pins.releaseAll(spark)

  /** `battery` mode: run EVERY shape × EVERY gate and write the ledger as
    * SWEEPS.json — {shape: {gate: "PASS"|"LOUD: …"|"FAIL: …"}} plus a
    * per-shape summary. One diffable artifact instead of twelve PLANS.md
    * prose ledgers (round-15 verdict #6); SweepLedgerSpec pins its
    * invariants (11 shapes × full board, zero FAIL, refusals named).
    */
  /** The newest CORRECTNESS_r{N}.json round present in the repo at battery
    * time — stamped into the ledger so SweepLedgerSpec can fail when
    * SWEEPS.json goes stale (round-16 verdict #5: the committed ledger
    * recorded its source sf but not WHEN it ran, so a round could close
    * green with a ledger the round's code changes never touched).
    */
  def newestCorrectnessRound(): Int = {
    val dirs = Seq(new java.io.File("."), new java.io.File("/root/repo"))
    dirs.flatMap(d => Option(d.listFiles()).toSeq.flatten)
      .flatMap(f => "CORRECTNESS_r(\\d+)\\.json".r
        .findFirstMatchIn(f.getName).map(_.group(1).toInt))
      .sorted.lastOption.getOrElse(0)
  }

  def runBattery(spark: SparkSession, srcDir: String, outPath: String,
      only: String): Unit = {
    val gates = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(_._1.contains(only))
    val sb = new StringBuilder
    sb.append(s"""{"src":${Json.quote(srcDir)},"gates_n":${gates.size},""")
    sb.append(s""""as_of_round":${newestCorrectnessRound()},""")
    sb.append(""""shapes":{""")
    val summaries = shapeWriters.zipWithIndex.map { case ((shape, writer), si) =>
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft_sweep_$shape").toString
      val t0 = System.nanoTime()
      var pass, loud, fail = 0
      try {
        writer(spark, srcDir, dir)
        if (si > 0) sb.append(",")
        sb.append(s""""$shape":{""")
        gates.zipWithIndex.foreach { case ((name, fn), gi) =>
          val (kind, detail) = gateOutcome(spark, dir, fn)
          kind match {
            case "PASS" => pass += 1
            case "LOUD" => loud += 1
            case _ => fail += 1
          }
          val v = if (kind == "PASS") "PASS"
            else s"$kind: ${detail.take(160)}"
          if (gi > 0) sb.append(",")
          sb.append(s""""$name":${Json.quote(v)}""")
        }
        sb.append("}")
      } finally graft.io.TempDirs.deleteRecursively(dir)
      println(f"[battery] $shape%-9s $pass pass, $loud loud, $fail FAIL " +
        f"(${(System.nanoTime() - t0) / 1e9}%.1f s)")
      (shape, pass, loud, fail)
    }
    sb.append("},")
    sb.append(""""summary":{""")
    sb.append(summaries.map { case (s, p, l, f) =>
      s""""$s":{"pass":$p,"loud":$l,"fail":$f}""" }.mkString(","))
    sb.append("}}")
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      sb.toString.getBytes("UTF-8"))
    val failTotal = summaries.map(_._4).sum
    println(s"[battery] wrote $outPath; total FAIL: $failTotal")
    if (failTotal > 0) { spark.stop(); sys.exit(1) }
  }

  def main(args: Array[String]): Unit = {
    val srcDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val mode = if (args.length > 1) args(1) else "0"
    val only = if (args.length > 2) args(2) else ""
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("PROFILE_MASTER", "local[32]"))
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (mode == "battery") {
      val outPath = if (args.length > 2) args(2) else "SWEEPS.json"
      // Round-16 advice: arg 2 means "gate filter" in single-shape mode
      // but "ledger path" here — an operator reusing the single-shape
      // invocation would silently write the ledger to a file named after
      // their gate filter. Refuse loudly instead of guessing.
      if (!outPath.endsWith(".json")) {
        System.err.println(s"[battery] arg 2 must be the ledger output " +
          s"path (*.json), got '$outPath' — in battery mode the gate " +
          "filter is arg 3: EmptySweep <sfDir> battery [out.json] [filter]")
        spark.stop()
        sys.exit(2)
      }
      runBattery(spark, srcDir, outPath,
        if (args.length > 3) args(3) else "")
      spark.stop()
      return
    }
    val outDir = java.nio.file.Files
      .createTempDirectory("graft_empty_sf").toString
    if (mode == "nulls") writeNullTables(spark, srcDir, outDir, 3)
    else if (mode == "nan") writeNanTables(spark, srcDir, outDir, 3)
    else if (mode == "unicode") writeUnicodeTables(spark, srcDir, outDir)
    else if (mode == "extreme") writeExtremeTables(spark, srcDir, outDir)
    else if (mode == "hotkey") writeHotKeyTables(spark, srcDir, outDir)
    else if (mode == "timewarp") writeTimewarpTables(spark, srcDir, outDir)
    else if (mode == "wide") writeWideTables(spark, srcDir, outDir)
    else if (mode == "wide4096")
      writeWideTables(spark, srcDir, outDir, wideDims = 4096)
    else writeTables(spark, srcDir, outDir, mode.toInt)
    var pass, loud, fail = 0
    val t0 = System.nanoTime()
    try graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(_._1.contains(only))
      .foreach { case (name, fn) =>
        val tq = System.nanoTime()
        def sec = f"${(System.nanoTime() - tq) / 1e9}%.2f"
        gateOutcome(spark, outDir, fn) match {
          case ("PASS", detail) =>
            pass += 1
            println(s"PASS  $name ($detail, ${sec}s)")
          case ("FAIL", detail) =>
            fail += 1
            println(s"FAIL  $name (${sec}s): $detail")
          case (_, detail) =>
            loud += 1
            println(s"LOUD  $name (${sec}s): $detail")
        }
      }
    finally graft.io.TempDirs.deleteRecursively(outDir)
    println(f"done in ${(System.nanoTime() - t0) / 1e9}%.1f s: " +
      s"$pass pass, $loud loud-refuse, $fail FAIL")
    spark.stop()
    if (fail > 0) sys.exit(1)
  }
}
