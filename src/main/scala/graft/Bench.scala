package graft

/** Driver-run benchmark: times every gate query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON metric line. Queries run in sorted name order for
  * stable, comparable output; failures count -1 s and are listed.
  */
object Bench {

  /** Gates timed inside a contended host window: their TRAILING calib probe
    * (a fixed ~20 ms single-thread loop) exceeded `factor` × the best probe
    * cost observed anywhere in the run. Failed gates (sec < 0) are excluded
    * — a retry of a deterministic failure is noise, not a measurement.
    * Pure so the contended-window policy is unit-testable without a bench
    * run (BenchRetimeSpec simulates a mid-run contention cliff).
    */
  def contendedGates(results: Seq[(String, Double, Double)],
      baselineCalib: Double, factor: Double = 3.0): Seq[String] =
    results.collect { case (name, sec, calib)
      if sec >= 0 && calib > baselineCalib * factor => name }

  /** The K slowest successful gates, re-timed warm after the main pass
    * (round-10 verdict #1): a single-shot reading of a JIT-heavy gate
    * mixes cold-start (codegen class loading, C2 compilation of its
    * kernels) into the engine cost, which is why the heavy closure/LSH
    * gates showed 2–4× run-to-run spread with clean calib probes. The
    * second, warm run is the steady-state estimate; both runs upper-bound
    * the engine's cost, so min-of-runs is honest — and the retime audit
    * trail in the artifact shows both readings.
    */
  def topSlowest(results: Seq[(String, Double, Double)], k: Int = 12)
      : Seq[String] =
    results.filter(_._2 >= 0).sortBy(-_._2).take(k).map(_._1)

  /** The full retime policy, pure for the spec. Three reasons compose:
    *  - "calib": trailing probe > 3× run-best — timed in a contended
    *    window (round-7 pathology);
    *  - "slowest": top-K by reading — their one-shot numbers carry JIT
    *    cold-start (round-10 verdict #1);
    *  - "slow3s": ANY gate over `slowSec` — on a steady sf0.1 run only
    *    the genuinely heavy gates cross 3 s, so under contention this is
    *    exactly the set whose readings are suspect (the round-11 repro:
    *    a mid-run host disturbance inflated ~25 mid-tier gates 2–5× while
    *    their trailing calibs stayed clean — CPU probes can't see
    *    IO/memory-bandwidth contention).
    * Capped at `cap` slowest-first: a fully-degraded run re-times a
    * bounded suffix, not the whole board.
    */
  def retimeCandidates(results: Seq[(String, Double, Double)],
      baselineCalib: Double, k: Int = 12, slowSec: Double = 3.0,
      cap: Int = 40): Seq[(String, String)] = {
    val why = scala.collection.mutable.LinkedHashMap.empty[String, List[String]]
    def add(n: String, w: String): Unit =
      why(n) = why.getOrElse(n, Nil) :+ w
    contendedGates(results, baselineCalib).foreach(add(_, "calib"))
    topSlowest(results, k).foreach(add(_, "slowest"))
    results.collect { case (n, s, _) if s >= slowSec => n }
      .foreach(add(_, "slow3s"))
    val secOf = results.map { case (n, s, _) => n -> s }.toMap
    why.toSeq
      .map { case (n, ws) => (n, ws.distinct.mkString("+")) }
      .sortBy { case (n, _) => -secOf.getOrElse(n, 0.0) }
      .take(cap)
  }

  /** Min-of-runs merge: a retime only ever LOWERS a reading (both runs are
    * upper bounds on the engine's cost; contention inflates, never
    * deflates). A failed retry (-1) keeps the original.
    */
  def mergeRetimed(results: Seq[(String, Double, Double)],
      retimed: Map[String, Double]): Seq[(String, Double, Double)] =
    results.map { case (name, sec, calib) =>
      retimed.get(name).filter(_ >= 0) match {
        case Some(r) if sec >= 0 => (name, math.min(sec, r), calib)
        case _ => (name, sec, calib)
      }
    }

  private def ms(v: Double): String =
    if (v < 0) "-1"
    else BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
  private def cs(v: Double): String =
    if (v < 0) "-1"
    else BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP).toString

  /** Host telemetry snapshot: (cumulative CPU jiffies total, steal
    * jiffies, 1-min loadavg) from /proc/stat + /proc/loadavg. The
    * round-15 lesson behind it: the single-thread calib probe provably
    * misses MULTI-CORE co-tenancy — hypervisor steal slows a 32-thread
    * stage ~uniformly while the one calib core stays warm, which is
    * exactly the ambiguous `median-only` signature (observed live:
    * median 1.22 with calib 1.76 while /proc showed steal + loadavg 7
    * and zero local tasks). Steal accumulated over the RUN WINDOW is
    * the corroborating signal calib cannot be; it ships in the artifact
    * so a median-only verdict self-resolves from the JSON instead of
    * needing a shell on the host. Linux-only; None elsewhere (fields
    * emit null, never fail the bench).
    */
  def hostStat(): Option[(Long, Long, Double)] = try {
    val stat = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/stat")), "UTF-8")
      .linesIterator.next().trim.split("\\s+").drop(1).map(_.toLong)
    val load = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/loadavg")), "UTF-8")
      .trim.split("\\s+")(0).toDouble
    Some((stat.sum, if (stat.length > 7) stat(7) else 0L, load))
  } catch { case _: Throwable => None }

  /** Steal % of all CPU time between two [[hostStat]] snapshots. */
  def stealPctOf(start: Option[(Long, Long, Double)],
      end: Option[(Long, Long, Double)]): Option[Double] = for {
    (ts, ss, _) <- start; (te, se, _) <- end; if te > ts
  } yield 100.0 * (se - ss) / (te - ts)

  /** The `"host":{...}` JSON fragment: steal % of all CPU time over the
    * run window + loadavg at both ends.
    */
  def hostJson(start: Option[(Long, Long, Double)],
      end: Option[(Long, Long, Double)]): String = {
    val stealPct = stealPctOf(start, end)
    s""""host":{"steal_pct":${stealPct.map(ms).getOrElse("null")},""" +
      s""""load1_start":${start.map(s => cs(s._3)).getOrElse("null")},""" +
      s""""load1_end":${end.map(s => cs(s._3)).getOrElse("null")}}"""
  }

  /** Machine-readable contention classification (round-13 verdict #1).
    *
    * Three rounds' driver artifacts needed hand forensics to tell "the
    * code got slower" from "the host was contended" (r11 294 s, r13
    * 309 s — both contended-window readings of a ~263 s steady board; r12
    * 267.7 s — steady). The signature was fully characterized each time:
    * trailing calib probes spiking over 3× the run floor, the retime
    * pass hitting its cap, and a FLAT ≥1.1× median inflation across
    * gates whose code did not change. This emits that classification in
    * the artifact so no future reader re-derives it.
    *
    * Signals:
    *  - `calibRatio` = calibMax / calibFloor > `calibTrip` (3.0): the CPU
    *    probe saw the contention directly;
    *  - `retimeCapHit`: the retime pass used all `retimeCapN` slots —
    *    only a degraded window puts 40 gates over the suspect thresholds;
    *  - `medianRatio` ≥ `medianTrip` (1.1): median of per-gate
    *    this-run/steady-reference ratios over the overlap with the last
    *    committed STEADY board (bench_steady.<sf>.json) — catches the
    *    IO/memory-bandwidth contention class the CPU probe provably
    *    cannot see (r11: most calibs flat, 39/45 top gates +30%
    *    uniformly). Median, not mean: a handful of genuinely-changed
    *    gates can't move it on a 200-gate board. Gates under `minRefSec`
    *    in the reference are excluded (sub-500 ms readings are scheduler
    *    noise).
    *
    * Verdicts (round-14 advice: an inflated median ALONE is ambiguous —
    * a genuine board-wide regression, e.g. a shared-helper or Spark-conf
    * change slowing every gate uniformly, produces exactly the same flat
    * ≥1.1× signature as invisible IO contention, and deflating by it
    * would HIDE the regression):
    *  - "contended": a host signal (calib spike or retime-cap hit)
    *    corroborates; `steadyEstimateSec` deflates the raw total by the
    *    median — the number to compare across rounds. Every recorded
    *    contended board (r11 6.4×, r13 7.0×, r14 4.6×) had the calib
    *    spike, so corroboration is the historical norm, not a new bar.
    *  - "contended-host" (round-15 verdict #2): median tripped with
    *    clean CALIB signals but `stealPct` ≥ `stealTrip` — hypervisor
    *    steal over the run window is the multi-core co-tenancy signal
    *    the single-thread calib provably cannot see (round-15's real
    *    board: median 1.223, calib 1.76×, /proc steal with zero local
    *    load; hand-resolved then via an A/B, now encoded). Deflates
    *    like "contended" and never becomes the steady reference.
    *  - "median-only": median tripped with CLEAN host signals INCLUDING
    *    clean (or unavailable) steal. The estimate stays the RAW total
    *    and round calls must treat the run as a possible code
    *    regression (re-run idle / diff the per-gate board), never
    *    subtract it away — this is the genuine code-regression
    *    signature.
    *  - "steady": all signals quiet; the run may become the next
    *    reference.
    * Thresholds are pinned by BenchContentionSpec against the recorded
    * r11–r15 driver boards (294/267/309/255/743 → contended/steady/
    * contended/contended/contended) plus the round-15 builder board
    * (308.4 s, median 1.223 + steal ⇒ contended-host).
    */
  def contentionVerdict(total: Double, gates: Map[String, Double],
      calibFloor: Double, calibMax: Double, retimedN: Int,
      ref: Option[(Double, Map[String, Double])],
      stealPct: Option[Double] = None,
      retimeCapN: Int = 40, calibTrip: Double = 3.0,
      medianTrip: Double = 1.1, minRefSec: Double = 0.5,
      stealTrip: Double = 1.0)
      : (String, Option[Double], Double, Int) = {
    val ratios = ref.toSeq.flatMap { case (_, refGates) =>
      gates.toSeq.collect { case (k, v)
        if v >= 0 && refGates.get(k).exists(_ >= minRefSec) =>
        v / refGates(k) }
    }.sorted
    val medianRatio = if (ratios.size < 5) None else Some(
      if (ratios.size % 2 == 1) ratios(ratios.size / 2)
      else (ratios(ratios.size / 2 - 1) + ratios(ratios.size / 2)) / 2.0)
    val calibRatio = if (calibFloor > 0) calibMax / calibFloor else 1.0
    val hostSignal = calibRatio > calibTrip || retimedN >= retimeCapN
    val stealSignal = stealPct.exists(_ >= stealTrip)
    val medianHigh = medianRatio.exists(_ >= medianTrip)
    val verdict =
      if (hostSignal) "contended"
      else if (medianHigh && stealSignal) "contended-host"
      else if (medianHigh) "median-only"
      else "steady"
    val steadyEstimate = medianRatio match {
      case Some(m) if m > 1.0 &&
        (verdict == "contended" || verdict == "contended-host") => total / m
      case _ => total
    }
    (verdict, medianRatio, steadyEstimate, ratios.size)
  }

  /** The `"contention":{...}` JSON fragment for both artifacts. */
  def contentionJson(total: Double, gates: Map[String, Double],
      calibFloor: Double, calibMax: Double, retimedN: Int,
      ref: Option[(Double, Map[String, Double])],
      stealPct: Option[Double] = None,
      retimeCapN: Int = 40): String = {
    val (verdict, medianRatio, steadyEst, overlapN) =
      contentionVerdict(total, gates, calibFloor, calibMax, retimedN, ref,
        stealPct, retimeCapN)
    val calibRatio = if (calibFloor > 0) calibMax / calibFloor else 1.0
    s""""contention":{"calib_ratio":${cs(calibRatio)},""" +
      s""""retime_cap_hit":${retimedN >= retimeCapN},""" +
      s""""median_ratio":${medianRatio.map(ms).getOrElse("null")},""" +
      s""""ref_total_sec":${ref.map(r => cs(r._1)).getOrElse("null")},""" +
      s""""overlap_n":$overlapN,"verdict":"$verdict",""" +
      s""""steady_estimate_sec":${cs(steadyEst)}}"""
  }

  /** The A/B-anchored steady estimate (round-16 verdict #2): the best
    * available steady-state figure for HEAD when no quiet window lands.
    *
    * `tools/bench_ab.sh` benches an UNCHANGED historical ref and HEAD
    * back-to-back in one host window. The ref tree also produced the
    * committed steady board, so `aRefTotal / steadyRefSec` measures the
    * window's inflation directly on code that cannot have regressed
    * against itself — and dividing HEAD's total by that factor cancels
    * the window:
    *
    *   estimate = bHeadTotal × steadyRefSec / aRefTotal
    *
    * Round-16's attempt-8 resolution computed exactly this by prose
    * (327.08 × 246.88 / 344.12 ≈ 234.7 s); the tool now emits it as
    * `ab_steady_estimate_sec` (provenance "ab-anchored" — a derived
    * figure, clearly labeled, never silently replacing a measured steady
    * board; Bench's classifier keeps reading only bench_steady*.json).
    * Pure so BenchContentionSpec pins the formula on the real r16 A/B
    * numbers and re-derives the artifact's emitted field from its own
    * inputs.
    */
  def abSteadyEstimate(bHeadTotal: Double, steadyRefSec: Double,
      aRefTotal: Double): Double = {
    require(aRefTotal > 0 && steadyRefSec > 0,
      s"non-positive A/B inputs: aRefTotal=$aRefTotal steadyRef=$steadyRefSec")
    bHeadTotal * steadyRefSec / aRefTotal
  }

  /** Parse a full-form board (bench_last.json / bench_steady.json shape):
    * (total, sf, per-gate seconds keyed by SHORT key). Regex over our own
    * fixed serialization — no JSON library on the zero-dependency path.
    */
  def parseFullBoard(json: String): Option[(Double, String, Map[String, Double])] = {
    // tolerate python-style ": " separators (the driver re-serializes)
    val totalRe = """"metric":\s*"total",\s*"value":\s*(-?[0-9.]+)""".r
    val sfRe = """"sf":\s*"([^"]+)"""".r
    val qRe = """\{"name":\s*"([^"]+)",\s*"sec":\s*(-?[0-9.]+)""".r
    for {
      t <- totalRe.findFirstMatchIn(json).map(_.group(1).toDouble)
      sf <- sfRe.findFirstMatchIn(json).map(_.group(1))
    } yield (t, sf, qRe.findAllMatchIn(json).map { m =>
      val name = m.group(1)
      val k = name.indexOf('_') match {
        case -1 => name; case i => name.substring(0, i) }
      k -> m.group(2).toDouble
    }.toMap)
  }

  /** The board's recorded thread count. Legacy boards (no "cpus" field)
    * were all 32-thread harness runs, so absence parses as "32": a steady
    * reference is only comparable to a run with the SAME local[n] — an
    * 8-cpu local iteration is uniformly slower per gate, and comparing
    * across thread counts would misread that as contention (or worse,
    * an 8-cpu board becoming the reference would make every 32-cpu run
    * look impossibly fast).
    */
  def parseCpus(json: String): String = {
    // anchored to the "sf" field that fullJson emits immediately before it
    // (tolerating python-style ": " separators): an unanchored "cpus" match
    // could be shadowed by a literal "cpus":"…" inside free text earlier in
    // a hand-edited file (round-15 advice)
    val anchored = """"sf":\s*"[^"]*",\s*"cpus":\s*"([^"]+)"""".r
      .findFirstMatchIn(json).map(_.group(1))
    anchored.getOrElse {
      // Round-16 advice: a board re-serialized with sorted keys moves
      // "cpus" away from "sf", and silently defaulting to "32" would let a
      // wrong-thread-count board pass readBoard's comparability guard —
      // the exact failure the anchor exists to prevent. Fall back to the
      // LAST unanchored match (free text can precede the real field but
      // not follow it in our serialization) and say so on stderr.
      val loose = """"cpus":\s*"([^"]+)"""".r.findAllMatchIn(json)
        .map(_.group(1)).toSeq
      loose.lastOption match {
        case Some(c) =>
          System.err.println("[bench] WARNING: board's \"cpus\" field is " +
            "not anchored after \"sf\" (re-serialized or hand-edited?); " +
            s"using last unanchored match cpus=$c")
          c
        case None => "32" // legacy boards (pre-cpus) were all 32-thread runs
      }
    }
  }

  /** Parse the TRUNCATED stdout-line form's queries map (short keys). */
  def parseTruncatedQueries(json: String): Map[String, Double] = {
    val obj = """"queries":\s*\{([^}]*)\}""".r
    obj.findFirstMatchIn(json).map(_.group(1)) match {
      case None => Map.empty
      case Some(body) =>
        """"([^"]+)":\s*(-?[0-9.]+)""".r.findAllMatchIn(body)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
    }
  }

  /** The single stdout metric line, BYTE-BUDGETED (round-8 verdict #3: at
    * 176 gates the full per-query map outgrew the driver's 2000-byte tail
    * capture and the round lost its parsed artifact). The `queries` map
    * keeps FAILED gates first (a -1 must never be silently dropped), then
    * the slowest gates, adding entries only while the line stays under
    * `byteBudget`; `queries_n`/`queries_omitted`/`omitted_sec` make the
    * truncation explicit and keep the total reconstructable. The complete
    * per-query map always lands in bench_last.json + stderr, so nothing is
    * lost — the stdout line just degrades gracefully instead of
    * catastrophically. Pure, so BenchRetimeSpec can pin the budget at
    * simulated 300-gate scale.
    */
  /** Render the retime audit trail (round-10 verdict #7: the driver saw
    * `retimed_n: 1` and a wall/metric gap with no way to tell WHICH gate
    * retimed or WHY). One compact entry per retimed gate: original
    * reading, retry reading, and the trailing calib probe that triggered
    * the retime (the policy: trailing calib > 3× the run's best probe ⇒
    * the gate was timed inside a contended host window; min-of-runs
    * ships). Capped so a pathological all-contended run can't blow the
    * stdout byte budget — the full detail is always on stderr + in
    * bench_last.json.
    */
  def retimedJson(detail: Seq[(String, Double, Double, Double, String)],
      cap: Int = 8): String = {
    val entries = detail.take(cap).map { case (q, orig, retry, calib, why) =>
      s"""{"q":"$q","orig":${cs(orig)},"retry":${cs(retry)},""" +
        s""""trailing_calib":${ms(calib)},"why":"$why"}"""
    }.mkString("[", ",", "]")
    val trunc = if (detail.size > cap)
      s""","retimed_truncated":${detail.size - cap}""" else ""
    s""""retimed_n":${detail.size},"retime_reason":""" +
      (if (detail.isEmpty) "\"\"" else
        "\"calib: trailing probe > 3x run-best (contended window); " +
          "slowest: top-K steady confirm (warm re-run); min-of-runs " +
          "shipped, both readings above\"") +
      s""","retimed":$entries$trunc"""
  }

  def metricJson(merged: Seq[(String, Double, Double)],
      shortKey: String => String, sfDir: String, wallSec: Double,
      calibStart: Double, calibEnd: Double,
      retimeDetail: Seq[(String, Double, Double, Double, String)],
      contention: String = "", byteBudget: Int = 1700): String = {
    val total = merged.map(_._2).filter(_ >= 0).sum
    val calibs = merged.map(_._3)
    val calibMin = if (calibs.isEmpty) 0.0 else calibs.min
    val calibMax = if (calibs.isEmpty) 0.0 else calibs.max
    val calibArgmax =
      if (merged.isEmpty) "" else shortKey(merged.maxBy(_._3)._1)
    val retimeShort = retimeDetail.map { case (q, o, r, c, w) =>
      (shortKey(q), o, r, c, w) }
    // the retime audit yields bytes to the query map under tight budgets:
    // pick the largest per-entry cap whose EMPTY-queries line still fits
    // (retimed_n + the reason string always survive)
    def line0(entries: Seq[(String, Double)], omittedN: Int,
        omittedSec: Double, retimeCap: Int): String = {
      val qs = entries.map { case (k, v) => "\"" + k + "\":" + cs(v) }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":${ms(total)},"unit":"sec","queries":$qs,""" +
        s""""queries_n":${merged.size},"queries_omitted":$omittedN,""" +
        s""""omitted_sec":${ms(omittedSec)},"sf":"$sfDir",""" +
        s""""wall_sec":${ms(wallSec)},"calib_start_sec":${ms(calibStart)},""" +
        s""""calib_end_sec":${ms(calibEnd)},"calib_min_sec":${ms(calibMin)},""" +
        s""""calib_max_sec":${ms(calibMax)},"calib_argmax":"$calibArgmax",""" +
        (if (contention.isEmpty) "" else contention + ",") +
        retimedJson(retimeShort, retimeCap) + "}"
    }
    val retimeCap = Seq(8, 4, 2, 1, 0)
      .find(c => line0(Nil, merged.size, total, c).length <= byteBudget)
      .getOrElse(0)
    def line(entries: Seq[(String, Double)], omittedN: Int,
        omittedSec: Double): String =
      line0(entries, omittedN, omittedSec, retimeCap)
    // failed gates first (never dropped), then slowest-first
    val ordered = merged.map { case (n, s, _) => (shortKey(n), s) }
      .sortBy { case (_, s) => (if (s < 0) Double.MinValue else -s) }
    // Greedy prefix that fits the budget. Each candidate is measured with
    // the REAL omitted count/seconds it would ship with — measuring with
    // placeholder zeros (as before round 10) under-counted by the width of
    // the true omitted fields, so the emitted line could exceed the budget
    // by a few bytes. Adding an entry grows the map far more than it can
    // shrink the omitted fields, so first-overflow still ends the scan.
    def omittedSec(from: Int): Double =
      ordered.drop(from).map(_._2).filter(_ >= 0).sum
    var kept = Vector.empty[(String, Double)]
    var i = 0
    while (i < ordered.size && {
      val cand = kept :+ ordered(i)
      line(cand, ordered.size - cand.size,
        omittedSec(cand.size)).length <= byteBudget
    }) {
      kept = kept :+ ordered(i); i += 1
    }
    line(kept, ordered.size - kept.size, omittedSec(kept.size))
  }

  /** The full, never-truncated artifact written next to the run
    * (bench_last.json): every gate's 3-decimal timing and trailing calib
    * probe, plus the run's summary scalars — what BENCH_r{N}.json loses
    * when the tail capture clips, recoverable from the repo.
    */
  def fullJson(merged: Seq[(String, Double, Double)], sfDir: String,
      wallSec: Double, calibStart: Double, calibEnd: Double,
      retimeDetail: Seq[(String, Double, Double, Double, String)],
      contention: String = "", cpus: String = "32"): String = {
    val total = merged.map(_._2).filter(_ >= 0).sum
    val qs = merged.map { case (n, s, c) =>
      s"""{"name":"$n","sec":${ms(s)},"calib_sec":${ms(c)}}"""
    }.mkString("[", ",", "]")
    s"""{"metric":"total","value":${ms(total)},"unit":"sec","sf":"$sfDir",""" +
      s""""cpus":"$cpus",""" +
      s""""wall_sec":${ms(wallSec)},"calib_start_sec":${ms(calibStart)},""" +
      s""""calib_end_sec":${ms(calibEnd)},""" +
      (if (contention.isEmpty) "" else contention + ",") +
      retimedJson(retimeDetail, cap = Int.MaxValue) +
      s""","queries":$qs}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = GateSession.sfDir
    val cpus = GateSession.cpus
    val hostStart = hostStat()
    val spark = GateSession.start()
    // NO untimed warmup block — deliberately (round-11 finding). The old
    // warmup (a 20k-row aggregate(zip_with)+md5+window pass plus three
    // throwaway streaming queries) was A/B-measured against an otherwise
    // identical run and turned out to be the round-10 "in-bench inflation"
    // mechanism: with it, the higher-order-function-heavy embedding gates
    // (q70, q102–q107, q118, q162) ran 2–4× their steady time (+33 s over
    // the run); without it, every one of them landed on its isolated-
    // steady number. Consistent with JIT call-site profile pollution: the
    // warmup's lambda shapes train the shared generic-evaluator call sites
    // that the vector kernels then hit with different shapes. The warmup
    // also bought nothing — first-gate and first-streaming-gate costs were
    // unchanged without it (q01 4.4 vs 4.1 s cold either way; streaming
    // family 38.5 vs 40.7 s). Cold-start is handled where it belongs: the
    // top-K steady retime below re-times the slowest gates warm and ships
    // min-of-runs, which absorbs first-run JIT/cold effects per-gate
    // instead of pre-biasing the whole JVM.
    // Fixed single-thread CPU probe (~20 ms), run before the first query,
    // after EVERY query, and after the last: if the host degrades
    // mid-bench (external contention — rounds 2-4 all showed a mid-run
    // cliff where queries ran 10-50× slower than on an idle host), the
    // probe timeline exposes it in the artifact instead of silently
    // inflating the late queries' times.
    def calibrate(): Double = {
      val t0 = System.nanoTime()
      var acc = 0L
      var i = 0L
      while (i < 20000000L) { acc = acc * 6364136223846793005L + i; i += 1 }
      if (acc == 42L) System.err.println("") // keep the loop observable
      (System.nanoTime() - t0) / 1e9
    }
    def shortKey(name: String): String = name.indexOf('_') match {
      case -1 => name
      case i  => name.substring(0, i)
    }
    // Fail fast on short-key collisions BEFORE paying for the run: the keys
    // derive only from static query names, so a colliding future gate must
    // abort in milliseconds, not after the full multi-minute timing loop.
    locally {
      val keys = SparkEntry.queries.keys.toSeq.map(shortKey)
      require(keys.distinct.size == keys.size,
        s"short gate keys collide: ${keys.diff(keys.distinct).mkString(",")}")
    }
    calibrate(); calibrate() // JIT the probe loop itself before measuring
    val calibStart = calibrate()
    val wall0 = System.nanoTime()
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val t0 = System.nanoTime()
      val ok = try { fn(spark, sfDir).count(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}"); false }
      val sec = if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
      // AFTER the clock stops: the cleanup is inter-gate hygiene, not the
      // gate's cost — and it must finish here rather than bleed its block-
      // manager churn into the NEXT gate's window (the unpersist is async)
      graft.ops.Pins.releaseAll(spark)
      (name, sec, calibrate()) // ~20 ms probe: host-health timeline per query
    }
    // Self-defending retime pass (round-7 advice #3: two consecutive
    // rounds' driver BENCH were distorted by host contention and needed a
    // judge re-run). Any gate whose trailing calib probe exceeded 3× the
    // best probe of the run was timed inside a contended window — re-time
    // it once, report BOTH measurements on stderr, and put min-of-runs in
    // the metric line (both runs upper-bound the engine's cost).
    val baselineCalib = (calibStart +: results.map(_._3)).min
    // One warm second run + min-of-runs merge for every suspect reading
    // (policy + rationale: retimeCandidates scaladoc)
    val candidates = retimeCandidates(results, baselineCalib)
    val whyRetime: Map[String, String] = candidates.toMap
    val toRetime = candidates.map(_._1)
    val retimed: Map[String, Double] = toRetime.map { name =>
      val t0 = System.nanoTime()
      val ok = try { SparkEntry.queries(name)(spark, sfDir).count(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] retime $name failed: ${e.getMessage}"); false }
      val sec = if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
      graft.ops.Pins.releaseAll(spark)
      val c = calibrate()
      System.err.println(f"[bench] retimed $name: retry $sec%.3f s (calib $c%.3f s)")
      name -> sec
    }.toMap
    if (toRetime.nonEmpty) System.err.println("[bench] retime pass: " +
      results.filter(r => retimed.contains(r._1)).map(r =>
        f"${r._1}=orig:${r._2}%.3f/retry:${retimed(r._1)}%.3f").mkString(" "))
    val merged = mergeRetimed(results, retimed)
    // audit trail for the artifact: name, original, retry, and the trailing
    // calib probe that triggered the retime — ordered by original reading
    // DESCENDING, so when the stdout line's cap truncates the array it
    // keeps the slowest/most-inflated gates, not the alphabetical head
    val retimeDetail = results.collect {
      case (name, orig, calib) if retimed.contains(name) =>
        (name, orig, retimed(name), calib, whyRetime(name))
    }.sortBy { case (_, orig, _, _, _) => -orig }
    val wallSec = (System.nanoTime() - wall0) / 1e9
    val calibEnd = calibrate()
    // Contention classification (round-13 verdict #1): reference = the
    // last committed STEADY board at the SAME sf. Baselines are PER-SF
    // files (round-14 advice: with one shared file, a local sf0.01 run
    // bootstrapping a missing baseline would permanently block the sf0.1
    // driver reference); the un-suffixed bench_steady.json is read as a
    // legacy fallback (still sf-checked) but never written again. A
    // missing/mismatched reference degrades to calib+cap-only.
    // Non-default thread counts get their OWN baseline file: an 8-cpu
    // local iteration must neither clobber nor compare against the
    // committed 32-cpu reference at the same sf (per-gate times scale
    // with local[n], so cross-cpus ratios are meaningless).
    val steadyPath = java.nio.file.Paths.get(
      s"bench_steady.${new java.io.File(sfDir).getName}" +
        (if (cpus == "32") "" else s".c$cpus") + ".json")
    def readBoard(p: java.nio.file.Path)
        : Option[(Double, String, Map[String, Double])] =
      try {
        if (java.nio.file.Files.exists(p)) {
          val txt = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
          // belt-and-braces vs hand-copied files: the per-cpus filename
          // already separates contexts, but a board recording a different
          // thread count must never become this run's reference
          if (parseCpus(txt) != cpus) {
            System.err.println(s"[bench] $p records cpus=${parseCpus(txt)}" +
              s", this run is cpus=$cpus — not comparable, ignoring")
            None
          } else parseFullBoard(txt)
        } else None
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $p unreadable: $e"); None
      }
    val steadyRef: Option[(Double, Map[String, Double])] =
      readBoard(steadyPath)
        .orElse(readBoard(java.nio.file.Paths.get("bench_steady.json")))
        .collect { case (t, sf, gates) if sf == sfDir => (t, gates) }
    val gateSecs = merged.map { case (n, s, _) => shortKey(n) -> s }.toMap
    val total = merged.map(_._2).filter(_ >= 0).sum
    val calibAll = (calibStart +: merged.map(_._3)) :+ calibEnd
    // host snapshot BEFORE classification: the steal % over the run window
    // is now a classifier input (round-15 verdict #2), not just a reading
    val hostEnd = hostStat()
    val steal = stealPctOf(hostStart, hostEnd)
    val (contVerdict, contMedian, steadyEst, _) = contentionVerdict(
      total, gateSecs, calibAll.min, calibAll.max, retimed.size, steadyRef,
      steal)
    val contJson = contentionJson(total, gateSecs, calibAll.min,
      calibAll.max, retimed.size, steadyRef, steal) + "," +
      hostJson(hostStart, hostEnd)
    if (contVerdict == "contended") System.err.println(
      f"[bench] CONTENDED window: raw total $total%.1f s, steady estimate " +
        f"$steadyEst%.1f s (median ratio ${contMedian.getOrElse(Double.NaN)}%.3f " +
        f"vs ${steadyRef.map(_._1).getOrElse(Double.NaN)}%.1f s reference)")
    else if (contVerdict == "contended-host") System.err.println(
      f"[bench] CONTENDED-HOST window: median inflation " +
        f"${contMedian.getOrElse(Double.NaN)}%.3f with clean calib but " +
        f"host steal ${steal.getOrElse(Double.NaN)}%.2f%% over the run " +
        f"window (multi-core co-tenancy, invisible to the single-thread " +
        f"calib): raw total $total%.1f s, steady estimate $steadyEst%.1f s. " +
        "NOTE (round-16 advice): 1%% window steal is a low bar — a genuine " +
        "board-wide regression coinciding with mild background steal " +
        "matches this signature too. Corroborate the host attribution " +
        "with `tools/bench_ab.sh <last-round-close-ref>` (same-window " +
        "A/B cancels the host term) before trusting the deflated estimate.")
    else if (contVerdict == "median-only") System.err.println(
      f"[bench] MEDIAN-ONLY inflation ${contMedian.getOrElse(Double.NaN)}%.3f " +
        f"with clean CALIB signals: raw total $total%.1f s kept as the " +
        "estimate — possible board-wide CODE regression, not provable " +
        "contention; re-run idle and diff per-gate vs " +
        f"${steadyRef.map(_._1).getOrElse(Double.NaN)}%.1f s reference; " +
        "check the artifact's host.steal_pct first (multi-core co-tenancy " +
        "is invisible to the single-thread calib)")
    // The driver keeps only the LAST 2000 BYTES of stdout (round-5 lost
    // the whole artifact; round-8's grown 176-gate map clipped its head
    // and parsed null). Defense in depth:
    //  1. the stdout line is BYTE-BUDGETED (metricJson: failed + slowest
    //     gates until ~1700 bytes, truncation made explicit) so it always
    //     fits the tail window whole;
    //  2. the complete per-query artifact is WRITTEN to bench_last.json;
    //  3. full timings + calib timeline still go to stderr.
    System.err.println("[bench] query name map: " +
      merged.map(r => shortKey(r._1) + "=" + r._1).mkString(" "))
    System.err.println("[bench] full timings: " +
      merged.map(r => shortKey(r._1) + ":" + ms(r._2)).mkString(" "))
    System.err.println("[bench] calib timeline: " +
      merged.map { case (k, _, c) => shortKey(k) + ":" + ms(c) }.mkString(" "))
    val fullArtifact = fullJson(merged, sfDir, wallSec, calibStart, calibEnd,
      retimeDetail, contJson, cpus)
    try java.nio.file.Files.write(java.nio.file.Paths.get("bench_last.json"),
      fullArtifact.getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"[bench] bench_last.json write failed: $e") }
    // Self-maintaining steady reference: a STEADY full-board run becomes
    // the next runs' comparison baseline at ITS OWN sf (per-sf files, so
    // a local sf0.01 run can never clobber or block the sf0.1 driver
    // reference). "median-only" runs never become the reference either —
    // they may carry a genuine regression the next run must still see.
    if (contVerdict == "steady" && merged.forall(_._2 >= 0)) {
      try java.nio.file.Files.write(steadyPath, fullArtifact.getBytes("UTF-8"))
      catch { case e: Throwable =>
        System.err.println(s"[bench] $steadyPath write failed: $e") }
    }
    // Orderly teardown BEFORE emitting the metric line, so no late thread
    // can write after (or into) the one line the driver parses. Metric line
    // is the FINAL stdout line.
    GateSession.stop(spark)
    System.out.flush()
    val line = metricJson(merged, shortKey, sfDir, wallSec, calibStart,
      calibEnd, retimeDetail, contJson)
    if (line.length > 1900) // headroom under the driver's 2000-byte tail
      System.err.println(s"[bench] WARNING metric line ${line.length} bytes")
    println(line)
    System.out.flush()
  }
}
