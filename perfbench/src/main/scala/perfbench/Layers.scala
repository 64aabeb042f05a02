package perfbench

import java.nio.file.{Files, Path}
import Main.{PassRec, median}

/** Per-layer metrics of a traced run, each a per-pass mean over the traced
  * warm passes (io: over all warm passes). Layers a workload does not run
  * report 0.
  */
object Layers {
  def metrics(tr: Tracer, warm: Seq[PassRec], inBytes: Long, work: Path,
      runKey: String): Seq[(String, Double)] = {
    val traced = warm.filter(_.traced)
    val n = math.max(traced.size, 1).toDouble
    val calls = traced.flatMap(_.calls)
    val perCall = calls.map(s => s -> tr.countersOf(s))
    def sum(sel: Span => Boolean)(f: (Span, Counters) => Double): Double =
      perCall.collect { case (s, k) if sel(s) => f(s, k) }.sum / n

    val stages = Pipeline.Stages.flatMap { st =>
      val sel = (s: Span) => s.layer == "stages" && s.name == st
      Seq(
        s"stages.$st.s" -> sum(sel)((s, _) => s.s),
        s"stages.$st.jobs" -> sum(sel)((_, k) => k.jobs),
        s"stages.$st.tasks" -> sum(sel)((_, k) => k.tasks),
        s"stages.$st.executor_run_s" -> sum(sel)((_, k) => k.runMs / 1e3),
        s"stages.$st.executor_cpu_s" -> sum(sel)((_, k) => k.cpuNs / 1e9),
        s"stages.$st.shuffle_bytes" -> sum(sel)((_, k) => k.shuffleWrite))
    }

    val ioN = math.max(warm.size, 1).toDouble
    val io = Pipeline.Stages.flatMap { st =>
      Seq(
        s"io.$st.files_written" -> warm.map(_.io.get(st).fold(0L)(_._1)).sum / ioN,
        s"io.$st.bytes_written" -> warm.map(_.io.get(st).fold(0L)(_._2)).sum / ioN)
    } :+ ("io.bytes_written_per_input_byte" ->
      warm.map(_.io.values.map(_._2).sum).sum / ioN / math.max(inBytes, 1L))

    val queries = Gates.modules.map(_._1).flatMap { m =>
      val sel = (s: Span) => s.layer == "queries" && Gates.moduleOf.get(s.name).contains(m)
      Seq(s"queries.$m.s" -> sum(sel)((s, _) => s.s),
        s"queries.$m.jobs" -> sum(sel)((_, k) => k.jobs))
    }

    val any = (_: Span) => true
    val sparkRt = Seq(
      "spark.jobs" -> sum(any)((_, k) => k.jobs),
      "spark.stages" -> sum(any)((_, k) => k.stages),
      "spark.tasks" -> sum(any)((_, k) => k.tasks),
      "spark.executor_run_s" -> sum(any)((_, k) => k.runMs / 1e3),
      "spark.executor_cpu_s" -> sum(any)((_, k) => k.cpuNs / 1e9),
      "spark.gc_s" -> tr.gcMs / 1e3 / n,
      "spark.shuffle_write_bytes" -> sum(any)((_, k) => k.shuffleWrite),
      "spark.shuffle_read_bytes" -> sum(any)((_, k) => k.shuffleRead),
      "spark.spill_bytes" -> sum(any)((_, k) => k.spill),
      "spark.driver_gap_s" -> sum(any)((_, k) => k.gapMs / 1e3),
      "spark.planning_s" -> sum(any)((_, k) => k.planningMs / 1e3),
      "codegen.compile_s" -> tr.compileNs / 1e9 / n,
      "codegen.compiles" -> tr.compiles / n,
      "streaming.batches" -> tr.streaming.jobs / n,
      "streaming.batch_s" -> tr.streaming.runMs / 1e3 / n,
      "streaming.planning_s" -> tr.streaming.planningMs / 1e3 / n)

    def passS(p: PassRec) = p.calls.map(_.s).sum
    val untraced = warm.filterNot(_.traced)
    val trace = Seq(
      "warm.pass_s" -> median(untraced.map(passS)),
      "trace.overhead_s" -> (median(traced.map(passS)) - median(untraced.map(passS))),
      "trace.pass_self_s" -> traced.map(p => p.pass.s - passS(p)).sum / n)

    stages ++ io ++ queries ++ sparkRt ++ trace :+
      ("plan.changes" -> planChanges(traced, perCall.toMap, work, runKey).toDouble)
  }

  /** Job and task counts per call name must repeat exactly on the same
    * inputs: across the traced passes of this run, and against the counts
    * the first traced run with this workload and seed in the checkout
    * stored. (Some plans are data-dependent, so counts are only compared
    * seed for seed.) Returns how many call names moved; each is reported
    * on stderr.
    */
  private def planChanges(traced: Seq[PassRec], counters: Map[Span, Counters],
      work: Path, runKey: String): Int = {
    val perPass = traced.map(_.calls.map { s =>
      val k = counters(s); s.name -> s"${k.jobs}/${k.tasks}" }.toMap)
    val names = perPass.flatMap(_.keys).distinct.sorted
    val now = names.map(nm => nm -> perPass.flatMap(_.get(nm)).distinct).toMap
    val store = work.getParent.resolve(s"plan-counts-$runKey.txt")
    val before: Map[String, String] =
      if (Files.exists(store)) Files.readAllLines(store).toArray(Array.empty[String])
        .map(_.split(" ", 2)).collect { case Array(k, v) => k -> v }.toMap
      else {
        Files.writeString(store, names.map(nm => s"$nm ${now(nm).head}").mkString("", "\n", "\n"))
        Map.empty
      }
    val moved = names.filter(nm => now(nm).size > 1 ||
      before.get(nm).exists(_ != now(nm).head))
    moved.foreach(nm => System.err.println(
      s"[perfbench] plan change: $nm jobs/tasks ${now(nm).mkString(",")} (stored ${before.getOrElse(nm, "-")})"))
    moved.size
  }
}
