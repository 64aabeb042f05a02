package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.core.Status

/** Benchmark JVM: one workload in one local[4] session.
  *
  * {{{
  * Main --workload <pipeline_full|pipeline_incremental|gates> --seed <n>
  *      --seconds <s> --trace <0|1> --work <dir> --out <result.json>
  *      [--episodes <n>] [--tables <dir> --gates <list>]
  * }}}
  *
  * Pass 0 runs cold, right after set-up, and is all an untraced run
  * measures. A traced run adds a warm-up pass and then warm passes, every
  * other one traced, and reports per-layer metrics of the traced ones.
  * The result file holds the metrics, the attempted and failed call
  * counts and the failure messages.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: Path, out: Path, episodes: Option[Int], tables: Option[String], gates: Option[Path])

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      Paths.get(m("work")).toAbsolutePath, Paths.get(m("out")), m.get("episodes").map(_.toInt),
      m.get("tables"), m.get("gates").map(Paths.get(_)))
  }

  /** One completed pass: its span, its call spans, whether it was traced,
    * and (files, bytes) under each stage's output.
    */
  final case class PassRec(pass: Span, calls: Seq[Span], traced: Boolean,
      io: Map[String, (Long, Long)])

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val hostStart = graft.Bench.hostStat()
    val pipeline = a.workload.startsWith("pipeline")
    val b = SparkSession.builder().master("local[4]").appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
    // the confs of the entry point each workload stands for: cli.Main for
    // the pipeline, graft.Bench for the gates
    if (pipeline) b.config("spark.sql.shuffle.partitions", "32")
    else b.config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "1h")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val tr = new Tracer(spark)
    val failures = mutable.ArrayBuffer[String]()
    var attempted = 0L
    var failed = 0L
    def callsOf(p: Span) = tr.spans.filter(s => s.parent == p.id && s.layer != "check").toSeq

    // (set-up seconds after session start, input bytes, run pass i)
    val (setupS, inBytes, runPass): (Double, Long, Int => Option[PassRec]) = a.workload match {
      case "pipeline_full" | "pipeline_incremental" =>
        val incremental = a.workload == "pipeline_incremental"
        val gens = (0 until 3).map { i =>
          val dir = a.work.resolve(s"corpus-$i")
          val t0 = System.nanoTime()
          val c = CorpusGen.generate(dir, a.seed, a.episodes.get)
          ((System.nanoTime() - t0) / 1e9, c)
        }
        val corpus = gens.last._2
        gens.init.foreach(g => deleteTree(g._2.root))
        val pl = new Pipeline(spark, tr, corpus)
        val all = Map(Status.New -> corpus.episodes.map(_.index).toSet)
        def runChecked(out: Path, expect: Map[String, Set[Long]]): Option[PassRec] = {
          val r = pl.pass(out)
          val p = tr.spans.filter(_.layer == "pass").last
          attempted += Pipeline.Stages.size
          r match {
            case Left((stage, e)) =>
              failed += Pipeline.Stages.size - Pipeline.Stages.indexOf(stage)
              failures += s"$stage threw ${e.getClass.getSimpleName}: ${e.getMessage}"
              None
            case Right(o) =>
              val bad = pl.check(out, o, expect)
              failed += bad.map(_.takeWhile(_ != ':')).distinct.size
              failures ++= bad
              val io = Pipeline.outputsOf(out).map { case (s, d) => s -> Pipeline.walk(d) }.toMap
              Some(PassRec(p, callsOf(p), traced = false, io))
          }
        }
        val outRoot = a.work.resolve("out")
        if (incremental) {
          val t0 = System.nanoTime()
          runChecked(outRoot, all)
          val priorS = (System.nanoTime() - t0) / 1e9
          (median(gens.map(_._1)) + priorS, Pipeline.walk(corpus.root)._2, (i: Int) => {
            // discover re-emits a rewritten episode as NEW, as the
            // reference's classifier does (SURVEY.md F3)
            val (changed, deleted, added) = corpus.edit(0.01)
            runChecked(outRoot, Map(Status.New -> (changed + added),
              Status.Deleted -> Set(deleted)))
          })
        } else
          (median(gens.map(_._1)), Pipeline.walk(corpus.root)._2, (i: Int) => {
            // a fresh out-root and no cached tables, as a CLI run sees
            spark.catalog.clearCache()
            val r = runChecked(outRoot.resolve(s"pass-$i"), all)
            if (i > 0) deleteTree(outRoot.resolve(s"pass-${i - 1}"))
            r
          })

      case "gates" =>
        // fixed order: in a cold pass the first gate to touch a code path
        // pays its warm-up, so a seeded order moved first_pass_cpu_s by 17 %
        val g = new Gates(spark, tr, a.tables.get, Gates.readList(a.gates.get))
        val results = a.work.resolve("results")
        Files.createDirectories(results)
        Files.writeString(results.resolve("oracle_sql.json"), g.oracleJson)
        val tablesBytes = Pipeline.walk(Paths.get(a.tables.get))._2
        (0.0, tablesBytes, (i: Int) => {
          val bad = g.pass(if (i == 0) Some(results) else None)
          val p = tr.spans.filter(_.layer == "pass").last
          attempted += g.names.size
          failed += bad.size
          failures ++= bad.map { case (n, msg) => s"$n: $msg" }
          Some(PassRec(p, callsOf(p), traced = false, Map.empty))
        })
    }

    // An untraced run measures the cold pass only. A traced run follows
    // it with one more warm-up pass and then warm passes untraced, traced,
    // untraced, ..., at least two and until the next would end after
    // --seconds.
    val deadline = 150.0 // seconds since JVM start: leaves room to exit
    def jvmS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val first = runPass(0)
    val warm = mutable.ArrayBuffer[PassRec]()
    val warm0 = System.nanoTime()
    var i = 1
    var last = 0.0
    while (a.trace && (i <= 3 || (System.nanoTime() - warm0) / 1e9 + last <= a.seconds) &&
        jvmS + last < deadline) {
      val traced = i % 2 == 1 && i > 1
      if (traced) tr.attach()
      val t0 = System.nanoTime()
      val r = runPass(i)
      last = (System.nanoTime() - t0) / 1e9
      if (traced) tr.detach()
      if (i > 1) r.foreach(p => warm += p.copy(traced = traced))
      i += 1
    }
    val hostEnd = graft.Bench.hostStat()

    val metrics: Seq[(String, Double)] =
      if (!a.trace) {
        Seq(
          "setup_s" -> (sessionS + setupS),
          "first_pass_s" -> first.fold(Double.NaN)(_.calls.map(_.s).sum),
          "first_pass_cpu_s" -> first.fold(Double.NaN)(_.calls.map(_.cpuNs).sum / 1e9),
          "retained_heap_mb" -> retainedHeapMb)
      } else Layers.metrics(tr, warm.toSeq, inBytes, a.work, s"${a.workload}-${a.seed}") ++ Seq(
        "host.steal_pct" -> graft.Bench.stealPctOf(hostStart, hostEnd).getOrElse(Double.NaN),
        "host.load1" -> hostEnd.map(_._3).getOrElse(Double.NaN))

    Files.writeString(a.work.resolve("spans.jsonl"), tr.spansJsonl)
    val host = s"""{"steal_pct":${graft.Bench.stealPctOf(hostStart, hostEnd).getOrElse(-1.0)},""" +
      s""""load1_start":${hostStart.map(_._3).getOrElse(-1.0)},"load1_end":${hostEnd.map(_._3).getOrElse(-1.0)}}"""
    Files.writeString(a.out,
      s"""{"attempted":$attempted,"failed":$failed,"passes":${i},"host":$host,""" +
        s""""failures":${failures.map(Json.str).mkString("[", ",", "]")},""" +
        s""""metrics":${metrics.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}")}}""")
    spark.streams.active.foreach(q => try q.stop() catch { case _: Exception => () })
    spark.stop()
  }

  /** Median of `xs` (NaN when empty). */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }

  /** Heap the session still holds after full collections, in MiB. The
    * pauses let Spark's ContextCleaner drop the blocks of objects the first
    * collection found unreachable, so the next one can free them.
    */
  def retainedHeapMb: Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally s.close()
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
}
