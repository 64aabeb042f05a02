package graft.tools

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.graft.GraftBridge
import graft.{GateSession, SparkEntry}

/** Profile gates under the gate session, the way `graft.Bench` runs them:
  * the gate's plan build plus `count()` on the clock, `Pins.releaseAll`
  * after it. Each run prints one JSON line — wall time, rows, Spark jobs,
  * stages and tasks, the wall time covered by jobs and the driver gap
  * left between them (planning, broadcast builds, driver-side collects),
  * and the codegen compiles. The last run of each gate also prints its
  * job timeline, and the end lists the narrow stages of every run: long
  * stages on a handful of tasks, the AQE-coalesce / single-split class
  * (q141's verify, q157's media fan-out).
  *
  * Usage: `runMain graft.tools.Profile <gate[,gate…]|ALL> [sfDir] [runs]`
  * (`ALL` = every gate in Bench's sorted order; runs defaults to 3).
  */
object Profile {
  val NarrowMs = 300L
  val NarrowTasks = 4

  /** A job as submitted: its stages and tasks include skipped stages. */
  final case class Job(id: Int, start: Long, end: Option[Long], stages: Int, tasks: Int)

  /** One timed gate run; times are wall-clock ms, as listener events carry. */
  final case class Run(gate: String, run: Int, t0: Long, t1: Long, rows: Long,
      jobs: Seq[Job], compiles: Long, compileNs: Long) {
    /** (gap since the previous job ended, job) by start time, and the gap
      * after the last job; overlapping jobs add no gap.
      */
    lazy val (timeline, tailGap): (Seq[(Long, Job)], Long) = {
      var prevEnd = t0
      val gaps = jobs.sortBy(_.start).map { j =>
        val gap = math.max(0L, j.start - prevEnd)
        prevEnd = math.max(prevEnd, j.end.getOrElse(j.start))
        (gap, j)
      }
      (gaps, math.max(0L, t1 - prevEnd))
    }

    def json: String = {
      val wall = (t1 - t0) / 1e3
      val gap = (timeline.map(_._1).sum + tailGap) / 1e3
      f"""{"gate":"$gate","run":$run,"wall_s":$wall%.3f,"rows":$rows,""" +
        f""""jobs":${jobs.size},"stages":${jobs.map(_.stages).sum},""" +
        f""""tasks":${jobs.map(_.tasks).sum},"job_s":${wall - gap}%.3f,""" +
        f""""gap_s":$gap%.3f,"codegen_compiles":$compiles,""" +
        f""""codegen_ms":${compileNs / 1e6}%.1f}"""
    }

    def timelineLines: Seq[String] = timeline.map { case (gap, j) =>
      val dur = j.end.fold("  no end")(e => f"${(e - j.start) / 1e3}%6.3f s")
      f"  gap ${gap / 1e3}%6.3f s | job ${j.id}%4d $dur stages=${j.stages}%2d tasks=${j.tasks}%4d"
    } :+ f"  tail gap ${tailGap / 1e3}%.3f s"
  }

  /** Jobs since the last `reset`, and narrow stages tagged with `gate`. */
  private final class Recorder extends SparkListener {
    private val started = new ConcurrentHashMap[Int, Job]()
    private val ended = new ConcurrentHashMap[Int, Long]()
    val narrow = new ConcurrentLinkedQueue[String]()
    @volatile var gate = ""

    def reset(): Unit = { started.clear(); ended.clear() }

    def jobs: Seq[Job] = started.values.asScala.toSeq
      .map(j => j.copy(end = Option(ended.get(j.id)).map(_.longValue)))

    override def onJobStart(e: SparkListenerJobStart): Unit = started.put(e.jobId,
      Job(e.jobId, e.time, None, e.stageInfos.size, e.stageInfos.map(_.numTasks).sum))

    override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.put(e.jobId, e.time)

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      for (t0 <- s.submissionTime; t1 <- s.completionTime
           if t1 - t0 >= NarrowMs && s.numTasks <= NarrowTasks)
        narrow.add(s"[narrow] $gate stage ${s.stageId} ${t1 - t0} ms " +
          s"tasks=${s.numTasks}  ${s.name.take(80)}")
    }
  }

  /** `ALL` or gate names (comma-separated or not), checked against the board. */
  def gates(spec: Seq[String]): Seq[String] = {
    val (board, names) = (SparkEntry.queries, spec.flatMap(_.split(',')).filter(_.nonEmpty))
    val unknown = names.filterNot(board.contains)
    require(names == Seq("ALL") || unknown.isEmpty, s"unknown gate(s): ${unknown.mkString(", ")}")
    if (names == Seq("ALL")) board.keys.toSeq.sorted else names
  }

  /** Runs each gate `runs` times and hands every run to `onRun` once its
    * events are drained; returns the narrow stages of all runs.
    */
  def profile(spark: SparkSession, sfDir: String, names: Seq[String], runs: Int)
      (onRun: Run => Unit): Seq[String] = {
    val (sc, board) = (spark.sparkContext, SparkEntry.queries)
    val rec = new Recorder
    GraftBridge.waitListenerBusEmpty(sc, 60000) // no earlier job reaches rec
    sc.addSparkListener(rec)
    try {
      for (name <- gates(names); i <- 1 to runs) {
        rec.gate = name
        rec.reset()
        val (c0, ns0) = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
        val t0 = System.currentTimeMillis()
        val rows = board(name)(spark, sfDir).count()
        val t1 = System.currentTimeMillis()
        val (c1, ns1) = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
        graft.ops.Pins.releaseAll(spark)
        GraftBridge.waitListenerBusEmpty(sc, 60000)
        onRun(Run(name, i, t0, t1, rows, rec.jobs, c1 - c0, ns1 - ns0))
      }
      rec.narrow.asScala.toSeq
    } finally sc.removeSparkListener(rec)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 1 && args.length <= 3, "usage: Profile <gate[,gate…]|ALL> [sfDir] [runs]")
    val names = gates(args.take(1).toSeq) // refuse a typo before startup
    val runs = args.lift(2).fold(3)(_.toInt)
    val spark = GateSession.start()
    try {
      profile(spark, args.lift(1).getOrElse(GateSession.sfDir), names, runs) { r =>
        println(r.json)
        if (r.run == runs) r.timelineLines.foreach(println)
        Console.out.flush()
      }.foreach(println)
    } finally GateSession.stop(spark)
  }
}
