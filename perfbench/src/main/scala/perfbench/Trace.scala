package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed region: a pass, a stage call, a gate call or an output check.
  * `cpuNs` is the whole JVM's CPU time over the region (all threads).
  */
final case class Span(id: Int, parent: Int, layer: String, name: String,
    startMs: Long, startNs: Long) {
  var durNs: Long = 0L
  var cpuNs: Long = 0L
  def endMs: Long = startMs + durNs / 1000000L
  def s: Double = durNs / 1e9
}

/** Spark runtime counters for one span. */
final class Counters {
  var jobs, stages, tasks, runMs, cpuNs, shuffleWrite, shuffleRead, spill = 0L
  var planningMs = 0L
  var gapMs = 0L
}

/** Records spans always (they are the timer), and, between [[attach]] and
  * [[detach]], Spark runtime counters attributed to the innermost open span:
  *  - jobs, stages and task metrics through a SparkListener, keyed by the
  *    span id the driver thread puts in a local property before each call;
  *  - planning phases through a QueryExecutionListener, keyed by time;
  *  - micro-batches through a StreamingQueryListener;
  *  - codegen compile count and time from CodegenMetrics/CodeGenerator,
  *    and GC time from the JVM's collectors, read at pass boundaries.
  * Spans stay in memory and are written out once, after the last pass.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  val spans = mutable.ArrayBuffer[Span]()
  private var open = List.empty[Span]
  private val sc = spark.sparkContext

  private val counters = mutable.Map[Int, Counters]()
  private def c(span: Int) = counters.getOrElseUpdate(span, new Counters)
  private val stageSpan = mutable.Map[Int, Int]()
  private val jobStart = mutable.Map[Int, Long]()
  private val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()
  private val planning = mutable.ArrayBuffer[(Long, Long)]() // (startMs, ms)
  val streaming = new Counters // jobs = batches, runMs = batch ms, planningMs

  def span[T](layer: String, name: String)(body: => T): T = {
    val s = Span(spans.size, open.headOption.fold(-1)(_.id), layer, name,
      System.currentTimeMillis(), System.nanoTime())
    spans += s
    open = s :: open
    val prev = sc.getLocalProperty(SpanProp)
    sc.setLocalProperty(SpanProp, s.id.toString)
    val cpu0 = processCpu.getProcessCpuTime
    try body
    finally {
      s.durNs = System.nanoTime() - s.startNs
      s.cpuNs = processCpu.getProcessCpuTime - cpu0
      open = open.tail
      sc.setLocalProperty(SpanProp, prev)
    }
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toInt).getOrElse(-1)
      c(span).jobs += 1
      jobStart(e.jobId) = e.time
      e.stageInfos.foreach(si => stageSpan(si.stageId) = span)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach(t0 => jobIntervals += ((t0, e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      val k = c(stageSpan.getOrElse(si.stageId, -1))
      k.stages += 1
      k.tasks += si.numTasks
      Option(si.taskMetrics).foreach { m =>
        k.runMs += m.executorRunTime
        k.cpuNs += m.executorCpuTime
        k.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        k.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        k.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases.values
      if (ph.nonEmpty) Tracer.this.synchronized {
        planning += ((ph.map(_.startTimeMs).min, ph.map(_.durationMs).sum))
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val d = e.progress.durationMs.asScala
        streaming.jobs += 1
        streaming.runMs += d.get("triggerExecution").map(_.longValue).getOrElse(0L)
        streaming.planningMs += d.get("queryPlanning").map(_.longValue).getOrElse(0L)
      }
  }

  private var attached = false
  private var gcMs0, compileNs0, compiles0 = 0L
  /** JVM-wide codegen and GC totals accumulated while attached. */
  var gcMs, compileNs, compiles = 0L

  def attach(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
    gcMs0 = gcTotalMs; compileNs0 = CodeGenerator.compileTime
    compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    attached = true
  }

  /** Drains the listener bus so every event of the pass is counted. */
  def detach(): Unit = if (attached) {
    org.apache.spark.PerfbenchBus.drain(sc)
    gcMs += gcTotalMs - gcMs0
    compileNs += CodeGenerator.compileTime - compileNs0
    compiles += CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
    attached = false
  }

  private def gcTotalMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Counters of span `id` with planning time and driver gap resolved:
    * planning events go to the innermost span open at their start, and the
    * gap is the span's wall time not covered by any job.
    */
  def countersOf(sp: Span): Counters = synchronized {
    val k = counters.getOrElse(sp.id, new Counters)
    k.planningMs = planning.collect {
      case (t, ms) if innermostAt(t).contains(sp.id) => ms
    }.sum
    val covered = union(jobIntervals.toSeq.map { case (a, b) =>
      (math.max(a, sp.startMs), math.min(b, sp.endMs)) }.filter(x => x._2 > x._1))
    k.gapMs = math.max(0L, sp.endMs - sp.startMs - covered)
    k
  }

  private def innermostAt(t: Long): Option[Int] =
    spans.filter(s => s.startMs <= t && t <= s.endMs).maxByOption(_.id).map(_.id)

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var end = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a >= end) { total += b - a; end = b }
      else if (b > end) { total += b - end; end = b }
    }
    total
  }

  /** All spans as JSON lines (id, parent, layer, name, start, seconds). */
  def spansJsonl: String = spans.map(s =>
    s"""{"id":${s.id},"parent":${s.parent},"layer":"${s.layer}","name":"${s.name}",""" +
      s""""start_ms":${s.startMs},"s":${s.s}}""").mkString("", "\n", "\n")
}

object Tracer {
  val SpanProp = "perfbench.span"
  private val processCpu = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
}
