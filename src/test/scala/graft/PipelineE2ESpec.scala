package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.{MapPartitionsExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.core.{Schemas, StatsDoc, Status}
import graft.stages._

/** End-to-end golden run: the five-stage `cli.Main pipeline` over a
  * synthesized corpus with known totals and planted defects (the bundled
  * reference dataset ships only meta/, so the golden corpus is generated
  * with the same layout: data/chunk-*, meta/episodes*.jsonl, videos/).
  * Asserts the cross-stage invariants the reference pipeline guarantees:
  * manifest statuses, frame totals, global stats vs the flat recompute,
  * split-count conservation, and video placement. A second run calls the
  * five stages one by one and pins what each call costs and leaves behind.
  */
class PipelineE2ESpec extends SparkSuite with AdaptiveSparkPlanHelper {
  import FixtureGen._

  private val expectedFrames = Map(0L -> 40L, 1L -> 35L, 2L -> 30L, 3L -> 25L, 4L -> 20L)

  /** The golden corpus; outputs go to per-test out-roots beneath it. */
  private lazy val root: String = {
    val root = tmpDir("e2e_root")
    val episodes = Map(
      0L -> cleanFrames(0, 40),
      1L -> cleanFrames(1, 35),
      2L -> Defects.dupFrames(2, 30),  // 31 raw rows, 30 after dedup
      3L -> Defects.unsorted(3, 25),
      4L -> cleanFrames(4, 20))
    dataset(spark, root, episodes,
      videosFor = Set(0L, 1L, 2L, 3L), // episode 4 → MISSING_SIDE
      metaLengths = expectedFrames)
    Files.write(Paths.get(s"$root/meta/episodes_stats.jsonl"),
      statsJsonl(episodes).getBytes)
    root
  }

  test("pipeline: discover → validate → stats → align-transform → materialize") {
    val outRoot = s"$root/out"

    // --skip-video: the CLI default (reference parity) probes videos, but
    // the test container has no ffprobe — every episode would degrade to
    // <cam>_video_missing and fail validation
    cli.Main.run(spark, List("pipeline", root, outRoot, "--skip-video"))

    // --- manifest statuses
    val manifest = spark.read.parquet(s"$outRoot/manifest/episodes.parquet")
    val statuses = manifest.select("episode_index", "status").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(statuses === Map(0L -> Status.New, 1L -> Status.New, 2L -> Status.New,
      3L -> Status.New, 4L -> Status.MissingSide))

    // --- validation: ep2 (dup frame_index) and ep3 (unsorted) fail; the
    // valid set {0, 1, 4} feeds the stats stage via validated_episodes.jsonl
    assert(Files.exists(Paths.get(s"$outRoot/validate/summary.yaml")))
    val validatedIds = spark.read.text(s"$outRoot/validate/validated_episodes.jsonl")
      .collect().map(r => com.fasterxml.jackson.databind.json.JsonMapper.builder().build()
        .readTree(r.getString(0)).get("episode_index").asLong).toSet
    assert(validatedIds === Set(0L, 1L, 4L))

    // --- global stats doc: pooled reduction over the VALID episodes must
    // equal the flat recompute over the same episodes (exact per-episode
    // stats in the fixture → agreement to float tolerance)
    val statsText = io.SingleFile.readText(spark, s"$outRoot/global_stats.json").get
    val gs = StatsDoc.parse(statsText).get
    val validFiles = Seq(0L, 1L, 4L).map(ep =>
      f"$root/data/chunk-000/episode_$ep%06d.parquet")
    val flat = stages.Stats.computeFromFrames(
      io.Episodes.readRaw(spark, validFiles),
      Seq("action", Schemas.ObsStateStorage))
    gs.features("action").mean.zip(flat.features("action").mean).foreach {
      case (a, b) => assert(math.abs(a - b) < 1e-6, s"pooled vs flat mean: $a vs $b")
    }
    assert(gs.totalFrames === 40L + 35L + 20L)
    assert(gs.episodesUsed === 3L)

    // --- normalized episodes: one file each, dedup/sort applied
    val norm = io.Episodes.readDataDir(spark, s"$outRoot/normalized")
    val counts = norm.groupBy(col(io.Episodes.EpIdxCol).as("ep")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts === expectedFrames)

    // --- materialized dataset: split counts conserve episodes; index rows
    val index = spark.read.parquet(s"$outRoot/dataset/dataset_index.parquet")
    assert(index.count() === 5)
    val splitCounts = index.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(splitCounts.values.sum === 5L)
    // every index row's parquet exists with num_rows rows
    index.select("parquet_path", "num_rows", "episode_index").collect().foreach { r =>
      val p = Paths.get(s"$outRoot/dataset/${r.getString(0)}")
      assert(Files.exists(p), s"missing ${r.getString(0)}")
      assert(spark.read.parquet(p.toString).count() === r.getLong(1))
      assert(r.getLong(1) === expectedFrames(r.getLong(2)))
    }
    // videos placed (symlinks) for the episodes that have them
    val placed = index.filter(col("`observation.images.front.path`").isNotNull)
      .select("episode_index").collect().map(_.getLong(0)).toSet
    assert(placed === Set(0L, 1L, 2L, 3L))
  }

  /** Spark jobs per stage call under this suite's session (local[4], 4
    * shuffle partitions) on the golden corpus. Jobs are set by the plans,
    * not by timing, so a count that moves means a plan changed: an extra
    * action, a re-executed subplan or a schema-inference job.
    */
  private val jobBudget = Map(
    "discover" -> 4, "validate" -> 10, "stats" -> 3,
    "align_transform" -> 4, "materialize" -> 10)

  test("stage calls: pinned job counts, one fingerprint pass, no cached table left") {
    val outRoot = s"$root/out_stages"
    val manifest = s"$outRoot/manifest/episodes.parquet"
    val validateOut = s"$outRoot/validate"
    val statsOut = s"$outRoot/global_stats.json"
    spark.catalog.clearCache()

    val jobs = new AtomicInteger()
    val jobCounter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val executions = mutable.ArrayBuffer.empty[QueryExecution]
    val planRecorder = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        executions.synchronized(executions += qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def drain(): Unit =
      org.apache.spark.sql.graft.GraftBridge.waitListenerBusEmpty(spark.sparkContext, 60000)

    val counted = mutable.LinkedHashMap.empty[String, Int]
    def stage[T](name: String)(body: => T): T = {
      drain()
      jobs.set(0)
      val out = body
      drain()
      counted(name) = jobs.get
      assert(spark.sharedState.cacheManager.isEmpty, s"$name left a cached table behind")
      out
    }
    /** Discover fingerprint nodes in each parquet write's executed plan. */
    def fingerprintPasses(): Seq[Int] = executions.synchronized {
      executions.toSeq
        .filter(qe => find(qe.executedPlan)(_.isInstanceOf[DataWritingCommandExec]).isDefined)
        .map(qe => collect(qe.executedPlan) {
          case m: MapPartitionsExec if m.func.getClass.getName.startsWith("graft.stages.Discover") => m
        }.size)
    }

    spark.sparkContext.addSparkListener(jobCounter)
    spark.listenerManager.register(planRecorder)
    try {
      val delta = stage("discover")(Discover.run(spark, root, manifest))
      assert(fingerprintPasses() === Seq(1), "the manifest write fingerprints each file once")
      val (total, ok, fail) = stage("validate")(Validate.run(spark, manifest, s"$root/meta",
        validateOut, Validate.Config(skipVideo = true)))
      val gs = stage("stats")(Stats.run(spark, s"$root/meta/episodes_stats.jsonl", statsOut,
        Seq("action", Schemas.ObsStateStorage), Some(s"$validateOut/validated_episodes.jsonl")))
      val normalized = stage("align_transform")(AlignTransform.run(spark, s"$root/data",
        s"$outRoot/normalized", Some(statsOut)))
      val index = stage("materialize")(Materialize.run(spark, s"$outRoot/normalized",
        s"$outRoot/dataset", Materialize.Config(videosRoot = Some(s"$root/videos"))))
      assert(counted.toMap === jobBudget)

      assert(delta.count() === 5)
      assert((total, ok, fail) === ((5L, 3L, 2L)))
      assert(gs.episodesUsed === 3L)
      assert(normalized.size === 5)
      assert(index.count() === 5)

      // a re-scan joins the previous manifest and builds tombstones; it
      // still fingerprints each file once, and its delta is empty
      executions.synchronized(executions.clear())
      val again = stage("rediscover")(Discover.run(spark, root, manifest))
      assert(fingerprintPasses() === Seq(1))
      assert(again.count() === 0)
    } finally {
      spark.listenerManager.unregister(planRecorder)
      spark.sparkContext.removeSparkListener(jobCounter)
    }
  }
}
