package graft

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{FileSourceScanExec, MapPartitionsExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.core.{StatsDoc, Status}
import graft.stages._

/** End-to-end golden run: the five-stage `cli.Main pipeline` over a
  * synthesized corpus with known totals and planted defects (the bundled
  * reference dataset ships only meta/, so the golden corpus is generated
  * with the same layout: data/chunk-*, meta/episodes*.jsonl, videos/).
  * Asserts the cross-stage invariants the reference pipeline guarantees:
  * manifest statuses, frame totals, global stats vs driver-side flat stats,
  * split-count conservation, and video placement. A second run calls the
  * five stages one by one and pins what each call costs and leaves behind.
  */
class PipelineE2ESpec extends SparkSuite with AdaptiveSparkPlanHelper {
  import FixtureGen._

  private val expectedFrames = Map(0L -> 40L, 1L -> 35L, 2L -> 30L, 3L -> 25L, 4L -> 20L)

  private val goldenEpisodes = Map(
    0L -> cleanFrames(0, 40),
    1L -> cleanFrames(1, 35),
    2L -> Defects.dupFrames(2, 30),  // 31 raw rows, 30 after dedup
    3L -> Defects.unsorted(3, 25),
    4L -> cleanFrames(4, 20))

  /** The golden corpus; outputs go to per-test out-roots beneath it. */
  private lazy val root: String = {
    val root = tmpDir("e2e_root")
    dataset(spark, root, goldenEpisodes,
      videosFor = Set(0L, 1L, 2L, 3L), // episode 4 → MISSING_SIDE
      metaLengths = expectedFrames)
    Files.write(Paths.get(s"$root/meta/episodes_stats.jsonl"),
      statsJsonl(goldenEpisodes).getBytes)
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
    // equal the driver's flat stats over the same episodes (exact
    // per-episode stats in the fixture → agreement to float tolerance)
    val statsText = io.SingleFile.readText(spark, s"$outRoot/global_stats.json").get
    val gs = StatsDoc.parse(statsText).get
    val flat = flatStats(Seq(0L, 1L, 4L).flatMap(goldenEpisodes))
    gs.features("action").mean.zip(flat("action").mean).foreach {
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

  test("a rerun drops the outputs of a deleted episode and adds a new one") {
    val root = tmpDir("e2e_rerun")
    val outRoot = s"$root/out"
    dataset(spark, root, Map(0L -> cleanFrames(0, 10), 1L -> cleanFrames(1, 12),
      4L -> cleanFrames(4, 8)), videosFor = Set(0L, 1L, 4L))
    cli.Main.run(spark, List("pipeline", root, outRoot, "--skip-video"))
    // episode 4 goes with its videos: its placed links now dangle
    Files.delete(Paths.get(s"$root/data/chunk-000/episode_000004.parquet"))
    Seq("front", "wrist").foreach(cam => Files.delete(
      Paths.get(s"$root/videos/chunk-000/observation.images.$cam/episode_000004.mp4")))
    dataset(spark, root, Map(7L -> cleanFrames(7, 9)))
    cli.Main.run(spark, List("pipeline", root, outRoot, "--skip-video"))

    def episodeFiles(dir: String): Seq[String] = {
      val stream = Files.walk(Paths.get(dir))
      try stream.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("episode_")).toSeq.sorted
      finally stream.close()
    }
    assert(episodeFiles(s"$outRoot/normalized") ===
      Seq(0, 1, 7).map(e => f"episode_$e%06d.parquet"))
    assert(!episodeFiles(s"$outRoot/dataset").exists(_.startsWith("episode_000004.")))
    val indexed = spark.read.parquet(s"$outRoot/dataset/dataset_index.parquet")
      .select("episode_index").collect().map(_.getLong(0)).toSet
    assert(indexed === Set(0L, 1L, 7L))
  }

  test("pipeline without episodes_stats.jsonl: frame stats over the valid episodes only") {
    val root = tmpDir("e2e_frame_stats")
    val outRoot = s"$root/out"
    val episodes = Map(0L -> cleanFrames(0, 40), 1L -> cleanFrames(1, 30),
      2L -> Defects.wrongWidth(2, 35), 3L -> Defects.dupFrames(3, 35))
    dataset(spark, root, episodes, videosFor = episodes.keySet,
      metaLengths = episodes.map { case (e, f) => e -> f.size.toLong })
    cli.Main.run(spark, List("pipeline", root, outRoot, "--skip-video"))

    val statsText = io.SingleFile.readText(spark, s"$outRoot/global_stats.json").get
    val got = StatsDoc.parse(statsText).get
    val want = flatStats(Seq(0L, 1L).flatMap(episodes))
    assert((got.episodesUsed, got.totalFrames) === ((2L, 70L)))
    def close(a: Seq[Double], b: Seq[Double]): Boolean =
      a.size == b.size && a.zip(b).forall { case (x, y) => math.abs(x - y) <= 1e-9 * (1 + math.abs(y)) }
    Stats.DefaultFeatures.foreach { f =>
      val (g, w) = (got.features(f), want(f))
      assert(g.count === w.count, f)
      Seq(g.mean -> w.mean, g.std -> w.std, g.min -> w.min, g.max -> w.max).foreach {
        case (a, b) => assert(close(a, b), s"$f: $a vs $b")
      }
    }

    // the frames path's jobs: the valid-id list's one read, 3 for the
    // fold's pass over every feature (two shuffle-map jobs, the result)
    // and 3 for the histogram's; both passes filter on the ids read once
    val again = s"$outRoot/global_stats_again.json"
    val (_, jobs) = jobsOf(Stats.runFromFrames(spark, s"$root/data", again,
      Stats.DefaultFeatures, Some(s"$outRoot/validate/validated_episodes.jsonl")))
    assert(jobs === 7)
    assert(io.SingleFile.readText(spark, again).get === statsText)
  }

  test("an all-invalid corpus: no stats, one unnormalized file per episode, with or without episodes_stats.jsonl") {
    val episodes = Map(0L -> Defects.wrongWidth(0, 10), 1L -> Defects.dupFrames(1, 12),
      2L -> Defects.unsorted(2, 9))
    Seq(true, false).foreach { withJsonl =>
      val root = tmpDir("e2e_all_invalid")
      val outRoot = s"$root/out"
      dataset(spark, root, episodes, videosFor = episodes.keySet,
        metaLengths = episodes.map { case (e, f) => e -> f.size.toLong })
      if (withJsonl)
        Files.write(Paths.get(s"$root/meta/episodes_stats.jsonl"), statsJsonl(episodes).getBytes)
      cli.Main.run(spark, List("pipeline", root, outRoot, "--skip-video"))

      val gs = StatsDoc.parse(io.SingleFile.readText(spark, s"$outRoot/global_stats.json").get).get
      assert((gs.episodesUsed, gs.totalFrames) === ((0L, 0L)), s"jsonl=$withJsonl")
      assert(gs.features.isEmpty, s"jsonl=$withJsonl")
      // no stats, so align-transform writes every episode unnormalized:
      // the 7-wide episode's rows all drop, the others keep their clean
      // frames in frame order
      val norm = io.Episodes.readDataDir(spark, s"$outRoot/normalized")
      val actions = norm.orderBy(io.Episodes.SrcFileCol, "frame_index")
        .select(col(io.Episodes.EpIdxCol), col("action")).collect()
        .groupBy(_.getLong(0)).map { case (e, rs) => e -> rs.map(_.getSeq[Float](1)).toSeq }
      assert(io.Episodes.list(spark, s"$outRoot/normalized").uris.size === 3, s"jsonl=$withJsonl")
      assert(actions === Map(1L -> cleanFrames(1, 12).map(_.action),
        2L -> cleanFrames(2, 9).map(_.action)), s"jsonl=$withJsonl")
    }
  }

  /** Spark jobs per stage call under this suite's session (local[4], 4
    * shuffle partitions) on the golden corpus. Jobs are set by the plans,
    * not by timing, so a count that moves means a plan changed: an extra
    * action, a re-executed subplan or a schema-inference job. Episode
    * bookkeeping runs on the driver; the jobs are the frame and file
    * passes and the sinks:
    *  - discover: the manifest write's `repartition(1)` shuffle-map job
    *    (fingerprint pass, orphan rows, sort input), then the write job;
    *  - validate: the manifest rows' collect, the meta broadcast, the
    *    verdict aggregation's shuffle-map and result jobs, then the
    *    `episodes.parquet` write from the driver's rows;
    *  - stats: the valid-id list's collect, the fold's shuffle-map and
    *    result jobs;
    *  - align_transform: one shuffle-map job for its one `_src_file`
    *    exchange, then the write job;
    *  - materialize: the placement pass's collect, then the index write
    *    from its rows.
    */
  private val jobBudget = Map(
    "discover" -> 2, "validate" -> 5, "stats" -> 3,
    "align_transform" -> 2, "materialize" -> 2)

  test("stage calls: pinned job counts, one fingerprint pass, no cached table left") {
    val outRoot = s"$root/out_stages"
    val manifest = s"$outRoot/manifest/episodes.parquet"
    val validateOut = s"$outRoot/validate"
    val statsOut = s"$outRoot/global_stats.json"
    spark.catalog.clearCache()

    val executions = mutable.ArrayBuffer.empty[QueryExecution]
    val planRecorder = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        executions.synchronized(executions += qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val counted = mutable.LinkedHashMap.empty[String, Int]
    def stage[T](name: String)(body: => T): T = {
      val (out, jobs) = jobsOf(body)
      counted(name) = jobs
      assert(spark.sharedState.cacheManager.isEmpty, s"$name left a cached table behind")
      out
    }
    /** Discover fingerprint nodes in each parquet write's executed plan. */
    def fingerprintNodes(): Seq[Seq[MapPartitionsExec]] = executions.synchronized {
      executions.toSeq
        .filter(qe => find(qe.executedPlan)(_.isInstanceOf[DataWritingCommandExec]).isDefined)
        .map(qe => collect(qe.executedPlan) {
          case m: MapPartitionsExec if m.func.getClass.getName.startsWith("graft.stages.Discover") => m
        })
    }
    def fingerprintPasses(): Seq[Int] = fingerprintNodes().map(_.size)

    /** A plan and, recursively, the plans of the cached tables it reads. */
    def trees(p: SparkPlan): Seq[SparkPlan] =
      p +: collect(p) { case m: InMemoryTableScanExec => m }.flatMap(m => trees(m.relation.cachedPlan))
    /** The keys of each shuffle planned over the episode files of `dir`
      * (a hash key's column names; else the partitioning's name).
      */
    def shufflesOver(dir: String): Seq[Seq[String]] = executions.synchronized(executions.toSeq)
      .flatMap(qe => trees(qe.executedPlan)).distinct
      .filter(t => collect(t) { case s: FileSourceScanExec => s.relation.location.rootPaths }
        .flatten.exists(_.toString.contains(dir)))
      .flatMap(t => collect(t) { case e: ShuffleExchangeExec => e.outputPartitioning match {
        case h: HashPartitioning => h.expressions.flatMap(_.references.map(_.name))
        case o => Seq(o.getClass.getSimpleName)
      } })

    spark.listenerManager.register(planRecorder)
    try {
      val delta = stage("discover")(Discover.run(spark, root, manifest))
      assert(fingerprintPasses() === Seq(1), "the manifest write fingerprints each file once")
      // the fingerprint pass runs over the listed files as partitioned
      assert(fingerprintNodes().flatten.forall(m =>
        find(m)(_.isInstanceOf[ShuffleExchangeExec]).isEmpty), "an exchange feeds the fingerprint pass")
      executions.synchronized(executions.clear())
      val (total, ok, fail) = stage("validate")(Validate.run(spark, manifest, s"$root/meta",
        validateOut, Validate.Config(skipVideo = true)))
      // the groupBy reuses the order window's clustering
      assert(shufflesOver(s"$root/data").count(_ == Seq(io.Episodes.SrcFileCol)) === 1)
      val gs = stage("stats")(Stats.run(spark, s"$root/meta/episodes_stats.jsonl", statsOut,
        Stats.DefaultFeatures, Some(s"$validateOut/validated_episodes.jsonl")))
      executions.synchronized(executions.clear())
      val normalized = stage("align_transform")(AlignTransform.run(spark, s"$root/data",
        s"$outRoot/normalized", Some(statsOut)))
      // dedup, reindex and the writer share one clustering
      assert(shufflesOver(s"$root/data") === Seq(Seq(io.Episodes.SrcFileCol)))
      executions.synchronized(executions.clear())
      val index = stage("materialize")(Materialize.run(spark, s"$outRoot/normalized",
        s"$outRoot/dataset", Materialize.Config(videosRoot = Some(s"$root/videos"))))
      assert(counted.toMap === jobBudget)
      // materialize places the normalized files: it scans none of them
      val recorded = executions.synchronized(executions.toSeq)
      assert(recorded.exists(qe => find(qe.executedPlan)(_.isInstanceOf[DataWritingCommandExec]).isDefined),
        "the index write is recorded")
      val scans = recorded.flatMap(qe =>
        collect(qe.executedPlan) { case s: FileSourceScanExec => s.relation.location.rootPaths })
      assert(!scans.flatten.exists(_.toString.contains(s"$outRoot/normalized")), scans)

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
    }
  }
}
