package graft.stages

import java.net.URI
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import graft.core.{Json, Schemas, Status}
import graft.core.Models.Issue
import graft.io.{Episodes, ParallelFs, SingleFile}

/** Stage 2 — Validate (reference validate/validate_one.py:63-147 +
  * steps/validate_from_manifest_refactored.py:24-114).
  *
  * The reference validates episodes one-by-one in a serial driver loop —
  * its scalability ceiling. Spark-native shape: ONE scan over every episode
  * parquet computes all per-episode checks in a single aggregation pass
  * (A1–A5), then a broadcast join against episode metadata adds the
  * rows-vs-meta check (J4), and a `when(...)` stack assembles the verdict
  * and typed issues array. 10k or 10M episodes is the same plan.
  *
  * Episode bookkeeping stays on the driver, frames on the executors: the
  * actionable manifest rows are collected once (the scan needs their
  * paths anyway), their files are checked for existence on the driver,
  * and the one frame pass (the aggregation) returns one verdict row per
  * file. Each verdict is matched to its manifest row by qualified Hadoop
  * path, sorted, and the four sinks are written from those rows: the
  * parquet in one job, the JSONL and the summary as text. Driver memory
  * is O(actionable episodes), one manifest row and one verdict row each;
  * no frame reaches the driver, and nothing is cached.
  *
  * Issue kinds mirror validate_one.py:
  *   frame_index_start, frame_index_not_sorted, timestamp_not_sorted,
  *   nulls_in_required_columns, episode_index_mismatch, action_width,
  *   state_width, rows_vs_meta, {front,wrist}_video_missing,
  *   {front,wrist}_fps, {front,wrist}_frames_vs_rows, parquet_missing.
  */
object Validate {

  final case class Config(
      fpsExpected: Double = 30.0,
      frameTolerance: Int = 2,
      skipVideo: Boolean = true)

  import Schemas._

  /** Per-episode validation aggregates over a raw episode frame
    * ([[Episodes.readRaw]] output). One window pass (for order checks) +
    * one groupBy — all episodes in one job.
    */
  def episodeAggregates(raw: DataFrame): DataFrame = {
    val src = col(Episodes.SrcFileCol)
    val ord = col(Episodes.OrdCol)
    val obs = col(s"`$ObsStateStorage`")
    val w = Window.partitionBy(src).orderBy(ord)

    val withLags = raw
      .withColumn("_frame_ok",
        coalesce(col("frame_index") > lag("frame_index", 1).over(w), lit(true)))
      .withColumn("_ts_ok",
        coalesce(col("timestamp") >= lag("timestamp", 1).over(w), lit(true)))
      .withColumn("_has_null",
        RequiredEpisodeCols.map(c => col(s"`$c`").isNull).reduce(_ || _))

    withLags.groupBy(src.as("src_file"))
      .agg(
        first(col(Episodes.EpIdxCol)).as("ep_idx_name"),
        first(col(Episodes.ChunkCol)).as("chunk"),
        count(lit(1)).as("rows"),
        min("frame_index").as("frame_min"),
        max("frame_index").as("frame_max"),
        min(when(col("_frame_ok"), 1).otherwise(0)).as("frame_sorted_i"),
        min(when(col("_ts_ok"), 1).otherwise(0)).as("ts_sorted_i"),
        max(when(col("_has_null"), 1).otherwise(0)).as("has_nulls_i"),
        min_by(col("episode_index"), ord).as("ep_first"),
        max_by(col("episode_index"), ord).as("ep_last"),
        max(size(col("action"))).as("action_w_max"),
        max(size(obs)).as("state_w_max"))
  }

  /** Assemble verdicts: aggregates ⋈ broadcast(meta) → ok + issues array.
    * `meta` must have (episode_index, length); pass an empty frame when
    * `episodes.jsonl` is absent.
    */
  def verdicts(aggs: DataFrame, meta: DataFrame, cfg: Config): DataFrame = {
    val joined = aggs.join(
      broadcast(meta.select(col("episode_index").as("_meta_ep"), col("length").as("expected_rows_meta"))),
      aggs("ep_idx_name") === col("_meta_ep"), "left")

    def issue(cond: Column, kind: String, detail: Column): Column =
      when(cond, struct(lit(kind).as("kind"), detail.cast("string").as("detail")))

    val issues = array(
      issue(col("frame_min") =!= 0, "frame_index_start", col("frame_min")),
      issue(col("frame_sorted_i") === 0, "frame_index_not_sorted", lit(true)),
      issue(col("ts_sorted_i") === 0, "timestamp_not_sorted", lit(true)),
      issue(col("has_nulls_i") === 1, "nulls_in_required_columns", lit(true)),
      issue(col("ep_first") =!= col("ep_idx_name") || col("ep_last") =!= col("ep_idx_name"),
        "episode_index_mismatch",
        concat_ws(",", col("ep_first"), col("ep_last"), col("ep_idx_name"))),
      issue(coalesce(col("action_w_max"), lit(0)) =!= ListWidth,
        "action_width", coalesce(col("action_w_max"), lit(-1))),
      issue(coalesce(col("state_w_max"), lit(0)) =!= ListWidth,
        "state_width", coalesce(col("state_w_max"), lit(-1))),
      issue(col("expected_rows_meta").isNotNull &&
          abs(col("expected_rows_meta") - col("rows")) > cfg.frameTolerance,
        "rows_vs_meta",
        concat_ws(",", col("expected_rows_meta"), col("rows"))))

    joined
      .withColumn("issues", filter(issues, x => x.isNotNull))
      .withColumn("ok", size(col("issues")) === 0)
      .withColumn("episode_index", col("ep_idx_name"))
      .drop("_meta_ep", "ep_idx_name")
  }

  /** One actionable manifest row. */
  private final case class Entry(episode: java.lang.Long, chunk: String, parquetUri: String,
      videoFront: String, videoWrist: String)

  /** One row of the verdict table: a manifest row's verdict, or its
    * `parquet_missing` row. `episode` is the verdict's own (parsed from
    * the file name), the manifest's for a missing parquet.
    */
  private final case class Checked(episode: java.lang.Long, e: Entry, rows: java.lang.Long,
      frameMin: java.lang.Long, frameMax: java.lang.Long, expectedRows: java.lang.Long,
      issues: Seq[Issue]) {
    def ok: Boolean = issues.isEmpty
    /** The columns before `issues`, named and ordered as in [[ResultSchema]]. */
    def columns: Seq[(String, Any)] = ResultSchema.fieldNames.toSeq.zip(Seq(
      episode, e.chunk, e.parquetUri, e.videoFront, e.videoWrist, ok,
      rows, frameMin, frameMax, expectedRows))
  }

  /** An issue list as Spark's `to_json` renders it. */
  private[graft] def issuesJson(issues: Seq[Issue]): String =
    issues.map(i => Json.obj(Seq("kind" -> i.kind, "detail" -> i.detail))).mkString("[", ",", "]")

  /** `episodes.parquet`'s schema (the sinks' columns, in order). */
  val ResultSchema: StructType = StructType(Seq(
    StructField("episode_index", LongType),
    StructField("chunk", StringType),
    StructField("parquet_uri", StringType),
    StructField("video_front_uri", StringType),
    StructField("video_wrist_uri", StringType),
    StructField("ok", BooleanType, nullable = false),
    StructField("rows", LongType),
    StructField("frame_min", LongType),
    StructField("frame_max", LongType),
    StructField("expected_rows_meta", LongType),
    StructField("issues", ArrayType(StructType(Seq(
      StructField("kind", StringType, nullable = false),
      StructField("detail", StringType)))), nullable = false)))

  /** Full stage from a discover manifest: filter ACTIONABLE statuses (P6),
    * validate the referenced parquets, mark missing parquets, write the four
    * sink files (parquet, failures.jsonl, validated_episodes.jsonl,
    * summary.yaml). Returns (total, ok, fail). Leaves no cached table
    * behind, so a later call in the same session sees the manifest as it
    * is then.
    */
  def run(spark: SparkSession, manifestPath: String, metaDir: String,
      outDir: String, cfg: Config = Config()): (Long, Long, Long) = {
    val conf = spark.sparkContext.hadoopConfiguration
    def qualified(p: Path): Path = p.getFileSystem(conf).makeQualified(p)
    def long(r: Row, i: Int): java.lang.Long = if (r.isNullAt(i)) null else r.getLong(i)

    val entries = spark.read.schema(manifestSchema).parquet(manifestPath)
      .filter(col("status").isin(Status.Actionable: _*))
      .select("episode_index", "chunk", "parquet_uri", "video_front_uri", "video_wrist_uri")
      .collect().toSeq
      .map(r => Entry(long(r, 0), r.getString(1), r.getString(2), r.getString(3), r.getString(4)))
    val (present, missing) = entries.zip(ParallelFs.mapParallel(entries)(e =>
        Option(e.parquetUri).map(u => new Path(u)).exists(p => p.getFileSystem(conf).exists(p))))
      .partitionMap { case (e, exists) => if (exists) Left(e) else Right(e) }

    // the delta's files, read as an explicit list: the scan's file index
    // holds one entry per file whichever way the paths are given
    val readPaths = present.map(_.parquetUri).distinct.sorted
    // each verdict keyed by its file's qualified path: `src_file` is a
    // percent-encoded URI, a manifest URI a raw Hadoop path string
    val verdictOf: Map[Path, Row] =
      if (readPaths.isEmpty) Map.empty
      else verdicts(episodeAggregates(Episodes.readRaw(spark, readPaths)),
          loadEpisodesMeta(spark, s"$metaDir/episodes.jsonl"), cfg)
        .select("src_file", "episode_index", "rows", "frame_min", "frame_max",
          "expected_rows_meta", "issues")
        .collect().map(r => qualified(new Path(new URI(r.getString(0)))) -> r).toMap
    val presentPaths = present.map(e => e -> qualified(new Path(e.parquetUri)))
    val unmatched = verdictOf.keySet -- presentPaths.map(_._2)
    if (unmatched.nonEmpty)
      throw new IllegalStateException(
        s"validate: verdicts for files the manifest does not list: ${unmatched.mkString(", ")}")

    val checked = presentPaths.map { case (e, p) =>
      val r = verdictOf.getOrElse(p, throw new IllegalStateException(
        s"validate: ${e.parquetUri} has no frames, so no verdict"))
      Checked(long(r, 1), e, long(r, 2), long(r, 3), long(r, 4), long(r, 5),
        r.getSeq[Row](6).map(i => Issue(i.getString(0), i.getString(1))))
    } ++ missing.map(e => // validate_from_manifest:55-69
      Checked(e.episode, e, null, null, null, null,
        Seq(Issue("parquet_missing", Option(e.parquetUri).getOrElse("null")))))

    val results = (if (cfg.skipVideo) checked else addVideoChecks(spark, checked, cfg))
      .sortBy(c => (Option(c.episode).map(_.longValue), Option(c.e.chunk), Option(c.e.parquetUri)))

    SingleFile.writeParquetAtomic(spark.createDataFrame(results.map(c => Row.fromSeq(
        c.columns.map(_._2) :+ c.issues.map(i => Row(i.kind, i.detail)))).asJava, ResultSchema),
      s"$outDir/episodes.parquet")
    // the JSONL sinks as Spark's JSON writer renders them, `issues` as its
    // `to_json` string
    val (ok, failed) = results.partition(_.ok)
    SingleFile.writeText(spark, s"$outDir/failures.jsonl", Json.lines(failed.map(c =>
      c.columns :+ ("issues" -> issuesJson(c.issues)))))
    SingleFile.writeText(spark, s"$outDir/validated_episodes.jsonl", Json.lines(ok.map { c =>
      val byName = c.columns.toMap
      Seq("episode_index", "rows", "chunk", "parquet_uri", "video_front_uri", "video_wrist_uri")
        .map(k => k -> byName(k))
    }))

    val (total, okN) = (results.size.toLong, ok.size.toLong)
    SingleFile.writeText(spark, s"$outDir/summary.yaml",
      s"total: $total\nok: $okN\nfail: ${total - okN}\n")
    (total, okN, total - okN)
  }

  /** Video checks (validate_one.py:124-137): per camera, ffprobe the
    * manifest's video URI in one executor-side pass over the rows (S17).
    * Missing/unreadable video → `<cam>_video_missing`; fps outside ±1.0
    * of expected → `<cam>_fps`; frame count vs table rows beyond tolerance
    * → `<cam>_frames_vs_rows`. A probe failure (including no ffprobe
    * binary on the executor) degrades to the missing issue, never a crash.
    */
  private def addVideoChecks(spark: SparkSession, results: Seq[Checked], cfg: Config): Seq[Checked] = {
    import graft.ops.Probe
    val fpsExpected = cfg.fpsExpected
    val tol = cfg.frameTolerance
    val inputs = results.map(c => (c.e.videoFront, c.e.videoWrist, Option(c.rows).map(_.longValue)))
    val parts = math.max(1, math.min(inputs.size, spark.sparkContext.defaultParallelism))
    val videoIssues = spark.sparkContext.parallelize(inputs, parts).mapPartitions { it =>
      // ONE persistent probe worker per partition (spawn cost amortized
      // across the partition's files; one ffprobe invocation per file
      // still — see Probe.Worker). Closed on task completion, success or
      // failure, so no subprocess outlives its task.
      val worker = new Probe.Worker()
      Option(org.apache.spark.TaskContext.get())
        .foreach(_.addTaskCompletionListener[Unit](_ => worker.close()))
      it.map { case (vf, vw, rowsOpt) =>
        Seq(("front", vf), ("wrist", vw)).flatMap { case (cam, uri) =>
          Option(uri).flatMap(worker.probe) match {
            case None =>
              Seq(Issue(s"${cam}_video_missing", Option(uri).getOrElse("null")))
            case Some(m) =>
              val fpsIssue = Probe.effectiveFps(m)
                .filter(f => math.abs(f - fpsExpected) > 1.0)
                .map(f => Issue(s"${cam}_fps", f.toString))
              val framesIssue = (m.nbFrames, rowsOpt) match {
                case (Some(nb), Some(rows)) if math.abs(nb - rows) > tol =>
                  Some(Issue(s"${cam}_frames_vs_rows", s"$nb,$rows"))
                case _ => None
              }
              fpsIssue.toSeq ++ framesIssue.toSeq
          }
        }
      }
    }.collect()
    results.zip(videoIssues).map { case (c, v) => c.copy(issues = c.issues ++ v) }
  }

  /** `meta/episodes.jsonl` with declared schema (S5); empty frame when the
    * file is absent.
    */
  def loadEpisodesMeta(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) spark.read.schema(episodesMetaSchema).json(path)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], episodesMetaSchema)
  }
}
