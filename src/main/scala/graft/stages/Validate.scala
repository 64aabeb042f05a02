package graft.stages

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.{Schemas, Status}
import graft.io.{Episodes, SingleFile}

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
  * Each piece of work runs once per call: the manifest is read with its
  * declared schema (no inference job), the verdict aggregation is
  * executed only by the sink writes, and the summary counts ride the
  * `episodes.parquet` write as an `Observation`. The two tables read more
  * than once (the existence-checked manifest and the sorted results) are
  * cached for the call and released before it returns.
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

  /** Full stage from a discover manifest: filter ACTIONABLE statuses (P6),
    * validate the referenced parquets, mark missing parquets, write the four
    * sink files (parquet, failures.jsonl, validated_episodes.jsonl,
    * summary.yaml). Returns (total, ok, fail). Leaves no cached table
    * behind, so a later call in the same session sees the manifest as it
    * is then.
    */
  def run(spark: SparkSession, manifestPath: String, metaDir: String,
      outDir: String, cfg: Config = Config()): (Long, Long, Long) = {
    import spark.implicits._

    val manifest = spark.read.schema(manifestSchema).parquet(manifestPath)
      .filter(col("status").isin(Status.Actionable: _*))
      .select("episode_index", "chunk", "parquet_uri", "video_front_uri", "video_wrist_uri")

    val meta = loadEpisodesMeta(spark, s"$metaDir/episodes.jsonl")

    // existence check distributed over the manifest (S14-style mapPartitions)
    val hconf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val withExists = manifest.mapPartitions { it =>
      val conf = hconf.value
      it.map { r =>
        val uri = Option(r.getAs[String]("parquet_uri"))
        val exists = uri.exists { u =>
          val p = new org.apache.hadoop.fs.Path(u)
          p.getFileSystem(conf).exists(p)
        }
        (r.getAs[Long]("episode_index"), r.getAs[String]("chunk"),
          uri.orNull, r.getAs[String]("video_front_uri"),
          r.getAs[String]("video_wrist_uri"), exists)
      }
    }.toDF("episode_index", "chunk", "parquet_uri",
        "video_front_uri", "video_wrist_uri", "parquet_exists").cache()

    val present = withExists.filter(col("parquet_exists"))
    // the delta's files, read as an explicit list: the scan's file index
    // holds one entry per file whichever way the paths are given
    val readPaths = present.select("parquet_uri").as[String].collect().toSeq.sorted

    // `input_file_name()` is a scheme-qualified, percent-ENCODED URI;
    // manifest URIs (Hadoop Path.toString) keep raw chars and may lack the
    // scheme. Normalize both sides: strip scheme, then percent-decode
    // (decoding a string without '%' escapes is the identity).
    def normUri(c: Column): Column = {
      val stripped = regexp_replace(c, "^file:/+", "/")
      coalesce(try_url_decode(stripped), stripped)
    }

    // missing-parquet short-circuit rows (validate_from_manifest:55-69)
    val missing = withExists.filter(!col("parquet_exists"))
      .select(
        col("episode_index"), col("chunk"), col("parquet_uri"),
        col("video_front_uri"), col("video_wrist_uri"),
        lit(false).as("ok"), lit(null).cast("long").as("rows"),
        lit(null).cast("long").as("frame_min"), lit(null).cast("long").as("frame_max"),
        lit(null).cast("long").as("expected_rows_meta"),
        array(struct(lit("parquet_missing").as("kind"),
          coalesce(col("parquet_uri"), lit("null")).as("detail"))).as("issues"))

    val combined =
      if (readPaths.isEmpty) missing
      else {
        val aggs = episodeAggregates(Episodes.readRaw(spark, readPaths))
        verdicts(aggs, meta, cfg)
          .join(present.select(col("parquet_uri").as("src_uri"), col("chunk").as("m_chunk"),
              col("video_front_uri"), col("video_wrist_uri")),
            normUri(col("src_file")) === normUri(col("src_uri")), "inner")
          .select(
            col("episode_index"), col("m_chunk").as("chunk"),
            col("src_uri").as("parquet_uri"),
            col("video_front_uri"), col("video_wrist_uri"),
            col("ok"), col("rows"), col("frame_min"), col("frame_max"),
            col("expected_rows_meta"), col("issues"))
          .unionByName(missing)
      }

    // one sorted partition: one part file per sink, no range sampling
    val results = (if (cfg.skipVideo) combined else addVideoChecks(spark, combined, cfg))
      .repartition(1).sortWithinPartitions("episode_index").cache()

    // the summary counts ride the first sink write
    val counts = Observation()
    SingleFile.writeParquetAtomic(
      results.observe(counts, count(lit(1)).as("total"), count_if(col("ok")).as("ok")),
      s"$outDir/episodes.parquet")
    SingleFile.writeJsonl(
      results.filter(!col("ok")).withColumn("issues", to_json(col("issues"))),
      s"$outDir/failures.jsonl")
    SingleFile.writeJsonl(
      results.filter(col("ok")).select(
        "episode_index", "rows", "chunk", "parquet_uri",
        "video_front_uri", "video_wrist_uri"),
      s"$outDir/validated_episodes.jsonl")

    results.unpersist()
    withExists.unpersist()
    val Seq(total, okN) = Observed.longs(counts, "total", "ok")
    SingleFile.writeText(spark, s"$outDir/summary.yaml",
      s"total: $total\nok: $okN\nfail: ${total - okN}\n")
    (total, okN, total - okN)
  }

  /** Video checks (validate_one.py:124-137): per camera, ffprobe the
    * manifest's video URI inside `mapPartitions` (S17). Missing/unreadable
    * video → `<cam>_video_missing`; fps outside ±1.0 of expected →
    * `<cam>_fps`; frame count vs table rows beyond tolerance →
    * `<cam>_frames_vs_rows`. A probe failure (including no ffprobe binary
    * on the executor) degrades to the missing issue, never a crash.
    */
  def addVideoChecks(spark: SparkSession, results: DataFrame, cfg: Config): DataFrame = {
    import spark.implicits._
    import graft.ops.Probe
    val fpsExpected = cfg.fpsExpected
    val tol = cfg.frameTolerance
    val probed = results
      .select(col("episode_index"), col("video_front_uri"), col("video_wrist_uri"), col("rows"))
      .as[(Long, Option[String], Option[String], Option[Long])]
      .mapPartitions { it =>
        // ONE persistent probe worker per partition (spawn cost amortized
        // across the partition's files; one ffprobe invocation per file
        // still — see Probe.Worker). Closed on task completion, success or
        // failure, so no subprocess outlives its task.
        val worker = new Probe.Worker()
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => worker.close()))
        it.map { case (ep, vf, vw, rowsOpt) =>
          val issues = Seq(("front", vf), ("wrist", vw)).flatMap { case (cam, uriOpt) =>
            val meta = uriOpt.flatMap(worker.probe)
            meta match {
              case None =>
                Seq((s"${cam}_video_missing", uriOpt.getOrElse("null")))
              case Some(m) =>
                val fpsIssue = Probe.effectiveFps(m)
                  .filter(f => math.abs(f - fpsExpected) > 1.0)
                  .map(f => (s"${cam}_fps", f.toString))
                val framesIssue = (m.nbFrames, rowsOpt) match {
                  case (Some(nb), Some(rows)) if math.abs(nb - rows) > tol =>
                    Some((s"${cam}_frames_vs_rows", s"$nb,$rows"))
                  case _ => None
                }
                fpsIssue.toSeq ++ framesIssue.toSeq
            }
          }
          (ep, issues)
        }
      }.toDF("episode_index", "_video_issues")
      .withColumn("_video_issues",
        expr("transform(_video_issues, x -> struct(x._1 AS kind, x._2 AS detail))"))
    results.join(probed, Seq("episode_index"), "left")
      .withColumn("issues", concat(col("issues"), col("_video_issues")))
      .withColumn("ok", size(col("issues")) === 0)
      .drop("_video_issues")
  }

  /** `meta/episodes.jsonl` with declared schema (S5); empty frame when the
    * file is absent.
    */
  def loadEpisodesMeta(spark: SparkSession, path: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) spark.read.schema(episodesMetaSchema).json(path)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], episodesMetaSchema)
  }
}
