package graft.stages

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.SerializableConfiguration
import graft.core.{Schemas, Status}
import graft.io.SingleFile
import graft.ops.Fingerprint

/** Stage 1 — Discover (reference steps/discover_refactored.py:79-170):
  * incremental filesystem scan → episode manifest with content fingerprints
  * and change statuses (the pipeline's CDC protocol, SURVEY §2.8 T1–T5).
  *
  * Spark shape (SURVEY §3.1): the reference's thread pool becomes executor
  * parallelism — a file-listing Dataset fingerprinted in `mapPartitions` —
  * and the relational tail (prev-manifest join, tombstone anti-join, orphan
  * anti-join, relaxed union, sort) is pure DataFrame logic with the small
  * previous manifest broadcast. At 100 TB / 10M episodes: listing is
  * driver-side metadata (cheap), fingerprinting is a bounded 128 KiB read
  * per file fanned across executors, and every join broadcasts the smaller
  * side.
  *
  * The fingerprint pass runs once per call: the anti-joins take their
  * (chunk, episode) keys from the file listing, not from the
  * fingerprinted rows, so the manifest write's plan holds a single
  * fingerprint `mapPartitions`. Nothing is cached; the returned delta is a
  * read of the manifest just written.
  */
object Discover {

  final case class Config(
      sinceNs: Option[Long] = None,
      fullHash: Boolean = false,
      onlyChunks: Option[Set[String]] = None,
      stabilityMinBytes: Long = Fingerprint.StabilityMinBytes,
      stabilityPauseMs: Long = Fingerprint.StabilityPauseMs)

  /** Camera dir names under the per-chunk videos dir (reference CAMERAS). */
  val Cameras: Seq[String] = Seq("observation.images.front", "observation.images.wrist")

  import graft.core.Models.EpisodeManifestRow

  private def utcNow(): String =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'")
      .format(java.time.ZonedDateTime.now(java.time.ZoneOffset.UTC))

  /** Driver-side listing (S12-S13): chunks + per-chunk episode parquets,
    * with the `--since` mtime predicate (P7) and `--only-chunks` subset (P8)
    * applied during listing (pushdown into the source).
    */
  def listEpisodes(spark: SparkSession, dataRoot: String, cfg: Config): Seq[(String, String)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new HPath(dataRoot)
    val fs = root.getFileSystem(conf)
    def glob(p: String) =
      Option(fs.globStatus(new HPath(p))).map(_.toSeq).getOrElse(Nil)
    val chunks = cfg.onlyChunks match {
      case Some(set) => set.toSeq.sorted
      case None => glob(s"$dataRoot/data/chunk-*")
        .filter(_.isDirectory).map(_.getPath.getName.stripPrefix("chunk-")).sorted
    }
    chunks.flatMap { chunk =>
      glob(s"$dataRoot/data/chunk-$chunk/episode_*.parquet")
        .filter(st => cfg.sinceNs.forall(s => st.getModificationTime * 1000000L >= s))
        .map(st => (chunk, st.getPath.toString)).sortBy(_._2)
    }
  }

  /** Distributed fingerprint pass (T7 → executor parallelism): for each
    * (chunk, parquet) compute the combined parquet+videos fingerprint,
    * existence flags, stability status.
    */
  def fingerprintEpisodes(spark: SparkSession, dataRoot: String,
      files: Seq[(String, String)], cfg: Config): DataFrame = {
    import spark.implicits._
    val hconf = new SerializableConfiguration(spark.sparkContext.hadoopConfiguration)
    val rootStr = dataRoot
    val nowStr = utcNow()
    val parts = math.max(1, math.min(files.size, spark.sparkContext.defaultParallelism * 2))
    spark.createDataset(files).repartition(parts).mapPartitions { it =>
      val conf = hconf.value
      it.map { case (chunk, pqUri) =>
        val pq = new HPath(pqUri)
        val fs = pq.getFileSystem(conf)
        episodeIndex(pqUri) match {
          case None =>
            EpisodeManifestRow(-1L, chunk, pqUri, null, null, exists_front = false,
              exists_wrist = false, 0L, null, Fingerprint.Algo, nowStr,
              Status.Error, """{"reason": "bad_episode_name"}""")
          case Some(idx) =>
            val vFront = new HPath(f"$rootStr/videos/chunk-$chunk/${Cameras(0)}/episode_$idx%06d.mp4")
            val vWrist = new HPath(f"$rootStr/videos/chunk-$chunk/${Cameras(1)}/episode_$idx%06d.mp4")
            val existsFront = fs.exists(vFront)
            val existsWrist = fs.exists(vWrist)
            val present = Seq(pq) ++ (if (existsFront) Seq(vFront) else Nil) ++
              (if (existsWrist) Seq(vWrist) else Nil)
            val pending = present.exists(p =>
              !Fingerprint.stableCheck(fs, p, cfg.stabilityMinBytes, cfg.stabilityPauseMs))
            var fp: String = null
            var bytesTotal = 0L
            var err: String = null
            var isPending = pending
            try {
              val partMap = Map("parquet" -> Fingerprint.quickFingerprint(fs, pq, cfg.fullHash)) ++
                (if (existsFront) Map(Cameras(0) -> Fingerprint.quickFingerprint(fs, vFront, cfg.fullHash)) else Map.empty) ++
                (if (existsWrist) Map(Cameras(1) -> Fingerprint.quickFingerprint(fs, vWrist, cfg.fullHash)) else Map.empty)
              fp = Fingerprint.combine(partMap)
              bytesTotal = partMap.values.map(_.size).sum
            } catch {
              case e: Exception =>
                fp = null; bytesTotal = 0L; isPending = false
                err = s"""{"exception": "${e.getClass.getSimpleName}", "msg": ${jsonStr(e.getMessage)}}"""
            }
            val status0 = if (isPending) Status.Pending else Status.New
            val status =
              if ((!existsFront || !existsWrist) && status0 == Status.New) Status.MissingSide
              else status0
            EpisodeManifestRow(idx, chunk, pqUri,
              if (existsFront) vFront.toString else null,
              if (existsWrist) vWrist.toString else null,
              existsFront, existsWrist, bytesTotal, fp, Fingerprint.Algo,
              nowStr, status, err)
        }
      }
    }.toDF()
  }

  /** Episode index parsed from an `episode_<n>.parquet` file name. */
  private def episodeIndex(uri: String): Option[Long] =
    "episode_(\\d+)\\.parquet".r.findFirstMatchIn(new HPath(uri).getName).map(_.group(1).toLong)

  private def jsonStr(s: String): String =
    if (s == null) "null"
    else "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Orphan-video detection (J3): videos whose (chunk, episode) has no
    * parquet — a distributed anti-join replacing the reference's Python
    * set + nested loop (discover_refactored.py:138-157).
    */
  def orphanVideos(spark: SparkSession, dataRoot: String, chunks: Seq[String],
      parquetKeys: DataFrame): DataFrame = {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new HPath(dataRoot).getFileSystem(conf)
    val vids = chunks.flatMap { chunk =>
      Cameras.flatMap { cam =>
        Option(fs.globStatus(new HPath(s"$dataRoot/videos/chunk-$chunk/$cam/episode_*.mp4")))
          .map(_.toSeq).getOrElse(Nil)
          .flatMap { st =>
            "episode_(\\d+)\\.mp4".r.findFirstMatchIn(st.getPath.getName)
              .map(m => (chunk, m.group(1).toLong, cam, st.getPath.toString, st.getLen))
          }
      }
    }
    val nowStr = utcNow()
    val vidDf = vids.toDF("chunk", "episode_index", "cam", "uri", "bytes")
    vidDf.join(parquetKeys, Seq("chunk", "episode_index"), "left_anti")
      .select(
        col("episode_index"), col("chunk"),
        lit(null).cast("string").as("parquet_uri"),
        when(col("cam") === Cameras(0), col("uri")).otherwise(lit(null)).as("video_front_uri"),
        when(col("cam") === Cameras(1), col("uri")).otherwise(lit(null)).as("video_wrist_uri"),
        (col("cam") === Cameras(0)).as("exists_front"),
        (col("cam") === Cameras(1)).as("exists_wrist"),
        col("bytes").as("bytes_total"),
        lit(null).cast("string").as("fingerprint"),
        lit(Fingerprint.Algo).as("fingerprint_algo"),
        lit(nowStr).as("discovered_at"),
        lit(Status.OrphanVideo).as("status"),
        lit(null).cast("string").as("errors"))
  }

  /** Full incremental discover: fingerprint current files, reclassify
    * against the previous manifest (J1: UNCHANGED/ERROR), synthesize
    * DELETED tombstones (J2), append orphan videos, union + sort, write the
    * manifest atomically (S3), and return the delta (non-UNCHANGED rows,
    * T5). The delta reads the written manifest, so it is valid until the
    * next run replaces that file.
    */
  def run(spark: SparkSession, dataRoot: String, manifestOut: String,
      cfg: Config = Config()): DataFrame = {
    val prevOpt: Option[DataFrame] = {
      SingleFile.recoverAtomic(spark, manifestOut) // heal a crashed replace
      val p = new HPath(manifestOut)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) Some(spark.read.schema(Schemas.manifestSchema).parquet(manifestOut))
      else None
    }

    val files = listEpisodes(spark, dataRoot, cfg)
    val chunks = {
      val fromFiles = files.map(_._1).distinct
      cfg.onlyChunks.map(_.toSeq.sorted).getOrElse {
        val conf = spark.sparkContext.hadoopConfiguration
        val fs = new HPath(dataRoot).getFileSystem(conf)
        Option(fs.globStatus(new HPath(s"$dataRoot/data/chunk-*")))
          .map(_.toSeq.filter(_.isDirectory).map(_.getPath.getName.stripPrefix("chunk-")))
          .getOrElse(fromFiles).sorted
      }
    }

    var cur = fingerprintEpisodes(spark, dataRoot, files, cfg)
    // the (chunk, episode) key of every fingerprinted row (-1 for a bad
    // file name, as fingerprintEpisodes emits it), built from the listing
    // so the anti-joins below do not re-run the fingerprint pass
    val curKeys = {
      import spark.implicits._
      files.map { case (chunk, uri) => (chunk, episodeIndex(uri).getOrElse(-1L)) }.distinct
        .toDF("chunk", "episode_index")
    }

    // J1: reclassify vs previous manifest fingerprints (broadcast — the
    // previous manifest is one row per episode, small relative to data)
    prevOpt.foreach { prev =>
      val prevFp = broadcast(prev.select(col("chunk"), col("episode_index"),
        col("fingerprint").as("_fp_prev")))
      cur = cur.join(prevFp, Seq("chunk", "episode_index"), "left")
        .withColumn("status",
          when(col("fingerprint").isNull, Status.Error)
            .when(col("fingerprint") === col("_fp_prev"), Status.Unchanged)
            .otherwise(col("status")))
        .drop("_fp_prev")
    }

    // J2: DELETED tombstones for vanished episodes
    val tombstones = prevOpt.map { prev =>
      val nowStr = utcNow()
      prev.select("chunk", "episode_index").dropDuplicates("chunk", "episode_index")
        .join(curKeys, Seq("chunk", "episode_index"), "left_anti")
        .select(
          col("episode_index"), col("chunk"),
          lit(null).cast("string").as("parquet_uri"),
          lit(null).cast("string").as("video_front_uri"),
          lit(null).cast("string").as("video_wrist_uri"),
          lit(false).as("exists_front"), lit(false).as("exists_wrist"),
          lit(0L).as("bytes_total"),
          lit(null).cast("string").as("fingerprint"),
          lit(Fingerprint.Algo).as("fingerprint_algo"),
          lit(nowStr).as("discovered_at"),
          lit(Status.Deleted).as("status"),
          lit(null).cast("string").as("errors"))
    }

    val orphans = orphanVideos(spark, dataRoot, chunks, curKeys)

    // U1: relaxed union — schemas are pre-aligned so by-name union suffices
    val ordered = Schemas.manifestSchema.fieldNames.map(col).toSeq
    var all = cur.select(ordered: _*)
    tombstones.foreach(t => all = all.unionByName(t.select(ordered: _*)))
    all = all.unionByName(orphans.select(ordered: _*))
    // one sorted partition for the single-file manifest: no range sampling
    SingleFile.writeParquetAtomic(
      all.repartition(1).sortWithinPartitions("chunk", "episode_index"), manifestOut)

    spark.read.schema(Schemas.manifestSchema).parquet(manifestOut)
      .filter(col("status") =!= Status.Unchanged)
  }
}
