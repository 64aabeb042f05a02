package graft.stages

import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration
import graft.core.{Json, Schemas, Status}
import graft.io.{Episodes, SingleFile}
import graft.io.Episodes.Cameras
import graft.ops.Fingerprint

/** Stage 1 — Discover (reference steps/discover_refactored.py:79-170):
  * incremental filesystem scan → episode manifest with content fingerprints
  * and change statuses (the pipeline's CDC protocol, SURVEY §2.8 T1–T5).
  *
  * Spark shape (SURVEY §3.1): the reference's thread pool becomes executor
  * parallelism — a file-listing Dataset fingerprinted in `mapPartitions` —
  * and the relational tail (prev-manifest join, tombstone anti-join,
  * relaxed union, sort) is pure DataFrame logic with the small previous
  * manifest broadcast. At 100 TB / 10M episodes: listing is
  * driver-side metadata (cheap), fingerprinting is a bounded 128 KiB read
  * per file fanned across executors, and every join broadcasts the smaller
  * side.
  *
  * Episode bookkeeping stays on the driver, file passes on the
  * executors: the two listings are local, the fingerprint pass runs
  * once, over the listed files as they are partitioned (no exchange),
  * and orphan videos are the set difference of the listings, so the
  * manifest write's plan holds a single fingerprint `mapPartitions` and
  * only the tombstone join reads the previous manifest. Driver memory is
  * O(listed files), as the listing already is. Nothing is cached; the
  * returned delta is a read of the manifest just written.
  */
object Discover {

  final case class Config(
      sinceNs: Option[Long] = None,
      fullHash: Boolean = false,
      onlyChunks: Option[Set[String]] = None,
      stabilityMinBytes: Long = Fingerprint.StabilityMinBytes,
      stabilityPauseMs: Long = Fingerprint.StabilityPauseMs)

  /** The manifest as written: every column nullable but the episode
    * index and the byte total, whichever row kinds a run holds.
    */
  private val WrittenSchema = StructType(Schemas.manifestSchema.map(f =>
    f.copy(nullable = !Set("episode_index", "bytes_total")(f.name))))

  private def utcNow(): String =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'")
      .format(java.time.ZonedDateTime.now(java.time.ZoneOffset.UTC))

  /** Distributed fingerprint pass (T7 → executor parallelism): for each
    * (chunk, parquet) compute the combined parquet+videos fingerprint,
    * existence flags, stability status.
    */
  def fingerprintEpisodes(spark: SparkSession, dataRoot: String,
      files: Seq[(String, String)], cfg: Config): DataFrame = {
    import spark.implicits._
    val hconf = new SerializableConfiguration(spark.sparkContext.hadoopConfiguration)
    val videosRoot = s"$dataRoot/videos"
    val nowStr = utcNow()
    val parts = math.max(1, math.min(files.size, spark.sparkContext.defaultParallelism * 2))
    spark.createDataset(spark.sparkContext.parallelize(files, parts)).mapPartitions { it =>
      val conf = hconf.value
      it.map { case (chunk, pqUri) =>
        val pq = new HPath(pqUri)
        val fs = pq.getFileSystem(conf)
        Episodes.indexOf(pqUri) match {
          case None =>
            Row(-1L, chunk, pqUri, null, null, false, false, 0L, null, Fingerprint.Algo,
              nowStr, Status.Error, """{"reason": "bad_episode_name"}""")
          case Some(idx) =>
            val Seq(vFront, vWrist) =
              Cameras.map(cam => new HPath(Episodes.videoPath(videosRoot, chunk, cam, idx)))
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
                err = s"""{"exception": "${e.getClass.getSimpleName}", "msg": ${Json.quote(e.getMessage)}}"""
            }
            val status0 = if (isPending) Status.Pending else Status.New
            val status =
              if ((!existsFront || !existsWrist) && status0 == Status.New) Status.MissingSide
              else status0
            Row(idx, chunk, pqUri,
              if (existsFront) vFront.toString else null,
              if (existsWrist) vWrist.toString else null,
              existsFront, existsWrist, bytesTotal, fp, Fingerprint.Algo,
              nowStr, status, err)
        }
      }
    }(Encoders.row(WrittenSchema))
  }

  /** Orphan-video detection (J3): videos whose (chunk, episode) has no
    * listed parquet, the set difference of the two driver-side listings
    * (the reference's Python set, discover_refactored.py:138-157).
    */
  def orphanVideos(spark: SparkSession, dataRoot: String, chunks: Seq[String],
      parquetKeys: Set[(String, Long)]): DataFrame = {
    val nowStr = utcNow()
    val rows = Episodes.listVideos(spark, s"$dataRoot/videos", chunks).collect {
      case (chunk, idx, cam, uri, bytes) if !parquetKeys((chunk, idx)) =>
        val front = cam == Cameras(0)
        Row(idx, chunk, null, if (front) uri else null, if (front) null else uri,
          front, !front, bytes, null, Fingerprint.Algo, nowStr, Status.OrphanVideo, null)
    }
    spark.createDataFrame(rows.asJava, WrittenSchema)
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

    val Episodes.Listing(chunks, files) =
      Episodes.list(spark, s"$dataRoot/data", cfg.sinceNs, cfg.onlyChunks)

    var cur = fingerprintEpisodes(spark, dataRoot, files, cfg)
    // the (chunk, episode) key of every fingerprinted row (-1 for a bad
    // file name, as fingerprintEpisodes emits it), built from the listing
    // so the tombstone join and the orphan difference do not re-run the
    // fingerprint pass
    val curKeys = files.map { case (chunk, uri) => (chunk, Episodes.indexOf(uri).getOrElse(-1L)) }.toSet

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
        .join(spark.createDataFrame(curKeys.toSeq).toDF("chunk", "episode_index"),
          Seq("chunk", "episode_index"), "left_anti")
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
