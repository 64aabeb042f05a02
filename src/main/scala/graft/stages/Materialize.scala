package graft.stages

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Schemas
import graft.functions.Hashing
import graft.io.{Episodes, SingleFile}

/** Stage 5 — Materialize (reference steps/materialize_refactored.py:57-154):
  * deterministic hash split into train/val/test, Hive-style
  * `split=<s>/chunk=<c>` layout with one zstd parquet per episode, a
  * dataset index table, a `_manifest.json` bookkeeping doc, and video
  * link/copy placement.
  *
  * Spark shape: split assignment is a column expression over the seeded
  * portable hash (no driver loop); the partitioned layout is ONE
  * partitionBy write job + metadata renames; the index is a small DataFrame
  * aggregation, written as one sorted partition with the split counts
  * observed on that write (no separate count query). Video placement
  * (symlink/hardlink/copy/manifest-only, materialize_refactored.py:29-47)
  * runs executor-side in mapPartitions — which requires a SHARED
  * filesystem (NFS/HDFS-mounted paths): links are created on whichever
  * machine the task runs, so on a cluster the videosRoot/outDir must
  * resolve identically on every executor.
  */
object Materialize {

  final case class Config(
      seed: String = "42",
      train: Double = 0.8,
      validation: Double = 0.1,
      test: Double = 0.1,
      chunkId: String = "000",
      videosRoot: Option[String] = None,
      videoSourceChunkId: String = "000",
      views: Seq[String] = Discover.Cameras,
      linkVideos: String = "symlink") {
    require(math.abs(train + validation + test - 1.0) <= 1e-9,
      "train+val+test must equal 1.0")
  }

  /** The split column for an episode-index column (F4–F6). */
  def splitCol(epIdx: org.apache.spark.sql.Column, cfg: Config): org.apache.spark.sql.Column =
    Hashing.splitAssign(epIdx.cast("string"), cfg.seed, cfg.train, cfg.validation)

  def run(spark: SparkSession, normDir: String, outDir: String,
      cfg: Config = Config()): DataFrame = {
    val files = Episodes.listEpisodeFiles(spark, normDir)
    require(files.nonEmpty, s"No episode_*.parquet found under $normDir")

    // one scan over all normalized episodes; episode identity from filename
    // (materialize_refactored.py:94-97)
    val raw = spark.read.schema(Schemas.episodeSchema).parquet(files: _*)
      .withColumn("_ep_idx",
        regexp_extract(input_file_name(), "episode_(\\d+)\\.parquet", 1).cast("long"))
      .withColumn("_ep_name",
        regexp_extract(input_file_name(), "(episode_\\d+\\.parquet)", 1))

    val stamped = raw
      .withColumn("split", splitCol(col("_ep_idx"), cfg))
      .withColumn("chunk", lit(cfg.chunkId))

    // single partitioned write → split=<s>/chunk=<c>/_ep_name=<n>/part-*,
    // then metadata renames to the exact file-per-episode layout
    val tmp = s"$outDir/.mat_tmp"
    stamped
      .repartition(col("split"), col("_ep_name"))
      .sortWithinPartitions("_ep_name", "frame_index")
      .write.mode(SaveMode.Overwrite)
      .partitionBy("split", "chunk", "_ep_name")
      .option("compression", "zstd")
      .parquet(tmp)

    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new HPath(outDir).getFileSystem(conf)
    val parts = Option(fs.globStatus(new HPath(s"$tmp/split=*/chunk=*/_ep_name=*")))
      .map(_.toSeq).getOrElse(Nil)
    graft.io.ParallelFs.mapParallel(parts) { st =>
      val epName = st.getPath.getName.stripPrefix("_ep_name=")
      val chunkDir = st.getPath.getParent
      val splitDir = chunkDir.getParent
      val target = new HPath(
        s"$outDir/${splitDir.getName}/${chunkDir.getName}/$epName")
      val part = fs.globStatus(new HPath(st.getPath, "part-*.parquet")).head.getPath
      fs.mkdirs(target.getParent)
      fs.delete(target, false)
      fs.rename(part, target)
    }
    fs.delete(new HPath(tmp), true)

    // dataset index (A13-A14): one row per episode with paths + row counts.
    // `split`/`chunk` were consumed by partitionBy, so recompute split from
    // the same deterministic hash — identical by construction.
    // persisted for the index write: with video placement the write reads
    // the index twice (link candidates + the final path join), and without
    // the barrier the full-corpus groupBy would run once per consumer
    val index = raw.groupBy(col("_ep_idx").as("episode_index"), col("_ep_name"))
      .agg(count(lit(1)).as("num_rows"))
      .withColumn("split", splitCol(col("episode_index"), cfg))
      .withColumn("chunk", lit(cfg.chunkId))
      .withColumn("parquet_path",
        concat(lit("split="), col("split"), lit(s"/chunk=${cfg.chunkId}/"), col("_ep_name")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // video placement (S18) + per-view index paths
    val withVideos = placeVideos(spark, index, outDir, cfg).drop("_ep_name")
    val splits = Observation()
    val indexPath = s"$outDir/dataset_index.parquet"
    SingleFile.writeParquetAtomic(
      withVideos.observe(splits,
          count_if(col("split") === "train").as("train"),
          count_if(col("split") === "val").as("val"),
          count_if(col("split") === "test").as("test"))
        .repartition(1).sortWithinPartitions("episode_index"),
      indexPath)
    index.unpersist()

    val Seq(train, validation, test) = Observed.longs(splits, "train", "val", "test")
    val manifest =
      s"""{
         |  "source_parquet": ${q(normDir)},
         |  "source_videos": ${cfg.videosRoot.map(q).getOrElse("null")},
         |  "output": ${q(outDir)},
         |  "seed": ${q(cfg.seed)},
         |  "fractions": {"train": ${cfg.train}, "val": ${cfg.validation}, "test": ${cfg.test}},
         |  "counts": {"train": $train, "val": $validation, "test": $test},
         |  "chunk": ${q(cfg.chunkId)},
         |  "views": ${cfg.views.map(q).mkString("[", ", ", "]")},
         |  "link_videos": ${q(cfg.linkVideos)}
         |}""".stripMargin
    SingleFile.writeText(spark, s"$outDir/_manifest.json", manifest)

    spark.read.schema(withVideos.schema).parquet(indexPath)
  }

  private def q(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** Link/copy source videos into the layout; adds `<view>.path` columns.
    * All four reference modes (symlink relative / hardlink / copy /
    * manifest-only).
    *
    * Executor-side: the (episode × view) candidates are a DataFrame, the
    * link/copy side effects run in `mapPartitions` (idempotent — delete
    * then create — so task retries are safe), and the placed paths come
    * back as rows that pivot into one column per view and join onto the
    * index. No `collect()` of the index, no literal maps in the plan: at
    * 10M episodes this is a normal distributed job, not a driver loop.
    */
  private def placeVideos(spark: SparkSession, index: DataFrame, outDir: String,
      cfg: Config): DataFrame = {
    import spark.implicits._
    def addPathCol(df: DataFrame, view: String, c: org.apache.spark.sql.Column): DataFrame =
      df.withColumn(s"${view}_path_tmp".replace(".", "_"), c)
        .withColumnRenamed(s"${view}_path_tmp".replace(".", "_"), s"$view.path")
    cfg.videosRoot match {
      case None =>
        cfg.views.foldLeft(index)((df, view) =>
          addPathCol(df, view, lit(null).cast("string")))
      case Some(vroot) =>
        val linkMode = cfg.linkVideos
        val chunkId = cfg.chunkId
        val srcChunk = cfg.videoSourceChunkId
        val outRoot = outDir.stripPrefix("file:")
        val candidates = index.select(col("episode_index"), col("split"))
          .crossJoin(cfg.views.toDF("view")) // |views| rows — broadcast NLJ
        val placed = candidates.as[(Long, String, String)].mapPartitions { it =>
          import java.nio.file.{Files, Paths}
          it.flatMap { case (ep, split, view) =>
            val srcP = Paths.get(vroot, s"chunk-$srcChunk", view, f"episode_$ep%06d.mp4")
            if (!Files.exists(srcP)) None
            else {
              val relPath = s"split=$split/chunk=$chunkId/videos/$view/" +
                f"episode_$ep%06d.mp4"
              val dstP = Paths.get(outRoot, s"split=$split", s"chunk=$chunkId",
                "videos", view, f"episode_$ep%06d.mp4")
              if (linkMode != "manifest-only") {
                Files.createDirectories(dstP.getParent)
                Files.deleteIfExists(dstP)
                linkMode match {
                  case "symlink" =>
                    Files.createSymbolicLink(dstP, dstP.getParent.relativize(srcP.toAbsolutePath))
                  case "hardlink" => Files.createLink(dstP, srcP)
                  case "copy" => Files.copy(srcP, dstP)
                  case other => throw new IllegalArgumentException(s"Unknown link method: $other")
                }
              }
              Some((ep, view, relPath))
            }
          }
        }.toDF("episode_index", "view", "rel_path")
        // one path column per view (explicit pivot values: no discovery job)
        val pivoted = placed.groupBy("episode_index")
          .pivot("view", cfg.views)
          .agg(first("rel_path"))
          .withColumnRenamed("episode_index", "_pv_ep")
        val joined = index
          .join(pivoted, col("episode_index") === col("_pv_ep"), "left")
          .drop("_pv_ep")
        cfg.views.foldLeft(joined)((df, view) =>
          addPathCol(df, view, col(s"`$view`")).drop(col(s"`$view`")))
    }
  }
}
