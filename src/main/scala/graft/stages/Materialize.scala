package graft.stages

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{FileUtil, Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.SerializableConfiguration
import graft.core.{Json, Schemas}
import graft.functions.Hashing
import graft.io.{Episodes, SingleFile}
import graft.io.Episodes.Cameras

/** Stage 5 — Materialize (reference steps/materialize_refactored.py:57-154):
  * deterministic hash split into train/val/test, Hive-style
  * `split=<s>/chunk=000` layout with one parquet per episode, a dataset
  * index, a `_manifest.json` bookkeeping doc, and video placement.
  *
  * Spark shape: the layout is placed, not re-encoded, and no frame is
  * read. The split is a column over the normalized file list; one
  * executor-side `mapPartitions` pass reads each file's parquet footer
  * (row count, column names), copies the file byte for byte to a staged
  * path named for its task attempt, [[SingleFile.place]]s it in its split
  * dir, places its videos (symlink/hardlink/copy/manifest-only,
  * materialize_refactored.py:29-47) and emits its index row. The driver
  * sorts the index rows (O(episodes); no frame comes back), writes them
  * as one file and takes the written set and the split counts from them.
  * Videos are placed on local paths, so on a cluster videosRoot/outDir
  * must be a SHARED filesystem that resolves identically on every executor.
  */
object Materialize {

  final case class Config(
      seed: String = "42",
      train: Double = 0.8,
      validation: Double = 0.1,
      test: Double = 0.1,
      videosRoot: Option[String] = None,
      linkVideos: String = "symlink") {
    require(math.abs(train + validation + test - 1.0) <= 1e-9,
      "train+val+test must equal 1.0")
    require(Seq("symlink", "hardlink", "copy", "manifest-only").contains(linkVideos),
      s"Unknown link method: $linkVideos (symlink|hardlink|copy|manifest-only)")
  }

  /** The chunk of the output layout and of the source videos. */
  private val Chunk = "000"

  /** The split column for an episode-index column (F4–F6). */
  def splitCol(epIdx: org.apache.spark.sql.Column, cfg: Config): org.apache.spark.sql.Column =
    Hashing.splitAssign(epIdx.cast("string"), cfg.seed, cfg.train, cfg.validation)

  def run(spark: SparkSession, normDir: String, outDir: String,
      cfg: Config = Config()): DataFrame = {
    import spark.implicits._
    val files = Episodes.list(spark, normDir).uris
    require(files.nonEmpty, s"No episode files found under $normDir")
    val hconf = new SerializableConfiguration(spark.sparkContext.hadoopConfiguration)
    val tmp = s"$outDir/.stage_tmp"
    // a local file list: one task per file, up to the default parallelism
    val placed = files.toDF("uri").select(col("uri"), splitCol(Episodes.indexCol(col("uri")), cfg))
      .as[(String, String)].mapPartitions { it =>
        val conf = hconf.value
        val outFs = new HPath(outDir).getFileSystem(conf)
        it.flatMap { case (uri, split) =>
          val src = new HPath(uri)
          val reader = ParquetFileReader.open(HadoopInputFile.fromPath(src, conf))
          val (rows, names) = try (reader.getRecordCount,
              reader.getFileMetaData.getSchema.getFields.asScala.map(_.getName).toSeq)
            finally reader.close()
          require(names == Schemas.episodeSchema.fieldNames.toSeq,
            s"$uri: columns ${names.mkString(", ")} are not the episode schema's")
          Option.when(rows > 0) { // an all-filtered episode is not indexed
            val ep = Episodes.indexOf(uri).getOrElse(
              throw new IllegalArgumentException(s"$uri: not an episode file name"))
            val dir = s"split=$split/chunk=$Chunk"
            val staged = new HPath(tmp, s"${TaskContext.get().taskAttemptId()}-${src.getName}")
            FileUtil.copy(src.getFileSystem(conf), src, outFs, staged, false, true, conf)
            SingleFile.place(outFs, staged, new HPath(s"$outDir/$dir", src.getName))
            val Seq(front, wrist) = Cameras.map(view => placeVideo(
              cfg.videosRoot.map(Episodes.videoPath(_, Chunk, view, ep)), outDir,
              s"$dir/videos/$view/${Episodes.videoName(ep)}", cfg.linkVideos))
            (ep, rows, split, Chunk, s"$dir/${src.getName}", front, wrist)
          }
        }
      }.toDF(Seq("episode_index", "num_rows", "split", "chunk", "parquet_path") ++
        Cameras.map(view => s"$view.path"): _*)

    val rows = placed.collect().toSeq.sortBy(r => (r.getLong(0), r.getString(4)))
    val indexPath = s"$outDir/dataset_index.parquet"
    SingleFile.writeParquetAtomic(spark.createDataFrame(rows.asJava, placed.schema), indexPath)

    // the stage owns its layout: an episode file it did not place goes,
    // with its video links (not listed: the Hadoop local filesystem does
    // not see a link whose source is gone)
    val outFs = new HPath(outDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val written = rows.map(r => outFs.makeQualified(new HPath(outDir, r.getString(4)))).toSet
    Episodes.dropUnwritten(spark, s"$outDir/split=*/chunk=*/episode_*.parquet", written)
      .foreach(stale => Episodes.indexOf(stale.getName).foreach(ep => Cameras.foreach(view =>
        Files.deleteIfExists(Paths.get(stale.getParent.toUri.getPath, "videos", view,
          Episodes.videoName(ep))))))
    outFs.delete(new HPath(tmp), true)

    val Seq(train, validation, test) = Seq("train", "val", "test").map(s => rows.count(_.getString(2) == s))
    val manifest =
      s"""{
         |  "source_parquet": ${Json.quote(normDir)},
         |  "source_videos": ${Json.quote(cfg.videosRoot.orNull)},
         |  "output": ${Json.quote(outDir)},
         |  "seed": ${Json.quote(cfg.seed)},
         |  "fractions": {"train": ${cfg.train}, "val": ${cfg.validation}, "test": ${cfg.test}},
         |  "counts": {"train": $train, "val": $validation, "test": $test},
         |  "chunk": ${Json.quote(Chunk)},
         |  "views": ${Cameras.map(Json.quote).mkString("[", ", ", "]")},
         |  "link_videos": ${Json.quote(cfg.linkVideos)}
         |}""".stripMargin
    SingleFile.writeText(spark, s"$outDir/_manifest.json", manifest)
    spark.read.schema(placed.schema).parquet(indexPath)
  }

  /** Replaces the video at `rel` under `outDir` with a link to (or a copy
    * of) `src`, or with nothing when `src` is absent. Returns `rel` when
    * `src` exists, placed or not (manifest-only), else null.
    */
  private def placeVideo(src: Option[String], outDir: String, rel: String, mode: String): String = {
    val dst = Paths.get(outDir.stripPrefix("file:"), rel)
    Files.deleteIfExists(dst)
    src.map(Paths.get(_)).filter(Files.exists(_)).map { srcP =>
      if (mode != "manifest-only") {
        Files.createDirectories(dst.getParent)
        mode match {
          case "symlink" => Files.createSymbolicLink(dst, dst.getParent.relativize(srcP.toAbsolutePath))
          case "hardlink" => Files.createLink(dst, srcP)
          case "copy" => Files.copy(srcP, dst)
        }
      }
      rel
    }.orNull
  }
}
