package graft.io

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.OutputWriter
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.util.SerializableConfiguration
import graft.core.Schemas

/** The episode-file layout (SURVEY §2.1 S1/S13, stages 4–5), owned here
  * and nowhere else: `data/chunk-<c>/episode_<NNNNNN>.parquet` and
  * `videos/chunk-<c>/<camera>/episode_<NNNNNN>.mp4` come in; a flat
  * file-per-episode dir and a Hive-style `split=/chunk=` dataset go out.
  *
  * The whole corpus is ONE DataFrame — every episode parquet read in a
  * single scan with per-file provenance columns — replacing the
  * reference's per-file driver loop (its scalability ceiling,
  * validate_from_manifest_refactored.py:51). At 100 TB this is the only
  * shape that works: the scan parallelizes over files, and a frame pass
  * clusters each episode with one hash exchange on [[SrcFileCol]], on
  * which [[writePerEpisode]]'s tasks write and place each episode's file.
  */
object Episodes {

  val SrcFileCol = "_src_file"
  val OrdCol     = "_ord"
  val EpIdxCol   = "_ep_idx_from_name"
  val ChunkCol   = "_chunk_from_path"
  private val ProvenanceCols = Set(SrcFileCol, OrdCol, EpIdxCol, ChunkCol)

  /** Camera dir names under the per-chunk videos dir (reference CAMERAS). */
  val Cameras: Seq[String] = Seq("observation.images.front", "observation.images.wrist")

  def videoName(idx: Long): String = f"episode_$idx%06d.mp4"

  private val NameRe = "episode_(\\d+)\\.(parquet|mp4)".r

  /** Episode index parsed from a path's file name; None for a bad name. */
  def indexOf(path: String): Option[Long] = new HPath(path).getName match {
    case NameRe(idx, _) => idx.toLongOption
    case _ => None
  }

  /** The episode index ([[indexOf]]) of a path column. */
  def indexCol(path: Column): Column =
    regexp_extract(path, "episode_(\\d+)\\.parquet$", 1).try_cast("long")

  private def videoDir(videosRoot: String, chunk: String, camera: String): String =
    s"$videosRoot/chunk-$chunk/$camera"

  def videoPath(videosRoot: String, chunk: String, camera: String, idx: Long): String =
    s"${videoDir(videosRoot, chunk, camera)}/${videoName(idx)}"

  /** The listed chunks and `(chunk, uri)` episode files of a data dir. */
  final case class Listing(chunks: Seq[String], files: Seq[(String, String)]) {
    def uris: Seq[String] = files.map(_._2)
  }

  private def glob(spark: SparkSession, pattern: String): Seq[FileStatus] = {
    val p = new HPath(pattern)
    Option(p.getFileSystem(spark.sparkContext.hadoopConfiguration).globStatus(p))
      .map(_.toSeq).getOrElse(Nil)
  }

  /** Driver-side listing (S12-S13) of `<dataDir>/chunk-*` with the
    * `--since` mtime predicate (P7) and `--only-chunks` subset (P8)
    * applied during listing (pushdown into the source). A dir without
    * chunk dirs is read flat (align_transform_refactored.py:153-156).
    * Deterministically sorted (W6).
    */
  def list(spark: SparkSession, dataDir: String, sinceNs: Option[Long] = None,
      onlyChunks: Option[Set[String]] = None): Listing = {
    val chunks = onlyChunks.map(_.toSeq.sorted).getOrElse(
      glob(spark, s"$dataDir/chunk-*").filter(_.isDirectory)
        .map(_.getPath.getName.stripPrefix("chunk-")).sorted)
    def files(dir: String, chunk: String) = glob(spark, s"$dir/episode_*.parquet")
      .filter(st => sinceNs.forall(s => st.getModificationTime * 1000000L >= s))
      .map(st => (chunk, st.getPath.toString)).sortBy(_._2)
    Listing(chunks,
      if (chunks.isEmpty && onlyChunks.isEmpty) files(dataDir, "")
      else chunks.flatMap(c => files(s"$dataDir/chunk-$c", c)))
  }

  /** Every `(chunk, episode, camera, uri, bytes)` video under `videosRoot`. */
  def listVideos(spark: SparkSession, videosRoot: String,
      chunks: Seq[String]): Seq[(String, Long, String, String, Long)] =
    for {
      chunk <- chunks
      cam <- Cameras
      st <- glob(spark, s"${videoDir(videosRoot, chunk, cam)}/episode_*.mp4")
      idx <- indexOf(st.getPath.toString)
    } yield (chunk, idx, cam, st.getPath.toString, st.getLen)

  /** Read the given episode files as one DataFrame with provenance columns:
    *  - `_src_file`: source file URI (the grouping key for per-episode ops);
    *  - `_ord`: intra-file row order from the parquet `_metadata.row_index`
    *    metadata column — the row's index within its FILE, not its split,
    *    so keep-first/first/last semantics survive a >maxPartitionBytes
    *    episode file being carved into multiple input splits (a
    *    `monotonically_increasing_id` surrogate would silently reorder
    *    there; SURVEY §7.3 hard part 1);
    *  - `_ep_idx_from_name` / `_chunk_from_path`: parsed from the path (F1).
    */
  def readRaw(spark: SparkSession, files: Seq[String]): DataFrame = {
    require(files.nonEmpty, "no episode files to read")
    spark.read.schema(Schemas.episodeSchema).parquet(files: _*)
      .withColumn(SrcFileCol, input_file_name())
      .withColumn(OrdCol, col("_metadata.row_index"))
      .withColumn(EpIdxCol, indexCol(input_file_name()))
      .withColumn(ChunkCol, regexp_extract(input_file_name(), "chunk-([^/]+)/", 1))
  }

  def readDataDir(spark: SparkSession, dataDir: String): DataFrame =
    readRaw(spark, list(spark, dataDir).uris)

  /** Write one zstd parquet per episode of `df` (rows carrying
    * [[SrcFileCol]]) as `<outDir>/<source file name>`, holding the data
    * columns only. Each episode is written and placed by the task that
    * holds its rows: clustering on [[SrcFileCol]] (an exchange Spark drops
    * when `df` is hash-partitioned on it) puts it in one partition, sorted
    * by frame_index; the task writes each run of one episode's rows to a
    * staged file named for its attempt and [[SingleFile.place]]s it. One
    * action beyond the clustering, and no driver pass over written files
    * (file-per-episode contract, SURVEY §7.3 hard part 3). Each file in
    * `sources` that got no rows gets a zero-row file from the same writer,
    * on the driver (the reference writes one file per input
    * unconditionally, align_transform_refactored.py:158-160). Two sources
    * with one file name are refused before any write. The call owns its
    * output set ([[dropUnwritten]]). Returns the written paths, sorted.
    */
  def writePerEpisode(df: DataFrame, outDir: String, sources: Seq[String]): Seq[String] = {
    val spark = df.sparkSession
    val shared = sources.groupBy(new HPath(_).getName).values.filter(_.size > 1)
    require(shared.isEmpty, "source files share an episode file name: " +
      shared.map(_.sorted.mkString(" and ")).toSeq.sorted.mkString("; "))
    val clustered = df.repartition(col(SrcFileCol))
      .select((df.columns.filterNot(ProvenanceCols) :+ SrcFileCol).map(c => col(s"`$c`")).toSeq: _*)
      .sortWithinPartitions(SrcFileCol, "frame_index")
    val schema = clustered.drop(SrcFileCol).schema
    val job = Job.getInstance(spark.sparkContext.hadoopConfiguration)
    val factory = new ParquetFileFormat().prepareWrite(spark, job, Map("compression" -> "zstd"), schema)
    val conf = new SerializableConfiguration(job.getConfiguration)
    val fs = new HPath(outDir).getFileSystem(conf.value)
    val tmp = new HPath(outDir, ".stage_tmp")
    fs.delete(tmp, true) // a crashed call's staged files
    def writeAndPlace(staged: HPath, name: String)(write: OutputWriter => Unit): Unit = {
      val ctx = new TaskAttemptContextImpl(conf.value, new TaskAttemptID())
      val w = factory.newInstance(staged.toString, schema, ctx)
      try write(w) finally w.close()
      SingleFile.place(staged.getFileSystem(conf.value), staged, new HPath(outDir, name))
    }
    val qe = clustered.queryExecution
    val written = SQLExecution.withNewExecutionId(qe, Some("writePerEpisode")) {
      qe.toRdd.mapPartitions { part =>
        val rows = part.buffered
        val data = UnsafeProjection.create(schema) // the writer writes every field of a row
        Iterator.continually(rows).takeWhile(_.hasNext).map { _ =>
          val src = rows.head.getUTF8String(schema.length).clone()
          val name = new HPath(src.toString).getName
          writeAndPlace(new HPath(tmp, s"${TaskContext.get().taskAttemptId()}-$name"), name) { w =>
            while (rows.hasNext && rows.head.getUTF8String(schema.length) == src)
              w.write(data(rows.next()))
          }
          name
        }
      }.collect().toSeq
    }
    val empties = sources.map(new HPath(_).getName).filterNot(written.toSet)
    ParallelFs.mapParallel(empties)(n => writeAndPlace(new HPath(tmp, s"driver-$n"), n)(_ => ()))

    val targets = (written ++ empties).map(new HPath(outDir, _))
    dropUnwritten(spark, s"$outDir/episode_*.parquet", targets.map(fs.makeQualified).toSet)
    fs.delete(tmp, true)
    targets.map(_.toString).sorted
  }

  /** A per-episode writer owns its output set: after its placements it
    * deletes every file matching `pattern` (qualified paths) that it did
    * not write, so a rerun drops deleted episodes' outputs, and a crash,
    * which stops before this step, leaves extra files, never a missing
    * live one. Returns the deleted paths.
    */
  def dropUnwritten(spark: SparkSession, pattern: String, written: Set[HPath]): Seq[HPath] = {
    val stale = glob(spark, pattern).map(_.getPath).filterNot(written)
    val fs = new HPath(pattern).getFileSystem(spark.sparkContext.hadoopConfiguration)
    ParallelFs.mapParallel(stale)(fs.delete(_, false))
    stale
  }
}
