package graft.io

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
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
  * shape that works: the scan parallelizes over files, and every downstream
  * group-by-episode is a single shuffle (or none, since one file = one
  * episode = one input split for the common small-episode case).
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

  /** The episode index ([[indexOf]]) and the episode file name of a path
    * column.
    */
  def indexCol(path: Column): Column =
    regexp_extract(path, "episode_(\\d+)\\.parquet$", 1).try_cast("long")
  def nameCol(path: Column): Column = regexp_extract(path, "(episode_\\d+\\.parquet)$", 1)

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
    * [[SrcFileCol]]) as `<outDir>/<episode name>`, holding the data
    * columns only. One partitioned write job, then a parallel
    * metadata-only rename pass (file-per-episode contract, SURVEY §7.3
    * hard part 3). Each episode file in `sources` that got no rows gets a
    * zero-row file with the episode schema (the reference writes one file
    * per input unconditionally, align_transform_refactored.py:158-160).
    * The call owns its output set ([[dropUnwritten]]). Returns the written
    * paths, sorted.
    */
  def writePerEpisode(df: DataFrame, outDir: String, sources: Seq[String] = Nil): Seq[String] = {
    val spark = df.sparkSession
    val tmp = new HPath(outDir, ".stage_tmp")
    val fs = tmp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val name = "_ep_name"
    df.select(df.columns.filterNot(ProvenanceCols).map(c => col(s"`$c`")).toSeq :+
        nameCol(col(SrcFileCol)).as(name): _*)
      .repartition(col(name))
      .sortWithinPartitions(name, "frame_index")
      .write.mode(SaveMode.Overwrite)
      .partitionBy(name)
      .option("compression", "zstd")
      .parquet(tmp.toString)

    // staged part file → target, one per written episode
    val staged = glob(spark, s"$tmp/$name=*").map { st =>
      (fs.globStatus(new HPath(st.getPath, "part-*.parquet")).head.getPath,
        new HPath(outDir, st.getPath.getName.stripPrefix(s"$name=")))
    }
    val empties = sources.map(new HPath(_).getName).filterNot(staged.map(_._2.getName).toSet)
    val stagedEmpties = if (empties.isEmpty) Nil else {
      val emptyDir = new HPath(tmp, "_empty")
      // repartition(1): a 0-partition empty frame writes no part file at all
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], Schemas.episodeSchema)
        .repartition(1).write.parquet(emptyDir.toString)
      val part = fs.globStatus(new HPath(emptyDir, "part-*.parquet")).head.getPath
      ParallelFs.mapParallel(empties) { n =>
        val copy = new HPath(emptyDir, n)
        org.apache.hadoop.fs.FileUtil.copy(fs, part, fs, copy, false, fs.getConf)
        (copy, new HPath(outDir, n))
      }
    }
    val moves = staged ++ stagedEmpties
    fs.mkdirs(new HPath(outDir))
    ParallelFs.mapParallel(moves) { case (part, target) => replace(fs, part, target) }

    dropUnwritten(spark, s"$outDir/episode_*.parquet", moves.map(m => fs.makeQualified(m._2)).toSet)
    fs.delete(tmp, true)
    moves.map(_._2.toString).sorted
  }

  /** Move the staged file `part` onto `target`: the target path only ever
    * holds a whole file.
    */
  def replace(fs: FileSystem, part: HPath, target: HPath): Unit = {
    fs.delete(target, false)
    if (!fs.rename(part, target)) throw new java.io.IOException(s"rename failed: $part -> $target")
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
