package graft.stages

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.{GlobalStats, Schemas, StatsDoc}
import graft.io.{Episodes, SingleFile}

/** Stage 4 — Align & Transform (reference
  * steps/align_transform_refactored.py:82-160).
  *
  * Per episode: select required columns → rename dotted obs column → cast to
  * stable types → enforce vector width → sort by frame_index → dedup frames
  * keep-first → reindex 0..N-1 → drop null/NaN key scalars → optional
  * z-score normalization vs global stats → rename back.
  *
  * Spark-first: one pass over every episode at once — a shuffle-map job
  * for its one exchange, then the write job. Per-episode ordering is
  * a window partitioned by source file (no global sort); normalization is
  * built-in higher-order `transform` with broadcast stat literals — the
  * reference's only row-level UDF (align_transform:71-78) disappears into
  * whole-stage codegen. Dedup, reindex and the per-episode write all
  * cluster on `_src_file`, so the stage plans one hash exchange on it (a
  * scan that reported one task per file would need none).
  */
object AlignTransform {

  import Schemas._

  /** Core transform on a raw episode frame (from [[Episodes.readRaw]] —
    * requires the provenance columns). Keeps `_src_file` for the writer.
    */
  def transformFrames(raw: DataFrame, stats: Option[GlobalStats], normalize: Boolean = true): DataFrame = {
    val src = col(Episodes.SrcFileCol)
    val ord = col(Episodes.OrdCol)

    // select + rename dotted → safe (P1, P2)
    var df = raw.select(
      (RequiredEpisodeCols.map(c => col(s"`$c`")) :+ src :+ ord): _*)
      .withColumnRenamed(ObsStateStorage, ObsStateSafe)

    // casts (P3)
    df = df
      .withColumn("timestamp", col("timestamp").cast("double"))
      .withColumn("frame_index", col("frame_index").cast("long"))
      .withColumn("episode_index", col("episode_index").cast("long"))
      .withColumn("index", col("index").cast("long"))
      .withColumn("task_index", col("task_index").cast("long"))
      .withColumn("action", col("action").cast(PermissiveFloatVec))
      .withColumn(ObsStateSafe, col(ObsStateSafe).cast(PermissiveFloatVec))

    // width filter (P4)
    df = df.filter(size(col("action")) === ListWidth && size(col(ObsStateSafe)) === ListWidth)

    // sort + dedup keep-first + reindex (W1-W3) over one window. Polars'
    // stable sort keeps file order among equal frame_index; `_ord`
    // reproduces that, so a row whose predecessor has its frame_index
    // (null-safe) is a later duplicate.
    val w = Window.partitionBy(src).orderBy(col("frame_index"), ord)
    df = df
      .withColumn("_dup", lag(ord, 1).over(w).isNotNull &&
        (lag(col("frame_index"), 1).over(w) <=> col("frame_index")))
      .filter(!col("_dup"))
      .drop("_dup")
      .withColumn("frame_index", row_number().over(w).cast("long") - 1)

    // null/NaN drop AFTER reindex — mirrors the reference ordering, which
    // can leave gaps in frame_index when dirty rows are dropped here (P5).
    df = df.filter(
      col("timestamp").isNotNull && !isnan(col("timestamp")) &&
        col("frame_index").isNotNull && col("episode_index").isNotNull)

    // z-score normalize with broadcast literal stats (F11); silently skip
    // when stats are absent/malformed/wrong width.
    if (normalize) stats.foreach { gs =>
      def normCol(name: String, featureKey: String): Unit = {
        gs.features.get(featureKey).foreach { f =>
          if (f.mean.size == ListWidth && f.std.size == ListWidth) {
            df = df.withColumn(name, normalizeVec(col(name), f.mean, f.std))
          }
        }
      }
      normCol("action", "action")
      normCol(ObsStateSafe, ObsStateStorage)
    }

    df.withColumnRenamed(ObsStateSafe, ObsStateStorage)
  }

  /** `(v[i] - mean[i]) / (std[i] != 0 ? std[i] : 1)` elementwise, fully
    * codegen'd: zip_with against array literals, no UDF.
    */
  def normalizeVec(v: Column, mean: Seq[Double], std: Seq[Double]): Column = {
    val m = typedLit(mean)
    val s = typedLit(std.map(x => if (x != 0.0) x else 1.0))
    zip_with(zip_with(v.cast(ArrayDouble), m, (x, mu) => x - mu), s, (x, sd) => x / sd)
      .cast(PermissiveFloatVec)
  }

  // cast targets must keep containsNull=true: Spark refuses a narrowing
  // array cast even when no element is null
  private val ArrayDouble = org.apache.spark.sql.types.ArrayType(
    org.apache.spark.sql.types.DoubleType)
  private val PermissiveFloatVec = org.apache.spark.sql.types.ArrayType(
    org.apache.spark.sql.types.FloatType)

  /** Full stage: read raw episodes under `dataDir`, transform, write one
    * parquet per episode into `outDir` through [[Episodes.writePerEpisode]]
    * (an episode whose rows were ALL filtered still gets an empty file).
    * Returns the written paths.
    */
  def run(spark: SparkSession, dataDir: String, outDir: String,
      statsPath: Option[String], normalize: Boolean = true): Seq[String] = {
    val stats = statsPath.flatMap(p => SingleFile.readText(spark, p)).flatMap(StatsDoc.parse)
    val files = Episodes.list(spark, dataDir).uris
    if (files.isEmpty) return Nil
    Episodes.writePerEpisode(transformFrames(Episodes.readRaw(spark, files), stats, normalize),
      outDir, files)
  }
}
