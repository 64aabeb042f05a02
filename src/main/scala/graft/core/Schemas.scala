package graft.core

import org.apache.spark.sql.types._

/** Data model of the imitation-learning dataset (SURVEY.md §1).
  *
  * Schemas are *declared, then validated* — never inferred — mirroring the
  * reference's validate-then-cast stance (reference
  * `src/neura_pipeline/core/constants.py:13-19`,
  * `robot_data/meta/info.json:16-150`).
  */
object Schemas {

  /** Vector width of `action` / `observation.state` (constants.py:19). */
  val ListWidth = 8

  /** Storage-side dotted column name and its engine-safe alias
    * (constants.py:7-9). Spark parses dots as struct access, so like the
    * reference we rename at the boundary and use the safe name internally.
    */
  val ObsStateStorage = "observation.state"
  val ObsStateSafe    = "observation_state"

  /** Required per-frame columns, storage names (constants.py:13-16). */
  val RequiredEpisodeCols: Seq[String] = Seq(
    "action", ObsStateStorage, "timestamp",
    "frame_index", "episode_index", "index", "task_index")

  /** Camera keys → video file subdirs (constants.py:10-11). */
  val CameraKeys: Seq[String] = Seq("front", "wrist")

  val FloatVec: DataType = ArrayType(FloatType, containsNull = false)

  /** Episode frame table, storage layout (info.json:16-150). */
  val episodeSchema: StructType = StructType(Seq(
    StructField("action", FloatVec),
    StructField(ObsStateStorage, FloatVec),
    StructField("timestamp", DoubleType),
    StructField("frame_index", LongType),
    StructField("episode_index", LongType),
    StructField("index", LongType),
    StructField("task_index", LongType)))

  /** Episode metadata (`meta/episodes.jsonl`, robot_data/README.md:53-60). */
  val episodesMetaSchema: StructType = StructType(Seq(
    StructField("episode_index", LongType),
    StructField("tasks", ArrayType(StringType)),
    StructField("length", LongType)))

  /** Per-feature stats block used in `episodes_stats.jsonl` and
    * `global_stats.json` (stats_refactored.py:148-151). `count` is read
    * permissively elsewhere (scalar or list — see Stats stage).
    */
  val featureStatsSchema: StructType = StructType(Seq(
    StructField("count", ArrayType(DoubleType)),
    StructField("mean", ArrayType(DoubleType)),
    StructField("std", ArrayType(DoubleType)),
    StructField("min", ArrayType(DoubleType)),
    StructField("max", ArrayType(DoubleType))))

  /** Manifest row (core/models.py:5-19; discover_refactored.py:106-113). */
  val manifestSchema: StructType = StructType(Seq(
    StructField("episode_index", LongType),
    StructField("chunk", StringType),
    StructField("parquet_uri", StringType),
    StructField("video_front_uri", StringType),
    StructField("video_wrist_uri", StringType),
    StructField("exists_front", BooleanType),
    StructField("exists_wrist", BooleanType),
    StructField("bytes_total", LongType),
    StructField("fingerprint", StringType),
    StructField("fingerprint_algo", StringType),
    StructField("discovered_at", StringType),
    StructField("status", StringType),
    StructField("errors", StringType)))
}

/** Episode lifecycle statuses (reference core/statuses.py:3-11). */
object Status {
  val New          = "NEW"
  val Changed      = "CHANGED"
  val Unchanged    = "UNCHANGED"
  val MissingSide  = "MISSING_SIDE"
  val Deleted      = "DELETED"
  val OrphanVideo  = "ORPHAN_VIDEO"
  val Pending      = "PENDING"
  val Error        = "ERROR"

  /** Statuses the validate stage acts on (validate_from_manifest:12) —
    * everything except UNCHANGED and DELETED.
    */
  val Actionable: Seq[String] =
    Seq(New, Changed, MissingSide, Pending, Error, OrphanVideo)
  val All: Seq[String] = Seq(New, Changed, Unchanged, MissingSide, Deleted,
    OrphanVideo, Pending, Error)
}

/** Typed rows for Dataset APIs and test fixtures. */
object Models {
  /** One frame of an episode (safe column names). */
  final case class Frame(
      action: Seq[Float],
      observation_state: Seq[Float],
      timestamp: Double,
      frame_index: Long,
      episode_index: Long,
      index: Long,
      task_index: Long)

  /** One validation issue (typed, not JSON strings — SURVEY §1.2/F13). */
  final case class Issue(kind: String, detail: String)

  /** Per-episode validation verdict, mirrors core/models.py:23-36. */
  final case class ValidationResult(
      episode_index: Long,
      chunk: String,
      parquet_uri: String,
      video_front_uri: String,
      video_wrist_uri: String,
      ok: Boolean,
      rows: Long,
      issues: Seq[Issue])
}
