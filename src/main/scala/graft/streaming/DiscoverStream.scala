package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.core.{Schemas, Status}

/** Streaming manifest maintenance — the optional streaming mode of the
  * discover stage (SURVEY §2.8 T1: "recommended batch, optional
  * streaming"; the reference emits its delta as JSONL on stdout,
  * scripts/neura.py:66-74).
  *
  * Each discover run appends its delta as ONE JSONL file under `deltaDir`
  * ([[writeDelta]] — the same row shape as the CLI `--stdout` emission,
  * plus a caller-supplied monotone `_seq` run number that breaks
  * same-second `discovered_at` ties). [[fold]] then drains every
  * unprocessed delta file with a `Trigger.AvailableNow` file-source query
  * and merges each micro-batch into the manifest snapshot with the same
  * latest-wins CDC semantics as the batch path (ops/Upsert, tombstones
  * RETAINED so per-batch application is associative — see
  * streaming/IncrementalMerge). Cron-friendly: the query exits once the
  * pending files are drained, and the file-source checkpoint remembers
  * what was processed, so re-running is a no-op.
  *
  * Scale shape: the delta stream is episode-level metadata (rows ≪ data);
  * each batch is one window shuffle over base+delta. At a manifest too
  * large for single-snapshot rewrite, partition the snapshot on `chunk`
  * and rewrite only touched partitions — the fold semantics are unchanged.
  */
object DiscoverStream {

  /** The tombstone flag a delta row carries. */
  private def isDeleted = col("status") === Status.Deleted

  /** Append one discover delta (manifest-schema rows, e.g. the return of
    * `Discover.run`) as a single JSONL file under `deltaDir`. `seq` must
    * increase run over run; it becomes the `_seq` version tiebreak.
    * Returns the written file path.
    */
  def writeDelta(delta: DataFrame, deltaDir: String, seq: Long): String = {
    val cols = Schemas.manifestSchema.fieldNames.toSeq
    val out = s"$deltaDir/delta-$seq.jsonl"
    graft.io.SingleFile.writeJsonl(
      delta.select(cols.map(col): _*).withColumn("_seq", lit(seq))
        .orderBy("chunk", "episode_index"),
      out)
    out
  }

  /** Schema of the delta stream: manifest columns + the `_seq` run number. */
  val deltaSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(
      Schemas.manifestSchema.fields :+
        org.apache.spark.sql.types.StructField("_seq",
          org.apache.spark.sql.types.LongType))

  /** Start the AvailableNow fold of pending delta files into the manifest
    * snapshot at `manifestPath` (created on first batch if absent). The
    * snapshot retains DELETED tombstone rows; read it through
    * [[liveManifest]].
    */
  def fold(spark: SparkSession, deltaDir: String, manifestPath: String,
      checkpointDir: String, queryName: String = "discover_fold"): StreamingQuery =
    IncrementalMerge.run(spark,
      spark.readStream.schema(deltaSchema).json(deltaDir).withColumn("_del", isDeleted),
      manifestPath, keys = Seq("chunk", "episode_index"),
      versionCols = Seq("discovered_at", "_seq"), deleteCol = "_del",
      queryName = queryName, checkpointDir = Some(checkpointDir))

  /** The queryable manifest: tombstoned episodes filtered out, lineage
    * columns dropped — same column set as the batch manifest.
    */
  def liveManifest(spark: SparkSession, manifestPath: String): DataFrame =
    // read-only crash fallback — a pure reader must not heal (it would
    // race an in-flight fold batch's replace; see SingleFile.recoverAtomic)
    spark.read.parquet(graft.io.SingleFile.readablePath(spark, manifestPath))
      .filter(!coalesce(col("_del"), lit(false)))
      .drop("_del", "_seq")
}
