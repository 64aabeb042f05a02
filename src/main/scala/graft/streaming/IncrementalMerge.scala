package graft.streaming

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.io.SingleFile

/** Streaming CDC apply: a change stream merged into a parquet base
  * snapshot micro-batch by micro-batch via `foreachBatch` +
  * ops/Upsert.latestWins — the MERGE-into-table pattern without a table
  * format. Tombstones are RETAINED in the stored base (latestWins
  * `dropTombstones = false`), which makes the per-batch merge associative:
  * the final state is identical for any batch split of the change set,
  * including one-shot batch application (IncrementalMergeSpec proves it).
  * The live view filters tombstones at read time ([[liveView]]).
  *
  * Each batch rewrites the base snapshot (read + window + atomic
  * replace). That is the scale cost of formatless MERGE — at 100 TB you
  * would partition the base on the key range and rewrite only partitions
  * the batch touches, or adopt a table format with file-level pruning;
  * the merge SEMANTICS (this operator) stay the same.
  */
object IncrementalMerge {

  /** Start the merge query (AvailableNow): every micro-batch atomically
    * replaces the snapshot at `basePath` with the merged one. A missing
    * base starts empty, and a replace that crashed between its two renames
    * is healed before the base is read, so a checkpoint-replayed batch
    * merges onto the surviving snapshot, never onto an accidentally-empty
    * one. `checkpointDir` makes the query resumable across runs.
    */
  def run(spark: SparkSession, changes: DataFrame, basePath: String,
      keys: Seq[String], versionCols: Seq[String], deleteCol: String,
      queryName: String, checkpointDir: Option[String] = None): StreamingQuery = {
    val writer = changes.writeStream
      .queryName(queryName)
      .outputMode("update")
      .trigger(Trigger.AvailableNow())
    checkpointDir.fold(writer)(writer.option("checkpointLocation", _))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val ss = batch.sparkSession
        SingleFile.recoverAtomic(ss, basePath)
        val p = new HPath(basePath)
        val base =
          if (p.getFileSystem(ss.sparkContext.hadoopConfiguration).exists(p)) ss.read.parquet(basePath)
          else ss.createDataFrame(ss.sparkContext.emptyRDD[Row], batch.schema)
        val merged = graft.ops.Upsert.latestWins(
          base, batch, keys, versionCols, deleteCol, dropTombstones = false)
        SingleFile.writeParquetAtomic(merged, basePath)
        ()
      }
      .start()
  }

  /** The queryable state of a merged base: tombstones filtered out (NULL
    * in the tombstone column is "not deleted", not a delete).
    */
  def liveView(spark: SparkSession, basePath: String, deleteCol: String): DataFrame =
    spark.read.parquet(basePath)
      .filter(!org.apache.spark.sql.functions.coalesce(col(deleteCol),
        org.apache.spark.sql.functions.lit(false)))
}
