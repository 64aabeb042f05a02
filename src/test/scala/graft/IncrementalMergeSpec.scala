package graft

import org.apache.spark.sql.DataFrame
import graft.streaming.IncrementalMerge

/** Streaming CDC apply: merging a change stream micro-batch by
  * micro-batch must end in exactly the one-shot batch-merge state —
  * including the late-arrival trap where an OLDER change for a
  * tombstoned key arrives in a LATER batch (tombstone retention makes
  * the merge associative).
  */
class IncrementalMergeSpec extends SparkSuite {
  import spark.implicits._

  private def frame(rows: Seq[(Long, String, Long, Boolean)]): DataFrame =
    rows.toDF("k", "payload", "ver", "deleted")

  test("incremental foreachBatch merge equals one-shot batch merge") {
    val dir = tmpDir("incmerge")
    val basePath = s"$dir/base.parquet"
    val changesDir = s"$dir/changes"
    val base = frame(Seq(
      (1L, "base1", -1L, false),
      (2L, "base2", -1L, false),
      (3L, "base3", -1L, false)))
    graft.io.SingleFile.writeParquetAtomic(base, basePath)
    // batch 1: update k1@10, tombstone k2@10
    // batch 2: LATE update k2@5 (older than the tombstone — must NOT
    //          resurrect), update k1@20, insert k4@7
    val b1 = frame(Seq((1L, "upd1", 10L, false), (2L, "del2", 10L, true)))
    val b2 = frame(Seq((2L, "late2", 5L, false), (1L, "upd1b", 20L, false),
      (4L, "new4", 7L, false)))
    graft.io.SingleFile.writeParquetAtomic(b1, s"$changesDir/b1.parquet")
    graft.io.SingleFile.writeParquetAtomic(b2, s"$changesDir/b2.parquet")

    val stream = spark.readStream
      .schema("k BIGINT, payload STRING, ver BIGINT, deleted BOOLEAN")
      .option("maxFilesPerTrigger", 1) // force one file per micro-batch
      .parquet(changesDir)
    val q = IncrementalMerge.run(spark, stream, basePath,
      Seq("k"), Seq("ver"), "deleted", "inc_merge_spec")
    q.awaitTermination()

    val got = IncrementalMerge.liveView(spark, basePath, "deleted")
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1)))
    // one-shot reference: base + both batches in a single application
    val oneShot = graft.ops.Upsert.latestWins(
        base, b1.unionByName(b2), Seq("k"), Seq("ver"), "deleted")
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq == oneShot.toSeq)
    assert(got.toSeq == Seq((1L, "upd1b"), (3L, "base3"), (4L, "new4")))
  }

  test("a base left renamed aside by a crashed replace is healed, not lost") {
    val dir = tmpDir("incmerge_heal")
    val basePath = s"$dir/base.parquet"
    val changesDir = s"$dir/changes"
    graft.io.SingleFile.writeParquetAtomic(
      frame(Seq((1L, "base1", -1L, false), (2L, "base2", -1L, false))), basePath)
    // a crash between the replace's two renames leaves only the backup
    val fs = new org.apache.hadoop.fs.Path(basePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.rename(new org.apache.hadoop.fs.Path(basePath), new org.apache.hadoop.fs.Path(s"$basePath.bak"))
    graft.io.SingleFile.writeParquetAtomic(frame(Seq((2L, "upd2", 10L, false))),
      s"$changesDir/b1.parquet")

    val stream = spark.readStream
      .schema("k BIGINT, payload STRING, ver BIGINT, deleted BOOLEAN")
      .parquet(changesDir)
    IncrementalMerge.run(spark, stream, basePath, Seq("k"), Seq("ver"), "deleted",
      "inc_merge_heal_spec").awaitTermination()

    val got = IncrementalMerge.liveView(spark, basePath, "deleted")
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq == Seq((1L, "base1"), (2L, "upd2")))
  }
}
