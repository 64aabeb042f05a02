package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.apache.spark.sql.types.StructType

/** Empirical probe for `dropDuplicatesWithinWatermark` state EVICTION and
  * duplicate RE-ADMISSION (the q203 contract). Findings:
  *  1. State expiry = floor_ms(first_ts) + delay_ms; a duplicate never
  *     extends it.
  *  2. Eviction runs at batch END against the batch's PLANNING watermark,
  *     inclusive at the ms boundary — so same-batch duplicates still
  *     drop; re-admission starts the next batch.
  *  3. (Resolved; pinned by q204 and q210) The operator carries TWO
  *     watermark values per batch: late INPUT filtering uses the PREVIOUS
  *     batch's watermark, eviction uses the CURRENT batch's. This probe's
  *     sub-watermark rows were all in the SECOND batch — whose
  *     late-filter watermark was still the first batch's 0 — hence
  *     admitted; third-batch late rows (new key or not) are
  *     dropped by the second batch's watermark. q203's fixture keeps
  *     every row above both values, so the gate rests only on findings
  *     1–2.
  *
  * Batches: event_id % 3 = 0 → batch 1, % 3 = 1 → batch 2, % 3 = 2 →
  * batch 3 (mtime-ordered files, maxFilesPerTrigger=1).
  */
object DedupEvictProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val delayUs = 3600L * 1000000L // 1 h watermark (= dedup window)
    val base = 1700000000L * 1000000L
    val max1Us = base + 86400L * 1000000L // batch-1 max (id%3==0)
    val wm1Us = (max1Us / 1000L - delayUs / 1000L) * 1000L
    // First finding: the record's expiry is first_ts + delay (the
    // documented "duplicates within the watermark delay" guarantee), so
    // the boundary sits at first_ts = wm1 − delay:
    val cases = Seq(
      (101L, wm1Us - delayUs - 60000000L), // expiry 1min below wm1
      (102L, wm1Us - delayUs - 2000L),     // expiry 2ms below
      (103L, wm1Us - delayUs - 1000L),     // expiry 1ms below
      (104L, wm1Us - delayUs - 500L),      // expiry 0.5ms below
      (105L, wm1Us - delayUs),             // expiry exactly at wm1
      (106L, wm1Us - delayUs + 1000L))     // expiry 1ms above → live
    val rows =
      cases.flatMap { case (u, t) => Seq(
        (u * 30L, t, u, "view"),           // batch 1 first-seen (id%3=0)
        (u * 30L + 1L, max1Us - 1000000L, u, "view"), // batch 2 dup (%3=1)
        (u * 30L + 2L, max1Us - 500000L, u, "view"))  // batch 3 dup (%3=2)
      } ++ Seq(
        (900L, max1Us, 900L, "view"),       // batch-1 max setter (%3=0)
        (901L, max1Us + 1000000L, 901L, "view"), // batch-2 wm push (%3=1)
        (902L, max1Us + 2000000L, 902L, "view")) ++ // batch-3 wm push (%3=2)
      // late-row filter boundary: FIRST occurrences arriving in batch 2
      // with ts around wm1 (batch 2's planning watermark) — which are
      // dropped as late before dedup ever sees them?
      Seq(
        (6031L, wm1Us - 1000L, 201L, "view"),  // 1ms below wm1 (%3=1)
        (6061L, wm1Us - 500L, 202L, "view"),   // 0.5ms below
        (6091L, wm1Us, 203L, "view"),          // exactly at
        (6121L, wm1Us + 500L, 204L, "view"),   // 0.5ms above
        (6151L, wm1Us + 1000L, 205L, "view"),  // 1ms above
        (6181L, wm1Us - 7200L * 1000000L, 206L, "view"), // 2h below
        (6211L, base - 86400L * 1000000L, 207L, "view")) // a day before base
    import spark.implicits._
    val df = rows.toDF("event_id", "ts_us", "user_id", "event_type")
      .select(col("event_id"), expr("timestamp_micros(ts_us)").as("ts"),
        col("user_id"), col("event_type"), lit(1.0).as("value"),
        lit("{}").as("props"))
    val tmp = java.nio.file.Files.createTempDirectory("ddprobe").toString
    for (b <- 0 to 2) {
      graft.io.SingleFile.writeParquetAtomic(
        df.filter(col("event_id") % 3 === b), s"$tmp/in/part$b.parquet")
      java.nio.file.Files.setLastModifiedTime(
        java.nio.file.Paths.get(s"$tmp/in", s"part$b.parquet"),
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 10000 + b * 2000))
    }
    val schema = graft.streaming.EventStream.eventSchema
    val tsType = spark.read.parquet(s"$tmp/in/part0.parquet").schema("ts").dataType
    val stream = spark.readStream
      .schema(StructType(schema.fields.map(f =>
        if (f.name == "ts") f.copy(dataType = tsType) else f)))
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$tmp/in")
    val out = stream
      .withWatermark("ts", "1 hour")
      .select("user_id", "ts", "event_id")
      .dropDuplicatesWithinWatermark("user_id")
    val q = out.writeStream.format("parquet")
      .outputMode(OutputMode.Append)
      .option("path", s"$tmp/out")
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    println(s"[probe] wm1Us=$wm1Us batches=" +
      q.recentProgress.count(_.numInputRows > 0))
    q.recentProgress.foreach { pr =>
      val so = pr.stateOperators
      println(s"[probe] batch=${pr.batchId} in=${pr.numInputRows} " +
        s"wm=${pr.eventTime.get("watermark")} " +
        (if (so.nonEmpty) s"state=${so(0).numRowsTotal} upd=${so(0).numRowsUpdated} " +
          s"rm=${so(0).numRowsRemoved} lateDrop=${so(0).numRowsDroppedByWatermark}"
         else ""))
    }
    spark.read.parquet(s"$tmp/out").orderBy("user_id", "event_id")
      .collect().foreach { r =>
        println(s"[probe] user=${r.getLong(0)} id=${r.getLong(2)} " +
          s"ts_us=${r.getTimestamp(1).getTime}")
      }
    cases.foreach { case (u, t) =>
      println(s"[probe] case user=$u first_ts=$t wm1_minus_ts=${wm1Us - t}")
    }
    org.apache.spark.sql.graft.GraftBridge.stopStateStore()
    spark.stop()
  }
}
