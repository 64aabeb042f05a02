package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.core.{FeatureStats, GlobalStats, Schemas, StatsDoc}
import graft.io.{Episodes, SingleFile}
import graft.stages.AlignTransform

/** Stage 4 oracle tests: dirty episodes come out sorted, deduped (keep
  * first), reindexed 0..N-1, width-enforced, normalized.
  */
class AlignTransformSpec extends SparkSuite {
  import FixtureGen._
  import graft.core.Models.Frame

  test("sort + dedup-keep-first + reindex on a dirty episode") {
    val root = tmpDir("align_fix")
    // frames out of order with a duplicate frame_index whose FIRST
    // occurrence (in file order) carries the original payload
    val clean = cleanFrames(0, 10)
    val dirty = Seq(clean(3), clean(1), clean(1).copy(action = clean(1).action.map(_ + 500f)),
      clean(0), clean(2), clean(5))
    dataset(spark, root, Map(0L -> dirty))
    val raw = Episodes.readDataDir(spark, s"$root/data")
    val out = AlignTransform.transformFrames(raw, None, normalize = false)
      .orderBy("frame_index")

    val rows = out.select(col("frame_index"), col("timestamp"),
      element_at(col("action"), 1).as("a0")).collect()
    // 5 distinct original frame_index values (3,1,0,2,5) → reindexed 0..4
    assert(rows.map(_.getLong(0)).toSeq === Seq(0L, 1L, 2L, 3L, 4L))
    // sorted by original frame_index: 0,1,2,3,5 → timestamps in that order
    assert(rows.map(_.getDouble(1)).toSeq ===
      Seq(clean(0), clean(1), clean(2), clean(3), clean(5)).map(_.timestamp))
    // dedup kept the FIRST in-file occurrence of frame 1 (original payload)
    val a0OfFrame1 = rows(1).getAs[Float]("a0")
    assert(a0OfFrame1 === clean(1).action.head)
  }

  test("dedup keeps the first of several null-frame_index rows") {
    val root = tmpDir("align_null_fi")
    val f = cleanFrames(0, 4)
    // file order: null (ts 0), frame 1, null (ts 2), frame 3
    val rows = f.map(x => org.apache.spark.sql.Row(x.action, x.observation_state, x.timestamp,
      if (x.frame_index % 2 == 0) null else x.frame_index, x.episode_index, x.index, x.task_index))
    SingleFile.writeParquetAtomic(spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), Schemas.episodeSchema),
      s"$root/data/chunk-000/episode_000000.parquet")
    val out = AlignTransform.transformFrames(Episodes.readDataDir(spark, s"$root/data"), None,
      normalize = false).orderBy("frame_index").select("frame_index", "timestamp").collect()
    assert(out.map(r => (r.getLong(0), r.getDouble(1))).toSeq ===
      Seq(0L -> f(0).timestamp, 1L -> f(1).timestamp, 2L -> f(3).timestamp))
  }

  test("width filter drops rows with wrong vector width") {
    val root = tmpDir("align_width")
    val clean = cleanFrames(0, 6)
    val mixed = clean.take(3).map(f => f.copy(action = f.action.take(7))) ++ clean.drop(3)
    dataset(spark, root, Map(0L -> mixed))
    val raw = Episodes.readDataDir(spark, s"$root/data")
    val out = AlignTransform.transformFrames(raw, None, normalize = false)
    assert(out.count() === 3)
  }

  test("z-score normalization matches (v-mean)/std with std=0 → divide by 1") {
    val root = tmpDir("align_norm")
    val frames = cleanFrames(0, 4)
    dataset(spark, root, Map(0L -> frames))
    val mean = (1 to 8).map(_.toDouble)
    val std = Seq(2.0, 2.0, 2.0, 0.0, 2.0, 2.0, 2.0, 2.0) // dim 4 unscaled
    val gs = GlobalStats(1, 4, "test", Map(
      "action" -> FeatureStats(4, mean, std, mean, mean),
      Schemas.ObsStateStorage -> FeatureStats(4, mean, std, mean, mean)))
    val raw = Episodes.readDataDir(spark, s"$root/data")
    val out = AlignTransform.transformFrames(raw, Some(gs), normalize = true)
      .orderBy("frame_index")
    val got = out.select(col("action")).head().getSeq[Float](0)
    val expected = frames.head.action.zipWithIndex.map { case (v, i) =>
      ((v - mean(i)) / (if (std(i) != 0) std(i) else 1.0)).toFloat
    }
    assert(got === expected)
  }

  test("malformed stats (wrong width) silently skips normalization") {
    val root = tmpDir("align_badstats")
    val frames = cleanFrames(0, 4)
    dataset(spark, root, Map(0L -> frames))
    val gs = GlobalStats(1, 4, "test", Map(
      "action" -> FeatureStats(4, Seq(1.0, 2.0), Seq(1.0, 1.0), Seq(0.0), Seq(9.9))))
    val raw = Episodes.readDataDir(spark, s"$root/data")
    val out = AlignTransform.transformFrames(raw, Some(gs), normalize = true)
      .orderBy("frame_index")
    assert(out.select("action").head().getSeq[Float](0) === frames.head.action)
  }

  test("full run writes one parquet per episode with the original name") {
    // episodes 5 and 6: all rows have 7-wide vectors -> every row filtered
    // -> the output files must still exist, empty (reference writes
    // unconditionally)
    def corpus(allFiltered: Seq[Long]): String = {
      val root = tmpDir("align_run")
      dataset(spark, root, Map(0L -> cleanFrames(0, 8), 3L -> cleanFrames(3, 5)) ++
        allFiltered.map(e => e -> Defects.wrongWidth(e, 4)))
      root
    }
    val oneFiltered = corpus(Seq(5L))
    val root = corpus(Seq(5L, 6L))
    val outDir = tmpDir("align_out")
    // the output of an episode no longer in the input
    Files.copy(Paths.get(s"$root/data/chunk-000/episode_000000.parquet"),
      Paths.get(s"$outDir/episode_000009.parquet"))

    val (_, oneFilteredJobs) =
      jobsOf(AlignTransform.run(spark, s"$oneFiltered/data", tmpDir("align_out1"), None))
    val (written, jobs) = jobsOf(AlignTransform.run(spark, s"$root/data", outDir, None))
    val names = Seq(0, 3, 5, 6).map(e => f"episode_$e%06d.parquet")
    assert(written.map(_.split("/").last) === names)
    assert(new java.io.File(outDir).list().filter(_.endsWith(".parquet")).sorted.toSeq === names)
    // the shuffle-map job and the write job; the zero-row files are
    // written on the driver, with no job, however many episodes need one
    assert(jobs === 2)
    assert(jobs === oneFilteredJobs)
    val ep0 = spark.read.parquet(written.head)
    assert(ep0.columns.toSet === Schemas.RequiredEpisodeCols.toSet)
    assert(ep0.count() === 8)
    Seq(5, 6).foreach { e =>
      val empty = spark.read.parquet(f"$outDir/episode_$e%06d.parquet")
      assert(empty.count() === 0)
      assert(empty.schema === ep0.schema)
      assert(empty.columns.toSeq === Schemas.episodeSchema.fieldNames.toSeq)
    }
  }

  test("two source files with one episode file name are refused before any write") {
    val root = tmpDir("align_shared_name")
    val sources = Seq("000" -> 5, "001" -> 7).map { case (chunk, n) =>
      val path = s"$root/data/chunk-$chunk/episode_000001.parquet"
      writeEpisode(spark, cleanFrames(1, n), path)
      path
    }
    val outDir = tmpDir("align_shared_name_out")
    val e = intercept[IllegalArgumentException](AlignTransform.run(spark, s"$root/data", outDir, None))
    assert(e.getMessage.contains("share an episode file name"), e.getMessage)
    sources.foreach(p => assert(e.getMessage.contains(p), e.getMessage))
    assert(new java.io.File(outDir).list().isEmpty)
  }

  test("a session maxRecordsPerFile cap drops no frame of an episode file") {
    val root = tmpDir("align_cap")
    dataset(spark, root, Map(0L -> cleanFrames(0, 40)))
    val outDir = tmpDir("align_cap_out")
    val written = withConf("spark.sql.files.maxRecordsPerFile" -> "10") {
      AlignTransform.run(spark, s"$root/data", outDir, None)
    }
    assert(spark.read.parquet(written.head).count() === 40)
  }

  test("writePerEpisode clusters unclustered input: one file per episode, every row, in order") {
    val root = tmpDir("align_scattered")
    val episodes = Map(0L -> cleanFrames(0, 30), 1L -> cleanFrames(1, 25), 2L -> cleanFrames(2, 20))
    dataset(spark, root, episodes)
    val files = Episodes.list(spark, s"$root/data").uris
    // each episode's frames, last first, dealt round-robin over 3 partitions
    val scattered = Episodes.readRaw(spark, files).orderBy(col("frame_index").desc).repartition(3)
    assert(scattered.rdd.getNumPartitions === 3)
    val outDir = tmpDir("align_scattered_out")
    val written = Episodes.writePerEpisode(scattered, outDir, files)
    val names = episodes.keys.toSeq.sorted.map(e => f"episode_$e%06d.parquet")
    assert(written.map(_.split("/").last) === names)
    assert(new java.io.File(outDir).list().filter(_.endsWith(".parquet")).sorted.toSeq === names)
    episodes.foreach { case (e, frames) =>
      val got = spark.read.parquet(f"$outDir/episode_$e%06d.parquet")
        .select("frame_index").collect().map(_.getLong(0)).toSeq
      assert(got === frames.map(_.frame_index), s"episode $e")
    }
  }

  test("stats doc round-trip: render → parse") {
    val gs = GlobalStats(10, 300, "src", Map(
      "action" -> FeatureStats(300, Seq(1.5, 2.0), Seq(0.1, 0.2), Seq(0.0, 1.0), Seq(3.0, 4.0))))
    val text = StatsDoc.render(gs, Seq("action"), "note")
    val parsed = StatsDoc.parse(text).get
    assert(parsed.features("action").mean === Seq(1.5, 2.0))
    assert(parsed.episodesUsed === 10)
    assert(StatsDoc.parse("not json{{{") === None)
    assert(StatsDoc.parse("""{"action": {"mean": [1], "std": "bad"}}""").get.features === Map.empty)
  }
}
