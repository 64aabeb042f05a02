package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.core.Schemas
import graft.io.Episodes
import graft.stages.Validate

/** Stage 2 oracle tests: planted defects must raise exactly the reference's
  * issue kinds (validate_one.py:106-122).
  */
class ValidateSpec extends SparkSuite {
  import FixtureGen._
  import graft.core.Models.Frame

  private lazy val root = tmpDir("validate_fixture")

  private lazy val issuesByEpisode: Map[Long, (Boolean, Set[String])] = {
    val episodes: Map[Long, Seq[Frame]] = Map(
      0L -> cleanFrames(0, 30),
      1L -> Defects.unsorted(1, 30),
      2L -> Defects.dupFrames(2, 30),
      3L -> Defects.frameStart1(3, 30),
      4L -> Defects.wrongWidth(4, 30),
      5L -> Defects.epIdxMismatch(5, 30),
      6L -> Defects.nanTimestamp(6, 30))
    dataset(spark, root, episodes,
      metaLengths = Map(0L -> 30L, 1L -> 30L, 2L -> 31L, 3L -> 30L,
        4L -> 30L, 5L -> 30L, 6L -> 30L, 7L -> 99L))
    // episode 7: nulls in required (written directly with a null timestamp
    // and rows off vs meta by > tolerance)
    val withNull = cleanFrames(7, 10).map(f => Row(
      f.action, f.observation_state, f.timestamp, f.frame_index,
      f.episode_index, f.index, f.task_index))
      .updated(3, {
        val f = cleanFrames(7, 10)(3)
        Row(f.action, f.observation_state, null, f.frame_index,
          f.episode_index, f.index, f.task_index)
      })
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(withNull, 1), Schemas.episodeSchema)
    graft.io.SingleFile.writeParquetAtomic(df, s"$root/data/chunk-000/episode_000007.parquet")

    val raw = Episodes.readDataDir(spark, s"$root/data")
    val aggs = Validate.episodeAggregates(raw)
    val meta = Validate.loadEpisodesMeta(spark, s"$root/meta/episodes.jsonl")
    val v = Validate.verdicts(aggs, meta, Validate.Config())
    v.select(col("episode_index"), col("ok"), col("issues.kind"))
      .collect()
      .map(r => (r.getLong(0), (r.getBoolean(1), r.getSeq[String](2).toSet)))
      .toMap
  }

  test("clean episode passes with no issues") {
    assert(issuesByEpisode(0L) === ((true, Set.empty[String])))
  }
  test("unsorted frames flagged frame_index_not_sorted") {
    val (ok, kinds) = issuesByEpisode(1L)
    assert(!ok && kinds.contains("frame_index_not_sorted"))
    // the swap also disturbs timestamps
    assert(kinds.contains("timestamp_not_sorted"))
  }
  test("duplicate frame_index flagged not-strictly-increasing") {
    val (ok, kinds) = issuesByEpisode(2L)
    assert(!ok && kinds.contains("frame_index_not_sorted"))
  }
  test("frame start != 0 flagged frame_index_start") {
    val (ok, kinds) = issuesByEpisode(3L)
    assert(!ok && kinds === Set("frame_index_start"))
  }
  test("7-wide action flagged action_width") {
    val (ok, kinds) = issuesByEpisode(4L)
    assert(!ok && kinds === Set("action_width"))
  }
  test("episode_index mismatch flagged") {
    val (ok, kinds) = issuesByEpisode(5L)
    assert(!ok && kinds === Set("episode_index_mismatch"))
  }
  test("NaN timestamp trips the timestamp order check") {
    // A NaN breaks `diff() >= 0 all` in the reference (NaN comparisons are
    // false in polars); Spark orders NaN above all values so the row AFTER
    // the NaN fails `ts >= lag(ts)`. Either way: timestamp_not_sorted.
    val (ok, kinds) = issuesByEpisode(6L)
    assert(!ok && kinds === Set("timestamp_not_sorted"))
  }
  test("null in required column + rows off vs meta flagged") {
    val (ok, kinds) = issuesByEpisode(7L)
    assert(!ok)
    assert(kinds.contains("nulls_in_required_columns"))
    assert(kinds.contains("rows_vs_meta"))
  }

  /** A discover-shaped manifest over the fixture's episode files plus one
    * missing parquet (episode 99), each row with the status `statusOf`
    * gives its episode.
    */
  private def writeManifest(path: String, statusOf: Long => String): Unit = {
    import spark.implicits._
    val files = Episodes.listEpisodeFiles(spark, s"$root/data") :+
      s"$root/data/chunk-000/episode_000099.parquet"
    val mdf = files.map { f =>
      val ep = "episode_(\\d+)".r.findFirstMatchIn(f).get.group(1).toLong
      (ep, "000", f, null.asInstanceOf[String], null.asInstanceOf[String],
        false, false, 0L, "fp", "algo", "now", statusOf(ep), null.asInstanceOf[String])
    }.toDF("episode_index", "chunk", "parquet_uri", "video_front_uri",
      "video_wrist_uri", "exists_front", "exists_wrist", "bytes_total",
      "fingerprint", "fingerprint_algo", "discovered_at", "status", "errors")
    graft.io.SingleFile.writeParquetAtomic(mdf, path)
  }

  test("full run writes the four sinks and counts match") {
    import spark.implicits._
    issuesByEpisode // builds the fixture
    val out = tmpDir("validate_out")
    val manifest = tmpDir("manifest_dir") + "/episodes.parquet"
    writeManifest(manifest, _ => "NEW")

    val (total, okN, failN) = Validate.run(spark, manifest, s"$root/meta", out)
    assert(total === 9)  // 8 present + 1 missing
    assert(okN === 1)    // only episode 0 is clean
    assert(failN === 8)
    val failures = spark.read.json(s"$out/failures.jsonl")
    assert(failures.count() === 8)
    val validated = spark.read.json(s"$out/validated_episodes.jsonl")
    assert(validated.select("episode_index").as[Long].collect().toSet === Set(0L))
    val summary = graft.io.SingleFile.readText(spark, s"$out/summary.yaml").get
    assert(summary === "total: 9\nok: 1\nfail: 8\n")
  }

  test("a rerun in the same session validates the manifest as it is now") {
    // a cached manifest read would make every later run in the session
    // see the first run's actionable rows
    issuesByEpisode
    val manifest = tmpDir("manifest_rerun") + "/episodes.parquet"
    def run(statusOf: Long => String): (Long, Long, Long) = {
      writeManifest(manifest, statusOf)
      val out = tmpDir("validate_rerun")
      val result = Validate.run(spark, manifest, s"$root/meta", out)
      assert(spark.sharedState.cacheManager.isEmpty, "Validate.run left a cached table")
      val summary = graft.io.SingleFile.readText(spark, s"$out/summary.yaml").get
      assert(summary === s"total: ${result._1}\nok: ${result._2}\nfail: ${result._3}\n")
      result
    }
    spark.catalog.clearCache()
    assert(run(_ => "NEW") === ((9L, 1L, 8L)))
    // only the clean episode 0 and the 7-wide episode 4 are actionable now
    assert(run(ep => if (ep == 0L || ep == 4L) "CHANGED" else "UNCHANGED") === ((2L, 1L, 1L)))
    assert(run(_ => "UNCHANGED") === ((0L, 0L, 0L)))
  }
}
