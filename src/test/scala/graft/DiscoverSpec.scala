package graft

import java.nio.file.{Files, Paths, StandardOpenOption}
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import graft.core.{Schemas, Status}
import graft.io.Episodes
import graft.stages.Discover

/** Stage 1 oracle tests: CDC statuses across fresh scan / re-scan / change /
  * delete / orphan scenarios (discover_refactored.py:79-170).
  */
class DiscoverSpec extends SparkSuite {
  import FixtureGen._

  private def statusMap(df: org.apache.spark.sql.DataFrame): Map[Long, String] =
    df.select("episode_index", "status").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap

  test("incremental discover lifecycle: NEW → UNCHANGED → CHANGED/DELETED + orphan") {
    val root = tmpDir("disc_root")
    val manifest = s"$root/manifest/episodes.parquet"
    dataset(spark, root,
      Map(0L -> cleanFrames(0, 10), 1L -> cleanFrames(1, 12), 2L -> cleanFrames(2, 8)),
      videosFor = Set(0L, 1L)) // episode 2 has no videos → MISSING_SIDE

    // orphan video: episode 9 mp4 with no parquet
    val orphanDir = Paths.get(s"$root/videos/chunk-000/observation.images.front")
    Files.createDirectories(orphanDir)
    Files.write(orphanDir.resolve("episode_000009.mp4"), "orphan".getBytes)

    // --- scan 1: everything new
    val d1 = Discover.run(spark, root, manifest)
    val s1 = statusMap(spark.read.parquet(manifest))
    assert(s1 === Map(0L -> Status.New, 1L -> Status.New,
      2L -> Status.MissingSide, 9L -> Status.OrphanVideo))
    // delta = everything (nothing UNCHANGED yet)
    assert(d1.count() === 4)

    // --- scan 2: nothing changed → parquet-backed episodes UNCHANGED
    val d2 = Discover.run(spark, root, manifest)
    val s2 = statusMap(spark.read.parquet(manifest))
    assert(s2(0L) === Status.Unchanged)
    assert(s2(1L) === Status.Unchanged)
    assert(s2(2L) === Status.Unchanged)
    assert(s2(9L) === Status.OrphanVideo)
    assert(statusMap(d2).keySet === Set(9L))

    // --- scan 3: modify ep 0, delete ep 1 (parquet AND videos — otherwise
    // its leftover mp4s would correctly become ORPHAN_VIDEO rows)
    writeEpisode(spark, cleanFrames(0, 11), s"$root/data/chunk-000/episode_000000.parquet")
    Files.delete(Paths.get(s"$root/data/chunk-000/episode_000001.parquet"))
    Seq("observation.images.front", "observation.images.wrist").foreach { cam =>
      Files.deleteIfExists(Paths.get(s"$root/videos/chunk-000/$cam/episode_000001.mp4"))
    }
    val d3 = Discover.run(spark, root, manifest)
    val s3 = statusMap(spark.read.parquet(manifest))
    assert(s3(0L) === Status.New)       // fingerprint differs → keeps NEW status
    assert(s3(1L) === Status.Deleted)   // tombstone
    assert(s3(2L) === Status.Unchanged)
    val delta3 = statusMap(d3)
    assert(delta3.keySet === Set(0L, 1L, 9L))
  }

  test("manifest schema matches the declared contract") {
    // the schema as written, nullability included (a read makes every
    // column nullable): only the episode index and the byte total are
    // required, whichever row kinds the run holds and whether any video
    // is listed at all
    val contract = StructType(Schemas.manifestSchema.map(f =>
      f.copy(nullable = !Set("episode_index", "bytes_total")(f.name))))
    Seq(
      ("no video", Set.empty[Long], false, Set(Status.MissingSide)),
      ("videos, no orphan", Set(0L), false, Set(Status.New)),
      ("an orphan video", Set(0L), true, Set(Status.New, Status.OrphanVideo))
    ).foreach { case (corpus, videosFor, orphan, statuses) =>
      val root = tmpDir("disc_schema")
      val manifest = s"$root/manifest/episodes.parquet"
      dataset(spark, root, Map(0L -> cleanFrames(0, 5)), videosFor = videosFor)
      if (orphan) {
        val dir = Paths.get(s"$root/videos/chunk-000/observation.images.wrist")
        Files.write(dir.resolve("episode_000003.mp4"), "orphan".getBytes)
      }
      Discover.run(spark, root, manifest)
      assert(statusMap(spark.read.parquet(manifest)).values.toSet === statuses, corpus)
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
        new HPath(manifest), spark.sparkContext.hadoopConfiguration))
      val written = try reader.getFileMetaData.getKeyValueMetaData
        .get("org.apache.spark.sql.parquet.row.metadata") finally reader.close()
      assert(DataType.fromJson(written) === contract, corpus)
    }
  }

  test("since filter skips old files; only-chunks restricts listing") {
    val root = tmpDir("disc_since")
    dataset(spark, root, Map(0L -> cleanFrames(0, 5)))
    // future cutoff → nothing listed
    val files = Episodes.list(spark, s"$root/data",
      sinceNs = Some(System.currentTimeMillis() * 1000000L + 86400L * 1000000000L)).files
    assert(files.isEmpty)
    val none = Episodes.list(spark, s"$root/data", onlyChunks = Some(Set("doesnotexist"))).files
    assert(none.isEmpty)
  }

  test("fingerprint is stable across runs and sensitive to content") {
    val root = tmpDir("disc_fp")
    dataset(spark, root, Map(0L -> cleanFrames(0, 6)))
    val manifest1 = s"$root/m1.parquet"
    val manifest2 = s"$root/m2.parquet"
    Discover.run(spark, root, manifest1)
    Discover.run(spark, root, manifest2)
    val fp1 = spark.read.parquet(manifest1).select("fingerprint").head.getString(0)
    val fp2 = spark.read.parquet(manifest2).select("fingerprint").head.getString(0)
    assert(fp1 === fp2)
  }

  test("discover --stdout emits one JSON delta line per row (neura.py:66-74 contract)") {
    val root = tmpDir("disc_stdout")
    val manifest = s"$root/manifest/episodes.parquet"
    dataset(spark, root, Map(0L -> cleanFrames(0, 5), 1L -> cleanFrames(1, 7)),
      videosFor = Set(0L, 1L))

    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
      graft.cli.Main.run(spark, List("discover", root, manifest, "--stdout"))
    }
    val lines = buf.toString("UTF-8").split("\n").filter(_.trim.nonEmpty).toSeq
    assert(lines.size === 2) // both episodes are NEW → both in the delta
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val parsed = lines.map(mapper.readTree)
    // reference column surface, incl. null-valued keys kept
    Seq("episode_index", "chunk", "parquet_uri", "exists_front", "exists_wrist",
      "bytes_total", "fingerprint", "fingerprint_algo", "discovered_at", "status")
      .foreach(k => assert(parsed.forall(_.has(k)), s"missing key $k"))
    assert(parsed.map(_.get("episode_index").asLong).toSet === Set(0L, 1L))
    assert(parsed.forall(_.get("status").asText == core.Status.New))

    // second scan: no changes → empty delta → no JSONL lines
    val buf2 = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf2, true, "UTF-8")) {
      graft.cli.Main.run(spark, List("discover", root, manifest, "--stdout"))
    }
    assert(buf2.toString("UTF-8").split("\n").forall(_.trim.isEmpty))
  }
}
