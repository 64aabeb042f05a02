package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions.col
import graft.FixtureGen._

/** CLI round-trips for the reference-parity flags (reference
  * scripts/neura.py): `--skip-video` on validate (video checks default ON,
  * neura.py:89), `--train/--val/--test` on materialize (neura.py:169-171),
  * `--features` on stats (neura.py:118).
  */
class CliFlagsSpec extends SparkSuite {

  private def buildRoot(): String = {
    val root = tmpDir("cliflags")
    val eps = Map(0L -> cleanFrames(0, 10), 1L -> cleanFrames(1, 12),
      2L -> cleanFrames(2, 8))
    dataset(spark, root, eps, videosFor = Set(0L, 1L, 2L),
      metaLengths = Map(0L -> 10L, 1L -> 12L, 2L -> 8L))
    Files.write(Paths.get(s"$root/meta/episodes_stats.jsonl"),
      statsJsonl(eps).getBytes)
    root
  }

  test("validate: video checks default ON (reference CLI), OFF with --skip-video") {
    val root = buildRoot()
    val manifest = s"$root/manifest.parquet"
    cli.Main.run(spark, List("discover", root, manifest))
    // default: the probe path runs; this container has no ffprobe, so every
    // episode degrades to <cam>_video_missing — proving the checks ran
    cli.Main.run(spark, List("validate", manifest, s"$root/meta", s"$root/v1"))
    val v1 = spark.read.parquet(s"$root/v1/episodes.parquet")
    assert(v1.filter(col("ok")).count() === 0)
    val issues = v1.selectExpr("explode(issues.kind)").collect().map(_.getString(0))
    assert(issues.contains("front_video_missing"))
    // --skip-video: same episodes validate clean
    cli.Main.run(spark,
      List("validate", manifest, s"$root/meta", s"$root/v2", "--skip-video"))
    val v2 = spark.read.parquet(s"$root/v2/episodes.parquet")
    assert(v2.filter(col("ok")).count() === 3)
  }

  test("materialize: --train/--val/--test fractions reach the split assignment") {
    val root = buildRoot()
    val normDir = s"$root/norm"
    val out = new java.io.ByteArrayOutputStream()
    def cliRun(args: List[String]): Unit =
      Console.withOut(new java.io.PrintStream(out, true, "UTF-8"))(cli.Main.run(spark, args))
    cliRun(List("align-transform", s"$root/data/chunk-000", normDir, "--no-normalize"))
    def splits(outDir: String, fracs: List[String]): Set[String] = {
      cliRun(List("materialize", normDir, outDir, "--seed", "7") ++ fracs)
      spark.read.parquet(s"$outDir/dataset_index.parquet")
        .select("split").distinct().collect().map(_.getString(0)).toSet
    }
    // degenerate fractions make the wiring unambiguous regardless of hashing
    assert(splits(s"$root/m1",
      List("--train", "1.0", "--val", "0.0", "--test", "0.0")) === Set("train"))
    assert(splits(s"$root/m2",
      List("--train", "0.0", "--val", "0.0", "--test", "1.0")) === Set("test"))
    // the stage lines are plain ASCII, so any stdout encoding shows them
    val lines = out.toString("UTF-8").linesIterator.toSeq
    assert(lines.size === 3, lines)
    lines.foreach(l => assert(l.forall(_ < 128) && l.contains(" -> "), l))
  }

  test("discover: --all prints the FULL stored manifest, not the delta") {
    val root = buildRoot()
    val manifest = s"$root/manifest.parquet"
    cli.Main.run(spark, List("discover", root, manifest))
    // second run has an EMPTY delta; --all must still print all 3 rows from
    // the stored manifest (reference neura.py:60-63 reads the manifest back)
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) {
      cli.Main.run(spark, List("discover", root, manifest, "--all"))
    }
    val printed = out.toString
    assert(printed.contains("manifest: 3 rows"), printed.take(200))
    assert(printed.contains("episode_index"))
  }

  test("stats: --features narrows the reduced feature set") {
    val root = buildRoot()
    val out = s"$root/gs_action.json"
    cli.Main.run(spark, List("stats", s"$root/meta/episodes_stats.jsonl", out,
      "--features", "action"))
    val txt = io.SingleFile.readText(spark, out).get
    assert(txt.contains("\"action\""))
    assert(!txt.contains("observation.state"))
  }
}
