package graft.cli

import org.apache.spark.sql.SparkSession
import graft.stages._

/** CLI mirroring the reference's five subcommands
  * (reference scripts/neura.py:16-211) plus `pipeline` = all five stages in
  * one SparkSession — the stage dataplane stays files on disk (the durable
  * contract), but the containers-and-Makefile choreography collapses into
  * one driver process.
  *
  * Usage:
  *   discover        <dataRoot> <manifestOut> [--full-hash] [--only-chunks c1,c2] [--since ISO8601] [--all] [--stdout]
  *   validate        <manifest> <metaDir> <outDir> [--tolerance N] [--fps F] [--skip-video]
  *   stats           <statsJsonl> <outJson> [--valid-ids path] [--features f1,f2]
  *   align-transform <dataDir> <outDir> [--stats path] [--no-normalize]
  *   materialize     <normDir> <outDir> [--seed s] [--train F] [--val F] [--test F]
  *                   [--videos-root p] [--link mode]
  *   pipeline        <dataRoot> <outRoot> [--skip-video] [--copy-videos]
  *
  * Defaults mirror the reference CLI (scripts/neura.py): video checks are
  * ON unless `--skip-video` (neura.py:89), split fractions 0.8/0.1/0.1
  * (neura.py:169-171), stats features `action,observation.state`
  * (neura.py:118).
  */
object Main {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("graft")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, args.toList)
    finally spark.stop()
  }

  private def flag(args: List[String], name: String): Option[String] =
    args.sliding(2).collectFirst { case `name` :: v :: Nil => v }

  def run(spark: SparkSession, args: List[String]): Unit = args match {
    case "discover" :: dataRoot :: manifestOut :: rest =>
      val cfg = Discover.Config(
        sinceNs = flag(rest, "--since").map(s =>
          java.time.Instant.parse(s).toEpochMilli * 1000000L),
        fullHash = rest.contains("--full-hash"),
        onlyChunks = flag(rest, "--only-chunks").map(_.split(",").toSet))
      val delta = Discover.run(spark, dataRoot, manifestOut, cfg)
      val tableCols = Seq("chunk", "episode_index", "status", "parquet_uri")
      if (rest.contains("--all")) {
        // reference `neura discover --all` (scripts/neura.py:60-63): print
        // the FULL stored manifest, not the delta — same 4 columns, same
        // sort; Polars' table repr truncates long frames, Spark's show(20)
        // is the analogous display (row count printed above it).
        val full = spark.read.parquet(manifestOut)
          .select(tableCols.head, tableCols.tail: _*)
          .orderBy("chunk", "episode_index")
        println(s"manifest: ${full.count()} rows")
        full.show(20, truncate = false)
      } else if (rest.contains("--stdout")) {
        // JSONL delta emission (reference scripts/neura.py:66-74): one JSON
        // object per delta row, reference column order, nulls kept.
        import org.apache.spark.sql.functions.{col, struct, to_json}
        val cols = Seq("episode_index", "chunk", "parquet_uri",
          "video_front_uri", "video_wrist_uri", "exists_front", "exists_wrist",
          "bytes_total", "fingerprint", "fingerprint_algo", "discovered_at",
          "status", "errors").filter(delta.columns.contains)
        delta.orderBy("chunk", "episode_index")
          .select(to_json(struct(cols.map(col): _*),
            Map("ignoreNullFields" -> "false")).as("j"))
          .toLocalIterator().forEachRemaining(r => println(r.getString(0)))
      } else
        println(s"discover: ${delta.count()} delta rows -> $manifestOut")

    case "validate" :: manifest :: metaDir :: outDir :: rest =>
      val cfg = Validate.Config(
        fpsExpected = flag(rest, "--fps").map(_.toDouble).getOrElse(30.0),
        frameTolerance = flag(rest, "--tolerance").map(_.toInt).getOrElse(2),
        // reference CLI default is video checks ON (neura.py:89)
        skipVideo = rest.contains("--skip-video"))
      val (total, ok, fail) = Validate.run(spark, manifest, metaDir, outDir, cfg)
      println(s"validate: total=$total ok=$ok fail=$fail -> $outDir")

    case "stats" :: statsJsonl :: outJson :: rest =>
      val features = flag(rest, "--features")
        .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
        .getOrElse(Stats.DefaultFeatures)
      val gs = Stats.run(spark, statsJsonl, outJson, features,
        flag(rest, "--valid-ids"))
      println(s"stats: episodes_used=${gs.episodesUsed} total_frames=${gs.totalFrames} -> $outJson")

    case "align-transform" :: dataDir :: outDir :: rest =>
      val written = AlignTransform.run(spark, dataDir, outDir,
        flag(rest, "--stats"), normalize = !rest.contains("--no-normalize"))
      println(s"align-transform: ${written.size} episodes -> $outDir")

    case "materialize" :: normDir :: outDir :: rest =>
      val cfg = Materialize.Config(
        seed = flag(rest, "--seed").getOrElse("42"),
        train = flag(rest, "--train").map(_.toDouble).getOrElse(0.8),
        validation = flag(rest, "--val").map(_.toDouble).getOrElse(0.1),
        test = flag(rest, "--test").map(_.toDouble).getOrElse(0.1),
        videosRoot = flag(rest, "--videos-root"),
        linkVideos = flag(rest, "--link").getOrElse("symlink"))
      val index = Materialize.run(spark, normDir, outDir, cfg)
      println(s"materialize: ${index.count()} episodes indexed -> $outDir")

    case "pipeline" :: dataRoot :: outRoot :: rest =>
      val manifest = s"$outRoot/manifest/episodes.parquet"
      val validateOut = s"$outRoot/validate"
      val statsOut = s"$outRoot/global_stats.json"
      val normDir = s"$outRoot/normalized"
      val matDir = s"$outRoot/dataset"
      run(spark, List("discover", dataRoot, manifest))
      run(spark, List("validate", manifest, s"$dataRoot/meta", validateOut) ++
        (if (rest.contains("--skip-video")) List("--skip-video") else Nil))
      // stats from per-episode stats JSONL when present, else recompute
      val statsJsonl = s"$dataRoot/meta/episodes_stats.jsonl"
      val fs = new org.apache.hadoop.fs.Path(statsJsonl)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(new org.apache.hadoop.fs.Path(statsJsonl)))
        run(spark, List("stats", statsJsonl, statsOut,
          "--valid-ids", s"$validateOut/validated_episodes.jsonl"))
      else {
        Stats.runFromFrames(spark, s"$dataRoot/data", statsOut, Stats.DefaultFeatures,
          Some(s"$validateOut/validated_episodes.jsonl"))
        println(s"stats: recomputed from frames -> $statsOut")
      }
      run(spark, List("align-transform", s"$dataRoot/data", normDir, "--stats", statsOut))
      run(spark, List("materialize", normDir, matDir,
        "--videos-root", s"$dataRoot/videos") ++
        (if (rest.contains("--copy-videos")) List("--link", "copy") else Nil))

    case other =>
      System.err.println(s"unknown command: ${other.mkString(" ")}")
      System.err.println("commands: discover validate stats align-transform materialize pipeline")
      sys.exit(2)
  }
}
