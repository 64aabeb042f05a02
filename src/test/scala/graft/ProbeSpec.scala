package graft

import org.apache.spark.sql.functions._
import graft.ops.Probe
import graft.stages.Validate

/** Video-probe operator tests: fraction parsing, graceful degrade, and the
  * validate stage's video-check integration (no ffmpeg in this container →
  * every probe degrades to `*_video_missing`, the reference's None path).
  */
class ProbeSpec extends SparkSuite {
  import FixtureGen._

  test("fps fraction parsing with zero-denominator guard") {
    assert(Probe.rateToDouble("30000/1001").exists(f => math.abs(f - 29.97) < 0.01))
    assert(Probe.rateToDouble("30/1").contains(30.0))
    assert(Probe.rateToDouble("30/0").contains(30.0)) // denom 0 → 1
    assert(Probe.rateToDouble("banana") === None)
    assert(Probe.rateToDouble(null) === None)
    assert(Probe.rateToDouble("1/a") === None)
  }

  test("ffprobe on a fake file returns None (graceful degrade)") {
    val f = java.nio.file.Paths.get(tmpDir("fake"), "fake.mp4")
    java.nio.file.Files.write(f, "not a video".getBytes)
    assert(Probe.ffprobe(f.toString) === None)
    assert(Probe.ffprobe("/nonexistent/file.mp4") === None)
  }

  test("probe worker degrades identically to one-shot without a binary") {
    val w = new Probe.Worker()
    try {
      // the worker shell stays alive across per-file failures (exit 127 =
      // ffprobe missing) — every probe degrades to None, never crashes
      (1 to 5).foreach(i => assert(w.probe(s"/nonexistent/v$i.mp4") === None))
      assert(w.probe(null) === None)
      assert(w.probe("/tmp/has\nnewline.mp4") === None) // one-shot fallback
    } finally w.close()
    w.close() // idempotent
  }

  test("probe worker speaks the full line protocol against a stub ffprobe") {
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.PosixFilePermissions
    val binDir = Paths.get(tmpDir("graft_stub_bin"))
    val stub = binDir.resolve("ffprobe")
    // last arg is the path; emit multi-line JSON exactly like the real tool
    Files.write(stub,
      ("#!/bin/sh\n" +
        "for last; do :; done\n" +
        "case \"$last\" in *bad*) exit 1;; esac\n" +
        "cat <<EOF\n" +
        "{\n  \"streams\": [{\n    \"nb_frames\": \"100\",\n" +
        "    \"r_frame_rate\": \"30000/1001\",\n" +
        "    \"avg_frame_rate\": \"30/1\",\n    \"duration\": \"3.34\"\n" +
        "  }]\n}\nEOF\n").getBytes("UTF-8"))
    Files.setPosixFilePermissions(stub, PosixFilePermissions.fromString("rwxr-xr-x"))
    val w = new Probe.Worker(Some(binDir.toString))
    try {
      val m = w.probe("/tmp/clip_ok.mp4")
      assert(m.isDefined, "stub probe must parse")
      assert(m.get.nbFrames === Some(100L))
      assert(m.get.avgFps === Some(30.0))
      assert(m.get.duration === Some(3.34))
      // a failing file mid-stream must NOT poison the worker
      assert(w.probe("/tmp/clip_bad.mp4") === None)
      assert(w.probe("/tmp/clip_ok2.mp4").isDefined)
      // many sequential probes over ONE worker (the amortization claim)
      assert((1 to 200).forall(i => w.probe(s"/tmp/clip_$i.mp4").isDefined))
    } finally w.close()
  }

  test("validate with video checks flags missing/unreadable videos") {
    val root = tmpDir("probe_fix")
    dataset(spark, root, Map(0L -> cleanFrames(0, 10)),
      videosFor = Set(0L), metaLengths = Map(0L -> 10L))
    val manifest = s"$root/m.parquet"
    graft.stages.Discover.run(spark, root, manifest)
    val out = tmpDir("probe_out")
    val (total, ok, fail) = Validate.run(spark, manifest, s"$root/meta", out,
      Validate.Config(skipVideo = false))
    assert(total === 1 && ok === 0 && fail === 1)
    val issues = spark.read.parquet(s"$out/episodes.parquet")
      .select(explode(col("issues.kind"))).collect().map(_.getString(0)).toSet
    // fake mp4 bytes are unreadable by any probe → both cameras degrade to
    // the missing-video issue; table checks all pass
    assert(issues === Set("front_video_missing", "wrist_video_missing"))
  }

  test("video checks keep one row per actionable manifest row when two share an episode") {
    // episode 9 has videos and no parquet: its two orphan videos are two
    // manifest rows of one episode index, and a join on the index would
    // give each row both rows' checks
    val root = tmpDir("probe_orphans")
    dataset(spark, root, Map(0L -> cleanFrames(0, 10)), videosFor = Set(0L, 9L),
      metaLengths = Map(0L -> 10L))
    val manifest = s"$root/m.parquet"
    graft.stages.Discover.run(spark, root, manifest)
    val out = tmpDir("probe_orphans_out")
    assert(Validate.run(spark, manifest, s"$root/meta", out,
      Validate.Config(skipVideo = false)) === ((3L, 0L, 3L)))
    assert(spark.read.parquet(s"$out/episodes.parquet").count() === 3)
  }
}
