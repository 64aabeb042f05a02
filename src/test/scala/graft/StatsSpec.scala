package graft

import java.nio.file.{Files, Paths}
import graft.core.Schemas
import graft.io.Episodes
import graft.stages.Stats

/** Stage 3 oracle tests: pooled reduction == flat stats over concatenated
  * data; input tolerances (count shapes, id-list formats, malformed
  * features).
  */
class StatsSpec extends SparkSuite {
  import FixtureGen._

  private val features = Stats.DefaultFeatures

  test("pooled reduction equals flat recompute over concatenated frames") {
    val root = tmpDir("stats_eq")
    val episodes = Map(
      0L -> cleanFrames(0, 20), 1L -> cleanFrames(1, 35), 2L -> cleanFrames(2, 10))
    dataset(spark, root, episodes)
    Files.write(Paths.get(s"$root/episodes_stats.jsonl"),
      statsJsonl(episodes).getBytes)

    val pooled = Stats.reduceFromJsonl(spark, s"$root/episodes_stats.jsonl", features)
    val flat = Stats.reduceFromFrames(spark, s"$root/data", features)

    assert(pooled.episodesUsed === 3)
    assert(pooled.totalFrames === 65)
    for (k <- features) {
      val (p, f) = (pooled.features(k), flat.features(k))
      assert(p.count === f.count)
      p.mean.zip(f.mean).foreach { case (a, b) => assert(math.abs(a - b) < 1e-6, s"$k mean") }
      p.std.zip(f.std).foreach { case (a, b) => assert(math.abs(a - b) < 1e-4, s"$k std") }
      assert(p.min === f.min)
      assert(p.max === f.max)
    }
  }

  test("count-shape tolerance: scalar, list, frame_count all accepted") {
    val root = tmpDir("stats_shapes")
    val episodes = Map(0L -> cleanFrames(0, 10), 1L -> cleanFrames(1, 12), 2L -> cleanFrames(2, 14))
    val shapes = Map(0L -> "scalar", 1L -> "list", 2L -> "frame_count")
    Files.createDirectories(Paths.get(root))
    Files.write(Paths.get(s"$root/stats.jsonl"),
      statsJsonl(episodes, shapes).getBytes)
    val gs = Stats.reduceFromJsonl(spark, s"$root/stats.jsonl", features)
    assert(gs.episodesUsed === 3)
    assert(gs.totalFrames === 36)
  }

  test("valid-ids filtering accepts JSONL, CSV and bare-line formats") {
    val root = tmpDir("stats_ids")
    val episodes = Map(0L -> cleanFrames(0, 10), 1L -> cleanFrames(1, 10),
      2L -> cleanFrames(2, 10), 3L -> cleanFrames(3, 10))
    Files.createDirectories(Paths.get(root))
    Files.write(Paths.get(s"$root/stats.jsonl"), statsJsonl(episodes).getBytes)
    // mixed-format id list: JSONL, bare line, CSV-last-field
    Files.write(Paths.get(s"$root/ids.txt"),
      "{\"episode_index\": 0}\n2\nx,y,3\n".getBytes)
    val gs = Stats.reduceFromJsonl(spark, s"$root/stats.jsonl", features,
      Some(s"$root/ids.txt"))
    assert(gs.episodesUsed === 3)
    assert(gs.totalFrames === 30)
  }

  test("episodes with zero/missing count are skipped; malformed feature skipped") {
    val root = tmpDir("stats_bad")
    Files.createDirectories(Paths.get(root))
    val good = statsJsonl(Map(0L -> cleanFrames(0, 10))).trim
    val zeroCount = """{"episode_index": 1, "stats": {"action": {"count": 0, "mean": [1], "std": [1], "min": [1], "max": [1]}}}"""
    val malformedFeature = """{"episode_index": 2, "stats": {"action": {"count": 5, "mean": [1,2], "std": [1], "min": [1,2], "max": [1,2]}, "observation.state": {"count": 5, "mean": [1,1,1,1,1,1,1,1], "std": [0,0,0,0,0,0,0,0], "min": [1,1,1,1,1,1,1,1], "max": [1,1,1,1,1,1,1,1]}}}"""
    Files.write(Paths.get(s"$root/stats.jsonl"),
      (good + "\n" + zeroCount + "\n" + malformedFeature + "\n").getBytes)
    val gs = Stats.reduceFromJsonl(spark, s"$root/stats.jsonl", features)
    // ep1 skipped (zero count); ep2 counted (obs feature fine) but its
    // malformed action block is excluded from the action aggregation
    assert(gs.episodesUsed === 2)
    assert(gs.totalFrames === 15)
    assert(gs.features("action").count === 10)
    assert(gs.features(Schemas.ObsStateStorage).count === 15)
  }

  test("""malformed "count": [] is skipped, not an ANSI array-index raise""") {
    // round-13 array-index audit: element_at([], 1) raises under ANSI —
    // the tolerant reader (S8) must treat an empty count list as missing
    val root = tmpDir("stats_empty_count")
    Files.createDirectories(Paths.get(root))
    val good = statsJsonl(Map(0L -> cleanFrames(0, 10))).trim
    val emptyCount = """{"episode_index": 1, "stats": {"action": {"count": [], "mean": [1], "std": [1], "min": [1], "max": [1]}}}"""
    Files.write(Paths.get(s"$root/stats.jsonl"),
      (good + "\n" + emptyCount + "\n").getBytes)
    val gs = Stats.reduceFromJsonl(spark, s"$root/stats.jsonl", features)
    assert(gs.episodesUsed === 1)
    assert(gs.features("action").count === 10)
  }

  test("scalar stats coerce to 1-dim vectors") {
    val root = tmpDir("stats_scalar")
    Files.createDirectories(Paths.get(root))
    val line = """{"episode_index": 0, "stats": {"action": {"count": 4, "mean": 2.5, "std": 0.5, "min": 2.0, "max": 3.0}}}"""
    Files.write(Paths.get(s"$root/stats.jsonl"), (line + "\n").getBytes)
    val gs = Stats.reduceFromJsonl(spark, s"$root/stats.jsonl", Seq("action"))
    assert(gs.features("action").mean === Seq(2.5))
    assert(gs.features("action").count === 4)
  }

  test("reduceFromFrames emits q01/q99 matching the reference stats.json shape") {
    // golden SHAPE contract: the reference dataset's meta/stats.json carries
    // per-feature q01/q99 vectors next to mean/std/min/max
    // (reference robot_data/meta/stats.json)
    val refPath = Paths.get("/root/reference/robot_data/meta/stats.json")
    if (Files.exists(refPath)) {
      val ref = graft.core.StatsDoc.parse(new String(Files.readAllBytes(refPath)))
      assert(ref.isDefined)
      val act = ref.get.features("action")
      assert(act.q01.isDefined && act.q99.isDefined)
      assert(act.q01.get.size === act.mean.size)
    }

    val root = tmpDir("stats_q")
    val episodes = Map(0L -> cleanFrames(0, 40), 1L -> cleanFrames(1, 40))
    dataset(spark, root, episodes)
    val gs = Stats.reduceFromFrames(spark, s"$root/data", features)
    features.foreach { k =>
      val f = gs.features(k)
      assert(f.q01.isDefined && f.q99.isDefined, s"$k missing q01/q99")
      assert(f.q01.get.size === f.mean.size && f.q99.get.size === f.mean.size)
      // quantiles bounded by min/max and ordered, per dimension
      f.q01.get.indices.foreach { d =>
        assert(f.min(d) <= f.q01.get(d) && f.q01.get(d) <= f.q99.get(d) &&
          f.q99.get(d) <= f.max(d), s"$k dim $d quantiles out of bounds")
      }
    }
    // render → parse roundtrip preserves the quantile vectors
    val text = graft.core.StatsDoc.render(gs, features, "test")
    val rt = graft.core.StatsDoc.parse(text).get
    assert(rt.features("action").q01 === gs.features("action").q01)
    assert(rt.features("action").q99 === gs.features("action").q99)

    // VALUE-error contract of the histogram tails (round-11 rework): each
    // estimate is within one bucket width (max−min)/HistBins of the exact
    // ceil(p·n)-rank order statistic, per dimension
    import org.apache.spark.sql.functions.{col => fcol}
    val k = features.head
    val f = gs.features(k)
    val raw = Episodes.readDataDir(spark, s"$root/data")
    f.mean.indices.foreach { d =>
      val vals = raw.select(fcol(k).getItem(d).cast("double")).collect()
        .map(_.getDouble(0)).sorted
      def exact(p: Double) = vals(((vals.length * p).ceil.toInt - 1).max(0))
      val width = (f.max(d) - f.min(d)) / Stats.HistBins
      assert(math.abs(f.q01.get(d) - exact(0.01)) <= width + 1e-12,
        s"$k dim $d q01 off by more than a bucket")
      assert(math.abs(f.q99.get(d) - exact(0.99)) <= width + 1e-12,
        s"$k dim $d q99 off by more than a bucket")
      // CONSERVATIVE-edge contract (round-12): the lower tail reports a
      // bucket's lower edge (≤ exact), the upper tail its upper edge
      // (≥ exact) — normalization bounds built from them always cover
      assert(f.q01.get(d) <= exact(0.01) + 1e-12,
        s"$k dim $d q01 not a lower bound")
      assert(f.q99.get(d) >= exact(0.99) - 1e-12,
        s"$k dim $d q99 not an upper bound")
    }
  }

  test("histogram tails on adversarial shapes: constant, skewed, negative dims") {
    val root = tmpDir("stats_hist")
    val rnd = new scala.util.Random(7)
    val frames = (0 until 200).map { i =>
      graft.core.Models.Frame(
        action = Seq(
          5.0f,                                      // constant dim
          if (i % 40 == 0) 100f else 0f,             // 5-in-200 heavy skew
          -10f + 9f * rnd.nextFloat()),              // negative-range uniform
        observation_state = (0 until 8).map(d => (i + d).toFloat / 11f),
        timestamp = i / 30.0, frame_index = i.toLong, episode_index = 0L,
        index = i.toLong, task_index = 0L)
    }
    writeEpisode(spark, frames, s"$root/data/chunk-000/episode_000000.parquet")
    val gs = Stats.reduceFromFrames(spark, s"$root/data", Seq("action"))
    val f = gs.features("action")
    // constant dim: degenerate range → both tails ARE the constant
    assert(f.q01.get(0) === 5.0 && f.q99.get(0) === 5.0)
    (0 until 3).foreach { d =>
      val vals = frames.map(_.action(d).toDouble).sorted
      def exact(p: Double) = vals(((vals.length * p).ceil.toInt - 1).max(0))
      val width = (f.max(d) - f.min(d)) / Stats.HistBins
      assert(math.abs(f.q01.get(d) - exact(0.01)) <= width + 1e-9,
        s"dim $d q01: got ${f.q01.get(d)}, exact ${exact(0.01)}")
      assert(math.abs(f.q99.get(d) - exact(0.99)) <= width + 1e-9,
        s"dim $d q99: got ${f.q99.get(d)}, exact ${exact(0.99)}")
      assert(f.min(d) <= f.q01.get(d) && f.q99.get(d) <= f.max(d))
      // conservative edges even on adversarial shapes
      assert(f.q01.get(d) <= exact(0.01) + 1e-9, s"dim $d q01 not lower")
      assert(f.q99.get(d) >= exact(0.99) - 1e-9, s"dim $d q99 not upper")
    }
    // the skewed dim: exact q99 = 100 (rank 198 lands in the 5-value
    // spike) — the bound above pins the estimate within one bucket of it;
    // q01 sits at the spike-free bottom bucket's lower edge exactly
    assert(f.q01.get(1) === 0.0)
    assert(f.q99.get(1) > 99.0)
  }

  test("full run writes a parseable global_stats.json") {
    val root = tmpDir("stats_run")
    val episodes = Map(0L -> cleanFrames(0, 8), 1L -> cleanFrames(1, 9))
    Files.createDirectories(Paths.get(root))
    Files.write(Paths.get(s"$root/stats.jsonl"), statsJsonl(episodes).getBytes)
    val gs = Stats.run(spark, s"$root/stats.jsonl", s"$root/global_stats.json", features)
    val text = graft.io.SingleFile.readText(spark, s"$root/global_stats.json").get
    val parsed = graft.core.StatsDoc.parse(text).get
    assert(parsed.features.keySet === Set("action", Schemas.ObsStateStorage))
    assert(parsed.episodesUsed === gs.episodesUsed)
  }

  test("an empty valid-ids file reduces to zero episodes, zero frames, no features") {
    // the semi join against no ids can be optimized to an empty plan,
    // which drops the observer the meta counters ride on
    val root = tmpDir("stats_no_ids")
    Files.createDirectories(Paths.get(root))
    Files.write(Paths.get(s"$root/stats.jsonl"),
      statsJsonl(Map(0L -> cleanFrames(0, 8), 1L -> cleanFrames(1, 9))).getBytes)
    Files.write(Paths.get(s"$root/ids.jsonl"), Array.emptyByteArray)
    val gs = Stats.run(spark, s"$root/stats.jsonl", s"$root/global_stats.json", features,
      Some(s"$root/ids.jsonl"))
    assert(gs.episodesUsed === 0L)
    assert(gs.totalFrames === 0L)
    assert(gs.features.isEmpty)
    val parsed = graft.core.StatsDoc.parse(
      graft.io.SingleFile.readText(spark, s"$root/global_stats.json").get).get
    assert(parsed.episodesUsed === 0L)
    assert(parsed.features.isEmpty)
  }
}
