package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.stages.{AlignTransform, Materialize}
import graft.functions.Hashing

/** Stage 5 oracle tests: deterministic split, Hive layout, index,
  * _manifest.json, video links.
  */
class MaterializeSpec extends SparkSuite {
  import FixtureGen._

  test("deterministic split assignment, layout, index, manifest") {
    val root = tmpDir("mat_root")
    val outDir = tmpDir("mat_out")
    val eps = (0L until 20L).map(e => e -> cleanFrames(e, 5 + (e % 3).toInt)).toMap
    dataset(spark, root, eps, videosFor = Set(0L, 1L))

    val index = Materialize.run(spark, s"$root/data/chunk-000", outDir,
      Materialize.Config(videosRoot = Some(s"$root/videos"), linkVideos = "symlink"))

    // every episode present exactly once, num_rows correct
    val rows = index.collect()
    assert(rows.length === 20)
    rows.foreach { r =>
      val ep = r.getAs[Long]("episode_index")
      assert(r.getAs[Long]("num_rows") === 5 + (ep % 3))
      val split = r.getAs[String]("split")
      // layout file exists where the index says
      val p = Paths.get(outDir, r.getAs[String]("parquet_path"))
      assert(Files.exists(p), s"missing $p")
      // recompute split from the hash — must agree
      assert(Seq("train", "val", "test").contains(split))
    }

    // split counts sum to 20 and _manifest.json reflects them
    val manifest = graft.io.SingleFile.readText(spark, s"$outDir/_manifest.json").get
    assert(manifest.contains("\"seed\": \"42\""))
    val counts = rows.groupBy(_.getAs[String]("split")).view.mapValues(_.length).toMap
    assert(counts.values.sum === 20)
    Seq("train", "val", "test").foreach { s =>
      assert(manifest.contains(s""""$s": ${counts.getOrElse(s, 0)}"""))
    }

    // a materialized file holds the normalized file's columns, nothing more
    val sample = rows.head
    val df = spark.read.parquet(
      Paths.get(outDir, sample.getAs[String]("parquet_path")).toString)
    val ep = sample.getAs[Long]("episode_index")
    val normalized = spark.read.parquet(f"$root/data/chunk-000/episode_$ep%06d.parquet")
    assert(df.columns.toSeq === normalized.columns.toSeq)

    // symlinked videos for episodes 0 and 1
    Seq(0L, 1L).foreach { ep =>
      val r = rows.find(_.getAs[Long]("episode_index") == ep).get
      val vp = r.getAs[String]("observation.images.front.path")
      assert(vp != null)
      val link = Paths.get(outDir, vp)
      assert(Files.isSymbolicLink(link))
      assert(Files.exists(link)) // link target resolves
    }
    // no videos for the rest
    val r5 = rows.find(_.getAs[Long]("episode_index") == 5L).get
    assert(r5.getAs[String]("observation.images.front.path") == null)
  }

  test("split is stable under the seed and respects fractions roughly") {
    import spark.implicits._
    val ids = (0L until 2000L).toDF("ep")
    val splits = ids.withColumn("split",
      Hashing.splitAssign(col("ep").cast("string"), "42", 0.8, 0.1))
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(splits("train") - 1600L) < 100)
    assert(math.abs(splits("val") - 200L) < 60)
    assert(math.abs(splits("test") - 200L) < 60)
    // determinism: same seed → same assignment
    val again = ids.withColumn("split",
      Hashing.splitAssign(col("ep").cast("string"), "42", 0.8, 0.1))
    assert(again.except(
      ids.withColumn("split", Hashing.splitAssign(col("ep").cast("string"), "42", 0.8, 0.1))
    ).count() === 0)
  }

  test("bad fractions rejected") {
    intercept[IllegalArgumentException] {
      Materialize.Config(train = 0.5, validation = 0.2, test = 0.2)
    }
  }

  test("manifest-only mode places no files but still indexes") {
    val root = tmpDir("mat_mo")
    val outDir = tmpDir("mat_mo_out")
    dataset(spark, root, Map(0L -> cleanFrames(0, 4)), videosFor = Set(0L))
    val index = Materialize.run(spark, s"$root/data/chunk-000", outDir,
      Materialize.Config(videosRoot = Some(s"$root/videos"), linkVideos = "manifest-only"))
    val r = index.collect().head
    val vp = r.getAs[String]("observation.images.front.path")
    assert(vp != null)
    assert(!Files.exists(Paths.get(outDir, vp)))
  }
}
