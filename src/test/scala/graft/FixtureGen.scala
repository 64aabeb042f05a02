package graft

import java.nio.file.{Files, Paths, StandardOpenOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.{FeatureStats, Models, Schemas}
import graft.io.SingleFile

/** Synthetic robot-dataset fixtures (FIXTURES.md §A): episode parquets with
  * planted defects, episodes.jsonl metadata, per-episode stats JSONL, video
  * stand-ins. Deterministic (seeded by episode index).
  */
object FixtureGen {
  import Models.Frame

  def cleanFrames(ep: Long, n: Int): Seq[Frame] =
    (0 until n).map { i =>
      Frame(
        action = (0 until 8).map(d => (ep * 100 + i + d).toFloat / 7f),
        observation_state = (0 until 8).map(d => (ep * 50 + i * 2 + d).toFloat / 11f),
        timestamp = i / 30.0,
        frame_index = i.toLong,
        episode_index = ep,
        index = ep * 10000 + i,
        task_index = 0L)
    }

  /** Write one episode parquet preserving the given row order and the
    * dotted storage column name.
    */
  def writeEpisode(spark: SparkSession, frames: Seq[Frame], path: String): Unit = {
    // one partition → file row order == seq order
    val ordered = spark.createDataFrame(
      spark.sparkContext.parallelize(frames.map(f => org.apache.spark.sql.Row(
        f.action, f.observation_state, f.timestamp, f.frame_index,
        f.episode_index, f.index, f.task_index)), 1),
      Schemas.episodeSchema)
    SingleFile.writeParquetAtomic(ordered, path)
  }

  /** Build a full dataset root with the given episodes under chunk-000.
    * Returns (root, dataDir).
    */
  def dataset(spark: SparkSession, root: String,
      episodes: Map[Long, Seq[Frame]],
      videosFor: Set[Long] = Set.empty,
      metaLengths: Map[Long, Long] = Map.empty): (String, String) = {
    val dataDir = s"$root/data/chunk-000"
    Files.createDirectories(Paths.get(dataDir))
    episodes.toSeq.sortBy(_._1).foreach { case (ep, frames) =>
      writeEpisode(spark, frames, f"$dataDir/episode_$ep%06d.parquet")
    }
    videosFor.foreach { ep =>
      Seq("observation.images.front", "observation.images.wrist").foreach { cam =>
        val d = Paths.get(s"$root/videos/chunk-000/$cam")
        Files.createDirectories(d)
        Files.write(d.resolve(f"episode_$ep%06d.mp4"),
          s"fake-video-$ep-$cam".getBytes,
          StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
      }
    }
    if (metaLengths.nonEmpty) {
      val metaDir = Paths.get(s"$root/meta")
      Files.createDirectories(metaDir)
      val lines = metaLengths.toSeq.sortBy(_._1).map { case (ep, len) =>
        s"""{"episode_index": $ep, "tasks": ["Grab cube and place into box"], "length": $len}"""
      }
      Files.write(metaDir.resolve("episodes.jsonl"), lines.mkString("\n").getBytes)
    }
    (root, s"$root/data")
  }

  /** Defect builders (one planted defect each — FIXTURES.md §A1). */
  object Defects {
    def unsorted(ep: Long, n: Int): Seq[Frame] = {
      val f = cleanFrames(ep, n)
      f.updated(2, f(5)).updated(5, f(2)) // swap two frames
    }
    def dupFrames(ep: Long, n: Int): Seq[Frame] = {
      val f = cleanFrames(ep, n)
      // duplicate frame_index 3 (second copy has different action payload)
      val dup = f(3).copy(action = f(3).action.map(_ + 1000f))
      (f.take(4) :+ dup) ++ f.drop(4)
    }
    def frameStart1(ep: Long, n: Int): Seq[Frame] =
      cleanFrames(ep, n).map(f => f.copy(frame_index = f.frame_index + 1))
    def nullTimestamp(ep: Long, n: Int): Seq[Frame] =
      cleanFrames(ep, n) // null planted via DataFrame below
    def wrongWidth(ep: Long, n: Int): Seq[Frame] =
      cleanFrames(ep, n).map(f => f.copy(action = f.action.take(7)))
    def epIdxMismatch(ep: Long, n: Int): Seq[Frame] =
      cleanFrames(ep, n).map(f => f.copy(episode_index = ep + 7))
    def nanTimestamp(ep: Long, n: Int): Seq[Frame] = {
      val f = cleanFrames(ep, n)
      f.updated(4, f(4).copy(timestamp = Double.NaN))
    }
  }

  /** Per dimension of equal-width vectors: (mean, population std, min,
    * max), computed on the driver in two passes.
    */
  private def moments(vecs: Seq[Seq[Float]]): Seq[(Double, Double, Double, Double)] =
    vecs.head.indices.map { d =>
      val xs = vecs.map(_(d).toDouble)
      val mu = xs.sum / xs.size
      val varv = xs.map(x => (x - mu) * (x - mu)).sum / xs.size
      (mu, math.sqrt(varv), xs.min, xs.max)
    }

  /** episodes_stats.jsonl lines for the given per-episode frames (exact
    * per-episode stats like the upstream producer would emit).
    */
  def statsJsonl(episodes: Map[Long, Seq[Frame]], countShape: Long => String = _ => "list"): String = {
    episodes.toSeq.sortBy(_._1).map { case (ep, frames) =>
      val n = frames.size
      def stats(vecs: Seq[Seq[Float]]): String = {
        val dims = moments(vecs)
        val cnt = countShape(ep) match {
          case "list" => vecs.head.indices.map(_ => n).mkString("[", ", ", "]")
          case "scalar" => n.toString
          case "frame_count" => null // handled by caller key
          case other => other
        }
        val cntField = if (countShape(ep) == "frame_count") s""""frame_count": $n"""
          else s""""count": $cnt"""
        s"""{$cntField, "mean": ${dims.map(_._1).mkString("[", ", ", "]")}, "std": ${dims.map(_._2).mkString("[", ", ", "]")}, "min": ${dims.map(_._3).mkString("[", ", ", "]")}, "max": ${dims.map(_._4).mkString("[", ", ", "]")}}"""
      }
      s"""{"episode_index": $ep, "stats": {"action": ${stats(frames.map(_.action))}, "observation.state": ${stats(frames.map(_.observation_state))}}}"""
    }.mkString("\n") + "\n"
  }

  /** Exact flat stats of both default features over all of `frames` (the
    * concatenated frames of several episodes), computed on the driver: an
    * oracle for `global_stats.json` that shares no code with stages.Stats.
    */
  def flatStats(frames: Seq[Frame]): Map[String, FeatureStats] =
    Seq("action" -> frames.map(_.action),
        Schemas.ObsStateStorage -> frames.map(_.observation_state)).map { case (k, vecs) =>
      val dims = moments(vecs)
      k -> FeatureStats(vecs.size.toLong, dims.map(_._1), dims.map(_._2), dims.map(_._3),
        dims.map(_._4))
    }.toMap
}
