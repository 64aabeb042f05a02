package perfbench

import java.nio.file.{Files, Path}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.{MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{DOUBLE, FLOAT, INT64}

/** Seeded robot-episode corpus in the FixtureGen layout:
  * `data/chunk-000/episode_NNNNNN.parquet`, `meta/episodes.jsonl`,
  * `meta/episodes_stats.jsonl` and two video stand-ins per episode.
  *
  * Parquet is written with parquet-hadoop directly (no Spark job), so
  * generation is cheap enough to repeat inside the set-up measurement.
  * Three episodes carry one planted FIXTURES.md §A defect each: duplicate
  * frame, swapped (unsorted) frames, 7-wide action vectors.
  */
object Corpus {
  val Width = 8
  val Cameras = Seq("observation.images.front", "observation.images.wrist")

  sealed trait Kind
  case object Clean extends Kind
  case object DupFrame extends Kind
  case object Unsorted extends Kind
  case object WrongWidth extends Kind
  val Defects: Seq[Kind] = Seq(DupFrame, Unsorted, WrongWidth)

  /** One generated episode. `frames` is the file's row order; each frame is
    * (action, state, frame_index).
    */
  final case class Episode(index: Long, kind: Kind, length: Int,
      frames: IndexedSeq[(Array[Float], Array[Float], Long)]) {
    /** Rows align-transform keeps: wrong-width rows are dropped, a
      * duplicated frame_index keeps its first copy.
      */
    def expectedNormalizedRows: Long = kind match {
      case WrongWidth => 0L
      case _ => frames.map(_._3).distinct.size.toLong
    }
    def valid: Boolean = kind == Clean
    def fileName: String = f"episode_$index%06d.parquet"
  }

  private val schema: MessageType = {
    def vec(name: String) = Types.optionalList()
      .element(Types.required(FLOAT).named("element")).named(name)
    Types.buildMessage()
      .addField(vec("action"))
      .addField(vec("observation.state"))
      .addField(Types.optional(DOUBLE).named("timestamp"))
      .addField(Types.optional(INT64).named("frame_index"))
      .addField(Types.optional(INT64).named("episode_index"))
      .addField(Types.optional(INT64).named("index"))
      .addField(Types.optional(INT64).named("task_index"))
      .named("spark_schema")
  }

  /** Frames for episode `ep`; `version` changes the content of an edit. */
  def makeEpisode(seed: Long, ep: Long, kind: Kind, version: Int = 0): Episode = {
    val rng = new java.util.Random(seed * 1000003L + ep * 7919L + version * 104729L)
    val n = 360 + rng.nextInt(13)
    val base = Array.fill(2 * Width)(rng.nextGaussian() * 2.0)
    val clean = (0 until n).map { i =>
      val v = Array.tabulate(2 * Width)(d =>
        (base(d) + math.sin(i / 30.0 + d) + rng.nextGaussian() * 0.1).toFloat)
      (v.take(Width), v.drop(Width), i.toLong)
    }
    val frames = kind match {
      case Clean => clean
      case DupFrame =>
        val (a, s, fi) = clean(3)
        (clean.take(4) :+ ((a.map(_ + 1000f), s, fi))) ++ clean.drop(4)
      case Unsorted => clean.updated(2, clean(5)).updated(5, clean(2))
      case WrongWidth => clean.map { case (a, s, fi) => (a.take(Width - 1), s, fi) }
    }
    Episode(ep, kind, n, frames)
  }

  def writeParquet(e: Episode, path: Path): Unit = {
    val w = ExampleParquetWriter.builder(new LocalOutputFile(path))
      .withType(schema)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
    val gf = new SimpleGroupFactory(schema)
    try e.frames.zipWithIndex.foreach { case ((a, s, fi), row) =>
      val g = gf.newGroup()
      val ga = g.addGroup("action")
      a.foreach(x => ga.addGroup("list").append("element", x))
      val gs = g.addGroup("observation.state")
      s.foreach(x => gs.addGroup("list").append("element", x))
      g.append("timestamp", fi / 30.0)
        .append("frame_index", fi)
        .append("episode_index", e.index)
        .append("index", e.index * 10000L + row)
        .append("task_index", 0L)
      w.write(g)
    } finally w.close()
  }

  /** The per-episode stats record the upstream producer writes. */
  def statsLine(e: Episode): String = {
    def block(vecs: Seq[Array[Float]]): String = {
      val dims = vecs.head.indices.map { d =>
        val xs = vecs.map(_(d).toDouble)
        val mu = xs.sum / xs.size
        val sd = math.sqrt(xs.map(x => (x - mu) * (x - mu)).sum / xs.size)
        (mu, sd, xs.min, xs.max)
      }
      def arr(f: ((Double, Double, Double, Double)) => Double) =
        dims.map(f).mkString("[", ", ", "]")
      s"""{"count": ${dims.map(_ => vecs.size).mkString("[", ", ", "]")}, "mean": ${arr(_._1)}, "std": ${arr(_._2)}, "min": ${arr(_._3)}, "max": ${arr(_._4)}}"""
    }
    s"""{"episode_index": ${e.index}, "stats": {"action": ${block(e.frames.map(_._1))}, "observation.state": ${block(e.frames.map(_._2))}}}"""
  }
}

/** A corpus on disk plus the facts the output checks compare against. */
final class Corpus(val root: Path, val seed: Long, episodes0: Seq[Corpus.Episode]) {
  import Corpus._

  private var eps: Map[Long, Episode] = episodes0.map(e => e.index -> e).toMap
  private var edits = 0

  def episodes: Seq[Episode] = eps.values.toSeq.sortBy(_.index)
  def dataDir: Path = root.resolve("data/chunk-000")

  private def videoPath(cam: String, ep: Long): Path =
    root.resolve(f"videos/chunk-000/$cam/episode_$ep%06d.mp4")

  private def writeEpisodeFiles(e: Episode): Unit = {
    writeParquet(e, dataDir.resolve(e.fileName))
    Cameras.foreach(cam => Files.write(videoPath(cam, e.index),
      s"video-stand-in-$seed-${e.index}-$cam-$edits".getBytes))
  }

  private def writeMeta(): Unit = {
    val meta = root.resolve("meta")
    Files.writeString(meta.resolve("episodes.jsonl"),
      episodes.map(metaLine).mkString("", "\n", "\n"))
    Files.writeString(meta.resolve("episodes_stats.jsonl"),
      episodes.map(statsLine).mkString("", "\n", "\n"))
  }
  private def metaLine(e: Episode): String =
    s"""{"episode_index": ${e.index}, "tasks": ["Grab cube and place into box"], "length": ${e.length}}"""

  def writeAll(): Unit = {
    Files.createDirectories(dataDir)
    Files.createDirectories(root.resolve("meta"))
    Cameras.foreach(cam => Files.createDirectories(videoPath(cam, 0).getParent))
    episodes.foreach(writeEpisodeFiles)
    writeMeta()
  }

  /** One refresh's worth of edits: rewrite `share` of the clean episodes
    * with new content, delete one clean episode, add one new episode.
    * Returns (changed, deleted, added) episode indexes.
    */
  def edit(share: Double): (Set[Long], Long, Long) = {
    edits += 1
    val pool = new scala.util.Random(seed * 31L + edits)
      .shuffle(episodes.filter(_.valid).map(_.index))
    val k = math.max(1, math.round(eps.size * share).toInt)
    val changed = pool.take(k).toSet
    val deleted = pool(k)
    val added = eps.keys.max + 1
    changed.foreach { ep =>
      val e = makeEpisode(seed, ep, Clean, edits)
      eps += ep -> e
      writeEpisodeFiles(e)
    }
    eps -= deleted
    Files.delete(dataDir.resolve(f"episode_$deleted%06d.parquet"))
    Cameras.foreach(cam => Files.delete(videoPath(cam, deleted)))
    val a = makeEpisode(seed, added, Clean, edits)
    eps += added -> a
    writeEpisodeFiles(a)
    writeMeta()
    (changed, deleted, added)
  }

  /** Flat global stats over the valid episodes' frames:
    * feature -> (mean, population std, min, max) per dimension.
    */
  def flatStats: Map[String, Seq[(Double, Double, Double, Double)]] = {
    val valid = episodes.filter(_.valid)
    Seq("action" -> ((f: (Array[Float], Array[Float], Long)) => f._1),
        "observation.state" -> ((f: (Array[Float], Array[Float], Long)) => f._2))
      .map { case (name, pick) =>
        name -> (0 until Width).map { d =>
          val xs = valid.flatMap(_.frames.map(f => pick(f)(d).toDouble))
          val mu = xs.sum / xs.size
          val sd = math.sqrt(math.max(xs.map(x => x * x).sum / xs.size - mu * mu, 0.0))
          (mu, sd, xs.min, xs.max)
        }
      }.toMap
  }
}

object CorpusGen {
  /** `n` episodes; the three planted defects go to seed-chosen episodes. */
  def generate(root: Path, seed: Long, n: Int): Corpus = {
    val rng = new scala.util.Random(seed)
    val defective = rng.shuffle((0L until n.toLong).toList).take(Corpus.Defects.size)
      .zip(Corpus.Defects).toMap
    val eps = (0L until n.toLong).map(ep =>
      Corpus.makeEpisode(seed, ep, defective.getOrElse(ep, Corpus.Clean)))
    val c = new Corpus(root, seed, eps)
    c.writeAll()
    c
  }
}
