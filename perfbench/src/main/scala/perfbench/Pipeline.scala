package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.io.LocalInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.GlobalStats
import graft.stages._

/** The five-stage pipeline exactly as `cli.Main pipeline --skip-video`
  * chains it, one timed span per `graft.stages.*.run` call, plus the
  * output checks that run after each pass, outside the timed spans.
  */
final class Pipeline(spark: SparkSession, tr: Tracer, corpus: Corpus) {
  import Pipeline._

  private val root = corpus.root.toString
  private val features = Seq("action", graft.core.Schemas.ObsStateStorage)

  /** Runs the five stages into `out`. Returns the outputs, or the name of
    * the stage that threw with its error.
    */
  def pass(out: Path): Either[(String, Throwable), Outputs] = tr.span("pass", "pipeline") {
    val manifest = s"$out/manifest/episodes.parquet"
    var at = "discover"
    def stage[T](name: String)(body: => T): T = { at = name; tr.span("stages", name)(body) }
    try {
      val delta = stage("discover")(Discover.run(spark, root, manifest))
      val v = stage("validate")(Validate.run(spark, manifest, s"$root/meta",
        s"$out/validate", Validate.Config(skipVideo = true)))
      val gs = stage("stats")(Stats.run(spark, s"$root/meta/episodes_stats.jsonl",
        s"$out/global_stats.json", features,
        Some(s"$out/validate/validated_episodes.jsonl")))
      stage("align_transform")(AlignTransform.run(spark, s"$root/data",
        s"$out/normalized", Some(s"$out/global_stats.json")))
      val index = stage("materialize")(Materialize.run(spark, s"$out/normalized",
        s"$out/dataset", Materialize.Config(videosRoot = Some(s"$root/videos"))))
      Right(Outputs(delta, v, gs, index))
    } catch { case e: Exception => Left((at, e)) }
  }

  /** Checks one pass's outputs against the corpus. `expectDelta` is the
    * (status -> episodes) the discover delta must hold exactly. Returns
    * the mismatches, each prefixed with its stage.
    */
  def check(out: Path, o: Outputs, expectDelta: Map[String, Set[Long]]): Seq[String] =
    tr.span("check", "pipeline") {
      val eps = corpus.episodes
      val bad = Seq.newBuilder[String]
      def expect(stage: String, ok: Boolean, what: => String): Unit =
        if (!ok) bad += s"$stage: $what"

      val delta = o.delta.select("status", "episode_index").collect()
        .groupBy(_.getString(0)).map { case (k, rs) => k -> rs.map(_.getLong(1)).toSet }
      expect("discover", delta == expectDelta, s"delta $delta, expected $expectDelta")

      val actionable = expectDelta.filter(kv => graft.core.Status.Actionable.contains(kv._1))
        .values.flatten.toSet
      val validated = eps.filter(e => actionable.contains(e.index))
      val planted = validated.filterNot(_.valid).map(_.index).toSet
      val (total, okN, failN) = o.validate
      expect("validate", total == validated.size && failN == planted.size,
        s"total=$total ok=$okN fail=$failN, expected total=${validated.size} fail=${planted.size}")
      val failed = failureIds(out.resolve("validate/failures.jsonl"))
      expect("validate", failed == planted, s"failures.jsonl $failed, planted $planted")

      val flat = corpus.flatStats
      expect("stats", o.stats.episodesUsed == eps.count(_.valid),
        s"episodes_used=${o.stats.episodesUsed}, expected ${eps.count(_.valid)}")
      flat.foreach { case (f, dims) =>
        val got = o.stats.features.get(f)
        val diff = got.fold(Double.PositiveInfinity) { g =>
          dims.indices.map { d =>
            val (mu, sd, mn, mx) = dims(d)
            Seq(g.mean(d) - mu, g.std(d) - sd, g.min(d) - mn, g.max(d) - mx).map(math.abs).max
          }.max
        }
        expect("stats", diff <= 1e-6, s"$f differs from a flat recompute by $diff")
      }

      val normDir = out.resolve("normalized")
      val normFiles = listParquet(normDir)
      expect("align_transform", normFiles == eps.map(_.fileName).toSet,
        s"${normFiles.size} normalized files for ${eps.size} episodes")
      eps.foreach { e =>
        val f = normDir.resolve(e.fileName)
        val n = if (Files.exists(f)) rowCount(f) else -1L
        expect("align_transform", n == e.expectedNormalizedRows,
          s"${e.fileName} has $n rows, expected ${e.expectedNormalizedRows}")
      }

      val idx = o.index.select("episode_index", "num_rows", "parquet_path").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      val nonEmpty = eps.filter(_.expectedNormalizedRows > 0)
      expect("materialize", idx.map(_._1).toSet == nonEmpty.map(_.index).toSet,
        s"index holds ${idx.length} episodes, expected ${nonEmpty.size}")
      idx.foreach { case (ep, n, rel) =>
        val f = out.resolve("dataset").resolve(rel)
        val fileRows = if (Files.exists(f)) rowCount(f) else -1L
        expect("materialize", fileRows == n, s"episode $ep: index num_rows=$n, file has $fileRows")
      }
      val splits = splitCounts(out.resolve("dataset/_manifest.json"))
      expect("materialize", splits.sum == idx.length,
        s"split counts ${splits.mkString("+")} != ${idx.length} episodes")
      bad.result()
    }
}

object Pipeline {
  final case class Outputs(delta: DataFrame, validate: (Long, Long, Long),
      stats: GlobalStats, index: DataFrame)

  val Stages = Seq("discover", "validate", "stats", "align_transform", "materialize")

  /** What each stage writes under an out-root. */
  def outputsOf(out: Path): Seq[(String, Path)] = Seq(
    "discover" -> out.resolve("manifest"),
    "validate" -> out.resolve("validate"),
    "stats" -> out.resolve("global_stats.json"),
    "align_transform" -> out.resolve("normalized"),
    "materialize" -> out.resolve("dataset"))

  /** (files, bytes) under `p`; links count as files, their targets do not. */
  def walk(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filterNot(Files.isDirectory(_))
        .foldLeft((0L, 0L)) { case ((n, b), f) =>
          (n + 1, b + (if (Files.isSymbolicLink(f)) 0L else Files.size(f))) }
      finally s.close()
    }

  def rowCount(f: Path): Long = {
    val r = ParquetFileReader.open(new LocalInputFile(f))
    try r.getRecordCount finally r.close()
  }

  private def listParquet(dir: Path): Set[String] =
    if (!Files.isDirectory(dir)) Set.empty
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith("episode_") && n.endsWith(".parquet")).toSet
      finally s.close()
    }

  private val EpisodeId = """"episode_index"\s*:\s*(\d+)""".r
  private def failureIds(f: Path): Set[Long] =
    if (!Files.exists(f)) Set.empty
    else Files.readAllLines(f).asScala.flatMap(l =>
      EpisodeId.findFirstMatchIn(l).map(_.group(1).toLong)).toSet

  private val Count = """"(train|val|test)"\s*:\s*(\d+)""".r
  private def splitCounts(f: Path): Seq[Long] =
    if (!Files.exists(f)) Seq(-1L)
    else {
      val text = Files.readString(f)
      val counts = text.substring(text.indexOf("\"counts\""))
      Count.findAllMatchIn(counts.takeWhile(_ != '}')).map(_.group(2).toLong).toSeq
    }
}
