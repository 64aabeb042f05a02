package graft.core

import com.fasterxml.jackson.databind.JsonNode
import scala.jdk.CollectionConverters._
import scala.util.Try

/** The `global_stats.json` document (reference stats_refactored.py:203-216):
  * per-feature count/mean/std/min/max vectors plus a meta block. Parsed
  * driver-side (it is a handful of KB) and broadcast into normalization
  * expressions as literals.
  *
  * Tolerance contract (align_transform_refactored.py:19-25,62-68,122-130):
  * missing file, malformed JSON, or wrong-width vectors must result in a
  * silent no-op for normalization — never a failure.
  */
final case class FeatureStats(
    count: Long,
    mean: Seq[Double],
    std: Seq[Double],
    min: Seq[Double],
    max: Seq[Double],
    q01: Option[Seq[Double]] = None,
    q99: Option[Seq[Double]] = None)

final case class GlobalStats(
    episodesUsed: Long,
    totalFrames: Long,
    source: String,
    features: Map[String, FeatureStats])

object StatsDoc {
  private def floats(n: JsonNode): Option[Seq[Double]] =
    if (n == null || n.isNull) None
    else if (n.isNumber) Some(Seq(n.asDouble()))
    else if (n.isArray && n.elements().asScala.forall(_.isNumber))
      Some(n.elements().asScala.map(_.asDouble()).toSeq)
    else None

  /** Parse one feature-stats block; None when any vector missing/malformed
    * or dimensions disagree (stats_refactored.py `_extract_vectors`).
    */
  def parseFeature(n: JsonNode): Option[FeatureStats] = {
    if (n == null || !n.isObject) return None
    for {
      mean <- floats(n.get("mean"))
      std  <- floats(n.get("std"))
      mi   <- floats(n.get("min"))
      ma   <- floats(n.get("max"))
      if std.size == mean.size && mi.size == mean.size && ma.size == mean.size
    } yield {
      val cnt = Option(n.get("count")) match {
        case Some(c) if c.isNumber => c.asLong()
        case Some(c) if c.isArray && c.size() > 0 && c.get(0).isNumber => c.get(0).asLong()
        case _ => 0L
      }
      // optional quantile vectors (reference meta/stats.json carries q01/q99)
      val q01 = floats(n.get("q01")).filter(_.size == mean.size)
      val q99 = floats(n.get("q99")).filter(_.size == mean.size)
      FeatureStats(cnt, mean, std, mi, ma, q01, q99)
    }
  }

  /** Tolerant parse of the whole document; None on malformed JSON. */
  def parse(text: String): Option[GlobalStats] =
    Try {
      val root = Json.tree(text)
      require(root != null && root.isObject)
      val meta = Option(root.get("meta"))
      val features = root.properties().asScala
        .filter(_.getKey != "meta")
        .flatMap(e => parseFeature(e.getValue).map(e.getKey -> _))
        .toMap
      GlobalStats(
        episodesUsed = meta.flatMap(m => Option(m.get("episodes_used"))).map(_.asLong).getOrElse(0L),
        totalFrames = meta.flatMap(m => Option(m.get("total_frames"))).map(_.asLong).getOrElse(0L),
        source = meta.flatMap(m => Option(m.get("source"))).map(_.asText).getOrElse(""),
        features = features)
    }.toOption

  /** Serialize with deterministic key order. */
  def render(gs: GlobalStats, featureOrder: Seq[String], note: String): String = {
    def vec(v: Seq[Double]): String = v.map(d =>
      if (d == d.floor && !d.isInfinite && math.abs(d) < 1e15) f"$d%.1f" else d.toString
    ).mkString("[", ", ", "]")
    val sb = new StringBuilder("{\n")
    sb.append("  \"meta\": {\n")
    sb.append(s"""    "episodes_used": ${gs.episodesUsed},\n""")
    sb.append(s"""    "total_frames": ${gs.totalFrames},\n""")
    sb.append(s"""    "source": ${Json.quote(gs.source)},\n""")
    sb.append(s"""    "features": ${featureOrder.map(Json.quote).mkString("[", ", ", "]")},\n""")
    sb.append(s"""    "note": ${Json.quote(note)}\n""")
    sb.append("  }")
    featureOrder.filter(gs.features.contains).foreach { k =>
      val f = gs.features(k)
      sb.append(",\n")
      sb.append(s"""  ${Json.quote(k)}: {\n""")
      sb.append(s"""    "count": ${f.count},\n""")
      sb.append(s"""    "mean": ${vec(f.mean)},\n""")
      sb.append(s"""    "std": ${vec(f.std)},\n""")
      sb.append(s"""    "min": ${vec(f.min)},\n""")
      sb.append(s"""    "max": ${vec(f.max)}""")
      f.q01.foreach(v => sb.append(s""",\n    "q01": ${vec(v)}"""))
      f.q99.foreach(v => sb.append(s""",\n    "q99": ${vec(v)}"""))
      sb.append("\n  }")
    }
    sb.append("\n}\n")
    sb.toString
  }
}
