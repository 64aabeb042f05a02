package graft.stages

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.{FeatureStats, GlobalStats, Schemas, StatsDoc}
import graft.io.{Episodes, SingleFile}

/** Stage 3 — Stats (reference steps/stats_refactored.py:139-216).
  *
  * Two independent implementations that cross-check each other:
  *
  * 1. [[reduceFromJsonl]] — the reference path: weighted pooled reduction of
  *    per-episode stats records (`episodes_stats.jsonl`), with all of the
  *    reference's input tolerances (heterogeneous count shapes A7, scalar→
  *    list coercion F12, dimension guard A8, zero-count episode skip A9,
  *    JSONL/CSV/lines id-list S7). Pure column expressions over a permissive
  *    JSON parse — the reference's 90-line Python reducer becomes one
  *    explode + groupBy, and parallelizes over episodes.
  *
  * 2. [[computeFromFrames]] — the Spark-native path: recompute the same
  *    global stats directly from raw frames with posexplode + built-in aggs.
  *
  * Pooled-variance identity used by both (stats_refactored.py:9-44):
  * S = Σn, mean = Σ(n·μ)/S, var = Σ(n·(σ²+μ²))/S − mean², clamped ≥ 0.
  */
object Stats {

  /** Tolerant episode-id-set load (S7): JSONL (`episode_index`/`episode`
    * keys), CSV (last field), or bare-number lines. Returns None when no
    * path/file (meaning: no filtering).
    */
  def loadValidIds(spark: SparkSession, path: Option[String]): Option[DataFrame] = {
    path.flatMap { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(hp)) None
      else {
        val lines = spark.read.text(p).filter(length(trim(col("value"))) > 0)
        val ids = lines.select(
          when(trim(col("value")).startsWith("{"),
            coalesce(
              get_json_object(col("value"), "$.episode_index"),
              get_json_object(col("value"), "$.episode")))
            .otherwise(element_at(split(col("value"), ","), -1))
            .try_cast("long").as("episode_index"))
          .filter(col("episode_index").isNotNull)
        // no distinct(): the left-semi join that applies the ids ignores
        // duplicates
        Some(ids)
      }
    }
  }

  /** Parse one feature block out of the per-episode `stats` JSON object:
    * permissive count (scalar | list-head | frame_count/frames/count_total)
    * and scalar→list coercion for mean/std/min/max, with the A8 dimension
    * guard applied later via size equality.
    */
  private def featureCols(statsJson: Column, key: String): (Column, Column, Column, Column, Column) = {
    val block = get_json_object(statsJson, s"$$['$key']")
    def vec(field: String): Column = {
      val raw = get_json_object(block, s"$$.$field")
      val asArr = from_json(raw, ArrayType(DoubleType))
      // scalar → single-element list (stats_refactored.py:81-93)
      when(asArr.isNotNull, asArr)
        .otherwise(when(raw.try_cast("double").isNotNull, array(raw.try_cast("double"))))
    }
    val countScalar = get_json_object(block, "$.count").try_cast("double")
    // size guard: "count": [] is malformed but a TOLERANT reader (S8)
    // reports NULL and falls through the coalesce — element_at([], 1)
    // raises under ANSI (round-13 array-index audit)
    val countArr = from_json(get_json_object(block, "$.count"), ArrayType(DoubleType))
    val countList = when(size(countArr) >= 1, element_at(countArr, 1))
    val count = coalesce(countScalar, countList,
      get_json_object(block, "$.frame_count").try_cast("double"),
      get_json_object(block, "$.frames").try_cast("double"),
      get_json_object(block, "$.count_total").try_cast("double"))
    (count.try_cast("long"), vec("mean"), vec("std"), vec("min"), vec("max"))
  }

  /** The weighted pooled reduction. Returns the global stats plus meta
    * counters (episodes_used, total_frames).
    *
    * One job reads the JSONL: every feature's per-episode block becomes a
    * row of an exploded (feature, n, mean, std, min, max) array, and a
    * single `groupBy(f, dim)` reduces all features at once. The meta
    * counters ride that pass as an `Observation` on the per-episode rows.
    */
  def reduceFromJsonl(spark: SparkSession, statsJsonlPath: String,
      features: Seq[String], validIdsPath: Option[String] = None): GlobalStats = {

    val lines = spark.read.text(statsJsonlPath)
      .filter(length(trim(col("value"))) > 0)
      .select(
        get_json_object(col("value"), "$.episode_index").try_cast("long").as("episode_index"),
        get_json_object(col("value"), "$.stats").as("stats_json"))
      .filter(col("episode_index").isNotNull)

    val filtered = loadValidIds(spark, validIdsPath) match {
      case Some(ids) => lines.join(broadcast(ids), Seq("episode_index"), "left_semi")
      case None => lines
    }

    // per-episode frame count: action → observation.state → any feature, in
    // declared order (stats_refactored.py:176-190)
    val refKeys = Seq("action", Schemas.ObsStateStorage) ++
      features.filterNot(Seq("action", Schemas.ObsStateStorage).contains)
    val nCol = coalesce(refKeys.map(k => {
      val c = featureCols(col("stats_json"), k)._1
      when(c > 0, c)
    }): _*)

    val withN = filtered.withColumn("n", nCol).filter(col("n").isNotNull && col("n") > 0)
    val meta = Observation()
    val observed = withN.observe(meta,
      count(lit(1)).as("episodes"), coalesce(sum("n"), lit(0L)).as("frames"))

    // one (f, mean, std, mi, ma) struct per feature, f its position in
    // `features`; the cast types the empty array of an empty feature list
    val blocks = features.zipWithIndex.map { case (key, i) =>
      val (_, mean, std, mi, ma) = featureCols(col("stats_json"), key)
      struct(lit(i).as("f"), mean.as("mean"), std.as("std"), mi.as("mi"), ma.as("ma"))
    }
    val blockType = ArrayType(StructType(Seq(
      StructField("f", IntegerType)) ++
      Seq("mean", "std", "mi", "ma").map(StructField(_, ArrayType(DoubleType)))))
    val ep = observed
      .select(col("n"), explode(array(blocks: _*).cast(blockType)).as("b"))
      .select(col("n"), col("b.*"))
      .filter(col("mean").isNotNull && col("std").isNotNull &&
        col("mi").isNotNull && col("ma").isNotNull)
      .filter(size(col("std")) === size(col("mean")) &&
        size(col("mi")) === size(col("mean")) &&
        size(col("ma")) === size(col("mean")))
    val dims = ep.select(col("f"), col("n"), posexplode(col("mean")).as(Seq("dim", "mu")),
        col("std"), col("mi"), col("ma"))
      .withColumn("sd", element_at(col("std"), col("dim") + 1))
      .withColumn("mival", element_at(col("mi"), col("dim") + 1))
      .withColumn("maval", element_at(col("ma"), col("dim") + 1))
    val agg = dims.groupBy("f", "dim").agg(
      sum(col("n")).as("S"),
      sum(col("n") * col("mu")).as("sum_mu"),
      sum(col("n") * (col("sd") * col("sd") + col("mu") * col("mu"))).as("sum_m2"),
      min("mival").as("mn"),
      max("maval").as("mx"))
      .collect()

    val featureStats: Map[String, FeatureStats] =
      agg.groupBy(_.getAs[Int]("f")).map { case (i, unsorted) =>
        val rows = unsorted.sortBy(_.getAs[Int]("dim"))
        val s = rows.map(_.getAs[Long]("S"))
        val meanV = rows.map(r => r.getAs[Double]("sum_mu") / r.getAs[Long]("S"))
        val varV = rows.zip(meanV).map { case (r, m) =>
          math.max(r.getAs[Double]("sum_m2") / r.getAs[Long]("S") - m * m, 0.0)
        }
        features(i) -> FeatureStats(
          count = s.head,
          mean = meanV.toSeq,
          std = varV.map(math.sqrt).toSeq,
          min = rows.map(_.getAs[Double]("mn")).toSeq,
          max = rows.map(_.getAs[Double]("mx")).toSeq)
      }

    val Seq(episodesUsed, totalFrames) = Observed.longs(meta, "episodes", "frames")
    GlobalStats(episodesUsed, totalFrames, statsJsonlPath, featureStats)
  }

  /** Spark-native recompute from raw frames: per-dimension
    * count/mean/std_pop/min/max of the vector features over ALL frames,
    * plus q01/q99 tails. Cross-checks [[reduceFromJsonl]].
    *
    * Percentile shape (round-11 A6 probe, 5M×32 frames = 160M values):
    * percentile_approx's per-value sketch insert dominated everything —
    * 108 s for the round-10 two-sketch form, 30 s for a single two-tail
    * sketch, vs 0.8 s for the moments alone. The tails therefore come
    * from the classic TWO-PASS FIXED-WIDTH HISTOGRAM instead: pass 1's
    * moments aggregate already carries min/max; pass 2 bins each value
    * into `HistBins` equal-width buckets (pure codegen'd arithmetic, no
    * sketch object per row) and the percentile is read off the per-dim
    * cumulative bin counts — a (dims × bins) grid, never row-scale.
    * Probe: 2.9 s total for both passes at 160M values — 37× the
    * round-10 shape, 10× the single sketch. Guarantee shifts from rank error
    * (1e-4) to VALUE error ≤ (max−min)/HistBins per dim — the right
    * currency for a normalization bound; a constant dim degenerates to
    * its single value.
    */
  val HistBins: Int = 8192

  def computeFromFrames(raw: DataFrame, features: Seq[String]): GlobalStats = {
    import Schemas._
    val epCount = raw.select(Episodes.SrcFileCol).distinct().count()
    val frameCount = raw.count()
    val featureStats = features.flatMap { key =>
      val c = col(s"`$key`")
      val dims = raw.select(posexplode(c.cast(ArrayType(DoubleType))).as(Seq("dim", "v")))
      val agg = dims.groupBy("dim").agg(
        count(lit(1)).as("n"), avg("v").as("mean"), stddev_pop("v").as("std"),
        min("v").as("mn"), max("v").as("mx"))
        .orderBy("dim").collect()
      if (agg.isEmpty) None
      else {
        val n = agg.head.getAs[Long]("n")
        val mns = agg.map(_.getAs[Double]("mn"))
        val mxs = agg.map(_.getAs[Double]("mx"))
        // pass 2: per-(dim, bucket) counts against the broadcast per-dim
        // range; bucket = floor((v-mn)/width), clamped into [0, bins-1]
        val spark = raw.sparkSession
        val ranges = spark.createDataFrame(
          agg.map(r => (r.getAs[Int]("dim"), r.getAs[Double]("mn"),
            r.getAs[Double]("mx"))).toSeq).toDF("dim", "_lo", "_hi")
        val b = least(lit(HistBins - 1), greatest(lit(0),
          when(col("_hi") > col("_lo"),
            floor((col("v") - col("_lo")) / (col("_hi") - col("_lo"))
              * HistBins).cast("int")).otherwise(lit(0))))
        val hist = dims.join(broadcast(ranges), "dim")
          .groupBy(col("dim"), b.as("_b"))
          .agg(count(lit(1)).as("_c"))
          .collect()
          .groupBy(_.getAs[Int]("dim"))
          .map { case (d, rows) =>
            d -> rows.map(r => r.getAs[Int]("_b") -> r.getAs[Long]("_c"))
              .sortBy(_._1)
          }
        // percentile p per dim from the bucket that reaches ceil(p·n_d)
        // (exact integer rank). Edge choice is CONSERVATIVE for how each
        // tail is used downstream (normalization bounds): the LOWER tail
        // reports the bucket's lower edge (never over-trims from below),
        // the UPPER tail its upper edge (never under-covers from above) —
        // a lower-edge q99 would sit systematically low by up to one
        // bucket width. Both stay within the documented one-bucket error
        // band and inside [min, max].
        def tail(dimIdx: Int, num: Long, den: Long, upper: Boolean)
            : Double = {
          val nD = agg(dimIdx).getAs[Long]("n")
          val target = (nD * num + den - 1) / den // ceil(n·p), exact
          val (lo, hi) = (mns(dimIdx), mxs(dimIdx))
          if (hi <= lo) return lo
          var cum = 0L
          for ((bk, cnt) <- hist(dimIdx)) {
            cum += cnt
            if (cum >= target) {
              val edge = if (upper) bk + 1 else bk
              return math.min(hi, lo + (hi - lo) * edge / HistBins)
            }
          }
          hi
        }
        Some(key -> FeatureStats(
          count = n,
          mean = agg.map(_.getAs[Double]("mean")).toSeq,
          std = agg.map(_.getAs[Double]("std")).toSeq,
          min = mns.toSeq,
          max = mxs.toSeq,
          q01 = Some(agg.indices.map(d =>
            tail(d, 1L, 100L, upper = false)).toSeq),
          q99 = Some(agg.indices.map(d =>
            tail(d, 99L, 100L, upper = true)).toSeq)))
      }
    }.toMap
    GlobalStats(epCount, frameCount, "frames", featureStats)
  }

  /** Full stage: reduce JSONL → write `global_stats.json`. */
  def run(spark: SparkSession, statsJsonlPath: String, outPath: String,
      features: Seq[String], validIdsPath: Option[String] = None): GlobalStats = {
    val gs = reduceFromJsonl(spark, statsJsonlPath, features, validIdsPath)
    SingleFile.writeText(spark, outPath,
      StatsDoc.render(gs, features,
        "Weighted reduction over per-episode means/stds (distributed)."))
    gs
  }
}
