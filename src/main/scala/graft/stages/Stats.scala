package graft.stages

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.{FeatureStats, GlobalStats, Schemas, StatsDoc}
import graft.io.{Episodes, SingleFile}

/** Stage 3 — Stats (reference steps/stats_refactored.py:139-216): one
  * weighted pooled reduction, [[fold]], of per-episode rows into global
  * per-dimension count/mean/std/min/max, fed by one of two sources:
  *
  * 1. [[reduceFromJsonl]] — the reference path: per-episode stats records
  *    (`episodes_stats.jsonl`), with all of the reference's input
  *    tolerances (heterogeneous count shapes A7, scalar→list coercion F12,
  *    dimension guard A8, zero-count episode skip A9, JSONL/CSV/lines
  *    id-list S7). Pure column expressions over a permissive JSON parse —
  *    the reference's 90-line Python reducer becomes one explode + groupBy,
  *    and parallelizes over episodes.
  *
  * 2. [[reduceFromFrames]] — without records: the same rows from the valid
  *    episodes' frames, plus q01/q99 tails.
  *
  * Pooled-variance identity (stats_refactored.py:9-44):
  * S = Σn, mean = Σ(n·μ)/S, var = Σ(n·(σ²+μ²))/S − mean², clamped ≥ 0.
  */
object Stats {

  /** The features `cli.Main` reduces, in the reference's frame-count key order. */
  val DefaultFeatures: Seq[String] = Seq("action", Schemas.ObsStateStorage)

  /** The rows of `df` whose `idCol` is in the valid episode-id set at
    * `path`, the one valid-set rule of both paths; every row when there is
    * no path/file. Tolerant id-set load (S7): JSONL (`episode_index`/
    * `episode` keys), CSV (last field), or bare-number lines.
    */
  private def keepValid(df: DataFrame, idCol: String, path: Option[String]): DataFrame = {
    val spark = df.sparkSession
    path.fold(df) { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(hp)) df
      else {
        val lines = spark.read.text(p).filter(length(trim(col("value"))) > 0)
        val ids = lines.select(
          when(trim(col("value")).startsWith("{"),
            coalesce(
              get_json_object(col("value"), "$.episode_index"),
              get_json_object(col("value"), "$.episode")))
            .otherwise(element_at(split(col("value"), ","), -1))
            .try_cast("long").as(idCol))
          .filter(col(idCol).isNotNull)
        // no distinct(): a left-semi join ignores duplicates
        df.join(broadcast(ids), Seq(idCol), "left_semi")
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

  /** The pooled reduction of per-episode rows `(f, dim, n, mu, sd, mi, ma)`,
    * `f` a position in `features`: one `groupBy(f, dim)` for every feature,
    * finished driver-side, plus the `episodes` and `frames` counters that
    * `meta` observed on the pass building the rows.
    */
  private def fold(rows: DataFrame, features: Seq[String], meta: Observation,
      source: String): GlobalStats = {
    val agg = rows.groupBy("f", "dim").agg(
      sum(col("n")).as("S"),
      sum(col("n") * col("mu")).as("sum_mu"),
      sum(col("n") * (col("sd") * col("sd") + col("mu") * col("mu"))).as("sum_m2"),
      min("mi").as("mn"),
      max("ma").as("mx"))
      .collect()

    val featureStats: Map[String, FeatureStats] =
      agg.groupBy(_.getAs[Int]("f")).map { case (i, unsorted) =>
        val rows = unsorted.sortBy(_.getAs[Int]("dim"))
        val meanV = rows.map(r => r.getAs[Double]("sum_mu") / r.getAs[Long]("S"))
        val varV = rows.zip(meanV).map { case (r, m) =>
          math.max(r.getAs[Double]("sum_m2") / r.getAs[Long]("S") - m * m, 0.0)
        }
        features(i) -> FeatureStats(
          count = rows.head.getAs[Long]("S"),
          mean = meanV.toSeq,
          std = varV.map(math.sqrt).toSeq,
          min = rows.map(_.getAs[Double]("mn")).toSeq,
          max = rows.map(_.getAs[Double]("mx")).toSeq)
      }

    val Seq(episodesUsed, totalFrames) = Observed.longs(meta, "episodes", "frames")
    GlobalStats(episodesUsed, totalFrames, source, featureStats)
  }

  /** The pooled reduction of per-episode stats records.
    *
    * One job reads the JSONL: every feature's per-episode block becomes a
    * row of an exploded (f, n, mean, std, min, max) array, and [[fold]]
    * reduces all features at once. The meta counters ride that pass as an
    * `Observation` on the per-episode rows.
    */
  def reduceFromJsonl(spark: SparkSession, statsJsonlPath: String,
      features: Seq[String], validIdsPath: Option[String] = None): GlobalStats = {

    val lines = spark.read.text(statsJsonlPath)
      .filter(length(trim(col("value"))) > 0)
      .select(
        get_json_object(col("value"), "$.episode_index").try_cast("long").as("episode_index"),
        get_json_object(col("value"), "$.stats").as("stats_json"))
      .filter(col("episode_index").isNotNull)

    val filtered = keepValid(lines, "episode_index", validIdsPath)

    // per-episode frame count: action → observation.state → any feature, in
    // declared order (stats_refactored.py:176-190)
    val refKeys = DefaultFeatures ++ features.filterNot(DefaultFeatures.contains)
    val nCol = coalesce(refKeys.map(k => {
      val c = featureCols(col("stats_json"), k)._1
      when(c > 0, c)
    }): _*)

    val withN = filtered.withColumn("n", nCol).filter(col("n").isNotNull && col("n") > 0)
    val meta = Observation()
    val observed = withN.observe(meta,
      count(lit(1)).as("episodes"), coalesce(sum("n"), lit(0L)).as("frames"))

    // one (f, mus, sds, mis, mas) struct per feature, f its position in
    // `features`; the cast types the empty array of an empty feature list
    val blocks = features.zipWithIndex.map { case (key, i) =>
      val (_, mean, std, mi, ma) = featureCols(col("stats_json"), key)
      struct(lit(i).as("f"), mean.as("mus"), std.as("sds"), mi.as("mis"), ma.as("mas"))
    }
    val blockType = ArrayType(StructType(Seq(
      StructField("f", IntegerType)) ++
      Seq("mus", "sds", "mis", "mas").map(StructField(_, ArrayType(DoubleType)))))
    val ep = observed
      .select(col("n"), explode(array(blocks: _*).cast(blockType)).as("b"))
      .select(col("n"), col("b.*"))
      .filter(col("mus").isNotNull && col("sds").isNotNull &&
        col("mis").isNotNull && col("mas").isNotNull)
      .filter(size(col("sds")) === size(col("mus")) &&
        size(col("mis")) === size(col("mus")) &&
        size(col("mas")) === size(col("mus")))
    val rows = ep.select(col("f"), col("n"), posexplode(col("mus")).as(Seq("dim", "mu")),
        col("sds"), col("mis"), col("mas"))
      .select(col("f"), col("dim"), col("n"), col("mu"),
        element_at(col("sds"), col("dim") + 1).as("sd"),
        element_at(col("mis"), col("dim") + 1).as("mi"),
        element_at(col("mas"), col("dim") + 1).as("ma"))
    fold(rows, features, meta, statsJsonlPath)
  }

  /** The pooled reduction of the frames of the valid ([[keepValid]])
    * episode files under `dataDir`: one pass builds [[fold]]'s rows with one
    * `groupBy(_src_file, f, dim)` and counts episodes and frames on the
    * way, then [[withTails]] adds q01/q99.
    */
  def reduceFromFrames(spark: SparkSession, dataDir: String, features: Seq[String],
      validIdsPath: Option[String] = None): GlobalStats = {
    val frames = keepValid(Episodes.readDataDir(spark, dataDir), Episodes.EpIdxCol,
      validIdsPath)
    // (_src_file, f, dim, v) per non-null vector element, f a position in
    // `features`
    def values(df: DataFrame): DataFrame = df
      .select(col(Episodes.SrcFileCol), explode(array(features.zipWithIndex.map {
        case (key, i) => struct(lit(i).as("f"), col(s"`$key`").cast(ArrayType(DoubleType)).as("vs"))
      }: _*)).as("b"))
      .select(col(Episodes.SrcFileCol), col("b.f").as("f"),
        posexplode(col("b.vs")).as(Seq("dim", "v")))
      .filter(col("v").isNotNull)

    val meta = Observation()
    // row 0 of a file is its first frame whichever split reads it
    val observed = frames.observe(meta,
      count_if(col(Episodes.OrdCol) === 0).as("episodes"), count(lit(1)).as("frames"))
    val rows = values(observed).groupBy(Episodes.SrcFileCol, "f", "dim").agg(
      count(lit(1)).as("n"), avg("v").as("mu"), stddev_pop("v").as("sd"),
      min("v").as("mi"), max("v").as("ma"))
    withTails(values(frames), features, fold(rows, features, meta, "frames"))
  }

  /** Equal-width buckets per dimension of [[withTails]]' q01/q99 histogram.
    *
    * Percentile shape (round-11 A6 probe, 5M×32 frames = 160M values):
    * percentile_approx's per-value sketch insert dominated everything —
    * 108 s for the round-10 two-sketch form, 30 s for a single two-tail
    * sketch, vs 0.8 s for the moments alone. The tails therefore come
    * from the classic TWO-PASS FIXED-WIDTH HISTOGRAM instead: pass 1 (the
    * fold) already carries min/max; pass 2 bins each value into
    * `HistBins` equal-width buckets (pure codegen'd arithmetic, no sketch
    * object per row) in one pass keyed (f, dim, bucket), and the percentile
    * is read off the per-dim cumulative bin counts — a (dims × bins) grid,
    * never row-scale. Probe: 2.9 s total for both passes at 160M values —
    * 37× the round-10 shape, 10× the single sketch. Guarantee shifts from
    * rank error (1e-4) to VALUE error ≤ (max−min)/HistBins per dim — the
    * right currency for a normalization bound; a constant dim degenerates
    * to its single value.
    */
  val HistBins: Int = 8192

  /** `gs` with q01/q99 per feature dimension, from `values`' (f, dim, v) rows. */
  private def withTails(values: DataFrame, features: Seq[String], gs: GlobalStats): GlobalStats = {
    if (gs.features.isEmpty) return gs
    val spark = values.sparkSession
    // per-(f, dim, bucket) counts against the broadcast per-dim range;
    // bucket = floor((v-lo)/width), clamped into [0, bins-1]
    val ranges = spark.createDataFrame(for {
      (key, f) <- gs.features.toSeq
      d <- f.mean.indices
    } yield (features.indexOf(key), d, f.min(d), f.max(d))).toDF("f", "dim", "_lo", "_hi")
    val b = least(lit(HistBins - 1), greatest(lit(0),
      when(col("_hi") > col("_lo"),
        floor((col("v") - col("_lo")) / (col("_hi") - col("_lo"))
          * HistBins).cast("int")).otherwise(lit(0))))
    val hist = values.join(broadcast(ranges), Seq("f", "dim"))
      .groupBy(col("f"), col("dim"), b.as("_b"))
      .agg(count(lit(1)).as("_c"))
      .collect()
      .groupBy(r => (features(r.getAs[Int]("f")), r.getAs[Int]("dim")))
      .map { case (fd, rows) =>
        fd -> rows.map(r => r.getAs[Int]("_b") -> r.getAs[Long]("_c")).sortBy(_._1).toSeq
      }
    // percentile pct of one dim from the bucket that reaches ceil(n·pct/100)
    // (exact integer rank). Edge choice is CONSERVATIVE for how each tail is
    // used downstream (normalization bounds): the LOWER tail reports the
    // bucket's lower edge (never over-trims from below), the UPPER tail its
    // upper edge (never under-covers from above) — a lower-edge q99 would
    // sit systematically low by up to one bucket width. Both stay within the
    // documented one-bucket error band and inside [min, max].
    def tail(bins: Seq[(Int, Long)], lo: Double, hi: Double, pct: Long, upper: Boolean): Double = {
      if (hi <= lo) return lo
      val target = (bins.map(_._2).sum * pct + 99) / 100
      var cum = 0L
      for ((bk, cnt) <- bins) {
        cum += cnt
        if (cum >= target) {
          val edge = if (upper) bk + 1 else bk
          return math.min(hi, lo + (hi - lo) * edge / HistBins)
        }
      }
      hi
    }
    gs.copy(features = gs.features.map { case (key, f) =>
      def tails(pct: Long, upper: Boolean) = Some(f.mean.indices.map(d =>
        tail(hist.getOrElse((key, d), Nil), f.min(d), f.max(d), pct, upper)))
      key -> f.copy(q01 = tails(1L, upper = false), q99 = tails(99L, upper = true))
    })
  }

  /** Full stage: reduce JSONL → write `global_stats.json`. */
  def run(spark: SparkSession, statsJsonlPath: String, outPath: String,
      features: Seq[String], validIdsPath: Option[String] = None): GlobalStats =
    write(spark, outPath, features, reduceFromJsonl(spark, statsJsonlPath, features,
      validIdsPath), "Weighted reduction over per-episode means/stds (distributed).")

  /** Full stage without records: reduce the frames → write `global_stats.json`. */
  def runFromFrames(spark: SparkSession, dataDir: String, outPath: String,
      features: Seq[String], validIdsPath: Option[String] = None): GlobalStats =
    write(spark, outPath, features, reduceFromFrames(spark, dataDir, features,
      validIdsPath), "Recomputed from raw frames.")

  private def write(spark: SparkSession, outPath: String, features: Seq[String],
      gs: GlobalStats, note: String): GlobalStats = {
    SingleFile.writeText(spark, outPath, StatsDoc.render(gs, features, note))
    gs
  }
}
