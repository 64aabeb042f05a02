package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact linear-interpolation quantiles (numpy/Polars `quantile(...,
  * "linear")` semantics) per group, and per embedding dimension as the
  * group keyed by vector position. [[graft.stages.Stats]]' q01/q99 tails
  * are the bounded-value-error histogram counterpart.
  *
  * Shape: per-group rank window → one groupBy picking the two bracketing
  * order statistics per quantile and interpolating. Two shuffles (rank +
  * group), no driver state. The rank window sorts only values of ONE group
  * per partition — at 100 TB per-dim windows are the scalable form of
  * "sort each column" (each dim's sort is independent and distributes).
  *
  * Determinism: ties in `v` are interchangeable for order statistics (the
  * selected VALUES are equal whatever the tie order), and the
  * interpolation `lo + frac*(hi-lo)` is a fixed IEEE formula both engines
  * evaluate identically.
  */
object Quantiles {

  /** Per-GROUP exact quantiles of a numeric column: (group, n, <p>...),
    * each rounded to 6 places unless `roundDp` says otherwise. Each group's
    * sort distributes independently.
    */
  def perGroup(df: DataFrame, groupCol: String, valueCol: String,
      ps: Seq[(String, Double)], roundDp: Option[Int] = Some(6)): DataFrame = {
    val wOrd = Window.partitionBy(groupCol).orderBy("v")
    val wAll = Window.partitionBy(groupCol)
    val r = df.select(col(groupCol), col(valueCol).cast("double").as("v"))
      .withColumn("rn", (row_number().over(wOrd) - 1).cast("long"))
      .withColumn("n_w", count(lit(1)).over(wAll))
    val aggs = ps.flatMap { case (name, p) => Seq(
      max(when(col("rn") === floor(lit(p) * (col("n_w") - 1)), col("v")))
        .as(s"_lo_$name"),
      max(when(col("rn") === ceil(lit(p) * (col("n_w") - 1)), col("v")))
        .as(s"_hi_$name")) }
    val g = r.groupBy(groupCol).agg(count(lit(1)).as("n"), aggs: _*)
    ps.foldLeft(g) { case (acc, (name, p)) =>
      val pos = lit(p) * (col("n") - 1).cast("double")
      val raw = col(s"_lo_$name") +
        (pos - floor(pos)) * (col(s"_hi_$name") - col(s"_lo_$name"))
      // roundDp=None yields the raw IEEE value — for callers that do more
      // arithmetic on the quantiles (e.g. Tukey fences) and round at the end
      acc.withColumn(name,
        roundDp.fold(raw)(d => graft.functions.Exact.roundPortable(raw, d)))
    }.select(col(groupCol) +: col("n") +: ps.map(p => col(p._1)): _*)
  }

  /** Per-dimension exact quantiles of an `array<float/double>` column:
    * [[perGroup]] keyed by the vector position. Returns (dim, n, <p>...).
    */
  def perDimension(df: DataFrame, vecCol: String, ps: Seq[(String, Double)]): DataFrame =
    perGroup(df.select(posexplode(col(vecCol).cast("array<double>")).as(Seq("dim", "v"))),
      "dim", "v", ps)

  /** Per-group LOWER WEIGHTED MEDIAN with integer weights: the smallest
    * value v whose cumulative weight (in value order) reaches half the
    * group total — exact integer comparison `2·cum ≥ total`, no FP.
    *
    * Scale shape: the corpus first collapses to one row per (group,
    * value) with a map-side-combined weight sum; the rank window then
    * runs over that VALUE-DISTINCT table (bounded by the value domain,
    * not the row count), so a 100 TB group with a million distinct
    * lengths windows a million rows, not its billions of documents.
    * Returns (group, w_total, wmedian); groups with zero/negative total
    * weight are dropped (no median is defined).
    */
  def weightedMedian(df: DataFrame, groupCol: String, valueCol: String,
      weightCol: String): DataFrame = {
    val vw = df.select(col(groupCol).as("_g"),
        col(valueCol).cast("long").as("_v"),
        col(weightCol).cast("long").as("_w"))
      .groupBy("_g", "_v").agg(sum(col("_w")).as("_wv"))
    val wOrd = Window.partitionBy("_g").orderBy("_v")
    val wAll = Window.partitionBy("_g")
    vw.withColumn("_cum", sum(col("_wv")).over(wOrd))
      .withColumn("_tot", sum(col("_wv")).over(wAll))
      .where(col("_tot") > 0L && col("_cum") * 2 >= col("_tot"))
      .groupBy(col("_g").as(groupCol))
      .agg(min(col("_tot")).as("w_total"), min(col("_v")).as("wmedian"))
  }
}
