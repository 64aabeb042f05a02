package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}

/** AQE runtime re-planning — the "plans survive a 100× scale-up" levers
  * the engine relies on, proven on executed physical plans rather than
  * asserted in prose:
  *
  *  - a join whose input LOOKS big at plan time (file-size stats) but is
  *    small at runtime (selective filter) is converted SMJ → broadcast
  *    from the materialized shuffle statistics;
  *  - a skewed merge-join partition is split by the skew-join rule
  *    (`isSkewJoin`) instead of serializing one reducer — the automatic
  *    counterpart of the deterministic `ops/SkewJoin` salting, which
  *    exists for the cases AQE cannot split (e.g. aggregations).
  */
class AdaptiveSpec extends SparkSuite with AdaptiveSparkPlanHelper {
  import spark.implicits._

  test("AQE converts a statically-planned SMJ to broadcast from runtime stats") {
    val dir = tmpDir("aqe_bhj")
    (0L until 50000L).map(i => (i % 997, i)).toDF("k", "v")
      .write.mode("overwrite").parquet(s"$dir/big")
    (0L until 30000L).map(i => (i, s"name$i")).toDF("k", "name")
      .write.mode("overwrite").parquet(s"$dir/dims")
    withConf(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",            // static: SMJ
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "10MB") // runtime: convert
    {
      val dims = spark.read.parquet(s"$dir/dims").filter(col("k") < 50) // tiny at runtime
      val joined = spark.read.parquet(s"$dir/big").join(dims, "k")
      // execute THIS QueryExecution (count() would plan a separate one),
      // so the adaptive plan below is the final, re-optimized one
      assert(joined.collect().length > 0)
      val plan = stripAQEPlan(joined.queryExecution.executedPlan)
      assert(collect(plan) { case b: BroadcastHashJoinExec => b }.nonEmpty,
        s"expected runtime broadcast conversion:\n$plan")
      assert(collect(plan) { case s: SortMergeJoinExec => s }.isEmpty)
    }
  }

  test("runtime bloom filter prunes the fact side of a selective join") {
    val dir = tmpDir("bloom_join")
    (0L until 200000L).map(i => (i % 100000L, i)).toDF("k", "v")
      .write.mode("overwrite").parquet(s"$dir/fact")
    (0L until 100000L).map(i => (i, i % 1000L)).toDF("k", "cat")
      .write.mode("overwrite").parquet(s"$dir/dim")
    withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1", // keep SMJ
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      // test-sized thresholds: production defaults (10 MB creation /
      // 10 GB application) gate the same rewrite at cluster scale
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "1KB",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB")
    {
      val dim = spark.read.parquet(s"$dir/dim").filter(col("cat") === 7) // selective
      val joined = spark.read.parquet(s"$dir/fact").join(dim, "k")
      assert(joined.collect().length === 2 * 100) // 100 dim keys × 2 fact rows
      val plan = stripAQEPlan(joined.queryExecution.executedPlan)
      val hasBloom = collect(plan) {
        case f: org.apache.spark.sql.execution.FilterExec
            if f.condition.exists(_.isInstanceOf[
              org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain]) => f
      }.nonEmpty
      assert(hasBloom,
        s"expected a BloomFilterMightContain runtime filter on the fact side:\n$plan")
    }
  }

  test("AQE splits a skewed merge-join partition (isSkewJoin)") {
    val dir = tmpDir("aqe_skew")
    // key 0 is ~97% of the left side: unsalted, one reducer gets it all.
    // Payloads must be incompressible — MapStatus sizes are COMPRESSED
    // shuffle bytes, and a constant payload lz4's below any threshold.
    val rnd = new scala.util.Random(3)
    def blob() = Seq.fill(12)(rnd.nextLong().toHexString).mkString
    val left = ((0L until 100000L).map(_ => (0L, blob())) ++
      (1L to 20L).flatMap(k => (0 until 150).map(_ => (k, blob()))))
    left.toDF("k", "payload").write.mode("overwrite").parquet(s"$dir/left")
    (0L to 20L).map(k => (k, s"dim$k")).toDF("k", "name")
      .write.mode("overwrite").parquet(s"$dir/right")
    withConf(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1", // keep SMJ
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64KB")
    {
      val joined = spark.read.parquet(s"$dir/left")
        .join(spark.read.parquet(s"$dir/right"), "k")
      assert(joined.collect().length === 100000 + 20 * 150)
      val plan = stripAQEPlan(joined.queryExecution.executedPlan)
      val smjs = collect(plan) { case s: SortMergeJoinExec => s }
      assert(smjs.nonEmpty, s"expected an SMJ:\n$plan")
      assert(smjs.exists(_.isSkewJoin),
        s"expected the skew-join split to trigger:\n$plan")
    }
  }
}
