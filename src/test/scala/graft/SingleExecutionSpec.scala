package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.execution.ui.{
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** The plan-shape tripwired gates run their gated plan ONCE, and their
  * warm calls run a pinned number of Spark jobs.
  *
  * Each gate certifies its plan with `Relational.certified`: one eager
  * `localCheckpoint` of the gated plan, whose row count is observed on
  * that same job, and a walk of that execution's finalized adaptive plan.
  * A cold call must produce EXACTLY ONE SQL execution whose final
  * (post-AQE-replan) physical plan carries the gate's tripwire marker; a
  * second execution of the gate plan (the round-12 `qe.toRdd.count()`
  * probe) would show up as two. The second, warm call of each gate is
  * pinned at its job count, so a job that exists only as a driver round
  * trip fails here: the `count()` over the checkpoint that the tripwires
  * once read their row count from cost two jobs when rows flowed.
  */
class SingleExecutionSpec extends SparkSuite {

  private val sfDir = "/root/testdata/sf0.01"

  // gate → (a case-insensitive substring of the plan node or expression
  // the gate's tripwire certifies, present only in the real gate
  // execution; the warm call's Spark jobs at sf0.01). The certified
  // execution runs one job per AQE query stage (shuffle or broadcast), one
  // range sample for its orderBy and one result job, the checkpoint; what
  // a gate runs before it is named first.
  private val gates = Seq(
    // 2 bucketed table writes; agg stage, sample, sort stage, result
    "q132_bucketed_join"    -> ("sortmergejoin", 6),
    // 2 join-side stages, the bloom filter's build (2), agg stage,
    // sample, sort stage, result
    "q140_bloom_inject"     -> ("might_contain", 8),
    // fact write (1), dim write (distinct stage + write); dim broadcast,
    // agg stage, sample, sort stage, result
    "q143_dpp_prune"        -> ("dynamicpruning", 8),
    // dim pin (agg stage + checkpoint); repartition stage, 2 join-side
    // stages, agg stage, sample, sort stage, result
    "q144_skew_split"       -> ("sortmergejoin", 9),
    // agg stage, sample, sort stage, result
    "q145_aqe_coalesce"     -> ("aqeshuffleread", 4),
    // window stage, sample, sort stage, result
    "q146_window_topk"      -> ("windowgrouplimit", 4),
    // dim pin (1); 2 join-side stages, the runtime broadcast, agg stage,
    // sample, sort stage, result
    "q149_aqe_broadcast"    -> ("broadcasthashjoin", 8),
    // 2 broadcast stages, 2 window-input stages, sort stage, sample, result
    "q172_sliding_window"   -> ("window", 7),
    // agg stage, sample, sort stage, result
    "q182_extension_fusion" -> ("levenshtein", 4))

  private def run(gate: String): Unit =
    try SparkEntry.queries(gate)(spark, sfDir)
    finally graft.ops.Pins.releaseAll(spark)

  for ((gate, (marker, warmJobs)) <- gates)
    test(s"$gate executes its plan exactly once ('$marker' in one SQL execution)") {
      // latest plan description per executionId: AQE replans in place, so
      // runtime-injected nodes (AQEShuffleRead, runtime BHJ) only appear
      // in the SparkListenerSQLAdaptiveExecutionUpdate descriptions
      val plans = TrieMap.empty[Long, String]
      val listener = new SparkListener {
        override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
          case e: SparkListenerSQLExecutionStart =>
            plans(e.executionId) = e.physicalPlanDescription
          case e: SparkListenerSQLAdaptiveExecutionUpdate =>
            plans(e.executionId) = e.physicalPlanDescription
          case _ => ()
        }
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        run(gate)
        org.apache.spark.sql.graft.GraftBridge
          .waitListenerBusEmpty(spark.sparkContext, 60000)
      } finally spark.sparkContext.removeSparkListener(listener)
      val hits = plans.filter(_._2.toLowerCase.contains(marker)).keys.toSeq.sorted
      assert(hits.size == 1,
        s"$gate: expected exactly 1 SQL execution containing '$marker', " +
          s"got ${hits.size} (execution ids: ${hits.mkString(",")})")
      val (_, jobs) = jobsOf(run(gate))
      assert(jobs == warmJobs, s"$gate: the warm call ran $jobs Spark jobs, pinned at $warmJobs")
    }
}
