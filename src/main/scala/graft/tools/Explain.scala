package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import graft.{GateSession, SparkEntry}

/** Print the formatted physical plan of each named gate under the gate
  * session (the plan-quality audit of PLANS.md). Streaming-drain gates
  * execute on construction, so their plan is the drained result's; use
  * batch gates.
  *
  * Usage: `runMain graft.tools.Explain <sfDir> <gate…>`
  */
object Explain {
  /** One formatted plan per gate, headed by its name. */
  def plans(spark: SparkSession, sfDir: String, names: Seq[String]): Seq[String] =
    Profile.gates(names).map { name =>
      try s"================ $name ================\n" +
        SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(FormattedMode)
      finally graft.ops.Pins.releaseAll(spark)
    }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Explain <sfDir> <gate…>")
    val names = Profile.gates(args.tail.toSeq) // refuse a typo before startup
    val spark = GateSession.start()
    try plans(spark, args(0), names).foreach(println)
    finally GateSession.stop(spark)
  }
}
