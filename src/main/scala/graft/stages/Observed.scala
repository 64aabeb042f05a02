package graft.stages

import org.apache.spark.sql.Observation

/** Reads the counters a stage attached to a pass it runs anyway
  * (`Dataset.observe`), instead of spending extra actions on counts.
  */
private[stages] object Observed {

  /** The named long metrics of a finished observation, 0 for any that is
    * absent: when the optimizer proves the observed plan empty it drops
    * the observer, and the observation completes with no metrics at all.
    */
  def longs(obs: Observation, names: String*): Seq[Long] = {
    val m = obs.get
    names.map(n => m.get(n).fold(0L)(_.asInstanceOf[Long]))
  }
}
