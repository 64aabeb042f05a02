package graft.ops

import org.apache.spark.sql.DataFrame

/** Cache-lifecycle discipline for operators that pin shared intermediates.
  *
  * The recurring shape: an op persists a subtree that several branches of
  * its final plan reference (the pin is load-bearing — Spark has no
  * cross-join common-subtree sharing without it), builds the result
  * lazily, and returns. Without cleanup the pin outlives the op: in a
  * long-lived session every such call leaves a table in the cache manager
  * (round-8 verdict #2).
  *
  * `sealOutput` closes the lifecycle without losing the pin's benefit:
  * materialize the result ONCE via `localCheckpoint` (the single action in
  * which every pinned subtree is computed once and reused), then release
  * the pins. The returned frame is self-contained — its blocks are managed
  * by the ContextCleaner (freed on GC), never registered with the session
  * cache manager, so `spark.catalog.clearCache()` semantics and the
  * "no gate leaves cached tables behind" contract both hold.
  *
  * Scale note: the sealed result is an OUTPUT-sized pin (scores, buckets,
  * cluster maps — orders below the event/token intermediates the op
  * pinned), and MEMORY_AND_DISK storage spills rather than OOMs; a 100 TB
  * pipeline stage that wants durable outputs writes them to storage
  * instead, at which point no pin survives either way.
  */
object Pins {

  /** Materialize `result` while `pins` are cached, then unpersist them.
    * Eager by design — the op's contract becomes "returns a computed,
    * self-contained table", the same shape Dedup's minhash tables and
    * Cluster's closures already use.
    */
  def sealOutput(result: DataFrame, pins: DataFrame*): DataFrame = {
    val out = result.localCheckpoint()
    pins.foreach(_.unpersist())
    out
  }

  /** Two-output form (ops that return a pair of tables). */
  def sealOutputs(a: DataFrame, b: DataFrame, pins: DataFrame*)
      : (DataFrame, DataFrame) = {
    val oa = a.localCheckpoint()
    val ob = b.localCheckpoint()
    pins.foreach(_.unpersist())
    (oa, ob)
  }

  /** Release EVERYTHING a finished gate can have pinned: the session cache
    * (catalog-registered persists) AND every still-persistent RDD — which
    * is where `localCheckpoint` blocks live. The sealed outputs above are
    * freed by the ContextCleaner on GC, but a 200-gate harness run never
    * GC-pressures a 100 GiB heap, so checkpoint blocks from dozens of
    * prior gates accumulate in the block manager and inflate later gates
    * (round-10: q154 read 7 s isolated vs 14 s in-bench behind 150 gates'
    * leftovers). Harness loops (Bench/Verify/Profile) call this between
    * gates; safe there because gates are self-contained — nothing crosses
    * the boundary except the driver-side result already counted/written.
    */
  def releaseAll(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.catalog.clearCache()
    // blocking: harness loops call this OUTSIDE any timed window, and an
    // async removal would churn the block manager inside the NEXT gate's
    // timing instead
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }
}
