package graft

import org.apache.spark.sql.SparkSession

/** The session every gate harness runs under — `Bench`, `Verify`,
  * `tools.Profile` and `tools.Explain` — and its orderly teardown, so a
  * gate profiled or explained in a tool sees the confs it is benched and
  * verified under.
  *
  * Deployment settings: `SPARK_GRAFT_CPUS` (driver threads and shuffle
  * partitions, default 32), `SPARK_GRAFT_CODEGEN_CACHE` (codegen compile
  * cache entries, default 5000) and `SPARK_GRAFT_SF_DIR` (the tables a
  * harness reads when not given a directory).
  */
object GateSession {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  def start(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Belt-and-braces vs the round-1 parse failure: even if a state store
      // provider survives a query, its maintenance task never fires mid-run.
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "1h")
      // Whole-stage-codegen compile cache sized for a long-lived driver
      // serving hundreds of distinct queries: at the default 100 entries a
      // 12-gate sequence repeated in one JVM recompiled EVERY source on the
      // second pass (~10 ms/compile, ~1000 compiles per 24 gates); sized
      // up, none. Bounded by entry count, so scale-independent.
      .config("spark.sql.codegen.cache.maxEntries",
        sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "5000"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Stop any streaming query that is still registered, then the
    * state-store maintenance pool, then the session — so no late thread
    * can outlive the RpcEnv and spew errors after (or into) a harness's
    * last stdout line (round-1 bench parse failure). Never throws.
    */
  def stop(spark: SparkSession): Unit = {
    spark.streams.active.foreach { q => try q.stop() catch { case _: Throwable => () } }
    try org.apache.spark.sql.graft.GraftBridge.stopStateStore()
    catch { case _: Throwable => () }
    try spark.stop() catch { case _: Throwable => () }
  }
}
