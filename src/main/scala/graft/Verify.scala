package graft
import java.nio.file.{Files, Paths}
import graft.core.Json
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, rest @ _*) = args
    // optional third arg (dev only): comma-separated name prefixes to run
    val keep: String => Boolean = rest.headOption match {
      case Some(p) => val ps = p.split(','); n => ps.exists(n.startsWith)
      case None => _ => true
    }
    val spark = GateSession.start()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      finally graft.ops.Pins.releaseAll(spark) // caches + checkpoint blocks must not accumulate
    }
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${Json.quote(k)}: ${Json.quote(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    GateSession.stop(spark)
  }
}
