package graft

import org.apache.hadoop.fs.{Path => HPath}
import graft.io.SingleFile

/** Crash-window behavior of the single-file replace protocol: a kill at
  * any step must lose at most the in-flight version, never the previous
  * one (the streaming manifest fold reads the file back read-modify-write,
  * so a lost base would permanently drop every unchanged episode).
  */
class SingleFileSpec extends SparkSuite {
  import spark.implicits._

  private def readIds(path: String): Set[Long] =
    spark.read.parquet(path).select("id").collect().map(_.getLong(0)).toSet

  test("writeParquetAtomic replaces and leaves no backup behind") {
    val dir = tmpDir("sf_atomic")
    val tgt = s"$dir/state.parquet"
    Seq(0L).toDF("id").write.parquet(tgt) // a directory of part files
    SingleFile.writeParquetAtomic(Seq(1L, 2L).toDF("id"), tgt)
    assert(readIds(tgt) == Set(1L, 2L))
    SingleFile.writeParquetAtomic(Seq(3L).toDF("id"), tgt)
    assert(readIds(tgt) == Set(3L))
    val fs = new HPath(tgt).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new HPath(tgt + ".bak")), "stale backup left behind")
    assert(!fs.exists(new HPath(tgt + ".tmpdir")), "stale tmpdir left behind")
  }

  test("recoverAtomic restores the renamed-aside version after a mid-replace crash") {
    val dir = tmpDir("sf_recover")
    val tgt = s"$dir/state.parquet"
    SingleFile.writeParquetAtomic(Seq(1L, 2L).toDF("id"), tgt)
    // Simulate dying between rename(tgt, bak) and rename(part, tgt):
    val fs = new HPath(tgt).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.rename(new HPath(tgt), new HPath(tgt + ".bak"))
    assert(!fs.exists(new HPath(tgt)))
    SingleFile.recoverAtomic(spark, tgt)
    assert(readIds(tgt) == Set(1L, 2L), "backup not restored")
    // And the write path self-heals too (recover is idempotent inside it):
    fs.rename(new HPath(tgt), new HPath(tgt + ".bak"))
    SingleFile.writeParquetAtomic(Seq(9L).toDF("id"), tgt)
    assert(readIds(tgt) == Set(9L))
    assert(!fs.exists(new HPath(tgt + ".bak")))
  }

  test("readablePath gives pure readers the backup without mutating the filesystem") {
    val dir = tmpDir("sf_readable")
    val tgt = s"$dir/state.parquet"
    SingleFile.writeParquetAtomic(Seq(7L, 8L).toDF("id"), tgt)
    val fs = new HPath(tgt).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.rename(new HPath(tgt), new HPath(tgt + ".bak"))
    val p = SingleFile.readablePath(spark, tgt)
    assert(p == tgt + ".bak")
    assert(readIds(p) == Set(7L, 8L))
    // reader did NOT heal — target still missing, backup still in place
    assert(!fs.exists(new HPath(tgt)) && fs.exists(new HPath(tgt + ".bak")))
    assert(SingleFile.readablePath(spark, tgt + "_absent") == tgt + "_absent")
  }

  test("recoverAtomic is a no-op when the target is intact") {
    val dir = tmpDir("sf_noop")
    val tgt = s"$dir/state.parquet"
    SingleFile.writeParquetAtomic(Seq(5L).toDF("id"), tgt)
    SingleFile.recoverAtomic(spark, tgt)
    assert(readIds(tgt) == Set(5L))
  }

  test("a session maxRecordsPerFile cap drops no row of a single-file write") {
    val dir = tmpDir("sf_cap")
    withConf("spark.sql.files.maxRecordsPerFile" -> "2") {
      SingleFile.writeParquetAtomic((1L to 6L).toDF("id"), s"$dir/state.parquet")
      SingleFile.writeJsonl((1L to 7L).toDF("id"), s"$dir/lines.jsonl")
    }
    assert(readIds(s"$dir/state.parquet") == (1L to 6L).toSet)
    assert(spark.read.json(s"$dir/lines.jsonl").select("id").collect()
      .map(_.getLong(0)).toSet == (1L to 7L).toSet)
  }

  test("a failed placement keeps the live file and leaves no backup") {
    val dir = tmpDir("sf_place_fail")
    val tgt = new HPath(s"$dir/episode_000001.parquet")
    val fs = tgt.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = "live episode bytes".getBytes("UTF-8")
    val out = fs.create(tgt)
    try out.write(live) finally out.close()
    intercept[java.io.IOException](
      SingleFile.place(fs, new HPath(s"$dir/.stage_tmp/0-episode_000001.parquet"), tgt))
    val in = fs.open(tgt)
    try assert(org.apache.commons.io.IOUtils.toByteArray(in).toSeq === live.toSeq) finally in.close()
    assert(!fs.exists(new HPath(tgt.toString + ".bak")), "backup left behind")
  }

  private def leftovers(tgt: String): Seq[String] = {
    val fs = new HPath(tgt).getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(".bak", ".tmpdir").map(tgt + _).filter(p => fs.exists(new HPath(p)))
  }

  test("writeText replaces an existing target through the staged protocol") {
    val tgt = s"${tmpDir("sf_text")}/summary.yaml"
    SingleFile.writeText(spark, tgt, "total: 1\n")
    SingleFile.writeText(spark, tgt, "total: 2\n")
    assert(SingleFile.readText(spark, tgt).contains("total: 2\n"))
    assert(leftovers(tgt).isEmpty, "temp or backup file left behind")
  }

  test("writeText after a crashed replace (only the backup present) heals and writes") {
    val tgt = s"${tmpDir("sf_text_crash")}/global_stats.json"
    SingleFile.writeText(spark, tgt, "{\"v\": 1}")
    val fs = new HPath(tgt).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.rename(new HPath(tgt), new HPath(tgt + ".bak"))
    SingleFile.writeText(spark, tgt, "{\"v\": 2}")
    assert(SingleFile.readText(spark, tgt).contains("{\"v\": 2}"))
    assert(leftovers(tgt).isEmpty, "temp or backup file left behind")
  }
}
