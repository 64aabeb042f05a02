package graft.io

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Single-file and atomic-write helpers.
  *
  * Spark's committers produce directories of part files; the reference's
  * stage contracts are *named single files* updated atomically
  * (write-to-tmp + rename, reference discover_refactored.py:23-27). These
  * helpers bridge the two: write a 1-partition dataset to a tmp dir, then
  * rename the part file into place. Rename is a metadata operation on
  * HDFS-like filesystems, so this stays cheap at any scale; the coalesce(1)
  * is only ever applied to *small* control-plane outputs (manifests,
  * summaries), never to data-plane tables.
  */
object SingleFile {

  private def fs(spark: SparkSession, p: HPath): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Heal the crash window of the replace protocol: if a previous write
    * renamed `target` → `target.bak` but died before renaming the new file
    * in, restore the backup so the target is never observed missing.
    *
    * WRITER-SIDE ONLY (single-writer contract): call from the component
    * that OWNS the file's read-modify-write cycle (the streaming CDC
    * merge, batch discover) before reading its own state back. A pure
    * READER must not call this — a reader resurrecting the backup races
    * an in-flight replace (between its two renames) and can make the
    * writer's rename-in fail; readers use [[readablePath]] instead, which
    * never mutates the filesystem.
    */
  def recoverAtomic(spark: SparkSession, target: String): Unit = {
    val tgt = new HPath(target)
    recover(fs(spark, tgt), tgt)
  }

  /** Read-only crash-window fallback for PURE READERS: the target path if
    * it exists, else the backup left by an interrupted replace. Never
    * mutates the filesystem (see [[recoverAtomic]] for why readers must
    * not heal).
    */
  def readablePath(spark: SparkSession, target: String): String = {
    val tgt = new HPath(target)
    val f = fs(spark, tgt)
    if (!f.exists(tgt) && f.exists(new HPath(target + ".bak"))) target + ".bak"
    else target
  }

  /** Hadoop `FileSystem.rename` reports most failures by RETURNING FALSE
    * (src vanished, dst exists, transient error) — an unchecked rename in
    * this protocol can silently destroy the only surviving copy. Every
    * rename goes through this guard.
    */
  private def renameOrThrow(f: FileSystem, src: HPath, dst: HPath): Unit =
    if (!f.rename(src, dst))
      throw new java.io.IOException(s"rename failed: $src -> $dst")

  private def recover(f: FileSystem, tgt: HPath): Unit = {
    val bak = new HPath(tgt.toString + ".bak")
    if (!f.exists(tgt) && f.exists(bak)) renameOrThrow(f, bak, tgt)
  }

  /** Replace `target` with the single part file staged in `tmp`, never
    * leaving a state where BOTH target and backup are missing: the old
    * version is renamed aside (not deleted) until the new one is in place,
    * so a crash at any step loses at most the in-flight version, which
    * [[recoverAtomic]] / the next write heal. (The previous delete-then-
    * rename protocol had a window where a crash lost the file entirely —
    * fatal for read-modify-write state like the streaming manifest fold,
    * whose checkpoint-replayed batch would then rebuild from empty.)
    * A failed rename of the new file in restores the backup before
    * throwing, so the caller observes the old version, not a hole. The
    * old version may be a directory of part files (a plain Spark write).
    */
  private def replaceWith(f: FileSystem, tgt: HPath, part: HPath): Unit = {
    val bak = new HPath(tgt.toString + ".bak")
    if (tgt.getParent != null) f.mkdirs(tgt.getParent)
    recover(f, tgt)
    f.delete(bak, true)
    val hadOld = f.exists(tgt)
    if (hadOld) renameOrThrow(f, tgt, bak)
    try renameOrThrow(f, part, tgt)
    catch {
      case e: java.io.IOException =>
        if (hadOld) recover(f, tgt) // put the old version back before failing
        throw e
    }
    f.delete(bak, true)
  }

  /** Replace `target` with the single file `write` stages into the tmp
    * dir it is given: its `part-*` file, or an empty file when it wrote
    * none (an empty DataFrame yields no JSON part file). A DataFrame
    * write must lift the session's `maxRecordsPerFile` cap, else the rows
    * past the cap land in a second part file that is never placed.
    */
  private def staged(spark: SparkSession, target: String)(write: String => Unit): Unit = {
    val tgt = new HPath(target)
    val tmp = new HPath(target + ".tmpdir")
    val f = fs(spark, tgt)
    f.delete(tmp, true)
    write(tmp.toString)
    val part = Option(f.globStatus(new HPath(tmp, "part-*"))).flatMap(_.headOption)
      .map(_.getPath).getOrElse {
        val empty = new HPath(tmp, "part-00000")
        f.create(empty).close()
        empty
      }
    replaceWith(f, tgt, part)
    f.delete(tmp, true)
  }

  /** Atomically replace `target` with `df` as a single parquet file. */
  def writeParquetAtomic(df: DataFrame, target: String): Unit =
    staged(df.sparkSession, target)(
      df.coalesce(1).write.mode(SaveMode.Overwrite).option("maxRecordsPerFile", 0).parquet)

  /** Atomically replace `target` with `df` as a single JSONL file. */
  def writeJsonl(df: DataFrame, target: String): Unit =
    staged(df.sparkSession, target)(
      df.coalesce(1).write.mode(SaveMode.Overwrite).option("maxRecordsPerFile", 0).json)

  /** Atomically replace `target` with a driver-side small text
    * (summary.yaml, *.json docs).
    */
  def writeText(spark: SparkSession, target: String, text: String): Unit =
    staged(spark, target) { tmp =>
      val out = fs(spark, new HPath(tmp)).create(new HPath(tmp, "part-00000"))
      try out.write(text.getBytes("UTF-8")) finally out.close()
    }

  def readText(spark: SparkSession, target: String): Option[String] = {
    val tgt = new HPath(target)
    val f = fs(spark, tgt)
    if (!f.exists(tgt)) None
    else {
      val in = f.open(tgt)
      try {
        val bytes = org.apache.commons.io.IOUtils.toByteArray(in)
        Some(new String(bytes, "UTF-8"))
      } finally in.close()
    }
  }
}
