package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (one per suite, lazy). */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName(getClass.getSimpleName)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val tmpDirs = new java.util.concurrent.ConcurrentLinkedQueue[String]

  /** A fresh temp dir, deleted after the suite's last test. */
  def tmpDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    tmpDirs.add(dir)
    dir
  }

  override protected def afterAll(): Unit =
    try super.afterAll()
    finally tmpDirs.forEach(d => graft.io.TempDirs.deleteRecursively(d))
}
