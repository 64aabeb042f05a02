package graft

import java.io.File
import java.nio.file.Files
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Conf-restore lint: no source snapshots a session conf with
  * `RuntimeConfig.getOption`. It resolves registered defaults and fallback
  * keys, so a save/restore built on it leaves a key that was unset
  * explicitly set, and a fallback key such as
  * `spark.sql.adaptive.advisoryPartitionSizeInBytes` then no longer
  * follows its parent for the rest of the shared session. Pin confs with
  * `Relational.withConfs` (main) or `SparkSuite.withConf` (tests), which
  * snapshot the explicit settings alone.
  */
class ConfRestoreLintSpec extends AnyFunSuite {

  test("no conf getOption under src/") {
    val root = new File("src")
    assert(root.isDirectory, s"${root.getAbsolutePath} is not the source tree")
    val hits = Files.walk(root.toPath).iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if "conf\\.getOption\\(".r.findFirstIn(line).nonEmpty =>
            s"${root.toPath.relativize(p)}:${i + 1}"
        }
      }.toSeq
    assert(hits.isEmpty,
      s"conf snapshots through getOption (use withConfs / withConf): ${hits.mkString(", ")}")
  }
}
