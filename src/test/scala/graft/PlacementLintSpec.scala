package graft

import java.io.File
import java.nio.file.Files
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Placement lint: no main source renames a file except `io/SingleFile`.
  * Its `place` is the one protocol that puts a staged file at a live path
  * (the old version is renamed aside until the new one is in, and a failed
  * rename-in puts it back), and a Hadoop `rename` that returns false
  * instead of throwing is checked there. A delete-then-rename elsewhere
  * reopens the window in which a crash leaves the live file missing.
  */
class PlacementLintSpec extends AnyFunSuite {

  test("no rename under src/main/scala outside io/SingleFile.scala") {
    val root = new File("src/main/scala")
    assert(root.isDirectory, s"${root.getAbsolutePath} is not the main source tree")
    val hits = Files.walk(root.toPath).iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .filterNot(p => root.toPath.relativize(p).toString == "graft/io/SingleFile.scala")
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if line.contains(".rename(") => s"${root.toPath.relativize(p)}:${i + 1}"
        }
      }.toSeq
    assert(hits.isEmpty, s"renames outside SingleFile (use SingleFile.place): ${hits.mkString(", ")}")
  }
}
