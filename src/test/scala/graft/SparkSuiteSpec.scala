package graft

import java.nio.file.{Files, Paths}
import org.scalatest.{Args, Reporter}
import org.scalatest.events.Event
import org.scalatest.funsuite.AnyFunSuite

/** SparkSuite's own contract: what a suite stages does not outlive it. */
class SparkSuiteSpec extends AnyFunSuite {

  test("SparkSuite.tmpDir's dirs are deleted after the suite") {
    var made: String = null
    val throwaway = new SparkSuite {
      test("stages a file") {
        made = tmpDir("sparksuite_probe")
        Files.writeString(Paths.get(made, "part.txt"), "x")
      }
    }
    val silent = new Reporter { def apply(e: Event): Unit = () }
    assert(throwaway.run(None, Args(silent)).succeeds())
    assert(made != null, "the throwaway suite's test did not run")
    assert(!Files.exists(Paths.get(made)), s"$made outlived its suite")
  }
}
