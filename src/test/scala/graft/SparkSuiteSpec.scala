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

  test("SparkSuite.withConf leaves a key that was unset unset") {
    val suite = new SparkSuite {}
    val k = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    suite.spark.conf.unset(k)
    suite.withConf(k -> "8KB")(assert(suite.spark.conf.get(k) == "8KB"))
    assert(suite.spark.conf.get(k, null) == null,
      s"$k stayed set after withConf, no longer following its parent")
  }

  test("SparkSuite.withConf does not restore a parent's value into an unset key") {
    // `get(k, null)` follows an unset fallback key to its parent's setting,
    // so a snapshot taken that way would restore the child set
    val suite = new SparkSuite {}
    val (k, parent) = ("spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.shuffle.targetPostShuffleInputSize")
    suite.spark.conf.unset(k)
    suite.withConf(parent -> "1MB") {
      suite.withConf(k -> "8KB")(())
      assert(!suite.spark.conf.getAll.contains(k),
        s"$k stayed set after withConf, no longer following $parent")
    }
  }
}
