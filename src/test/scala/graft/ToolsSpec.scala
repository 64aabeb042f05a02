package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graft.GraftBridge
import graft.tools.{Explain, Profile}

/** The cores of the two dev-tool mains, `tools.Profile` and
  * `tools.Explain`, on one sf0.001 batch gate, and the ledger of every
  * main in the program.
  */
class ToolsSpec extends SparkSuite {
  private val sfDir = "/root/testdata/sf0.001"
  private val gate = "q02_revenue_by_nation"

  /** q02 itself pins nothing, so pin a table and an RDD before a tool call:
    * the tool must release them, as Bench's loop does after every gate.
    */
  private def pinSomething(): Unit = {
    spark.range(8).cache().count()
    spark.sparkContext.parallelize(1 to 8).cache().count()
  }

  private def assertNothingPinned(): Unit = {
    assert(spark.sharedState.cacheManager.isEmpty, "cached tables left behind")
    assert(spark.sparkContext.getPersistentRDDs.isEmpty, "persistent RDDs left behind")
  }

  test("Profile counts every job of each run, with its end, and the gate's rows") {
    val rows = SparkEntry.queries(gate)(spark, sfDir).count()
    pinSomething()
    val starts = new AtomicInteger
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = starts.incrementAndGet()
    }
    GraftBridge.waitListenerBusEmpty(spark.sparkContext, 60000)
    spark.sparkContext.addSparkListener(counter)
    // onRun sees each run after the bus is drained, so the counter is too
    val runs = Seq.newBuilder[(Profile.Run, Int)]
    try Profile.profile(spark, sfDir, Seq(gate), 2)(r => runs += r -> starts.getAndSet(0))
    finally spark.sparkContext.removeSparkListener(counter)
    val rs = runs.result()
    assert(rs.map(_._1.run) === Seq(1, 2))
    rs.foreach { case (r, independent) =>
      assert(r.gate === gate)
      assert(r.jobs.nonEmpty)
      assert(r.jobs.size === independent, s"run ${r.run}")
      assert(r.jobs.forall(_.end.isDefined), s"run ${r.run}: a job without its end")
      assert(r.rows === rows)
      assert(r.json.contains(s""""jobs":${r.jobs.size},"""))
      assert(r.timelineLines.size === r.jobs.size + 1)
    }
    assertNothingPinned()
  }

  test("Explain prints the gate's physical plan and releases what it built") {
    pinSomething()
    val Seq(plan) = Explain.plans(spark, sfDir, Seq(gate))
    assert(plan.contains(gate))
    assert(plan.contains("Physical Plan"))
    assertNothingPinned()
  }

  test("an unknown gate is refused by name") {
    for (refuse <- Seq[() => Any](
        () => Profile.gates(Seq(s"$gate,q99_no_such_gate")),
        () => Profile.profile(spark, sfDir, Seq("q99_no_such_gate"), 1)(_ => ()),
        () => Explain.plans(spark, sfDir, Seq("q99_no_such_gate")))) {
      val e = intercept[IllegalArgumentException](refuse())
      assert(e.getMessage.contains("q99_no_such_gate"))
    }
  }

  test("main Scala defines exactly the CLI, Bench, Verify and the four dev tools") {
    // a one-off probe belongs in a spec that asserts what it found, not in
    // a main that nothing runs
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, root.getAbsolutePath)
    val mains = Files.walk(root.toPath).iterator.asScala
      .filter(_.toString.endsWith(".scala")).flatMap { f =>
        val src = new String(Files.readAllBytes(f), "UTF-8")
        val pkg = "(?m)^package (\\S+)".r.findFirstMatchIn(src)
          .fold("")(_.group(1).stripPrefix("graft").stripPrefix("."))
        "def main\\(".r.findAllMatchIn(src).map { m =>
          val obj = "object (\\w+)".r.findAllMatchIn(src.take(m.start)).toSeq.last.group(1)
          if (pkg.isEmpty) obj else s"$pkg.$obj"
        }
      }.toSet
    assert(mains === Set("cli.Main", "Bench", "Verify", "tools.Profile",
      "tools.Explain", "tools.EmptySweep", "tools.InvarianceSweep"))
  }
}
