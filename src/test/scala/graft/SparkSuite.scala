package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
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

  /** `body` with the session confs `pins` set, restored after: the
    * session is shared by every suite of the test JVM. A key that was set
    * explicitly gets its value back, the others are unset. The snapshot
    * reads the explicit settings alone (`getAll`): `getOption` resolves
    * defaults and fallback keys, so restoring what it returns would leave
    * an unset fallback key set, no longer following its parent.
    */
  def withConf[T](pins: (String, String)*)(body: => T): T = {
    val set = spark.conf.getAll
    try {
      pins.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally pins.foreach { case (k, _) => set.get(k).fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** `body`'s result and the Spark jobs it started. The listener bus is
    * drained before and after, so no job of earlier work is counted and
    * none of `body`'s is missed.
    */
  def jobsOf[T](body: => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    def drain(): Unit =
      org.apache.spark.sql.graft.GraftBridge.waitListenerBusEmpty(spark.sparkContext, 60000)
    drain()
    spark.sparkContext.addSparkListener(counter)
    try { val out = body; drain(); (out, jobs.get) }
    finally spark.sparkContext.removeSparkListener(counter)
  }

  override protected def afterAll(): Unit =
    try super.afterAll()
    finally tmpDirs.forEach(d => graft.io.TempDirs.deleteRecursively(d))
}
