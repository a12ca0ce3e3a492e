package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  override def afterAll(): Unit = () // keep the session for other suites

  /** Temp dir with REAL cleanup: `Files.createTempDirectory(...).deleteOnExit()`
    * cannot remove non-empty directories, so every spec that filled one with
    * parquet leaked it into /tmp for the life of the machine (hundreds observed
    * across rounds). One shutdown hook deletes the lot recursively.
    */
  def tmpDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    SparkSpec.cleanup.add(d)
    d.getAbsolutePath
  }

  /** Spark jobs started by `f`, counted under a job group of their own. */
  def jobsOf(f: => Unit): Int = {
    val group = s"jobs-of-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setJobGroup(group, "job count")
    try f finally {
      spark.sparkContext.clearJobGroup()
      org.apache.spark.sql.GraftSqlBridge.drainListenerBus(spark, 10000L)
      spark.sparkContext.removeSparkListener(listener)
    }
    jobs.get()
  }
}

object SparkSpec {
  private val cleanup =
    java.util.concurrent.ConcurrentHashMap.newKeySet[java.io.File]()
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      cleanup.forEach(d => graft.core.FsUtil.deleteRecursively(d))))
  }

  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
