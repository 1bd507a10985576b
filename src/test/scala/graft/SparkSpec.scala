package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (small core count + tiny shuffle
  * fan-out keep the suite fast; production sizing is the mains' concern).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Spark jobs `body` submits from this thread (and the threads its
    * queries spawn, which inherit the thread's local properties).
    */
  def jobsRunBy(body: => Unit): Int = {
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null && j.properties.getProperty("graft.spec.jobs") == tag)
          jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    spark.sparkContext.setLocalProperty("graft.spec.jobs", tag)
    try {
      body
      // the listener bus is async: settle until the count holds a beat
      var prev = -1
      var spins = 0
      while (jobs.get != prev && spins < 50) {
        prev = jobs.get; Thread.sleep(100); spins += 1
      }
      jobs.get
    } finally {
      spark.sparkContext.setLocalProperty("graft.spec.jobs", null)
      spark.sparkContext.removeSparkListener(l)
    }
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
