package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, one session —
  * Spark startup dominates test wall-clock otherwise). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  /** Jobs that `body` started on this thread, in any session of the
    * shared context. Listener events arrive in order, so once a later
    * marker job is seen, every job `body` started has been counted. */
  protected def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"spec-${System.nanoTime()}"
    val marker = s"$group-marker"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(seen.add)
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "jobs under test")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "listener fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!seen.contains(marker) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains(marker), "the marker job never reached the listener")
      seen.toArray.count(_ == group)
    } finally sc.removeSparkListener(l)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
