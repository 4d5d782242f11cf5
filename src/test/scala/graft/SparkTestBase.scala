package graft

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** One shared local session for all Spark-touching suites. */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    Tables.configure(s)
  }
  val sf: String = "/root/testdata/sf0.001"

  /** Spark jobs started on this thread while `body` runs, counted from
    * the job-start events; a marker job in its own group flushes the
    * listener bus, which delivers events in order. */
  def jobsDuring(s: SparkSession)(body: => Unit): Int = {
    val sc = s.sparkContext
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(
          Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("jobs-during-body", "body under test")
      try body finally sc.clearJobGroup()
      sc.setJobGroup("jobs-during-marker", "listener flush")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!groups.contains("jobs-during-marker") &&
          System.nanoTime() < deadline) Thread.sleep(10)
      assert(groups.contains("jobs-during-marker"),
        "the marker job's start event never arrived")
      groups.asScala.count(_ == "jobs-during-body")
    } finally sc.removeSparkListener(listener)
  }
}
