package graft

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.SparkFirehoseListener
import org.apache.spark.scheduler.{SparkListenerEvent, SparkListenerJobStart}
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

  /** The listener events delivered while `body` runs on this thread,
    * in delivery order; the body's jobs run in the job group
    * `jobs-during-body` (threads it starts inherit it). A marker job in
    * its own group flushes the listener bus, which delivers events in
    * order, and ends the capture. */
  def eventsDuring(s: SparkSession)(body: => Unit): Seq[SparkListenerEvent] = {
    val sc = s.sparkContext
    val events = new ConcurrentLinkedQueue[SparkListenerEvent]()
    val listener = new SparkFirehoseListener {
      override def onEvent(e: SparkListenerEvent): Unit = events.add(e)
    }
    def isMarker(e: SparkListenerEvent) = e match {
      case j: SparkListenerJobStart => group(j) == "jobs-during-marker"
      case _ => false
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("jobs-during-body", "body under test")
      try body finally sc.clearJobGroup()
      sc.setJobGroup("jobs-during-marker", "listener flush")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!events.asScala.exists(isMarker) &&
          System.nanoTime() < deadline) Thread.sleep(10)
      assert(events.asScala.exists(isMarker),
        "the marker job's start event never arrived")
      events.asScala.takeWhile(!isMarker(_)).toSeq
    } finally sc.removeSparkListener(listener)
  }

  private def group(e: SparkListenerJobStart): String = String.valueOf(
    Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull)

  /** The body's jobs among `events`. */
  def bodyJobs(events: Seq[SparkListenerEvent]): Seq[SparkListenerJobStart] =
    events.collect {
      case e: SparkListenerJobStart if group(e) == "jobs-during-body" => e
    }

  /** Spark jobs started on this thread while `body` runs. */
  def jobsDuring(s: SparkSession)(body: => Unit): Int =
    bodyJobs(eventsDuring(s)(body)).size

  /** Shared frames `Writers.publish` computed into the cache ahead of
    * its writes while `body` ran: the distinct SQL executions of the
    * body's jobs whose call site is the publish's count. */
  def framesComputedFirst(s: SparkSession)(body: => Unit): Int =
    bodyJobs(eventsDuring(s)(body))
      .filter(_.stageInfos.exists(_.name.startsWith("count at Writers.scala")))
      .map(_.properties.getProperty("spark.sql.execution.id")).distinct.size
}
