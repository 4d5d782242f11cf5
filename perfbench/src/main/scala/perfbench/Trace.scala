package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** One timed call: the harness opens a span around each public engine
  * call it makes. Spans of one request share `req`. */
final case class Span(id: Int, name: String, parent: Int, req: Int,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spark work attributed to one span through its job group. */
final class Counts {
  var jobs, stages, tasks = 0L
  var taskRunMs, taskCpuMs, gcMs = 0L
  var shuffleWrite, shuffleRead, spill = 0L
  var jobWallMs = 0L
  var bytesWritten, rowsWritten = 0L
}

/** Span recorder and Spark listeners. With tracing off, `span` only runs
  * its body: no listeners are registered and nothing is recorded. */
final class Tracer(spark: SparkSession, val on: Boolean) {
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer[Span]()
  private var nextId = 1
  /** Open (span, request) ids of this thread, innermost first. Threads
    * started inside a span (a streaming query's execution thread, a
    * writer pool) inherit it, so their spans nest under that span. */
  private val stack = new InheritableThreadLocal[List[(Int, Int)]] {
    override def initialValue(): List[(Int, Int)] = Nil
  }
  private var nextReq = 1

  /** Job group → span id. Streaming queries run their jobs under their
    * own run id, which the caller maps with [[alias]]. */
  private val groupSpan = new java.util.concurrent.ConcurrentHashMap[String, Int]()
  private val counts = new java.util.concurrent.ConcurrentHashMap[Int, Counts]()
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  val progress = mutable.ArrayBuffer[StreamingQueryProgress]()
  /** Catalyst phase → summed ms, plus "queries" → actions seen. */
  val queryPhases = mutable.Map[String, Double]().withDefaultValue(0.0)

  def countsOf(spanId: Int): Counts =
    counts.computeIfAbsent(spanId, _ => new Counts)

  /** Id of the innermost open span on this thread, 0 outside spans. */
  def current: Int = stack.get().headOption.map(_._1).getOrElse(0)

  def alias(group: String, spanId: Int): Unit =
    if (on) groupSpan.put(group, spanId)

  /** Times `body` as a span named `name`; a span opened with no span
    * around it starts a new request. */
  def span[A](name: String)(body: => A): A = {
    if (!on) return body
    val outer = stack.get()
    val id = synchronized { nextId += 1; nextId - 1 }
    val req = outer.headOption.map(_._2)
      .getOrElse(synchronized { nextReq += 1; nextReq - 1 })
    val parent = outer.headOption.map(_._1).getOrElse(0)
    val group = s"perfbench-$id"
    groupSpan.put(group, id)
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    val prevDesc = sc.getLocalProperty("spark.job.description")
    sc.setJobGroup(group, name)
    stack.set((id, req) :: outer)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack.set(outer)
      if (prevGroup == null) sc.clearJobGroup()
      else sc.setJobGroup(prevGroup, prevDesc)
      synchronized { spans += Span(id, name, parent, req, t0, t1) }
    }
  }

  def all: Seq[Span] = synchronized(spans.toList)

  /** One JSON object per span, for the traced run's span file. */
  def json: Seq[String] = all.map(s =>
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"req":${s.req},""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_ns":${selfNs(s)}}""")

  /** Self time of span `s` against the recorded spans. */
  def selfNs(s: Span): Long = {
    val kids = all.filter(_.parent == s.id).map(k => (k.startNs, k.endNs))
    Stats.selfTime(s.startNs, s.endNs, kids)
  }

  /** Counts of span `id` and every span below it. */
  def subtreeCounts(id: Int): Counts = {
    val ss = all
    val ids = mutable.Set(id)
    var grown = true
    while (grown) {
      val more = ss.filter(s => ids(s.parent) && !ids(s.id)).map(_.id)
      grown = more.nonEmpty
      ids ++= more
    }
    val c = new Counts
    ids.foreach { i =>
      val k = counts.get(i)
      if (k != null) {
        c.jobs += k.jobs; c.stages += k.stages; c.tasks += k.tasks
        c.taskRunMs += k.taskRunMs; c.taskCpuMs += k.taskCpuMs
        c.gcMs += k.gcMs; c.shuffleWrite += k.shuffleWrite
        c.shuffleRead += k.shuffleRead; c.spill += k.spill
        c.jobWallMs += k.jobWallMs; c.bytesWritten += k.bytesWritten
        c.rowsWritten += k.rowsWritten
      }
    }
    c
  }

  /** Work done in any job, attributed or not. */
  val total = new Counts

  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val jobSpan = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

  private def spanOfProps(p: java.util.Properties): Int =
    Option(p).flatMap(pp => Option(pp.getProperty("spark.jobGroup.id")))
      .flatMap(g => Option(groupSpan.get(g))).map(_.intValue).getOrElse(0)

  private object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val sp = spanOfProps(e.properties)
      jobStart.put(e.jobId, e.time)
      jobSpan.put(e.jobId, sp)
      e.stageIds.foreach(st => stageSpan.put(st, sp))
      total.synchronized(total.jobs += 1)
      val c = countsOf(sp); c.synchronized(c.jobs += 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val sp = Option(jobSpan.get(e.jobId)).map(_.intValue).getOrElse(0)
      val t0 = Option(jobStart.get(e.jobId)).map(_.longValue).getOrElse(e.time)
      val c = countsOf(sp); c.synchronized(c.jobWallMs += e.time - t0)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val sp = Option(stageSpan.get(e.stageInfo.stageId)).map(_.intValue).getOrElse(0)
      total.synchronized(total.stages += 1)
      val c = countsOf(sp); c.synchronized(c.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      val sp = Option(stageSpan.get(e.stageId)).map(_.intValue).getOrElse(0)
      for (c <- Seq(total, countsOf(sp))) c.synchronized {
        c.tasks += 1
        c.taskRunMs += m.executorRunTime
        c.taskCpuMs += m.executorCpuTime / 1000000L
        c.gcMs += m.jvmGCTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.bytesWritten += m.outputMetrics.bytesWritten
        c.rowsWritten += m.outputMetrics.recordsWritten
      }
    }
  }

  private object QueryListener extends QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
      phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      phases(qe)
    private def phases(qe: QueryExecution): Unit =
      queryPhases.synchronized {
        qe.tracker.phases.foreach { case (p, s) =>
          queryPhases(p) += s.durationMs.toDouble
        }
        queryPhases("queries") += 1
      }
  }

  private object StreamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.synchronized(progress += e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  if (on) {
    sc.addSparkListener(Listener)
    spark.listenerManager.register(QueryListener)
    spark.streams.addListener(StreamListener)
  }

  /** Waits until the listener buses have delivered every event posted
    * so far, so counts read after a call are complete. */
  def drain(): Unit = if (on) {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }
}

/** Process-level counters read before and after the measured region. */
object Host {
  private def read(path: String): String =
    try {
      val src = scala.io.Source.fromFile(path)
      try src.mkString finally src.close()
    } catch { case _: Exception => "" }

  def stealTicks(): Long =
    read("/proc/stat").linesIterator.find(_.startsWith("cpu "))
      .map(_.trim.split("\\s+")(8).toLong).getOrElse(0L)

  def loadavg(): Double =
    read("/proc/loadavg").split("\\s+").headOption
      .flatMap(_.toDoubleOption).getOrElse(0.0)

  /** Peak resident set of this JVM in MB (VmHWM). */
  def peakRssMb(): Double =
    read("/proc/self/status").linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  /** Heap still in use after a full collection (MB): what the run
    * retains, such as memos, cached frames and checkpoint blocks. */
  def liveHeapMb(): Double = {
    System.gc(); System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** CPU time of this process, all threads (ns). */
  def cpuNs(): Long = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
    .getProcessCpuTime

  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).filter(_ >= 0).sum
  }

  /** Janino compilations so far and their summed time (ms). The
    * histogram keeps every sample while fewer than 1028 were taken. */
  def codegen(): (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getValues.map(_.toDouble).sum)
  }
}
