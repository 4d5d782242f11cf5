package perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** State of one benchmark run: the session, the tracer, the recorded
  * calls and passes, correctness failures and the metrics to emit. */
final class Run(val spark: SparkSession, val tracer: Tracer, val seed: Long,
    val seconds: Int, val dir: String) {
  /** (kind, milliseconds) of every timed call. */
  val calls = mutable.ArrayBuffer[(String, Double)]()
  /** CPU milliseconds this JVM spent during each timed call. */
  val callCpu = mutable.ArrayBuffer[Double]()
  /** Seconds of every complete pass of the workload's job. */
  val passes = mutable.ArrayBuffer[Double]()
  var attempted = 0
  var failed = 0
  val errors = mutable.ArrayBuffer[String]()
  /** name -> (value, unit, sample count) for the workload's own report. */
  val report = mutable.LinkedHashMap[String, (Double, String, Int)]()
  /** (input, rows) of the generated inputs, for the report. */
  val inputs = mutable.ArrayBuffer[(String, Long)]()

  /** (phase, seconds) of the setup steps, for the report. */
  val phases = mutable.ArrayBuffer[(String, Double)]()

  def phase[A](name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try body finally phases += name -> (System.nanoTime() - t0) / 1e9
  }

  /** name -> value of per-layer metrics (traced runs only). */
  val layer = mutable.LinkedHashMap[String, Double]()

  /** Times one user-facing call. A call that throws counts as failed
    * and the run as incorrect; the run goes on with the next call. */
  def call[A](kind: String, span: String)(body: => A): Option[A] = {
    attempted += 1
    val t0 = System.nanoTime()
    val c0 = Host.cpuNs()
    try {
      val a = tracer.span(span)(body)
      calls += kind -> (System.nanoTime() - t0) / 1e6
      callCpu += (Host.cpuNs() - c0) / 1e6
      Some(a)
    } catch {
      case e: Throwable =>
        failed += 1
        errors += s"$kind: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
        None
    }
  }

  def check(ok: Boolean, what: => String): Unit =
    if (!ok) errors += s"check failed: $what"

  /** CPU seconds this JVM spent in every complete pass, all threads. */
  val passCpu = mutable.ArrayBuffer[Double]()

  /** Runs whole passes of `pass` until at least `seconds` have gone by. */
  def timePasses(pass: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    while (i == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      val p0 = System.nanoTime()
      val c0 = Host.cpuNs()
      pass(i)
      passes += (System.nanoTime() - p0) / 1e9
      passCpu += (Host.cpuNs() - c0) / 1e9
      i += 1
    }
  }

  def ms(kind: String => Boolean): Seq[Double] =
    calls.collect { case (k, v) if kind(k) => v }.toSeq

  /** Adds median (and the tail percentile when the sample supports one)
    * of the calls matching `kind` to the report, scaled to `unit`. */
  def reportLatency(name: String, unit: String, xs: Seq[Double]): Unit =
    if (xs.nonEmpty) {
      val k = if (unit == "s") 1e-3 else 1.0
      report(s"${name}_p50_$unit") = (Stats.median(xs) * k, unit, xs.size)
      Stats.tailPercentile(xs.size).foreach { p =>
        report(s"${name}_p${p}_$unit") =
          (Stats.quantile(xs, p / 100.0) * k, unit, xs.size)
      }
    }

  /** Median duration (ms) of the recorded spans named `name`. */
  def spanMedianMs(name: String): Option[Double] = {
    val xs = tracer.all.filter(_.name == name).map(_.ms)
    if (xs.isEmpty) None else Some(Stats.median(xs))
  }
}
