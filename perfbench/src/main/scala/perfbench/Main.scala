package perfbench

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM:
  * `perfbench.Main --workload <daily_dump|read_mix> --seed <n>
  *   --seconds <s> --trace <0|1> --dir <work dir>`.
  * Prints a human-readable report and writes `<dir>/result.json`, which
  * perfbench/run.py turns into the benchmark's result line. */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def opt(k: String) = opts.getOrElse(s"--$k",
      throw new IllegalArgumentException(s"missing --$k"))
    val workload = opt("workload")
    require(Set("daily_dump", "read_mix")(workload), s"unknown workload $workload")
    val cpus = Runtime.getRuntime.availableProcessors()
    val dir = new java.io.File(opt("dir")).getAbsolutePath
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.Tables.configure(spark)
    val tracer = new Tracer(spark, opt("trace") == "1")
    val run = new Run(spark, tracer, opt("seed").toLong, opt("seconds").toInt, dir)
    run.phases += "session" ->
      java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val w: Workload =
      if (workload == "daily_dump") new DailyDump(run) else new ReadMix(run)
    w.setup()
    // JVM start to the end of setup: boot, session, inputs, setup work
    val setupS = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getUptime / 1e3

    tracer.drain()
    val before = snapshot(tracer)
    val t0 = System.nanoTime()
    w.measure()
    val wallMs = (System.nanoTime() - t0) / 1e6
    tracer.drain()
    val after = snapshot(tracer)
    val peak = Host.peakRssMb()
    val live = Host.liveHeapMb()

    val oracle = run.phase("verify")(w.verify())
    w.summarize()
    if (tracer.on) {
      generic(run, before, after, wallMs, cpus)
      run.phase("layers")(w.layers())
      run.phase("other_layers")(otherLayers(run, workload))
    }
    val probe = run.phase("probe")(p0Probe(spark, s"$dir/probe"))
    val host = Seq(
      "nproc" -> cpus.toString,
      "steal_ticks" -> (after.steal - before.steal).toString,
      "loadavg" -> f"${after.load}%.2f",
      "java" -> System.getProperty("java.version"),
      "spark" -> spark.version,
      "p0_probe_ms" -> f"$probe%.1f")

    run.report("heap_live_mb") = (live, "MB", 1)
    run.report("peak_rss_mb") = (peak, "MB", 1)
    val e2e = Seq(
      "setup_s" -> (setupS, "s"),
      "call_p50_ms" -> (Stats.median(run.calls.map(_._2).toSeq), "ms"),
      "call_cpu_p50_ms" -> (Stats.median(run.callCpu.toSeq), "ms"),
      "pass_s" -> (Stats.median(run.passes.toSeq), "s"),
      "pass_cpu_s" -> (Stats.median(run.passCpu.toSeq), "s"))
    for ((k, v) <- host) println(s"host $k $v")
    for ((k, (v, u)) <- e2e)
      println(f"metric $k%-22s $v%.4f $u")
    println(s"samples calls=${run.calls.size} passes=${run.passes.size}")
    for ((k, v) <- run.inputs) println(f"input $k%-22s $v%d rows")
    for ((k, v) <- run.phases) println(f"phase $k%-22s $v%.3f s")
    for ((k, v) <- run.calls) println(f"call $k%-22s $v%.1f ms")
    for ((k, (v, u, n)) <- run.report)
      println(f"report $k%-22s $v%.4f $u n=$n")
    for ((k, v) <- run.layer) println(f"layer $k%-44s $v%.4f")
    for (e <- run.errors) println(s"error $e")
    println(f"uptime ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s")

    val bad = (e2e.map(_._1) ++ run.layer.keys).filterNot(Stats.validName)
    require(bad.isEmpty, s"metric names outside [A-Za-z0-9_.-]: $bad")
    def num(d: Double) = if (d.isNaN || d.isInfinite) "0" else d.toString
    def str(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val json = Seq(
      s""""correct": ${run.errors.isEmpty && run.failed == 0}""",
      s""""attempted": ${run.attempted}""",
      s""""failed": ${run.failed}""",
      s""""oracle": ${oracle.map { case (t, r) => s"[${str(t)}, ${str(r)}]" }.getOrElse("null")}""",
      s""""end_to_end": ${e2e.map { case (k, (v, _)) => s"${str(k)}: ${num(v)}" }.mkString("{", ", ", "}")}""",
      s""""per_layer": ${run.layer.map { case (k, v) => s"${str(k)}: ${num(v)}" }.mkString("{", ", ", "}")}""")
      .mkString("{", ", ", "}")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/result.json"), json + "\n")
    if (tracer.on)
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/spans.jsonl"),
        tracer.json.mkString("", "\n", "\n"))
    spark.stop()
  }

  /** Every layer is measured in every traced run: the other workload
    * runs one pass at a tenth of its size and its layer figures fill the
    * ones this workload's own work leaves unmeasured. */
  private def otherLayers(run: Run, workload: String): Unit = {
    val r = new Run(run.spark, run.tracer, run.seed, 0, s"${run.dir}/other")
    val o: Workload =
      if (workload == "daily_dump") new ReadMix(r, 0.1) else new DailyDump(r, 0.1)
    o.setup(); o.measure(); o.layers()
    for ((k, v) <- r.layer if !run.layer.contains(k)) run.layer(k) = v
    run.errors ++= r.errors.map(e => s"other workload: $e")
  }

  final case class Snap(c: Counts, gc: Long, codegen: (Long, Double),
      steal: Long, load: Double, phases: Map[String, Double])

  private def snapshot(t: Tracer): Snap = {
    val c = new Counts
    t.total.synchronized {
      c.jobs = t.total.jobs; c.stages = t.total.stages; c.tasks = t.total.tasks
      c.taskRunMs = t.total.taskRunMs; c.taskCpuMs = t.total.taskCpuMs
      c.shuffleWrite = t.total.shuffleWrite; c.shuffleRead = t.total.shuffleRead
      c.spill = t.total.spill
    }
    Snap(c, Host.gcMs(), Host.codegen(), Host.stealTicks(), Host.loadavg(),
      t.queryPhases.synchronized(t.queryPhases.toMap))
  }

  /** Layer figures every workload has: scheduler, shuffle, GC, codegen
    * and host, as deltas over the timed passes. */
  private def generic(run: Run, a: Snap, b: Snap, wallMs: Double,
      cpus: Int): Unit = {
    val L = run.layer
    L("spark.jobs") = (b.c.jobs - a.c.jobs).toDouble
    L("spark.stages") = (b.c.stages - a.c.stages).toDouble
    L("spark.tasks") = (b.c.tasks - a.c.tasks).toDouble
    L("spark.task_run_ms") = (b.c.taskRunMs - a.c.taskRunMs).toDouble
    L("spark.task_cpu_ms") = (b.c.taskCpuMs - a.c.taskCpuMs).toDouble
    L("spark.idle_core_frac") =
      1.0 - (b.c.taskRunMs - a.c.taskRunMs) / (wallMs * cpus)
    L("spark.shuffle_write_bytes") = (b.c.shuffleWrite - a.c.shuffleWrite).toDouble
    L("spark.shuffle_read_bytes") = (b.c.shuffleRead - a.c.shuffleRead).toDouble
    L("spark.spill_bytes") = (b.c.spill - a.c.spill).toDouble
    L("jvm.gc_ms") = (b.gc - a.gc).toDouble
    L("codegen.classes") = (b.codegen._1 - a.codegen._1).toDouble
    L("codegen.compile_ms") = b.codegen._2 - a.codegen._2
    // Catalyst phases per action, from the QueryPlanningTracker
    def ph(k: String) = b.phases.getOrElse(k, 0.0) - a.phases.getOrElse(k, 0.0)
    if (ph("queries") > 0)
      for (k <- Seq("analysis", "optimization", "planning"))
        L(s"query.${k}_ms") = ph(k) / ph("queries")
    L("host.steal_ticks") = (b.steal - a.steal).toDouble
    L("host.loadavg") = b.load
  }

  /** The frozen pricing-summary query over fixed-seed tables: the same
    * input on every run, so its time reads the host, not the change. */
  private def p0Probe(spark: SparkSession, dir: String): Double = {
    SfGen.write(spark, 0L, dir, scale = 0.05, only = Set("lineitem"))
    val q = graft.SparkEntry.queries("p0_pricing_summary")
    val t0 = System.nanoTime()
    q(spark, dir).collect()
    (System.nanoTime() - t0) / 1e6
  }
}

/** The phases of a workload, in the order Main runs them. */
trait Workload {
  def setup(): Unit
  def measure(): Unit
  /** Checks outputs; returns the input tables and the results directory
    * for the DuckDB oracle check, if the workload has one. */
  def verify(): Option[(String, String)]
  def summarize(): Unit
  def layers(): Unit
}
