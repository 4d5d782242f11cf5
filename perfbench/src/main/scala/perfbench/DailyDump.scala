package perfbench

import graft.etl.{Contracts, Dump, EvmDump}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

/** The write side: one UTC day exported for every chain, as the daily
  * job does it in a fresh JVM. Chain sizes are fixed and skewed (one
  * relay-sized day, two sparse parachain days, one EVM and one WASM
  * chain); their contents come from the seed. The traced run also
  * catches one more sparse chain up through the streaming path (exact
  * dedup, `foreachBatch`, `Dump.dumpMicroBatch`) from landed candidate
  * files, one file per trigger. */
final class DailyDump(run: Run, size: Double = 1.0) extends Workload {
  import run.spark
  import spark.implicits._

  private val Tables8 = Seq("blocks", "extrinsics", "events", "transfers",
    "calls", "logs", "rewards", "crowdloan")

  /** (chain id, blocks, extra extrinsics per block on average), in
    * export order: sparse parachain days around one relay-sized day.
    * `size` scales every input (1.0 is the workload). */
  private def n(x: Int) = math.max(6, (x * size).toInt)
  private val Para = (2000, n(600), 3)
  private val Relay = (0, n(14400), 1)
  private val Substrate = Seq(Para, Relay, (2004, n(300), 2))
  private val EvmChain = 2006
  private val EvmTxs = n(2000)
  private val WasmChain = 2094
  private val WasmContracts = n(60)
  private val WasmCalls = n(400)
  private val Streamed = (2030, n(300), 2)
  private val StreamFiles = 2

  private val out = s"${run.dir}/out"
  private var days: Seq[(Gen.ChainDay, DataFrame, DataFrame)] = Nil
  private var evm: Gen.EvmDay = _
  private var wasm: Gen.WasmDay = _
  private var usd: Dump.UsdDims = _
  private var dim: DataFrame = _
  private var written = 0L
  private val chainDayS = scala.collection.mutable.ArrayBuffer[Double]()

  def setup(): Unit = {
    val accts = Gen.accounts(run.seed)
    val gen = run.phase("generate")(Substrate.map { case (c, n, e) =>
      Gen.chainDay(run.seed, c, n, e, accts) })
    for (cd <- gen; (t, n) <- cd.expected.asMap.toSeq.sortBy(_._1))
      run.inputs += s"chain${cd.chainId}.$t" -> n
    // one native-token price series, priced for every chain
    val priceLog = spark.range(288).select(lit("DOT~0").as("asset"),
      lit(0).as("chain_id"),
      (lit(Gen.DayStart) + col("id") * 300).cast("timestamp").as("index_ts"),
      (pmod(col("id"), lit(97)) + lit(1)).cast("double").as("price_usd"))
    val chains = (Substrate.map(_._1) :+ Streamed._1).map(c => (c, "DOT~0", 10))
      .toDF("chain_id", "native_asset", "decimals")
    usd = Dump.UsdDims(priceLog, chains)
    // loading the chain-days, building the EVM and WASM frames and the
    // price intervals are independent, so they share the cores
    run.phase("load")(graft.etl.Writers.concurrently(spark, Seq[() => Unit](
      () => usd.intervals.count(): Unit,
      () => days = gen.map(cd =>
        (cd, cd.blocks.toDS().toDF().localCheckpoint(),
          cd.traces.toDS().toDF().localCheckpoint())),
      () => {
        val e = Gen.evmDay(spark, run.seed, EvmChain, EvmTxs)
        evm = e.copy(txs = e.txs.localCheckpoint(),
          receipts = e.receipts.localCheckpoint())
      },
      () => {
        val w = Gen.wasmDay(spark, run.seed, WasmChain, WasmContracts,
          WasmCalls, accts)
        wasm = w.copy(events = w.events.localCheckpoint(),
          extrinsics = w.extrinsics.localCheckpoint(),
          calls = w.calls.localCheckpoint(),
          contractInfo = w.contractInfo.localCheckpoint())
      }))(_()))
    run.inputs ++= Seq(s"chain$EvmChain.evmtxs" -> evm.evmtxs,
      s"chain$EvmChain.evmtransfers" -> evm.evmtransfers,
      s"chain$WasmChain.contracts" -> wasm.contractRows,
      s"chain$WasmChain.contractscall" -> wasm.callRows)
    dim = graft.decode.TraceDecode.keyedPrefixDim(spark,
      Seq(("System", "Account", "blake2_128concat", 32))).localCheckpoint()
  }

  /** Times one chain-day: the sum of its export calls. */
  private def chainDay(body: => Unit): Unit = {
    val a = run.calls.size
    body
    chainDayS += run.calls.drop(a).map(_._2).sum / 1e3
  }

  private def substrate(cd: Gen.ChainDay, raw: DataFrame,
      traces: DataFrame): Unit = chainDay {
    val root = s"$out/${cd.chainId}"
    run.call("dumpDay", "etl.Dump.dumpDay")(
      Dump.dumpDay(raw, Gen.Day, root, Some(usd)))
    run.call("dumpTracesDay", "etl.Dump.dumpTracesDay")(
      Dump.dumpTracesDay(traces, dim, Gen.Day, root))
  }

  def measure(): Unit = run.timePasses { _ =>
    for ((cd, raw, traces) <- days) substrate(cd, raw, traces)
    chainDay(run.call("dumpEvmDay", "etl.EvmDump.dumpEvmDay")(
      EvmDump.dumpEvmDay(evm.txs, evm.receipts, Gen.Day, s"$out/$EvmChain")))
    chainDay(run.call("dumpContracts", "etl.Contracts.dumpContracts")(
      Contracts.dumpContracts(wasm.events, wasm.extrinsics, wasm.calls,
        wasm.contractInfo, wasm.chains, s"$out/$WasmChain")))
  }

  /** Rows of a written table, summed from its parquet footers, so the
    * check reads the files rather than asking the engine. */
  private def count(path: String): Long = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sessionState.newHadoopConf()
    val files = org.apache.commons.io.FileUtils.listFiles(new java.io.File(path),
      Array("parquet"), true)
    scala.jdk.CollectionConverters.CollectionHasAsScala(files).asScala.toSeq.map { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf))
      try r.getRecordCount finally r.close()
    }.sum
  }

  /** Sorted rows of a written table; a table the day gave no rows has
    * no files. */
  private def rows(path: String, drop: Seq[String] = Nil): Seq[String] =
    if (Files.count(new java.io.File(path), ".parquet") == 0) Nil
    else {
      val df = drop.foldLeft(spark.read.parquet(path))(_ drop _)
      df.select(df.columns.sorted.map(col): _*).collect().map(_.toString)
        .toSeq.sorted
    }

  /** Checks every output against the generators' own counts and counts
    * the rows the last pass wrote. */
  def verify(): Option[(String, String)] = {
    val substrate = for ((cd, _, _) <- days;
        t <- Tables8 ++ Seq("traces", "balances"))
      yield (cd, t, s"$out/${cd.chainId}/$t")
    val other = Seq(s"$EvmChain/evmtxs" -> evm.evmtxs,
      s"$EvmChain/evmtransfers" -> evm.evmtransfers,
      s"$WasmChain/contractscode" -> wasm.codeRows,
      s"$WasmChain/contracts" -> wasm.contractRows,
      s"$WasmChain/contractscall" -> wasm.callRows)
    val got = (substrate.map(_._3) ++ other.map(o => s"$out/${o._1}"))
      .map(p => p -> count(p)).toMap
    for ((cd, t, p) <- substrate; n <- cd.expected.asMap.get(t))
      run.check(got(p) == n, s"chain ${cd.chainId} $t: ${got(p)} rows, expected $n")
    for ((p, n) <- other)
      run.check(got(s"$out/$p") == n, s"$p: ${got(s"$out/$p")} rows, expected $n")
    written = got.values.sum
    None
  }

  def summarize(): Unit = {
    run.reportLatency("dump_chainday", "s", chainDayS.map(_ * 1e3).toSeq)
    val wall = run.calls.map(_._2).sum / 1e3
    run.report("dump_rows_per_s") =
      (written * run.passes.size / wall, "rows/s", run.passes.size)
  }

  /** Per-layer figures, measured after the timed passes. */
  def layers(): Unit = {
    val L = run.layer
    for (n <- Seq("etl.Dump.dumpDay", "etl.Dump.dumpTracesDay",
        "etl.EvmDump.dumpEvmDay", "etl.Contracts.dumpContracts"))
      run.spanMedianMs(n).foreach(v => L(s"${n}_s") = v / 1e3)
    val dumpSpans = run.tracer.all.filter(_.name == "etl.Dump.dumpDay")
    val dumped = dumpSpans.map(s => run.tracer.subtreeCounts(s.id))
    val rowsW = dumped.map(_.rowsWritten).sum
    if (rowsW > 0)
      L("etl.Writers.bytes_per_row") = dumped.map(_.bytesWritten).sum.toDouble / rowsW
    L("etl.Writers.files_written") =
      Files.count(new java.io.File(out), ".parquet").toDouble
    L("etl.Writers.write_overlap") = Stats.median(dumpSpans.zip(dumped).map {
      case (s, c) => c.jobWallMs / s.ms })

    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def timeS(name: String)(body: => Unit): Double = run.tracer.span(name) {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    val (_, relayRaw, relayTraces) = days.find(_._1.chainId == Relay._1).get
    // compute only: each projection of the relay day into a noop sink
    val projections: Seq[(String, () => DataFrame)] = Seq(
      "blocks" -> (() => Dump.blocks(relayRaw, Gen.Day)),
      "extrinsics" -> (() => Dump.extrinsics(relayRaw, Gen.Day, Some(usd))),
      "events" -> (() => Dump.events(relayRaw, Gen.Day)),
      "transfers" -> (() => Dump.transfers(relayRaw, Gen.Day, Some(usd))),
      "calls" -> (() => Dump.calls(relayRaw, Gen.Day, Some(usd))),
      "logs" -> (() => Dump.logs(relayRaw, Gen.Day)),
      "rewards" -> (() => Dump.rewards(relayRaw, Gen.Day, Some(usd))),
      "crowdloan" -> (() => Dump.crowdloan(relayRaw, Gen.Day)))
    for ((t, f) <- projections)
      L(s"etl.Dump.project.${t}_s") = timeS(s"etl.Dump.project.$t")(noop(f()))
    // write only: projections of the sparse day checkpointed first
    val (_, paraRaw, _) = days.find(_._1.chainId == Para._1).get
    val writes = Seq("blocks" -> Dump.blocks(paraRaw, Gen.Day),
        "events" -> Dump.events(paraRaw, Gen.Day),
        "transfers" -> Dump.transfers(paraRaw, Gen.Day),
        "logs" -> Dump.logs(paraRaw, Gen.Day)).map { case (t, df) =>
      val pre = df.localCheckpoint()
      timeS("etl.Writers.overwritePartitions")(
        graft.etl.Writers.overwritePartitions(pre, s"${run.dir}/writes/$t",
          Seq("log_dt")))
    }
    L("etl.Writers.overwritePartitions_s") = Stats.median(writes)
    L("decode.TraceDecode.extractKeyComponents_s") =
      timeS("decode.TraceDecode.extractKeyComponents")(
        noop(graft.decode.TraceDecode.extractKeyComponents(relayTraces, dim)))
    graft.plans.CodecExpressions.register(spark)
    graft.functions.Udfs.register(spark)
    val n = 200000L
    val codec = spark.range(n).select(
      sha2(col("id").cast("string"), 256).as("pub"),
      format_string("0x%x", col("id") * 1000003L).as("amt"),
      format_string("0x%02x", pmod(col("id"), lit(63)) * 4).as("cpt"))
      .localCheckpoint()
    L("plans.CodecExpressions.rows_per_s") = n /
      timeS("plans.CodecExpressions")(noop(codec.select(
        expr("ss58_encode(pub, 42)"), expr("to_base_unit(amt, 10)"),
        expr("compact_decode(cpt)"))))
    catchUp()
  }

  /** Lands the streamed chain's candidates as one parquet file per
    * trigger, in block order, then drains them from a fresh checkpoint.
    * Each file after the first re-delivers the previous file's last
    * tenth, as a redundant crawler does; fork candidates ride in their
    * block's file. The published tables must hold the generator's
    * finalized blocks and equal a batch dump of the same input. */
  private def catchUp(): Unit = {
    val (c, n, e) = Streamed
    val cd = Gen.chainDay(run.seed, c, n, e, Gen.accounts(run.seed))
    val landing = s"${run.dir}/landing"
    val sorted = cd.blocks.sortBy(b => (b.block_time.getTime, b.hash))
    val files = sorted.grouped(math.ceil(sorted.size.toDouble / StreamFiles).toInt).toSeq
    files.zipWithIndex.foreach { case (f, i) =>
      val redelivered =
        if (i == 0) Nil else files(i - 1).takeRight(files(i - 1).size / 10)
      (redelivered ++ f).toDS().coalesce(1).write.mode("overwrite")
        .parquet(f"$landing/file=$i%03d")
    }
    val root = s"$out/$c"
    val bronze = spark.readStream.schema(cd.blocks.take(1).toDS().schema)
      .option("maxFilesPerTrigger", 1)
      .option("recursiveFileLookup", "true")
      .parquet(landing)
      .withColumn("block_number", col("number"))
      .withColumn("block_hash", col("hash"))
      .withColumn("ts", col("block_time"))
    val t0 = System.nanoTime()
    val progress = run.tracer.span("streaming.catchUp") {
      val q = graft.streaming.EventStream.dedupExactStream(bronze)
        .drop("block_number", "block_hash", "ts")
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[Row], id: Long) =>
          run.tracer.span("etl.Dump.dumpMicroBatch")(
            Dump.dumpMicroBatch(b, id, Gen.Day, root, Some(usd)))
        }
        .option("checkpointLocation", s"${run.dir}/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      run.tracer.alias(q.runId.toString, run.tracer.current)
      q.awaitTermination()
      run.tracer.drain()
      run.tracer.progress.synchronized(run.tracer.progress.toList)
        .filter(p => p.runId == q.runId && p.numInputRows > 0)
    }
    val drainS = (System.nanoTime() - t0) / 1e9
    run.report("stream_blocks_per_s") = (cd.expected.blocks / drainS, "blocks/s", 1)
    run.reportLatency("trigger", "ms",
      progress.map(_.durationMs.get("triggerExecution").toDouble))
    run.spanMedianMs("etl.Dump.dumpMicroBatch")
      .foreach(v => run.layer("etl.Dump.dumpMicroBatch_ms") = v)
    // the drain outside foreachBatch: offsets, planning, state commits
    run.tracer.all.find(_.name == "streaming.catchUp").foreach(sp =>
      run.layer("streaming.catchUp_self_ms") = run.tracer.selfNs(sp) / 1e6)
    Streaming.layers(run, progress)

    val published = count(s"$root/blocks")
    run.check(published == cd.expected.blocks,
      s"stream blocks: $published, expected ${cd.expected.blocks}")
    val broot = s"${run.dir}/stream_batch"
    Dump.dumpDay(cd.blocks.toDS().toDF(), Gen.Day, broot, Some(usd))
    for (t <- Tables8) {
      val s = rows(s"$root/$t", Seq("batch_id"))
      run.check(s == rows(s"$broot/$t"),
        s"stream $t differs from the batch dump of the same input")
    }
    run.check(progress.size == StreamFiles,
      s"stream ran ${progress.size} triggers, expected $StreamFiles")
  }
}

/** Streaming per-layer figures from the query's progress reports. */
object Streaming {
  def layers(run: Run, ps: Seq[StreamingQueryProgress]): Unit =
    if (ps.nonEmpty) {
      val L = run.layer
      for (k <- Seq("latestOffset", "getBatch", "queryPlanning", "addBatch",
          "walCommit", "commitOffsets"))
        L(s"streaming.${k}_ms") = Stats.median(ps.map(p =>
          Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)))
      val st = ps.flatMap(_.stateOperators)
      if (st.nonEmpty) {
        L("streaming.state.commit_ms") = Stats.median(st.map(_.commitTimeMs.toDouble))
        L("streaming.state.rows") = st.last.numRowsTotal.toDouble
        L("streaming.state.memory_bytes") = st.last.memoryUsedBytes.toDouble
        // rows the dedup kept over rows it read
        L("streaming.dup_keep_ratio") =
          st.map(_.numRowsUpdated).sum.toDouble / ps.map(_.numInputRows).sum
      }
      L("streaming.batches") = ps.size.toDouble
    }
}
