package perfbench

import graft.{SparkEntry, Tables}
import graft.etl.Dump
import graft.serve.Serve
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.types.StructType

/** The read side: analysts' queries and API lookups, one closed-loop
  * client. The queries come from `SparkEntry.queries` over seeded
  * analytics tables; the corpus consumers among them read the stage
  * memos each pass first builds cold. The lookups read a daily-dump
  * layout that setup writes, with Zipf-skewed seeded keys. Each pass
  * runs every query and lookup once, in a seeded order. */
final class ReadMix(run: Run, size: Double = 1.0) extends Workload {
  import run.spark

  /** Oracled analytics queries, one per operator family. */
  private val Analytics = Seq("p0_pricing_summary", "a2_daily_metrics",
    "b12_astar_family", "g1_conviction_tally", "j6_dim_join",
    "k7_storage_key_extract", "p6_transfer_dedup", "w5_keyset_page")

  /** One consumer per corpus stage, in `graft.Bench.stages` order. */
  private val Consumers = Seq("x14_tfidf_terms", "d5_dup_clusters",
    "d3_minhash_lsh", "x13_bpe_encode", "v12_trained_assign",
    "v17_pca_project", "x20_lr_score", "v10_pq_adc_topk")

  private val Families: Seq[(String, Set[String])] = Seq(
    "Flagship" -> graft.Flagship.queries.keySet,
    "Aggregates" -> graft.operators.Aggregates.queries.keySet,
    "JoinOps" -> graft.operators.JoinOps.queries.keySet,
    "WindowOps" -> graft.operators.WindowOps.queries.keySet,
    "SnapshotOps" -> graft.operators.SnapshotOps.queries.keySet,
    "KeyOps" -> graft.operators.KeyOps.queries.keySet,
    "GovOps" -> graft.operators.GovOps.queries.keySet,
    "FlattenOps" -> graft.operators.FlattenOps.queries.keySet,
    "DedupOps" -> graft.operators.DedupOps.queries.keySet,
    "TextOps" -> graft.operators.TextOps.queries.keySet,
    "VectorOps" -> graft.operators.VectorOps.queries.keySet)

  private def family(q: String): String =
    Families.find(_._2(q)).map(_._1).getOrElse("Other")

  /** The stage memos the consumers read, reset before the cold build. */
  private def resetStages(): Unit = {
    import graft.operators._
    DedupOps.resetWordSetLabels(); DedupOps.resetLshPairs()
    TextOps.resetTokenizedDocs(); TextOps.resetBpeMerges()
    VectorOps.resetKmeans(); VectorOps.resetPca(); TextOps.resetLr()
    VectorOps.resetPqAdc()
  }

  private val sf = s"${run.dir}/sf"
  private val layout = s"${run.dir}/layout"
  private val Chains = Seq((2000, math.max(200, (1000 * size).toInt), 2))
  /** Analytics tables at half the size of the engine's sf0.01 tables
    * (`size` scales them, down to a fifth). */
  private val Scale = math.max(0.2, 0.5 * size)
  private var frames: Map[String, DataFrame] = Map.empty
  /** Lookup and its expected row count, when the generator knows it. */
  private var lookups: Seq[(String, () => DataFrame, Option[Long])] = Nil
  private val stageCold = scala.collection.mutable.LinkedHashMap[String, Double]()
  private val firstResult =
    scala.collection.mutable.LinkedHashMap[String, (StructType, Array[Row])]()
  private var scanRows, scanFiles, lookupRows = 0L

  def setup(): Unit = {
    val accts = Gen.accounts(run.seed)
    val days = run.phase("generate")(
      Chains.map { case (c, n, e) => Gen.chainDay(run.seed, c, n, e, accts) })
    for (cd <- days) run.inputs += s"layout.chain${cd.chainId}.blocks" -> cd.expected.blocks
    // independent writes, so they share the cores
    run.phase("write")(graft.etl.Writers.concurrently(spark, Seq[() => Unit](
      () => SfGen.write(spark, run.seed, sf, scale = Scale),
      () => days.foreach(writeLayout)))(_()))
    frames = LayoutTables.map(t => t -> Chains.map(c =>
      spark.read.parquet(s"$layout/${c._1}/$t")).reduce(_ unionByName _)).toMap
    lookups = keys(days)
  }

  /** The dump tables the lookups read, from the dump's own projections
    * and writer, in the daily layout. */
  private val LayoutTables =
    Seq("blocks", "extrinsics", "transfers", "rewards", "crowdloan", "balances")

  private def writeLayout(cd: Gen.ChainDay): Unit = {
    import spark.implicits._
    val raw = cd.blocks.toDS().toDF()
    val dim = graft.decode.TraceDecode.keyedPrefixDim(spark,
      Seq(("System", "Account", "blake2_128concat", 32)))
    val tables = Seq("blocks" -> Dump.blocks(raw, Gen.Day),
      "extrinsics" -> Dump.extrinsics(raw, Gen.Day),
      "transfers" -> Dump.transfers(raw, Gen.Day),
      "rewards" -> Dump.rewards(raw, Gen.Day),
      "crowdloan" -> Dump.crowdloan(raw, Gen.Day),
      "balances" -> Dump.balances(cd.traces.toDS().toDF(), dim, Gen.Day))
    graft.etl.Writers.concurrently(spark, tables) { case (t, df) =>
      graft.etl.Writers.overwritePartitions(df, s"$layout/${cd.chainId}/$t",
        Seq("log_dt"))
    }
  }

  /** One seeded lookup of each kind over the layout; block and account
    * keys are drawn with the skew that generated the day. */
  private def keys(days: Seq[Gen.ChainDay]): Seq[(String, () => DataFrame, Option[Long])] = {
    val r = Gen.rng(run.seed, 500)
    def inDay(ms: Long) = ms / 1000 < Gen.DayStart + 86400
    val fin = days.flatMap(_.blocks.filter(b => b.finalized && inDay(b.block_time.getTime)))
    def block() = fin(Gen.skewed(r, fin.size))
    val accts = Gen.accounts(run.seed)
    def acct() = accts(Gen.skewed(r, accts.size))
    val b = block(); val ex = block().extrinsics.last.hash
    val a1 = acct(); val a2 = acct(); val a3 = acct()
    val balanceChains = days.count(_.traces.exists(t => t.finalized &&
      t.k.contains(Gen.SystemAccountPrefix) && t.k.endsWith(a3) &&
      inDay(t.block_time.getTime))).toLong
    def f(t: String) = frames(t)
    Seq(
      ("getBlock", () => Serve.getBlock(f("blocks"), f("extrinsics"),
        b.chain_id, b.number), Some(b.extrinsics.size.toLong)),
      ("searchByHash", () => Serve.searchByHash(f("blocks"), f("extrinsics"),
        ex), Some(1L)),
      ("accountTimeline", () => Serve.accountTimeline(f("transfers"), a1,
        None, 20, None), None),
      ("accountFeed", () => Serve.accountFeed(f("transfers"), f("rewards"),
        f("crowdloan"), a2, 20), None),
      ("accountBalances", () => Serve.accountBalances(f("balances"), a3,
        "block_number"), Some(balanceChains)))
  }

  private object Plans extends AdaptiveSparkPlanHelper

  private def query(name: String, pass: Int): Unit = {
    val fn = SparkEntry.queries(name)
    val fam = family(name)
    run.call(if (Consumers.contains(name)) "consumer" else "query",
        s"operators.$fam") {
      val df = run.tracer.span("query.resolve")(fn(spark, sf))
      run.tracer.span("query.plan")(df.queryExecution.executedPlan)
      val rows = run.tracer.span("query.execute")(df.collect())
      if (pass == 0) firstResult(name) = (df.schema, rows)
    }
  }

  private def lookup(kind: String, build: () => DataFrame,
      expected: Option[Long]): Unit =
    run.call("lookup", s"serve.Serve.$kind") {
      val df = build()
      val rows = df.collect()
      lookupRows += rows.length
      expected.foreach(n =>
        run.check(rows.length == n, s"$kind returned ${rows.length} rows, expected $n"))
      if (kind == "accountTimeline" || kind == "accountFeed")
        run.check(rows.length <= 20, s"$kind returned more than a page")
      if (run.tracer.on) {
        val scans = Plans.collect(df.queryExecution.executedPlan) {
          case s: FileSourceScanExec => s }
        scanRows += scans.map(_.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum
        scanFiles += scans.map(_.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum
      }
    }

  /** A pass is one analyst session: the corpus stages built cold, with
    * every memo reset first, then the mix in a seeded order. */
  def measure(): Unit = run.timePasses { pass =>
    resetStages()
    for ((stage, build) <- graft.Bench.stages.take(Consumers.size)) {
      val name = stage.stripPrefix("stage:")
      val t0 = System.nanoTime()
      run.call("stage", s"stage.$name")(build(spark, sf))
      stageCold(name) = (System.nanoTime() - t0) / 1e9
    }
    val items: Seq[() => Unit] =
      (Analytics ++ Consumers).map(q => () => query(q, pass)) ++
        lookups.map { case (k, b, e) => () => lookup(k, b, e) }
    Gen.rng(run.seed, 600 + pass).shuffle(items).foreach(_())
  }

  /** Writes each query's first result and its DuckDB twin's SQL in the
    * layout tools/check.py compares. */
  def verify(): Option[(String, String)] = {
    val dir = s"${run.dir}/oracle"
    val sqls = SparkEntry.oracleSql
    import scala.jdk.CollectionConverters._
    graft.etl.Writers.concurrently(spark,
        firstResult.toSeq.filter(r => sqls.contains(r._1))) {
      case (name, (schema, rows)) =>
        spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
          .write.mode("overwrite").parquet(s"$dir/$name")
    }
    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = firstResult.keys.filter(sqls.contains)
      .map(k => s"${q(k)}: ${q(sqls(k))}").mkString("{", ",", "}")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/oracle_sql.json"), json)
    run.check(firstResult.size == Analytics.size + Consumers.size,
      s"only ${firstResult.size} queries produced a result")
    Some((sf, dir))
  }

  def summarize(): Unit = {
    run.reportLatency("query", "s", run.ms(_ == "query"))
    run.reportLatency("lookup", "ms", run.ms(_ == "lookup"))
    run.report("pipeline_cold_s") = (stageCold.values.sum, "s", stageCold.size)
    run.reportLatency("pipeline_warm", "s", run.ms(_ == "consumer"))
  }

  def layers(): Unit = {
    val L = run.layer
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings"))
      run.tracer.span("Tables.load")(Tables.load(spark, sf, t))
    run.tracer.drain()
    def spans(n: String) = run.tracer.all.filter(_.name == n)
    def jobsPer(n: String) = {
      val ss = spans(n)
      ss.map(s => run.tracer.countsOf(s.id).jobs).sum.toDouble / ss.size
    }
    L("Tables.load_ms") = Stats.median(spans("Tables.load").map(_.ms))
    L("Tables.load_jobs") = jobsPer("Tables.load")
    L("query.resolve_ms") = Stats.median(spans("query.resolve").map(_.ms))
    L("query.resolve_jobs") = jobsPer("query.resolve")
    L("query.plan_ms") = Stats.median(spans("query.plan").map(_.ms))
    for ((fam, _) <- Families; v <- run.spanMedianMs(s"operators.$fam"))
      L(s"operators.${fam}_s") = v / 1e3
    for (k <- Seq("getBlock", "searchByHash", "accountTimeline",
        "accountFeed", "accountBalances"); v <- run.spanMedianMs(s"serve.Serve.$k"))
      L(s"serve.Serve.${k}_ms") = v
    val n = run.ms(_ == "lookup").size
    if (lookupRows > 0) L("serve.rows_scanned_per_row_returned") =
      scanRows.toDouble / lookupRows
    if (n > 0) L("serve.files_read_per_call") = scanFiles.toDouble / n
    for ((s, v) <- stageCold) L(s"stage.$s.cold_s") = v
    val warm = run.ms(_ == "consumer")
    if (warm.nonEmpty) {
      L("consumer.warm_ms") = Stats.median(warm)
      L("memo.cold_to_warm_ratio") = stageCold.values.sum * 1e3 / warm.sum
    }
  }
}
