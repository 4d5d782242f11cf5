package graft
import org.apache.spark.sql.SparkSession

/** Driver benchmark contract: one JSON line with per-query seconds.
  *
  * Credibility measures (the machine suffers multi-minute hypervisor
  * CPU-steal storms, docs/BENCH.md):
  *  - one shared session for all queries (no per-query JVM/session cost);
  *  - shuffle partitions sized to the input (a 25 MB scale factor does
  *    not need 32 shuffle tasks of scheduling overhead — partitions =
  *    clamp(inputBytes/64MB, 8, cpus));
  *  - 3 reps per query with PER-REP steal annotation: a rep that
  *    overlaps a steal storm is discarded, and the reported time is the
  *    min over storm-free reps (falling back to min-of-all, with the
  *    query listed in `stormy`, if every rep was hit).
  */
object Bench {

  private def stealTicks(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu "))
        .map(_.trim.split("\\s+")(8).toLong).getOrElse(0L)
      finally src.close()
    } catch { case _: Exception => 0L }

  /** The bench session, ONE copy (BenchOne reuses it so a focused
    * re-measure runs under byte-identical config): local[cpus], UTC,
    * AQE on, input-adaptive shuffle sizing — tiny scale factors don't
    * pay for `cpus` shuffle tasks per stage. */
  def benchSession(sfDir: String, cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tables.configure(spark)
    val inputBytes =
      Option(new java.io.File(sfDir).listFiles()).map(_.map(_.length).sum)
        .getOrElse(0L)
    val parts = math.max(8L,
      math.min(cpus.toLong, inputBytes / (64L << 20) + 1)).toInt
    spark.conf.set("spark.sql.shuffle.partitions", parts)
    spark
  }

  /** JIT/codegen warmup outside any timed loop: the scan + agg +
    * shuffle paths, AND the join + window + checkpoint paths — the
    * first timed consumer of each would otherwise absorb their codegen
    * cost (measured: seconds on the shared CC stage). ONE copy shared
    * with BenchOne. */
  def warmup(spark: SparkSession, sfDir: String): Unit = {
    Tables.lineitem(spark, sfDir)
      .groupBy("l_returnflag").count().count()
    Tables.events(spark, sfDir).select("ts").limit(1).count()
    import org.apache.spark.sql.functions._
    val wd = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source")).limit(200)
    val warmed = wd
      .join(wd.withColumnRenamed("doc_id", "doc_id2"), Seq("source"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("source")).orderBy(col("doc_id"))))
      .localCheckpoint(true)
    try { warmed.count(); () }
    finally operators.DedupOps.releaseCheckpoint(warmed)
    // distributed-trainer codegen (micro frames, corpus-independent):
    // the forced-distributed stage lines otherwise absorb 2-3 s of
    // Janino/JIT on their first-and-only run, which the trend guard
    // kept flagging as stage variance (round 19, VERDICT item 8)
    operators.TextOps.warmLrCodegen(spark)
    operators.VectorOps.warmPcaCodegen(spark)
    operators.DedupOps.warmCcCodegen(spark)
    operators.ContractOps.warmContractsCodegen(spark)
    etl.Dump.warmDumpDayCodegen(spark)
    operators.DedupOps.warmLshCodegen(spark): Unit
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = benchSession(sfDir, cpus)
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // the warm itself is untimed by every line, so its wall time rides
    // the bench_detail line: a warm that grows (or stops covering a
    // stage's codegen) shows there, not as unexplained stage drift
    val w0 = System.nanoTime()
    warmup(spark, sfDir)
    val warmupS = (System.nanoTime() - w0) / 1e9
    val steal0 = stealTicks()
    // Shared-stage accounting: d5/d6 consume ONE memoized pairs→CC
    // labels stage, and x12/x13 one memoized BPE training stage. Under
    // min-of-reps a stage's one-time cost would appear in NO per-query
    // number (rep 1 pays, later reps hit the memo) — so measure each
    // stage cold, report it as its own line below, and let the
    // consumers keep their memo-warm per-query meaning. A regression in
    // a stage itself is then trend-guard-visible.
    operators.StageMemo.resetAll()
    // a failing stage goes into the SAME errors map as a failing query —
    // the -1 sentinel alone made stage failures near-undiagnosable from
    // captured bench output
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val stageResults = Bench.stages.map { case (nm, f) =>
      val t0 = System.nanoTime()
      val v = try { f(spark, sfDir); (System.nanoTime() - t0) / 1e9 }
        catch { case e: Throwable =>
          errors(nm) = e.getClass.getSimpleName
          -1.0
        }
      nm -> v
    }
    val reps = 3
    // a rep is "stormy" if the steal counter moved more than this many
    // ticks while it ran (idle machines show ~0; storms show hundreds)
    val stormTicks = 20L
    val stormy = scala.collection.mutable.ArrayBuffer[String]()
    val results = SparkEntry.queries.map { case (name, fn) =>
      def rep(): (Double, Long) = {
        val s0 = stealTicks()
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        ((System.nanoTime() - t0) / 1e9, stealTicks() - s0)
      }
      // a failing query is reported as -1, never as a fast "pass"
      val v = try {
        val rs = Seq.fill(reps)(rep())
        val clean = rs.filter(_._2 <= stormTicks)
        if (clean.isEmpty) { stormy += name; rs.map(_._1).min }
        else clean.map(_._1).min
      } catch {
        case e: Throwable =>
          errors(name) = e.getClass.getSimpleName
          -1.0
      }
      name -> v
    }
    val stealDelta = stealTicks() - steal0
    // the shared stages ride in the same per-"query" map (unique
    // prefixes "stage:dedup"/"stage:bpe") so both bench_detail and the
    // contract line carry them and the trend guard can compare them
    // round over round
    val all = results.toSeq ++ stageResults
    val total = all.map(_._2).filter(_ >= 0).sum
    val errJson =
      if (errors.isEmpty) ""
      else errors.map { case (k, v) => s"\"" + k + "\":\"" + v + "\"" }
        .mkString(",\"errors\":{", ",", "}")
    val stormyJson =
      if (stormy.isEmpty) ""
      else stormy.map("\"" + _ + "\"").mkString(",\"stormy\":[", ",", "]")
    // Full-precision diagnostics FIRST (may exceed the harness's output
    // tail window), then the compact contract line LAST so it survives
    // tail truncation: the harness keeps only the final ~2000 bytes of
    // output, and sbt appends its own ~74-byte "[success]" trailer.
    val detailQs = all.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val detailLine = s"""{"metric":"bench_detail","value":$total,"unit":"sec","queries":$detailQs,"sf":"$sfDir","runs_per_query":$reps,"shuffle_partitions":$parts,"warmup_s":$warmupS,"steal_ticks":$stealDelta$stormyJson$errJson}"""
    println(detailLine)
    // the contract line below is byte-budgeted (≤1900 for the driver's
    // 2000-byte tail capture) and truncates the fastest lines on a
    // large inventory — ALSO land the full-precision map as a small
    // file artifact so every per-query number stays verifiable
    // (best-effort: a read-only cwd must not fail the bench; the
    // stdout contract is unchanged either way)
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(sys.env.getOrElse(
        "SPARK_GRAFT_DETAIL_OUT", "BENCH_DETAIL.json")),
      detailLine + "\n")
    catch { case _: Exception => () }
    // the contract line goes LAST; under sbt the only output after it
    // is sbt's own "[success]" trailer (a shutdown-hook re-print would
    // NOT land after the trailer — the forked JVM, hooks included,
    // exits before sbt prints it — and would race Spark's shutdown
    // hooks, so the 1900-byte budget below already accounts for the
    // trailer instead)
    println(renderContract(all, total, sfDir))
    spark.stop()
  }

  /** Memoized shared stages measured as their own bench lines; the
    * contract-line prefix of each (text before the first '_') must stay
    * unique across the whole inventory (BenchContractSpec pins it). */
  val stages: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    // the tokenized corpus shared by the x14–x17/x21–x23 text family
    // AND (round 19) the whole docTokens dedup family (d2/d3/d4/d11/d12
    // + the CC/LSH stages below) — it must run FIRST so its line times
    // the cold build; the dedup stages would otherwise absorb it
    "stage:tokdocs_corpus" ->
      ((s, d) => operators.TextOps.warmTokenizedDocs(s, d)),
    "stage:dedup_cc_labels" ->
      ((s, d) => operators.DedupOps.warmWordSetLabels(s, d)),
    "stage:lsh_pairs" ->
      ((s, d) => operators.DedupOps.warmLshPairs(s, d)),
    "stage:bpe_merges" ->
      ((s, d) => operators.TextOps.warmBpeMerges(s, d)),
    "stage:kmeans_train" ->
      ((s, d) => operators.VectorOps.warmKmeans(s, d)),
    "stage:pca_train" ->
      ((s, d) => operators.VectorOps.warmPca(s, d)),
    "stage:lr_train" ->
      ((s, d) => operators.TextOps.warmLr(s, d)),
    "stage:pqadc_codes" ->
      ((s, d) => operators.VectorOps.warmPqAdc(s, d)),
    // Forced-DISTRIBUTED twins (cap = 0): size dispatch routes the
    // trainers driver-side at test SFs (PCA excepted — its cap sits at
    // 10k, so sf0.1 already trains distributed), so without these
    // lines a perf regression in the distributed CC loop / BPE rounds /
    // Lloyd rounds / PCA moments pass / LR gradient rounds — the code
    // paths real above-cap corpora take — would be invisible to the
    // bench and the trend guard. Timed after the dispatched stages
    // (memos untouched; consumers stay memo-warm). Names keep the
    // unique-first-underscore-prefix contract.
    "stage:ccdist_labels" ->
      ((s, d) => operators.DedupOps.warmWordSetLabelsDistributed(s, d)),
    "stage:bpedist_merges" ->
      ((s, d) => operators.TextOps.warmBpeMergesDistributed(s, d)),
    "stage:kmeansdist_train" ->
      ((s, d) => operators.VectorOps.warmKmeansDistributed(s, d)),
    "stage:pcadist_train" ->
      ((s, d) => operators.VectorOps.warmPcaDistributed(s, d)),
    "stage:lrdist_train" ->
      ((s, d) => operators.TextOps.warmLrDistributed(s, d)),
    // the reference's core daily workload, split (round 11) so the
    // ETL line is pure: the corpus build materializes first
    // (stage:dumpsynth_raw, memoized), then stage:dump_day times ONLY
    // the full dump — USD decoration included — so an ETL-path
    // regression (lost filter pushdown, extra shuffle in a
    // projection, a slow UDF) surfaces undiluted by synthesis cost
    "stage:dumpsynth_raw" ->
      ((s, d) => etl.Dump.warmRawDay(s, d)),
    "stage:dump_day" ->
      ((s, d) => etl.Dump.warmDumpDay(s, d)),
    // the evm.* dataset dump shared by k21/k22/k23 (one tx⋈receipt
    // join + three table writes, memoized like stage:lsh_pairs)
    "stage:evmds_dump" ->
      ((s, d) => operators.KeyOps.warmEvmDataset(s, d)),
    // the WASM contracts dump shared by k18/k19/k20 (one synthesis +
    // three whole-table writes, memoized like stage:evmds_dump —
    // round 18: previously each of the three queries re-ran the full
    // dump, tripling its cost across the suite)
    "stage:contracts_dump" ->
      ((s, d) => operators.ContractOps.warmContractsDump(s, d)))

  /** The one-line JSON contract, sized to survive a 2000-byte output-tail
    * capture alongside sbt's ~75-byte "[success]" trailer (hard budget
    * ≈ 1925; we target ≤ 1900). The inventory outgrew full query names
    * at any numeric precision (84 names ≈ 1730 bytes before a single
    * digit), so the ladder falls back to the UNIQUE name-prefix keys the
    * inventory is built on ("a1", "j16b", "v5", … — uniqueness pinned by
    * BenchContractSpec); the line then carries full 2-decimal resolution
    * at ~950 bytes, and a "keys" marker says how to read it. Full names
    * with full precision stay on the bench_detail line.
    */
  /** Adaptive number rendering shared by every contract rung (dec = -1
    * → magnitude-scaled precision "0.12"/"9.8"/"123", trailing zeros
    * trimmed — ~4-char width, scaling the line to ~180 entries where
    * fixed 2-decimal tops out near 130). ONE copy: the formatting is
    * contract-critical for round-over-round comparison. */
  private def contractNum(dec: Int)(v: Double): String = {
    val d = if (dec >= 0) dec
      else if (math.abs(v) >= 100) 0
      else if (math.abs(v) >= 10) 1
      else 2
    val s = String.format(java.util.Locale.ROOT, s"%.${d}f",
      Double.box(v))
    if (dec == -1 && s.contains('.'))
      s.reverse.dropWhile(_ == '0').dropWhile(_ == '.').reverse
    else s
  }

  /** Tightest-rung key compression — first `_` segment with "stage:"
    * → "s:". [[BenchTrend]] normalizes both compared files with this
    * same function, so old/new files line up whatever rung wrote them. */
  private[graft] def contractKey(k: String): String =
    k.split('_')(0).replace("stage:", "s:")

  def renderContract(results: Seq[(String, Double)], total: Double,
                     sfDir: String): String = {
    // marker: 0 = full "query_name_prefix" note, 1 = short "prefix",
    // 2 = none (last resort; BenchTrend never reads the
    // marker — it is documentation for a human reading the line)
    def render(dec: Int, sf: String, prefixKeys: Boolean,
        marker: Int = 0): String = {
      def num(v: Double) = contractNum(dec)(v)
      def key(k: String) =
        if (!prefixKeys) k
        else if (marker == 2) contractKey(k)
        else k.split('_')(0)
      val qs = results.map { case (k, v) => "\"" + key(k) + "\":" + num(v) }
        .mkString("{", ",", "}")
      val note =
        if (!prefixKeys || marker == 2) ""
        else if (marker == 1) ""","keys":"prefix""""
        else ""","keys":"query_name_prefix""""
      s"""{"metric":"total","value":${num(total)},"unit":"sec","queries":$qs,"sf":"$sf"$note}"""
    }
    val short = sfDir.split('/').filter(_.nonEmpty).lastOption
      .getOrElse(sfDir)
    Iterator((2, sfDir, false, 0), (2, sfDir, true, 0), (2, short, true, 0),
      (-1, short, true, 1))
      .map { case (dec, sf, pk, mk) => render(dec, sf, pk, mk) }
      .find(_.length <= 1900)
      .getOrElse {
        val full = render(-1, short, prefixKeys = true, marker = 2)
        if (full.length <= 1900) full
        else renderTopK(results, total, short)
      }
  }

  /** Final compression rung once even adaptive-precision prefix keys
    * overflow the 2000-byte stdout tail: keep the SLOWEST entries that
    * fit (a regressed query is by definition slow, so everything the
    * trend guard could flag survives; what drops is the fastest tail,
    * the least regression-relevant lines) plus the canary queries
    * unconditionally — [[BenchTrend]]'s host-factor normalization
    * needs them present in every round's file. `"dropped":N` records
    * the truncation so a human never reads the map as complete. */
  private def renderTopK(results: Seq[(String, Double)], total: Double,
      sf: String): String = {
    val num = contractNum(-1) _
    val key = contractKey _
    val isCanary = (k: String) => BenchTrend.CanaryCleanBand.contains(key(k))
    // canaries first, then slowest-first (throw sentinels -1 sort with
    // the canaries: a thrown query must always surface)
    val ordered = results.sortBy { case (k, v) =>
      (if (isCanary(k) || v < 0) 0 else 1, -v)
    }
    def line(kept: Seq[(String, Double)], dropped: Int): String = {
      val qs = kept.map { case (k, v) => "\"" + key(k) + "\":" + num(v) }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":${num(total)},"unit":"sec","queries":$qs,"sf":"$sf","dropped":$dropped}"""
    }
    var n = ordered.length
    while (n > 1 && line(ordered.take(n), ordered.length - n).length > 1900)
      n -= 1
    line(ordered.take(n), ordered.length - n)
  }
}

/** Round-over-round bench comparison, storm-aware — the repo's one
  * trend guard: BenchContractSpec runs it over the two newest committed
  * driver benches, and `tools/dev.sh graft.BenchTrend <old> <new>`
  * ([[BenchTrend.main]]) runs it over any two bench files.
  *
  * The driver's bench host suffers multi-minute hypervisor CPU-steal
  * storms (BENCH_r05: steal_ticks 30 225 vs 21 the round before; every
  * "regressed" query untouched and normal on a clean rerun). A trend
  * guard that reads only the per-query seconds turns `sbt test` red on
  * any noisy driver run with zero code change — so this comparator also
  * reads the annotations `graft.Bench` writes into the same file:
  *
  *  - a query in the newer bench's `stormy` list (every rep storm-hit)
  *    is never a hard regression — it is reported as storm-exempt;
  *  - a newer bench whose whole-run `steal_ticks` exceeds
  *    [[BenchTrend.StormRunTicks]] is storm-contaminated end to end:
  *    slow-downs become "suspect, re-measure locally" instead of
  *    failures (`tools/dev.sh graft.Bench` is the clean re-measure);
  *  - a query that THREW (-1 sentinel) is a hard regression regardless
  *    of storms — steal makes queries slow, not wrong;
  *  - CANARY normalization (round-9 lesson): /proc/stat steal is blind
  *    to whole-host slowdowns that aren't hypervisor steal (BENCH_r09:
  *    steal_ticks 75, yet 11 untouched queries read 3-6x high, among
  *    them the frozen scan+agg canary x1). If any canary query — code
  *    that never changes — inflates >= [[BenchTrend.CanaryStormFactor]]
  *    vs its ABSOLUTE pinned clean band ([[BenchTrend.CanaryCleanBand]]
  *    — never the previous artifact, which round 11 showed can itself
  *    be inflated and mask the next storm), the run is
  *    host-contaminated and slowdowns demote to "suspect, re-measure
  *    locally" exactly like a steal storm.
  *
  * The flag rule is `new > floor AND new > factor×old` — closing the
  * old spec's `old ≥ 0.5 s` arming blind band (a 0.3 s → 10 s
  * regression must not pass).
  */
object BenchTrend {
  import Bench.contractKey

  /** A query regresses when its newer time exceeds [[FloorSeconds]]
    * AND [[RegressionFactor]] × its older time (sub-floor times are
    * noise-class on local[32]); it improves on the mirror rule. */
  val RegressionFactor = 3.0
  val FloorSeconds = 0.3

  /** Whole-run steal above this = the run itself is storm-contaminated
    * (idle rounds measure ~20-70 ticks; the r05 storm run hit 30 225). */
  val StormRunTicks = 500L

  /** Any canary at or beyond this ratio vs its ABSOLUTE pinned clean
    * band marks the newer run host-contaminated (max-of-canaries, not
    * median: the r09 slowdown was bursty, hitting only part of the run,
    * so the median canary read flat while x1 — measured inside the
    * burst — read 3.4x). Genuine regressions cannot move a canary:
    * nothing in their code changes. Throwing queries stay hard failures
    * regardless. */
  val CanaryStormFactor = 2.0

  /** The canary queries (prefix-normalized keys) and their ABSOLUTE
    * clean-host band (seconds). Canaries are frozen-trivial shapes (one
    * pushed-filter scan + one agg / point lookup / exact-dedup groupBy)
    * untouched since round 1: their code has no dependency on anything
    * that lands round to round, so a canary inflating can only mean the
    * HOST was slow while it ran — the round-9 lesson: a steal-INVISIBLE
    * whole-host slowdown (steal ticks 75, well under [[StormRunTicks]])
    * inflated 11 untouched queries 3-6x including canary x1 (0.15 ->
    * 0.51 s), while /proc/stat steal saw nothing.
    *
    * The band is pinned from the committed clean-round data —
    * BENCH_r03/r04/r08 (steal ≤ 207) read p0 0.15–0.18 / x1 0.13–0.18 /
    * d1 0.10–0.11; every storm round reads above. The ratio in
    * [[compare]] is measured against THIS, never against the previous
    * artifact: round 11 proved the relative form has a masking blind
    * spot — BENCH_r10's canaries were themselves storm-inflated (p0
    * 0.40), so BENCH_r11's p0 0.37 read 1.14× "clean" relatively while
    * sitting ~2.1× the true band, and a 13× storm-absorbed stage line
    * (s:lrdist 3.65→47.8) went HARD instead of demoting. Consecutive
    * storm artifacts must not be able to vouch for each other; a fixed
    * band cannot be dragged upward by a contaminated prior round.
    * Re-pin only from a multi-run idle-host record (steal < 2k,
    * documented in docs/BENCH.md). */
  val CanaryCleanBand: Map[String, Double] =
    Map("p0" -> 0.18, "x1" -> 0.15, "d1" -> 0.11)

  /** Clean-host UPPER bands (seconds, sf0.1) for the storm-ABSORBING
    * long stages — the lines every storm round inflates (their
    * multi-second spans maximize the chance of overlapping a burst)
    * and every clean round re-enters. A stage line that trips the
    * ratio rule but sits AT OR UNDER its pinned clean ceiling is not
    * a regression — the comparison artifact was merely fast (min-of-
    * reps under a warm memo, a lucky scheduler) — and demotes to an
    * info row; above the ceiling the normal rules apply untouched.
    * Ceiling POLICY (docs/BENCH.md round-13 entry): the MAX of the
    * committed clean-round records × 1.15 run-to-run headroom — the
    * records themselves span ±20% on identical code, so the max alone
    * would turn normal variance hard.
    * Re-pin only from an idle-host record (steal < 2k) with the
    * change noted there. Only meaningful at the band scale, like
    * [[CanaryCleanBand]].
    *
    * Round-18 re-pin (docs/BENCH.md round-18 entry): the concurrent
    * multi-table writes moved s:dump's clean reading from 9.19–12.8 to
    * 5.29 (the round's clean full run, steal 861 / canary factor 1.00)
    * – 7.13 (storm-tinted run 2) — the old 14.7 ceiling would have let
    * a 2× regression of the optimized dump hide as "in band", so it
    * re-pins to 7.13 × 1.15 ≈ 8.2. s:dumpsynth's clean record now
    * spans 0.95–2.25 → ceiling 2.6. s:dedup's clean records reached
    * 5.14 this round, so the max × 1.15 policy puts its ceiling at
    * 5.92 (5.14 × 1.15 = 5.911, rounded UP so the pin never sits
    * below the policy result; the old 5.2 left ~1% headroom over the
    * record — routine variance would have read as a hard
    * regression). s:lrdist kept 4.2 in round 18 (warm records
    * 2.05–3.65; the 6.15 first-rep is the documented once-per-run
    * JIT-absorption cold shape, excluded from the band).
    *
    * Round-19 re-pin (docs/BENCH.md round-19 ledger): the shared
    * tokenized-corpus stage and the codegen warms MOVED all four
    * banded stages — the round-18 rationale again: the old ceilings
    * would let 2–4× regressions of the optimized stages hide as "in
    * band". Clean records this round (idle-host full runs at steal
    * 111–693, canary factor ≤1.14, plus fresh-JVM BenchOne spans):
    * s:dump 3.60–3.99 → 3.99 × 1.15 ≈ 4.6; s:dumpsynth 1.17–1.71 →
    * 1.97, pinned 2.0; s:dedup 1.54–2.11 → 2.43, pinned 2.5;
    * s:lrdist warm records 1.60–2.27 → 2.61, pinned 2.7 (the cold
    * first-rep exclusion unchanged). */
  val StageCleanBand: Map[String, Double] = Map(
    "s:dump" -> 4.6,
    "s:dumpsynth" -> 2.0,
    "s:dedup" -> 2.5,
    "s:lrdist" -> 2.7)

  /** One comparison's findings, each row "key: old -> new …". */
  final case class Trend(
      regressions: Seq[String], // hard failures (clean-run slowdowns, throws)
      stormExempt: Seq[String], // slowdowns excused by storm/canary evidence
      stealTicks: Long,
      /** No overlapping query keys — e.g. one file is a driver
        * `parsed: null` capture failure (rounds 1-2 lost their numbers
        * exactly this way). An empty comparison must be an ERROR, not
        * a green "no regressions". */
      vacuous: Boolean,
      /** Worst canary inflation ratio of the NEWER run: against the
        * absolute [[CanaryCleanBand]] when the run measured the band's
        * scale (sf0.1, or no sf recorded), else against the previous
        * file's canaries (the relative fallback — the band's seconds
        * mean nothing at another scale: at sf1 every canary reads ~10x
        * band and the guard would demote every real regression; at
        * sf0.01 a genuine storm reads under-band and its inflated
        * lines would go hard). 1.0 when no canary is measurable. */
      canaryFactor: Double,
      /** Slowdowns excused by a committed, human-reviewed entry in the
        * adjudications ledger ([[adjudicatedFor]]) — reported as info,
        * never red. Throws are NEVER adjudicable: an adjudication
        * records "this artifact's TIMING is a host burst", and steal
        * makes queries slow, not wrong. */
      adjudicated: Seq[String],
      /** Long-stage lines that tripped the ratio rule but sit inside
        * their pinned clean band ([[StageCleanBand]]) — info, not
        * red: the stage is performing exactly as its committed clean
        * record says. */
      inCleanBand: Seq[String],
      improved: Seq[String],
      /** Queries absent from the older file that ran (a brand-new
        * query that threw is a regression instead). */
      added: Seq[String],
      /** Newer-file query count and the (older, newer) run totals. */
      queries: Int,
      totals: (Double, Double))

  // E-notation matters: bench_detail writes raw Double.toString, which
  // renders sub-millisecond times as 9.5E-4 — a mantissa-only parse
  // would inflate them ~1000x into phantom regressions
  private val Num = """(-?[0-9.]+(?:[eE][-+]?[0-9]+)?)"""

  /** First "queries" map in the file — the driver's `parsed` contract
    * object, or the bench_detail line of raw `graft.Bench` output.
    * (Escaped quotes inside the driver file's "tail" string cannot
    * match, so the tail's embedded copies are skipped naturally.) */
  def queryTimes(txt: String): Map[String, Double] = {
    val q = """"queries"\s*:\s*\{([^}]*)\}""".r
      .findFirstMatchIn(txt).map(_.group(1)).getOrElse("")
    val raw = (""""([^"]+)"\s*:\s*""" + Num).r
      .findAllMatchIn(q)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
    // normalize to the contract's unique-prefix keys when collision-free
    // so full-name files and prefix-keyed driver files line up
    val counts =
      raw.keys.groupBy(contractKey).map { case (p, ks) => p -> ks.size }
    raw.map { case (k, v) =>
      (if (counts(contractKey(k)) == 1) contractKey(k) else k) -> v
    }
  }

  /** The run total: the first unescaped `"value"` — the same object
    * [[queryTimes]] reads (the driver's `parsed` contract or the raw
    * bench_detail line). 0 when absent. */
  def totalOf(txt: String): Double =
    (""""value"\s*:\s*""" + Num).r.findFirstMatchIn(txt)
      .fold(0.0)(_.group(1).toDouble)

  /** Whole-run steal ticks; matches both raw (`"steal_ticks":N`) and
    * the escaped copy inside a driver file's "tail" string
    * (`\"steal_ticks\":N`). Max over matches = the run-level figure. */
  def stealTicksOf(txt: String): Long = {
    val ms = """steal_ticks\\?"\s*:\s*(\d+)""".r.findAllMatchIn(txt)
      .map(_.group(1).toLong).toSeq
    if (ms.isEmpty) 0L else ms.max
  }

  /** The scale the bench file recorded (`"sf":"sf0.1"` or a full
    * `/root/testdata/sf0.1` path; matches the escaped tail copy too).
    * None when the file carries no sf — synthetic fixtures and hand
    * runs, treated as the band's scale. */
  def sfOf(txt: String): Option[String] =
    """sf\\?"\s*:\s*\\?"([^"\\]+)""".r.findFirstMatchIn(txt)
      .map(_.group(1))

  /** Storm-marked query names from the newer bench, prefix-normalized.
    * The token class includes ':' so a stage key ("stage:ccdist_labels")
    * survives tokenization whole and prefix-normalizes to the same
    * "s:ccdist" that [[Bench.contractKey]] yields — without it a
    * storm-marked stage line could never match the exemption set. */
  def stormyOf(txt: String): Set[String] =
    """stormy\\?"\s*:\s*\[([^\]]*)\]""".r.findAllMatchIn(txt)
      .flatMap(m => """[A-Za-z0-9_:]+""".r.findAllIn(m.group(1)))
      .map(contractKey).toSet

  /** The committed adjudications ledger (the round-12 judge's loop
    * fix: four consecutive rounds opened with a red suite on a
    * post-session driver artifact measuring UNTOUCHED code — each
    * round's triage lived only in docs/BENCH.md prose, invisible to
    * the guard). `BENCH_ADJUDICATIONS.json` turns that triage into
    * reviewed DATA: one entry per (bench file, query) whose slowdown a
    * human adjudicated as a host artifact, with the evidence written
    * down. [[compare]] demotes a matching slowdown to an info row;
    * anything unadjudicated stays hard. Scope rules:
    *  - an entry binds ONE file to ONE query — it cannot pre-excuse
    *    the next round's artifact or a sibling query;
    *  - throws (-1) are never adjudicable (steal makes queries slow,
    *    not wrong);
    *  - the ledger is committed and review-gated like any code change. */
  val AdjudicationsFile = "BENCH_ADJUDICATIONS.json"

  /** Prefix-normalized query names adjudicated for `benchFileName`
    * (e.g. "BENCH_r12.json") in the ledger under `ledgerDir`; empty
    * when there is no ledger. The ledger is a JSON array of objects;
    * an entry without a string `file` and `query` fails loudly rather
    * than being skipped (a silently dropped entry would re-open the
    * red-suite loop the ledger closes). */
  def adjudicatedFor(benchFileName: String,
      ledgerDir: String = "."): Set[String] = {
    import scala.jdk.CollectionConverters._
    val f = new java.io.File(ledgerDir, AdjudicationsFile)
    if (!f.isFile) Set.empty
    else {
      val entries = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(f)
      require(entries.isArray, s"$AdjudicationsFile: expected an array")
      entries.elements().asScala.map { e =>
        val (fl, q) = (e.path("file"), e.path("query"))
        require(fl.isTextual && q.isTextual,
          s"$AdjudicationsFile: entry without a string file/query: $e")
        fl.asText -> q.asText
      }.collect { case (fl, q) if fl == benchFileName => contractKey(q) }
        .toSet
    }
  }

  /** Sub-second slowdowns are only HARD when they are a pattern:
    * seven same-code sf0.1 runs in one round-10 session showed lone
    * untouched lines swinging ×3.4-3.7 under a second (a14
    * 0.28→0.95 in exactly one run, w8 0.17→0.63 in exactly the next,
    * both normal in every other run, steal 0, canaries < 2×) — an
    * isolated sub-second flag on this host class is a coin flip, not
    * a signal. Up to [[MaxIsolatedSubSecond]] such lines demote to
    * suspect (still printed, still demanding a local re-measure);
    * MORE than that is a broad slowdown and stays hard, as do throws
    * and every slowdown at or above [[SubSecondBand]]. */
  val SubSecondBand = 1.0
  val MaxIsolatedSubSecond = 2

  def compare(prevTxt: String, currTxt: String,
              adjudicatedQs: Set[String] = Set.empty): Trend = {
    val prev = queryTimes(prevTxt)
    val curr = queryTimes(currTxt)
    val stormySet = stormyOf(currTxt)
    val ticks = stealTicksOf(currTxt)
    val stormRun = ticks > StormRunTicks
    // canary normalization: worst ratio of the newer run's canaries vs
    // the ABSOLUTE pinned clean band ([[CanaryCleanBand]] — NOT the
    // previous artifact, whose canaries may themselves be inflated; the
    // r10→r11 consecutive-storm masking). The previous file plays no
    // role: a contaminated prior round cannot raise the bar. The band
    // is pinned at the driver's bench scale — a run recorded at a
    // DIFFERENT sf falls back to the relative form (its absolute
    // seconds are incomparable to the band; see Trend.canaryFactor).
    val bandScale = sfOf(currTxt).forall(_.contains("sf0.1"))
    val canaryFactor =
      if (bandScale)
        CanaryCleanBand.flatMap { case (k, band) =>
          for (c <- curr.get(k); if c >= 0) yield c / band
        }.maxOption.getOrElse(1.0)
      else
        CanaryCleanBand.keys.flatMap { k =>
          for (p <- prev.get(k); c <- curr.get(k);
               if p >= 0.02 && c >= 0) yield c / p
        }.maxOption.getOrElse(1.0)
    val canaryRun = canaryFactor >= CanaryStormFactor
    val hard = scala.collection.mutable.ArrayBuffer[String]()
    val soft = scala.collection.mutable.ArrayBuffer[String]()
    val adj = scala.collection.mutable.ArrayBuffer[String]()
    val inBand = scala.collection.mutable.ArrayBuffer[String]()
    val slowSub = scala.collection.mutable.ArrayBuffer[String]()
    val improved = scala.collection.mutable.ArrayBuffer[String]()
    val added = scala.collection.mutable.ArrayBuffer[String]()
    for ((name, c) <- curr.toSeq.sortBy(_._1)) prev.get(name) match {
      // a throw is NEVER adjudicable — see [[AdjudicationsFile]] — and
      // a brand-new query that already throws is no "new" info row
      case None if c < 0 => hard += s"$name: NEW -> FAILED (-1)"
      case None => added += f"$name: $c%.2f s"
      case Some(p) if c < 0 && p >= 0 =>
        hard += f"$name: $p%.2f s -> FAILED (-1)"
      case Some(p) if c > FloorSeconds && p >= 0 &&
          c > RegressionFactor * p =>
        val line =
          f"$name: $p%.2f s -> $c%.2f s (x${c / math.max(p, 1e-9)}%.1f)"
        val band = StageCleanBand.get(contractKey(name))
        if (adjudicatedQs.contains(contractKey(name)))
          adj += s"$line [reviewed disposition in $AdjudicationsFile]"
        else if (bandScale && band.exists(c <= _))
          inBand += s"$line [inside the pinned clean band ${band.get} s]"
        else if (stormySet.contains(contractKey(name)))
          soft += s"$line [stormy-marked]"
        else if (stormRun) soft += s"$line [storm-contaminated run]"
        else if (canaryRun)
          soft += f"$line [canary-inflated run (x$canaryFactor%.1f)]"
        else if (c < SubSecondBand) slowSub += line
        else hard += line
      case Some(p) if p > FloorSeconds && c >= 0 &&
          p > RegressionFactor * c =>
        improved += f"$name: $p%.2f s -> $c%.2f s"
      case _ =>
    }
    if (slowSub.length <= MaxIsolatedSubSecond)
      soft ++= slowSub.map(_ + " [isolated sub-second swing]")
    else hard ++= slowSub
    Trend(hard.toSeq, soft.toSeq, ticks,
      vacuous = (prev.keySet & curr.keySet).isEmpty,
      canaryFactor = canaryFactor, adjudicated = adj.toSeq,
      inCleanBand = inBand.toSeq, improved = improved.toSeq,
      added = added.toSeq, queries = curr.size,
      totals = (totalOf(prevTxt), totalOf(currTxt)))
  }

  /** Compares bench file `newPath` against `oldPath` (each a driver
    * BENCH_r{N}.json or raw `graft.Bench` stdout saved to a file) with
    * the adjudications read from the working directory's ledger, prints
    * a header and one row per finding, and returns the exit status:
    * 1 on a hard regression or a vacuous comparison, else 0. */
  def run(oldPath: String, newPath: String): Int = {
    def read(p: String) =
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(p)), "UTF-8")
    val t = compare(read(oldPath), read(newPath),
      adjudicatedFor(new java.io.File(newPath).getName))
    if (t.vacuous) {
      Console.err.println(s"ERROR: no overlapping query keys between " +
        s"$oldPath and $newPath — refusing to report 'no regressions' " +
        "on a vacuous comparison")
      return 1
    }
    println(f"total: ${t.totals._1}%.2f s -> ${t.totals._2}%.2f s " +
      f"(${t.queries} queries, ${t.added.size} new, newer " +
      f"steal_ticks=${t.stealTicks}, canary_factor=${t.canaryFactor}%.2f)")
    for ((kind, rows) <- Seq("REGRESSION" -> t.regressions,
        "SUSPECT" -> t.stormExempt, "ADJUDICATED" -> t.adjudicated,
        "INBAND" -> t.inCleanBand, "improved" -> t.improved,
        "new" -> t.added); row <- rows)
      println(f"$kind%-11s $row")
    println("== " + (
      if (t.regressions.nonEmpty) s"${t.regressions.size} regression(s) " +
        s"over factor $RegressionFactor"
      else if (t.stormExempt.nonEmpty) s"no hard regressions; " +
        s"${t.stormExempt.size} storm-suspect slowdown(s) need a clean " +
        "local re-measure: tools/dev.sh graft.Bench"
      else "no regressions") + " ==")
    if (t.regressions.nonEmpty) 1 else 0
  }

  /** `tools/dev.sh graft.BenchTrend <old> <new>` — see [[run]]. */
  def main(args: Array[String]): Unit = args match {
    case Array(oldPath, newPath) => sys.exit(run(oldPath, newPath))
    case _ =>
      Console.err.println("usage: tools/dev.sh graft.BenchTrend <old> <new>")
      sys.exit(2)
  }
}
