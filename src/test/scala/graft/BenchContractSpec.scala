package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver captures only the last ~2000 bytes of bench output, and sbt
  * appends a ~75-byte "[success] Total time: …" trailer after our JSON
  * (the forked JVM's output — including shutdown hooks — flushes BEFORE
  * that trailer, so the trailer always costs budget). The contract line
  * must stay under 1900 bytes for the FULL query inventory, or the driver
  * records `parsed: null` (rounds 1-2 both lost their bench numbers this
  * way). Past ~80 queries full names alone exceed the window, so the
  * renderer falls back to the inventory's name-prefix keys — whose
  * uniqueness this spec also pins.
  */
class BenchContractSpec extends AnyFunSuite {

  test("query name prefixes are unique (the compact contract key space)") {
    val names = SparkEntry.queries.keys.toSeq ++ Bench.stages.map(_._1)
    val prefixes = names.map(_.split('_')(0))
    val dups = prefixes.groupBy(identity).filter(_._2.size > 1).keys
    assert(prefixes.distinct.size == names.size,
      s"duplicate contract prefixes: ${dups.mkString(",")}")
  }

  test("stage lines keep their names and order") {
    // perfbench's read_mix pairs Bench.stages.take(8) with one consumer
    // per stage BY POSITION, and tokdocs must run first so its line
    // times the cold build: a reorder would quietly time the wrong stage
    assert(Bench.stages.map(_._1) == Seq(
      "stage:tokdocs_corpus", "stage:dedup_cc_labels", "stage:lsh_pairs",
      "stage:bpe_merges", "stage:kmeans_train", "stage:pca_train",
      "stage:lr_train", "stage:pqadc_codes", "stage:ccdist_labels",
      "stage:bpedist_merges", "stage:kmeansdist_train",
      "stage:pcadist_train", "stage:lrdist_train", "stage:dumpsynth_raw",
      "stage:dump_day", "stage:evmds_dump", "stage:contracts_dump"))
  }

  test("contract line fits the 2000-byte tail for the full inventory") {
    // worst-plausible widths: every query slow (3-digit seconds), negative
    // error sentinel mixed in
    val results = (SparkEntry.queries.keys.toSeq ++ Bench.stages.map(_._1))
      .zipWithIndex.map {
        case (name, i) => name -> (if (i % 7 == 0) -1.0 else 123.456789)
      }
    val line = Bench.renderContract(results, 9876.543,
      "/root/testdata/sf0.1")
    assert(line.length <= 1900,
      s"contract line is ${line.length} bytes; tail window is 2000 minus " +
        "sbt trailer")
    assert(line.startsWith("""{"metric":"total","value":"""))
    assert(!line.contains("\n"))
    // prefix-key mode may carry its marker in full or short form (it is
    // dropped entirely at the last compression rung)
    if (line.contains("\"keys\":"))
      assert(line.contains(""""keys":"query_name_prefix"""") ||
        line.contains(""""keys":"prefix""""))
  }

  test("contract line keeps 2-decimal resolution for the real inventory") {
    // realistic case: everything sub-second — resolution must survive
    val results = (SparkEntry.queries.keys.toSeq ++ Bench.stages.map(_._1))
      .map(_ -> 0.123456)
    val line = Bench.renderContract(results, 29.8, "/root/testdata/sf0.1")
    assert(line.length <= 1900)
    assert(line.contains(":0.12"), "lost sub-second resolution")
  }

  test("contract line is valid JSON shape with per-query numbers") {
    val line = Bench.renderContract(
      Seq("q1_agg" -> 0.123456, "j16_asof_join" -> 12.5), 12.623456,
      "/root/testdata/sf0.01")
    assert(line.contains(""""q1_agg":0.12"""))
    assert(line.contains(""""j16_asof_join":12.50"""))
    assert(line.contains(""""unit":"sec""""))
    assert(line.contains(""""sf":"/root/testdata/sf0.01""""))
  }

  /** Trend guard: per-query times in the newest driver bench must stay
    * within a generous factor of the round before, so a real regression
    * surfaces as a red test instead of a judge note. STORM-AWARE (the
    * round-5 lesson): the driver host suffers hypervisor CPU-steal
    * storms, and `graft.Bench` annotates its output with `steal_ticks`
    * and a per-query `stormy` list — the comparator in [[BenchTrend]]
    * reads those, so a noisy driver run demands a clean local
    * re-measure instead of turning the suite red on zero code change.
    * The flag rule is `new > 0.3 s AND new > 3×old` (no more
    * `old ≥ 0.5 s` arming blind band); `tools/dev.sh graft.BenchTrend`
    * runs the same comparator over any two bench files. */
  test("no per-query regression beyond 3x vs the previous round bench") {
    val dir = new java.io.File(".")
    val benches = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.matches("BENCH_r\\d+\\.json"))
      .sortBy(_.getName)
    if (benches.length < 2) {
      info(s"only ${benches.length} BENCH_r*.json present; nothing to compare")
    } else {
      def txt(f: java.io.File) =
        new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      val prevF = benches(benches.length - 2)
      val t = BenchTrend.compare(txt(prevF), txt(benches.last),
        adjudicatedQs = BenchTrend.adjudicatedFor(benches.last.getName))
      assert(!t.vacuous,
        s"no overlapping query keys between ${prevF.getName} and " +
          s"${benches.last.getName} — a 'parsed: null' capture failure " +
          "must be an error, never a green no-regressions")
      if (t.stormExempt.nonEmpty) {
        info(f"storm/canary-exempt slowdowns (newer run steal_ticks=" +
          f"${t.stealTicks}, canary_factor=${t.canaryFactor}%.2f; " +
          "re-measure with `tools/dev.sh graft.Bench` before trusting): " +
          t.stormExempt.mkString("; "))
      }
      if (t.adjudicated.nonEmpty) {
        info("adjudicated host artifacts (reviewed disposition in " +
          s"${BenchTrend.AdjudicationsFile} + docs/BENCH.md): " +
          t.adjudicated.mkString("; "))
      }
      assert(t.regressions.isEmpty,
        f"bench regressions vs ${prevF.getName} (newer steal_ticks=" +
          f"${t.stealTicks}, canary_factor=${t.canaryFactor}%.2f): " +
          t.regressions.mkString("; "))
    }
  }

  // ---- synthetic fixtures pin the comparator in BOTH directions ----

  private val cleanOld =
    """{"metric":"total","value":1.0,"unit":"sec","queries":{"a1":0.50,"w2":0.10,"q9":0.15},"sf":"sf0.1"}"""

  test("trend guard: a clean-run 4x regression still fails") {
    val cleanNew =
      """{"metric":"bench_detail","value":4.0,"queries":{"a1":2.20,"w2":0.11,"q9":0.14},"steal_ticks":45,"stormy":[]}"""
    val t = BenchTrend.compare(cleanOld, cleanNew)
    assert(t.regressions.nonEmpty && t.regressions.head.startsWith("a1"),
      s"4x clean regression must be hard: $t")
    assert(t.stormExempt.isEmpty)
  }

  test("trend guard: the old arming blind band is closed (0.1s -> 4s)") {
    val cleanNew =
      """{"queries":{"a1":0.50,"w2":4.00,"q9":0.14},"steal_ticks":45}"""
    val t = BenchTrend.compare(cleanOld, cleanNew)
    assert(t.regressions.exists(_.startsWith("w2")),
      s"sub-0.5s-old regression must still arm the guard: $t")
  }

  test("trend guard: isolated sub-second swings demote, patterns stay " +
      "hard") {
    // ONE untouched sub-second line swinging x3.5 on a clean run is
    // the documented host-noise class (round-10: a14 0.28->0.95 in
    // exactly one of seven same-code runs) — suspect, not red
    val one =
      """{"queries":{"a1":0.50,"w2":0.38,"q9":0.14},"steal_ticks":0}"""
    val t1 = BenchTrend.compare(cleanOld, one)
    assert(t1.regressions.isEmpty && t1.stormExempt.exists(
      _.startsWith("w2")), s"isolated sub-second must demote: $t1")
    // THREE sub-second swings are a broad slowdown — hard
    val broad =
      """{"queries":{"a1":0.50,"w2":0.38,"q9":0.55,"a2":0.90},"steal_ticks":0}"""
    val oldBroad =
      """{"queries":{"a1":0.50,"w2":0.10,"q9":0.15,"a2":0.12},"sf":"x"}"""
    val t2 = BenchTrend.compare(oldBroad, broad)
    assert(t2.regressions.length == 3,
      s"3 sub-second swings must stay hard: $t2")
    // a >= 1s slowdown is never excused by the isolated-swing rule
    val big =
      """{"queries":{"a1":0.50,"w2":1.20,"q9":0.14},"steal_ticks":0}"""
    val t3 = BenchTrend.compare(cleanOld, big)
    assert(t3.regressions.exists(_.startsWith("w2")),
      s"1.2s slowdown must stay hard: $t3")
  }

  test("trend guard: stormy-marked and storm-run slowdowns are exempt") {
    // per-query stormy marker (full name, prefix-normalized)
    val stormyNew =
      """{"queries":{"a1":2.20,"w2":0.11,"q9":0.14},"steal_ticks":45,"stormy":["a1_order_stats"]}"""
    val t1 = BenchTrend.compare(cleanOld, stormyNew)
    assert(t1.regressions.isEmpty && t1.stormExempt.nonEmpty, s"$t1")
    // whole-run storm (the BENCH_r05 shape: huge steal_ticks, slow
    // queries NOT all in the stormy list)
    val stormRun =
      """{"queries":{"a1":2.20,"w2":0.11,"q9":3.90},"steal_ticks":30225,"stormy":["w2_lag_delta"]}"""
    val t2 = BenchTrend.compare(cleanOld, stormRun)
    assert(t2.regressions.isEmpty && t2.stormExempt.size == 2,
      s"whole-run storm must exempt un-listed queries too: $t2")
  }

  test("trend guard: canary inflation demotes slowdowns (r09 lesson)") {
    // steal_ticks LOW (the steal counter is blind to this slowdown
    // class) but canary x1 reads 3.4x the pinned band — the exact
    // BENCH_r09 shape
    val old =
      """{"queries":{"x1":0.15,"t2":0.75,"w2":0.10},"steal_ticks":21}"""
    val canaryHot =
      """{"queries":{"x1":0.51,"t2":3.75,"w2":0.11},"steal_ticks":75}"""
    val t = BenchTrend.compare(old, canaryHot)
    assert(t.regressions.isEmpty,
      s"canary-inflated run must demote, not fail: $t")
    assert(t.stormExempt.size == 2 && t.canaryFactor > 3.0, s"$t")
  }

  test("trend guard: consecutive storm artifacts cannot mask each other " +
      "(r11 lesson — absolute canary band)") {
    // BENCH_r10's canaries were themselves storm-inflated (p0 0.40 vs
    // the pinned 0.18 clean band), so a RELATIVE canary check read
    // BENCH_r11's p0 0.37 as 1.14x "clean" and let a 13x storm-absorbed
    // stage line (s:lrdist 3.65 -> 47.8, steal 0) through as a HARD
    // regression. The band is anchored to committed clean-round data,
    // not the prior artifact — the second storm run must still demote.
    val stormPrev =
      """{"queries":{"p0":0.40,"s:lrdist":3.65,"q9":0.15},"steal_ticks":0}"""
    val stormCurr =
      """{"queries":{"p0":0.37,"s:lrdist":47.8,"q9":0.14},"steal_ticks":0}"""
    val t = BenchTrend.compare(stormPrev, stormCurr)
    assert(t.canaryFactor >= BenchTrend.CanaryStormFactor,
      s"p0 0.37 is ~2.1x the absolute band; a relative check reads 0.93x: $t")
    assert(t.regressions.isEmpty && t.stormExempt.exists(
      _.startsWith("s:lrdist")), s"masked storm must demote, not fail: $t")
  }

  test("trend guard: off-band-scale runs fall back to the relative " +
      "canary check") {
    // sf0.01: canaries read ~10x UNDER the sf0.1 band — the absolute
    // form would read a genuine 3.5x host storm as 0.5x "clean" and
    // let its inflated lines go hard; relative catches it
    val old001 = """{"queries":{"x1":0.02,"t2":0.30},"sf":"sf0.01"}"""
    val storm001 =
      """{"queries":{"x1":0.07,"t2":1.50},"steal_ticks":0,"sf":"/root/testdata/sf0.01"}"""
    val t = BenchTrend.compare(old001, storm001)
    assert(t.canaryFactor >= BenchTrend.CanaryStormFactor &&
      t.regressions.isEmpty, s"off-scale storm must demote: $t")
    // sf1: canaries read ~10x OVER the band — the absolute form would
    // read every run as a storm and demote every real regression
    val old1 = """{"queries":{"x1":1.40,"t2":3.00},"sf":"sf1"}"""
    val slow1 =
      """{"queries":{"x1":1.45,"t2":12.00},"steal_ticks":0,"sf":"sf1"}"""
    val t1 = BenchTrend.compare(old1, slow1)
    assert(t1.canaryFactor < BenchTrend.CanaryStormFactor &&
      t1.regressions.exists(_.startsWith("t2")),
      s"flat relative canaries at sf1 keep a 4x regression hard: $t1")
    // the driver's sf0.1 spelling (full path) stays on the absolute band
    assert(BenchTrend.sfOf(
      """{"queries":{},"sf":"/root/testdata/sf0.1"}""")
      .exists(_.contains("sf0.1")))
  }

  test("trend guard: pinned canary band matches the documented clean data") {
    // re-pin only from a multi-run idle-host record (docs/BENCH.md);
    // this fixture keeps silent drift out of the band
    assert(BenchTrend.CanaryCleanBand ==
      Map("p0" -> 0.18, "x1" -> 0.15, "d1" -> 0.11))
  }

  test("trend guard: flat canaries keep a real regression hard") {
    val old =
      """{"queries":{"x1":0.15,"d1":0.10,"t2":0.75},"steal_ticks":21}"""
    val flatCanaries =
      """{"queries":{"x1":0.16,"d1":0.09,"t2":3.75},"steal_ticks":45}"""
    val t = BenchTrend.compare(old, flatCanaries)
    assert(t.regressions.exists(_.startsWith("t2")),
      s"flat canaries = healthy host = a 5x slowdown is real: $t")
    assert(t.canaryFactor < BenchTrend.CanaryStormFactor, s"$t")
  }

  test("stage clean band: an in-band long-stage swing is info, an " +
      "above-band one stays hard (r12 task: judge long stages against " +
      "their own band, not sub-second canaries)") {
    val old =
      """{"queries":{"s:dump":1.20,"x1":0.15,"q9":0.15},"sf":"sf0.1"}"""
    // ratio trip (4.4 > 3 x 1.2) but 4.4s <= the 4.6s pinned clean
    // ceiling — the 1.2s comparison artifact was merely fast
    // (memo-warm min-of-reps)
    val inBand =
      """{"queries":{"s:dump":4.4,"x1":0.16,"q9":0.14},"steal_ticks":0}"""
    val t1 = BenchTrend.compare(old, inBand)
    assert(t1.regressions.isEmpty &&
      t1.inCleanBand.exists(_.startsWith("s:dump")), s"$t1")
    // above the ceiling with flat canaries: the normal rules apply
    val above =
      """{"queries":{"s:dump":40.0,"x1":0.16,"q9":0.14},"steal_ticks":0}"""
    val t2 = BenchTrend.compare(old, above)
    assert(t2.regressions.exists(_.startsWith("s:dump")) &&
      t2.inCleanBand.isEmpty, s"$t2")
    // the band is sf0.1 data — at another scale it must not excuse
    val old001 =
      """{"queries":{"s:dump":0.40,"x1":0.02},"sf":"sf0.01"}"""
    val slow001 =
      """{"queries":{"s:dump":2.0,"x1":0.02},"steal_ticks":0,"sf":"sf0.01"}"""
    val t3 = BenchTrend.compare(old001, slow001)
    assert(t3.inCleanBand.isEmpty &&
      t3.regressions.exists(_.startsWith("s:dump")), s"$t3")
  }

  test("stage clean band: pinned values match the documented idle-host " +
      "records") {
    assert(BenchTrend.StageCleanBand == Map("s:dump" -> 4.6,
      "s:dumpsynth" -> 2.0, "s:dedup" -> 2.5, "s:lrdist" -> 2.7))
  }

  test("adjudications ledger: adjudicated line is exempt, unadjudicated " +
      "twin is not") {
    // the BENCH_r12 shape: a clean-looking run (steal 0, canaries in
    // band) with one >=1s slowdown on untouched code — HARD without an
    // adjudication, an info row WITH one; a twin slowdown the ledger
    // does not name stays hard (an entry binds one file+query, it is
    // not a blanket waiver)
    val curr =
      """{"queries":{"a1":2.20,"w2":1.30,"q9":0.14},"steal_ticks":0}"""
    val none = BenchTrend.compare(cleanOld, curr)
    assert(none.regressions.length == 2, s"both hard unadjudicated: $none")
    val t = BenchTrend.compare(cleanOld, curr,
      adjudicatedQs = Set("a1"))
    assert(t.adjudicated.exists(_.startsWith("a1")) &&
      t.regressions.length == 1 && t.regressions.head.startsWith("w2"),
      s"adjudicated a1 demotes, unadjudicated twin w2 stays hard: $t")
  }

  test("adjudications ledger: entries parse as JSON whatever their " +
      "evidence quotes or their key order") {
    // evidence may cite another bench file in structured form, and an
    // entry's keys may come in any order: only each entry's own
    // top-level file/query pair binds
    val dir = java.nio.file.Files.createTempDirectory("ledger")
    val ledger = dir.resolve(BenchTrend.AdjudicationsFile)
    try {
      java.nio.file.Files.writeString(ledger,
        """[{"file": "BENCH_r98.json", "query": "a1_order_stats",
          |  "evidence": {"file": "BENCH_r99.json", "note": "see \"file\": \"BENCH_r99.json\" {x}"}},
          | {"query": "w2", "evidence": "x", "file": "BENCH_r99.json"}]""".stripMargin)
      assert(BenchTrend.adjudicatedFor("BENCH_r98.json", dir.toString) ==
        Set("a1"))
      assert(BenchTrend.adjudicatedFor("BENCH_r99.json", dir.toString) ==
        Set("w2"))
      // an entry without a string query fails loudly, never skipped
      java.nio.file.Files.writeString(ledger,
        """[{"file": "BENCH_r98.json", "query": 7}]""")
      intercept[IllegalArgumentException](
        BenchTrend.adjudicatedFor("BENCH_r98.json", dir.toString))
    } finally {
      java.nio.file.Files.deleteIfExists(ledger)
      java.nio.file.Files.delete(dir)
    }
  }

  test("adjudications ledger: a throw is never adjudicable") {
    val curr = """{"queries":{"a1":-1.0,"w2":0.11},"steal_ticks":0}"""
    val t = BenchTrend.compare(cleanOld, curr, adjudicatedQs = Set("a1"))
    assert(t.regressions.exists(_.contains("FAILED")),
      s"adjudication excuses timing, not wrongness: $t")
  }

  test("adjudications ledger: entries bind to their bench file") {
    // the committed ledger adjudicates a9 for BENCH_r12.json (the
    // round-12 post-session artifact) and must not leak onto any
    // other round's file
    val forR12 = BenchTrend.adjudicatedFor("BENCH_r12.json")
    assert(forR12.contains("a9"), s"committed r12 entry missing: $forR12")
    assert(!BenchTrend.adjudicatedFor("BENCH_r11.json").contains("a9"),
      "an adjudication must not pre-excuse other rounds' artifacts")
    assert(BenchTrend.adjudicatedFor("BENCH_r99.json",
      ledgerDir = "/nonexistent").isEmpty,
      "missing ledger reads as empty, never throws")
  }

  test("trend guard: a brand-new query that THROWS is a hard failure, " +
      "not a new row") {
    val curr =
      """{"queries":{"a1":0.50,"w2":0.11,"q9":0.14,"z7_new_query":-1.0},"steal_ticks":0}"""
    val t = BenchTrend.compare(cleanOld, curr)
    assert(t.regressions.exists(r => r.startsWith("z7") &&
      r.contains("FAILED")), s"a new query that throws must be hard: $t")
  }

  test("trend guard: a THROWING query is a hard failure even in a storm") {
    val stormFail =
      """{"queries":{"a1":-1.0,"w2":0.11,"q9":0.14},"steal_ticks":30225,"stormy":["a1_order_stats"]}"""
    val t = BenchTrend.compare(cleanOld, stormFail)
    assert(t.regressions.exists(_.contains("FAILED")),
      s"steal makes queries slow, not wrong: $t")
  }

  test("trend guard: an unparseable newer bench is vacuous, not green") {
    // the rounds-1/2 failure mode: driver records "parsed": null and no
    // unescaped queries map exists anywhere in the file
    val t = BenchTrend.compare(cleanOld, """{"n":6,"parsed":null}""")
    assert(t.vacuous && t.regressions.isEmpty)
    assert(!BenchTrend.compare(cleanOld, cleanOld).vacuous)
  }

  test("trend guard: E-notation times parse whole, not mantissa-only") {
    // bench_detail writes raw Double.toString — 9.5E-4 must read as
    // ~0.001s, not 9.5s (a phantom 19x regression vs cleanOld's w2)
    val q = BenchTrend.queryTimes("""{"queries":{"w2":9.5E-4,"a1":0.5}}""")
    assert(math.abs(q("w2") - 0.00095) < 1e-9)
    val t = BenchTrend.compare(cleanOld,
      """{"queries":{"a1":0.50,"w2":9.5E-4,"q9":0.14},"steal_ticks":45}""")
    assert(t.regressions.isEmpty, s"$t")
  }

  test("trend guard: reads annotations through a driver file's escaped tail") {
    // the driver wraps raw output in a JSON file whose "tail" string
    // escapes the quotes — the parsers must still find steal_ticks and
    // stormy there (BENCH_r05.json's exact shape)
    val driverFile =
      """{"n":5,"tail":"{\"metric\":\"bench_detail\",\"queries\":{\"a1_order_stats\":2.2},\"steal_ticks\":30225,\"stormy\":[\"a1_order_stats\"]}\n","parsed":{"metric":"total","queries":{"a1":2.20,"w2":0.11}}}"""
    assert(BenchTrend.stealTicksOf(driverFile) == 30225L)
    assert(BenchTrend.stormyOf(driverFile) == Set("a1"))
    // queryTimes must take the parsed contract map, not the tail copy
    assert(BenchTrend.queryTimes(driverFile) ==
      Map("a1" -> 2.20, "w2" -> 0.11))
  }

  /** `tools/dev.sh graft.BenchTrend` on two committed driver files:
    * the exit status and the keys of each row kind it prints. */
  private def trendCli(oldF: String, newF: String)
      : (Int, Map[String, Set[String]], String) = {
    val (out, err) =
      (new java.io.ByteArrayOutputStream, new java.io.ByteArrayOutputStream)
    val code = Console.withOut(out)(Console.withErr(err)(
      BenchTrend.run(oldF, newF)))
    val row = """^(REGRESSION|SUSPECT|ADJUDICATED|INBAND|improved|new)\s+(\S+):.*""".r
    val rows = out.toString("UTF-8").linesIterator.collect {
      case row(kind, key) => kind -> key
    }.toSeq.groupMap(_._1)(_._2).map { case (k, v) => k -> v.toSet }
    (code, rows, err.toString("UTF-8"))
  }

  test("BenchTrend main on committed driver files (escaped-tail format)") {
    val (hardCode, hard, _) = trendCli("BENCH_r03.json", "BENCH_r04.json")
    assert(hardCode == 1 && hard("REGRESSION") ==
      Set("a16", "j11", "a6", "a8", "m2", "p6", "x2"), s"$hard")
    assert(!hard.contains("SUSPECT") && hard("new").size == 8)
    val (okCode, ok, _) = trendCli("BENCH_r18.json", "BENCH_r19.json")
    assert(okCode == 0 && !ok.contains("REGRESSION") &&
      ok("SUSPECT") == Set("a15") && ok("ADJUDICATED") == Set("k7"), s"$ok")
    // BENCH_r01.json is a `parsed: null` capture failure
    val (vacCode, vac, err) = trendCli("BENCH_r01.json", "BENCH_r02.json")
    assert(vacCode == 1 && vac.isEmpty && err.contains("vacuous"), err)
  }
}
