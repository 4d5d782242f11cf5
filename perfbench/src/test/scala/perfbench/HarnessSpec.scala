package perfbench

import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {

  private def digest(xs: Seq[Any]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    xs.foreach(x => md.update(x.toString.getBytes("UTF-8")))
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  private def chainDay(seed: Long) =
    Gen.chainDay(seed, 2000, 300, 2, Gen.accounts(seed, 200))

  test("a chain-day generator gives identical inputs for one seed, other inputs for another") {
    val a = chainDay(7); val b = chainDay(7); val c = chainDay(8)
    assert(digest(a.blocks ++ a.traces) == digest(b.blocks ++ b.traces))
    assert(a.expected == b.expected)
    assert(digest(a.blocks ++ a.traces) != digest(c.blocks ++ c.traces))
  }

  test("the analytics-table generator gives identical rows for one seed, other rows for another") {
    def rows(seed: Long) = SfGen.tables(seed, 0.05).flatMap(_.rows)
    assert(digest(rows(3)) == digest(rows(3)))
    assert(digest(rows(3)) != digest(rows(4)))
  }

  test("expected counts come from the generated day: finalized in-day blocks, distinct transfer emits") {
    val cd = chainDay(11)
    val dayEnd = (Gen.DayStart + 86400) * 1000L
    val kept = cd.blocks.filter(b => b.finalized && b.block_time.getTime < dayEnd)
    assert(cd.expected.blocks == kept.size && kept.size == 300)
    assert(cd.blocks.exists(!_.finalized), "no fork candidates generated")
    assert(cd.blocks.exists(_.block_time.getTime >= dayEnd), "no next-day blocks")
    val emits = kept.flatMap(_.extrinsics).map(_.transfers.size).sum
    assert(cd.expected.transfers < emits, "no duplicate transfer emits")
    assert(cd.expected.transfers ==
      kept.flatMap(_.extrinsics).map(_.transfers.distinct.size).sum)
    assert(cd.expected.traces ==
      cd.traces.count(t => t.finalized && t.block_time.getTime < dayEnd))
  }

  test("tail percentile: the highest of p99/p90/p75 with at least ten samples beyond it") {
    assert(Stats.tailPercentile(10).isEmpty)
    assert(Stats.tailPercentile(39).isEmpty)
    assert(Stats.tailPercentile(40).contains(75))
    assert(Stats.tailPercentile(99).contains(75))
    assert(Stats.tailPercentile(100).contains(90))
    assert(Stats.tailPercentile(999).contains(90))
    assert(Stats.tailPercentile(1000).contains(99))
    for (n <- 1 to 400; p <- Stats.tailPercentile(n)) {
      val xs = (1 to n).map(_.toDouble)
      assert(xs.count(_ > Stats.quantile(xs, p / 100.0)) >= 10, s"n=$n p$p")
    }
  }

  test("quantiles interpolate between order statistics") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(1.0, 2.0, 3.0, 4.0)) == 2.5)
    assert(Stats.quantile(Seq(0.0, 10.0), 0.9) == 9.0)
  }

  test("self time subtracts the union of child intervals, clipped to the span") {
    assert(Stats.selfTime(0, 100, Nil) == 100)
    assert(Stats.selfTime(0, 100, Seq((10L, 30L), (50L, 60L))) == 70)
    // overlapping children (pool threads) count once
    assert(Stats.selfTime(0, 100, Seq((10L, 30L), (20L, 40L))) == 70)
    // a child running past the span counts only inside it
    assert(Stats.selfTime(0, 100, Seq((90L, 120L), (-5L, 5L))) == 85)
    assert(Stats.selfTime(0, 100, Seq((0L, 100L), (10L, 20L))) == 0)
  }

  test("every metric name in BENCHMARK.json, and every report name, is [A-Za-z0-9_.-]+ and unique") {
    val spec = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File("../BENCHMARK.json"))
    val names = Seq("end_to_end", "per_layer").flatMap { k =>
      val it = spec.get(k).elements()
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next().get("name").asText()).toSeq
    }
    assert(names.nonEmpty)
    names.foreach(n => assert(Stats.validName(n), n))
    assert(names.distinct.size == names.size)
    assert(!Stats.validName("stage:lsh_pairs"))
    val run = new Run(null, null, 1L, 1, "")
    run.reportLatency("query", "s", (1 to 120).map(_.toDouble))
    run.reportLatency("lookup", "ms", Seq(1.0))
    assert(run.report.keySet == Set("query_p50_s", "query_p90_s", "lookup_p50_ms"))
    run.report.keys.foreach(n => assert(Stats.validName(n), n))
  }
}
