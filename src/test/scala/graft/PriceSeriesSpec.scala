package graft

import graft.analytics.PriceSeries
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

/** Golden cases per FIXTURES.md §11: two routers at the same ts with
  * different liquidity (most-liquid tie-break), a missing bucket (as-of
  * must carry the last prior price), OHLCV resampling; and the as-of
  * index probe against the broadcast-interval join it replaced, over
  * generated price logs. */
class PriceSeriesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def ts(s: Long) = new Timestamp(s * 1000L)
  private val H = 3600L

  // 5-min-aligned price log for one asset on one chain
  private lazy val priceLog = Seq(
    // index_ts,    price, liquid, router, low, high, t0vol, t1vol
    (ts(0),        10.0, 1, "rA", 9.5, 10.5, 100.0, 10.0),
    (ts(0),        99.0, 2, "rB", 98.0, 99.5, 1.0, 0.1), // less liquid decoy
    (ts(300),      11.0, 1, "rA", 10.5, 11.5, 50.0, 5.0),
    (ts(3 * H),    20.0, 1, "rA", 19.0, 21.0, 10.0, 1.0)
    // note: hours 1-2 missing entirely (as-of must bridge the gap)
  ).map { case (t, p, lq, r, lo, hi, v0, v1) =>
    ("DOT", 0, t, p, lq, r, lo, hi, v0, v1)
  }.toDF("asset", "chain_id", "index_ts", "price_usd", "liquid",
    "router_asset_chain", "low", "high", "token0_volume", "token1_volume")

  test("most-liquid tie-break keeps min liquid per ts") {
    val out = PriceSeries.mostLiquid(priceLog)
      .filter($"index_ts" === ts(0))
      .select("price_usd", "router_asset_chain").collect()
    assert(out.length == 1)
    assert(out(0).getDouble(0) == 10.0 && out(0).getString(1) == "rA")
  }

  test("hourly OHLCV resample") {
    val out = PriceSeries.resample(PriceSeries.mostLiquid(priceLog), "1 hour")
      .orderBy("bucket_ts").collect()
    assert(out.length == 2) // hour 0 and hour 3; empty hours absent
    val h0 = out(0)
    assert(h0.getAs[Double]("open") == 10.0)
    assert(h0.getAs[Double]("close") == 11.0)
    assert(h0.getAs[Double]("low") == 9.5)
    assert(h0.getAs[Double]("high") == 11.5)
    assert(h0.getAs[Double]("token0_volume") == 150.0)
    assert(h0.getAs[Long]("n_points") == 2)
  }

  test("as-of USD decoration bridges gaps and respects equal-ts prices") {
    val events = Seq(
      ("DOT", 0, ts(300), "e1", 2.0),   // price stamped at same ts → 11
      ("DOT", 0, ts(2 * H), "e2", 3.0), // inside the gap → last = 11
      ("DOT", 0, ts(4 * H), "e3", 1.0), // after hour-3 point → 20
      ("DOT", 1, ts(4 * H), "e4", 1.0)  // other chain: no prices → null
    ).toDF("asset", "chain_id", "ts", "event_id", "amount")
    val index = PriceSeries.asOfIndex(
      PriceSeries.asOfIntervals(PriceSeries.mostLiquid(priceLog)))
    val out = PriceSeries.withAsOfIntervals(events, index, tsCol = "ts")
      .withColumn("amount_usd", $"amount" * $"price_usd")
      .select("event_id", "price_usd", "amount_usd").collect()
      .map(r => r.getString(0) ->
        (Option(r.get(1)), Option(r.get(2)))).toMap
    assert(out("e1") == (Some(11.0), Some(22.0)))
    assert(out("e2") == (Some(11.0), Some(33.0)))
    assert(out("e3") == (Some(20.0), Some(20.0)))
    assert(out("e4") == (None, None))
  }

  // ---- as-of index probe == the broadcast-interval join ----

  /** The interval join `withAsOfIntervals` ran before the probe index:
    * each point's half-open validity interval (`px_until` = the next
    * point's time), then a left broadcast hash join on (asset,
    * chain_id) with the interval as residual. Kept here only as the
    * reference. */
  private def referenceJoin(df: DataFrame, intervals: DataFrame,
      tsCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val iv = intervals.withColumn("px_until", lead(col("index_ts"), 1)
        .over(Window.partitionBy(col("asset"), col("chain_id"))
          .orderBy(col("index_ts"))))
      .select(
      col("asset").as("_px_asset"), col("chain_id").as("_px_chain"),
      col("index_ts").as("_px_from"), col("px_until").as("_px_until"),
      col("price_usd"))
    df.join(broadcast(iv),
        col("asset") === col("_px_asset") &&
          col("chain_id") === col("_px_chain") &&
          col(tsCol) >= col("_px_from") &&
          (col("_px_until").isNull || col(tsCol) < col("_px_until")),
        "left")
      .drop("_px_asset", "_px_chain", "_px_from", "_px_until")
  }

  private val T0 = 1709251200L // 2024-03-01T00:00:00Z

  /** A seeded price log: three series on a 5-min grid with gaps, DOT
    * priced on two chains. Every series gets a duplicate at its first
    * point and a null price; `liquid` adds the most-liquid columns. */
  private def genLog(seed: Long, liquid: Boolean): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val rows = for {
      (asset, chain) <- Seq(("DOT~0", 0), ("DOT~0", 1000), ("ACA~2000", 2000))
      k <- (0 until 40).filter(k => k == 0 || rnd.nextInt(3) > 0)
      copies = if (k == 0 || rnd.nextInt(6) == 0) 2 else 1
      c <- 0 until copies
    } yield {
      val px = if (k == 3 || rnd.nextInt(12) == 0) None
        else Some((rnd.nextInt(900) + 100) / 10.0)
      (asset, chain, ts(T0 + k * 300L), px, rnd.nextInt(3), s"r$c")
    }
    val df = rows.toDF("asset", "chain_id", "index_ts", "price_usd",
      "liquid", "router_asset_chain")
    if (liquid) df else df.drop("liquid", "router_asset_chain")
  }

  /** Facts for every edge: on a point, one second either side of it,
    * before the first point, after the last, an unpriced asset and
    * chain, null asset, chain and time. `tsCol` sits mid-row so column
    * order is checked too. */
  private def genFacts(seed: Long, tsCol: String): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val keys = Seq(("DOT~0", Some(0)), ("DOT~0", Some(1000)),
      ("ACA~2000", Some(2000)), ("DOT~0", Some(2000)), ("KSM~2", Some(2)),
      (null, Some(0)), ("DOT~0", None))
    val offsets = Seq(-600L, -1L, 0L, 1L, 299L, 300L, 40 * 300L) ++
      Seq.fill(20)(rnd.nextInt(42 * 300).toLong - 300L)
    val rows = for (((asset, chain), i) <- keys.zipWithIndex;
        (off, j) <- offsets.zipWithIndex)
      yield (i * 100 + j, asset, chain,
        if (j == 3 && i == 0) None else Some(ts(T0 + off)), j * 1.5)
    rows.toDF("id", "asset", "chain_id", tsCol, "amount")
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("as-of index probe == the broadcast-interval join over generated " +
      "logs: dup points (max and most-liquid), null prices, edges, " +
      "unpriced and null keys, every call-site time column") {
    for (seed <- 1L to 4L; liquid <- Seq(false, true);
         tsCol <- Seq("block_time", "block_timestamp", "source_ts")) {
      val intervals = PriceSeries.asOfIntervals(genLog(seed, liquid))
        .localCheckpoint(true)
      val facts = genFacts(seed, tsCol)
      val got = PriceSeries.withAsOfIntervals(facts,
        PriceSeries.asOfIndex(intervals), tsCol)
      val want = referenceJoin(facts, intervals, tsCol)
      val what = s"seed $seed, liquid $liquid, $tsCol"
      assert(got.columns.toSeq == want.columns.toSeq, what)
      assert(got.schema.map(_.dataType) == want.schema.map(_.dataType), what)
      val (g, w) = (sortedRows(got), sortedRows(want))
      assert(g.length == facts.count(), what)
      assert(g == w, what)
      // the generator reached every branch: priced, null-priced, unpriced
      val px = got.select("price_usd").collect().map(r => Option(r.get(0)))
      assert(px.count(_.isDefined) > 20 && px.count(_.isEmpty) > 20, what)
    }
  }

  test("as-of index probe: a TIMESTAMP_NTZ time column against a " +
      "TIMESTAMP price log, and the point-exact edges") {
    val intervals = PriceSeries.asOfIntervals(genLog(9L, liquid = true))
      .localCheckpoint(true)
    val facts = genFacts(9L, "ts").withColumn("ts", col("ts").cast("timestamp_ntz"))
    val got = PriceSeries.withAsOfIntervals(facts,
      PriceSeries.asOfIndex(intervals), "ts")
    assert(sortedRows(got) == sortedRows(referenceJoin(facts, intervals, "ts")))
    // the 0 s offset sits on the series' first point (k = 0), -1 s
    // before it, and a null time or key never prices
    val byId = got.select("id", "price_usd").collect()
      .map(r => r.getInt(0) -> Option(r.get(1))).toMap
    val first = intervals.filter(col("asset") === "DOT~0" &&
      col("chain_id") === 0 && col("index_ts") === ts(T0))
      .select("price_usd").head().get(0)
    assert(byId(2) == Option(first) && byId(1).isEmpty && byId(3).isEmpty)
    assert((0 until 27).forall(j => byId(500 + j).isEmpty &&
      byId(600 + j).isEmpty))
  }
}
