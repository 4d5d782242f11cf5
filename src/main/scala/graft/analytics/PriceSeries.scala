package graft.analytics

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable

/** Price/OHLCV time series + as-of USD valuation — SURVEY M5 (A12, J16,
  * W4, Q6/Q7) on the domain `assetpricelog` schema (FIXTURES.md §11).
  *
  * Scale notes: resampling is a groupBy on (asset, chain_id, bucket),
  * which holds at 10⁹-row price logs because the partition key carries
  * the asset. The as-of USD decoration ([[withAsOfIntervals]]) never
  * moves the facts: each row probes a broadcast [[AsOfIndex]] in
  * O(log points of its series).
  */
object PriceSeries {

  /** Most-liquid price per timestamp (ref query.js:2080-2086: keep the
    * min-`liquid` row per indexTS per asset — W4). */
  def mostLiquid(priceLog: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("asset"), col("chain_id"), col("index_ts"))
      .orderBy(col("liquid"), col("router_asset_chain"))
    priceLog.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
  }

  /** Resample the 5-min log to a coarser bucket with OHLCV semantics
    * (ref query.js:2034-2149: `indexTS % {300,3600,86400} = 0` sampling +
    * OHLCV reader; A12 struct-argmin open/close). */
  def resample(priceLog: DataFrame, bucket: String): DataFrame =
    priceLog
      .groupBy(col("asset"), col("chain_id"),
        window(col("index_ts"), bucket).getField("start").as("bucket_ts"))
      .agg(
        min(struct(col("index_ts"), col("router_asset_chain"),
          col("price_usd"))).getField("price_usd").as("open"),
        max(struct(col("index_ts"), col("router_asset_chain"),
          col("price_usd"))).getField("price_usd").as("close"),
        min(col("low")).as("low"),
        max(col("high")).as("high"),
        sum(col("token0_volume")).as("token0_volume"),
        sum(col("token1_volume")).as("token1_volume"),
        count(lit(1)).as("n_points"))

  /** The price log as as-of points — one row per (asset, chain_id,
    * index_ts), the point's price holding from its `index_ts` until the
    * series' next point (a half-open validity interval; the latest
    * point holds on). Duplicate points at one timestamp resolve by the
    * reference's MOST-LIQUID convention when the log carries the
    * `liquid` column ([[mostLiquid]], ref query.js:2080-2086 — a
    * thin-router outlier must not win), and by max price otherwise (a
    * deterministic tiebreak for bare (asset, chain_id, index_ts,
    * price_usd) slices). [[asOfIndex]] turns them into the probe
    * index. */
  def asOfIntervals(priceLog: DataFrame): DataFrame =
    if (priceLog.columns.contains("liquid"))
      mostLiquid(priceLog)
        .select(col("asset"), col("chain_id"), col("index_ts"),
          col("price_usd"))
    else priceLog
      .groupBy(col("asset"), col("chain_id"), col("index_ts"))
      .agg(max(col("price_usd")).as("price_usd"))

  /** The probe index of an [[asOfIntervals]] dim: the dim is collected
    * once, grouped per (asset, chain_id) into sorted point times and
    * their prices (null prices kept), and broadcast once. Rows with a null asset, chain_id or index_ts are left out:
    * no fact can match them. `index_ts` must be a timestamp (LTZ or
    * NTZ) or a bigint; `chain_id` is read as a bigint and `price_usd`
    * as a double. */
  def asOfIndex(intervals: DataFrame): AsOfIndex = {
    val tsType = intervals.schema("index_ts").dataType
    require(tsType == TimestampType || tsType == TimestampNTZType ||
      tsType == LongType, s"index_ts must be a timestamp, got ${tsType.sql}")
    val toMicros = CatalystTypeConverters.createToCatalystConverter(tsType)
    val points = intervals
      .select(col("asset").cast("string"), col("chain_id").cast("long"),
        col("index_ts"), col("price_usd").cast("double"))
      .where(col("asset").isNotNull && col("chain_id").isNotNull &&
        col("index_ts").isNotNull)
      .collect()
    val series = new AsOfIndex.Series()
    for (((asset, chain), pts) <-
        points.groupBy(r => (r.getString(0), r.getLong(1)))) {
      val sorted = pts.map(r => (toMicros(r.get(2)).asInstanceOf[Long],
        if (r.isNullAt(3)) null
        else java.lang.Double.valueOf(r.getDouble(3))))
        .sortBy(_._1)
      series.computeIfAbsent(UTF8String.fromString(asset),
          _ => mutable.LongMap.empty[AsOfSeries])
        .update(chain, AsOfSeries(sorted.map(_._1), sorted.map(_._2)))
    }
    new AsOfIndex(intervals.sparkSession.sparkContext.broadcast(series),
      tsType, points.length)
  }

  /** Appends `price_usd` to every row of `df`: the price of the last
    * point at or before `tsCol` in the row's (asset, chain_id) series
    * of `index`. It is null when the series does not exist, when the
    * time is before the series' first point, when that point's price is
    * null, or when the row's asset, chain_id or time is null — the
    * half-open interval semantics of the [[asOfIntervals]] dim the index
    * was built from, duplicates already resolved there.
    *
    * Row-local: one `StaticInvoke` of [[AsOfKernels.priceAt]] inside
    * whole-stage codegen, a hash lookup plus a binary search, O(log
    * points) per row. No join, no shuffle, no per-plan broadcast: the
    * index reached the executors once, when it was built. `tsCol` is
    * cast to the index's `index_ts` type (the session runs in UTC, so
    * LTZ and NTZ times compare on the same micros). */
  def withAsOfIntervals(df: DataFrame, index: AsOfIndex,
      tsCol: String = "block_time"): DataFrame = {
    require(!df.columns.contains("price_usd"),
      "frame already carries price_usd — drop or rename it first")
    df.withColumn("price_usd", AsOfKernels.priceAt(index,
      col("asset").cast("string"), col("chain_id").cast("long"),
      col(tsCol).cast(index.tsType)))
  }
}

/** One (asset, chain_id) series of an [[AsOfIndex]]: point times
  * ascending and unique, `price(i)` the price from `ts(i)` on. */
final case class AsOfSeries(ts: Array[Long], price: Array[java.lang.Double])

/** A built as-of price index ([[PriceSeries.asOfIndex]]): the broadcast
  * series per asset and chain, plus the `index_ts` type probes are cast
  * to. Tasks receive this handle with the plan and read the broadcast
  * value once per task. */
final class AsOfIndex(series: Broadcast[AsOfIndex.Series],
    val tsType: DataType, points: Int) extends Serializable {
  @transient private lazy val local = series.value

  def priceAt(asset: UTF8String, chain: Long, ts: Long): java.lang.Double = {
    val byChain = local.get(asset)
    if (byChain == null) return null
    val s = byChain.getOrNull(chain)
    if (s == null) return null
    val i = java.util.Arrays.binarySearch(s.ts, ts)
    val at = if (i >= 0) i else -i - 2 // the last point <= ts
    if (at < 0) null else s.price(at)
  }

  override def toString: String =
    s"AsOfIndex(broadcast ${series.id}, $points points)"
}

object AsOfIndex {
  /** asset → chain_id → series */
  type Series = java.util.HashMap[UTF8String, mutable.LongMap[AsOfSeries]]
}

/** The as-of probe, called from generated code through `StaticInvoke`
  * (like [[graft.etl.RewardKernels]]); null inputs give null without a
  * call. */
object AsOfKernels {

  def priceAt(index: AsOfIndex, asset: Column, chain: Column,
      ts: Column): Column =
    GraftBridge.column(StaticInvoke(classOf[AsOfKernels.type], DoubleType,
      "priceAt", Seq(Literal(index, ObjectType(classOf[AsOfIndex])),
        GraftBridge.expression(asset), GraftBridge.expression(chain),
        GraftBridge.expression(ts)),
      inputTypes = Seq(ObjectType(classOf[AsOfIndex]), StringType,
        LongType, index.tsType),
      returnNullable = true))

  def priceAt(index: AsOfIndex, asset: UTF8String, chain: Long,
      ts: Long): java.lang.Double =
    index.priceAt(asset, chain, ts)
}
