package graft.etl

import graft.functions.CallFlatten
import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Reward / crowdloan entity extraction — SURVEY §2.2 P7 (ref
  * indexer.js:3941 processRawFeedRewards, :4018 processRawFeedCrowdLoans;
  * output schemas schema/substrateetl/{stakings,…}.json shapes).
  *
  * The reference walks each extrinsic's event list imperatively, carrying
  * an `era` variable set by the latest `staking.PayoutStarted` (or
  * `dappsStaking.Reward`, astar.js:880) marker and attaching it to every
  * subsequent reward row, skipping zero-value payouts. The raw block
  * already holds each extrinsic's events together, so the walk runs
  * ROW-LOCALLY over the nested extrinsic — no exchange, window,
  * aggregate or join: the era carry is one fill-forward pass over the
  * extrinsic's `event_idx`-sorted marker eras
  * ([[RewardKernels.carryForward]]), O(n) even for a payout batch of
  * thousands of events.
  *
  * Crowdloan rows pair `Contributed` with an optional `MemoUpdated` on
  * the same (extrinsic, account, fund) key — the reference's
  * accountParaID map walk (indexer.js:4022-4055, last write wins,
  * memo-less pairs then take the extrinsic's remarks positionally), run
  * as the same row-local pass ([[RewardKernels.crowdloanPairs]]).
  *
  * The JSON extraction and the `decimal(38,0)`/`bigint` casts are
  * Catalyst expressions; the kernels only walk. Two grains share each
  * rule: the per-extrinsic form ([[extrinsicRewards]],
  * [[extrinsicCrowdloans]] — the dump's nested raw blocks) and the flat
  * form ([[rewardRows]], [[crowdloanRows]] — one row per event with
  * extrinsic identity + `event_idx` ordering + JSON `data`, e.g. an
  * events table re-read from parquet), which groups its input per
  * extrinsic and calls the per-extrinsic form.
  */
object Rewards {

  /** Era-marker value of one event, null for non-markers.
    * `staking.PayoutStarted` carries `eraIndex` (metadata field name) or
    * `era` (reference raw feed name); `dappsStaking.Reward` carries its
    * own `era` inline (astar.js:889). */
  private def markerEra(section: Column, method: Column,
      data: Column): Column =
    when(
      (section === "staking" && method === "PayoutStarted") ||
        (section === "dappsStaking" && method === "Reward"),
      coalesce(
        get_json_object(data, "$.eraIndex"),
        get_json_object(data, "$.era")).cast("long"))

  /** Reward-event predicate — the generic `ChainParser.rewardFilter`
    * (chainparser.js:3898: staking.Rewarded AND staking.Slashed) plus
    * the astar widening, expressed as a Column so it stays inside
    * codegen (the per-chain seam: pass a custom predicate built from the
    * chain's parser when dispatching a specific chain).
    *
    * Slashed rides the predicate like the reference's filter does, but
    * its amount NEGATES in [[extrinsicRewards]] (prepareFeedReward,
    * chainparser.js:4094 `bal = -bal`) and the reference's own
    * zero-payout skip (`value > 0`, indexer.js:3954) then drops every
    * slash row before emit — so the emitted set is unchanged, and the
    * fidelity lives in the path: a per-chain parser that relaxes the
    * positive filter sees slashes flow through with the right sign. */
  def isRewardEvent(section: Column, method: Column): Column =
    (section === "staking" &&
      (method === "Rewarded" || method === "Slashed")) ||
      (section === "dappsStaking" && method === "Reward")

  /** Reward rows of extrinsics given one per row: `extrinsics` holds
    * context columns plus the `events` array, whose structs lead with
    * `event_idx` and carry `section`, `method` and `data`. Emits one row
    * per positive reward (ref indexer.js:3953 "skip the zero payout"):
    * the context columns, the event's fields, the running `era` (null
    * before the extrinsic's first marker), `account_pub` (stash) and
    * `amount_raw`. Reward amounts are u128 raw units → DECIMAL(38,0),
    * exact. `staking.Slashed` amounts negate first (chainparser.js:
    * 4094), so the positive filter drops them exactly like the
    * reference's `value > 0` skip. */
  def extrinsicRewards(extrinsics: DataFrame, events: String): DataFrame = {
    val ctx = extrinsics.columns.toSeq.filterNot(_ == events).map(col)
    val evs = col("_evs")
    val eras = RewardKernels.carryForward(transform(evs, e =>
      markerEra(e("section"), e("method"), e("data"))))
    extrinsics
      .select(ctx :+ sort_array(col(events)).as("_evs"): _*)
      .select(ctx :+ explode(filter(
          zip_with(evs, eras, (e, era) => struct(e.as("ev"), era.as("era"))),
          z => isRewardEvent(z("ev")("section"), z("ev")("method"))))
        .as("_r"): _*)
      .select(ctx ++ Seq(col("_r.ev.*"), col("_r.era")): _*)
      .withColumn("account_pub", coalesce(
        get_json_object(col("data"), "$.stash"),
        get_json_object(col("data"), "$.account")))
      .withColumn("amount_raw",
        coalesce(
          get_json_object(col("data"), "$.amount"),
          get_json_object(col("data"), "$.value"))
          .cast("decimal(38,0)") *
          when(col("section") === "staking" &&
            col("method") === "Slashed", lit(-1)).otherwise(lit(1)))
      .filter(col("amount_raw") > 0)
  }

  /** Crowdloan rows of extrinsics given one per row (ref
    * indexer.js:4018-4055 — the accountParaID map): one row per
    * (extrinsic, account, fund) pairing the last `Contributed` amount
    * with the last `MemoUpdated` memo, in first-event order; last write
    * wins on duplicate emits and a memo-only pair keeps amount 0.
    * `remarks` (optional) names an `array<string>` column of the
    * extrinsic's `system.remark` texts in call order: memo-LESS pairs
    * take them POSITIONALLY, in pair order, leftover pairs keep a null
    * remark (the remarkIndex walk, indexer.js:4043-4055). Emits the
    * context columns plus `account_pub`, `fund_id`, `event_idx` (the
    * pair's first event, bigint), `amount_raw`, `memo`, `remark`. */
  def extrinsicCrowdloans(extrinsics: DataFrame, events: String,
      remarks: Option[String]): DataFrame = {
    val ctx = extrinsics.columns.toSeq
      .filterNot(c => c == events || remarks.contains(c)).map(col)
    val isContribution = (e: Column) => e("method") === "Contributed"
    val cl = transform(
      filter(sort_array(col(events)), e => e("section") === "crowdloan" &&
        e("method").isin("Contributed", "MemoUpdated")),
      e => struct(
        e("event_idx").cast("long").as("event_idx"),
        get_json_object(e("data"), "$.who").as("who"),
        coalesce(
          get_json_object(e("data"), "$.fundIndex"),
          get_json_object(e("data"), "$.paraId")).cast("long").as("fund"),
        isContribution(e).as("contributed"),
        when(isContribution(e), get_json_object(e("data"), "$.amount")
          .cast("decimal(38,0)")).as("amount"),
        when(!isContribution(e), get_json_object(e("data"), "$.memo"))
          .as("memo")))
    val none = array().cast("array<string>")
    val texts = remarks.fold(none)(r => coalesce(col(r), none))
    extrinsics
      .select(ctx :+ explode(RewardKernels.crowdloanPairs(cl, texts))
        .as("_p"): _*)
      .select(ctx :+ col("_p.*"): _*)
      .withColumn("amount_raw",
        coalesce(col("amount_raw"), lit(0).cast("decimal(38,0)")))
  }

  /** `system.remark` texts of each extrinsic's call tree, in
    * call-flatten order — the remark feed of [[extrinsicCrowdloans]]
    * (ref indexer.js:4043-4055). Suppression is DISABLED here:
    * system:remark is noise for the calls table but the payload of the
    * remark-contribution branch. */
  def remarkTexts(params: Column): Column =
    transform(RewardKernels.remarkArgs(params), a =>
      coalesce(get_json_object(a, "$.remark"), a))

  /** [[extrinsicRewards]] over the FLAT event grain: `events` has one
    * row per event with `extrinsicCols`, `event_idx`, `section`,
    * `method`, `data` (and any other per-event columns). Emits the
    * event's original columns plus `era`, `account_pub`, `amount_raw`. */
  def rewardRows(events: DataFrame,
      extrinsicCols: Seq[String]): DataFrame =
    extrinsicRewards(perExtrinsic(events, extrinsicCols), "_evs")
      .select(events.columns.toSeq.map(col) ++
        Seq(col("era"), col("account_pub"), col("amount_raw")): _*)

  /** [[extrinsicCrowdloans]] over the FLAT event grain (see
    * [[rewardRows]]). `remarks` (optional) carries the extrinsics'
    * remark texts as (extrinsicCols…, `remark_idx`, `remark`) rows.
    * Emits `extrinsicCols`, `account_pub`, `fund_id`, `event_idx` (the
    * input's type), `amount_raw`, `memo`, `remark`. */
  def crowdloanRows(events: DataFrame,
      extrinsicCols: Seq[String],
      remarks: Option[DataFrame] = None): DataFrame = {
    val grouped = perExtrinsic(events, extrinsicCols)
    val withRemarks = remarks.fold(grouped)(rm => grouped.join(
      rm.groupBy(extrinsicCols.map(col): _*)
        .agg(sort_array(collect_list(struct(col("remark_idx"),
          col("remark")))).as("_rm"))
        .withColumn("_rm", transform(col("_rm"), r => r("remark"))),
      extrinsicCols, "left"))
    extrinsicCrowdloans(withRemarks, "_evs", remarks.map(_ => "_rm"))
      .select(extrinsicCols.map(col) ++ Seq(col("account_pub"),
        col("fund_id"),
        col("event_idx").cast(events.schema("event_idx").dataType),
        col("amount_raw"), col("memo"), col("remark")): _*)
  }

  /** One row per extrinsic with its events collected as `_evs`
    * (`event_idx` first, so the per-extrinsic sort orders by it). */
  private def perExtrinsic(events: DataFrame,
      extrinsicCols: Seq[String]): DataFrame = {
    val evCols = "event_idx" +: events.columns.toSeq
      .filterNot(c => extrinsicCols.contains(c) || c == "event_idx")
    events.groupBy(extrinsicCols.map(col): _*)
      .agg(collect_list(struct(evCols.map(col): _*)).as("_evs"))
  }
}

/** The row-local walks behind [[Rewards]], called from generated code
  * through `StaticInvoke` (a direct static call inside whole-stage
  * codegen, like [[graft.functions.Udfs]]' kernels). Each is one pass
  * over one extrinsic's arrays. */
object RewardKernels {

  private def invoke(method: String, out: DataType, args: Seq[Column],
      in: Seq[DataType], propagateNull: Boolean = true): Column =
    GraftBridge.column(StaticInvoke(classOf[RewardKernels.type], out,
      method, args.map(GraftBridge.expression), inputTypes = in,
      propagateNull = propagateNull, returnNullable = true))

  /** The running era: each element replaced by the last non-null
    * element at or before it (the reference's mutable `era`). */
  def carryForward(eras: Column): Column =
    invoke("carryForward", ArrayType(LongType), Seq(eras),
      Seq(ArrayType(LongType)))

  def carryForward(eras: ArrayData): ArrayData = {
    val out = new Array[Any](eras.numElements())
    var cur: Any = null
    var i = 0
    while (i < out.length) {
      if (!eras.isNullAt(i)) cur = eras.getLong(i)
      out(i) = cur
      i += 1
    }
    new GenericArrayData(out)
  }

  /** One extrinsic's crowdloan events, `event_idx`-sorted and already
    * extracted (the [[Rewards.extrinsicCrowdloans]] struct). */
  private val ClEvent = new StructType()
    .add("event_idx", LongType).add("who", StringType)
    .add("fund", LongType).add("contributed", BooleanType)
    .add("amount", DecimalType(38, 0)).add("memo", StringType)

  private val ClPair = new StructType()
    .add("event_idx", LongType).add("account_pub", StringType)
    .add("fund_id", LongType).add("amount_raw", DecimalType(38, 0))
    .add("memo", StringType).add("remark", StringType)

  /** The accountParaID map walk: pairs in first-event order, amount
    * and memo last-write-wins, then memo-less pairs take `remarks` in
    * order. Amount stays null when no contribution was seen. */
  def crowdloanPairs(events: Column, remarks: Column): Column =
    invoke("crowdloanPairs", ArrayType(ClPair, containsNull = false),
      Seq(events, remarks), Seq(ArrayType(ClEvent), ArrayType(StringType)))

  def crowdloanPairs(events: ArrayData, remarks: ArrayData): ArrayData = {
    def str(s: UTF8String): UTF8String = if (s == null) null else s.clone()
    val pairs = scala.collection.mutable.LinkedHashMap
      .empty[(UTF8String, Any), Array[Any]]
    var i = 0
    while (i < events.numElements()) {
      val e = events.getStruct(i, ClEvent.length)
      val who = str(e.getUTF8String(1))
      val fund: Any = if (e.isNullAt(2)) null else e.getLong(2)
      val p = pairs.getOrElseUpdate((who, fund),
        Array[Any](e.getLong(0), who, fund, null, null, null))
      if (e.getBoolean(3))
        p(3) = if (e.isNullAt(4)) null else e.getDecimal(4, 38, 0)
      else p(4) = str(e.getUTF8String(5))
      i += 1
    }
    var r = 0
    pairs.valuesIterator.foreach { p =>
      if (p(4) == null && r < remarks.numElements()) {
        p(5) = str(remarks.getUTF8String(r))
        r += 1
      }
    }
    new GenericArrayData(
      pairs.valuesIterator.map(new GenericInternalRow(_)).toArray[Any])
  }

  /** Call args of every `system.remark` in the call tree, unsuppressed
    * ([[Rewards.remarkTexts]]); a null tree has none. */
  def remarkArgs(params: Column): Column =
    invoke("remarkArgs", ArrayType(StringType), Seq(params),
      Seq(StringType), propagateNull = false)

  def remarkArgs(params: UTF8String): ArrayData = new GenericArrayData(
    if (params == null) Array.empty[Any]
    else CallFlatten.flatten(params.toString, None, suppressed = Set.empty)
      .collect { case fc if fc.call_section == "system" &&
          fc.call_method == "remark" => UTF8String.fromString(fc.call_args)
      }.toArray[Any])
}
