package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The `blocklog` daily chain-metrics table — the reference's per-day
  * per-chain rollup row (ref substrateetl.js:9440-9508
  * update_blocklog_bulk: count(*), sum(if(signed,1,0)), sum(fee),
  * count(distinct signer), sum(ifnull(amount_usd,0)) over the loaded
  * day tables; stored in MySQL `blocklog` and re-rolled into the
  * chain registry's 7d/30d columns) — composed over the DUMPED entity
  * tables and landed as a date partition like everything else.
  *
  * Every input is one groupBy(chain_id) with map-side combine; the
  * final assembly is a chain-keyed left-join chain off the blocks
  * rollup (blocks exist whenever the day exists). Money sums ride
  * exact decimals rendered as rounded doubles (the repo's
  * determinism contract), so the row is replayable cross-engine. */
object Metrics {

  def blocklogDay(blocks: DataFrame, extrinsics: DataFrame,
      events: DataFrame, transfers: DataFrame,
      active: DataFrame): DataFrame = {
    def dec6(c: org.apache.spark.sql.Column) = c.cast("decimal(38,6)")
    def out(c: org.apache.spark.sql.Column) =
      round(c.cast("double"), 6)
    val b = blocks.groupBy(col("chain_id")).agg(
      count(lit(1)).as("n_blocks"),
      min(col("number")).as("min_block"),
      max(col("number")).as("max_block"))
    val e = extrinsics.groupBy(col("chain_id")).agg(
      count(lit(1)).as("n_extrinsics"),
      sum(col("signed").cast("long")).as("n_signed"),
      countDistinct(when(col("signed"), col("signer_pub_key")))
        .as("n_signers"),
      out(sum(dec6(col("fee")))).as("fees"),
      out(sum(dec6(col("fee_usd")))).as("fees_usd"))
    val ev = events.groupBy(col("chain_id")).agg(
      count(lit(1)).as("n_events"))
    val tr = transfers.groupBy(col("chain_id")).agg(
      count(lit(1)).as("n_transfers"),
      out(sum(dec6(coalesce(col("amount_usd"), lit(0.0)))))
        .as("value_usd"))
    val ac = active.groupBy(col("chain_id")).agg(
      count(lit(1)).as("n_accounts_active"))
    b.join(e, Seq("chain_id"), "left")
      .join(ev, Seq("chain_id"), "left")
      .join(tr, Seq("chain_id"), "left")
      .join(ac, Seq("chain_id"), "left")
  }

  /** Write the day's blocklog rows as an idempotent date partition
    * (the reference upserts one MySQL row per (chain, day)). */
  def dumpBlocklogDay(blocks: DataFrame, extrinsics: DataFrame,
      events: DataFrame, transfers: DataFrame, active: DataFrame,
      logDT: String, outRoot: String): DataFrame =
    Writers.publish(outRoot, Seq("log_dt"), None, Seq("blocklog" ->
      blocklogDay(blocks, extrinsics, events, transfers, active)
        .withColumn("log_dt", lit(logDT))))("blocklog")

  /** `blocklogstats` — the monthly descriptive-stats rollup over the
    * daily blocklog table (ref substrateetl.js:3970-4000
    * dump_substrateetl_polkaholic: per (chainID, last_day(logDT)), for
    * every metric column `round(sum,2)/round(min,2)/round(max,2)/
    * round(avg,2)/stddev`, plus `count(*) days`).
    *
    * Determinism contract: MySQL's sum/avg/stddev over doubles are
    * order-dependent; here every moment comes off EXACT decimal sums
    * (Σx, Σx² as DECIMAL(38,6)) and only then drops to IEEE doubles,
    * so the rounded stats replay bit-equal cross-engine. `stddev` is
    * the POPULATION σ (MySQL's STDDEV): σ = √((Σx² − (Σx)²/n)/n) with
    * n = non-null days (MySQL aggregates skip NULLs), clamped at 0
    * against float cancellation; a metric with no non-null day in the
    * month yields null stats, and n = 1 yields σ = 0 — both MySQL's
    * behavior.
    *
    * One hash aggregation with map-side combine; the group count is
    * chains × months — a dimension, whatever the day volume. */
  def blocklogStats(blocklog: DataFrame,
      metrics: Seq[String]): DataFrame = {
    def dec6(c: org.apache.spark.sql.Column) = c.cast("decimal(38,6)")
    // the square rides DECIMAL(18,6)×DECIMAL(18,6) → scale-12 EXACT in
    // both Spark (37,12) and DuckDB (37,12); at (38,6)² Spark would cap
    // the product back to scale 6 and silently round x². 18,6 bounds
    // each daily metric at |x| < 10¹² — comfortably above any per-day
    // chain stat
    def dec18(c: org.apache.spark.sql.Column) = c.cast("decimal(18,6)")
    val aggs = Seq(count(lit(1)).as("days")) ++ metrics.flatMap { m =>
      val c = col(m)
      val n = count(c).cast("double")
      val sumd = sum(dec6(c)).cast("double")
      val sumsq = sum((dec18(c) * dec18(c)).cast("decimal(38,12)"))
        .cast("double")
      Seq(
        round(sumd, 2).as(s"${m}_sum"),
        round(min(c).cast("double"), 2).as(s"${m}_min"),
        round(max(c).cast("double"), 2).as(s"${m}_max"),
        when(count(c) > 0, round(sumd / n, 2)).as(s"${m}_avg"),
        when(count(c) > 0,
          sqrt(greatest(lit(0.0), (sumsq - sumd * sumd / n) / n)))
          .as(s"${m}_std"))
    }
    blocklog
      .withColumn("month_dt", last_day(col("log_dt").cast("date")))
      .groupBy(col("chain_id"), col("month_dt"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Write the monthly stats as idempotent month partitions (the
    * reference upserts one MySQL row per (chain, month); a re-roll of
    * a month replaces exactly that month). */
  def dumpBlocklogStats(blocklog: DataFrame, metrics: Seq[String],
      outRoot: String): DataFrame =
    Writers.publish(outRoot, Seq("month_dt"), None, Seq("blocklogstats" ->
      blocklogStats(blocklog, metrics)))("blocklogstats")

  /** The `chains` system table — one of the reference's two
    * non-date-partitioned BigQuery tables (substrateetl.js:157-159;
    * dump at :3940-3956: the crawled chain-registry slice, tinyint
    * flags to booleans, ordered by para_id, loaded with `--replace`).
    * `chainReg` columns: para_id, id, chain_name, ss58_prefix, symbol,
    * is_evm INT, is_wasm INT, icon_url, crawling INT. */
  def chainsTable(chainReg: DataFrame): DataFrame =
    chainReg.filter(col("crawling") === 1)
      .select(col("id"), col("chain_name"), col("para_id"),
        col("ss58_prefix"), col("symbol"),
        (col("is_evm") === 1).as("is_evm"),
        (col("is_wasm") === 1).as("is_wasm"),
        col("icon_url"))

  /** Whole-table replace publish (`bq load --replace` with no
    * partition decorator — the system-table contract; specversions,
    * the other non-partitioned table, ships the same way off
    * XcmMatcher.specVersions). */
  def dumpChains(chainReg: DataFrame, outRoot: String): DataFrame =
    Writers.publish(outRoot, Nil, None,
      Seq("chains" -> chainsTable(chainReg)))("chains")

  /** paraID → chainID under a relay (ref paraTool.js
    * getChainIDFromParaIDAndRelayChain — the inverse of
    * [[Contracts.chainDimOf]]'s prefix split): chainID =
    * relayPrefix×10000 + paraID, and the relay itself (paraID 0)
    * keeps its own id {polkadot 0, kusama 2, shibuya 30000,
    * rococo 40000}. Kusama's subsocial renumbering (2101 → 22100) is
    * a DELIBERATE FIX, not reference fidelity: the reference's
    * forward map returns 20000+2101 = 22101 while its inverse
    * (getParaIDfromChainID, paraTool.js:813) keys subsocial as 22100,
    * so its blocklog UPDATE targets a chain id that never exists and
    * silently no-ops for every kusama/2101 day — we renumber forward
    * so the summary lands on the real row. Second (dormant) divergence
    * lane rider: the renumbering makes kusama paras 2100 and 2101 BOTH
    * map to 22100, and [[xcmDailySummary]] groups by the MAPPED id, so
    * a day with traffic on both paras would SUM into one row where the
    * reference's per-paraID UPDATEs last-write-win. Para 2100
    * (subsocial's retired first lease) has no live traffic, so this
    * cannot fire today; if it ever does, group by paraID and map to
    * chain_id after the rollup. Unknown relay names throw
    * at plan time, not silently. */
  def chainIdOfPara(relayChain: String)(
      paraId: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val (prefix, relayId) = relayChain match {
      case "polkadot" => (0, 0)
      case "kusama"   => (2, 2)
      case "shibuya"  => (3, 30000)
      case "rococo"   => (4, 40000)
      case other => throw new IllegalArgumentException(
        s"unknown relay chain: $other")
    }
    when(paraId === 0, lit(relayId))
      .when(lit(prefix) === 2 && paraId === 2101, lit(22100))
      .otherwise(lit(prefix) * 10000 + paraId)
      .cast("int")
  }

  /** `update_xcm_summary` step 1 (ref substrateetl.js:5221-5268): the
    * four per-(day, para) rollups off the published xcmtransfers/xcm
    * tables, merged into ONE summary frame keyed (chain_id, log_dt) —
    * incoming transfers keyed by destination para with the SENT-side
    * USD value, outgoing by origination para with the RECEIVED-side
    * value (the reference's exact, asymmetric column choice), message
    * counts likewise, each `having logDT < today` so the running day
    * never publishes a partial row. Unpriced rows count as 0 USD
    * (`sum(if(usd is Null, 0, usd))`). ONE hash aggregation with
    * map-side combine over the direction-exploded union of the two
    * facts (each fact scanned once, one exchange total — round 18; the
    * old four-rollup + three-full-outer-join shape scanned each fact
    * twice and shuffled seven times); at 100 TB the inputs are the
    * day-pruned published tables, and the output is one row per
    * (chain, day).
    *
    * USD sums ride exact decimals rendered as rounded doubles (the
    * repo determinism contract) — the reference's MySQL float adds
    * are insertion-order-dependent, a bug at scale, not a semantic. */
  def xcmDailySummary(xcmtransfers: DataFrame, xcmMessages: DataFrame,
      relayChain: String, today: String): DataFrame = {
    def dec6(c: org.apache.spark.sql.Column) = c.cast("decimal(38,6)")
    def out(c: org.apache.spark.sql.Column) =
      round(c.cast("double"), 6)
    val chainOf = chainIdOfPara(relayChain) _
    // Round-18 shuffle rework: the old shape ran FOUR per-key rollups
    // (each fact scanned twice — once keyed by destination, once by
    // origination) merged by THREE full-outer joins — 7 exchanges and
    // 4 fact passes. Each fact row instead explodes into its two
    // directed rows (in → destination para with the SENT-side USD,
    // out → origination para with the RECEIVED-side value — the
    // reference's exact, asymmetric column choice preserved), the two
    // sources union, and ONE conditional aggregation produces all six
    // metric columns: one exchange, one pass per fact table. A metric
    // with no rows in a (chain, day) group yields NULL (sum over an
    // empty when-set), exactly the column the old full-outer merge
    // left null — the reference's UPDATE never touches such rows.
    def directed(df: DataFrame, src: String,
        usdIn: org.apache.spark.sql.Column,
        usdOut: org.apache.spark.sql.Column): DataFrame =
      df.withColumn("log_dt",
          graft.operators.dayKey(col("origination_ts")))
        .filter(col("log_dt") < lit(today))
        .select(col("log_dt"), lit(src).as("src"),
          explode(array(
            struct(lit("in").as("dir"),
              chainOf(col("destination_para_id")).as("chain_id"),
              usdIn.as("usd")),
            struct(lit("out").as("dir"),
              chainOf(col("origination_para_id")).as("chain_id"),
              usdOut.as("usd")))).as("x"))
        .select(col("log_dt"), col("x.chain_id").as("chain_id"),
          col("src"), col("x.dir").as("dir"), col("x.usd").as("usd"))
    val nullUsd = lit(null).cast("double")
    val rows = directed(xcmtransfers, "t",
        col("origination_amount_sent_usd").cast("double"),
        col("destination_amount_received_usd").cast("double"))
      .unionByName(directed(xcmMessages, "m", nullUsd, nullUsd))
    def isTf(dir: String) = col("src") === "t" && col("dir") === dir
    def isMsg(dir: String) = col("src") === "m" && col("dir") === dir
    def n(cond: org.apache.spark.sql.Column) = sum(when(cond, 1L))
    def usdSum(cond: org.apache.spark.sql.Column) =
      out(sum(when(cond, dec6(coalesce(col("usd"), lit(0.0))))))
    rows.groupBy(col("log_dt"), col("chain_id")).agg(
      n(isTf("in")).as("num_xcm_transfers_in"),
      usdSum(isTf("in")).as("val_xcm_transfer_incoming_usd"),
      n(isTf("out")).as("num_xcm_transfers_out"),
      usdSum(isTf("out")).as("val_xcm_transfer_outgoing_usd"),
      n(isMsg("in")).as("num_xcm_messages_in"),
      n(isMsg("out")).as("num_xcm_messages_out"))
  }

  /** `update_xcm_summary` step 2: the per-(chain, day) UPDATE of
    * blocklog — a left join keeping every blocklog row; days with no
    * xcm activity keep null summary columns (the reference's UPDATE
    * simply never touches them). */
  def blocklogWithXcm(blocklog: DataFrame,
      summary: DataFrame): DataFrame =
    blocklog.join(summary, Seq("chain_id", "log_dt"), "left")

  /** `update_xcm_summary` step 3 (ref :5271-5320): the 7d/30d/all-time
    * per-chain rollup view off the xcm-decorated blocklog (the
    * reference re-reads MySQL blocklog per range and updates the chain
    * registry columns). `ranges` follows the reference's
    * {7, 30, 99999}-day windows anchored at `asOf`; the range tag
    * renders "7d"/"30d"/"" exactly like the reference's column-suffix
    * scheme. The window is STRICT at the old edge (`log_dt > asOf−r`):
    * MySQL's `logDT >= DATE_SUB(Now(), INTERVAL r DAY)` compares the
    * DATE against a DATETIME cutoff, so the boundary day's midnight
    * value is excluded for any run after 00:00 — the strict form is
    * the reference's behavior at every realistic run time, and unlike
    * the reference it does not drift with the wall clock. Chains with
    * no xcm activity in a window publish ZEROS, not nulls — the
    * reference coerces with `s.num… ? … : 0` before the chain-table
    * upsert (:5285-5288). One scan per range over the already-tiny
    * blocklog. */
  def xcmRangeView(blocklog: DataFrame, asOf: String,
      ranges: Seq[Int] = Seq(7, 30, 99999)): DataFrame = {
    def dec6(c: org.apache.spark.sql.Column) = c.cast("decimal(38,6)")
    def out(c: org.apache.spark.sql.Column) =
      round(c.cast("double"), 6)
    ranges.map { r =>
      val tag = if (r > 9999) "" else s"${r}d"
      blocklog
        .filter(col("log_dt") >
          date_format(date_sub(lit(asOf).cast("date"), r),
            "yyyy-MM-dd"))
        .groupBy(col("chain_id"))
        .agg(
          coalesce(sum(col("num_xcm_transfers_in")).cast("long"),
            lit(0L)).as("num_xcm_transfer_incoming"),
          coalesce(out(sum(dec6(col("val_xcm_transfer_incoming_usd")))),
            lit(0.0)).as("val_xcm_transfer_incoming_usd"),
          coalesce(sum(col("num_xcm_transfers_out")).cast("long"),
            lit(0L)).as("num_xcm_transfer_outgoing"),
          coalesce(out(sum(dec6(col("val_xcm_transfer_outgoing_usd")))),
            lit(0.0)).as("val_xcm_transfer_outgoing_usd"))
        .withColumn("range", lit(tag))
    }.reduce(_.unionByName(_))
  }
}
