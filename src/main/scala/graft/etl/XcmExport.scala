package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The `xcmtransfers` daily export — matched cross-chain transfers in
  * the reference's origination_* / destination_* shape (ref
  * substrateetl.js:5068 dump_xcm; schema
  * schema/substrateetl/xcmtransfers.json).
  *
  * The reference exports xcmtransfer rows whose matching completed
  * (`incomplete = 0 AND destStatus IN (1,-1) AND xcmInfo IS NOT NULL`,
  * :5075) by re-reading the xcmInfo JSON the matcher stored. Here the
  * matcher output IS a frame, so the export is one inner join of the
  * day's source transfers back to [[XcmMatcher.matchTransfers]]'s
  * winners on the transfer identity — broadcast-free equi join on
  * (extrinsic_id, transfer_index, xcm_index), both sides already
  * day-bounded.
  */
object XcmExport {

  /** chainID → paraID (ref paraTool.js getParaIDfromChainID: Kusama
    * chain ids are paraID + 20000). */
  private def paraId(c: Column): Column =
    when(c >= 20000, c - 20000).otherwise(c)

  /** Project matched transfers into the export shape. `transfers` is
    * the matcher's source side plus origination detail columns
    * (symbol, sender_pub, sent_at); `matched` is
    * [[XcmMatcher.matchTransfers]] output. Execution status mirrors
    * ref substrateetl.js:5094: success when the amount matched exactly
    * or anything was received, else "unknown". */
  def xcmTransfers(transfers: DataFrame, matched: DataFrame,
      logDT: String, usd: Option[Dump.UsdDims] = None): DataFrame = {
    val m = matched
      // the source side re-joins by identity — drop the copies the
      // matcher carried through so no column is ambiguous
      .drop("msg_hash", "chain_id", "chain_id_dest", "amount_sent")
    val joined = transfers
      .join(m, Seq("extrinsic_id", "transfer_index", "xcm_index"))
    // USD valuation (ref xcmtransfers.json price_usd /
    // origination_amount_sent_usd / destination_amount_received_usd;
    // the reference stamps ONE priceUSD per transfer record): as-of at
    // the origination time on the symbol's asset key; without dims it
    // prices against the empty ones, null
    graft.analytics.PriceSeries.withAsOfIntervals(
        joined.withColumn("asset", expr("asset_chain(symbol, chain_id)")),
        usd.getOrElse(Dump.UsdDims.empty(transfers.sparkSession)).index,
        tsCol = "source_ts")
      .select(
        col("symbol"),
        col("price_usd"),
        col("chain_id").as("origination_id"),
        paraId(col("chain_id")).as("origination_para_id"),
        col("source_ts").as("origination_ts"),
        col("extrinsic_id").as("origination_extrinsic_id"),
        col("transfer_index").as("origination_transfer_index"),
        col("xcm_index").as("origination_xcm_index"),
        col("msg_hash").as("origination_msg_hash"),
        col("sender_pub").as("origination_sender_pub_key"),
        expr("ss58_encode(sender_pub, 42)")
          .as("origination_sender_ss58"),
        col("amount_sent").as("origination_amount_sent"),
        (col("amount_sent") * col("price_usd"))
          .as("origination_amount_sent_usd"),
        col("sent_at").as("origination_sent_at"),
        col("chain_id_dest").as("destination_id"),
        paraId(col("chain_id_dest")).as("destination_para_id"),
        col("event_id").as("destination_event_id"),
        col("block_number_dest").as("destination_block_number"),
        col("dest_ts").as("destination_ts"),
        col("amount_received").as("destination_amount_received"),
        (col("amount_received") * col("price_usd"))
          .as("destination_amount_received_usd"),
        col("xcm_teleport_fees").as("destination_teleport_fee"),
        when(col("exact") === 1 || col("amount_received") > 0,
          "success").otherwise("unknown")
          .as("destination_execution_status"),
        col("confidence").as("destination_match_confidence"),
        lit(logDT).as("log_dt"))
  }

  /** The `xcm` (messages) daily export — the second table dump_xcm
    * writes (ref substrateetl.js:5181; schema
    * schema/substrateetl/xcm.json): matched message pairs projected to
    * one row per message with origination/destination para ids, the
    * relay placement (`relayed_at` = source sent_at, `included_at` =
    * dest sent_at) and the source message payload. `messages` is the
    * [[XcmMatcher.matchMessages]] input frame whose OUTGOING rows also
    * carry (msg, msg_type, version); `matched` its output. The join
    * back is on the full source identity (the matcher's perSrc key). */
  def xcmMessages(messages: DataFrame, matched: DataFrame,
      logDT: String): DataFrame = {
    val srcPayload = messages.filter(col("incoming") === 0)
      .select(col("msg_hash"), col("chain_id"), col("chain_id_dest"),
        col("sent_at").as("s_sent_at"),
        col("block_number").as("s_block_number"),
        col("block_ts").as("s_ts"),
        col("msg"), col("msg_type"), col("version"))
    matched
      .join(srcPayload,
        Seq("msg_hash", "chain_id", "chain_id_dest", "s_sent_at",
          "s_block_number"))
      .select(
        col("msg_hash"),
        col("s_ts").as("origination_ts"),
        paraId(col("chain_id")).as("origination_para_id"),
        paraId(col("chain_id_dest")).as("destination_para_id"),
        col("chain_id").as("origination_id"),
        col("chain_id_dest").as("destination_id"),
        col("s_sent_at").as("relayed_at"),
        col("d_sent_at").as("included_at"),
        col("d_block_number").as("destination_block_number"),
        col("msg"), col("msg_type"), col("version"),
        lit(logDT).as("log_dt"))
  }

  /** Run the message matcher and write the `xcm` export as an
    * idempotent date partition next to [[dumpXcmDay]]'s transfers. */
  def dumpXcmMessagesDay(messages: DataFrame, logDT: String,
      outRoot: String): DataFrame =
    Writers.publish(outRoot, Seq("log_dt"), None, Seq("xcm" ->
      xcmMessages(messages, XcmMatcher.matchMessages(messages), logDT)),
      Seq(messages))("xcm")

  /** The Dune hand-off projection of xcmtransfer rows (ref
    * substrateetl.js:526-541 dump_dune_xcmtransfer): exactly five
    * columns — ts, from/to rendered as relay ss58, source and dest
    * chain ids — newest-first. The reference's render guard is
    * `length > 42`: a 32-byte pubkey (0x + 64 hex) encodes with the
    * relay prefix, while an H160 EVM address (0x + 40 hex, length 42)
    * and null pass through verbatim; a malformed long value renders
    * null via the kernel's guard, like paraTool.getAddress throwing
    * out of the row. Row-wise projection — the global sort exists
    * only for the CSV consumer (`order by sourceTS desc`);
    * [[dumpDuneXcmTransfers]] coalesces it to the one file the
    * hand-off contract needs.
    *
    * `transfers` carries (source_ts, from_address, dest_address,
    * chain_id, chain_id_dest) — the xcmtransfer row grain [[dumpXcmDay]]
    * matches and exports. */
  def duneXcmTransfers(transfers: DataFrame,
      ss58Prefix: Int = 0): DataFrame = {
    def render(c: Column): Column =
      when(c.isNotNull && length(c) > 42,
        call_udf("ss58_encode", c, lit(ss58Prefix))).otherwise(c)
    transfers.select(
      col("source_ts").as("ts"),
      render(col("from_address")).as("from_ss58"),
      render(col("dest_address")).as("to_ss58"),
      col("chain_id").as("src_chain_id"),
      col("chain_id_dest").as("dest_chain_id"))
      .orderBy(col("ts").desc)
  }

  /** Write the Dune projection as a headered CSV hand-off (the
    * reference writes one /root/xcmtransfers.csv file). The export is
    * a bounded analytics extract, not a daily partition table — a
    * plain overwrite of the target dir is the file-replace twin, and
    * `coalesce(1)` keeps the single-file contract: without it the
    * sorted write emits one part file PER RANGE PARTITION, each with
    * its own header row, and a consumer concatenating the directory
    * reads stray headers mid-data. The output is still globally
    * newest-first, but note the mechanism: Spark collapses the sort's
    * range exchange UNDER coalesce(1), so the whole global sort runs
    * inside the one write task rather than as parallel range
    * partitions merged in order — acceptable at this export's bounded
    * hand-off size, and the price of the single-file contract. */
  def dumpDuneXcmTransfers(transfers: DataFrame, outDir: String,
      ss58Prefix: Int = 0): DataFrame = {
    val out = duneXcmTransfers(transfers, ss58Prefix)
    out.coalesce(1).write.mode("overwrite")
      .option("header", "true").csv(outDir)
    out
  }

  /** Run the matcher and write the export as an idempotent date
    * partition (ref dump_xcm writes `xcmtransfers-{relay}-{logDT}`
    * into a date-decorated table). */
  def dumpXcmDay(transfers: DataFrame, candidates: DataFrame,
      logDT: String, outRoot: String,
      usd: Option[Dump.UsdDims] = None): DataFrame =
    // the transfer slice feeds BOTH the matcher join and the export
    // re-join: shared, so the (at scale, expensive) source is scanned
    // once, like dumpDay's day
    Writers.publish(outRoot, Seq("log_dt"), None, Seq("xcmtransfers" ->
      xcmTransfers(transfers,
        XcmMatcher.matchTransfers(transfers, candidates), logDT, usd)),
      Seq(transfers))("xcmtransfers")
}
