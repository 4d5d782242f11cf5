package graft.etl

import graft.decode.EvmDecode
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.collection.MapView

/** The EVM-side daily export — the reference's `evmtxs` and
  * `evmtransfers` BigQuery tables plus the `accountsevm{active,passive}`
  * account rollups (table registry substrateetl.js:154-155; schemas
  * substrate/schema/substrateetl/{evmtxs,evmtransfers,accountsevmactive,
  * accountsevmpassive}.json; fee decomposition ethTool.js:830-900
  * decorateTxn).
  *
  * Composition, not new decode: the projections are
  * [[graft.decode.EvmDecode]]'s tx⋈receipt merge and ERC-20/721/1155
  * log extractors routed through the same
  * [[Writers.publish]] date-partition contract as the
  * substrate-side dump.
  *
  * 100 TB shape: ONE shuffle joins transactions to receipts on the tx
  * hash; every downstream projection (fee math, log explode, transfer
  * classification) is narrow on that join's output, and the signature
  * registry and price dimensions ride as broadcasts. The 1155
  * batch re-group keys on (tx, log) — the explode's own key — so AQE
  * coalesces it without a second wide exchange.
  */
object EvmDump {

  private val D38 = "decimal(38,0)"

  /** `evmtxs`: transactions ⋈ receipts projected into the reference's
    * evmtxs shape (schema substrateetl/evmtxs.json), with the EIP-1559
    * fee decomposition of ethTool.js:853-861:
    *
    *   fee        = gas_used × gas_price
    *   burned_fee = gas_used × base_fee
    *   txn_saving = (max_fee_per_gas − base_fee) × gas_used
    *
    * where base_fee is the receipt's effective gas price when the tx
    * carries 1559 fields (the reference reads effectiveGasPrice as the
    * inclusion price, ethTool.js:857) and 0 for legacy txs, which
    * zeroes burned_fee and NULLS txn_saving — the reference deletes
    * txnSaving for legacy txs and for negative savings before export
    * (ethTool.js:909-915). A tx with no receipt yet is pending:
    * receipt_* and the fee columns stay null (combineTxReceipt's
    * left-join contract).
    *
    * Money stays exact DECIMAL(38,0) wei — the repo money contract; the
    * reference exports FLOAT ether, a lossy projection a reader can
    * apply at query time.
    *
    * Expected tx columns: chain_id, transaction_hash, nonce,
    * transaction_index, from_address, to_address, value DECIMAL wei,
    * gas, gas_price, max_fee_per_gas / max_priority_fee_per_gas
    * (null ⇒ legacy), transaction_type, input, block_timestamp,
    * block_number, block_hash, extrinsic_id, extrinsic_hash (the
    * ethereum.transact wrapper identity, nullable). Receipt columns:
    * transaction_hash, status, gas_used, cumulative_gas_used,
    * effective_gas_price, contract_address.
    *
    * `signatures`: optional broadcast registry (selector, signature)
    * resolving the 4-byte method_id to a human signature (ref
    * ethTool.js:247-310 selector lists; build one from ABIs with
    * [[graft.decode.AbiDecode.registryFrame]] — its `call` rows keyed
    * by `fingerprint`: `.filter(kind = 'call').select(fingerprint AS
    * selector, signature)`). Selectors COLLIDE across contracts (every
    * ERC-20 defines transfer(address,uint256)), so the registry is
    * reduced to one deterministic row per selector (min signature)
    * before the join — a duplicate-keyed left join would fan every
    * matching transaction out once per duplicate. */
  def evmtxsOf(txs: DataFrame, receipts: DataFrame, logDT: String,
      signatures: Option[DataFrame] = None): DataFrame =
    evmtxsOfCombined(EvmDecode.combineTxReceipt(txs, receipts), logDT,
      signatures)

  /** [[evmtxsOf]] over an already-combined tx⋈receipt frame — the form
    * [[dumpEvmDay]] uses so the day's ONE join is shared with the
    * transfer extraction. */
  private[etl] def evmtxsOfCombined(combined: DataFrame, logDT: String,
      signatures: Option[DataFrame] = None): DataFrame = {
    val is1559 = col("max_priority_fee_per_gas").isNotNull
    val baseFee = when(is1559, col("receipt_effective_gas_price"))
      .otherwise(lit(0)).cast(D38)
    val gasUsed = col("receipt_gas_used").cast(D38)
    val base = combined
      .withColumnRenamed("gas_used", "receipt_gas_used")
      .withColumnRenamed("cumulative_gas_used",
        "receipt_cumulative_gas_used")
      .withColumnRenamed("effective_gas_price",
        "receipt_effective_gas_price")
      .withColumnRenamed("contract_address", "receipt_contract_address")
      .withColumn("fee",
        (gasUsed * col("gas_price").cast(D38)).cast(D38))
      .withColumn("burned_fee", (gasUsed * baseFee).cast(D38))
      // txn_saving exports NULL for legacy txs AND for negative
      // savings (max_fee below the inclusion price), matching the
      // reference's delete-the-field export (ethTool.js:909-915);
      // a pending 1559 tx (gas_used null) also stays null
      .withColumn("txn_saving", {
        val saving =
          ((col("max_fee_per_gas").cast(D38) - baseFee) * gasUsed)
            .cast(D38)
        when(is1559 && saving >= 0, saving)
      })
      // decode, don't reject: a sub-10-char input (plain value send)
      // has no selector — method_id stays null, like the reference's
      // getMethodID miss path
      .withColumn("method_id",
        when(length(col("input")) >= 10, substring(col("input"), 1, 10)))
    val withSig = signatures match {
      case Some(reg) => base.join(
          broadcast(reg
            .groupBy(col("selector").as("method_id"))
            .agg(min(col("signature")).as("signature"))),
          Seq("method_id"), "left")
      case None => base.withColumn("signature", lit(null).cast("string"))
    }
    withSig.select(
      col("chain_id"),
      col("transaction_hash").as("hash"),
      col("nonce"), col("transaction_index"),
      col("from_address"), col("to_address"), col("value"),
      col("gas"), col("gas_price"), col("input"),
      col("receipt_cumulative_gas_used"), col("receipt_gas_used"),
      col("receipt_contract_address"), col("receipt_status"),
      col("block_timestamp"), col("block_number"), col("block_hash"),
      col("max_fee_per_gas"), col("max_priority_fee_per_gas"),
      col("transaction_type"), col("receipt_effective_gas_price"),
      col("fee"), col("txn_saving"), col("burned_fee"),
      col("extrinsic_id"), col("extrinsic_hash"),
      col("method_id"), col("signature"))
      .withColumn("log_dt", lit(logDT))
  }

  /** `evmtransfers`: the union of the three token-transfer families
    * extracted from receipt logs, normalized to the reference's
    * evmtransfers shape (schema substrateetl/evmtransfers.json):
    *
    *  - ERC20  — value carries the raw uint256 amount as the
    *    extractor's UNBOUNDED decimal string (`raw_value_str` —
    *    uint256 exceeds any fixed decimal, so the string column, not
    *    the capped DECIMAL(38,0) twin, is what exports),
    *    token_ids/token_values/operator null;
    *  - ERC721 — the token rides token_ids (a one-element JSON array,
    *    rendered from the unbounded string — ENS-style keccak-derived
    *    ids are ~1e77), value null;
    *  - ERC1155 — operator + pairwise token_ids/token_values JSON
    *    arrays. [[EvmDecode.erc1155Transfers]] normalizes batches to
    *    one row per (id, value) pair; the dump re-groups them per log
    *    with the pair list canonicalized by token_id — numeric order
    *    via the (length, digits) string key, so unbounded ids sort
    *    correctly — deterministic under shuffle, at the cost of not
    *    preserving the emitter's array order (divergence from the
    *    reference, which keeps wire order). The JSON arrays render
    *    unquoted numerals by manual splice (to_json over the string
    *    elements would quote them).
    *
    * value_usd decorates ERC20 rows only, and only when BOTH the price
    * log (asset = token contract address) and the token-decimals
    * dimension are supplied: value_usd = value ÷ 10^decimals ×
    * as-of price (ref assetManager computePriceUSD on xcContract
    * assets). Both dimensions broadcast; unpriced tokens keep null. A
    * missing dimension is an empty one ([[Dump.UsdDims.empty]]), so
    * value_usd exists either way, null. Block/chain metadata rides
    * THROUGH the log explode (the extractors' passthrough columns),
    * not a join back onto the tx frame — no second exchange. */
  def evmtransfersOf(txs: DataFrame, receipts: DataFrame, logDT: String,
      usd: Option[Dump.UsdDims] = None,
      tokenDecimals: Option[DataFrame] = None): DataFrame =
    evmtransfersOfCombined(EvmDecode.combineTxReceipt(txs, receipts),
      logDT, usd, tokenDecimals)

  /** [[evmtransfersOf]] over an already-combined frame (the
    * [[dumpEvmDay]] shared-join form). */
  private[etl] def evmtransfersOfCombined(combined: DataFrame,
      logDT: String, usd: Option[Dump.UsdDims] = None,
      tokenDecimals: Option[DataFrame] = None): DataFrame = {
    val nullStr = lit(null).cast("string")
    val meta = Seq(col("chain_id"), col("block_timestamp"),
      col("block_hash"))
    val erc20 = EvmDecode.erc20Transfers(combined)
      .select(Seq(col("transaction_hash"), col("block_number"),
        col("log_index"), col("token_address"),
        col("from_address"), col("to_address"),
        col("raw_value_str").as("value"),
        col("raw_value"), // decimal twin: value_usd arithmetic below
        nullStr.as("operator"),
        nullStr.as("token_ids"), nullStr.as("token_values"),
        lit("ERC20").as("transfer_type")) ++ meta: _*)
    val erc721 = EvmDecode.erc721Transfers(combined)
      .select(Seq(col("transaction_hash"), col("block_number"),
        col("log_index"), col("token_address"),
        col("from_address"), col("to_address"),
        nullStr.as("value"), lit(null).cast(D38).as("raw_value"),
        nullStr.as("operator"),
        // guarded-null ids render as JSON null — concat would null
        // the whole column, erasing that a transfer happened
        concat(lit("["), coalesce(col("token_id_str"), lit("null")),
          lit("]")).as("token_ids"),
        nullStr.as("token_values"),
        lit("ERC721").as("transfer_type")) ++ meta: _*)
    // numeric sort key for unbounded non-negative decimal strings:
    // longer = bigger, then digit order
    val pairKey = struct(length(col("token_id_str")).as("l"),
      col("token_id_str").as("id"), col("raw_value_str").as("v"))
    val erc1155 = EvmDecode.erc1155Transfers(combined)
      .groupBy(Seq(col("transaction_hash"), col("block_number"),
        col("log_index"), col("token_address"), col("operator"),
        col("from_address"), col("to_address")) ++ meta: _*)
      .agg(sort_array(collect_list(pairKey)).as("pairs"))
      .select(Seq(col("transaction_hash"), col("block_number"),
        col("log_index"), col("token_address"),
        col("from_address"), col("to_address"),
        nullStr.as("value"), lit(null).cast(D38).as("raw_value"),
        col("operator"),
        // coalesce INSIDE the transform: concat_ws silently drops null
        // elements, which would misalign the pairwise arrays when one
        // word of a pair is guarded-null garbage
        concat(lit("["), concat_ws(",",
          expr("transform(pairs, p -> coalesce(p.id, 'null'))")),
          lit("]")).as("token_ids"),
        concat(lit("["), concat_ws(",",
          expr("transform(pairs, p -> coalesce(p.v, 'null'))")),
          lit("]")).as("token_values"),
        lit("ERC1155").as("transfer_type")) ++ meta: _*)
    val unioned = erc20.unionByName(erc721).unionByName(erc1155)
    val spark = combined.sparkSession
    val toks = tokenDecimals.getOrElse(
      Dump.emptyFrame(spark, "token_address string, decimals int"))
    graft.analytics.PriceSeries.withAsOfIntervals(
        unioned.withColumn("asset", col("token_address")),
        usd.getOrElse(Dump.UsdDims.empty(spark)).index,
        tsCol = "block_timestamp")
      .join(broadcast(toks.select(col("token_address"),
        col("decimals"))), Seq("token_address"), "left")
      .withColumn("value_usd",
        when(col("transfer_type") === "ERC20",
          col("raw_value").cast("double") /
            pow(lit(10.0), col("decimals")) * col("price_usd")))
      .select(
        col("chain_id"), col("token_address"),
        col("from_address"), col("to_address"),
        col("value"),
        col("value_usd"), col("operator"),
        col("token_ids"), col("token_values"),
        col("transaction_hash"), col("log_index"),
        col("block_timestamp"), col("block_number"), col("block_hash"),
        col("transfer_type"))
      .withColumn("log_dt", lit(logDT))
  }

  /** Exploded log rows with BOTH indexes: `tx_log_pos` (position in
    * the receipt's own list) and the eth-etl `log_index`, which is
    * BLOCK-scoped — (block_number, log_index) is the uniqueness key
    * eth-etl consumers join on, so a per-tx position would collide
    * across transactions in one block. The receipt struct carries no
    * original index, so the block index is reconstructed as a
    * per-block window over (transaction_index, position) — the
    * partition is one block's logs, bounded by gas however large the
    * chain history gets. */
  private def evmLogRows(combined: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("chain_id"), col("block_number"))
      .orderBy(col("transaction_index"), col("tx_log_pos"))
    combined.select(
      col("chain_id"), col("transaction_hash"),
      col("transaction_index"), col("block_timestamp"),
      col("block_number"), col("block_hash"),
      posexplode(col("logs")).as(Seq("tx_log_pos", "lg")))
      .withColumn("log_index", row_number().over(w) - 1)
  }

  /** `evm.logs` export (schema substrateetl/evm/logs.json — the
    * eth-etl-style flattened log stream): one row per receipt log with
    * tx/block placement, topic0 resolved against an optional broadcast
    * event-signature registry (topic0, signature — deduped to one
    * deterministic row per topic like the evmtxs selector registry).
    * The `events` column (per-log ABI-decoded params JSON) exports
    * null: decoding it needs the per-contract ABI repo
    * (`evm.abirepo`), which is outside the substrate decode path — the
    * transfer families the engine DOES decode land in evmtransfers /
    * token_transfers. Pending txs (null logs) yield no rows: the log
    * stream is mined-only by construction. */
  private[etl] def evmLogsOf(combined: DataFrame, logDT: String,
      chains: Option[DataFrame] = None,
      eventSigs: Option[DataFrame] = None): DataFrame = {
    val lg = evmLogRows(combined)
      .withColumn("topic0", element_at(col("lg.topics"), 1))
    val named = withChainName(lg, chains)
    val sigd = eventSigs match {
      case Some(reg) => named.join(
          broadcast(reg.groupBy(col("topic0"))
            .agg(min(col("signature")).as("signature"))),
          Seq("topic0"), "left")
      case None =>
        named.withColumn("signature", lit(null).cast("string"))
    }
    sigd.select(
      col("chain_id"), col("id"), col("log_index"),
      col("transaction_hash"), col("transaction_index"),
      col("lg.address").as("address"), col("lg.data").as("data"),
      col("lg.topics").as("topics"),
      col("block_timestamp"), col("block_number"), col("block_hash"),
      col("signature"),
      lit(null).cast("string").as("events"))
      .withColumn("log_dt", lit(logDT))
  }

  /** `evm.token_transfers` export (schema substrateetl/evm/
    * token_transfers.json — the eth-etl minimal shape): ERC-20 and
    * ERC-721 Transfer logs normalized to one row each, `value`
    * carrying the amount (20) or the token id (721) as the unbounded
    * decimal string, exactly ethereum-etl's column semantics. The
    * richer multi-family view (1155 batches, USD) is evmtransfers. */
  private[etl] def evmTokenTransfersOf(combined: DataFrame,
      logDT: String, chains: Option[DataFrame] = None): DataFrame = {
    // the extractors' log_index is the per-tx position; rename it and
    // join the block-scoped index off the same exploded frame so
    // logs.log_index and token_transfers.log_index agree row-for-row
    def shape(df: DataFrame, value: org.apache.spark.sql.Column) =
      df.select(col("chain_id"), col("token_address"),
        col("from_address"), col("to_address"), value.as("value"),
        col("transaction_hash"),
        col("log_index").as("tx_log_pos"),
        col("block_timestamp"), col("block_number"), col("block_hash"))
    val unioned = shape(EvmDecode.erc20Transfers(combined),
        col("raw_value_str"))
      .unionByName(shape(EvmDecode.erc721Transfers(combined),
        col("token_id_str")))
    // chain_id rides the join keys: a combined multi-chain frame can
    // carry the SAME tx hash on two chains (pre-EIP-155 legacy txs
    // replay across sibling chains), and a (hash, pos)-only join would
    // fan those rows out with the other chain's log_index
    val blockIdx = evmLogRows(combined)
      .select(col("chain_id"), col("transaction_hash"),
        col("tx_log_pos"), col("log_index"))
    withChainName(
        unioned.join(blockIdx,
          Seq("chain_id", "transaction_hash", "tx_log_pos")),
        chains)
      .select(col("chain_id"), col("id"), col("token_address"),
        col("from_address"), col("to_address"), col("value"),
        col("transaction_hash"), col("log_index"),
        col("block_timestamp"), col("block_number"), col("block_hash"))
      .withColumn("log_dt", lit(logDT))
  }

  /** The eth-etl `id` chain-name column off an optional broadcast
    * (chain_id, id) dim; absent → typed null. */
  private def withChainName(df: DataFrame,
      chains: Option[DataFrame]): DataFrame = chains match {
    case Some(c) => df.join(
        broadcast(c.select(col("chain_id"), col("id"))),
        Seq("chain_id"), "left")
    case None => df.withColumn("id", lit(null).cast("string"))
  }

  /** `evm.transactions` export (schema substrateetl/evm/
    * transactions.json — the eth-etl transaction stream): the evmtxs
    * projection re-shaped to the standalone dataset's contract —
    * substrate extrinsic identity dropped, the `id` chain name joined
    * (broadcast dim), and the three fee columns re-scaled from wei to
    * ETHER as FLOATs (the schema's "in ether, 10^18"): one
    * decimal→double cast and ONE IEEE division by 1e18. Realistic
    * fees DO exceed 2^53 wei (1M gas × 100 gwei = 1e17), so the cast
    * itself rounds — the bit-identical property holds because both
    * paths (our cast and a consumer's `receipt_gas_used × gas_price`)
    * round the SAME exact integer product to double exactly once,
    * then divide by the same 1e18, landing on the same IEEE value.
    * `decoded` = the selector registry resolved a signature (the only
    * input-decode tier the substrate path carries); `params` exports
    * null like logs.events (per-tx ABI decode needs the abirepo) and
    * `receipt_root` / `access_list` export null — substrate EVM
    * receipts are post-Byzantium (status, not state root) and the
    * decoded tx struct does not surface EIP-2930 access lists. Row
    * pass-through otherwise: no shuffle beyond the shared tx⋈receipt
    * join. */
  private[etl] def evmTransactionsOf(combined: DataFrame,
      logDT: String, chains: Option[DataFrame] = None,
      signatures: Option[DataFrame] = None): DataFrame = {
    def ether(c: org.apache.spark.sql.Column) =
      c.cast("double") / lit(1.0e18)
    val nullStr = lit(null).cast("string")
    // the standalone dataset's tx frame carries NO substrate extrinsic
    // identity (this export exists to drop it) — null-fill the two
    // columns the shared evmtxs projection passes through, so a pure
    // eth-etl input is valid here while the substrate-face dump stays
    // strict
    val withExt = Seq("extrinsic_id", "extrinsic_hash")
      .foldLeft(combined)((df, c) =>
        if (df.columns.contains(c)) df
        else df.withColumn(c, lit(null).cast("string")))
    withChainName(evmtxsOfCombined(withExt, logDT, signatures), chains)
      .select(
        col("chain_id"), col("id"), col("hash"),
        col("nonce"), col("transaction_index"),
        col("from_address"), col("to_address"), col("value"),
        col("gas"), col("gas_price"), col("input"),
        col("receipt_cumulative_gas_used"), col("receipt_gas_used"),
        col("receipt_contract_address"),
        nullStr.as("receipt_root"),
        col("receipt_status"),
        col("block_timestamp"), col("block_number"), col("block_hash"),
        col("max_fee_per_gas"), col("max_priority_fee_per_gas"),
        col("transaction_type"), col("receipt_effective_gas_price"),
        ether(col("fee")).as("fee"),
        ether(col("txn_saving")).as("txn_saving"),
        ether(col("burned_fee")).as("burned_fee"),
        col("signature").isNotNull.as("decoded"),
        col("method_id"), col("signature"),
        nullStr.as("access_list"), nullStr.as("params"),
        col("log_dt"))
  }

  /** The composable slice of the standalone `evm.*` dataset family
    * (schemas substrateetl/evm/): `transactions` + `logs` +
    * `token_transfers` as idempotent date partitions off the SAME one
    * tx⋈receipt join the substrate-face dump uses. The rest of the
    * family is a documented scope decision (docs/COVERAGE.md):
    * `blocks`/`tokens`/`contracts`/`traces`/`abirepo` need inputs the
    * substrate decode path does not carry (RPC headers, eth_call state
    * reads, bytecode, debug traces, a curated ABI registry).
    * `eventSigs` resolves log topic0 (event signatures); `signatures`
    * resolves the 4-byte tx selector (call signatures) — the same two
    * registries the substrate-face dump uses. */
  def dumpEvmDataset(txs: DataFrame, receipts: DataFrame,
      logDT: String, outRoot: String,
      chains: Option[DataFrame] = None,
      eventSigs: Option[DataFrame] = None,
      signatures: Option[DataFrame] = None): MapView[String, DataFrame] = {
    require(receipts.columns.contains("logs"),
      "dumpEvmDataset needs receipt logs — both tables project them")
    val combined = EvmDecode.combineTxReceipt(txs, receipts)
    val tables = Map(
      "transactions" -> evmTransactionsOf(combined, logDT, chains,
        signatures),
      "logs" -> evmLogsOf(combined, logDT, chains, eventSigs),
      "token_transfers" -> evmTokenTransfersOf(combined, logDT, chains))
    Writers.publish(outRoot, Seq("log_dt"), None, tables, Seq(combined))
  }

  /** The day's two projections off ONE combined frame — the single
    * source of truth both the batch and streaming writers consume, so
    * a third table (or a changed projection argument) cannot silently
    * diverge the pair the parity spec pins. */
  private def evmProjections(combined: DataFrame, logDT: String,
      usd: Option[Dump.UsdDims], tokenDecimals: Option[DataFrame],
      signatures: Option[DataFrame]): Map[String, DataFrame] = Map(
    "evmtxs" -> evmtxsOfCombined(combined, logDT, signatures),
    "evmtransfers" -> evmtransfersOfCombined(combined, logDT, usd,
      tokenDecimals))

  /** Write the day's two EVM tables as idempotent date partitions. */
  def dumpEvmDay(txs: DataFrame, receipts: DataFrame, logDT: String,
      outRoot: String, usd: Option[Dump.UsdDims] = None,
      tokenDecimals: Option[DataFrame] = None,
      signatures: Option[DataFrame] = None): MapView[String, DataFrame] = {
    // a receipts frame without logs would null the column through
    // combineTxReceipt's slim-frame tolerance and write an EMPTY
    // evmtransfers partition with no error — the day dump demands the
    // column (the evmtxs-only path, evmtxsOf, stays lenient)
    require(receipts.columns.contains("logs"),
      "dumpEvmDay needs receipt logs — a logs-less frame would " +
        "silently export an empty evmtransfers table")
    // ONE tx⋈receipt join for the day, shared by the two writes — the
    // evmtxs projection and the transfer extraction both consume it
    // (the header's shuffle claim, made true structurally)
    val combined = EvmDecode.combineTxReceipt(txs, receipts)
    val tables =
      evmProjections(combined, logDT, usd, tokenDecimals, signatures)
    Writers.publish(outRoot, Seq("log_dt"), None, tables, Seq(combined))
  }

  /** Streaming twin of [[dumpEvmDay]] for `foreachBatch`: the realtime
    * indexer merges each transaction with its receipt AT INDEX TIME,
    * per block (ref ethTool.js:830 decorateTxn — there is no separate
    * receipt stream), so the micro-batch is ONE row per tx with the
    * receipt nested as a struct (null = pending), projected row-locally
    * by [[EvmDecode.combineNested]] — NO join: a split-and-rejoin on
    * the hash would fan one receipt across a pending re-emission of
    * the same tx, and it costs an exchange on every trigger. The
    * projections are the same [[evmProjections]] the batch dump uses,
    * published through the same call under the micro-batch rule of
    * [[Writers.publish]], so a replayed batch replaces its own
    * partition. A re-emitted tx (pending in one batch, mined in a later
    * one) is one row per emission — dedupe at read with the Q9
    * latest-per-key pattern, the realtime-table semantics.
    *
    * `receipt` struct fields: status, gas_used, cumulative_gas_used,
    * effective_gas_price, contract_address, logs. */
  def dumpEvmMicroBatch(txsWithReceipt: DataFrame, batchId: Long,
      logDT: String, outRoot: String,
      usd: Option[Dump.UsdDims] = None,
      tokenDecimals: Option[DataFrame] = None,
      signatures: Option[DataFrame] = None): Unit = {
    val combined = EvmDecode.combineNested(txsWithReceipt)
    Writers.publish(outRoot, Seq("log_dt"), Some(batchId),
      evmProjections(combined, logDT, usd, tokenDecimals, signatures),
      Seq(combined))
  }

  /** The EVM account rollups over the dumped tables (schemas
    * substrateetl/accountsevm{active,passive}.json):
    *
    *  - `accountsevmactive` — one row per sender seen in evmtxs that
    *    day: (from_address, ts = latest send, transaction_count);
    *  - `accountsevmpassive` — addresses TOUCHED by a token transfer
    *    (the recipient side of evmtransfers) that did not themselves
    *    transact: (para_id, relay_chain, address, ts = latest touch),
    *    the EVM twin of the substrate accountspassive anti-join
    *    (Accounts.passiveAccounts).
    *
    * One aggregation each plus one anti-join; the active set rides the
    * join as a plain shuffle keyed by address (it is same-order-of-
    * magnitude as the passive side, so no broadcast assumption). */
  def dumpEvmAccountsDay(evmtxs: DataFrame, evmtransfers: DataFrame,
      paraId: String, relayChain: String, logDT: String,
      outRoot: String): MapView[String, DataFrame] = {
    val active = evmtxs
      .groupBy(col("from_address"))
      .agg(max(col("block_timestamp")).as("ts"),
        count(lit(1)).as("transaction_count"))
    val passive = evmtransfers
      .filter(col("to_address").isNotNull)
      .groupBy(col("to_address").as("address"))
      .agg(max(col("block_timestamp")).as("ts"))
      .join(active.select(col("from_address").as("address")),
        Seq("address"), "left_anti")
      .select(lit(paraId).as("para_id"),
        lit(relayChain).as("relay_chain"), col("address"), col("ts"))
    val tables = Map("accountsevmactive" -> active,
      "accountsevmpassive" -> passive)
      .map { case (name, df) => name -> df.withColumn("log_dt", lit(logDT)) }
    Writers.publish(outRoot, Seq("log_dt"), None, tables)
  }
}
