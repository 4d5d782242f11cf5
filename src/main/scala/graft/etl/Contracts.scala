package graft.etl

import graft.decode.WasmDecode
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import scala.collection.MapView

/** The WASM `contracts` dataset — the three contracts-parachain export
  * tables (ref substrateetl.js:2520-2645 updateContracts composes them
  * from events/calls/state; :2646-2780 dumpContracts publishes; schemas
  * schema/substrateetl/contracts/{contracts,contractscode,
  * contractscall}.json). This is the Astar/Shiden analytics face: which
  * code hashes were stored, which contracts instantiated off them, and
  * every `contracts.call` with its decoded message.
  *
  * Where the reference round-trips MySQL staging tables (wasmCode /
  * contract / contractsCall) built row-at-a-time from BigQuery reads,
  * here each staging table IS a frame built from the already-dumped
  * day tables, and the three exports are projections over broadcast
  * joins of those frames:
  *
  *  - `CodeStored` events (data[0] = code hash) ⋈ extrinsics signer →
  *    [[wasmCodeRows]]; the reference upserts keyed by code hash in
  *    block order, so the LAST store wins — a struct-argmax, not a
  *    window sort.
  *  - `Instantiated` events (data[0] = contract ss58, data[1] =
  *    deployer ss58, the reference's read at substrateetl.js:2556-2559)
  *    latest-per-address ⋈ the contractInfoOf state frame →
  *    [[contractRows]].
  *  - flattened `contracts.call` calls ⋈ extrinsics signer →
  *    [[contractCallRows]]. The reference reads only top-level call
  *    rows and notes its own gap ("not complete because of utility
  *    batch", substrateetl.js:2575); this engine's calls table is
  *    recursively flattened, so batched contract calls are covered by
  *    construction.
  *
  * 100 TB shape: every event/call filter lands on the parquet scan
  * (section/method pushdown) and yields a frame that is tiny relative
  * to the day — the signer enrich therefore semi-prunes the huge
  * extrinsics scan with a broadcast key set and broadcasts the pruned
  * result back, so the big table is never shuffled (the
  * Writers.upsert pattern). Contract-verification columns
  * (contract_name/metadata/status/language/compiler) come from an
  * optional side registry — the reference fills them from uploaded
  * metadata.json files, not from chain data — and export as typed
  * nulls when absent.
  */
object Contracts {

  /** Decimal-or-hex numeric string → decimal string (ref paraTool.js
    * dechexToIntStr); arbitrary precision via the codec's hex path —
    * balances are u128, past `conv`'s 64-bit window. Non-numeric input
    * (e.g. a weights-v2 `{ref_time, proof_size}` object) → null, so
    * callers can apply the reference's `isNumeric ? … : 0` gates. */
  private def intStr = udf { (s: String) =>
    if (s == null) null
    else if (s.matches("[0-9]+")) s
    else if (s.matches("0[xX][0-9a-fA-F]+"))
      BigInt(s.drop(2), 16).toString
    else null
  }

  /** Event-data field access tolerant of BOTH shapes the wild carries:
    * the engine's decode tier emits named-arg objects
    * (MetaDecode ItemDef names), the reference's stored JSON is a
    * positional array (`JSON.parse(r.data)[0]`,
    * substrateetl.js:2533/2556). */
  private def dataField(names: Seq[String], pos: Int): Column =
    coalesce(names.map(n => get_json_object(col("data"), s"$$.$n")) :+
      get_json_object(col("data"), s"$$[$pos]"): _*)

  /** Chain identity for the export tier: chain_id → (id, relay_chain,
    * para_id, ss58_prefix). relay_chain/para_id mirror the reference's
    * id arithmetic exactly (paraTool.js:745 getRelayChainByChainID,
    * :809 getParaIDfromChainID): the relay derives from the
    * chainID/10000 PREFIX (0 polkadot, 2 kusama, 3 shibuya, 4 rococo,
    * else unknown) — not a single ≥20000 threshold, which misread the
    * Kusama relay itself (id 2) as a Polkadot para and 30000/40000
    * chains as Kusama paras with bogus ids; the relay chain ids
    * {0, 2, 30000, 40000, 60000, 80000} carry para_id 0, and subsocial
    * keeps the reference's 22100→2101 renumbering special case. */
  def chainDimOf(chains: DataFrame): DataFrame = {
    val prefix = floor(col("chain_id") / 10000)
    chains.select(
      col("chain_id"),
      col("id"),
      when(col("chain_id") === 0, lit("polkadot"))
        .when(col("chain_id") === 2, lit("kusama"))
        .when(prefix === 0, lit("polkadot"))
        .when(prefix === 2, lit("kusama"))
        .when(prefix === 3, lit("shibuya"))
        .when(prefix === 4, lit("rococo"))
        .otherwise(lit("unknown")).as("relay_chain"),
      when(col("chain_id").isin(0, 2, 30000, 40000, 60000, 80000),
        lit(0))
        .when(col("chain_id") === 22100, lit(2101))
        .otherwise(pmod(col("chain_id"), lit(10000)))
        .cast("int").as("para_id"),
      col("ss58_prefix").cast("int").as("ss58_prefix"))
  }

  /** Enrich a small event/call-derived frame with the extrinsic
    * signer without shuffling the extrinsics table: broadcast the
    * frame's key set, semi-prune the scan, broadcast the pruned
    * signers back. Adds `signer_pub_key`. */
  private def withSigner(small: DataFrame, extrinsics: DataFrame)
      : DataFrame = {
    val keys = small.select(col("chain_id"), col("extrinsic_id"))
      .distinct()
    val signers = extrinsics
      .join(broadcast(keys), Seq("chain_id", "extrinsic_id"),
        "left_semi")
      .select(col("chain_id"), col("extrinsic_id"),
        col("signer_pub_key"))
    small.join(broadcast(signers), Seq("chain_id", "extrinsic_id"),
      "left")
  }

  /** The reference's wasmCode staging table as a frame: one row per
    * (chain_id, code_hash) from `contracts.CodeStored` events, the
    * LAST store winning (the upsert replays in block order,
    * substrateetl.js:2529-2543). `events`/`extrinsics` are the dumped
    * day-table shapes. */
  def wasmCodeRows(events: DataFrame, extrinsics: DataFrame)
      : DataFrame = {
    val stored = events
      .filter(col("section") === "contracts" &&
        col("method") === "CodeStored")
      .select(col("chain_id"),
        dataField(Seq("code_hash", "codeHash"), 0).as("code_hash"),
        col("extrinsic_id"), col("extrinsic_hash"),
        col("block_number"), col("block_time"))
      .filter(col("code_hash").isNotNull)
    withSigner(stored, extrinsics)
      .groupBy(col("chain_id"), col("code_hash"))
      // same-block ties break on the NUMERIC extrinsic id — the string
      // would rank "20-9" above "20-10" (the idKey lesson)
      .agg(max(struct(
        col("block_number"),
        idKey(col("extrinsic_id")).as("ord"),
        col("block_time").as("code_stored_ts"),
        col("extrinsic_id"), col("extrinsic_hash"),
        col("signer_pub_key").as("storer_pub_key"))).as("w"))
      .select(col("chain_id"), col("code_hash"), col("w.*"))
      .drop("ord")
  }

  /** The reference's contract staging table as a frame: the
    * contractInfoOf STATE rows (one per live contract: address, code
    * hash, storage footprint) decorated with the latest `Instantiated`
    * event's deployer/extrinsic identity (substrateetl.js:2477-2496
    * state scan; :2545-2567 event update — data[0] = contract ss58,
    * data[1] = deployer ss58, both normalized to pubkeys).
    *
    * `contractInfo` columns: chain_id, address_pub_key, code_hash,
    * storage_bytes, storage_items, storage_byte_deposit,
    * storage_item_deposit, storage_base_deposit (string-typed, the
    * published schema). A contract whose Instantiated event predates
    * the dump window keeps null instantiate columns — the reference's
    * export then drops it (the `r.blockTS` gate, :2697), which
    * [[contracts]] mirrors. */
  def contractRows(contractInfo: DataFrame, events: DataFrame)
      : DataFrame = {
    val inst = events
      .filter(col("section") === "contracts" &&
        col("method") === "Instantiated")
      .select(col("chain_id"),
        pubkeyOf(dataField(Seq("contract"), 0)).as("address_pub_key"),
        pubkeyOf(dataField(Seq("deployer"), 1)).as("deployer_pub_key"),
        col("extrinsic_id"), col("extrinsic_hash"),
        col("block_number"), col("block_time"))
      .filter(col("address_pub_key").isNotNull)
      .groupBy(col("chain_id"), col("address_pub_key"))
      .agg(max(struct(
        col("block_number").as("block_number_instantiated"),
        idKey(col("extrinsic_id")).as("ord"),
        col("block_time").as("deployed_ts"),
        col("deployer_pub_key"),
        col("extrinsic_id"), col("extrinsic_hash"))).as("w"))
      .select(col("chain_id"), col("address_pub_key"), col("w.*"))
      .drop("ord")
    contractInfo.join(broadcast(inst),
      Seq("chain_id", "address_pub_key"), "left")
  }

  /** The reference's contractsCall staging table as a frame: one row
    * per flattened `contracts.call` (substrateetl.js:2569-2607 —
    * dest/gas_limit/storage_deposit_limit/value out of the call args,
    * caller = the extrinsic signer). Numeric gates mirror the
    * reference exactly: gas_limit only when numeric (weights-v2
    * objects → "0"), storage_deposit_limit only past 4 chars, value
    * through arbitrary-precision dechex. */
  def contractCallRows(calls: DataFrame, extrinsics: DataFrame)
      : DataFrame = {
    val c = calls
      .filter(col("call_section") === "contracts" &&
        col("call_method") === "call")
      .select(col("chain_id"), col("extrinsic_id"),
        col("extrinsic_hash"), col("block_time"), col("block_number"),
        col("block_hash"),
        // dest: the reference's params JSON nests the MultiAddress as
        // {id: ss58}; the engine's flattened call_args renders it as
        // the bare pubkey — accept both
        pubkeyOf(coalesce(
          get_json_object(col("call_args"), "$.dest.id"),
          get_json_object(col("call_args"), "$.dest")))
          .as("address_pub_key"),
        get_json_object(col("call_args"), "$.gas_limit")
          .as("gas_limit_raw"),
        get_json_object(col("call_args"), "$.storage_deposit_limit")
          .as("sdl_raw"),
        get_json_object(col("call_args"), "$.value").as("value_raw"),
        get_json_object(col("call_args"), "$.data").as("data"))
      .filter(col("address_pub_key").isNotNull)
      .withColumn("gas_limit",
        coalesce(intStr(col("gas_limit_raw")), lit("0")))
      .withColumn("storage_deposit_limit",
        // the reference's `length > 4` gate screens its HEX-string
        // shape ("0x…" junk shorter than one meaningful byte); a
        // decimal value from the engine's own decode has no such
        // prefix and must not lose 256-9999 to a hex-calibrated gate
        coalesce(
          when(col("sdl_raw").startsWith("0x"),
            when(length(col("sdl_raw")) > 4, intStr(col("sdl_raw"))))
            .otherwise(intStr(col("sdl_raw"))),
          lit("0")))
      .withColumn("value", coalesce(intStr(col("value_raw")), lit("0")))
      .drop("gas_limit_raw", "sdl_raw", "value_raw")
    withSigner(c, extrinsics)
      .withColumnRenamed("signer_pub_key", "caller_pub_key")
  }

  private val VerifyCols =
    Seq("contract_name", "metadata", "status", "language", "compiler")

  /** Left-decorate with the optional verification registry (chain_id,
    * code_hash, contract_name, metadata, status, language, compiler);
    * absent → typed null columns, so the export schema never varies. */
  private def withVerified(df: DataFrame, verified: Option[DataFrame])
      : DataFrame = verified match {
    case Some(v) =>
      df.join(broadcast(v), Seq("chain_id", "code_hash"), "left")
    case None =>
      VerifyCols.foldLeft(df)(
        (d, c) => d.withColumn(c, lit(null).cast("string")))
  }

  // the ss58_encode kernel is null-propagating, so an unknown pubkey
  // yields a null address without a guard
  private def ss58Of(pub: Column, prefix: Column): Column =
    call_udf("ss58_encode", pub, prefix)

  /** `contractscode` export (schema contracts/contractscode.json):
    * one row per stored code hash with its storer identity. The
    * bytecode column is the state-side wasm blob, which chain-data
    * composition does not carry — it exports null, like the
    * reference's rows before the wasm fetch lands. */
  def contractsCode(wasmCode: DataFrame, chainDim: DataFrame,
      verified: Option[DataFrame] = None): DataFrame =
    withVerified(wasmCode, verified)
      .join(broadcast(chainDim), Seq("chain_id"))
      // the reference drops rows with no stored timestamp (:2744)
      .filter(col("code_stored_ts").isNotNull)
      .select(
        col("relay_chain"), col("id"), col("para_id"),
        col("code_hash"),
        col("extrinsic_id"), col("extrinsic_hash"),
        col("storer_pub_key"),
        ss58Of(col("storer_pub_key"), col("ss58_prefix"))
          .as("storer_ss58"),
        lit(null).cast("string").as("bytecode"),
        col("block_number").cast("long").as("block_number"),
        col("code_stored_ts"),
        col("metadata"), col("status"), col("language"),
        col("compiler"))

  /** `contracts` export (schema contracts/contracts.json): one row per
    * instantiated contract — state footprint ⋈ instantiate identity ⋈
    * its code's store identity. Mirrors the reference's export gates
    * (address present, deployed_ts known, substrateetl.js:2697). */
  def contracts(contractRows: DataFrame, wasmCode: DataFrame,
      chainDim: DataFrame, verified: Option[DataFrame] = None)
      : DataFrame = {
    val code = withVerified(wasmCode, verified)
      .select(Seq(col("chain_id"), col("code_hash"),
        col("block_number").as("block_number_stored"),
        col("storer_pub_key")) ++ VerifyCols.map(col): _*)
    contractRows
      .join(broadcast(code), Seq("chain_id", "code_hash"), "left")
      .join(broadcast(chainDim), Seq("chain_id"))
      .filter(col("deployed_ts").isNotNull)
      .select(
        col("contract_name"),
        col("relay_chain"), col("id"), col("para_id"),
        col("address_pub_key"),
        ss58Of(col("address_pub_key"), col("ss58_prefix"))
          .as("address_ss58"),
        col("deployer_pub_key"),
        ss58Of(col("deployer_pub_key"), col("ss58_prefix"))
          .as("deployer_ss58"),
        col("storer_pub_key"),
        ss58Of(col("storer_pub_key"), col("ss58_prefix"))
          .as("storer_ss58"),
        col("extrinsic_id"), col("extrinsic_hash"),
        col("block_number_stored").cast("string")
          .as("block_number_stored"),
        col("block_number_instantiated").cast("string")
          .as("block_number_instantiated"),
        col("code_hash"),
        lit(null).cast("string").as("constructor"),
        lit(null).cast("string").as("salt"),
        col("deployed_ts"),
        col("storage_bytes"), col("storage_items"),
        col("storage_byte_deposit"), col("storage_item_deposit"),
        col("storage_base_deposit"),
        col("metadata"), col("status"), col("language"),
        col("compiler"))
  }

  /** `contractscall` export (schema contracts/contractscall.json):
    * every `contracts.call` joined to its contract (INNER, like the
    * reference's three-way staging join at :2652 — calls to contracts
    * outside the dim drop) and LEFT-joined to the code identity: the
    * reference's wasmCode comes from a codeStorage STATE scan and is
    * complete, but this composition's wasmCode is event-derived, so a
    * call to a contract whose CodeStored predates the corpus keeps its
    * row with null storer/verify columns instead of vanishing (the
    * same history-gap tolerance [[contracts]] applies). Decode runs
    * against the optional broadcast message registry (code_hash,
    * selector, method, arg_types) via [[WasmDecode.decodeMessages]] —
    * where the reference left decodedCall for an offline ABI pass
    * (:2596-2602), the selector dim makes it part of the export plan.
    *
    * Deliberate divergence: the reference nulls caller_ss58 whenever
    * the DEPLOYER is unknown (`r.deployer ? encodeAddress(r.caller…`,
    * :2674 — reading the wrong guard variable); here caller_ss58
    * encodes whenever the caller is known. */
  def contractsCalls(callRows: DataFrame, contractRows: DataFrame,
      wasmCode: DataFrame, chainDim: DataFrame,
      specs: Option[DataFrame] = None,
      verified: Option[DataFrame] = None): DataFrame = {
    val contractDim = contractRows.select(
      col("chain_id"), col("address_pub_key"), col("code_hash"),
      col("deployer_pub_key"))
    val code = withVerified(wasmCode, verified)
      .select(Seq(col("chain_id"), col("code_hash"),
        col("storer_pub_key")) ++ VerifyCols.map(col): _*)
    val joined = callRows
      .join(broadcast(contractDim),
        Seq("chain_id", "address_pub_key"))
      .join(broadcast(code), Seq("chain_id", "code_hash"), "left")
    val decoded = specs match {
      case Some(sp) =>
        WasmDecode.decodeMessages(joined, sp)
          .withColumn("decoded_call",
            when(col("method").isNotNull,
              to_json(struct(col("method"), col("args")))))
          .drop("selector", "method", "args")
      case None =>
        joined.withColumn("decoded_call", lit(null).cast("string"))
    }
    decoded
      .join(broadcast(chainDim), Seq("chain_id"))
      .select(
        col("contract_name"),
        col("relay_chain"), col("id"), col("para_id"),
        col("address_pub_key"),
        ss58Of(col("address_pub_key"), col("ss58_prefix"))
          .as("address_ss58"),
        col("extrinsic_id"), col("extrinsic_hash"),
        col("block_time").as("block_timestamp"),
        col("block_number").cast("string").as("block_number"),
        col("block_hash"),
        col("code_hash"),
        col("gas_limit"), col("storage_deposit_limit"), col("value"),
        ss58Of(col("caller_pub_key"), col("ss58_prefix"))
          .as("caller_ss58"),
        col("caller_pub_key"),
        col("deployer_pub_key"),
        ss58Of(col("deployer_pub_key"), col("ss58_prefix"))
          .as("deployer_ss58"),
        col("storer_pub_key"),
        ss58Of(col("storer_pub_key"), col("ss58_prefix"))
          .as("storer_ss58"),
        col("decoded_call"),
        col("status"), col("language"), col("compiler"))
  }

  /** Publish all three tables as whole-table replaces (`bq load
    * --replace`, substrateetl.js:2773 — the reference notes they are
    * deliberately NOT date-partitioned). */
  def dumpContracts(events: DataFrame, extrinsics: DataFrame,
      calls: DataFrame, contractInfo: DataFrame, chains: DataFrame,
      outRoot: String, specs: Option[DataFrame] = None,
      verified: Option[DataFrame] = None): MapView[String, DataFrame] = {
    val dim = chainDimOf(chains)
    val code = wasmCodeRows(events, extrinsics)
    val contract = contractRows(contractInfo, events)
    val tables = Map(
      "contractscode" -> contractsCode(code, dim, verified),
      "contracts" -> contracts(contract, code, dim, verified),
      "contractscall" -> contractsCalls(
        contractCallRows(calls, extrinsics), contract, code, dim,
        specs, verified))
    Writers.publish(outRoot, Nil, None, tables, Seq(code, contract))
  }
}
