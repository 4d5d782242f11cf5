package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import scala.collection.MapView

/** The `assets` / `xcmassets` dimension export — the reference's
  * per-relay asset registry tables (builders substrateetl.js:3378
  * xcmgar_assets / :3403 xcmgar_xcmassets; schemas
  * substrate/schema/substrateetl/{assets,xcmassets}.json; the
  * first-match registry lookup substrateetl.js:3363
  * lookup_xcmRegistry_xcmInteriorKey; the v1→v2 interior-key
  * conversion paraTool.js:1345 convertXcmInteriorKeyV1toV2 with
  * encodeNetwork at :1329).
  *
  * Two dimension snapshots, not fact tables: `assets` is each chain's
  * published asset list decorated with the XCM interior key it resolves
  * to in the global registry, and `xcmassets` is the flattened registry
  * itself (one row per cross-chain asset, with the per-chain precompile
  * address map and currency indexes serialized as JSON the way the
  * reference exports them). Both are re-published whole per relay —
  * the write is an idempotent relay_chain-partition overwrite, the
  * dimension twin of the daily dump's log_dt contract.
  *
  * 100 TB shape: the registry is a dimension (thousands of rows), so it
  * broadcasts; the chain asset list joins against it with no shuffle on
  * the big side, and the first-match reduction groups on the asset
  * identity — the join's own key — so AQE coalesces it. Nothing here
  * scales with chain history.
  *
  * Key-conversion fidelity note: the reference's
  * `parseXcmInteriorKeyV1` (paraTool.js:1412) compares the key against
  * `typeof "string"` — i.e. the literal string "string" — so its v1→v2
  * conversion returns null for every real key; the INTENDED semantics
  * are unambiguous from the function-head doc examples
  * (paraTool.js:1342-1344) and `makeXcmInteriorKeyV2`, and that is what
  * this implements.
  */
object Assets {

  /** encodeNetwork (paraTool.js:1329): the two known relays carry
    * `{"network":relay}`; any other network name rides the `named`
    * branch as 0x-prefixed lowercase UTF-8 hex (@polkadot/util
    * stringToHex). Pure string building — codegen'd, no UDF. */
  private def networkJson(relay: Column): Column =
    when(relay.isin("polkadot", "kusama"),
      concat(lit("{\"network\":\""), relay, lit("\"}")))
      .otherwise(concat(lit("{\"named\":\"0x"), lower(hex(relay)),
        lit("\"}")))

  /** convertXcmInteriorKeyV1toV2 (paraTool.js:1345) as a Column: a v1
    * key `<interiorJSON>~<relayChain>` becomes the v2 JSON array
    * `[<network>, ...interior]`:
    *
    *  - `here~polkadot`          → `[{"network":"polkadot"},"here"]`
    *  - `[{...},{...}]~polkadot` → `[{"network":"polkadot"},{...},{...}]`
    *  - `{...}~kusama`           → `[{"network":"kusama"},{...}]`
    *    (makeXcmInteriorKeyV2's non-array push branch)
    *
    * Registry keys are compact JSON.stringify output, so splicing the
    * network element in front of the existing text IS the re-stringify
    * — no parse round-trip needed. A key with no `~` separator is
    * malformed: null out (decode, don't reject). */
  def interiorKeyV2(v1: Column): Column = {
    val interior = substring_index(v1, "~", 1)
    val net = networkJson(substring_index(v1, "~", -1))
    when(v1.isNull || !v1.contains("~"), lit(null).cast("string"))
      .when(interior === "here",
        concat(lit("["), net, lit(",\"here\"]")))
      .when(interior.startsWith("["),
        concat(lit("["), net, lit(","), substr(interior, lit(2),
          lit(Int.MaxValue))))
      .otherwise(concat(lit("["), net, lit(","), interior, lit("]")))
  }

  /** u128-safe integer-string rendering for snapshot pv/kv fields
    * (the reference's dechexToIntStr/toNumWithoutComma keep arbitrary
    * precision as strings): decimal(38,0) normalizes every real
    * amount; a 39-digit u128 (max ~3.4e38) overflows that cast to
    * null, so the raw string text passes through instead — the field
    * must never silently vanish from the JSON. */
  private def intStr(c: String): Column =
    coalesce(col(c).cast("decimal(38,0)").cast("string"),
      col(c).cast("string"))

  /** The registry lookup predicate of
    * lookup_xcmRegistry_xcmInteriorKey (substrateetl.js:3363): a
    * registry row serves a (para_id, symbol) asset when the symbol
    * matches and the chain is the asset's native chain OR appears in
    * the registry row's source list. */
  private def registryMatch(paraId: Column, symbol: Column): Column =
    col("r_symbol") === symbol &&
      (col("r_para_id") === paraId ||
        array_contains(col("r_source"), paraId))

  /** `assets`: the per-chain asset list decorated with the registry's
    * XCM interior key (schema substrateetl/assets.json; builder
    * substrateetl.js:3378 xcmgar_assets).
    *
    * `chainAssets` columns: para_id INT, chain_name, asset (compact
    * JSON), name, symbol, decimals, currency_id (nullable — the schema
    * carries it; chains publishing through the assets/tokens pallets
    * fill it). `registry` is a [[xcmassets]]-shaped frame (see that
    * doc for columns); only its rows for `relayChain` participate,
    * like the reference's per-relay loop.
    *
    * First-match determinism: the reference takes the first registry
    * entry in object-insertion order; a distributed engine has no such
    * order, so the lexicographically-least v1 key wins — deterministic
    * under any partitioning, and identical to the reference whenever
    * the lookup is unambiguous (the overwhelmingly common case: one
    * registry row per (chain, symbol)). */
  def assets(chainAssets: DataFrame, registry: DataFrame,
      relayChain: String): DataFrame = {
    val reg = broadcast(
      registry.filter(col("relay_chain") === relayChain)
        .select(col("para_id").as("r_para_id"),
          col("symbol").as("r_symbol"),
          col("source").as("r_source"),
          col("xcm_interior_key").as("r_key")))
    chainAssets
      .join(reg, registryMatch(col("para_id"), col("symbol")), "left")
      // one asset can match several registry rows — reduce to the
      // deterministic winner on the asset identity (the broadcast
      // join preserved the big side's partitioning, so this is the
      // only exchange in the plan)
      .groupBy(col("para_id"), col("chain_name"), col("asset"),
        col("name"), col("symbol"), col("decimals"), col("currency_id"))
      .agg(min(col("r_key")).as("v1_key"))
      .select(col("para_id"), col("chain_name"), col("asset"),
        col("name"), col("currency_id"), col("symbol"), col("decimals"),
        interiorKeyV2(col("v1_key")).as("xcm_interior_key"),
        // EVM-chain precompile decoration rides xcmassets, not the
        // per-chain list (the reference's assets builder never sets
        // it) — the column exists so the schema matches assets.json
        lit(null).cast("string").as("xc_contract_address"),
        lit(relayChain).as("relay_chain"))
  }

  /** `xcmassets`: the flattened global registry for one relay (schema
    * substrateetl/xcmassets.json; builder substrateetl.js:3403
    * xcmgar_xcmassets).
    *
    * `registry` columns: relay_chain, xcm_interior_key (v1 string),
    * para_id INT, chain_name, symbol, decimals, interior_type,
    * xcm_v1_multilocation_byte, xcm_v1_multilocation (compact JSON),
    * xc_currency_id (compact JSON), confidence INT,
    * source ARRAY<INT>, xc_contract_address MAP<STRING,STRING>
    * (chain-id → precompile H160; empty map = none published).
    *
    * The reference JSON-stringifies source / xc_currency_id /
    * xc_contract_address and drops the contract map when empty
    * (`Object.keys(...).length` guard) — here: to_json + a size()
    * guard, all codegen'd. */
  def xcmassets(registry: DataFrame, relayChain: String): DataFrame =
    registry.filter(col("relay_chain") === relayChain)
      .select(
        interiorKeyV2(col("xcm_interior_key")).as("xcm_interior_key"),
        col("xcm_v1_multilocation_byte"),
        col("xcm_v1_multilocation"),
        col("symbol"), col("decimals"),
        col("para_id"), col("chain_name"),
        col("interior_type"),
        to_json(col("source")).as("source"),
        when(size(col("xc_contract_address")) > 0,
          to_json(col("xc_contract_address")))
          .as("xc_contract_address"),
        col("xc_currency_id"),
        col("confidence"),
        lit(relayChain).as("relay_chain"))

  /** Bridge [[GarRegistry.buildXcmAssets]]'s constructed registry into
    * the [[xcmassets]] export input shape — the build→publish chain the
    * reference runs as gar build → xcmgar dump (substrateetl.js:3403
    * reads the registry the xcm-global-asset-registry job wrote).
    *
    *  - `interior_type` renders gar-style: `here` for the relay's own
    *    asset, else `x<n>` junction arity (the built frame carries the
    *    arity as an INT);
    *  - `xc_currency_id` / `source` export as compact JSON like the
    *    reference's JSON.stringify; the contract-address map stays a
    *    map ([[xcmassets]] applies the empty-map guard);
    *  - the v1 multilocation byte/JSON columns come from the gar
    *    source files, which the build tier does not reconstruct —
    *    `multilocations` threads them through when available
    *    (broadcast: it is keyed by the registry's own key), else null;
    *  - `chain_name` decorates from the (para_id, chain_name) dim.
    */
  def registryFromBuild(built: DataFrame, relayChain: String,
      chainNames: DataFrame,
      multilocations: Option[DataFrame] = None): DataFrame = {
    val ml = multilocations.getOrElse(
      built.sparkSession.emptyDataFrame
        .withColumn("xcm_interior_key", lit(null).cast("string"))
        .withColumn("xcm_v1_multilocation_byte",
          lit(null).cast("string"))
        .withColumn("xcm_v1_multilocation", lit(null).cast("string"))
        .limit(0))
    built
      .join(broadcast(chainNames.select(col("para_id"),
        col("chain_name"))), Seq("para_id"), "left")
      .join(broadcast(ml), Seq("xcm_interior_key"), "left")
      .select(
        lit(relayChain).as("relay_chain"),
        col("xcm_interior_key"),
        col("para_id"), col("chain_name"), col("symbol"),
        col("decimals"),
        when(substring_index(col("xcm_interior_key"), "~", 1) === "here",
          lit("here"))
          .otherwise(concat(lit("x"), col("interior_type")))
          .as("interior_type"),
        col("xcm_v1_multilocation_byte"),
        col("xcm_v1_multilocation"),
        to_json(col("xc_currency_ids")).as("xc_currency_id"),
        col("confidence"),
        col("sources").as("source"),
        col("xc_contract_addresses").as("xc_contract_address"))
  }

  /** Publish both dimension snapshots for one relay as idempotent
    * relay_chain-partition overwrites (the dimension twin of the daily
    * dump's log_dt contract — re-publishing a relay replaces exactly
    * that relay's rows). */
  def dumpAssets(chainAssets: DataFrame, registry: DataFrame,
      relayChain: String, outRoot: String): MapView[String, DataFrame] =
    Writers.publish(outRoot, Seq("relay_chain"), None, Map(
      "assets" -> assets(chainAssets, registry, relayChain),
      "xcmassets" -> xcmassets(registry, relayChain)))

  /** Per-token `totalIssuance` snapshot recs — the shared shape of the
    * per-chain snapshot extractors (ref snapshot/bifrost.js:45-108:
    * balances/tokens.totalIssuance recs with track "asset", kv = the
    * bare storage key, track_val upgraded to the SYMBOL when the asset
    * registry knows the key; astar/hydradx/interlay emit the same
    * rec family). pv carries the raw amount plus, for registry-known
    * assets, the truncate-to-4-fraction-digits humanAmount the
    * reference computes with BN division (floor(raw / 10^(dec-4)) /
    * 1e4 — integer floor, not float division, so partitioning cannot
    * change it).
    *
    * `issuance`: (asset_key JSON-string, raw DECIMAL(38,0));
    * `registry`: broadcast dim (asset_key, name, symbol, decimals). */
  def issuanceSnapshots(issuance: DataFrame, registry: DataFrame,
      sectionStorage: String, chainName: String, source: String,
      blockNumber: Long, blockHash: String, tsSec: Long): DataFrame = {
    val dim = registry.select(col("asset_key"), col("name"),
      col("symbol"), col("decimals").cast("int").as("decimals"))
    // truncate, don't round: Spark decimal division rounds HALF_UP at
    // the result scale, so floor(raw / p) could still round UP across
    // the integer boundary — subtract the remainder first, making the
    // quotient exact. Low-decimal assets keep ALL their fraction
    // digits (kept = min(decimals, 4)); 10^k doubles are exact
    // (2^k·5^k, 5^k < 2^53 for every real chain decimals).
    val kept = least(col("decimals"), lit(4))
    val p = pow(lit(10.0), col("decimals") - kept).cast("decimal(38,0)")
    val joined = issuance
      .join(org.apache.spark.sql.functions.broadcast(dim),
        Seq("asset_key"), "left")
      .withColumn("human_amount",
        when(col("decimals").isNotNull,
          ((col("raw") - pmod(col("raw"), p)) / p)
            .cast("decimal(38,0)").cast("double") /
            pow(lit(10.0), kept)))
      .withColumn("pvj", to_json(struct(
        col("raw"), col("human_amount").as("humanAmount"),
        col("name"), col("symbol"))))
    Snapshot.snapshotRecs(joined, sectionStorage,
      chainName = chainName, source = source,
      blockNumber = blockNumber, blockHash = blockHash, tsSec = tsSec,
      pvJsonCol = Some("pvj"), kvJsonCol = Some("asset_key"),
      track = Some(("asset",
        coalesce(col("symbol"), col("asset_key")))))
  }

  /** AssetHub `asset.asset` registry snapshot recs (ref
    * snapshot/polkadot_assethub.js:44-63): one rec per tracked
    * currency — track "stablecoin", track_val = symbol, kv =
    * {currencyID, symbol}, pv = the registry row's numeric fields.
    * The reference runs every numeric through toNumWithoutComma,
    * which RETURNS A STRING (paraTool.js:423 — split/join), so the
    * published pv values are JSON strings; rendered the same here.
    *
    * `assetState` columns: currency_id STRING, symbol, supply,
    * deposit, min_balance, accounts, sufficients, approvals (any
    * numeric type; cast to the string rendering). One row per asset —
    * a dimension-sized frame, the projection is row-wise. */
  def assetRegistrySnapshots(assetState: DataFrame, chainName: String,
      source: String, blockNumber: Long, blockHash: String,
      tsSec: Long, track: String = "stablecoin"): DataFrame = {
    val s = intStr _
    val shaped = assetState.withColumn("pvj", to_json(struct(
        s("supply").as("supply"), s("deposit").as("deposit"),
        s("min_balance").as("minBalance"), s("accounts").as("accounts"),
        s("sufficients").as("sufficients"),
        s("approvals").as("approvals"))))
      .withColumn("kvj", to_json(struct(
        col("currency_id").as("currencyID"), col("symbol"))))
    Snapshot.snapshotRecs(shaped, "asset.asset",
      chainName = chainName, source = source,
      blockNumber = blockNumber, blockHash = blockHash, tsSec = tsSec,
      pvJsonCol = Some("pvj"), kvJsonCol = Some("kvj"),
      track = Some((track, col("symbol"))))
  }

  /** AssetHub `asset.account` holder snapshot recs with the
    * small-holder rollup (ref snapshot/polkadot_assethub.js:66-137):
    * a holder publishes as its OWN rec when it is a named module
    * account (pubKeyHex2ASCII — para/sibl/modl tags), when the asset
    * is small (registry holder count ≤ `targetMaxHolders`), or when
    * its share of issuance exceeds `minShare`; everything else rolls
    * into one "holders" rec per currency carrying the summed balance
    * and the dropped-holder count. kv keeps the reference's exact
    * key shapes — {name, currencyID, symbol} with name present-but-
    * null on unnamed kept holders (JSON.stringify renders JS null;
    * to_json must not drop it) — and pv {balance, balance_raw}
    * with balance_raw a STRING (toNumWithoutComma/BN.toString).
    *
    * Documented divergence: the reference accumulates the rollup's
    * float `balance` by sequential addition in walk order — order-
    * dependent at the 1e-16 level; here it is the EXACT decimal sum
    * of raw units divided once, deterministic under any partitioning.
    * A rollup whose raw sum exceeds decimal(38,0) publishes explicit
    * JSON nulls for balance/balance_raw (a visible sentinel beside
    * the live `holders` count), never silently dropped fields.
    *
    * 100 TB shape: SINGLE-PASS — one scan, one shuffle. Both output
    * families come out of ONE aggregation keyed on (currency,
    * keep ? address : null): kept holders form singleton groups
    * (their own rec, addressed), dropped holders collapse into the
    * per-currency null-address group (the rollup rec) with map-side
    * combine. No second scan, no cached copy to manage. totals is a
    * dimension (one row per asset): broadcast. `holdings`:
    * currency_id, symbol, decimals INT, address_pubkey (0x hex),
    * balance_raw; `assetState` as in [[assetRegistrySnapshots]]
    * (supply + accounts drive the share and small-asset gates —
    * supply compares as DOUBLE so the gate stays live at u128
    * magnitudes where a decimal(38,0) narrowing would null it). */
  def assetHolderSnapshots(holdings: DataFrame, assetState: DataFrame,
      chainName: String, source: String, blockNumber: Long,
      blockHash: String, tsSec: Long, ss58Prefix: Int = 0,
      targetMaxHolders: Long = 5000, minShare: Double = 0.0025,
      track: String = "stablecoin"): DataFrame = {
    val totals = assetState.select(col("currency_id"),
      col("supply").cast("double").as("t_supply"),
      col("accounts").cast("long").as("t_holders"))
    val noDrop = Map("ignoreNullFields" -> "false")
    val h = holdings.filter(col("balance_raw").isNotNull)
      .join(broadcast(totals), Seq("currency_id"), "left")
      .withColumn("ascii_name",
        call_udf("pubkey_ascii", col("address_pubkey")))
      // share test on raw units — same ratio the reference computes
      // after dividing both sides by 10^decimals. coalesce(false): a
      // currency MISSING from assetState makes both numeric gates
      // NULL, and three-valued logic would drop the holder from BOTH
      // branches — JS undefined comparisons are false, sending it to
      // the rollup, and so does this
      .withColumn("keep", coalesce(col("ascii_name").isNotNull ||
        col("t_holders") <= targetMaxHolders ||
        col("balance_raw").cast("double") >
          col("t_supply") * minShare, lit(false)))
    val grouped = h
      .groupBy(col("currency_id"), col("symbol"), col("decimals"),
        when(col("keep"), col("address_pubkey")).as("addr_key"))
      .agg(
        sum(col("balance_raw").cast("decimal(38,0)"))
          .cast("decimal(38,0)").as("raw_sum"),
        // singleton kept groups keep the RAW text so u128 amounts
        // overflowing the decimal render verbatim (intStr semantics)
        max(col("balance_raw").cast("string")).as("raw_str"),
        max(col("ascii_name")).as("ascii_name"),
        count(lit(1)).as("holders"))
    val isKept = col("addr_key").isNotNull
    val keptRawStr =
      coalesce(col("raw_sum").cast("string"), col("raw_str"))
    val balance = (c: Column) =>
      c.cast("double") / pow(lit(10.0), col("decimals"))
    val shaped = grouped
      .withColumn("kvj", when(isKept,
        to_json(struct(col("ascii_name").as("name"),
          col("currency_id").as("currencyID"), col("symbol")), noDrop))
        .otherwise(to_json(struct(lit("holders").as("name"),
          col("currency_id").as("currencyID"), col("symbol")))))
      .withColumn("pvj", when(isKept,
        to_json(struct(
          balance(coalesce(col("raw_sum").cast("double"),
            col("raw_str").cast("double"))).as("balance"),
          keptRawStr.as("balance_raw"))))
        // noDrop: an overflowed rollup sum renders explicit nulls —
        // the field must never silently vanish from the JSON
        .otherwise(to_json(struct(
          balance(col("raw_sum")).as("balance"),
          col("raw_sum").cast("string").as("balance_raw"),
          col("holders")), noDrop)))
    Snapshot.snapshotRecs(shaped, "asset.account",
      chainName = chainName, source = source,
      blockNumber = blockNumber, blockHash = blockHash,
      tsSec = tsSec, ss58Prefix = ss58Prefix,
      addressCol = Some("addr_key"),
      kvJsonCol = Some("kvj"), pvJsonCol = Some("pvj"),
      track = Some((track, col("symbol"))))
  }

  /** HydraDX-family `tokens.accounts` balance snapshot recs at a
    * NAMED account (ref snapshot/hydradx.js:136-185: the treasury and
    * omnipool walks — paginated_fetch scoped to one address, one rec
    * per held asset). kv = {account, pubKey, asset_id, ticker} with
    * ticker OMITTED when the registry does not know the asset (the
    * reference's `?.symbol` yields JS undefined, which
    * JSON.stringify drops — to_json's default null-dropping matches);
    * pv = {free, reserved, frozen} as integer strings.
    *
    * Documented divergence: the reference normalizes pv through
    * dechexToIntStr only on the OMNIPOOL walk (hydradx.js:175-180);
    * the treasury walk publishes raw `res[1].toJSON()` — JS numbers,
    * or 0x-hex once a u128 exceeds 2^53 (hydradx.js:152). This
    * extractor renders BOTH walks as the exact integer strings: one
    * deterministic typed shape per storage key, no
    * magnitude-dependent number/hex switch.
    *
    * `balances`: address_pubkey, asset_id INT, free/reserved/frozen
    * (numeric); `registry` broadcast dim: asset_id, symbol. The
    * `trackVal` names the walk ("treasury" / "omnipool"). */
  def tokenAccountSnapshots(balances: DataFrame, registry: DataFrame,
      trackVal: String, chainName: String, source: String,
      blockNumber: Long, blockHash: String, tsSec: Long,
      ss58Prefix: Int = 63): DataFrame = {
    val s = intStr _
    val shaped = balances
      .join(broadcast(registry.select(col("asset_id"),
        col("symbol").as("ticker"))), Seq("asset_id"), "left")
      .withColumn("kvj", to_json(struct(
        call_udf("ss58_encode", col("address_pubkey"),
          lit(ss58Prefix)).as("account"),
        col("address_pubkey").as("pubKey"),
        col("asset_id"), col("ticker"))))
      .withColumn("pvj", to_json(struct(s("free").as("free"),
        s("reserved").as("reserved"), s("frozen").as("frozen"))))
    Snapshot.snapshotRecs(shaped, "tokens.accounts",
      chainName = chainName, source = source,
      blockNumber = blockNumber, blockHash = blockHash, tsSec = tsSec,
      ss58Prefix = ss58Prefix, addressCol = Some("address_pubkey"),
      kvJsonCol = Some("kvj"), pvJsonCol = Some("pvj"),
      track = Some(("balance", lit(trackVal))))
  }

  /** HydraDX omnipool liquidity snapshot recs (ref hydradx.js:200-221
    * `omnipool.assets`): one rec per pool asset — track "omniasset",
    * track_val = the asset id, kv = {id, ticker} with id a JSON
    * NUMBER (the reference's `kVal = args[0].toJSON()` of the u32
    * key), pv = the pool-state struct with the u128 fields as
    * dechexToIntStr strings.
    *
    * `poolAssets`: asset_id INT, hub_reserve, shares, protocol_shares,
    * cap (numeric), tradable STRING (the enum rendering). */
  def omnipoolAssetSnapshots(poolAssets: DataFrame, registry: DataFrame,
      chainName: String, source: String, blockNumber: Long,
      blockHash: String, tsSec: Long): DataFrame = {
    val s = intStr _
    val shaped = poolAssets
      .join(broadcast(registry.select(col("asset_id"),
        col("symbol").as("ticker"))), Seq("asset_id"), "left")
      .withColumn("kvj", to_json(struct(
        col("asset_id").as("id"), col("ticker"))))
      .withColumn("pvj", to_json(struct(
        s("hub_reserve").as("hubReserve"), s("shares").as("shares"),
        s("protocol_shares").as("protocolShares"), s("cap").as("cap"),
        col("tradable"))))
    Snapshot.snapshotRecs(shaped, "omnipool.assets",
      chainName = chainName, source = source,
      blockNumber = blockNumber, blockHash = blockHash, tsSec = tsSec,
      kvJsonCol = Some("kvj"), pvJsonCol = Some("pvj"),
      track = Some(("omniasset", col("asset_id"))))
  }

  /** HydraDX omnipool LP-position snapshot recs (ref
    * hydradx.js:223-246 `omnipool.positions`): one rec per NFT
    * position — track "liquidity", track_val = the position's asset,
    * kv = {id, ticker} with id a JSON NUMBER (the position key's
    * toJSON), pv = {assetId, amount, shares, price_1, price_2} —
    * assetId stays the JSON NUMBER toJSON leaves it (only the u128
    * amount/shares/price fields are rewritten to dechexToIntStr
    * strings); the reference splits the price pair and deletes the
    * original array.
    *
    * `positions`: position_id, asset_id INT, amount, shares, price_1,
    * price_2 (numeric u128s → string rendering). */
  def omnipoolPositionSnapshots(positions: DataFrame,
      registry: DataFrame, chainName: String, source: String,
      blockNumber: Long, blockHash: String, tsSec: Long): DataFrame = {
    val s = intStr _
    val shaped = positions
      .join(broadcast(registry.select(col("asset_id"),
        col("symbol").as("ticker"))), Seq("asset_id"), "left")
      .withColumn("kvj", to_json(struct(
        col("position_id").as("id"), col("ticker"))))
      .withColumn("pvj", to_json(struct(
        col("asset_id").as("assetId"),
        s("amount").as("amount"), s("shares").as("shares"),
        s("price_1").as("price_1"), s("price_2").as("price_2"))))
    Snapshot.snapshotRecs(shaped, "omnipool.positions",
      chainName = chainName, source = source,
      blockNumber = blockNumber, blockHash = blockHash, tsSec = tsSec,
      kvJsonCol = Some("kvj"), pvJsonCol = Some("pvj"),
      track = Some(("liquidity", col("asset_id"))))
  }

  /** HydraDX XYK pool snapshot recs (ref hydradx.js:81-133
    * `pools.xyk`): one rec per pool — track "xykpool", address = the
    * pool account, kv = {account, pubKey, shareToken, assetA, assetB}
    * (all strings, the reference's toString renderings), pv =
    * {totalLiquidity, positions: [{assetId, free}, {assetId, free}]}
    * — the two reserve balances in (assetA, assetB) order.
    *
    * `pools`: pool_pubkey (0x hex), share_token, asset_a, asset_b
    * INT, total_liquidity, free_a, free_b (numeric). */
  def xykPoolSnapshots(pools: DataFrame, chainName: String,
      source: String, blockNumber: Long, blockHash: String,
      tsSec: Long, ss58Prefix: Int = 63): DataFrame = {
    val s = intStr _
    def pos(asset: String, free: String) = struct(
      col(asset).cast("string").as("assetId"), s(free).as("free"))
    val shaped = pools
      .withColumn("kvj", to_json(struct(
        call_udf("ss58_encode", col("pool_pubkey"),
          lit(ss58Prefix)).as("account"),
        col("pool_pubkey").as("pubKey"),
        col("share_token").cast("string").as("shareToken"),
        col("asset_a").cast("string").as("assetA"),
        col("asset_b").cast("string").as("assetB"))))
      .withColumn("pvj", to_json(struct(
        s("total_liquidity").as("totalLiquidity"),
        array(pos("asset_a", "free_a"), pos("asset_b", "free_b"))
          .as("positions"))))
    Snapshot.snapshotRecs(shaped, "pools.xyk",
      chainName = chainName, source = source,
      blockNumber = blockNumber, blockHash = blockHash, tsSec = tsSec,
      ss58Prefix = ss58Prefix, addressCol = Some("pool_pubkey"),
      kvJsonCol = Some("kvj"), pvJsonCol = Some("pvj"),
      track = Some(("xykpool", lit(null).cast("string"))))
  }

  /** HydraDX `uniques.asset` NFT-ownership snapshot recs (ref
    * hydradx.js:247-268): one rec per (collection, instance) — track
    * "nft", track_val = the collection id, kv = {id, nft}, pv = the
    * ownership value with the owner's decoded pubkey spliced in and
    * deposit as the dechexToIntStr string.
    *
    * `nfts`: collection_id, nft_id, owner_pubkey (0x hex), deposit
    * (numeric), is_frozen BOOLEAN. */
  def uniquesAssetSnapshots(nfts: DataFrame, chainName: String,
      source: String, blockNumber: Long, blockHash: String,
      tsSec: Long, ss58Prefix: Int = 63): DataFrame = {
    val shaped = nfts
      .withColumn("kvj", to_json(struct(
        col("collection_id").cast("string").as("id"),
        col("nft_id").cast("string").as("nft"))))
      .withColumn("pvj", to_json(struct(
        call_udf("ss58_encode", col("owner_pubkey"), lit(ss58Prefix))
          .as("owner"),
        col("owner_pubkey").as("address_pubkey"),
        intStr("deposit").as("deposit"),
        col("is_frozen").as("isFrozen"))))
    Snapshot.snapshotRecs(shaped, "uniques.asset",
      chainName = chainName, source = source,
      blockNumber = blockNumber, blockHash = blockHash, tsSec = tsSec,
      kvJsonCol = Some("kvj"), pvJsonCol = Some("pvj"),
      track = Some(("nft", col("collection_id"))))
  }

  /** Bifrost `vtokenMinting.tokenPool` liquid-staking pool recs (ref
    * snapshot/bifrost.js:110-132): one rec per registry-KNOWN pool
    * token (the reference `continue`s on registry misses — an inner
    * join) — track "vtoken", track_val = symbol, kv = the bare token
    * key JSON (bifrost keys are token enums like
    * {"vToken":{"Token":"DOT"}}), pv = {raw (string), symbol, name,
    * humanAmount (raw / 10^decimals, the reference's float division)}.
    *
    * `pools`: token_key (compact JSON string), raw (numeric);
    * `registry` broadcast dim: token_key, symbol, name, decimals. */
  def tokenPoolSnapshots(pools: DataFrame, registry: DataFrame,
      chainName: String, source: String, blockNumber: Long,
      blockHash: String, tsSec: Long): DataFrame = {
    val shaped = pools
      .join(broadcast(registry.select(col("token_key"), col("symbol"),
        col("name"), col("decimals").cast("int").as("decimals"))),
        Seq("token_key"))
      .withColumn("pvj", to_json(struct(
        intStr("raw").as("raw"),
        col("symbol"), col("name"),
        (col("raw").cast("double") /
          pow(lit(10.0), col("decimals"))).as("humanAmount"))))
    Snapshot.snapshotRecs(shaped, "vtokenMinting.tokenPool",
      chainName = chainName, source = source,
      blockNumber = blockNumber, blockHash = blockHash, tsSec = tsSec,
      kvJsonCol = Some("token_key"), pvJsonCol = Some("pvj"),
      track = Some(("vtoken", col("symbol"))))
  }
}
