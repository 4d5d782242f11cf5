package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The `stakings` daily entity table — per-era validator/nominator/pool
  * storage state in the reference's export shape (ref
  * schema/substrateetl/stakings.json; docs/StakingAnalytics.md:5-14;
  * dump at substrateetl.js:7500 cpDailyStakingToGS).
  *
  * The reference walks live storage at each era boundary with paged
  * RPC reads (perPagelimit=1000, substrateetl.js:7602) and writes one
  * file per (chain, era). Spark-first, per-era state is a SNAPSHOT
  * question over the staking pallet's storage-update stream — exactly
  * [[Snapshot.stateSeries]] with the era-end blocks as the grid: one
  * key shuffle with map-side combine, fan-out bounded by #eras, never
  * by update volume (the right 100 TB shape — a year of eras is a few
  * hundred grid points).
  *
  * Input `updates` grain: one row per storage write with
  * (chain_id, number, storage, address_pubkey) + the nullable value
  * columns of [[Stakings.ValueCols]] (only the columns the row's
  * storage kind carries are non-null, like the reference's sparse
  * export rows). `storage` uses the reference discriminators:
  * ErasStakers / Nominators / PoolMembers / BondedPools — the same
  * frame [[graft.analytics.StakingAnalytics]] consumes.
  */
object Stakings {

  /** The sparse per-kind value columns of the stakings shape (subset of
    * stakings.json the analytics tier reads; `targets` is the
    * Nominators JSON array string UNNESTed by nominatorEdges). */
  val ValueCols: Seq[String] = Seq(
    "validator_total", "validator_own", "validator_commission",
    "validator_reward_points", "member_bonded",
    "nominationpools_id", "nominationpools_total",
    "nominationpools_commission", "targets")

  /** Per-era state rows: for every era (era, end_block), the latest
    * storage value per (chain, storage, address) at-or-before the era
    * end — one [[Snapshot.stateSeries]] pass over the whole era grid,
    * then the era ids attach via a broadcast of the (tiny) era
    * dimension. `pv` carries the value struct as JSON like the
    * reference's pv column; `number` is the as-of update block. */
  def stakingsAtEras(updates: DataFrame,
      eraEnds: Seq[(Long, Long)]): DataFrame = {
    require(eraEnds.nonEmpty, "need at least one (era, endBlock)")
    val spark = updates.sparkSession
    import spark.implicits._
    val eraDim = eraEnds.toDF("era", "snapshot_at")
    val st = Snapshot.stateSeries(updates,
      keyCols = Seq("chain_id", "storage", "address_pubkey"),
      ordCol = "number",
      grid = eraEnds.map(_._2).sorted,
      valueCols = ValueCols)
    st.join(broadcast(eraDim), Seq("snapshot_at"))
      .withColumn("pv", to_json(struct(ValueCols.map(col): _*)))
      .select(Seq(col("chain_id"), col("era"), col("storage"),
        col("address_pubkey"), col("number").as("block_number")) ++
        ValueCols.map(col) ++
        Seq(col("pv"), col("snapshot_at").as("era_end_block")): _*)
  }

  /** The chain-level `stakings.info` SNAPSHOT rec in the published
    * snapshots shape (ref snapshot/polkadot.js:395-412: one rec per
    * era with {era, totalStaked, totalValidators, nominators, pools,
    * poolMembers} in the pv, track = era): ONE aggregation pass over a
    * [[stakingsAtEras]] era slice — the same per-kind counting the
    * reference does with separate paginated state reads. Sums cast to
    * decimal BEFORE aggregating (a double sum over planck-scale totals
    * is lossy past 2^53 AND partition-order dependent — it would break
    * the deterministic-pv contract); the aggregation groups on
    * chain_id, so a multi-chain table yields no cross-chain merge and
    * an era with no rows yields NO rec (the reference emits nothing
    * where there is no state). Per-chain invocation is the contract,
    * like the reference's per-chain snapshotter — `chainName` labels
    * every emitted rec.
    *
    * `eraStartBlock`: the stakings table carries state FORWARD across
    * eras (the b4 carry-forward contract), but on-chain ErasStakers /
    * Nominators are re-written each era — pass the era's first block
    * to count only entries WRITTEN within the era (the exact per-era
    * active set the reference reads); absent, counts reflect the
    * table's carry-forward semantics (everything live as of the era
    * end). */
  def stakingInfoSnapshot(stakings: DataFrame, era: Long,
      chainName: String, source: String, blockNumber: Long,
      blockHash: String, tsSec: Long,
      eraStartBlock: Option[Long] = None): DataFrame = {
    val slice = eraStartBlock.foldLeft(
      stakings.filter(col("era") === era))(
      (df, start) => df.filter(col("block_number") >= start))
    val d38 = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val info = slice.groupBy(col("chain_id")).agg(
      sum(when(col("storage") === "ErasStakers",
        d38(col("validator_total")))).cast("decimal(38,0)")
        .as("total_staked"),
      count(when(col("storage") === "ErasStakers", lit(1)))
        .as("total_validators"),
      count(when(col("storage") === "Nominators", lit(1)))
        .as("nominators"),
      count(when(col("storage") === "BondedPools", lit(1)))
        .as("pools"),
      count(when(col("storage") === "PoolMembers", lit(1)))
        .as("pool_members"))
      .withColumn("era", lit(era))
      .drop("chain_id")
    Snapshot.snapshotRecs(info, "stakings.info",
      chainName = chainName, source = source,
      blockNumber = blockNumber, blockHash = blockHash, tsSec = tsSec,
      pvCols = Seq("era", "total_staked", "total_validators",
        "nominators", "pools", "pool_members"),
      track = Some(("era", lit(era))))
  }

  /** Astar-family `dappStaking.stakerInfo` snapshot recs (ref
    * snapshot/astar.js:174-209): one rec per (staker, dApp) — address
    * = the staker, pv carrying the staked amounts, loyalty flag, and
    * the dApp identity with its Evm/Wasm enum tag split out
    * (dAppType/dAppAddress, the reference's key unpacking), track =
    * the protocol era (setRecSnapShotEra). Amounts stay RAW plancks —
    * the reference divides to floats at this seam — keeping the pv
    * deterministic.
    *
    * `stakerInfo` columns: staker (ss58 or pubkey hex — normalized),
    * dapp_type ('Evm' | 'Wasm'), dapp_address, staked_voting,
    * staked_build_and_earn (raw), era, period, loyal_staker. */
  def dappStakingSnapshots(stakerInfo: DataFrame, era: Long,
      chainName: String, source: String, blockNumber: Long,
      blockHash: String, tsSec: Long, ss58Prefix: Int = 5)
      : DataFrame = {
    Snapshot.snapshotRecs(
      stakerInfo
        .withColumn("pub", pubkeyOf(col("staker")))
        // scale-0 renders "0", not the Decimal(38,18) default's
        // "0E-18" (and callers must supply (38,0) plancks to begin
        // with — an inferred (38,18) nulls amounts >= 1e20)
        .withColumn("pvj", to_json(struct(
          struct(col("staked_voting").cast("decimal(38,0)")
              .as("voting"),
            col("staked_build_and_earn").cast("decimal(38,0)")
              .as("buildAndEarn"),
            col("era"), col("period")).as("staked"),
          col("loyal_staker").as("loyalStaker"),
          col("dapp_type").as("dAppType"),
          col("dapp_address").as("dAppAddress")))),
      "dappStaking.stakerInfo", chainName = chainName,
      source = source, blockNumber = blockNumber,
      blockHash = blockHash, tsSec = tsSec, ss58Prefix = ss58Prefix,
      addressCol = Some("pub"), pvJsonCol = Some("pvj"),
      track = Some(("era", lit(era))))
  }

  // ---- Astar dappStaking chain-level recs (ref snapshot/astar.js) ----
  // Each is a pv projection of already-decoded state beside the
  // per-staker extractor above; amounts arrive PRE-SCALED to token
  // units (double) where the reference divides by 10^decimals, and
  // RAW where it doesn't — noted per extractor.

  /** `dappStaking.activeProtocolState` singleton (astar.js:108-128,
    * re-emitted verbatim at :161-172): pv = {era, nextEraStart,
    * periodInfo: {number, subperiod, nextSubperiodStartEra},
    * maintenance}. `state` (one row): era, next_era_start,
    * period_number, subperiod, next_subperiod_start_era, maintenance.
    * This is also where the reference latches currentEra
    * (setCurrentEra) — here the caller threads the era into the
    * sibling extractors' `era` parameter. */
  def dappStakingProtocolState(state: DataFrame, chainName: String,
      source: String, blockNumber: Long, blockHash: String,
      tsSec: Long, era: Long): DataFrame =
    Snapshot.snapshotRecs(
      state.withColumn("pvj", to_json(struct(
        col("era"), col("next_era_start").as("nextEraStart"),
        struct(col("period_number").as("number"), col("subperiod"),
          col("next_subperiod_start_era").as("nextSubperiodStartEra"))
          .as("periodInfo"),
        col("maintenance")))),
      "dappStaking.activeProtocolState", chainName = chainName,
      source = source, blockNumber = blockNumber,
      blockHash = blockHash, tsSec = tsSec, pvJsonCol = Some("pvj"),
      track = Some(("era", lit(era))))

  /** `dappStaking.currentEraInfo` singleton (astar.js:130-146): the
    * era's lock/stake totals, all divided to token units by the
    * reference — pass doubles. `state` (one row): total_locked,
    * unlocking, current_voting, current_build_and_earn, next_voting,
    * next_build_and_earn. */
  def dappStakingEraInfo(state: DataFrame, chainName: String,
      source: String, blockNumber: Long, blockHash: String,
      tsSec: Long, era: Long): DataFrame =
    Snapshot.snapshotRecs(
      state.withColumn("pvj", to_json(struct(
        col("total_locked").as("totalLocked"), col("unlocking"),
        struct(col("current_voting").as("voting"),
          col("current_build_and_earn").as("buildAndEarn"))
          .as("currentStakeAmount"),
        struct(col("next_voting").as("voting"),
          col("next_build_and_earn").as("buildAndEarn"))
          .as("nextStakeAmount")))),
      "dappStaking.currentEraInfo", chainName = chainName,
      source = source, blockNumber = blockNumber,
      blockHash = blockHash, tsSec = tsSec, pvJsonCol = Some("pvj"),
      track = Some(("era", lit(era))))

  /** `inflation.inflationParams` / `inflation.activeInflationConfig`
    * singletons (astar.js:211-280): the reference scales every
    * present field by 10^decimals and keeps the key set as-is — the
    * one-row `state` frame arrives pre-scaled with the reference's
    * camelCase column names, so pv is a direct struct of ALL columns
    * (absent pallet fields simply aren't columns; to_json drops
    * nulls like JSON.stringify drops undefined). */
  def inflationSnapshot(state: DataFrame, storage: String,
      chainName: String, source: String, blockNumber: Long,
      blockHash: String, tsSec: Long, era: Long): DataFrame =
    Snapshot.snapshotRecs(
      state.withColumn("pvj",
        to_json(struct(state.columns.map(col): _*))),
      s"inflation.$storage", chainName = chainName, source = source,
      blockNumber = blockNumber, blockHash = blockHash, tsSec = tsSec,
      pvJsonCol = Some("pvj"), track = Some(("era", lit(era))))

  /** `dappStaking.integratedDApps` recs (astar.js:282-296): one per
    * registered dApp — pv = the registry value with the Evm key
    * spliced in ({owner, id, state, Evm}). `dapps`: owner (ss58),
    * dapp_id, state, evm_address. */
  def dappStakingIntegratedDApps(dapps: DataFrame, chainName: String,
      source: String, blockNumber: Long, blockHash: String,
      tsSec: Long, era: Long): DataFrame =
    Snapshot.snapshotRecs(
      dapps.withColumn("pvj", to_json(struct(
        col("owner"), col("dapp_id").as("id"), col("state"),
        col("evm_address").as("Evm")))),
      "dappStaking.integratedDApps", chainName = chainName,
      source = source, blockNumber = blockNumber,
      blockHash = blockHash, tsSec = tsSec, pvJsonCol = Some("pvj"),
      track = Some(("era", lit(era))))

  /** `dappStaking.dAppTiers` recs (astar.js:298-322): one per era
    * entry — pv = {rewards (token units), dapps, era, dappsList}.
    * Documented divergences from the reference's JS shapes, both
    * determinism-driven: dappsList entries are NAMED structs
    * {dapp, tier, reward} rather than positional [id, tier, reward]
    * tuples (heterogeneous arrays don't exist in a typed engine),
    * and they are SORTED by dApp id (Object.entries insertion order
    * is not reproducible under distributed decode). `tiers`: era,
    * rewards ARRAY<DOUBLE> (pre-scaled), dapps MAP<STRING,INT>
    * (dApp id → tier index).
    *
    * track_val is the LATCHED current era (`era` param), not the
    * per-entry key: the reference stamps every rec with the
    * currentEra activeProtocolState latched
    * (snapshotter.js:116-124 setRecSnapShotEra), so a non-current
    * dAppTiers entry still tracks the snapshot's era — the entry's
    * own era lives in pv. */
  def dappStakingTiers(tiers: DataFrame, chainName: String,
      source: String, blockNumber: Long, blockHash: String,
      tsSec: Long, era: Long): DataFrame =
    Snapshot.snapshotRecs(
      tiers.withColumn("pvj", to_json(struct(
        col("rewards"),
        // render the map in sorted-key order — map storage order is
        // an engine artifact, and pv must be deterministic
        map_from_entries(array_sort(map_entries(col("dapps"))))
          .as("dapps"),
        col("era"),
        transform(array_sort(map_entries(col("dapps"))),
          e => struct(e("key").as("dapp"), e("value").as("tier"),
            element_at(col("rewards"), e("value") + 1)
              .as("reward"))).as("dappsList")))),
      "dappStaking.dAppTiers", chainName = chainName, source = source,
      blockNumber = blockNumber, blockHash = blockHash, tsSec = tsSec,
      pvJsonCol = Some("pvj"),
      track = Some(("era", lit(era))))

  /** `dappStaking.contractStake` recs (astar.js:324-345): one per
    * dApp — pv = {staked: {voting, buildAndEarn, era, period},
    * stakedFuture (nullable struct), dAppID}. Stake amounts token-
    * scaled (double). `stakes`: dapp_id, voting, build_and_earn, era,
    * period, future_voting, future_build_and_earn, future_era,
    * future_period (future_* null ⇒ stakedFuture omitted, like the
    * reference's absent field). */
  def dappStakingContractStake(stakes: DataFrame, chainName: String,
      source: String, blockNumber: Long, blockHash: String,
      tsSec: Long, era: Long): DataFrame =
    Snapshot.snapshotRecs(
      stakes.withColumn("pvj", to_json(struct(
        struct(col("voting"), col("build_and_earn").as("buildAndEarn"),
          col("era"), col("period")).as("staked"),
        when(col("future_voting").isNotNull,
          struct(col("future_voting").as("voting"),
            col("future_build_and_earn").as("buildAndEarn"),
            col("future_era").as("era"),
            col("future_period").as("period"))).as("stakedFuture"),
        col("dapp_id").as("dAppID")))),
      "dappStaking.contractStake", chainName = chainName,
      source = source, blockNumber = blockNumber,
      blockHash = blockHash, tsSec = tsSec, pvJsonCol = Some("pvj"),
      track = Some(("era", lit(era))))

  /** `dappStaking.eraRewards` recs (astar.js:347-368): one per span
    * key — pv = {span: [{stakerRewardPool, staked, dappRewardPool}…],
    * era}. Pool amounts token-scaled. `rewards`: span_era, spans
    * ARRAY<STRUCT<stakerRewardPool DOUBLE, staked DOUBLE,
    * dappRewardPool DOUBLE>>.
    *
    * track_val is the LATCHED current era like [[dappStakingTiers]]
    * (snapshotter.js:116-124) — a historical span still tracks the
    * snapshot's era; the span's own era lives in pv. */
  def dappStakingEraRewards(rewards: DataFrame, chainName: String,
      source: String, blockNumber: Long, blockHash: String,
      tsSec: Long, era: Long): DataFrame =
    Snapshot.snapshotRecs(
      rewards.withColumn("pvj", to_json(struct(
        col("spans").as("span"), col("span_era").as("era")))),
      "dappStaking.eraRewards", chainName = chainName,
      source = source, blockNumber = blockNumber,
      blockHash = blockHash, tsSec = tsSec, pvJsonCol = Some("pvj"),
      track = Some(("era", lit(era))))

  /** Write the stakings table as idempotent date partitions next to the
    * other entity tables (ref substrateetl.js:7500). */
  def dumpStakingsDay(updates: DataFrame, eraEnds: Seq[(Long, Long)],
      logDT: String, outRoot: String): DataFrame = {
    val out = stakingsAtEras(updates, eraEnds)
      .withColumn("log_dt", lit(logDT))
    Writers.publish(outRoot, Seq("log_dt"), None,
      Seq("stakings" -> out))("stakings")
  }
}
