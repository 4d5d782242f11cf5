package graft.serve

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Serving-layer query library — SURVEY §2.10 (ref api.js routes +
  * substrate/query.js) as pure DataFrame functions over the dump-layout
  * entity tables (etl/Dump outputs).
  *
  * The reference serves these from BigTable/MySQL point reads; on the
  * columnar layout the same semantics are partition-pruned + sorted
  * parquet scans (SURVEY §1.1: serving face = filters/limits; the
  * row-key designs become predicate pushdown — see docs/PLANS.md).
  */
object Serve {

  /** Q1 — getBlock + decoration (ref query.js:2924-2978): one block row
    * joined to its extrinsics. */
  def getBlock(blocks: DataFrame, extrinsics: DataFrame,
      chainId: Int, number: Long): DataFrame =
    blocks.filter(col("chain_id") === chainId && col("number") === number)
      .join(extrinsics.filter(col("chain_id") === chainId &&
            col("block_number") === number)
          .withColumnRenamed("hash", "extrinsic_hash"),
        Seq("chain_id"), "left")
      .orderBy(col("extrinsic_id"))

  /** Numeric sort keys from a "blockNumber-idx" extrinsic id —
    * lexicographic comparison would rank "99-0" after "100-1". */
  private def extBn: Column =
    split(col("extrinsic_id"), "-").getItem(0).cast("long")
  private def extIdx: Column =
    split(col("extrinsic_id"), "-").getItem(1).cast("long")

  /** Pagination cursor: the full sort key of the previous page's last
    * row. chain_id is part of the key — block numbers collide freely
    * across chains, so (ts, extrinsic_id) alone is not unique for a
    * multi-chain account. */
  case class Cursor(tsUs: Long, chainId: Int, extrinsicId: String) {
    private val parts = extrinsicId.split("-")
    require(parts.length == 2 && parts.forall(_.forall(_.isDigit)),
      s"malformed cursor extrinsic id '$extrinsicId'")
    val bn: Long = parts(0).toLong
    val idx: Long = parts(1).toLong
  }

  /** Q2/W5 — account timeline tab, reverse-chronological with keyset
    * pagination (ref query.js:4544-4778: address#invertedTS scan →
    * ORDER BY desc + keyset predicate). A ts-only bound would skip rows
    * sharing the boundary timestamp (several extrinsics per block share
    * block_time routinely) — the cursor carries the whole sort key.
    * A malformed externally-supplied cursor fails fast with
    * IllegalArgumentException rather than crashing mid-query. */
  def accountTimeline(events: DataFrame, pubkey: String,
      chainFilter: Option[Seq[Int]], pageSize: Int,
      before: Option[Cursor]): DataFrame = {
    var df = events.filter(col("from_pub_key") === pubkey ||
      col("to_pub_key") === pubkey)
    chainFilter.foreach(cs => df = df.filter(col("chain_id").isin(cs: _*)))
    pageDesc(df, pageSize, before)
  }

  /** The shared keyset page: composite-cursor predicate + full-sort-key
    * descending order + limit, over any frame carrying
    * (block_time, chain_id, extrinsic_id). */
  private def pageDesc(df0: DataFrame, pageSize: Int,
      before: Option[Cursor]): DataFrame = {
    var df = df0
    before.foreach { c =>
      val ts = unix_micros(col("block_time"))
      val chain = col("chain_id")
      df = df.filter(ts < c.tsUs ||
        (ts === c.tsUs && (chain < c.chainId ||
          (chain === c.chainId && (extBn < c.bn ||
            (extBn === c.bn && extIdx < c.idx))))))
    }
    df.orderBy(unix_micros(col("block_time")).desc,
        col("chain_id").desc, extBn.desc, extIdx.desc)
      .limit(pageSize)
  }

  /** Feed cursor: the timeline sort key PLUS the source kind PLUS a
    * per-row discriminator — rows from different sources legitimately
    * share (block_time, chain_id, extrinsic_id) (a contribute
    * extrinsic emits both a transfer row and a Contributed row; a
    * self-transfer yields both directions), so the kind is part of the
    * key; and one extrinsic can emit several SAME-kind rows (a
    * utility.batch with multiple transfers out, two rewards in one
    * payout extrinsic), so `disc` — a hash of the source row — closes
    * the key to full uniqueness or those ties would straddle page
    * boundaries. */
  case class FeedCursor(tsUs: Long, chainId: Int, extrinsicId: String,
      kind: String, disc: Long) {
    private val parts = extrinsicId.split("-")
    require(parts.length == 2 && parts.forall(_.forall(_.isDigit)),
      s"malformed cursor extrinsic id '$extrinsicId'")
    val bn: Long = parts(0).toLong
    val idx: Long = parts(1).toLong
  }

  /** Account "feed" group (ref api.js predefinedGroups "feed"): ONE
    * reverse-chronological timeline across transfers (both
    * directions), staking rewards, and crowdloan contributions — each
    * source normalized to (kind, chain_id, block_time, extrinsic_id,
    * amount, detail) before the union, keyset-paged on the FULL sort
    * key (…, extrinsic idx, kind). Reward/crowdloan raw amounts scale
    * by `decimals` so the amount column is one display unit across
    * sources (this is a display face — exact raw amounts live on the
    * entity tables). Every source filter pushes its pubkey predicate
    * to its own scan before the union.
    *
    * `disc` (in the output and the cursor) hashes a STABLE per-source
    * identity subset — event_id on rewards/crowdloan (falling back to
    * the pair key when the caller's frame predates event ids), the
    * deduped (from, to, asset, raw amount) tuple on transfers — so a
    * saved cursor survives schema growth on the entity tables (a hash
    * of every column would reassign discs whenever a column lands,
    * e.g. this round's USD decoration) and makes the sort key unique
    * even when one extrinsic emits several same-kind rows. Intra-tie
    * order is by the hash (arbitrary but deterministic); the cursor's
    * strictly-less predicate then never drops a tied row. */
  def accountFeed(transfers: DataFrame, rewards: DataFrame,
      crowdloan: DataFrame, pubkey: String, pageSize: Int,
      before: Option[FeedCursor] = None,
      decimals: Int = 10): DataFrame = {
    val scale = math.pow(10, decimals)
    // identity hash from the first column set the frame fully carries
    def rowDisc(df: DataFrame, prefer: Seq[String],
        fallback: Seq[String]): Column = {
      val cols =
        if (prefer.forall(df.columns.contains)) prefer else fallback
      xxhash64(cols.map(col): _*)
    }
    val trDisc = rowDisc(transfers,
      Seq("from_pub_key", "to_pub_key", "asset", "raw_amount_hex"),
      Seq("from_pub_key", "to_pub_key", "asset", "amount"))
    val out = transfers.filter(col("from_pub_key") === pubkey)
      .select(lit("transfer_out").as("kind"), col("chain_id"),
        col("block_time"), col("extrinsic_id"), col("amount"),
        col("asset").as("detail"), trDisc.as("disc"))
    val in = transfers.filter(col("to_pub_key") === pubkey)
      .select(lit("transfer_in").as("kind"), col("chain_id"),
        col("block_time"), col("extrinsic_id"), col("amount"),
        col("asset").as("detail"), trDisc.as("disc"))
    val rw = rewards.filter(col("account_pub_key") === pubkey)
      .select(lit("reward").as("kind"), col("chain_id"),
        col("block_time"), col("extrinsic_id"),
        (col("amount_raw").cast("double") / scale).as("amount"),
        concat(lit("era:"), col("era")).as("detail"),
        rowDisc(rewards, Seq("event_id"), Seq("era", "amount_raw"))
          .as("disc"))
    val cl = crowdloan.filter(col("account_pub_key") === pubkey)
      .select(lit("crowdloan").as("kind"), col("chain_id"),
        col("block_time"), col("extrinsic_id"),
        (col("amount_raw").cast("double") / scale).as("amount"),
        concat(lit("fund:"), col("para_id")).as("detail"),
        rowDisc(crowdloan, Seq("event_id"),
          Seq("para_id", "amount_raw")).as("disc"))
    var df = out.unionByName(in).unionByName(rw).unionByName(cl)
    before.foreach { c =>
      val ts = unix_micros(col("block_time"))
      val chain = col("chain_id")
      df = df.filter(ts < c.tsUs ||
        (ts === c.tsUs && (chain < c.chainId ||
          (chain === c.chainId && (extBn < c.bn ||
            (extBn === c.bn && (extIdx < c.idx ||
              (extIdx === c.idx && (col("kind") < c.kind ||
                (col("kind") === c.kind && col("disc") < c.disc))))))))))
    }
    df.orderBy(unix_micros(col("block_time")).desc,
        col("chain_id").desc, extBn.desc, extIdx.desc,
        col("kind").desc, col("disc").desc)
      .limit(pageSize)
  }

  /** Q3 — batched multi-account lookup (ref query.js:3666). */
  def multiAccount(transfers: DataFrame, pubkeys: Seq[String]): DataFrame =
    transfers.filter(col("from_pub_key").isin(pubkeys: _*) ||
      col("to_pub_key").isin(pubkeys: _*))

  /** Q4 — search-by-hash disambiguation (ref query.js:989-1195): try
    * block hash, then extrinsic hash. */
  def searchByHash(blocks: DataFrame, extrinsics: DataFrame,
      hash: String): DataFrame = {
    val b = blocks.filter(col("hash") === hash)
      .select(lit("block").as("kind"), col("chain_id"),
        col("number").as("block_number"), col("hash"))
    val e = extrinsics.filter(col("hash") === hash)
      .select(lit("extrinsic").as("kind"), col("chain_id"),
        col("block_number"), col("hash"))
    b.unionByName(e)
  }

  /** Q9 — realtime balances: latest transfer-derived position per
    * account via struct-argmax (ref query.js:3865 accountrealtime). */
  def latestActivity(transfers: DataFrame): DataFrame =
    transfers
      .select(col("from_pub_key").as("pubkey"), col("block_time"),
        col("extrinsic_id"), lit("out").as("direction"), col("amount"))
      .unionByName(transfers.select(col("to_pub_key").as("pubkey"),
        col("block_time"), col("extrinsic_id"), lit("in").as("direction"),
        col("amount")))
      .groupBy(col("pubkey"))
      // argmax over NUMERIC (ts, block, idx) — the raw id string would
      // compare lexicographically ("99-0" > "100-1")
      .agg(max(struct(unix_micros(col("block_time")).as("ts_us"),
        extBn.as("bn"), extIdx.as("idx"),
        col("extrinsic_id"), col("direction"), col("amount"))).as("m"))
      .select(col("pubkey"), col("m.ts_us").as("last_ts_us"),
        col("m.extrinsic_id").as("last_extrinsic_id"),
        col("m.direction").as("last_direction"),
        col("m.amount").as("last_amount"))

  /** Account "rewards" group (ref api.js predefinedGroups, query.js
    * getAccount → rewards): one account's era-attached payout history
    * off the rewards entity table, lookback-bounded and
    * reverse-chronological — the pubkey filter and the time bound both
    * push to the parquet scan. `asOf` anchors the lookback explicitly
    * (the serving layer's "now"), keeping the query deterministic. */
  /** NUMERIC sort keys from a "bn-extIdx-evIdx" event id — string DESC
    * would rank "100-2-9" above "100-2-87" inside one payout block
    * (the extrinsic-id lesson, one id segment deeper). */
  private def evKeys: Seq[Column] = {
    val p = split(col("event_id"), "-")
    Seq(p.getItem(0).cast("long").desc, p.getItem(1).cast("long").desc,
      p.getItem(2).cast("long").desc)
  }

  def accountRewards(rewards: DataFrame, pubkey: String,
      asOf: java.sql.Timestamp, lookbackDays: Int = 180,
      limit: Int = 1000): DataFrame =
    rewards
      .filter(col("account_pub_key") === pubkey &&
        col("block_time") >= lit(asOf) -
          expr(s"INTERVAL $lookbackDays DAYS"))
      .orderBy(unix_micros(col("block_time")).desc +: evKeys: _*)
      .limit(limit)

  /** Account "crowdloans" group (ref api.js predefinedGroups): the
    * account's contribution rows — amount, memo/remark pairing, fund —
    * newest first. */
  def accountCrowdloans(crowdloan: DataFrame, pubkey: String,
      limit: Int = 1000): DataFrame =
    crowdloan
      .filter(col("account_pub_key") === pubkey)
      .orderBy(unix_micros(col("block_time")).desc +: evKeys: _*)
      .limit(limit)

  /** Account "balances" group (ref api.js predefinedGroups; the
    * reference reads current balances across chains): the LATEST
    * balance row per chain for one account from the balances entity
    * projection (TraceDecode.balances output + a block-order column) —
    * struct-argmax per chain, no window. */
  def accountBalances(balances: DataFrame, pubkey: String,
      ordCol: String = "bn"): DataFrame =
    balances
      .filter(col("address_pubkey") === pubkey)
      .groupBy(col("chain_id"))
      // nonce rides SECOND in the argmax struct: an account touched
      // twice in one block ties on ord, and the monotonic nonce must
      // break the tie — not whichever touch had the larger free value
      .agg(max(struct(col(ordCol).as("ord"), col("nonce"),
        col("free"), col("reserved"), col("frozen"))).as("m"))
      .select(col("chain_id"), col("m.ord").as("as_of_ord"),
        col("m.free").as("free"), col("m.reserved").as("reserved"),
        col("m.frozen").as("frozen"), col("m.nonce").as("nonce"))
      .orderBy(col("chain_id"))

  /** Account "xcmtransfers" group (ref api.js predefinedGroups;
    * query.js getAccount → xcmtransfers tab): the account's outbound
    * cross-chain transfers off the xcmtransfers export table
    * (etl/XcmExport layout), newest first — the pubkey filter pushes
    * to the parquet scan; ordering uses the origination identity
    * (numeric extrinsic keys, the accountTimeline lesson). */
  def accountXcmTransfers(xcmtransfers: DataFrame, pubkey: String,
      limit: Int = 1000): DataFrame = {
    val p = split(col("origination_extrinsic_id"), "-")
    xcmtransfers
      .filter(col("origination_sender_pub_key") === pubkey)
      .orderBy(unix_micros(col("origination_ts")).desc,
        p.getItem(0).cast("long").desc, p.getItem(1).cast("long").desc,
        col("origination_transfer_index").desc,
        col("origination_xcm_index").desc)
      .limit(limit)
  }

  /** Account "ss58h160" group (ref api.js predefinedGroups): every
    * representation of one account — the raw pubkey, its SS58 render
    * on the given networks, and the truncated H160 an AccountId20
    * chain sees (ref paraTool.js:517 pubkey_to_evm_ss58) — as one
    * dimension row per network, computed entirely by the registered
    * codec UDFs (no data scan at all), so `spark` must already be set
    * up ([[graft.Tables.configure]], which its first `Tables.load`
    * runs). */
  def addressForms(spark: org.apache.spark.sql.SparkSession,
      pubkey: String, networks: Seq[Int] = Seq(0, 2, 42)): DataFrame = {
    import spark.implicits._
    networks.toDF("network")
      .withColumn("pubkey", lit(pubkey))
      .withColumn("ss58", expr("ss58_encode(pubkey, network)"))
      .withColumn("h160", expr("pubkey_to_h160(pubkey)"))
      .orderBy(col("network"))
  }

  /** Account "evmtxs" group (ref api.js getAccount → the EVM-side tabs
    * an AccountId20/H160 address resolves to): the address's
    * transactions off the evmtxs export table (etl/EvmDump layout),
    * sent AND received with a direction marker (a self-send reads
    * "out" — the sender's view wins), newest first; the OR of the two
    * equality predicates pushes to the parquet scan, and the ordering
    * is the numeric block identity (the accountTimeline lesson), with
    * the per-block transaction_index completing the total order. */
  def accountEvmTxs(evmtxs: DataFrame, h160: String,
      limit: Int = 1000): DataFrame =
    evmtxs
      .filter(col("from_address") === h160 || col("to_address") === h160)
      .withColumn("direction",
        when(col("from_address") === h160, "out").otherwise("in"))
      .orderBy(unix_micros(col("block_timestamp")).desc,
        col("block_number").desc, col("transaction_index").desc)
      .limit(limit)

  /** Account "evmtransfers" group: the address's token movements off
    * the evmtransfers export table, both directions, newest first —
    * (block_number, log_index) is the EVM-side total order within a
    * block, so the sort key is fully deterministic. */
  def accountEvmTransfers(evmtransfers: DataFrame, h160: String,
      limit: Int = 1000): DataFrame =
    evmtransfers
      .filter(col("from_address") === h160 || col("to_address") === h160)
      .withColumn("direction",
        when(col("from_address") === h160, "out").otherwise("in"))
      .orderBy(unix_micros(col("block_timestamp")).desc,
        col("block_number").desc, col("log_index").desc)
      .limit(limit)

  /** Asset lookup over the dimension EXPORT tables (ref query.js:2208
    * getAsset: `asset LEFT JOIN xcmasset ON xcmInteriorKey`, matched by
    * currency_id OR the asset JSON, with the precompile reverse map
    * consulted first): `idOrAsset` may be a currency id, the exact
    * asset JSON, or an EVM precompile H160 — the H160 resolves through
    * xcmassets' per-chain contract map (the reference's
    * this.xcContractAddress[currencyID] hop) to the interior key, then
    * the chain's assets rows decorate with the registry's cross-chain
    * symbol/decimals. The reference breaks ties by holder count
    * (numHolders desc limit 1) — a registry the export does not carry;
    * ties break on the asset JSON instead, deterministic under any
    * partitioning. Both frames are dimensions: every join here
    * broadcasts, and the equality filters push to the parquet scan. */
  def assetLookup(assets: DataFrame, xcmassets: DataFrame,
      paraId: Int, idOrAsset: String): DataFrame = {
    val reg = xcmassets.select(col("xcm_interior_key"),
      col("symbol").as("xc_symbol"), col("decimals").as("xc_decimals"),
      col("xc_contract_address"))
    val direct = col("currency_id") === idOrAsset ||
      col("asset") === idOrAsset
    val matchPred =
      if (idOrAsset.matches("0x[0-9a-fA-F]{40}")) {
        // precompile hop: interior keys whose contract map carries the
        // H160 for this chain (a bounded in-list — the registry is a
        // dimension). Case-insensitive: the map stores EIP-55
        // checksummed addresses (GarRegistry.xcContractAddress), while
        // callers routinely pass lowercase or vice versa
        val keys = xcmassets
          .filter(lower(get_json_object(col("xc_contract_address"),
            s"$$['$paraId']")) === idOrAsset.toLowerCase)
          .select(col("xcm_interior_key"))
          .collect().map(_.getString(0)).toSeq
        direct || col("xcm_interior_key").isin(keys: _*)
      } else direct
    assets
      .filter(col("para_id") === paraId && matchPred)
      .join(broadcast(reg.drop("xc_contract_address")),
        Seq("xcm_interior_key"), "left")
      .orderBy(col("asset"))
      .limit(1)
  }

  /** Related-accounts lookup with identity decoration (ref
    * query.js:3542 getRelated; the UI joins registrar identities onto
    * every related account): proxy edges in both directions + multisig
    * relations from AccountRelations, each decorated with the related
    * account's display name + verification from the identity
    * dimension. */
  def relatedAccounts(proxy: DataFrame, multisig: DataFrame,
      identities: DataFrame, pubkey: String): DataFrame =
    graft.etl.Identity.decorate(
        graft.etl.AccountRelations.relatedAccounts(proxy, multisig,
          pubkey),
        identities, "related_pub")
      .orderBy(col("relation"), col("related_pub"))

  /** Account label lookup over the PUBLISHED dims (query.js getAccount
    * joins the identity row with the attribution nickname): point
    * filters on both dumped tables — each pushes to its parquet scan —
    * full-outer'd so either side alone still answers. */
  def accountLabel(identity: DataFrame, knownpubs: DataFrame,
      pubkey: String): DataFrame = {
    val id = identity.filter(col("pubkey") === pubkey)
      .select(col("pubkey"), col("polkadot_ss58"), col("kusama_ss58"),
        col("polkadot_fullname"), col("kusama_fullname"),
        col("polkadot_judgement_verified"))
    val kp = knownpubs.filter(col("address_pubkey") === pubkey)
      .select(col("address_pubkey").as("pubkey"),
        col("address_nickname"), col("account_type"))
    id.join(kp, Seq("pubkey"), "full_outer")
  }
}
