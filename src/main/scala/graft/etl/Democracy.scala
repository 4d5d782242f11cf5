package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import scala.collection.MapView

/** The OpenGov democracy export — `votes` + `delegation` tables off the
  * `convictionVoting.votingFor` state walk (ref substrateetl.js:2141
  * dump_democracy: one state read at the finalized block, Casting
  * entries → per-(account, track, poll) vote rows with conviction-
  * weighted aye/nay, Delegating entries → per-(account, track)
  * delegation rows; track names from the classID map at :2142-2159,
  * conviction multipliers at :2160-2168).
  *
  * Input seam: the state walk arrives as two decoded frames (the same
  * split the reference's forEach makes on `v.Casting`/`v.Delegating`) —
  * vote bytes stay raw (bit 7 = direction, low nibble = conviction,
  * the GovAnalytics encoding), balances stay raw plancks; this module
  * owns the export-shape arithmetic: direction split, name maps,
  * multiplier application, decimal scaling. Row-wise projections only —
  * the state walk is already latest-per-key, so no shuffle happens
  * here at all.
  */
object Democracy {

  /** classID → track name (ref substrateetl.js:2142-2159; ids outside
    * the map export a null name, the JS undefined-splice behavior). */
  val TrackNames: Map[Int, String] = Map(
    0 -> "Root", 1 -> "Whitelisted Caller",
    10 -> "Staking Admin", 11 -> "Treasurer", 12 -> "Lease Admin",
    13 -> "Fellowship Admin", 14 -> "General Admin",
    15 -> "Auction Admin",
    20 -> "Referendum Canceller", 21 -> "Referendum Killer",
    30 -> "Small Tipper", 31 -> "Big Tipper", 32 -> "Small Spender",
    33 -> "Medium Spender", 34 -> "Big Spender")

  def trackName(classId: Column): Column =
    element_at(typedLit(TrackNames), classId.cast("int"))

  /** Conviction ordinal → display name (toHuman's rendering). */
  def convictionName(c: Column): Column =
    when(c === 0, lit("None"))
      .otherwise(concat(lit("Locked"), c.cast("string"), lit("x")))

  /** Conviction ordinal → vote multiplier (ref convictionMap with the
    * `: 1` fallback for names outside the map, :2270). */
  def convictionMult(c: Column): Column =
    when(c === 0, lit(0.1))
      .when(c >= 1 && c <= 6, c.cast("double"))
      .otherwise(lit(1.0))

  /** `votes` export rows. `casting` columns: chain_id, account_ss58,
    * class_id, poll_id, vote_kind ('standard' | 'split' |
    * 'splitabstain'), vote_byte (standard only), balance / aye / nay /
    * abstain (raw plancks). Mirrors ref :2236-2272: standard routes
    * the whole balance by bit 7, split/splitAbstain carry their own
    * amounts at conviction None, weighted columns multiply AFTER the
    * decimal scaling (ayec/nayc; abstain is never weighted). */
  def votes(casting: DataFrame, decimals: Int = 10): DataFrame = {
    val standard = col("vote_kind") === "standard"
    val isAye = col("vote_byte") >= 128
    val conv = when(standard, col("vote_byte") % 16).otherwise(lit(0))
    val scale = math.pow(10.0, decimals)
    def scaled(c: Column) = c.cast("double") / scale
    casting.select(
      col("chain_id"), col("account_ss58"), col("class_id"),
      col("poll_id"),
      when(standard, when(isAye, lit("Aye")).otherwise(lit("Nay")))
        .when(col("vote_kind") === "split", lit("Split"))
        .otherwise(lit("SplitAbstain")).as("vote"),
      scaled(when(standard, when(isAye, col("balance")).otherwise(lit(0)))
        .otherwise(col("aye"))).as("aye"),
      scaled(when(standard, when(isAye, lit(0)).otherwise(col("balance")))
        .otherwise(col("nay"))).as("nay"),
      scaled(when(col("vote_kind") === "splitabstain", col("abstain"))
        .otherwise(lit(0))).as("abstain"),
      trackName(col("class_id")).as("class_name"),
      convictionName(conv).as("conviction"),
      convictionMult(conv).as("mult"))
      .withColumn("ayec", col("aye") * col("mult"))
      .withColumn("nayc", col("nay") * col("mult"))
      .drop("mult")
      .select(col("chain_id"), col("account_ss58"), col("class_id"),
        col("poll_id"), col("vote"), col("aye"), col("ayec"),
        col("nay"), col("nayc"), col("abstain"), col("class_name"),
        col("conviction"))
  }

  /** `delegation` export rows. `delegating` columns: chain_id,
    * account_ss58, class_id, target_ss58, balance (raw plancks),
    * conviction (ordinal). Ref :2280-2287. */
  def delegations(delegating: DataFrame, decimals: Int = 10)
      : DataFrame =
    delegating.select(
      col("chain_id"), col("account_ss58"), col("class_id"),
      convictionName(col("conviction")).as("conviction"),
      col("target_ss58"),
      (col("balance").cast("double") / math.pow(10.0, decimals))
        .as("balance"),
      trackName(col("class_id")).as("class_name"))

  /** The conviction-voting SNAPSHOT sources in the published
    * snapshots rec shape (ref snapshot/polkadot.js:424-470
    * handleSnapshot): one `convictionVoting.votingFor` rec per
    * (account, track) — casting state under track "opengov_voter",
    * delegating under "opengov_delegator", track_val = the readable
    * track name — plus one `convictionVoting.delegatee` rec per
    * (target, track) aggregating the incoming delegations, track
    * "opengov". The pv JSON carries RAW planck amounts (the reference
    * stores the toHuman state verbatim) — integers, so the rendering
    * is deterministic across engines and partitionings.
    *
    * Returns the three rec frames, ready for
    * [[Snapshot.dumpSnapshots]]. */
  def votingForSnapshots(casting: DataFrame, delegating: DataFrame,
      chainName: String, source: String, blockNumber: Long,
      blockHash: String, tsSec: Long, ss58Prefix: Int = 42)
      : Seq[DataFrame] = {
    def recsOf(state: DataFrame, sectionStorage: String,
        track: String) =
      Snapshot.snapshotRecs(state, sectionStorage,
        chainName = chainName, source = source,
        blockNumber = blockNumber, blockHash = blockHash,
        tsSec = tsSec, ss58Prefix = ss58Prefix,
        addressCol = Some("pub"), pvJsonCol = Some("state"),
        track = Some((track, trackName(col("class_id")))))
    // every grouping keys on chain_id too: per-chain invocation is the
    // contract (chainName labels the recs, like the reference's
    // per-chain snapshotter), but a multi-chain frame must never MERGE
    // one account's state across chains
    val castingState = casting
      .groupBy(col("chain_id"), col("account_ss58"), col("class_id"))
      .agg(to_json(struct(struct(sort_array(collect_list(struct(
        col("poll_id"), col("vote_kind"), col("vote_byte"),
        col("balance"), col("aye"), col("nay"), col("abstain"))))
        .as("votes")).as("casting"))).as("state"))
      .withColumn("pub", pubkeyOf(col("account_ss58")))
    val delegState = delegating.select(col("account_ss58"),
        col("class_id"),
        to_json(struct(struct(col("target_ss58"), col("balance"),
          convictionName(col("conviction")).as("conviction"))
          .as("delegating"))).as("state"))
      .withColumn("pub", pubkeyOf(col("account_ss58")))
    // delegatee side: incoming capital per (target, track)
    val delegatee = delegating
      .groupBy(col("chain_id"), col("target_ss58"), col("class_id"))
      .agg(to_json(struct(
        count(lit(1)).as("delegators"),
        sum(col("balance")).cast("decimal(38,0)").as("capital")))
        .as("state"))
      .withColumn("pub", pubkeyOf(col("target_ss58")))
    Seq(
      recsOf(castingState, "convictionVoting.votingFor",
        "opengov_voter"),
      recsOf(delegState, "convictionVoting.votingFor",
        "opengov_delegator"),
      recsOf(delegatee, "convictionVoting.delegatee", "opengov"))
  }

  /** `referenda.referendumInfoFor` snapshot recs (ref
    * snapshot/polkadot.js:471-485 + process_referenda :49-95): one rec
    * per referendum, track "referenda", track_val = the referendum id,
    * pv carrying status/deposits/tally. Amounts stay RAW plancks —
    * the reference divides to floats at this seam, a lossy rendering a
    * reader can apply; raw integers keep the pv deterministic. Null
    * detail columns drop from the JSON like the reference's
    * conditional fields (closed referenda carry no tally).
    *
    * `referenda` columns: chain_id, ref_id, status, plus any of
    * submission_depositor, submission_deposit, decision_deposit,
    * tally_ayes, tally_nays, tally_support (raw, nullable). */
  def referendaSnapshots(referenda: DataFrame, chainName: String,
      source: String, blockNumber: Long, blockHash: String,
      tsSec: Long): DataFrame = {
    Snapshot.snapshotRecs(
      referenda.withColumn("pvj", to_json(struct(
        col("ref_id"), col("status"),
        // normalized like the sibling extractors' proposer/curator —
        // an ss58-form walk must not leak two address renderings into
        // one snapshots table
        pubkeyOf(col("submission_depositor"))
          .as("submission_depositor"),
        col("submission_deposit"), col("decision_deposit"),
        col("tally_ayes"), col("tally_nays"), col("tally_support")))),
      "referenda.referendumInfoFor", chainName = chainName,
      source = source, blockNumber = blockNumber,
      blockHash = blockHash, tsSec = tsSec,
      pvJsonCol = Some("pvj"),
      track = Some(("referenda", col("ref_id"))))
  }

  /** `treasury.proposals` snapshot recs (ref polkadot.js:487-504 +
    * process_treasury_proposals :315-334): one rec per proposal keyed
    * by the BENEFICIARY address, track "treasury", track_val = the
    * proposal id; the reference skips a hand-maintained blacklist of
    * proposal ids — accepted as data, not hardcoded.
    *
    * `proposals` columns: chain_id, proposal_id, proposer,
    * beneficiary (ss58 or pubkey hex — normalized), value, bond
    * (raw plancks). */
  def treasurySnapshots(proposals: DataFrame, chainName: String,
      source: String, blockNumber: Long, blockHash: String,
      tsSec: Long, ss58Prefix: Int = 42,
      blacklist: Seq[Long] = Nil): DataFrame = {
    val kept =
      if (blacklist.isEmpty) proposals
      else proposals.filter(!col("proposal_id").isin(blacklist: _*))
    Snapshot.snapshotRecs(
      kept
        .withColumn("pub", pubkeyOf(col("beneficiary")))
        .withColumn("pvj", to_json(struct(
          col("proposal_id").as("treasury_index"),
          pubkeyOf(col("proposer")).as("proposer_pubkey"),
          col("value"), col("bond")))),
      "treasury.proposals", chainName = chainName, source = source,
      blockNumber = blockNumber, blockHash = blockHash, tsSec = tsSec,
      ss58Prefix = ss58Prefix, addressCol = Some("pub"),
      pvJsonCol = Some("pvj"),
      track = Some(("treasury", col("proposal_id"))))
  }

  /** `bounties.bounties` snapshot recs (ref polkadot.js:506-521 +
    * process_bounties :336-369): one rec per bounty keyed by the
    * PROPOSER, track "bounty"; the pv carries value/fee/deposit/bond/
    * status plus curator/update_due when the status detail has them
    * (null → dropped from the JSON, the reference's conditional
    * fields).
    *
    * `bounties` columns: chain_id, bounty_id, proposer, value, fee,
    * curator_deposit, bond (raw), status, curator (nullable),
    * update_due (nullable). */
  def bountySnapshots(bounties: DataFrame, chainName: String,
      source: String, blockNumber: Long, blockHash: String,
      tsSec: Long, ss58Prefix: Int = 42): DataFrame = {
    Snapshot.snapshotRecs(
      bounties
        .withColumn("pub", pubkeyOf(col("proposer")))
        .withColumn("pvj", to_json(struct(
          col("bounty_id").as("bounty_index"),
          col("value"), col("fee"), col("curator_deposit"),
          col("bond"), col("status").as("bounty_status"),
          pubkeyOf(col("curator")).as("curator_pubkey"),
          col("update_due")))),
      "bounties.bounties", chainName = chainName, source = source,
      blockNumber = blockNumber, blockHash = blockHash, tsSec = tsSec,
      ss58Prefix = ss58Prefix, addressCol = Some("pub"),
      pvJsonCol = Some("pvj"),
      track = Some(("bounty", col("bounty_id"))))
  }

  /** Publish both tables, chain-partition overwrite: a re-walk of one
    * chain replaces exactly that chain's rows (the reference upserts
    * into per-chain MySQL tables `votes{chainID}` / `delegation
    * {chainID}` with full-value replace — same semantics, one table). */
  def dumpDemocracy(casting: DataFrame, delegating: DataFrame,
      outRoot: String, decimals: Int = 10): MapView[String, DataFrame] =
    Writers.publish(outRoot, Seq("chain_id"), None, Map(
      "votes" -> votes(casting, decimals),
      "delegation" -> delegations(delegating, decimals)))
}
