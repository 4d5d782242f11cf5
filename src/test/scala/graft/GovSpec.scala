package graft

import graft.analytics.GovAnalytics
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Hand-computed conviction-tally golden cases (testConviction.js
  * semantics): vote-byte decode, conviction weights, delegation applied
  * per referendum to the target's standard votes, split/splitAbstain at
  * 0.1× with no delegations.
  */
class GovSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("tally applies conviction weights and delegations per referendum") {
    val standard = Seq(
      // voter 1: aye at Locked1x on poll 1, aye at None (0.1x) on poll 2
      (1L, 0L, 1L, 129L, 100.0),
      (1L, 0L, 2L, 128L, 100.0),
      // voter 2: nay at Locked2x on poll 1
      (2L, 0L, 1L, 2L, 50.0)
    ).toDF("voter", "track", "poll", "vote_byte", "balance")
    val splits = Seq(
      (3L, 1L, 5L, 10.0, 20.0, 30.0)
    ).toDF("voter", "track", "poll", "aye", "nay", "abstain")
    val delegations = Seq(
      // 40 balance at 3x to voter 1 on track 0: lands on BOTH of
      // voter 1's standard votes (polls 1 and 2)
      (10L, 0L, 1L, 40.0, 3.0)
    ).toDF("delegator", "track", "target", "balance", "weight")

    val out = GovAnalytics.tallyReferenda(standard, splits, delegations)
      .orderBy(col("track"), col("poll"))
      .select(col("track"), col("poll"), col("n_votes"),
        col("ayes").cast("double"), col("nays").cast("double"),
        col("abstains").cast("double"), col("capital").cast("double"),
        col("delegated_votes").cast("double"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getDouble(7)))

    assert(out.toSeq == Seq(
      // poll 1: ayes = 100*1 + 120 delegated; nays = 50*2;
      // capital = 100 + 40 + 50
      (0L, 1L, 2L, 220.0, 100.0, 0.0, 190.0, 120.0),
      // poll 2: ayes = 100*0.1 + 120 delegated; capital = 100 + 40
      (0L, 2L, 1L, 130.0, 0.0, 0.0, 140.0, 120.0),
      // split/splitAbstain at 0.1x, no delegation
      (1L, 5L, 1L, 1.0, 2.0, 3.0, 60.0, 0.0)))
  }

  test("delegation to a non-voting target has no tally effect") {
    val standard = Seq((1L, 0L, 1L, 129L, 100.0))
      .toDF("voter", "track", "poll", "vote_byte", "balance")
    val splits = Seq.empty[(Long, Long, Long, Double, Double, Double)]
      .toDF("voter", "track", "poll", "aye", "nay", "abstain")
    val delegations = Seq(
      (10L, 0L, 99L, 40.0, 3.0), // target 99 never voted
      (11L, 2L, 1L, 40.0, 3.0)   // right target, wrong track
    ).toDF("delegator", "track", "target", "balance", "weight")
    val out = GovAnalytics.tallyReferenda(standard, splits, delegations)
      .select(col("ayes").cast("double"),
        col("delegated_votes").cast("double")).collect()
    assert(out.length == 1)
    assert(out(0).getDouble(0) == 100.0)
    assert(out(0).getDouble(1) == 0.0)
  }

  test("democracy votes export: direction split, conviction map, gates " +
      "(ref substrateetl.js:2236-2272)") {
    import graft.etl.Democracy
    def bal(k: Long) = BigDecimal(k) * BigDecimal(10).pow(10)
    val casting = Seq(
      // aye at Locked3x (byte 131 = 0x80|3): aye = 20, ayec = 60
      (0, "v1", 0, 7L, "standard", 131, bal(20), null, null, null),
      // nay at None (byte 0): nay = 5, nayc = 0.5
      (0, "v2", 1, 7L, "standard", 0, bal(5), null, null, null),
      // split: own amounts, conviction None, 0.1x weighting
      (0, "v3", 99, 8L, "split", 0, null, bal(10), bal(4), null),
      // splitAbstain: abstain carried UNWEIGHTED
      (0, "v4", 34, 9L, "splitabstain", 0, null, bal(2), bal(1), bal(6))
    ).toDF("chain_id", "account_ss58", "class_id", "poll_id",
      "vote_kind", "vote_byte", "balance", "aye", "nay", "abstain")
    val out = Democracy.votes(casting).collect()
      .map(r => r.getAs[String]("account_ss58") -> r).toMap
    val v1 = out("v1")
    assert(v1.getAs[String]("vote") == "Aye" &&
      v1.getAs[Double]("aye") == 20.0 && v1.getAs[Double]("ayec") == 60.0)
    assert(v1.getAs[String]("conviction") == "Locked3x")
    assert(v1.getAs[String]("class_name") == "Root")
    val v2 = out("v2")
    assert(v2.getAs[String]("vote") == "Nay" &&
      v2.getAs[Double]("nay") == 5.0 &&
      math.abs(v2.getAs[Double]("nayc") - 0.5) < 1e-9)
    assert(v2.getAs[String]("conviction") == "None")
    val v3 = out("v3")
    assert(v3.getAs[String]("vote") == "Split" &&
      v3.getAs[Double]("aye") == 10.0 &&
      math.abs(v3.getAs[Double]("ayec") - 1.0) < 1e-9)
    // unknown class id exports a null name (JS undefined behavior)
    assert(v3.getAs[String]("class_name") == null)
    val v4 = out("v4")
    assert(v4.getAs[String]("vote") == "SplitAbstain" &&
      v4.getAs[Double]("abstain") == 6.0)
    assert(v4.getAs[String]("class_name") == "Big Spender")
  }

  test("conviction-voting snapshot sources in the published rec shape " +
      "(ref polkadot.js:424-470)") {
    import graft.etl.{Democracy, Snapshot}
    import graft.functions.Codec
    val pk1 = Codec.bytesToHex(Array.fill[Byte](32)(1))
    val pk2 = Codec.bytesToHex(Array.fill[Byte](32)(2))
    def raw(k: Long) = BigDecimal(k) * BigDecimal(10).pow(10)
    val casting = Seq(
      (0, pk1, 11, 5L, "standard", 131, raw(20), null, null, null),
      (0, pk1, 11, 6L, "split", 0, null, raw(3), raw(2), null)
    ).toDF("chain_id", "account_ss58", "class_id", "poll_id",
      "vote_kind", "vote_byte", "balance", "aye", "nay", "abstain")
    val delegating = Seq(
      (0, pk2, 11, pk1, raw(30), 2)
    ).toDF("chain_id", "account_ss58", "class_id", "target_ss58",
      "balance", "conviction")
    val recs = Democracy.votingForSnapshots(casting, delegating,
      chainName = "Polkadot", source = "polkaholic",
      blockNumber = 77L, blockHash = "0xb77", tsSec = 1700000300L,
      ss58Prefix = 0)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_cvsnap").toString
    val out = Snapshot.dumpSnapshots(recs, "2024-03-01", dir).collect()
    assert(out.length == 3)
    val byTrack = out.map(r => r.getAs[String]("track") -> r).toMap
    // voter rec: both polls collected under one (account, track) rec,
    // readable track name, RAW planck amounts in the pv
    val v = byTrack("opengov_voter")
    assert(v.getAs[String]("section") == "convictionVoting" &&
      v.getAs[String]("storage") == "votingFor")
    assert(v.getAs[String]("address_pubkey") == pk1)
    assert(v.getAs[String]("track_val") == "Treasurer")
    val pv = v.getAs[String]("pv")
    assert(pv.startsWith("""{"casting":{"votes":["""))
    assert(pv.contains("\"poll_id\":5") && pv.contains("\"poll_id\":6"))
    assert(pv.contains("200000000000"), "pv must carry RAW plancks")
    // delegator rec: the delegating state with the conviction name
    val d = byTrack("opengov_delegator")
    assert(d.getAs[String]("address_pubkey") == pk2)
    assert(d.getAs[String]("pv").contains("\"conviction\":\"Locked2x\""))
    // delegatee rec: incoming capital aggregated onto the TARGET
    val t = byTrack("opengov")
    assert(t.getAs[String]("storage") == "delegatee")
    assert(t.getAs[String]("address_pubkey") == pk1)
    assert(t.getAs[String]("pv").contains("\"delegators\":1") &&
      t.getAs[String]("pv").contains("300000000000"))
    // ss58 rides the chain prefix
    assert(Codec.ss58Decode(v.getAs[String]("address_ss58"))._1 == 0)
  }

  test("referenda/treasury/bounty snapshot recs " +
      "(ref polkadot.js:471-521)") {
    import graft.etl.Democracy
    import graft.functions.Codec
    val pkA = Codec.bytesToHex(Array.fill[Byte](32)(0xa.toByte))
    val pkB = Codec.bytesToHex(Array.fill[Byte](32)(0xb.toByte))
    val nulD = null.asInstanceOf[java.lang.Long]
    // referenda: an ongoing one with a tally, a closed one without
    val refs = Seq(
      (0, 101L, "ongoing", pkA, 100L, java.lang.Long.valueOf(2000L),
        java.lang.Long.valueOf(70L), java.lang.Long.valueOf(30L),
        java.lang.Long.valueOf(50L)),
      (0, 102L, "approved", pkB, 100L, nulD, nulD, nulD, nulD)
    ).toDF("chain_id", "ref_id", "status", "submission_depositor",
      "submission_deposit", "decision_deposit", "tally_ayes",
      "tally_nays", "tally_support")
    val r = Democracy.referendaSnapshots(refs, "Polkadot",
      "polkaholic", 500L, "0xb500", 1700001000L)
      .collect().map(x => x.getAs[String]("track_val") -> x).toMap
    assert(r("101").getAs[String]("track") == "referenda")
    assert(r("101").getAs[String]("pv").contains("\"tally_ayes\":70"))
    // the depositor normalizes like the sibling extractors' addresses
    assert(r("101").getAs[String]("pv")
      .contains(s""""submission_depositor":"$pkA""""))
    // closed referendum: null tally fields DROP from the pv
    assert(!r("102").getAs[String]("pv").contains("tally_ayes"))
    assert(r("102").getAs[String]("pv").contains("\"status\":\"approved\""))

    // treasury: beneficiary keys the rec; the blacklist drops by id
    val props = Seq(
      (0, 7L, pkA, pkB, 5000L, 50L),
      (0, 309L, pkA, pkB, 1L, 1L) // blacklisted
    ).toDF("chain_id", "proposal_id", "proposer", "beneficiary",
      "value", "bond")
    val t = Democracy.treasurySnapshots(props, "Polkadot",
      "polkaholic", 500L, "0xb500", 1700001000L, ss58Prefix = 0,
      blacklist = Seq(309L)).collect()
    assert(t.length == 1)
    assert(t.head.getAs[String]("address_pubkey") == pkB)
    assert(t.head.getAs[String]("track") == "treasury" &&
      t.head.getAs[String]("track_val") == "7")
    assert(t.head.getAs[String]("pv")
      .contains(s""""proposer_pubkey":"$pkA""""))

    // bounties: proposer keys the rec; curator only when present
    val bounties = Seq(
      (0, 3L, pkA, 900L, 9L, 4L, 2L, "active", pkB,
        java.lang.Long.valueOf(12345L)),
      (0, 4L, pkB, 100L, 1L, 0L, 1L, "proposed",
        null.asInstanceOf[String], nulD)
    ).toDF("chain_id", "bounty_id", "proposer", "value", "fee",
      "curator_deposit", "bond", "status", "curator", "update_due")
    val b = Democracy.bountySnapshots(bounties, "Polkadot",
      "polkaholic", 500L, "0xb500", 1700001000L)
      .collect().map(x => x.getAs[String]("track_val") -> x).toMap
    assert(b("3").getAs[String]("address_pubkey") == pkA)
    assert(b("3").getAs[String]("pv")
      .contains(s""""curator_pubkey":"$pkB"""") &&
      b("3").getAs[String]("pv").contains("\"update_due\":12345"))
    assert(!b("4").getAs[String]("pv").contains("curator_pubkey"),
      "a proposed bounty has no curator in the pv")
    assert(b("4").getAs[String]("pv")
      .contains("\"bounty_status\":\"proposed\""))
  }

  test("democracy delegation export + chain-partition replace") {
    import graft.etl.Democracy
    val deleg = Seq(
      (0, "d1", 11, "t1", BigDecimal(30) * BigDecimal(10).pow(10), 2),
      (0, "d2", 3, "t2", BigDecimal(7) * BigDecimal(10).pow(10), 0)
    ).toDF("chain_id", "account_ss58", "class_id", "target_ss58",
      "balance", "conviction")
    val rows = Democracy.delegations(deleg).collect()
      .map(r => r.getAs[String]("account_ss58") -> r).toMap
    assert(rows("d1").getAs[String]("conviction") == "Locked2x" &&
      rows("d1").getAs[Double]("balance") == 30.0 &&
      rows("d1").getAs[String]("class_name") == "Treasurer")
    assert(rows("d2").getAs[String]("conviction") == "None" &&
      rows("d2").getAs[String]("class_name") == null)
    // a re-walk of the same chain replaces its partition, never appends
    val casting = Seq((0, "v1", 0, 1L, "standard", 131,
      BigDecimal(10).pow(11), null, null, null))
      .toDF("chain_id", "account_ss58", "class_id", "poll_id",
        "vote_kind", "vote_byte", "balance", "aye", "nay", "abstain")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_democracy").toString
    val c1 = Democracy.dumpDemocracy(casting, deleg, dir)
      .mapValues(_.count()).toMap
    val c2 = Democracy.dumpDemocracy(casting, deleg, dir)
      .mapValues(_.count()).toMap
    assert(c1 == Map("votes" -> 1L, "delegation" -> 2L) && c2 == c1)
  }
}
