package graft

import graft.analytics.StakingAnalytics
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

/** Golden cases for the staking pipeline per FIXTURES.md §7: 2 eras ×
  * (2 ErasStakers validators, 2 Nominators with targets arrays,
  * 1 BondedPools, 2 PoolMembers). Expected values hand-computed from
  * docs/StakingAnalytics.md formulas. */
case class StakingRow(
      address_pubkey: String, storage: String, era: Int,
      validator_total: Option[Double], validator_own: Option[Double],
      validator_commission: Option[Double],
      validator_reward_points: Option[Int], targets: Option[String],
      nominationpools_id: Option[Int],
      nominationpools_total: Option[Double],
      nominationpools_commission: Option[Double],
      member_bonded: Option[Double])

class StakingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def v(addr: String, era: Int, total: Double, own: Double,
      comm: Double, pts: Int) =
    StakingRow(addr, "ErasStakers", era, Some(total), Some(own),
      Some(comm), Some(pts), None, None, None, None, None)

  private lazy val stakings = Seq(
    v("0xv1", 10, 1000.0, 100.0, 0.10, 60),
    v("0xv2", 10, 3000.0, 300.0, 0.00, 40),
    v("0xv1", 11, 1100.0, 100.0, 0.10, 50),
    v("0xv2", 11, 2900.0, 300.0, 0.00, 50),
    StakingRow("0xn1", "Nominators", 10, None, None, None, None,
      Some("""["0xv1","0xv2"]"""), None, None, None, Some(200.0)),
    StakingRow("0xn2", "Nominators", 10, None, None, None, None,
      Some("""["0xv2"]"""), None, None, None, Some(500.0)),
    StakingRow("0xpool1", "BondedPools", 10, None, None, None, None,
      None, Some(1), Some(1000.0), Some(0.05), None),
    StakingRow("0xm1", "PoolMembers", 10, None, None, None, None,
      None, Some(1), None, None, Some(250.0)),
    StakingRow("0xm2", "PoolMembers", 10, None, None, None, None,
      None, Some(1), None, None, Some(750.0)),
    StakingRow("0xm1", "PoolMembers", 11, None, None, None, None,
      None, Some(1), None, None, Some(400.0))
  ).toDF()

  test("era aggregates: totals, counts, sorted validator list") {
    val out = StakingAnalytics.eraAggregates(stakings)
      .orderBy("era").collect()
    assert(out.length == 2)
    val e10 = out(0)
    assert(e10.getAs[Int]("era") == 10)
    assert(e10.getAs[Long]("n_validators") == 2)
    assert(e10.getAs[Double]("era_total_staked") == 4000.0)
    assert(e10.getAs[Long]("era_reward_points") == 100)
    assert(e10.getAs[scala.collection.Seq[String]]("validators")
      .toSeq == Seq("0xv1", "0xv2"))
  }

  test("validator augmentation: reward share") {
    val out = StakingAnalytics.validatorAugmented(stakings)
      .filter($"era" === 10)
      .select("address_pubkey", "reward_share").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out("0xv1") == 0.6)
    assert(out("0xv2") == 0.4)
  }

  test("nominator edges explode targets") {
    val edges = StakingAnalytics.nominatorEdges(stakings)
      .select("nominator", "validator").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(edges == Set(("0xn1", "0xv1"), ("0xn1", "0xv2"),
      ("0xn2", "0xv2")))
  }

  test("nominator augmentation: estimated share") {
    val out = StakingAnalytics.nominatorAugmented(stakings)
      .filter($"nominator" === "0xn1" && $"validator" === "0xv1")
      .select("est_share").collect()
    // 200/1000 × 0.6 × (1−0.10) = 0.108
    assert(math.abs(out(0).getDouble(0) - 0.108) < 1e-12)
  }

  test("pool members: share of pool") {
    val out = StakingAnalytics.poolMembers(stakings)
      .filter($"era" === 10)
      .select("address_pubkey", "pool_share").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out == Map("0xm1" -> 0.25, "0xm2" -> 0.75))
  }

  test("member bond deltas via LAG") {
    val out = StakingAnalytics.memberBondDeltas(stakings)
      .filter($"address_pubkey" === "0xm1")
      .orderBy("era")
      .select("era", "bond_delta").collect()
      .map(r => (r.getInt(0), r.getDouble(1))).toSeq
    assert(out == Seq((10, 250.0), (11, 150.0)))
  }

  test("stakings entity table: era snapshots from storage updates, " +
      "dumped layout feeds the analytics consumers") {
    import org.apache.spark.sql.functions._
    val nulD = null.asInstanceOf[java.lang.Double]
    // storage-update stream: v1 bonds at block 10, re-bonds at block 40
    // (same era — last write wins); n1 nominates at block 20 and
    // REPLACES targets at block 120 (next era); v2 appears only in
    // era 1 (no carry-back)
    val updates = Seq(
      (0, 10L, "ErasStakers", "0xv1", java.lang.Double.valueOf(1000.0),
        java.lang.Double.valueOf(60.0), null.asInstanceOf[String]),
      (0, 40L, "ErasStakers", "0xv1", java.lang.Double.valueOf(1200.0),
        java.lang.Double.valueOf(70.0), null.asInstanceOf[String]),
      (0, 20L, "Nominators", "0xn1", nulD, nulD, """["0xv1"]"""),
      (0, 120L, "Nominators", "0xn1", nulD, nulD,
        """["0xv1","0xv2"]"""),
      (0, 150L, "ErasStakers", "0xv2", java.lang.Double.valueOf(500.0),
        java.lang.Double.valueOf(30.0), null.asInstanceOf[String]))
      .toDF("chain_id", "number", "storage", "address_pubkey",
        "validator_total", "validator_reward_points", "targets")
      .withColumn("validator_own", lit(null).cast("double"))
      .withColumn("validator_commission", lit(null).cast("double"))
      .withColumn("member_bonded", lit(null).cast("double"))
      .withColumn("nominationpools_id", lit(null).cast("long"))
      .withColumn("nominationpools_total", lit(null).cast("double"))
      .withColumn("nominationpools_commission", lit(null).cast("double"))
    val dir = java.nio.file.Files
      .createTempDirectory("graft_stakings_spec").toString
    val dumped = graft.etl.Stakings.dumpStakingsDay(updates,
      Seq((0L, 100L), (1L, 200L)), "2024-03-01", dir)
    val rows = dumped.collect().map(r =>
      (r.getAs[Long]("era"), r.getAs[String]("storage"),
        r.getAs[String]("address_pubkey")) ->
        (r.getAs[Long]("block_number"),
          Option(r.getAs[java.lang.Double]("validator_total"))
            .map(_.doubleValue),
          r.getAs[String]("targets"))).toMap
    // era 0: v1's block-40 re-bond wins; v2 absent; n1's first targets
    assert(rows((0L, "ErasStakers", "0xv1")) ==
      (40L, Some(1200.0), null))
    assert(rows((0L, "Nominators", "0xn1"))._3 == """["0xv1"]""")
    assert(!rows.contains((0L, "ErasStakers", "0xv2")))
    // era 1: v1 carries forward unchanged; n1's replacement; v2 joins
    assert(rows((1L, "ErasStakers", "0xv1")) ==
      (40L, Some(1200.0), null))
    assert(rows((1L, "Nominators", "0xn1"))._3 == """["0xv1","0xv2"]""")
    assert(rows((1L, "ErasStakers", "0xv2")) ==
      (150L, Some(500.0), null))
    // pv JSON carries the sparse state like the reference's pv column
    val pv = dumped.filter(col("era") === 0 &&
      col("address_pubkey") === "0xv1").select("pv").head.getString(0)
    assert(pv.contains(""""validator_total":1200.0"""))
    // the REAL consumers run off the dumped table: era rollup + edges
    val agg = StakingAnalytics.eraAggregates(dumped)
      .orderBy("era").collect()
    assert(agg.map(r => (r.getAs[Long]("era"),
      r.getAs[Long]("n_validators"))).toSeq == Seq((0L, 1L), (1L, 2L)))
    val edges = StakingAnalytics.nominatorEdges(dumped)
      .filter(col("era") === 1)
      .select("validator").collect().map(_.getString(0)).toSet
    assert(edges == Set("0xv1", "0xv2"))

    // the stakings.info snapshot rec off the SAME dumped layout (ref
    // polkadot.js:395-412: per-era pv with totals/counts, track=era)
    val rec = graft.etl.Stakings.stakingInfoSnapshot(dumped, era = 1L,
      chainName = "Polkadot", source = "polkaholic",
      blockNumber = 200L, blockHash = "0xb200", tsSec = 1700000900L)
      .collect().head
    assert(rec.getAs[String]("section") == "stakings" &&
      rec.getAs[String]("storage") == "info")
    assert(rec.getAs[String]("track") == "era" &&
      rec.getAs[String]("track_val") == "1")
    val infoPv = rec.getAs[String]("pv")
    assert(infoPv.contains("\"total_staked\":1700"), infoPv) // 1200+500
    assert(infoPv.contains("\"total_validators\":2") &&
      infoPv.contains("\"nominators\":1") &&
      infoPv.contains("\"pools\":0"))
    assert(rec.getAs[String]("address_pubkey") == null,
      "stakings.info is a chain-level rec")
  }

  test("dappStaking.stakerInfo snapshot recs (ref astar.js:174-209)") {
    import graft.functions.Codec
    val pk = Codec.bytesToHex(Array.fill[Byte](32)(6))
    val h160 = "0xf3824888ecca4514dd776f0db38d6530ab8fb280"
    // amounts as STRINGS cast to decimal(38,0): a Seq[BigDecimal]
    // infers Decimal(38,18), whose integer range silently NULLS
    // planck amounts >= 1e20 (the EvmDecode lesson)
    val info = Seq(
      (pk, "Evm", h160, "1000000000000000000000", "0", 4346L, 3L, true),
      (Codec.ss58Encode(Array.fill[Byte](32)(7), 5), "Wasm",
        "WasmAddr", "5", "2", 4346L, 3L, false)
    ).toDF("staker", "dapp_type", "dapp_address", "staked_voting",
      "staked_build_and_earn", "era", "period", "loyal_staker")
      .withColumn("staked_voting",
        org.apache.spark.sql.functions.col("staked_voting")
          .cast("decimal(38,0)"))
      .withColumn("staked_build_and_earn",
        org.apache.spark.sql.functions.col("staked_build_and_earn")
          .cast("decimal(38,0)"))
    val recs = graft.etl.Stakings.dappStakingSnapshots(info, era = 4346L,
      chainName = "Astar", source = "polkaholic", blockNumber = 999L,
      blockHash = "0xb999", tsSec = 1700003000L)
      .collect().map(r => r.getAs[String]("address_pubkey") -> r).toMap
    val evm = recs(pk)
    assert(evm.getAs[String]("section") == "dappStaking" &&
      evm.getAs[String]("storage") == "stakerInfo")
    assert(evm.getAs[String]("track") == "era" &&
      evm.getAs[String]("track_val") == "4346")
    val pv = evm.getAs[String]("pv")
    assert(pv.contains(""""staked":{"voting":1000000000000000000000"""))
    assert(pv.contains(s""""dAppType":"Evm","dAppAddress":"$h160""""))
    assert(pv.contains("\"loyalStaker\":true"))
    // ss58-form staker normalizes to pubkey like every extractor
    val w = recs(Codec.bytesToHex(Array.fill[Byte](32)(7)))
    assert(w.getAs[String]("pv").contains("\"dAppType\":\"Wasm\""))
    assert(Codec.ss58Decode(w.getAs[String]("address_ss58"))._1 == 5)
  }

  test("astar dappStaking chain-level recs: singletons + per-entry " +
      "families (ref astar.js:108-368)") {
    import graft.etl.Stakings
    // activeProtocolState singleton (the reference's doc sample values)
    val aps = Stakings.dappStakingProtocolState(
      Seq((742L, 5872888L, 8L, "BuildAndEarn", 763L, false))
        .toDF("era", "next_era_start", "period_number", "subperiod",
          "next_subperiod_start_era", "maintenance"),
      "Astar", "polkaholic", 5700000L, "0xa57", 1700005000L, era = 742L)
      .collect().head
    assert(aps.getAs[String]("section") == "dappStaking" &&
      aps.getAs[String]("storage") == "activeProtocolState")
    assert(aps.getAs[String]("pv") ==
      """{"era":742,"nextEraStart":5872888,"periodInfo":""" +
        """{"number":8,"subperiod":"BuildAndEarn",""" +
        """"nextSubperiodStartEra":763},"maintenance":false}""")
    assert(aps.getAs[String]("track") == "era" &&
      aps.getAs[String]("track_val") == "742")
    // currentEraInfo singleton: token-scaled doubles, nested pairs
    val cei = Stakings.dappStakingEraInfo(
      Seq((1000.5, 2.25, 300.0, 700.5, 310.0, 690.5))
        .toDF("total_locked", "unlocking", "current_voting",
          "current_build_and_earn", "next_voting",
          "next_build_and_earn"),
      "Astar", "polkaholic", 5700000L, "0xa57", 1700005000L, era = 742L)
      .collect().head
    assert(cei.getAs[String]("pv") ==
      """{"totalLocked":1000.5,"unlocking":2.25,""" +
        """"currentStakeAmount":{"voting":300.0,"buildAndEarn":700.5},""" +
        """"nextStakeAmount":{"voting":310.0,"buildAndEarn":690.5}}""")
    // inflation singletons: pv = ALL columns, camelCase pass-through
    val inf = Stakings.inflationSnapshot(
      Seq((0.07, 0.05, 0.0325)).toDF("maxInflationRate",
        "treasuryPart", "collatorsPart"),
      "inflationParams", "Astar", "polkaholic", 5700000L, "0xa57",
      1700005000L, era = 742L).collect().head
    assert(inf.getAs[String]("section") == "inflation" &&
      inf.getAs[String]("storage") == "inflationParams")
    assert(inf.getAs[String]("pv") ==
      """{"maxInflationRate":0.07,"treasuryPart":0.05,""" +
        """"collatorsPart":0.0325}""")
    // integratedDApps: the Evm key splice
    val dapp = Stakings.dappStakingIntegratedDApps(
      Seq(("ownerSS58", 3L, "Registered", "0xdapp"))
        .toDF("owner", "dapp_id", "state", "evm_address"),
      "Astar", "polkaholic", 5700000L, "0xa57", 1700005000L,
      era = 742L).collect().head
    assert(dapp.getAs[String]("pv") ==
      """{"owner":"ownerSS58","id":3,"state":"Registered",""" +
        """"Evm":"0xdapp"}""")
    // dAppTiers: dappsList sorted by dApp id, reward looked up by tier
    val tiers = Stakings.dappStakingTiers(
      Seq((742L, Seq(100.0, 50.0), Map("0xb" -> 1, "0xa" -> 0)))
        .toDF("era", "rewards", "dapps"),
      "Astar", "polkaholic", 5700000L, "0xa57", 1700005000L,
      era = 742L).collect().head
    assert(tiers.getAs[String]("pv") ==
      """{"rewards":[100.0,50.0],"dapps":{"0xa":0,"0xb":1},""" +
        """"era":742,"dappsList":[""" +
        """{"dapp":"0xa","tier":0,"reward":100.0},""" +
        """{"dapp":"0xb","tier":1,"reward":50.0}]}""",
      tiers.getAs[String]("pv"))
    assert(tiers.getAs[String]("track_val") == "742")
    // contractStake: stakedFuture omitted when the pallet omits it
    val cs = Stakings.dappStakingContractStake(
      Seq((3L, 10.0, 20.0, 742L, 8L, Some(11.0), Some(21.0),
          Some(743L), Some(8L)),
        (4L, 1.0, 2.0, 742L, 8L, None, None, None, None))
        .toDF("dapp_id", "voting", "build_and_earn", "era", "period",
          "future_voting", "future_build_and_earn", "future_era",
          "future_period"),
      "Astar", "polkaholic", 5700000L, "0xa57", 1700005000L,
      era = 742L).collect()
      .map(r => r.getAs[String]("pv")).sorted
    assert(cs.exists(_.contains(
      """"stakedFuture":{"voting":11.0,"buildAndEarn":21.0,""" +
        """"era":743,"period":8},"dAppID":3""")), cs.mkString("\n"))
    assert(cs.exists(p => !p.contains("stakedFuture") &&
      p.contains("\"dAppID\":4")), cs.mkString("\n"))
    // eraRewards: span array keeps ITS era in pv, while track_val is
    // the LATCHED currentEra (snapshotter.js setRecSnapShotEra stamps
    // every rec) — a historical span (736) under a current era (742)
    // must show the distinction
    val er = Stakings.dappStakingEraRewards(
      Seq((736L, Seq((500.0, 10000.0, 125.0))))
        .toDF("span_era", "spans")
        .select(org.apache.spark.sql.functions.col("span_era"),
          org.apache.spark.sql.functions.expr(
            "transform(spans, s -> named_struct(" +
              "'stakerRewardPool', s._1, 'staked', s._2, " +
              "'dappRewardPool', s._3))").as("spans")),
      "Astar", "polkaholic", 5700000L, "0xa57", 1700005000L,
      era = 742L).collect().head
    assert(er.getAs[String]("pv") ==
      """{"span":[{"stakerRewardPool":500.0,"staked":10000.0,""" +
        """"dappRewardPool":125.0}],"era":736}""")
    assert(er.getAs[String]("track") == "era" &&
      er.getAs[String]("track_val") == "742")
  }
}
