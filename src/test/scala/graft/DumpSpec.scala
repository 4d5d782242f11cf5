package graft

import graft.etl.Dump
import graft.functions.Codec
import graft.model._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

/** End-to-end §3.2 dump over a nested fixture per FIXTURES.md §1-§4:
  * 2 chains × 2 days, signed & unsigned extrinsics, success & failure,
  * a utility.batch with a suppressed system.remark child, a duplicated
  * transfer emit, an unfinalized fork block, digest logs. */
class DumpSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)
  private val alice =
    "d43593c715fdd31c61141abd04a99fd6822c8558854ccde39a5684e7a56da27d"
  private val bob =
    "8eaf04151687736326c9fea17e25fc5287613693c912909cb226aa4794f26a48"

  private val okEvents = Seq(
    RawEvent(0, "system", "ExtrinsicSuccess", """{"weight":1}"""))
  private val failEvents = Seq(
    RawEvent(0, "system", "ExtrinsicFailed", """{"err":"BadOrigin"}"""))
  private val xfer = RawTransfer(alice, bob, "DOT", "0x2540be400", 10) // 10^10 raw = 1.0

  private val batchParams =
    """{"section":"utility","method":"batch","args":{},
      |"calls":[{"section":"balances","method":"transfer","args":{"v":1}},
      |         {"section":"system","method":"remark","args":{}}]}"""
      .stripMargin

  private lazy val raw = Seq(
    RawBlock(0, 100L, "0xb100", "0xb099", ts("2024-03-01 10:00:00"), 100,
      alice, finalized = true,
      extrinsics = Seq(
        RawExtrinsic(0, "0xe0",
          "timestamp", "set", """{"section":"timestamp","method":"set"}""",
          signed = false, null, 0.0, okEvents, Nil),
        RawExtrinsic(1, "0xe1", "utility", "batch", batchParams,
          signed = true, alice, 0.25, okEvents,
          transfers = Seq(xfer, xfer)) // duplicated emit → dedup
      ),
      logs = Seq(RawLog("PreRuntime", "0xaa"), RawLog("Seal", "0xbb"))),
    RawBlock(0, 101L, "0xb101", "0xb100", ts("2024-03-01 11:00:00"), 100,
      bob, finalized = true,
      extrinsics = Seq(
        RawExtrinsic(0, "0xe2", "balances", "transfer",
          """{"section":"balances","method":"transfer","args":{}}""",
          signed = true, bob, 0.1, failEvents, Nil)),
      logs = Nil),
    // fork candidate — never finalized, must be excluded
    RawBlock(0, 101L, "0xdead", "0xb100", ts("2024-03-01 11:00:00"), 100,
      bob, finalized = false,
      extrinsics = Seq(RawExtrinsic(0, "0xdead0", "balances", "transfer",
        """{"section":"balances","method":"transfer","args":{}}""",
        signed = true, bob, 0.1, okEvents, Nil)),
      logs = Nil),
    // other chain, other day
    RawBlock(2000, 7L, "0xk7", "0xk6", ts("2024-03-02 00:30:00"), 52,
      alice, finalized = true,
      extrinsics = Seq(RawExtrinsic(0, "0xe3", "timestamp", "set",
        """{"section":"timestamp","method":"set"}""",
        signed = false, null, 0.0, okEvents, Nil)),
      logs = Nil)
  ).toDF()

  private lazy val outRoot =
    java.nio.file.Files.createTempDirectory("graft_dump").toString
  // the idempotency case later lands 2024-03-02 in the same root
  private lazy val out = Dump.dumpDay(raw, "2024-03-01", outRoot)
    .mapValues(_.filter(col("log_dt") === "2024-03-01"))

  test("blocks: finalized-only, per-block stats, ss58 author") {
    val b = out("blocks").orderBy("number").collect()
    assert(b.length == 2) // fork + other-day excluded
    val b100 = b(0)
    assert(b100.getAs[Int]("extrinsic_count") == 2)
    assert(b100.getAs[Int]("event_count") == 2)
    assert(b100.getAs[Int]("transfer_count") == 2)
    assert(b100.getAs[String]("author_ss58") ==
      "5GrwvaEF5zXb26Fz9rcQpDWS57CtERHpNehXCPcNoHGKutQY")
  }

  test("extrinsics: ids, paired-event status, signer normalization") {
    val e = out("extrinsics").orderBy("extrinsic_id").collect()
    assert(e.map(_.getAs[String]("extrinsic_id")).toSeq ==
      Seq("100-0", "100-1", "101-0"))
    val byId = e.map(r => r.getAs[String]("extrinsic_id") -> r).toMap
    assert(byId("100-1").getAs[Boolean]("status")) // ExtrinsicSuccess
    assert(!byId("101-0").getAs[Boolean]("status")) // ExtrinsicFailed
    assert(byId("100-0").getAs[String]("signer_ss58") == null) // unsigned
    assert(byId("100-1").getAs[String]("signer_ss58") != null)
  }

  test("events: composite event ids") {
    val ev = out("events").select("event_id").collect()
      .map(_.getString(0)).toSet
    assert(ev == Set("100-0-0", "100-1-0", "101-0-0"))
  }

  test("transfers: dedup, base-unit scaling, asset key, ss58") {
    val t = out("transfers").collect()
    assert(t.length == 1) // duplicate emit collapsed
    val r = t(0)
    assert(r.getAs[Double]("amount") == 1.0) // 0x2540be400 = 10^10 @ 10dp
    assert(r.getAs[String]("asset") == "DOT~0")
    assert(r.getAs[String]("from_ss58") ==
      "5GrwvaEF5zXb26Fz9rcQpDWS57CtERHpNehXCPcNoHGKutQY")
  }

  test("calls: recursion + suppression + fee on root") {
    val c = out("calls").filter(col("extrinsic_id") === "100-1")
      .orderBy("call_id").collect()
    assert(c.map(_.getAs[String]("call_id")).toSeq == Seq("0", "0_0"))
    // system.remark child suppressed; root keeps the fee
    assert(c(0).getAs[Boolean]("root") && c(0).getAs[Double]("fee") == 0.25)
    assert(c(1).getAs[String]("call_section") == "balances" &&
      c(1).isNullAt(c(1).fieldIndex("fee")))
  }

  test("logs: posexplode ids") {
    val lg = out("logs").select("log_id", "log_type").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(lg == Set(("100-0", "PreRuntime"), ("100-1", "Seal")))
  }

  // ---- P7 rewards / crowdloan extraction (ref indexer.js:3941-4090) ----

  private val payoutEvents = Seq(
    RawEvent(0, "staking", "PayoutStarted",
      s"""{"eraIndex":123,"validatorStash":"$alice"}"""),
    RawEvent(1, "staking", "Rewarded",
      s"""{"stash":"$alice","amount":777}"""),
    RawEvent(2, "staking", "Rewarded",
      s"""{"stash":"$bob","amount":0}"""), // zero payout → skipped
    RawEvent(3, "staking", "PayoutStarted",
      s"""{"eraIndex":124,"validatorStash":"$bob"}"""),
    RawEvent(4, "staking", "Rewarded",
      s"""{"stash":"$bob","amount":555}"""),
    RawEvent(5, "system", "ExtrinsicSuccess", """{"weight":1}"""))

  private val crowdloanEvents = Seq(
    RawEvent(0, "crowdloan", "Contributed",
      s"""{"who":"$alice","fundIndex":2000,"amount":999}"""),
    RawEvent(1, "crowdloan", "MemoUpdated",
      s"""{"who":"$alice","paraId":2000,"memo":"0x6d31"}"""),
    RawEvent(2, "crowdloan", "Contributed",
      s"""{"who":"$bob","fundIndex":2001,"amount":888}"""),
    RawEvent(3, "system", "ExtrinsicSuccess", """{"weight":1}"""))

  private lazy val rewardRaw = Seq(
    RawBlock(0, 200L, "0xb200", "0xb199", ts("2024-03-01 12:00:00"), 100,
      alice, finalized = true,
      extrinsics = Seq(
        RawExtrinsic(0, "0xe7", "staking", "payoutStakers",
          """{"section":"staking","method":"payoutStakers"}""",
          signed = true, alice, 0.3, payoutEvents, Nil),
        RawExtrinsic(1, "0xe8", "utility", "batch",
          """{"section":"utility","method":"batch","args":{},
            |"calls":[{"section":"crowdloan","method":"contribute","args":{}},
            |  {"section":"system","method":"remark","args":{"remark":"0x6d32"}}]}"""
            .stripMargin,
          signed = true, bob, 0.2, crowdloanEvents, Nil)),
      logs = Nil)).toDF()

  private lazy val rewardOut = Dump.dumpDay(rewardRaw, "2024-03-01",
    java.nio.file.Files.createTempDirectory("graft_dump_rw").toString)

  test("rewards: era attach from running PayoutStarted, zero skipped") {
    val r = rewardOut("rewards").orderBy("event_id").collect()
    assert(r.map(_.getAs[String]("event_id")).toSeq ==
      Seq("200-0-1", "200-0-4")) // the zero payout (idx 2) is gone
    assert(r(0).getAs[Long]("era") == 123L &&
      r(0).getAs[java.math.BigDecimal]("amount_raw").longValueExact == 777L)
    assert(r(1).getAs[Long]("era") == 124L && // marker advanced at idx 3
      r(1).getAs[java.math.BigDecimal]("amount_raw").longValueExact == 555L)
    assert(r(0).getAs[String]("account_ss58") ==
      "5GrwvaEF5zXb26Fz9rcQpDWS57CtERHpNehXCPcNoHGKutQY")
    assert(r(0).getAs[String]("extrinsic_id") == "200-0")
  }

  test("crowdloan: Contributed+MemoUpdated pair, memo-less row kept") {
    val c = rewardOut("crowdloan").orderBy("para_id").collect()
    assert(c.length == 2)
    assert(c(0).getAs[Long]("para_id") == 2000L &&
      c(0).getAs[java.math.BigDecimal]("amount_raw").longValueExact == 999L &&
      c(0).getAs[String]("memo") == "0x6d31")
    // the memo-carrying pair never takes a remark
    assert(c(0).getAs[String]("remark") == null)
    assert(c(1).getAs[Long]("para_id") == 2001L &&
      c(1).getAs[java.math.BigDecimal]("amount_raw").longValueExact == 888L &&
      c(1).getAs[String]("memo") == null)
    // the memo-LESS pair takes the extrinsic's system.remark call text
    // positionally (production wiring through Rewards.remarkTexts)
    assert(c(1).getAs[String]("remark") == "0x6d32")
    assert(c(0).getAs[String]("account_ss58") ==
      "5GrwvaEF5zXb26Fz9rcQpDWS57CtERHpNehXCPcNoHGKutQY")
  }

  test("crowdloan remark pairing: positional assign to memo-less pairs") {
    // ref indexer.js:4043-4055: contributions without a MemoUpdated
    // take the extrinsic's system.remark texts in order; leftovers
    // keep neither
    val grain = Seq(
      // ext 0: three contributions — first has a memo, the other two
      // are memo-less and should take remarks r0, r1 positionally
      (0, 1L, 0, 0, "crowdloan", "Contributed",
        """{"who":"u1","fundIndex":10,"amount":5}"""),
      (0, 1L, 0, 1, "crowdloan", "MemoUpdated",
        """{"who":"u1","paraId":10,"memo":"0xm"}"""),
      (0, 1L, 0, 2, "crowdloan", "Contributed",
        """{"who":"u2","fundIndex":11,"amount":6}"""),
      (0, 1L, 0, 3, "crowdloan", "Contributed",
        """{"who":"u3","fundIndex":12,"amount":7}"""),
      // ext 1: one memo-less contribution, NO remarks → null remark
      (0, 1L, 1, 0, "crowdloan", "Contributed",
        """{"who":"u4","fundIndex":13,"amount":8}"""))
      .toDF("chain_id", "number", "ext_idx", "event_idx",
        "section", "method", "data")
    val remarks = Seq(
      (0, 1L, 0, 0, "hello"), (0, 1L, 0, 1, "world"))
      .toDF("chain_id", "number", "ext_idx", "remark_idx", "remark")
    val out = graft.etl.Rewards
      .crowdloanRows(grain, Seq("chain_id", "number", "ext_idx"),
        Some(remarks))
      .orderBy("fund_id").collect()
      .map(r => (r.getAs[Long]("fund_id"), r.getAs[String]("memo"),
        r.getAs[String]("remark")))
    assert(out.toSeq == Seq(
      (10L, "0xm", null), // memo wins, no remark
      (11L, null, "hello"), // first memo-less pair → first remark
      (12L, null, "world"), // second pair → second remark
      (13L, null, null))) // no remarks in its extrinsic
  }

  test("rewards from raw bytes: PayoutStarted decodes via metadata tier") {
    import graft.decode.{BlockDecode, MetaDecode}
    import graft.decode.BlockDecode.{EventMeta, RuntimeMeta}
    // spec with staking pallet 6: Rewarded via hand table, PayoutStarted
    // via the metadata-driven shape interpreter — the two tiers feeding
    // ONE reward extraction
    val meta = RuntimeMeta(100, 10,
      calls = Seq.empty,
      events = Seq(EventMeta(6, 1, "staking", "Rewarded")),
      pallets = Seq(MetaDecode.StandardPallets.staking(6)))
    def u32le(v: Long): Array[Byte] =
      Array(v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    def u128le(v: Long): Array[Byte] =
      u32le(v) ++ u32le(0) ++ u32le(0) ++ u32le(0)
    val aliceB = Codec.hexToBytes(alice)
    val bytes = (Seq[Array[Byte]](Array(8.toByte)) ++ Seq( // compact(2)
      // PayoutStarted(era=42, stash=alice) via metadata tier (idx 8)
      Array(0.toByte), u32le(0), Array(6.toByte, 8.toByte),
      u32le(42), aliceB, Array(0.toByte),
      // Rewarded(alice, 777) via hand table (idx 1)
      Array(0.toByte), u32le(0), Array(6.toByte, 1.toByte),
      aliceB, u128le(777), Array(0.toByte))).reduce(_ ++ _)
    val evs = BlockDecode.decodeEvents(Codec.bytesToHex(bytes), meta)
    assert(evs.map(e => (e.section, e.method)) ==
      Seq(("staking", "PayoutStarted"), ("staking", "Rewarded")))
    assert(evs(0).data.contains("\"eraIndex\":42"))
    // the decoded rows drive the REAL extraction operator
    val flat = evs.zipWithIndex.map { case (e, i) =>
      (0, 200L, 0, i, e.section, e.method, e.data)
    }.toDF("chain_id", "number", "ext_idx", "event_idx",
      "section", "method", "data")
    val rows = graft.etl.Rewards
      .rewardRows(flat, Seq("chain_id", "number", "ext_idx")).collect()
    assert(rows.length == 1)
    assert(rows(0).getAs[Long]("era") == 42L)
    assert(rows(0).getAs[java.math.BigDecimal]("amount_raw")
      .longValueExact == 777L)
  }

  test("specversions dimension: first finalized block per spec, feeds " +
      "the as-of dispatch") {
    val dim = Dump.specVersions(raw)
      .orderBy("chain_id", "spec_version").collect()
    // chain 0 spec 100 first seen at block 100 (fork excluded by the
    // finalized filter); chain 2000 spec 52 at block 7
    assert(dim.map(r => (r.getAs[Int]("chain_id"),
      r.getAs[Int]("spec_version"), r.getAs[Long]("block_number"),
      r.getAs[String]("block_hash"))).toSeq ==
      Seq((0, 100, 100L, "0xb100"), (2000, 52, 7L, "0xk7")))
    // the dimension drives the as-of selection
    import spark.implicits._
    val resolved = graft.decode.TraceDecode.withSpecVersion(
      Seq(100L, 101L).toDF("block_number"),
      Dump.specVersions(raw).filter(col("chain_id") === 0))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(resolved == Map(100L -> 100, 101L -> 100))
    // whole-table overwrite writer round-trips
    val root = java.nio.file.Files
      .createTempDirectory("graft_specv").toString
    assert(Dump.dumpSpecVersions(raw, root).count() == 2)
  }

  test("dumpTracesDay: traces + balances date partitions from wire rows") {
    import graft.model.RawTrace
    val pfx = graft.functions.Codec.bytesToHex(
      graft.functions.Codec.twox128("System".getBytes("UTF-8")) ++
        graft.functions.Codec.twox128("Account".getBytes("UTF-8")),
      prefix = false)
    // AccountInfo value: nonce 7, refcounts, free 5×10^10 (=5.0),
    // reserved 0, frozen 0 — little-endian u32 + three u128s
    val acctVal = "0x" + "07000000" + "01000000" + "01000000" +
      "00000000" +
      "00743ba40b000000" + "00" * 8 + // free = 0x0ba43b7400 LE
      "00" * 16 + "00" * 16
    val whoHex = "cd" * 32
    val rows = Seq(
      RawTrace(0, 300L, "0xb300", ts("2024-03-01 09:00:00"), 0,
        s"0x$pfx${"ab" * 16}$whoHex", acctVal, finalized = true),
      // unknown storage prefix — kept with section/storage 'unknown'
      RawTrace(0, 300L, "0xb300", ts("2024-03-01 09:00:00"), 1,
        "0x" + "ee" * 48, "0x04", finalized = true),
      // unfinalized and other-day rows must be excluded
      RawTrace(0, 301L, "0xdead", ts("2024-03-01 09:06:00"), 0,
        s"0x$pfx${"ab" * 16}$whoHex", acctVal, finalized = false),
      RawTrace(0, 400L, "0xb400", ts("2024-03-02 09:00:00"), 0,
        s"0x$pfx${"ab" * 16}$whoHex", acctVal, finalized = true)
    ).toDF()
    val dim = graft.decode.TraceDecode.keyedPrefixDim(spark, Seq(
      ("System", "Account", "blake2_128concat", 32)))
    val dir = java.nio.file.Files
      .createTempDirectory("graft_traces_spec").toString
    val day1 = Dump.dumpTracesDay(rows, dim, "2024-03-01", dir)
    val tr = day1("traces").collect()
      .map(r => r.getAs[String]("trace_id") ->
        (r.getAs[String]("section"), r.getAs[String]("storage"),
          r.getAs[String]("pk_extra"))).toMap
    assert(tr.keySet == Set("300-0", "300-1")) // day + finalized only
    assert(tr("300-0") == ("System", "Account", whoHex))
    assert(tr("300-1") == ("unknown", "unknown", null)) // kept, flagged
    val bal = day1("balances").collect()
    assert(bal.length == 1) // only the System.Account row decodes
    val b = bal.head
    assert(b.getAs[String]("trace_id") == "300-0")
    assert(b.getAs[String]("address_pubkey") == whoHex)
    assert(b.getAs[Long]("nonce") == 7L)
    assert(b.getAs[java.math.BigDecimal]("free_raw").longValueExact
      == 50000000000L)
    assert(b.getAs[Double]("free") == 5.0)
    // the read-back keeps the published string partition column
    assert(b.getAs[String]("log_dt") == "2024-03-01")
    // day-2 re-dump replaces only its own partition (idempotent); the
    // narrow day slice is not computed ahead of the two writes
    var day2 = scala.collection.MapView.empty[String, DataFrame]
    assert(SparkTestBase.framesComputedFirst(spark) {
      day2 = Dump.dumpTracesDay(rows, dim, "2024-03-02", dir)
    } == 0)
    val both = day2("balances")
    assert(both.count() == 2)
    assert(both.select("log_dt").distinct().count() == 2)
  }

  test("usd decoration: transfers price/amount_usd, extrinsics and " +
      "root calls fee_usd, unpriced rows keep nulls") {
    val usdRaw = Seq(
      RawBlock(0, 200L, "0xu200", "0xu199", ts("2024-03-01 10:00:00"),
        100, alice, finalized = true,
        extrinsics = Seq(RawExtrinsic(0, "0xu0", "utility", "batch",
          batchParams, signed = true, alice, 0.25, okEvents,
          transfers = Seq(xfer))),
        logs = Nil),
      RawBlock(0, 201L, "0xu201", "0xu200", ts("2024-03-01 11:00:00"),
        100, bob, finalized = true,
        extrinsics = Seq(RawExtrinsic(0, "0xu1", "balances", "transfer",
          """{"section":"balances","method":"transfer","args":{}}""",
          signed = true, bob, 0.1, okEvents,
          transfers = Seq(RawTransfer(bob, alice, "DOT",
            "0x4a817c800", 10)))), // 2×10^10 raw = 2.0
        logs = Nil),
      // a priced payout: the rewards decoration path
      RawBlock(0, 202L, "0xu202", "0xu201", ts("2024-03-01 11:30:00"),
        100, alice, finalized = true,
        extrinsics = Seq(RawExtrinsic(0, "0xu2", "staking",
          "payoutStakers",
          """{"section":"staking","method":"payoutStakers"}""",
          signed = true, alice, 0.0, Seq(
            RawEvent(0, "staking", "PayoutStarted",
              """{"eraIndex":9}"""),
            RawEvent(1, "staking", "Rewarded",
              s"""{"stash":"$alice","amount":777}""")), Nil)),
        logs = Nil)
    ).toDF()
    // one price point at 10:30: the 10:00 rows predate it (null usd —
    // the reference's priceUSD-miss path), the 11:00 rows price at 7.0
    val priceLog = Seq(("DOT~0", 0, ts("2024-03-01 10:30:00"), 7.0))
      .toDF("asset", "chain_id", "index_ts", "price_usd")
    val chains = Seq((0, "DOT~0", 10))
      .toDF("chain_id", "native_asset", "decimals")
    val dir =
      java.nio.file.Files.createTempDirectory("graft_dump_usd").toString
    val t = Dump.dumpDay(usdRaw, "2024-03-01", dir,
      Some(Dump.UsdDims(priceLog, chains)))
    val tr = t("transfers")
      .select("extrinsic_id", "amount", "price_usd", "amount_usd")
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), Option(r.get(2)), Option(r.get(3)))).toMap
    assert(tr("200-0") == (1.0, None, None)) // before the first point
    assert(tr("201-0") == (2.0, Some(7.0), Some(14.0)))
    val ex = t("extrinsics").select("extrinsic_id", "fee_usd")
      .collect().map(r => r.getString(0) -> Option(r.get(1))).toMap
    assert(ex("200-0").isEmpty) // unpriced fee
    assert(ex("201-0").contains(0.1 * 7.0))
    val calls = t("calls")
      .select("extrinsic_id", "call_id", "fee_usd").collect()
      .map(r => (r.getString(0), r.getString(1)) -> Option(r.get(2)))
      .toMap
    assert(calls(("201-0", "0")).contains(0.1 * 7.0)) // root priced
    assert(calls(("200-0", "0")).isEmpty) // root, unpriced
    assert(calls(("200-0", "0_0")).isEmpty) // leaf: no fee → no fee_usd
    // rewards: native-token valuation with base-unit scaling
    // (ref decorateFeedReward: amount = raw/10^decimals, × price)
    val rw = t("rewards").collect()
    assert(rw.length == 1)
    val expAmt = 777.0 / math.pow(10.0, 10)
    assert(rw.head.getAs[Double]("amount") == expAmt)
    assert(rw.head.getAs[Double]("price_usd") == 7.0)
    assert(rw.head.getAs[Double]("amount_usd") == expAmt * 7.0)
    // the written layout carries the decorated columns too
    assert(t("transfers").columns
      .count(Set("price_usd", "amount_usd")) == 2)
  }

  test("bench stage synthesis feeds dumpDay without schema drift") {
    // the stage:dump_day builder must keep producing the exact nested
    // schema the eight projections expect — run it small so a drift
    // fails here in seconds, not in the next bench round. The counts
    // must be NON-EMPTY: a day-filter misalignment (e.g. a timezone
    // slip in the synthesized block_time) would otherwise "pass" by
    // measuring an empty dump
    val counts = Dump.warmDumpDay(spark, SparkTestBase.sf)
    assert(counts("blocks") > 0 && counts("rewards") > 0 &&
      counts("crowdloan") > 0, s"empty synthesized dump: $counts")
  }

  test("idempotent partition overwrite: re-dump day 1, then dump day 2") {
    Dump.dumpDay(raw, "2024-03-01", outRoot) // replay same day
    // the day is a narrow filtered scan: no count job before the writes
    var landed = scala.collection.MapView.empty[String, DataFrame]
    assert(SparkTestBase.framesComputedFirst(spark) {
      landed = Dump.dumpDay(raw, "2024-03-02", outRoot)
    } == 0)
    val blocks = landed("blocks")
    // day 1 not duplicated by the replay; day 2 appended
    assert(blocks.filter(col("log_dt") === "2024-03-01").count() == 2)
    assert(blocks.filter(col("log_dt") === "2024-03-02").count() == 1)
    assert(blocks.filter(col("chain_id") === 2000).count() == 1)
  }

  // ---- E22: relay-level crowdloan repackaging (ref substrateetl.js:
  // 4766-4860 dump_relaychain_crowdloan) ----

  test("relay crowdloan: one row per Contributed event, parent " +
      "extrinsic decoration, no memo pairing, relay-only") {
    // rewardRaw: chain 0 block 200 ext 1 (utility.batch, 0xe8) carries
    // Contributed(alice, 2000, 999) + MemoUpdated + Contributed(bob,
    // 2001, 888) — the relay table takes the two Contributed EVENTS
    // and never the memo pair
    val c = Dump.relayCrowdloan(rewardRaw, "2024-03-01")
      .orderBy("para_id").collect()
    assert(c.length == 2)
    assert(c.map(_.getAs[String]("event_id")).toSeq ==
      Seq("200-1-0", "200-1-2"))
    val r0 = c(0)
    assert(r0.getAs[String]("extrinsic_id") == "200-1" &&
      r0.getAs[String]("extrinsic_hash") == "0xe8")
    assert(r0.getAs[String]("extrinsic_section_method") ==
      "utility:batch")
    assert(r0.getAs[String]("event_section_method") ==
      "crowdloan(Contributed)")
    assert(r0.getAs[String]("contributor_pubkey") == alice)
    // relay prefix 0, not the generic 42 the per-chain entity uses
    assert(r0.getAs[String]("contributor") ==
      "15oF4uVJwmo4TdGW7VfQxNLavjCXviqxT9S1MgbjMNHr6Sp5")
    assert(c(1).getAs[String]("contributor") ==
      Codec.ss58Encode(Codec.hexToBytes(bob), 0))
    assert(r0.getAs[Long]("para_id") == 2000L &&
      r0.getAs[java.math.BigDecimal]("amount_raw")
        .longValueExact == 999L)
    // dims-less: decorated columns present as nulls (partition-
    // invariant schema, like the other daily tables)
    assert(r0.isNullAt(r0.fieldIndex("contribution")) &&
      r0.isNullAt(r0.fieldIndex("project_name")))
    // a para chain's blocks never leak into the relay table
    assert(Dump.relayCrowdloan(rewardRaw, "2024-03-01",
      relayChainId = 2000).count() == 0)
  }

  test("relay crowdloan: usd + project decoration, idempotent " +
      "partition write") {
    val priceLog = Seq(("DOT~0", 0,
        ts("2024-03-01 00:00:00"), 7.0))
      .toDF("asset", "chain_id", "index_ts", "price_usd")
    val chains = Seq((0, "DOT~0", 10))
      .toDF("chain_id", "native_asset", "decimals")
    val projects = Seq((2000L, "Acala"), (2001L, "Moonbeam"))
      .toDF("para_id", "project_name")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_relay_cl").toString
    val out = Dump.dumpRelayCrowdloanDay(rewardRaw, "2024-03-01", dir,
        usd = Some(Dump.UsdDims(priceLog, chains)),
        projects = Some(projects))
      .orderBy("para_id").collect()
    assert(out.length == 2)
    val exp = 999d / 1e10
    assert(out(0).getAs[Double]("contribution") == exp)
    assert(out(0).getAs[Double]("contribution_usd") == exp * 7.0)
    assert(out(0).getAs[String]("contribution_symbol") == "DOT")
    assert(out(0).getAs[String]("project_name") == "Acala" &&
      out(1).getAs[String]("project_name") == "Moonbeam")
    // replace semantics: re-dumping the day does not duplicate it
    val back = Dump.dumpRelayCrowdloanDay(rewardRaw, "2024-03-01", dir,
      usd = Some(Dump.UsdDims(priceLog, chains)),
      projects = Some(projects))
    assert(back.count() == 2)
    assert(back.columns.contains("log_dt"))
  }

  // ---- row-local per-extrinsic tables: transfers, rewards and
  // crowdloan group by the extrinsic the raw block already nests ----

  test("transfers: a duplicate emit collapses inside its extrinsic, the " +
      "same transfer in two extrinsics of one block stays twice") {
    val twoExt = Seq(RawBlock(0, 300L, "0xb300", "0xb299",
      ts("2024-03-01 09:00:00"), 100, alice, finalized = true,
      extrinsics = Seq(
        RawExtrinsic(0, "0xt0", "balances", "transfer",
          """{"section":"balances","method":"transfer","args":{}}""",
          signed = true, alice, 0.1, okEvents, Seq(xfer, xfer)),
        RawExtrinsic(1, "0xt1", "balances", "transfer",
          """{"section":"balances","method":"transfer","args":{}}""",
          signed = true, alice, 0.1, okEvents, Seq(xfer))),
      logs = Nil)).toDF()
    val t = Dump.transfers(twoExt, "2024-03-01")
      .select("extrinsic_id", "amount").collect()
      .map(r => (r.getString(0), r.getDouble(1))).sorted.toSeq
    assert(t == Seq(("300-0", 1.0), ("300-1", 1.0)))
  }

  test("transfers, rewards and crowdloan plan without a shuffle, window " +
      "or sort-merge join, with and without USD dims") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, SortMergeJoinExec}
    import org.apache.spark.sql.execution.window.WindowExec
    // every operator of the FINAL (post-AQE) plan, query stages and
    // subqueries included
    def operators(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => operators(a.executedPlan)
      case q: QueryStageExec => q +: operators(q.plan)
      case other => other +: (other.children ++ other.subqueries)
          .flatMap(operators)
    }
    // the columns only the price-interval dim carries
    val priceCols = Set("index_ts", "px_until", "_px_from", "_px_until")
    // the columns the chain-registry and token-decimals dims join in
    val dimCols = Set("native_asset", "asset", "decimals")
    val dims = Dump.UsdDims(
      Seq(("DOT~0", 0, ts("2024-03-01 00:00:00"), 7.0))
        .toDF("asset", "chain_id", "index_ts", "price_usd"),
      Seq((0, "DOT~0", 10)).toDF("chain_id", "native_asset", "decimals"))
    val day = raw.unionByName(rewardRaw)
    // one ERC-20 transfer, and one XCM transfer with its match
    val evmTxs = Seq((2006, "0xt1", 7L, "0xb7", ts("2024-03-01 10:00:00")))
      .toDF("chain_id", "transaction_hash", "block_number", "block_hash",
        "block_timestamp")
    val evmReceipts = Seq(("0xt1", 1, 21000L, BigDecimal(10),
        Seq(EvmLog("0xtok", Seq(graft.decode.EvmDecode.TransferTopic,
          EvmWire.pad32("0x" + "aa" * 20), EvmWire.pad32("0x" + "bb" * 20)),
          "0x" + EvmWire.wordOf(500)))))
      .toDF("transaction_hash", "status", "gas_used",
        "effective_gas_price", "logs")
    val toks = Seq(("0xtok", 2)).toDF("token_address", "decimals")
    val xcm = Seq(("5-1", 0, 0, 0, 2004, "DOT", 10.0,
        ts("2024-03-01 10:00:00"), "0xm1", 10L, alice))
      .toDF("extrinsic_id", "transfer_index", "xcm_index", "chain_id",
        "chain_id_dest", "symbol", "amount_sent", "source_ts",
        "msg_hash", "sent_at", "sender_pub")
    val xcmMatched = graft.etl.XcmMatcher.matchTransfers(xcm,
      Seq((2004, "0xm1", ts("2024-03-01 10:00:30"), 900L, 10.0, 0.0,
          "900-1-1", 0))
        .toDF("chain_id_dest", "msg_hash", "dest_ts", "block_number_dest",
          "amount_received", "xcm_teleport_fees", "event_id", "reaped"))
    def tables(usd: Option[Dump.UsdDims]): Seq[(String, DataFrame)] = Seq(
      "extrinsics" -> Dump.extrinsics(day, "2024-03-01", usd),
      "transfers" -> Dump.transfers(day, "2024-03-01", usd),
      "calls" -> Dump.calls(day, "2024-03-01", usd),
      "rewards" -> Dump.rewards(day, "2024-03-01", usd),
      "crowdloan" -> Dump.crowdloan(day, "2024-03-01"),
      "relay crowdloan" -> Dump.relayCrowdloan(day, "2024-03-01", usd = usd),
      "evmtransfers" -> graft.etl.EvmDump.evmtransfersOf(evmTxs,
        evmReceipts, "2024-03-01", usd, usd.map(_ => toks)),
      "xcmtransfers" -> graft.etl.XcmExport.xcmTransfers(xcm, xcmMatched,
        "2024-03-01", usd))
    // the EVM and XCM exports join their inputs; only the day tables
    // are row-local
    val joined = Set("evmtransfers", "xcmtransfers")
    // a dims-less projection prices against the empty dims, whose index
    // is built without a Spark job
    assert(SparkTestBase.jobsDuring(spark)(tables(None)) == 0)
    val schemas = scala.collection.mutable.Map[(String, Boolean), StructType]()
    for (usd <- Seq(None, Some(dims)); (name, df) <- tables(usd)) {
      schemas((name, usd.isDefined)) = df.schema
      assert(df.collect().nonEmpty, s"$name: empty, the plan is vacuous")
      val ops = operators(df.queryExecution.executedPlan)
      val bad = ops.collect {
        case s: ShuffleExchangeLike => s.nodeName
        case w: WindowExec => w.nodeName
        case j: SortMergeJoinExec => j.nodeName
      }
      assert(joined(name) || bad.isEmpty,
        s"$name (usd=${usd.isDefined}): $bad in\n" +
        df.queryExecution.executedPlan)
      // the as-of price is a row-local probe: no operator broadcasts
      // the price intervals or joins against them; the chain-registry
      // broadcast (native asset and decimals) stays
      val priced = ops.collect {
        case b: BroadcastExchangeLike
            if b.output.exists(a => priceCols(a.name) || a.name == "price_usd") =>
          b.nodeName
        case j: BaseJoinExec
            if (j.left.output ++ j.right.output).exists(a => priceCols(a.name)) =>
          j.nodeName
      }
      assert(priced.isEmpty, s"$name (usd=${usd.isDefined}): $priced in\n" +
        df.queryExecution.executedPlan)
      // without dims the empty registry and token dims fold away in the
      // optimizer, before AQE could run a broadcast stage to find them
      // empty: the planned (pre-AQE) plan neither broadcasts them nor
      // joins against them
      if (usd.isEmpty) {
        val dimOps = operators(df.queryExecution.sparkPlan).collect {
          case b: BroadcastExchangeLike if b.output.exists(a => dimCols(a.name)) =>
            b.nodeName
          case j: BaseJoinExec if (j.left.output ++ j.right.output)
              .exists(a => dimCols(a.name)) =>
            j.nodeName
        }
        assert(dimOps.isEmpty, s"$name (usd=None): $dimOps in\n" +
          df.queryExecution.sparkPlan)
      }
      if (usd.isDefined && Set("extrinsics", "calls", "rewards")(name))
        assert(ops.exists {
          case b: BroadcastExchangeLike => b.output.exists(_.name == "chain_id")
          case _ => false
        }, s"$name: no chain-registry broadcast in\n" +
          df.queryExecution.executedPlan)
    }
    // one schema with and without dims: names, order, types, nullability
    for (name <- schemas.keySet.map(_._1))
      assert(schemas((name, false)) == schemas((name, true)),
        s"$name: ${schemas((name, false)).treeString} without dims, " +
          s"${schemas((name, true)).treeString} with dims")
  }
}
