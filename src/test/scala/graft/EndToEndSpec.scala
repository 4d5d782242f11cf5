package graft

import graft.decode.{BlockDecode, MetaDecode}
import graft.decode.BlockDecode.{EventMeta, RuntimeMeta}
import graft.etl.{Dump, Views}
import graft.functions.Codec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

/** The whole user story in one test: genuinely RAW SCALE bytes →
  * [[BlockDecode.decodeBlocks]] (spec-resolved, hand + metadata event
  * tiers) → [[Dump.dumpDay]]'s eight entity tables +
  * [[Dump.dumpSpecVersions]] → [[Views]]' dune-style serving views →
  * a SQL answer (per-era reward totals) a reference user would read
  * off the exported tables. Every stage is the production code path —
  * nothing is stubbed between the wire bytes and the answer. */
class EndToEndSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def cp(v: Long): Array[Byte] = Codec.compactEncode(BigInt(v))
  private def u32le(v: Long): Array[Byte] =
    Array.tabulate(4)(i => ((v >> (8 * i)) & 0xff).toByte)
  private def u128le(v: BigInt): Array[Byte] = {
    val le = v.toByteArray.dropWhile(_ == 0).reverse
    le ++ Array.fill[Byte](16 - le.length)(0)
  }
  private def b(xs: Array[Byte]*): Array[Byte] = xs.flatten.toArray
  private def ts(s: String) = Timestamp.valueOf(s)

  private val alice = Codec.hexToBytes(
    "d43593c715fdd31c61141abd04a99fd6822c8558854ccde39a5684e7a56da27d")
  private val bob = Codec.hexToBytes(
    "8eaf04151687736326c9fea17e25fc5287613693c912909cb226aa4794f26a48")

  /** Spec 100: timestamp pallet 3 (hand table), staking pallet 6
    * (Rewarded via hand table, PayoutStarted via the metadata tier),
    * crowdloan pallet 7 (fully metadata-driven). */
  private val m100 = RuntimeMeta(100, 10,
    calls = Seq(BlockDecode.CallMeta(3, 0, "timestamp", "set")),
    events = Seq(
      EventMeta(0, 0, "system", "ExtrinsicSuccess"),
      EventMeta(6, 1, "staking", "Rewarded")),
    pallets = Seq(MetaDecode.StandardPallets.staking(6),
      MetaDecode.StandardPallets.crowdloan(7)))

  private def envelope(call: Array[Byte]): String = {
    val body = b(Array(0x04.toByte), call) // unsigned
    Codec.bytesToHex(b(cp(body.length), body))
  }
  private def tsSet(millis: Long) =
    b(Array(3.toByte, 0.toByte), cp(millis))

  // event wire bytes: phase ApplyExtrinsic(0) ‖ pallet ‖ variant ‖
  // fields ‖ topics(0)
  private def success(exIdx: Int) =
    b(Array(0.toByte), u32le(exIdx), Array(0.toByte, 0.toByte),
      cp(1000), cp(0), Array(0.toByte, 0.toByte), cp(0))
  private def payoutStarted(exIdx: Int, era: Long, stash: Array[Byte]) =
    b(Array(0.toByte), u32le(exIdx), Array(6.toByte, 8.toByte),
      u32le(era), stash, cp(0)) // metadata tier: eraIndex u32, stash
  private def rewarded(exIdx: Int, stash: Array[Byte], amt: Long) =
    b(Array(0.toByte), u32le(exIdx), Array(6.toByte, 1.toByte),
      stash, u128le(BigInt(amt)), cp(0)) // hand tier
  private def contributed(exIdx: Int, who: Array[Byte], fund: Long,
      amt: Long) =
    b(Array(0.toByte), u32le(exIdx), Array(7.toByte, 2.toByte),
      who, u32le(fund), u128le(BigInt(amt)), cp(0)) // metadata tier
  private def eventsHex(evs: Array[Byte]*): String =
    Codec.bytesToHex(b(cp(evs.length.toLong) +: evs: _*))

  test("raw bytes -> decode -> 8-table dump -> views -> per-era answer") {
    // two blocks: era-123 payout (alice 700, bob 300), then an era-124
    // payout (alice 500) plus a crowdloan contribution
    val raw = Seq(
      (0, 1L, "0xb1", "0xb0", ts("2024-03-01 10:00:00"), true,
        Codec.bytesToHex(alice),
        Seq(envelope(tsSet(1709287200000L))),
        eventsHex(payoutStarted(0, 123L, alice),
          rewarded(0, alice, 700L), rewarded(0, bob, 300L),
          success(0))),
      (0, 2L, "0xb2", "0xb1", ts("2024-03-01 11:00:00"), true,
        Codec.bytesToHex(alice),
        Seq(envelope(tsSet(1709290800000L))),
        eventsHex(payoutStarted(0, 124L, alice),
          rewarded(0, alice, 500L),
          contributed(0, bob, 2024L, 888L), success(0)))
    ).toDF("chain_id", "number", "hash", "parent_hash", "block_time",
      "finalized", "author_pub", "extrinsics_hex", "events_hex")
    val specVersions = Seq((1L, 100)).toDF("block_number", "spec_version")

    // decode the wire bytes through the production tiers
    val decoded = BlockDecode.decodeBlocks(raw, specVersions, Seq(m100))

    // full dump: 8 entity tables + the specversions dimension
    val root = java.nio.file.Files
      .createTempDirectory("graft_e2e").toString
    val tables = Dump.dumpDay(decoded.toDF(), "2024-03-01", root)
    assert(tables.keySet == Set("blocks", "extrinsics", "events",
      "transfers", "calls", "logs", "rewards", "crowdloan"))
    assert(Dump.dumpSpecVersions(decoded.toDF(), root).count() == 1)

    // serving views over the dump layout (empty tables skipped)
    val views = Views.register(spark, "polkadot", root,
      ts("2024-03-02 00:00:00"))
    assert(views.contains("rewards") && views.contains("crowdloan"))

    // the answer a reference user reads off the rewards export:
    // per-era totals, era attached by the running PayoutStarted marker
    val eras = spark.sql(
      """SELECT era, CAST(sum(amount_raw) AS BIGINT) AS total,
        | count(*) AS n
        |FROM dune_polkadot_rewards GROUP BY era ORDER BY era"""
        .stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(eras.toSeq == Seq((123L, 1000L, 2L), (124L, 500L, 1L)))

    // and the crowdloan row arrived with its account normalized
    val cl = spark.sql(
      "SELECT para_id, account_ss58 FROM dune_polkadot_crowdloan")
      .collect()
    assert(cl.length == 1 && cl(0).getLong(0) == 2024L)
    assert(cl(0).getString(1) ==
      "5FHneW46xGXgs5mUiveU4sbTyGBzmstUspZC92UhjJM694ty")
  }
}
