package graft

import graft.decode.BlockDecode
import graft.decode.BlockDecode.{CallMeta, EventMeta, RuntimeMeta}
import graft.decode.MetaDecode._
import graft.etl.{AccountRelations, Dump}
import graft.functions.{Codec, Udfs}
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

/** proxyaccount/multisigaccount relation tables end-to-end FROM RAW
  * BYTES: proxy.addProxy / removeProxy / multisig.asMulti are decoded
  * purely through the metadata tier (no hand dispatch table), flattened
  * by Dump, and rolled into live relation edges + the related-accounts
  * serve lookup (ref polkaholic.sql:3736,3776; query.js:3542). */
class AccountRelationsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def cp(v: Long): Array[Byte] = Codec.compactEncode(BigInt(v))
  private def u32le(v: Long): Array[Byte] =
    Array.tabulate(4)(i => ((v >> (8 * i)) & 0xff).toByte)
  private def u16le(v: Int): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
  private def b(xs: Array[Byte]*): Array[Byte] = xs.flatten.toArray

  private val alice = Codec.hexToBytes(
    "d43593c715fdd31c61141abd04a99fd6822c8558854ccde39a5684e7a56da27d")
  private val bob = Codec.hexToBytes(
    "8eaf04151687736326c9fea17e25fc5287613693c912909cb226aa4794f26a48")
  private val charlie = Codec.hexToBytes(
    "90b5ab205c6974c9ea841be688864633dc9ca8a357843eeacf2314649965fe22")
  private val sig = Array.fill[Byte](64)(1)
  private def hx(a: Array[Byte]) = Codec.bytesToHex(a)

  // the SHIPPED standard definitions, onboarded by pallet index alone —
  // proving the library defaults drive the relation pipeline, not
  // test-local type shapes
  private val meta = RuntimeMeta(100, 10,
    calls = Seq(CallMeta(4, 0, "balances", "transfer")),
    events = Seq(
      EventMeta(0, 0, "system", "ExtrinsicSuccess"),
      EventMeta(0, 1, "system", "ExtrinsicFailed")),
    pallets = Seq(StandardPallets.proxy(29), StandardPallets.multisig(30)))

  private def envelope(signer: Array[Byte], call: Array[Byte]): String = {
    val body = b(Array(0x84.toByte), Array(0.toByte), signer, sig,
      Array(0.toByte), cp(7), cp(0), call)
    Codec.bytesToHex(b(cp(body.length), body))
  }

  private def proxyCall(callIdx: Int, delegate: Array[Byte],
      proxyType: Int, delay: Long) =
    b(Array(29.toByte, callIdx.toByte), Array(0.toByte), delegate,
      Array(proxyType.toByte), u32le(delay))

  private def asMulti(threshold: Int, others: Seq[Array[Byte]],
      inner: Array[Byte]) =
    b(Array(30.toByte, 1.toByte), u16le(threshold),
      b(cp(others.size.toLong) +: others: _*), Array(0.toByte),
      inner, cp(1000))

  private def approveAsMulti(threshold: Int, others: Seq[Array[Byte]],
      callHash: Array[Byte]) =
    b(Array(30.toByte, 2.toByte), u16le(threshold),
      b(cp(others.size.toLong) +: others: _*), Array(0.toByte),
      callHash, cp(1000))

  private def success(exIdx: Int) =
    b(Array(0.toByte), u32le(exIdx), Array(0.toByte, 0.toByte),
      cp(1000), cp(0), Array(0.toByte, 0.toByte), cp(0))
  private def eventsHex(evs: Array[Byte]*): String =
    Codec.bytesToHex(b(cp(evs.length.toLong) +: evs: _*))
  private def ts(s: String) = Timestamp.valueOf(s)

  private lazy val raw = Seq(
    (0, 1L, "0xb1", "0xb0", ts("2024-03-01 10:00:00"), true, "0xaa",
      Seq(
        envelope(alice, proxyCall(1, bob, 0, 0)), // addProxy(bob, Any)
        envelope(alice, proxyCall(1, charlie, 3, 10))), // add(charlie, Staking)
      eventsHex(success(0), success(1))),
    (0, 2L, "0xb2", "0xb1", ts("2024-03-01 11:00:00"), true, "0xaa",
      Seq(
        envelope(alice, proxyCall(2, bob, 0, 0)), // removeProxy(bob, Any)
        envelope(alice, asMulti(2, Seq(bob),
          b(Array(4.toByte, 0.toByte), Array(0.toByte), charlie, cp(5)))),
        // approveAsMulti records membership too (fixed 32-byte hash)
        envelope(charlie, approveAsMulti(2, Seq(alice),
          Array.fill[Byte](32)(0x11)))),
      eventsHex(success(0), success(1), success(2)))
  ).toDF("chain_id", "number", "hash", "parent_hash", "block_time",
    "finalized", "author_pub", "extrinsics_hex", "events_hex")

  private lazy val specVersions =
    Seq((1L, 100)).toDF("block_number", "spec_version")

  private lazy val (callsDf, exDf) = {
    Udfs.register(spark)
    val decoded = BlockDecode.decodeBlocks(raw, specVersions, Seq(meta))
      .toDF()
    (Dump.calls(decoded, "2024-03-01"),
      Dump.extrinsics(decoded, "2024-03-01"))
  }

  test("proxyAccounts: removeProxy tombstones; latest action wins") {
    val edges = AccountRelations.proxyAccounts(callsDf, exDf)
      .collect()
      .map(r => (r.getAs[String]("delegator_pub"),
        r.getAs[String]("delegate_pub"), r.getAs[String]("proxy_type"),
        r.getAs[Long]("delay")))
    // the (alice, bob, Any) edge was added then removed; only
    // (alice, charlie, Staking) survives
    assert(edges.toSeq == Seq((hx(alice), hx(charlie), "Staking", 10L)))
  }

  test("multisigAccounts derive the pallet multisig id per member") {
    val ms = AccountRelations.multisigAccounts(callsDf, exDf).collect()
    val msAB = hx(Codec.multisigAccount(Seq(alice, bob), 2))
    val msAC = hx(Codec.multisigAccount(Seq(alice, charlie), 2))
    val edges = ms.map(r => (r.getAs[String]("multisig_pub"),
      r.getAs[String]("member_pub"))).toSet
    // asMulti by alice → {alice,bob}; approveAsMulti by charlie →
    // {charlie,alice} — both calls record membership
    assert(edges == Set(
      (msAB, hx(alice)), (msAB, hx(bob)),
      (msAC, hx(alice)), (msAC, hx(charlie))))
    assert(ms.map(_.getAs[Int]("threshold")).toSet == Set(2))
  }

  test("writeTables materializes chain-partitioned relation tables") {
    val outRoot =
      java.nio.file.Files.createTempDirectory("graft_rel").toString
    val landed = AccountRelations.writeTables(callsDf, exDf, outRoot)
    val proxy = landed("proxyaccount")
    assert(proxy.count() == 1) // only the surviving (alice, charlie) edge
    assert(proxy.columns.contains("chain_id"))
    val ms = landed("multisigaccount")
    assert(ms.count() == 4)
    // idempotent re-dump: same content, no duplication
    val again = AccountRelations.writeTables(callsDf, exDf, outRoot)
    assert(again("proxyaccount").count() == 1)
    assert(again("multisigaccount").count() == 4)
  }

  test("crowdloan standard pallet decodes contribute calls and events") {
    val cMeta = RuntimeMeta(100, 10,
      calls = Seq(CallMeta(4, 0, "balances", "transfer")),
      events = Seq(
        EventMeta(0, 0, "system", "ExtrinsicSuccess"),
        EventMeta(0, 1, "system", "ExtrinsicFailed")),
      pallets = Seq(StandardPallets.crowdloan(73)))
    // contribute(index=2013, value=7e12, signature=None)
    val call = b(Array(73.toByte, 1.toByte), cp(2013), cp(7000000000000L),
      Array(0.toByte))
    val node = BlockDecode.decodeCall(new BlockDecode.Cursor(call), cMeta)
    assert(node.section == "crowdloan" && node.method == "contribute")
    assert(node.args ==
      """{"index":2013,"value":7000000000000,"signature":null}""")
    // Contributed(alice, 2013, 7e12)
    val ev = b(cp(1), Array(0.toByte), u32le(0),
      Array(73.toByte, 2.toByte), alice, u32le(2013),
      b(cp(0).take(0), {
        val le = BigInt(7000000000000L).toByteArray
          .dropWhile(_ == 0).reverse
        le ++ Array.fill[Byte](16 - le.length)(0)
      }), cp(0))
    val out = BlockDecode.decodeEvents(Codec.bytesToHex(ev), cMeta)
    assert(out.head.section == "crowdloan" &&
      out.head.method == "Contributed")
    assert(out.head.data.contains(""""fundIndex":2013"""))
    assert(out.head.data.contains(""""amount":7000000000000"""))
  }

  test("nomination edges from raw nominate/chill bytes, latest-wins") {
    val sMeta = RuntimeMeta(100, 10,
      calls = Seq(CallMeta(4, 0, "balances", "transfer")),
      events = Seq(
        EventMeta(0, 0, "system", "ExtrinsicSuccess"),
        EventMeta(0, 1, "system", "ExtrinsicFailed")),
      pallets = Seq(StandardPallets.staking(6)))
    def nominate(targets: Seq[Array[Byte]]) =
      b(Array(6.toByte, 5.toByte), cp(targets.size.toLong),
        b(targets.map(t => b(Array(0.toByte), t)): _*))
    val chill = Array(6.toByte, 6.toByte)
    val rawS = Seq(
      (0, 1L, "0xb1", "0xb0", ts("2024-03-01 10:00:00"), true, "0xaa",
        Seq(
          envelope(alice, nominate(Seq(bob, charlie))), // replaced below
          envelope(bob, nominate(Seq(charlie)))),       // chilled below
        eventsHex(success(0), success(1))),
      (0, 2L, "0xb2", "0xb1", ts("2024-03-01 11:00:00"), true, "0xaa",
        Seq(
          envelope(alice, nominate(Seq(charlie))), // replaces block-1 set
          envelope(bob, chill)),                   // clears bob entirely
        eventsHex(success(0), success(1)))
    ).toDF("chain_id", "number", "hash", "parent_hash", "block_time",
      "finalized", "author_pub", "extrinsics_hex", "events_hex")
    val decoded = BlockDecode.decodeBlocks(rawS, specVersions,
      Seq(sMeta)).toDF()
    val edges = graft.analytics.StakingAnalytics.nominationEdgesFromCalls(
        Dump.calls(decoded, "2024-03-01"),
        Dump.extrinsics(decoded, "2024-03-01"))
      .collect()
      .map(r => (r.getAs[String]("nominator_pub"),
        r.getAs[String]("validator_pub"))).toSet
    // alice's block-2 nominate REPLACED {bob,charlie} with {charlie};
    // bob's chill removed him entirely
    assert(edges == Set((hx(alice), hx(charlie))))
  }

  test("relatedAccounts unions proxy directions and multisig relations") {
    val proxy = AccountRelations.proxyAccounts(callsDf, exDf)
    val multisig = AccountRelations.multisigAccounts(callsDf, exDf)
    val related = AccountRelations
      .relatedAccounts(proxy, multisig, hx(alice))
      .collect()
      .map(r => (r.getAs[String]("relation"), r.getAs[String]("related_pub")))
      .toSet
    val msAB = hx(Codec.multisigAccount(Seq(alice, bob), 2))
    val msAC = hx(Codec.multisigAccount(Seq(alice, charlie), 2))
    assert(related == Set(
      ("proxy_delegate", hx(charlie)),
      ("multisig_account", msAB),
      ("multisig_account", msAC),
      ("multisig_comember", hx(bob)),
      ("multisig_comember", hx(charlie))))
    // charlie sees the reverse proxy direction + his own multisig
    val rev = AccountRelations
      .relatedAccounts(proxy, multisig, hx(charlie))
      .collect()
      .map(r => (r.getAs[String]("relation"), r.getAs[String]("related_pub")))
      .toSet
    assert(rev == Set(
      ("proxy_delegator", hx(alice)),
      ("multisig_account", msAC),
      ("multisig_comember", hx(alice))))
  }
}
