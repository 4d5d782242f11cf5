package graft

import graft.etl.Contracts
import graft.functions.Codec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Contracts — the WASM contracts/contractscode/contractscall export
  * composition (ref substrateetl.js:2520-2645). The oracled queries pin
  * the write→read round trip cross-engine; this spec pins the branches
  * the rollups flatten: last-store-wins per code hash, the Instantiated
  * gate, the numeric gates on gas/deposit/value, message decode through
  * the selector registry, and the caller_ss58 divergence. */
class ContractsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def ts(s: Long) = new java.sql.Timestamp(s * 1000)
  private def pk(b: Byte) = Codec.bytesToHex(Array.fill[Byte](32)(b))
  private def ss58(b: Byte, net: Int = 42) =
    Codec.ss58Encode(Array.fill[Byte](32)(b), net)

  private val eventCols = Seq("chain_id", "event_id", "section",
    "method", "data", "extrinsic_id", "extrinsic_hash", "block_time",
    "block_number", "block_hash")

  private def event(eid: String, section: String, method: String,
      data: String, bn: Long) =
    (22000, eid, section, method, data, eid.split("-").take(2)
      .mkString("-"), s"0xe$eid", ts(1700000000L + bn), bn, s"0xb$bn")

  // code 0xc1 stored twice (block 10 by signer aa, block 20 by bb —
  // the LAST wins); code 0xc2 stored once by an unsigned extrinsic
  private lazy val events = Seq(
    event("10-0-0", "contracts", "CodeStored", """["0xc1"]""", 10L),
    event("20-0-0", "contracts", "CodeStored", """["0xc1"]""", 20L),
    event("30-0-0", "contracts", "CodeStored", """["0xc2"]""", 30L),
    event("40-0-0", "contracts", "Instantiated",
      s"""["${ss58(3)}","${ss58(4)}"]""", 40L),
    event("41-0-0", "balances", "Transfer", """["x"]""", 41L)
  ).toDF(eventCols: _*)

  private lazy val extrinsics = Seq(
    (22000, "10-0", pk(1)),
    (22000, "20-0", pk(2)),
    (22000, "40-0", pk(4)),
    (22000, "50-0", pk(5))
  ).toDF("chain_id", "extrinsic_id", "signer_pub_key")

  // state side: contract addr 3 runs code c1; addr 9 (never
  // instantiated in-window) runs c2
  private lazy val contractInfo = Seq(
    (22000, pk(3), "0xc1", "100", "5", "50", "10", "60"),
    (22000, pk(9), "0xc2", "7", "1", "3", "1", "4")
  ).toDF("chain_id", "address_pub_key", "code_hash", "storage_bytes",
    "storage_items", "storage_byte_deposit", "storage_item_deposit",
    "storage_base_deposit")

  private lazy val chains =
    Seq((22000, "karura", 8)).toDF("chain_id", "id", "ss58_prefix")

  private def callRow(eid: String, dest: String, gas: String,
      sdl: String, value: String, data: String) =
    (22000, eid, s"0xe$eid", ts(1700005000L), 50L, "0xb50",
      "contracts", "call",
      s"""{"dest":{"id":"$dest"},"gas_limit":$gas,""" +
        s""""storage_deposit_limit":$sdl,"value":$value,""" +
        s""""data":"$data"}""")

  private lazy val calls = Seq(
    // known contract, numeric gas, hex deposit, hex value, flip() call
    callRow("50-0", ss58(3), "\"10000\"", "\"0x0400\"", "\"0x64\"",
      "0x633aa551"),
    // weights-v2 gas object -> "0"; short deposit -> "0"; unknown
    // selector survives with null decoded_call
    callRow("50-1", ss58(3),
      """{"ref_time":"1000","proof_size":"100"}""", "null", "\"25\"",
      "0xdeadbeef"),
    // call to a contract outside the dim drops (inner join)
    callRow("50-2", ss58(7), "\"1\"", "null", "\"0\"", "0x633aa551")
  ).toDF("chain_id", "extrinsic_id", "extrinsic_hash", "block_time",
    "block_number", "block_hash", "call_section", "call_method",
    "call_args")

  private lazy val specs = Seq(("0xc1", "0x633aa551", "flip",
    Seq.empty[String])).toDF("code_hash", "selector", "method",
    "arg_types")

  test("wasmCodeRows: last store wins per code hash, signer enriched") {
    graft.functions.Udfs.register(spark)
    val rows = Contracts.wasmCodeRows(events, extrinsics)
      .collect().map(r => r.getAs[String]("code_hash") -> r).toMap
    assert(rows.size == 2)
    val c1 = rows("0xc1")
    assert(c1.getAs[Long]("block_number") == 20L)
    assert(c1.getAs[String]("storer_pub_key") == pk(2))
    assert(c1.getAs[String]("extrinsic_id") == "20-0")
    // unsigned extrinsic: storer stays null, the row survives
    assert(rows("0xc2").getAs[String]("storer_pub_key") == null)
  }

  test("contracts export: instantiate gate, code join, ss58 round trip") {
    graft.functions.Udfs.register(spark)
    val dim = Contracts.chainDimOf(chains)
    assert(dim.collect().head.getAs[String]("relay_chain") == "kusama")
    assert(dim.collect().head.getAs[Int]("para_id") == 2000)
    val code = Contracts.wasmCodeRows(events, extrinsics)
    val contract = Contracts.contractRows(contractInfo, events)
    val out = Contracts.contracts(contract, code, dim).collect()
    // addr 9 was never Instantiated in-window -> dropped (ref :2697)
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[String]("address_pub_key") == pk(3))
    // ss58 encodes with the CHAIN prefix and round-trips to the pubkey
    assert(Codec.bytesToHex(
      Codec.ss58Decode(r.getAs[String]("address_ss58"))._2) == pk(3))
    assert(Codec.ss58Decode(r.getAs[String]("address_ss58"))._1 == 8)
    assert(r.getAs[String]("deployer_pub_key") == pk(4))
    assert(r.getAs[String]("block_number_stored") == "20")
    assert(r.getAs[String]("block_number_instantiated") == "40")
    assert(r.getAs[String]("storage_bytes") == "100")
    assert(r.getAs[String]("contract_name") == null)
  }

  test("contractscall: gates, decode, unknown-contract drop, " +
      "caller_ss58 divergence") {
    graft.functions.Udfs.register(spark)
    val dim = Contracts.chainDimOf(chains)
    val code = Contracts.wasmCodeRows(events, extrinsics)
    val contract = Contracts.contractRows(contractInfo, events)
    val rows = Contracts.contractsCalls(
      Contracts.contractCallRows(calls, extrinsics), contract, code,
      dim, specs = Some(specs))
      .collect().map(r => r.getAs[String]("extrinsic_id") -> r).toMap
    assert(rows.size == 2, "the unknown-contract call must drop")
    val a = rows("50-0")
    assert(a.getAs[String]("gas_limit") == "10000")
    assert(a.getAs[String]("storage_deposit_limit") == "1024")
    assert(a.getAs[String]("value") == "100")
    assert(a.getAs[String]("decoded_call") != null &&
      a.getAs[String]("decoded_call").contains("flip"))
    assert(a.getAs[String]("code_hash") == "0xc1")
    // the reference gates caller_ss58 on DEPLOYER presence (:2674, a
    // wrong-guard bug); here the caller encodes whenever known
    assert(a.getAs[String]("caller_pub_key") == pk(5))
    assert(Codec.bytesToHex(Codec.ss58Decode(
      a.getAs[String]("caller_ss58"))._2) == pk(5))
    val b = rows("50-1")
    assert(b.getAs[String]("gas_limit") == "0",
      "weights-v2 object gas must gate to 0")
    assert(b.getAs[String]("storage_deposit_limit") == "0")
    assert(b.getAs[String]("value") == "25")
    assert(b.getAs[String]("decoded_call") == null,
      "unknown selector keeps the row with null decode")
  }

  test("event-data tolerance: named-object args with pubkey hex (the " +
      "engine's decode shape), numeric same-block tie-break, " +
      "code-gap left join") {
    graft.functions.Udfs.register(spark)
    val ev = Seq(
      // the decode tier's shape: named args, AccountId as 0x pubkey
      event("60-0-0", "contracts", "CodeStored",
        """{"code_hash":"0xc9"}""", 60L),
      event("61-0-0", "contracts", "Instantiated",
        s"""{"deployer":"${pk(4)}","contract":"${pk(3)}"}""", 61L),
      // same-block double store: extrinsic indices 9 and 10 tie on
      // block_number — the NUMERIC id must rank 10 over 9
      (22000, "70-9-0", "contracts", "CodeStored", """["0xc9"]""",
        "70-9", "0xe709", ts(1700000070L), 70L, "0xb70"),
      (22000, "70-10-0", "contracts", "CodeStored", """["0xc9"]""",
        "70-10", "0xe710", ts(1700000070L), 70L, "0xb70")
    ).toDF(eventCols: _*)
    val code = Contracts.wasmCodeRows(ev, extrinsics)
      .collect().map(r => r.getAs[String]("code_hash") -> r).toMap
    assert(code("0xc9").getAs[String]("extrinsic_id") == "70-10",
      "string ordering would pick 70-9 over 70-10")
    val contract = Contracts.contractRows(contractInfo, ev)
      .collect().map(r => r.getAs[String]("address_pub_key") -> r).toMap
    assert(contract(pk(3)).getAs[String]("deployer_pub_key") == pk(4))
    assert(contract(pk(3)).getAs[Long]("block_number_instantiated")
      == 61L)
    // a call to a contract whose code was stored BEFORE the corpus:
    // the contract dim knows it (state), wasmCode doesn't — the call
    // row must survive with null storer (left code join)
    val info = Seq((22000, pk(6), "0xff", "1", "1", "1", "1", "1"))
      .toDF(contractInfo.columns: _*)
    val calls2 = Seq(callRow("50-0", ss58(6), "\"5\"", "null", "\"1\"",
      "0x633aa551")).toDF(calls.columns: _*)
    val rows = Contracts.contractsCalls(
      Contracts.contractCallRows(calls2, extrinsics),
      Contracts.contractRows(info, ev.limit(0)),
      Contracts.wasmCodeRows(ev, extrinsics),
      Contracts.chainDimOf(chains)).collect()
    assert(rows.length == 1 && rows.head.getAs[String]("code_hash")
      == "0xff")
    assert(rows.head.getAs[String]("storer_pub_key") == null)
    // flat-pubkey dest (the flattened call_args shape) also resolves
    val calls3 = Seq((22000, "50-0", "0xe50", ts(1700005000L), 50L,
      "0xb50", "contracts", "call",
      s"""{"dest":"${pk(6)}","value":"1","data":"0x633aa551"}"""))
      .toDF(calls.columns: _*)
    assert(Contracts.contractCallRows(calls3, extrinsics)
      .collect().head.getAs[String]("address_pub_key") == pk(6))
  }

  test("end-to-end from raw bytes: contracts pallet decode feeds the " +
      "three exports (StandardPallets.contracts)") {
    import graft.decode.BlockDecode
    import graft.decode.BlockDecode.RuntimeMeta
    import graft.decode.MetaDecode.StandardPallets
    import graft.functions.{Codec, Udfs}
    Udfs.register(spark)
    def cp(v: Long) = Codec.compactEncode(BigInt(v))
    def u32le(v: Long) = Array.tabulate(4)(i =>
      ((v >> (8 * i)) & 0xff).toByte)
    def b(xs: Array[Byte]*) = xs.flatten.toArray
    val alice = Array.fill[Byte](32)(0xa1.toByte)
    val charlie = Array.fill[Byte](32)(0xc3.toByte)
    val codeHash = Array.fill[Byte](32)(0xc1.toByte)
    val sig = Array.fill[Byte](64)(1)
    val meta = RuntimeMeta(100, 10,
      calls = Seq.empty, events = Seq(
        graft.decode.BlockDecode.EventMeta(0, 0, "system",
          "ExtrinsicSuccess")),
      pallets = Seq(StandardPallets.contracts(8)))
    def envelope(signer: Array[Byte], call: Array[Byte]) = {
      val body = b(Array(0x84.toByte), Array(0.toByte), signer, sig,
        Array(0.toByte), cp(7), cp(0), call)
      Codec.bytesToHex(b(cp(body.length), body))
    }
    def success(i: Int) = b(Array(0.toByte), u32le(i),
      Array(0.toByte, 0.toByte), cp(1000), cp(0),
      Array(0.toByte, 0.toByte), cp(0))
    // contracts.call(dest=Id(charlie), value 100, gas 5000,
    // sdl Some(7000) — a 4-char DECIMAL the reference's hex-length
    // gate must not zero — data = the flip() selector)
    val callBytes = b(Array(8.toByte, 6.toByte), Array(0.toByte),
      charlie, cp(100), cp(5000), Array(1.toByte), cp(7000), cp(4),
      Codec.hexToBytes("0x633aa551"))
    val codeStored = b(Array(0.toByte), u32le(0),
      Array(8.toByte, 2.toByte), codeHash, cp(0))
    val instantiated = b(Array(0.toByte), u32le(0),
      Array(8.toByte, 0.toByte), alice, charlie, cp(0))
    def eventsHex(evs: Array[Byte]*) =
      Codec.bytesToHex(b(cp(evs.length.toLong) +: evs: _*))
    val raw = Seq((22000, 1L, "0xb1", "0xb0",
      new java.sql.Timestamp(1709251200000L), true, "0xaa",
      Seq(envelope(alice, callBytes)),
      eventsHex(success(0), codeStored, instantiated))
    ).toDF("chain_id", "number", "hash", "parent_hash", "block_time",
      "finalized", "author_pub", "extrinsics_hex", "events_hex")
    val decoded = BlockDecode.decodeBlocks(raw,
      Seq((1L, 100)).toDF("block_number", "spec_version"),
      Seq(meta)).toDF()
    val info = Seq((22000, Codec.bytesToHex(charlie),
      Codec.bytesToHex(codeHash), "9", "2", "3", "1", "4"))
      .toDF(contractInfo.columns: _*)
    val out = Contracts.dumpContracts(
      graft.etl.Dump.events(decoded, "2024-03-01"),
      graft.etl.Dump.extrinsics(decoded, "2024-03-01"),
      graft.etl.Dump.calls(decoded, "2024-03-01"),
      info, chains,
      java.nio.file.Files.createTempDirectory("graft_c2e").toString,
      specs = Some(Seq((Codec.bytesToHex(codeHash), "0x633aa551",
        "flip", Seq.empty[String]))
        .toDF("code_hash", "selector", "method", "arg_types")))
    val code = out("contractscode").collect()
    assert(code.length == 1 &&
      code.head.getAs[String]("code_hash") == Codec.bytesToHex(codeHash))
    assert(code.head.getAs[String]("storer_pub_key") ==
      Codec.bytesToHex(alice))
    val contracts = out("contracts").collect()
    assert(contracts.length == 1)
    assert(contracts.head.getAs[String]("address_pub_key") ==
      Codec.bytesToHex(charlie))
    assert(contracts.head.getAs[String]("deployer_pub_key") ==
      Codec.bytesToHex(alice))
    assert(contracts.head.getAs[String]("block_number_stored") == "1")
    val call = out("contractscall").collect()
    assert(call.length == 1)
    assert(call.head.getAs[String]("gas_limit") == "5000")
    assert(call.head.getAs[String]("value") == "100")
    assert(call.head.getAs[String]("storage_deposit_limit") == "7000")
    assert(call.head.getAs[String]("caller_pub_key") ==
      Codec.bytesToHex(alice))
    assert(Option(call.head.getAs[String]("decoded_call"))
      .exists(_.contains("flip")))
  }

  test("weights-v2 runtime: contractsV2 keeps the cursor aligned and " +
      "the object gas_limit gates to 0") {
    import graft.decode.BlockDecode
    import graft.decode.BlockDecode.RuntimeMeta
    import graft.decode.MetaDecode.StandardPallets
    import graft.functions.{Codec, Udfs}
    Udfs.register(spark)
    def cp(v: Long) = Codec.compactEncode(BigInt(v))
    def u32le(v: Long) = Array.tabulate(4)(i =>
      ((v >> (8 * i)) & 0xff).toByte)
    def b(xs: Array[Byte]*) = xs.flatten.toArray
    val alice = Array.fill[Byte](32)(0xa1.toByte)
    val dave = Array.fill[Byte](32)(0xd4.toByte)
    val codeHash = Array.fill[Byte](32)(0xc2.toByte)
    val meta = RuntimeMeta(200, 10,
      calls = Seq.empty, events = Seq(
        graft.decode.BlockDecode.EventMeta(0, 0, "system",
          "ExtrinsicSuccess")),
      pallets = Seq(StandardPallets.contractsV2(8)))
    def envelope(signer: Array[Byte], call: Array[Byte]) = {
      val body = b(Array(0x84.toByte), Array(0.toByte), signer,
        Array.fill[Byte](64)(1), Array(0.toByte), cp(7), cp(0), call)
      Codec.bytesToHex(b(cp(body.length), body))
    }
    def success(i: Int) = b(Array(0.toByte), u32le(i),
      Array(0.toByte, 0.toByte), cp(1000), cp(0),
      Array(0.toByte, 0.toByte), cp(0))
    // gas_limit = Weight{ref_time: 9000, proof_size: 64} — two
    // compacts; the args AFTER it must still decode correctly
    val callBytes = b(Array(8.toByte, 6.toByte), Array(0.toByte),
      dave, cp(100), cp(9000), cp(64), Array(1.toByte), cp(7000),
      cp(4), Codec.hexToBytes("0x633aa551"))
    // v2 CodeStored: code_hash + deposit_held(u128) + uploader
    val codeStored = b(Array(0.toByte), u32le(0),
      Array(8.toByte, 2.toByte), codeHash,
      Array.fill[Byte](16)(0), alice, cp(0))
    val raw = Seq((22000, 5L, "0xb5", "0xb4",
      new java.sql.Timestamp(1709251500000L), true, "0xaa",
      Seq(envelope(alice, callBytes)),
      Codec.bytesToHex(b(cp(2L), success(0), codeStored)))
    ).toDF("chain_id", "number", "hash", "parent_hash", "block_time",
      "finalized", "author_pub", "extrinsics_hex", "events_hex")
    val decoded = BlockDecode.decodeBlocks(raw,
      Seq((5L, 200)).toDF("block_number", "spec_version"),
      Seq(meta)).toDF()
    val callRows = Contracts.contractCallRows(
      graft.etl.Dump.calls(decoded, "2024-03-01"),
      graft.etl.Dump.extrinsics(decoded, "2024-03-01"))
      .collect()
    assert(callRows.length == 1)
    val r = callRows.head
    // the object-shaped gas gates to "0" (ref isNumeric), and the
    // LATER args survive the two-compact Weight — the cursor stayed
    // aligned
    assert(r.getAs[String]("gas_limit") == "0")
    assert(r.getAs[String]("storage_deposit_limit") == "7000")
    assert(r.getAs[String]("value") == "100")
    assert(r.getAs[String]("address_pub_key") == Codec.bytesToHex(dave))
    val code = Contracts.wasmCodeRows(
      graft.etl.Dump.events(decoded, "2024-03-01"),
      graft.etl.Dump.extrinsics(decoded, "2024-03-01")).collect()
    assert(code.length == 1 &&
      code.head.getAs[String]("code_hash") == Codec.bytesToHex(codeHash))
  }

  test("dumpContracts: three whole-table replaces, re-run idempotent") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_contracts").toString
    def run() = Contracts.dumpContracts(events, extrinsics, calls,
      contractInfo, chains, root, specs = Some(specs))
    val t1 = run()
    val counts1 = t1.mapValues(_.count()).toMap
    assert(counts1 == Map("contractscode" -> 2L, "contracts" -> 1L,
      "contractscall" -> 2L))
    // whole-table replace: a second publish replaces, never appends;
    // both latest-wins frames are computed ahead of the three writes
    var t2 = t1
    assert(SparkTestBase.framesComputedFirst(spark) { t2 = run() } == 2)
    assert(t2.mapValues(_.count()).toMap == counts1)
    // published schema field check against contracts.json essentials
    val cols = t1("contracts").columns.toSet
    for (c <- Seq("relay_chain", "id", "para_id", "address_pub_key",
        "address_ss58", "deployer_ss58", "code_hash", "deployed_ts",
        "storage_base_deposit", "constructor", "salt"))
      assert(cols.contains(c), s"contracts missing $c")
  }
}
