package graft

import graft.decode.EvmDecode
import graft.etl.{Dump, EvmDump}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** EvmDump — the EVM-side daily export composition (evmtxs fee
  * decomposition, evmtransfers normalization + USD decoration, account
  * rollups, empty-day read-backs). The oracle queries (k12–k14) pin the
  * write→read round trip cross-engine; this spec pins the branches the
  * rollups flatten away: exact per-row fee math, the 1155 batch
  * re-group, value_usd arithmetic, and the empty-table schema contract.
  */
class EvmDumpSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def ts(s: Long) = new java.sql.Timestamp(s * 1000)

  private def txRow(hash: String, is1559: Boolean, input: String = "0x") =
    (0, hash, 1, 0, "0x" + "aa" * 20, "0x" + "bb" * 20,
      BigDecimal(1000000), 50000L, BigDecimal(10),
      if (is1559) Some(BigDecimal(14)) else None,
      if (is1559) Some(BigDecimal(1)) else None,
      if (is1559) 2 else 0, input, 7L, "0xb7", ts(1700000000L),
      "7-0", "0xe7")

  private val txCols = Seq("chain_id", "transaction_hash", "nonce",
    "transaction_index", "from_address", "to_address", "value", "gas",
    "gas_price", "max_fee_per_gas", "max_priority_fee_per_gas",
    "transaction_type", "input", "block_number", "block_hash",
    "block_timestamp", "extrinsic_id", "extrinsic_hash")

  private def rxRow(hash: String, effective: Int,
      contract: Option[String] = None) =
    (hash, 1, 21000L, 42000L, BigDecimal(effective), contract,
      Seq.empty[EvmLog])

  private val rxCols = Seq("transaction_hash", "status", "gas_used",
    "cumulative_gas_used", "effective_gas_price", "contract_address",
    "logs")

  test("evmtxs fee decomposition: legacy, 1559, pending") {
    val txs = Seq(
      txRow("0xl", is1559 = false, input = "0xa9059cbb" + "0" * 64),
      txRow("0xf", is1559 = true),
      txRow("0xp", is1559 = true) // no receipt
    ).toDF(txCols: _*)
    val rx = Seq(
      rxRow("0xl", effective = 10),
      rxRow("0xf", effective = 12, contract = Some("0xc1"))
    ).toDF(rxCols: _*)
    val sigs = Seq(("0xa9059cbb", "transfer(address,uint256)"))
      .toDF("selector", "signature")
    val out = EvmDump.evmtxsOf(txs, rx, "2024-03-01", Some(sigs))
      .collect().map(r => r.getAs[String]("hash") -> r).toMap
    // legacy (ethTool.js:853): fee = gas_used × gas_price; burn zeroes,
    // and txn_saving exports NULL — the reference DELETES txnSaving for
    // legacy txs (ethTool.js:909-911), it does not export 0
    val l = out("0xl")
    assert(l.getAs[java.math.BigDecimal]("fee").longValue == 21000L * 10)
    assert(l.getAs[java.math.BigDecimal]("burned_fee").longValue == 0L)
    assert(l.getAs[java.math.BigDecimal]("txn_saving") == null)
    assert(l.getAs[String]("method_id") == "0xa9059cbb")
    assert(l.getAs[String]("signature") == "transfer(address,uint256)")
    // 1559 (ethTool.js:857-861): base = effective_gas_price; burned =
    // gas_used × base; saving = (max_fee − base) × gas_used
    val f = out("0xf")
    assert(f.getAs[java.math.BigDecimal]("burned_fee").longValue ==
      21000L * 12)
    assert(f.getAs[java.math.BigDecimal]("txn_saving").longValue ==
      21000L * (14 - 12))
    assert(f.getAs[String]("receipt_contract_address") == "0xc1")
    // a value-send input below a selector keeps method_id null
    assert(f.getAs[String]("method_id") == null)
    // pending: every receipt-derived column stays null
    val p = out("0xp")
    assert(p.getAs[java.math.BigDecimal]("fee") == null)
    assert(p.getAs[java.math.BigDecimal]("burned_fee") == null)
    assert(p.getAs[java.math.BigDecimal]("txn_saving") == null)
    assert(p.get(p.fieldIndex("receipt_status")) == null)
  }

  test("evm dataset logs/token_transfers: registry-less nulls, " +
      "pending rows drop") {
    val txs = Seq(
      txRow("0xa", is1559 = false),
      txRow("0xp", is1559 = true) // pending: no receipt, no log rows
    ).toDF(txCols: _*)
    val lg = EvmLog("0xt1",
      Seq(EvmDecode.TransferTopic,
        "0x" + "0" * 24 + "a" * 40, "0x" + "0" * 24 + "b" * 40),
      "0x" + "0" * 63 + "7")
    val rx = Seq((("0xa"), 1, 21000L, 42000L, BigDecimal(10),
      Option.empty[String], Seq(lg))).toDF(rxCols: _*)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_evmds").toString
    var out =
      scala.collection.MapView.empty[String, org.apache.spark.sql.DataFrame]
    // the tx⋈receipt join is computed ahead of the three writes
    assert(SparkTestBase.framesComputedFirst(spark) {
      out = graft.etl.EvmDump.dumpEvmDataset(txs, rx, "2024-03-01", dir)
    } == 1)
    val logs = out("logs").collect()
    assert(logs.length == 1, "pending tx must yield no log rows")
    // no chains/signature registries: typed-null id + signature
    assert(logs.head.getAs[String]("id") == null &&
      logs.head.getAs[String]("signature") == null)
    assert(logs.head.getSeq[String](
      logs.head.fieldIndex("topics")).length == 3)
    val tt = out("token_transfers").collect()
    assert(tt.length == 1 && tt.head.getAs[String]("value") == "7")
    assert(tt.head.getAs[String]("to_address") == "0x" + "b" * 40)
  }

  test("evm dataset transactions: ether scaling, pending kept, " +
      "identity dropped, null receipt_root/access_list/params") {
    val txs = Seq(
      txRow("0xl", is1559 = false, input = "0xa9059cbb" + "0" * 64),
      txRow("0xp", is1559 = true) // pending: receipt columns null
    ).toDF(txCols: _*)
    val rx = Seq((("0xl"), 1, 21000L, 42000L, BigDecimal(10),
      Option.empty[String], Seq.empty[EvmLog])).toDF(rxCols: _*)
    val sigs = Seq(("0xa9059cbb", "transfer(address,uint256)"))
      .toDF("selector", "signature")
    val chains = Seq((0, "moonbeam")).toDF("chain_id", "id")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_evmds_tx").toString
    val out = graft.etl.EvmDump.dumpEvmDataset(txs, rx, "2024-03-01",
      dir, chains = Some(chains), signatures = Some(sigs))
    val t = out("transactions").collect()
      .map(r => r.getAs[String]("hash") -> r).toMap
    // pending rows stay (eth-etl's stream has them; only receipt
    // columns null) — unlike logs/token_transfers which drop them
    assert(t.size == 2)
    val l = t("0xl")
    // wei → ether: one exact decimal→double cast + ONE division
    assert(l.getAs[Double]("fee") == 21000.0 * 10 / 1.0e18)
    assert(l.getAs[Double]("burned_fee") == 0.0)
    assert(l.getAs[String]("id") == "moonbeam")
    assert(l.getAs[Boolean]("decoded") &&
      l.getAs[String]("signature") == "transfer(address,uint256)")
    // the substrate identity is gone; the eth-etl-only columns export
    // typed nulls (post-Byzantium receipts, no access lists, no
    // abirepo params — the logs.events scope note)
    assert(!t("0xl").schema.fieldNames.contains("extrinsic_id"))
    assert(l.getAs[String]("receipt_root") == null &&
      l.getAs[String]("access_list") == null &&
      l.getAs[String]("params") == null)
    val p = t("0xp")
    assert(p.get(p.fieldIndex("fee")) == null &&
      p.get(p.fieldIndex("receipt_status")) == null)
    assert(!p.getAs[Boolean]("decoded")) // 0x value send: no selector
  }

  test("evmtxs: negative txn_saving exports NULL (ethTool.js:913-915)") {
    // a 1559 tx whose max_fee (14) sits BELOW the inclusion price (20)
    // would compute a negative saving — the reference deletes the field
    val txs = Seq(txRow("0xn", is1559 = true)).toDF(txCols: _*)
    val rx = Seq(rxRow("0xn", effective = 20)).toDF(rxCols: _*)
    val out = EvmDump.evmtxsOf(txs, rx, "2024-03-01").collect().head
    assert(out.getAs[java.math.BigDecimal]("txn_saving") == null)
    // burned_fee is NOT clamped: it stays gas_used × effective
    assert(out.getAs[java.math.BigDecimal]("burned_fee").longValue ==
      21000L * 20)
  }

  import EvmWire.pad32
  private def word(v: Long) = EvmWire.wordOf(v)

  test("evmtransfers: 1155 batch regroup + ERC20 value_usd") {
    val from = "0x" + "aa" * 20
    val to = "0x" + "bb" * 20
    val op = "0x" + "cc" * 20
    // TransferBatch data: offsets (0x40, 0xa0), then [2; 7, 3], [2; 5, 9]
    // — ids deliberately NOT ascending (7 then 3) to pin sort order
    val batchData = "0x" + word(0x40) + word(0xa0) +
      word(2) + word(7) + word(3) + word(2) + word(5) + word(9)
    val logs = Seq(
      EvmLog("0xtok", Seq(EvmDecode.TransferTopic, pad32(from),
        pad32(to)), "0x" + word(500)),
      EvmLog("0xnft", Seq(EvmDecode.TransferBatchTopic, pad32(op),
        pad32(from), pad32(to)), batchData))
    val txs = Seq(txRow("0xt1", is1559 = false)).toDF(txCols: _*)
    val rx = Seq(("0xt1", 1, 21000L, 21000L, BigDecimal(10),
      None: Option[String], logs))
      .toDF(rxCols: _*)
    val priceLog = Seq(("0xtok", 0, ts(1600000000L), 2.0))
      .toDF("asset", "chain_id", "index_ts", "price_usd")
    val toks = Seq(("0xtok", 2)).toDF("token_address", "decimals")
    val out = EvmDump.evmtransfersOf(txs, rx, "2024-03-01",
      Some(Dump.UsdDims(priceLog, spark.emptyDataFrame)), Some(toks))
      .collect().map(r => r.getAs[String]("transfer_type") -> r).toMap
    val e20 = out("ERC20")
    assert(e20.getAs[String]("value") == "500")
    // 500 raw ÷ 10^2 × $2 as-of
    assert(math.abs(e20.getAs[Double]("value_usd") - 10.0) < 1e-9)
    assert(e20.getAs[String]("block_hash") == "0xb7")
    val b = out("ERC1155")
    assert(b.getAs[String]("operator") == op)
    // pairs (7,5) and (3,9) canonicalized by token_id: (3,9) first
    assert(b.getAs[String]("token_ids") == "[3,7]")
    assert(b.getAs[String]("token_values") == "[9,5]")
    assert(b.getAs[String]("value") == null)
    assert(b.get(b.fieldIndex("value_usd")) == null)
  }

  test("unbounded token ids/values export past the decimal(38,0) cap") {
    val from = "0x" + "aa" * 20
    val to = "0x" + "bb" * 20
    // ENS-style keccak-derived token id — ~1e77, far past decimal(38,0)
    val hugeId = "0x" + "f" * 64
    val hugeDec = BigInt(1, Array.fill[Byte](32)(-1)).toString
    val logs = Seq(
      EvmLog("0xnft", Seq(EvmDecode.TransferTopic, pad32(from),
        pad32(to), hugeId), "0x"),
      // ERC-20 amount likewise past the cap
      EvmLog("0xtok", Seq(EvmDecode.TransferTopic, pad32(from),
        pad32(to)), hugeId))
    val txs = Seq(txRow("0xt1", is1559 = false)).toDF(txCols: _*)
    val rx = Seq(("0xt1", 1, 21000L, 21000L, BigDecimal(10),
      None: Option[String], logs)).toDF(rxCols: _*)
    val out = EvmDump.evmtransfersOf(txs, rx, "2024-03-01")
      .collect().map(r => r.getAs[String]("transfer_type") -> r).toMap
    assert(out("ERC721").getAs[String]("token_ids") == s"[$hugeDec]")
    assert(out("ERC20").getAs[String]("value") == hugeDec)
    // value_usd arithmetic path (the decimal twin) nulls out, row kept
    assert(out("ERC20").get(
      out("ERC20").fieldIndex("value_usd")) == null)
  }

  test("duplicate selectors in the signature registry do not fan out") {
    val txs = Seq(
      txRow("0xl", is1559 = false, input = "0xa9059cbb" + "0" * 64)
    ).toDF(txCols: _*)
    val rx = Seq(rxRow("0xl", effective = 10)).toDF(rxCols: _*)
    // two contract ABIs both define transfer(address,uint256)
    val sigs = Seq(
      ("0xa9059cbb", "transfer(address,uint256)"),
      ("0xa9059cbb", "transfer(address,uint256)")
    ).toDF("selector", "signature")
    val out = EvmDump.evmtxsOf(txs, rx, "2024-03-01", Some(sigs))
      .collect()
    assert(out.length == 1)
    assert(out.head.getAs[String]("signature") ==
      "transfer(address,uint256)")
  }

  test("evmtxsOf accepts the documented slim receipt frame (no logs)") {
    val txs = Seq(txRow("0xl", is1559 = false)).toDF(txCols: _*)
    val slim = Seq(("0xl", 1, 21000L, 42000L, BigDecimal(10),
      None: Option[String]))
      .toDF("transaction_hash", "status", "gas_used",
        "cumulative_gas_used", "effective_gas_price",
        "contract_address")
    val out = EvmDump.evmtxsOf(txs, slim, "2024-03-01").collect()
    assert(out.length == 1)
    assert(out.head.getAs[java.math.BigDecimal]("fee").longValue ==
      21000L * 10)
  }

  test("guarded-null 1155 word renders JSON null, arrays stay aligned") {
    val from = "0x" + "aa" * 20
    val to = "0x" + "bb" * 20
    val op = "0x" + "cc" * 20
    // TransferSingle data: id word is non-hex garbage (guarded null),
    // value word valid — the pair must export as [null] / [5]
    val garbageData = "0x" + "zz" * 32 + word(5)
    val logs = Seq(EvmLog("0xnft",
      Seq(EvmDecode.TransferSingleTopic, pad32(op), pad32(from),
        pad32(to)), garbageData))
    val txs = Seq(txRow("0xt1", is1559 = false)).toDF(txCols: _*)
    val rx = Seq(("0xt1", 1, 21000L, 21000L, BigDecimal(10),
      None: Option[String], logs)).toDF(rxCols: _*)
    val out = EvmDump.evmtransfersOf(txs, rx, "2024-03-01").collect()
    assert(out.length == 1)
    assert(out.head.getAs[String]("token_ids") == "[null]")
    assert(out.head.getAs[String]("token_values") == "[5]")
  }

  test("accountsevm rollups: anti-join + empty-day read-back") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_evmacct_spec").toString
    val evmtxs = Seq(
      ("0xa1", ts(100)), ("0xa1", ts(200)), ("0xa2", ts(150))
    ).toDF("from_address", "block_timestamp")
    val evmtr = Seq(
      ("0xa1", ts(300)), // active sender: excluded from passive
      ("0xp1", ts(400)), ("0xp1", ts(250))
    ).toDF("to_address", "block_timestamp")
    val out = EvmDump.dumpEvmAccountsDay(evmtxs, evmtr, "2004",
      "polkadot", "2024-03-01", dir)
    val act = out("accountsevmactive").collect()
      .map(r => r.getAs[String]("from_address") ->
        r.getAs[Long]("transaction_count")).toMap
    assert(act == Map("0xa1" -> 2L, "0xa2" -> 1L))
    val pas = out("accountsevmpassive").collect()
    assert(pas.map(_.getAs[String]("address")).toSeq == Seq("0xp1"))
    assert(pas.head.getAs[java.sql.Timestamp]("ts") == ts(400))
    assert(pas.head.getAs[String]("para_id") == "2004")
    // a day with no passive touches writes an EMPTY partition — the
    // schema-supplied read-back must stay readable with full schema
    val dir2 = java.nio.file.Files
      .createTempDirectory("graft_evmacct_spec2").toString
    val none = EvmDump.dumpEvmAccountsDay(evmtxs,
      evmtr.filter(col("to_address") === "0xa1"), "2004", "polkadot",
      "2024-03-01", dir2)
    val empty = none("accountsevmpassive")
    assert(empty.count() == 0)
    assert(empty.columns.toSeq ==
      Seq("para_id", "relay_chain", "address", "ts", "log_dt"))
  }
}
