package perfbench

import graft.model._
import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded input generators. Every input the benchmark feeds the engine
  * comes from here, and every generator computes its own expected output
  * counts from what it generated, never from the engine's output. The
  * same (seed, shape) always yields the same inputs.
  */
object Gen {
  val Day = "2024-03-01"
  /** 2024-03-01T00:00:00Z in epoch seconds. */
  val DayStart = 1709251200L

  def rng(seed: Long, salt: Long): scala.util.Random =
    new scala.util.Random(seed * 1000003L + salt * 7919L + 17L)

  private def hexOf(r: scala.util.Random, bytes: Int): String = {
    val b = new Array[Byte](bytes)
    r.nextBytes(b)
    b.map(x => f"${x & 0xff}%02x").mkString
  }

  /** A shared pool of account public keys (hex, no 0x prefix). */
  def accounts(seed: Long, n: Int = 3000): IndexedSeq[String] = {
    val r = rng(seed, 1)
    IndexedSeq.fill(n)(hexOf(r, 32))
  }

  /** Zipf-like skewed index in [0, n): a few hot accounts, a long tail. */
  def skewed(r: scala.util.Random, n: Int): Int =
    math.min(n - 1, (n * math.pow(r.nextDouble(), 3.0)).toInt)

  /** Counts of the dump tables, computed from the generated input. */
  final case class Expected(blocks: Long, extrinsics: Long, events: Long,
      transfers: Long, logs: Long, traces: Long, balances: Long) {
    def +(o: Expected): Expected = Expected(blocks + o.blocks,
      extrinsics + o.extrinsics, events + o.events,
      transfers + o.transfers, logs + o.logs, traces + o.traces,
      balances + o.balances)
    def asMap: Map[String, Long] = Map("blocks" -> blocks,
      "extrinsics" -> extrinsics, "events" -> events,
      "transfers" -> transfers, "logs" -> logs, "traces" -> traces,
      "balances" -> balances)
  }

  final case class ChainDay(chainId: Int, blocks: Seq[RawBlock],
      traces: Seq[RawTrace], expected: Expected)

  val SystemAccountPrefix: String = graft.functions.Codec.bytesToHex(
    graft.functions.Codec.twox128("System".getBytes("UTF-8")) ++
      graft.functions.Codec.twox128("Account".getBytes("UTF-8")),
    prefix = false)

  /** SCALE AccountInfo: nonce, 3 refcounts, free/reserved/frozen u128. */
  private def accountInfo(nonce: Int, free: Long, reserved: Long): String = {
    def le(v: Long, bytes: Int) =
      (0 until bytes).map(i =>
        if (i < 8) f"${(v >>> (8 * i)) & 0xff}%02x" else "00").mkString
    "0x" + le(nonce, 4) + le(1, 4) + le(1, 4) + le(0, 4) +
      le(free, 16) + le(reserved, 16) + le(0, 16)
  }

  private val batchParams =
    """{"section":"utility","method":"batch","args":{},""" +
      """"calls":[{"section":"balances","method":"transfer","args":{"v":1}},""" +
      """{"section":"system","method":"remark","args":{"remark":"0x6d"}}]}"""
  private def leafParams(section: String, method: String, v: Int) =
    s"""{"section":"$section","method":"$method","args":{"v":$v}}"""

  private val ok = RawEvent(0, "system", "ExtrinsicSuccess", """{"weight":1}""")

  /** One chain's UTC day: `n` finalized in-day blocks, plus unfinalized
    * fork candidates (~3%) and two finalized blocks of the next day,
    * which the dump must all drop. Extrinsics mix timestamp sets,
    * transfers (10% emitted twice), utility batches, staking payouts,
    * crowdloan contributions, failures and remarks. Traces carry
    * System.Account rows for the touched accounts plus unknown-prefix
    * rows. */
  def chainDay(seed: Long, chainId: Int, n: Int, extPerBlock: Int,
      accts: IndexedSeq[String]): ChainDay = {
    val r = rng(seed, 100 + chainId)
    val start = 1000000L + r.nextInt(1000000)
    val spacing = 86400.0 / n
    val blocks = Vector.newBuilder[RawBlock]
    val traces = Vector.newBuilder[RawTrace]
    var exp = Expected(0, 0, 0, 0, 0, 0, 0)
    def acct() = accts(skewed(r, accts.size))
    def block(i: Int, number: Long, ts: Long, finalized: Boolean,
        inDay: Boolean, hashTag: String): Unit = {
      val bt = new Timestamp(ts * 1000L)
      val hash = f"0x$hashTag%s$chainId%05d$number%012d"
      val k = r.nextInt(2 * extPerBlock + 1)
      val exts = (0 to k).map { x =>
        if (x == 0)
          RawExtrinsic(0, s"${hash}e0", "timestamp", "set",
            leafParams("timestamp", "set", 0), signed = false, null, 0.0,
            Seq(ok), Seq.empty)
        else {
          val signer = acct()
          val ehash = s"${hash}e$x"
          val fee = (1 + r.nextInt(1000)) / 1000.0
          def xfer() = RawTransfer(signer, acct(), "DOT",
            f"0x${1 + r.nextInt(1 << 30)}%x", 10)
          def xferEv(i: Int) =
            RawEvent(i, "balances", "Transfer", """{"amount":"0x1"}""")
          r.nextInt(20) match {
            case 0 => // failed transfer: no transfer emitted
              RawExtrinsic(x, ehash, "balances", "transfer",
                leafParams("balances", "transfer", x), signed = true,
                signer, fee,
                Seq(RawEvent(0, "system", "ExtrinsicFailed",
                  """{"err":"BadOrigin"}""")), Seq.empty)
            case 1 | 2 => // utility.batch: two transfers
              val ts2 = Seq(xfer(), xfer())
              RawExtrinsic(x, ehash, "utility", "batch", batchParams,
                signed = true, signer, fee,
                Seq(xferEv(0), xferEv(1), ok.copy(event_idx = 2)), ts2)
            case 3 => // staking payout: PayoutStarted + Rewarded rows
              val nr = 1 + r.nextInt(3)
              val evs = RawEvent(0, "staking", "PayoutStarted",
                s"""{"eraIndex":${1000 + r.nextInt(5)},"validatorStash":"$signer"}""") +:
                (1 to nr).map(i => RawEvent(i, "staking", "Rewarded",
                  s"""{"stash":"${acct()}","amount":${1 + r.nextInt(100000)}}""")) :+
                ok.copy(event_idx = nr + 1)
              RawExtrinsic(x, ehash, "staking", "payoutStakers",
                leafParams("staking", "payoutStakers", x), signed = true,
                signer, fee, evs, Seq.empty)
            case 4 => // crowdloan contribution
              RawExtrinsic(x, ehash, "crowdloan", "contribute",
                leafParams("crowdloan", "contribute", x), signed = true,
                signer, fee,
                Seq(RawEvent(0, "crowdloan", "Contributed",
                  s"""{"who":"$signer","fundIndex":${2000 + r.nextInt(20)},"amount":${1 + r.nextInt(50000)}}"""),
                  ok.copy(event_idx = 1)),
                Seq(xfer()))
            case 5 => // remark
              RawExtrinsic(x, ehash, "system", "remark",
                leafParams("system", "remark", x), signed = true, signer,
                fee, Seq(ok), Seq.empty)
            case _ => // transfer, 10% emitted twice
              val t = xfer()
              val ts1 = if (r.nextInt(10) == 0) Seq(t, t) else Seq(t)
              RawExtrinsic(x, ehash, "balances", "transfer",
                leafParams("balances", "transfer", x), signed = true,
                signer, fee, Seq(xferEv(0), ok.copy(event_idx = 1)), ts1)
          }
        }
      }
      val logs = Seq(RawLog("PreRuntime", s"0x${hexOf(r, 4)}"),
        RawLog("Seal", s"0x${hexOf(r, 8)}"))
      blocks += RawBlock(chainId, number, hash, f"0xb$chainId%05d${number - 1}%012d",
        bt, 100 + (i * 3 / math.max(n, 1)), acct(), finalized, exts, logs)
      // storage traces: one System.Account cell per signed extrinsic's
      // signer, plus one cell under an unknown prefix
      val touched = exts.filter(_.signed).map(_.signer_pub)
      val cells = touched.map(p =>
        (s"0x$SystemAccountPrefix${hexOf(r, 16)}$p",
          accountInfo(r.nextInt(1000), 1L + r.nextInt(Int.MaxValue), r.nextInt(1000)))) :+
        (s"0x${hexOf(r, 48)}", "0x04")
      cells.zipWithIndex.foreach { case ((kk, vv), ti) =>
        traces += RawTrace(chainId, number, hash, bt, ti, kk, vv, finalized)
      }
      if (finalized && inDay) {
        exp = exp + Expected(1, exts.size, exts.map(_.events.size).sum,
          exts.map(_.transfers.distinct.size).sum, logs.size, cells.size,
          touched.size)
      }
    }
    for (i <- 0 until n) {
      val number = start + i
      val ts = DayStart + (i * spacing).toLong + r.nextInt(math.max(1, (spacing / 2).toInt))
      block(i, number, ts, finalized = true, inDay = true, "b")
      if (r.nextInt(33) == 0)
        block(i, number, ts + 1, finalized = false, inDay = true, "f")
    }
    for (j <- 0 until 2)
      block(n + j, start + n + j, DayStart + 86400 + 60 * j,
        finalized = true, inDay = false, "b")
    ChainDay(chainId, blocks.result(), traces.result(), exp)
  }

  /** An EVM chain day: `n` transactions with receipts. Receipt logs are
    * ERC-20 transfers, ERC-721 transfers, or a custom topic the export
    * ignores; every tenth receipt has no logs. */
  final case class EvmDay(txs: DataFrame,
      receipts: DataFrame, evmtxs: Long,
      evmtransfers: Long)

  def evmDay(spark: SparkSession, seed: Long,
      chainId: Int, n: Int): EvmDay = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val r = rng(seed, 200 + chainId)
    val transferTopic = graft.decode.EvmDecode.TransferTopic
    def addr() = s"0x${hexOf(r, 20)}"
    def topic(a: String) = "0x" + "0" * 24 + a.drop(2)
    var transfers = 0L
    val start = 5000000L + r.nextInt(1000000)
    val rows = (0 until n).map { i =>
      val bn = start + i / 4
      val h = s"0x${hexOf(r, 32)}"
      val from = addr(); val to = addr()
      val logs = if (i % 10 == 9) Seq.empty[Row] else
        (0 until 1 + r.nextInt(3)).map { _ =>
          r.nextInt(3) match {
            case 0 =>
              transfers += 1
              Row(s"0x${hexOf(r, 20)}", Seq(transferTopic, topic(from), topic(to)),
                f"0x${1 + r.nextInt(1 << 30)}%064x")
            case 1 =>
              transfers += 1
              Row(s"0x${hexOf(r, 20)}", Seq(transferTopic, topic(from), topic(to),
                f"0x${r.nextInt(100000)}%064x"), "0x")
            case _ =>
              Row(s"0x${hexOf(r, 20)}", Seq(s"0x${hexOf(r, 32)}", topic(from)), "0x")
          }
        }
      val ts = new Timestamp((DayStart + (i.toLong * 86400 / n)) * 1000L)
      (Row(chainId, h, r.nextInt(500), i % 4, from, to,
        new java.math.BigDecimal(r.nextInt(1000000)), 21000L + r.nextInt(100000),
        new java.math.BigDecimal(1 + r.nextInt(100)), null, null, 0, "0x", bn,
        f"0xb$chainId%05d$bn%012d", ts, null, null),
        Row(h, if (r.nextInt(20) == 0) 0 else 1, 21000L + r.nextInt(50000),
          21000L + r.nextInt(500000), new java.math.BigDecimal(1 + r.nextInt(100)),
          null, logs))
    }
    val d38 = DecimalType(38, 0)
    val txSchema = StructType(Seq(
      StructField("chain_id", IntegerType), StructField("transaction_hash", StringType),
      StructField("nonce", IntegerType), StructField("transaction_index", IntegerType),
      StructField("from_address", StringType), StructField("to_address", StringType),
      StructField("value", d38), StructField("gas", LongType),
      StructField("gas_price", d38), StructField("max_fee_per_gas", d38),
      StructField("max_priority_fee_per_gas", d38),
      StructField("transaction_type", IntegerType), StructField("input", StringType),
      StructField("block_number", LongType), StructField("block_hash", StringType),
      StructField("block_timestamp", TimestampType),
      StructField("extrinsic_id", StringType), StructField("extrinsic_hash", StringType)))
    val logType = StructType(Seq(StructField("address", StringType),
      StructField("topics", ArrayType(StringType)), StructField("data", StringType)))
    val rcSchema = StructType(Seq(
      StructField("transaction_hash", StringType), StructField("status", IntegerType),
      StructField("gas_used", LongType), StructField("cumulative_gas_used", LongType),
      StructField("effective_gas_price", d38), StructField("contract_address", StringType),
      StructField("logs", ArrayType(logType))))
    import scala.jdk.CollectionConverters._
    EvmDay(spark.createDataFrame(rows.map(_._1).asJava, txSchema),
      spark.createDataFrame(rows.map(_._2).asJava, rcSchema), n, transfers)
  }

  /** A WASM contracts chain: code stores, instantiations (contract
    * state for each) and calls to the live contracts. Expected counts:
    * one contractscode row per stored code hash, one contracts row per
    * instantiated contract, one contractscall row per call. */
  final case class WasmDay(events: DataFrame,
      extrinsics: DataFrame,
      calls: DataFrame,
      contractInfo: DataFrame,
      chains: DataFrame,
      codeRows: Long, contractRows: Long, callRows: Long)

  def wasmDay(spark: SparkSession, seed: Long,
      chainId: Int, nContracts: Int, nCalls: Int,
      accts: IndexedSeq[String]): WasmDay = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{array, col, concat, expr, lit,
      struct, to_json, when}
    graft.functions.Udfs.register(spark)
    val r = rng(seed, 300 + chainId)
    val nCodes = math.max(1, nContracts / 3)
    val codes = IndexedSeq.fill(nCodes)(s"0x${hexOf(r, 32)}")
    val addrs = IndexedSeq.fill(nContracts)(s"0x${hexOf(r, 32)}")
    // (block, ext idx, method, data pubkeys or code hash, signer)
    val stores = codes.zipWithIndex.map { case (c, i) =>
      (100L + i, 0, "CodeStored", c, "", accts(skewed(r, accts.size))) }
    val inst = addrs.zipWithIndex.map { case (a, i) =>
      (1000L + i, 1, "Instantiated", a, accts(skewed(r, accts.size)),
        accts(skewed(r, accts.size))) }
    val evs = (stores ++ inst).toDF("bn", "idx", "method", "a", "b", "signer")
      .select(lit(chainId).as("chain_id"),
        concat(col("bn"), lit("-"), col("idx"), lit("-0")).as("event_id"),
        concat(col("bn"), lit("-"), col("idx")).as("extrinsic_id"),
        concat(lit("0xe"), col("bn"), lit("_"), col("idx")).as("extrinsic_hash"),
        (lit(DayStart) + col("bn")).cast("timestamp").as("block_time"),
        col("bn").as("block_number"),
        concat(lit("0xb"), col("bn")).as("block_hash"),
        lit("contracts").as("section"), col("method"),
        when(col("method") === "CodeStored", to_json(array(col("a"))))
          .otherwise(to_json(array(expr("ss58_encode(a, 42)"),
            expr("ss58_encode(b, 42)")))).as("data"),
        col("signer"))
    val exts = evs.select(col("chain_id"), col("extrinsic_id"),
      col("signer").as("signer_pub_key"))
    val info = addrs.zipWithIndex.map { case (a, i) =>
      (a, codes(i % nCodes), i) }.toDF("a", "code", "i")
      .select(lit(chainId).as("chain_id"), col("a").as("address_pub_key"),
        col("code").as("code_hash"),
        (col("i") * 10).cast("string").as("storage_bytes"),
        (col("i") % 7).cast("string").as("storage_items"),
        (col("i") * 3).cast("string").as("storage_byte_deposit"),
        col("i").cast("string").as("storage_item_deposit"),
        (col("i") * 5 + 1).cast("string").as("storage_base_deposit"))
    val calls = (0 until nCalls).map { i =>
      (5000L + i, addrs(skewed(r, nContracts)), r.nextInt(100000),
        r.nextInt(1000), accts(skewed(r, accts.size))) }
      .toDF("bn", "dest", "gas", "value", "signer")
      .select(lit(chainId).as("chain_id"),
        concat(col("bn"), lit("-1-0")).as("event_id"),
        concat(col("bn"), lit("-1")).as("extrinsic_id"),
        concat(lit("0xe"), col("bn")).as("extrinsic_hash"),
        (lit(DayStart) + col("bn")).cast("timestamp").as("block_time"),
        col("bn").as("block_number"),
        concat(lit("0xb"), col("bn")).as("block_hash"),
        lit("contracts").as("call_section"), lit("call").as("call_method"),
        to_json(struct(struct(expr("ss58_encode(dest, 42)").as("id")).as("dest"),
          col("gas").cast("string").as("gas_limit"),
          col("value").cast("string").as("value"),
          lit("0x633aa551").as("data"))).as("call_args"),
        col("signer"))
    val callExts = calls.select(col("chain_id"), col("extrinsic_id"),
      col("signer").as("signer_pub_key"))
    val chains = Seq((chainId, s"chain$chainId", 42))
      .toDF("chain_id", "id", "ss58_prefix")
    WasmDay(evs.drop("signer"), exts.unionByName(callExts),
      calls.drop("signer"), info, chains, nCodes, nContracts, nCalls)
  }
}
