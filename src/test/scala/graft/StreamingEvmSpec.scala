package graft

import graft.decode.EvmDecode
import graft.etl.EvmDump
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** ST parity for the EVM-side export: the tx-with-nested-receipt
  * stream (the realtime indexer's per-block merge shape,
  * ethTool.js:830) drives evmtxs/evmtransfers through `foreachBatch`
  * and is pinned FRAME-EQUAL to the batch `dumpEvmDay` over the same
  * corpus — including a pending tx (null receipt), a legacy/1559 fee
  * split, and a token-transfer log that must survive micro-batching.
  */
// top-level: Spark encoders cannot reach case classes nested inside a
// test class instance
private[graft] case class EvmStreamTx(chain_id: Int,
    transaction_hash: String, nonce: Int, transaction_index: Int,
    from_address: String, to_address: String, value: BigDecimal,
    gas: Long, gas_price: BigDecimal,
    max_fee_per_gas: Option[BigDecimal],
    max_priority_fee_per_gas: Option[BigDecimal],
    transaction_type: Int, input: String, block_number: Long,
    block_hash: String, block_timestamp: java.sql.Timestamp,
    extrinsic_id: String, extrinsic_hash: String,
    receipt: Option[EvmStreamReceipt])
private[graft] case class EvmStreamReceipt(status: Int, gas_used: Long,
    cumulative_gas_used: Long, effective_gas_price: BigDecimal,
    contract_address: Option[String], logs: Seq[EvmLog])

class StreamingEvmSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private type Tx = EvmStreamTx
  private type Receipt = EvmStreamReceipt
  private val Receipt = EvmStreamReceipt

  private def ts(s: Long) = new java.sql.Timestamp(s * 1000)
  import EvmWire.pad32
  private def word(v: Long) = EvmWire.wordOf(v)

  private val from = "0x" + "aa" * 20
  private val to = "0x" + "bb" * 20

  private def tx(hash: String, bn: Long, is1559: Boolean,
      receipt: Option[Receipt], input: String = "0x") =
    EvmStreamTx(0, hash, 1, 0, from, to, BigDecimal(1000000), 50000L,
      BigDecimal(10),
      if (is1559) Some(BigDecimal(14)) else None,
      if (is1559) Some(BigDecimal(1)) else None,
      if (is1559) 2 else 0, input, bn, s"0xb$bn",
      ts(1709251200L + bn), s"$bn-0", s"0xe$hash", receipt)

  private val erc20Log = EvmLog("0xtok",
    Seq(EvmDecode.TransferTopic, pad32(from), pad32(to)),
    "0x" + word(500))

  private def corpus = Seq(
    tx("0x1", 10, is1559 = false,
      Some(Receipt(1, 21000L, 21000L, BigDecimal(10), None,
        Seq(erc20Log))),
      input = "0xa9059cbb" + "0" * 64),
    tx("0x2", 11, is1559 = true,
      Some(Receipt(1, 30000L, 51000L, BigDecimal(12), Some("0xc2"),
        Seq.empty))),
    tx("0x3", 12, is1559 = true, None), // pending — receipt null
    tx("0x4", 13, is1559 = false,
      Some(Receipt(0, 21000L, 21000L, BigDecimal(10), None,
        Seq(erc20Log)))))

  test("dumpEvmMicroBatch through foreachBatch == batch dumpEvmDay") {
    val root = Files.createTempDirectory("graft_evm_parity").toString
    val landing = s"$root/landing"
    val batchRoot = s"$root/batch"; val streamRoot = s"$root/stream"
    val sigs = Seq(("0xa9059cbb", "transfer(address,uint256)"))
      .toDF("selector", "signature")

    val ds = corpus.toDS()
    // 2 txs per file → 2 micro-batches
    corpus.grouped(2).zipWithIndex.foreach { case (g, i) =>
      g.toDS().coalesce(1).write.parquet(s"$landing/part$i")
    }

    // batch truth: split the nested shape back into the two frames
    val flat = ds.toDF()
    // the day's tx⋈receipt join is computed ahead of the two writes
    assert(SparkTestBase.framesComputedFirst(spark)(
      EvmDump.dumpEvmDay(flat.drop("receipt"),
        flat.filter(col("receipt").isNotNull)
          .select(col("transaction_hash"), col("receipt.*")),
        "2024-03-01", batchRoot, signatures = Some(sigs))) == 1)

    val q = spark.readStream
      .schema(ds.schema)
      .option("maxFilesPerTrigger", 1)
      .option("recursiveFileLookup", "true")
      .parquet(landing)
      .writeStream
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
         batchId: Long) =>
          EvmDump.dumpEvmMicroBatch(b, batchId, "2024-03-01",
            streamRoot, signatures = Some(sigs))
      }
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(180000), "streaming batches timed out")
    q.stop()

    // the stream layout adds the batch_id idempotence partition —
    // readers see the same day once it is dropped
    def frame(dir: String, drop: Seq[String] = Seq.empty): Seq[String] = {
      val df0 = spark.read.parquet(dir)
      val df = drop.foldLeft(df0)(_ drop _)
      df.select(df.columns.sorted.map(col): _*)
        .collect().map(_.toString).toSeq.sorted
    }
    Seq("evmtxs", "evmtransfers").foreach { t =>
      assert(frame(s"$batchRoot/$t") ==
        frame(s"$streamRoot/$t", drop = Seq("batch_id")),
        s"stream/batch divergence in $t")
    }
    // non-vacuous: the pending tx row and both transfer rows exist
    assert(spark.read.parquet(s"$streamRoot/evmtxs").count() == 4)
    assert(spark.read.parquet(s"$streamRoot/evmtransfers").count() == 2)

    // at-least-once replay: re-running a micro-batch with the SAME
    // batchId replaces its own (log_dt, batch_id) partition — no
    // duplicates (the foreachBatch restart contract)
    val replay = corpus.take(2).toDS().toDF() // = batch 0 (part0)
    // the micro-batch projects row-locally: nothing computed first
    assert(SparkTestBase.framesComputedFirst(spark)(
      EvmDump.dumpEvmMicroBatch(replay, 0L, "2024-03-01", streamRoot,
        signatures = Some(sigs))) == 0)
    assert(spark.read.parquet(s"$streamRoot/evmtxs").count() == 4)
    assert(spark.read.parquet(s"$streamRoot/evmtransfers").count() == 2)
  }
}
