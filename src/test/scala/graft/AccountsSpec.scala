package graft

import graft.etl.Accounts
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

/** The DEFINITIONS.md account-metrics composition over dump-shaped
  * tables: active = signed signers ∪ authors (validator type wins),
  * passive = transfer participants \ active, new/reaped = day-over-day
  * balances set difference; all four written as date partitions. */
class AccountsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("account tables: active union, passive anti-join, day-over-day " +
      "differences, idempotent partitions") {
    val extrinsics = Seq(
      (0, "0xa", true, ts("2024-03-01 10:00:00")),
      (0, "0xa", true, ts("2024-03-01 12:00:00")),
      (0, "0xb", false, ts("2024-03-01 11:00:00")), // unsigned: not active
      (0, "0xv", true, ts("2024-03-01 09:00:00")))
      .toDF("chain_id", "signer_pub_key", "signed", "block_time")
    val blocks = Seq((0, "0xv", ts("2024-03-01 13:00:00")))
      .toDF("chain_id", "author_pub_key", "block_time")
    val transfers = Seq(
      // 0xa sends to 0xp: 0xa is active (excluded), 0xp purely passive
      (0, "0xa", "0xp", ts("2024-03-01 10:30:00")),
      (0, "0xq", "0xp", ts("2024-03-01 11:30:00")))
      .toDF("chain_id", "from_pub_key", "to_pub_key", "block_time")
    val balToday = Seq((0, "0xa"), (0, "0xnew"))
      .toDF("chain_id", "address_pubkey")
    val balPrev = Seq((0, "0xa"), (0, "0xgone"))
      .toDF("chain_id", "address_pubkey")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_accounts_spec").toString
    val t = Accounts.dumpAccountsDay(extrinsics, blocks, transfers,
      balToday, balPrev, "2024-03-01", dir)
    val act = t("accountsactive").collect()
      .map(r => r.getAs[String]("address_pubkey") ->
        (r.getAs[String]("account_type"), r.getAs[Long]("n_actions")))
      .toMap
    // 0xb never signed; 0xv is BOTH signer and author → validator wins
    assert(act.keySet == Set("0xa", "0xv"))
    assert(act("0xa") == ("user", 2L))
    assert(act("0xv") == ("validator", 2L))
    val pas = t("accountspassive").collect()
      .map(_.getAs[String]("address_pubkey")).toSet
    assert(pas == Set("0xp", "0xq")) // 0xa active → excluded
    assert(t("accountsnew").collect()
      .map(_.getAs[String]("address_pubkey")).toSeq == Seq("0xnew"))
    assert(t("accountsreaped").collect()
      .map(_.getAs[String]("address_pubkey")).toSeq == Seq("0xgone"))
    // a second day replaces only its own partition; the aggregated
    // active frame is computed ahead of the four writes
    assert(SparkTestBase.framesComputedFirst(spark)(
      Accounts.dumpAccountsDay(extrinsics, blocks, transfers,
        balToday, balPrev, "2024-03-02", dir)) == 1)
    val all = spark.read.parquet(s"$dir/accountsactive")
    assert(all.count() == 4 &&
      all.select("log_dt").distinct().count() == 2)
  }

  test("blocklog: per-chain daily rollup over the dumped tables") {
    val blocks = Seq((0, 100L), (0, 101L), (2, 7L))
      .toDF("chain_id", "number")
    val extrinsics = Seq(
      (0, true, "0xa", 0.2, java.lang.Double.valueOf(0.4)),
      (0, true, "0xa", 0.3, null.asInstanceOf[java.lang.Double]),
      (0, false, null.asInstanceOf[String], 0.0,
        null.asInstanceOf[java.lang.Double]),
      (2, true, "0xb", 0.1, java.lang.Double.valueOf(0.2)))
      .toDF("chain_id", "signed", "signer_pub_key", "fee", "fee_usd")
    val events = Seq(0, 0, 0, 2).toDF("chain_id")
    val transfers = Seq(
      (0, java.lang.Double.valueOf(5.0)),
      (0, null.asInstanceOf[java.lang.Double]))
      .toDF("chain_id", "amount_usd")
    val active = Seq((0, "0xa"), (2, "0xb"))
      .toDF("chain_id", "address_pubkey")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_blocklog_spec").toString
    graft.etl.Metrics.dumpBlocklogDay(blocks, extrinsics, events,
      transfers, active, "2024-03-01", dir)
    val rows = spark.read.parquet(s"$dir/blocklog").collect()
      .map(r => r.getAs[Int]("chain_id") -> r).toMap
    val c0 = rows(0)
    assert(c0.getAs[Long]("n_blocks") == 2 &&
      c0.getAs[Long]("max_block") == 101L)
    assert(c0.getAs[Long]("n_extrinsics") == 3 &&
      c0.getAs[Long]("n_signed") == 2 &&
      c0.getAs[Long]("n_signers") == 1)
    assert(c0.getAs[Double]("fees") == 0.5 &&
      c0.getAs[Double]("fees_usd") == 0.4) // null fee_usd skipped
    assert(c0.getAs[Long]("n_events") == 3)
    assert(c0.getAs[Long]("n_transfers") == 2 &&
      c0.getAs[Double]("value_usd") == 5.0) // null usd counts as 0
    assert(c0.getAs[Long]("n_accounts_active") == 1)
    // chain 2 has no transfer rows → left-join nulls, not a lost row
    val c2 = rows(2)
    assert(c2.getAs[Long]("n_blocks") == 1 &&
      c2.isNullAt(c2.fieldIndex("n_transfers")))
  }

  test("blocklogstats: monthly moments — nulls skipped, population σ") {
    // chain 0 / January: x ∈ {2, 4, null} → n=2, sum=6, avg=3,
    // σ² = (4+16 − 36/2)/2 = 1 → σ = 1; February: single day → σ = 0;
    // chain 1: metric entirely null → null stats, days still counted
    val bl = Seq(
      (0, "2024-01-10", java.lang.Double.valueOf(2.0)),
      (0, "2024-01-20", java.lang.Double.valueOf(4.0)),
      (0, "2024-01-25", null.asInstanceOf[java.lang.Double]),
      (0, "2024-02-05", java.lang.Double.valueOf(7.5)),
      (1, "2024-01-15", null.asInstanceOf[java.lang.Double])
    ).toDF("chain_id", "log_dt", "fees")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_blstats_spec").toString
    val out = graft.etl.Metrics.dumpBlocklogStats(bl, Seq("fees"), dir)
      .collect()
      .map(r => (r.getAs[Int]("chain_id"),
        r.getAs[java.sql.Date]("month_dt").toString) -> r).toMap
    assert(out.size == 3)
    val jan = out((0, "2024-01-31"))
    assert(jan.getAs[Long]("days") == 3)
    assert(jan.getAs[Double]("fees_sum") == 6.0)
    assert(jan.getAs[Double]("fees_min") == 2.0)
    assert(jan.getAs[Double]("fees_max") == 4.0)
    assert(jan.getAs[Double]("fees_avg") == 3.0)
    assert(jan.getAs[Double]("fees_std") == 1.0)
    val feb = out((0, "2024-02-29"))
    assert(feb.getAs[Double]("fees_std") == 0.0) // n=1 → σ=0 (MySQL)
    val c1 = out((1, "2024-01-31"))
    assert(c1.getAs[Long]("days") == 1)
    assert(c1.isNullAt(c1.fieldIndex("fees_sum")))
    assert(c1.isNullAt(c1.fieldIndex("fees_std")))
  }

  test("usersTags: scam/untagged senders drop, min-string attribution") {
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    val transfers = Seq(
      // u9 receives from cex1 twice (second earlier — attribution must
      // pick it), from a scam, and from an untagged address
      ("cex1", "u9", 10.0, "5-1", ts(1700000100L)),
      ("cex1", "u9", 20.0, "4-2", ts(1700000000L)),
      ("scam", "u9", 99.0, "1-1", ts(1600000000L)),
      ("nobody", "u9", 7.0, "2-2", ts(1650000000L)),
      // u7 from two different labels — sorted distinct list
      ("cex2", "u7", 1.0, "6-1", ts(1700000200L)),
      ("cex1", "u7", 2.0, "6-2", ts(1700000300L))
    ).toDF("from_pub_key", "to_pub_key", "amount", "extrinsic_id",
      "block_time")
    // the underscore label pins the struct-min attribution: the
    // reference's '_'-spliced string would truncate it to "Kraken"
    val tags = Seq(
      ("cex1", "Binance", "Exchange"),
      ("cex2", "Kraken_Cold", "Exchange"),
      ("scam", "BadGuy", "Scams")
    ).toDF("address_pubkey", "address_label", "account_type")
    val out = graft.etl.Accounts.usersTags(transfers, tags).collect()
      .map(r => r.getAs[String]("user_pubkey") -> r).toMap
    assert(out.size == 2) // scam-only/untagged-only users never appear
    val u9 = out("u9")
    // scam and untagged rows excluded from the sums too
    assert(u9.getAs[Double]("amount") == 30.0)
    assert(u9.getAs[Long]("transfer_cnt") == 2)
    assert(u9.getAs[String]("known_labels") == """["Binance"]""")
    // pair rollup takes min ts AND min extrinsic independently, then
    // the string min attributes the pair — the reference's exact shape
    assert(u9.getAs[String]("first_transfer_extrinsic_id") == "4-2")
    assert(u9.getAs[String]("first_transfer_ts")
      .startsWith("2023-11-14"))
    assert(u9.getAs[String]("first_transfer") == "Binance")
    val u7 = out("u7")
    assert(u7.getAs[String]("known_labels") ==
      """["Binance","Kraken_Cold"]""")
    assert(u7.getAs[String]("first_transfer_sender_pub_key") == "cex2")
    assert(u7.getAs[String]("first_transfer") == "Kraken_Cold")
  }

  test("chains system table: crawled slice, whole-table replace") {
    val reg = Seq(
      (0, "polkadot", "Polkadot", 0, "DOT", 0, 1,
        "https://cdn.example/dot.png", 1),
      (2004, "moonbeam", "Moonbeam", 1284, "GLMR", 1, 0,
        "https://cdn.example/glmr.png", 1),
      (9999, "dead", "Dead", 1, "DED", 0, 0, "", 0) // not crawled
    ).toDF("para_id", "id", "chain_name", "ss58_prefix", "symbol",
      "is_evm", "is_wasm", "icon_url", "crawling")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_chains_spec").toString
    val out = graft.etl.Metrics.dumpChains(reg, dir)
    assert(out.count() == 2)
    val moon = out.filter(col("id") === "moonbeam").collect().head
    assert(moon.getAs[Boolean]("is_evm") && !moon.getAs[Boolean]("is_wasm"))
    assert(!out.columns.contains("crawling"))
    // --replace semantics: a re-publish with a shrunk registry replaces
    val out2 = graft.etl.Metrics.dumpChains(reg.filter(
      col("para_id") === 0), dir)
    assert(out2.count() == 1)
  }

  test("chainIdOfPara: relay-self ids, subsocial renumbering, prefix " +
      "arithmetic, unknown relay throws (ref paraTool " +
      "getChainIDFromParaIDAndRelayChain)") {
    import graft.etl.Metrics.chainIdOfPara
    val paras = Seq(0L, 2000L, 2101L).toDF("p")
    def ids(relay: String): Seq[Int] = paras
      .select(chainIdOfPara(relay)(col("p")).as("c"))
      .collect().map(_.getInt(0)).toSeq
    // polkadot: relay itself is chain 0; paras pass through
    assert(ids("polkadot") == Seq(0, 2000, 2101))
    // kusama: relay is chain 2, subsocial 2101 renumbers to 22100
    assert(ids("kusama") == Seq(2, 22000, 22100))
    // shibuya relay id is 30000, not prefix*10000 + 0 = 30000 (equal
    // by coincidence) — rococo pins the distinct-value case
    assert(ids("rococo") == Seq(40000, 42000, 42101))
    intercept[IllegalArgumentException](chainIdOfPara("westend")(lit(0L)))
  }

  test("xcm summary: having-today gate, zero-coalesced USD, left-join " +
      "null-keep (ref substrateetl.js:5221 update_xcm_summary)") {
    val today = "2024-03-01"
    // instants built from epoch seconds — Timestamp.valueOf parses in
    // the JVM DEFAULT timezone, which would shift the today-gate
    // boundary row on a non-UTC host (the session tz is pinned UTC,
    // the JVM's is not)
    val feb29 = 1709164800L // 2024-02-29T00:00:00Z
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    val tf = Seq(
      // day -1, dest para 2000: priced in, unpriced out leg elsewhere
      (ts(feb29 + 36000), 2000L, 2001L, Some(5.0), None: Option[Double]),
      (ts(feb29 + 39600), 2000L, 0L, None: Option[Double], Some(3.0)),
      // TODAY (01:00Z): must not publish
      (ts(feb29 + 86400 + 3600), 2000L, 2001L, Some(99.0), Some(99.0))
    ).toDF("origination_ts", "destination_para_id",
      "origination_para_id", "origination_amount_sent_usd",
      "destination_amount_received_usd")
    val ms = Seq((ts(feb29 + 43200), 2101L, 0L))
      .toDF("origination_ts", "destination_para_id",
        "origination_para_id")
    val sum = graft.etl.Metrics.xcmDailySummary(tf, ms, "kusama", today)
    val rows = sum.collect().map(r =>
      r.getAs[Int]("chain_id") -> r).toMap
    // dest 2000 → kusama 22000: two in-transfers, the unpriced one at 0
    val in = rows(22000)
    assert(in.getAs[String]("log_dt") == "2024-02-29")
    assert(in.getAs[Long]("num_xcm_transfers_in") == 2 &&
      in.getAs[Double]("val_xcm_transfer_incoming_usd") == 5.0)
    // orig para 0 → relay chain 2 carries the RECEIVED-side value out
    assert(rows(2).getAs[Long]("num_xcm_transfers_out") == 1 &&
      rows(2).getAs[Double]("val_xcm_transfer_outgoing_usd") == 3.0 &&
      rows(2).getAs[Long]("num_xcm_messages_out") == 1)
    // message to subsocial renumbers
    assert(rows(22100).getAs[Long]("num_xcm_messages_in") == 1)
    // today's 99-USD row is nowhere
    assert(!sum.collect().exists(r =>
      Option(r.getAs[Any]("val_xcm_transfer_incoming_usd"))
        .contains(99.0)))
    // decoration keeps xcm-less blocklog rows with nulls
    val bl = Seq((22000, "2024-02-29", 10L), (25555, "2024-02-29", 7L))
      .toDF("chain_id", "log_dt", "n_blocks")
    val dec = graft.etl.Metrics.blocklogWithXcm(bl, sum).collect()
      .map(r => r.getAs[Int]("chain_id") -> r).toMap
    assert(dec(22000).getAs[Long]("num_xcm_transfers_in") == 2)
    assert(dec(25555).isNullAt(
      dec(25555).fieldIndex("num_xcm_transfers_in")))
  }
}
