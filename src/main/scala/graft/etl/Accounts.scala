package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.collection.MapView

/** The account-metrics daily tables — the reference's DEFINITIONS.md
  * BigQuery surface composed over the DUMP LAYOUT and landed as
  * date-partitioned tables like every other export (ref
  * docs/DEFINITIONS.md:48-91 accountsactive, :106-177 accountspassive,
  * :204-234 accountsnew/accountsreaped; schemas
  * schema/accountsactive.json et al; loaded daily next to the entity
  * tables).
  *
  * Inputs are the dumped entity tables themselves (extrinsics, blocks,
  * transfers, balances partitions) — the composition closes the loop
  * from dump to metric without re-reading raw blocks. Every shape is
  * one union + one keyed aggregation or one anti-join: at 100 TB the
  * unions are column-pruned scans and the anti-joins shuffle on the
  * (chain, address) key exactly once.
  */
object Accounts {

  /** accountsactive (DEFINITIONS:48-91): signers of SIGNED extrinsics
    * ∪ block authors on the day — per account: max account type
    * ('validator' sorts above 'user', matching the reference's
    * max(accountType) pick), latest activity, action count. */
  def activeAccounts(extrinsics: DataFrame,
      blocks: DataFrame): DataFrame =
    extrinsics.filter(col("signed"))
      .select(col("chain_id"),
        col("signer_pub_key").as("address_pubkey"),
        lit("user").as("account_type"), col("block_time"))
      .unionByName(blocks.select(col("chain_id"),
        col("author_pub_key").as("address_pubkey"),
        lit("validator").as("account_type"), col("block_time")))
      .groupBy(col("chain_id"), col("address_pubkey"))
      .agg(max(col("account_type")).as("account_type"),
        max(col("block_time")).as("last_activity_ts"),
        count(lit(1)).as("n_actions"))

  /** accountspassive (DEFINITIONS:106-177): transfer participants who
    * took no active action that day — the NOT IN subquery as a
    * left-anti join on the (chain, address) key. */
  def passiveAccounts(transfers: DataFrame,
      active: DataFrame): DataFrame =
    transfers.select(col("chain_id"),
        col("from_pub_key").as("address_pubkey"), col("block_time"))
      .unionByName(transfers.select(col("chain_id"),
        col("to_pub_key").as("address_pubkey"), col("block_time")))
      .groupBy(col("chain_id"), col("address_pubkey"))
      .agg(max(col("block_time")).as("last_activity_ts"),
        count(lit(1)).as("n_touches"))
      .join(active.select("chain_id", "address_pubkey"),
        Seq("chain_id", "address_pubkey"), "left_anti")

  /** accountsnew (DEFINITIONS:204-234): addresses present in today's
    * balances partition but absent from the previous day's — the
    * day-over-day set difference. */
  def newAccounts(balancesToday: DataFrame,
      balancesPrev: DataFrame): DataFrame =
    balancesToday.select("chain_id", "address_pubkey").distinct()
      .join(balancesPrev.select("chain_id", "address_pubkey"),
        Seq("chain_id", "address_pubkey"), "left_anti")

  /** accountsreaped (the inverse difference: existed yesterday, gone
    * today — ref cleanReaped, substrateetl.js:718-805). */
  def reapedAccounts(balancesToday: DataFrame,
      balancesPrev: DataFrame): DataFrame =
    balancesPrev.select("chain_id", "address_pubkey").distinct()
      .join(balancesToday.select("chain_id", "address_pubkey"),
        Seq("chain_id", "address_pubkey"), "left_anti")

  /** Compose and write all four account tables as idempotent date
    * partitions (ref: the DEFINITIONS queries load
    * `accounts{active,passive,new,reaped}{paraID}$date` daily). A day
    * can legitimately produce zero rows for a table (no new accounts,
    * nothing passive); its read-back still carries the schema.
    * (`active` is shared by the two writes that consume it.) */
  def dumpAccountsDay(extrinsics: DataFrame, blocks: DataFrame,
      transfers: DataFrame, balancesToday: DataFrame,
      balancesPrev: DataFrame, logDT: String,
      outRoot: String): MapView[String, DataFrame] = {
    val active = activeAccounts(extrinsics, blocks)
    val tables = Map(
      "accountsactive" -> active,
      "accountspassive" -> passiveAccounts(transfers, active),
      "accountsnew" -> newAccounts(balancesToday, balancesPrev),
      "accountsreaped" -> reapedAccounts(balancesToday, balancesPrev))
      .map { case (name, df) => name -> df.withColumn("log_dt", lit(logDT)) }
    Writers.publish(outRoot, Seq("log_dt"), None, tables, Seq(active))
  }

  /** `full_users` — the exchange/known-address attribution table (ref
    * substrateetl.js:603-663 dump_users_tags, both the `exchanges` and
    * `knownpubs` tag sources: one BigQuery job rebuilt as a plan):
    *
    *  1. roll transfers to (from, to) pairs — sum(amount),
    *     count, min extrinsic, min ts;
    *  2. tag the SENDER against the known-address dimension. The
    *     reference writes LEFT JOIN … WHERE account_type NOT IN
    *     ('Scams'), and the WHERE on the right side's column turns it
    *     into an inner join (NULL fails NOT IN) — users are accounts
    *     RECEIVING from a known non-scam address; replicated as the
    *     inner join it is;
    *  3. first attribution per user = min over the (ts, extrinsic_id,
    *     sender, label) STRUCT. The reference mins a concatenated
    *     `ts_extrinsic_sender_label` string and splits it back —
    *     same ordering (its ts renders lexicographic-chronological),
    *     but the splice corrupts the split-back whenever a label or id
    *     contains the `_` delimiter (a curated tag like
    *     "Binance_Cold"), and ties can compare ACROSS field boundaries
    *     when one id prefixes another; the struct min is the same
    *     semantics without either failure mode. first_transfer_ts
    *     still renders `yyyy-MM-dd HH:mm:ss` like the reference's
    *     split output;
    *  4. per-user rollup: distinct labels (SORTED — BigQuery's
    *     array_agg order is nondeterministic, a bug at scale, not a
    *     semantic; rendered compact JSON), amount / transfer-count
    *     sums over the exact-decimal money contract.
    *
    * 100 TB shape: the tag dimension broadcasts (it is a curated list,
    * 10³-10⁴ rows); both aggregations key on high-cardinality account
    * ids with map-side combine; nothing is pairwise. */
  def usersTags(transfers: DataFrame, tags: DataFrame): DataFrame = {
    def dec6(c: org.apache.spark.sql.Column) = c.cast("decimal(38,6)")
    val pair = transfers
      .groupBy(col("from_pub_key"), col("to_pub_key"))
      .agg(sum(dec6(col("amount"))).as("amount"),
        count(lit(1)).as("transfer_cnt"),
        min(col("extrinsic_id")).as("extrinsic_id"),
        min(col("block_time")).as("ts"))
    val tagged = pair
      .join(broadcast(tags.filter(col("account_type") =!= "Scams")
        .select(col("address_pubkey").as("from_pub_key"),
          col("address_label"))),
        Seq("from_pub_key"))
      .select(col("to_pub_key").as("user_pubkey"),
        coalesce(col("address_label"), lit("other")).as("known_label"),
        col("from_pub_key"), col("extrinsic_id"), col("transfer_cnt"),
        col("amount"), col("ts"))
    val attribution = struct(
      date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts"),
      col("extrinsic_id"), col("from_pub_key"), col("known_label"))
    tagged
      .groupBy(col("user_pubkey"))
      .agg(
        to_json(sort_array(collect_set(col("known_label"))))
          .as("known_labels"),
        round(sum(col("amount")).cast("double"), 6).as("amount"),
        sum(col("transfer_cnt")).as("transfer_cnt"),
        min(attribution).as("att"))
      .select(col("user_pubkey"), col("known_labels"), col("amount"),
        col("transfer_cnt"),
        col("att.ts").as("first_transfer_ts"),
        col("att.extrinsic_id").as("first_transfer_extrinsic_id"),
        col("att.from_pub_key").as("first_transfer_sender_pub_key"),
        col("att.known_label").as("first_transfer"))
  }

  /** Per-account role labels (ref substrateetl.js:366-441
    * update_account_labels + write_account_labels): each role frame's
    * `account` column normalizes through [[pubkeyOf]] in ALL THREE
    * forms the reference's getPubKey accepts — ss58 strings, 0x-hex,
    * and BARE hex (getPubKey pads the missing `0x` before treating it
    * as a key; a bare 64-hex account must label, not fall into the
    * base58 decoder and silently drop) — and only 32-byte pubkeys
    * (66 chars) survive: the reference's length gate drops EVM H160s
    * and malformed rows before the label store write. One
    * (address_pubkey, label) row per role membership, distinct AFTER
    * normalization (the KV upsert is idempotent, and two renderings
    * of one account must not double-label it). Each input is one scan
    * into a raw-rendering distinct (map-side partial dedup before the
    * decode kernel) then a post-normalization distinct over the
    * already-unique accounts; the union is a plan-level concat with no
    * extra shuffle. The session must be set up
    * ([[graft.Tables.configure]], which its first `Tables.load` runs). */
  def accountLabels(roleFrames: Seq[(String, DataFrame)]): DataFrame = {
    require(roleFrames.nonEmpty,
      "accountLabels needs at least one role frame")
    roleFrames.map { case (label, df) =>
      val padded = when(col("account").rlike("^[0-9a-fA-F]{64}$"),
        concat(lit("0x"), col("account"))).otherwise(col("account"))
      // distinct the RAW rendering first (map-side partial dedup —
      // round 18): the ss58/base58 decode kernel then runs once per
      // unique account, not once per fact row; the post-normalization
      // distinct (unchanged) still collapses two renderings of one
      // account, so the (pubkey, label) set is identical.
      df.select(padded.as("account")).distinct()
        .select(pubkeyOf(col("account")).as("address_pubkey"))
        .filter(length(col("address_pubkey")) === 66)
        .distinct()
        .withColumn("label", lit(label))
    }.reduce(_.unionByName(_))
  }

  /** Whole-table replace publish of the labels dim (the BigTable
    * `labels` column family's relational twin — the reference
    * re-derives the full membership per run and upserts, so replace
    * is the batch-equivalent). */
  def dumpAccountLabels(roleFrames: Seq[(String, DataFrame)],
      outRoot: String): DataFrame =
    Writers.publish(outRoot, Nil, None, Seq("account_labels" ->
      accountLabels(roleFrames)))("account_labels")
}
