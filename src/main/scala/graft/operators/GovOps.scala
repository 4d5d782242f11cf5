package graft.operators

import graft.Tables
import graft.analytics.GovAnalytics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.collection.MapView

/** Governance (OpenGov conviction-voting) query face — the
  * testConviction.js capability as a relational tally. The fixture set
  * has no votes table, so the query derives a deterministic electorate
  * from `events` (same derivation in the DuckDB oracle), which makes the
  * ENTIRE pipeline — vote-byte decode, conviction weighting, delegation
  * resolution, per-referendum tally — hash-verified cross-engine.
  */
object GovOps {

  // G1 — conviction-vote tally with delegations.
  // Electorate derivation (mirrored in SQL):
  //  - users < 150 cast votes: track = user%4, poll = event%20,
  //    kind = event%7 (<5 standard, 5 split, 6 splitAbstain),
  //    vote byte = floor(|value|)%256, balance = |value|;
  //    one vote per (voter, poll) — first event wins.
  //  - users 150..199 delegate: target = user%150 on the TARGET's
  //    track (user%150)%4, weight byte = event%16 (0 → 0.1×),
  //    balance = |value|; one delegation per (delegator, track) —
  //    first event wins.
  private def g1(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_id"), abs(col("value")).as("av"))
    val votesRaw = ev.filter(col("user_id") < 150)
      .select(col("user_id").as("voter"), (col("user_id") % 4).as("track"),
        (col("event_id") % 20).as("poll"), (col("event_id") % 7).as("kind"),
        (floor(col("av")).cast("long") % 256).as("vote_byte"),
        col("av").as("balance"), col("event_id"))
    val wv = Window.partitionBy(col("voter"), col("poll"))
      .orderBy(col("event_id"))
    val votes = votesRaw.withColumn("rn", row_number().over(wv))
      .filter(col("rn") === 1)
    val standard = votes.filter(col("kind") < 5)
      .select(col("voter"), col("track"), col("poll"), col("vote_byte"),
        col("balance"))
    val splits = votes.filter(col("kind") >= 5)
      .select(col("voter"), col("track"), col("poll"),
        col("balance").as("aye"), (col("balance") / 2).as("nay"),
        when(col("kind") === 6, col("balance") / 4).otherwise(lit(0.0))
          .as("abstain"))
    val delRaw = ev.filter(col("user_id") >= 150 && col("user_id") < 200)
      .select(col("user_id").as("delegator"),
        // delegate on the TARGET's voting track ((user%150) % 4):
        // deriving the track from the delegator (user % 4) would shift
        // it by 150 % 4 = 2 and no delegation could ever land on a
        // vote — leaving the delegation path vacuously "verified"
        ((col("user_id") % 150) % 4).as("track"),
        (col("user_id") % 150).as("target"),
        when(col("event_id") % 16 === 0, lit(0.1))
          .otherwise((col("event_id") % 16).cast("double")).as("weight"),
        col("av").as("balance"), col("event_id"))
    val wd = Window.partitionBy(col("delegator"), col("track"))
      .orderBy(col("event_id"))
    val delegations = delRaw.withColumn("rn", row_number().over(wd))
      .filter(col("rn") === 1)
      .select(col("delegator"), col("track"), col("target"),
        col("balance"), col("weight"))
    GovAnalytics.tallyReferenda(standard, splits, delegations)
      .select(col("track"), col("poll"), col("n_votes"),
        decOut(col("ayes")).as("ayes"),
        decOut(col("nays")).as("nays"),
        decOut(col("abstains")).as("abstains"),
        decOut(col("capital")).as("capital"),
        decOut(col("delegated_votes")).as("delegated_votes"))
      .orderBy(col("track"), col("poll"))
  }

  private val dec0 = "CAST(0.0 AS DECIMAL(38,6))"

  private val g1Sql =
    s"""WITH ev AS (SELECT user_id, event_id, abs("value") AS av FROM events),
       |vr AS (SELECT user_id AS voter, user_id % 4 AS track,
       |  event_id % 20 AS poll, event_id % 7 AS kind,
       |  CAST(floor(av) AS BIGINT) % 256 AS vote_byte,
       |  av AS balance, event_id FROM ev WHERE user_id < 150),
       |v1 AS (SELECT * FROM (SELECT vr.*, row_number() OVER (
       |   PARTITION BY voter, poll ORDER BY event_id) AS rn FROM vr)
       |  WHERE rn = 1),
       |std AS (SELECT voter, track, poll, vote_byte, balance FROM v1
       |  WHERE kind < 5),
       |spl AS (SELECT voter, track, poll, balance AS aye,
       |  balance / 2 AS nay,
       |  CASE WHEN kind = 6 THEN balance / 4 ELSE 0.0 END AS abstain
       | FROM v1 WHERE kind >= 5),
       |dr AS (SELECT user_id AS delegator, (user_id % 150) % 4 AS track,
       |  user_id % 150 AS target,
       |  CASE WHEN event_id % 16 = 0 THEN 0.1
       |       ELSE CAST(event_id % 16 AS DOUBLE) END AS weight,
       |  av AS balance, event_id FROM ev
       | WHERE user_id >= 150 AND user_id < 200),
       |d1 AS (SELECT delegator, track, target, balance, weight FROM (
       |  SELECT dr.*, row_number() OVER (PARTITION BY delegator, track
       |   ORDER BY event_id) AS rn FROM dr) WHERE rn = 1),
       |dp AS (SELECT track, target,
       |  sum(CAST(balance * weight AS DECIMAL(38,6))) AS d_votes,
       |  sum(CAST(balance AS DECIMAL(38,6))) AS d_capital
       | FROM d1 GROUP BY 1, 2),
       |contrib AS (
       | SELECT s.track, s.poll,
       |  CASE WHEN s.vote_byte >= 128 THEN
       |    CAST(s.balance * (CASE WHEN s.vote_byte % 16 = 0 THEN 0.1
       |      ELSE CAST(s.vote_byte % 16 AS DOUBLE) END) AS DECIMAL(38,6))
       |    + coalesce(dp.d_votes, $dec0)
       |   ELSE $dec0 END AS ayes,
       |  CASE WHEN s.vote_byte < 128 THEN
       |    CAST(s.balance * (CASE WHEN s.vote_byte % 16 = 0 THEN 0.1
       |      ELSE CAST(s.vote_byte % 16 AS DOUBLE) END) AS DECIMAL(38,6))
       |    + coalesce(dp.d_votes, $dec0)
       |   ELSE $dec0 END AS nays,
       |  $dec0 AS abstains,
       |  CAST(s.balance AS DECIMAL(38,6))
       |    + coalesce(dp.d_capital, $dec0) AS capital,
       |  coalesce(dp.d_votes, $dec0) AS delegated_votes
       | FROM std s LEFT JOIN dp
       |  ON s.track = dp.track AND s.voter = dp.target
       | UNION ALL
       | SELECT track, poll, CAST(aye * 0.1 AS DECIMAL(38,6)),
       |  CAST(nay * 0.1 AS DECIMAL(38,6)),
       |  CAST(abstain * 0.1 AS DECIMAL(38,6)),
       |  CAST(aye + nay + abstain AS DECIMAL(38,6)), $dec0 FROM spl)
       |SELECT track, poll, count(*) AS n_votes,
       | ${sqlDecOut("sum(ayes)")} AS ayes,
       | ${sqlDecOut("sum(nays)")} AS nays,
       | ${sqlDecOut("sum(abstains)")} AS abstains,
       | ${sqlDecOut("sum(capital)")} AS capital,
       | ${sqlDecOut("sum(delegated_votes)")} AS delegated_votes
       |FROM contrib GROUP BY 1, 2 ORDER BY track, poll""".stripMargin

  // G5/G6 — the dump_democracy export tables THROUGH THE WRITER
  // (etl/Democracy.dumpDemocracy; ref substrateetl.js:2141): a
  // deterministic votingFor state walk synthesized off `events` —
  // standard/split/splitAbstain kinds, the bit-7 direction split, the
  // None/LockedNx conviction map with its 0.1×/fallback-1× multipliers,
  // known and UNKNOWN track ids (null class_name, the JS
  // undefined-splice behavior) — lands via chain-partition overwrite
  // and reads back; the DuckDB twin re-derives every exported column
  // from the synthesis arithmetic.
  private def demoDump(s: SparkSession, d: String)
      : MapView[String, DataFrame] = {
    val e = Tables.events(s, d).filter(col("event_id") < 900)
      .select(col("event_id"))
    val raw = (c: org.apache.spark.sql.Column) =>
      (c.cast("decimal(38,0)") * lit(1000000000L)).cast("decimal(38,0)")
    val casting = e.select(
      lit(22000).as("chain_id"),
      concat(lit("a"), col("event_id")).as("account_ss58"),
      (col("event_id") % 40).cast("int").as("class_id"),
      (col("event_id") % 25).as("poll_id"),
      when(col("event_id") % 3 === 0, lit("standard"))
        .when(col("event_id") % 3 === 1, lit("split"))
        .otherwise(lit("splitabstain")).as("vote_kind"),
      (col("event_id") % 256).cast("int").as("vote_byte"),
      raw(col("event_id") % 1000 + 1).as("balance"),
      raw(col("event_id") % 500).as("aye"),
      raw(col("event_id") % 300).as("nay"),
      raw(col("event_id") % 200).as("abstain"))
    val delegating = e.filter(col("event_id") % 5 === 0).select(
      lit(22000).as("chain_id"),
      concat(lit("d"), col("event_id")).as("account_ss58"),
      (col("event_id") % 16).cast("int").as("class_id"),
      concat(lit("t"), col("event_id") % 50).as("target_ss58"),
      raw(col("event_id") % 700 + 3).as("balance"),
      (col("event_id") % 8).cast("int").as("conviction"))
    graft.etl.Democracy.dumpDemocracy(casting, delegating,
      queryDumpDir("graft_democracy_dump"))
  }

  private def g5(s: SparkSession, d: String): DataFrame =
    demoDump(s, d)("votes")
      .select(col("account_ss58"), col("class_id"), col("poll_id"),
        col("vote"), round(col("aye"), 6).as("aye"),
        round(col("ayec"), 6).as("ayec"),
        round(col("nay"), 6).as("nay"),
        round(col("nayc"), 6).as("nayc"),
        round(col("abstain"), 6).as("abstain"),
        col("class_name"), col("conviction"))
      .orderBy(col("account_ss58"))

  private val trackCaseSql =
    """CASE class_id WHEN 0 THEN 'Root' WHEN 1 THEN 'Whitelisted Caller'
      |  WHEN 10 THEN 'Staking Admin' WHEN 11 THEN 'Treasurer'
      |  WHEN 12 THEN 'Lease Admin' WHEN 13 THEN 'Fellowship Admin'
      |  WHEN 14 THEN 'General Admin' WHEN 15 THEN 'Auction Admin'
      |  WHEN 20 THEN 'Referendum Canceller'
      |  WHEN 21 THEN 'Referendum Killer' WHEN 30 THEN 'Small Tipper'
      |  WHEN 31 THEN 'Big Tipper' WHEN 32 THEN 'Small Spender'
      |  WHEN 33 THEN 'Medium Spender' WHEN 34 THEN 'Big Spender'
      |  END""".stripMargin

  private val g5Sql =
    s"""WITH c AS (
       | SELECT event_id AS e, CAST(event_id % 40 AS INT) AS class_id,
       |  event_id % 25 AS poll_id, event_id % 3 AS kind,
       |  event_id % 256 AS vb
       | FROM events WHERE event_id < 900),
       |v AS (
       | SELECT 'a' || CAST(e AS VARCHAR) AS account_ss58, class_id,
       |  poll_id,
       |  CASE WHEN kind = 0 THEN
       |    CASE WHEN vb >= 128 THEN 'Aye' ELSE 'Nay' END
       |   WHEN kind = 1 THEN 'Split' ELSE 'SplitAbstain' END AS vote,
       |  CASE WHEN kind = 0 THEN
       |    CASE WHEN vb >= 128 THEN (e % 1000 + 1) * CAST(0.1 AS DOUBLE) ELSE 0.0 END
       |   ELSE (e % 500) * CAST(0.1 AS DOUBLE) END AS aye,
       |  CASE WHEN kind = 0 THEN
       |    CASE WHEN vb >= 128 THEN 0.0 ELSE (e % 1000 + 1) * CAST(0.1 AS DOUBLE) END
       |   ELSE (e % 300) * CAST(0.1 AS DOUBLE) END AS nay,
       |  CASE WHEN kind = 2 THEN (e % 200) * CAST(0.1 AS DOUBLE) ELSE 0.0 END
       |   AS abstain,
       |  CASE WHEN kind = 0 AND vb % 16 <> 0 THEN
       |    CASE WHEN vb % 16 <= 6 THEN CAST(vb % 16 AS DOUBLE)
       |     ELSE 1.0 END
       |   ELSE CAST(0.1 AS DOUBLE) END AS mult,
       |  CASE WHEN kind = 0 AND vb % 16 <> 0 THEN
       |    'Locked' || CAST(vb % 16 AS VARCHAR) || 'x'
       |   ELSE 'None' END AS conviction
       | FROM c)
       |SELECT account_ss58, class_id, poll_id, vote,
       | round(aye, 6) AS aye, round(aye * mult, 6) AS ayec,
       | round(nay, 6) AS nay, round(nay * mult, 6) AS nayc,
       | round(abstain, 6) AS abstain,
       | $trackCaseSql AS class_name,
       | conviction
       |FROM v ORDER BY account_ss58""".stripMargin

  private def g6(s: SparkSession, d: String): DataFrame =
    demoDump(s, d)("delegation")
      .select(col("account_ss58"), col("class_id"), col("conviction"),
        col("target_ss58"), round(col("balance"), 6).as("balance"),
        col("class_name"))
      .orderBy(col("account_ss58"))

  private val g6Sql =
    s"""SELECT 'd' || CAST(event_id AS VARCHAR) AS account_ss58,
       | CAST(event_id % 16 AS INT) AS class_id,
       | CASE WHEN event_id % 8 = 0 THEN 'None'
       |  ELSE 'Locked' || CAST(event_id % 8 AS VARCHAR) || 'x' END
       |  AS conviction,
       | 't' || CAST(event_id % 50 AS VARCHAR) AS target_ss58,
       | round((event_id % 700 + 3) * CAST(0.1 AS DOUBLE), 6) AS balance,
       | $trackCaseSql AS class_name
       |FROM (SELECT event_id, CAST(event_id % 16 AS INT) AS class_id
       | FROM events WHERE event_id < 900 AND event_id % 5 = 0)
       |ORDER BY account_ss58""".stripMargin

  // B6 — the conviction-voting SNAPSHOT sources THROUGH THE WRITER
  // (Democracy.votingForSnapshots → Snapshot.dumpSnapshots; ref
  // snapshot/polkadot.js:424-470): pubkey-hex accounts keyed on
  // residues so voter recs AGGREGATE multiple polls per (account,
  // track), delegatee recs aggregate multiple delegations per target,
  // known and unknown track names, and the pv JSON — raw plancks,
  // struct-ordered, sort_array'd — re-rendered character-exact in
  // DuckDB.
  private def b6(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d).filter(col("event_id") < 900)
      .select(col("event_id"))
    def mh(c: org.apache.spark.sql.Column) = md5(c.cast("binary"))
    def pk(seed: org.apache.spark.sql.Column) =
      concat(lit("0x"), mh(seed.cast("string")),
        mh(concat(seed.cast("string"), lit("q"))))
    val raw = (c: org.apache.spark.sql.Column) =>
      (c.cast("decimal(38,0)") * lit(1000000000L)).cast("decimal(38,0)")
    // account = residue mod 120 → the (account, class=acct%40) rec
    // collects ~7 polls; vote kinds/bytes cycle like g5's walk
    val casting = e.select(
      lit(22000).as("chain_id"),
      pk(col("event_id") % 120).as("account_ss58"),
      (col("event_id") % 120 % 40).cast("int").as("class_id"),
      (col("event_id") % 25).as("poll_id"),
      when(col("event_id") % 3 === 0, lit("standard"))
        .when(col("event_id") % 3 === 1, lit("split"))
        .otherwise(lit("splitabstain")).as("vote_kind"),
      (col("event_id") % 256).cast("int").as("vote_byte"),
      raw(col("event_id") % 1000 + 1).as("balance"),
      raw(col("event_id") % 500).as("aye"),
      raw(col("event_id") % 300).as("nay"),
      raw(col("event_id") % 200).as("abstain"))
    val delegating = e.filter(col("event_id") % 5 === 0).select(
      lit(22000).as("chain_id"),
      pk(concat(col("event_id"), lit("d"))).as("account_ss58"),
      (col("event_id") % 16).cast("int").as("class_id"),
      pk(concat(col("event_id") % 50, lit("t"))).as("target_ss58"),
      raw(col("event_id") % 700 + 3).as("balance"),
      (col("event_id") % 8).cast("int").as("conviction"))
    val recs = graft.etl.Democracy.votingForSnapshots(casting,
      delegating, chainName = "Polkadot", source = "polkaholic",
      blockNumber = 600L, blockHash = "0xb600", tsSec = 1709251800L)
    graft.etl.Snapshot.dumpSnapshots(recs, "2024-03-01",
      queryDumpDir("graft_cvsnap_dump"))
      .select(col("section"), col("storage"), col("track"),
        col("address_pubkey"), col("track_val"), col("pv"),
        col("block_number"), us(col("ts")).as("ts_us"), col("source"))
      .orderBy(col("storage"), col("track"), col("address_pubkey"),
        asc_nulls_first("track_val"), col("pv"))
  }

  private val b6Sql = {
    val accPk = (seed: String) =>
      s"'0x' || md5($seed) || md5($seed || 'q')"
    s"""WITH e AS (SELECT event_id AS ev FROM events WHERE event_id < 900),
       |cast1 AS (
       | SELECT ${accPk("CAST(ev % 120 AS VARCHAR)")} AS pub,
       |  CAST(ev % 120 % 40 AS INT) AS class_id,
       |  '{"poll_id":' || CAST(ev % 25 AS VARCHAR)
       |   || ',"vote_kind":"' || (CASE WHEN ev % 3 = 0 THEN 'standard'
       |     WHEN ev % 3 = 1 THEN 'split' ELSE 'splitabstain' END)
       |   || '","vote_byte":' || CAST(ev % 256 AS VARCHAR)
       |   || ',"balance":' || CAST(CAST(ev % 1000 + 1 AS BIGINT)
       |     * 1000000000 AS VARCHAR)
       |   || ',"aye":' || CAST(CAST(ev % 500 AS BIGINT)
       |     * 1000000000 AS VARCHAR)
       |   || ',"nay":' || CAST(CAST(ev % 300 AS BIGINT)
       |     * 1000000000 AS VARCHAR)
       |   || ',"abstain":' || CAST(CAST(ev % 200 AS BIGINT)
       |     * 1000000000 AS VARCHAR) || '}' AS vote_json,
       |  ev % 25 AS poll_id, ev % 3 AS kind, ev % 256 AS vb,
       |  (ev % 1000 + 1) AS bal, ev % 500 AS a2, ev % 300 AS n2,
       |  ev % 200 AS ab2
       | FROM e),
       |voter AS (
       | SELECT 'convictionVoting' AS section, 'votingFor' AS storage,
       |  'opengov_voter' AS track, pub AS address_pubkey,
       |  $trackCaseSql AS track_val,
       |  '{"casting":{"votes":['
       |   || array_to_string(list(vote_json ORDER BY poll_id,
       |     CASE WHEN kind = 0 THEN 'standard' WHEN kind = 1
       |      THEN 'split' ELSE 'splitabstain' END, vb, bal, a2, n2,
       |     ab2), ',')
       |   || ']}}' AS pv
       | FROM cast1 GROUP BY pub, class_id),
       |dele AS (
       | SELECT ev, ${accPk("CAST(ev AS VARCHAR) || 'd'")} AS pub,
       |  CAST(ev % 16 AS INT) AS class_id,
       |  ${accPk("CAST(ev % 50 AS VARCHAR) || 't'")} AS target,
       |  CAST(ev % 700 + 3 AS BIGINT) * 1000000000 AS bal,
       |  ev % 8 AS conv
       | FROM e WHERE ev % 5 = 0),
       |delegator AS (
       | SELECT 'convictionVoting' AS section, 'votingFor' AS storage,
       |  'opengov_delegator' AS track, pub AS address_pubkey,
       |  $trackCaseSql AS track_val,
       |  '{"delegating":{"target_ss58":"' || target
       |   || '","balance":' || CAST(bal AS VARCHAR)
       |   || ',"conviction":"' || (CASE WHEN conv = 0 THEN 'None'
       |     ELSE 'Locked' || CAST(conv AS VARCHAR) || 'x' END)
       |   || '"}}' AS pv
       | FROM dele),
       |delegatee AS (
       | SELECT 'convictionVoting' AS section, 'delegatee' AS storage,
       |  'opengov' AS track, target AS address_pubkey,
       |  $trackCaseSql AS track_val,
       |  '{"delegators":' || CAST(count(*) AS VARCHAR)
       |   || ',"capital":' || CAST(CAST(sum(bal) AS DECIMAL(38,0))
       |     AS VARCHAR) || '}' AS pv
       | FROM dele GROUP BY target, class_id)
       |SELECT section, storage, track, address_pubkey, track_val, pv,
       | CAST(600 AS BIGINT) AS block_number,
       | CAST(1709251800 AS BIGINT) * 1000000 AS ts_us,
       | 'polkaholic' AS source
       |FROM (SELECT * FROM voter UNION ALL SELECT * FROM delegator
       | UNION ALL SELECT * FROM delegatee)
       |ORDER BY storage, track, address_pubkey,
       | track_val NULLS FIRST, pv""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "g1_conviction_tally" -> (g1 _),
    "g5_democracy_votes_dump" -> (g5 _),
    "g6_delegation_dump" -> (g6 _),
    "b6_votingfor_snapshot" -> (b6 _),
  )

  val oracles: Map[String, String] = Map(
    "g1_conviction_tally" -> g1Sql,
    "g5_democracy_votes_dump" -> g5Sql,
    "g6_delegation_dump" -> g6Sql,
    "b6_votingfor_snapshot" -> b6Sql,
  )
}
