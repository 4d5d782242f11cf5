package graft.operators

import graft.Tables
import graft.functions.CallFlatten
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Typed rows for p4's tree Dataset (top-level: Spark encoders can't
  * derive nested-struct schemas from inner classes). */
case class P4Child(l_linenumber: Int, section: String, method: String,
    qty: Double)
case class P4Tree(o_orderkey: Long, o_totalprice: Double,
    children: Seq[P4Child])

/** Projection / filter / flatten family — SURVEY.md §2.2 (the decode
  * pipeline shapes): JSON extraction (P3), recursive call flatten (P4),
  * noise suppression (P5), posexplode flatten (P8).
  *
  * p4 is the flagship: nested call-tree JSON documents are synthesized
  * per order from its lineitems (deterministic), then exploded by the
  * real recursive flattener (graft.functions.CallFlatten) inside a typed
  * `flatMap` — and the oracle reconstructs the expected rows relationally
  * (root = orders, leaves = non-suppressed lineitems), so the recursion
  * is verified against DuckDB, not just row-counted.
  */
object FlattenOps {

  // P3 — JSON param extraction + bucket aggregation
  // (ref indexer.js:3319 parseEvent; get_json_object on data column).
  private def p3(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .groupBy(floor(col("k") / 10).cast("int").as("k_bucket"))
      .agg(count(lit(1)).as("n"), dsumOut(col("value")).as("sum_value"))
      .orderBy(col("k_bucket"))

  private val p3Sql =
    s"""SELECT CAST(floor(CAST(json_extract_string(props, '$$.k') AS INT) / 10.0) AS INT) AS k_bucket,
       | count(*) AS n, ${sqlDsumOut("\"value\"")} AS sum_value
       |FROM events GROUP BY 1 ORDER BY k_bucket""".stripMargin

  // P5 — noise suppression by section:method key
  // (ref substrateetl.js:6446 suppress_call).
  private def p5(s: SparkSession, d: String): DataFrame = {
    val noise = Seq("view:0", "click:1", "error:2")
    Tables.events(s, d)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .withColumn("sm",
        concat(col("event_type"), lit(":"), pmod(col("k"), lit(3))))
      .filter(!col("sm").isin(noise: _*))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_kept"))
      .orderBy(col("event_type"))
  }

  private val p5Sql =
    """SELECT event_type, count(*) AS n_kept
      |FROM (SELECT event_type,
      |  event_type || ':' ||
      |    (CAST(json_extract_string(props, '$.k') AS INT) % 3) AS sm
      | FROM events)
      |WHERE sm NOT IN ('view:0', 'click:1', 'error:2')
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // P4 — recursive call flatten. Call trees are synthesized per order:
  // root = utility.batch carrying the order fee; children (in linenumber
  // order) = balances.transfer per line, except quantity-1 lines which
  // become system.remark — suppressed noise (P5) the flattener must drop.
  // The tree goes to the flattener as typed structs → CallNode, NOT via
  // to_json→re-parse (round-1's double round trip on the hottest query);
  // the JSON entry point is exercised by CallFlattenSpec + the ETL path.
  private def p4(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    val trees = li
      .withColumn("child", struct(
        col("l_linenumber").cast("int").as("l_linenumber"),
        when(col("l_quantity") < 2, "system").otherwise("balances")
          .as("section"),
        when(col("l_quantity") < 2, "remark").otherwise("transfer")
          .as("method"),
        col("l_quantity").as("qty")))
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_list(col("child"))).as("children"))
      .join(Tables.orders(s, d),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderkey"), col("o_totalprice"), col("children"))
    trees.as[P4Tree].flatMap { t =>
      val kids = t.children.map(c => CallFlatten.CallNode(
        c.section, c.method, s"""{"qty":${c.qty}}""", Seq.empty))
      val root = CallFlatten.CallNode("utility", "batch", "{}", kids)
      CallFlatten.flattenNode(root, Some(t.o_totalprice)).map { fc =>
        (t.o_orderkey, fc.call_id, fc.call_section, fc.call_method,
          fc.root, fc.leaf, fc.fee)
      }
    }.toDF("o_orderkey", "call_id", "call_section", "call_method",
        "root", "leaf", "fee")
      .orderBy(col("o_orderkey"), col("call_id"))
  }

  // Child index = position in the (linenumber, section, method, qty)
  // sort — mirrors Spark's sort_array struct comparison, including the
  // tie-break on duplicated linenumbers; suppressed children still
  // consume an index slot (they are dropped, not renumbered).
  private val p4Sql =
    """WITH kids AS (
      | SELECT l_orderkey, l_quantity,
      |  row_number() OVER (PARTITION BY l_orderkey
      |    ORDER BY l_linenumber,
      |      CASE WHEN l_quantity < 2 THEN 'system' ELSE 'balances' END,
      |      l_quantity) - 1 AS idx
      | FROM lineitem)
      |SELECT o_orderkey, '0' AS call_id, 'utility' AS call_section,
      | 'batch' AS call_method, TRUE AS root, FALSE AS leaf,
      | o_totalprice AS fee
      |FROM orders WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem)
      |UNION ALL
      |SELECT l_orderkey AS o_orderkey,
      | '0_' || CAST(idx AS VARCHAR) AS call_id,
      | 'balances' AS call_section, 'transfer' AS call_method,
      | FALSE AS root, TRUE AS leaf, NULL AS fee
      |FROM kids WHERE l_quantity >= 2
      |ORDER BY o_orderkey, call_id""".stripMargin

  // P6 — duplicate-emit transfer dedup: parachains emit the same logical
  // transfer through several event paths; canonicalization keeps one row
  // per transfer identity and the audit compares raw vs deduped counts
  // (ref indexer.js:4228 map_feedTransfers_to_transfers; dup note
  // docs/DEFINITIONS.md:255-258; detector substrateetl.js:5324).
  private def p6(s: SparkSession, d: String): DataFrame = {
    // one pass (round 18, guide §2.4): the raw count and the
    // dedup count are both per-event_type aggregates, so they ride one
    // scan and one distinct-aggregate plan instead of two scans merged
    // by a join. The struct wrapper keeps dropDuplicates' null
    // semantics — a null user_id/value combination still counts as a
    // distinct identity (bare countDistinct would drop it).
    // isnotnull pins equivalence with the declared oracle on ALL
    // inputs, not just generated ones: the oracle's raw⋈dedup INNER
    // join on event_type drops a NULL event_type group, so this
    // one-pass shape must too (no-op on the generator's data — the
    // filter just reaches the scan as a pushed predicate)
    Tables.events(s, d).filter(col("event_type").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_raw"),
        countDistinct(struct(col("user_id"), col("value")))
          .as("n_dedup"))
      .withColumn("n_dups", col("n_raw") - col("n_dedup"))
      .orderBy(col("event_type"))
  }

  private val p6Sql =
    """SELECT r.event_type, r.n_raw, d.n_dedup, r.n_raw - d.n_dedup AS n_dups
      |FROM (SELECT event_type, count(*) AS n_raw FROM events GROUP BY 1) r
      |JOIN (SELECT event_type, count(*) AS n_dedup FROM (
      |   SELECT DISTINCT user_id, event_type, "value" FROM events)
      |  GROUP BY 1) d
      | ON r.event_type = d.event_type
      |ORDER BY r.event_type""".stripMargin

  // P8 — posexplode digest-log flatten (ref substrateetl.js:6462-6473):
  // per-vector element statistics via explode.
  private def p8(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .filter(col("vec_id") < 50)
      .select(col("vec_id"),
        posexplode(col("embedding")).as(Seq("pos", "e")))
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_dims"),
        min(col("e").cast("double")).as("min_e"),
        max(col("e").cast("double")).as("max_e"),
        decOut(sum(dec12(col("e").cast("double") * col("e").cast("double"))),
          9).as("sum_sq"))
      .orderBy(col("vec_id"))

  private val p8Sql =
    s"""SELECT vec_id, count(*) AS n_dims,
       | min(CAST(e AS DOUBLE)) AS min_e, max(CAST(e AS DOUBLE)) AS max_e,
       | ${sqlDecOut("sum(CAST(CAST(e AS DOUBLE) * CAST(e AS DOUBLE) AS DECIMAL(38,12)))", 9)} AS sum_sq
       |FROM (SELECT vec_id, unnest(embedding) AS e FROM embeddings
       | WHERE vec_id < 50)
       |GROUP BY vec_id ORDER BY vec_id""".stripMargin

  // P7 — reward extraction with running-era attach (ref
  // indexer.js:3941 processRawFeedRewards: a mutable `era` set by the
  // latest staking.PayoutStarted / dappsStaking.Reward marker, attached
  // to each subsequent reward, zero payouts skipped). A flat event
  // grain is synthesized from the events table — each user is one
  // extrinsic, event_idx = event_id — with JSON data the REAL operator
  // (graft.etl.Rewards.rewardRows: grouped per extrinsic, then the
  // dump's row-local era carry + json extraction + filter) parses; the
  // rollup is per-era exact sums. The marker duality is
  // exercised: dappsStaking.Reward is both a marker AND a reward, so
  // later staking.Rewarded rows inherit ITS era — the oracle replays
  // the same running marker with last_value(... IGNORE NULLS).
  private def p7(s: SparkSession, d: String): DataFrame = {
    val grain = Tables.events(s, d)
      .select(
        lit(0).as("chain_id"),
        col("user_id").as("number"),
        lit(0).as("ext_idx"),
        col("event_id").as("event_idx"),
        when(col("event_type") === "signup", "staking")
          .when(col("event_type") === "purchase", "staking")
          .when(col("event_type") === "click", "dappsStaking")
          .otherwise("system").as("section"),
        when(col("event_type") === "signup", "PayoutStarted")
          .when(col("event_type") === "purchase", "Rewarded")
          .when(col("event_type") === "click", "Reward")
          .otherwise("Noise").as("method"),
        when(col("event_type") === "signup",
          format_string("""{"eraIndex":%d}""", (col("event_id") % 7) * 100))
          .when(col("event_type") === "purchase",
            format_string("""{"stash":"u%d","amount":%d}""",
              col("user_id"), col("event_id") % 50))
          .when(col("event_type") === "click",
            format_string("""{"account":"u%d","era":%d,"amount":%d}""",
              col("user_id"), col("event_id") % 7 + 500,
              col("event_id") % 30))
          .otherwise(lit("{}")).as("data"))
    graft.etl.Rewards
      .rewardRows(grain, Seq("chain_id", "number", "ext_idx"))
      .groupBy(col("era"))
      .agg(
        sum(col("amount_raw")).cast("long").as("total_raw"),
        count(lit(1)).as("n_rewards"),
        countDistinct(col("account_pub")).as("n_accounts"))
      .orderBy(col("era"))
  }

  private val p7Sql =
    """WITH grain AS (SELECT user_id, event_id,
      |  CASE WHEN event_type = 'signup' THEN (event_id % 7) * 100
      |       WHEN event_type = 'click' THEN event_id % 7 + 500
      |  END AS marker_era,
      |  event_type IN ('purchase', 'click') AS is_reward,
      |  CASE WHEN event_type = 'purchase' THEN event_id % 50
      |       WHEN event_type = 'click' THEN event_id % 30 END AS amount,
      |  'u' || CAST(user_id AS VARCHAR) AS account
      | FROM events),
      |attached AS (SELECT *,
      |  last_value(marker_era IGNORE NULLS) OVER (PARTITION BY user_id
      |    ORDER BY event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS era
      | FROM grain)
      |SELECT era, CAST(sum(amount) AS BIGINT) AS total_raw,
      | count(*) AS n_rewards, count(DISTINCT account) AS n_accounts
      |FROM attached WHERE is_reward AND amount > 0
      |GROUP BY era ORDER BY era NULLS FIRST""".stripMargin
  // NULLS FIRST pins DuckDB to Spark's asc default — rewards that
  // precede any marker in their extrinsic carry a null era (the
  // reference's era=false rows) and form a real group.

  // P7b — crowdloan Contributed⊕MemoUpdated pairing (ref
  // indexer.js:4018 processRawFeedCrowdLoans: an accountParaID map with
  // last-write-wins amount and memo). Contributions and memos are
  // synthesized on overlapping (user, fund) keys — some funds get
  // multiple Contributed (last wins), some get a memo with no
  // contribution (amount 0) — and the REAL operator
  // (graft.etl.Rewards.crowdloanRows: grouped per extrinsic, then the
  // dump's row-local accountParaID map walk) pairs them; the oracle
  // replays its last-write-wins with arg_max.
  private def p7b(s: SparkSession, d: String): DataFrame = {
    val grain = Tables.events(s, d)
      .filter(col("event_type").isin("purchase", "view"))
      .select(
        lit(0).as("chain_id"),
        col("user_id").as("number"),
        lit(0).as("ext_idx"),
        col("event_id").as("event_idx"),
        lit("crowdloan").as("section"),
        when(col("event_type") === "purchase", "Contributed")
          .otherwise("MemoUpdated").as("method"),
        when(col("event_type") === "purchase",
          format_string("""{"who":"u%d","fundIndex":%d,"amount":%d}""",
            col("user_id"), col("event_id") % 5,
            col("event_id") % 1000))
          .otherwise(
            format_string("""{"who":"u%d","paraId":%d,"memo":"m%d"}""",
              col("user_id"), col("event_id") % 5,
              col("event_id") % 100)).as("data"))
    graft.etl.Rewards
      .crowdloanRows(grain, Seq("chain_id", "number", "ext_idx"))
      .groupBy(col("fund_id"))
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(col("amount_raw")).cast("long").as("total_raw"),
        count(col("memo")).as("n_memos"))
      .orderBy(col("fund_id"))
  }

  private val p7bSql =
    """WITH grain AS (SELECT user_id, event_id,
      |  CASE WHEN event_type = 'purchase' THEN 'Contributed'
      |       ELSE 'MemoUpdated' END AS method,
      |  'u' || CAST(user_id AS VARCHAR) AS who,
      |  event_id % 5 AS fund_id,
      |  event_id % 1000 AS amount,
      |  'm' || CAST(event_id % 100 AS VARCHAR) AS memo
      | FROM events WHERE event_type IN ('purchase', 'view')),
      |paired AS (SELECT user_id, who, fund_id,
      |  coalesce(arg_max(CASE WHEN method = 'Contributed' THEN amount END,
      |    CASE WHEN method = 'Contributed' THEN event_id END), 0)
      |    AS amount_raw,
      |  arg_max(CASE WHEN method = 'MemoUpdated' THEN memo END,
      |    CASE WHEN method = 'MemoUpdated' THEN event_id END) AS memo
      | FROM grain GROUP BY user_id, who, fund_id)
      |SELECT fund_id, count(*) AS n_pairs,
      | CAST(sum(amount_raw) AS BIGINT) AS total_raw,
      | count(memo) AS n_memos
      |FROM paired GROUP BY fund_id ORDER BY fund_id""".stripMargin

  // P9x — USD-decorated dump transfers (ref substrateetl.js:6342-6372:
  // the exported transfers carry price_usd/amount_usd via
  // assetManager.js:1392 computePriceUSD as-of valuation). A nested raw
  // day is synthesized WITHOUT a shuffle — one block/extrinsic/transfer
  // per non-view event row via array(struct(...)) — and a 5-min-bucket
  // price log from the view rows (duplicate bucket points on purpose:
  // the interval build dedupes to max, which the oracle replays). The
  // REAL pipeline runs end to end: Dump.transfers → asset_chain +
  // to_base_unit UDFs → PriceSeries.withAsOfIntervals as-of index
  // probe → amount_usd; the rollup checks priced AND unpriced
  // (pre-first-point) rows per asset. Oracle = DuckDB's own ASOF JOIN.
  private def p9(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val base = 1709251200L // 2024-03-01T00:00:00Z
    def assetSym = element_at(array(lit("DOT"), lit("KSM"), lit("ACA")),
      (pmod(col("event_id"), lit(3)) + 1).cast("int"))
    val raw = ev.filter(col("event_type") =!= "view").select(
      lit(0).as("chain_id"),
      col("event_id").as("number"),
      format_string("0xb%d", col("event_id")).as("hash"),
      (lit(base) + pmod(col("event_id"), lit(86400L)))
        .cast("timestamp").as("block_time"),
      lit(true).as("finalized"),
      array(struct(
        lit(0).as("idx"),
        format_string("0xe%d", col("event_id")).as("hash"),
        array(struct(
          sha2(col("user_id").cast("string").cast("binary"), 256)
            .as("from_pub"),
          sha2(col("event_id").cast("string").cast("binary"), 256)
            .as("to_pub"),
          assetSym.as("asset"),
          format_string("0x%x", col("event_id") * lit(1000000L))
            .as("raw_amount_hex"),
          lit(10).as("decimals"))).as("transfers"))).as("extrinsics"))
    val priceLog = ev.filter(col("event_type") === "view").select(
      concat(assetSym, lit("~0")).as("asset"),
      lit(0).as("chain_id"),
      (lit(base) + pmod(col("event_id"), lit(288L)) * lit(300L))
        .cast("timestamp").as("index_ts"),
      (pmod(col("event_id"), lit(1000L)).cast("double") / lit(100.0))
        .as("price_usd"))
    val chains = s.range(1).select(lit(0).as("chain_id"),
      lit("DOT~0").as("native_asset"),
      lit(10).as("decimals")) // unused by the transfers face
    graft.etl.Dump.transfers(raw, "2024-03-01",
        Some(graft.etl.Dump.UsdDims(priceLog, chains)))
      .groupBy(col("asset"))
      .agg(
        count(lit(1)).as("n_transfers"),
        count(col("price_usd")).as("n_priced"),
        decOut(sum(dec6(col("amount")))).as("sum_amount"),
        decOut(sum(dec6(col("amount_usd")))).as("sum_usd"))
      .orderBy(col("asset"))
  }

  private val p9Sql =
    s"""WITH t AS (
       | SELECT DISTINCT event_id, user_id FROM events
       | WHERE event_type <> 'view'),
       |tr AS (
       | SELECT
       |  (CASE event_id % 3 WHEN 0 THEN 'DOT' WHEN 1 THEN 'KSM'
       |    ELSE 'ACA' END) || '~0' AS asset,
       |  1709251200 + (event_id % 86400) AS ts_s,
       |  CAST(CAST(event_id AS BIGINT) * 1000000 AS DOUBLE)
       |    / 10000000000.0 AS amount
       | FROM t),
       |p AS (
       | SELECT
       |  (CASE event_id % 3 WHEN 0 THEN 'DOT' WHEN 1 THEN 'KSM'
       |    ELSE 'ACA' END) || '~0' AS asset,
       |  1709251200 + (event_id % 288) * 300 AS ts_s,
       |  max(CAST(event_id % 1000 AS DOUBLE) / 100.0) AS price_usd
       | FROM events WHERE event_type = 'view' GROUP BY 1, 2),
       |dec AS (
       | SELECT tr.asset, tr.amount, p.price_usd,
       |  tr.amount * p.price_usd AS amount_usd
       | FROM tr ASOF LEFT JOIN p
       |  ON tr.asset = p.asset AND tr.ts_s >= p.ts_s)
       |SELECT asset, count(*) AS n_transfers,
       | count(price_usd) AS n_priced,
       | ${sqlDecOut("sum(CAST(amount AS DECIMAL(38,6)))")} AS sum_amount,
       | ${sqlDecOut("sum(CAST(amount_usd AS DECIMAL(38,6)))")} AS sum_usd
       |FROM dec GROUP BY asset ORDER BY asset""".stripMargin

  // B16 — the RELAY-LEVEL crowdloan day table through the writer
  // (graft.etl.Dump.dumpRelayCrowdloanDay — ref substrateetl.js:
  // 4766-4860 dump_relaychain_crowdloan): a nested raw day is
  // synthesized one block/extrinsic per non-view event row —
  // purchase rows carry a crowdloan Contributed event (who = a
  // md5-derived 32-byte pubkey; fundIndex vs paraId key alternating
  // on the mod-7 lane, exercising the coalesce), signup rows carry
  // only MemoUpdated (the relay table must NOT pair or publish them),
  // click rows only noise; mod-11 blocks sit on a para chain (relay
  // filter), mod-19 are unfinalized, mod-13 land on the next day —
  // all three exclusion gates replayed by the oracle. The REAL
  // pipeline runs end to end (explode with parent-extrinsic
  // decoration, broadcast projects dim, chains-dim native-token
  // as-of USD valuation, partition-overwrite write) and the query
  // reads the WRITTEN layout back row-exact. ss58 is certified by
  // round trip (contributor_rt = ss58_pubkey(contributor) must equal
  // the md5-recomputable contributor_pubkey); amount_raw surfaces as
  // its exact integer STRING (the j13/a8/v3 decimal-gate rule);
  // contribution/contribution_usd are single IEEE ops off exact
  // integers, bit-identical cross-engine (the p9 template).
  private def b16(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val base = 1709251200L // 2024-03-01T00:00:00Z
    val sid = col("event_id")
    def evt(sec: String, meth: String, idx: Int, data: org.apache.spark.sql.Column) =
      struct(lit(sec).as("section"), lit(meth).as("method"),
        lit(idx).as("event_idx"), data.as("data"))
    val who = synthPk(col("user_id").cast("string"))
    val fundId = lit(2000L) + pmod(sid, lit(4L))
    val amount = pmod(sid, lit(100000L)) + lit(1L)
    val contribData = when(pmod(sid, lit(7)) === 0,
      format_string("""{"who":"%s","paraId":%d,"amount":%d}""",
        who, fundId, amount))
      .otherwise(format_string(
        """{"who":"%s","fundIndex":%d,"amount":%d}""",
        who, fundId, amount))
    val contribEvt = evt("crowdloan", "Contributed", 0, contribData)
    val memoEvt = evt("crowdloan", "MemoUpdated", 0,
      format_string("""{"who":"%s","paraId":%d,"memo":"m"}""",
        who, fundId))
    val noiseEvt = evt("system", "ExtrinsicSuccess", 1, lit("{}"))
    val mod3 = (pmod(sid, lit(3)) + 1).cast("int")
    val raw = ev.filter(col("event_type") =!= "view").select(
      when(pmod(sid, lit(11)) === 0, 2000).otherwise(0)
        .as("chain_id"),
      sid.as("number"),
      timestamp_seconds(
        when(pmod(sid, lit(13)) === 0, lit(base + 90000L))
          .otherwise(lit(base) + pmod(sid, lit(80000L))))
        .as("block_time"),
      (pmod(sid, lit(19)) =!= 0).as("finalized"),
      array(struct(
        lit(0).as("idx"),
        format_string("0xe%d", sid).as("hash"),
        element_at(array(lit("utility"), lit("crowdloan"),
          lit("proxy")), mod3).as("section"),
        element_at(array(lit("batch"), lit("contribute"),
          lit("proxy")), mod3).as("method"),
        when(col("event_type") === "purchase",
          array(contribEvt, noiseEvt))
          .when(col("event_type") === "signup",
            array(memoEvt, noiseEvt))
          .otherwise(array(noiseEvt)).as("events"))).as("extrinsics"))
    val priceLog = ev.filter(col("event_type") === "view").select(
      lit("DOT~0").as("asset"), lit(0).as("chain_id"),
      (lit(base) + pmod(sid, lit(288L)) * lit(300L))
        .cast("timestamp").as("index_ts"),
      (pmod(sid, lit(1000L)).cast("double") / lit(100.0))
        .as("price_usd"))
    val chains = s.range(1).select(lit(0).as("chain_id"),
      lit("DOT~0").as("native_asset"), lit(10).as("decimals"))
    val projects = s.range(2).select(
      (lit(2000L) + col("id")).as("para_id"),
      concat(lit("proj"), col("id")).as("project_name"))
    val dir = queryDumpDir("graft_relay_cl")
    graft.etl.Dump.dumpRelayCrowdloanDay(raw, "2024-03-01", dir,
      usd = Some(graft.etl.Dump.UsdDims(priceLog, chains)),
      projects = Some(projects))
      .select(col("event_id"), col("extrinsic_id"),
        col("extrinsic_hash"), col("extrinsic_section_method"),
        col("event_section_method"), col("contributor_pubkey"),
        call_udf("ss58_pubkey", col("contributor"))
          .as("contributor_rt"),
        col("para_id"), col("project_name"),
        col("contribution"), col("contribution_usd"),
        col("contribution_symbol"),
        col("amount_raw").cast("string").as("amount_raw"),
        us(col("ts")).as("ts_us"))
      .orderBy(col("event_id"))
  }

  private val b16Sql =
    s"""WITH e AS (
       | SELECT event_id AS sid, user_id AS uid FROM events
       | WHERE event_type = 'purchase'
       |  AND event_id % 11 <> 0
       |  AND event_id % 19 <> 0
       |  AND event_id % 13 <> 0),
       |r AS (
       | SELECT sid,
       |  CAST(sid AS VARCHAR) || '-0-0' AS event_id,
       |  CAST(sid AS VARCHAR) || '-0' AS extrinsic_id,
       |  '0xe' || CAST(sid AS VARCHAR) AS extrinsic_hash,
       |  (CASE sid % 3 WHEN 0 THEN 'utility' WHEN 1 THEN 'crowdloan'
       |    ELSE 'proxy' END) || ':' ||
       |  (CASE sid % 3 WHEN 0 THEN 'batch' WHEN 1 THEN 'contribute'
       |    ELSE 'proxy' END) AS extrinsic_section_method,
       |  'crowdloan(Contributed)' AS event_section_method,
       |  '0x' || md5(CAST(uid AS VARCHAR))
       |   || md5(CAST(uid AS VARCHAR) || 'x') AS contributor_pubkey,
       |  CAST(2000 + sid % 4 AS BIGINT) AS para_id,
       |  sid % 100000 + 1 AS amt,
       |  1709251200 + sid % 80000 AS ts_s
       | FROM e),
       |px AS (
       | SELECT 1709251200 + (event_id % 288) * 300 AS b_s,
       |  max(CAST(event_id % 1000 AS DOUBLE) / 100.0) AS px
       | FROM events WHERE event_type = 'view' GROUP BY 1),
       |dec AS (
       | SELECT r.*, p.px FROM r ASOF LEFT JOIN px p ON r.ts_s >= p.b_s)
       |SELECT event_id, extrinsic_id, extrinsic_hash,
       | extrinsic_section_method, event_section_method,
       | contributor_pubkey,
       | contributor_pubkey AS contributor_rt,
       | para_id,
       | CASE WHEN para_id <= 2001
       |  THEN 'proj' || CAST(para_id - 2000 AS VARCHAR)
       | END AS project_name,
       | CAST(amt AS DOUBLE) / 10000000000.0 AS contribution,
       | (CAST(amt AS DOUBLE) / 10000000000.0) * px AS contribution_usd,
       | 'DOT' AS contribution_symbol,
       | CAST(amt AS VARCHAR) AS amount_raw,
       | ts_s * CAST(1000000 AS BIGINT) AS ts_us
       |FROM dec ORDER BY event_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p3_json_extract" -> (p3 _),
    "p4_call_flatten" -> (p4 _),
    "p5_noise_suppression" -> (p5 _),
    "p6_transfer_dedup" -> (p6 _),
    "p7_reward_era" -> (p7 _),
    "p7b_crowdloan_pairs" -> (p7b _),
    "p8_posexplode" -> (p8 _),
    "p9_dump_usd" -> (p9 _),
    "b16_relay_crowdloan" -> (b16 _),
  )

  val oracles: Map[String, String] = Map(
    "p3_json_extract" -> p3Sql,
    "p4_call_flatten" -> p4Sql,
    "p5_noise_suppression" -> p5Sql,
    "p6_transfer_dedup" -> p6Sql,
    "p7_reward_era" -> p7Sql,
    "p7b_crowdloan_pairs" -> p7bSql,
    "p8_posexplode" -> p8Sql,
    "p9_dump_usd" -> p9Sql,
    "b16_relay_crowdloan" -> b16Sql,
  )
}
