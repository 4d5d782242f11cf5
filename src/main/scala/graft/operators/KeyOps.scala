package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Derived-account-key operators — the §2.7/§2.8 scalar surface around
  * sovereign/multisig account derivation (ref xcmmanager.js:933
  * computeSovereignAccount feeding XCM fee attribution; paraTool.js:311
  * computeMultisig). The sovereign derivation is TrailingZeroInput
  * string assembly, so DuckDB can reconstruct it byte-for-byte — a real
  * cross-engine oracle for the derivation; the blake2-based multisig is
  * covered by CodecSpec golden vectors (no blake2 in DuckDB).
  *
  * Scale notes: the UDF is a pure per-row projection (no shuffle); the
  * derived-key join shuffles on the 66-char address exactly as a
  * production XCM-fee join would, and the dimension side broadcasts.
  */
object KeyOps {

  /** DuckDB twin of `sovereign_account(id, sibling)` for id < 65536:
    * prefix ++ u32-LE hex ++ zero padding to 32 bytes. */
  private def sqlSov(id: String, sibling: Boolean): String = {
    val prefixHex = if (sibling) "7369626c" else "70617261"
    s"'0x$prefixHex' || printf('%02x%02x0000', ($id) % 256, ($id) // 256)" +
      " || repeat('0', 48)"
  }

  // K1 — sovereign-account derivation per synthetic "parachain"
  // (n_nationkey + 1000), relay and sibling forms.
  private def k1(s: SparkSession, d: String): DataFrame = {
    Tables.nation(s, d)
      .select(col("n_nationkey"),
        (col("n_nationkey") + 1000).cast("long").as("para_id"))
      .selectExpr("n_nationkey",
        "sovereign_account(para_id, false) AS sovereign_para",
        "sovereign_account(para_id, true) AS sovereign_sibl")
      .orderBy(col("n_nationkey"))
  }

  private val k1Sql =
    s"""SELECT n_nationkey,
       | ${sqlSov("n_nationkey + 1000", sibling = false)} AS sovereign_para,
       | ${sqlSov("n_nationkey + 1000", sibling = true)} AS sovereign_sibl
       |FROM nation ORDER BY n_nationkey""".stripMargin

  // K2 — derived-key equi-join: both sides independently derive the
  // sovereign address from their own nation key and join ON the derived
  // key (the J10 shape the XCM-fee pipeline uses, ref xcmmanager.js:950).
  private def k2(s: SparkSession, d: String): DataFrame = {
    val dim = Tables.nation(s, d)
      .selectExpr("n_name",
        "sovereign_account(CAST(n_nationkey + 1000 AS BIGINT), false) AS addr")
    val fact = Tables.supplier(s, d)
      .selectExpr(
        "sovereign_account(CAST(s_nationkey + 1000 AS BIGINT), false) AS addr")
      .groupBy(col("addr"))
      .agg(count(lit(1)).as("n_suppliers"))
    fact.join(broadcast(dim), Seq("addr"))
      .select(col("n_name"), col("addr"), col("n_suppliers"))
      .orderBy(col("n_name"))
  }

  private val k2Sql =
    s"""SELECT n_name, f.addr, n_suppliers
       |FROM (SELECT ${sqlSov("s_nationkey + 1000", sibling = false)} AS addr,
       |   count(*) AS n_suppliers
       |  FROM supplier GROUP BY 1) f
       |JOIN (SELECT n_name,
       |   ${sqlSov("n_nationkey + 1000", sibling = false)} AS addr
       |  FROM nation) d
       | ON f.addr = d.addr
       |ORDER BY n_name""".stripMargin

  // K3 — block-author attribution (ref substrate/test/testGetAuthor.js;
  // indexer resolves the Aura/BABE PreRuntime digest to a validator:
  // authorities[slot % |authorities|]). Here the digest slot is the
  // event_id counter, the authority set is the 25-row nation dim
  // (broadcast — exactly how a validator-session dimension joins at
  // scale), and the output is the reference's block-production tally:
  // blocks per author per day plus the author's share of the day.
  private def k3(s: SparkSession, d: String): DataFrame = {
    val slots = Tables.events(s, d)
      .select((col("event_id") % 25).cast("int").as("author_idx"),
        dayKey(col("ts")).as("day"))
    val authors = Tables.nation(s, d)
      .select(col("n_nationkey").cast("int").as("author_idx"),
        col("n_name").as("author"))
    val dayW = Window.partitionBy(col("day"))
    slots.join(broadcast(authors), Seq("author_idx"))
      .groupBy(col("day"), col("author"))
      .agg(count(lit(1)).as("n_blocks"))
      .withColumn("day_share",
        round(col("n_blocks").cast("double") /
          sum(col("n_blocks")).over(dayW), 6))
      .select(col("day"), col("author"), col("n_blocks"), col("day_share"))
      .orderBy(col("day"), col("author"))
  }

  private val k3Sql =
    s"""SELECT day, author, n_blocks,
       | round(CAST(n_blocks AS DOUBLE) /
       |   sum(n_blocks) OVER (PARTITION BY day), 6) AS day_share
       |FROM (
       | SELECT ${sqlDay(TS)} AS day, n_name AS author, count(*) AS n_blocks
       | FROM events e JOIN nation n
       |  ON CAST(e.event_id % 25 AS INT) = n.n_nationkey
       | GROUP BY 1, 2)
       |ORDER BY day, author""".stripMargin

  // K4 — account-relation table build + related-accounts lookup (ref
  // polkaholic.sql:3736 proxyaccount maintenance; serve query.js:3542
  // getRelated; library face etl/AccountRelations over real decoded
  // calls). Synthetic edges: each event is an add (event_id%5≠0) or
  // remove (%5=0) of a (delegator=user_id, delegate) relation; the
  // LATEST action per edge wins (max_by argmax keyed on the edge —
  // hash-distributed, the same shape proxyAccounts uses), live edges
  // then serve a both-directions related lookup for accounts < 30.
  private def k4(s: SparkSession, d: String): DataFrame = {
    val actions = Tables.events(s, d).select(
      col("user_id").cast("long").as("delegator"),
      ((col("user_id") + 1 + col("event_id") % 7) % 2000).cast("long")
        .as("delegate"),
      (col("event_id") % 5 =!= 0).as("is_add"),
      us(col("ts")).as("ts_us"), col("event_id"))
    // the account < 30 lookup gate is applied POST-explode on a derived
    // column, which the optimizer cannot push back through the explode
    // or the argmax — but an edge can only surface a row if one of its
    // endpoints is < 30, so the equivalent endpoint disjunction prunes
    // the stream BEFORE the heavy shuffle (round 18, guide §2.3: at
    // corpus scale this drops ~everything ahead of the exchange). The
    // argmax per surviving edge is untouched: the window keys are the
    // filter columns, so whole partitions drop, never rows within one.
    // max_by instead of the row_number window: the latest-action pick
    // is an aggregation, so the map side combines repeat actions per
    // edge before the shuffle (event_id unique ⇒ the struct max is
    // exactly the old (ts DESC, event_id DESC) rank-1 row).
    val live = actions
      .filter(col("delegator") < 30 || col("delegate") < 30)
      .groupBy(col("delegator"), col("delegate"))
      .agg(max_by(col("is_add"),
        struct(col("ts_us"), col("event_id"))).as("is_add"))
      .filter(col("is_add"))
      .select(col("delegator"), col("delegate"))
    // both directions from ONE pass over the live edges (a two-branch
    // union would scan + re-run the argmax window twice)
    live.select(explode(array(
        struct(col("delegator").as("account"),
          col("delegate").as("related"), lit("out").as("dir")),
        struct(col("delegate").as("account"),
          col("delegator").as("related"), lit("in").as("dir")))).as("e"))
      .select(col("e.account"), col("e.related"), col("e.dir"))
      .filter(col("account") < 30)
      .distinct()
      .groupBy(col("account"))
      .agg(count(lit(1)).as("n_related"),
        array_join(sort_array(collect_set(
          concat(col("dir"), lit(":"), col("related").cast("string")))),
          ",").as("related_csv"))
      .orderBy(col("account"))
  }

  private val k4Sql =
    """WITH actions AS (
      | SELECT user_id AS delegator,
      |  (user_id + 1 + event_id % 7) % 2000 AS delegate,
      |  (event_id % 5 <> 0) AS is_add, ts, event_id,
      |  row_number() OVER (
      |    PARTITION BY user_id, (user_id + 1 + event_id % 7) % 2000
      |    ORDER BY ts DESC, event_id DESC) AS rn
      | FROM events),
      |live AS (
      | SELECT delegator, delegate FROM actions WHERE rn = 1 AND is_add),
      |rel AS (
      | SELECT delegator AS account, delegate AS related, 'out' AS dir
      | FROM live WHERE delegator < 30
      | UNION
      | SELECT delegate AS account, delegator AS related, 'in' AS dir
      | FROM live WHERE delegate < 30)
      |SELECT account, count(*) AS n_related,
      | array_to_string(list_sort(list(dir || ':' ||
      |   CAST(related AS VARCHAR))), ',') AS related_csv
      |FROM rel GROUP BY account ORDER BY account""".stripMargin

  // K5 — identity-state dimension build (the etl/Identity shape with a
  // synthetic oracle, ref identityManager.js:40 dump_identity): set/
  // clear actions resolve latest-wins per account, judgements resolve
  // latest-wins per (account, registrar) then roll up to a verified
  // flag, and the dimension is the FULL OUTER union of accounts with an
  // identity or a judgement — the keyed latest-wins picks + outer join
  // the real pipeline runs, hash-verified end-to-end.
  private def k5(s: SparkSession, d: String): DataFrame = {
    // the account < 50 gate sat AFTER the full-outer join, on the
    // coalesced using-column — unpushable through a full outer join, so
    // every account's history rode both latest-wins shuffles only to be
    // dropped at the end. The join key equals the filter column on both
    // sides, so filtering the SOURCE is equivalent (an account survives
    // the post-join gate iff it survives on whichever side it came
    // from) and bounds everything downstream to the lookup slice
    // (round 18, guide §2.3).
    val ev = Tables.events(s, d).select(
      col("user_id").cast("long").as("account"),
      (col("event_id") % 3).as("kind"), // 0=set 1=clear 2=judgement
      (col("event_id") % 5).cast("int").as("registrar"),
      (col("value") > 50).as("good"),
      us(col("ts")).as("ts_us"), col("event_id"))
      .filter(col("account") < 50)
    // both latest-wins picks as max_by aggregations instead of
    // row_number windows: map-side combine collapses each account's
    // (or (account, registrar)'s) action history before the shuffle,
    // and event_id uniqueness makes the struct max the old rank-1 row
    val info = ev.filter(col("kind") < 2)
      .groupBy(col("account"))
      .agg(max_by(col("kind"),
        struct(col("ts_us"), col("event_id"))).as("last_kind"))
      .filter(col("last_kind") === 0)
      .select(col("account"),
        concat(lit("name-"), col("account")).as("display"))
    val judg = ev.filter(col("kind") === 2)
      .groupBy(col("account"), col("registrar"))
      .agg(max_by(col("good"),
        struct(col("ts_us"), col("event_id"))).as("good"))
      .groupBy(col("account"))
      .agg(count(lit(1)).as("n_judgements"),
        max(col("good")).as("verified"))
    info.join(judg, Seq("account"), "full_outer")
      .withColumn("verified", coalesce(col("verified"), lit(false)))
      .withColumn("n_judgements", coalesce(col("n_judgements"), lit(0L)))
      .select(col("account"), col("display"), col("n_judgements"),
        col("verified"))
      .orderBy(col("account"))
  }

  private val k5Sql =
    """WITH ev AS (
      | SELECT user_id AS account, event_id % 3 AS kind,
      |  CAST(event_id % 5 AS INT) AS registrar, ("value" > 50) AS good,
      |  ts, event_id FROM events),
      |info AS (
      | SELECT account, 'name-' || CAST(account AS VARCHAR) AS display
      | FROM (SELECT account, kind, row_number() OVER (
      |    PARTITION BY account ORDER BY ts DESC, event_id DESC) AS rn
      |   FROM ev WHERE kind < 2)
      | WHERE rn = 1 AND kind = 0),
      |judg AS (
      | SELECT account, count(*) AS n_judgements, max(good) AS verified
      | FROM (SELECT account, registrar, good, row_number() OVER (
      |    PARTITION BY account, registrar
      |    ORDER BY ts DESC, event_id DESC) AS rn
      |   FROM ev WHERE kind = 2)
      | WHERE rn = 1 GROUP BY account)
      |SELECT COALESCE(i.account, j.account) AS account, display,
      | COALESCE(n_judgements, 0) AS n_judgements,
      | COALESCE(verified, false) AS verified
      |FROM info i FULL OUTER JOIN judg j ON i.account = j.account
      |WHERE COALESCE(i.account, j.account) < 50
      |ORDER BY account""".stripMargin

  // K6 — AccountId20 (H160) derivation join: both sides derive the EVM
  // address of a synthetic 32-byte account id (two md5 halves — md5 is
  // identical cross-engine) through `pubkey_to_h160`, whose
  // first-20-bytes semantics DuckDB reproduces as a substring — so the
  // Moonbeam-class address normalization (P12, ref paraTool.js:517) is
  // verified under the hash gate, not just by golden vectors.
  private def k6(s: SparkSession, d: String): DataFrame = {
    def pubkey(key: String) =
      s"concat('0x', md5(CAST($key AS STRING)), " +
        s"md5(concat(CAST($key AS STRING), 'x')))"
    val dim = Tables.nation(s, d)
      .selectExpr("n_name",
        s"pubkey_to_h160(${pubkey("n_nationkey")}) AS h160")
    val fact = Tables.supplier(s, d)
      .selectExpr(s"pubkey_to_h160(${pubkey("s_nationkey")}) AS h160")
      .groupBy(col("h160"))
      .agg(count(lit(1)).as("n_suppliers"))
    fact.join(broadcast(dim), Seq("h160"))
      .select(col("n_name"), col("h160"), col("n_suppliers"))
      .orderBy(col("n_name"))
  }

  private val k6Sql = {
    def h160(key: String) =
      s"'0x' || substr(md5(CAST($key AS VARCHAR)) || " +
        s"md5(CAST($key AS VARCHAR) || 'x'), 1, 40)"
    s"""SELECT n_name, f.h160, n_suppliers
       |FROM (SELECT ${h160("s_nationkey")} AS h160,
       |   count(*) AS n_suppliers FROM supplier GROUP BY 1) f
       |JOIN (SELECT n_name, ${h160("n_nationkey")} AS h160
       |  FROM nation) d ON f.h160 = d.h160
       |ORDER BY n_name""".stripMargin
  }

  // K7 — storage-key component extraction (ref paraTool.js:2025
  // parseStorageKey): recover the raw map key from concat-hashed
  // storage keys via the broadcast keyed prefix dimension + pure
  // codegen'd substring arithmetic (graft.decode.TraceDecode
  // .extractKeyComponents — no UDF in the hot path). Keys are
  // synthesized from events columns with the REAL twox128 prefix pair
  // (computed once in Scala and embedded as the same literal in both
  // engines) and a deterministic filler hash segment; extraction is
  // position-based so the DuckDB twin recomputes the expected
  // component arithmetically, and the twox64concat branch round-trips
  // the extracted hex back to its source number.
  private def k7Pfx(sec: String, sto: String): String =
    graft.functions.Codec.bytesToHex(
      graft.functions.Codec.twox128(sec.getBytes("UTF-8")) ++
        graft.functions.Codec.twox128(sto.getBytes("UTF-8")),
      prefix = false)

  private def k7(s: SparkSession, d: String): DataFrame = {
    val dim = graft.decode.TraceDecode.keyedPrefixDim(s, Seq(
      ("System", "Account", "blake2_128concat", 32),
      ("Balances", "Locks", "twox64concat", 8)))
    val keys = Tables.events(s, d)
      .filter(col("event_id") < 2000)
      .select(col("event_id"), col("user_id"))
      .withColumn("k",
        when(col("event_id") % 2 === 0,
          concat(lit("0x" + k7Pfx("System", "Account")),
            lit("ab" * 16), // filler "hash" — extraction is positional
            repeat(format_string("%02x", col("user_id") % 256), 32)))
          .otherwise(
            concat(lit("0x" + k7Pfx("Balances", "Locks")),
              lit("cd" * 8),
              format_string("%016x", col("event_id")))))
    graft.decode.TraceDecode.extractKeyComponents(keys, dim)
      .select(col("event_id"), col("section"), col("storage"),
        col("hasher"), col("raw_key"),
        when(col("hasher") === "twox64concat",
          conv(col("raw_key"), 16, 10).cast("long")).as("key_num"))
      .orderBy(col("event_id"))
  }

  private val k7Sql =
    """SELECT event_id,
      | CASE WHEN event_id % 2 = 0 THEN 'System' ELSE 'Balances' END
      |  AS section,
      | CASE WHEN event_id % 2 = 0 THEN 'Account' ELSE 'Locks' END
      |  AS storage,
      | CASE WHEN event_id % 2 = 0 THEN 'blake2_128concat'
      |  ELSE 'twox64concat' END AS hasher,
      | CASE WHEN event_id % 2 = 0
      |  THEN repeat(printf('%02x', user_id % 256), 32)
      |  ELSE printf('%016x', event_id) END AS raw_key,
      | CASE WHEN event_id % 2 = 1 THEN CAST(event_id AS BIGINT) END
      |  AS key_num
      |FROM events WHERE event_id < 2000 ORDER BY event_id""".stripMargin

  // K8 — METADATA-DERIVED key extraction under the oracle: the same
  // positional slicing as k7, but the dimension (components, hashers,
  // absolute offsets) comes from a ParsedMetadata.storageKeys layout
  // through TraceDecode.keyedPrefixDimFromMetadata — including a
  // DOUBLE map (one-way-advance + two recoverable components) and a
  // variable-width identity key sliced as rest-of-key. The DuckDB
  // twin recomputes each component row arithmetically, so a wrong
  // offset walk (hash widths, concat advance, rest-of-key) is a hash
  // mismatch, not just a spec failure.
  private def k8(s: SparkSession, d: String): DataFrame = {
    import graft.decode.MetaDecode._
    val parsed = graft.decode.MetadataV14.ParsedMetadata(
      Seq.empty, Map.empty, Map.empty, Map(
        ("staking", "ErasStakers") ->
          Seq(("twox64concat", U32), ("blake2_128concat", AccountId)),
        ("system", "EventTopics") -> Seq(("identity", Bytes))))
    val dim = graft.decode.TraceDecode.keyedPrefixDimFromMetadata(s, parsed)
    val pS = k7Pfx("staking", "ErasStakers")
    val pT = k7Pfx("system", "EventTopics")
    val keys = Tables.events(s, d)
      .filter(col("event_id") < 2000)
      .select(col("event_id"), col("user_id"))
      .withColumn("k",
        when(col("event_id") % 2 === 0,
          concat(lit("0x" + pS),
            lit("cd" * 8), // filler twox64 — extraction is positional
            format_string("%02x000000", col("event_id") % 256),
            lit("ab" * 16), // filler blake2-128
            repeat(format_string("%02x", col("user_id") % 256), 32)))
          .otherwise(
            concat(lit("0x" + pT), format_string("%08x", col("event_id")))))
    graft.decode.TraceDecode.extractKeyComponentsMeta(keys, dim)
      .select(col("event_id"), col("section"), col("storage"),
        col("component_idx"), col("hasher"), col("raw_key"))
      .orderBy(col("event_id"), col("component_idx"))
  }

  private val k8Sql =
    """SELECT event_id, section, storage, component_idx, hasher, raw_key
      |FROM (
      | SELECT event_id, 'staking' AS section, 'ErasStakers' AS storage,
      |  0 AS component_idx, 'twox64concat' AS hasher,
      |  printf('%02x000000', event_id % 256) AS raw_key
      | FROM events WHERE event_id < 2000 AND event_id % 2 = 0
      | UNION ALL
      | SELECT event_id, 'staking', 'ErasStakers', 1,
      |  'blake2_128concat', repeat(printf('%02x', user_id % 256), 32)
      | FROM events WHERE event_id < 2000 AND event_id % 2 = 0
      | UNION ALL
      | SELECT event_id, 'system', 'EventTopics', 0, 'identity',
      |  printf('%08x', event_id)
      | FROM events WHERE event_id < 2000 AND event_id % 2 = 1)
      |ORDER BY event_id, component_idx""".stripMargin

  // K9 — the BALANCES entity projection under the oracle gate
  // (TraceDecode.balances — P10, ref substrateetl.js:6699): wire-format
  // System.Account rows are synthesized with the real twox128 prefix
  // literal, a positional filler hash, and little-endian AccountInfo
  // values built by byte-arithmetic format_strings; the REAL operator
  // (prefix join + key slice + per-row AccountInfo decode) parses them
  // back and the DuckDB twin recomputes every output column from the
  // same doc-id formulas — a wrong endianness, offset, or scale is a
  // hash mismatch. account_ss58 (blake2-based, not DuckDB-computable)
  // is deliberately excluded; CodecSpec goldens own it.
  private def leU32(c: org.apache.spark.sql.Column) =
    format_string("%02x%02x%02x%02x",
      c % 256, (c.cast("long") / 256).cast("long") % 256,
      (c.cast("long") / 65536).cast("long") % 256,
      (c.cast("long") / 16777216).cast("long") % 256)
  private def leU128Small(c: org.apache.spark.sql.Column) =
    concat(leU32(c), lit("0" * 24)) // values < 2^31: low word + zeros

  private def k9(s: SparkSession, d: String): DataFrame = {
    val dim = graft.decode.TraceDecode.keyedPrefixDim(s, Seq(
      ("System", "Account", "blake2_128concat", 32)))
    val nonce = col("event_id") % 1000
    val free = col("event_id") % 100000 * 7 + 1
    val reserved = col("event_id") % 500
    val traces = Tables.events(s, d)
      .filter(col("event_id") < 1500)
      .select(col("event_id"), col("user_id"))
      .withColumn("k",
        concat(lit("0x" + k7Pfx("System", "Account")),
          lit("ab" * 16), // filler hash — the slice is positional
          repeat(format_string("%02x", col("user_id") % 256), 32)))
      .withColumn("v",
        concat(lit("0x"), leU32(nonce),
          lit("01000000" + "01000000" + "00000000"), // refcounts
          leU128Small(free), leU128Small(reserved),
          leU128Small(lit(0))))
    graft.decode.TraceDecode.balances(traces, dim, decimals = 10)
      .select(col("event_id"), col("address_pubkey"),
        col("nonce"),
        col("free_raw").cast("long").as("free_raw"),
        col("reserved_raw").cast("long").as("reserved_raw"),
        col("free"), col("reserved"), col("frozen"))
      .orderBy(col("event_id"))
  }

  private val k9Sql =
    """SELECT event_id,
      | repeat(printf('%02x', user_id % 256), 32) AS address_pubkey,
      | CAST(event_id % 1000 AS BIGINT) AS nonce,
      | CAST(event_id % 100000 * 7 + 1 AS BIGINT) AS free_raw,
      | CAST(event_id % 500 AS BIGINT) AS reserved_raw,
      | CAST(event_id % 100000 * 7 + 1 AS DOUBLE) / 10000000000 AS free,
      | CAST(event_id % 500 AS DOUBLE) / 10000000000 AS reserved,
      | CAST(0.0 AS DOUBLE) AS frozen
      |FROM events WHERE event_id < 1500 ORDER BY event_id""".stripMargin

  // K10 — ABI function-CALLDATA decode under the oracle gate
  // (AbiDecode.decodeCalldata — ref ethTool.js decodeTransactionInput):
  // transfer(address,uint256) calldata is synthesized from md5-derived
  // addresses (md5 is identical cross-engine) and %064x-encoded
  // values; every third row carries an unknown selector the decoder
  // must pass through with a null method. The DuckDB twin rebuilds the
  // selector dispatch AND the decoded JSON text character-for-
  // character, so the selector table, the address lowercasing, and the
  // uint256 decimal render are all under the hash.
  private def k10(s: SparkSession, d: String): DataFrame = {
    val transferAbi =
      """{"type":"function","name":"transfer","inputs":[
        {"name":"to","type":"address"},{"name":"value","type":"uint256"}]}"""
    val addr40 = synthHex40(col("user_id").cast("string"))
    val value = col("event_id") % 1000000 + 1
    val txs = Tables.events(s, d)
      .filter(col("event_id") < 1500)
      .select(col("event_id"), col("user_id"))
      .withColumn("input",
        when(col("event_id") % 3 === 0,
          concat(lit("0x12345678"), format_string("%064x", value)))
          .otherwise(concat(lit("0xa9059cbb"), lit("0" * 24), addr40,
            format_string("%064x", value))))
    graft.decode.AbiDecode.decodeCalldata(txs, Seq(transferAbi))
      .select(col("event_id"), col("selector"), col("method"),
        col("decoded_call"))
      .orderBy(col("event_id"))
  }

  private val k10Sql =
    """SELECT event_id,
      | CASE WHEN event_id % 3 = 0 THEN '0x12345678'
      |  ELSE '0xa9059cbb' END AS selector,
      | CASE WHEN event_id % 3 = 0 THEN NULL
      |  ELSE 'transfer' END AS method,
      | CASE WHEN event_id % 3 = 0 THEN NULL
      |  ELSE '{"to":"0x' || substr(md5(CAST(user_id AS VARCHAR)) ||
      |   md5(CAST(user_id AS VARCHAR) || 'x'), 1, 40)
      |   || '","value":"' || CAST(event_id % 1000000 + 1 AS VARCHAR)
      |   || '"}' END AS decoded_call
      |FROM events WHERE event_id < 1500 ORDER BY event_id""".stripMargin

  // K11 — the k9 balances shape THROUGH THE WRITER (Dump.dumpTracesDay
  // — the trace-side daily dump, ref substrateetl.js:6936
  // backfill_trace*): the same wire-format System.Account rows, now
  // with block context (several traces per block), are written as the
  // `traces` + `balances` date partitions and the query READS THE
  // DUMPED LAYOUT back — so the projection, the partition overwrite,
  // and the parquet round trip are all under the oracle hash. Rollup
  // per address; the DuckDB twin recomputes from the same formulas.
  private def k11(s: SparkSession, d: String): DataFrame = {
    val dim = graft.decode.TraceDecode.keyedPrefixDim(s, Seq(
      ("System", "Account", "blake2_128concat", 32)))
    val nonce = col("event_id") % 1000
    val free = col("event_id") % 100000 * 7 + 1
    val reserved = col("event_id") % 500
    val rawTraces = Tables.events(s, d)
      .filter(col("event_id") < 1500)
      .select(col("event_id"), col("user_id"))
      .withColumn("chain_id", lit(0))
      .withColumn("number", expr("event_id div 5"))
      .withColumn("block_hash", format_string("0xb%d", col("number")))
      .withColumn("block_time",
        (lit(1709251200L) + pmod(col("number"), lit(86400L)))
          .cast("timestamp"))
      .withColumn("trace_idx", pmod(col("event_id"), lit(5)).cast("int"))
      .withColumn("finalized", lit(true))
      .withColumn("k",
        concat(lit("0x" + k7Pfx("System", "Account")),
          lit("ab" * 16),
          repeat(format_string("%02x", col("user_id") % 256), 32)))
      .withColumn("v",
        concat(lit("0x"), leU32(nonce),
          lit("01000000" + "01000000" + "00000000"),
          leU128Small(free), leU128Small(reserved),
          leU128Small(lit(0))))
    val out = queryDumpDir("graft_traces_dump")
    graft.etl.Dump.dumpTracesDay(rawTraces, dim, "2024-03-01", out)(
      "balances")
      .groupBy(col("address_pubkey"))
      .agg(
        count(lit(1)).as("n_touches"),
        countDistinct(col("block_number")).as("n_blocks"),
        max(col("nonce")).as("max_nonce"),
        sum(col("free_raw")).cast("long").as("sum_free_raw"),
        decOut(sum(dec6(col("free")))).as("sum_free"))
      .orderBy(col("address_pubkey"))
  }

  private val k11Sql =
    """SELECT repeat(printf('%02x', user_id % 256), 32) AS address_pubkey,
      | count(*) AS n_touches,
      | count(DISTINCT event_id // 5) AS n_blocks,
      | CAST(max(event_id % 1000) AS BIGINT) AS max_nonce,
      | CAST(sum(event_id % 100000 * 7 + 1) AS BIGINT) AS sum_free_raw,
      | round(CAST(sum(CAST(CAST(event_id % 100000 * 7 + 1 AS DOUBLE)
      |   / 10000000000 AS DECIMAL(38,6))) AS DOUBLE), 6) AS sum_free
      |FROM events WHERE event_id < 1500
      |GROUP BY 1 ORDER BY address_pubkey""".stripMargin

  // K12 — the EVM daily dump THROUGH THE WRITER (EvmDump.dumpEvmDay →
  // evmtxs; table registry ref substrateetl.js:154-155, fee math ref
  // ethTool.js:853-861): deterministic tx/receipt frames cover the
  // legacy / EIP-1559 / pending / failed / contract-creation branches,
  // the REAL projection computes fee/burned_fee/txn_saving and resolves
  // the 4-byte selector against a broadcast signature registry, the
  // table writes as a date partition, and the query reads the WRITTEN
  // layout back for a per-(receipt_status, transaction_type) rollup
  // whose DuckDB twin recomputes the fee algebra from first principles.
  private def k12(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    def d38(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val e = Tables.events(s, d).filter(col("event_id") < 2000)
      .select(col("event_id"), col("user_id"))
    val is1559 = col("event_id") % 3 === 0
    val bn = expr("event_id div 10")
    val hash = concat(lit("0x"),
      md5(col("event_id").cast("string").cast("binary")))
    val from40 = synthHex40(col("user_id").cast("string"))
    val word = format_string("%064x", col("event_id") % 1000000 + 1)
    val txs = e.select(
      lit(0).as("chain_id"),
      hash.as("transaction_hash"),
      (col("event_id") % 50).cast("int").as("nonce"),
      (col("event_id") % 100).cast("int").as("transaction_index"),
      concat(lit("0x"), from40).as("from_address"),
      format_string("0x%040x", col("event_id") % 700).as("to_address"),
      d38((col("event_id") % 1000 + 1) * lit(1000000000L)).as("value"),
      (lit(21000) + col("event_id") % 1000).cast("long").as("gas"),
      d38(col("event_id") % 7 + 1).as("gas_price"),
      when(is1559, d38(col("event_id") % 7 + 3)).as("max_fee_per_gas"),
      when(is1559, d38(lit(1))).as("max_priority_fee_per_gas"),
      when(is1559, lit(2)).otherwise(lit(0)).cast("int")
        .as("transaction_type"),
      when(col("event_id") % 5 === 0, lit("0x"))
        .when(col("event_id") % 7 === 0, concat(lit("0x12345678"), word))
        .otherwise(concat(lit("0xa9059cbb"), lit("0" * 24),
          format_string("%040x", col("event_id") % 700), word))
        .as("input"),
      bn.as("block_number"),
      format_string("0xb%d", bn).as("block_hash"),
      (lit(1709251200L) + pmod(bn, lit(86400L))).cast("timestamp")
        .as("block_timestamp"),
      concat(bn, lit("-"), col("event_id") % 100).as("extrinsic_id"),
      concat(lit("0xe"), md5(concat(col("event_id").cast("string"),
        lit("h")).cast("binary"))).as("extrinsic_hash"))
    val rec = e.filter(col("event_id") % 11 =!= 0).select(
      hash.as("transaction_hash"),
      when(col("event_id") % 17 === 0, 0).otherwise(1).cast("int")
        .as("status"),
      (lit(21000) + col("event_id") % 1000 - col("event_id") % 500)
        .cast("long").as("gas_used"),
      (lit(21000) + col("event_id") % 1000 - col("event_id") % 500
        + col("event_id") % 100).cast("long")
        .as("cumulative_gas_used"),
      when(is1559, d38(col("event_id") % 7 + 2))
        .otherwise(d38(col("event_id") % 7 + 1))
        .as("effective_gas_price"),
      when(col("event_id") % 19 === 0,
        format_string("0xc%039x", col("event_id")))
        .as("contract_address"),
      array().cast(
        "array<struct<address:string,topics:array<string>,data:string>>")
        .as("logs"))
    val sigs = Seq(("0xa9059cbb", "transfer(address,uint256)"))
      .toDF("selector", "signature")
    val dir = queryDumpDir("graft_evm_dump")
    val written = graft.etl.EvmDump.dumpEvmDay(txs, rec, "2024-03-01",
      dir, signatures = Some(sigs))
    written("evmtxs")
      .groupBy(col("receipt_status"), col("transaction_type"))
      .agg(count(lit(1)).as("n_txs"),
        sum(col("fee")).cast("long").as("sum_fee"),
        sum(col("burned_fee")).cast("long").as("sum_burned"),
        sum(col("txn_saving")).cast("long").as("sum_saving"),
        sum(col("value")).cast("long").as("sum_value"),
        count(col("receipt_contract_address")).as("n_creates"),
        count(col("method_id")).as("n_methods"),
        count(col("signature")).as("n_sigs"))
      .orderBy(asc_nulls_first("receipt_status"),
        col("transaction_type"))
  }

  private val k12Sql =
    """WITH t AS (
      | SELECT event_id,
      |  CASE WHEN event_id % 11 = 0 THEN NULL
      |       WHEN event_id % 17 = 0 THEN 0 ELSE 1 END AS receipt_status,
      |  CASE WHEN event_id % 3 = 0 THEN 2 ELSE 0 END AS transaction_type,
      |  CASE WHEN event_id % 11 = 0 THEN NULL
      |       ELSE 21000 + event_id % 1000 - event_id % 500 END AS gas_used,
      |  event_id % 7 + 1 AS gas_price,
      |  (event_id % 1000 + 1) * CAST(1000000000 AS BIGINT) AS value,
      |  CASE WHEN event_id % 11 = 0 THEN NULL
      |       WHEN event_id % 19 = 0 THEN 1 END AS created,
      |  CASE WHEN event_id % 5 = 0 THEN NULL ELSE 1 END AS has_method,
      |  CASE WHEN event_id % 5 = 0 OR event_id % 7 = 0 THEN NULL
      |       ELSE 1 END AS has_sig
      | FROM events WHERE event_id < 2000)
      |SELECT receipt_status, transaction_type,
      | count(*) AS n_txs,
      | CAST(sum(gas_used * gas_price) AS BIGINT) AS sum_fee,
      | CAST(sum(CASE WHEN transaction_type = 2
      |   THEN gas_used * (event_id % 7 + 2)
      |   ELSE gas_used * 0 END) AS BIGINT) AS sum_burned,
      | CAST(sum(CASE WHEN transaction_type = 2 THEN gas_used
      |   ELSE NULL END) AS BIGINT) AS sum_saving,
      | CAST(sum(value) AS BIGINT) AS sum_value,
      | count(created) AS n_creates,
      | count(has_method) AS n_methods,
      | count(has_sig) AS n_sigs
      |FROM t GROUP BY 1, 2
      |ORDER BY receipt_status NULLS FIRST, transaction_type""".stripMargin

  // K13 — the evmtransfers daily dump THROUGH THE WRITER (EvmDump.
  // dumpEvmDay → evmtransfers; ref ethTool.js Transfer/TransferSingle
  // log decode, schema substrateetl/evmtransfers.json): receipt logs
  // synthesize the three token families on their REAL wire topics —
  // ERC-20 (3 topics + value word), ERC-721 (4 topics, indexed id,
  // empty data), ERC-1155 TransferSingle (operator topic + id‖value
  // data words) — the real extractors classify + normalize them, the
  // table writes and reads back, and the per-family rollup's DuckDB
  // twin re-derives every column from the synthesis arithmetic.
  private def k13(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d).filter(col("event_id") < 1800)
      .select(col("event_id"), col("user_id"))
    val kind = pmod(col("event_id"), lit(3))
    val bn = expr("event_id div 10")
    def topicOf(c: org.apache.spark.sql.Column) =
      concat(lit("0x"), lit("0" * 24), format_string("%040x", c))
    val fromT = topicOf(col("user_id") % 1000)
    val toT = topicOf(col("event_id") % 700 + 2000000)
    val lg = struct(
      concat(lit("0xt"), (col("event_id") % 5).cast("string"))
        .as("address"),
      when(kind === 0, array(lit(graft.decode.EvmDecode.TransferTopic),
          fromT, toT))
        .when(kind === 1, array(lit(graft.decode.EvmDecode.TransferTopic),
          fromT, toT, topicOf(col("event_id") % 997)))
        .otherwise(array(
          lit(graft.decode.EvmDecode.TransferSingleTopic),
          topicOf(lit(9)), fromT, toT))
        .as("topics"),
      when(kind === 0, concat(lit("0x"),
          format_string("%064x", col("event_id") % 100000 + 1)))
        .when(kind === 1, lit("0x"))
        .otherwise(concat(lit("0x"),
          format_string("%064x", col("event_id") % 53),
          format_string("%064x", col("event_id") % 11 + 1)))
        .as("data"))
    val hash = concat(lit("0x"),
      md5(col("event_id").cast("string").cast("binary")))
    val nullD38 = lit(null).cast("decimal(38,0)")
    val txs = e.select(
      lit(0).as("chain_id"),
      hash.as("transaction_hash"),
      lit(0).as("nonce"), lit(0).as("transaction_index"),
      format_string("0x%040x", col("user_id")).as("from_address"),
      format_string("0x%040x", col("event_id") % 700).as("to_address"),
      d38zero.as("value"),
      lit(21000L).as("gas"), lit(1).cast("decimal(38,0)").as("gas_price"),
      nullD38.as("max_fee_per_gas"),
      nullD38.as("max_priority_fee_per_gas"),
      lit(0).as("transaction_type"), lit("0x").as("input"),
      bn.as("block_number"),
      format_string("0xb%d", bn).as("block_hash"),
      (lit(1709251200L) + pmod(bn, lit(86400L))).cast("timestamp")
        .as("block_timestamp"),
      lit(null).cast("string").as("extrinsic_id"),
      lit(null).cast("string").as("extrinsic_hash"))
    val rec = e.select(
      hash.as("transaction_hash"),
      lit(1).as("status"), lit(21000L).as("gas_used"),
      lit(21000L).as("cumulative_gas_used"),
      lit(1).cast("decimal(38,0)").as("effective_gas_price"),
      lit(null).cast("string").as("contract_address"),
      array(lg).as("logs"))
    val dir = queryDumpDir("graft_evmtr_dump")
    val written = graft.etl.EvmDump.dumpEvmDay(txs, rec, "2024-03-01",
      dir)
    written("evmtransfers")
      .groupBy(col("transfer_type"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("token_address")).as("n_tokens"),
        countDistinct(col("to_address")).as("n_recipients"),
        sum(col("value").cast("long")).as("sum_value"),
        count(col("token_ids")).as("n_with_ids"),
        count(col("operator")).as("n_ops"),
        max(col("token_ids")).as("max_tids"))
      .orderBy(col("transfer_type"))
  }

  private def d38zero = lit(0).cast("decimal(38,0)")

  private val k13Sql =
    """WITH t AS (
      | SELECT event_id, event_id % 3 AS kind FROM events
      | WHERE event_id < 1800)
      |SELECT CASE WHEN kind = 0 THEN 'ERC20'
      |  WHEN kind = 1 THEN 'ERC721' ELSE 'ERC1155' END AS transfer_type,
      | count(*) AS n_rows,
      | count(DISTINCT event_id % 5) AS n_tokens,
      | count(DISTINCT event_id % 700) AS n_recipients,
      | CAST(sum(CASE WHEN kind = 0 THEN event_id % 100000 + 1 END)
      |   AS BIGINT) AS sum_value,
      | count(CASE WHEN kind > 0 THEN 1 END) AS n_with_ids,
      | count(CASE WHEN kind = 2 THEN 1 END) AS n_ops,
      | max(CASE
      |   WHEN kind = 1 THEN '[' || CAST(event_id % 997 AS VARCHAR) || ']'
      |   WHEN kind = 2 THEN '[' || CAST(event_id % 53 AS VARCHAR) || ']'
      |   END) AS max_tids
      |FROM t GROUP BY 1 ORDER BY transfer_type""".stripMargin

  // K21/K22 — the composable slice of the standalone `evm.*` dataset
  // (EvmDump.dumpEvmDataset → logs + token_transfers; schemas
  // substrateetl/evm/{logs,token_transfers}.json, the eth-etl shapes):
  // receipt logs synthesize ERC-20 / ERC-721 / custom-topic kinds on
  // real wire layouts, some txs carry NO logs (pending-style rows must
  // yield nothing), topic0 resolves against a broadcast event-signature
  // registry (the custom topic stays unresolved), and both tables
  // write as date partitions and read back.
  // one-slot memo: k21/k22/k23 are three consumers of ONE dataset
  // dump (the d3/d12 shared-stage lesson — without it each query
  // re-joins and re-writes all three tables). Bench times the cold
  // build + writes as `stage:evmds_dump`; the queries read memo-warm.
  private[graft] val evmDsStage = new StageMemo(buildEvmDataset(_, _))

  /** Bench hooks: build + write the shared evm.* dataset dump / drop
    * the memo so the bench times the stage cold (nothing cached to
    * release: the memo holds the dump's read-backs, forced so a
    * memo-warm consumer lists nothing). */
  def warmEvmDataset(s: SparkSession, d: String): Unit = {
    evmDsStage(s, d); ()
  }
  def resetEvmDataset(): Unit = evmDsStage.reset()

  private def buildEvmDataset(s: SparkSession, d: String)
      : Map[String, DataFrame] = {
    import s.implicits._
    val e = Tables.events(s, d).filter(col("event_id") < 1500)
      .select(col("event_id"), col("user_id"))
    val kind = pmod(col("event_id"), lit(3))
    val bn = expr("event_id div 10")
    def topicOf(c: org.apache.spark.sql.Column) =
      concat(lit("0x"), lit("0" * 24), format_string("%040x", c))
    val fromT = topicOf(col("user_id") % 1000)
    val toT = topicOf(col("event_id") % 700 + 2000000)
    val lg = struct(
      concat(lit("0xt"), (col("event_id") % 5).cast("string"))
        .as("address"),
      when(kind === 0, array(lit(graft.decode.EvmDecode.TransferTopic),
          fromT, toT))
        .when(kind === 1, array(lit(graft.decode.EvmDecode.TransferTopic),
          fromT, toT, topicOf(col("event_id") % 997)))
        .otherwise(array(topicOf(lit(77)), fromT)).as("topics"),
      when(kind === 0, concat(lit("0x"),
          format_string("%064x", col("event_id") % 100000 + 1)))
        .when(kind === 1, lit("0x"))
        .otherwise(lit("0xdead")).as("data"))
    val hash = concat(lit("0x"),
      md5(col("event_id").cast("string").cast("binary")))
    // full eth-etl tx columns (the k12 fee synthesis) so the SAME
    // dump also produces evm.transactions for k23: all txs mined
    // (status 1, gas_used 21000, effective price 1 wei), types split
    // on the mod-3 lane, the input rotating no-selector / unresolved
    // selector / registry-resolved transfer()
    def d38(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val is1559 = col("event_id") % 3 === 0
    val word = format_string("%064x", col("event_id") % 1000000 + 1)
    val txs = e.select(
      lit(0).as("chain_id"),
      hash.as("transaction_hash"),
      (col("event_id") % 50).cast("int").as("nonce"),
      (col("event_id") % 100).cast("int").as("transaction_index"),
      format_string("0x%040x", col("user_id")).as("from_address"),
      format_string("0x%040x", col("event_id") % 700).as("to_address"),
      d38((col("event_id") % 1000 + 1) * lit(1000000000L)).as("value"),
      (lit(21000) + col("event_id") % 1000).cast("long").as("gas"),
      d38(col("event_id") % 7 + 1).as("gas_price"),
      when(is1559, d38(col("event_id") % 7 + 3)).as("max_fee_per_gas"),
      when(is1559, d38(lit(1))).as("max_priority_fee_per_gas"),
      when(is1559, lit(2)).otherwise(lit(0)).cast("int")
        .as("transaction_type"),
      when(col("event_id") % 5 === 0, lit("0x"))
        .when(col("event_id") % 7 === 0, concat(lit("0x12345678"), word))
        .otherwise(concat(lit("0xa9059cbb"), lit("0" * 24),
          format_string("%040x", col("event_id") % 700), word))
        .as("input"),
      bn.as("block_number"),
      format_string("0xb%d", bn).as("block_hash"),
      (lit(1709251200L) + pmod(bn, lit(86400L))).cast("timestamp")
        .as("block_timestamp"))
    val rec = e.select(
      hash.as("transaction_hash"),
      lit(1).as("status"), lit(21000L).as("gas_used"),
      lit(21000L).as("cumulative_gas_used"),
      lit(1).cast("decimal(38,0)").as("effective_gas_price"),
      when(col("event_id") % 13 === 0, array().cast(
          "array<struct<address:string,topics:array<string>,data:string>>"))
        .otherwise(array(lg)).as("logs"))
    val sigs = Seq((graft.decode.EvmDecode.TransferTopic,
      "Transfer(address,address,uint256)")).toDF("topic0", "signature")
    val callSigs = Seq(("0xa9059cbb", "transfer(address,uint256)"))
      .toDF("selector", "signature")
    val chains = Seq((0, "moonbeam")).toDF("chain_id", "id")
    graft.etl.EvmDump.dumpEvmDataset(txs, rec, "2024-03-01",
      queryDumpDir("graft_evmds_dump"), Some(chains), Some(sigs),
      Some(callSigs)).toMap
  }

  private def k21(s: SparkSession, d: String): DataFrame =
    evmDsStage(s, d)("logs")
      .select(col("id"), col("transaction_hash"),
        col("transaction_index"), col("log_index"), col("address"),
        col("data"), size(col("topics")).as("n_topics"),
        element_at(col("topics"), 1).as("topic0"),
        col("signature"), col("block_number"))
      .orderBy(col("transaction_hash"))

  private val TransferTopicSql =
    "0xddf252ad1be2c89b69c2b068fc378daa952ba7f163c4a11628f55a4df523b3ef"

  private val k21Sql =
    s"""WITH t AS (
       | SELECT event_id AS e, user_id AS u, event_id % 3 AS kind
       | FROM events WHERE event_id < 1500 AND event_id % 13 <> 0)
       |SELECT 'moonbeam' AS id,
       | '0x' || md5(CAST(e AS VARCHAR)) AS transaction_hash,
       | CAST(e % 100 AS INT) AS transaction_index,
       | CAST(row_number() OVER (PARTITION BY e // 10 ORDER BY e % 100)
       |   - 1 AS INT) AS log_index,
       | '0xt' || CAST(e % 5 AS VARCHAR) AS address,
       | CASE WHEN kind = 0 THEN '0x' || printf('%064x', e % 100000 + 1)
       |  WHEN kind = 1 THEN '0x' ELSE '0xdead' END AS data,
       | CAST(CASE kind WHEN 0 THEN 3 WHEN 1 THEN 4 ELSE 2 END AS INT)
       |  AS n_topics,
       | CASE WHEN kind < 2 THEN '$TransferTopicSql'
       |  ELSE '0x' || repeat('0', 24) || printf('%040x', 77) END
       |  AS topic0,
       | CASE WHEN kind < 2 THEN 'Transfer(address,address,uint256)'
       |  END AS signature,
       | e // 10 AS block_number
       |FROM t ORDER BY transaction_hash""".stripMargin

  private def k22(s: SparkSession, d: String): DataFrame =
    evmDsStage(s, d)("token_transfers")
      .select(col("id"), col("token_address"), col("from_address"),
        col("to_address"), col("value"), col("transaction_hash"),
        col("log_index"), col("block_number"))
      .orderBy(col("transaction_hash"))

  private val k22Sql =
    """WITH t AS (
      | SELECT event_id AS e, user_id AS u, event_id % 3 AS kind
      | FROM events WHERE event_id < 1500 AND event_id % 13 <> 0),
      |ix AS (
      | SELECT t.*, CAST(row_number() OVER (
      |   PARTITION BY e // 10 ORDER BY e % 100) - 1 AS INT) AS li
      | FROM t)
      |SELECT 'moonbeam' AS id,
      | '0xt' || CAST(e % 5 AS VARCHAR) AS token_address,
      | '0x' || printf('%040x', u % 1000) AS from_address,
      | '0x' || printf('%040x', e % 700 + 2000000) AS to_address,
      | CASE WHEN kind = 0 THEN CAST(e % 100000 + 1 AS VARCHAR)
      |  ELSE CAST(e % 997 AS VARCHAR) END AS value,
      | '0x' || md5(CAST(e AS VARCHAR)) AS transaction_hash,
      | li AS log_index,
      | e // 10 AS block_number
      |FROM ix WHERE kind < 2 ORDER BY transaction_hash""".stripMargin

  // K23 — the `evm.transactions` export off the SAME dataset dump
  // (EvmDump.evmTransactionsOf; schema substrateetl/evm/
  // transactions.json, the eth-etl transaction stream): the evmtxs
  // shape minus substrate extrinsic identity, chain name joined, and
  // fee/burned_fee/txn_saving re-scaled from wei DECIMALs to ETHER
  // doubles. The rollup certifies the ether scaling BIT-EXACTLY by
  // re-deriving each fee off the written integer columns
  // (receipt_gas_used × gas_price / 1e18 — the same two exact-product
  // IEEE ops the export performs) and counting equality row-for-row,
  // then pins the selector-registry decode, the chain-name dim, the
  // always-null receipt_root/access_list/params contract, and the
  // value sum. Oracle = the synthesis arithmetic replayed in DuckDB.
  private def k23(s: SparkSession, d: String): DataFrame = {
    val eth = lit(1.0e18)
    val gu = col("receipt_gas_used").cast("double")
    evmDsStage(s, d)("transactions")
      .groupBy(col("transaction_type"))
      .agg(
        count(lit(1)).as("n_txs"),
        count(col("id")).as("n_named"),
        count(when(col("fee") ===
          gu * col("gas_price").cast("double") / eth, 1))
          .as("n_fee_exact"),
        count(when(col("burned_fee") ===
          when(col("transaction_type") === 2,
            gu * col("receipt_effective_gas_price").cast("double"))
            .otherwise(lit(0.0)) / eth, 1))
          .as("n_burned_exact"),
        count(when(col("txn_saving") ===
          (col("max_fee_per_gas").cast("double") -
            col("receipt_effective_gas_price").cast("double")) * gu /
            eth, 1)).as("n_saving_exact"),
        count(when(col("decoded"), 1)).as("n_decoded"),
        count(col("signature")).as("n_sigs"),
        count(col("method_id")).as("n_methods"),
        count(col("receipt_root")).as("n_root"),
        count(col("access_list")).as("n_access"),
        count(col("params")).as("n_params"),
        sum(col("value")).cast("long").as("sum_value"),
        min(col("id")).as("chain_name"))
      .orderBy(col("transaction_type"))
  }

  private val k23Sql =
    """WITH r AS (
      | SELECT event_id AS e,
      |  CASE WHEN event_id % 3 = 0 THEN 2 ELSE 0 END
      |    AS transaction_type,
      |  (event_id % 1000 + 1) * CAST(1000000000 AS BIGINT) AS value,
      |  CASE WHEN event_id % 5 = 0 THEN NULL ELSE 1 END AS has_method,
      |  CASE WHEN event_id % 5 = 0 OR event_id % 7 = 0 THEN NULL
      |   ELSE 1 END AS has_sig
      | FROM events WHERE event_id < 1500)
      |SELECT transaction_type, count(*) AS n_txs,
      | count(*) AS n_named,
      | count(*) AS n_fee_exact,
      | count(*) AS n_burned_exact,
      | count(CASE WHEN transaction_type = 2 THEN 1 END)
      |  AS n_saving_exact,
      | count(has_sig) AS n_decoded,
      | count(has_sig) AS n_sigs,
      | count(has_method) AS n_methods,
      | CAST(0 AS BIGINT) AS n_root,
      | CAST(0 AS BIGINT) AS n_access,
      | CAST(0 AS BIGINT) AS n_params,
      | CAST(sum(value) AS BIGINT) AS sum_value,
      | 'moonbeam' AS chain_name
      |FROM r GROUP BY 1 ORDER BY transaction_type""".stripMargin

  // K14 — the EVM account rollups over the dumped tables (EvmDump.
  // dumpEvmAccountsDay; schemas substrateetl/accountsevm{active,
  // passive}.json): senders synthesize from user ids, recipients from a
  // half-overlapping / half-disjoint space so the passive anti-join has
  // both hit and miss rows at every scale factor; the REAL composition
  // runs (sender agg, recipient agg, anti-join), both tables write as
  // date partitions and read back through the schema-supplied frames,
  // and the oracle replays the set algebra with NOT IN.
  private def k14(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d).filter(col("event_id") < 1200)
      .select(col("event_id"), col("user_id"))
    val bn = expr("event_id div 10")
    val bts = (lit(1709251200L) + pmod(bn, lit(86400L)))
      .cast("timestamp")
    val evmtxs = e.select(
      format_string("0x%040x", col("user_id")).as("from_address"),
      bts.as("block_timestamp"))
    val recipient = when(col("event_id") % 2 === 0,
        pmod(col("user_id") + 1, lit(50)))
      .otherwise(col("event_id") % 211 + 4000000)
    val evmtr = e.select(
      format_string("0x%040x", recipient).as("to_address"),
      bts.as("block_timestamp"))
    val dir = queryDumpDir("graft_evmacct_dump")
    val written = graft.etl.EvmDump.dumpEvmAccountsDay(evmtxs, evmtr,
      "2004", "polkadot", "2024-03-01", dir)
    val act = written("accountsevmactive")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("transaction_count")).cast("long").as("metric"),
        unix_seconds(max(col("ts"))).as("max_ts_s"))
      .select(lit("accountsevmactive").as("tbl"), col("n_rows"),
        col("metric"), col("max_ts_s"))
    val pas = written("accountsevmpassive")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("address")).as("metric"),
        unix_seconds(max(col("ts"))).as("max_ts_s"))
      .select(lit("accountsevmpassive").as("tbl"), col("n_rows"),
        col("metric"), col("max_ts_s"))
    act.unionByName(pas).orderBy(col("tbl"))
  }

  private val k14Sql =
    """WITH e AS (
      | SELECT event_id, user_id,
      |  1709251200 + (event_id // 10) % 86400 AS bts
      | FROM events WHERE event_id < 1200),
      |act AS (
      | SELECT printf('0x%040x', user_id) AS a, count(*) AS c,
      |  max(bts) AS mts
      | FROM e GROUP BY 1),
      |rec AS (
      | SELECT printf('0x%040x', CASE WHEN event_id % 2 = 0
      |   THEN (user_id + 1) % 50
      |   ELSE event_id % 211 + 4000000 END) AS a, bts
      | FROM e),
      |pas AS (
      | SELECT a, max(bts) AS mts FROM rec
      | WHERE a NOT IN (SELECT a FROM act) GROUP BY 1)
      |SELECT 'accountsevmactive' AS tbl, count(*) AS n_rows,
      | CAST(sum(c) AS BIGINT) AS metric,
      | CAST(max(mts) AS BIGINT) AS max_ts_s FROM act
      |UNION ALL
      |SELECT 'accountsevmpassive', count(*),
      | count(*), CAST(max(mts) AS BIGINT) FROM pas
      |ORDER BY tbl""".stripMargin

  // K15/K16 — the assets / xcmassets dimension export THROUGH THE
  // WRITER (etl/Assets.dumpAssets; ref substrateetl.js:3378/3403,
  // registry lookup :3363, key conversion paraTool.js:1345):
  // deterministic chain-asset and registry frames off `part` cover the
  // here / array / single-object interior shapes, both network
  // encodings (known-relay vs named-hex), multi-match first-match
  // reduction, source-containment matching, and the empty-contract-map
  // guard; the DuckDB twin replays the join, the min-key reduction,
  // and the v1→v2 string splice from first principles.
  private def assetChainFrame(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d).filter(col("p_partkey") < 200)
      .select(
        (col("p_partkey") % 40).cast("int").as("para_id"),
        concat(lit("chain"), (col("p_partkey") % 40).cast("int"))
          .as("chain_name"),
        concat(lit("{\"Token\":\"SYM"), col("p_partkey") % 25,
          lit("\"}")).as("asset"),
        concat(lit("Asset SYM"), col("p_partkey") % 25).as("name"),
        when(col("p_partkey") % 4 === 0,
          (col("p_partkey") % 50).cast("string")).as("currency_id"),
        concat(lit("SYM"), col("p_partkey") % 25).as("symbol"),
        (lit(6) + col("p_partkey") % 13).cast("int").as("decimals"))

  private def assetRegistryFrame(s: SparkSession, d: String): DataFrame = {
    val r = col("p_partkey")
    val m = expr("p_partkey div 3")
    val rPara = ((r * 7) % 40).cast("int")
    val relay = when(r % 2 === 0, "polkadot").otherwise("enjin")
    Tables.part(s, d).filter(r < 200 && r % 3 === 0)
      .select(
        relay.as("relay_chain"),
        when(m % 4 === 0, concat(lit("here~"), relay))
          .when(m % 4 === 1, concat(lit("[{\"parachain\":"), rPara,
            lit("}]~"), relay))
          .when(m % 4 === 2, concat(lit("{\"parachain\":"), rPara,
            lit("}~"), relay))
          .otherwise(concat(lit("[{\"parachain\":"), rPara,
            lit("},{\"generalKey\":\"0x"), format_string("%08x", r),
            lit("\"}]~"), relay))
          .as("xcm_interior_key"),
        rPara.as("para_id"),
        concat(lit("chain"), rPara).as("chain_name"),
        concat(lit("SYM"), r % 25).as("symbol"),
        (lit(10) + r % 8).cast("int").as("decimals"),
        concat(lit("x"), (lit(1) + m % 3)).as("interior_type"),
        concat(lit("0x"), format_string("%06x", r))
          .as("xcm_v1_multilocation_byte"),
        concat(lit("{\"v1\":{\"parachain\":"), rPara, lit("}}"))
          .as("xcm_v1_multilocation"),
        when(m % 2 === 0, concat(lit("{\"foreignAsset\":"), r % 9,
          lit("}"))).as("xc_currency_id"),
        (r % 5).cast("int").as("confidence"),
        array(rPara, ((r * 11) % 40).cast("int")).as("source"),
        when(m % 3 === 0, map(lit("1284"),
          concat(lit("0xffffffff"), format_string("%032x", r))))
          .otherwise(map().cast("map<string,string>"))
          .as("xc_contract_address"))
  }

  private def k15(s: SparkSession, d: String): DataFrame = {
    val dir = queryDumpDir("graft_assets_dump")
    graft.etl.Assets.dumpAssets(assetChainFrame(s, d),
        assetRegistryFrame(s, d), "polkadot", dir)("assets")
      .orderBy(col("para_id"), col("symbol"))
  }

  // the v1→v2 splice + network encoding, replayed in SQL (shared by
  // both oracles; `k` = the v1 key expression)
  private def sqlInteriorV2(k: String): String = {
    val net = s"""CASE WHEN split_part($k,'~',2) IN ('polkadot','kusama')
      | THEN '{"network":"' || split_part($k,'~',2) || '"}'
      | ELSE '{"named":"0x' || lower(hex(split_part($k,'~',2))) || '"}'
      | END""".stripMargin
    s"""CASE WHEN $k IS NULL THEN NULL
       | WHEN split_part($k,'~',1) = 'here'
       |   THEN '[' || $net || ',"here"]'
       | WHEN split_part($k,'~',1) LIKE '[%'
       |   THEN '[' || $net || ',' || substr(split_part($k,'~',1), 2)
       | ELSE '[' || $net || ',' || split_part($k,'~',1) || ']'
       | END""".stripMargin
  }

  private val sqlAssetChain =
    """SELECT CAST(p_partkey % 40 AS INT) AS para_id,
      |  'chain' || CAST(p_partkey % 40 AS INT) AS chain_name,
      |  '{"Token":"SYM' || (p_partkey % 25) || '"}' AS asset,
      |  'Asset SYM' || (p_partkey % 25) AS name,
      |  CASE WHEN p_partkey % 4 = 0
      |    THEN CAST(p_partkey % 50 AS VARCHAR) END AS currency_id,
      |  'SYM' || (p_partkey % 25) AS symbol,
      |  CAST(6 + p_partkey % 13 AS INT) AS decimals
      |FROM part WHERE p_partkey < 200""".stripMargin

  // NOTE on formatting: this fragment is interpolated into outer
  // stripMargin strings, which strip a second time — no line may
  // START with a `|` after the first strip, so every `||` rides at
  // line END
  private val sqlAssetRegistry =
    """SELECT
      |  CASE WHEN p_partkey % 2 = 0 THEN 'polkadot'
      |       ELSE 'enjin' END AS relay_chain,
      |  CASE WHEN (p_partkey // 3) % 4 = 0
      |    THEN 'here~' || CASE WHEN p_partkey % 2 = 0 THEN 'polkadot'
      |      ELSE 'enjin' END
      |  WHEN (p_partkey // 3) % 4 = 1
      |    THEN '[{"parachain":' || CAST((p_partkey * 7) % 40 AS INT) ||
      |      '}]~' || CASE WHEN p_partkey % 2 = 0 THEN 'polkadot'
      |      ELSE 'enjin' END
      |  WHEN (p_partkey // 3) % 4 = 2
      |    THEN '{"parachain":' || CAST((p_partkey * 7) % 40 AS INT) ||
      |      '}~' || CASE WHEN p_partkey % 2 = 0 THEN 'polkadot'
      |      ELSE 'enjin' END
      |  ELSE '[{"parachain":' || CAST((p_partkey * 7) % 40 AS INT) ||
      |      '},{"generalKey":"0x' || printf('%08x', p_partkey) ||
      |      '"}]~' || CASE WHEN p_partkey % 2 = 0 THEN 'polkadot'
      |      ELSE 'enjin' END
      |  END AS xcm_interior_key,
      |  CAST((p_partkey * 7) % 40 AS INT) AS para_id,
      |  'chain' || CAST((p_partkey * 7) % 40 AS INT) AS chain_name,
      |  'SYM' || (p_partkey % 25) AS symbol,
      |  CAST(10 + p_partkey % 8 AS INT) AS decimals,
      |  'x' || (1 + (p_partkey // 3) % 3) AS interior_type,
      |  '0x' || printf('%06x', p_partkey) AS xcm_v1_multilocation_byte,
      |  '{"v1":{"parachain":' || CAST((p_partkey * 7) % 40 AS INT) ||
      |    '}}' AS xcm_v1_multilocation,
      |  CASE WHEN (p_partkey // 3) % 2 = 0
      |    THEN '{"foreignAsset":' || (p_partkey % 9) || '}'
      |    END AS xc_currency_id,
      |  CAST(p_partkey % 5 AS INT) AS confidence,
      |  [CAST((p_partkey * 7) % 40 AS INT),
      |   CAST((p_partkey * 11) % 40 AS INT)] AS source,
      |  CASE WHEN (p_partkey // 3) % 3 = 0
      |    THEN '{"1284":"0xffffffff' || printf('%032x', p_partkey) ||
      |      '"}' END AS xc_contract_json
      |FROM part WHERE p_partkey < 200 AND p_partkey % 3 = 0""".stripMargin

  private val k15Sql =
    s"""WITH ca AS ($sqlAssetChain),
       |reg AS ($sqlAssetRegistry),
       |j AS (
       | SELECT ca.para_id, ca.chain_name, ca.asset, ca.name,
       |  ca.currency_id, ca.symbol, ca.decimals,
       |  min(r.xcm_interior_key) AS v1_key
       | FROM ca LEFT JOIN (SELECT * FROM reg
       |   WHERE relay_chain = 'polkadot') r
       |  ON r.symbol = ca.symbol AND (r.para_id = ca.para_id
       |    OR list_contains(r.source, ca.para_id))
       | GROUP BY ALL)
       |SELECT para_id, chain_name, asset, name, currency_id, symbol,
       | decimals, ${sqlInteriorV2("v1_key")} AS xcm_interior_key,
       | CAST(NULL AS VARCHAR) AS xc_contract_address,
       | 'polkadot' AS relay_chain
       |FROM j ORDER BY para_id, symbol""".stripMargin

  private def k16(s: SparkSession, d: String): DataFrame = {
    val dir = queryDumpDir("graft_xcmassets_dump")
    graft.etl.Assets.dumpAssets(assetChainFrame(s, d),
        assetRegistryFrame(s, d), "enjin", dir)("xcmassets")
      .orderBy(col("para_id"), col("symbol"))
  }

  private val k16Sql =
    s"""WITH reg AS ($sqlAssetRegistry)
       |SELECT ${sqlInteriorV2("xcm_interior_key")} AS xcm_interior_key,
       | xcm_v1_multilocation_byte, xcm_v1_multilocation,
       | symbol, decimals, para_id, chain_name, interior_type,
       | to_json(source) AS source,
       | xc_contract_json AS xc_contract_address,
       | xc_currency_id, confidence,
       | 'enjin' AS relay_chain
       |FROM reg WHERE relay_chain = 'enjin'
       |ORDER BY para_id, symbol""".stripMargin

  // K17 — the `chains` system table THROUGH THE WRITER
  // (etl/Metrics.dumpChains; ref substrateetl.js:3940-3956: the crawled
  // registry slice with tinyint flags → booleans, ordered by para_id,
  // published as a whole-table `--replace` — one of the reference's
  // two NON-date-partitioned tables). The registry frame rides the
  // nation dimension; the crawling filter drops a row, and the oracle
  // replays the projection.
  private def k17(s: SparkSession, d: String): DataFrame = {
    val k = col("n_nationkey")
    val reg = Tables.nation(s, d).select(
      (k * 100).cast("int").as("para_id"),
      lower(col("n_name")).as("id"),
      col("n_name").as("chain_name"),
      k.as("ss58_prefix"),
      substring(col("n_name"), 1, 3).as("symbol"),
      (k % 3 === 0).cast("int").as("is_evm"),
      (k % 2 === 0).cast("int").as("is_wasm"),
      concat(lit("https://cdn.example/"), lower(col("n_name")),
        lit(".png")).as("icon_url"),
      (k % 7 =!= 6).cast("int").as("crawling"))
    val dir = queryDumpDir("graft_chains_dump")
    graft.etl.Metrics.dumpChains(reg, dir).orderBy(col("para_id"))
  }

  private val k17Sql =
    """SELECT lower(n_name) AS id, n_name AS chain_name,
      | CAST(n_nationkey * 100 AS INT) AS para_id,
      | n_nationkey AS ss58_prefix,
      | substr(n_name, 1, 3) AS symbol,
      | n_nationkey % 3 = 0 AS is_evm,
      | n_nationkey % 2 = 0 AS is_wasm,
      | 'https://cdn.example/' || lower(n_name) || '.png' AS icon_url
      |FROM nation WHERE n_nationkey % 7 <> 6
      |ORDER BY para_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "k7_storage_key_extract" -> (k7 _),
    "k8_metadata_key_extract" -> (k8 _),
    "k9_balances_decode" -> (k9 _),
    "k10_calldata_decode" -> (k10 _),
    "k11_traces_dump" -> (k11 _),
    "k12_evmtxs_dump" -> (k12 _),
    "k13_evmtransfers_dump" -> (k13 _),
    "k14_evm_accounts" -> (k14 _),
    "k15_assets_dim" -> (k15 _),
    "k16_xcmassets_dim" -> (k16 _),
    "k17_chains_dim" -> (k17 _),
    "k21_evm_logs_dump" -> (k21 _),
    "k22_token_transfers_dump" -> (k22 _),
    "k23_evm_transactions" -> (k23 _),
    "k1_sovereign_accounts" -> (k1 _),
    "k2_derived_key_join" -> (k2 _),
    "k3_author_attribution" -> (k3 _),
    "k4_related_accounts" -> (k4 _),
    "k5_identity_state" -> (k5 _),
    "k6_h160_join" -> (k6 _),
  )

  val oracles: Map[String, String] = Map(
    "k7_storage_key_extract" -> k7Sql,
    "k8_metadata_key_extract" -> k8Sql,
    "k9_balances_decode" -> k9Sql,
    "k10_calldata_decode" -> k10Sql,
    "k11_traces_dump" -> k11Sql,
    "k12_evmtxs_dump" -> k12Sql,
    "k13_evmtransfers_dump" -> k13Sql,
    "k14_evm_accounts" -> k14Sql,
    "k15_assets_dim" -> k15Sql,
    "k16_xcmassets_dim" -> k16Sql,
    "k17_chains_dim" -> k17Sql,
    "k21_evm_logs_dump" -> k21Sql,
    "k22_token_transfers_dump" -> k22Sql,
    "k23_evm_transactions" -> k23Sql,
    "k1_sovereign_accounts" -> k1Sql,
    "k2_derived_key_join" -> k2Sql,
    "k3_author_attribution" -> k3Sql,
    "k4_related_accounts" -> k4Sql,
    "k5_identity_state" -> k5Sql,
    "k6_h160_join" -> k6Sql,
  )
}
