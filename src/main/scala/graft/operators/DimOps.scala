package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.MapView

/** I1–I3 — the published account dimensions THROUGH THE WRITER
  * (`identity` / `exchanges` / `knownpubs`; ref identityManager.js:41
  * dump_identity, substrateetl.js:671 publishExchangeAddress, schemas
  * under schema/substrateetl/). The identity STATE walk is already
  * oracled (k5); these queries pin the EXPORT arithmetic — per-relay
  * sub-identity inheritance (name/info/judgements through the parent,
  * "parent/sub" fullname with the "/sub" no-display branch), the
  * cross-relay full-outer stitch, and the attribution slices with
  * their type gates — end-to-end through whole-table replaces.
  */
object DimOps {

  private def str(c: Column): Column = c.cast("string")
  private def pk(e: Column): Column = synthPk(e.cast("string"))

  // I1 — identity export: two synthesized relay frames (the
  // identities() output shape) with overlapping and disjoint pubkey
  // ranges; polkadot subs point at mod-90 parents (some identified,
  // one legal-only — the "/sub" fullname with inherited info — and
  // some unidentified misses), kusama subs at mod-120 parents.
  private def i1(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("event_id").as("e"))
    val pName = (c: Column) => concat(lit("p"), str(c))
    val polkadot = ev.filter(col("e") < 600).select(
      pName(col("e")).as("pubkey"),
      when(col("e") % 3 === 1 && col("e") % 7 =!= 0,
        concat(lit("D"), str(col("e")))).as("display"),
      when(col("e") % 3 === 1 && col("e") % 5 === 0,
        concat(lit("L"), str(col("e")))).as("legal"),
      lit(null).cast("string").as("web"),
      (col("e") % 3 === 0).as("is_subidentity"),
      when(col("e") % 3 === 0, pName(col("e") % 90 + 1))
        .as("parent_pub"),
      when(col("e") % 3 === 0, concat(lit("s"), str(col("e"))))
        .as("subname"),
      (col("e") % 4 === 0).as("verified"),
      when(col("e") % 2 === 0,
        concat(lit("[\"J"), str(col("e")), lit("\"]")))
        .as("judgements_json"))
    val kusama = ev.filter(col("e") >= 300 && col("e") < 900).select(
      pName(col("e")).as("pubkey"),
      when(col("e") % 5 === 1, concat(lit("K"), str(col("e"))))
        .as("display"),
      lit(null).cast("string").as("legal"),
      lit(null).cast("string").as("web"),
      (col("e") % 4 === 0).as("is_subidentity"),
      when(col("e") % 4 === 0, pName(col("e") % 120 + 301))
        .as("parent_pub"),
      when(col("e") % 4 === 0, concat(lit("ks"), str(col("e"))))
        .as("subname"),
      (col("e") % 3 === 0).as("verified"),
      when(col("e") % 7 === 0,
        concat(lit("[\"K"), str(col("e")), lit("\"]")))
        .as("judgements_json"))
    val out = graft.etl.Identity.dumpIdentityDims(
      graft.etl.Identity.identityExport(polkadot, kusama),
      graft.etl.Identity.attributedAccounts(labelsOf(s, d)),
      queryDumpDir("graft_identity_dump"))
    // synthetic pubkeys are not hex, so both ss58 renderings are the
    // guard's nulls — dropped here, pinned by IdentitySpec's real keys
    out("identity").drop("polkadot_ss58", "kusama_ss58")
      .orderBy(col("pubkey"))
  }

  /** The three dims through ONE dumpIdentityDims writer pass (i1 runs
    * its own because it also synthesizes the relay frames). */
  private def dumpedDims(s: SparkSession, d: String)
      : MapView[String, DataFrame] =
    graft.etl.Identity.dumpIdentityDims(
      emptyIdent(s).limit(0)
        .select(col("pubkey")), // placeholder identity — the i2/i3
                                // queries read only the slices
      graft.etl.Identity.attributedAccounts(labelsOf(s, d)),
      queryDumpDir("graft_dims_dump"))

  private val i1Sql = {
    val ownInfo =
      """CASE WHEN display IS NOT NULL AND legal IS NOT NULL THEN
        |   '{"display":"' || display || '","legal":"' || legal || '"}'
        |  WHEN display IS NOT NULL THEN '{"display":"' || display || '"}'
        |  WHEN legal IS NOT NULL THEN '{"legal":"' || legal || '"}'
        |  END""".stripMargin
    s"""WITH pe AS (SELECT event_id AS e FROM events WHERE event_id < 600),
       |p0 AS (SELECT 'p' || CAST(e AS VARCHAR) AS pubkey,
       |  CASE WHEN e % 3 = 1 AND e % 7 <> 0
       |   THEN 'D' || CAST(e AS VARCHAR) END AS display,
       |  CASE WHEN e % 3 = 1 AND e % 5 = 0
       |   THEN 'L' || CAST(e AS VARCHAR) END AS legal,
       |  e % 3 = 0 AS is_sub,
       |  CASE WHEN e % 3 = 0
       |   THEN 'p' || CAST(e % 90 + 1 AS VARCHAR) END AS parent_pub,
       |  CASE WHEN e % 3 = 0 THEN 's' || CAST(e AS VARCHAR) END
       |   AS subname,
       |  e % 4 = 0 AS verified,
       |  CASE WHEN e % 2 = 0 THEN '["J' || CAST(e AS VARCHAR) || '"]' END
       |   AS jj
       | FROM pe),
       |p1 AS (SELECT p0.*, $ownInfo AS own_info FROM p0),
       |pg AS (
       | SELECT b.pubkey,
       |  CASE WHEN b.is_sub THEN b.parent_pub END AS polkadot_parent,
       |  CASE WHEN b.is_sub THEN true END AS polkadot_is_subidentity,
       |  CASE WHEN b.is_sub THEN
       |    CASE WHEN pr.display IS NOT NULL
       |     THEN pr.display || '/' || b.subname
       |     ELSE '/' || b.subname END
       |   ELSE b.display END AS polkadot_fullname,
       |  CASE WHEN b.is_sub THEN pr.display ELSE b.display END
       |   AS polkadot_name,
       |  CASE WHEN b.is_sub THEN b.subname END AS polkadot_subname,
       |  CASE WHEN b.is_sub THEN pr.own_info ELSE b.own_info END
       |   AS polkadot_info,
       |  CASE WHEN b.is_sub THEN pr.jj ELSE b.jj END
       |   AS polkadot_judgements,
       |  CASE WHEN b.is_sub THEN pr.verified
       |   ELSE coalesce(b.verified, false) END
       |   AS polkadot_judgement_verified
       | FROM p1 b LEFT JOIN
       |  (SELECT * FROM p1
       |   WHERE display IS NOT NULL OR own_info IS NOT NULL) pr
       |  ON b.parent_pub = pr.pubkey),
       |ke AS (SELECT event_id AS e FROM events
       | WHERE event_id >= 300 AND event_id < 900),
       |k0 AS (SELECT 'p' || CAST(e AS VARCHAR) AS pubkey,
       |  CASE WHEN e % 5 = 1 THEN 'K' || CAST(e AS VARCHAR) END
       |   AS display,
       |  e % 4 = 0 AS is_sub,
       |  CASE WHEN e % 4 = 0
       |   THEN 'p' || CAST(e % 120 + 301 AS VARCHAR) END AS parent_pub,
       |  CASE WHEN e % 4 = 0 THEN 'ks' || CAST(e AS VARCHAR) END
       |   AS subname,
       |  e % 3 = 0 AS verified,
       |  CASE WHEN e % 7 = 0 THEN '["K' || CAST(e AS VARCHAR) || '"]' END
       |   AS jj
       | FROM ke),
       |k1 AS (SELECT k0.*, CASE WHEN display IS NOT NULL
       |  THEN '{"display":"' || display || '"}' END AS own_info FROM k0),
       |kg AS (
       | SELECT b.pubkey,
       |  CASE WHEN b.is_sub THEN b.parent_pub END AS kusama_parent,
       |  CASE WHEN b.is_sub THEN true END AS kusama_is_subidentity,
       |  CASE WHEN b.is_sub THEN
       |    CASE WHEN pr.display IS NOT NULL
       |     THEN pr.display || '/' || b.subname
       |     ELSE '/' || b.subname END
       |   ELSE b.display END AS kusama_fullname,
       |  CASE WHEN b.is_sub THEN pr.display ELSE b.display END
       |   AS kusama_name,
       |  CASE WHEN b.is_sub THEN b.subname END AS kusama_subname,
       |  CASE WHEN b.is_sub THEN pr.own_info ELSE b.own_info END
       |   AS kusama_info,
       |  CASE WHEN b.is_sub THEN pr.jj ELSE b.jj END
       |   AS kusama_judgements,
       |  CASE WHEN b.is_sub THEN pr.verified
       |   ELSE coalesce(b.verified, false) END
       |   AS kusama_judgement_verified
       | FROM k1 b LEFT JOIN
       |  (SELECT * FROM k1
       |   WHERE display IS NOT NULL OR own_info IS NOT NULL) pr
       |  ON b.parent_pub = pr.pubkey)
       |SELECT coalesce(pg.pubkey, kg.pubkey) AS pubkey,
       | polkadot_parent, polkadot_is_subidentity, polkadot_fullname,
       | polkadot_name, polkadot_subname, polkadot_info,
       | polkadot_judgements, polkadot_judgement_verified,
       | kusama_parent, kusama_is_subidentity, kusama_fullname,
       | kusama_name, kusama_subname, kusama_info, kusama_judgements,
       | kusama_judgement_verified
       |FROM pg FULL OUTER JOIN kg ON pg.pubkey = kg.pubkey
       |ORDER BY pubkey""".stripMargin
  }

  /** Shared attribution-label synthesis: mod-5 account types, every
    * 11th address malformed (drops at the pubkey gate). */
  private def labelsOf(s: SparkSession, d: String): DataFrame = {
    Tables.events(s, d).filter(col("event_id") < 600)
      .select(col("event_id").as("e"))
      .select(
        when(col("e") % 11 =!= 0,
          call_udf("ss58_encode", pk(col("e")), lit(42)))
          .otherwise(lit("not-an-address")).as("address"),
        concat(lit("W"), str(col("e"))).as("label"),
        element_at(typedLit(
          Seq("Exchange", "Validator", "System", "User", "Unknown")),
          (col("e") % 5).cast("int") + 1).as("kind"))
  }

  private def i2(s: SparkSession, d: String): DataFrame =
    dumpedDims(s, d)("exchanges").orderBy(col("address_pubkey"))

  private def emptyIdent(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq.empty[(String, String, String, String, Boolean, String,
      String, Boolean)]
      .toDF("pubkey", "display", "legal", "web", "is_subidentity",
        "parent_pub", "subname", "verified")
  }

  private val i2Sql =
    """SELECT '0x' || md5(CAST(event_id AS VARCHAR))
      |  || md5(CAST(event_id AS VARCHAR) || 'x') AS address_pubkey,
      | 'W' || CAST(event_id AS VARCHAR) || ' Exchange'
      |  AS address_nickname,
      | 'W' || CAST(event_id AS VARCHAR) AS address_label
      |FROM events
      |WHERE event_id < 600 AND event_id % 5 = 0 AND event_id % 11 <> 0
      |ORDER BY address_pubkey""".stripMargin

  private def i3(s: SparkSession, d: String): DataFrame =
    dumpedDims(s, d)("knownpubs").orderBy(col("address_pubkey"))

  private val i3Sql =
    """WITH l AS (
      | SELECT event_id AS e,
      |  CASE CAST(event_id % 5 AS INT) WHEN 0 THEN 'Exchange'
      |   WHEN 1 THEN 'Validator' WHEN 2 THEN 'System'
      |   WHEN 3 THEN 'User' ELSE 'Unknown' END AS kind
      | FROM events WHERE event_id < 600 AND event_id % 11 <> 0)
      |SELECT '0x' || md5(CAST(e AS VARCHAR))
      |  || md5(CAST(e AS VARCHAR) || 'x') AS address_pubkey,
      | 'W' || CAST(e AS VARCHAR) || ' ' || kind AS address_nickname,
      | 'W' || CAST(e AS VARCHAR) AS address_label,
      | kind AS account_type
      |FROM l WHERE kind NOT IN ('Unknown', 'User')
      |ORDER BY address_pubkey""".stripMargin

  // I4 — the `users` audience dim THROUGH THE CSV SEAM (ref
  // tools/createAudience.js; schema substrateetl/users.json): the
  // query WRITES the reference-shaped export CSV (id, evmAddress,
  // substrateAddress, twitter…) with REAL ss58 addresses encoded by
  // the engine's codec, reads it back through JsonFeed.userAudience,
  // and compares the projection. The oracle cannot compute ss58, but
  // it doesn't need to: account_pubkey must equal the ORIGINAL pubkey
  // the address was encoded from (the decode∘encode identity), which
  // DuckDB derives directly — so the round trip, the evm lowering,
  // the null-id drop, and the evm-only null pass-through all compare
  // cross-engine; the ss58 text column itself is pinned by
  // JsonFeedSpec.
  private def i4(s: SparkSession, d: String): DataFrame = {
    val dir = queryDumpDir("graft_users_csv") + "/users"
    Tables.events(s, d).filter(col("event_id") < 700)
      .select(col("user_id").as("u")).distinct()
      .select(
        // every 13th row: a feed line with no id — must drop
        when(col("u") % 13 =!= 0, concat(lit("u"), str(col("u"))))
          .as("id"),
        // mixed-case evm address — the export lowercases
        when(col("u") % 3 =!= 0,
          concat(lit("0xAbCd"), str(col("u")))).as("evmAddress"),
        // every 5th user is evm-only (no substrate side)
        when(col("u") % 5 =!= 0,
          call_udf("ss58_encode", pk(col("u")), lit(42)))
          .as("substrateAddress"),
        lit(null).cast("string").as("twitterHandle"),
        concat(lit("n"), str(col("u"))).as("username"),
        lit(null).cast("string").as("twitterUrl"))
      .write.mode("overwrite").option("header", "true").csv(dir)
    graft.sources.JsonFeed.userAudience(s, dir)
      .select(col("id"), col("evm_address"), col("account_pubkey"))
      .orderBy(col("id"))
  }

  private val i4Sql =
    """SELECT DISTINCT 'u' || CAST(user_id AS VARCHAR) AS id,
      | CASE WHEN user_id % 3 <> 0
      |  THEN '0xabcd' || CAST(user_id AS VARCHAR) END AS evm_address,
      | CASE WHEN user_id % 5 <> 0
      |  THEN '0x' || md5(CAST(user_id AS VARCHAR))
      |   || md5(CAST(user_id AS VARCHAR) || 'x') END AS account_pubkey
      |FROM events
      |WHERE event_id < 700 AND user_id % 13 <> 0
      |ORDER BY id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "i1_identity_export" -> (i1 _),
    "i2_exchanges_dim" -> (i2 _),
    "i3_knownpubs_dim" -> (i3 _),
    "i4_users_audience" -> (i4 _))

  val oracles: Map[String, String] = Map(
    "i1_identity_export" -> i1Sql,
    "i2_exchanges_dim" -> i2Sql,
    "i3_knownpubs_dim" -> i3Sql,
    "i4_users_audience" -> i4Sql)
}
