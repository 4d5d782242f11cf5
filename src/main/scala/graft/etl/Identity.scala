package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.collection.MapView

/** On-chain identity dimension (ref identityManager.js:40 dump_identity;
  * registrar decode feeding the `account`/`subaccount` tables the
  * reference joins into its serving faces). Built purely from decoded
  * calls/events — the identity pallet needs no hand dispatch table, it
  * decodes through the MetaDecode tier:
  *
  *  - `identity.setIdentity` (display/legal/web) sets an account's
  *    identity; `identity.clearIdentity` tombstones it; latest action
  *    in block order wins (argmax window per account — the same shape
  *    as AccountRelations.proxyAccounts).
  *  - `identity.addSub(sub, name)` declares sub-identities; latest
  *    name per (parent, sub) wins.
  *  - `identity.JudgementGiven(target, registrar, judgement)` events:
  *    latest judgement per (target, registrar) wins; an account is
  *    `verified` when any live judgement is KnownGood/Reasonable
  *    (identityManager.js:64 verifiedStatus).
  *
  * Scale shape: three keyed argmax windows + outer joins on pubkey —
  * every stage shuffles on the account key once; no driver state. */
object Identity {

  // full numeric ordering incl. the call path: two identity calls in
  // ONE batch extrinsic share (block, extrinsic idx) and only the call
  // path breaks the tie deterministically
  private def latestWins(df: DataFrame, keys: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("block_number").desc, idKey(col("extrinsic_id")).desc,
        callPathKey(col("call_id")).desc)
    df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .drop("rn")
  }

  /** Live identity records: (pubkey, display, legal, web). */
  def identityInfo(calls: DataFrame, extrinsics: DataFrame): DataFrame = {
    val signer = extrinsics
      .select(col("extrinsic_id"), col("signer_pub_key"))
    val actions = calls
      .filter(col("call_section") === "identity" &&
        col("call_method").isin("setIdentity", "clearIdentity"))
      .join(signer, Seq("extrinsic_id"))
      .select(col("signer_pub_key").as("pubkey"),
        (col("call_method") === "setIdentity").as("is_set"),
        get_json_object(col("call_args"), "$.display").as("display"),
        get_json_object(col("call_args"), "$.legal").as("legal"),
        get_json_object(col("call_args"), "$.web").as("web"),
        col("block_number"), col("extrinsic_id"), col("call_id"))
    latestWins(actions, Seq("pubkey")).filter(col("is_set"))
      .select(col("pubkey"), col("display"), col("legal"), col("web"))
  }

  /** Live sub-identity edges: (sub_pub, parent_pub, subname). */
  def subIdentities(calls: DataFrame, extrinsics: DataFrame): DataFrame = {
    val signer = extrinsics
      .select(col("extrinsic_id"), col("signer_pub_key"))
    val actions = calls
      .filter(col("call_section") === "identity" &&
        col("call_method").isin("addSub", "removeSub"))
      .join(signer, Seq("extrinsic_id"))
      .select(col("signer_pub_key").as("parent_pub"),
        get_json_object(col("call_args"), "$.sub").as("sub_pub"),
        (col("call_method") === "addSub").as("is_add"),
        get_json_object(col("call_args"), "$.name").as("subname"),
        col("block_number"), col("extrinsic_id"), col("call_id"))
    // Latest-wins per sub_pub ALONE: the pallet's SuperOf mapping is one
    // parent per sub, so a later addSub by a different parent replaces
    // the old edge — keying by (parent, sub) kept both and duplicated
    // the sub's row in the dimension (fanning out decorate's join).
    latestWins(actions, Seq("sub_pub"))
      .filter(col("is_add"))
      .select(col("sub_pub"), col("parent_pub"), col("subname"))
  }

  /** Judgement state per account: n_judgements + verified flag from the
    * latest judgement per (target, registrar). */
  def judgements(events: DataFrame): DataFrame =
    latestJudgements(events)
      .groupBy(col("pubkey"))
      .agg(count(lit(1)).as("n_judgements"),
        max(col("judgement").isin("KnownGood", "Reasonable"))
          .as("verified"))

  /** Latest judgement per (target, registrar) — the shared frame both
    * the verified-flag rollup ([[judgements]]) and the published
    * JSON-list rendering ([[judgementDetails]]) reduce, so the
    * JudgementGiven parse and the per-registrar argmax exist exactly
    * once. */
  private def latestJudgements(events: DataFrame): DataFrame = {
    val j = events
      .filter(col("section") === "identity" &&
        col("method") === "JudgementGiven")
      .select(
        get_json_object(col("data"), "$.target").as("pubkey"),
        get_json_object(col("data"), "$.registrarIndex").cast("int")
          .as("registrar"),
        get_json_object(col("data"), "$.judgement.variant")
          .as("judgement"),
        col("block_number"), col("event_id"))
    val w = Window.partitionBy(col("pubkey"), col("registrar"))
      .orderBy(col("block_number").desc, idKey(col("event_id")).desc)
    j.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("pubkey"), col("registrar"), col("judgement"))
  }

  /** The full identity dimension: any account with an identity, a
    * sub-identity, or a judgement — decorated with both ss58 forms
    * (identityManager.js:70-71 getAddress(pubkey, 0/2)). The session
    * must be set up ([[graft.Tables.configure]], which its first
    * `Tables.load` runs). */
  def identities(calls: DataFrame, extrinsics: DataFrame,
      events: DataFrame): DataFrame = {
    val info = identityInfo(calls, extrinsics)
    val subs = subIdentities(calls, extrinsics)
      .withColumnRenamed("sub_pub", "pubkey")
    val judg = judgements(events)
    info.join(subs, Seq("pubkey"), "full_outer")
      .join(judg, Seq("pubkey"), "full_outer")
      .withColumn("verified", coalesce(col("verified"), lit(false)))
      .withColumn("is_subidentity", col("parent_pub").isNotNull)
      .withColumn("polkadot_ss58", expr("ss58_encode(pubkey, 0)"))
      .withColumn("kusama_ss58", expr("ss58_encode(pubkey, 2)"))
      .select(col("pubkey"), col("display"), col("legal"), col("web"),
        col("is_subidentity"), col("parent_pub"), col("subname"),
        col("n_judgements"), col("verified"),
        col("polkadot_ss58"), col("kusama_ss58"))
  }

  /** Per-(account, registrar) latest judgement rows rendered as a
    * deterministic JSON list — the raw `judgements` column the
    * published dim carries (identityManager.js parses the stored list
    * per account). Sorted by registrar so the rendering is
    * partition-order independent. */
  def judgementDetails(events: DataFrame): DataFrame =
    latestJudgements(events)
      .groupBy(col("pubkey"))
      .agg(to_json(sort_array(collect_list(
        struct(col("registrar"), col("judgement")))))
        .as("judgements_json"))

  /** One relay's column group for the published dim: name/fullname/
    * info/judgements with SUB-IDENTITY INHERITANCE (identityManager.js
    * :149-178 — a sub-identity row carries its PARENT's name, info,
    * judgements and verified flag, and renders fullname as
    * "parentname/subname", or "/subname" when the parent has no
    * display). `ident` is [[identities]] output, optionally extended
    * with a `judgements_json` column from [[judgementDetails]]. */
  private def relayGroup(ident: DataFrame, p: String): DataFrame = {
    val in =
      if (ident.columns.contains("judgements_json")) ident
      else ident.withColumn("judgements_json",
        lit(null).cast("string"))
    val hasInfo = col("display").isNotNull || col("legal").isNotNull ||
      col("web").isNotNull
    val base = in.withColumn("own_info",
      when(hasInfo, to_json(struct(col("display"), col("legal"),
        col("web")))))
    // parent lookup within the relay: only identified accounts project
    // into the inheritance dim (the reference's identityMap holds
    // accounts-with-info). No broadcast hint — the decorate rationale.
    val parents = base.filter(col("display").isNotNull ||
        col("own_info").isNotNull)
      .select(col("pubkey").as("parent_pub"),
        col("display").as("par_name"), col("own_info").as("par_info"),
        col("judgements_json").as("par_judgements"),
        col("verified").as("par_verified"))
    val sub = col("is_subidentity")
    base.join(parents, Seq("parent_pub"), "left")
      .select(
        col("pubkey"),
        when(sub, col("parent_pub")).as(s"${p}_parent"),
        when(sub, lit(true)).as(s"${p}_is_subidentity"),
        when(sub, when(col("par_name").isNotNull,
            concat(col("par_name"), lit("/"), col("subname")))
          .otherwise(concat(lit("/"), col("subname"))))
          .otherwise(col("display")).as(s"${p}_fullname"),
        when(sub, col("par_name")).otherwise(col("display"))
          .as(s"${p}_name"),
        when(sub, col("subname")).as(s"${p}_subname"),
        when(sub, col("par_info")).otherwise(col("own_info"))
          .as(s"${p}_info"),
        when(sub, col("par_judgements"))
          .otherwise(col("judgements_json")).as(s"${p}_judgements"),
        when(sub, col("par_verified"))
          .otherwise(coalesce(col("verified"), lit(false)))
          .as(s"${p}_judgement_verified"))
  }

  /** The PUBLISHED identity dimension (schema substrateetl/
    * identity.json; ref identityManager.js:41 dump_identity): the two
    * relays' identity state full-outer joined on pubkey into one row
    * per account with polkadot_/kusama_ column groups, both ss58
    * renderings, and sub-identity inheritance per relay.
    *
    * Documented divergence: the reference appends the sub-identity
    * rows AFTER the account rows, so a sub with its OWN identity ships
    * twice (BigQuery keeps both ndjson rows); here each pubkey exports
    * exactly once, with the sub-inheritance columns winning — a
    * deduplicated dimension joins without fanout. */
  def identityExport(polkadot: DataFrame, kusama: DataFrame)
      : DataFrame = {
    relayGroup(polkadot, "polkadot")
      .join(relayGroup(kusama, "kusama"), Seq("pubkey"), "full_outer")
      .select(Seq(
        col("pubkey"),
        expr("ss58_encode(pubkey, 0)").as("polkadot_ss58"),
        expr("ss58_encode(pubkey, 2)").as("kusama_ss58")) ++
        Seq("polkadot", "kusama").flatMap(p =>
          Seq("parent", "is_subidentity", "fullname", "name", "subname",
            "info", "judgements", "judgement_verified")
            .map(c => col(s"${p}_$c"))): _*)
  }

  /** The wallet-attribution account dim off the S13 CSV/label ingest
    * (ref substrateetl.js:444 ingestWalletAttribution): address →
    * pubkey (rows whose address fails to decode drop, the `if (pubkey)`
    * gate), nickname = "label kind", account_type = kind. */
  def attributedAccounts(labels: DataFrame): DataFrame = {
    labels.select(
      expr("ss58_pubkey(address)").as("address_pubkey"),
      concat(col("label"), lit(" "), col("kind"))
        .as("address_nickname"),
      col("label").as("address_label"),
      col("kind").as("account_type"),
      (col("kind") === "Exchange").as("is_exchange"))
      .filter(col("address_pubkey").isNotNull)
  }

  /** `exchanges` published dim (schema exchanges.json; ref
    * substrateetl.js:678): the is_exchange slice. */
  def exchanges(accounts: DataFrame): DataFrame =
    accounts.filter(col("is_exchange"))
      .select(col("address_pubkey"), col("address_nickname"),
        col("address_label"))

  /** `knownpubs` published dim (schema knownpubs.json; ref
    * substrateetl.js:681): every attributed account except the
    * Unknown/User types. */
  def knownpubs(accounts: DataFrame): DataFrame =
    accounts.filter(!col("account_type").isin("Unknown", "User"))
      .select(col("address_pubkey"), col("address_nickname"),
        col("address_label"), col("account_type"))

  /** Publish the three dims as whole-table replaces (`bq load
    * --replace`, identityManager.js:185 / substrateetl.js:712 — none
    * is date-partitioned). */
  def dumpIdentityDims(identity: DataFrame, accounts: DataFrame,
      outRoot: String): MapView[String, DataFrame] =
    Writers.publish(outRoot, Nil, None, Map(
      "identity" -> identity,
      "exchanges" -> exchanges(accounts),
      "knownpubs" -> knownpubs(accounts)))

  /** Serve-face decoration: left-join identity display/verified onto
    * any account-keyed result (the reference decorates related-account
    * and extrinsic lookups the same way, query.js identity joins).
    * No broadcast hint: the identity dimension is usually small but can
    * reach millions of rows fleet-wide — AQE broadcasts it when it
    * fits and falls back to a shuffle join when it doesn't. */
  def decorate(df: DataFrame, identities: DataFrame,
      pubkeyCol: String): DataFrame =
    df.join(
      identities.select(col("pubkey").as(pubkeyCol),
        col("display").as("identity_display"),
        col("verified").as("identity_verified")),
      Seq(pubkeyCol), "left")
      .withColumn("identity_verified",
        coalesce(col("identity_verified"), lit(false)))
}
