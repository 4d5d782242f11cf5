package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.collection.MapView

/** Account-relation tables and the related-accounts serve face (ref
  * polkaholic.sql:3736 `proxyaccount`, :3776 `multisigaccount`; serve
  * lookup query.js:3542). The reference maintains these as MySQL rows
  * mutated call-by-call during indexing; here each table is a pure
  * DataFrame over the decoded `calls`/`extrinsics` projections —
  * add/remove becomes argmax-per-edge (latest action wins), and the
  * multisig account id derives in-row via the `multisig_account` UDF
  * (blake2 of sorted signatories — Codec.multisigAccount).
  *
  * Scale shape: one shuffle per table build (the per-edge window /
  * per-call group), keyed on the edge identity — no driver-side state,
  * no collect. The serve lookup filters by account THEN unions two
  * bounded directions, so partition pruning on a pubkey-sorted layout
  * reaches both scans.
  */
object AccountRelations {

  /** Live proxy edges: `proxy.addProxy` inserts, `proxy.removeProxy`
    * deletes, latest action per (chain, delegator, delegate, type) in
    * block/extrinsic/call order wins. Input: the decoded `calls` and
    * `extrinsics` tables (metadata-tier decode emits
    * `{"delegate":"0x…","proxyType":{"variant":"…"},"delay":n}`). */
  def proxyAccounts(calls: DataFrame, extrinsics: DataFrame): DataFrame = {
    val signerByEx = extrinsics
      .select(col("extrinsic_id"), col("signer_pub_key"))
    val actions = calls
      .filter(col("call_section") === "proxy" &&
        col("call_method").isin("addProxy", "removeProxy"))
      .join(signerByEx, Seq("extrinsic_id"))
      .select(
        col("chain_id"),
        col("signer_pub_key").as("delegator_pub"),
        get_json_object(col("call_args"), "$.delegate")
          .as("delegate_pub"),
        get_json_object(col("call_args"), "$.proxyType.variant")
          .as("proxy_type"),
        get_json_object(col("call_args"), "$.delay").cast("long")
          .as("delay"),
        (col("call_method") === "addProxy").as("is_add"),
        col("block_number"), col("extrinsic_id"), col("call_id"))
    val w = Window
      .partitionBy(col("chain_id"), col("delegator_pub"),
        col("delegate_pub"), col("proxy_type"))
      .orderBy(col("block_number").desc, idKey(col("extrinsic_id")).desc,
        callPathKey(col("call_id")).desc)
    actions.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("is_add"))
      .select(col("chain_id"), col("delegator_pub"), col("delegate_pub"),
        col("proxy_type"), col("delay"),
        col("block_number").as("since_block"))
  }

  /** Multisig membership edges: one row per (multisig account, member)
    * seen in a `multisig.asMulti` / `approveAsMulti` call — the signer
    * plus every other signatory, with the account id derived from the
    * full sorted set + threshold (ref paraTool.js:311 computeMultisig;
    * the reference records the relation on any multisig call). Distinct
    * edges: repeated approvals of the same multisig add nothing. */
  def multisigAccounts(calls: DataFrame,
      extrinsics: DataFrame): DataFrame = {
    val signerByEx = extrinsics
      .select(col("extrinsic_id"), col("signer_pub_key"))
    calls
      .filter(col("call_section") === "multisig" &&
        col("call_method").isin("asMulti", "approveAsMulti"))
      .join(signerByEx, Seq("extrinsic_id"))
      .select(
        col("chain_id"),
        col("signer_pub_key"),
        from_json(get_json_object(col("call_args"), "$.otherSignatories"),
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.StringType)).as("others"),
        get_json_object(col("call_args"), "$.threshold").cast("int")
          .as("threshold"))
      .withColumn("signatories",
        array_union(array(col("signer_pub_key")), col("others")))
      .withColumn("multisig_pub",
        expr("multisig_account(signatories, threshold)"))
      .select(col("chain_id"), col("multisig_pub"), col("threshold"),
        explode(col("signatories")).as("member_pub"))
      .distinct()
  }

  /** Materialize the relation tables as chain-partitioned parquet (the
    * reference keeps `proxyaccount`/`multisigaccount` as physical MySQL
    * tables; here each run is a full deterministic rebuild from the
    * decoded day tables — replay-idempotent, partition-overwrite per
    * chain like the date dumps). */
  def writeTables(calls: DataFrame, extrinsics: DataFrame,
      outRoot: String): MapView[String, DataFrame] =
    Writers.publish(outRoot, Seq("chain_id"), None, Map(
      "proxyaccount" -> proxyAccounts(calls, extrinsics),
      "multisigaccount" -> multisigAccounts(calls, extrinsics)))

  /** Related-accounts lookup (ref query.js:3542): every account related
    * to `accountPub` with the relation kind — proxies in both
    * directions plus co-members of any shared multisig (and the
    * multisig account itself). */
  def relatedAccounts(proxy: DataFrame, multisig: DataFrame,
      accountPub: String): DataFrame = {
    val p = lit(accountPub)
    val proxyOut = proxy.filter(col("delegator_pub") === p)
      .select(col("delegate_pub").as("related_pub"),
        lit("proxy_delegate").as("relation"),
        col("proxy_type").as("detail"))
    val proxyIn = proxy.filter(col("delegate_pub") === p)
      .select(col("delegator_pub").as("related_pub"),
        lit("proxy_delegator").as("relation"),
        col("proxy_type").as("detail"))
    val mine = multisig.filter(col("member_pub") === p)
      .select(col("multisig_pub"), col("threshold"))
    val msAccount = mine
      .select(col("multisig_pub").as("related_pub"),
        lit("multisig_account").as("relation"),
        col("threshold").cast("string").as("detail"))
    // `mine` is ONE account's multisig set — broadcast it so the
    // co-member lookup is a map-side semi-join over the edge table
    val coMembers = multisig
      .join(broadcast(mine.select(col("multisig_pub"))),
        Seq("multisig_pub"))
      .filter(col("member_pub") =!= p)
      .select(col("member_pub").as("related_pub"),
        lit("multisig_comember").as("relation"),
        col("multisig_pub").as("detail"))
    proxyOut.unionByName(proxyIn).unionByName(msAccount)
      .unionByName(coMembers).distinct()
      .orderBy(col("relation"), col("related_pub"))
  }
}
