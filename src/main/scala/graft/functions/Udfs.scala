package graft.functions

import graft.plans.{AsOfStrategy, CompactDecode, CosineSimilarity, DotProduct,
  SketchExpressions}
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.udf
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, StringType}

/** SQL-registered scalar functions — the Spark twin of the reference's
  * BigQuery JS UDF surface (ref substrate/tools/udfs.sql; SURVEY §2.8)
  * plus the paraTool conversions used on every exported row
  * (ref substrateetl.js:6301,6396). All pure → Catalyst treats them as
  * deterministic and can collapse/reorder them.
  *
  * [[functions]] is the engine's whole function surface, one list that
  * both installers read: [[graft.GraftExtensions]] injects it into every
  * session a `spark.sql.extensions` deployment builds, and [[register]]
  * installs whatever of it a session lacks.
  *
  * The per-row string kernels (address render, decimal scaling, asset
  * canonicalization, hex hashing) register as `StaticInvoke`
  * expressions over [[graft.plans.CodecKernels]] rather than Scala
  * UDFs: a UDF is a codegen barrier with per-row catalyst↔scala
  * conversion, and these run on EVERY row of Dump's six projections.
  * StaticInvoke compiles to a direct static call inside whole-stage
  * codegen. Functions over arrays/structs (multisig) and the rarely-
  * per-row ones stay plain UDFs. */
object Udfs {

  /** One engine function: its SQL name, its usage line and the builder
    * Catalyst calls with the argument expressions. */
  final case class Fn(name: String, usage: String,
      builder: Seq[Expression] => Expression) {
    def id: FunctionIdentifier = FunctionIdentifier(name)
    def info: ExpressionInfo = new ExpressionInfo(Udfs.getClass.getName,
      "", name, usage, "", "", "", "", "", "", "built-in")
  }

  /** Guarded-null policy (same contract as compact_decode): these
    * functions run on every row of Dump's projections, so malformed
    * input (bad hex, wrong pubkey length, bad base58/checksum) yields
    * NULL rather than killing the stage. */
  private def guard[T >: Null](f: => T): T =
    try f catch {
      case _: IllegalArgumentException | _: NumberFormatException |
           _: IndexOutOfBoundsException => null
    }

  /** `name` as a StaticInvoke of CodecKernels.`method`. */
  private def native(name: String, usage: String, method: String,
      out: DataType, in: DataType*): Fn =
    Fn(name, usage, exprs => StaticInvoke(
      classOf[graft.plans.CodecKernels.type],
      out, method, exprs, inputTypes = in,
      propagateNull = true, returnNullable = true))

  /** `name` as a Scala UDF, built the way `spark.udf.register` builds
    * it (the UDF named, so result columns read `name(...)`). */
  private def scalaUdf(name: String, usage: String,
      f: UserDefinedFunction): Fn = {
    val named = f.withName(name)
    Fn(name, usage, exprs =>
      GraftBridge.expression(named(exprs.map(GraftBridge.column): _*)))
  }

  val functions: Seq[Fn] = Seq(
    // fused vector kernels (plans/VectorExpressions.scala)
    Fn("cosine_sim",
      "cosine_sim(a, b) - fused float64 cosine over two float arrays",
      exprs => CosineSimilarity(exprs.head, exprs(1))),
    Fn("dot_product",
      "dot_product(a, b) - fused float64 dot over two float arrays",
      exprs => DotProduct(exprs.head, exprs(1))),
    // SCALE compact decode (leading field of a storage value); null on
    // malformed input — one bad value must not fail the stage
    Fn("compact_decode",
      "compact_decode(hex) - leading SCALE-compact value, null on bad input",
      exprs => CompactDecode(exprs.head)),
    Fn("bottom_k_hv",
      "bottom_k_hv(h, v, k) - deterministic bottom-k-by-hash sketch " +
        "(array<struct<h,v>> ascending)",
      SketchExpressions.build),

    // P12 — address normalization (ref paraTool.js:1666 getPubKey /
    // getAddress)
    native("ss58_encode",
      "ss58_encode(pubkey_hex, network) - SS58 address of a pubkey",
      "ss58Encode", StringType, StringType, IntegerType),
    native("ss58_pubkey",
      "ss58_pubkey(address) - 0x pubkey hex of an SS58 address",
      "ss58Pubkey", StringType, StringType),

    // crypto/encoding (ref paraTool.js:1785,1883)
    native("twox128_hex", "twox128_hex(s) - xxHash128 of s as 0x hex",
      "twox128Hex", StringType, StringType),
    native("blake2_256_hex",
      "blake2_256_hex(hex) - BLAKE2b-256 of the bytes as 0x hex",
      "blake2b256Hex", StringType, StringType),

    // bounded edit distance for candidate-verify joins (x22 SymSpell,
    // fuzzy entity matching): exact when ≤ k, else k+1 — banded DP with
    // early exit instead of the built-in's full n·m fill
    native("levenshtein_le",
      "levenshtein_le(a, b, k) - edit distance if <= k, else k + 1",
      "levenshteinLe", IntegerType, StringType, StringType, IntegerType),

    // decimal scaling of raw chain amounts (ref paraTool.js:214
    // toBaseUnit; hex u128 → double at token decimals)
    native("to_base_unit",
      "to_base_unit(raw_hex, decimals) - raw amount at token decimals",
      "toBaseUnit", DoubleType, StringType, IntegerType),

    // composite keys, dispatched through the per-chain parser seam so
    // chain-specific asset canonicalization (Acala token JSON, Moonbeam
    // H160 lowercase, Parallel numeric ids) applies inside Dump's
    // transfers projection (ref paraTool.js:1945 makeAssetChain +
    // indexer.js:6697 setup_chainParser)
    native("asset_chain",
      "asset_chain(asset, chain_id) - canonical asset~chain key",
      "assetChain", StringType, StringType, IntegerType),

    // module-account name decode (ref paraTool.js:378
    // pubKey_hex2ascii — the assethub snapshotter's named-holder gate)
    native("pubkey_ascii",
      "pubkey_ascii(pubkey_hex) - printable module-account name",
      "pubkeyAscii", StringType, StringType),

    // substrate↔EVM account mapping (ref paraTool.js:517,522)
    native("pubkey_to_h160",
      "pubkey_to_h160(pubkey_hex) - the first 20 bytes as an H160",
      "pubkeyToH160", StringType, StringType),
    native("h160_to_pubkey",
      "h160_to_pubkey(h160_hex) - the EVM-mapped substrate pubkey",
      "h160ToPubkey", StringType, StringType),

    // derived account ids (ref paraTool.js:311 computeMultisig,
    // paraTool.js:889 compute_sovereign_account)
    scalaUdf("multisig_account",
      "multisig_account(pubkeys_hex, threshold) - multisig account id",
      udf((pubkeysHex: Seq[String], threshold: Int) =>
        if (pubkeysHex == null) null
        else guard(Codec.bytesToHex(
          Codec.multisigAccount(pubkeysHex.map(Codec.hexToBytes),
            threshold))))),
    scalaUdf("sovereign_account",
      "sovereign_account(para_id, sibling) - parachain sovereign account",
      udf((paraId: Long, sibling: Boolean) =>
        guard(Codec.bytesToHex(Codec.sovereignAccount(paraId, sibling))))),

    // XCM MultiLocation surface (ref paraTool.js:1237 interior keys,
    // xcmmanager.js:986 descend-origin derivative) — all internally
    // guarded (null on malformed keys/addresses)
    native("xcm_loc_bytes",
      "xcm_loc_bytes(key) - SCALE bytes of a MultiLocation key",
      "xcmLocBytes", StringType, StringType),
    scalaUdf("xcm_dest_para",
      "xcm_dest_para(key) - destination para id of a MultiLocation key",
      udf((key: String) => XcmLocation.destParaId(key))),
    scalaUdf("xcm_derivative20",
      "xcm_derivative20(para_id, address) - descend-origin derivative",
      udf((paraId: Long, address: String) =>
        if (address == null) null
        else guard(Codec.bytesToHex(
          XcmLocation.multilocationDerivative(Some(paraId),
            Some(address))._1)))),

    // EVM sender recovery (ref ethTool.js signature handling) —
    // internally guarded: null on malformed hash/r/s or invalid point
    // v is Long: EIP-155 v = 35 + 2·chainId exceeds Int range for real
    // chainIds (Aurora, Palm); an Int signature would let Spark's
    // implicit BIGINT→INT cast wrap v into a valid recId range and
    // silently recover a wrong address instead of null.
    scalaUdf("ecrecover_address",
      "ecrecover_address(msg_hash, v, r, s) - EVM sender address",
      udf((msgHashHex: String, v: Long, rHex: String, sHex: String) =>
        Secp256k1.recoverAddressHex(msgHashHex, v, rHex, sHex))))

  /** Install the engine surface into `spark`: every function of
    * [[functions]] its registry lacks, and the as-of join planner
    * strategy if its planner lacks it (install only what is absent, so
    * a session built with [[graft.GraftExtensions]] gets no writes). */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    functions.filterNot(f => reg.functionExists(f.id))
      .foreach(f => reg.registerFunction(f.id, f.info, f.builder))
    if (!spark.sessionState.planner.strategies.contains(AsOfStrategy))
      spark.experimental.extraStrategies :+= AsOfStrategy
  }
}
