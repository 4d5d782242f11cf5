package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** K18–K20 — the WASM contracts dataset THROUGH THE WRITER
  * ([[graft.etl.Contracts.dumpContracts]]; ref substrateetl.js:2520-2780,
  * schemas under schema/substrateetl/contracts/).
  *
  * One deterministic synthesis off the `events` table drives all three
  * exports end-to-end — CodeStored / Instantiated events (the latter
  * with REAL ss58-encoded addresses, so the pubkey round-trips through
  * the codec), a signer dim with a deliberate gap (unsigned
  * extrinsics), the contractInfoOf state frame, flattened
  * `contracts.call` rows covering every gate (weights-v2 gas objects,
  * short deposit limits, unknown contracts, selector decode hits and
  * misses) — then each query reads its WRITTEN table back and projects
  * the oracle-comparable columns (ss58 strings are exercised by the
  * round trip inside ContractsSpec; the cross-engine compare pins the
  * pubkey/argmax/gate arithmetic a DuckDB twin can re-derive).
  */
object ContractOps {

  private def mh(c: Column): Column = md5(c.cast("binary"))
  private def str(c: Column): Column = c.cast("string")
  private def pk2(a: Column, b: Column): Column =
    concat(lit("0x"), mh(a), mh(b))
  /** contract address pubkey of residue `a` */
  private def addrPk(a: Column): Column =
    pk2(str(a), concat(str(a), lit("x")))
  /** deployer pubkey of user `u` */
  private def depPk(u: Column): Column =
    pk2(concat(str(u), lit("d")), concat(str(u), lit("e")))
  /** extrinsic signer pubkey of user `u` */
  private def signerPk(u: Column): Column =
    pk2(concat(str(u), lit("s")), concat(str(u), lit("t")))
  private def codeHash(n: Column): Column =
    concat(lit("0xc"), str(n))

  /** Run the full three-table dump over the synthesis and return the
    * read-backs. Events < 900 so the slice is identical at every SF
    * (sf0.001 has exactly 1000 dense event ids).
    *
    * One-slot memo: k18/k19/k20 are three consumers of ONE dataset
    * dump (the d3/d12/evmds shared-stage lesson — without it each
    * query re-synthesizes and re-writes all three tables, tripling the
    * dump cost across the gate run). Bench times the cold build +
    * writes as `stage:contracts_dump`; the queries read memo-warm. */
  private[graft] val contractsDumpStage =
    new StageMemo(buildContractsDump(_, _))

  /** Bench hooks: build + write the shared contracts dump / drop the
    * memo so the bench times the stage cold (Bench.main resets). */
  def warmContractsDump(s: SparkSession, d: String): Unit = {
    contractsDumpStage(s, d); ()
  }
  def resetContractsDump(): Unit = contractsDumpStage.reset()

  private def buildContractsDump(s: SparkSession, d: String)
      : Map[String, DataFrame] = {
    val e = Tables.events(s, d).filter(col("event_id") < 900)
      .select(col("event_id"), col("user_id"))
    buildContractsDumpFrom(s, e, queryDumpDir("graft_contracts_dump"))
  }

  /** Warm the contracts-dump codegen on an 8-row inline frame written
    * to a scratch dir: the stage's compute is fixed-cost-dominated at
    * bench SFs (measured: the contractscall job spends 2.2 s computing
    * 170 rows — Janino/JIT of the decode + ss58 + json expression
    * trees, not data work), and the stage runs ONCE per bench, so it
    * absorbs all of it. The ids cover both event branches, a signed
    * and an unsigned call, and decode hit/miss, so the same generated
    * classes compile. Corpus-independent: never touches sfDir; the
    * memoized query artifact is untouched. */
  def warmContractsCodegen(s: SparkSession): Unit = {
    import s.implicits._
    val e = Seq((2L, 1L), (3L, 2L), (4L, 3L), (6L, 4L), (13L, 5L),
      (26L, 6L), (14L, 7L), (35L, 8L))
      .toDF("event_id", "user_id")
    buildContractsDumpFrom(s, e, queryDumpDir("graft_contracts_warm"))
    ()
  }

  private def buildContractsDumpFrom(s: SparkSession, e: DataFrame,
      outRoot: String): Map[String, DataFrame] = {
    import s.implicits._
    val bt = (lit(1709251200L) + col("event_id")).cast("timestamp")
    val exId = concat(col("event_id"), lit("-0"))
    val common = Seq(
      lit(22000).as("chain_id"),
      concat(col("event_id"), lit("-0-0")).as("event_id"),
      exId.as("extrinsic_id"),
      concat(lit("0xe"), col("event_id")).as("extrinsic_hash"),
      bt.as("block_time"),
      col("event_id").as("block_number"),
      concat(lit("0xb"), col("event_id")).as("block_hash"))
    val ss58 = (p: Column) => call_udf("ss58_encode", p, lit(42))
    // even ids store code (bucket mod 23 — covered exhaustively, so
    // every contract's code resolves); odd ids instantiate contract
    // residue mod 50 (odd residues only — the even-residue contracts
    // stay uninstantiated and must drop from the contracts export)
    val events = e.select(common :+
      when(col("event_id") % 2 === 0, lit("CodeStored"))
        .otherwise(lit("Instantiated")).as("method") :+
      when(col("event_id") % 2 === 0,
        to_json(array(codeHash(col("event_id") % 23))))
        .otherwise(to_json(array(
          ss58(addrPk(col("event_id") % 50)),
          ss58(depPk(col("user_id")))))).as("data"): _*)
      .withColumn("section", lit("contracts"))
    // ids divisible by 13 are "unsigned": no extrinsic row, null
    // storer/caller
    val extrinsics = e.filter(col("event_id") % 13 =!= 0)
      .select(lit(22000).as("chain_id"), exId.as("extrinsic_id"),
        signerPk(col("user_id")).as("signer_pub_key"))
    val contractInfo = e.select((col("event_id") % 60).as("a"))
      .distinct()
      .select(
        lit(22000).as("chain_id"),
        addrPk(col("a")).as("address_pub_key"),
        codeHash(col("a") % 23).as("code_hash"),
        str(col("a") * 10).as("storage_bytes"),
        str(col("a") % 7).as("storage_items"),
        str(col("a") * 3).as("storage_byte_deposit"),
        str(col("a")).as("storage_item_deposit"),
        str(col("a") * 5 + 1).as("storage_base_deposit"))
    // calls: residues mod 80 — 62..78 hit no known contract and drop;
    // gas numeric unless %3 (weights-v2 object → "0"); deposit hex
    // only on %7; selector decodes only against code 0xc2's registry
    // row, missing everywhere else
    val calls = e.filter(col("event_id") % 4 === 2)
      .select(common :+
        lit("contracts").as("call_section") :+
        lit("call").as("call_method") :+
        to_json(struct(
          struct(ss58(addrPk(col("event_id") % 80)).as("id"))
            .as("dest"),
          when(col("event_id") % 3 =!= 0,
            str(lit(21000) + col("event_id") % 100))
            .otherwise(lit("w")).as("gas_limit"),
          when(col("event_id") % 7 === 0, lit("0x0400"))
            .as("storage_deposit_limit"),
          str(col("event_id") % 1000).as("value"),
          when(col("event_id") % 5 =!= 0, lit("0x633aa551"))
            .otherwise(lit("0xdeadbeef")).as("data")))
          .as("call_args"): _*)
    val chains = Seq((22000, "testchain", 42))
      .toDF("chain_id", "id", "ss58_prefix")
    val specs = Seq(("0xc2", "0x633aa551", "flip", Seq.empty[String]))
      .toDF("code_hash", "selector", "method", "arg_types")
    graft.etl.Contracts.dumpContracts(events, extrinsics, calls,
      contractInfo, chains, outRoot, specs = Some(specs)).toMap
  }

  // K18 — contractscode: last store per code hash wins, storer from
  // the signer dim (null for the unsigned gap)
  private def k18(s: SparkSession, d: String): DataFrame =
    contractsDumpStage(s, d)("contractscode")
      .select(col("code_hash"), col("block_number"),
        col("extrinsic_id"), col("storer_pub_key"),
        us(col("code_stored_ts")).as("stored_us"))
      .orderBy(col("code_hash"))

  private val k18Sql =
    """WITH stores AS (
      | SELECT event_id, user_id, event_id % 23 AS b FROM events
      | WHERE event_id < 900 AND event_id % 2 = 0),
      |win AS (SELECT b, max(event_id) AS e FROM stores GROUP BY 1)
      |SELECT '0xc' || CAST(w.b AS VARCHAR) AS code_hash,
      | CAST(s.event_id AS BIGINT) AS block_number,
      | CAST(s.event_id AS VARCHAR) || '-0' AS extrinsic_id,
      | CASE WHEN s.event_id % 13 = 0 THEN NULL
      |  ELSE '0x' || md5(CAST(s.user_id AS VARCHAR) || 's')
      |    || md5(CAST(s.user_id AS VARCHAR) || 't') END
      |  AS storer_pub_key,
      | CAST(1709251200 + s.event_id AS BIGINT) * 1000000 AS stored_us
      |FROM win w JOIN stores s ON s.b = w.b AND s.event_id = w.e
      |ORDER BY code_hash""".stripMargin

  // K19 — contracts: state ⋈ latest Instantiated ⋈ code-store block;
  // uninstantiated state rows drop (the ref's blockTS gate)
  private def k19(s: SparkSession, d: String): DataFrame =
    contractsDumpStage(s, d)("contracts")
      .select(col("address_pub_key"), col("code_hash"),
        col("deployer_pub_key"), col("block_number_stored"),
        col("block_number_instantiated"), col("storage_bytes"),
        us(col("deployed_ts")).as("deployed_us"))
      .orderBy(col("address_pub_key"))

  private val k19Sql =
    """WITH inst AS (
      | SELECT event_id % 50 AS a, max(event_id) AS e FROM events
      | WHERE event_id < 900 AND event_id % 2 = 1 GROUP BY 1),
      |instd AS (
      | SELECT i.a, i.e, ev.user_id AS u FROM inst i
      | JOIN events ev ON ev.event_id = i.e),
      |stores AS (
      | SELECT event_id % 23 AS b, max(event_id) AS e FROM events
      | WHERE event_id < 900 AND event_id % 2 = 0 GROUP BY 1)
      |SELECT '0x' || md5(CAST(d.a AS VARCHAR))
      |  || md5(CAST(d.a AS VARCHAR) || 'x') AS address_pub_key,
      | '0xc' || CAST(d.a % 23 AS VARCHAR) AS code_hash,
      | '0x' || md5(CAST(d.u AS VARCHAR) || 'd')
      |  || md5(CAST(d.u AS VARCHAR) || 'e') AS deployer_pub_key,
      | CAST(st.e AS VARCHAR) AS block_number_stored,
      | CAST(d.e AS VARCHAR) AS block_number_instantiated,
      | CAST(d.a * 10 AS VARCHAR) AS storage_bytes,
      | CAST(1709251200 + d.e AS BIGINT) * 1000000 AS deployed_us
      |FROM instd d LEFT JOIN stores st ON st.b = d.a % 23
      |ORDER BY address_pub_key""".stripMargin

  // K20 — contractscall: every numeric gate + the selector decode,
  // unknown contracts dropped by the staging inner join
  private def k20(s: SparkSession, d: String): DataFrame =
    contractsDumpStage(s, d)("contractscall")
      .select(col("extrinsic_id"), col("gas_limit"),
        col("storage_deposit_limit"), col("value"), col("code_hash"),
        col("caller_pub_key"),
        col("decoded_call").isNotNull.as("has_decode"))
      .orderBy(col("extrinsic_id"))

  private val k20Sql =
    """WITH calls AS (
      | SELECT event_id AS e, user_id AS u, event_id % 80 AS a
      | FROM events WHERE event_id < 900 AND event_id % 4 = 2)
      |SELECT CAST(e AS VARCHAR) || '-0' AS extrinsic_id,
      | CASE WHEN e % 3 <> 0 THEN CAST(21000 + e % 100 AS VARCHAR)
      |  ELSE '0' END AS gas_limit,
      | CASE WHEN e % 7 = 0 THEN '1024' ELSE '0' END
      |  AS storage_deposit_limit,
      | CAST(e % 1000 AS VARCHAR) AS value,
      | '0xc' || CAST(a % 23 AS VARCHAR) AS code_hash,
      | CASE WHEN e % 13 = 0 THEN NULL
      |  ELSE '0x' || md5(CAST(u AS VARCHAR) || 's')
      |    || md5(CAST(u AS VARCHAR) || 't') END AS caller_pub_key,
      | (a % 23 = 2 AND e % 5 <> 0) AS has_decode
      |FROM calls WHERE a < 60
      |ORDER BY extrinsic_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "k18_contractscode_dump" -> (k18 _),
    "k19_contracts_dump" -> (k19 _),
    "k20_contractscall_dump" -> (k20 _))

  val oracles: Map[String, String] = Map(
    "k18_contractscode_dump" -> k18Sql,
    "k19_contracts_dump" -> k19Sql,
    "k20_contractscall_dump" -> k20Sql)
}
