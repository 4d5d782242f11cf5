package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** External-API batch sources — SURVEY S13 (ref priceManager.js:833-1151
  * coingecko market-chart ingestion; substrateetl.js:444-525 CSV wallet
  * attribution). The fetch itself is out of engine scope; these readers
  * turn fetched payload files into the engine's schemas.
  */
object JsonFeed {

  /** Coingecko market_chart payload shape:
    * `{"prices": [[ms, price], ...], "total_volumes": [[ms, vol], ...]}`
    * → (asset, chain_id, index_ts, price_usd, volume) rows, 5-min
    * aligned like the reference's assetpricelog writes. */
  def marketChart(spark: SparkSession, path: String, asset: String,
      chainId: Int): DataFrame = {
    val schema = StructType(Seq(
      StructField("prices", ArrayType(ArrayType(DoubleType))),
      StructField("total_volumes", ArrayType(ArrayType(DoubleType)))))
    val raw = spark.read.schema(schema)
      .option("multiLine", "true").json(path)
    val prices = raw.select(explode(col("prices")).as("p"))
      .select((col("p")(0) / 1000).cast("long").as("ts_s"),
        col("p")(1).as("price_usd"))
    val vols = raw.select(explode(col("total_volumes")).as("v"))
      .select((col("v")(0) / 1000).cast("long").as("ts_s"),
        col("v")(1).as("volume"))
    prices.join(vols, Seq("ts_s"), "left")
      .select(
        lit(asset).as("asset"),
        lit(chainId).as("chain_id"),
        timestamp_seconds((col("ts_s") / 300).cast("long") * 300)
          .as("index_ts"), // 5-min bucket alignment
        col("price_usd"), col("volume"))
  }

  /** Wallet-attribution CSV (ref substrateetl.js:315 csvToJson):
    * address,label,kind header CSV → dimension DataFrame. */
  def walletLabels(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true")
      .schema("address STRING, label STRING, kind STRING")
      .csv(path)
      .filter(col("address").isNotNull)

  /** Audience/user export CSV → the published `users` shape (schema
    * substrateetl/users.json; ref tools/createAudience.js: the
    * id,evmAddress,substrateAddress,… export with the pubkey derived
    * from the ss58 column; rows keep whichever address side they
    * have — the reference emits the fields conditionally). `spark`
    * must be set up ([[graft.Tables.configure]]). */
  def userAudience(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true")
      .schema("id STRING, evmAddress STRING, substrateAddress STRING," +
        " twitterHandle STRING, username STRING, twitterUrl STRING")
      .csv(path)
      .select(col("id"),
        col("substrateAddress").as("ss58_address"),
        lower(col("evmAddress")).as("evm_address"),
        call_udf("ss58_pubkey", col("substrateAddress"))
          .as("account_pubkey"))
      .filter(col("id").isNotNull)
}
