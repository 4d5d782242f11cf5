package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev tool: micro-benchmark of the per-row scalar surface in its two
  * registration forms — Scala UDF (codegen barrier + per-row
  * catalyst↔scala conversion) vs StaticInvoke native expression (the
  * production registration since round 9) — over N synthesized rows.
  * Usage: MicroBench [rows] */
object MicroBench {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toLong else 2000000L
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.functions.Codec

    // the old UDF forms, registered under distinct names
    spark.udf.register("ss58_udf", (pubkeyHex: String, network: Int) =>
      if (pubkeyHex == null) null
      else try Codec.ss58Encode(Codec.hexToBytes(pubkeyHex), network)
      catch { case _: IllegalArgumentException => null })
    spark.udf.register("tbu_udf", (rawHex: String, decimals: Int) =>
      if (rawHex == null) null
      else try java.lang.Double.valueOf(
        Codec.toBaseUnit(BigInt(1, Codec.hexToBytes(rawHex)), decimals))
      catch { case _: IllegalArgumentException => null })
    Tables.configure(spark) // the StaticInvoke forms

    val src = spark.range(n)
      .select(col("id"),
        concat(lit("0x"), lpad(hex(col("id")), 64, "0")).as("pk"),
        concat(lit("0x"), hex(col("id") * 1000000)).as("amt"))
      .persist()
    src.count() // materialize input outside the timed region

    def time(label: String, exprs: Seq[String]): Double = {
      val t0 = System.nanoTime()
      src.selectExpr(exprs: _*)
        .select(count(lit(1)), count(col(exprs.head.split(" AS ").last)))
        .collect()
      val s = (System.nanoTime() - t0) / 1e9
      println(f"$label%-28s $s%6.2f s")
      s
    }
    // a cheap kernel where the per-row UDF tax is visible (the heavy
    // blake2b inside ss58 drowns it)
    spark.udf.register("compact_udf",
      graft.decode.TraceDecode.decodeCompactHex)

    // warm both paths once, then measure
    Seq(true, false).foreach { warm =>
      val tag = if (warm) "(warmup) " else ""
      time(s"${tag}udf ss58+tbu",
        Seq("ss58_udf(pk, 42) AS a", "tbu_udf(amt, 10) AS v"))
      time(s"${tag}native ss58+tbu",
        Seq("ss58_encode(pk, 42) AS a", "to_base_unit(amt, 10) AS v"))
      time(s"${tag}udf compact",
        Seq("compact_udf(amt) AS v"))
      time(s"${tag}native compact",
        Seq("compact_decode(amt) AS v"))
    }

    // bounded vs full edit distance on ~26-char near-identical pairs
    // (the SymSpell verify shape: most candidates are within distance
    // 2, so the band is tiny but the full DP still fills n*m cells)
    val pairs = spark.range(n / 2)
      .select(
        concat(lit("prefix_of_the_token_"), hex(col("id"))).as("sa"),
        concat(lit("prefix_of_the_token_"), hex(col("id") + 1)).as("sb"))
      .persist()
    pairs.count()
    def timeP(label: String, ex: String): Unit = {
      val t0 = System.nanoTime()
      pairs.selectExpr(s"$ex AS d").agg(sum(col("d"))).collect()
      println(f"$label%-28s ${(System.nanoTime() - t0) / 1e9}%6.2f s")
    }
    Seq("(warmup) ", "").foreach { tag =>
      timeP(s"${tag}full levenshtein", "levenshtein(sa, sb)")
      timeP(s"${tag}banded levenshtein_le k=1", "levenshtein_le(sa, sb, 1)")
    }
    spark.stop()
  }
}
