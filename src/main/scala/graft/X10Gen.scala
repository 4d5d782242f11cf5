package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev tool: materialize the ×10 scaling corpus SCALING.md measures
  * against — each table unioned 10× with shifted primary keys so
  * key-bounded queries keep their selectivity while scans grow 10×.
  * Usage: X10Gen [srcSfDir] [outDir] */
object X10Gen {
  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "/tmp/sfx10"
    val spark = SparkSession.builder()
      .master("local[16]")
      .config("spark.sql.shuffle.partitions", "16")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def x10(df: DataFrame, shifted: Map[String, Long]): DataFrame =
      (0 until 10).map { i =>
        shifted.foldLeft(df) { case (d, (c, step)) =>
          d.withColumn(c, col(c) + lit(i * step)) }
      }.reduce(_ unionByName _)

    val tables: Seq[(String, Map[String, Long])] = Seq(
      "lineitem" -> Map("l_orderkey" -> 100000000L),
      "orders" -> Map("o_orderkey" -> 100000000L),
      "documents" -> Map("doc_id" -> 10000000L),
      "embeddings" -> Map("vec_id" -> 10000000L),
      "events" -> Map("event_id" -> 100000000L))
    tables.foreach { case (t, shifts) =>
      val in = s"$src/$t.parquet"
      if (new java.io.File(in).exists) {
        val df = spark.read.parquet(in)
        // only shift columns the table actually has
        val applicable = shifts.filter { case (c, _) => df.columns.contains(c) }
        x10(df, applicable).write.mode("overwrite").parquet(s"$out/$t.parquet")
        println(s"wrote $out/$t.parquet")
      }
    }

    // dim tables copied UNSCALED: facts grow, dims don't (the realistic
    // 100 TB shape) — j15's ×10 measurement reads customer from here
    Seq("customer", "nation", "region").foreach { t =>
      val in = s"$src/$t.parquet"
      if (new java.io.File(in).exists) {
        spark.read.parquet(in).write.mode("overwrite")
          .parquet(s"$out/$t.parquet")
        println(s"wrote $out/$t.parquet (dim, unscaled)")
      }
    }
    spark.stop()
  }
}
