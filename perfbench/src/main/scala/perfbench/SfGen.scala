package perfbench

import java.time.LocalDateTime
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Seeded analytics tables in the layout `graft.Tables` reads: one
  * parquet file per table (`<dir>/<name>.parquet`), with the column
  * names, types and value ranges of the engine's reference test tables
  * (TPC-H-like star schema plus events, documents and embeddings).
  * `scale` 1.0 gives 60,000 lineitem rows. */
object SfGen {

  final case class Table(name: String, schema: StructType, rows: Seq[Row])

  private def f(n: String, t: DataType) = StructField(n, t)
  private def round2(x: Double) = math.round(x * 100) / 100.0
  private val Words = Vector("a", "agg", "batch", "big", "column", "customer",
    "data", "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")
  private val Regions = Vector("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

  def tables(seed: Long, scale: Double = 1.0): Seq[Table] = {
    val r = Gen.rng(seed, 400)
    def n(x: Int) = math.max(1, (x * scale).toInt)
    val nCust = n(1500); val nSupp = n(100); val nPart = n(2000)
    val nOrd = n(15000); val nLine = n(60000); val nEv = n(10000)
    val nDoc = n(500); val nVec = n(500); val nUsers = n(150)
    val day0 = LocalDateTime.of(1995, 1, 1, 0, 0)
    def pick[A](xs: Seq[A]): A = xs(r.nextInt(xs.size))

    val region = Table("region", StructType(Seq(f("r_regionkey", IntegerType),
      f("r_name", StringType))), Regions.indices.map(i => Row(i, Regions(i))))
    val nation = Table("nation", StructType(Seq(f("n_nationkey", IntegerType),
      f("n_name", StringType), f("n_regionkey", IntegerType))),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    val customer = Table("customer", StructType(Seq(f("c_custkey", LongType),
      f("c_name", StringType), f("c_nationkey", IntegerType),
      f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
      (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25),
        round2(-999.99 + r.nextDouble() * 10999.98),
        pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")))))
    val supplier = Table("supplier", StructType(Seq(f("s_suppkey", LongType),
      f("s_name", StringType), f("s_nationkey", IntegerType),
      f("s_acctbal", DoubleType))),
      (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25),
        round2(-999.99 + r.nextDouble() * 10999.98))))
    val adj = Seq("blue", "cold", "hot", "large", "new", "old", "red", "small")
    val noun = Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
    val part = Table("part", StructType(Seq(f("p_partkey", LongType),
      f("p_name", StringType), f("p_brand", StringType), f("p_type", StringType),
      f("p_size", IntegerType), f("p_retailprice", DoubleType))),
      (0 until nPart).map(i => Row(i.toLong, s"${pick(adj)} ${pick(noun)}",
        s"Brand#${1 + r.nextInt(25)}",
        pick(Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")),
        1 + r.nextInt(50), round2(900 + (i % 1000) * 0.1))))
    val orders = Table("orders", StructType(Seq(f("o_orderkey", LongType),
      f("o_custkey", LongType), f("o_orderstatus", StringType),
      f("o_totalprice", DoubleType), f("o_orderdate", TimestampNTZType),
      f("o_orderpriority", StringType))),
      (0 until nOrd).map(i => Row(i.toLong, r.nextInt(nCust).toLong,
        pick(Seq("F", "O", "P")), round2(1000 + r.nextDouble() * 499000),
        day0.plusDays(r.nextInt(2404)),
        pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")))))
    val lineitem = Table("lineitem", StructType(Seq(f("l_orderkey", LongType),
      f("l_partkey", LongType), f("l_suppkey", LongType),
      f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
      f("l_extendedprice", DoubleType), f("l_discount", DoubleType),
      f("l_tax", DoubleType), f("l_returnflag", StringType),
      f("l_linestatus", StringType), f("l_shipdate", TimestampNTZType))),
      (0 until nLine).map { _ =>
        val q = 1 + r.nextInt(50)
        Row(r.nextInt(nOrd).toLong, r.nextInt(nPart).toLong,
          r.nextInt(nSupp).toLong, 1 + r.nextInt(7), q.toDouble,
          round2(q * (900 + r.nextDouble() * 1200)), r.nextInt(11) / 100.0,
          r.nextInt(9) / 100.0, pick(Seq("A", "N", "R")), pick(Seq("F", "O")),
          day0.plusDays(1 + r.nextInt(2498)))
      })
    val ev0 = LocalDateTime.of(2024, 1, 1, 0, 0)
    val evTypes = Seq("click", "error", "purchase", "signup", "view")
    val events = Table("events", StructType(Seq(f("event_id", LongType),
      f("ts", TimestampNTZType), f("user_id", LongType),
      f("event_type", StringType), f("value", DoubleType),
      f("props", StringType))),
      (0 until nEv).map { i =>
        val us = (i.toLong * 2592000000000L / nEv) + r.nextInt(200000000)
        Row(i.toLong, ev0.plusNanos(us * 1000), r.nextInt(nUsers).toLong,
          pick(evTypes), math.max(0.01, round2(-50 * math.log(1 - r.nextDouble()))),
          s"""{"k": ${r.nextInt(100)}}""")
      })
    val texts = scala.collection.mutable.ArrayBuffer[String]()
    val documents = Table("documents", StructType(Seq(f("doc_id", LongType),
      f("text", StringType), f("lang", StringType), f("source", StringType),
      f("n_chars", LongType))),
      (0 until nDoc).map { i =>
        // one in ten documents is a near-copy of an earlier one, so the
        // dedup stages find clusters
        val t = if (texts.nonEmpty && r.nextInt(10) == 0)
          pick(texts.toSeq) + " dup"
        else Seq.fill(8 + r.nextInt(93))(pick(Words)).mkString(" ")
        texts += t
        val lang = if (r.nextInt(100) < 44) "en" else pick(Seq("de", "es", "fr", "zh"))
        Row(i.toLong, t, lang, s"src${r.nextInt(20)}", t.length.toLong)
      })
    val embeddings = Table("embeddings", StructType(Seq(f("vec_id", LongType),
      f("embedding", ArrayType(FloatType)), f("label", IntegerType))),
      (0 until nVec).map { i =>
        val v = Array.fill(64)(r.nextGaussian())
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, r.nextInt(10))
      })
    Seq(region, nation, customer, supplier, part, orders, lineitem, events,
      documents, embeddings)
  }

  /** Writes each table (or those in `only`) as one parquet file
    * `<dir>/<name>.parquet`. */
  def write(spark: SparkSession, seed: Long, dir: String,
      scale: Double = 1.0, only: Set[String] = Set.empty): Unit = {
    new java.io.File(dir).mkdirs()
    val ts = tables(seed, scale).filter(t => only.isEmpty || only(t.name))
    graft.etl.Writers.concurrently(spark, ts) { t =>
      val tmp = s"$dir/_tmp_${t.name}"
      spark.createDataFrame(t.rows.asJava, t.schema).coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        new java.io.File(dir, s"${t.name}.parquet").toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      Files.deleteTree(new java.io.File(tmp))
    }
  }
}

/** Small helpers over local files. */
object Files {
  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Files under `f` whose names end with `suffix`. */
  def count(f: java.io.File, suffix: String): Int =
    if (f.isDirectory)
      Option(f.listFiles()).toSeq.flatten.map(count(_, suffix)).sum
    else if (f.getName.endsWith(suffix)) 1
    else 0
}
