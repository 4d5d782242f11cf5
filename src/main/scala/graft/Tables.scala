package graft

import graft.operators.StageMemo
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Table access layer over the driver-generated parquet test tables
  * (TESTDATA.md): region nation customer supplier part orders lineitem
  * events documents embeddings.
  *
  * Design notes (100 TB mindset):
  *  - A declared catalog: [[Schemas]] holds every table's columns and
  *    types once, and each load reads with it (`spark.read.schema`), so
  *    no Spark job runs to infer a schema that never changes.
  *  - Input schema drift fails at load: the first load of a table in a
  *    (session, dir) reads the parquet footer of every data file on the
  *    driver and compares it with the declared schema by column name,
  *    order and type, ignoring nullability. A mismatch throws, naming
  *    the file, the column, the file's type and the declared type. A
  *    match is memoized in a [[StageMemo]], so later loads read no
  *    footer.
  *  - Timestamps are timezone-less microseconds (`timestamp_ntz`).
  *    `events.ts` is cast to the session-zone `timestamp` its queries
  *    use; the session is pinned to UTC, so the values are unchanged.
  *  - Every reader is a plain parquet scan so Catalyst predicate pushdown,
  *    column pruning and partition pruning all apply; callers `select`/
  *    `filter` and the plan shows `PushedFilters`/narrow `ReadSchema`.
  *  - Dimension tables (region/nation/supplier/part/customer at small SF)
  *    are the broadcast side of every join; see JoinOps.
  */
object Tables {

  private def cols(fs: (String, DataType)*): StructType =
    StructType(fs.map { case (n, t) => StructField(n, t) })

  /** The declared schema of each table, in file column order. */
  val Schemas: Map[String, StructType] = Map(
    "region" -> cols("r_regionkey" -> IntegerType, "r_name" -> StringType),
    "nation" -> cols("n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType),
    "customer" -> cols("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType),
    "supplier" -> cols("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
    "part" -> cols("p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType,
      "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
    "orders" -> cols("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType),
    "lineitem" -> cols("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampNTZType),
    "events" -> cols("event_id" -> LongType, "ts" -> TimestampNTZType,
      "user_id" -> LongType, "event_type" -> StringType,
      "value" -> DoubleType, "props" -> StringType),
    "documents" -> cols("doc_id" -> LongType, "text" -> StringType,
      "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
    "embeddings" -> cols("vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType), "label" -> IntegerType))

  /** The sessions [[configure]] has set up; weak keys, so a session
    * nothing else holds is collected. */
  private val configured = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[SparkSession, java.lang.Boolean])

  /** The session bootstrap, run once per session (every [[load]] calls
    * it, so a session is set up at its first load): installs the
    * engine's functions ([[graft.functions.Udfs.functions]]) and the
    * as-of planner strategy, adding only what the session lacks, and
    * sets the session settings below, which mirror the reference's
    * fixed-UTC date logic (ref docs/DEFINITIONS.md:23-26). Later calls
    * on the same session return at once, so a setting changed after
    * the first load stays. */
  def configure(spark: SparkSession): SparkSession = {
    configured.synchronized {
      if (configured.add(spark)) {
        graft.functions.Udfs.register(spark)
        val c = spark.conf
        c.set("spark.sql.session.timeZone", "UTC")
        c.set("spark.sql.adaptive.enabled", "true")
        c.set("spark.sql.parquet.aggregatePushdown", "true")
        // Wrapping 64-bit arithmetic for the hash families (MinHash
        // affine transforms, SimHash bit mixing) — ANSI overflow checking
        // would throw on intentional wraparound. Division-by-zero etc.
        // are guarded explicitly in the operators (see operators.dstd).
        c.set("spark.sql.ansi.enabled", "false")
      }
    }
    spark
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    configure(spark)
    val df = spark.read.schema(Schemas(name)).parquet(s"$dir/$name.parquet")
    validated(name)(spark, dir)
    if (name == "events") df.withColumn("ts", col("ts").cast("timestamp"))
    else df
  }

  /** One memo per table, so each table's footers are read on its first
    * load in a (session, dir). A mismatch throws out of the build, so
    * nothing is memoized and every later load throws again. */
  private val validated: Map[String, StageMemo[Unit]] = Schemas.map {
    case (name, declared) => name -> new StageMemo[Unit]((s, d) =>
      s.read.schema(declared).parquet(s"$d/$name.parquet").inputFiles
        .foreach(f => drift(footerSchema(s, f), declared)
          .foreach(m => throw new IllegalStateException(s"$f: $m"))))
  }

  /** The Spark schema of one parquet file's footer, converted under the
    * session's settings (the conversion a schema-inferring read does). */
  private def footerSchema(s: SparkSession, file: String): StructType = {
    val in = HadoopInputFile.fromPath(new Path(file),
      s.sessionState.newHadoopConf())
    val reader = ParquetFileReader.open(in)
    try new ParquetToSparkSchemaConverter(s.sessionState.conf)
      .convert(reader.getFooter.getFileMetaData.getSchema)
    finally reader.close()
  }

  /** The first column where `file` differs from `declared` by name,
    * position or type (nullability ignored), described; None if equal. */
  private def drift(file: StructType, declared: StructType): Option[String] = {
    def show(f: StructField) = s"`${f.name}` ${f.dataType.catalogString}"
    (0 until math.max(file.length, declared.length)).collectFirst {
      case i if i >= file.length =>
        s"declared column $i ${show(declared(i))} is missing"
      case i if i >= declared.length =>
        s"column $i ${show(file(i))} is not declared"
      case i if file(i).name != declared(i).name ||
          !GraftBridge.sameType(file(i).dataType, declared(i).dataType) =>
        s"column $i is ${show(file(i))}, declared ${show(declared(i))}"
    }
  }

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame = load(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
