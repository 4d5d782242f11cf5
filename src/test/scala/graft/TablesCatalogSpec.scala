package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

/** The declared-schema table catalog: the declared schemas match the
  * committed test data, a drifted input fails at `Tables.load` (not at
  * the first action), a load in a session whose footers are checked
  * starts no Spark job, and a `<name>.parquet` directory of part files
  * (the layout `X10Gen` writes) validates like a single file. */
class TablesCatalogSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val Names = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("the declared catalog equals the footers of all ten tables at " +
      "every committed scale") {
    val root = new java.io.File(SparkTestBase.sf).getParent
    val scales = Seq("sf0.001", "sf0.01", "sf0.1").map(s"$root/" + _)
      .filter(d => new java.io.File(d).isDirectory)
    assert(scales.nonEmpty, "no committed scale directory found")
    assert(Tables.Schemas.keySet == Names.toSet)
    for (d <- scales; t <- Names) {
      // Spark's own footer inference, independent of the catalog's check
      val inferred = spark.read.parquet(s"$d/$t.parquet").schema
      assert(inferred == Tables.Schemas(t), s"$d/$t.parquet")
      val loaded = Tables.load(spark, d, t).schema
      val want = if (t != "events") inferred else StructType(inferred.map(f =>
        if (f.name == "ts") f.copy(dataType = TimestampType) else f))
      assert(loaded == want, s"$d/$t.parquet as loaded")
    }
  }

  test("a drifted table throws at load, naming the file, the column and " +
      "both types") {
    val d = tmpDir("tables_drift")
    val src = SparkTestBase.sf
    spark.read.parquet(s"$src/nation.parquet")
      .withColumnRenamed("n_name", "n_title")
      .coalesce(1).write.parquet(s"$d/nation.parquet")
    spark.read.parquet(s"$src/region.parquet")
      .withColumn("r_regionkey", col("r_regionkey").cast("bigint"))
      .coalesce(1).write.parquet(s"$d/region.parquet")

    val renamed = intercept[IllegalStateException](Tables.nation(spark, d))
    assert(renamed.getMessage.contains("nation.parquet"), renamed.getMessage)
    assert(renamed.getMessage.contains(
      "column 1 is `n_title` string, declared `n_name` string"),
      renamed.getMessage)

    val widened = intercept[IllegalStateException](Tables.region(spark, d))
    assert(widened.getMessage.contains("region.parquet"), widened.getMessage)
    assert(widened.getMessage.contains(
      "column 0 is `r_regionkey` bigint, declared `r_regionkey` int"),
      widened.getMessage)
    // a failed check memoizes nothing: the next load throws again
    intercept[IllegalStateException](Tables.region(spark, d))
  }

  test("a load after the first in a session starts zero Spark jobs") {
    val s = Tables.configure(spark.newSession())
    val d = SparkTestBase.sf
    // the first loads read the footers on the driver: no job either
    assert(SparkTestBase.jobsDuring(s)(Names.foreach(Tables.load(s, d, _))) == 0)
    assert(SparkTestBase.jobsDuring(s)(Names.foreach(Tables.load(s, d, _))) == 0)
  }

  test("a <name>.parquet directory of part files validates, and a drifted " +
      "part in it throws") {
    val d = tmpDir("tables_parts")
    val nation = spark.read.parquet(s"${SparkTestBase.sf}/nation.parquet")
    nation.repartition(3).write.parquet(s"$d/nation.parquet")
    assert(new java.io.File(s"$d/nation.parquet").isDirectory)
    assert(Tables.nation(spark, d).count() == nation.count())

    val e = tmpDir("tables_parts_drift")
    nation.repartition(2).write.parquet(s"$e/nation.parquet")
    nation.withColumn("n_regionkey", col("n_regionkey").cast("bigint"))
      .coalesce(1).write.mode("append").parquet(s"$e/nation.parquet")
    val drifted = intercept[IllegalStateException](Tables.nation(spark, e))
    assert(drifted.getMessage.contains(
      "column 2 is `n_regionkey` bigint, declared `n_regionkey` int"),
      drifted.getMessage)
  }
}
