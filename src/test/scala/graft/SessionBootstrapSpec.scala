package graft

import graft.etl.Dump
import graft.functions.Udfs
import graft.model._
import graft.plans.AsOfStrategy
import graft.serve.Serve
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

/** The session bootstrap: a session gets the whole function list and
  * the as-of strategy at its first `Tables.load`, once. Later loads and
  * the operators that use the functions write nothing to the registry
  * and reset no setting. Each test takes a fresh `newSession()`, whose
  * registry holds only Spark's built-ins, and calls no `configure`. */
class SessionBootstrapSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val sf = SparkTestBase.sf
  private val alice =
    "d43593c715fdd31c61141abd04a99fd6822c8558854ccde39a5684e7a56da27d"

  private def builders(s: SparkSession): Seq[(String, AnyRef)] =
    Udfs.functions.map(f =>
      f.name -> s.sessionState.functionRegistry.lookupFunctionBuilder(f.id)
        .getOrElse(fail(s"${f.name} is not registered")))

  private def asOfStrategies(s: SparkSession): Int =
    s.sessionState.planner.strategies.count(_ == AsOfStrategy)

  test("builders stay the same objects across loads and Dump/Serve calls") {
    val s = spark.newSession()
    Tables.region(s, sf)
    val before = builders(s)
    (1 to 10).foreach(_ => Tables.nation(s, sf))
    import s.implicits._
    val raw = Seq(RawBlock(0, 100L, "0xb100", "0xb099",
      Timestamp.valueOf("2024-03-01 10:00:00"), 100, alice,
      finalized = true,
      extrinsics = Seq(RawExtrinsic(0, "0xe0", "balances", "transfer",
        """{"section":"balances","method":"transfer","args":{}}""",
        signed = true, alice, 0.1,
        Seq(RawEvent(0, "system", "ExtrinsicSuccess", "{}")),
        Seq(RawTransfer(alice, alice, "DOT", "0x2540be400", 10)))),
      logs = Nil)).toDF()
    assert(Dump.transfers(raw, "2024-03-01").count() == 1)
    assert(Serve.addressForms(s, alice).count() == 3)
    builders(s).zip(before).foreach { case ((name, after), (_, first)) =>
      assert(after eq first, s"$name was registered again")
    }
    assert(asOfStrategies(s) == 1)
  }

  test("a new session resolves every listed name after its first load") {
    val s = spark.newSession()
    Tables.region(s, sf)
    Udfs.functions.foreach(f =>
      assert(s.sessionState.functionRegistry.functionExists(f.id), f.name))
    val row = s.sql(
      s"""SELECT ss58_encode('$alice', 42) AS addr,
         |       to_base_unit('0x2540be400', 10) AS v,
         |       multisig_account(array('$alice'), 1) AS ms,
         |       compact_decode('0x04') AS c""".stripMargin).collect()(0)
    assert(row.getString(0).startsWith("5"))
    assert(row.getDouble(1) == 1.0)
    assert(row.getString(2).startsWith("0x"))
    assert(row.getDouble(3) == 1.0)
    assert(asOfStrategies(s) == 1)
  }

  test("a setting changed after the first load survives later loads") {
    val s = spark.newSession()
    Tables.region(s, sf)
    assert(s.conf.get("spark.sql.ansi.enabled") == "false")
    s.conf.set("spark.sql.ansi.enabled", "true")
    Tables.nation(s, sf)
    assert(s.conf.get("spark.sql.ansi.enabled") == "true")
  }
}
