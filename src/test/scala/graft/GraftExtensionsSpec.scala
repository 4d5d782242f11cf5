package graft

import graft.functions.Udfs
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The config-installable entry point: a session created with
  * `spark.sql.extensions=graft.GraftExtensions` has the native
  * functions and the as-of planner strategy from the first query,
  * with no library register call. */
class GraftExtensionsSpec extends AnyFunSuite {

  /** Runs `body` on a session built with the extension. */
  private def withExtensionSession(body: SparkSession => Unit): Unit = {
    SparkTestBase.spark // ensure the shared context exists first
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      // reuses the existing SparkContext. `spark.sql.extensions` is a
      // STATIC conf read off the SparkContext at creation, so on a
      // shared test context the builder's public withExtensions hook
      // exercises the same entry-point class the conf would load.
      body(SparkSession.builder()
        .withExtensions(ext => new GraftExtensions().apply(ext))
        .getOrCreate())
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  test("extensions inject functions and the as-of strategy") {
    withExtensionSession { s2 =>
      assert(s2.sql("SELECT compact_decode('0x04') AS v")
        .collect()(0).getDouble(0) == 1.0)
      assert(s2.sql(
        """SELECT cosine_sim(CAST(array(3.0, 4.0) AS ARRAY<FLOAT>),
          |                  CAST(array(3.0, 4.0) AS ARRAY<FLOAT>)) AS c"""
          .stripMargin).collect()(0).getDouble(0) == 1.0)
      assert(s2.sql(
        """SELECT dot_product(CAST(array(2.0, 3.0) AS ARRAY<FLOAT>),
          |                   CAST(array(4.0, 5.0) AS ARRAY<FLOAT>)) AS d"""
          .stripMargin).collect()(0).getDouble(0) == 23.0)
      assert(s2.sql(
        """SELECT bottom_k_hv(h, v, 2) AS sk FROM VALUES
          | (CAST(9 AS BIGINT), 1.0), (CAST(2 AS BIGINT), 3.0),
          | (CAST(7 AS BIGINT), 0.5) AS t(h, v)""".stripMargin)
        .selectExpr("transform(sk, x -> x.h) AS hs")
        .collect()(0).getSeq[Long](0) == Seq(2L, 7L))
      assert(s2.sessionState.planner.strategies
        .contains(graft.plans.AsOfStrategy),
        "as-of strategy not injected")
    }
  }

  test("the extension-built session resolves every function of the list") {
    withExtensionSession { s2 =>
      Udfs.functions.foreach(f =>
        assert(s2.sessionState.functionRegistry.functionExists(f.id), f.name))
      val alice =
        "d43593c715fdd31c61141abd04a99fd6822c8558854ccde39a5684e7a56da27d"
      val row = s2.sql(
        s"""SELECT ss58_encode('$alice', 42) AS addr,
           |       to_base_unit('0x2540be400', 10) AS v,
           |       multisig_account(array('$alice'), 1) AS ms"""
          .stripMargin).collect()(0)
      assert(row.getString(0).startsWith("5"))
      assert(row.getDouble(1) == 1.0)
      assert(row.getString(2).startsWith("0x"))
    }
  }

  test("Tables.configure on an extension-built session replaces nothing") {
    withExtensionSession { s2 =>
      val reg = s2.sessionState.functionRegistry
      val before = Udfs.functions.map(f => reg.lookupFunctionBuilder(f.id))
      Tables.configure(s2)
      Udfs.functions.zip(before).foreach { case (f, b) =>
        assert(reg.lookupFunctionBuilder(f.id).get eq b.get,
          s"${f.name} was registered again")
      }
      assert(s2.experimental.extraStrategies.isEmpty,
        "the injected as-of strategy was added a second time")
    }
  }
}
