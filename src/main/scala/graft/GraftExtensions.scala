package graft

import org.apache.spark.sql.SparkSessionExtensions
import graft.functions.Udfs
import graft.plans.AsOfStrategy

/** Cluster-installable entry point for everything this library injects
  * into Catalyst — set
  * `spark.sql.extensions=graft.GraftExtensions`
  * on any session (including Connect / Thrift / notebook deployments
  * where driver code can't call our helpers) and the engine surface is
  * present from the first query:
  *
  *  - the as-of join planner strategy (AsOfJoinPlan → sorted-merge
  *    AsOfJoinExec);
  *  - every function of [[graft.functions.Udfs.functions]], the one
  *    list of the engine's SQL functions (the fused vector kernels, the
  *    codegen'd SCALE and codec kernels, the sketch aggregate and the
  *    Scala UDFs).
  *
  * Without the extension, a session gets the same list from its first
  * [[Tables.load]] (or an explicit [[Tables.configure]]), which
  * installs it once per session. That install adds only what a session
  * lacks, so on a session built with this extension it writes nothing.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => AsOfStrategy)
    Udfs.functions.foreach(f => ext.injectFunction((f.id, f.info, f.builder)))
  }
}
