package graft

/** Dev tool: print the formatted physical plan + cold/warm timings for
  * one query, on the bench's session ([[Bench.benchSession]]).
  * Usage: Explain <queryName> <sfDir> [cpus] */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val cpus = if (args.length > 2) args(2) else "16"
    val spark = Bench.benchSession(sfDir, cpus)
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.explain("formatted")
    var t0 = System.nanoTime()
    df.count()
    println(f"cold: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    t0 = System.nanoTime()
    SparkEntry.queries(name)(spark, sfDir).count()
    println(f"warm: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    spark.stop()
  }
}
