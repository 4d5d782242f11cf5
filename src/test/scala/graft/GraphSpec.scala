package graft

import graft.operators.{DedupOps, GraphOps}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** PageRank: hand-replayable golden graph + the structural invariants the
  * determinism contract promises (order-independence, dangling-mass
  * accounting).
  */
class GraphSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  /** Sequential reference replay of the SAME rounding contract:
    * contributions rounded to scale-12 decimals, summed exactly, finish
    * 0.15/N + 0.85·Σ, rounded at 12. */
  private def refRank(edges: Seq[(Long, Long)], iters: Int)
      : Map[Long, Double] = {
    import java.math.{BigDecimal => BD, RoundingMode}
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val n = nodes.size
    val outdeg = edges.groupBy(_._1).map { case (s, es) => s -> es.size }
    val base = new BD("0.15").doubleValue() / n
    var rank = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      val sums = collection.mutable.Map[Long, BD]()
      for ((s, d) <- edges) {
        // mirror the engine: round the quotient to 12 decimals first,
        // then the (now-midpoint-free) decimal cast
        val rq = BD.valueOf(rank(s) / outdeg(s))
          .setScale(12, RoundingMode.HALF_UP).doubleValue()
        val c = BD.valueOf(rq).setScale(12, RoundingMode.HALF_UP)
        sums(d) = sums.getOrElse(d, BD.ZERO).add(c)
      }
      rank = nodes.map { v =>
        val s = sums.getOrElse(v, BD.ZERO).doubleValue()
        v -> BD.valueOf(base + 0.85 * s)
          .setScale(12, RoundingMode.HALF_UP).doubleValue()
      }.toMap
    }
    rank
  }

  private def run(edges: Seq[(Long, Long)], iters: Int): Map[Long, Double] =
    GraphOps.pageRank(edges.toDF("src", "dst"), iters)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  test("matches the sequential reference on a cycle with a dangling sink") {
    // 1 -> 2 -> 3 -> 1 cycle, plus 1 -> 4 where 4 has no out-edges
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L))
    val got = run(edges, 8)
    val want = refRank(edges, 8)
    assert(got.keySet === want.keySet)
    for ((k, v) <- want) assert(got(k) === v, s"node $k")
    // the cycle members outrank the sink's feeder-only rank source: node 1
    // receives all of 3's mass, 4 only half of 1's
    assert(got(1L) > got(4L))
  }

  test("star graph: hub collects, leaves stay at base") {
    // 5 leaves all pointing at the hub; hub points back at leaf 1
    val leaves = (1L to 5L)
    val edges = leaves.map(l => (l, 100L)) :+ (100L, 1L)
    val got = run(edges, 8)
    val want = refRank(edges, 8)
    for ((k, v) <- want) assert(got(k) === v, s"node $k")
    assert(got(100L) > got(2L) * 3, "hub dominates a plain leaf")
    // leaves 2..5 are structurally identical -> identical ranks
    assert((2L to 5L).map(got).distinct.size === 1)
  }

  test("label propagation splits two cliques joined by one bridge") {
    // K4 on 1-4 and K4 on 11-14, bridged 4-11: connected components
    // would report ONE group; LPA's frequency vote keeps two (each
    // bridge endpoint has 3 in-clique neighbors vs 1 across)
    def k4(base: Long) = for {
      i <- 0L to 3L; j <- (i + 1) to 3L
    } yield (base + i, base + j)
    val edges = (k4(1) ++ k4(11) :+ ((4L, 11L))).toDF("src", "dst")
    val labels = GraphOps.labelPropagation(edges, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 4L).map(labels).toSet === Set(1L))
    assert((11L to 14L).map(labels).toSet === Set(11L))
  }

  test("label propagation is parallelism-independent") {
    val edges = (0 until 200).map(i =>
      ((i % 23).toLong, (23 + (i * 13 + 5) % 31).toLong))
    def run(parts: Int) = GraphOps.labelPropagation(
      edges.toDF("src", "dst").repartition(parts), 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(run(1) === run(9))
  }

  test("mass is conserved on a dangling-free graph") {
    // every node has an out-edge (i -> (i+1) mod 29 plus chords), so no
    // mass leaks: total rank stays 1 up to per-round rounding slack
    val edges = (0 until 29).flatMap(i => Seq(
      (i.toLong, ((i + 1) % 29).toLong),
      (i.toLong, ((i * 7 + 3) % 29).toLong))).distinct
      .filter { case (a, b) => a != b }
    val total = run(edges, 8).values.sum
    assert(math.abs(total - 1.0) < 1e-9, s"total mass $total")
  }

  test("triangle census: K4 plus a dangling edge, hand-computed") {
    // K4 on 1..4 (4 triangles, coeff 1.0 alone) plus edge 4-5:
    // degrees 3,3,3,4,1 -> wedges 3·C(3,2) + C(4,2) + 0 = 15,
    // coeff = 3·4/15 = 0.8. Edges fed in MIXED orientation + duplicated
    // to prove canonicalization.
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L), (1L, 4L), (3L, 2L),
      (2L, 4L), (3L, 4L), (5L, 4L)).toDF("src", "dst")
    val r = GraphOps.triangleCensus(edges).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)) ===
      ((5L, 15L, 4L, 0.8)))
  }

  test("triangle-free graph reports zero with a sane wedge count") {
    // a 4-cycle: 4 wedges, 0 triangles
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val r = GraphOps.triangleCensus(edges).collect().head
    assert((r.getLong(1), r.getLong(2), r.getDouble(3)) === ((4L, 0L, 0.0)))
  }

  test("ranks are parallelism-independent and bounded by total mass") {
    val edges = (0 until 300).map { i =>
      ((i % 17).toLong, ((i * 31 + 7) % 23).toLong)
    }.filter { case (s, d) => s != d }.distinct
    val one = GraphOps.pageRank(
      edges.toDF("src", "dst").repartition(1), 6)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val many = GraphOps.pageRank(
      edges.toDF("src", "dst").repartition(13), 6)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(one === many)
    val total = one.values.sum
    // dangling mass leaks each round (6 of 23 nodes are sinks), so the
    // total sits well below 1 — but never above it
    assert(total <= 1.0 + 1e-9 && total > 0.2)
  }

  test("pageRank and labelPropagation keep only their result's " +
      "checkpoint: edge and superseded round blocks are released") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L)).toDF("src", "dst")
    val sc = spark.sparkContext
    def holdsOnlyResult(run: => org.apache.spark.sql.DataFrame): Unit = {
      val before = sc.getPersistentRDDs.keySet
      val out = run
      val held = out.queryExecution.analyzed
        .collect { case r: LogicalRDD => r.rdd.id }.toSet
      assert((sc.getPersistentRDDs.keySet -- before) === held)
      assert(held.size === 1)
      DedupOps.releaseCheckpoint(out)
    }
    holdsOnlyResult(GraphOps.pageRank(edges, 3))
    holdsOnlyResult(GraphOps.labelPropagation(edges, rounds = 3))
  }
}
