package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph analytics over the account-interaction graph — the distributed
  * ITERATIVE tier next to `DedupOps.connectedComponents`. The reference
  * builds account-relation edges (proxy/multisig,
  * ref substrate/schema/polkaholic.sql:3736) and serves per-account
  * lookups; a fleet-scale corpus also wants global graph STRUCTURE —
  * influence ranking over the transfer graph (who do funds flow through).
  * PageRank is the canonical such computation and the canonical test of an
  * engine's iterative story:
  *
  *   rank := (1-d)/N + d * Σ_incoming rank(src)/outdeg(src)
  *
  * Each round is ONE equi-join (ranks ⋈ edges on src — co-partitioned at
  * scale when the edge list is bucketed by src, see etl/Layout) + ONE
  * dst-keyed aggregation (the per-round shuffle that defines distributed
  * PageRank). Lineage is flattened with `localCheckpoint` per round so K
  * rounds keep constant plan depth (the connected-components /
  * BPE-trainer pattern); each checkpoint is released once the next has
  * materialized, so a call leaves only its result's blocks cached.
  *
  * Determinism contract (the kmeans/LR/PCA trainer contract applied to a
  * graph loop): per-edge contributions are cast DECIMAL(38,12) BEFORE the
  * sum (exact, order-independent at any parallelism), the per-round finish
  * (1-d)/N + d·Σ is one fixed float64 expression, and the new rank is
  * rounded at scale 12 — so the DuckDB recursive-CTE replay of the same
  * rounds is bit-identical and `g2_pagerank` sits under the driver's hash
  * gate. The 0.15/0.85 constants render into the oracle SQL from the same
  * Scala values, so damping drift between engines is impossible.
  */
object GraphOps {

  /** Damping factor d and its complement — BOTH literal: computing
    * 1.0 - 0.85 in IEEE yields 0.15000000000000002, which is NOT the
    * double the SQL literal 0.15 parses to. */
  private val Damping = "0.85"
  private val Base = "0.15"
  private val Iters = 8

  /** Deterministic interaction graph from `events` (mirrored in the
    * oracle): src = user_id (0..149), dst = event_id % 200 (0..199),
    * self-loops dropped, deduplicated. ids 150..199 never appear as a
    * source, so the sink/dangling-node class is exercised alongside the
    * well-connected core. */
  private def edgeList(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("user_id").as("src"), (col("event_id") % 200).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()

  /** K PageRank rounds over any (src, dst) edge frame. Dangling mass is
    * dropped (the standard simplification; the oracle replays it
    * identically — ranks then sum to < 1 by the dangling share). */
  def pageRank(edges0: DataFrame, iters: Int = Iters): DataFrame = {
    val edges = edges0.localCheckpoint() // consumed every round
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct()
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    // outdeg is a per-round-INVARIANT edge property — attach it to the
    // edge list ONCE, outside the loop (round 18): the old loop paid
    // the ranks⋈deg join every round, i.e. K extra joins whose inputs
    // never change. One join per round (ranks ⋈ degreed edges) is the
    // irreducible PageRank shuffle.
    val edgesDeg = edges.join(deg, Seq("src")).localCheckpoint()
    // N rides along as a broadcast 1-row cross join — no driver collect
    val nRow = nodes.agg(count(lit(1)).as("nn"))
    var ranks = nodes.crossJoin(broadcast(nRow))
      .withColumn("rank", lit(1.0) / col("nn"))
      .localCheckpoint()
    for (_ <- 1 to iters) {
      val prev = ranks
      val contribs = ranks
        .join(edgesDeg, ranks("node") === edgesDeg("src"))
        // round BEFORE the decimal cast: a raw double→DECIMAL(38,12)
        // cast rounds HALF_UP in Spark but half-even in DuckDB, so an
        // exact dyadic midpoint quotient (rank/2^k) would diverge; both
        // engines' round() are half-away-from-zero, and the rounded
        // double then sits far from any scale-12 midpoint, making the
        // cast mode irrelevant
        .select(col("dst"),
          dec12(round(col("rank") / col("outdeg"), 12)).as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
      ranks = ranks.select(col("node"), col("nn"))
        .join(contribs.withColumnRenamed("dst", "node"), Seq("node"), "left")
        .withColumn("rank",
          round(expr(s"CAST($Base AS DOUBLE)") / col("nn") +
            expr(s"CAST($Damping AS DOUBLE)") *
              coalesce(col("s").cast("double"), lit(0.0)), 12))
        .select(col("node"), col("nn"), col("rank"))
        // per-round checkpoint, deliberately: ranks is consumed TWICE
        // next round (contribution join + carry-through), so skipping
        // rounds recomputes the un-checkpointed chain twice — measured
        // SLOWER (3.9 s vs 2.9 s at sf0.1) than eager materialization
        .localCheckpoint()
      DedupOps.releaseCheckpoint(prev)
    }
    Seq(edges, edgesDeg).foreach(DedupOps.releaseCheckpoint)
    ranks.select(col("node"), col("rank"))
  }

  // G2 — PageRank over the derived interaction graph: every node with its
  // converged-enough rank after `Iters` rounds.
  private def g2(s: SparkSession, d: String): DataFrame =
    pageRank(edgeList(s, d))
      .select(col("node"), round(col("rank"), 6).as("rank"))
      .orderBy(col("node"))

  private val g2Sql =
    s"""WITH RECURSIVE
       |ed AS MATERIALIZED (SELECT DISTINCT user_id AS src,
       |   event_id % 200 AS dst
       |  FROM events WHERE user_id <> event_id % 200),
       |nodes AS MATERIALIZED (SELECT DISTINCT node FROM (
       |  SELECT src AS node FROM ed UNION ALL SELECT dst FROM ed)),
       |deg AS MATERIALIZED (SELECT src, count(*) AS outdeg
       |  FROM ed GROUP BY 1),
       |nn AS MATERIALIZED (SELECT count(*) AS n FROM nodes),
       |pr(it, node, rank) AS (
       |  SELECT 1, node, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn)
       |  FROM nodes
       |  UNION ALL
       |  SELECT it + 1, p.node,
       |    round(CAST($Base AS DOUBLE) / (SELECT n FROM nn) +
       |      CAST($Damping AS DOUBLE) *
       |      CAST(coalesce(c.s, CAST(0 AS DECIMAL(38,12))) AS DOUBLE), 12)
       |  FROM pr p LEFT JOIN (
       |    SELECT e.dst,
       |      sum(CAST(round(p2.rank / d.outdeg, 12) AS DECIMAL(38,12)))
       |      AS s
       |    FROM pr p2 JOIN ed e ON e.src = p2.node
       |    JOIN deg d ON d.src = p2.node
       |    GROUP BY 1) c ON c.dst = p.node
       |  WHERE p.it <= $Iters)
       |SELECT node, round(rank, 6) AS rank FROM pr
       |WHERE it = ${Iters + 1} ORDER BY node""".stripMargin

  // G3 — triangle census + global clustering coefficient over the same
  // interaction graph, undirected. The standard distributed shape: edges
  // canonicalized u < v, then wedges = E ⋈ E on the shared endpoint with
  // a < b < c (each triangle produced exactly once), closed by a third
  // equi-join back to E — two hash joins, no node ever enumerates its
  // full neighborhood in one task. (At production skew, orient edges
  // low-degree → high-degree first — Cohen's trick — so hub fan-out is
  // bounded; id-ordering suffices at this degree distribution and keeps
  // the oracle twin 1:1.) Wedge count comes from degrees (Σ d·(d−1)/2),
  // coefficient = 3·triangles / wedges.
  private def g3(s: SparkSession, d: String): DataFrame =
    triangleCensus(edgeList(s, d))

  /** Triangle census over any (src, dst) edge frame, undirected. */
  def triangleCensus(edges: DataFrame): DataFrame = {
    val und = edges
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .distinct()
      .localCheckpoint() // consumed three times below
    val wedges = und.as("e1").join(und.as("e2"),
        col("e1.v") === col("e2.u"))
      .select(col("e1.u").as("a"), col("e1.v").as("b"), col("e2.v").as("c"))
    val triangles = wedges.join(und,
        wedges("a") === und("u") && wedges("c") === und("v"))
      .agg(count(lit(1)).as("n_triangles"))
    val deg = und.select(col("u").as("n")).union(und.select(col("v")))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))
      // integer `div`: d·(d−1) is always even, and a float-division sum
      // loses exactness (and order-independence) past 2^53 wedges —
      // which one 1e8-degree hub alone would exceed
      .agg(sum(expr("(deg * (deg - 1)) div 2")).as("n_wedges"),
        count(lit(1)).as("n_nodes"))
    triangles.crossJoin(deg)
      .select(col("n_nodes"), col("n_wedges"), col("n_triangles"),
        round(lit(3.0) * col("n_triangles") / col("n_wedges"), 6)
          .as("clustering_coeff"))
  }

  private val g3Sql =
    """WITH ed AS MATERIALIZED (SELECT DISTINCT user_id AS src,
      |   event_id % 200 AS dst
      |  FROM events WHERE user_id <> event_id % 200),
      |und AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS u,
      |   greatest(src, dst) AS v FROM ed),
      |tri AS (SELECT count(*) AS n_triangles
      |  FROM und e1 JOIN und e2 ON e1.v = e2.u
      |  JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v),
      |dg AS (SELECT CAST(sum((deg * (deg - 1)) // 2) AS BIGINT)
      |   AS n_wedges, count(*) AS n_nodes
      |  FROM (SELECT n, count(*) AS deg FROM (
      |    SELECT u AS n FROM und UNION ALL SELECT v FROM und)
      |   GROUP BY 1))
      |SELECT n_nodes, n_wedges, n_triangles,
      | round(CAST(3.0 AS DOUBLE) * n_triangles / n_wedges, 6)
      |   AS clustering_coeff
      |FROM tri, dg""".stripMargin

  // G4 — label-propagation community detection: K synchronous rounds of
  // "adopt the most frequent label among my neighbors and me", ties to
  // the smallest label — deterministic by construction (no random visit
  // order), so DuckDB replays the rounds exactly. Communities differ
  // from g2/g5-style connected components: LPA splits a connected graph
  // along dense regions. Per round: one join (labels onto edges) + one
  // (node, label) count + one argmax — the same shuffle budget as a
  // PageRank round; localCheckpoint keeps plan depth constant.
  private val LpaRounds = 4

  /** K LPA rounds over any (src, dst) edge frame (symmetrized here). */
  def labelPropagation(edges0: DataFrame, rounds: Int = LpaRounds)
      : DataFrame = {
    val und = edges0.select(col("src"), col("dst"))
      .union(edges0.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .localCheckpoint()
    var labels = und.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
      .localCheckpoint()
    for (_ <- 1 to rounds) {
      val prev = labels
      val votes = und
        .join(labels, und("src") === labels("node"))
        .select(col("dst").as("node"), col("label"))
        .union(labels.select(col("node"), col("label"))) // self-vote
        .groupBy(col("node"), col("label"))
        .agg(count(lit(1)).as("cnt"))
      labels = votes
        .groupBy(col("node"))
        .agg(max(struct(col("cnt"), (-col("label")).as("neg"))).as("top"))
        .select(col("node"), (-col("top.neg")).as("label"))
        .localCheckpoint()
      DedupOps.releaseCheckpoint(prev)
    }
    DedupOps.releaseCheckpoint(und)
    labels
  }

  /** g4's graph is MODULAR by construction (the dense g2 interaction
    * graph collapses to one community — uninformative): each user links
    * to their group's 12 hubs (group = user % 4, hubs 150 + g·12 + k),
    * with rare cross-group edges (event_id % 997 == 0) keeping the
    * graph CONNECTED — so the result demonstrates what LPA adds over
    * connected components: the frequency vote holds the four blocks
    * apart even though one component spans them all. */
  private def g4Edges(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("user_id"), col("event_id"))
    val base = ev.select(col("user_id").as("src"),
      (lit(150) + (col("user_id") % 4) * 12 + col("event_id") % 12)
        .as("dst"))
    val cross = ev.filter(col("event_id") % 997 === 0)
      .select(col("user_id").as("src"),
        (lit(150) + ((col("user_id") % 4 + 1) % 4) * 12 +
          col("event_id") % 12).as("dst"))
    base.union(cross)
  }

  private def g4(s: SparkSession, d: String): DataFrame =
    labelPropagation(g4Edges(s, d))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_nodes"), min(col("node")).as("min_node"))
      .orderBy(col("label"))

  private val g4Sql =
    s"""WITH RECURSIVE
       |ed AS MATERIALIZED (
       |  SELECT user_id AS src,
       |   150 + (user_id % 4) * 12 + event_id % 12 AS dst FROM events
       |  UNION ALL
       |  SELECT user_id,
       |   150 + ((user_id % 4 + 1) % 4) * 12 + event_id % 12 FROM events
       |  WHERE event_id % 997 = 0),
       |und AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
       |  SELECT src, dst FROM ed UNION ALL SELECT dst, src FROM ed)
       |  WHERE src <> dst),
       |lp(it, node, label) AS (
       |  SELECT 1, node, node FROM (SELECT DISTINCT src AS node FROM und)
       |  UNION ALL
       |  SELECT it + 1, node, label FROM (
       |    SELECT c.it, c.node, c.label,
       |      row_number() OVER (PARTITION BY c.node
       |        ORDER BY c.cnt DESC, c.label) AS rn
       |    FROM (
       |      SELECT v.it, v.node, v.label, count(*) AS cnt FROM (
       |        SELECT l2.it, u.dst AS node, l2.label FROM und u
       |        JOIN lp l2 ON u.src = l2.node
       |        UNION ALL SELECT it, node, label FROM lp) v
       |      GROUP BY 1, 2, 3) c)
       |  WHERE rn = 1 AND it <= $LpaRounds)
       |SELECT label, count(*) AS n_nodes, min(node) AS min_node
       |FROM lp WHERE it = ${LpaRounds + 1}
       |GROUP BY label ORDER BY label""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "g2_pagerank" -> (g2 _),
    "g3_triangles" -> (g3 _),
    "g4_label_prop" -> (g4 _),
  )

  val oracles: Map[String, String] = Map(
    "g2_pagerank" -> g2Sql,
    "g3_triangles" -> g3Sql,
    "g4_label_prop" -> g4Sql,
  )
}
