package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The pinned scalar kernel arithmetic shared by every tier — the
  * broadcast UDF, the driver k-means loop (the literal-expression tier
  * expresses the same contract in Catalyst `round`/`cosine_sim`). ONE
  * body so the tiers cannot silently diverge; Serializable so UDF
  * closures can reference it from executors. */
private[graft] object VectorKernel extends Serializable {
  /** HALF_UP to 6 decimals, NaN/Inf pass through. */
  def round6d(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      .toDouble

  /** Float64 index-order cosine accumulation. */
  def cosF(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    dot / math.sqrt(na * nb)
  }
}

/** Similarity search over the `embeddings` table (Array[Float] column):
  * brute-force cosine top-k as the exact baseline, IVF-style coarse
  * quantization as the scale path, per-label centroid statistics, and a
  * near-duplicate pair scan.
  *
  * Scale notes:
  *  - Brute force broadcasts the (tiny) query set against the big vector
  *    side — a map-side cross product + per-partition top-k
  *    (TakeOrderedAndProject via rank window on the bounded query
  *    cardinality), never a shuffle of the full similarity matrix.
  *  - The IVF path is the 100 TB design: assignment scores each row
  *    against a COLLECTED, inlined codebook entirely map-side (zero
  *    shuffle — `assignCells`), then search only within the probed
  *    cell — candidate sets shrink by ~|cells|×.
  *  - Pair kernels carry pre-computed squared norms out of the scan, so
  *    each candidate pair costs one fused dot product, not three.
  *  - Dot products run in double precision over the float arrays with a
  *    sequential left-to-right fold — bit-identical to the DuckDB oracle
  *    (`list_dot_product` over DOUBLE[]).
  */
object VectorOps {

  /** Sequential-fold dot product in double precision (codegen'd
    * higher-order functions, no UDF) — the compose-built-ins baseline;
    * kept for the bit-identity test against the fused expression. */
  def dotFold(a: String, b: String): Column =
    expr(s"aggregate(zip_with($a, $b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, z) -> acc + z)")

  def cosineFold(a: String, b: String): Column =
    dotFold(a, b) / sqrt(dotFold(a, a) * dotFold(b, b))

  /** Fused single-pass kernels (plans/VectorExpressions.scala) —
    * arithmetic-identical to the fold form, ~4× fewer array walks. */
  private def dot(a: String, b: String): Column =
    expr(s"dot_product($a, $b)")

  private def sqlDot(a: String, b: String): String =
    s"list_dot_product(CAST($a AS DOUBLE[]), CAST($b AS DOUBLE[]))"

  /** Pair cosine from PRE-COMPUTED squared norms: `dot_product` per pair
    * plus two scalar reads, instead of re-accumulating |a|² and |b|² on
    * every candidate. Arithmetic-identical to [[cosine]]: the norm column
    * is `dot_product(v, v)` — the same index-ordered float64 fold the
    * fused kernel runs — and the finish is the same `dot / sqrt(na·nb)`. */
  private def cosineWithNorms(a: String, b: String, na: String,
      nb: String): Column =
    expr(s"dot_product($a, $b)") / sqrt(col(na) * col(nb))

  private def sqlCosine(a: String, b: String): String =
    s"${sqlDot(a, b)} / sqrt(${sqlDot(a, a)} * ${sqlDot(b, b)})"

  /** Past this size the codebook stops being a plan literal: an inlined
    * `array(struct(...))` is re-serialized into EVERY task binary, so a
    * production 64k-cell × 128-dim codebook (~32 MB) would bloat each
    * task; a torrent-broadcast ships it to each executor exactly once. */
  private[graft] val CodebookLiteralMaxBytes: Long = 1L << 20

  /** Collect the bounded codebook (seed vectors = `vec_id < nCells`) to
    * the driver — the one justified `.collect()` in this file: a
    * codebook is a small trained artifact by construction. */
  private[graft] def collectCodebook(emb: DataFrame,
      nCells: Int): Array[(Long, Array[Float])] = {
    val seeds = emb.filter(col("vec_id") < nCells)
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    // array() of zero literals is NullType and breaks the transform
    // lambda's field access downstream — fail loudly instead
    require(seeds.nonEmpty,
      s"IVF codebook is empty (no vec_id < $nCells in the input)")
    seeds
  }

  private[graft] def codebookBytes(
      seeds: Array[(Long, Array[Float])]): Long =
    seeds.foldLeft(0L)((acc, s) => acc + 8L + 4L * s._2.length)

  /** Small codebooks inline as a literal `array<struct<cell, cv>>` so
    * assignment is a pure codegen'd map-side expression. */
  private def codebookLit(seeds: Array[(Long, Array[Float])]): Column =
    array(seeds.toIndexedSeq.map { case (cell, cv) =>
      struct(lit(cell).as("cell"), lit(cv).as("cv"))
    }: _*)

  /** Map-side IVF assignment: score the row's vector against every
    * codebook cell, keep the `probes` best — zero shuffle either way.
    * Codebooks ≤ `maxLiteralBytes` ride the codegen'd literal kernel;
    * larger ones ride a broadcast variable referenced from a UDF (one
    * copy per executor instead of one per task binary). Both paths share
    * the same arithmetic contract, pinned by VectorCodebookSpec. */
  private[graft] def assignCells(src: DataFrame, vecCol: String,
      seeds: Array[(Long, Array[Float])], probes: Int,
      maxLiteralBytes: Long = CodebookLiteralMaxBytes): DataFrame =
    if (codebookBytes(seeds) <= maxLiteralBytes)
      assignCellsLit(src, vecCol, codebookLit(seeds), probes)
    else assignCellsBroadcast(src, vecCol, seeds, probes)

  /** Literal kernel. The struct sort key (−sim, cell) reproduces the
    * previous window form's ordering (sim DESC, cell ASC) exactly,
    * including the rounded-sim tie-break AND the NaN placement: a
    * zero-norm vector's NaN cosine ranked FIRST under the window's DESC
    * sort (NaN compares largest in both Spark and DuckDB), so the
    * negated key maps NaN → −∞ via nanvl to keep that ordering; the
    * emitted `csim` stays the raw rounded cosine. No crossJoin, no
    * row_number shuffle. */
  private def assignCellsLit(src: DataFrame, vecCol: String, cb: Column,
      probes: Int): DataFrame =
    src.withColumn("cb", cb)
      .withColumn("cand", expr(
        s"slice(array_sort(transform(" +
          s"transform(cb, c -> named_struct(" +
          s"'s', round(cosine_sim($vecCol, c.cv), 6), 'cell', c.cell)), " +
          s"t -> named_struct(" +
          s"'negsim', nanvl(-t.s, CAST('-Infinity' AS DOUBLE)), " +
          s"'cell', t.cell, 'sim', t.s))), 1, $probes)"))
      .withColumn("cc", explode(col("cand")))
      .select(src.columns.toIndexedSeq.map(col) :+ col("cc.cell").as("cell")
        :+ col("cc.sim").as("csim"): _*)

  /** One scored (cell, sim) candidate from the broadcast kernel. */
  private[graft] case class CellSim(cell: Long, sim: Double)

  /** Broadcast kernel — arithmetic-identical twin of [[assignCellsLit]]:
    * float64 index-order accumulation (= `cosine_sim`), HALF_UP round to
    * 6 (= Spark `round` on DOUBLE, via BigDecimal.valueOf semantics),
    * ordering (NaN-first sim DESC, cell ASC), `slice 1..probes`.
    * Dimension-mismatched cells (null cosine in the literal path, which
    * array_sort orders last) are produced last here too, as NaN sims are
    * not — a mismatch only arises from corrupt codebooks, and both paths
    * keep such cells out of the top `probes` whenever any valid cell
    * exists. */
  private def assignCellsBroadcast(src: DataFrame, vecCol: String,
      seeds: Array[(Long, Array[Float])], probes: Int): DataFrame = {
    val bc = src.sparkSession.sparkContext.broadcast(seeds)
    def round6(x: Double): Double = VectorKernel.round6d(x)
    val assign = udf { (v: Seq[Float]) =>
      if (v == null) Array.empty[CellSim]
      else {
        val cells = bc.value
        val scored = new Array[(Double, Long, Double)](cells.length)
        var i = 0
        while (i < cells.length) {
          val (cell, cv) = cells(i)
          val sim =
            if (cv.length != v.length) Double.NaN // corrupt cell → last
            else {
              var dot = 0.0; var na = 0.0; var nb = 0.0; var j = 0
              while (j < cv.length) {
                val x = v(j).toDouble; val y = cv(j).toDouble
                dot += x * y; na += x * x; nb += y * y; j += 1
              }
              round6(dot / math.sqrt(na * nb))
            }
          val negsim =
            if (sim.isNaN && cells(i)._2.length == v.length)
              Double.NegativeInfinity // zero-norm NaN ranks first
            else if (sim.isNaN) Double.PositiveInfinity // corrupt: last
            else -sim
          scored(i) = (negsim, cell, sim)
          i += 1
        }
        scored.sortBy(t => (t._1, t._2)).take(probes)
          .map(t => CellSim(t._2, t._3))
      }
    }
    src.withColumn("cc", explode(assign(col(vecCol))))
      .select(src.columns.toIndexedSeq.map(col) :+ col("cc.cell").as("cell")
        :+ col("cc.sim").as("csim"): _*)
  }

  // V1 — brute-force cosine top-k: 5 nearest neighbors for each query
  // vector (vec_id < 10), ranked on the rounded similarity so ranking is
  // robust to last-bit drift. Each side carries its squared norm out of
  // the scan, so the pair kernel is one dot product.
  private def v1(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val q = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        dot("embedding", "embedding").as("qn"))
    val n = emb.select(col("vec_id").as("nid"), col("embedding").as("nv"),
        dot("embedding", "embedding").as("nn"))
      .repartition(s.sparkContext.defaultParallelism)
    val sims = n.crossJoin(broadcast(q))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        round(cosineWithNorms("qv", "nv", "qn", "nn"), 6).as("sim"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("nid"))
    sims.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("qid"), col("rn"), col("nid"), col("sim"))
      .orderBy(col("qid"), col("rn"))
  }

  private val v1Sql =
    s"""SELECT qid, rn, nid, sim FROM (
       | SELECT q.vec_id AS qid, n.vec_id AS nid,
       |  round(${sqlCosine("q.embedding", "n.embedding")}, 6) AS sim,
       |  row_number() OVER (PARTITION BY q.vec_id
       |    ORDER BY round(${sqlCosine("q.embedding", "n.embedding")}, 6) DESC,
       |      n.vec_id) AS rn
       | FROM embeddings q CROSS JOIN embeddings n
       | WHERE q.vec_id < 10 AND q.vec_id <> n.vec_id)
       |WHERE rn <= 5 ORDER BY qid, rn""".stripMargin

  // V2 — IVF-style coarse assignment: nearest of 8 "centroid" seed
  // vectors (vec_id < 8) for every vector; per-cell population + mean
  // similarity. The codebook is a collected literal; assignment is a
  // genuinely map-side expression (no crossJoin, no window shuffle) —
  // the only shuffle in the plan is the 8-group final aggregate.
  private def v2(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val cb = collectCodebook(emb, 8)
    assignCells(
      emb.select(col("vec_id"), col("embedding"))
        .repartition(s.sparkContext.defaultParallelism),
      "embedding", cb, probes = 1)
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vectors"),
        decOut(sum(dec12(col("csim")))).as("sum_sim"))
      .orderBy(col("cell"))
  }

  private val v2Sql =
    s"""SELECT cell, count(*) AS n_vectors,
       | ${sqlDecOut("sum(CAST(sim AS DECIMAL(38,12)))")} AS sum_sim
       |FROM (SELECT e.vec_id, s.vec_id AS cell,
       |  round(${sqlCosine("e.embedding", "s.embedding")}, 6) AS sim,
       |  row_number() OVER (PARTITION BY e.vec_id
       |    ORDER BY round(${sqlCosine("e.embedding", "s.embedding")}, 6) DESC,
       |      s.vec_id) AS rn
       | FROM embeddings e CROSS JOIN embeddings s WHERE s.vec_id < 8)
       |WHERE rn = 1 GROUP BY cell ORDER BY cell""".stripMargin

  // V3 — per-label centroid statistics: population, mean first component,
  // mean squared norm (all exact-decimal deterministic).
  private def v3(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("label"),
        expr("CAST(embedding[0] AS DOUBLE)").as("e0"),
        dot("embedding", "embedding").as("sq"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vectors"),
        round(sum(dec12(col("e0"))).cast("double") / count(lit(1)), 6)
          .as("avg_e0"),
        round(sum(dec12(col("sq"))).cast("double") / count(lit(1)), 6)
          .as("avg_sq_norm"))
      .orderBy(col("label"))

  private val v3Sql =
    s"""SELECT label, count(*) AS n_vectors,
       | round(CAST(sum(CAST(CAST(embedding[1] AS DOUBLE) AS DECIMAL(38,12))) AS DOUBLE)
       |   / count(*), 6) AS avg_e0,
       | round(CAST(sum(CAST(${sqlDot("embedding", "embedding")} AS DECIMAL(38,12))) AS DOUBLE)
       |   / count(*), 6) AS avg_sq_norm
       |FROM embeddings GROUP BY label ORDER BY label""".stripMargin

  // V4 — embedding-cosine near-duplicate pairs above a threshold among
  // first 500 vectors (the exact verify step an LSH/IVF blocker would
  // feed at scale).
  private def v4(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d).filter(col("vec_id") < 500)
    // Repartition the streamed side: the filtered block lands in one
    // parquet split, and a 1-partition cross join would run on a single
    // core; broadcast the other side (it's the candidate-block pattern —
    // at scale `b` is one LSH/IVF bucket, always broadcastable).
    val a = emb.select(col("vec_id").as("va"), col("embedding").as("ea"),
        dot("embedding", "embedding").as("na"))
      .repartition(s.sparkContext.defaultParallelism)
    val b = emb.select(col("vec_id").as("vb"), col("embedding").as("eb"),
      dot("embedding", "embedding").as("nb"))
    a.crossJoin(broadcast(b)).filter(col("va") < col("vb"))
      .select(col("va"), col("vb"),
        round(cosineWithNorms("ea", "eb", "na", "nb"), 6).as("sim"))
      .filter(col("sim") >= 0.45)
      .orderBy(col("va"), col("vb"))
  }

  private val v4Sql =
    s"""SELECT a.vec_id AS va, b.vec_id AS vb,
       | round(${sqlCosine("a.embedding", "b.embedding")}, 6) AS sim
       |FROM embeddings a CROSS JOIN embeddings b
       |WHERE a.vec_id < 500 AND b.vec_id < 500 AND a.vec_id < b.vec_id
       |  AND round(${sqlCosine("a.embedding", "b.embedding")}, 6) >= 0.45
       |ORDER BY va, vb""".stripMargin

  // V5 — IVF-blocked near-duplicate detection: the 100 TB path for v4.
  // Assign every vector to its nearest codebook cell (map-side broadcast,
  // as in v2), then search pairs only WITHIN a cell — candidate count
  // drops from N²/2 to Σ|cell|²/2. Exact-verify survivors above the
  // threshold (0.45 here: the synthetic vectors are near-orthogonal, max
  // pairwise cosine ≈ 0.51, so a production 0.9x threshold matches nothing).
  // (Boundary pairs straddling two cells are missed by design — the
  // recall/cost trade every IVF/LSH blocker makes; multi-probe raises
  // recall at scale.)
  /** Shared IVF blocker for v5/v6: assign each vector to its `probes`
    * nearest codebook cells (broadcast codebook, map-side), then scan
    * pairs only WITHIN a cell and exact-verify above the threshold.
    * One implementation parameterized by probe count so the
    * assignment tie-break / cap / threshold can never drift between
    * the single- and multi-probe variants. */
  private def ivfCellPairs(s: SparkSession, d: String,
      probes: Int): DataFrame = {
    val emb = Tables.embeddings(s, d).filter(col("vec_id") < 2000)
    val cb = collectCodebook(emb, 8)
    // map-side assignment (re-running it for both join sides is cheaper
    // than materializing: it's a scan + |codebook| fused kernels per row,
    // no shuffle); each row carries its squared norm into the pair join
    // so the per-candidate kernel is ONE dot product.
    val assigned = assignCells(
      emb.select(col("vec_id"), col("embedding"))
        .repartition(s.sparkContext.defaultParallelism),
      "embedding", cb, probes)
      .select(col("vec_id"), col("embedding"), col("cell"),
        dot("embedding", "embedding").as("nrm"))
    val a = assigned.select(col("cell"), col("vec_id").as("va"),
      col("embedding").as("ea"), col("nrm").as("na"))
    val b = assigned.select(col("cell"), col("vec_id").as("vb"),
      col("embedding").as("eb"), col("nrm").as("nb"))
    a.join(b, Seq("cell")).filter(col("va") < col("vb"))
      .select(col("cell"), col("va"), col("vb"),
        round(cosineWithNorms("ea", "eb", "na", "nb"), 6).as("sim"))
      .filter(col("sim") >= 0.45)
  }

  /** Oracle twin of the `assigned` stage of [[ivfCellPairs]]. */
  private def sqlAssignedCte(probes: Int): String =
    s"""assigned AS (
       | SELECT vec_id, embedding, cell FROM (
       |  SELECT e.vec_id, e.embedding, s.vec_id AS cell,
       |   row_number() OVER (PARTITION BY e.vec_id
       |    ORDER BY round(${sqlCosine("e.embedding", "s.embedding")}, 6) DESC,
       |     s.vec_id) AS rn
       |  FROM embeddings e CROSS JOIN embeddings s
       |  WHERE e.vec_id < 2000 AND s.vec_id < 8)
       | WHERE rn <= $probes)""".stripMargin

  private def v5(s: SparkSession, d: String): DataFrame =
    ivfCellPairs(s, d, probes = 1)
      .orderBy(col("va"), col("vb"))

  private val v5Sql =
    s"""WITH ${sqlAssignedCte(1)}
       |SELECT a.cell, a.vec_id AS va, b.vec_id AS vb,
       | round(${sqlCosine("a.embedding", "b.embedding")}, 6) AS sim
       |FROM assigned a JOIN assigned b
       | ON a.cell = b.cell AND a.vec_id < b.vec_id
       |WHERE round(${sqlCosine("a.embedding", "b.embedding")}, 6) >= 0.45
       |ORDER BY va, vb""".stripMargin

  // V6 — multi-probe IVF near-dup: assign each vector to its TWO
  // nearest cells (v5's single-probe misses boundary pairs by design;
  // probing 2 cells recovers pairs that straddle a cell boundary at
  // ~2× candidate cost — the standard IVF recall/cost dial). Pairs
  // found in both shared cells are deduplicated before the exact
  // verify.
  private def v6(s: SparkSession, d: String): DataFrame =
    ivfCellPairs(s, d, probes = 2)
      .drop("cell")
      .dropDuplicates("va", "vb") // same pair via both shared cells
      .orderBy(col("va"), col("vb"))

  private val v6Sql =
    s"""WITH ${sqlAssignedCte(2)}
       |SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb,
       | round(${sqlCosine("a.embedding", "b.embedding")}, 6) AS sim
       |FROM assigned a JOIN assigned b
       | ON a.cell = b.cell AND a.vec_id < b.vec_id
       |WHERE round(${sqlCosine("a.embedding", "b.embedding")}, 6) >= 0.45
       |ORDER BY va, vb""".stripMargin

  // V7 — IVF top-k SEARCH (the ANN serving path, complementing the
  // dedup-flavored pair scans): every indexed vector sits in its ONE
  // nearest cell; each query probes its TWO nearest cells and ranks
  // only those candidates. At 100 TB the probed cells are the only
  // partitions read. Recall vs the exact v1 top-k is pinned by
  // VectorRecallSpec.
  private def v7(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d).filter(col("vec_id") < 2000)
    val cb = collectCodebook(emb, 8)
    val index = assignCells(
      emb.select(col("vec_id").as("nid"), col("embedding").as("nv"),
          dot("embedding", "embedding").as("nn"))
        .repartition(s.sparkContext.defaultParallelism),
      "nv", cb, probes = 1)
      .select(col("cell"), col("nid"), col("nv"), col("nn"))
    val queriesV = assignCells(
      emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          dot("embedding", "embedding").as("qn")),
      "qv", cb, probes = 2)
      .select(col("cell"), col("qid"), col("qv"), col("qn"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("nid"))
    queriesV.join(index, Seq("cell"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        round(cosineWithNorms("qv", "nv", "qn", "nn"), 6).as("sim"))
      .dropDuplicates("qid", "nid") // candidate seen via both probes
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("qid"), col("rn"), col("nid"), col("sim"))
      .orderBy(col("qid"), col("rn"))
  }

  private val v7Sql =
    s"""WITH index_cells AS (
       | SELECT vec_id AS nid, embedding AS nv, cell FROM (
       |  SELECT e.vec_id, e.embedding, s.vec_id AS cell,
       |   row_number() OVER (PARTITION BY e.vec_id
       |    ORDER BY round(${sqlCosine("e.embedding", "s.embedding")}, 6) DESC,
       |     s.vec_id) AS rn
       |  FROM embeddings e CROSS JOIN embeddings s
       |  WHERE e.vec_id < 2000 AND s.vec_id < 8)
       | WHERE rn = 1),
       |query_cells AS (
       | SELECT vec_id AS qid, embedding AS qv, cell FROM (
       |  SELECT e.vec_id, e.embedding, s.vec_id AS cell,
       |   row_number() OVER (PARTITION BY e.vec_id
       |    ORDER BY round(${sqlCosine("e.embedding", "s.embedding")}, 6) DESC,
       |     s.vec_id) AS rn
       |  FROM embeddings e CROSS JOIN embeddings s
       |  WHERE e.vec_id < 10 AND s.vec_id < 8)
       | WHERE rn <= 2)
       |SELECT qid, rn, nid, sim FROM (
       | SELECT qid, nid, sim, row_number() OVER (
       |   PARTITION BY qid ORDER BY sim DESC, nid) AS rn
       | FROM (SELECT DISTINCT q.qid, i.nid,
       |    round(${sqlCosine("q.qv", "i.nv")}, 6) AS sim
       |   FROM query_cells q JOIN index_cells i ON q.cell = i.cell
       |   WHERE q.qid <> i.nid))
       |WHERE rn <= 5 ORDER BY qid, rn""".stripMargin

  // V8 — random-hyperplane (signed-random-projection) LSH: the
  // LSH-bucketed alternative to IVF blocking for embedding near-dup.
  // Each vector gets an nPlanes-bit signature (sign of the projection
  // onto fixed Gaussian hyperplanes); signatures split into bands and
  // pairs are generated ONLY inside a (band, bucket) equi-join — the
  // same band/bucket shape as d3's MinHash, but for cosine geometry:
  // P[bit match] = 1 − θ/π. Survivors are exact-cosine verified, so
  // precision is 1.0 by construction; recall is the banding curve
  // (HyperplaneLshSpec pins ≥0.9 on planted near-dups). At scale the
  // hyperplane matrix is a literal (nPlanes×dim doubles — 16×64 here,
  // ~8 KB; a production 256×1024 is ~2 MB, still broadcast-class), the
  // signature is one map-side pass, and the only shuffle is the bucket
  // equi-join — candidate volume is Σ|bucket|² over REAL buckets, never
  // N².
  /** Deterministic Rademacher (±1) hyperplanes from one fixed LCG in
    * row-major order — a valid signed-random-projection family (entries
    * mean-zero symmetric), chosen over Gaussian planes in round 9 so the
    * DuckDB oracle can render the SAME plane literals and replay every
    * signature bit: with ±1 entries the projection is the identical
    * index-ordered float64 fold both engines already agree on for
    * `dot_product`/`list_dot_product` (the v1/v4/v5 hash-gate precedent). */
  private[graft] def srpPlanes(nPlanes: Int,
      dim: Int): IndexedSeq[IndexedSeq[Double]] = {
    var x = 0x106689D45497242DL
    def next(): Long = {
      x = x * 6364136223846793005L + 1442695040888963407L
      x >>> 33
    }
    IndexedSeq.fill(nPlanes)(IndexedSeq.fill(dim)(
      if ((next() & 1L) == 1L) 1.0 else -1.0))
  }

  def hyperplaneLshPairs(vectors: DataFrame, idCol: String, vecCol: String,
      dim: Int, nPlanes: Int = 16, bandBits: Int = 4,
      threshold: Double = 0.45): DataFrame = {
    require(nPlanes % bandBits == 0, "bands must tile the signature")
    val nBands = nPlanes / bandBits
    val planes: Seq[Seq[Double]] = srpPlanes(nPlanes, dim)
    val sigd = vectors
      .select(col(idCol).as("vid"), col(vecCol).as("v"),
        expr(s"dot_product($vecCol, $vecCol)").as("nrm"))
      // Fail loudly on a dim mismatch: zip_with would null-pad a short
      // vector, fold every affected signature bit to 0 and silently
      // collapse recall. The guard is folded INTO `v` (not a separate
      // assert column) so column pruning cannot elide it.
      .withColumn("v", expr(
        s"CASE WHEN size(v) = $dim THEN v ELSE raise_error(concat(" +
          s"'hyperplaneLshPairs: vector length ', CAST(size(v) AS STRING), " +
          s"' != configured dim $dim for id ', CAST(vid AS STRING))) END"))
      .withColumn("pl", typedLit(planes))
      .withColumn("sig", expr(
        "transform(pl, p -> aggregate(zip_with(p, v, " +
          "(x, y) -> x * CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), " +
          "(a, z) -> a + z) >= CAST(0.0 AS DOUBLE))"))
      .withColumn("bk", explode(expr(
        s"transform(sequence(0, ${nBands - 1}), b -> struct(b AS band, " +
          s"aggregate(sequence(0, ${bandBits - 1}), 0, " +
          s"(acc, i) -> acc * 2 + IF(sig[b * $bandBits + i], 1, 0)) " +
          "AS bucket))")))
      .select(col("bk.band").as("band"), col("bk.bucket").as("bucket"),
        col("vid"), col("v"), col("nrm"))
    val a = sigd.select(col("band"), col("bucket"), col("vid").as("va"),
      col("v").as("ea"), col("nrm").as("na"))
    val b = sigd.select(col("band"), col("bucket"), col("vid").as("vb"),
      col("v").as("eb"), col("nrm").as("nb"))
    a.join(b, Seq("band", "bucket")).filter(col("va") < col("vb"))
      .dropDuplicates("va", "vb") // same pair via several bands
      .select(col("va"), col("vb"),
        round(cosineWithNorms("ea", "eb", "na", "nb"), 6).as("sim"))
      .filter(col("sim") >= threshold)
  }

  private def v8(s: SparkSession, d: String): DataFrame =
    hyperplaneLshPairs(
      Tables.embeddings(s, d)
        .repartition(s.sparkContext.defaultParallelism),
      "vec_id", "embedding", dim = 64)
      .orderBy(col("va"), col("vb"))

  /** Oracle twin of [[v8]]: the SAME ±1 planes render as literals, each
    * signature bit is `list_dot_product(plane, v) >= 0`, band buckets
    * rebuild with the identical MSB-first arithmetic, and survivors
    * verify with the shared exact-cosine form. Graduated from rows-only
    * in round 9. */
  private def v8Sql: String = {
    val planes = srpPlanes(16, 64)
    val sigExprs = planes.zipWithIndex.map { case (p, i) =>
      val arr = p.map(x => if (x > 0) "1" else "-1")
        .mkString("[", ",", "]")
      s"CASE WHEN list_dot_product(CAST($arr AS DOUBLE[]), " +
        s"CAST(embedding AS DOUBLE[])) >= 0 THEN 1 ELSE 0 END AS g$i"
    }.mkString(",\n   ")
    val bandSelects = (0 until 4).map { b =>
      s"SELECT vec_id, $b AS band, g${4 * b} * 8 + g${4 * b + 1} * 4 + " +
        s"g${4 * b + 2} * 2 + g${4 * b + 3} AS bucket FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""WITH sig AS (SELECT vec_id,
       |   $sigExprs
       |  FROM embeddings),
       |bands AS (
       |  $bandSelects),
       |cand AS (SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
       |  FROM bands a JOIN bands b ON a.band = b.band
       |   AND a.bucket = b.bucket
       |  WHERE a.vec_id < b.vec_id)
       |SELECT va, vb,
       | round(${sqlCosine("x.embedding", "y.embedding")}, 6) AS sim
       |FROM cand JOIN embeddings x ON x.vec_id = va
       |JOIN embeddings y ON y.vec_id = vb
       |WHERE round(${sqlCosine("x.embedding", "y.embedding")}, 6) >= 0.45
       |ORDER BY va, vb""".stripMargin
  }

  // V9 — semantic dedup END-TO-END at the embedding level: IVF-blocked
  // near-dup pairs (v5) → distributed connected components → per-cluster
  // stats. The same pipeline d5 runs on word-set pairs, here on cosine
  // geometry — IVF blocking bounds candidates, min-label + pointer
  // jumping clusters them in O(log diameter) rounds, and the DuckDB
  // oracle recomputes the closure with a recursive CTE so cluster
  // LABELS (not just counts) are verified cross-engine.
  private def v9(s: SparkSession, d: String): DataFrame = {
    val pairs = ivfCellPairs(s, d, probes = 1)
      .select(col("va"), col("vb"))
    DedupOps.connectedComponents(pairs, "va", "vb")
      .groupBy(col("label").as("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"),
        max(col("node")).as("max_vec"))
      .orderBy(col("cluster_id"))
  }

  private val v9Sql =
    s"""WITH RECURSIVE ${sqlAssignedCte(1)},
       |pairs AS (
       | SELECT a.vec_id AS va, b.vec_id AS vb
       | FROM assigned a JOIN assigned b
       |  ON a.cell = b.cell AND a.vec_id < b.vec_id
       | WHERE round(${sqlCosine("a.embedding", "b.embedding")}, 6) >= 0.45),
       |edges AS (
       | SELECT va AS a, vb AS b FROM pairs
       | UNION SELECT vb, va FROM pairs),
       |reach AS (
       | SELECT a, b FROM edges
       | UNION
       | SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       |labels AS (
       | SELECT a AS node, least(a, min(b)) AS label FROM reach GROUP BY a)
       |SELECT label AS cluster_id, count(*) AS cluster_size,
       | max(node) AS max_vec
       |FROM labels GROUP BY 1 ORDER BY cluster_id""".stripMargin

  // V14 — SemDeDup-style KEEP-LIST: the final artifact of semantic
  // dedup (Abbas et al. 2023 shape) — v9 reports the clusters, v14
  // ships the corpus that survives them: every non-canonical member of
  // a near-dup component (keep the min-vec_id representative) is
  // dropped, summarized per class label. The vector-space twin of d6's
  // document keep-list: IVF blocking bounds candidates, components
  // assign clusters, one anti-join filters — at 100 TB the anti-join
  // is the only full-corpus shuffle and the dropped set is the small
  // side.
  private def v14(s: SparkSession, d: String): DataFrame = {
    val pairs = ivfCellPairs(s, d, probes = 1)
      .select(col("va"), col("vb"))
    val dropped = DedupOps.connectedComponents(pairs, "va", "vb")
      .filter(col("node") =!= col("label"))
      .select(col("node").as("vec_id"))
    Tables.embeddings(s, d).filter(col("vec_id") < 2000)
      .join(dropped, Seq("vec_id"), "left_anti")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_kept"))
      .orderBy(col("label"))
  }

  private val v14Sql =
    s"""WITH RECURSIVE ${sqlAssignedCte(1)},
       |pairs AS (
       | SELECT a.vec_id AS va, b.vec_id AS vb
       | FROM assigned a JOIN assigned b
       |  ON a.cell = b.cell AND a.vec_id < b.vec_id
       | WHERE round(${sqlCosine("a.embedding", "b.embedding")}, 6) >= 0.45),
       |edges AS (
       | SELECT va AS a, vb AS b FROM pairs
       | UNION SELECT vb, va FROM pairs),
       |reach AS (
       | SELECT a, b FROM edges
       | UNION
       | SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       |clab AS (
       | SELECT a AS node, least(a, min(b)) AS label FROM reach GROUP BY a)
       |SELECT e.label, count(*) AS n_kept
       |FROM embeddings e
       |WHERE e.vec_id < 2000 AND e.vec_id NOT IN (
       |  SELECT node FROM clab WHERE node <> label)
       |GROUP BY 1 ORDER BY label""".stripMargin

  // V15 — embedding OUTLIER pruning (the prototypicality filter next
  // to v14's near-dup filter: SSL-prototype-style curation drops both
  // redundant points AND points far from any mode): each vector's
  // rounded cosine to its assigned IVF centroid feeds per-cell
  // mean/std, and vectors below mean − 2σ flag as outliers. The
  // moments accumulate in DECIMAL over the 6-dp-rounded sims (exact,
  // summation-order-independent — the money-sum contract applied to
  // similarities), and the finish (mean, σ, threshold) is one fixed
  // sequence of float64 ops both engines run identically. Map-side
  // assignment + one cell rollup + one broadcast-stats join back:
  // nothing shuffles twice.
  private def v15(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d).filter(col("vec_id") < 2000)
    val cb = collectCodebook(emb, 8)
    val assigned = assignCells(
      emb.select(col("vec_id"), col("embedding"))
        .repartition(s.sparkContext.defaultParallelism),
      "embedding", cb, probes = 1)
      .select(col("vec_id"), col("cell"), col("csim"))
    val cs = col("csim").cast("decimal(20,6)")
    val stats = assigned.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(cs).as("s1"), sum(cs * cs).as("s2"))
    val mean = col("s1").cast("double") / col("n_vecs")
    val msq = col("s2").cast("double") / col("n_vecs")
    val thresh = mean - lit(2.0) * sqrt(greatest(msq - mean * mean,
      lit(0.0)))
    assigned.join(broadcast(stats), Seq("cell"))
      .groupBy(col("cell"), col("n_vecs"), col("s1"), col("s2"))
      .agg(
        sum(when(col("csim") < thresh, 1L).otherwise(0L))
          .as("n_outliers"),
        min(col("csim")).as("min_sim"))
      .select(col("cell"), col("n_vecs"), col("n_outliers"),
        round(mean, 6).as("mean_sim"), col("min_sim"))
      .orderBy(col("cell"))
  }

  private val v15Sql = {
    val mean = "CAST(st.s1 AS DOUBLE) / st.n_vecs"
    val msq = "CAST(st.s2 AS DOUBLE) / st.n_vecs"
    val thresh =
      s"$mean - 2.0 * sqrt(greatest($msq - ($mean) * ($mean), 0.0))"
    s"""WITH assigned AS (
       | SELECT vec_id, cell, sim FROM (
       |  SELECT e.vec_id, s.vec_id AS cell,
       |   round(${sqlCosine("e.embedding", "s.embedding")}, 6) AS sim,
       |   row_number() OVER (PARTITION BY e.vec_id
       |    ORDER BY round(${sqlCosine("e.embedding", "s.embedding")}, 6) DESC,
       |     s.vec_id) AS rn
       |  FROM embeddings e CROSS JOIN embeddings s
       |  WHERE e.vec_id < 2000 AND s.vec_id < 8)
       | WHERE rn = 1),
       |st AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs,
       |  sum(CAST(sim AS DECIMAL(20,6))) AS s1,
       |  sum(CAST(sim AS DECIMAL(20,6)) * CAST(sim AS DECIMAL(20,6)))
       |   AS s2
       | FROM assigned GROUP BY 1)
       |SELECT a.cell, st.n_vecs,
       | ${sqlLsum(s"CASE WHEN a.sim < $thresh THEN 1 ELSE 0 END")}
       |  AS n_outliers,
       | round($mean, 6) AS mean_sim,
       | min(a.sim) AS min_sim
       |FROM assigned a JOIN st USING (cell)
       |GROUP BY a.cell, st.n_vecs, st.s1, st.s2
       |ORDER BY cell""".stripMargin
  }

  // V10 — product quantization + ADC search: the MEMORY-bounded ANN
  // tier (IVF bounds compute; PQ bounds storage — a 64-dim float
  // vector is 256 B, its PQ code is 4 B, a 16× index shrink even at
  // this toy size; at 100 TB the codes table is what fits in executor
  // memory when the vectors don't). m=4 subspaces × 16 dims, 16
  // centroids per subspace (seed vectors, like the IVF codebook):
  //  1. ENCODE: each vector's subvector → nearest centroid per
  //     subspace (argmin of exact L2², deterministic (round, cidx)
  //     tie-break) — one map-side pass against the broadcast codebook,
  //     materialized once per corpus.
  //  2. SEARCH: per query, a 4×16 lookup table of subspace distances;
  //     approximate distance = Σ_s lut[s][code_s] — the ADC sum never
  //     touches the original vectors, only the 4-byte codes.
  // Determinism: every distance term is the fused float64 dot kernel
  // (dot(a,a)−2dot(a,b)+dot(b,b)), rounded to 6, and the 4-term ADC
  // sum runs through DECIMAL(38,6) — order-independent, so the oracle
  // hash-matches (the repo's money-sum contract applied to distances).
  private val PqSubspaces = 4
  private val PqSubDim = 16
  private val PqCentroids = 16

  private def pqL2(a: String, b: String): Column = {
    def sl(c: String) = s"slice($c, s * $PqSubDim + 1, $PqSubDim)"
    expr(s"round(dot_product(${sl(a)}, ${sl(a)}) " +
      s"- 2 * dot_product(${sl(a)}, ${sl(b)}) " +
      s"+ dot_product(${sl(b)}, ${sl(b)}), 6)")
  }

  private def sqlPqL2(a: String, b: String): String = {
    def sl(c: String) = s"$c[s*$PqSubDim+1:s*$PqSubDim+$PqSubDim]"
    def dp(x: String, y: String) =
      s"list_dot_product(CAST($x AS DOUBLE[]), CAST($y AS DOUBLE[]))"
    s"round(${dp(sl(a), sl(a))} - 2*${dp(sl(a), sl(b))} " +
      s"+ ${dp(sl(b), sl(b))}, 6)"
  }

  /** The shared PQ machinery: encode the corpus, build per-query LUTs,
    * return the (qid, nid, adc) approximate-distance frame — consumed
    * by v10 (ADC top-k) and v19 (shortlist → exact re-rank), memoized
    * + checkpointed per (session, dir) like the CC labels stage so two
    * consumers pay the encode once; Bench resets it and times the
    * build as `stage:pqadc_codes`. */
  private[graft] val pqAdcStage = new StageMemo(
    buildPqAdc(_, _).localCheckpoint(), DedupOps.releaseCheckpoint)

  /** Bench/test hook: drop the memoized ADC frame + its blocks. */
  def resetPqAdc(): Unit = pqAdcStage.reset()

  /** Bench hook: build + materialize the shared PQ encode stage. */
  def warmPqAdc(s: SparkSession, d: String): Unit = { pqAdcStage(s, d); () }

  private def buildPqAdc(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val cb = emb.filter(col("vec_id") < PqCentroids)
      .select(col("vec_id").as("cidx"), col("embedding").as("cv"))
    val vecs = emb.filter(col("vec_id") < 2000)
      .select(col("vec_id").as("nid"), col("embedding").as("nv"))
    val qs = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val subs = s.range(0, PqSubspaces)
      .select(col("id").cast("int").as("s"))
    val wCode = Window.partitionBy(col("nid"), col("s"))
      .orderBy(col("dist"), col("cidx"))
    val codes = vecs
      .crossJoin(broadcast(subs)).crossJoin(broadcast(cb))
      .withColumn("dist", pqL2("nv", "cv"))
      .withColumn("rn", row_number().over(wCode))
      .filter(col("rn") === 1)
      .select(col("nid"), col("s"), col("cidx").as("code"))
    val lut = qs
      .crossJoin(broadcast(subs)).crossJoin(broadcast(cb))
      .select(col("qid"), col("s"), col("cidx"), pqL2("qv", "cv").as("d"))
    codes
      .join(broadcast(lut), col("code") === col("cidx") &&
        codes("s") === lut("s"))
      .filter(col("qid") =!= col("nid"))
      .groupBy(col("qid"), col("nid"))
      .agg(dsumOut(col("d")).as("adc"))
  }

  private def v10(s: SparkSession, d: String): DataFrame = {
    val wTop = Window.partitionBy(col("qid"))
      .orderBy(col("adc"), col("nid"))
    pqAdcStage(s, d)
      .withColumn("rn", row_number().over(wTop))
      .filter(col("rn") <= 10)
      .select(col("qid"), col("rn"), col("nid"), col("adc"))
      .orderBy(col("qid"), col("rn"))
  }

  // V19 — two-stage ANN serving: ADC SHORTLIST then EXACT re-rank —
  // the standard production pattern (PQ codes bound memory and
  // candidate compute; only the top-20 shortlist per query ever
  // touches the full vectors, so the exact kernel runs on a bounded
  // set regardless of corpus size). Re-rank = the pinned rounded
  // cosine, descending, nid tie-break; top-5 served.
  private def v19(s: SparkSession, d: String): DataFrame = {
    val wShort = Window.partitionBy(col("qid"))
      .orderBy(col("adc"), col("nid"))
    val short = pqAdcStage(s, d)
      .withColumn("srn", row_number().over(wShort))
      .filter(col("srn") <= 20)
      .select(col("qid"), col("nid"))
    val emb = Tables.embeddings(s, d)
    val qs = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val vecs = emb.filter(col("vec_id") < 2000)
      .select(col("vec_id").as("nid"), col("embedding").as("nv"))
    val wTop = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("nid"))
    short.join(broadcast(qs), Seq("qid")).join(vecs, Seq("nid"))
      .withColumn("sim", expr("round(cosine_sim(nv, qv), 6)"))
      .withColumn("rn", row_number().over(wTop))
      .filter(col("rn") <= 5)
      .select(col("qid"), col("rn"), col("nid"), col("sim"))
      .orderBy(col("qid"), col("rn"))
  }

  private val v19Sql =
    s"""WITH ${pqAdcCtes},
       |short AS (
       | SELECT qid, nid FROM (
       |  SELECT qid, nid,
       |   row_number() OVER (PARTITION BY qid ORDER BY adc, nid) AS srn
       |  FROM adc)
       | WHERE srn <= 20),
       |rer AS (
       | SELECT sh.qid, sh.nid,
       |  round(${sqlCosine("v.nv", "q.qv")}, 6) AS sim
       | FROM short sh JOIN qs q ON q.qid = sh.qid
       |  JOIN vecs v ON v.nid = sh.nid)
       |SELECT qid, rn, nid, sim FROM (
       | SELECT qid, nid, sim,
       |  row_number() OVER (PARTITION BY qid
       |   ORDER BY sim DESC, nid) AS rn
       | FROM rer)
       |WHERE rn <= 5 ORDER BY qid, rn""".stripMargin

  /** Oracle twin of [[buildPqAdc]] — ONE CTE chain shared by v10Sql
    * and v19Sql (the closureCtes pattern), so a PQ fix cannot land in
    * one oracle and leave the other running the old chain. */
  private def pqAdcCtes: String =
    s"""cb AS (SELECT vec_id AS cidx, embedding AS cv
       |  FROM embeddings WHERE vec_id < $PqCentroids),
       |vecs AS (SELECT vec_id AS nid, embedding AS nv
       |  FROM embeddings WHERE vec_id < 2000),
       |qs AS (SELECT vec_id AS qid, embedding AS qv
       |  FROM embeddings WHERE vec_id < 5),
       |subs AS (SELECT unnest(range(0, $PqSubspaces)) AS s),
       |codes AS (
       | SELECT nid, s, cidx AS code FROM (
       |  SELECT v.nid, subs.s, cb.cidx,
       |   row_number() OVER (PARTITION BY v.nid, subs.s
       |    ORDER BY ${sqlPqL2("v.nv", "cb.cv")}, cb.cidx) AS rn
       |  FROM vecs v CROSS JOIN subs CROSS JOIN cb)
       | WHERE rn = 1),
       |lut AS (
       | SELECT qid, s, cidx, ${sqlPqL2("q.qv", "cb.cv")} AS d
       | FROM qs q CROSS JOIN subs CROSS JOIN cb),
       |adc AS (
       | SELECT qid, nid, ${sqlDsumOut("d")} AS adc
       | FROM codes JOIN lut ON lut.s = codes.s AND lut.cidx = codes.code
       | WHERE qid <> nid GROUP BY qid, nid)"""

  private val v10Sql =
    s"""WITH ${pqAdcCtes}
       |SELECT qid, rn, nid, adc FROM (
       | SELECT qid, nid, adc,
       |  row_number() OVER (PARTITION BY qid ORDER BY adc, nid) AS rn
       | FROM adc)
       |WHERE rn <= 10 ORDER BY qid, rn""".stripMargin

  // V11 — Lloyd's k-means training (spherical: cosine assignment,
  // arithmetic-mean update): the trainer that PRODUCES the codebook
  // v2-v7/v10 consume as a given, closing the train → assign → search
  // loop. Per round: one map-side assignment over the broadcast/literal
  // kernel (the SAME pinned kernel the IVF queries use, so training and
  // serving can never disagree on the metric), then one (cell, dim)
  // aggregation whose k×dim result — the next codebook, a bounded
  // artifact by construction — is the round's only collect. Centroid
  // means go through exact DECIMAL(38,12) sums, so the update is
  // order-independent across any partitioning: training is
  // deterministic at any parallelism, pinned by VectorKmeansSpec
  // against a sequential BigDecimal reference.
  /** Cells and Lloyd rounds of the one trained codebook. */
  private val KmeansK = 8
  private val KmeansIters = 4

  /** Trained centroids, memoized per (session, sfDir) — the x12/d5
    * shared-stage pattern: a real pipeline trains once and every
    * consumer reuses the artifact, and Bench resets + times the
    * training as its own line (`stage:kmeans_train`) so the cost is
    * trend-guard-visible instead of hiding behind min-of-reps. */
  private[graft] val kmeansStage =
    new StageMemo(runKmeans(_, _, KmeansK, KmeansIters))

  /** Bench/test hook: forget the trained centroids so the next consumer
    * pays the full training cost. */
  def resetKmeans(): Unit = kmeansStage.reset()

  /** Bench hook: train + memoize the shared k-means stage for (s, d). */
  def warmKmeans(s: SparkSession, d: String): Unit = {
    kmeansStage(s, d); ()
  }

  /** Bench hook: the forced-DISTRIBUTED twin of [[warmKmeans]] —
    * `cap = 0` routes the same Lloyd rounds through the distributed
    * assignment + (cell, dim) aggregation that real above-cap corpora
    * take, so a regression there stays trend-guard-visible even though
    * size dispatch sends test SFs driver-side. Not memoized. */
  def warmKmeansDistributed(s: SparkSession, d: String): Unit = {
    runKmeans(s, d, KmeansK, KmeansIters, cap = 0L); ()
  }

  /** Vector count cap under which the Lloyd rounds run driver-side
    * (~50 MB of float64 at the cap for 64-dim). */
  private val KmeansDriverCap = 100_000L

  private[graft] def runKmeans(s: SparkSession, d: String,
      k: Int, iters: Int,
      cap: Long = KmeansDriverCap): Array[(Long, Array[Float])] = {
    // cache the one input the loop re-scans (seed collect + one
    // assignment per round would otherwise re-read the parquet
    // iters+1 times). Null embeddings are excluded from TRAINING
    // explicitly — the distributed kernels drop them from assignment
    // anyway (empty candidate array / null cosine), and the driver
    // path must see the same population
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"))
      .filter(col("embedding").isNotNull).persist()
    try {
      // Size dispatch (the connectedComponents / BPE pattern): under
      // the cap the 4 rounds run driver-side with the SAME pinned
      // arithmetic (float64 index-order cosine, HALF_UP round-6,
      // NaN-first/cell-asc, DECIMAL(38,12) sums) instead of paying
      // iters × (distributed assignment + (cell, dim) agg + collect)
      // of fixed job overhead; VectorKmeansSpec pins both paths equal,
      // so crossing the threshold can never change centroids. The
      // count materializes the persist the loop would pay anyway.
      if (emb.count() <= cap) {
        import s.implicits._
        val vecs = emb.as[(Long, Seq[Float])].collect()
          .map { case (id, v) => (id, v.toArray) }.sortBy(_._1)
        driverKmeans(vecs, k, iters)
      } else runKmeansRounds(emb, k, iters)
    } finally { emb.unpersist(false); () }
  }

  /** Driver twin of [[runKmeansRounds]] — same kernel contract as the
    * broadcast/literal assignment (round6 guard included) and the same
    * exact-decimal centroid update. */
  private def driverKmeans(vecs: Array[(Long, Array[Float])], k: Int,
      iters: Int): Array[(Long, Array[Float])] = {
    def round6(x: Double): Double = VectorKernel.round6d(x)
    def cos(a: Array[Float], b: Array[Float]): Double =
      VectorKernel.cosF(a, b)
    var cents = vecs.filter(_._1 < k)
    require(cents.nonEmpty, s"k-means seed is empty (no vec_id < $k)")
    for (_ <- 1 to iters) {
      val assigned = vecs.map { case (_, v) =>
        var bestCell = -1L; var bestNeg = Double.PositiveInfinity
        cents.foreach { case (cell, cv) =>
          val s0 = round6(cos(v, cv))
          val neg = if (s0.isNaN) Double.NegativeInfinity else -s0
          if (neg < bestNeg || (neg == bestNeg && cell < bestCell)) {
            bestNeg = neg; bestCell = cell
          }
        }
        (bestCell, v)
      }
      cents = cents.map { case (cell, old) =>
        val mine = assigned.collect { case (c, v) if c == cell => v }
        if (mine.isEmpty) (cell, old)
        else {
          val dim = old.length
          val nv = new Array[Float](dim)
          var j = 0
          while (j < dim) {
            var acc = java.math.BigDecimal.ZERO
            mine.foreach { v =>
              acc = acc.add(bd12(v(j).toDouble))
            }
            nv(j) = (acc.doubleValue() / mine.length).toFloat
            j += 1
          }
          (cell, nv)
        }
      }
    }
    cents
  }

  private def runKmeansRounds(emb: DataFrame, k: Int,
      iters: Int): Array[(Long, Array[Float])] = {
    // init = the same deterministic seed rule the IVF queries use
    var cents = collectCodebook(emb, k)
    for (_ <- 1 to iters) {
      val sums = assignCells(emb, "embedding", cents, probes = 1)
        .select(col("cell"), posexplode(col("embedding")))
        .groupBy(col("cell"), col("pos"))
        .agg(sum(col("col").cast("decimal(38,12)")).as("sv"),
          count(lit(1)).as("n"))
        .collect()
      val byCell = sums.groupBy(_.getLong(0))
      cents = cents.map { case (cell, old) =>
        byCell.get(cell) match {
          case Some(rows) =>
            val nv = old.clone()
            rows.foreach { r =>
              nv(r.getInt(1)) =
                (r.getDecimal(2).doubleValue() / r.getLong(3)).toFloat
            }
            (cell, nv)
          case None => (cell, old) // empty cell keeps its centroid
        }
      }
    }
    cents
  }

  /** Recursive-CTE twin of the Lloyd TRAINER (round 9 — v11/v12
    * graduate from rows-only): the working table carries the k
    * centroids as FLOAT[] lists; each round re-assigns every vector
    * with the SAME rounded-cosine/NaN-first/cell-asc rule the
    * `assignCells` kernels pin, and rebuilds each centroid dimension
    * as an exact DECIMAL(38,12) sum over the assigned vectors divided
    * once in float64 — the element is widened FLOAT→DOUBLE **before**
    * the decimal cast, which is the `BigDecimal.valueOf(v.toDouble)`
    * semantics (casting the raw float rounds a 7-digit repr instead
    * and drifts the 12th decimal). Empty cells keep their centroid
    * via the LEFT JOIN, like the driver loop. */
  private def kmeansCtes(k: Int, iters: Int): String =
    s"""t(it, cell, cv) AS (
       |  SELECT 1, vec_id, CAST(embedding AS FLOAT[]) FROM embeddings
       |  WHERE vec_id < $k AND embedding IS NOT NULL
       |  UNION ALL
       |  SELECT it + 1, t.cell, coalesce(nc.ncv, t.cv)
       |  FROM t LEFT JOIN (
       |    SELECT acell,
       |      list(CAST(CAST(s AS DOUBLE) / n AS FLOAT) ORDER BY j)
       |       AS ncv
       |    FROM (
       |      SELECT a.acell, r.j,
       |        sum(CAST(CAST(a.embedding[r.j] AS DOUBLE)
       |          AS DECIMAL(38,12))) AS s,
       |        count(*) AS n
       |      FROM (
       |        SELECT vec_id, embedding, cell AS acell FROM (
       |          SELECT e.vec_id, e.embedding, t2.cell,
       |            row_number() OVER (PARTITION BY e.vec_id
       |              ORDER BY round(${sqlCosine("e.embedding", "t2.cv")}, 6) DESC,
       |               t2.cell) AS rn
       |          FROM (SELECT vec_id, embedding FROM embeddings
       |             WHERE embedding IS NOT NULL) e
       |          CROSS JOIN t t2)
       |        WHERE rn = 1) a,
       |        unnest(range(1, len(a.embedding) + 1)) AS r(j)
       |      GROUP BY 1, 2)
       |    GROUP BY acell) nc ON nc.acell = t.cell
       |  WHERE it <= $iters),
       |trained AS (SELECT cell, cv FROM t WHERE it = ${iters + 1})""".stripMargin

  private val v11Sql =
    s"""WITH RECURSIVE ${kmeansCtes(8, 4)}
       |SELECT cell, j - 1 AS pos, round(CAST(cv[j] AS DOUBLE), 6) AS cv
       |FROM trained f, unnest(range(1, len(f.cv) + 1)) AS r(j)
       |ORDER BY cell, pos""".stripMargin

  private val v12Sql =
    s"""WITH RECURSIVE ${kmeansCtes(8, 4)},
       |assigned AS (
       |  SELECT vec_id, cell, sim FROM (
       |    SELECT e.vec_id, t2.cell,
       |      round(${sqlCosine("e.embedding", "t2.cv")}, 6) AS sim,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY round(${sqlCosine("e.embedding", "t2.cv")}, 6) DESC,
       |         t2.cell) AS rn
       |    FROM (SELECT vec_id, embedding FROM embeddings
       |       WHERE embedding IS NOT NULL) e
       |    CROSS JOIN trained t2)
       |  WHERE rn = 1)
       |SELECT cell, count(*) AS n, min(vec_id) AS min_vec,
       | max(vec_id) AS max_vec,
       | ${sqlDsumOut("CASE WHEN isnan(sim) THEN 0.0 ELSE sim END")}
       |  AS sim_mass
       |FROM assigned GROUP BY cell ORDER BY cell""".stripMargin

  private def v11(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    kmeansStage(s, d)
      .flatMap { case (cell, cv) =>
        cv.zipWithIndex.map { case (x, i) => (cell, i, x.toDouble) }
      }.toSeq.toDF("cell", "pos", "cv")
      .withColumn("cv", round(col("cv"), 6))
      .orderBy(col("cell"), col("pos"))
  }

  // V12 — serve the TRAINED codebook: assign every vector to its
  // nearest trained centroid (the memoized v11 artifact — same
  // size-dispatched map-side kernel v2-v7 use on the seed codebook)
  // and report per-cell population + exact-decimal similarity mass.
  // This is the consumer that closes the train → assign → serve loop:
  // the IVF oracle queries keep the seed codebook so DuckDB can
  // reproduce them, and v12 demonstrates the trained artifact flowing
  // back into the serving kernel. Rows-only: four Lloyd rounds are not
  // SQL-expressible; VectorKmeansSpec pins the distributed per-cell
  // counts and sim mass bit-identical to the sequential reference.
  private def v12(s: SparkSession, d: String): DataFrame = {
    val cents = kmeansStage(s, d)
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"))
    assignCells(emb, "embedding", cents, probes = 1)
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"),
        min(col("vec_id")).as("min_vec"),
        max(col("vec_id")).as("max_vec"),
        // NaN cosines (zero-norm vectors) contribute 0 mass — a NaN
        // would poison the DECIMAL sum
        dsumOut(nanvl(col("csim"), lit(0.0))).as("sim_mass"))
      .orderBy(col("cell"))
  }

  // V13 — int8 scalar quantization (SQ8) with reconstruction audit:
  // the storage-compression step a 100 TB vector store runs before
  // anything else (4× memory cut). Per-DIMENSION corpus min/max (a
  // dims-sized agg, broadcast back), code = floor((x−mn)/range·256)
  // clamped to 255 — floor, not round, so there is no rounding-mode
  // drift between engines — dequant at the cell midpoint, and the
  // per-vector squared reconstruction error is the audit output.
  // All arithmetic in double (float inputs cast exactly); err² values
  // are ~1e-5 so they go through DECIMAL(38,12) before the per-vector
  // sum (order-independent at that scale, same as x6's dup fractions).
  // Scale shape: one bounded dims-agg + one broadcast join + one
  // per-vector agg — the quantize itself is embarrassingly map-side.
  private def v13(s: SparkSession, d: String): DataFrame = {
    val dims = Tables.embeddings(s, d)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "xf")))
      .select(col("vec_id"), col("dim"), col("xf").cast("double").as("x"))
    val stats = dims.groupBy(col("dim"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
    dims.join(broadcast(stats), Seq("dim"))
      .withColumn("rng", col("mx") - col("mn"))
      .withColumn("code", when(col("rng") > 0,
          least(floor((col("x") - col("mn")) / col("rng") * 256), lit(255.0)))
        .otherwise(lit(0.0)))
      .withColumn("deq",
        col("mn") + (col("code") + lit(0.5)) * col("rng") / 256)
      .withColumn("err2",
        (col("x") - col("deq")) * (col("x") - col("deq")))
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_dims"),
        sum(dec12(col("err2"))).as("sse12"))
      .select(col("vec_id"), col("n_dims"),
        round(col("sse12").cast("double") / col("n_dims"), 9).as("mse"))
      .orderBy(col("vec_id"))
  }

  private val v13Sql =
    """WITH dims AS (
      | SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
      |  CAST(unnest(embedding) AS DOUBLE) AS x
      | FROM embeddings),
      |stats AS (SELECT dim, min(x) AS mn, max(x) AS mx
      |          FROM dims GROUP BY dim),
      |q AS (
      | SELECT vec_id, x, mn, mx - mn AS rng,
      |  CASE WHEN mx - mn > 0
      |   THEN least(floor((x - mn) / (mx - mn) * 256), 255)
      |   ELSE 0 END AS code
      | FROM dims JOIN stats USING (dim)),
      |e AS (
      | SELECT vec_id,
      |  (x - (mn + (code + 0.5) * rng / 256))
      |   * (x - (mn + (code + 0.5) * rng / 256)) AS err2
      | FROM q)
      |SELECT vec_id, CAST(count(*) AS BIGINT) AS n_dims,
      | round(CAST(sum(CAST(err2 AS DECIMAL(38,12))) AS DOUBLE)
      |  / count(*), 9) AS mse
      |FROM e GROUP BY vec_id ORDER BY vec_id""".stripMargin

  // ---- V16/V17 — PCA: distributed exact moments + deterministic
  // power iteration -------------------------------------------------
  //
  // The whitening/dimension-analysis step of an embedding pipeline:
  // train the top principal direction of the (centered) corpus, then
  // project every vector onto it. Architecture mirrors every trainer
  // in this repo — the DISTRIBUTED part is the one pass whose cost
  // scales with the corpus (first/second moments: per-dim sums and the
  // upper-triangle d×d product sums, all through exact DECIMAL(38,12),
  // so ANY partitioning yields bit-identical moments), and the
  // ITERATION runs on the d×d covariance — a bounded artifact
  // (64×64 = 32 KB) — on the driver, exactly where a 1000-executor
  // cluster would run it. Determinism through the loop needs no
  // rounding at all: C is a fixed float64 expression of exact decimal
  // sums, and each power-iteration step (index-order matvec, one sqrt,
  // one divide) is the same IEEE op sequence in the Scala loop and the
  // DuckDB recursive-CTE replay (list_dot_product is the index-order
  // float64 fold — the SAME equivalence the cosine kernels pin).
  // Efficiency: only the upper triangle is generated/aggregated
  // (j >= i halves the exploded pass); symmetry mirrors the rest.
  /** 24 rounds: convergence ∝ (λ₂/λ₁)^t and the sf0.001 eigengap is
    * tight — extra rounds tighten the eigen-residual cheaply (driver-
    * side d² arithmetic, a few more trivial oracle recursion steps).
    * Orthogonality of later components does NOT come from the rounds:
    * deflation alone left w₁·w₂ ≈ 0.08 at 8 rounds, so finishPca
    * re-orthogonalizes explicitly (Gram–Schmidt), which VectorPcaSpec
    * pins below 1e-6 independent of the eigengap. */
  private val PcaIters = 24
  /** Unlike the other trainers, PCA's driver twin does d(d+1)/2
    * BigDecimal adds PER VECTOR — measured at sf0.1 (50 k vecs) the
    * distributed moments pass already beats it (1.45 s vs 2.6 s on 32
    * cores), so the cap sits an order lower than kmeans': small enough
    * that the driver path only covers inputs where job overhead
    * dominates. */
  private val PcaDriverCap = 10_000L

  private val PcaComps = 2

  /** (mean, [(component, variance)] in deflation order), memoized per
    * (session, dir). */
  private[graft] val pcaStage = new StageMemo(runPca(_, _))

  /** Bench/test hook: forget the trained component. */
  def resetPca(): Unit = pcaStage.reset()

  /** Bench hook: train + memoize the shared PCA stage for (s, d). */
  def warmPca(s: SparkSession, d: String): Unit = { pcaStage(s, d); () }

  /** Bench hook: forced-DISTRIBUTED twin (cap = 0) — times the
    * exploded moments pass real above-cap corpora pay. Not memoized. */
  def warmPcaDistributed(s: SparkSession, d: String): Unit = {
    runPca(s, d, cap = 0L); ()
  }

  /** Bench warmup hook: pre-compile the distributed-moments codegen
    * (posexplode + upper-triangle product + exact-decimal sums) on a
    * micro frame, so the timed stage:pcadist_train line measures the
    * moments compute, not Janino/JIT (measured: first run 2.5 s vs
    * 0.9 s warm). Corpus-independent: never touches sfDir. */
  def warmPcaCodegen(s: SparkSession): Unit = {
    import s.implicits._
    val tiny = Seq(Seq(1.0f, 2.0f), Seq(0.5f, 0.25f))
      .toDF("embedding")
      .persist() // match the real path's persisted-input codegen shape
    tiny.count()
    try { distributedMoments(tiny, s); () }
    finally { tiny.unpersist(false); () }
  }

  private[graft] def runPca(s: SparkSession, d: String,
      cap: Long = PcaDriverCap)
      : (Array[Double], Seq[(Array[Double], Double)]) = {
    val emb = Tables.embeddings(s, d)
      .select(col("embedding"))
      .filter(col("embedding").isNotNull).persist()
    try {
      val n = emb.count()
      // Size dispatch (the kmeans/CC/BPE pattern): both paths produce
      // the IDENTICAL exact-decimal moments — decimal addition is
      // associative — so crossing the cap can never change the model;
      // VectorPcaSpec pins driver == forced-distributed bit-equal.
      val (ms, ps) =
        if (n <= cap) {
          val vecs = emb.collect().map(_.getSeq[Float](0).toArray)
          driverMoments(vecs)
        } else distributedMoments(emb, s)
      finishPca(n, ms, ps)
    } finally { emb.unpersist(false); () }
  }

  /** Sequential twin of [[distributedMoments]] — same per-element
    * arithmetic (FLOAT→DOUBLE widen, scale-12 HALF_UP, exact adds). */
  private def driverMoments(vecs: Array[Array[Float]])
      : (Array[java.math.BigDecimal],
         Array[Array[java.math.BigDecimal]]) = {
    require(vecs.nonEmpty, "PCA input is empty")
    val dim = vecs(0).length
    val ms = Array.fill(dim)(java.math.BigDecimal.ZERO)
    val ps = Array.fill(dim, dim)(java.math.BigDecimal.ZERO)
    vecs.foreach { v =>
      var i = 0
      while (i < dim) {
        val xi = v(i).toDouble
        ms(i) = ms(i).add(bd12(xi))
        var j = i
        while (j < dim) {
          ps(i)(j) = ps(i)(j).add(bd12(xi * v(j).toDouble))
          j += 1
        }
        i += 1
      }
    }
    (ms, ps)
  }

  /** One exploded pass for the per-dim sums, one upper-triangle
    * (i, j >= i) pass for the product sums — both exact decimal aggs
    * whose outputs are d and d(d+1)/2 rows (bounded artifacts), the
    * only collects. `spread` buys scan parallelism for the 4096×
    * row expansion; exactness makes the result partitioning-proof. */
  private def distributedMoments(emb: DataFrame, s: SparkSession)
      : (Array[java.math.BigDecimal],
         Array[Array[java.math.BigDecimal]]) = {
    val one = spread(emb.toDF())
      .select(col("embedding"), posexplode(col("embedding")).as(Seq("i", "xi")))
    val msRows = one.groupBy(col("i"))
      .agg(sum(dec12(col("xi").cast("double"))).as("ms"))
      .collect()
    val dim = msRows.length
    val ms = Array.fill(dim)(java.math.BigDecimal.ZERO)
    msRows.foreach(r => ms(r.getInt(0)) = r.getDecimal(1))
    val ps = Array.fill(dim, dim)(java.math.BigDecimal.ZERO)
    // generate ONLY the upper triangle: the second explode walks the
    // slice [i, d) (j = i + offset), n·d(d+1)/2 rows instead of
    // generating all n·d² and dropping half in a filter
    one.select(col("i"), col("xi"),
        posexplode(expr("slice(embedding, i + 1, size(embedding) - i)"))
          .as(Seq("jo", "xj")))
      .select(col("i"), (col("i") + col("jo")).as("j"),
        col("xi"), col("xj"))
      .groupBy(col("i"), col("j"))
      .agg(sum(dec12(col("xi").cast("double") * col("xj").cast("double")))
        .as("ps"))
      .collect()
      .foreach(r => ps(r.getInt(0))(r.getInt(1)) = r.getDecimal(2))
    (ms, ps)
  }

  /** Shared finish: covariance from the exact moments, then PcaComps
    * rounds of (PcaIters power-iteration steps from e₀ → Rayleigh λ →
    * Hotelling deflation C ← C − λwwᵀ) — ONE implementation for both
    * dispatch paths, arithmetic mirrored line-for-line by the
    * recursive-CTE oracle (each deflation is one fixed IEEE expression
    * per cell, so the second component needs no new determinism
    * machinery). The iteration cost is O(ncomp·iters·d²) on a bounded
    * artifact — invisible next to the corpus moments pass. */
  private def finishPca(n: Long, ms: Array[java.math.BigDecimal],
      ps: Array[Array[java.math.BigDecimal]], ncomp: Int = PcaComps)
      : (Array[Double], Seq[(Array[Double], Double)]) = {
    val dim = ms.length
    val mu = Array.tabulate(dim)(i => ms(i).doubleValue() / n)
    val c = Array.ofDim[Double](dim, dim)
    var i = 0
    while (i < dim) {
      var j = i
      while (j < dim) {
        val v = ps(i)(j).doubleValue() / n - mu(i) * mu(j)
        c(i)(j) = v; c(j)(i) = v
        j += 1
      }
      i += 1
    }
    def matvec(w: Array[Double]): Array[Double] =
      Array.tabulate(dim) { r =>
        var acc = 0.0; var k = 0
        while (k < dim) { acc += c(r)(k) * w(k); k += 1 }
        acc
      }
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var k = 0
      while (k < dim) { acc += a(k) * b(k); k += 1 }
      acc
    }
    val comps = Seq.newBuilder[(Array[Double], Double)]
    val prev = scala.collection.mutable.ArrayBuffer[Array[Double]]()
    var comp = 0
    while (comp < ncomp) {
      var w = Array.tabulate(dim)(k => if (k == 0) 1.0 else 0.0)
      for (_ <- 1 to PcaIters) {
        val u = matvec(w)
        val nrm = math.sqrt(dot(u, u))
        w = u.map(_ / nrm)
      }
      // Gram–Schmidt against every earlier component, then renormalize:
      // deflation alone leaves the next component a spurious overlap
      // proportional to the previous eigen-residual (measured 0.08 at
      // sf0.001 with 8 rounds); the explicit projection makes
      // orthogonality exact to float precision independent of the
      // eigengap. Same fixed IEEE sequence in the oracle's `orthu` CTE.
      prev.foreach { wp =>
        val o = dot(wp, w)
        var k = 0
        while (k < dim) { w(k) = w(k) - o * wp(k); k += 1 }
      }
      if (prev.nonEmpty) {
        val nrm = math.sqrt(dot(w, w))
        w = w.map(_ / nrm)
      }
      val lambda = dot(w, matvec(w))
      comps += ((w, lambda))
      prev += w
      // deflate IN PLACE for the next component (skipped after the
      // last — the rewritten matrix would never be read): same cell
      // expression as the oracle's cmat2
      if (comp + 1 < ncomp) {
        var r = 0
        while (r < dim) {
          var k = 0
          while (k < dim) {
            c(r)(k) = c(r)(k) - lambda * w(r) * w(k); k += 1
          }
          r += 1
        }
      }
      comp += 1
    }
    (mu, comps.result())
  }

  /** Recursive-CTE twin of the PCA trainer: exact-decimal moments →
    * float64 covariance (upper triangle mirrored) → row lists →
    * power-iteration steps carrying the unit vector as DOUBLE[]. */
  private def pcaCtes(iters: Int): String =
    s"""base AS MATERIALIZED (SELECT embedding FROM embeddings
       |  WHERE embedding IS NOT NULL),
       |nn AS MATERIALIZED (SELECT count(*) AS n FROM base),
       |dims AS MATERIALIZED (SELECT unnest(range(1,
       |  (SELECT max(len(embedding)) FROM base) + 1)) AS i),
       |msum AS MATERIALIZED (
       | SELECT r.i AS i,
       |  sum(CAST(CAST(e.embedding[r.i] AS DOUBLE) AS DECIMAL(38,12)))
       |   AS ms
       | FROM base e, unnest(range(1, len(e.embedding) + 1)) AS r(i)
       | GROUP BY 1),
       |psum AS MATERIALIZED (
       | SELECT r1.i AS i, r2.j AS j,
       |  sum(CAST(CAST(e.embedding[r1.i] AS DOUBLE)
       |    * CAST(e.embedding[r2.j] AS DOUBLE) AS DECIMAL(38,12))) AS ps
       | FROM base e, unnest(range(1, len(e.embedding) + 1)) AS r1(i),
       |      unnest(range(1, len(e.embedding) + 1)) AS r2(j)
       | WHERE r2.j >= r1.i
       | GROUP BY 1, 2),
       |cup AS MATERIALIZED (
       | SELECT p.i, p.j,
       |  CAST(p.ps AS DOUBLE) / nn.n
       |   - (CAST(mi.ms AS DOUBLE) / nn.n) * (CAST(mj.ms AS DOUBLE) / nn.n)
       |   AS c
       | FROM psum p, nn, msum mi, msum mj
       | WHERE mi.i = p.i AND mj.i = p.j),
       |cmat AS MATERIALIZED (SELECT i, j, c FROM cup
       | UNION ALL SELECT j, i, c FROM cup WHERE i <> j),
       |crow AS MATERIALIZED (SELECT i, list(c ORDER BY j) AS cv FROM cmat GROUP BY i),
       |t(it, w) AS (
       |  SELECT 1, (SELECT list(CAST(CASE WHEN d2.i = 1 THEN 1.0
       |    ELSE 0.0 END AS DOUBLE) ORDER BY d2.i) FROM dims d2)
       |  UNION ALL
       |  SELECT it + 1,
       |   list_transform(ul, z -> z / sqrt(list_dot_product(ul, ul)))
       |  FROM (
       |   SELECT t.it AS it,
       |    list(list_dot_product(c2.cv, t.w) ORDER BY c2.i) AS ul
       |   FROM t, crow c2 WHERE t.it <= $iters
       |   GROUP BY t.it, t.w)),
       |trained AS MATERIALIZED (SELECT w FROM t WHERE it = ${iters + 1}),
       |lam AS MATERIALIZED (
       | SELECT list_dot_product(f.w,
       |   list(list_dot_product(c2.cv, f.w) ORDER BY c2.i)) AS lambda
       | FROM trained f, crow c2 GROUP BY f.w)""".stripMargin

  // V16 — the trained artifact itself: per-dim loading of the top
  // principal component, the dimension mean, and the captured
  // variance (the Rayleigh quotient of the trained direction).
  private def v16(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (mu, comps) = pcaStage(s, d)
    val (w, lambda) = comps.head
    w.indices.map(i => (i, w(i), mu(i), lambda)).toSeq
      .toDF("pos", "loading", "dim_mean", "variance")
      .withColumn("loading", round(col("loading"), 6))
      .withColumn("dim_mean", round(col("dim_mean"), 6))
      .withColumn("variance", round(col("variance"), 6))
      .orderBy(col("pos"))
  }

  private val v16Sql =
    s"""WITH RECURSIVE ${pcaCtes(PcaIters)}
       |SELECT r.i - 1 AS pos, round(f.w[r.i], 6) AS loading,
       | round(CAST(ms.ms AS DOUBLE) / nn.n, 6) AS dim_mean,
       | round(l.lambda, 6) AS variance
       |FROM trained f, lam l, nn,
       | unnest(range(1, len(f.w) + 1)) AS r(i), msum ms
       |WHERE ms.i = r.i
       |ORDER BY pos""".stripMargin

  // V17 — serve the trained component: center-and-project every
  // vector (map-side fold against the literal loading vector — the
  // codebook-literal pattern; at 128+ dims × many components the same
  // broadcast fallback as assignCells applies) and roll up projection
  // stats per class label. Closes PCA's train → project → serve loop
  // the way v12 does for k-means.
  private def v17(s: SparkSession, d: String): DataFrame = {
    val (mu, comps) = pcaStage(s, d)
    val w = comps.head._1
    var muw = 0.0
    var k = 0
    while (k < w.length) { muw += mu(k) * w(k); k += 1 }
    // straight-line codegen'd term chain instead of a zip_with fold:
    // no per-row intermediate array, one walk. Value-identical to the
    // fold (the fold's 0.0+t₀ leading add is exact), and the fused
    // DotProduct expression is NOT usable here — it requires FLOAT
    // arrays on both sides, while the loading vector must stay DOUBLE
    // for the oracle's list_dot_product contract.
    val proj = w.indices.map(i =>
        col("embedding").getItem(i).cast("double") * lit(w(i)))
      .reduceLeft(_ + _)
    val score = round(proj - lit(muw), 6)
    Tables.embeddings(s, d)
      .filter(col("embedding").isNotNull)
      .select(col("label"), score.as("score"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        decOut(sum(dec6(col("score")))).as("score_mass"),
        min(col("score")).as("min_score"),
        max(col("score")).as("max_score"))
      .orderBy(col("label"))
  }

  private val v17Sql =
    s"""WITH RECURSIVE ${pcaCtes(PcaIters)},
       |muv AS (SELECT list(CAST(ms AS DOUBLE) / nn.n ORDER BY i) AS mu
       |  FROM msum, nn GROUP BY nn.n),
       |mw AS (SELECT list_dot_product(m.mu, f.w) AS muw
       |  FROM muv m, trained f),
       |scored AS (
       | SELECT e.label,
       |  round(list_dot_product(CAST(e.embedding AS DOUBLE[]), f.w)
       |    - x.muw, 6) AS score
       | FROM embeddings e, trained f, mw x
       | WHERE e.embedding IS NOT NULL)
       |SELECT label, count(*) AS n,
       | ${sqlDecOut("sum(CAST(score AS DECIMAL(38,6)))")} AS score_mass,
       | min(score) AS min_score, max(score) AS max_score
       |FROM scored GROUP BY label ORDER BY label""".stripMargin

  // V18 — rank-2 PCA via Hotelling deflation: the second principal
  // direction of the SAME trained covariance (C ← C − λ₁w₁w₁ᵀ, then
  // the same power-iteration rounds + Gram–Schmidt). Zero extra corpus cost — the
  // memoized moments are shared with v16/v17; only the bounded d×d
  // iteration doubles. The oracle replays the deflation as one fixed
  // IEEE expression per covariance cell and a second recursive CTE
  // over the deflated row lists.
  private def v18(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (_, comps) = pcaStage(s, d)
    comps.zipWithIndex.flatMap { case ((w, lam), ci) =>
      w.indices.map(p => (ci, p, w(p), lam))
    }.toDF("comp", "pos", "loading", "variance")
      .withColumn("loading", round(col("loading"), 6))
      .withColumn("variance", round(col("variance"), 6))
      .orderBy(col("comp"), col("pos"))
  }

  private val v18Sql =
    s"""WITH RECURSIVE ${pcaCtes(PcaIters)},
       |cmat2 AS MATERIALIZED (
       | SELECT m.i, m.j, m.c - l.lambda * f.w[m.i] * f.w[m.j] AS c
       | FROM cmat m, trained f, lam l),
       |crow2 AS MATERIALIZED (SELECT i, list(c ORDER BY j) AS cv FROM cmat2
       | GROUP BY i),
       |t2(it, w) AS (
       |  SELECT 1, (SELECT list(CAST(CASE WHEN d2.i = 1 THEN 1.0
       |    ELSE 0.0 END AS DOUBLE) ORDER BY d2.i) FROM dims d2)
       |  UNION ALL
       |  SELECT it + 1,
       |   list_transform(ul, z -> z / sqrt(list_dot_product(ul, ul)))
       |  FROM (
       |   SELECT t2.it AS it,
       |    list(list_dot_product(c2.cv, t2.w) ORDER BY c2.i) AS ul
       |   FROM t2, crow2 c2 WHERE t2.it <= $PcaIters
       |   GROUP BY t2.it, t2.w)),
       |trained2 AS MATERIALIZED (SELECT w FROM t2 WHERE it = ${PcaIters + 1}),
       |orthu AS MATERIALIZED (
       | SELECT list(f2.w[d2.i]
       |    - list_dot_product(f1.w, f2.w) * f1.w[d2.i]
       |   ORDER BY d2.i) AS u
       | FROM trained2 f2, trained f1, dims d2
       | GROUP BY f2.w, f1.w),
       |orth AS MATERIALIZED (SELECT list_transform(u,
       |  z -> z / sqrt(list_dot_product(u, u))) AS w FROM orthu),
       |lam2 AS MATERIALIZED (
       | SELECT list_dot_product(f.w,
       |   list(list_dot_product(c2.cv, f.w) ORDER BY c2.i)) AS lambda
       | FROM orth f, crow2 c2 GROUP BY f.w)
       |SELECT comp, pos, loading, variance FROM (
       | SELECT 0 AS comp, r.i - 1 AS pos,
       |  round(f.w[r.i], 6) AS loading, round(l.lambda, 6) AS variance
       | FROM trained f, lam l, unnest(range(1, len(f.w) + 1)) AS r(i)
       | UNION ALL
       | SELECT 1, r.i - 1, round(f2.w[r.i], 6), round(l2.lambda, 6)
       | FROM orth f2, lam2 l2,
       |  unnest(range(1, len(f2.w) + 1)) AS r(i))
       |ORDER BY comp, pos""".stripMargin

  // V20 — maximum-inner-product top-k (MIPS): the recommendation/
  // retrieval serving face where relevance is the RAW dot product, not
  // cosine (vector magnitude carries signal — item popularity, document
  // salience). Same fused-kernel bounded-query shape as v1; the scale
  // path is the standard norm-augmentation reduction x' = [x, √(M²−‖x‖²)]
  // that turns MIPS into cosine search over the augmented space so the
  // whole v2-v7 IVF machinery applies unchanged — VectorRecallSpec pins
  // that the augmented-cosine order equals the dot order.
  private def v20(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val q = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val n = emb.select(col("vec_id").as("nid"), col("embedding").as("nv"))
      .repartition(s.sparkContext.defaultParallelism)
    val sims = n.crossJoin(broadcast(q))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), round(dot("qv", "nv"), 6).as("score"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("nid"))
    sims.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("qid"), col("rn"), col("nid"), col("score"))
      .orderBy(col("qid"), col("rn"))
  }

  private val v20Sql =
    s"""SELECT qid, rn, nid, score FROM (
       | SELECT q.vec_id AS qid, n.vec_id AS nid,
       |  round(${sqlDot("q.embedding", "n.embedding")}, 6) AS score,
       |  row_number() OVER (PARTITION BY q.vec_id
       |    ORDER BY round(${sqlDot("q.embedding", "n.embedding")}, 6) DESC,
       |      n.vec_id) AS rn
       | FROM embeddings q CROSS JOIN embeddings n
       | WHERE q.vec_id < 10 AND q.vec_id <> n.vec_id)
       |WHERE rn <= 5 ORDER BY qid, rn""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "v20_mips_topk" -> (v20 _),
    "v16_pca_train" -> (v16 _),
    "v17_pca_project" -> (v17 _),
    "v18_pca_deflate" -> (v18 _),
    "v19_adc_rerank" -> (v19 _),
    "v13_sq8_quantize" -> (v13 _),
    "v11_kmeans_train" -> (v11 _),
    "v12_trained_assign" -> (v12 _),
    "v10_pq_adc_topk" -> (v10 _),
    "v1_knn_bruteforce" -> (v1 _),
    "v2_ivf_assign" -> (v2 _),
    "v3_centroid_stats" -> (v3 _),
    "v4_embedding_neardup" -> (v4 _),
    "v5_ivf_blocked_neardup" -> (v5 _),
    "v6_ivf_multiprobe" -> (v6 _),
    "v7_ivf_topk" -> (v7 _),
    "v8_hyperplane_lsh" -> (v8 _),
    "v9_embedding_clusters" -> (v9 _),
    "v14_semdedup_keep" -> (v14 _),
    "v15_outlier_prune" -> (v15 _),
  )

  val oracles: Map[String, String] = Map(
    "v20_mips_topk" -> v20Sql,
    "v16_pca_train" -> v16Sql,
    "v17_pca_project" -> v17Sql,
    "v18_pca_deflate" -> v18Sql,
    "v19_adc_rerank" -> v19Sql,
    "v13_sq8_quantize" -> v13Sql,
    "v10_pq_adc_topk" -> v10Sql,
    "v1_knn_bruteforce" -> v1Sql,
    "v2_ivf_assign" -> v2Sql,
    "v3_centroid_stats" -> v3Sql,
    "v4_embedding_neardup" -> v4Sql,
    "v5_ivf_blocked_neardup" -> v5Sql,
    "v6_ivf_multiprobe" -> v6Sql,
    "v7_ivf_topk" -> v7Sql,
    "v8_hyperplane_lsh" -> v8Sql,
    "v9_embedding_clusters" -> v9Sql,
    "v11_kmeans_train" -> v11Sql,
    "v12_trained_assign" -> v12Sql,
    "v14_semdedup_keep" -> v14Sql,
    "v15_outlier_prune" -> v15Sql,
  )
}
