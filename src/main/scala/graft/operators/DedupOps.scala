package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for a large-scale training-data pipeline:
  * exact (hash groupBy), n-gram/word-set Jaccard, MinHash+LSH, SimHash.
  *
  * Scale notes:
  *  - Exact dedup is a single hash aggregation on a 16-byte digest — the
  *    only thing shuffled is (digest, doc_id).
  *  - Pairwise similarity NEVER does an unblocked cross join: Jaccard
  *    pairs are generated through an inverted (token → docs) index join
  *    *blocked by source*; MinHash pairs come from LSH band buckets;
  *    SimHash pairs are blocked by source. At 100 TB the blocking key
  *    is what bounds the candidate set (band width / block size tuned so
  *    buckets stay small); skew in a hot bucket is handled by AQE skew
  *    splitting.
  *  - MinHash signatures are 32 column-wise min-aggregates (map-side
  *    partial agg) — the signature matrix never materializes per token.
  */
object DedupOps {

  private def normText: Column =
    regexp_replace(lower(trim(col("text"))), "\\s+", " ")

  // D1 — exact dedup summary over the normalized-text digest.
  private def d1(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(md5(normText).as("fp"), col("doc_id"))
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("cnt"))
      .agg(
        sum(col("cnt")).as("n_docs"),
        count(lit(1)).as("n_unique"),
        sum(when(col("cnt") > 1, 1L).otherwise(0L)).as("n_dup_clusters"),
        sum(when(col("cnt") > 1, col("cnt")).otherwise(0L)).as("n_dup_docs"))

  private val d1Sql =
    s"""SELECT ${sqlLsum("cnt")} AS n_docs, count(*) AS n_unique,
       | ${sqlLsum("CASE WHEN cnt > 1 THEN 1 ELSE 0 END")} AS n_dup_clusters,
       | ${sqlLsum("CASE WHEN cnt > 1 THEN cnt ELSE 0 END")} AS n_dup_docs
       |FROM (SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
       |  count(*) AS cnt FROM documents GROUP BY 1)""".stripMargin

  /** (doc_id, source, token) inverted index, distinct tokens per doc.
    * The blocking unit for all pairwise similarity below. */
  private def docTokens(s: SparkSession, d: String, cap: Int): DataFrame =
    // tokens come off the shared tokenized-corpus stage (round 19):
    // every dedup consumer (d2/d3/d7/d11, the CC and LSH stages)
    // previously re-planned its own scan+split subtree; the filter and
    // the distinct-explode run over the checkpointed arrays instead.
    // ts IS split(trim(text), '\s+') — the stage pins the identity.
    // The cap filters AFTER the stage, so it loses scan pushdown: a
    // capped standalone dedup call (no text consumer in the session)
    // still tokenizes and checkpoints the FULL corpus, and the blocks
    // stay for the whole session (until the memo is reset or a new
    // session/sfDir evicts it).
    TextOps.tokenizedDocs(s, d).filter(col("doc_id") < cap)
      .select(col("doc_id"), col("source"),
        explode(array_distinct(col("ts"))).as("w"))

  /** ONE source-blocked inverted-index candidate engine over any
    * (doc_id, source, w) token frame — (da, db, inter, na, nb) per
    * co-occurring pair. Shared by d2/d7 (Jaccard) and d11
    * (containment), so a tokenization or join fix hits all three. */
  private def pairStats(t: DataFrame): DataFrame = {
    val sizes = t.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val a = t.select(col("source"), col("doc_id").as("da"), col("w"))
    val b = t.select(col("source"), col("doc_id").as("db"), col("w"))
    a.join(b, Seq("source", "w"))
      .filter(col("da") < col("db"))
      .groupBy(col("da"), col("db"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.withColumnRenamed("doc_id", "da")
        .withColumnRenamed("n", "na"), Seq("da"))
      .join(sizes.withColumnRenamed("doc_id", "db")
        .withColumnRenamed("n", "nb"), Seq("db"))
  }

  private def jaccardPairs(t: DataFrame, threshold: Double): DataFrame =
    pairStats(t)
      .withColumn("jaccard",
        round(col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("da"), col("db"), col("jaccard"))

  /** The shared thresholds — referenced by BOTH engines' sides so they
    * cannot drift. */
  private val WordSetThreshold = 0.5
  private val ShingleThreshold = 0.12

  // D2 — word-set Jaccard near-dup pairs, blocked by source. The doc_id
  // cap keeps the candidate space fixed across scale factors (a sampling
  // strategy; at 100 TB the block would be an LSH band instead — see d3).
  /** The unsorted pair set ≥ threshold — shared by d2 (user-facing,
    * sorted) and d5 (component input, where ordering would just cost a
    * range shuffle). */
  private def d2Pairs(s: SparkSession, d: String): DataFrame =
    jaccardPairs(docTokens(s, d, 2000), WordSetThreshold)

  private def d2(s: SparkSession, d: String): DataFrame =
    d2Pairs(s, d).orderBy(col("da"), col("db"))

  private val d2Sql = sqlJaccardQuery(wordTokensCte, WordSetThreshold)

  // D11 — asymmetric CONTAINMENT pairs: |A∩B| / min(|A|, |B|) ≥ 0.8.
  // Jaccard (d2) misses doc-in-doc duplication by construction — a tweet
  // quoted inside a long article has tiny Jaccard but containment ≈ 1.
  // This is the quote/subset/boilerplate-wrapper detector a curation
  // pipeline runs NEXT TO symmetric near-dup; same source-blocked
  // inverted-index engine as d2 (one token shuffle, no cross join), the
  // only change is the denominator and the reported direction (which doc
  // is the contained one).
  private val ContainmentThreshold = 0.8

  private def d11(s: SparkSession, d: String): DataFrame =
    pairStats(docTokens(s, d, 2000))
      .withColumn("containment",
        round(col("inter").cast("double") / least(col("na"), col("nb")), 4))
      .filter(col("containment") >= ContainmentThreshold)
      .select(col("da"), col("db"),
        when(col("na") <= col("nb"), col("da")).otherwise(col("db"))
          .as("contained"),
        col("containment"))
      .orderBy(col("da"), col("db"))

  private val d11Sql =
    s"""WITH ${pairCtesOver(wordTokensCte)}
       |SELECT da, db,
       | CASE WHEN sa.n <= sb.n THEN da ELSE db END AS contained,
       | round(CAST(inter AS DOUBLE) / least(sa.n, sb.n), 4) AS containment
       |FROM inter
       |JOIN sizes sa ON sa.doc_id = da
       |JOIN sizes sb ON sb.doc_id = db
       |WHERE round(CAST(inter AS DOUBLE) / least(sa.n, sb.n), 4)
       |  >= $ContainmentThreshold
       |ORDER BY da, db""".stripMargin

  // D3 — MinHash + LSH near-dup candidates.
  //
  // Round 9 made the whole band layout CROSS-ENGINE DETERMINISTIC so the
  // query graduates from rows-only to the full DuckDB hash gate: the
  // token hash is the first 32 bits of md5(w) (both engines agree on the
  // hex digest byte-for-byte — the d1 precedent), the 32 permutations
  // are universal hashes h_i(t) = (a_i·t + b_i) mod P over the Mersenne
  // prime P = 2^31−1 (t < 2^32 and a_i < 2^31 keep every product inside
  // a signed 64-bit lane, which matters because DuckDB's BIGINT
  // arithmetic is overflow-CHECKED, not wrapping), and the band bucket
  // key is the signature 4-tuple ITSELF instead of a second
  // engine-specific hash. The (a_i, b_i) constants come from one fixed
  // LCG that also generates the oracle SQL's literals (the j20 pattern),
  // so the two engines cannot drift. Signature = column-wise min;
  // 8 bands × 4 rows; candidates = docs sharing a band bucket; verified
  // with exact word-set Jaccard ≥ 0.5. This is the scale path for d2:
  // candidate generation is an equi-join on the (band, sig-tuple) key,
  // never a cross join.
  private val NPerm = 32
  private val Bands = 8
  private val RowsPerBand = NPerm / Bands
  private val MinhashP = 2147483647L // 2^31 − 1 (Mersenne prime)

  /** (a_i, b_i) universal-hash constants from a fixed LCG — the single
    * source for BOTH the Spark plan's literals and the generated oracle
    * SQL, so the hash family cannot drift between engines. */
  private val MinhashParams: IndexedSeq[(Long, Long)] = {
    var x = 0x5DEECE66DL
    def next(): Long = {
      x = x * 6364136223846793005L + 1442695040888963407L
      x >>> 33 // 31 bits → every value < P + 1
    }
    (0 until NPerm).map { _ =>
      ((next() % (MinhashP - 1)) + 1, next() % MinhashP)
    }
  }

  /** 32-bit token hash both engines can recompute: hex window of the
    * md5 digest parsed as an integer (1-based `off`, 8 hex chars). */
  private def h32(c: Column, off: Int): Column =
    conv(substring(md5(c), off, 8), 16, 10).cast("long")

  private val bandKey = Seq("band", "s0", "s1", "s2", "s3")

  private def d3(s: SparkSession, d: String): DataFrame =
    lshStage(s, d).orderBy(col("da"), col("db"))

  /** Memoized [[lshVerifiedPairs]] — d3 and d12 are two consumers of
    * ONE signature/band/verify stage (the d5/d6 shared-stage lesson:
    * without the memo each consumer re-runs the whole LSH pipeline).
    * Bench times it cold as `stage:lsh_pairs`. */
  private[graft] val lshStage = new StageMemo(
    lshVerifiedPairs(_, _).localCheckpoint(), releaseCheckpoint)

  /** Bench/test hook: drop the memoized LSH pair stage. */
  def resetLshPairs(): Unit = lshStage.reset()

  /** Bench hook: build + materialize the shared LSH pair stage. */
  def warmLshPairs(s: SparkSession, d: String): Unit = {
    lshStage(s, d); ()
  }

  /** The d3 engine as a reusable frame: LSH band candidates (hot
    * buckets as star edges) verified with exact Jaccard ≥ 0.5 —
    * (da, db, jaccard), unsorted. d12 consumes it filtered to pairs
    * touching the incoming batch. */
  private def lshVerifiedPairs(s: SparkSession, d: String): DataFrame =
    lshVerifiedPairsFrom(docTokens(s, d, 2000))

  /** Warm the LSH stage's generated code on a micro token frame — the
    * 32-permutation signature aggregation, band explode, bucket sizing
    * and verify joins are codegen shapes unique to this stage, which
    * runs once per bench and absorbed their Janino/JIT on its
    * first-and-only run (the contracts/dump-day warm precedent).
    * Corpus-independent. */
  def warmLshCodegen(s: SparkSession): Unit = {
    import s.implicits._
    val t = Seq((1L, "a", "x"), (2L, "a", "x"), (2L, "a", "y"),
      (3L, "b", "y"), (4L, "b", "y"))
      .toDF("doc_id", "source", "w")
    lshVerifiedPairsFrom(t).count(): Unit
  }

  private def lshVerifiedPairsFrom(tokens: DataFrame): DataFrame = {
    val t = tokens.withColumn("h", h32(col("w"), 1))
    // column-wise min over the universal-hash family
    val sigCols = MinhashParams.zipWithIndex.map { case ((a, b), i) =>
      min((col("h") * lit(a) + lit(b)) % lit(MinhashP)).as(s"m$i")
    }
    val sigs = t.groupBy(col("doc_id")).agg(sigCols.head, sigCols.tail: _*)
    // ONE pass over the signatures: explode an array of
    // (band, s0..s3) structs — unioning per-band selects would re-run
    // the whole signature aggregation once per band.
    val bandStructs = array((0 until Bands).map { bi =>
      struct(lit(bi).as("band") +: (0 until RowsPerBand).map(ri =>
        col(s"m${bi * RowsPerBand + ri}").as(s"s$ri")): _*)
    }: _*)
    val bandRows = sigs
      .select(col("doc_id"), explode(bandStructs).as("bb"))
      .select(col("doc_id") +: bandKey.map(k => col(s"bb.$k")): _*)
    // Hot-bucket handling: a bucket shared by k docs yields k²/2
    // candidate pairs. Small buckets emit all pairs; HOT buckets
    // (k > 50 — giant duplicate clusters, exactly what dedup exists to
    // catch) degrade to STAR edges against the bucket's min doc: k−1
    // candidates instead of k²/2, and downstream connected components
    // (d5) recover the identical clusters. Dropping hot buckets
    // outright (round-1 behavior) silently lost the biggest clusters —
    // cluster recall collapsed to 8% on the fixture's 254-doc cliques.
    val sized = bandRows.groupBy(bandKey.map(col): _*)
      .agg(count(lit(1)).as("bsz"), min(col("doc_id")).as("bmin"))
      .filter(col("bsz") >= 2)
    val withSize = bandRows.join(sized, bandKey)
    val small = withSize.filter(col("bsz") <= 50)
    val a = small.select(bandKey.map(col) :+ col("doc_id").as("da"): _*)
    val b = small.select(bandKey.map(col) :+ col("doc_id").as("db"): _*)
    val smallPairs = a.join(b, bandKey)
      .filter(col("da") < col("db"))
      .select(col("da"), col("db"))
    val starPairs = withSize
      .filter(col("bsz") > 50 && col("doc_id") =!= col("bmin"))
      .select(col("bmin").as("da"), col("doc_id").as("db"))
    val cand = smallPairs.unionByName(starPairs).distinct()
    // verify candidates with exact Jaccard (inner: a candidate pair with
    // no shared token can never reach 0.5)
    val sizes = t.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = t.select(col("doc_id").as("da"), col("w"))
      .join(cand, Seq("da"))
      .join(t.select(col("doc_id").as("db"), col("w")), Seq("db", "w"))
      .groupBy(col("da"), col("db"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "da")
        .withColumnRenamed("n", "na"), Seq("da"))
      .join(sizes.withColumnRenamed("doc_id", "db")
        .withColumnRenamed("n", "nb"), Seq("db"))
      .withColumn("jaccard",
        round(col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")), 4))
      .filter(col("jaccard") >= 0.5)
      .select(col("da"), col("db"), col("jaccard"))
  }

  // D12 — INCREMENTAL dedup: today's batch (doc_id ≥ 400) against the
  // standing corpus — the operational shape of near-dup at 100 TB (the
  // standing signature index persists; only pairs TOUCHING the new
  // batch are candidates, so daily cost scales with the batch, not the
  // corpus). Each new doc reports its best match (max Jaccard, ties to
  // the smallest partner id) into the standing corpus or earlier in
  // its own batch, or null if it is genuinely new.
  private val NewBatchFrom = 400L

  private def d12(s: SparkSession, d: String): DataFrame = {
    // verified pairs have da < db, so "db is new" is exactly "partner
    // is EARLIER" — standing corpus or earlier in the batch. Admitting
    // later-batch partners (the da-side branch) would create mutual
    // dup_of cycles: two identical new docs each pointing at the other,
    // and a first-seen-wins consumer would drop every copy.
    val directed = lshStage(s, d)
      .filter(col("db") >= NewBatchFrom)
      .select(col("db").as("new_id"), col("da").as("partner"),
        col("jaccard"))
    val w = Window.partitionBy(col("new_id"))
      .orderBy(col("jaccard").desc, col("partner"))
    val best = directed.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("new_id"), col("partner"), col("jaccard"))
    Tables.documents(s, d)
      .filter(col("doc_id") >= NewBatchFrom && col("doc_id") < 2000)
      .select(col("doc_id").as("new_id"))
      .join(best, Seq("new_id"), "left")
      .select(col("new_id"), col("partner").as("dup_of"), col("jaccard"),
        col("partner").isNotNull.as("is_dup"))
      .orderBy(col("new_id"))
  }

  private def d12Sql: String = {
    // reuse the d3 CTE chain verbatim up to the verified pair set
    s"""WITH v AS (
       |$d3SqlBody
       |),
       |dir AS (
       |  SELECT db AS new_id, da AS partner, jaccard FROM v
       |  WHERE db >= $NewBatchFrom),
       |best AS (SELECT new_id, partner, jaccard FROM (
       |  SELECT dir.*, row_number() OVER (PARTITION BY new_id
       |    ORDER BY jaccard DESC, partner) AS rn FROM dir)
       |  WHERE rn = 1)
       |SELECT d.doc_id AS new_id, b.partner AS dup_of, b.jaccard,
       | b.partner IS NOT NULL AS is_dup
       |FROM (SELECT doc_id FROM documents
       |      WHERE doc_id >= $NewBatchFrom AND doc_id < 2000) d
       |LEFT JOIN best b ON b.new_id = d.doc_id
       |ORDER BY new_id""".stripMargin
  }

  // D4 — SimHash near-dup pairs. 64-bit signature: bit j set iff
  // Σ_tokens (bit_j(h) ? +1 : −1) > 0; near-dups = pairs within the same
  // source at Hamming distance ≤ 3. Round 9: the token hash is the two
  // 32-bit halves of md5(w) and the signature is carried as two 32-bit
  // words (lo, hi) — both engines keep every value positive inside a
  // signed 64-bit lane, so the FULL signature and the Hamming pairs are
  // reproduced bit-for-bit by the DuckDB oracle (rows-only no more).
  private def d4(s: SparkSession, d: String): DataFrame = {
    val t = docTokens(s, d, 2000)
      .withColumn("h1", h32(col("w"), 1))
      .withColumn("h2", h32(col("w"), 9))
    val bitSums =
      (0 until 32).map { j =>
        sum(when(expr(s"(h1 >> $j) & 1") === 1, 1).otherwise(-1)).as(s"a$j")
      } ++ (0 until 32).map { j =>
        sum(when(expr(s"(h2 >> $j) & 1") === 1, 1).otherwise(-1)).as(s"b$j")
      }
    val agg = t.groupBy(col("doc_id"), col("source"))
      .agg(bitSums.head, bitSums.tail: _*)
    def word(p: String): Column = (0 until 32).map { j =>
      when(col(s"$p$j") > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
    val sh = agg.select(col("doc_id"), col("source"),
      word("a").as("lo"), word("b").as("hi"))
    val a = sh.select(col("source"), col("doc_id").as("da"),
      col("lo").as("loa"), col("hi").as("hia"))
    val b = sh.select(col("source"), col("doc_id").as("db"),
      col("lo").as("lob"), col("hi").as("hib"))
    a.join(b, Seq("source")).filter(col("da") < col("db"))
      .withColumn("hamming",
        (bit_count(col("loa").bitwiseXOR(col("lob"))) +
          bit_count(col("hia").bitwiseXOR(col("hib")))).cast("int"))
      .filter(col("hamming") <= 3)
      .select(col("da"), col("db"), col("hamming"))
      .orderBy(col("da"), col("db"))
  }

  /** Token CTE shared by the d3/d4 oracles: distinct words per doc with
    * the md5-derived 32-bit hash halves (h = first half, h2 = second). */
  private def hashedTokensCte: String =
    """th AS (
      |  SELECT doc_id, source, w,
      |    CAST('0x' || substr(md5(w), 1, 8) AS BIGINT) AS h,
      |    CAST('0x' || substr(md5(w), 9, 8) AS BIGINT) AS h2
      |  FROM (SELECT doc_id, source, unnest(list_distinct(
      |    string_split_regex(trim(text), '\s+'))) AS w
      |   FROM documents WHERE doc_id < 2000))""".stripMargin

  /** Oracle twin of [[d3]]: the SAME LCG constants render into SQL, the
    * band layout is replayed tuple-for-tuple (incl. the hot-bucket star
    * degrade), and candidates verify with exact Jaccard ≥ 0.5. */
  private def d3Sql: String = d3SqlBody + "\nORDER BY da, db"

  /** The verified-pair query WITHOUT the final ordering — shared
    * structurally with d12Sql (no fragile suffix-stripping). */
  private def d3SqlBody: String = {
    val sigExprs = MinhashParams.zipWithIndex.map { case ((a, b), i) =>
      s"min((h * $a + $b) % $MinhashP) AS m$i"
    }.mkString(",\n   ")
    val bandSelects = (0 until Bands).map { bi =>
      val ms = (0 until RowsPerBand).zipWithIndex.map { case (ri, _) =>
        s"m${bi * RowsPerBand + ri} AS s$ri"
      }.mkString(", ")
      s"SELECT doc_id, $bi AS band, $ms FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""WITH $hashedTokensCte,
       |sig AS (SELECT doc_id,
       |   $sigExprs
       |  FROM th GROUP BY 1),
       |bands AS (
       |  $bandSelects),
       |sized AS (SELECT band, s0, s1, s2, s3, count(*) AS bsz,
       |   min(doc_id) AS bmin
       |  FROM bands GROUP BY 1, 2, 3, 4, 5 HAVING count(*) >= 2),
       |wb AS (SELECT b.doc_id, b.band, b.s0, b.s1, b.s2, b.s3,
       |   s.bsz, s.bmin
       |  FROM bands b JOIN sized s USING (band, s0, s1, s2, s3)),
       |cand AS (
       |  SELECT DISTINCT da, db FROM (
       |    SELECT a.doc_id AS da, b.doc_id AS db
       |    FROM wb a JOIN wb b USING (band, s0, s1, s2, s3)
       |    WHERE a.bsz <= 50 AND a.doc_id < b.doc_id
       |    UNION ALL
       |    SELECT bmin AS da, doc_id AS db FROM wb
       |    WHERE bsz > 50 AND doc_id <> bmin)),
       |sizes AS (SELECT doc_id, count(*) AS n FROM th GROUP BY 1),
       |inter AS (SELECT c.da, c.db, count(*) AS inter
       |  FROM cand c JOIN th a ON a.doc_id = c.da
       |  JOIN th b ON b.doc_id = c.db AND b.w = a.w
       |  GROUP BY 1, 2)
       |SELECT i.da, i.db,
       | round(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 4) AS jaccard
       |FROM inter i
       |JOIN sizes sa ON sa.doc_id = i.da
       |JOIN sizes sb ON sb.doc_id = i.db
       |WHERE round(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 4) >= 0.5""".stripMargin
  }

  /** Oracle twin of [[d4]]: per-bit votes via a lateral `range(0, 32)`,
    * signature halves rebuilt with exact powers of two, Hamming over
    * `bit_count(xor(...))` on each half. */
  private def d4Sql: String =
    s"""WITH $hashedTokensCte,
       |bits AS (SELECT doc_id, source, j,
       |   sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS v1,
       |   sum(CASE WHEN (h2 >> j) & 1 = 1 THEN 1 ELSE -1 END) AS v2
       |  FROM th, unnest(range(0, 32)) AS r(j) GROUP BY 1, 2, 3),
       |sh AS (SELECT doc_id, source,
       |   CAST(sum(CASE WHEN v1 > 0 THEN power(2, j) ELSE 0 END) AS BIGINT) AS lo,
       |   CAST(sum(CASE WHEN v2 > 0 THEN power(2, j) ELSE 0 END) AS BIGINT) AS hi
       |  FROM bits GROUP BY 1, 2)
       |SELECT a.doc_id AS da, b.doc_id AS db,
       | CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) AS INTEGER) AS hamming
       |FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3
       |ORDER BY da, db""".stripMargin

  // D7 — w-shingling: 3-word-shingle Jaccard (the n-gram variant of
  // d2's word-set similarity — shingles preserve local word ORDER, so
  // reordered boilerplate no longer counts as near-duplicate). Same
  // source-blocked inverted-index join; the shingle set is built with
  // codegen'd higher-order functions, no UDF.
  /** Distinct 3-word shingles of any (doc_id, source, text) frame —
    * the blocking/overlap unit for d7 and the decontamination pass. */
  def shingles3(docs: DataFrame): DataFrame =
    docs
      .withColumn("t", expr("split(trim(text), '\\\\s+')"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), col("source"),
        explode(array_distinct(expr(
          "transform(sequence(0, size(t) - 3), " +
            "i -> concat_ws(' ', t[i], t[i+1], t[i+2]))"))).as("w"))

  private def docShingles(s: SparkSession, d: String, cap: Int): DataFrame =
    shingles3(spread(Tables.documents(s, d).filter(col("doc_id") < cap)
      .select(col("doc_id"), col("source"), col("text"))))

  private def d7(s: SparkSession, d: String): DataFrame =
    jaccardPairs(docShingles(s, d, 2000), ShingleThreshold)
      .orderBy(col("da"), col("db"))

  // DuckDB lists are 1-indexed; range(1, len-1) yields i ∈ [1, len-2],
  // so tk[i]..tk[i+2] are exactly the 3-shingles.
  private def shingleTokensCte: String =
    """t AS (
      |  SELECT doc_id, source, unnest(list_distinct(list_transform(
      |    range(1, len(tk) - 1),
      |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS w
      |  FROM (SELECT doc_id, source,
      |     string_split_regex(trim(text), '\s+') AS tk
      |    FROM documents WHERE doc_id < 2000)
      |  WHERE len(tk) >= 3)""".stripMargin

  private val d7Sql = sqlJaccardQuery(shingleTokensCte, ShingleThreshold)

  /** Connected components over an undirected edge list: per round,
    * (1) each node takes the smallest label in its closed neighborhood,
    * then (2) pointer-jumps to its label's label — the path-halving
    * step that makes convergence O(log diameter) rounds, so deep
    * chain-shaped components (incrementally edited doc series) don't
    * blow the iteration budget. Every round is three distributed hash
    * joins + an aggregate (no driver-side graph); lineage is truncated
    * per round with eager localCheckpoint, and the previous round's
    * blocks are unpersisted, so plans stay flat and storage stays
    * bounded in a long-lived session.
    *
    * This is the cluster-assignment step a training-data dedup pipeline
    * runs AFTER pair generation (d2/d3/d4/v4): pairs → components →
    * keep one canonical doc per cluster. */
  def connectedComponents(edges: DataFrame, a: String, b: String,
      maxIter: Int = 50, edgeCap: Long = 200_000L): DataFrame = {
    val sym = edges.select(col(a).as("src"), col(b).as("dst"))
      .unionByName(edges.select(col(b).as("src"), col(a).as("dst")))
      .persist()
    // Size dispatch (the IVF-codebook literal-vs-broadcast pattern):
    // a graph under `edgeCap` symmetric edges (~3 MB of long pairs)
    // labels in milliseconds with driver union-find instead of paying
    // ~10 distributed rounds of fixed job overhead; both paths produce
    // the SAME min-node-per-component labels (ComponentsSpec pins them
    // equal on random graphs), so crossing the threshold can never
    // change results. The count is free — it materializes the persisted
    // `sym` that round 1 would materialize anyway. Long-typed nodes
    // only; anything else takes the distributed loop.
    val longNodes = Seq("src", "dst").forall(n =>
      sym.schema(n).dataType ==
        org.apache.spark.sql.types.LongType)
    if (longNodes && sym.count() <= edgeCap) {
      import edges.sparkSession.implicits._
      val es = sym.as[(Long, Long)].collect()
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      es.foreach { case (s2, d2) =>
        parent.getOrElseUpdate(s2, s2)
        parent.getOrElseUpdate(d2, d2)
        val (rs, rd) = (find(s2), find(d2))
        if (rs != rd) parent(rs) = rd
      }
      val minOf = scala.collection.mutable.Map[Long, Long]()
      parent.keys.foreach { n =>
        val r = find(n)
        minOf(r) = math.min(minOf.getOrElse(r, n), n)
      }
      val out = parent.keys.toSeq.map(n => (n, minOf(find(n))))
      sym.unpersist()
      return out.toDF("node", "label")
    }
    // `ckpt` is always THE checkpointed frame of the current round —
    // unpersist must target it, not a projection derived from it
    var ckpt = sym.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
      .localCheckpoint(true)
    var labels = ckpt
    var changed = 1L
    var iter = 0
    val spark = edges.sparkSession
    while (changed > 0 && iter < maxIter) {
      // (1) neighbor min
      val nmin = sym.join(labels, col("dst") === col("node"))
        .groupBy(col("src"))
        .agg(min(col("label")).as("nmin"))
      val stepped = labels.join(nmin, col("node") === col("src"), "left")
        .select(col("node"), col("label").as("old_label"),
          least(col("label"), coalesce(col("nmin"), col("label")))
            .as("label"))
      // (2) pointer jumping: node's label := its label's label — every
      // label is itself a node, so one self-join halves propagation
      // paths and convergence is O(log diameter), not O(diameter)
      val lab2 = stepped
        .select(col("node").as("jnode"), col("label").as("jlabel"))
      // the convergence counter rides INSIDE the checkpoint job (an
      // accumulator bumped per changed row) — no separate count job per
      // round. A task retry can only over-count, which at worst buys one
      // extra (no-op) round, never a premature stop.
      val acc = spark.sparkContext.longAccumulator(s"cc_changed_$iter")
      val bump = udf { changedRow: Boolean =>
        if (changedRow) acc.add(1L)
        changedRow
      }.asNondeterministic()
      val next = stepped.join(lab2, col("label") === col("jnode"), "left")
        .select(col("node"), col("old_label"),
          least(col("label"), coalesce(col("jlabel"), col("label")))
            .as("next_label"))
        .withColumn("ch", bump(col("next_label") < col("old_label")))
        .localCheckpoint(true) // the round's ONLY materialization + count
      changed = acc.value
      // drop the previous round's blocks so a long session doesn't
      // accumulate one checkpointed set per round; the new labels view
      // is a trivial projection over the just-checkpointed `next`.
      // (releaseCheckpoint, not Dataset.unpersist: checkpoint blocks
      // live on the plan's LogicalRDD, outside the CacheManager)
      releaseCheckpoint(ckpt)
      ckpt = next
      labels = next.select(col("node"), col("next_label").as("label"))
      iter += 1
    }
    sym.unpersist()
    require(changed == 0,
      s"connectedComponents did not converge in $maxIter rounds")
    labels
  }

  /** Warm the distributed-CC loop's generated code on a 2-edge micro
    * frame (edgeCap = 0 forces the pointer-jumping path), so the timed
    * stage:ccdist_labels line measures the loop, not Janino/JIT
    * (measured: first run 5.5 s vs 2.2 s warm — the loop body's
    * join + min-agg + least/coalesce + accumulator-UDF + checkpoint
    * shapes all codegen on round 1). Corpus-independent: never touches
    * sfDir. The same shapes serve the dispatched stage (d5/d6) when a
    * real corpus crosses the edge cap. */
  def warmCcCodegen(s: SparkSession): Unit = {
    import s.implicits._
    val tiny = Seq((1L, 2L), (3L, 4L)).toDF("da", "db")
    val labels = connectedComponents(tiny, "da", "db", edgeCap = 0L)
    releaseCheckpoint(labels)
  }

  /** Component labels of the word-set near-dup graph, memoized one slot
    * per (session, sfDir): d5 and d6 are two consumers of ONE
    * pairs→components stage — a real dedup pipeline computes cluster
    * labels once and both reports on them and filters with them. The
    * labels frame is already eagerly materialized (localCheckpoint), so
    * reuse costs nothing; recomputing it per consumer re-ran the whole
    * pair scan + iterative CC (round-4 bench: d6 at 6.0 s was 16 % of
    * the suite). Single slot keeps the cache bounded — a new (session,
    * dir) evicts the old entry. */
  private[graft] val labelsStage = new StageMemo(
    (s, d) => connectedComponents( // materializes its own labels
      d2Pairs(s, d).select(col("da"), col("db")), "da", "db"),
    releaseCheckpoint)

  /** Free the checkpointed blocks behind a [[connectedComponents]]
    * result: the labels frame is a projection over a localCheckpoint'd
    * plan, so `df.unpersist()` would miss the cached RDD — the blocks
    * live on the LogicalRDD node(s) inside the analyzed plan. */
  private[graft] def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }.foreach(_.unpersist(false))

  /** Bench/test hook: drop the memoized labels stage (and its cached
    * blocks) so the next consumer pays the full pairs→CC cost. */
  def resetWordSetLabels(): Unit = labelsStage.reset()

  /** Bench hook: build + materialize the shared pairs→CC labels stage
    * for (s, d). Callers time this to make the one-time stage cost a
    * visible bench line (min-of-reps hides it otherwise). */
  def warmWordSetLabels(s: SparkSession, d: String): Unit = {
    labelsStage(s, d); ()
  }

  /** Bench hook: the forced-DISTRIBUTED twin of [[warmWordSetLabels]].
    * Size dispatch routes every test-SF corpus through the driver
    * union-find, which would leave a regression in the pointer-jumping
    * loop (the path real above-cap corpora take) invisible to the bench
    * trend guard — so the bench times this stage with `edgeCap = 0`
    * as its own line. Not memoized: the query consumers keep their
    * dispatched artifact, and the checkpoint blocks are released here. */
  def warmWordSetLabelsDistributed(s: SparkSession, d: String): Unit = {
    val pairs = d2Pairs(s, d).select(col("da"), col("db"))
    val labels = connectedComponents(pairs, "da", "db", edgeCap = 0L)
    releaseCheckpoint(labels)
  }

  // D5 — near-dup cluster assignment: d2's Jaccard pairs → connected
  // components → per-cluster stats. Oracle = DuckDB transitive closure
  // (recursive CTE) over the identical pair set, so the component
  // labels are verified cross-engine, not just row-counted.
  // Note: the iterative rounds execute EAGERLY (localCheckpoint), so a
  // plan audit of this query sees only the final groupBy over the
  // checkpointed labels — the pair-stage plan is audited via d2.
  private def d5(s: SparkSession, d: String): DataFrame =
    labelsStage(s, d)
      .groupBy(col("label").as("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"),
        max(col("node")).as("max_doc"))
      .orderBy(col("cluster_id"))

  // ---- shared oracle CTE builders (defs: the *Sql vals above
  // initialize earlier in the object than this definition site) ----

  /** The word-set token CTE (d2/d5/d6's `t`). */
  private def wordTokensCte: String =
    """t AS (
      |  SELECT doc_id, source, unnest(list_distinct(
      |    string_split_regex(trim(text), '\s+'))) AS w
      |  FROM documents WHERE doc_id < 2000)""".stripMargin

  /** ONE pair-CTE chain over any token CTE so the oracles (d2/d7 AND
    * the d5/d6 closure) cannot drift apart — cap / threshold /
    * tokenization changes hit every consumer. */
  private def pairCtesOver(tokensCte: String): String =
    s"""$tokensCte,
       |sizes AS (SELECT doc_id, count(*) AS n FROM t GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
       |  FROM t a JOIN t b ON a.source = b.source AND a.w = b.w
       |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2)""".stripMargin

  /** Oracle twin of [[jaccardPairs]]: full query over a token CTE. */
  private def sqlJaccardQuery(tokensCte: String,
      threshold: Double): String =
    s"""WITH ${pairCtesOver(tokensCte)}
       |SELECT da, db,
       | round(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 4) AS jaccard
       |FROM inter
       |JOIN sizes sa ON sa.doc_id = da
       |JOIN sizes sb ON sb.doc_id = db
       |WHERE round(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 4) >= $threshold
       |ORDER BY da, db""".stripMargin

  /** Shared reachability-closure CTE chain (word-set pairs at the d2
    * threshold) — used by both d5 (cluster stats) and d6
    * (canonical-doc filter). */
  private def closureCtes: String =
    s"""${pairCtesOver(wordTokensCte)},
       |pairs AS (
       |  SELECT da, db FROM inter
       |  JOIN sizes sa ON sa.doc_id = da
       |  JOIN sizes sb ON sb.doc_id = db
       |  WHERE round(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 4) >= $WordSetThreshold),
       |edges AS (
       |  SELECT da AS a, db AS b FROM pairs
       |  UNION SELECT db, da FROM pairs),
       |reach AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       |labels AS (
       |  SELECT a AS node, least(a, min(b)) AS label FROM reach GROUP BY a)""".stripMargin

  private val d5Sql =
    s"""WITH RECURSIVE $closureCtes
       |SELECT label AS cluster_id, count(*) AS cluster_size,
       | max(node) AS max_doc
       |FROM labels GROUP BY 1 ORDER BY cluster_id""".stripMargin

  // D6 — the dedup pipeline's FINAL artifact: drop every non-canonical
  // cluster member (keep the min-doc_id representative), summarized per
  // source. Anti-join against the component labels; oracle = the same
  // closure in DuckDB.
  private def d6(s: SparkSession, d: String): DataFrame = {
    val dropped = labelsStage(s, d)
      .filter(col("node") =!= col("label"))
      .select(col("node").as("doc_id"))
    Tables.documents(s, d).filter(col("doc_id") < 2000)
      .join(dropped, Seq("doc_id"), "left_anti")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"))
      .orderBy(col("source"))
  }

  private val d6Sql =
    s"""WITH RECURSIVE $closureCtes
       |SELECT source, count(*) AS n_kept
       |FROM documents
       |WHERE doc_id < 2000 AND doc_id NOT IN (
       |  SELECT node FROM labels WHERE node <> label)
       |GROUP BY source ORDER BY source""".stripMargin

  private val d10Sql =
    s"""WITH RECURSIVE $closureCtes,
       |csizes AS (SELECT label, count(*) AS csize FROM labels
       | GROUP BY label),
       |lbl AS (SELECT l.node AS doc_id, c.csize
       | FROM labels l JOIN csizes c USING (label))
       |SELECT d.source, count(*) AS n_docs,
       | ${sqlLsum("CASE WHEN coalesce(lbl.csize, 1) > 1 THEN 1 ELSE 0 END")}
       |  AS n_clustered,
       | ${sqlDecOut(
            "sum(CAST(CAST(1.0 AS DOUBLE) / CAST(coalesce(lbl.csize, 1)" +
              " AS DOUBLE) AS DECIMAL(38,12)))")} AS effective_docs
       |FROM documents d LEFT JOIN lbl ON lbl.doc_id = d.doc_id
       |WHERE d.doc_id < 2000
       |GROUP BY d.source ORDER BY source""".stripMargin

  // D10 — SOFT dedup: instead of d6's hard drop, every near-dup
  // cluster member keeps membership at sampling weight 1/|cluster| —
  // the published alternative when duplicates carry signal (a document
  // repeated k times contributes ~once in expectation rather than k
  // times or exactly once). Reuses the memoized pairs→CC labels stage;
  // the per-label size rollup and the label join are both bounded by
  // the (small) clustered set, so at 100 TB the corpus-side left join
  // broadcasts the labels. Weight = one IEEE division of exact
  // operands; the per-source effective-size sum runs through
  // DECIMAL(38,12) (order-independent).
  private def d10(s: SparkSession, d: String): DataFrame = {
    val labels = labelsStage(s, d)
    val sizes = labels.groupBy(col("label"))
      .agg(count(lit(1)).as("csize"))
    val labeled = labels.join(sizes, "label")
      .select(col("node").as("doc_id"), col("csize"))
    Tables.documents(s, d).filter(col("doc_id") < 2000)
      .join(broadcast(labeled), Seq("doc_id"), "left")
      .withColumn("csize", coalesce(col("csize"), lit(1L)))
      .withColumn("wt", lit(1.0) / col("csize").cast("double"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("csize") > 1, 1L).otherwise(0L)).as("n_clustered"),
        decOut(sum(dec12(col("wt")))).as("effective_docs"))
      .orderBy(col("source"))
  }

  // D8 — chunk-level exact dedup audit: non-overlapping 16-word chunks,
  // per-source counts of chunk instances whose text repeats anywhere in
  // the corpus — the boilerplate-removal audit a pretraining pipeline
  // runs BELOW document granularity (whole-doc dedup misses repeated
  // headers/footers inside otherwise-distinct docs). Scale shape: one
  // hash aggregation keyed on the chunk text (at 100 TB the group key
  // would be xxhash64(chunk) to shuffle 8 bytes instead of strings —
  // kept as text here for cross-engine oracle parity; the plan is the
  // same single shuffle either way).
  private val ChunkWords = 16

  private def d8(s: SparkSession, d: String): DataFrame = {
    val chunks = spread(Tables.documents(s, d))
      .select(col("doc_id"), col("source"),
        expr("split(trim(text), '\\\\s+')").as("tk"))
      .withColumn("nc", (size(col("tk")) / ChunkWords).cast("int"))
      .filter(col("nc") > 0)
      .select(col("doc_id"), col("source"),
        explode(expr(s"transform(sequence(0, nc - 1), " +
          s"i -> concat_ws(' ', slice(tk, i * $ChunkWords + 1, " +
          s"$ChunkWords)))")).as("chunk"))
    val freq = chunks.groupBy(col("chunk"))
      .agg(count(lit(1)).as("freq"))
    chunks.join(freq, Seq("chunk"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("freq") > 1, 1L).otherwise(0L))
          .as("n_dup_instances"),
        countDistinct(col("chunk")).as("n_distinct_chunks"))
      .orderBy(col("source"))
  }

  private val d8Sql =
    s"""WITH ch AS (
       |  SELECT doc_id, source,
       |    array_to_string(tk[(i*$ChunkWords+1):(i*$ChunkWords+$ChunkWords)], ' ') AS chunk
       |  FROM (SELECT doc_id, source,
       |     string_split_regex(trim(text), '\\s+') AS tk FROM documents),
       |   unnest(range(0, len(tk)//$ChunkWords)) AS t(i)
       |  WHERE len(tk) >= $ChunkWords),
       |freq AS (SELECT chunk, count(*) AS freq FROM ch GROUP BY 1)
       |SELECT source, count(*) AS n_chunks,
       | ${sqlLsum("CASE WHEN freq > 1 THEN 1 ELSE 0 END")} AS n_dup_instances,
       | count(DISTINCT chunk) AS n_distinct_chunks
       |FROM ch JOIN freq USING (chunk)
       |GROUP BY source ORDER BY source""".stripMargin

  // D9 — duplicated-SUBSTRING spans (the word-level shape of exact
  // substring dedup à la "Deduplicating Training Data Makes Language
  // Models Better": whole-doc dedup misses a paragraph pasted into 50
  // otherwise-distinct pages). A position is duplicated iff its N-word
  // gram occurs ≥ 2 times anywhere in the corpus (other doc OR other
  // offset); overlapping/adjacent covered intervals [pos, pos+N−1]
  // merge into maximal spans via gaps-and-islands. Output = per-doc
  // span list with gram counts — the byte ranges a pipeline would cut.
  //
  // Scale shape: ONE gram-keyed shuffle for the frequency table
  // (map-side combine; at 100 TB the key would be xxhash64(gram) to
  // shuffle 8 bytes — kept as text for cross-engine oracle parity, the
  // plan is the same single shuffle either way), one equi-join back,
  // and a per-doc window bounded by document length — never global.
  private val SpanGramWords = 8

  /** Duplicated-substring spans of any (doc_id, text) frame — see d9.
    * Exposed so the span-merge semantics are golden-testable on
    * synthetic docs independent of the fixture tables. */
  def dupSpans(docs: DataFrame, n: Int): DataFrame = {
    val g = docs
      .select(col("doc_id"), expr("split(trim(text), '\\\\s+')").as("t"))
      .filter(size(col("t")) >= n)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, size(t) - $n), i -> " +
          s"struct(i AS pos, concat_ws(' ', slice(t, i + 1, $n)) " +
          "AS gram))")).as("pg"))
      // pos rides as LONG so min/max agree with DuckDB's BIGINT range()
      .select(col("doc_id"), col("pg.pos").cast("long").as("pos"),
        col("pg.gram").as("gram"))
    val dupGrams = g.groupBy(col("gram"))
      .agg(count(lit(1)).as("freq"))
      .filter(col("freq") > 1)
      .select(col("gram"))
    val dup = g.join(dupGrams, Seq("gram"))
      .select(col("doc_id"), col("pos"))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    dup
      .withColumn("lp", lag(col("pos"), 1, 0L).over(byDoc))
      .withColumn("brk",
        when(col("pos") - col("lp") > n, 1L).otherwise(0L))
      .withColumn("island", sum(col("brk")).over(byDoc))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + n - 1).as("span_end"),
        count(lit(1)).as("n_dup_grams"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        col("n_dup_grams"))
      .orderBy(col("doc_id"), col("span_start"))
  }

  private def d9(s: SparkSession, d: String): DataFrame =
    dupSpans(
      spread(Tables.documents(s, d).filter(col("doc_id") < 2000))
        .select(col("doc_id"), col("text")),
      SpanGramWords)

  private def d9Sql: String = {
    val n = SpanGramWords
    s"""WITH tk AS (SELECT doc_id,
       |   string_split_regex(trim(text), '\\s+') AS t
       |  FROM documents WHERE doc_id < 2000),
       |g AS (SELECT doc_id, i AS pos,
       |   array_to_string(t[(i+1):(i+$n)], ' ') AS gram
       |  FROM tk, unnest(range(0, len(t) - $n + 1)) AS r(i)),
       |f AS (SELECT gram FROM g GROUP BY gram HAVING count(*) > 1),
       |d AS (SELECT doc_id, pos FROM g JOIN f USING (gram)),
       |isl AS (SELECT doc_id, pos,
       |   sum(CASE WHEN pos - lp > $n THEN 1 ELSE 0 END)
       |    OVER (PARTITION BY doc_id ORDER BY pos) AS island
       |  FROM (SELECT doc_id, pos,
       |    lag(pos, 1, 0) OVER (PARTITION BY doc_id ORDER BY pos) AS lp
       |   FROM d))
       |SELECT doc_id, min(pos) AS span_start,
       | max(pos) + $n - 1 AS span_end,
       | count(*) AS n_dup_grams
       |FROM isl GROUP BY doc_id, island
       |ORDER BY doc_id, span_start""".stripMargin
  }

  // C1 — benchmark decontamination: the eval-set n-gram overlap check a
  // training pipeline runs before a corpus ships. The "benchmark" side is
  // the deterministic doc_id % 100 == 0 slice; a training doc is
  // contaminated if it shares ≥ 2 distinct 3-word shingles with any eval
  // doc. The eval shingle set is tiny relative to the corpus — it
  // BROADCASTS, so the scan side never shuffles: the 100 TB shape is one
  // broadcast-hash semi-join per eval release, not an n×m shingle join.
  /** Decontamination core: (train doc, eval doc) pairs sharing at least
    * `minShared` distinct shingles. `sh` is a shingle frame
    * ([[shingles3]] shape); `isEval` selects the benchmark slice, which
    * is assumed tiny relative to the corpus and is broadcast. */
  def contaminatedPairs(sh: DataFrame, isEval: Column,
      minShared: Int): DataFrame = {
    val ev = sh.filter(isEval)
      .select(col("doc_id").as("eid"), col("w"))
    val tr = sh.filter(!isEval)
      .select(col("doc_id").as("tid"), col("source"), col("w"))
    tr.join(broadcast(ev), Seq("w"))
      .groupBy(col("tid"), col("source"), col("eid"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  private def c1(s: SparkSession, d: String): DataFrame =
    contaminatedPairs(docShingles(s, d, 2000),
      col("doc_id") % 100 === 0, minShared = 2)
      .groupBy(col("source"))
      .agg(countDistinct(col("tid")).as("n_contaminated"),
        count(lit(1)).as("n_pairs"),
        max(col("n_shared")).as("max_overlap"))
      .orderBy(col("source"))

  private val c1Sql =
    s"""WITH $shingleTokensCte,
       |ev AS (SELECT doc_id AS eid, w FROM t WHERE doc_id % 100 = 0),
       |tr AS (SELECT doc_id AS tid, source, w FROM t WHERE doc_id % 100 <> 0),
       |ov AS (SELECT tid, source, eid, count(*) AS n_shared
       |  FROM tr JOIN ev USING (w) GROUP BY 1, 2, 3
       |  HAVING count(*) >= 2)
       |SELECT source, count(DISTINCT tid) AS n_contaminated,
       | count(*) AS n_pairs, max(n_shared) AS max_overlap
       |FROM ov GROUP BY source ORDER BY source""".stripMargin

  // C2 — Bloom-filter decontamination: the MEMBERSHIP-AT-SCALE variant of
  // c1. c1 broadcasts the eval shingle SET, which is fine while the eval
  // suite is small; when the blocklist side grows to billions of n-grams
  // (every public benchmark + their paraphrase banks), what ships to
  // executors must be O(bits), not O(strings) — a Bloom filter. The
  // filter here is fully relational and deterministic: m = 65536 bits,
  // k = 3 probe positions per shingle from disjoint 8-hex windows of
  // md5(shingle) — so DuckDB rebuilds the exact same bit set and the
  // whole probe (INCLUDING the false positives) is hash-verified. The
  // output quantifies the tradeoff in-query: bloom hits vs exact hits
  // per source = the measured FP surplus at this m/k and load. At 100 TB
  // the bit set is a broadcast of at most m rows (the 8 KB bitmap shape)
  // and the corpus side never shuffles — same contract as c1.
  private val BloomBits = 65536
  private val BloomK = 3

  /** The k probe positions of a shingle, deduplicated (a self-collision
    * lowers the row count, so presence is judged against size(own)).
    * `bits` is overridable so specs can shrink the space and force the
    * false-positive path deterministically. */
  def bloomPositions(c: Column, bits: Int = BloomBits): Column =
    array_distinct(array((0 until BloomK).map(j =>
      h32(c, 1 + 8 * j) % bits): _*))

  private def sqlBloomPositions(x: String): String =
    "list_distinct([" + (0 until BloomK).map(j =>
      s"CAST('0x' || substr(md5($x), ${1 + 8 * j}, 8) AS BIGINT) % $BloomBits")
      .mkString(", ") + "])"

  private def c2(s: SparkSession, d: String): DataFrame = {
    val sh = docShingles(s, d, 2000)
    val ev = sh.filter(col("doc_id") % 100 === 0)
    // localCheckpoint: the bit set feeds K broadcast probes below —
    // without the pin each probe join re-derives the eval scan +
    // explode + distinct (the subtree would plan k times)
    val bits = ev.select(explode(bloomPositions(col("w"))).as("bit"))
      .distinct()
      .localCheckpoint()
    val evSet = ev.select(col("w")).distinct().withColumn("exact", lit(1))
    // Membership as K BROADCAST probes (round 18): the old shape
    // EXPLODED the corpus stream k-fold, broadcast-joined the bit set,
    // and SHUFFLED the exploded stream back into a per-shingle
    // got==need count — the one corpus-side exchange in the query.
    // Each raw probe position now left-joins the broadcast bit set on
    // its own key: all-k-present ⟺ the old all-DISTINCT-present
    // (duplicate positions are present-or-absent together), and
    // shingles3 is array_distinct'd per doc, so row multiplicity
    // matches the old per-(tid, w) group exactly. The corpus stream
    // now reaches the per-doc rollup with NO exchange at all — the
    // doc-comment's 100 TB contract, made true structurally.
    val train = sh.filter(col("doc_id") % 100 =!= 0)
      .select(col("doc_id").as("tid"), col("source"), col("w"))
    val probed = (0 until BloomK).foldLeft(train) { (df, j) =>
      df.join(broadcast(bits.select(col("bit").as(s"q$j"),
          lit(1).as(s"m$j"))),
        h32(col("w"), 1 + 8 * j) % BloomBits === col(s"q$j"), "left")
        .drop(s"q$j")
    }.filter((0 until BloomK).map(j => col(s"m$j").isNotNull)
        .reduce(_ && _))
      .select(col("tid"), col("source"), col("w"))
    probed
      .join(broadcast(evSet), Seq("w"), "left")
      .groupBy(col("tid"), col("source"))
      .agg(count(lit(1)).as("n_bloom"), count(col("exact")).as("n_exact"))
      .groupBy(col("source"))
      .agg(count(when(col("n_bloom") >= 2, 1)).as("docs_bloom"),
        count(when(col("n_exact") >= 2, 1)).as("docs_exact"),
        sum(col("n_bloom")).as("shingles_bloom"),
        sum(col("n_exact")).as("shingles_exact"))
      .orderBy(col("source"))
  }

  private val c2Sql =
    s"""WITH $shingleTokensCte,
       |ev AS (SELECT DISTINCT w FROM t WHERE doc_id % 100 = 0),
       |bits AS (SELECT DISTINCT unnest(${sqlBloomPositions("w")}) AS bit
       |  FROM ev),
       |pr AS (SELECT doc_id AS tid, source, w,
       |   len(${sqlBloomPositions("w")}) AS need,
       |   unnest(${sqlBloomPositions("w")}) AS bit
       |  FROM t WHERE doc_id % 100 <> 0),
       |hit AS (SELECT tid, source, w, need, count(*) AS got
       |  FROM pr JOIN bits USING (bit)
       |  GROUP BY 1, 2, 3, 4 HAVING count(*) = need),
       |fl AS (SELECT tid, source, count(*) AS n_bloom,
       |   count(ev.w) AS n_exact
       |  FROM hit LEFT JOIN ev ON hit.w = ev.w
       |  GROUP BY 1, 2)
       |SELECT source,
       | count(CASE WHEN n_bloom >= 2 THEN 1 END) AS docs_bloom,
       | count(CASE WHEN n_exact >= 2 THEN 1 END) AS docs_exact,
       | ${sqlLsum("n_bloom")} AS shingles_bloom,
       | ${sqlLsum("n_exact")} AS shingles_exact
       |FROM fl GROUP BY source ORDER BY source""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d1_exact_dedup" -> (d1 _),
    "c2_bloom_decontam" -> (c2 _),
    "d2_jaccard_pairs" -> (d2 _),
    "d11_containment" -> (d11 _),
    "d3_minhash_lsh" -> (d3 _),
    "d12_incremental_dedup" -> (d12 _),
    "d4_simhash" -> (d4 _),
    "d5_dup_clusters" -> (d5 _),
    "d10_soft_dedup" -> (d10 _),
    "d6_dedup_keep" -> (d6 _),
    "d7_shingle_jaccard" -> (d7 _),
    "d8_chunk_dedup" -> (d8 _),
    "d9_dup_spans" -> (d9 _),
    "c1_decontam" -> (c1 _),
  )

  val oracles: Map[String, String] = Map(
    "d1_exact_dedup" -> d1Sql,
    "d2_jaccard_pairs" -> d2Sql,
    "d11_containment" -> d11Sql,
    "d3_minhash_lsh" -> d3Sql,
    "d12_incremental_dedup" -> d12Sql,
    "d4_simhash" -> d4Sql,
    "d5_dup_clusters" -> d5Sql,
    "d10_soft_dedup" -> d10Sql,
    "d6_dedup_keep" -> d6Sql,
    "d7_shingle_jaccard" -> d7Sql,
    "d8_chunk_dedup" -> d8Sql,
    "d9_dup_spans" -> d9Sql,
    "c1_decontam" -> c1Sql,
    "c2_bloom_decontam" -> c2Sql,
  )
}
