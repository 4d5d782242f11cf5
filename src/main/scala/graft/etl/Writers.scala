package graft.etl

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession, classic}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import scala.collection.MapView

/** Sink-side operators — SURVEY.md §2.1 (S7-S9):
  *
  *  - S7/S8: ONE publish path, [[Writers.publish]] — the Spark twin of
  *    the reference's `bq load … '$YYYYMMDD' --replace`
  *    (ref substrateetl.js:5164-5176) and of its plain `--replace` for
  *    system and dimension tables (:157-159, :2773). Table `name`
  *    lands at `$outRoot/$name`. With partition columns, a dynamic
  *    overwrite replaces only the partitions present in the frame, so
  *    daily re-runs and backfills are replay-safe; with none, the
  *    write falls back to a static overwrite and replaces the whole
  *    table. A micro-batch publish is its day publish plus a batch id:
  *    a `batch_id` column, appended to the partitions — (log_dt,
  *    batch_id) for the day dumps — so a replayed `foreachBatch`
  *    micro-batch (at-least-once) replaces its own partition instead
  *    of appending duplicates; readers drop batch_id or read the
  *    directory whole. Every etl table sink goes through it. Only
  *    file exports (single-file CSV hand-offs) and [[Layout]]'s
  *    bucketed and sorted rewrites write on their own.
  *  - S7/S8 shared frames: a frame that several of one publish's
  *    tables read (a day's filtered scan, or a join or an aggregate
  *    they all project) is passed to [[Writers.publish]] as `shared`,
  *    never persisted at the call site. The publish persists it at
  *    MEMORY_AND_DISK, so the source is computed once however many
  *    tables read it, and unpersists it after the writes, on failure
  *    too. The tables may be built before the publish: Spark
  *    substitutes the cache when a plan runs, not when it is built.
  *    When more than one table is written, each shared frame whose
  *    physical plan holds an exchange (a shuffle or a broadcast) is
  *    computed into the cache first, the frames concurrently, before
  *    any write starts. Concurrent first readers of such a frame race
  *    to compute the same uncached partitions: the losers' tasks sit
  *    in block-lock waits holding task slots, broadcast builds off the
  *    frame contend too, and the contention grows with the slot count
  *    (measured: the evm and contracts dumps anti-scaled 32-core vs
  *    8-core until this barrier). A narrow frame (a filtered scan) is
  *    not computed first, as a concurrent first reader there only
  *    waits out one partition's scan; nor is any frame of a
  *    single-table publish, which has no concurrent readers.
  *  - S7/S8 read-backs: [[Writers.publish]] returns what it landed, a
  *    view from table name to a read of `$outRoot/$name` with the
  *    published schema (an empty table stays readable, a partition
  *    column keeps its published type, the read covers every
  *    partition). The view holds each table's name and schema only and
  *    builds a read when it is accessed, so a caller that drops it
  *    lists nothing. Every publishing entry returns it: the view for
  *    several tables, the one table's read for one, `Unit` for a
  *    micro-batch. A table a publish just landed is read through that
  *    return value, never re-read from its path (the reference's
  *    consumers read the loaded table, not the loader's rows).
  *  - S9: merge-style upsert (ref polkaholicDB.js `on duplicate key
  *    update`) expressed as a key-resolved union — the plain-parquet
  *    stand-in for Delta `MERGE INTO`.
  */
object Writers {

  /** Run independent Spark actions CONCURRENTLY from a bounded driver
    * thread pool — the idle-capacity overlap shape (spark_optimization
    * guide §2.6): a multi-table dump's writes are independent jobs to
    * distinct paths, and submitting them from a small pool lets the
    * next write's tasks back-fill executors freed by the current
    * write's straggler tail instead of leaving the cluster idle. The
    * pool is deliberately small — 2-4 jobs in flight fills the tail
    * without the jobs fighting for executors. Results come back in
    * `items` order; the first failure rethrows its ORIGINAL exception
    * after the pool drains, so error semantics match the sequential
    * loop this replaces. */
  def concurrently[A, B](spark: SparkSession, items: Seq[A])(
      f: A => B): Seq[B] =
    if (items.size <= 1) items.map(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(4, items.size))
      try {
        val fs = items.map(it =>
          pool.submit(new java.util.concurrent.Callable[B] {
            def call(): B = f(it)
          }))
        // drain EVERY future before surfacing a failure — rethrowing on
        // the first get() would leave orphan write jobs running against
        // paths and cached frames the caller's error path is about to
        // clean up or retry over (and their own exceptions unobserved)
        val results = fs.map { fut =>
          try Right(fut.get()): Either[Throwable, B]
          catch {
            case e: java.util.concurrent.ExecutionException =>
              Left(e.getCause)
            case e: InterruptedException =>
              // restore the interrupt so the caller stays
              // interruptible while the remaining futures drain
              Thread.currentThread().interrupt()
              Left(e)
          }
        }
        results.collectFirst { case Left(e) => throw e }
        results.map(_.toOption.get)
      } finally pool.shutdown()
    }

  /** The one table publish (S7/S8, the rules in the header): each
    * `(name, df)` of `tables` lands as parquet at `$outRoot/$name`,
    * overwriting the partitions of `partitionCols` it holds (the whole
    * table when there are none); `batchId` makes it a micro-batch
    * publish. Several tables are written [[concurrently]]. `shared`
    * holds the frames the tables read in common, cached for the
    * writes by the shared-frame rule. Returns the landed tables'
    * read-backs, built on access. */
  def publish(outRoot: String, partitionCols: Seq[String],
      batchId: Option[Long], tables: Iterable[(String, DataFrame)],
      shared: Seq[DataFrame] = Nil): MapView[String, DataFrame] = {
    val cols = partitionCols ++ batchId.map(_ => "batch_id")
    val outs = tables.toSeq.map { case (name, df) =>
      name -> batchId.fold(df)(id => df.withColumn("batch_id", lit(id)))
    }
    val spark = outs.headOption.map(_._2.sparkSession)
    shared.foreach(_.persist(StorageLevel.MEMORY_AND_DISK))
    try {
      val first = if (outs.size > 1) shared.filter(crossesExchange)
        else Nil
      first.headOption.foreach(df =>
        concurrently(df.sparkSession, first)(_.count()))
      spark.foreach(concurrently(_, outs) { case (name, df) =>
        overwritePartitions(df, s"$outRoot/$name", cols)
      }): Unit
    } finally shared.foreach(_.unpersist())
    // the view's reads capture the session, paths and schemas only
    spark.fold(MapView.empty[String, DataFrame])(s => outs
      .map { case (name, df) => name -> (s"$outRoot/$name", df.schema) }
      .toMap.view.mapValues { case (path, schema) =>
        s.read.schema(schema).parquet(path)
      })
  }

  /** Whether the cached plan of the persisted `df` holds an exchange. */
  private def crossesExchange(df: DataFrame): Boolean =
    df.sparkSession.asInstanceOf[classic.SparkSession].sharedState
      .cacheManager.lookupCachedData(df.asInstanceOf[classic.Dataset[_]])
      .exists(c => PlanWalk.find(c.cachedRepresentation.cacheBuilder
        .cachedPlan)(_.isInstanceOf[Exchange]).isDefined)

  private object PlanWalk extends AdaptiveSparkPlanHelper

  /** S7 — write `df` partitioned by `partitionCols`, replacing only the
    * partitions contained in the batch; with no partition columns
    * Spark falls back to a static overwrite of the whole path. `format`
    * covers the S8 object-store sink matrix: parquet (default), orc,
    * json (NDJSON — the reference's `bq load` landing format), csv. */
  def overwritePartitions(df: DataFrame, path: String,
      partitionCols: Seq[String], format: String = "parquet"): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      // per-write option — NOT the session conf, which would silently
      // change the semantics of unrelated overwrite writes later
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .format(format)
      .save(path)

  /** Targeted key deletion (the right-to-be-forgotten rewrite): remove
    * every row whose `keyCol` appears in `keys` from a
    * partition-layout dataset, rewriting ONLY the partitions that
    * contain a target key. The shape at 100 TB: the key list broadcasts
    * (it is a deletion request, not a corpus), a semi-join finds the
    * affected partitions (driver pull bounded by the request size), an
    * anti-join rewrites those partitions through the same dynamic
    * overwrite the daily loads use — untouched partitions' files are
    * never opened. A partition whose every row is deleted is removed
    * explicitly (dynamic overwrite can't replace a partition with
    * nothing) — through the Hadoop FileSystem of `path` with
    * Hive-escaped partition names, so object-store layouts and escaped
    * values work, not just a local java.io view. Null partition values
    * (the `__HIVE_DEFAULT_PARTITION__` directory) are handled.
    * Returns the number of rows deleted. */
  def deleteKeys(spark: SparkSession, path: String, partitionCol: String,
      keyCol: String, keys: DataFrame,
      format: String = "parquet"): Long = {
    val df = spark.read.format(format).load(path)
    val k = keys.select(col(keyCol)).distinct()
    // collect the TYPED partition values (predicates must compare on
    // them — a timestamp's JVM toString differs from Spark's string
    // cast, and a stringly filter would silently select nothing) plus
    // Spark's own string rendering (only the on-disk directory names
    // need it)
    val affected = df.join(broadcast(k), Seq(keyCol), "left_semi")
      .groupBy(col(partitionCol))
      .agg(count(lit(1)).as("n_del"),
        first(col(partitionCol).cast("string")).as("s"))
      .collect()
      .map(r => (Option(r.get(0)),
        Option(r.get(0)).map(_ => r.getString(2)), r.getLong(1)))
    if (affected.isEmpty) return 0L
    val nonNull = affected.flatMap(_._1)
    val hasNull = affected.exists(_._1.isEmpty)
    val inAffected =
      (if (nonNull.nonEmpty) col(partitionCol).isin(nonNull: _*)
       else lit(false)) ||
        (if (hasNull) col(partitionCol).isNull else lit(false))
    val kept = df.filter(inAffected)
      .join(broadcast(k), Seq(keyCol), "left_anti")
    val keptPerPart = kept
      .groupBy(col(partitionCol).cast("string").as("s"))
      .agg(count(lit(1))).collect()
      .map(r => Option(r.getString(0))).toSet
    overwritePartitions(
      kept.select(df.columns.map(col): _*), path, Seq(partitionCol),
      format)
    // fully-emptied partitions: overwrite wrote nothing for them, so
    // drop the stale directories (via the path's own FileSystem — an
    // s3a/hdfs layout must work, and partition values are Hive-escaped
    // on disk)
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    for ((_, sv, _) <- affected if !keptPerPart.contains(sv)) {
      val dirName = sv match {
        case Some(v) => s"$partitionCol=" +
          org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .escapePathName(v)
        case None => s"$partitionCol=__HIVE_DEFAULT_PARTITION__"
      }
      val dir = new org.apache.hadoop.fs.Path(root, dirName)
      if (fs.exists(dir)) fs.delete(dir, true)
    }
    affected.map(_._3).sum
  }

  /** S12 scale path — INCREMENTAL materialized-summary refresh: fold one
    * batch's partial aggregates into the standing summary without
    * touching history. `overwritePartitions` handles the
    * recompute-a-partition case; at 100 TB a KEYED summary (per-account
    * totals, per-token counts) can't recompute from scratch per batch,
    * so the refresh must be an additive MERGE: summary ⟵ summary ⊎
    * delta, combining per key with the aggregate's own merge function.
    * Only decomposable aggregates qualify (the saltedAgg contract —
    * count partials re-merge with sum); averages must be carried as
    * (sum, count) pairs. Exactly-once across retries comes from writing
    * the merged result via [[overwritePartitions]] keyed by a batch
    * watermark column, so a replayed batch overwrites rather than
    * double-adds. `aggs` maps summary column → merge function
    * (sum/count→sum, min, max). */
  def mergeSummary(summary: DataFrame, delta: DataFrame,
      keys: Seq[String], aggs: Seq[(String, String)]): DataFrame = {
    require(aggs.nonEmpty && aggs.forall(a =>
      Set("sum", "min", "max")(a._2)),
      "mergeSummary merges only decomposable partials (sum/min/max; " +
        "re-merge count partials with sum, carry avg as sum+count)")
    val combined = summary.select(
        (keys ++ aggs.map(_._1)).map(col): _*)
      .unionByName(delta.select((keys ++ aggs.map(_._1)).map(col): _*))
    val finals = aggs.map { case (c, f) => expr(s"$f($c)").as(c) }
    combined.groupBy(keys.map(col): _*)
      .agg(finals.head, finals.tail: _*)
  }

  /** S9 — upsert: rows from `updates` win over `base` on `keys`;
    * within `updates`, the highest `versionCol` wins (deterministic).
    * Equivalent to `MERGE INTO base USING updates ON keys WHEN MATCHED
    * UPDATE ALL WHEN NOT MATCHED INSERT ALL`. */
  def upsert(base: DataFrame, updates: DataFrame, keys: Seq[String],
      versionCol: String): DataFrame = {
    val tagged = base.withColumn("_src", lit(0))
      .unionByName(updates.withColumn("_src", lit(1)))
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("_src").desc, col(versionCol).desc)
    tagged.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_src", "_rn")
  }
}

/** The driver-gate face of [[Writers.upsert]] (S9/J15) — the one
  * writer whose merge-key resolution was previously pinned only by
  * EtlSpec. Shape follows the streaming rows: the query applies TWO
  * update waves over a persisted base table THROUGH the writer
  * (write → read back → upsert → write → read back), and the final
  * read-back is oracled against DuckDB's latest-wins pick over
  * base ∪ waves (ref polkaholicDB.js `on duplicate key update`;
  * the Delta `MERGE INTO` twin).
  *
  * Fixture lanes (all multi-customer at sf0.001 AND sf0.01 — chosen
  * against the orders date histogram):
  *  - base = even-custkey customers only → odd custkeys with orders
  *    exercise the INSERT lane; even custkeys with no orders in either
  *    window survive untouched (base lane);
  *  - wave 1 (ver 1) = order stats over [1995-01-01, 1995-07-01) —
  *    customers active there but not in wave 2 keep the ver-1 row
  *    through the second merge (carry-forward lane);
  *  - wave 2 = TWO versions in one updates frame: ver 2 over
  *    [1996-01-01, 1996-04-01) and ver 3 over [1996-01-01,
  *    1996-07-01) for every ver-2 key and more — upsert's versionCol
  *    order must pick ver 3; a regressed ascending pick would surface
  *    as ver=2 rows with the narrower counts and fail the hash.
  *
  * Scale: each upsert is ONE shuffle on the merge key (window
  * row_number) — the MERGE shape; the name-enrichment join is a dim
  * lookup (broadcast here; co-partitioned at 100 TB). The waves are
  * date-pruned aggregates of orders, so a production refresh reads
  * only the new window, never the standing table's history twice. */
object WriterQueries {
  import graft.Tables
  import graft.operators.{queryDumpDir, us}

  private val keyCols = Seq("c_custkey")

  private def j15(s: SparkSession, d: String): DataFrame = {
    val root = queryDumpDir("graft_upsert")
    val cust = Tables.customer(s, d).select(col("c_custkey"), col("c_name"))
    // wave = per-customer order stats over [start, end), stamped ver
    def wave(start: String, end: String, ver: Long): DataFrame =
      Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit(start).cast("timestamp")
          && col("o_orderdate") < lit(end).cast("timestamp"))
        .groupBy(col("o_custkey").as("c_custkey"))
        .agg(count(lit(1)).as("order_count"),
          us(max(col("o_orderdate")).cast("timestamp"))
            .as("last_order_us"))
        .join(broadcast(cust), keyCols)
        .select(col("c_custkey"), col("c_name"), col("order_count"),
          col("last_order_us"), lit(ver).as("ver"))
    val base = cust.filter(col("c_custkey") % 2 === 0)
      .select(col("c_custkey"), col("c_name"),
        lit(0L).as("order_count"), lit(0L).as("last_order_us"),
        lit(0L).as("ver"))
    // the standing table lives as parquet between waves — each merge
    // reads the CURRENT table back (a lazy self-overwrite would read
    // the files it is replacing), upserts, and publishes the next as
    // a whole-table replace
    def published(name: String, df: DataFrame): DataFrame =
      Writers.publish(root, Nil, None, Seq(name -> df))(name)
    val t0 = published("t0", base)
    val t1 = published("t1", Writers.upsert(t0,
      wave("1995-01-01", "1995-07-01", 1L), keyCols, "ver"))
    val wave2 = wave("1996-01-01", "1996-04-01", 2L)
      .unionByName(wave("1996-01-01", "1996-07-01", 3L))
    published("t2", Writers.upsert(t1, wave2, keyCols, "ver"))
      .orderBy(col("c_custkey"))
  }

  private val j15Sql =
    """WITH w1 AS (
      | SELECT o_custkey AS c_custkey, count(*) AS order_count,
      |  epoch_us(max(CAST(o_orderdate AS TIMESTAMP))) AS last_order_us
      | FROM orders
      | WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1995-07-01 00:00:00'
      | GROUP BY 1),
      |w3 AS (
      | SELECT o_custkey AS c_custkey, count(*) AS order_count,
      |  epoch_us(max(CAST(o_orderdate AS TIMESTAMP))) AS last_order_us
      | FROM orders
      | WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
      | GROUP BY 1)
      |SELECT c.c_custkey, c.c_name,
      | CAST(coalesce(w3.order_count, w1.order_count, 0) AS BIGINT)
      |  AS order_count,
      | CAST(coalesce(w3.last_order_us, w1.last_order_us, 0) AS BIGINT)
      |  AS last_order_us,
      | CAST(CASE WHEN w3.c_custkey IS NOT NULL THEN 3
      |  WHEN w1.c_custkey IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
      |  AS ver
      |FROM customer c
      |LEFT JOIN w1 ON c.c_custkey = w1.c_custkey
      |LEFT JOIN w3 ON c.c_custkey = w3.c_custkey
      |WHERE c.c_custkey % 2 = 0 OR w1.c_custkey IS NOT NULL
      | OR w3.c_custkey IS NOT NULL
      |ORDER BY c.c_custkey""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Map("j15_upsert_waves" -> (j15 _))
  val oracles: Map[String, String] = Map("j15_upsert_waves" -> j15Sql)
}
