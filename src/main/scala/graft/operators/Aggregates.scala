package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Aggregation operator family — SURVEY.md §2.3 (A1-A16), re-expressed over
  * the driver's synthetic tables. Each query has a DuckDB oracle twin in
  * `oracles` (same column names, same deterministic arithmetic).
  *
  * Scale notes: all of these are single-pass hash aggregations with map-side
  * partial aggregation; group keys are low-cardinality (day/type/month) or
  * naturally partition-aligned (order/part keys), so at 100 TB they shuffle
  * only the partial-aggregate state, not the rows.
  */
object Aggregates {

  // A1 — per-entity stats (ref indexer.js:5019-5047 getBlockStats): per
  // order: line count, quantity, distinct suppliers, revenue.
  private def a1(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(
        count(lit(1)).as("n_lines"),
        countDistinct(col("l_suppkey")).as("n_suppliers"),
        dsumOut(col("l_quantity")).as("sum_qty"),
        decOut(sum(dec6(col("l_extendedprice") * (lit(1.0) - col("l_discount")))))
          .as("revenue"))
      .orderBy(col("l_orderkey"))

  private val a1Sql =
    s"""SELECT l_orderkey, count(*) AS n_lines,
       | count(DISTINCT l_suppkey) AS n_suppliers,
       | ${sqlDsumOut("l_quantity")} AS sum_qty,
       | ${sqlDecOut("sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6)))")} AS revenue
       |FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin

  // A2 — daily chain metrics (ref substrateetl.js:9448-9451
  // update_blocklog_bulk): count, conditional count, distinct actors, sum.
  private def a2(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(dayKey(col("ts")).as("log_dt"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("n_purchases"),
        countDistinct(col("user_id")).as("n_users"),
        dsumOut(col("value")).as("sum_value"))
      .orderBy(col("log_dt"))

  private val a2Sql =
    s"""SELECT ${sqlDay(TS)} AS log_dt, count(*) AS n_events,
       | ${sqlLsum("CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END")} AS n_purchases,
       | count(DISTINCT user_id) AS n_users,
       | ${sqlDsumOut("\"value\"")} AS sum_value
       |FROM events GROUP BY 1 ORDER BY log_dt""".stripMargin

  // A3 — trailing 7d/30d/all rollups relative to max ts
  // (ref substrateetl.js:9487-9508).
  private def a3(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val mx = ev.agg(max(col("ts")).as("mx"))
    ev.crossJoin(broadcast(mx))
      .agg(
        decOut(sum(when(col("ts") > col("mx") - expr("INTERVAL 7 DAYS"),
          dec6(col("value"))))).as("sum_7d"),
        decOut(sum(when(col("ts") > col("mx") - expr("INTERVAL 30 DAYS"),
          dec6(col("value"))))).as("sum_30d"),
        dsumOut(col("value")).as("sum_all"),
        count(lit(1)).as("n_all"))
  }

  private val a3Sql =
    s"""SELECT
       | ${sqlDecOut("sum(CASE WHEN " + TS + " > m.mx - INTERVAL 7 DAY THEN CAST(\"value\" AS DECIMAL(38,6)) END)")} AS sum_7d,
       | ${sqlDecOut("sum(CASE WHEN " + TS + " > m.mx - INTERVAL 30 DAY THEN CAST(\"value\" AS DECIMAL(38,6)) END)")} AS sum_30d,
       | ${sqlDsumOut("\"value\"")} AS sum_all, count(*) AS n_all
       |FROM events, (SELECT max(CAST(ts AS TIMESTAMP)) AS mx FROM events) m""".stripMargin

  // A4 — monthly sum/min/max/avg/std (ref substrateetl.js:3969-3995).
  private def a4(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(monthKey(col("o_orderdate")).as("log_month"))
      .agg(
        count(lit(1)).as("n_orders"),
        dsumOut(col("o_totalprice")).as("sum_price"),
        min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"),
        dmean(col("o_totalprice")).as("avg_price"),
        dstd(col("o_totalprice")).as("std_price"))
      .orderBy(col("log_month"))

  private val a4Sql =
    s"""SELECT ${sqlMonth("o_orderdate")} AS log_month, count(*) AS n_orders,
       | ${sqlDsumOut("o_totalprice")} AS sum_price,
       | min(o_totalprice) AS min_price, max(o_totalprice) AS max_price,
       | ${sqlDmean("o_totalprice")} AS avg_price,
       | ${sqlDstd("o_totalprice")} AS std_price
       |FROM orders GROUP BY 1 ORDER BY log_month""".stripMargin

  // A5 — active accounts: union of "signers" and "authors" then re-group
  // (ref docs/DEFINITIONS.md:48-91).
  private def a5(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val signers = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), lit("signer").as("acct_type"),
        us(col("ts")).as("seen_us"))
    val authors = ev.filter(col("event_type") === "signup")
      .select(col("user_id"), lit("author").as("acct_type"),
        us(col("ts")).as("seen_us"))
    signers.unionByName(authors)
      .groupBy(col("user_id"))
      .agg(max(col("acct_type")).as("acct_type"),
        max(col("seen_us")).as("last_seen_us"))
      .orderBy(col("user_id"))
  }

  private val a5Sql =
    s"""SELECT user_id, max(acct_type) AS acct_type, max(seen_us) AS last_seen_us
       |FROM (
       | SELECT user_id, 'signer' AS acct_type, ${sqlUs(TS)} AS seen_us
       | FROM events WHERE event_type = 'purchase'
       | UNION ALL
       | SELECT user_id, 'author' AS acct_type, ${sqlUs(TS)} AS seen_us
       | FROM events WHERE event_type = 'signup')
       |GROUP BY user_id ORDER BY user_id""".stripMargin

  // A6 — passive accounts: participants anti-joined against the active set
  // (ref docs/DEFINITIONS.md:106-177, the NOT IN subquery).
  private def a6(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val active = ev
      .filter(col("event_type").isin("purchase", "signup"))
      .select(col("user_id")).distinct()
    ev.filter(col("event_type") === "view")
      .join(active, Seq("user_id"), "left_anti")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_views"))
      .orderBy(col("user_id"))
  }

  private val a6Sql =
    """SELECT user_id, count(*) AS n_views
      |FROM events
      |WHERE event_type = 'view' AND user_id NOT IN (
      |  SELECT DISTINCT user_id FROM events
      |  WHERE event_type IN ('purchase', 'signup'))
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  // A7 — new accounts per day: present on day d, absent on d-1
  // (ref docs/DEFINITIONS.md:204-234 day-over-day anti-join).
  private def dailyUsers(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(to_date(col("ts")).as("dt"), col("user_id")).distinct()

  // "no row on d-1" via lag over each user's SORTED DISTINCT days
  // instead of a du ⋈ du anti-join (round 18, guide §2.4): the distinct
  // day grain shuffles once (the window) instead of twice (both join
  // sides), and the second scan+distinct of events vanishes. Days are
  // distinct within a user, so d-1 exists iff it is the immediate
  // predecessor — lag(dt) = d-1 ⟺ the anti-join would drop the row.
  private def a7(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("dt"))
    dailyUsers(s, d)
      .withColumn("prev_dt", lag(col("dt"), 1).over(w))
      .filter(col("prev_dt").isNull ||
        col("prev_dt") =!= date_sub(col("dt"), 1))
      .groupBy(date_format(col("dt"), "yyyy-MM-dd").as("log_dt"))
      .agg(count(lit(1)).as("n_new"))
      .orderBy(col("log_dt"))
  }

  private val a7Sql =
    s"""WITH du AS (SELECT DISTINCT CAST($TS AS DATE) AS dt, user_id FROM events)
       |SELECT strftime(a.dt, '%Y-%m-%d') AS log_dt, count(*) AS n_new
       |FROM du a
       |WHERE NOT EXISTS (SELECT 1 FROM du b
       |  WHERE b.user_id = a.user_id AND b.dt = a.dt - 1)
       |GROUP BY 1 ORDER BY log_dt""".stripMargin

  // A7b — reaped accounts: present on day d, absent on d+1. Same
  // one-pass lead-window shape as a7 (lead(dt) = d+1 ⟺ the anti-join
  // would drop the row).
  private def a7b(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("dt"))
    dailyUsers(s, d)
      .withColumn("next_dt", lead(col("dt"), 1).over(w))
      .filter(col("next_dt").isNull ||
        col("next_dt") =!= date_add(col("dt"), 1))
      .groupBy(date_format(col("dt"), "yyyy-MM-dd").as("log_dt"))
      .agg(count(lit(1)).as("n_reaped"))
      .orderBy(col("log_dt"))
  }

  private val a7bSql =
    s"""WITH du AS (SELECT DISTINCT CAST($TS AS DATE) AS dt, user_id FROM events)
       |SELECT strftime(a.dt, '%Y-%m-%d') AS log_dt, count(*) AS n_reaped
       |FROM du a
       |WHERE NOT EXISTS (SELECT 1 FROM du b
       |  WHERE b.user_id = a.user_id AND b.dt = a.dt + 1)
       |GROUP BY 1 ORDER BY log_dt""".stripMargin

  // A8 — fee statistics with conditional fallback
  // (ref substrateetl.js:3200-3203: if(std=0, avg*0.2, std)).
  private def a8(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        dmean(col("value")).as("avg_fee"),
        dstd(col("value")).as("std_fee"))
      .withColumn("adj_std",
        when(col("std_fee") === 0.0, round(col("avg_fee") * 0.2, 6))
          .otherwise(col("std_fee")))
      .orderBy(col("event_type"))

  private val a8Sql =
    s"""SELECT event_type, n, avg_fee, std_fee,
       | CASE WHEN std_fee = 0.0 THEN round(avg_fee * 0.2, 6) ELSE std_fee END AS adj_std
       |FROM (SELECT event_type, count(*) AS n,
       |  ${sqlDmean("\"value\"")} AS avg_fee, ${sqlDstd("\"value\"")} AS std_fee
       | FROM events GROUP BY event_type)
       |ORDER BY event_type""".stripMargin

  // A9 — daily per-type summary with HAVING day < today
  // (ref substrateetl.js:5228-5276).
  private def a9(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val maxDay = ev.agg(max(dayKey(col("ts"))).as("max_dt"))
    ev.groupBy(col("event_type"), dayKey(col("ts")).as("log_dt"))
      .agg(
        count(lit(1)).as("n"),
        decOut(sum(coalesce(dec6(col("value")), dec6(lit(0.0)))))
          .as("sum_value"))
      .crossJoin(broadcast(maxDay))
      .filter(col("log_dt") < col("max_dt"))
      .drop("max_dt")
      .orderBy(col("event_type"), col("log_dt"))
  }

  private val a9Sql =
    s"""SELECT event_type, ${sqlDay(TS)} AS log_dt, count(*) AS n,
       | ${sqlDecOut("sum(coalesce(CAST(\"value\" AS DECIMAL(38,6)), CAST(0.0 AS DECIMAL(38,6))))")} AS sum_value
       |FROM events GROUP BY 1, 2
       |HAVING log_dt < (SELECT max(${sqlDay(TS)}) FROM events)
       |ORDER BY event_type, log_dt""".stripMargin

  // A10 — first-attribution argmin via struct ordering
  // (ref substrateetl.js:616-631 min(concat(ts,...)) lexicographic argmin).
  private def a10(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(min(struct(us(col("ts")).as("first_ts_us"),
        col("event_id").as("first_event_id"),
        col("event_type").as("first_type"))).as("f"))
      .select(col("user_id"), col("f.first_ts_us"), col("f.first_event_id"),
        col("f.first_type"))
      .orderBy(col("user_id"))

  private val a10Sql =
    s"""SELECT user_id, ${sqlUs(TS)} AS first_ts_us, event_id AS first_event_id,
       | event_type AS first_type
       |FROM (SELECT *, row_number() OVER (
       |   PARTITION BY user_id ORDER BY ts, event_id) AS rn FROM events)
       |WHERE rn = 1 ORDER BY user_id""".stripMargin

  // A11 — holder tallies per asset (ref indexer.js:2335 flush_assets,
  // 5094 updateAssetHolder): holders + supply per part.
  private def a11(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_partkey"))
      .agg(
        countDistinct(col("l_suppkey")).as("n_holders"),
        count(lit(1)).as("n_lines"),
        dsumOut(col("l_quantity")).as("total_supply"))
      .orderBy(col("l_partkey"))

  private val a11Sql =
    s"""SELECT l_partkey, count(DISTINCT l_suppkey) AS n_holders,
       | count(*) AS n_lines,
       | ${sqlDsumOut("l_quantity")} AS total_supply
       |FROM lineitem GROUP BY l_partkey ORDER BY l_partkey""".stripMargin

  // A12 — OHLCV candles per (type, hour): open/close via struct-min/max
  // argmin (ref indexer.js:338 updateAssetLiquidityPairTradingVolume;
  // reader query.js:2103-2142).
  private def a12(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"), hourKey(col("ts")).as("hr"))
      .agg(
        min(struct(us(col("ts")), col("event_id"), col("value")))
          .getField("value").as("open"),
        max(struct(us(col("ts")), col("event_id"), col("value")))
          .getField("value").as("close"),
        min(col("value")).as("low"),
        max(col("value")).as("high"),
        dsumOut(col("value")).as("volume"),
        count(lit(1)).as("n_trades"))
      .orderBy(col("event_type"), col("hr"))

  private val a12Sql =
    s"""SELECT event_type, hr, min(o) AS open, min(c) AS close,
       | min("value") AS low, max("value") AS high,
       | ${sqlDsumOut("\"value\"")} AS volume, count(*) AS n_trades
       |FROM (SELECT event_type, ${sqlHour(TS)} AS hr, "value",
       |  first_value("value") OVER (PARTITION BY event_type, ${sqlHour(TS)}
       |    ORDER BY ts, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS o,
       |  last_value("value") OVER (PARTITION BY event_type, ${sqlHour(TS)}
       |    ORDER BY ts, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS c
       | FROM events)
       |GROUP BY event_type, hr ORDER BY event_type, hr""".stripMargin

  // A13 — era-style rollup with ARRAY_AGG (ref docs/StakingAnalytics.md:20
  // ARRAY_AGG of validators per era): per day, the sorted distinct set of
  // event types (joined to a string for engine-neutral hashing) + counts.
  private def a13(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(dayKey(col("ts")).as("log_dt"))
      .agg(
        array_join(sort_array(collect_set(col("event_type"))), ",")
          .as("types_seen"),
        countDistinct(col("event_type")).as("n_types"),
        count(lit(1)).as("n_events"))
      .orderBy(col("log_dt"))

  private val a13Sql =
    s"""SELECT ${sqlDay(TS)} AS log_dt,
       | array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types_seen,
       | count(DISTINCT event_type) AS n_types, count(*) AS n_events
       |FROM events GROUP BY 1 ORDER BY log_dt""".stripMargin

  // A14 — gap detection via LAG islands (ref substrateetl.js:1008-1013).
  // Distributed form: LAG inside key-range buckets + a boundary stitch —
  // equivalent to lag(key) OVER (ORDER BY key) but with no global
  // single-partition window (round-1 scale fix).
  /** Hard cap on rows allowed through a single-partition ordering
    * window: above this the grain recurses through another bucketed
    * level instead. ~1M 24-byte rows ≈ 24 MB through one task — bounded
    * by construction, never "trust me it's small". */
  private[graft] val WindowGrainLimit: Long = 1L << 20

  /** Above this many bucket-bound rows the stitch join stops hinting
    * broadcast (~128k rows ≈ 3 MB serialized — safely under default
    * autoBroadcast limits) and rides a shuffle join on `bkt`, which
    * co-locates with the intra-window's existing hash partitioning. */
  private[graft] val BroadcastGrainLimit: Long = 1L << 17

  /** Gaps in a unique integer key column, computed scalably:
    *  1. lag within `key DIV bucketSize` buckets (hash-distributed);
    *  2. per-bucket (min, max) rollup — one row per NONEMPTY bucket;
    *  3. each bucket-min row takes prev = previous nonempty bucket's max,
    *     which also stitches across EMPTY buckets.
    * The step-2 "previous nonempty bucket's max" is itself a running-max
    * in bucket order — the same shape one level up — so it RECURSES
    * through `bucketSize`-ary levels ([[prevNonemptyMax]]) until the
    * grain provably fits [[WindowGrainLimit]]: a 10¹²-key space at
    * bucketSize 8192 is level-0 grain ~1.2×10⁸ (hash-distributed lag),
    * level-1 grain ~1.5×10⁴ (bounded window + broadcast stitch). No
    * single-partition window over an unbounded grain anywhere; one tiny
    * max(key) pre-job sizes the recursion. */
  def gapIslands(df: DataFrame, key: String, bucketSize: Long,
      windowGrainLimit: Long = WindowGrainLimit,
      broadcastGrainLimit: Long = BroadcastGrainLimit): DataFrame = {
    require(bucketSize >= 2, "bucketSize must collapse the grain")
    val k = col(key)
    val keys = df.select(k).withColumn("bkt", expr(s"$key DIV $bucketSize"))
    import org.apache.spark.sql.expressions.Window
    val wIntra = Window.partitionBy(col("bkt")).orderBy(k)
    val intra = keys.withColumn("prev_key", lag(k, 1).over(wIntra))
    // Sizes the recursion + picks the stitch-join strategy. An empty
    // input short-circuits (no gaps by definition).
    val maxKey = df.agg(max(k)).head().get(0)
    if (maxKey == null) {
      // Empty-input schema must match the nonempty plan's exactly (same
      // key type, not a hardcoded long) or downstream unions/writes that
      // see both shapes break.
      val kt = df.schema(key).dataType
      return df.sparkSession.emptyDataFrame
        .withColumn("prev_key", lit(null).cast(kt))
        .withColumn(key, lit(null).cast(kt))
        .withColumn("gap_size", lit(null).cast(kt))
        .select(col("prev_key"), col(key), col("gap_size"))
    }
    val grainUpper =
      maxKey.toString.toLong / bucketSize + 1 // nonempty buckets ≤ this
    val bounds = keys.groupBy(col("bkt"))
      .agg(min(k).as("bmin"), max(k).as("bmax"))
    val stitched = prevNonemptyMax(bounds, bucketSize, grainUpper,
        windowGrainLimit, broadcastGrainLimit)
      .select(col("bkt").as("b_bkt"), col("bmin"), col("prev_bmax"))
    val withBounds =
      if (grainUpper <= broadcastGrainLimit)
        intra.join(broadcast(stitched), col("bkt") === col("b_bkt"))
      else intra.join(stitched, col("bkt") === col("b_bkt"))
    withBounds
      .withColumn("prev_key", coalesce(col("prev_key"),
        when(k === col("bmin"), col("prev_bmax"))))
      .filter(col("prev_key").isNotNull && k =!= col("prev_key") + 1)
      .select(col("prev_key"), k, (k - col("prev_key") - 1).as("gap_size"))
  }

  /** For each nonempty bucket (`bkt`, with per-bucket aggregates incl.
    * `bmax`), attach `prev_bmax` = the bmax of the immediately preceding
    * NONEMPTY bucket. Correctness rests on bmax being strictly
    * increasing across buckets (bucket b only holds keys in
    * [b·size, (b+1)·size)), so "previous nonempty bucket's bmax" =
    * running max = lag in nonempty-bucket order. Small grains take one
    * bounded single-partition lag; large grains recurse: lag within
    * super-buckets (hash-distributed), and the first nonempty bucket of
    * each super-bucket inherits from the recursion one level up. */
  private def prevNonemptyMax(bounds: DataFrame, bucketSize: Long,
      grainUpper: Long, windowGrainLimit: Long,
      broadcastGrainLimit: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    if (grainUpper <= windowGrainLimit) {
      bounds.withColumn("prev_bmax",
        lag(col("bmax"), 1).over(Window.orderBy(col("bkt"))))
    } else {
      val superGrain = grainUpper / bucketSize + 1
      val sb = bounds.withColumn("sbkt", expr(s"bkt DIV $bucketSize"))
      val wIntra = Window.partitionBy(col("sbkt")).orderBy(col("bkt"))
      val intra = sb.withColumn("prev_in_s",
        lag(col("bmax"), 1).over(wIntra))
      val superBounds = sb.groupBy(col("sbkt"))
        .agg(max(col("bmax")).as("bmax"))
        .withColumnRenamed("sbkt", "bkt")
      val superPrev = prevNonemptyMax(superBounds, bucketSize, superGrain,
          windowGrainLimit, broadcastGrainLimit)
        .select(col("bkt").as("s_bkt"), col("prev_bmax").as("s_prev"))
      val joined =
        if (superGrain <= broadcastGrainLimit)
          intra.join(broadcast(superPrev), col("sbkt") === col("s_bkt"))
        else intra.join(superPrev, col("sbkt") === col("s_bkt"))
      joined
        .withColumn("prev_bmax", coalesce(col("prev_in_s"), col("s_prev")))
        .drop("sbkt", "s_bkt", "prev_in_s", "s_prev")
    }
  }

  private def a14(s: SparkSession, d: String): DataFrame =
    gapIslands(Tables.orders(s, d), "o_orderkey", 8192L)
      .orderBy(col("o_orderkey"))

  private val a14Sql =
    """SELECT prev_key, o_orderkey, o_orderkey - prev_key - 1 AS gap_size
      |FROM (SELECT o_orderkey,
      |  lag(o_orderkey) OVER (ORDER BY o_orderkey) AS prev_key FROM orders)
      |WHERE prev_key IS NOT NULL AND o_orderkey <> prev_key + 1
      |ORDER BY o_orderkey""".stripMargin

  // A15 — completeness audit: expected-vs-actual per day
  // (ref substrateetl.js:6963, 7069, audit_substrateetl:3206).
  private def a15(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(dayKey(col("ts")).as("log_dt"))
      .agg(
        count(lit(1)).as("n"),
        min(col("event_id")).as("min_id"),
        max(col("event_id")).as("max_id"))
      .withColumn("missing",
        col("max_id") - col("min_id") + 1 - col("n"))
      .orderBy(col("log_dt"))

  private val a15Sql =
    s"""SELECT log_dt, n, min_id, max_id, max_id - min_id + 1 - n AS missing
       |FROM (SELECT ${sqlDay(TS)} AS log_dt, count(*) AS n,
       |  min(event_id) AS min_id, max(event_id) AS max_id
       | FROM events GROUP BY 1)
       |ORDER BY log_dt""".stripMargin

  // A16 — exact distinct counts per day (ref substrateetl.js:9448; the
  // reference uses exact COUNT(DISTINCT), no HLL — SURVEY A16).
  private def a16(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(dayKey(col("ts")).as("log_dt"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
      .orderBy(col("log_dt"))

  private val a16Sql =
    s"""SELECT ${sqlDay(TS)} AS log_dt, count(DISTINCT user_id) AS n_users,
       | count(*) AS n_events
       |FROM events GROUP BY 1 ORDER BY log_dt""".stripMargin

  // A16b — approximate distinct (HLL) as the 100 TB scale path; no oracle
  // (DuckDB's approx sketch differs) → driver records rows-only check.
  private def a16b(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(dayKey(col("ts")).as("log_dt"))
      .agg(approx_count_distinct(col("user_id")).as("approx_users"))
      .orderBy(col("log_dt"))

  // A16c — approximate distinct via the deterministic KMV sketch
  // (plans/BottomKByHash): unlike a16b's HLL this scale path IS under
  // the cross-engine hash gate — "k smallest distinct md5-derived
  // hashes" is a pure set function of the input, so the estimate
  // (k−1)·2³² / h_k is identical at any parallelism and DuckDB
  // recomputes it with a rank window. Bounded O(k) state per group
  // map-side, exactly the a16b shuffle shape.
  private val KmvK = 256

  private def a16c(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("h",
        conv(substring(md5(col("user_id").cast("string")), 1, 8), 16, 10)
          .cast("long"))
      .groupBy(dayKey(col("ts")).as("log_dt"))
      .agg(expr(s"bottom_k_hv(h, CAST(0.0 AS DOUBLE), $KmvK)").as("sk"))
      .select(col("log_dt"),
        when(size(col("sk")) < KmvK, size(col("sk")).cast("double"))
          .otherwise(round(
            lit((KmvK - 1).toDouble * 4294967296.0) /
              element_at(col("sk"), KmvK).getField("h"), 6))
          .as("est_users"))
      .orderBy(col("log_dt"))

  private val a16cSql =
    s"""WITH h AS (SELECT DISTINCT ${sqlDay(TS)} AS log_dt,
       |  CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)
       |   AS BIGINT) AS h
       | FROM events),
       |r AS (SELECT log_dt, h,
       |  row_number() OVER (PARTITION BY log_dt ORDER BY h) AS rn,
       |  count(*) OVER (PARTITION BY log_dt) AS n
       | FROM h)
       |SELECT log_dt,
       | CASE WHEN max(n) < $KmvK THEN CAST(max(n) AS DOUBLE)
       |  ELSE round(${KmvK - 1}.0 * 4294967296.0 /
       |   max(CASE WHEN rn = $KmvK THEN h END), 6) END AS est_users
       |FROM r GROUP BY log_dt ORDER BY log_dt""".stripMargin

  // A17 — salted aggregation under the oracle gate: the hot-key skew
  // mitigation (etl/Layout.saltedAgg — partial agg on (key, salt),
  // re-finish on key; ref polkaholic's bn % nmax shard split) run over
  // a deliberately skewed grouping (l_returnflag: 3 hot keys across
  // the whole table) and hash-compared against DuckDB's PLAIN GROUP
  // BY. Decomposability is the entire correctness claim of salting —
  // this query makes the driver's gate assert it every round instead
  // of only LayoutSpec. The salt column is content-derived (stable
  // across retries); two small shuffles replace one skewed one.
  private def a17(s: SparkSession, d: String): DataFrame =
    graft.etl.Layout.saltedAgg(
        Tables.lineitem(s, d)
          .select(col("l_returnflag"), col("l_orderkey"),
            col("l_linenumber"), col("l_quantity").cast("long").as("qty")),
        key = "l_returnflag", n = 16,
        aggs = Seq("qty" -> "sum", "qty" -> "count",
          "l_orderkey" -> "max", "l_linenumber" -> "min"),
        saltCols = Seq("l_orderkey", "l_linenumber"))
      .select(col("l_returnflag"), col("sum_qty"),
        col("count_qty"), col("max_l_orderkey"),
        col("min_l_linenumber"))
      .orderBy(col("l_returnflag"))

  private val a17Sql =
    s"""SELECT l_returnflag,
       | ${sqlLsum("CAST(l_quantity AS BIGINT)")} AS sum_qty,
       | count(l_quantity) AS count_qty,
       | max(l_orderkey) AS max_l_orderkey,
       | min(l_linenumber) AS min_l_linenumber
       |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // A18 — cohort retention: users bucketed by first-activity week, the
  // classic "of the users who arrived in week W, how many were active in
  // week W+k" matrix every growth dashboard renders over an activity
  // stream (the reference's accounts face tracks new/active/reaped per
  // day — A5/A7 — this is their composition over user lifetimes). Week
  // = epoch-micros div 7 days (engine-identical integer arithmetic; no
  // locale-sensitive date_trunc('week')). Shape: distinct (user, week)
  // → per-user min week (one user shuffle the distinct already paid,
  // exchange-reused) → broadcast-free self-annotation via the window,
  // then ONE (cohort, offset) count — at 100 TB the activity distinct
  // is the only corpus-scale shuffle.
  private val WeekUs = 604800000000L
  private def a18(s: SparkSession, d: String): DataFrame = {
    // one user-keyed shuffle carries dedup AND the cohort min: the
    // per-user active-week set is bounded (weeks, not events), so
    // collect_set is the cheaper vehicle for "distinct + min over my own
    // partition" than a distinct followed by a differently-keyed window
    val uw = Tables.events(s, d)
      // `div`, not `/`: Column./ is float64 division, and truncating its
      // result can land on the wrong side of a week boundary
      .select(col("user_id"),
        expr(s"unix_micros(ts) div $WeekUs").as("week"))
      .groupBy(col("user_id"))
      .agg(collect_set(col("week")).as("wks"))
    uw.select(array_min(col("wks")).as("cohort"),
        explode(col("wks")).as("week"))
      .groupBy(col("cohort"), (col("week") - col("cohort")).as("offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("cohort"), col("offset"))
  }

  private val a18Sql =
    s"""WITH uw AS (SELECT DISTINCT user_id,
       |  ${sqlUs(TS)} // CAST($WeekUs AS BIGINT) AS week FROM events),
       |c AS (SELECT user_id, week,
       |  min(week) OVER (PARTITION BY user_id) AS cohort FROM uw)
       |SELECT cohort, week - cohort AS "offset", count(*) AS n_users
       |FROM c GROUP BY 1, 2 ORDER BY cohort, "offset"""".stripMargin

  // A19 — rolling z-score anomaly detection over the daily activity
  // series: each (type, day) count scored against the trailing-7-day
  // window (ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING — the current day
  // never contaminates its own baseline), |z| ≥ 2 flagged. The
  // monitoring face every ingest pipeline runs over its own volume
  // metrics (the reference's audit loop eyeballs blocklog daily counts;
  // this is that check as math). Two stages, both bounded: the daily
  // rollup is the only corpus-scale shuffle; the window runs over one
  // row per (type, day). Determinism: window sums are over exact LONG
  // counts, mean/var/z is one fixed float64 expression, sqrt is IEEE
  // correctly-rounded — both engines agree bit-for-bit.
  private def a19(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(-7, -1)
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), dayKey(col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
    daily
      .withColumn("s", sum(col("cnt")).over(w))
      .withColumn("s2", sum(col("cnt") * col("cnt")).over(w))
      .withColumn("n", count(col("cnt")).over(w))
      .withColumn("mean", col("s").cast("double") / col("n"))
      // the radicand is clamped at 0: float rounding of s²/n can
      // overshoot s2 on large near-constant counts, which would NaN in
      // Spark (and NaN compares GREATER, silently flagging the quietest
      // day) and hard-error DuckDB's sqrt
      .withColumn("sd", when(col("n") > 1,
        sqrt(greatest((col("s2").cast("double") -
          col("s").cast("double") * col("s").cast("double") / col("n")) /
          (col("n") - lit(1)), lit(0.0)))))
      .withColumn("z", when(col("sd") > 0,
        round((col("cnt") - col("mean")) / col("sd"), 6)))
      .select(col("event_type"), col("day"), col("cnt"),
        round(col("mean"), 6).as("baseline"), col("z"),
        (abs(coalesce(col("z"), lit(0.0))) >= 2).as("anomaly"))
      .orderBy(col("event_type"), col("day"))
  }

  private val a19Sql =
    s"""WITH daily AS (SELECT event_type, ${sqlDay(TS)} AS day,
       |  count(*) AS cnt FROM events GROUP BY 1, 2),
       |win AS (SELECT event_type, day, cnt,
       |  CAST(sum(cnt) OVER w AS BIGINT) AS s,
       |  CAST(sum(cnt * cnt) OVER w AS BIGINT) AS s2,
       |  count(cnt) OVER w AS n
       | FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day
       |  ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)),
       |sc AS (SELECT event_type, day, cnt,
       |  CAST(s AS DOUBLE) / n AS mean,
       |  CASE WHEN n > 1 THEN sqrt(greatest((CAST(s2 AS DOUBLE) -
       |    CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / (n - 1),
       |    CAST(0 AS DOUBLE))) END AS sd
       | FROM win)
       |SELECT event_type, day, cnt, round(mean, 6) AS baseline,
       | CASE WHEN sd > 0 THEN round((cnt - mean) / sd, 6) END AS z,
       | coalesce(abs(CASE WHEN sd > 0 THEN round((cnt - mean) / sd, 6)
       |   END), 0.0) >= 2 AS anomaly
       |FROM sc ORDER BY event_type, day""".stripMargin

  // A20 — RFM segmentation: every user scored into recency/frequency/
  // monetary quintiles (ntile(5) with a user_id tiebreak so bucket
  // edges are deterministic in both engines), rolled up to segment
  // populations — the classic account-scoring face over an activity
  // stream. One corpus shuffle (the per-user rollup); the three ntile
  // windows run over one row per user, and the global (no-key) windows
  // are fine at any scale because their input IS the user dimension,
  // which a real deployment ranges by score prefix anyway.
  private def a20(s: SparkSession, d: String): DataFrame = {
    val byUser = Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(max(us(col("ts"))).as("last_us"),
        count(lit(1)).as("freq"),
        dsumOut(abs(col("value"))).as("monetary"))
    import org.apache.spark.sql.expressions.Window
    val r = Window.orderBy(col("last_us").desc, col("user_id"))
    val f = Window.orderBy(col("freq").desc, col("user_id"))
    val m = Window.orderBy(col("monetary").desc, col("user_id"))
    byUser
      .withColumn("r", ntile(5).over(r))
      .withColumn("f", ntile(5).over(f))
      .withColumn("m", ntile(5).over(m))
      .groupBy(col("r"), col("f"), col("m"))
      .agg(count(lit(1)).as("n_users"),
        decOut(sum(dec6(col("monetary")))).as("segment_value"))
      .orderBy(col("r"), col("f"), col("m"))
  }

  private val a20Sql =
    s"""WITH u AS (SELECT user_id, max(${sqlUs(TS)}) AS last_us,
       |  count(*) AS freq,
       |  ${sqlDsumOut("abs(\"value\")")} AS monetary
       | FROM events GROUP BY 1),
       |q AS (SELECT user_id, monetary,
       |  CAST(ntile(5) OVER (ORDER BY last_us DESC, user_id) AS INT) AS r,
       |  CAST(ntile(5) OVER (ORDER BY freq DESC, user_id) AS INT) AS f,
       |  CAST(ntile(5) OVER (ORDER BY monetary DESC, user_id) AS INT) AS m
       | FROM u)
       |SELECT r, f, m, count(*) AS n_users,
       | ${sqlDecOut("sum(CAST(monetary AS DECIMAL(38,6)))")}
       |   AS segment_value
       |FROM q GROUP BY 1, 2, 3 ORDER BY r, f, m""".stripMargin


  // A21 — the DEFINITIONS.md account-metrics tables THROUGH THE WRITER
  // (graft.etl.Accounts.dumpAccountsDay — accountsactive :48-91,
  // accountspassive :106-177, accountsnew/reaped :204-234): dump-shaped
  // frames are synthesized from events (signed signers + click-row
  // authors = the active union; view rows = transfer participants with
  // a DISJOINT 'p'-prefixed recipient space so the passive set is
  // nonempty at every scale factor — at sf0.1 the user-id domain
  // otherwise covers every modular to-address; bounded id ranges make
  // the two balances partitions differ so new/reaped are nonempty
  // too), the REAL composition runs (union+argmax, anti-joins,
  // day-over-day set difference), all four tables write as date
  // partitions, and the rollup reads the WRITTEN layout back through
  // the schema-supplied frames dumpAccountsDay returns — which also
  // covers the empty-table read path. Oracle re-derives the set
  // algebra with NOT IN.
  private def a21(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    def u(c: org.apache.spark.sql.Column) = concat(lit("u"), c)
    val extrinsics = ev.select(lit(0).as("chain_id"),
      u(col("user_id")).as("signer_pub_key"),
      (pmod(col("event_id"), lit(4)) =!= 0).as("signed"),
      col("ts").as("block_time"))
    val blocks = ev.filter(col("event_type") === "click").select(
      lit(0).as("chain_id"),
      u(pmod(col("event_id"), lit(29))).as("author_pub_key"),
      col("ts").as("block_time"))
    val transfers = ev.filter(col("event_type") === "view").select(
      lit(0).as("chain_id"),
      u(col("user_id")).as("from_pub_key"),
      concat(lit("p"), pmod(col("event_id"), lit(300)))
        .as("to_pub_key"),
      col("ts").as("block_time"))
    val balToday = ev.filter(col("event_id") < 300).select(
      lit(0).as("chain_id"), u(col("event_id")).as("address_pubkey"))
    val balPrev = ev.filter(col("event_id") >= 100 &&
        col("event_id") < 380).select(
      lit(0).as("chain_id"), u(col("event_id")).as("address_pubkey"))
    val dir = queryDumpDir("graft_accounts_dump")
    val written = graft.etl.Accounts.dumpAccountsDay(extrinsics,
      blocks, transfers, balToday, balPrev, "2024-03-01", dir)
    Seq(
      ("accountsactive", "n_actions"),
      ("accountspassive", "n_touches"),
      ("accountsnew", null),
      ("accountsreaped", null)).map { case (tbl, metricCol) =>
        val metric =
          if (metricCol == null) count(lit(1))
          else sum(col(metricCol)).cast("long")
        written(tbl)
          .agg(count(lit(1)).as("n_rows"), metric.as("metric"))
          .select(lit(tbl).as("tbl"), col("n_rows"), col("metric"))
      }.reduce(_ unionByName _).orderBy(col("tbl"))
  }

  private val a21Sql =
    """WITH act AS (
      | SELECT a, count(*) AS n FROM (
      |  SELECT 'u' || CAST(user_id AS VARCHAR) AS a FROM events
      |  WHERE event_id % 4 <> 0
      |  UNION ALL
      |  SELECT 'u' || CAST(event_id % 29 AS VARCHAR) FROM events
      |  WHERE event_type = 'click') GROUP BY 1),
      |pas AS (
      | SELECT a, count(*) AS n FROM (
      |  SELECT 'u' || CAST(user_id AS VARCHAR) AS a FROM events
      |  WHERE event_type = 'view'
      |  UNION ALL
      |  SELECT 'p' || CAST(event_id % 300 AS VARCHAR) FROM events
      |  WHERE event_type = 'view')
      | WHERE a NOT IN (SELECT a FROM act) GROUP BY 1),
      |balt AS (SELECT DISTINCT 'u' || CAST(event_id AS VARCHAR) AS a
      | FROM events WHERE event_id < 300),
      |balp AS (SELECT DISTINCT 'u' || CAST(event_id AS VARCHAR) AS a
      | FROM events WHERE event_id >= 100 AND event_id < 380),
      |newa AS (SELECT a FROM balt WHERE a NOT IN (SELECT a FROM balp)),
      |reap AS (SELECT a FROM balp WHERE a NOT IN (SELECT a FROM balt))
      |SELECT * FROM (
      | SELECT 'accountsactive' AS tbl, count(*) AS n_rows,
      |  CAST(sum(n) AS BIGINT) AS metric FROM act
      | UNION ALL
      | SELECT 'accountspassive', count(*), CAST(sum(n) AS BIGINT)
      | FROM pas
      | UNION ALL
      | SELECT 'accountsnew', count(*), count(*) FROM newa
      | UNION ALL
      | SELECT 'accountsreaped', count(*), count(*) FROM reap)
      |ORDER BY tbl""".stripMargin


  // A22 — the blocklog DAILY CHAIN-METRICS row through the writer
  // (graft.etl.Metrics.dumpBlocklogDay — ref substrateetl.js:9440-9508
  // update_blocklog_bulk): dump-shaped frames synthesized from events
  // across THREE chains (chain = event_id % 3, so the per-chain
  // grouping and the left-join assembly are real), the composition
  // rolls blocks/extrinsics/events/transfers/active into one row per
  // chain, writes the date partition, and the query reads the WRITTEN
  // layout back. Money sums ride DECIMAL(38,6) → rounded double; the
  // DuckDB oracle re-derives every column.
  private def a22(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val chain = pmod(col("event_id"), lit(3)).cast("int")
    val blocks = ev.select(chain.as("chain_id"),
      col("event_id").as("number"))
    val extrinsics = ev.select(chain.as("chain_id"),
      (pmod(col("event_id"), lit(4)) =!= 0).as("signed"),
      concat(lit("u"), col("user_id")).as("signer_pub_key"),
      (pmod(col("event_id"), lit(100)).cast("double") / lit(10.0))
        .as("fee"),
      when(pmod(col("event_id"), lit(5)) === 0,
        pmod(col("event_id"), lit(100)).cast("double") / lit(5.0))
        .as("fee_usd"))
    val events = ev.filter(col("event_type") === "click")
      .select(chain.as("chain_id"))
    val transfers = ev.filter(col("event_type") === "view")
      .select(chain.as("chain_id"),
        when(pmod(col("event_id"), lit(2)) === 0,
          pmod(col("event_id"), lit(50)).cast("double"))
          .as("amount_usd"))
    val active = ev.filter(col("event_type") === "purchase")
      .select(chain.as("chain_id"),
        concat(lit("u"), col("user_id")).as("address_pubkey"))
      .distinct()
    val dir = queryDumpDir("graft_blocklog_dump")
    graft.etl.Metrics.dumpBlocklogDay(blocks, extrinsics, events,
      transfers, active, "2024-03-01", dir)
      .drop("log_dt").orderBy(col("chain_id"))
  }

  private val a22Sql =
    """WITH b AS (
      | SELECT event_id % 3 AS chain_id, count(*) AS n_blocks,
      |  min(event_id) AS min_block, max(event_id) AS max_block
      | FROM events GROUP BY 1),
      |e AS (
      | SELECT event_id % 3 AS chain_id, count(*) AS n_extrinsics,
      |  CAST(sum(CASE WHEN event_id % 4 <> 0 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_signed,
      |  count(DISTINCT CASE WHEN event_id % 4 <> 0
      |    THEN 'u' || CAST(user_id AS VARCHAR) END) AS n_signers,
      |  round(CAST(sum(CAST(CAST(event_id % 100 AS DOUBLE) / 10.0
      |    AS DECIMAL(38,6))) AS DOUBLE), 6) AS fees,
      |  round(CAST(sum(CAST(CASE WHEN event_id % 5 = 0
      |    THEN CAST(event_id % 100 AS DOUBLE) / 5.0 END
      |    AS DECIMAL(38,6))) AS DOUBLE), 6) AS fees_usd
      | FROM events GROUP BY 1),
      |evt AS (
      | SELECT event_id % 3 AS chain_id, count(*) AS n_events
      | FROM events WHERE event_type = 'click' GROUP BY 1),
      |tr AS (
      | SELECT event_id % 3 AS chain_id, count(*) AS n_transfers,
      |  round(CAST(sum(CAST(coalesce(CASE WHEN event_id % 2 = 0
      |    THEN CAST(event_id % 50 AS DOUBLE) END, 0.0)
      |    AS DECIMAL(38,6))) AS DOUBLE), 6) AS value_usd
      | FROM events WHERE event_type = 'view' GROUP BY 1),
      |ac AS (
      | SELECT chain_id, count(*) AS n_accounts_active FROM (
      |  SELECT DISTINCT event_id % 3 AS chain_id,
      |   'u' || CAST(user_id AS VARCHAR) AS a
      |  FROM events WHERE event_type = 'purchase') GROUP BY 1)
      |SELECT b.chain_id, b.n_blocks, b.min_block, b.max_block,
      | e.n_extrinsics, e.n_signed, e.n_signers, e.fees, e.fees_usd,
      | evt.n_events, tr.n_transfers, tr.value_usd,
      | ac.n_accounts_active
      |FROM b LEFT JOIN e ON b.chain_id = e.chain_id
      | LEFT JOIN evt ON b.chain_id = evt.chain_id
      | LEFT JOIN tr ON b.chain_id = tr.chain_id
      | LEFT JOIN ac ON b.chain_id = ac.chain_id
      |ORDER BY b.chain_id""".stripMargin

  // A23 — the blocklogstats MONTHLY rollup through the writer
  // (graft.etl.Metrics.dumpBlocklogStats — ref substrateetl.js:
  // 3970-4000 dump_substrateetl_polkaholic: per (chain, last_day(day)),
  // round(sum/min/max/avg, 2) + population stddev per metric, count(*)
  // days): a 225-row daily blocklog frame synthesized over 3 chains ×
  // 75 days spanning three months (a leap February among them),
  // with a periodically-null money metric AND one metric entirely null
  // for a chain (null-stat months), written as month partitions, read
  // back. The oracle replays the exact-decimal moment algebra —
  // Σx as DECIMAL(38,6), Σx² via the scale-12 exact square — so sums,
  // rounded averages, and σ = √((Σx²−(Σx)²/n)/n) match bit-for-bit.
  private def a23(s: SparkSession, d: String): DataFrame = {
    val base = Tables.events(s, d)
      .select(pmod(col("event_id"), lit(3)).cast("int").as("chain_id"),
        pmod(expr("event_id div 3"), lit(75)).cast("int").as("dayoff"))
      .distinct()
    val blocklog = base.select(
      col("chain_id"),
      date_format(date_add(lit("2024-01-01").cast("date"),
        col("dayoff")), "yyyy-MM-dd").as("log_dt"),
      (col("dayoff") * 7 + col("chain_id")).cast("long").as("n_blocks"),
      when(pmod(col("dayoff"), lit(5)) =!= 0,
        ((col("dayoff") * 13) % 97).cast("double") / lit(7.0))
        .as("fees_usd"),
      when(col("chain_id") =!= 2, pmod(col("dayoff"), lit(11))
        .cast("double")).as("value_usd"))
    val dir = queryDumpDir("graft_blocklogstats_dump")
    graft.etl.Metrics.dumpBlocklogStats(blocklog,
        Seq("n_blocks", "fees_usd", "value_usd"), dir)
      .orderBy(col("chain_id"), col("month_dt"))
  }

  // the five stat columns for one metric, replayed from first
  // principles (kept on single generated lines: this fragment is
  // interpolated into a stripMargin string)
  private def sqlStats(m: String): String = {
    val sumd = s"CAST(sum(CAST($m AS DECIMAL(38,6))) AS DOUBLE)"
    val sumsq = "CAST(sum(CAST(CAST(" + m + " AS DECIMAL(18,6)) * " +
      s"CAST($m AS DECIMAL(18,6)) AS DECIMAL(38,12))) AS DOUBLE)"
    val n = s"CAST(count($m) AS DOUBLE)"
    s"round($sumd, 2) AS ${m}_sum, " +
      s"round(CAST(min($m) AS DOUBLE), 2) AS ${m}_min, " +
      s"round(CAST(max($m) AS DOUBLE), 2) AS ${m}_max, " +
      s"CASE WHEN count($m) > 0 THEN round($sumd / $n, 2) END " +
      s"AS ${m}_avg, " +
      s"CASE WHEN count($m) > 0 THEN sqrt(greatest(0.0, " +
      s"($sumsq - $sumd * $sumd / $n) / $n)) END AS ${m}_std"
  }

  private val a23Sql =
    s"""WITH base AS (
       | SELECT DISTINCT CAST(event_id % 3 AS INT) AS chain_id,
       |  CAST((event_id // 3) % 75 AS INT) AS dayoff FROM events),
       |bl AS (
       | SELECT chain_id, DATE '2024-01-01' + dayoff AS log_dt,
       |  CAST(dayoff * 7 + chain_id AS BIGINT) AS n_blocks,
       |  CASE WHEN dayoff % 5 <> 0
       |   THEN CAST((dayoff * 13) % 97 AS DOUBLE) / 7.0 END AS fees_usd,
       |  CASE WHEN chain_id <> 2
       |   THEN CAST(dayoff % 11 AS DOUBLE) END AS value_usd
       | FROM base)
       |SELECT chain_id, last_day(log_dt) AS month_dt, count(*) AS days,
       | ${sqlStats("n_blocks")},
       | ${sqlStats("fees_usd")},
       | ${sqlStats("value_usd")}
       |FROM bl GROUP BY chain_id, last_day(log_dt)
       |ORDER BY chain_id, month_dt""".stripMargin

  // A24 — the full_users exchange-attribution table
  // (graft.etl.Accounts.usersTags — ref substrateetl.js:603-663
  // dump_users_tags): transfers roll to (from, to) pairs, senders tag
  // against a known-address dimension built off nation (u0-u24 known,
  // every 6th a Scam, senders u25-u39 untagged — both drop via the
  // reference's LEFT-JOIN-that-is-an-INNER-JOIN), attribution = min
  // over the (ts, extrinsic, sender, label) struct (the delimiter-safe
  // form of the reference's concatenated-string min), labels dedupe
  // sorted. The oracle replays the whole chain including the struct
  // min and the JSON label list.
  private def a24(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).filter(col("event_id") < 5000)
    val transfers = ev.select(
      concat(lit("u"), pmod(col("event_id"), lit(40)))
        .as("from_pub_key"),
      concat(lit("u"), col("user_id")).as("to_pub_key"),
      (pmod(col("event_id"), lit(1000)).cast("double") / lit(3.0))
        .as("amount"),
      concat(expr("event_id div 10"), lit("-"),
        pmod(col("event_id"), lit(10))).as("extrinsic_id"),
      col("ts").as("block_time"))
    val tags = Tables.nation(s, d).select(
      concat(lit("u"), col("n_nationkey")).as("address_pubkey"),
      concat(lit("L"), pmod(col("n_nationkey"), lit(5)))
        .as("address_label"),
      when(pmod(col("n_nationkey"), lit(6)) === 0, "Scams")
        .otherwise("Exchange").as("account_type"))
    graft.etl.Accounts.usersTags(transfers, tags)
      .orderBy(col("user_pubkey"))
  }

  private val a24Sql =
    """WITH t AS (
      | SELECT 'u' || (event_id % 40) AS from_pub_key,
      |  'u' || user_id AS to_pub_key,
      |  CAST(event_id % 1000 AS DOUBLE) / 3.0 AS amount,
      |  (event_id // 10) || '-' || (event_id % 10) AS extrinsic_id,
      |  ts AS block_time
      | FROM events WHERE event_id < 5000),
      |tags AS (
      | SELECT 'u' || n_nationkey AS address_pubkey,
      |  'L' || (n_nationkey % 5) AS address_label,
      |  CASE WHEN n_nationkey % 6 = 0 THEN 'Scams'
      |   ELSE 'Exchange' END AS account_type
      | FROM nation),
      |pair AS (
      | SELECT from_pub_key, to_pub_key,
      |  sum(CAST(amount AS DECIMAL(38,6))) AS amount,
      |  count(*) AS transfer_cnt,
      |  min(extrinsic_id) AS extrinsic_id,
      |  min(block_time) AS ts
      | FROM t GROUP BY 1, 2),
      |tg AS (
      | SELECT to_pub_key AS user_pubkey,
      |  coalesce(address_label, 'other') AS known_label,
      |  from_pub_key, extrinsic_id, transfer_cnt, amount, ts
      | FROM pair JOIN tags ON tags.address_pubkey = pair.from_pub_key
      | WHERE account_type <> 'Scams'),
      |att AS (
      | SELECT user_pubkey,
      |  to_json(list_sort(list(DISTINCT known_label)))
      |    AS known_labels,
      |  round(CAST(sum(amount) AS DOUBLE), 6) AS amount,
      |  CAST(sum(transfer_cnt) AS BIGINT) AS transfer_cnt,
      |  min({'ts': strftime(ts, '%Y-%m-%d %H:%M:%S'),
      |       'e': extrinsic_id, 'f': from_pub_key,
      |       'l': known_label}) AS a
      | FROM tg GROUP BY 1)
      |SELECT user_pubkey, known_labels, amount, transfer_cnt,
      | a.ts AS first_transfer_ts,
      | a.e AS first_transfer_extrinsic_id,
      | a.f AS first_transfer_sender_pub_key,
      | a.l AS first_transfer
      |FROM att ORDER BY user_pubkey""".stripMargin

  // A25/A26 — the xcm summary → blocklog decoration → rolling ranges
  // chain (graft.etl.Metrics.{xcmDailySummary, blocklogWithXcm,
  // xcmRangeView} — ref substrateetl.js:5221-5320 update_xcm_summary):
  // xcmtransfer and xcm-message day frames synthesized from events
  // under the KUSAMA relay so the paraID→chainID mapping exercises all
  // three lanes (relay itself: para 0 → chain 2; the subsocial
  // renumbering 2101 → 22100; the generic prefix 2×10000+para),
  // today-rows synthesized and excluded by the `having logDT < today`
  // gate, unpriced rows counted at 0 USD, and the blocklog grid
  // carrying a chain with NO xcm activity (null summary columns — the
  // reference's untouched UPDATE rows). a25 reads the decorated
  // blocklog; a26 rolls the 7d/30d/all-time view on top. Oracles
  // replay the four rollups, the key merge, the left-join decoration,
  // and the range windows with exact-decimal USD sums.
  private def xcmSummaryMerged(s: SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    val today = "2024-03-01"
    val base = 1709251200L // today 00:00:00Z
    val ev = Tables.events(s, d)
    val sid = col("event_id")
    // in-range rows land 1..45 days before today; every 31st row lands
    // ON today and must drop out of the summary
    def ts(of: org.apache.spark.sql.Column) =
      timestamp_seconds(lit(base) - of * 86400L + pmod(sid, lit(80000L)))
    val dayOff = when(pmod(sid, lit(31)) === 0, 0)
      .otherwise(pmod(sid, lit(45)) + 1)
    val destPara = when(pmod(sid, lit(9)) === 0, 0L)
      .when(pmod(sid, lit(13)) === 0, 2101L)
      .otherwise(lit(2000L) + pmod(sid, lit(4L)))
    val origPara = when(pmod(sid, lit(11)) === 0, 0L)
      .otherwise(lit(2000L) + pmod(sid + 1, lit(4L)))
    val transfers = ev.filter(col("event_type") === "purchase").select(
      ts(dayOff).as("origination_ts"),
      destPara.as("destination_para_id"),
      origPara.as("origination_para_id"),
      when(pmod(sid, lit(5)) =!= 0,
        pmod(sid, lit(100)).cast("double") / lit(10.0))
        .as("origination_amount_sent_usd"),
      when(pmod(sid, lit(7)) =!= 0,
        pmod(sid, lit(80)).cast("double") / lit(8.0))
        .as("destination_amount_received_usd"))
    val messages = ev.filter(col("event_type") === "signup").select(
      ts(dayOff).as("origination_ts"),
      destPara.as("destination_para_id"),
      origPara.as("origination_para_id"))
    // blocklog grid: kusama chain ids incl. one (25555) that never
    // sees xcm, per (chain, day) metric deterministic off the key
    val grid = ev.select(
      element_at(array(lit(2), lit(22000), lit(22001), lit(22002),
        lit(22003), lit(22100), lit(25555)),
        (pmod(col("user_id"), lit(7)) + 1).cast("int")).as("chain_id"),
      date_format(date_sub(lit(today).cast("date"),
        (pmod(sid, lit(45)) + 1).cast("int")), "yyyy-MM-dd")
        .as("log_dt")).distinct()
    val blocklog = grid.withColumn("n_blocks",
      (dayofmonth(col("log_dt").cast("date")) +
        pmod(col("chain_id"), lit(1000))).cast("long"))
    val summary = graft.etl.Metrics.xcmDailySummary(
      transfers, messages, "kusama", today)
    graft.etl.Metrics.blocklogWithXcm(blocklog, summary)
  }

  private def a25(s: SparkSession, d: String): DataFrame =
    xcmSummaryMerged(s, d)
      .orderBy(col("chain_id"), col("log_dt"))

  // the shared synthesis CTEs both oracles replay
  private val xcmSummarySqlCtes =
    """WITH tf AS (
      | SELECT event_id AS sid,
      |  CASE WHEN event_id % 31 = 0 THEN 0
      |   ELSE event_id % 45 + 1 END AS dayoff
      | FROM events WHERE event_type = 'purchase'),
      |tfr AS (
      | SELECT CAST(DATE '2024-03-01' - CAST(dayoff AS INTEGER) AS VARCHAR) AS log_dt,
      |  CASE WHEN sid % 9 = 0 THEN 2 WHEN sid % 13 = 0 THEN 22100
      |   ELSE 22000 + sid % 4 END AS dest_chain,
      |  CASE WHEN sid % 11 = 0 THEN 2
      |   ELSE 22000 + (sid + 1) % 4 END AS orig_chain,
      |  CASE WHEN sid % 5 <> 0
      |   THEN CAST(sid % 100 AS DOUBLE) / 10.0 END AS sent_usd,
      |  CASE WHEN sid % 7 <> 0
      |   THEN CAST(sid % 80 AS DOUBLE) / 8.0 END AS recv_usd
      | FROM tf WHERE dayoff > 0),
      |ms AS (
      | SELECT event_id AS sid,
      |  CASE WHEN event_id % 31 = 0 THEN 0
      |   ELSE event_id % 45 + 1 END AS dayoff
      | FROM events WHERE event_type = 'signup'),
      |msr AS (
      | SELECT CAST(DATE '2024-03-01' - CAST(dayoff AS INTEGER) AS VARCHAR) AS log_dt,
      |  CASE WHEN sid % 9 = 0 THEN 2 WHEN sid % 13 = 0 THEN 22100
      |   ELSE 22000 + sid % 4 END AS dest_chain,
      |  CASE WHEN sid % 11 = 0 THEN 2
      |   ELSE 22000 + (sid + 1) % 4 END AS orig_chain
      | FROM ms WHERE dayoff > 0),
      |tin AS (
      | SELECT log_dt, dest_chain AS chain_id,
      |  count(*) AS num_xcm_transfers_in,
      |  round(CAST(sum(CAST(coalesce(sent_usd, 0.0) AS DECIMAL(38,6)))
      |   AS DOUBLE), 6) AS val_xcm_transfer_incoming_usd
      | FROM tfr GROUP BY 1, 2),
      |tout AS (
      | SELECT log_dt, orig_chain AS chain_id,
      |  count(*) AS num_xcm_transfers_out,
      |  round(CAST(sum(CAST(coalesce(recv_usd, 0.0) AS DECIMAL(38,6)))
      |   AS DOUBLE), 6) AS val_xcm_transfer_outgoing_usd
      | FROM tfr GROUP BY 1, 2),
      |min_ AS (
      | SELECT log_dt, dest_chain AS chain_id,
      |  count(*) AS num_xcm_messages_in
      | FROM msr GROUP BY 1, 2),
      |mout AS (
      | SELECT log_dt, orig_chain AS chain_id,
      |  count(*) AS num_xcm_messages_out
      | FROM msr GROUP BY 1, 2),
      |grid AS (
      | SELECT DISTINCT
      |  CASE user_id % 7 WHEN 0 THEN 2 WHEN 1 THEN 22000
      |   WHEN 2 THEN 22001 WHEN 3 THEN 22002 WHEN 4 THEN 22003
      |   WHEN 5 THEN 22100 ELSE 25555 END AS chain_id,
      |  CAST(DATE '2024-03-01' - CAST(event_id % 45 + 1 AS INTEGER) AS VARCHAR)
      |   AS log_dt
      | FROM events),
      |bl AS (
      | SELECT chain_id, log_dt,
      |  CAST(EXTRACT(day FROM CAST(log_dt AS DATE)) + chain_id % 1000
      |   AS BIGINT) AS n_blocks
      | FROM grid),
      |merged AS (
      | SELECT bl.chain_id, bl.log_dt, bl.n_blocks,
      |  tin.num_xcm_transfers_in, tin.val_xcm_transfer_incoming_usd,
      |  tout.num_xcm_transfers_out, tout.val_xcm_transfer_outgoing_usd,
      |  min_.num_xcm_messages_in, mout.num_xcm_messages_out
      | FROM bl
      | LEFT JOIN tin ON bl.chain_id = tin.chain_id
      |  AND bl.log_dt = tin.log_dt
      | LEFT JOIN tout ON bl.chain_id = tout.chain_id
      |  AND bl.log_dt = tout.log_dt
      | LEFT JOIN min_ ON bl.chain_id = min_.chain_id
      |  AND bl.log_dt = min_.log_dt
      | LEFT JOIN mout ON bl.chain_id = mout.chain_id
      |  AND bl.log_dt = mout.log_dt)
      |""".stripMargin

  private val a25Sql = xcmSummarySqlCtes +
    """SELECT * FROM merged ORDER BY chain_id, log_dt""".stripMargin

  private def a26(s: SparkSession, d: String): DataFrame =
    // production reads the DECORATED blocklog back as a table before
    // rolling ranges; the localCheckpoint is that materialization's
    // cheap twin — without it each of the three range windows would
    // recompute the whole summary chain
    graft.etl.Metrics.xcmRangeView(
        xcmSummaryMerged(s, d).localCheckpoint(), "2024-03-01")
      .orderBy(col("range"), col("chain_id"))

  private val a26Sql = xcmSummarySqlCtes +
    """, rng AS (SELECT unnest([7, 30, 99999]) AS r)
      |SELECT chain_id,
      | COALESCE(CAST(sum(num_xcm_transfers_in) AS BIGINT),
      |  CAST(0 AS BIGINT)) AS num_xcm_transfer_incoming,
      | COALESCE(round(CAST(sum(CAST(val_xcm_transfer_incoming_usd
      |  AS DECIMAL(38,6))) AS DOUBLE), 6), 0.0)
      |  AS val_xcm_transfer_incoming_usd,
      | COALESCE(CAST(sum(num_xcm_transfers_out) AS BIGINT),
      |  CAST(0 AS BIGINT)) AS num_xcm_transfer_outgoing,
      | COALESCE(round(CAST(sum(CAST(val_xcm_transfer_outgoing_usd
      |  AS DECIMAL(38,6))) AS DOUBLE), 6), 0.0)
      |  AS val_xcm_transfer_outgoing_usd,
      | CASE WHEN r > 9999 THEN '' ELSE CAST(r AS VARCHAR) || 'd' END
      |  AS range
      |FROM merged CROSS JOIN rng
      |WHERE log_dt > CAST(DATE '2024-03-01' - CAST(r AS INTEGER) AS VARCHAR)
      |GROUP BY chain_id, r
      |ORDER BY range, chain_id""".stripMargin

  // A27 — per-account role labels through the whole-table-replace
  // writer (graft.etl.Accounts.dumpAccountLabels — ref
  // substrateetl.js:366-441 update_account_labels: distinct accounts
  // per role query, getPubKey normalization, the 66-char pubkey gate,
  // BigTable labels upsert): four role frames synthesized from events
  // exercising both address forms and both drop lanes — validator
  // accounts arrive as REAL ss58 strings (the decode kernel
  // round-trips them to md5-re-derivable pubkeys), nominator hex
  // arrives mixed-case (pins the lower() normalization), poolmember
  // rows include H160s (dropped by the length gate) and a malformed
  // address (decode-guard null, dropped), voter is the reference's
  // votes ∪ delegation union. The query reads the WRITTEN dim back
  // and rolls up per label; DuckDB re-derives members and bounds.
  private def a27(s: SparkSession, d: String): DataFrame = {
    // every role's account expression is a function of user_id alone,
    // so the fact table collapses to the DISTINCT (event_type, user_id)
    // dim ONCE before any branch work (round 18, guide §1.2: the
    // oracle's own `pk AS (SELECT DISTINCT user_id, event_type)` shape)
    // — the old shape scanned events five times (one per role frame,
    // voter twice) and ran the synth/encode expressions per fact row.
    // localCheckpoint, not reuse-by-plan: a filter on the group key
    // pushes below the distinct and makes the four subtrees differ.
    val ev = Tables.events(s, d)
      .select(col("event_type"), col("user_id")).distinct()
      .localCheckpoint()
    val uidS = col("user_id").cast("string")
    def pkBody(seed: org.apache.spark.sql.Column) =
      substring(synthPk(seed), 3, 64)
    val validator = ev.filter(col("event_type") === "purchase")
      .select(call_udf("ss58_encode",
        synthPk(pmod(col("user_id"), lit(50)).cast("string")), lit(0))
        .as("account"))
    val nominator = ev.filter(col("event_type") === "signup")
      .select(concat(lit("0x"),
        when(pmod(col("user_id"), lit(4)) === 0, upper(pkBody(uidS)))
          .otherwise(pkBody(uidS))).as("account"))
    val poolmember = ev.filter(col("event_type") === "view")
      .select(
        when(pmod(col("user_id"), lit(17)) === 0, lit("junk"))
          .when(pmod(col("user_id"), lit(3)) === 0, synthH160(uidS))
          // BARE 64-hex lane: getPubKey pads the 0x, so these rows
          // normalize to the SAME pubkey the 0x lane produces — the
          // oracle's member set is unchanged, pinning the pad
          .when(pmod(col("user_id"), lit(5)) === 0, pkBody(uidS))
          .otherwise(synthPk(uidS)).as("account"))
    val voter = ev.filter(col("event_type") === "click")
      .select(synthPk(uidS).as("account"))
      .unionByName(ev.filter(col("event_type") === "click")
        .select(synthPk(concat(uidS, lit("d"))).as("account")))
    val dir = queryDumpDir("graft_labels_dump")
    graft.etl.Accounts.dumpAccountLabels(Seq(
      "validator0" -> validator, "nominator0" -> nominator,
      "poolmember0" -> poolmember, "voter0" -> voter), dir)
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_accounts"),
        min(col("address_pubkey")).as("min_pub"),
        max(col("address_pubkey")).as("max_pub"))
      .orderBy(col("label"))
  }

  private val a27Sql =
    """WITH pk AS (
      | SELECT DISTINCT user_id AS u, event_type FROM events),
      |members AS (
      | SELECT 'validator0' AS label,
      |  '0x' || md5(CAST(u % 50 AS VARCHAR))
      |   || md5(CAST(u % 50 AS VARCHAR) || 'x') AS a
      | FROM pk WHERE event_type = 'purchase'
      | UNION
      | SELECT 'nominator0',
      |  '0x' || md5(CAST(u AS VARCHAR)) || md5(CAST(u AS VARCHAR) || 'x')
      | FROM pk WHERE event_type = 'signup'
      | UNION
      | SELECT 'poolmember0',
      |  '0x' || md5(CAST(u AS VARCHAR)) || md5(CAST(u AS VARCHAR) || 'x')
      | FROM pk WHERE event_type = 'view' AND u % 17 <> 0 AND u % 3 <> 0
      | UNION
      | SELECT 'voter0',
      |  '0x' || md5(CAST(u AS VARCHAR)) || md5(CAST(u AS VARCHAR) || 'x')
      | FROM pk WHERE event_type = 'click'
      | UNION
      | SELECT 'voter0',
      |  '0x' || md5(CAST(u AS VARCHAR) || 'd')
      |   || md5(CAST(u AS VARCHAR) || 'dx')
      | FROM pk WHERE event_type = 'click')
      |SELECT label, count(*) AS n_accounts,
      | min(a) AS min_pub, max(a) AS max_pub
      |FROM members GROUP BY label ORDER BY label""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "a27_account_labels" -> (a27 _),
    "a17_salted_agg" -> (a17 _),
    "a18_cohort_retention" -> (a18 _),
    "a19_anomaly" -> (a19 _),
    "a20_rfm_segments" -> (a20 _),
    "a21_accounts_dump" -> (a21 _),
    "a22_blocklog_dump" -> (a22 _),
    "a23_blocklogstats" -> (a23 _),
    "a24_users_tags" -> (a24 _),
    "a25_xcm_summary" -> (a25 _),
    "a26_xcm_ranges" -> (a26 _),
    "a1_order_stats" -> (a1 _),
    "a2_daily_metrics" -> (a2 _),
    "a3_trailing_rollup" -> (a3 _),
    "a4_monthly_stats" -> (a4 _),
    "a5_active_accounts" -> (a5 _),
    "a6_passive_accounts" -> (a6 _),
    "a7_new_accounts" -> (a7 _),
    "a7b_reaped_accounts" -> (a7b _),
    "a8_fee_stats" -> (a8 _),
    "a9_daily_type_summary" -> (a9 _),
    "a10_first_attribution" -> (a10 _),
    "a11_holder_tallies" -> (a11 _),
    "a12_ohlcv" -> (a12 _),
    "a13_era_rollup" -> (a13 _),
    "a14_gap_islands" -> (a14 _),
    "a15_audit_counts" -> (a15 _),
    "a16_distinct_daily" -> (a16 _),
    "a16b_approx_distinct" -> (a16b _),
    "a16c_kmv_distinct" -> (a16c _),
  )

  val oracles: Map[String, String] = Map(
    "a16c_kmv_distinct" -> a16cSql,
    "a17_salted_agg" -> a17Sql,
    "a18_cohort_retention" -> a18Sql,
    "a19_anomaly" -> a19Sql,
    "a20_rfm_segments" -> a20Sql,
    "a21_accounts_dump" -> a21Sql,
    "a22_blocklog_dump" -> a22Sql,
    "a23_blocklogstats" -> a23Sql,
    "a24_users_tags" -> a24Sql,
    "a25_xcm_summary" -> a25Sql,
    "a27_account_labels" -> a27Sql,
    "a26_xcm_ranges" -> a26Sql,
    "a1_order_stats" -> a1Sql,
    "a2_daily_metrics" -> a2Sql,
    "a3_trailing_rollup" -> a3Sql,
    "a4_monthly_stats" -> a4Sql,
    "a5_active_accounts" -> a5Sql,
    "a6_passive_accounts" -> a6Sql,
    "a7_new_accounts" -> a7Sql,
    "a7b_reaped_accounts" -> a7bSql,
    "a8_fee_stats" -> a8Sql,
    "a9_daily_type_summary" -> a9Sql,
    "a10_first_attribution" -> a10Sql,
    "a11_holder_tallies" -> a11Sql,
    "a12_ohlcv" -> a12Sql,
    "a13_era_rollup" -> a13Sql,
    "a14_gap_islands" -> a14Sql,
    "a15_audit_counts" -> a15Sql,
    "a16_distinct_daily" -> a16Sql,
  )
}
