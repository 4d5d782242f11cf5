package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Join operator family — SURVEY.md §2.4 (J1-J17): interval self-joins with
  * top-1-per-key matching, tolerance/as-of joins, broadcast dimension joins,
  * semi/anti joins, theta-band joins, day-over-day self-joins.
  *
  * Scale notes:
  *  - Dimension joins (j6/j8/j9) explicitly `broadcast()` the small side —
  *    at 100 TB the fact side never shuffles for these.
  *  - The time-window self-joins (j1/j3) join on an equi-key (user_id)
  *    first, so Spark plans a shuffled hash/sort-merge join on the key and
  *    evaluates the interval predicate as a post-join filter — no
  *    nested-loop blowup. The matching window is bounded (the reference's
  *    lookbackSeconds=120 idea, xcmmanager.js:423), which with event-time
  *    bucketing keeps per-key candidate sets small.
  *  - As-of join (j16) uses the union+last(ignoreNulls) window form — one
  *    shuffle on the partition key, no range explosion.
  */
object JoinOps {

  // J1 — XCM message matching: source×dest self equi-join + bounded
  // interval + closest-first top-1-per-key
  // (ref xcmmanager.js:423-497: HAVING diffSentAt BETWEEN 0 AND 4, then
  // first-wins ordered by (diffSentAt, diffTS)).
  private def j1(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val src = ev.filter(col("event_type") === "signup")
      .select(col("user_id"), col("event_id").as("s_event_id"),
        us(col("ts")).as("s_us"))
    val dst = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("d_event_id"),
        us(col("ts")).as("d_us"))
    val joined = src.join(dst, Seq("user_id"))
      .withColumn("diff_us", col("d_us") - col("s_us"))
      .filter(col("diff_us") >= 0L &&
        col("diff_us") <= 7200L * 1000000L)
    val w = Window.partitionBy(col("s_event_id"))
      .orderBy(col("diff_us"), col("d_event_id"))
    joined.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
      .select(col("user_id"), col("s_event_id"), col("d_event_id"),
        col("diff_us"))
      .orderBy(col("s_event_id"))
  }

  private val j1Sql =
    s"""SELECT user_id, s_event_id, d_event_id, diff_us FROM (
       | SELECT s.user_id, s.s_event_id, d.d_event_id,
       |  d.d_us - s.s_us AS diff_us,
       |  row_number() OVER (PARTITION BY s.s_event_id
       |    ORDER BY d.d_us - s.s_us, d.d_event_id) AS rn
       | FROM (SELECT user_id, event_id AS s_event_id, ${sqlUs(TS)} AS s_us
       |       FROM events WHERE event_type = 'signup') s
       | JOIN (SELECT user_id, event_id AS d_event_id, ${sqlUs(TS)} AS d_us
       |       FROM events WHERE event_type = 'purchase') d
       |  ON s.user_id = d.user_id
       | WHERE d.d_us - s.s_us BETWEEN 0 AND CAST(7200000000 AS BIGINT))
       |WHERE rn = 1 ORDER BY s_event_id""".stripMargin

  // J2 — the full two-pass match: after the per-source closest-wins pick
  // (j1), each destination may be consumed by only ONE source — first
  // wins in the same (diff, id) order (ref xcmmanager.js:609-645 dedup
  // pass marking duplicates).
  private def j2(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val src = ev.filter(col("event_type") === "signup")
      .select(col("user_id"), col("event_id").as("s_event_id"),
        us(col("ts")).as("s_us"))
    val dst = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("d_event_id"),
        us(col("ts")).as("d_us"))
    val joined = src.join(dst, Seq("user_id"))
      .withColumn("diff_us", col("d_us") - col("s_us"))
      .filter(col("diff_us") >= 0L &&
        col("diff_us") <= 7200L * 1000000L)
    val perSrc = Window.partitionBy(col("s_event_id"))
      .orderBy(col("diff_us"), col("d_event_id"))
    val best = joined.withColumn("rn", row_number().over(perSrc))
      .filter(col("rn") === 1).drop("rn")
    val perDst = Window.partitionBy(col("d_event_id"))
      .orderBy(col("diff_us"), col("s_event_id"))
    best.withColumn("rn", row_number().over(perDst))
      .filter(col("rn") === 1).drop("rn")
      .select(col("user_id"), col("s_event_id"), col("d_event_id"),
        col("diff_us"))
      .orderBy(col("s_event_id"))
  }

  private val j2Sql =
    s"""WITH cand AS (
       | SELECT s.user_id, s.s_event_id, d.d_event_id,
       |  d.d_us - s.s_us AS diff_us
       | FROM (SELECT user_id, event_id AS s_event_id, ${sqlUs(TS)} AS s_us
       |       FROM events WHERE event_type = 'signup') s
       | JOIN (SELECT user_id, event_id AS d_event_id, ${sqlUs(TS)} AS d_us
       |       FROM events WHERE event_type = 'purchase') d
       |  ON s.user_id = d.user_id
       | WHERE d.d_us - s.s_us BETWEEN 0 AND CAST(7200000000 AS BIGINT)),
       |best AS (
       | SELECT * FROM (SELECT *, row_number() OVER (
       |   PARTITION BY s_event_id ORDER BY diff_us, d_event_id) AS rn
       |  FROM cand) WHERE rn = 1)
       |SELECT user_id, s_event_id, d_event_id, diff_us FROM (
       | SELECT user_id, s_event_id, d_event_id, diff_us,
       |  row_number() OVER (PARTITION BY d_event_id
       |    ORDER BY diff_us, s_event_id) AS rn2
       | FROM best) WHERE rn2 = 1 ORDER BY s_event_id""".stripMargin

  // J3 — tolerance/as-of candidate matching with value predicate and
  // confidence ranking (ref xcmCleaner.js:569-666: destTS within
  // [sourceTS-10, sourceTS+120], amount tolerance, confidence sort).
  private def j3(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val src = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("s_event_id"),
        us(col("ts")).as("s_us"), col("value").as("s_value"))
    val cand = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("event_id").as("c_event_id"),
        us(col("ts")).as("c_us"), col("value").as("c_value"))
    val joined = src.join(cand, Seq("user_id"))
      .filter(col("c_us") >= col("s_us") - 600L * 1000000L &&
        col("c_us") <= col("s_us") + 7200L * 1000000L)
      .withColumn("score", abs(col("c_value") - col("s_value")))
    val w = Window.partitionBy(col("s_event_id"))
      .orderBy(col("score"), col("c_event_id"))
    joined.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("score") <= 25.0).drop("rn")
      .select(col("user_id"), col("s_event_id"), col("c_event_id"),
        round(col("score"), 6).as("score"))
      .orderBy(col("s_event_id"))
  }

  private val j3Sql =
    s"""SELECT user_id, s_event_id, c_event_id, round(score, 6) AS score FROM (
       | SELECT s.user_id, s.s_event_id, c.c_event_id,
       |  abs(c.c_value - s.s_value) AS score,
       |  row_number() OVER (PARTITION BY s.s_event_id
       |    ORDER BY abs(c.c_value - s.s_value), c.c_event_id) AS rn
       | FROM (SELECT user_id, event_id AS s_event_id, ${sqlUs(TS)} AS s_us,
       |        "value" AS s_value FROM events WHERE event_type = 'purchase') s
       | JOIN (SELECT user_id, event_id AS c_event_id, ${sqlUs(TS)} AS c_us,
       |        "value" AS c_value FROM events WHERE event_type = 'error') c
       |  ON s.user_id = c.user_id
       | WHERE c.c_us >= s.s_us - CAST(600000000 AS BIGINT)
       |   AND c.c_us <= s.s_us + CAST(7200000000 AS BIGINT))
       |WHERE rn = 1 AND score <= 25.0 ORDER BY s_event_id""".stripMargin

  // J6 — dimension joins, broadcast (ref query.js:2214 asset LEFT JOIN
  // xcmasset): customer -> nation -> region.
  private def j6(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_customers"),
        dsumOut(col("c_acctbal")).as("sum_bal"))
      .orderBy(col("r_name"), col("n_name"))

  private val j6Sql =
    s"""SELECT r_name, n_name, count(*) AS n_customers,
       | ${sqlDsumOut("c_acctbal")} AS sum_bal
       |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin

  // J8 — multi-way route tally (ref xcmmanager.js:353 4-way join + count):
  // lineitem x orders x customer x nation x region, revenue per nation.
  private def j8(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_lines"),
        decOut(sum(dec6(col("l_extendedprice") * (lit(1.0) - col("l_discount")))))
          .as("revenue"))
      .orderBy(col("r_name"), col("n_name"))

  private val j8Sql =
    s"""SELECT r_name, n_name, count(*) AS n_lines,
       | ${sqlDecOut("sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6)))")} AS revenue
       |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin

  // J9 — multi-stage left joins over aggregated CTEs
  // (ref docs/StakingAnalytics.md:41-105: validators/nominators pipeline).
  private def j9(s: SparkSession, d: String): DataFrame = {
    val sup = Tables.supplier(s, d).groupBy(col("s_nationkey").as("nk"))
      .agg(count(lit(1)).as("n_suppliers"),
        dsumOut(col("s_acctbal")).as("sup_bal"))
    val cust = Tables.customer(s, d).groupBy(col("c_nationkey").as("nk"))
      .agg(count(lit(1)).as("n_customers"),
        dsumOut(col("c_acctbal")).as("cust_bal"))
    broadcast(Tables.nation(s, d))
      .join(sup, col("n_nationkey") === sup("nk"), "left")
      .drop("nk")
      .join(cust, col("n_nationkey") === cust("nk"), "left")
      .drop("nk")
      .select(col("n_name"),
        coalesce(col("n_suppliers"), lit(0L)).as("n_suppliers"),
        col("sup_bal"),
        coalesce(col("n_customers"), lit(0L)).as("n_customers"),
        col("cust_bal"))
      .orderBy(col("n_name"))
  }

  private val j9Sql =
    s"""WITH sup AS (SELECT s_nationkey AS nk, count(*) AS n_suppliers,
       |  ${sqlDsumOut("s_acctbal")} AS sup_bal FROM supplier GROUP BY 1),
       |cust AS (SELECT c_nationkey AS nk, count(*) AS n_customers,
       |  ${sqlDsumOut("c_acctbal")} AS cust_bal FROM customer GROUP BY 1)
      |SELECT n_name, coalesce(sup.n_suppliers, 0) AS n_suppliers, sup.sup_bal,
      | coalesce(cust.n_customers, 0) AS n_customers, cust.cust_bal
      |FROM nation
      |LEFT JOIN sup ON n_nationkey = sup.nk
      |LEFT JOIN cust ON n_nationkey = cust.nk
      |ORDER BY n_name""".stripMargin

  // J11 — anti-join: customers with no orders
  // (ref docs/DEFINITIONS.md:171-173 NOT IN).
  private def j11(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"),
        min(col("c_custkey")).as("min_custkey"))
      .orderBy(col("c_mktsegment"))

  private val j11Sql =
    """SELECT c_mktsegment, count(*) AS n_customers, min(c_custkey) AS min_custkey
      |FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // J12 — semi-join: orders having a high-quantity line
  // (ref substrateetl.js:3964 chainID IN (SELECT ...)).
  private def j12(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .join(Tables.lineitem(s, d).filter(col("l_quantity") >= 48.0)
          .select(col("l_orderkey")),
        col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("o_orderpriority"))

  private val j12Sql =
    """SELECT o_orderpriority, count(*) AS n_orders
      |FROM orders
      |WHERE EXISTS (SELECT 1 FROM lineitem
      |  WHERE l_orderkey = o_orderkey AND l_quantity >= 48.0)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // J13 — theta-band join: daily value vs monthly avg±2σ audit gate
  // (ref substrateetl.js:4047-4058).
  private def j13(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val daily = ev.groupBy(dayKey(col("ts")).as("log_dt"))
      .agg(dsum(col("value")).cast("double").as("day_value"))
      .withColumn("log_month", substring(col("log_dt"), 1, 7))
    val monthly = daily.groupBy(col("log_month").as("m"))
      .agg(dmean(col("day_value")).as("avg_value"),
        dstd(col("day_value")).as("std_value"))
    daily.join(monthly, daily("log_month") === monthly("m"))
      .filter(abs(col("day_value") - col("avg_value")) >
        lit(2.0) * col("std_value"))
      .select(col("log_dt"), round(col("day_value"), 6).as("day_value"),
        col("avg_value"), col("std_value"))
      .orderBy(col("log_dt"))
  }

  private val j13Sql =
    s"""WITH daily AS (
       |  SELECT ${sqlDay(TS)} AS log_dt,
       |   CAST(${sqlDsum("\"value\"")} AS DOUBLE) AS day_value
       |  FROM events GROUP BY 1),
       |monthly AS (
       |  SELECT substr(log_dt, 1, 7) AS m,
       |   ${sqlDmean("day_value")} AS avg_value,
       |   ${sqlDstd("day_value")} AS std_value
       |  FROM daily GROUP BY 1)
       |SELECT log_dt, round(day_value, 6) AS day_value, avg_value, std_value
       |FROM daily JOIN monthly ON substr(log_dt, 1, 7) = m
       |WHERE abs(day_value - avg_value) > 2.0 * std_value
       |ORDER BY log_dt""".stripMargin

  // J14 — day-over-day self-join (ref substrateetl.js:4063-4068,
  // p.logDT = t.logDT - 1), expressed with LAG over days.
  private def j14(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("dt"))
      .agg(dsumOut(col("o_totalprice")).as("day_total"))
    val w = Window.orderBy(col("dt"))
    daily
      .withColumn("prev_total", lag(col("day_total"), 1).over(w))
      // day_total/prev_total are identical rounded doubles in both
      // engines, so the single-op IEEE difference is too.
      .select(date_format(col("dt"), "yyyy-MM-dd").as("log_dt"),
        col("day_total"), col("prev_total"),
        (col("day_total") - col("prev_total")).as("delta"))
      .orderBy(col("log_dt"))
  }

  private val j14Sql =
    s"""SELECT strftime(dt, '%Y-%m-%d') AS log_dt, day_total, prev_total,
       | day_total - prev_total AS delta
       |FROM (SELECT dt, day_total,
       |  lag(day_total) OVER (ORDER BY dt) AS prev_total
       | FROM (SELECT CAST(o_orderdate AS DATE) AS dt,
       |   ${sqlDsumOut("o_totalprice")} AS day_total
       |  FROM orders GROUP BY 1))
       |ORDER BY log_dt""".stripMargin

  // J16 — as-of join: last prior 'view' value for each purchase, per user
  // (ref assetManager.js:1392 computePriceUSD — nearest price at ts).
  // Union + last(ignoreNulls) window: one shuffle on user_id, no range
  // explosion — the scalable as-of form.
  private def j16(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val tagged = ev.filter(col("event_type").isin("purchase", "view"))
      .select(col("user_id"), col("event_id"), us(col("ts")).as("t_us"),
        col("event_type"),
        when(col("event_type") === "view", col("value")).as("view_value"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("t_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    tagged
      .withColumn("asof_view_value",
        last(col("view_value"), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("asof_view_value"))
      .orderBy(col("event_id"))
  }

  private val j16Sql =
    s"""SELECT user_id, event_id, asof_view_value FROM (
       | SELECT user_id, event_id, event_type,
       |  last_value(CASE WHEN event_type = 'view' THEN "value" END IGNORE NULLS)
       |   OVER (PARTITION BY user_id ORDER BY ts, event_id
       |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS asof_view_value
       | FROM events WHERE event_type IN ('purchase', 'view'))
       |WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin

  // J16b — the same as-of semantics through the NATIVE operator
  // (graft.plans.AsOfJoin: custom LogicalPlan + Strategy + co-partitioned
  // merge Exec). Oracle = DuckDB's own ASOF JOIN. Each left row keeps the
  // latest view with v_ts <= ts for the same user.
  private def j16b(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("v_ts"),
        col("value").as("asof_view_value"))
    graft.plans.AsOfJoin.asof(purchases, views, Seq("user_id"),
        "ts", "v_ts")
      // both sides carry the key column; disambiguate positionally
      .toDF("user_id", "event_id", "ts", "r_user_id", "v_ts",
        "asof_view_value")
      .select(col("user_id"), col("event_id"), col("asof_view_value"))
      .orderBy(col("event_id"))
  }

  private val j16bSql =
    """SELECT p.user_id, p.event_id, v."value" AS asof_view_value
      |FROM (SELECT user_id, event_id, ts FROM events
      |      WHERE event_type = 'purchase') p
      |ASOF LEFT JOIN (SELECT user_id, ts, "value" FROM events
      |      WHERE event_type = 'view') v
      |  ON p.user_id = v.user_id AND p.ts >= v.ts
      |ORDER BY p.event_id""".stripMargin

  // J22 — last-touch attribution through the NATIVE as-of operator: each
  // purchase attributed to the user's most recent click within 7 days —
  // marketing attribution as the j16b sorted-merge exec's second
  // consumer (a custom physical operator earns its keep when more than
  // one domain face uses it). Simultaneous clicks dedup to the max
  // event_id per (user, ts) first, so the as-of tie is well-defined in
  // both engines. The tolerance rides the native exec; DuckDB's ASOF
  // has no tolerance clause, so the oracle nulls out beyond-window
  // matches post-join — equivalent, because the as-of pick is the
  // CLOSEST click (if it is beyond the window, all are).
  private val TouchWindowUs = 604800000000L // 7 days
  private def j22(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"))
    // the dedup and the as-of exec share ONE hash(user_id) exchange
    // (round 18, guide §2.4): repartitioning by the join key FIRST lets
    // the (user_id, ts) aggregation run in place (hash(user_id)
    // clusters every (user_id, ts) group) and already satisfies the
    // as-of's ClusteredDistribution — the old groupBy shuffled on
    // (user_id, ts) and then re-shuffled the deduped stream on user_id
    val clicks = ev.filter(col("event_type") === "click")
      .repartition(col("user_id"))
      .groupBy(col("user_id"), col("ts").as("c_ts"))
      .agg(max(col("event_id")).as("click_id"))
      .select(col("user_id"), col("c_ts"), col("click_id"))
    graft.plans.AsOfJoin.asof(purchases, clicks, Seq("user_id"),
        "ts", "c_ts", Some(TouchWindowUs))
      .toDF("user_id", "event_id", "ts", "r_user_id", "c_ts", "click_id")
      .select(col("user_id"), col("event_id"), col("click_id"),
        when(col("click_id").isNotNull,
          round((us(col("ts")) - us(col("c_ts"))) /
            lit(1000000.0), 6)).as("lag_secs"))
      .orderBy(col("event_id"))
  }

  private val j22Sql =
    s"""WITH p AS (SELECT user_id, event_id, $TS AS pts FROM events
       |  WHERE event_type = 'purchase'),
       |c AS (SELECT user_id, $TS AS c_ts, max(event_id) AS click_id
       |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
       |j AS (SELECT p.user_id, p.event_id, p.pts, c.c_ts, c.click_id
       |  FROM p ASOF LEFT JOIN c
       |   ON p.user_id = c.user_id AND p.pts >= c.c_ts)
       |SELECT user_id, event_id,
       | CASE WHEN epoch_us(pts) - epoch_us(c_ts)
       |   <= CAST($TouchWindowUs AS BIGINT) THEN click_id END AS click_id,
       | CASE WHEN epoch_us(pts) - epoch_us(c_ts)
       |   <= CAST($TouchWindowUs AS BIGINT) THEN
       |  round((epoch_us(pts) - epoch_us(c_ts)) /
       |   CAST(1000000.0 AS DOUBLE), 6) END AS lag_secs
       |FROM j ORDER BY event_id""".stripMargin

  // J23 — point-in-interval RANGE join via BIN BLOCKING: the one join
  // family with no natural equi-key (j1/j13 ride a shared entity key;
  // a pure "which points fall inside which validity windows" doesn't),
  // where the naive plan is an O(n·m) nested loop. The standard scale
  // rewrite: quantize time into fixed bins, explode each interval to
  // the bins it covers (bounded by span/binSize — here ≤ 2), equi-join
  // points on the bin, then verify exact containment. The NLJ becomes
  // a hash join whose fan-out is (points × bins-per-interval); bin
  // size tunes the blow-up/selectivity trade like an LSH band. DuckDB
  // oracles it with the plain theta join — same rows, so the hash gate
  // certifies the rewrite.
  private val RangeBinDays = 32L
  private def j23(s: SparkSession, d: String): DataFrame = {
    val day = "86400000000" // us per day
    val iv = Tables.orders(s, d)
      .filter(col("o_orderkey") < 500)
      // o_orderdate lands as TIMESTAMP_NTZ; session is pinned UTC so
      // the cast is value-preserving
      .select(col("o_orderkey").as("iid"),
        expr(s"unix_micros(CAST(o_orderdate AS TIMESTAMP)) div $day")
          .as("sd"))
      .withColumn("ed", col("sd") + (col("iid") % 30 + 1))
    val ivBins = iv.withColumn("bin",
      explode(sequence(expr(s"sd div $RangeBinDays"),
        expr(s"ed div $RangeBinDays"))))
    val pt = Tables.lineitem(s, d)
      .select(
        expr(s"unix_micros(CAST(l_shipdate AS TIMESTAMP)) div $day")
          .as("pd"),
        col("l_quantity"))
      .withColumn("bin", expr(s"pd div $RangeBinDays"))
    val agg = ivBins.join(pt, Seq("bin"))
      .filter(col("pd") >= col("sd") && col("pd") <= col("ed"))
      .groupBy(col("iid"))
      .agg(count(lit(1)).as("n_points"),
        dsumOut(col("l_quantity")).as("sum_qty"))
    iv.select(col("iid"))
      .join(agg, Seq("iid"), "left")
      .select(col("iid"), coalesce(col("n_points"), lit(0L)).as("n_points"),
        col("sum_qty"))
      .orderBy(col("iid"))
  }

  private val j23Sql =
    s"""WITH iv AS (SELECT o_orderkey AS iid,
       |  epoch_us(o_orderdate) // CAST(86400000000 AS BIGINT) AS sd,
       |  epoch_us(o_orderdate) // CAST(86400000000 AS BIGINT)
       |    + o_orderkey % 30 + 1 AS ed
       | FROM orders WHERE o_orderkey < 500),
       |pt AS (SELECT epoch_us(l_shipdate) // CAST(86400000000 AS BIGINT)
       |    AS pd, l_quantity FROM lineitem),
       |agg AS (SELECT iid, count(*) AS n_points,
       |  ${sqlDsumOut("l_quantity")} AS sum_qty
       | FROM iv JOIN pt ON pt.pd BETWEEN iv.sd AND iv.ed GROUP BY 1)
       |SELECT iv.iid, CAST(coalesce(agg.n_points, 0) AS BIGINT)
       |   AS n_points, agg.sum_qty
       |FROM iv LEFT JOIN agg ON iv.iid = agg.iid
       |ORDER BY iv.iid""".stripMargin

  // J24 — SCD Type-2 dimension lookup: facts against a VERSIONED
  // dimension. Each user's signup events define status versions
  // (validity from its ts until the next signup — LEAD builds the
  // interval table, the standard SCD2 construction); every purchase
  // resolves the version active at its timestamp via an equi-join on
  // the user + containment filter (bounded: versions per user is the
  // dimension's change history, not the fact volume — the same reason
  // warehouse SCD2 lookups are keyed-join-cheap). Purchases before the
  // first signup resolve to no version (left join, version_id null).
  private def j24(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val vw = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val versions = ev.filter(col("event_type") === "signup")
      .select(col("user_id"), col("event_id").as("version_id"),
        us(col("ts")).as("valid_from"))
      .withColumn("valid_to",
        coalesce(lead(col("valid_from"), 1).over(
          Window.partitionBy(col("user_id")).orderBy(col("valid_from"),
            col("version_id"))), lit(Long.MaxValue)))
    val facts = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("f_user"), col("event_id"),
        us(col("ts")).as("f_us"))
    // containment lives in the ON clause, so unresolved facts (no
    // version yet / user never signed up) survive the left join with a
    // null version directly — no re-attach join needed
    facts.join(versions,
        facts("f_user") === versions("user_id") &&
          facts("f_us") >= versions("valid_from") &&
          facts("f_us") < versions("valid_to"), "left")
      .select(col("f_user").as("user_id"), col("event_id"),
        col("version_id"),
        col("version_id").isNotNull.as("resolved"))
      .orderBy(col("event_id"))
  }

  private val j24Sql =
    s"""WITH versions AS (
       | SELECT user_id, event_id AS version_id, ${sqlUs(TS)} AS valid_from,
       |  coalesce(lead(${sqlUs(TS)}) OVER (PARTITION BY user_id
       |    ORDER BY ${sqlUs(TS)}, event_id),
       |   CAST(9223372036854775807 AS BIGINT)) AS valid_to
       | FROM events WHERE event_type = 'signup'),
       |facts AS (SELECT user_id, event_id, ${sqlUs(TS)} AS f_us
       | FROM events WHERE event_type = 'purchase')
       |SELECT f.user_id, f.event_id, v.version_id,
       | v.version_id IS NOT NULL AS resolved
       |FROM facts f LEFT JOIN versions v ON f.user_id = v.user_id
       | AND f.f_us >= v.valid_from AND f.f_us < v.valid_to
       |ORDER BY f.event_id""".stripMargin

  // J17 — block-number-by-timestamp resolution: running max id per hour
  // (ref query.js:4290-4308 getBlockNumberByTS range probe).
  private def j17(s: SparkSession, d: String): DataFrame = {
    val hourly = Tables.events(s, d)
      .groupBy(hourKey(col("ts")).as("hr"))
      .agg(max(col("event_id")).as("hr_max_id"))
    val w = Window.orderBy(col("hr"))
      .rowsBetween(Window.unboundedPreceding, 0)
    hourly
      .withColumn("last_event_id", max(col("hr_max_id")).over(w))
      .select(col("hr"), col("last_event_id"))
      .orderBy(col("hr"))
  }

  private val j17Sql =
    s"""SELECT hr, max(hr_max_id) OVER (
       |  ORDER BY hr ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       | ) AS last_event_id
       |FROM (SELECT ${sqlHour(TS)} AS hr, max(event_id) AS hr_max_id
       | FROM events GROUP BY 1)
       |ORDER BY hr""".stripMargin

  // J18 — multi-hop XCM trace/span assembly (ref xcmtracer.js:73-160):
  // the lineitem rows of one order model a message's chained legs —
  // leg h goes chain h → h+1, forwarded inside the 4-tick window — so
  // every order assembles into one origin→hop→dest trace, bounded at
  // 4 hops. The DuckDB twin is a recursive CTE over the same leg set.
  private def j18(s: SparkSession, d: String): DataFrame = {
    val legs = Tables.lineitem(s, d)
      .filter(col("l_orderkey") < 2000)
      .select(col("l_orderkey").as("msg_hash"),
        col("l_linenumber").as("chain_id"),
        (col("l_linenumber") + 1).as("chain_id_dest"),
        (col("l_linenumber") * 6).cast("long").as("s_sent_at"),
        (col("l_linenumber") * 6 + 3).cast("long").as("d_sent_at"))
    graft.etl.XcmMatcher.assembleTraces(legs, maxHops = 4, slack = 4)
      .orderBy(col("trace_id"), col("hop"))
  }

  private val j18Sql =
    """WITH RECURSIVE legs AS (
      | SELECT l_orderkey AS msg_hash, l_linenumber AS chain_id,
      |  l_linenumber + 1 AS chain_id_dest,
      |  CAST(l_linenumber * 6 AS BIGINT) AS s_sent_at,
      |  CAST(l_linenumber * 6 + 3 AS BIGINT) AS d_sent_at
      | FROM lineitem WHERE l_orderkey < 2000),
      |roots AS (
      | SELECT * FROM legs l WHERE NOT EXISTS (
      |  SELECT 1 FROM legs p WHERE p.msg_hash = l.msg_hash
      |   AND p.chain_id_dest = l.chain_id
      |   AND l.s_sent_at BETWEEN p.d_sent_at AND p.d_sent_at + 4)),
      |trace AS (
      | SELECT msg_hash || ':' || chain_id || ':' || s_sent_at AS trace_id,
      |  0 AS hop, msg_hash, chain_id, chain_id_dest, s_sent_at, d_sent_at
      | FROM roots
      | UNION ALL
      | SELECT t.trace_id, t.hop + 1, n.msg_hash, n.chain_id,
      |  n.chain_id_dest, n.s_sent_at, n.d_sent_at
      | FROM trace t JOIN legs n ON n.msg_hash = t.msg_hash
      |  AND n.chain_id = t.chain_id_dest
      |  AND n.s_sent_at BETWEEN t.d_sent_at AND t.d_sent_at + 4
      | WHERE t.hop < 3)
      |SELECT trace_id, hop, msg_hash, chain_id, chain_id_dest,
      | s_sent_at, d_sent_at,
      | hop = max(hop) OVER (PARTITION BY trace_id) AS is_terminal
      |FROM trace ORDER BY trace_id, hop""".stripMargin

  // J19 — Transact inner-call decode → remoteexecution spans (ref
  // xcmtransact.js:889-1055 index_origination_extrinsic /
  // indexDestinationChainBlock; xcmtracer.js:83). Legs as in j18; each
  // message additionally carries a SCALE-encoded balances.transfer
  // inside its Transact instruction — encoded with the REAL wire codec
  // (compact value; v11-era legacy indices Address dest in BOTH its
  // 0xff-account and 0xfd-u32-index forms) and decoded back through
  // the metadata tier. The DuckDB twin recomputes the decoded fields
  // arithmetically, so a mis-decoded compact or address discriminator
  // hash-mismatches.
  private val j19Pallets = Seq(graft.decode.MetaDecode.PalletDef(5,
    "balances", calls = Seq(graft.decode.MetaDecode.ItemDef(0, "transfer",
      Seq("dest" -> graft.decode.MetaDecode.LegacyAddress,
        "value" -> graft.decode.MetaDecode.CompactInt)))))

  private def j19(s: SparkSession, d: String): DataFrame = {
    val legs = Tables.lineitem(s, d)
      .filter(col("l_orderkey") < 2000)
      .select(col("l_orderkey").as("msg_hash"),
        col("l_linenumber").as("chain_id"),
        (col("l_linenumber") + 1).as("chain_id_dest"),
        (col("l_linenumber") * 6).cast("long").as("s_sent_at"),
        (col("l_linenumber") * 6 + 3).cast("long").as("d_sent_at"))
    val enc = udf((custkey: Long, orderkey: Long) => {
      val out = scala.collection.mutable.ArrayBuffer[Byte](
        5.toByte, 0.toByte) // pallet 5, call 0
      if (custkey % 4 == 0) { // legacy Address, u32-index form
        out += 0xfd.toByte
        var i = 0
        while (i < 4) { out += ((custkey >> (8 * i)) & 0xff).toByte; i += 1 }
      } else { // legacy Address, 0xff AccountId form
        out += 0xff.toByte
        out ++= Array.fill(32)((custkey % 256).toByte)
      }
      out ++= graft.functions.Codec.compactEncode(BigInt(orderkey))
      graft.functions.Codec.bytesToHex(out.toArray)
    })
    val transacts = Tables.orders(s, d)
      .filter(col("o_orderkey") < 2000)
      .select(col("o_orderkey").as("msg_hash"),
        enc(col("o_custkey").cast("long"),
          col("o_orderkey").cast("long")).as("transact_call"))
    val traces = graft.etl.XcmMatcher.assembleTraces(legs, maxHops = 4,
      slack = 4)
    graft.etl.XcmMatcher.transactSpans(traces, transacts, j19Pallets)
      .select(col("trace_id"), col("hop"), col("msg_hash"),
        col("exec_chain"), col("kind"), col("section"), col("method"),
        get_json_object(col("args_json"), "$.dest").as("dest_addr"),
        get_json_object(col("args_json"), "$.value").cast("bigint")
          .as("xfer_value"))
      .orderBy(col("msg_hash"))
  }

  private val j19Sql =
    """WITH RECURSIVE legs AS (
      | SELECT l_orderkey AS msg_hash, l_linenumber AS chain_id,
      |  l_linenumber + 1 AS chain_id_dest,
      |  CAST(l_linenumber * 6 AS BIGINT) AS s_sent_at,
      |  CAST(l_linenumber * 6 + 3 AS BIGINT) AS d_sent_at
      | FROM lineitem WHERE l_orderkey < 2000),
      |roots AS (
      | SELECT * FROM legs l WHERE NOT EXISTS (
      |  SELECT 1 FROM legs p WHERE p.msg_hash = l.msg_hash
      |   AND p.chain_id_dest = l.chain_id
      |   AND l.s_sent_at BETWEEN p.d_sent_at AND p.d_sent_at + 4)),
      |trace AS (
      | SELECT msg_hash || ':' || chain_id || ':' || s_sent_at AS trace_id,
      |  0 AS hop, msg_hash, chain_id, chain_id_dest, s_sent_at, d_sent_at
      | FROM roots
      | UNION ALL
      | SELECT t.trace_id, t.hop + 1, n.msg_hash, n.chain_id,
      |  n.chain_id_dest, n.s_sent_at, n.d_sent_at
      | FROM trace t JOIN legs n ON n.msg_hash = t.msg_hash
      |  AND n.chain_id = t.chain_id_dest
      |  AND n.s_sent_at BETWEEN t.d_sent_at AND t.d_sent_at + 4
      | WHERE t.hop < 3),
      |term AS (
      | SELECT trace_id, hop, msg_hash, chain_id_dest FROM (
      |  SELECT trace_id, hop, msg_hash, chain_id_dest,
      |   hop = max(hop) OVER (PARTITION BY trace_id) AS is_term
      |  FROM trace) WHERE is_term)
      |SELECT t.trace_id, t.hop + 1 AS hop, t.msg_hash,
      | t.chain_id_dest AS exec_chain,
      | 'remoteexecution' AS kind, 'balances' AS section,
      | 'transfer' AS method,
      | CASE WHEN o.o_custkey % 4 = 0 THEN CAST(o.o_custkey AS VARCHAR)
      |  ELSE '0x' || repeat(printf('%02x', o.o_custkey % 256), 32)
      | END AS dest_addr,
      | CAST(o.o_orderkey AS BIGINT) AS xfer_value
      |FROM term t JOIN orders o ON o.o_orderkey = t.msg_hash
      |ORDER BY t.msg_hash""".stripMargin

  // J20 — XCM instruction weight/fee estimation (ref
  // xcmInstructions.js:1-253): each message's instruction list joins
  // the 32-row published weight dimension (broadcast — no shuffle on
  // the fact side) and rolls up refTime + db-op weight per message.
  // The lineitem rows of one order model the message's instruction
  // sequence; the instruction is selected by l_partkey so both engines
  // derive identical lists. The SQL twin's VALUES dim is GENERATED
  // from the same Scala Seq, so model drift is impossible.
  private def j20(s: SparkSession, d: String): DataFrame = {
    val n = graft.etl.XcmWeights.model.size
    val msgs = Tables.lineitem(s, d)
      .filter(col("l_orderkey") < 3000)
      .select(col("l_orderkey").as("msg_hash"),
        (col("l_partkey") % n).cast("int").as("instr_idx"))
    graft.etl.XcmWeights.estimateFees(s, msgs)
      .orderBy(col("msg_hash"))
  }

  private def j20Sql: String = {
    val n = graft.etl.XcmWeights.model.size
    s"""WITH dim(instr_idx, instruction, ref_time, reads, writes) AS (
       | VALUES ${graft.etl.XcmWeights.dimSqlValues}),
       |msgs AS (
       | SELECT l_orderkey AS msg_hash,
       |  CAST(l_partkey % $n AS INT) AS instr_idx
       | FROM lineitem WHERE l_orderkey < 3000)
       |SELECT m.msg_hash, count(*) AS n_instr,
       | CAST(sum(ref_time) AS BIGINT) AS total_ref_time,
       | CAST(sum(reads) AS BIGINT) AS total_reads,
       | CAST(sum(writes) AS BIGINT) AS total_writes,
       | CAST(sum(ref_time + reads * ${graft.etl.XcmWeights.ReadWeight}
       |  + writes * ${graft.etl.XcmWeights.WriteWeight}) AS BIGINT)
       |  AS est_weight
       |FROM msgs m JOIN dim d ON d.instr_idx = m.instr_idx
       |GROUP BY m.msg_hash ORDER BY m.msg_hash""".stripMargin
  }

  // J21 — the J4 multi-strategy destination WATERFALL under the oracle
  // gate: until round 9 `XcmMatcher.searchDestination` (candidate-exact
  // → events-exact → candidate-fuzzy → events-fuzzy → balance-delta
  // probe, one priority window, each physical match consumed once) was
  // evidenced only by XcmMatcherSpec goldens. This query synthesizes
  // the four domain frames deterministically from the events table —
  // amounts are integer-valued doubles derived from the join key so the
  // exact tiers actually FIRE (amount_received = sent − fee on every
  // third candidate; amount = sent on every fourth deposit) and the
  // fuzzy tiers land in (0.5, 1) by construction — then runs the REAL
  // production operator; the DuckDB twin recomputes all five tiers and
  // both dedup windows.
  private def j21(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    def pk = col("user_id").cast("string")
    def base = (col("user_id") % 97 + 10).cast("double")
    def eid = format_string("%012d", col("event_id"))
    // synthetic GRID times — one fixed hour per user plus an
    // event-derived offset — so every tier's window logic is exercised
    // deterministically (real event times almost never coincide within
    // a 120 s window): candidate offsets % 200 s straddle the 120 s
    // bound, deposit offsets % 300 s straddle 180 s, balance offsets
    // span [−30, 210) s across the [−30, +180] probe.
    def grid(offsetSec: org.apache.spark.sql.Column) = timestamp_micros(
      (col("user_id") % 24) * 3600L * 1000000L + offsetSec * 1000000L)
    val transfers = ev.filter(col("event_type") === "purchase")
      .select(eid.as("extrinsic_id"),
        (col("user_id") % 5).as("chain_id_dest"), pk.as("dest_pubkey"),
        grid(lit(0L)).as("source_ts"), base.as("amount_sent"),
        lit(1.0).as("xcm_teleport_fees"))
    // users ≡ 0 (mod 7) get NO candidates or deposits, so their
    // transfers fall through to the tier-5 balance probe
    val candidates = ev.filter(col("event_type") === "signup" &&
        col("user_id") % 7 =!= 0)
      .select((col("user_id") % 5).as("chain_id_dest"),
        pk.as("dest_pubkey"),
        grid(col("event_id") % 200).as("dest_ts"),
        when(col("user_id") % 11 === 0, 1).otherwise(0).as("reaped"),
        when(col("event_id") % 3 === 0, base - 1.0)
          .otherwise(base - 3.0).as("amount_received"),
        eid.as("event_id"))
    val deposits = ev.filter(col("event_type") === "click" &&
        col("user_id") % 7 =!= 0)
      .select((col("user_id") % 5).as("chain_id"), pk.as("addr_pubkey"),
        grid(col("event_id") % 300).as("ts"),
        when(col("event_id") % 4 === 0, base).otherwise(base - 2.0)
          .as("amount"),
        eid.as("event_id"))
    val balances = ev.filter(col("event_type") === "view")
      .select((col("user_id") % 5).as("chain_id"), pk.as("addr_pubkey"),
        col("event_id").as("block_number"),
        ((col("event_id") % 7).cast("double") * base).as("free"),
        grid(col("event_id") % 240 - 30).as("block_ts"))
    graft.etl.XcmMatcher
      .searchDestination(transfers, candidates, deposits, balances)
      .orderBy(col("extrinsic_id"))
  }

  private val j21Sql = {
    val base = "CAST(user_id % 97 + 10 AS DOUBLE)"
    def grid(off: String) =
      s"make_timestamp((user_id % 24) * CAST(3600000000 AS BIGINT) + " +
        s"($off) * CAST(1000000 AS BIGINT))"
    s"""WITH t AS (SELECT printf('%012d', event_id) AS extrinsic_id,
       |  user_id % 5 AS cid, CAST(user_id AS VARCHAR) AS pk,
       |  ${grid("0")} AS source_ts, $base AS sent,
       |  1.0 AS fee
       | FROM events WHERE event_type = 'purchase'),
       |c AS (SELECT user_id % 5 AS cid, CAST(user_id AS VARCHAR) AS pk,
       |  ${grid("event_id % 200")} AS dest_ts,
       |  CASE WHEN user_id % 11 = 0 THEN 1 ELSE 0 END AS reaped,
       |  CASE WHEN event_id % 3 = 0 THEN $base - 1.0
       |   ELSE $base - 3.0 END AS recv,
       |  printf('%012d', event_id) AS event_id
       | FROM events WHERE event_type = 'signup' AND user_id % 7 <> 0),
       |e AS (SELECT user_id % 5 AS cid, CAST(user_id AS VARCHAR) AS pk,
       |  ${grid("event_id % 300")} AS ts,
       |  CASE WHEN event_id % 4 = 0 THEN $base
       |   ELSE $base - 2.0 END AS amount,
       |  printf('%012d', event_id) AS event_id
       | FROM events WHERE event_type = 'click' AND user_id % 7 <> 0),
       |b AS (SELECT user_id % 5 AS cid, CAST(user_id AS VARCHAR) AS pk,
       |  event_id AS block_number,
       |  CAST(event_id % 7 AS DOUBLE) * $base AS free,
       |  ${grid("event_id % 240 - 30")} AS block_ts
       | FROM events WHERE event_type = 'view'),
       |cand AS (SELECT t.extrinsic_id,
       |  CASE WHEN conf = 1.0 THEN 1 ELSE 3 END AS priority,
       |  'candidate' AS strategy, c.event_id AS matched_id,
       |  c.recv + t.fee AS matched_amount, conf AS confidence
       | FROM t JOIN c ON t.cid = c.cid AND t.pk = c.pk,
       |  LATERAL (SELECT CASE WHEN c.recv + t.fee = t.sent THEN 1.0
       |   ELSE 1.0 - abs(c.recv + t.fee - t.sent) / t.sent END
       |   AS conf) x
       | WHERE c.dest_ts >= t.source_ts - INTERVAL 10 SECOND
       |  AND c.dest_ts <= t.source_ts + INTERVAL 120 SECOND
       |  AND c.reaped = 0 AND conf > 0.5),
       |ed AS (SELECT t.extrinsic_id,
       |  CASE WHEN conf = 1.0 THEN 2 ELSE 4 END AS priority,
       |  'events' AS strategy, e.event_id AS matched_id,
       |  e.amount + t.fee AS matched_amount, conf AS confidence
       | FROM t JOIN e ON t.cid = e.cid AND t.pk = e.pk,
       |  LATERAL (SELECT CASE WHEN e.amount = t.sent THEN 1.0
       |   ELSE 1.0 - abs(e.amount + t.fee - t.sent) / t.sent END
       |   AS conf) x
       | WHERE e.ts >= t.source_ts
       |  AND e.ts < t.source_ts + INTERVAL 180 SECOND
       |  AND conf > 0.5),
       |dlt AS (SELECT cid, pk, block_ts,
       |  free - lag(free) OVER (PARTITION BY cid, pk
       |   ORDER BY block_number) AS delta, block_number
       | FROM b),
       |bal AS (SELECT t.extrinsic_id, 5 AS priority,
       |  'balance' AS strategy,
       |  printf('%012d', d.block_number) AS matched_id,
       |  d.delta AS matched_amount,
       |  1.0 - abs(d.delta - t.sent) / t.sent AS confidence
       | FROM t JOIN dlt d ON t.cid = d.cid AND t.pk = d.pk
       | WHERE d.delta > 0
       |  AND d.block_ts >= t.source_ts - INTERVAL 30 SECOND
       |  AND d.block_ts <= t.source_ts + INTERVAL 180 SECOND
       |  AND 1.0 - abs(d.delta - t.sent) / t.sent >= 0.75),
       |unioned AS (SELECT * FROM cand UNION ALL
       | SELECT * FROM ed UNION ALL SELECT * FROM bal),
       |best AS (SELECT * FROM (SELECT *,
       |  row_number() OVER (PARTITION BY extrinsic_id
       |   ORDER BY priority, confidence DESC, matched_id) AS rn
       | FROM unioned) WHERE rn = 1),
       |final AS (SELECT * FROM (SELECT extrinsic_id, priority, strategy,
       |  matched_id, matched_amount, confidence,
       |  row_number() OVER (PARTITION BY strategy, matched_id
       |   ORDER BY priority, confidence DESC, extrinsic_id) AS rn2
       | FROM best) WHERE rn2 = 1)
       |SELECT extrinsic_id, priority, strategy, matched_id,
       | matched_amount, round(confidence, 6) AS confidence
       |FROM final ORDER BY extrinsic_id""".stripMargin
  }

  // ---- J25: skew-proof equi-join via deterministic salting ----

  /** Equi-join that survives a skewed probe-side key distribution: the
    * probe side is salted into `salts` sub-keys by a deterministic hash
    * of `probeSaltOn` (any columns that vary within a key), the build
    * side is replicated once per salt, and the join runs on
    * (keys ++ _salt) — so a key holding 50% of the probe rows occupies
    * `salts` shuffle partitions instead of one straggler. Output is
    * EXACTLY the plain inner join on `keys` (each probe row meets each
    * build row exactly once, under exactly one salt).
    *
    * Cost model: build side pays ×`salts` replication — use when the
    * build side is too big to broadcast but small relative to the
    * probe (the classic fact-fact case the reference hits joining the
    * full events feed against per-asset rollups, where one parachain's
    * asset is half the feed). AQE's skew-join split
    * (spark.sql.adaptive.skewJoin) covers the same failure mode at
    * runtime for sort-merge plans; this is the deterministic,
    * plan-visible form that also works under broadcast-disabled
    * shuffled-hash joins. */
  def saltedJoin(probe: DataFrame, build: DataFrame, keys: Seq[String],
      salts: Int, probeSaltOn: Seq[String]): DataFrame = {
    require(salts > 0, "salts must be positive")
    require(!probe.columns.contains("_salt") &&
      !build.columns.contains("_salt"),
      "saltedJoin reserves the _salt column name; rename the input's")
    val salted = probe.withColumn("_salt",
      pmod(hash(probeSaltOn.map(col): _*), lit(salts)))
    val replicated = build.withColumn("_salt",
      explode(sequence(lit(0), lit(salts - 1))))
    salted.join(replicated, keys :+ "_salt").drop("_salt")
  }

  // J25 — the salted join under the oracle gate, on a deliberately
  // brutal distribution: every even user collapses onto key 0, so ONE
  // key carries ~50% of the probe rows (the 100×-scale straggler
  // shape). The build side is a per-key rollup (1 row/key — too many
  // keys to broadcast at real scale), replicated 8×; the oracle is the
  // PLAIN DuckDB join + rollup, proving salt-invariance.
  private def j25(s: SparkSession, d: String): DataFrame = {
    val hot = when(col("user_id") % 2 === 0, 0L).otherwise(col("user_id"))
    val probe = Tables.events(s, d)
      .select(hot.as("k"), col("event_id"), col("value"))
    val build = Tables.events(s, d)
      .filter(col("event_type") === "signup")
      .select(hot.as("k"), col("value"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("dim_n"), dsum(col("value")).as("dim_sum"))
    saltedJoin(probe, build, Seq("k"), salts = 8,
        probeSaltOn = Seq("event_id"))
      .groupBy(col("k"))
      .agg(
        count(lit(1)).as("n_joined"),
        dsumOut(col("value")).as("sum_value"),
        max(col("dim_n")).as("dim_n"),
        decOut(max(col("dim_sum"))).as("dim_sum"))
      .orderBy(col("k"))
  }

  private val j25Sql =
    s"""WITH probe AS (SELECT
       |  CASE WHEN user_id % 2 = 0 THEN 0 ELSE user_id END AS k,
       |  event_id, "value" FROM events),
       |build AS (SELECT
       |  CASE WHEN user_id % 2 = 0 THEN 0 ELSE user_id END AS k,
       |  count(*) AS dim_n, ${sqlDsum("\"value\"")} AS dim_sum
       | FROM events WHERE event_type = 'signup' GROUP BY 1)
       |SELECT p.k, count(*) AS n_joined,
       | ${sqlDsumOut("p.\"value\"")} AS sum_value,
       | max(b.dim_n) AS dim_n, ${sqlDecOut("max(b.dim_sum)")} AS dim_sum
       |FROM probe p JOIN build b ON p.k = b.k
       |GROUP BY p.k ORDER BY p.k""".stripMargin


  // J26 — the xcmtransfers DAILY EXPORT through the writer
  // (graft.etl.XcmExport.dumpXcmDay — ref substrateetl.js:5068
  // dump_xcm): transfers and dest candidates are synthesized 1:1 by
  // msg hash from purchase events (two candidates per transfer — an
  // exact leg whose window/reaped eligibility varies by event id, and
  // a tolerance leg with a bounded amount miss), the REAL matcher
  // (window filter, reaped filter, confidence ranking, consumed-once
  // per dest event) picks winners, the export projects the reference
  // origination_*/destination_* shape to parquet, and the query READS
  // THE WRITTEN LAYOUT back for a per-dest-chain rollup. The oracle
  // replays the whole cascade with two ranked windows. Amounts are
  // integer-valued doubles (exact sums); confidence is one IEEE
  // division then round(…,6) in both engines.
  private def j26(s: SparkSession, d: String): DataFrame = {
    val src = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("sid"), col("user_id"),
        us(col("ts")).as("s_us"))
    val transfers = src.select(
      col("sid").cast("string").as("extrinsic_id"),
      lit(0).as("transfer_index"), lit(0).as("xcm_index"),
      lit(21000).as("chain_id"),
      (lit(2000) + pmod(col("sid"), lit(5))).cast("int")
        .as("chain_id_dest"),
      lit("DOT").as("symbol"),
      (pmod(col("sid"), lit(1000)) + lit(100)).cast("double")
        .as("amount_sent"),
      timestamp_micros(col("s_us")).as("source_ts"),
      concat(lit("m"), col("sid")).as("msg_hash"),
      pmod(col("sid"), lit(100)).as("sent_at"),
      repeat(format_string("%02x", col("user_id") % 256), 32)
        .as("sender_pub"))
    val candidates = src
      .select(col("sid"), col("s_us"),
        explode(array(lit(0), lit(1))).as("j"))
      .select(
        concat(lit("m"), col("sid")).as("msg_hash"),
        (lit(2000) + pmod(col("sid"), lit(5))).cast("int")
          .as("chain_id_dest"),
        timestamp_micros(col("s_us") +
          when(col("j") === 0, pmod(col("sid"), lit(140)) - lit(10))
            .otherwise(lit(30)) * lit(1000000L)).as("dest_ts"),
        (col("sid") * 10 + col("j")).as("block_number_dest"),
        (pmod(col("sid"), lit(1000)) + lit(100) -
          pmod(col("sid"), lit(7)) -
          when(col("j") === 1, pmod(col("sid"), lit(25)))
            .otherwise(lit(0))).cast("double").as("amount_received"),
        pmod(col("sid"), lit(7)).cast("double")
          .as("xcm_teleport_fees"),
        concat(lit("c"), pmod(col("sid"), lit(501)), lit("-"),
          col("j")).as("event_id"),
        when(col("j") === 0 && pmod(col("sid"), lit(17)) === 0, 1)
          .otherwise(0).as("reaped"))
    // USD dims: one 5-min price series for the (single) native asset
    // key the export derives via asset_chain(symbol, chain_id) — the
    // as-of valuation rides the same as-of index probe as the
    // transfers dump; duplicate bucket points dedupe inside
    // asOfIntervals (max branch), which the oracle replays
    val priceLog = Tables.events(s, d)
      .filter(col("event_type") === "view")
      .select(lit("DOT~21000").as("asset"), lit(21000).as("chain_id"),
        timestamp_micros((us(col("ts")).cast("long") /
          lit(300000000L)).cast("long") * lit(300000000L))
          .as("index_ts"),
        (pmod(col("event_id"), lit(500)).cast("double") / lit(100.0))
          .as("price_usd"))
    val chains = s.range(1).select(lit(21000).as("chain_id"),
      lit("DOT~21000").as("native_asset"),
      lit(10).as("decimals")) // unused by the xcm face
    val dir = queryDumpDir("graft_xcm_dump")
    graft.etl.XcmExport.dumpXcmDay(transfers, candidates,
      "2024-03-01", dir,
      Some(graft.etl.Dump.UsdDims(priceLog, chains)))
      .groupBy(col("destination_para_id"))
      .agg(
        count(lit(1)).as("n_matched"),
        count(when(col("destination_match_confidence") === 1.0, 1))
          .as("n_exact"),
        count(when(
          col("destination_execution_status") === "success", 1))
          .as("n_success"),
        count(col("price_usd")).as("n_priced"),
        decOut(sum(dec6(col("origination_amount_sent"))))
          .as("sum_sent"),
        decOut(sum(dec6(col("origination_amount_sent_usd"))))
          .as("sum_sent_usd"),
        decOut(sum(dec6(col("destination_amount_received"))))
          .as("sum_received"),
        decOut(sum(dec6(col("destination_match_confidence"))))
          .as("sum_confidence"))
      .orderBy(col("destination_para_id"))
  }

  private val j26Sql =
    s"""WITH src AS (
       | SELECT event_id AS sid, ${sqlUs(TS)} AS s_us
       | FROM events WHERE event_type = 'purchase'),
       |tr AS (
       | SELECT sid, s_us, CAST(sid % 1000 + 100 AS DOUBLE) AS amt,
       |  2000 + sid % 5 AS dest
       | FROM src),
       |cand AS (
       | SELECT sid,
       |  s_us + (CASE WHEN j = 0 THEN sid % 140 - 10 ELSE 30 END)
       |    * 1000000 AS d_us,
       |  CAST(sid % 1000 + 100 - sid % 7 -
       |    CASE WHEN j = 1 THEN sid % 25 ELSE 0 END AS DOUBLE) AS recv,
       |  CAST(sid % 7 AS DOUBLE) AS fees,
       |  'c' || CAST(sid % 501 AS VARCHAR) || '-' ||
       |    CAST(j AS VARCHAR) AS ev,
       |  CASE WHEN j = 0 AND sid % 17 = 0 THEN 1 ELSE 0 END AS reaped
       | FROM src CROSS JOIN (SELECT unnest([0, 1]) AS j) jj),
       |m1 AS (
       | SELECT t.sid, t.amt, t.dest, t.s_us, c.ev, c.recv,
       |  CASE WHEN c.recv + c.fees = t.amt THEN 1 ELSE 0 END AS exact,
       |  CASE WHEN c.recv + c.fees = t.amt THEN 1.0
       |   ELSE 1.0 - abs(c.recv + c.fees - t.amt) / t.amt END AS conf
       | FROM tr t JOIN cand c ON c.sid = t.sid
       | WHERE c.d_us >= t.s_us - CAST(10000000 AS BIGINT)
       |   AND c.d_us <= t.s_us + CAST(120000000 AS BIGINT)
       |   AND c.reaped = 0),
       |best AS (
       | SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY sid
       |    ORDER BY exact DESC, conf DESC, ev) AS rn
       |   FROM m1 WHERE conf > 0.5) WHERE rn = 1),
       |win AS (
       | SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY ev
       |    ORDER BY exact DESC, conf DESC, CAST(sid AS VARCHAR)) AS rn2
       |   FROM best) WHERE rn2 = 1),
       |px AS (
       | SELECT (${sqlUs(TS)} // CAST(300000000 AS BIGINT))
       |    * CAST(300000000 AS BIGINT) AS b_us,
       |  max(CAST(event_id % 500 AS DOUBLE) / 100.0) AS px
       | FROM events WHERE event_type = 'view' GROUP BY 1),
       |dec AS (
       | SELECT w.*, p.px FROM win w
       | ASOF LEFT JOIN px p ON w.s_us >= p.b_us)
       |SELECT dest AS destination_para_id, count(*) AS n_matched,
       | count(CASE WHEN exact = 1 THEN 1 END) AS n_exact,
       | count(CASE WHEN exact = 1 OR recv > 0 THEN 1 END) AS n_success,
       | count(px) AS n_priced,
       | ${sqlDecOut("sum(CAST(amt AS DECIMAL(38,6)))")} AS sum_sent,
       | ${sqlDecOut("sum(CAST(amt * px AS DECIMAL(38,6)))")}
       |  AS sum_sent_usd,
       | ${sqlDecOut("sum(CAST(recv AS DECIMAL(38,6)))")} AS sum_received,
       | ${sqlDecOut("sum(CAST(round(conf, 6) AS DECIMAL(38,6)))")}
       |  AS sum_confidence
       |FROM dec GROUP BY 1 ORDER BY destination_para_id""".stripMargin


  // J27 — the `xcm` MESSAGES daily export through the writer
  // (graft.etl.XcmExport.dumpXcmMessagesDay — the second table the
  // reference's dump_xcm writes, substrateetl.js:5181): directed
  // message rows are synthesized from events (signups = outgoing with
  // payload, purchases = incoming), the REAL matcher (bounded sentAt
  // interval, closest-first per source, each dest consumed once) pairs
  // them, the export projects msg.hash/para ids/relay placement/
  // payload to parquet, and the query reads the WRITTEN layout back
  // for a per-msg-type rollup. Oracle = the same two ranked windows in
  // DuckDB (the j2 dedup-pass replay, one identity level deeper).
  private def j27(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    // decade bucketing: source (signup) and dest (purchase) ids from
    // the same event-id decade share (hash, chain pair), and the relay
    // placement is the id's last digit — so the [0,4] sentAt window
    // genuinely selects within every bucket at any scale factor
    val b = expr("event_id div 10")
    def mh = concat(lit("h"), b)
    val src = ev.filter(col("event_type") === "signup").select(
      mh.as("msg_hash"),
      lit(0).as("incoming"),
      (lit(2000) + pmod(b, lit(3))).cast("int")
        .as("chain_id"),
      (lit(2005) + pmod(b, lit(2))).cast("int")
        .as("chain_id_dest"),
      pmod(col("event_id"), lit(10)).as("sent_at"),
      col("ts").as("block_ts"),
      col("event_id").as("block_number"),
      format_string("0x%x", col("event_id")).as("msg"),
      element_at(array(lit("ump"), lit("dmp"), lit("hrmp")),
        (pmod(col("event_id"), lit(3)) + 1).cast("int")).as("msg_type"),
      lit("v3").as("version"))
    val dst = ev.filter(col("event_type") === "purchase").select(
      mh.as("msg_hash"),
      lit(1).as("incoming"),
      (lit(2000) + pmod(b, lit(3))).cast("int")
        .as("chain_id"),
      (lit(2005) + pmod(b, lit(2))).cast("int")
        .as("chain_id_dest"),
      pmod(col("event_id"), lit(10)).as("sent_at"),
      col("ts").as("block_ts"),
      col("event_id").as("block_number"),
      lit(null).cast("string").as("msg"),
      lit(null).cast("string").as("msg_type"),
      lit(null).cast("string").as("version"))
    val dir = queryDumpDir("graft_xcmmsg_dump")
    graft.etl.XcmExport.dumpXcmMessagesDay(src.unionByName(dst),
      "2024-03-01", dir)
      .groupBy(col("msg_type"))
      .agg(
        count(lit(1)).as("n_messages"),
        countDistinct(col("msg_hash")).as("n_hashes"),
        sum(col("included_at") - col("relayed_at")).cast("long")
          .as("sum_diff"),
        countDistinct(concat(col("origination_para_id"), lit("-"),
          col("destination_para_id"))).as("n_routes"))
      .orderBy(col("msg_type"))
  }

  private val j27Sql =
    s"""WITH src AS (
       | SELECT 'h' || CAST(event_id // 10 AS VARCHAR) AS h,
       |  2000 + (event_id // 10) % 3 AS c,
       |  2005 + (event_id // 10) % 2 AS cd,
       |  event_id % 10 AS s_sa, event_id AS s_bn,
       |  ${sqlUs(TS)} // CAST(1000000 AS BIGINT) AS s_sec,
       |  CASE event_id % 3 WHEN 0 THEN 'ump' WHEN 1 THEN 'dmp'
       |   ELSE 'hrmp' END AS msg_type
       | FROM events WHERE event_type = 'signup'),
       |dst AS (
       | SELECT 'h' || CAST(event_id // 10 AS VARCHAR) AS h,
       |  2000 + (event_id // 10) % 3 AS c,
       |  2005 + (event_id // 10) % 2 AS cd,
       |  event_id % 10 AS d_sa, event_id AS d_bn,
       |  ${sqlUs(TS)} // CAST(1000000 AS BIGINT) AS d_sec
       | FROM events WHERE event_type = 'purchase'),
       |cand AS (
       | SELECT s.h, s.c, s.cd, s.s_sa, s.s_bn, s.msg_type,
       |  d.d_sa, d.d_bn, d.d_sa - s.s_sa AS dsa,
       |  abs(d.d_sec - s.s_sec) AS dts
       | FROM src s JOIN dst d
       |  ON s.h = d.h AND s.c = d.c AND s.cd = d.cd
       | WHERE d.d_sa - s.s_sa BETWEEN 0 AND 4),
       |best AS (
       | SELECT * FROM (SELECT *, row_number() OVER (
       |    PARTITION BY h, c, cd, s_sa, s_bn
       |    ORDER BY dsa, dts, d_bn) AS rn FROM cand) WHERE rn = 1),
       |win AS (
       | SELECT * FROM (SELECT *, row_number() OVER (
       |    PARTITION BY h, c, cd, d_sa, d_bn
       |    ORDER BY dsa, dts, s_bn) AS rn2 FROM best) WHERE rn2 = 1)
       |SELECT msg_type, count(*) AS n_messages,
       | count(DISTINCT h) AS n_hashes,
       | CAST(sum(d_sa - s_sa) AS BIGINT) AS sum_diff,
       | count(DISTINCT CAST(c AS VARCHAR) || '-' ||
       |   CAST(cd AS VARCHAR)) AS n_routes
       |FROM win GROUP BY 1 ORDER BY msg_type""".stripMargin

  // B15 — the Dune xcmtransfer CSV HAND-OFF through the writer
  // (graft.etl.XcmExport.dumpDuneXcmTransfers — ref substrateetl.js:
  // 526-541 dump_dune_xcmtransfer): transfer rows synthesized from
  // purchase events carry all three render classes — 32-byte pubkeys
  // (0x + 64 hex, length 66 > 42 → ss58-rendered at the relay
  // prefix), H160 EVM addresses (length 42 → verbatim), and nulls —
  // the REAL export writes the 5-column headered CSV, and the query
  // reads the WRITTEN FILES back for a per-dest-chain rollup. The
  // encode path is certified cross-engine by ROUND-TRIPPING:
  // ss58_pubkey(rendered) must re-derive the md5-synthesized pubkey
  // hex, which DuckDB recomputes directly — a wrong checksum, prefix
  // byte, or base58 alphabet breaks the round trip — and every
  // prefix-0 address must start with '1' (the base58 leading-zero of
  // the 0x00 network byte), which the oracle pins as
  // n_prefix0 = n_from_rendered. Timestamps truncate to seconds at
  // synthesis so the CSV round trip is exact.
  private def b15(s: SparkSession, d: String): DataFrame = {
    val sid = col("event_id")
    val sidS = sid.cast("string")
    val transfers = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .select(
        timestamp_seconds((us(col("ts")) / lit(1000000L)).cast("long"))
          .as("source_ts"),
        when(pmod(sid, lit(3)) === 0, synthPk(sidS))
          .when(pmod(sid, lit(3)) === 1, synthH160(sidS))
          .as("from_address"), // % 3 == 2 → null, passes through
        when(pmod(sid, lit(2)) === 0,
          synthPk(concat(sidS, lit("d"))))
          .otherwise(synthH160(concat(sidS, lit("d"))))
          .as("dest_address"),
        lit(21000).as("chain_id"),
        (lit(2000) + pmod(sid, lit(5))).cast("int")
          .as("chain_id_dest"))
    val dir = queryDumpDir("graft_dune_csv")
    graft.etl.XcmExport.dumpDuneXcmTransfers(transfers, dir)
    val back = s.read.option("header", "true").csv(dir)
    val fromRendered = col("from_ss58").isNotNull &&
      !col("from_ss58").startsWith("0x")
    val toRendered = !col("to_ss58").startsWith("0x")
    back.groupBy(col("dest_chain_id").cast("int").as("dest_chain_id"))
      .agg(
        count(lit(1)).as("n_rows"),
        count(when(fromRendered, 1)).as("n_from_rendered"),
        count(when(col("from_ss58").startsWith("1"), 1))
          .as("n_prefix0"),
        count(when(col("from_ss58").startsWith("0x"), 1))
          .as("n_from_h160"),
        count(when(col("from_ss58").isNull, 1)).as("n_from_null"),
        min(when(col("from_ss58").startsWith("0x"), col("from_ss58")))
          .as("min_from_h160"),
        min(when(fromRendered, call_udf("ss58_pubkey",
          col("from_ss58")))).as("min_from_rt"),
        max(when(fromRendered, call_udf("ss58_pubkey",
          col("from_ss58")))).as("max_from_rt"),
        countDistinct(when(toRendered, call_udf("ss58_pubkey",
          col("to_ss58")))).as("n_to_rt"),
        min((us(col("ts").cast("timestamp")) / lit(1000000L))
          .cast("long")).as("min_ts_s"),
        max((us(col("ts").cast("timestamp")) / lit(1000000L))
          .cast("long")).as("max_ts_s"))
      .orderBy(col("dest_chain_id"))
  }

  private val b15Sql =
    s"""WITH src AS (
       | SELECT event_id AS sid,
       |  ${sqlUs(TS)} // CAST(1000000 AS BIGINT) AS s
       | FROM events WHERE event_type = 'purchase'),
       |r AS (
       | SELECT sid, s,
       |  CAST(2000 + sid % 5 AS INTEGER) AS dest,
       |  CASE WHEN sid % 3 = 0 THEN '0x' || md5(CAST(sid AS VARCHAR))
       |    || md5(CAST(sid AS VARCHAR) || 'x') END AS from_pk,
       |  CASE WHEN sid % 3 = 1 THEN
       |   '0x' || substr(md5(CAST(sid AS VARCHAR))
       |     || md5(CAST(sid AS VARCHAR) || 'x'), 1, 40)
       |  END AS from_h160,
       |  CASE WHEN sid % 2 = 0 THEN
       |   '0x' || md5(CAST(sid AS VARCHAR) || 'd')
       |    || md5(CAST(sid AS VARCHAR) || 'dx') END AS to_pk
       | FROM src)
       |SELECT dest AS dest_chain_id, count(*) AS n_rows,
       | count(from_pk) AS n_from_rendered,
       | count(from_pk) AS n_prefix0,
       | count(from_h160) AS n_from_h160,
       | count(CASE WHEN from_pk IS NULL AND from_h160 IS NULL
       |   THEN 1 END) AS n_from_null,
       | min(from_h160) AS min_from_h160,
       | min(from_pk) AS min_from_rt,
       | max(from_pk) AS max_from_rt,
       | count(DISTINCT to_pk) AS n_to_rt,
       | min(s) AS min_ts_s, max(s) AS max_ts_s
       |FROM r GROUP BY 1 ORDER BY dest_chain_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "j18_trace_spans" -> (j18 _),
    "j21_dest_waterfall" -> (j21 _),
    "j25_skew_salted" -> (j25 _),
    "j26_xcm_export" -> (j26 _),
    "j27_xcm_msg_export" -> (j27 _),
    "b15_dune_csv" -> (b15 _),
    "j19_transact_spans" -> (j19 _),
    "j20_xcm_fee_model" -> (j20 _),
    "j22_last_touch" -> (j22 _),
    "j23_range_bin" -> (j23 _),
    "j24_scd2_lookup" -> (j24 _),
    "j1_interval_match" -> (j1 _),
    "j2_dedup_match" -> (j2 _),
    "j3_tolerance_match" -> (j3 _),
    "j6_dim_join" -> (j6 _),
    "j8_route_tally" -> (j8 _),
    "j9_multistage_left" -> (j9 _),
    "j11_anti_join" -> (j11 _),
    "j12_semi_join" -> (j12 _),
    "j13_theta_band" -> (j13 _),
    "j14_day_over_day" -> (j14 _),
    "j16_asof_join" -> (j16 _),
    "j16b_asof_native" -> (j16b _),
    "j17_running_resolve" -> (j17 _),
  )

  val oracles: Map[String, String] = Map(
    "j18_trace_spans" -> j18Sql,
    "j21_dest_waterfall" -> j21Sql,
    "j25_skew_salted" -> j25Sql,
    "j26_xcm_export" -> j26Sql,
    "j27_xcm_msg_export" -> j27Sql,
    "b15_dune_csv" -> b15Sql,
    "j19_transact_spans" -> j19Sql,
    "j20_xcm_fee_model" -> j20Sql,
    "j16b_asof_native" -> j16bSql,
    "j1_interval_match" -> j1Sql,
    "j2_dedup_match" -> j2Sql,
    "j3_tolerance_match" -> j3Sql,
    "j6_dim_join" -> j6Sql,
    "j8_route_tally" -> j8Sql,
    "j9_multistage_left" -> j9Sql,
    "j11_anti_join" -> j11Sql,
    "j12_semi_join" -> j12Sql,
    "j13_theta_band" -> j13Sql,
    "j14_day_over_day" -> j14Sql,
    "j16_asof_join" -> j16Sql,
    "j17_running_resolve" -> j17Sql,
    "j22_last_touch" -> j22Sql,
    "j23_range_bin" -> j23Sql,
    "j24_scd2_lookup" -> j24Sql,
  )
}
