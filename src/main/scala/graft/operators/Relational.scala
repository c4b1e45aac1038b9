package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

/** Relational query suite over the TPC-H-ish testdata tables.
  *
  * The reference engine (MIT 6.824 Lab 1 MapReduce — see SURVEY.md §2.2)
  * has scan → map → shuffle → sort-group → reduce; every query here is the
  * generalization of that dataflow expressed as a declarative Catalyst plan
  * so pushdown / pruning / partial aggregation / AQE come for free.
  *
  * Scale notes (100 TB design stance):
  *   - Only genuinely bounded dimensions (region: 5 rows, nation: 25 rows)
  *     carry explicit `broadcast()` hints. SF-scaled tables
  *     (customer/supplier/part) are left to AQE's dynamic broadcast
  *     conversion: at small SF they broadcast from runtime stats; at 100 TB
  *     they shuffle-join — a forced hint there would OOM the driver.
  *   - Aggregations are expressed with codegen'd built-ins only, so Spark
  *     plans partial (map-side) aggregation before the shuffle.
  *   - Money arithmetic: per-row double expression → cast to DecimalType →
  *     exact decimal sum → cast back to double. This makes results
  *     independent of aggregation order (deterministic at any parallelism,
  *     and bit-identical to the DuckDB oracle).
  */
object Relational {
  import Tables._

  /** Order-insensitive exact sum of a (per-row deterministic) double expr. */
  private def dsum(c: Column, scale: Int): Column =
    sum(c.cast(DecimalType(18, scale))).cast("double")

  /** TPC-H Q1 analog: pricing summary over ~99% of lineitem.
    * Single shuffle on (l_returnflag, l_linestatus); partial agg map-side. */
  def q01PricingSummary(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .filter(col("l_shipdate") <= lit("2000-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice"), 2).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
          .as("sum_disc_price"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))
          * (lit(1) + col("l_tax")), 6).as("sum_charge"),
        (sum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
        count(lit(1)).as("count_order"))

  val q01Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  sum(l_quantity) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
      |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
      |  sum(l_quantity) / count(*) AS avg_qty,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '2000-09-02'
      |GROUP BY l_returnflag, l_linestatus""".stripMargin

  /** Filter + projection; exists to prove scan pushdown (PushedFilters /
    * 3-column ReadSchema on a 6-column table). */
  def q02FilterPushdown(s: SparkSession, d: String): DataFrame =
    part(s, d)
      .filter(col("p_size").between(10, 20) &&
        col("p_type").isin("SMALL", "MEDIUM"))
      .select(col("p_partkey"), col("p_brand"), col("p_retailprice"))

  val q02Sql: String =
    """SELECT p_partkey, p_brand, p_retailprice FROM part
      |WHERE p_size BETWEEN 10 AND 20 AND p_type IN ('SMALL','MEDIUM')""".stripMargin

  /** TPC-H Q3 analog: top-10 unshipped-revenue orders for one segment.
    * customer scales with SF, so no forced broadcast — AQE converts the
    * join to broadcast at small SF from runtime stats and keeps a shuffle
    * join at scale (a forced hint would OOM the driver on billions of
    * customers). orders⋈lineitem shuffles on the join key once and the
    * groupBy reuses that partitioning. Ranking happens on the exact
    * DECIMAL revenue, so the top-10 cut is deterministic; ties broken by
    * o_orderkey. */
  def q03TopRevenue(s: SparkSession, d: String): DataFrame = {
    val c = customer(s, d).filter(col("c_mktsegment") === "BUILDING")
    val o = orders(s, d)
      .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    val l = lineitem(s, d)
      .filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast(DecimalType(18, 4))).as("rev"))
      .orderBy(col("rev").desc, col("l_orderkey"))
      .limit(10)
      .select(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"),
        col("rev").cast("double").as("revenue"))
  }

  val q03Sql: String =
    """SELECT l_orderkey, o_orderdate, o_orderpriority,
      |  CAST(rev AS DOUBLE) AS revenue
      |FROM (
      |  SELECT l_orderkey, o_orderdate, o_orderpriority,
      |    sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS rev
      |  FROM lineitem, orders, customer
      |  WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
      |    AND c_mktsegment = 'BUILDING'
      |    AND o_orderdate < TIMESTAMP '1998-01-01'
      |    AND l_shipdate > TIMESTAMP '1998-01-01'
      |  GROUP BY l_orderkey, o_orderdate, o_orderpriority
      |) ORDER BY rev DESC, l_orderkey LIMIT 10""".stripMargin

  /** TPC-H Q4 analog: order counts by priority for orders having at least
    * one discounted line — a left-semi join (no row multiplication, and
    * Spark can stop probing per key at first match). */
  def q04SemiJoin(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d).filter(
      col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
      col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
    val l = lineitem(s, d).filter(col("l_discount") > 0.05)
    o.join(l, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
  }

  val q04Sql: String =
    """SELECT o_orderpriority, count(*) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1997-01-01'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_discount > 0.05)
      |GROUP BY o_orderpriority""".stripMargin

  /** TPC-H Q5 analog: revenue by nation where customer and supplier share
    * the nation. Only the genuinely bounded dims (region: 5 rows,
    * nation: 25 rows) carry broadcast hints; customer/supplier scale with
    * SF, so their joins are left to AQE (dynamic broadcast at small SF,
    * shuffle join at 100 TB). Shuffles: orders⋈lineitem on orderkey,
    * customer/supplier joins on their keys, final 25-group aggregation. */
  def q05LocalSupplier(s: SparkSession, d: String): DataFrame = {
    val r = region(s, d).filter(col("r_name") === "ASIA")
    val n = nation(s, d)
    val c = customer(s, d)
    val sup = supplier(s, d)
    val o = orders(s, d)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    val l = lineitem(s, d)
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(sup, col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
        .as("revenue"))
  }

  val q05Sql: String =
    """SELECT n_name,
      |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |FROM customer, orders, lineitem, supplier, nation, region
      |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      |  AND r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1998-01-01'
      |GROUP BY n_name""".stripMargin

  /** TPC-H Q6 analog: single-row forecast-revenue aggregate — the pure
    * scan-filter-agg shape; no shuffle beyond the final 1-row reduce. */
  def q06RevenueForecast(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
        col("l_discount").between(0.03, 0.07) && col("l_quantity") < 24)
      .agg(dsum(col("l_extendedprice") * col("l_discount"), 4).as("revenue"),
        count(lit(1)).as("n_lines"))

  val q06Sql: String =
    """SELECT
      |  CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
      |  count(*) AS n_lines
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      |  AND l_shipdate < TIMESTAMP '1998-01-01'
      |  AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24""".stripMargin

  /** Window rank: each customer's single largest order.
    * row_number (not rank) with a full tie-break key → deterministic. */
  def q07WindowRank(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    orders(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
  }

  val q07Sql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_custkey
      |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders) WHERE rn = 1""".stripMargin

  /** Running (cumulative) revenue per supplier in ship order.
    * The running value is summed in exact DECIMAL (order-insensitive is not
    * enough here — segment-tree vs streaming window aggregation would give
    * different double results; decimal makes both exact). */
  def q08RunningSum(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lineitem(s, d)
      .filter(col("l_suppkey") <= 3)
      .withColumn("running_qty", sum(col("l_quantity")).over(w))
      .withColumn("running_rev",
        sum(col("l_extendedprice").cast(DecimalType(18, 2))).over(w)
          .cast("double"))
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        col("running_qty"), col("running_rev"))
  }

  val q08Sql: String =
    """SELECT l_suppkey, l_orderkey, l_linenumber,
      |  sum(l_quantity) OVER w AS running_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS running_rev
      |FROM lineitem WHERE l_suppkey <= 3
      |WINDOW w AS (PARTITION BY l_suppkey
      |             ORDER BY l_shipdate, l_orderkey, l_linenumber
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin

  /** Distinct aggregates: suppliers/parts/orders touched per return flag. */
  def q09DistinctAgg(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_suppkey")).as("n_supp"),
        countDistinct(col("l_partkey")).as("n_part"),
        countDistinct(col("l_orderkey")).as("n_order"),
        count(lit(1)).as("n_lines"))

  val q09Sql: String =
    """SELECT l_returnflag,
      |  count(DISTINCT l_suppkey) AS n_supp,
      |  count(DISTINCT l_partkey) AS n_part,
      |  count(DISTINCT l_orderkey) AS n_order,
      |  count(*) AS n_lines
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** Set operation: customers with both open and finished orders. */
  def q10SetOps(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    val open = o.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
    val done = o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
    open.intersect(done).withColumnRenamed("o_custkey", "custkey")
  }

  val q10Sql: String =
    """SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
      |INTERSECT
      |SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'""".stripMargin

  /** Rollup: revenue at (region, nation), (region), and grand-total levels
    * in one pass — Spark expands grouping sets before the shuffle.
    * customer is SF-scaled → no broadcast hint (AQE decides); nation and
    * region are bounded (25/5 rows) → hinted. */
  def q11Rollup(s: SparkSession, d: String): DataFrame = {
    val n = nation(s, d)
    val r = region(s, d)
    val c = customer(s, d)
    orders(s, d)
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice"), 2).as("total_price"))
  }

  val q11Sql: String =
    """SELECT r_name, n_name, count(*) AS n_orders,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      |FROM orders, customer, nation, region
      |WHERE o_custkey = c_custkey AND c_nationkey = n_nationkey
      |  AND n_regionkey = r_regionkey
      |GROUP BY ROLLUP (r_name, n_name)""".stripMargin

  /** Group-filter (HAVING): suppliers shipping more than 550 lines. */
  def q12Having(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n_lines"), sum(col("l_quantity")).as("sum_qty"))
      .filter(col("n_lines") > 550)

  val q12Sql: String =
    """SELECT l_suppkey, count(*) AS n_lines, sum(l_quantity) AS sum_qty
      |FROM lineitem GROUP BY l_suppkey HAVING count(*) > 550""".stripMargin

  /** Anti join: customers who never ordered, counted per segment. */
  def q13AntiJoin(s: SparkSession, d: String): DataFrame = {
    val c = customer(s, d)
    val o = orders(s, d).select(col("o_custkey"))
    c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"))
  }

  val q13Sql: String =
    """SELECT c_mktsegment, count(*) AS n_customers
      |FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |GROUP BY c_mktsegment""".stripMargin

  /** TPC-H Q14 analog: promo revenue share — conditional aggregation.
    * part is SF-scaled → no broadcast hint (AQE converts at small SF,
    * shuffle join on l_partkey at scale); ratio computed as one double
    * division at the end. */
  def q14CasePromo(s: SparkSession, d: String): DataFrame = {
    val p = part(s, d)
    val l = lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-07-01").cast("timestamp"))
    val disc = (col("l_extendedprice") * (lit(1) - col("l_discount")))
      .cast(DecimalType(18, 4))
    l.join(p, col("l_partkey") === col("p_partkey"))
      .agg(
        (lit(100.0) * sum(when(col("p_type") === "PROMO", disc)
          .otherwise(lit(0).cast(DecimalType(18, 4)))).cast("double")
          / sum(disc).cast("double")).as("promo_share"))
  }

  val q14Sql: String =
    """SELECT 100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
      |    THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
      |    ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
      |  / CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS promo_share
      |FROM lineitem, part
      |WHERE l_partkey = p_partkey
      |  AND l_shipdate >= TIMESTAMP '1997-01-01'
      |  AND l_shipdate < TIMESTAMP '1997-07-01'""".stripMargin

  /** Hourly event aggregation — scan → single shuffle on
    * (hour, event_type) with map-side partial aggregation. */
  def q15EventsHourly(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        dsum(col("value"), 2).as("sum_value"),
        countDistinct(col("user_id")).as("n_users"))

  val q15Sql: String =
    """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour, event_type,
      |  count(*) AS n_events,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
      |  count(DISTINCT user_id) AS n_users
      |FROM events GROUP BY 1, 2""".stripMargin

  /** Sessionization: split each user's event stream at >30 min gaps.
    * Classic lag + cumulative-flag-sum; one shuffle on user_id serves both
    * window functions and the final per-session aggregation.
    *
    * Gap convention (explicit, engine-portable): a session breaks when the
    * ELAPSED time exceeds 1800 s, computed as exact epoch-MICROSECOND
    * integer arithmetic — not floor-of-second subtraction, whose result
    * on sub-second knife-edge gaps (e.g. 1800.886 s) depends on where the
    * second boundaries fall and on each engine's timestamp precision. The
    * oracle uses the identical epoch_us arithmetic. */
  def q16Sessionize(s: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    events(s, d)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800L * 1000000L, 1)
          .otherwise(0))
      .withColumn("session_id", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("event_id")).as("first_event"),
        max(col("event_id")).as("last_event"))
  }

  // session_id is CAST to BIGINT: DuckDB's sum(INTEGER) yields HUGEINT,
  // which a type-sensitive result hasher would see as a schema difference
  // even with identical values. The gap test is exact epoch-microsecond
  // arithmetic on micros-truncated timestamps — provably the same
  // convention as the Spark plan above, independent of whether the engine
  // reads the parquet column at nano or micro precision.
  val q16Sql: String =
    """SELECT user_id, session_id, count(*) AS n_events,
      |  min(event_id) AS first_event, max(event_id) AS last_event
      |FROM (
      |  SELECT user_id, event_id,
      |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM (
      |    SELECT user_id, event_id, ts,
      |      CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |                IS NULL THEN 1
      |           WHEN epoch_us(CAST(ts AS TIMESTAMP))
      |                - epoch_us(CAST(lag(ts) OVER (PARTITION BY user_id
      |                    ORDER BY ts, event_id) AS TIMESTAMP)) > 1800000000
      |           THEN 1 ELSE 0 END AS new_session
      |    FROM events))
      |GROUP BY user_id, session_id""".stripMargin

  /** NATIVE session windows — `session_window(ts, gap)` in batch mode,
    * gated against the gaps-and-islands formulation the oracle states
    * directly. Proves the built-in's merge rule equals q16's manual
    * islands (boundary probe: an event at EXACTLY prev+gap MERGES —
    * new session only when the gap is strictly exceeded), so streaming
    * jobs using the native operator and warehouse SQL using islands
    * agree row-for-row. Session end = last event + gap by definition;
    * all bound arithmetic is exact micros (the q16 convention).
    *
    * Scale shape: one user_id exchange; sessions merge inside the
    * MergingSessions aggregate (sort-based within partitions), never a
    * window-over-everything. */
  def q101SessionWindow(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"), min(col("event_id")).as("first_event"))
      .select(col("user_id"), col("w.start").as("s_start"),
        col("w.end").as("s_end"), col("n_events"), col("first_event"))

  val q101Sql: String =
    """WITH flagged AS (
      |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CASE WHEN lag(ts) OVER w IS NULL THEN 1
      |         WHEN epoch_us(CAST(ts AS TIMESTAMP))
      |              - epoch_us(CAST(lag(ts) OVER w AS TIMESTAMP))
      |              > 1800000000 THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |runs AS (
      |  SELECT user_id, event_id, ts,
      |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM flagged)
      |SELECT user_id, min(ts) AS s_start,
      |  max(ts) + INTERVAL 30 MINUTE AS s_end,
      |  count(*) AS n_events, min(event_id) AS first_event
      |FROM runs GROUP BY user_id, sid""".stripMargin

  /** DYNAMIC-GAP session windows — `session_window(ts, gapColumn)`
    * with a PER-ROW gap expression (Spark 3.2+ surface; q101 is the
    * static-gap member): an error event holds a session open 5
    * minutes, a purchase/signup 60, clicks/views 20 — the
    * inactivity-policy-by-event-type sessionization real product
    * analytics run. Sessions merge by interval UNION under the
    * running-max-end rule: an event joins while ts ≤ max(tsᵢ + gapᵢ)
    * over the session so far (boundary inclusive, the q101/q186 pin),
    * and the session's end is that max — NOT last-event + constant.
    * The oracle states the same rule directly: running max of
    * (ts + gap) over preceding rows, break strictly beyond it,
    * sum-of-breaks session ids (sorted-by-start interval union ≡
    * connected overlap components, so the linear scan is exact).
    *
    * Scale shape: identical to q101 — one user_id exchange, merging
    * inside the MergingSessions aggregate; the gap CASE is a per-row
    * codegen'd expression. The same expression runs under a watermark
    * in streaming mode (StreamingSessionSpec's dynamic-gap
    * differential). */
  def q221DynamicSession(s: SparkSession, d: String): DataFrame = {
    // STRING gap branches, not INTERVAL literals: session_window
    // requires CalendarIntervalType and casts strings to it, while
    // `INTERVAL 5 MINUTES` parses as the ANSI DayTimeIntervalType the
    // operator rejects
    val gap = expr("CASE event_type WHEN 'error' THEN '5 minutes' " +
      "WHEN 'purchase' THEN '60 minutes' " +
      "WHEN 'signup' THEN '60 minutes' " +
      "ELSE '20 minutes' END")
    events(s, d)
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("w"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("event_type")).as("n_types"))
      .select(col("user_id"), col("w.start").as("s_start"),
        col("w.end").as("s_end"), col("n_events"), col("n_types"))
  }

  val q221Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
      |    CASE event_type WHEN 'error' THEN INTERVAL 5 MINUTE
      |      WHEN 'purchase' THEN INTERVAL 60 MINUTE
      |      WHEN 'signup' THEN INTERVAL 60 MINUTE
      |      ELSE INTERVAL 20 MINUTE END AS gap
      |  FROM events),
      |x AS (
      |  SELECT *, max(ts + gap) OVER (PARTITION BY user_id
      |    ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
      |  FROM e),
      |runs AS (
      |  SELECT *, sum(CASE WHEN prev_end IS NULL OR ts > prev_end
      |    THEN 1 ELSE 0 END) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM x)
      |SELECT user_id, min(ts) AS s_start, max(ts + gap) AS s_end,
      |  count(*) AS n_events, count(DISTINCT event_type) AS n_types
      |FROM runs GROUP BY user_id, sid""".stripMargin

  /** HOPPING (sliding) time windows — `window(ts, 60m, 15m)`: every
    * event lands in exactly FOUR overlapping hour-long windows that
    * advance every 15 minutes, the rolling-dashboard aggregation
    * (hourly actives refreshed every quarter hour). Completes the
    * window-family surface next to tumbling (EventStreams) and session
    * (q101/q221); the same expression runs under a watermark as a
    * streaming query. The oracle states the expansion directly: per
    * event, the four epoch-aligned slide starts (floor(epoch_us/slide)
    * − j)·slide for j ∈ 0..3 — membership is exact integer arithmetic,
    * and window(…) aligns starts to epoch multiples of the slide by
    * definition (default startTime 0).
    *
    * Scale shape: Spark expands each row to its 4 windows BEFORE the
    * partial aggregation (an Expand node), so the shuffle carries
    * (windows × groups)-sized partials, never 4× raw rows. */
  def q223HoppingWindow(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(window(col("ts"), "60 minutes", "15 minutes").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
      .select(col("w.start").as("w_start"), col("event_type"),
        col("n_events"), col("n_users"))

  val q223Sql: String =
    """WITH e AS (
      |  SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, user_id
      |  FROM events),
      |x AS (
      |  SELECT make_timestamp(
      |      (epoch_us(ts) // 900000000 - j) * 900000000) AS w_start,
      |    event_type, user_id
      |  FROM e, (SELECT unnest([0, 1, 2, 3]) AS j))
      |SELECT w_start, event_type, count(*) AS n_events,
      |  count(DISTINCT user_id) AS n_users
      |FROM x GROUP BY 1, 2""".stripMargin

  /** TPC-H Q13 analog (custdist): the DISTRIBUTION of per-customer
    * order counts — how many customers placed 0, 1, 2, … orders. The
    * load-bearing detail is ZERO preservation: customers with no
    * orders must appear in the 0 bucket, so the first aggregation runs
    * over a LEFT join and counts the right side's key (count(col)
    * skips nulls — never count(*), which would report 1). Two-level
    * aggregation: customer-grain counts, then a counts-grain rollup.
    *
    * Scale shape: one c_custkey-keyed outer join (both sides shuffle on
    * the key), customer-grain partial-agg, then a tiny second exchange
    * on the count value (distinct order-counts ≈ tens). */
  def q224Custdist(s: SparkSession, d: String): DataFrame =
    customer(s, d).select(col("c_custkey"))
      .join(orders(s, d).select(col("o_custkey"), col("o_orderkey")),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))

  val q224Sql: String =
    """SELECT c_count, count(*) AS custdist FROM (
      |  SELECT c_custkey, count(o_orderkey) AS c_count
      |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |  GROUP BY 1)
      |GROUP BY 1""".stripMargin

  /** TPC-H Q18 analog (large-volume orders): orders whose total line
    * quantity clears a threshold, joined BACK to their customer and
    * order attributes — the group-filter-then-rejoin shape (HAVING on
    * an aggregate of a DIFFERENT table than the one being reported).
    * The threshold sits inside the observed distribution so the filter
    * genuinely bites. Quantity accumulates in DECIMAL (the q01
    * convention) and is emitted as an exact integer-valued double.
    *
    * Scale shape: lineitem partial-aggregates to order grain before
    * any join (never join-then-aggregate — at scale the join input
    * would be 4× larger than the aggregate output); the surviving
    * order keys are a small fraction, so AQE can broadcast them into
    * the orders/customer joins. */
  def q225LargeOrders(s: SparkSession, d: String): DataFrame = {
    val big = lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("sum_qty"))
      .filter(col("sum_qty") > 250)
    orders(s, d)
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .join(customer(s, d), col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"),
        col("sum_qty").cast("double").as("sum_qty"))
  }

  val q225Sql: String =
    """SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
      |  CAST(sum_qty AS DOUBLE) AS sum_qty
      |FROM orders
      |JOIN (SELECT l_orderkey,
      |        sum(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty
      |      FROM lineitem GROUP BY 1 HAVING sum_qty > 250) big
      |  ON o_orderkey = big.l_orderkey
      |JOIN customer ON o_custkey = c_custkey""".stripMargin

  /** TPC-H Q7 analog (volume shipping): revenue flowing between an
    * ordered nation pair — supplier in one, customer in the other — by
    * ship year. The classic two-fact-join shape where BOTH fact sides
    * carry a dimension attribute: lineitem brings the supplier nation,
    * orders brings the customer nation, and the pair predicate can only
    * be evaluated after both joins.
    *
    * Scale shape: each side's nation filter is applied INSIDE the
    * dimension join (nation pre-filtered to the two names, 25-row
    * broadcast), so supplier and customer shrink to ~2/25 before
    * touching the facts — AQE sees the reduced runtime stats and
    * broadcasts them at any SF where they fit; at 100 TB they
    * shuffle-join, which is the correct fallback. The ship-date range
    * is a pushed parquet filter on the big fact. The final pair
    * inequality (supp != cust) is a cheap post-join filter on two
    * already-bounded string columns. One shuffle-agg on
    * (supp_nation, cust_nation, year): ≤ 2 × years groups. */
  def q230VolumeShipping(s: SparkSession, d: String): DataFrame = {
    val pairNations = Seq("NATION_1", "NATION_2")
    val sn = supplier(s, d)
      .join(broadcast(nation(s, d)
        .filter(col("n_name").isin(pairNations: _*))
        .select(col("n_nationkey").as("sn_key"),
          col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("sn_key"))
      .select(col("s_suppkey"), col("supp_nation"))
    val cn = customer(s, d)
      .join(broadcast(nation(s, d)
        .filter(col("n_name").isin(pairNations: _*))
        .select(col("n_nationkey").as("cn_key"),
          col("n_name").as("cust_nation"))),
        col("c_nationkey") === col("cn_key"))
      .select(col("c_custkey"), col("cust_nation"))
    lineitem(s, d)
      .filter(col("l_shipdate").between("1996-01-01", "1997-12-31"))
      .join(orders(s, d).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(sn, col("l_suppkey") === col("s_suppkey"))
      .join(cn, col("o_custkey") === col("c_custkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(18,4)")).as("rev_d"))
      .select(col("supp_nation"), col("cust_nation"), col("l_year"),
        col("rev_d").cast("double").as("revenue"))
  }

  val q230Sql: String =
    """SELECT supp_nation, cust_nation, l_year,
      |  CAST(sum(volume) AS DOUBLE) AS revenue FROM (
      |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |         year(l_shipdate) AS l_year,
      |         CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4)) AS volume
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
      |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
      |  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      |      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      |    AND l_shipdate BETWEEN TIMESTAMP '1996-01-01'
      |                       AND TIMESTAMP '1997-12-31') v
      |GROUP BY 1, 2, 3""".stripMargin

  /** TPC-H Q9 analog (product-type profit): profit attributed to the
    * supplier's nation by order year, restricted to parts whose name
    * matches a substring (the testdata has no partsupp/supplycost, so
    * profit is the discounted revenue — the join topology is the point).
    *
    * Scale shape: the part filter reduces to a key set consumed as a
    * LEFT SEMI join on l_partkey — no part payload is carried through
    * the pipeline, and AQE broadcasts the filtered key set when it
    * fits. Supplier joins on l_suppkey (AQE-sized), nation is an
    * explicit 25-row broadcast. One final shuffle-agg on
    * (nation, year): ≤ 25 × years groups. */
  def q231NationProfit(s: SparkSession, d: String): DataFrame = {
    val matched = part(s, d)
      .filter(col("p_name").contains("widget"))
      .select(col("p_partkey"))
    lineitem(s, d)
      .join(matched, col("l_partkey") === col("p_partkey"), "left_semi")
      .join(orders(s, d).select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .join(supplier(s, d).select(col("s_suppkey"), col("s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation(s, d)
        .select(col("n_nationkey"), col("n_name").as("nation"))),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("nation"), year(col("o_orderdate")).as("o_year"))
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(18,4)")).as("amount_d"))
      .select(col("nation"), col("o_year"),
        col("amount_d").cast("double").as("profit"))
  }

  val q231Sql: String =
    """SELECT nation, o_year, CAST(sum(amount) AS DOUBLE) AS profit FROM (
      |  SELECT n_name AS nation, year(o_orderdate) AS o_year,
      |         CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4)) AS amount
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  WHERE l_partkey IN (SELECT p_partkey FROM part
      |                      WHERE p_name LIKE '%widget%')) v
      |GROUP BY 1, 2""".stripMargin

  /** TPC-H Q10 analog (returned-item report): top 20 customers by
    * revenue lost to returns in a half-year order window. The
    * filter-both-facts-then-enrich shape: returnflag prunes lineitem
    * and the date range prunes orders BEFORE their join (both pushed
    * to the parquet scans), then the surviving ~1/6 × 1/13 of the join
    * output is enriched with customer attributes and top-k'd.
    *
    * Scale shape: grouping key includes the customer attributes
    * (c_custkey is the true key; the rest are functionally dependent,
    * the classic Q10 trick that avoids a post-agg join back to
    * customer). Exact-decimal revenue makes the ORDER BY + LIMIT
    * deterministic across engines, with c_custkey as the tiebreak.
    * The top-20 itself is a TakeOrderedAndProject — no global sort is
    * materialized. */
  def q232ReturnedItems(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .filter(col("l_returnflag") === "R")
      .join(orders(s, d)
        .filter(col("o_orderdate").between("1996-01-01", "1996-06-30"))
        .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation(s, d).select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(18,4)")).as("rev_d"))
      .orderBy(col("rev_d").desc, col("c_custkey"))
      .limit(20)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"),
        col("rev_d").cast("double").as("revenue"))

  val q232Sql: String =
    """SELECT c_custkey, c_name, c_acctbal, n_name,
      |  CAST(sum(rev) AS DOUBLE) AS revenue FROM (
      |  SELECT c_custkey, c_name, c_acctbal, n_name,
      |         CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4)) AS rev
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  WHERE l_returnflag = 'R'
      |    AND o_orderdate BETWEEN TIMESTAMP '1996-01-01'
      |                        AND TIMESTAMP '1996-06-30') v
      |GROUP BY 1, 2, 3, 4
      |ORDER BY sum(rev) DESC, c_custkey LIMIT 20""".stripMargin

  /** TPC-H Q19 analog (discounted revenue, disjunctive predicate): a
    * single scalar over lineitem ⋈ part under an OR of three branches,
    * each mixing part-side (brand, size) and lineitem-side (quantity)
    * conjuncts. The optimizer stress here is disjunction handling:
    * Catalyst's extract-common/convertible-filter rules derive the
    * single-table disjuncts — `p_brand IN (…) AND p_size BETWEEN 1 AND
    * 15` on part, `l_quantity BETWEEN 1 AND 30` on lineitem — and push
    * them into BOTH parquet scans (PushedFilters carries the Or), so
    * only candidate rows reach the join; the full three-way OR is
    * re-applied post-join for exactness. PlanAuditSpec pins the
    * part-side pushdown. Emits n_items alongside revenue so the gate
    * is sensitive to the match set, not just the sum. */
  def q233DisjunctiveScan(s: SparkSession, d: String): DataFrame = {
    val j = lineitem(s, d)
      .select(col("l_partkey"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"))
      .join(part(s, d).select(col("p_partkey"), col("p_brand"), col("p_size")),
        col("l_partkey") === col("p_partkey"))
    val branch = (b: String, sizeHi: Int, qLo: Int, qHi: Int) =>
      col("p_brand") === b &&
        col("p_size").between(1, sizeHi) &&
        col("l_quantity").between(qLo, qHi)
    j.filter(branch("Brand#12", 5, 1, 11) ||
        branch("Brand#23", 10, 10, 20) ||
        branch("Brand#34", 15, 20, 30))
      .agg(count(lit(1)).as("n_items"),
        sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)")).cast("double").as("revenue"))
  }

  val q233Sql: String =
    """SELECT count(*) AS n_items,
      |  CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4)))
      |       AS DOUBLE) AS revenue
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
      |       AND l_quantity BETWEEN 1 AND 11)
      |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
      |       AND l_quantity BETWEEN 10 AND 20)
      |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
      |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin

  /** TPC-H Q17 analog: revenue from small-quantity lines relative to the
    * per-part average — expressed as a window aggregate over l_partkey
    * instead of self-join-on-aggregate: ONE shuffle of lineitem on
    * l_partkey computes the per-part average AND leaves the data
    * partitioned for the part join; no second scan of lineitem and no
    * broadcast of a per-partkey aggregate (≈200M × SF rows at scale —
    * broadcasting that would OOM the driver). */
  def q17AvgSubquery(s: SparkSession, d: String): DataFrame = {
    val byPart = Window.partitionBy(col("l_partkey"))
    val l = lineitem(s, d)
      .withColumn("avg_qty",
        sum(col("l_quantity")).over(byPart) / count(lit(1)).over(byPart))
      .filter(col("l_quantity") < lit(0.5) * col("avg_qty"))
    l.join(part(s, d), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(dsum(col("l_extendedprice"), 2).as("small_qty_revenue"),
        count(lit(1)).as("n_lines"))
  }

  val q17Sql: String =
    """SELECT p_brand,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS small_qty_revenue,
      |  count(*) AS n_lines
      |FROM lineitem
      |JOIN (SELECT l_partkey AS ap_partkey,
      |        sum(l_quantity) / count(*) AS avg_qty
      |      FROM lineitem GROUP BY l_partkey) ON l_partkey = ap_partkey
      |JOIN part ON l_partkey = p_partkey
      |WHERE l_quantity < 0.5 * avg_qty
      |GROUP BY p_brand""".stripMargin

  /** Exact interpolated percentiles of quantity per return flag — the
    * order-statistics operator class. `percentile` (exact) rather than
    * `approx_percentile`: approximation algorithms differ across engines,
    * exact interpolation is oracle-comparable. At scale you'd switch to
    * approx_percentile (t-digest) — same plan shape, bounded memory. */
  def q32Percentiles(s: SparkSession, d: String): DataFrame = {
    // percentile() is an interpreted TypedImperativeAggregate whose
    // state is a value→count OpenHashMap built row-at-a-time (boxed
    // keys, no codegen). Feeding it per-(group, value) COUNTS through
    // its documented frequency argument builds the IDENTICAL final
    // state — map value = occurrence count — from a whole-stage-codegen
    // hash-agg's output instead, so the interpreted path only ever sees
    // the distinct-value frame (domain-bounded, not row-bounded). Same
    // sorted-counts walk, same interpolation arithmetic, bit-identical
    // result.
    val li = lineitem(s, d)
    val qtyP = li.groupBy(col("l_returnflag"), col("l_quantity"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_quantity, 0.5, c)").as("p50_qty"),
        expr("percentile(l_quantity, 0.9, c)").as("p90_qty"))
    val priceP = li.groupBy(col("l_returnflag"), col("l_extendedprice"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("l_returnflag").as("rf"))
      .agg(expr("percentile(l_extendedprice, 0.5, c)").as("p50_price"))
    // null-safe: GROUP BY keeps a NULL flag as a group, so the two
    // halves must pair on it too
    qtyP.join(priceP, col("l_returnflag") <=> col("rf"))
      .select(col("l_returnflag"), col("p50_qty"), col("p90_qty"),
        col("p50_price"))
  }

  val q32Sql: String =
    """SELECT l_returnflag,
      |  quantile_cont(l_quantity, 0.5) AS p50_qty,
      |  quantile_cont(l_quantity, 0.9) AS p90_qty,
      |  quantile_cont(l_extendedprice, 0.5) AS p50_price
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** q32's 100 TB scale path under the driver gate: `approx_percentile`
    * (Greenwald–Khanna sketch — one pass, bounded memory, mergeable
    * partials; the exact `percentile` buffers every value per group) with
    * its RANK-ERROR GUARANTEE rendered as an engine-independent
    * invariant. The sketch contract at accuracy a: the returned value's
    * rank r satisfies |r/n − q| ≤ 1/a. We verify it from first
    * principles: the value's feasible rank interval among the column is
    * (count(x < v), count(x ≤ v)] — the duplicate-safe form — and that
    * interval must intersect [q − tol, q + tol] with tol = 0.01 at
    * accuracy 1000, a 10× margin over the HARD bound. Unlike a
    * value-proximity check this holds for ANY data distribution and any
    * partitioning/merge order of the sketch, so the gate is
    * scale-independent by construction (SketchSpec additionally measures
    * value proximity vs exact on a known distribution). One lineitem scan
    * builds the sketch, a second verifies ranks against the 4-row
    * broadcast of (quantile, value) — no sort, no per-group buffering. */
  def q63ApproxPercentileBound(s: SparkSession, d: String): DataFrame = {
    val qs = Seq(0.25, 0.5, 0.75, 0.9)
    val acc = 1000
    val tol = 0.01
    val li = lineitem(s, d).select(col("l_extendedprice").as("x"))
    val sketch = li.agg(
      percentile_approx(col("x"), array(qs.map(lit): _*), lit(acc)).as("vs"),
      count(lit(1)).as("n"))
    val points = sketch.select(posexplode(col("vs")).as(Seq("i", "v")), col("n"))
    li.crossJoin(broadcast(points))
      .groupBy(col("i"), col("v"), col("n"))
      .agg(sum(when(col("x") < col("v"), 1L).otherwise(0L)).as("lo"),
        sum(when(col("x") <= col("v"), 1L).otherwise(0L)).as("hi"))
      .select(
        element_at(array(qs.map(lit): _*), col("i").cast("int") + 1).as("q"),
        lit(tol).as("rank_tol"),
        (col("lo").cast("double") / col("n") <= element_at(array(qs.map(lit): _*), col("i").cast("int") + 1) + tol &&
          col("hi").cast("double") / col("n") >= element_at(array(qs.map(lit): _*), col("i").cast("int") + 1) - tol)
          .as("pass"))
  }

  val q63Sql: String =
    """SELECT CAST(q AS DOUBLE) AS q, CAST(0.01 AS DOUBLE) AS rank_tol, true AS pass
      |FROM (VALUES (0.25), (0.5), (0.75), (0.9)) t(q)""".stripMargin

  /** q63's invariant, PER GROUP — the grouped sketch path a profiling
    * job actually runs at 100 TB (mergeable GK partials per group, no
    * per-group value buffering, vs exact `percentile` whose state is the
    * group's whole column). The per-group (median, n) frame is
    * groups-sized and broadcasts back onto the fact table for the
    * duplicate-safe feasible-rank check; same 10× margin over the hard
    * 1/accuracy bound, so the gate is distribution- and
    * partitioning-independent per group. */
  def q84GroupedPercentiles(s: SparkSession, d: String): DataFrame = {
    val qv = 0.5
    val acc = 1000
    val tol = 0.01
    val li = lineitem(s, d)
      .select(col("l_returnflag").as("g"), col("l_extendedprice").as("x"))
    val sk = li.groupBy(col("g"))
      .agg(percentile_approx(col("x"), lit(qv), lit(acc)).as("v"),
        count(lit(1)).as("n"))
    li.join(broadcast(sk), Seq("g"))
      .groupBy(col("g"), col("v"), col("n"))
      .agg(sum(when(col("x") < col("v"), 1L).otherwise(0L)).as("lo"),
        sum(when(col("x") <= col("v"), 1L).otherwise(0L)).as("hi"))
      .select(col("g").as("l_returnflag"), lit(qv).as("q"),
        lit(tol).as("rank_tol"),
        (col("lo").cast("double") / col("n") <= qv + tol &&
          col("hi").cast("double") / col("n") >= qv - tol).as("pass"))
  }

  val q84Sql: String =
    """SELECT l_returnflag, CAST(0.5 AS DOUBLE) AS q,
      |  CAST(0.01 AS DOUBLE) AS rank_tol, true AS pass
      |FROM (SELECT DISTINCT l_returnflag FROM lineitem) t""".stripMargin

  /** Pivot: per-user event counts spread into one column per event type
    * — conditional aggregation, single shuffle. */
  def q33Pivot(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(col("user_id"))
      .pivot(col("event_type"), Seq("click", "view", "purchase", "signup", "error"))
      .agg(count(lit(1)))
      .na.fill(0L)

  val q33Sql: String =
    """SELECT user_id,
      |  count(*) FILTER (event_type = 'click') AS click,
      |  count(*) FILTER (event_type = 'view') AS view,
      |  count(*) FILTER (event_type = 'purchase') AS purchase,
      |  count(*) FILTER (event_type = 'signup') AS signup,
      |  count(*) FILTER (event_type = 'error') AS error
      |FROM events GROUP BY user_id""".stripMargin

  /** Cube: order counts across all (status, priority) subtotal
    * combinations — grouping-sets expansion before the shuffle. */
  def q34Cube(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))

  val q34Sql: String =
    """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders
      |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin

  /** TPC-H Q21-style fact self-join: lineitems whose order contains a
    * line from a DIFFERENT supplier shipped later — the multi-condition
    * self-join shape. Both sides shuffle once on l_orderkey; the
    * inequality predicates evaluate inside the joined partition. */
  def q36SelfJoin(s: SparkSession, d: String): DataFrame = {
    val l1 = lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"),
      col("l_linenumber"), col("l_shipdate"))
    val l2 = l1.select(col("l_orderkey").as("r_orderkey"),
      col("l_suppkey").as("r_suppkey"), col("l_shipdate").as("r_shipdate"))
    l1.join(l2, col("l_orderkey") === col("r_orderkey") &&
        col("l_suppkey") =!= col("r_suppkey") &&
        col("r_shipdate") > col("l_shipdate"), "left_semi")
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n_waiting_lines"))
  }

  // NOTE: phrased as SEMI JOIN rather than correlated EXISTS — DuckDB
  // 1.0.0's EXISTS decorrelation returns a different (wrong) result for
  // this multi-condition predicate; its SEMI JOIN agrees with both
  // Spark's DataFrame semi join and Spark SQL's EXISTS.
  val q36Sql: String =
    """SELECT l_suppkey, count(*) AS n_waiting_lines
      |FROM lineitem l1 SEMI JOIN lineitem l2
      |  ON l2.l_orderkey = l1.l_orderkey
      | AND l2.l_suppkey <> l1.l_suppkey
      | AND l2.l_shipdate > l1.l_shipdate
      |GROUP BY l_suppkey""".stripMargin

  /** Scalar-function surface in one projection: string slicing/search/
    * padding/replace, date parts, conditional expressions — the derived
    * function coverage of SURVEY §2.2 exercised against the oracle. */
  def q37ScalarFuncs(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .filter(col("o_orderkey") < 1000)
      .select(
        col("o_orderkey"),
        substring(col("o_orderpriority"), 1, 1).as("prio_code"),
        upper(col("o_orderstatus")).as("status_uc"),
        length(col("o_orderpriority")).as("prio_len"),
        instr(col("o_orderpriority"), "-").cast("long").as("dash_pos"),
        regexp_replace(col("o_orderpriority"), "[AEIOU]", "").as("devoweled"),
        lpad(col("o_orderkey").cast("string"), 10, "0").as("padded_key"),
        year(col("o_orderdate")).as("o_year"),
        month(col("o_orderdate")).as("o_month"),
        dayofmonth(col("o_orderdate")).as("o_day"),
        when(col("o_totalprice") > 100000, "big").otherwise("small").as("bucket"))

  val q37Sql: String =
    """SELECT o_orderkey,
      |  substr(o_orderpriority, 1, 1) AS prio_code,
      |  upper(o_orderstatus) AS status_uc,
      |  length(o_orderpriority) AS prio_len,
      |  CAST(instr(o_orderpriority, '-') AS BIGINT) AS dash_pos,
      |  regexp_replace(o_orderpriority, '[AEIOU]', '', 'g') AS devoweled,
      |  lpad(CAST(o_orderkey AS VARCHAR), 10, '0') AS padded_key,
      |  year(o_orderdate) AS o_year,
      |  month(o_orderdate) AS o_month,
      |  day(o_orderdate) AS o_day,
      |  CASE WHEN o_totalprice > 100000 THEN 'big' ELSE 'small' END AS bucket
      |FROM orders WHERE o_orderkey < 1000""".stripMargin

  /** EXCEPT ALL — bag semantics with multiplicities preserved (q10
    * covers INTERSECT's set semantics). */
  def q38ExceptAll(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    val open = o.filter(col("o_orderstatus") === "O")
      .select(col("o_custkey"))
    val done = o.filter(col("o_orderstatus") === "F")
      .select(col("o_custkey"))
    open.exceptAll(done).withColumnRenamed("o_custkey", "custkey")
  }

  val q38Sql: String =
    """SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
      |EXCEPT ALL
      |SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'""".stripMargin

  /** Full outer join: per-nation customer and supplier counts including
    * nations present on only one side. */
  def q39FullOuter(s: SparkSession, d: String): DataFrame = {
    val c = customer(s, d).groupBy(col("c_nationkey").as("ck"))
      .agg(count(lit(1)).as("n_cust"))
    val sup = supplier(s, d).groupBy(col("s_nationkey").as("sk"))
      .agg(count(lit(1)).as("n_supp"))
    c.join(sup, col("ck") === col("sk"), "full_outer")
      .select(coalesce(col("ck"), col("sk")).as("nationkey"),
        coalesce(col("n_cust"), lit(0)).as("n_cust"),
        coalesce(col("n_supp"), lit(0)).as("n_supp"))
  }

  val q39Sql: String =
    """SELECT coalesce(ck, sk) AS nationkey,
      |  coalesce(n_cust, 0) AS n_cust, coalesce(n_supp, 0) AS n_supp
      |FROM (SELECT c_nationkey AS ck, count(*) AS n_cust FROM customer GROUP BY 1) c
      |FULL OUTER JOIN
      |     (SELECT s_nationkey AS sk, count(*) AS n_supp FROM supplier GROUP BY 1) s
      |ON ck = sk""".stripMargin

  /** JSON functions over a JSON column built from order fields: the
    * serialize → extract → cast pipeline every metadata-bearing pipeline
    * runs. The oracle checks ROUNDTRIP IDENTITY — Spark's extracted
    * values must equal the original base columns — which is both a
    * stronger property than matching another engine's JSON library and
    * free of DuckDB's json extension (an autoloaded module that may be
    * unavailable in an offline gate environment). Doubles roundtrip
    * exactly through shortest-representation JSON printing. Per-row
    * expressions, no shuffle. */
  def q46JsonFuncs(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .filter(col("o_orderkey") % 100 === 0)
      .select(col("o_orderkey"),
        to_json(struct(col("o_orderpriority").as("p"),
          col("o_totalprice").as("t"), col("o_orderstatus").as("st"))).as("j"))
      .select(col("o_orderkey"),
        get_json_object(col("j"), "$.p").as("jp"),
        get_json_object(col("j"), "$.t").cast("double").as("jt"),
        get_json_object(col("j"), "$.st").as("js"))

  val q46Sql: String =
    """SELECT o_orderkey, o_orderpriority AS jp,
      |  o_totalprice AS jt, o_orderstatus AS js
      |FROM orders WHERE o_orderkey % 100 = 0""".stripMargin

  /** Date-part extraction + the full ranking-window family (ntile,
    * percent_rank, cume_dist) per order within its month, ordered by
    * (o_totalprice, o_orderkey) so every rank is deterministic.
    * Scale note: exact global ranks within a month are inherently one
    * sorted partition per month (the semantic demands a total order);
    * at 100 TB with few months you'd switch to approx quantile buckets
    * (q32's scale path) or rank within finer natural keys. */
  def q47DateWindow(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(date_trunc("month", col("o_orderdate")))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    orders(s, d)
      .withColumn("yr", year(col("o_orderdate")))
      .withColumn("mo", month(col("o_orderdate")))
      .withColumn("qtr", quarter(col("o_orderdate")))
      .withColumn("dow", dayofweek(col("o_orderdate")) - 1) // 0 = Sunday
      .withColumn("quartile", ntile(4).over(w))
      .withColumn("pr", round(percent_rank().over(w), 6))
      .withColumn("cd", round(cume_dist().over(w), 6))
      .filter(col("o_orderkey") % 50 === 0)
      .select(col("o_orderkey"), col("yr"), col("mo"), col("qtr"),
        col("dow"), col("quartile"), col("pr"), col("cd"))
  }

  val q47Sql: String =
    """SELECT o_orderkey,
      |  year(o_orderdate) AS yr, month(o_orderdate) AS mo,
      |  quarter(o_orderdate) AS qtr,
      |  CAST(date_part('dow', o_orderdate) AS INT) AS dow,
      |  quartile, pr, cd
      |FROM (
      |  SELECT o_orderkey, o_orderdate,
      |    ntile(4) OVER w AS quartile,
      |    round(percent_rank() OVER w, 6) AS pr,
      |    round(cume_dist() OVER w, 6) AS cd
      |  FROM orders
      |  WINDOW w AS (PARTITION BY date_trunc('month', o_orderdate)
      |               ORDER BY o_totalprice, o_orderkey))
      |WHERE o_orderkey % 50 = 0""".stripMargin

  /** TPC-H Q8-style market share: per order-year, the fraction of ASIA-
    * customer revenue supplied by NATION_2's suppliers. Deep join tree:
    * lineitem ⋈ orders ⋈ customer ⋈ nation ⋈ region (filter side) plus
    * lineitem ⋈ supplier ⋈ nation (share side) — dims broadcast, the two
    * fact joins shuffle on their keys, conditional aggregation computes
    * numerator and denominator in ONE pass (no second scan). Decimal
    * sums keep the division exact-before-round across engines. */
  def q48MarketShare(s: SparkSession, d: String): DataFrame = {
    val custAsia = customer(s, d)
      .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region(s, d).filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"))
    val suppNation = supplier(s, d)
      .join(broadcast(nation(s, d).select(col("n_nationkey").as("sn_key"),
        col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("sn_key"))
      .select(col("s_suppkey"), col("supp_nation"))
    lineitem(s, d)
      .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(custAsia, col("o_custkey") === col("c_custkey"), "left_semi")
      .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
      .withColumn("rev",
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(18,4)"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(
        sum(when(col("supp_nation") === "NATION_2", col("rev"))
          .otherwise(lit(0).cast("decimal(18,4)"))).as("nation_rev"),
        sum(col("rev")).as("total_rev"))
      .select(col("o_year"),
        round((col("nation_rev") / col("total_rev")).cast("double"), 6).as("mkt_share"))
  }

  val q48Sql: String =
    """SELECT year(o_orderdate) AS o_year,
      |  round(CAST(
      |    sum(CASE WHEN n2.n_name = 'NATION_2'
      |        THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
      |        ELSE CAST(0 AS DECIMAL(18,4)) END)
      |    / sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
      |    AS DOUBLE), 6) AS mkt_share
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation n2 ON s_nationkey = n2.n_nationkey
      |WHERE o_custkey IN (
      |  SELECT c_custkey FROM customer
      |  JOIN nation ON c_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |  WHERE r_name = 'ASIA')
      |GROUP BY 1""".stripMargin

  /** TPC-H Q15-style top suppliers: suppliers whose half-year revenue is
    * within 10% of the maximum. The global max is reduced to a ONE-ROW
    * aggregate and broadcast back over the per-supplier rows (the q52
    * pattern) — an empty-partitionBy window would instead ship every
    * per-supplier row into a single partition, and supplier cardinality
    * scales with the data. AQE dedups the shared `rev` subtree via
    * ReuseExchange, so the fact table is still scanned once. */
  def q49TopSupplier(s: SparkSession, d: String): DataFrame = {
    // l_suppkey non-null EXPLICIT on rev (not just inferred from the
    // supplier join): the downstream inner join infers it on the probe
    // side only, which would make the two rev subtrees canonicalize
    // differently and defeat ReuseExchange — with it stated once here,
    // both sides are identical and the fact table is scanned once.
    val rev = lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-07-01").cast("timestamp") &&
        col("l_suppkey").isNotNull)
      .groupBy(col("l_suppkey"))
      .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
        .as("total_rev"))
    val maxRev = rev.agg(max(col("total_rev")).as("max_rev"))
    rev.crossJoin(broadcast(maxRev))
      .filter(col("total_rev") >= lit(0.9) * col("max_rev"))
      .join(supplier(s, d), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        round(col("total_rev"), 4).as("total_rev"))
  }

  val q49Sql: String =
    """WITH rev AS (
      |  SELECT l_suppkey,
      |    CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
      |      AS total_rev
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |    AND l_shipdate < TIMESTAMP '1996-07-01'
      |    AND l_suppkey IS NOT NULL
      |  GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name, round(total_rev, 4) AS total_rev
      |FROM rev JOIN supplier ON l_suppkey = s_suppkey
      |WHERE total_rev >= 0.9 * (SELECT max(total_rev) FROM rev)""".stripMargin

  private val profileCols = Seq("o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderpriority")
  /** Columns whose cardinality is BOUNDED regardless of data size —
    * only these get exact `countDistinct`. o_custkey and o_totalprice
    * scale with the data: an exact distinct on either shuffles every
    * distinct value through the Expand (measured 20 s vs 5 s at sf0.1
    * adding key columns — at 100 TB that is the whole key space through
    * one shuffle). Unbounded columns take the HLL path instead. */
  private val boundedCols = Set("o_orderstatus", "o_orderpriority")

  /** Data profiling — the first query anyone runs on a new dataset:
    * per-column row/null/distinct counts and min/max in ONE aggregation
    * pass (Catalyst expands the multi-distinct into one Expand +
    * two-phase agg — the same exact-distinct plan q09 uses, per column).
    * Unbounded columns (keys, prices) use `approx_count_distinct` (HLL,
    * no Expand) when `hll=true` — the profile a user runs at scale,
    * accuracy spec-gated ±5% vs exact in SketchSpec. The driver-gate
    * variant ([[q53Profile]]) emits NULL n_distinct for those columns
    * instead, because two engines' HLL estimates can never hash-match;
    * the gate checks everything else exactly. min/max are cast to
    * string AFTER aggregating, so ordering happens on the native type. */
  def profile(s: SparkSession, d: String, hll: Boolean): DataFrame = {
    val aggs = profileCols.flatMap { c =>
      val nd =
        if (boundedCols(c)) countDistinct(col(c))
        else if (hll) approx_count_distinct(col(c), rsd = 0.02)
        else max(lit(null).cast("long")) // aggregate-shaped NULL
      Seq(count(col(c)).as(s"${c}__nn"),
        nd.as(s"${c}__nd"),
        min(col(c)).cast("string").as(s"${c}__mn"),
        max(col(c)).cast("string").as(s"${c}__mx"))
    } :+ count(lit(1)).as("__n")
    val one = orders(s, d).agg(aggs.head, aggs.tail: _*)
    val stackArgs = profileCols.map(c =>
      s"'$c', __n, __n - ${c}__nn, ${c}__nd, ${c}__mn, ${c}__mx").mkString(", ")
    one.select(expr(
      s"stack(${profileCols.size}, $stackArgs) AS " +
        "(column_name, n_rows, n_nulls, n_distinct, min_val, max_val)"))
  }

  def q53Profile(s: SparkSession, d: String): DataFrame =
    profile(s, d, hll = false)

  val q53Sql: String = profileCols.map { c =>
    val nd = if (boundedCols(c)) s"count(DISTINCT $c)"
             else "CAST(NULL AS BIGINT)"
    s"""SELECT '$c' AS column_name, count(*) AS n_rows,
       |  count(*) - count($c) AS n_nulls,
       |  $nd AS n_distinct,
       |  CAST(min($c) AS VARCHAR) AS min_val,
       |  CAST(max($c) AS VARCHAR) AS max_val FROM orders""".stripMargin
  }.mkString("\nUNION ALL\n")

  /** TPC-H Q4-style priority check, adapted to this schema: orders from
    * one quarter that have at least one LATE line (shipped > 90 days
    * after the order date), counted per priority. Deliberately written
    * through `spark.sql` with a correlated EXISTS — the one registered
    * query exercising Catalyst's subquery DECORRELATION: the equi part
    * (l_orderkey = o_orderkey) becomes the semi-join key and the
    * correlated non-equi predicate (l_shipdate > o_orderdate + 90d)
    * rides along as the join condition, so the plan is a hash semi join,
    * never a per-order nested-loop probe (plan-asserted). */
  def q57PriorityCheck(s: SparkSession, d: String): DataFrame = {
    // parquet.`path` table syntax keeps this a PURE function of (s, d) —
    // temp views would be session-global mutable state and racy across
    // concurrent callers. Backticks in the path are doubled (Spark's
    // quoted-identifier escape) so any legal directory stays legal SQL.
    val dir = d.replace("`", "``")
    s.sql(s"""
      SELECT o_orderpriority, count(*) AS order_count
      FROM parquet.`$dir/orders.parquet` o
      WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        AND o_orderdate < TIMESTAMP '1995-04-01'
        AND EXISTS (
          SELECT 1 FROM parquet.`$dir/lineitem.parquet` l
          WHERE l.l_orderkey = o.o_orderkey
            AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAYS)
      GROUP BY o_orderpriority""")
  }

  val q57Sql: String =
    """SELECT o_orderpriority, count(*) AS order_count
      |FROM orders o
      |WHERE o_orderdate >= TIMESTAMP '1995-01-01'
      |  AND o_orderdate < TIMESTAMP '1995-04-01'
      |  AND EXISTS (
      |    SELECT 1 FROM lineitem l
      |    WHERE l.l_orderkey = o.o_orderkey
      |      AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
      |GROUP BY o_orderpriority""".stripMargin

  /** Explicit GROUPING SETS — the third member of the grouped-analytics
    * family next to rollup (q11) and cube (q34): exactly the requested
    * set combinations, nothing more, one Expand + one aggregation pass
    * like its siblings. */
  def q59GroupingSets(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .groupingSets(
        Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
          Seq(col("o_orderstatus")), Seq.empty),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice"), 2).as("total_price"))

  val q59Sql: String =
    """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
      |  (o_orderstatus), ())""".stripMargin

  /** lag/lead window family (the offset functions q07/q08/q47 don't
    * touch): per-customer days since the previous order and until the
    * next. Ties on o_orderdate break by o_orderkey so the offset
    * neighbors are deterministic in both engines; one shuffle on
    * o_custkey serves both offsets (same window spec). */
  def q60OrderGaps(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    orders(s, d)
      .filter(col("o_custkey") < 100) // on the partition key → pre-window
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        datediff(col("o_orderdate"), lag(col("o_orderdate"), 1).over(w))
          .cast("bigint").as("days_since_prev"),
        datediff(lead(col("o_orderdate"), 1).over(w), col("o_orderdate"))
          .cast("bigint").as("days_to_next"))
  }

  val q60Sql: String =
    """SELECT o_custkey, o_orderkey, o_orderdate,
      |  CAST(date_diff('day',
      |    lag(o_orderdate) OVER w, o_orderdate) AS BIGINT) AS days_since_prev,
      |  CAST(date_diff('day',
      |    o_orderdate, lead(o_orderdate) OVER w) AS BIGINT) AS days_to_next
      |FROM orders
      |WHERE o_custkey < 100
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin

  /** Time-RANGE rolling window — the frame type q08 (ROWS running sum)
    * and q60 (offsets) don't touch: each order's trailing-30-day spend
    * and order count for its customer, `RANGE BETWEEN 29 PRECEDING AND
    * CURRENT ROW` over an integer day number (identical frame semantics
    * in both engines, including same-day peers entering the frame
    * together). Spend accumulates in DECIMAL so the window sum is
    * order-free; ONE o_custkey shuffle serves both aggregates.
    *
    * 100 TB note: a date-ordered RANGE frame is the scalable rolling
    * aggregate — state per partition is the 30-day buffer, not the
    * history; contrast a self-join formulation (orders×orders within 30
    * days) which explodes quadratically on active customers. */
  def q83RollingWindow(s: SparkSession, d: String): DataFrame =
    rollingSpend(orders(s, d), days = 30)

  /** See [[q83RollingWindow]]; any (o_orderkey, o_custkey, o_orderdate,
    * o_totalprice) frame, any trailing-day width. */
  def rollingSpend(ord: DataFrame, days: Int): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("dnum")).rangeBetween(-(days - 1), 0)
    ord
      .withColumn("dnum",
        datediff(to_date(col("o_orderdate")), to_date(lit("1970-01-01"))))
      .select(col("o_orderkey"), col("o_custkey"),
        to_date(col("o_orderdate")).as("o_day"),
        sum(col("o_totalprice").cast("decimal(18,2)")).over(w)
          .cast("double").as("spend_30d"),
        count(lit(1)).over(w).as("n_orders_30d"))
  }

  val q83Sql: String =
    """SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS o_day,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE)
      |    AS spend_30d,
      |  count(*) OVER w AS n_orders_30d
      |FROM orders
      |WINDOW w AS (
      |  PARTITION BY o_custkey
      |  ORDER BY date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
      |  RANGE BETWEEN 29 PRECEDING AND CURRENT ROW)""".stripMargin

  /** The `RewriteWindowTopK` optimizer rule itself under the driver
    * gate: a plain SQL `row_number() <= k` top-k — the shape EXISTING
    * user queries have — that the rule silently replaces with the
    * GroupTopK bounded-heap operator (the rank column is dropped, so
    * the rewrite applies; GroupTopKSpec asserts this query's executed
    * plan contains GroupTopK and no Window). The DuckDB oracle runs the
    * original window form, so the gate proves rewritten == original
    * semantics end-to-end, ties and all. */
  def q86WindowTopkRewrite(s: SparkSession, d: String): DataFrame = {
    graft.plans.GroupTopKExtension.install(s)
    val dir = d.replace("`", "``")
    s.sql(s"""
      SELECT o_custkey, o_orderkey, o_totalprice FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
          row_number() OVER (PARTITION BY o_custkey
            ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM parquet.`$dir/orders.parquet`) t
      WHERE rn <= 3""")
  }

  val q86Sql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_custkey
      |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders) t
      |WHERE rn <= 3""".stripMargin

  /** Higher-order array-function surface (transform / aggregate-fold /
    * filter / array_max / reverse / slice-free concat digest) over
    * per-order quantity arrays pinned to l_linenumber order — the
    * array-programming API q37's scalar tour doesn't touch. Every
    * output is an exact integer or a digest of exact integers, so the
    * gate has no floating-point surface at all. One shuffle (the
    * groupBy); arrays are bounded by lines-per-order. HOF lambdas are
    * interpreted, not codegen'd — fine here (tiny arrays), and exactly
    * why the HOT paths (vec math, minhash) use native expressions
    * instead. */
  def q87ArrayFuncs(s: SparkSession, d: String): DataFrame =
    lineitem(s, d).where(col("l_orderkey") <= 2000)
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_list(struct(col("l_linenumber"),
        col("l_quantity").cast("long").as("q")))).as("s"))
      .select(col("l_orderkey"), expr("transform(s, x -> x.q)").as("qa"))
      .select(col("l_orderkey"),
        size(col("qa")).cast("long").as("n_lines"),
        expr("aggregate(qa, 0L, (a, x) -> a + x)").as("qty_sum"),
        expr("array_max(qa)").as("qty_max"),
        expr("size(filter(qa, x -> x % 2 = 0))").cast("long").as("n_even"),
        element_at(reverse(col("qa")), 1).as("last_qty"),
        md5(concat_ws(",", expr("transform(qa, x -> cast(x as string))")))
          .as("line_sig"))

  val q87Sql: String =
    """WITH q AS (
      |  SELECT l_orderkey,
      |    -- the synthetic data REUSES l_linenumber within an order, so
      |    -- the tiebreak on quantity (= the struct sort's second field
      |    -- on the Spark side) is what makes the array order total
      |    list(CAST(l_quantity AS BIGINT)
      |      ORDER BY l_linenumber, CAST(l_quantity AS BIGINT)) AS qa
      |  FROM lineitem WHERE l_orderkey <= 2000 GROUP BY 1)
      |SELECT l_orderkey,
      |  CAST(len(qa) AS BIGINT) AS n_lines,
      |  CAST(list_sum(qa) AS BIGINT) AS qty_sum,
      |  CAST(list_max(qa) AS BIGINT) AS qty_max,
      |  CAST(len(list_filter(qa, x -> x % 2 = 0)) AS BIGINT) AS n_even,
      |  qa[-1] AS last_qty,
      |  md5(array_to_string(qa, ',')) AS line_sig
      |FROM q""".stripMargin

  /** TPC-H Q22 analog ("global sales opportunity"): customers whose
    * balance beats their market segment's positive-balance average and
    * who have never placed an URGENT order, rolled up per segment (the
    * synthetic data gives every customer at least one order, so the
    * classic "never ordered" form is vacuously empty — the filtered
    * anti join keeps the exact Q22 plan shape with live rows).
    *
    * Determinism: the average is never materialized as a division —
    * `bal > total/n` is compared as `bal*n > total` in exact DECIMAL, so
    * there is no engine-specific decimal-division scale or double
    * rounding anywhere in the predicate; the rollup sum is the house
    * decimal-exact dsum.
    *
    * Scale shape: the segment aggregate is 5 rows → broadcast; the
    * anti join shuffles customer×orders on custkey (orders projected to
    * the single join column before the exchange). One customer scan
    * feeds both the aggregate and the probe side (ReusedExchange). */
  def q90GlobalCustomer(s: SparkSession, d: String): DataFrame = {
    val c = customer(s, d)
    val seg = c.filter(col("c_acctbal") > 0)
      .groupBy(col("c_mktsegment"))
      .agg(sum(col("c_acctbal").cast(DecimalType(18, 2))).as("seg_total"),
        count(lit(1)).as("seg_n"))
    c.join(broadcast(seg), Seq("c_mktsegment"))
      .filter(col("c_acctbal").cast(DecimalType(18, 2)) * col("seg_n")
        > col("seg_total"))
      .join(orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_cust"), dsum(col("c_acctbal"), 2).as("total_bal"))
  }

  val q90Sql: String =
    """WITH seg AS (
      |  SELECT c_mktsegment,
      |    sum(CAST(c_acctbal AS DECIMAL(18,2))) AS seg_total,
      |    count(*) AS seg_n
      |  FROM customer WHERE c_acctbal > 0 GROUP BY 1)
      |SELECT c.c_mktsegment, count(*) AS n_cust,
      |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
      |FROM customer c JOIN seg ON c.c_mktsegment = seg.c_mktsegment
      |WHERE CAST(c.c_acctbal AS DECIMAL(18,2)) * seg.seg_n > seg.seg_total
      |  AND NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey
      |                    AND o.o_orderpriority = '1-URGENT')
      |GROUP BY 1""".stripMargin

  /** NTILE decile profile: each return flag's prices split into 10
    * equal-frequency buckets, with per-bucket count / bounds / exact
    * sum — the one ranking window function the suite didn't exercise
    * yet. The order (x, orderkey, linenumber) is total, so bucket
    * boundaries are deterministic on both engines (NTILE's front-loaded
    * remainder rule is ANSI and shared).
    *
    * Scale caveat, stated: NTILE over a 3-value partition key
    * serializes each group through one window task. That is the honest
    * cost of exact equi-frequency global buckets; at 100 TB the scale
    * path is approx-percentile cut points (q84) or rank×k/n arithmetic
    * over a range-partitioned global sort (q07's shape), both already
    * gated — this query pins the exact-window semantics they
    * approximate. */
  /** Per-returnflag price deciles. Round-15 plan fix: the old form
    * windowed `ntile(10) OVER (PARTITION BY l_returnflag ...)` — a
    * THREE-value partition key, so three tasks each sorted a third of
    * the fact table (at 100 TB: one executor sorting ~33 TB — the
    * single-partition-window hazard in group clothing; 6.2 s at
    * sf1-equivalent). Now ranks come from [[groupedRank]]'s range-
    * partitioned two-pass (32-way parallel whatever the group
    * cardinality) and the decile is ntile's closed-form remainder
    * arithmetic against broadcast 3-row group counts — the exact
    * integer replica CurationSpec validates against native ntile for
    * every remainder case, so the gate hash is unchanged. */
  def q94NtileDeciles(s: SparkSession, d: String): DataFrame = {
    val li = lineitem(s, d)
      .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice").as("x"))
    val ranked = groupedRank(li, col("l_returnflag"), col("x"),
      struct(col("l_orderkey"), col("l_linenumber")), parts = 32)
    val ng = ranked.groupBy(col("l_returnflag")).agg(count(lit(1)).as("n_g"))
    ranked.join(broadcast(ng), Seq("l_returnflag"))
      .withColumn("decile", expr(
        "CAST(CASE WHEN rnk <= (n_g % 10) * (n_g div 10 + 1) " +
          "THEN (rnk - 1) div (n_g div 10 + 1) + 1 " +
          "ELSE (n_g % 10) + " +
          "(rnk - (n_g % 10) * (n_g div 10 + 1) - 1) div " +
          "(n_g div 10) + 1 END AS BIGINT)"))
      .groupBy(col("l_returnflag"), col("decile"))
      .agg(count(lit(1)).as("n"), min(col("x")).as("lo"),
        max(col("x")).as("hi"), dsum(col("x"), 2).as("total"))
  }

  val q94Sql: String =
    """WITH t AS (
      |  SELECT l_returnflag, l_extendedprice AS x,
      |    CAST(ntile(10) OVER (PARTITION BY l_returnflag
      |      ORDER BY l_extendedprice, l_orderkey, l_linenumber)
      |      AS BIGINT) AS decile
      |  FROM lineitem)
      |SELECT l_returnflag, decile, count(*) AS n,
      |  min(x) AS lo, max(x) AS hi,
      |  CAST(sum(CAST(x AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM t GROUP BY 1, 2""".stripMargin

  /** DISTRIBUTED global rank — dense total ordering of an entire table
    * without ever collapsing it to one task. The naive form
    * (`row_number() OVER (ORDER BY …)`) plans an Exchange
    * SinglePartition: at 100 TB that is one executor sorting the world.
    * This is the classic two-pass alternative:
    *
    *   1. range-repartition on the (value, tiebreak) total order —
    *      Spark's RangePartitioner samples boundaries, so partition
    *      COUNTS vary run to run, but the final rank below is invariant
    *      to where the cuts land;
    *   2. per-partition local row_number (the partition id is the
    *      window key, so each window task sorts only its own slice);
    *   3. add each partition's starting offset — a running sum over the
    *      per-partition counts, a ≤`parts`-row frame that broadcasts.
    *
    * rank(row) = offset(pid) + local_rank is exactly the global
    * row_number for the (value, tiebreak) order whatever the sampled
    * boundaries, because ranges are contiguous. The range-partitioned
    * table is localCheckpoint'ed (the q77 set-table discipline) because
    * TWO consumers read it: were the exchange re-executed per consumer,
    * a re-sampled boundary set would hand offsets and local ranks
    * DIFFERENT pid assignments — rank corruption, not slowness.
    * GlobalRankSpec pins equality against the single-partition window
    * form and across different `parts`. */
  def globalRank(df: DataFrame, value: Column, tiebreak: Column,
      parts: Int): DataFrame = {
    val parted = df.repartitionByRange(parts, value, tiebreak)
      .withColumn("pid", spark_partition_id())
      .localCheckpoint()
    val offsets = parted.groupBy(col("pid")).agg(count(lit(1)).as("cnt"))
      .withColumn("offset",
        coalesce(sum(col("cnt")).over(
          Window.orderBy(col("pid"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("pid"), col("offset"))
    parted
      .withColumn("lrn", row_number().over(
        Window.partitionBy(col("pid")).orderBy(value, tiebreak)))
      .join(broadcast(offsets), Seq("pid"))
      .withColumn("rnk", col("offset") + col("lrn"))
      .drop("pid", "lrn", "offset")
  }

  /** PER-GROUP global rank — [[globalRank]] with a group column, for
    * the `PARTITION BY low_cardinality_key ORDER BY …` windows that
    * look parallel but are not: Spark plans ONE sort task per distinct
    * group value, so a 3-value key sorts the table in 3 tasks however
    * many cores exist. Here the table range-partitions on the COMPOSITE
    * (group, value, tiebreak) order — `parts`-way parallel whatever the
    * group cardinality — each task ranks its (pid, group) slice
    * locally, and each slice's starting offset (count of the same
    * group in earlier partitions) comes from a ≤ parts·|groups|-row
    * broadcast. Contiguous ranges make offset + local rank exactly the
    * per-group row_number whatever boundaries the partitioner samples;
    * the checkpoint pins ONE boundary sample for both consumers (the
    * globalRank rationale). GlobalRankSpec pins equality against the
    * per-group window form across group counts and `parts`. */
  def groupedRank(df: DataFrame, group: Column, value: Column,
      tiebreak: Column, parts: Int): DataFrame = {
    val parted = df.repartitionByRange(parts, group, value, tiebreak)
      .withColumn("pid", spark_partition_id())
      .localCheckpoint()
    val offsets = parted.groupBy(col("pid"), group.as("g"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("offset",
        coalesce(sum(col("cnt")).over(
          Window.partitionBy(col("g")).orderBy(col("pid"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("pid").as("opid"), col("g"), col("offset"))
    parted
      .withColumn("lrn", row_number().over(
        Window.partitionBy(col("pid"), group).orderBy(value, tiebreak)))
      .join(broadcast(offsets),
        col("pid") === col("opid") && group === col("g"))
      .withColumn("rnk", col("offset") + col("lrn"))
      .drop("pid", "opid", "g", "lrn", "offset")
  }

  /** [[globalRank]] under the gate: every 1000th rank of the global
    * price order (plus the first and last), so the gate checks exact
    * rank arithmetic across the full distribution at ~600 output rows
    * per 600k inputs. */
  def q97GlobalRank(s: SparkSession, d: String): DataFrame = {
    val li = lineitem(s, d).select(col("l_extendedprice").as("x"),
      col("l_orderkey"), col("l_linenumber"))
    globalRank(li, col("x"), struct(col("l_orderkey"), col("l_linenumber")),
      parts = 32)
      .filter(col("rnk") % 1000 === 1)
      .select(col("rnk"), col("x"), col("l_orderkey"), col("l_linenumber"))
  }

  val q97Sql: String =
    """SELECT rnk, x, l_orderkey, l_linenumber FROM (
      |  SELECT l_extendedprice AS x, l_orderkey, l_linenumber,
      |    row_number() OVER (ORDER BY l_extendedprice, l_orderkey,
      |                       l_linenumber) AS rnk
      |  FROM lineitem)
      |WHERE rnk % 1000 = 1""".stripMargin

  /** 2-D SKYLINE (Pareto frontier) of parts: every part no other part
    * beats on BOTH price (lower-or-equal) and size (higher-or-equal)
    * with at least one strict — "cheapest for its size class". The
    * naive formulation is a quadratic self-join (the oracle's
    * NOT EXISTS); the 2-D structure admits a ONE-PASS sorted form:
    * sort by price, and a part is on the frontier iff (a) it has the
    * max size within its exact-price group and (b) no strictly-cheaper
    * price group reaches its size — a PREFIX MAX over the price order.
    *
    * The prefix max is distributed with the [[globalRank]] two-pass
    * scheme — range-partition the per-price groups, per-partition
    * running max, then each partition folds in the broadcast max of
    * all preceding partitions — never an Exchange SinglePartition over
    * the data (the ≤`parts`-row offsets frame is the only global
    * window). Joins back to parts on price to emit frontier rows.
    * All comparisons exact (price compares as the stored double, size
    * as int); output is input columns only — engine-free. */
  def q137Skyline(s: SparkSession, d: String): DataFrame = {
    val p = part(s, d)
      .select(col("p_partkey"), col("p_retailprice").as("price"),
        col("p_size"))
    skyline2d(p, parts = 32)
  }

  /** See [[q137Skyline]]: frontier of (p_partkey, price, p_size) rows —
    * minimize price, maximize p_size. */
  private[operators] def skyline2d(rows: DataFrame, parts: Int): DataFrame = {
    val g = rows.groupBy(col("price")).agg(max(col("p_size")).as("gmax"))
    val parted = g.repartitionByRange(parts, col("price"))
      .withColumn("pid", spark_partition_id())
      .localCheckpoint()
    val offs = parted.groupBy(col("pid")).agg(max(col("gmax")).as("pm"))
      .withColumn("prefix_excl", max(col("pm")).over(
        Window.orderBy(col("pid"))
          .rowsBetween(Window.unboundedPreceding, -1)))
      .select(col("pid"), col("prefix_excl"))
    // one row per DISTINCT price inside each pid → rowsBetween(…,-1)
    // is exactly "strictly cheaper prices in this partition"
    val m1 = parted
      .withColumn("lmax", max(col("gmax")).over(
        Window.partitionBy(col("pid")).orderBy(col("price"))
          .rowsBetween(Window.unboundedPreceding, -1)))
      .join(broadcast(offs), Seq("pid"))
      .select(col("price"), col("gmax"),
        greatest(col("lmax"), col("prefix_excl")).as("m1"))
    rows.join(m1, Seq("price"))
      .filter(col("p_size") === col("gmax") &&
        (col("m1").isNull || col("m1") < col("p_size")))
      .select(col("p_partkey"), col("price"), col("p_size"))
  }

  val q137Sql: String =
    """SELECT a.p_partkey, a.p_retailprice AS price, a.p_size
      |FROM part a
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM part b
      |  WHERE b.p_retailprice <= a.p_retailprice
      |    AND b.p_size >= a.p_size
      |    AND (b.p_retailprice < a.p_retailprice
      |         OR b.p_size > a.p_size))""".stripMargin

  /** Pearson correlation + sample covariance of (quantity, price) per
    * return flag — via EXACT DECIMAL MOMENTS, not the corr/covar_samp
    * built-ins: those accumulate doubles in partition order, so their
    * low bits vary run to run and engine to engine. Here Σx, Σy, Σxy,
    * Σx², Σy² are decimal sums (order-free; the per-row products are
    * deterministic double ops cast to decimal once), both engines cast
    * the identical exact moments to double, and evaluate the identical
    * closed form rounded to 1e-6 — the q85 discipline applied to
    * second-moment statistics. Map-side partial aggregation applies to
    * all five moments; one shuffle total. */
  def q96CorrMoments(s: SparkSession, d: String): DataFrame = {
    val x = col("l_quantity")
    val y = col("l_extendedprice")
    val m = lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(x.cast(DecimalType(18, 2))).cast("double").as("sx"),
        sum(y.cast(DecimalType(18, 2))).cast("double").as("sy"),
        sum((x * y).cast(DecimalType(28, 4))).cast("double").as("sxy"),
        sum((x * x).cast(DecimalType(28, 4))).cast("double").as("sxx"),
        sum((y * y).cast(DecimalType(28, 4))).cast("double").as("syy"))
    m.select(col("l_returnflag"), col("n"),
      round((col("n") * col("sxy") - col("sx") * col("sy")) /
        sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
          (col("n") * col("syy") - col("sy") * col("sy"))), 6).as("corr6"),
      round((col("n") * col("sxy") - col("sx") * col("sy")) /
        (col("n") * (col("n") - 1)), 6).as("covar6"))
  }

  val q96Sql: String =
    """WITH m AS (
      |  SELECT l_returnflag, count(*) AS n,
      |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
      |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
      |    CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(28,4))) AS DOUBLE) AS sxy,
      |    CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS sxx,
      |    CAST(sum(CAST(l_extendedprice * l_extendedprice AS DECIMAL(28,4))) AS DOUBLE) AS syy
      |  FROM lineitem GROUP BY 1)
      |SELECT l_returnflag, n,
      |  round((n * sxy - sx * sy) /
      |    sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS corr6,
      |  round((n * sxy - sx * sy) / (n * (n - 1)), 6) AS covar6
      |FROM m""".stripMargin

  /** UNPIVOT (wide → long melt) — the inverse of q33's pivot and the
    * remaining reshaping surface: three measure columns stacked into
    * (metric, v) rows, then aggregated per (flag, metric). Spark plans
    * `Dataset.unpivot` as an Expand — a per-row projection multiplying
    * rows WITHOUT any shuffle, so the partial aggregate still combines
    * map-side and the only exchange is the final 15-group collapse.
    * The oracle states the equivalent stacked-UNION form, pinning the
    * semantics equivalence (unpivot == union of per-measure
    * projections) rather than leaning on DuckDB's own UNPIVOT sugar. */
  def q102Unpivot(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .select(col("l_returnflag"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"))
      .unpivot(Array(col("l_returnflag")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
        "metric", "v")
      .groupBy(col("l_returnflag"), col("metric"))
      .agg(count(lit(1)).as("n"), dsum(col("v"), 4).as("total"),
        min(col("v")).as("lo"), max(col("v")).as("hi"))

  val q102Sql: String =
    """WITH long AS (
      |  SELECT l_returnflag, 'l_quantity' AS metric, l_quantity AS v
      |  FROM lineitem
      |  UNION ALL
      |  SELECT l_returnflag, 'l_extendedprice', l_extendedprice
      |  FROM lineitem
      |  UNION ALL
      |  SELECT l_returnflag, 'l_discount', l_discount FROM lineitem)
      |SELECT l_returnflag, metric, count(*) AS n,
      |  CAST(sum(CAST(v AS DECIMAL(18,4))) AS DOUBLE) AS total,
      |  min(v) AS lo, max(v) AS hi
      |FROM long GROUP BY 1, 2""".stripMargin

  /** name → (query fn, oracle SQL) for everything in this module. */
  /** Robust location/spread per group: lower MEDIAN and MEDIAN ABSOLUTE
    * DEVIATION of extended price per return flag. Cross-engine
    * determinism comes from PICKING order statistics, never computing
    * them: the lower median is the row with rank (n+1) div 2 in value
    * order (rank ties share the value, so the pick is unique), and each
    * deviation is a SINGLE IEEE subtraction |x − med| — one correctly-
    * rounded op, bit-identical on both engines — then the MAD is again
    * a rank pick over those. No interpolation (whose a+(b−a)·q vs
    * (a+b)/2 forms differ by ULPs across engines) and no float sums.
    *
    * Scale shape: two windowed sorts partitioned on the group key (the
    * order-statistics cost class, same as q07/q84), each streaming
    * rank+count in one pass; medians are a groups-sized frame broadcast
    * back. At 100 TB the approx path (q63) answers first; this is the
    * exact-semantics member of that family. */
  def q108RobustStats(s: SparkSession, d: String): DataFrame = {
    val li = lineitem(s, d)
      .select(col("l_returnflag").as("g"), col("l_extendedprice").as("x"))
    // Per-(group, value) occurrence counts — ONE codegen'd hash-agg pass
    // over the fact table. Distinct prices are bounded by the price
    // domain, not the row count, so this frame is tiny at any SF; the
    // lazy checkpoint shares the single lineitem scan between the two
    // rank picks below. The former shape (row_number over a window
    // partitioned by l_returnflag) sorted the WHOLE fact table in 3
    // tasks — one per return flag — regardless of core count: the
    // measured "serial at scale" signature (sf1 32c 12.3 s ≈ 8c 10.4 s).
    // (No checkpoint: the two consumers each re-run the codegen'd scan+agg
    // — the OLD window form also scanned lineitem twice, and at sf0.1 the
    // checkpoint's extra job costs more than the second scan.)
    val counts = li.groupBy(col("g"), col("x")).agg(count(lit(1)).as("c"))
    // Lower median = the unique value whose cumulative-count range
    // (cum − c, cum] covers rank (n+1) div 2 — the IDENTICAL pick the
    // row_number form made (rank ties share the value), but the window
    // now runs over DISTINCT values per group, never the fact rows.
    def lowerMedianOfCounts(cnt: DataFrame, v: String, out: String): DataFrame = {
      val wOrd = Window.partitionBy(col("g")).orderBy(col(v))
      val wAll = Window.partitionBy(col("g"))
      cnt.withColumn("cum", sum(col("c")).over(wOrd))
        .withColumn("n", sum(col("c")).over(wAll))
        .filter(col("cum") - col("c") < expr("(n + 1) div 2") &&
          expr("(n + 1) div 2") <= col("cum"))
        .select(col("g"), col("n"), col(v).as(out))
    }
    val med = lowerMedianOfCounts(counts, "x", "med")
    // Deviation counts derive from the SAME counts frame: |x − med| is
    // one correctly-rounded IEEE op per DISTINCT x (bit-identical to
    // evaluating it per row), with occurrence counts summed where two
    // x values collapse onto one deviation — no second fact-table scan.
    val devCnt = counts.join(broadcast(med.drop("n")), Seq("g"))
      .select(col("g"), abs(col("x") - col("med")).as("dv"), col("c"))
      .groupBy(col("g"), col("dv")).agg(sum(col("c")).as("c"))
    lowerMedianOfCounts(devCnt, "dv", "mad").drop("n")
      .join(broadcast(med), Seq("g"))
      .select(col("g").as("l_returnflag"), col("n"), col("med"), col("mad"))
  }

  val q108Sql: String =
    """WITH r1 AS (
      |  SELECT l_returnflag AS g, l_extendedprice AS x,
      |    row_number() OVER (PARTITION BY l_returnflag
      |                       ORDER BY l_extendedprice) AS rk,
      |    count(*) OVER (PARTITION BY l_returnflag) AS n
      |  FROM lineitem),
      |med AS (SELECT g, n, x AS med FROM r1 WHERE rk = (n + 1) // 2),
      |dev AS (
      |  SELECT r1.g, abs(r1.x - med.med) AS dv
      |  FROM r1 JOIN med ON r1.g = med.g),
      |r2 AS (
      |  SELECT g, dv,
      |    row_number() OVER (PARTITION BY g ORDER BY dv) AS rk,
      |    count(*) OVER (PARTITION BY g) AS n
      |  FROM dev)
      |SELECT r2.g AS l_returnflag, med.n, med.med, r2.dv AS mad
      |FROM r2 JOIN med ON r2.g = med.g
      |WHERE r2.rk = (r2.n + 1) // 2""".stripMargin

  private val HistBins = 20

  /** Equi-width histogram of extended price — the data-profiling
    * companion to q53 (distribution shape, not just cardinalities).
    * Cross-engine determinism WITHOUT integers this time: both engines
    * evaluate the IDENTICAL sequence of correctly-rounded IEEE ops —
    * (x − mn) / ((mx − mn) / 20.0), floor, clamp — on identical doubles,
    * so every row lands in the same bin bit-for-bit. The sequence is
    * spelled the same in the operator and the oracle ON PURPOSE; an
    * algebraically-equivalent rewrite (e.g. x·20/(mx−mn) − mn·20/(mx−mn))
    * rounds differently and WOULD flip boundary rows.
    *
    * Scale shape: min/max is a 1-row broadcast (partial-agg'd), binning
    * is a per-row expression, and the output shuffle carries 20 groups
    * with map-side combine. */
  def q111Histogram(s: SparkSession, d: String): DataFrame = {
    val li = lineitem(s, d).select(col("l_extendedprice").as("x"))
    val mm = li.agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
    li.crossJoin(broadcast(mm))
      .select(least(
          floor((col("x") - col("mn")) /
            ((col("mx") - col("mn")) / lit(HistBins.toDouble))),
          lit((HistBins - 1).toLong)).cast("bigint").as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("cnt"))
  }

  val q111Sql: String =
    s"""WITH mm AS (
       |  SELECT min(l_extendedprice) AS mn, max(l_extendedprice) AS mx
       |  FROM lineitem)
       |SELECT CAST(least(floor((l_extendedprice - mn) /
       |         ((mx - mn) / ${HistBins}.0)), ${HistBins - 1}) AS BIGINT)
       |    AS bin,
       |  count(*) AS cnt
       |FROM lineitem CROSS JOIN mm GROUP BY 1""".stripMargin

  /** Portable HDR-STYLE LOG HISTOGRAM sketch of extended price — the
    * quantile companion to the q140 HLL sketch: where q111's equi-width
    * bins need a min/max pre-pass and lose all resolution under a
    * heavy tail, this buckets each value by (binary exponent, top-3
    * mantissa bits) of its integer cents — fixed ~6% relative error per
    * bucket at ANY magnitude, no pre-pass, bounded state (≤ 64×8
    * buckets), and element-wise count addition merges two sketches (the
    * HdrHistogram / DDSketch idea with an INTEGER bucket function:
    * length(bin(v)) is exact where log₂ would round, so no boundary
    * value can land in different buckets across engines).
    *
    * Scale shape: one narrow map (cents → (e, m)) and a partial-agg
    * count onto ≤512 groups — like q140, the shuffle carries at most
    * the bucket count per map task regardless of corpus size; quantile
    * readout from the buckets is derived in SketchSpec. */
  def q142HdrHistogram(s: SparkSession, d: String): DataFrame =
    hdrHistogram(lineitem(s, d)
      .select(floor(col("l_extendedprice") * 100).cast("long").as("v")))

  /** See [[q142HdrHistogram]]; any single-column (v: long ≥ 0) frame. */
  private[operators] def hdrHistogram(vals: DataFrame): DataFrame =
    vals
      .withColumn("e", length(bin(col("v"))).cast("long"))
      .withColumn("m",
        expr("shiftright(v, CASE WHEN e > 4 THEN CAST(e - 4 AS INT) " +
          "ELSE 0 END) & 7"))
      .groupBy(col("e"), col("m"))
      .agg(count(lit(1)).as("cnt"))

  val q142Sql: String =
    """WITH p AS (
      |  SELECT CAST(floor(l_extendedprice * 100) AS BIGINT) AS v
      |  FROM lineitem),
      |b AS (
      |  SELECT CAST(length(bin(v)) AS BIGINT) AS e, v FROM p)
      |SELECT e,
      |  (v >> CASE WHEN e > 4 THEN CAST(e - 4 AS INT) ELSE 0 END) & 7 AS m,
      |  count(*) AS cnt
      |FROM b GROUP BY 1, 2""".stripMargin

  /** Referential-integrity audit — the data-quality profiling companion
    * to q53/q111: for every FK relation in the schema, the count of
    * child rows whose key has no parent (LEFT ANTI join). A NULL child
    * key counts as an orphan on BOTH engines (Spark's null-rejecting
    * anti join keeps it; the oracle uses NOT EXISTS, whose null
    * comparison also never matches — deliberately NOT `NOT IN`, whose
    * three-valued-logic result would differ).
    *
    * Scale shape: each relation is ONE anti join — Catalyst broadcasts
    * the parent keyset while it fits (nation/supplier/customer) and
    * shuffles otherwise; the 7 audits are independent one-row
    * aggregates unioned at the end, so a scheduler runs them
    * concurrently. At 100 TB the shuffling audits take a bloom
    * prefilter the same way q93 does. */
  def q116RefIntegrity(s: SparkSession, d: String): DataFrame = {
    def audit(rel: String, child: DataFrame, key: String,
              parent: DataFrame, pkey: String): DataFrame =
      child.select(col(key).as("k"))
        .join(parent.select(col(pkey).as("k")), Seq("k"), "left_anti")
        .agg(count(lit(1)).as("n_orphans"))
        .select(lit(rel).as("relation"), col("n_orphans"))
    Seq(
      audit("lineitem.l_orderkey->orders", lineitem(s, d), "l_orderkey",
        orders(s, d), "o_orderkey"),
      audit("lineitem.l_partkey->part", lineitem(s, d), "l_partkey",
        part(s, d), "p_partkey"),
      audit("lineitem.l_suppkey->supplier", lineitem(s, d), "l_suppkey",
        supplier(s, d), "s_suppkey"),
      audit("orders.o_custkey->customer", orders(s, d), "o_custkey",
        customer(s, d), "c_custkey"),
      audit("customer.c_nationkey->nation", customer(s, d), "c_nationkey",
        nation(s, d), "n_nationkey"),
      audit("supplier.s_nationkey->nation", supplier(s, d), "s_nationkey",
        nation(s, d), "n_nationkey"),
      audit("events.user_id->customer", events(s, d), "user_id",
        customer(s, d), "c_custkey"),
    ).reduce(_ unionAll _)
  }

  val q116Sql: String = {
    def one(rel: String, child: String, key: String, parent: String,
            pkey: String): String =
      s"""SELECT '$rel' AS relation,
         |  (SELECT count(*) FROM $child c
         |   WHERE NOT EXISTS (SELECT 1 FROM $parent p
         |                     WHERE p.$pkey = c.$key)) AS n_orphans""".stripMargin
    Seq(
      one("lineitem.l_orderkey->orders", "lineitem", "l_orderkey",
        "orders", "o_orderkey"),
      one("lineitem.l_partkey->part", "lineitem", "l_partkey",
        "part", "p_partkey"),
      one("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey",
        "supplier", "s_suppkey"),
      one("orders.o_custkey->customer", "orders", "o_custkey",
        "customer", "c_custkey"),
      one("customer.c_nationkey->nation", "customer", "c_nationkey",
        "nation", "n_nationkey"),
      one("supplier.s_nationkey->nation", "supplier", "s_nationkey",
        "nation", "n_nationkey"),
      one("events.user_id->customer", "events", "user_id",
        "customer", "c_custkey"),
    ).mkString("\nUNION ALL\n")
  }

  /** Brand basket-lift over orders — market-basket co-occurrence mining
    * on the fact table: for every brand pair appearing together in ≥10
    * orders, the support and the lift P(ab)/(P(a)·P(b)) over order
    * baskets. lift > 1 = bought together more than independence
    * predicts.
    *
    * Scale shape: the only events-sized work is the lineitem→part key
    * join (dim broadcasts while it fits) and the distinct (order, brand)
    * collapse. The pair self-join keys on the ORDER, so fan-out per
    * order is C(brands-in-order, 2) — bounded by basket size (~7 items),
    * never corpus². Support counts combine map-side; the brand marginals
    * and the 1-row order total broadcast back onto the pairs frame. */
  def q125BrandBasket(s: SparkSession, d: String): DataFrame =
    brandBasket(lineitem(s, d), part(s, d), minSupport = 10)

  /** See [[q125BrandBasket]]; any lineitem/part-shaped frames. */
  private[operators] def brandBasket(li: DataFrame, pt: DataFrame,
      minSupport: Int): DataFrame = {
    // The (order, brand) basket frame has FOUR consumers (order total,
    // brand marginals, both self-join sides), and their inferred filters
    // make the copies canonically different, so runtime exchange reuse
    // never fires — each consumer re-ran the lineitem⋈part scan and the
    // distinct (4 fact scans per query, OPTIMIZATION_r18.md §10). The lazy
    // checkpoint shares ONE materialization of the slim (long, brand)
    // rows — the q77 set-table / q205 key-count discipline.
    val ob = li.join(pt, col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("ok"), col("p_brand").as("b"))
      .distinct()
      .localCheckpoint(false)
    val n = ob.agg(countDistinct(col("ok")).as("n_orders"))
    val bs = ob.groupBy(col("b")).agg(count(lit(1)).as("nb"))
    val pairs = ob.select(col("ok"), col("b").as("brand_a"))
      .join(ob.select(col("ok"), col("b").as("brand_b")), Seq("ok"))
      .filter(col("brand_a") < col("brand_b"))
      .groupBy(col("brand_a"), col("brand_b"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minSupport)
    pairs
      .join(bs.select(col("b").as("brand_a"), col("nb").as("n_a")), Seq("brand_a"))
      .join(bs.select(col("b").as("brand_b"), col("nb").as("n_b")), Seq("brand_b"))
      .crossJoin(broadcast(n))
      .select(col("brand_a"), col("brand_b"), col("n_ab"), col("n_a"), col("n_b"),
        round((col("n_ab").cast("double") * col("n_orders")) /
          (col("n_a").cast("double") * col("n_b")), 6).as("lift"))
  }

  val q125Sql: String =
    """WITH ob AS (
      |  SELECT DISTINCT l_orderkey AS ok, p_brand AS b
      |  FROM lineitem JOIN part ON p_partkey = l_partkey),
      |n AS (SELECT count(DISTINCT ok) AS n_orders FROM ob),
      |bs AS (SELECT b, count(*) AS nb FROM ob GROUP BY 1),
      |pairs AS (
      |  SELECT a.b AS brand_a, c.b AS brand_b, count(*) AS n_ab
      |  FROM ob a JOIN ob c ON a.ok = c.ok AND a.b < c.b
      |  GROUP BY 1, 2 HAVING count(*) >= 10)
      |SELECT brand_a, brand_b, n_ab, ba.nb AS n_a, bb.nb AS n_b,
      |  round((CAST(n_ab AS DOUBLE) * n_orders) /
      |        (CAST(ba.nb AS DOUBLE) * bb.nb), 6) AS lift
      |FROM pairs JOIN bs ba ON ba.b = brand_a
      |JOIN bs bb ON bb.b = brand_b CROSS JOIN n""".stripMargin

  /** Herfindahl–Hirschman concentration index of supplier revenue per
    * nation — "is this market one giant or many smalls": HHI =
    * Σ_suppliers share², share = supplier revenue / nation revenue
    * (1.0 = monopoly, →1/n = fragmented).
    *
    * Scale shape: the fact-sized work is ONE partial-agg revenue sum per
    * (nation, supplier) — q01's exact DECIMAL(18,4) convention, so the
    * totals are order-free; nation totals aggregate the supplier frame;
    * the share² sum follows the round-8-then-decimal convention so the
    * double accumulation is also order-free. Everything after the first
    * aggregate is suppliers-sized. */
  def q130Hhi(s: SparkSession, d: String): DataFrame = {
    val rev = lineitem(s, d)
      .join(supplier(s, d), col("s_suppkey") === col("l_suppkey"))
      .groupBy(col("s_nationkey"), col("l_suppkey"))
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("decimal(18,4)")).as("r"))
    val tot = rev.groupBy(col("s_nationkey"))
      .agg(sum(col("r")).as("t"), count(lit(1)).as("n_suppliers"))
    rev.join(tot, Seq("s_nationkey"))
      .join(nation(s, d), col("n_nationkey") === col("s_nationkey"))
      .withColumn("sh2", round(
        (col("r").cast("double") / col("t").cast("double")) *
          (col("r").cast("double") / col("t").cast("double")), 8))
      .groupBy(col("n_name").as("nation"), col("n_suppliers"))
      .agg(round(sum(col("sh2").cast("decimal(38,18)")).cast("double"), 6)
        .as("hhi"))
  }

  val q130Sql: String =
    """WITH rev AS (
      |  SELECT s_nationkey, l_suppkey,
      |    sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS r
      |  FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
      |  GROUP BY 1, 2),
      |tot AS (SELECT s_nationkey, sum(r) AS t, count(*) AS n_suppliers
      |        FROM rev GROUP BY 1)
      |SELECT n_name AS nation, n_suppliers,
      |  round(CAST(sum(CAST(round((CAST(rev.r AS DOUBLE) / CAST(t AS DOUBLE)) *
      |    (CAST(rev.r AS DOUBLE) / CAST(t AS DOUBLE)), 8) AS DECIMAL(38,18)))
      |    AS DOUBLE), 6) AS hhi
      |FROM rev JOIN tot USING (s_nationkey)
      |JOIN nation ON n_nationkey = s_nationkey
      |GROUP BY 1, 2""".stripMargin

  /** The SQL ENTRY POINT under the gate: the same Catalyst engine is
    * reachable through `spark.sql` over registered views, and that
    * path must produce oracle-identical results to the DataFrame DSL
    * (they compile to the same plans — this query proves it on a
    * join + aggregate + window-over-aggregate combination, the shapes
    * a BI tool generates). Revenue accumulates in DECIMAL (exact),
    * exported once as double.
    *
    * Scale shape: identical to the DSL equivalent — broadcastable
    * dims, partial agg to nation×priority, a window over that tiny
    * frame. */
  private val sqlEntrySeq = new java.util.concurrent.atomic.AtomicLong()

  def q168SqlEntry(s: SparkSession, d: String): DataFrame = {
    // Per-call unique view names, dropped once the plan is built:
    // fixed names would mutate session-global state — two interleaved
    // calls with different data dirs would silently rebind each
    // other's views (s.sql analyzes eagerly, so dropping after the
    // DataFrame exists is safe; the plan holds the resolved relations,
    // not the names).
    val id = sqlEntrySeq.incrementAndGet()
    val (vo, vc, vn) = (s"v_orders_$id", s"v_customer_$id", s"v_nation_$id")
    orders(s, d).createOrReplaceTempView(vo)
    customer(s, d).createOrReplaceTempView(vc)
    nation(s, d).createOrReplaceTempView(vn)
    try s.sql(s"""
      SELECT n_name, o_orderpriority, count(*) AS n_orders,
        CAST(sum(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS revenue,
        rank() OVER (PARTITION BY n_name
                     ORDER BY count(*) DESC, o_orderpriority) AS rnk
      FROM $vo
      JOIN $vc ON o_custkey = c_custkey
      JOIN $vn ON c_nationkey = n_nationkey
      GROUP BY n_name, o_orderpriority""")
    finally Seq(vo, vc, vn).foreach(s.catalog.dropTempView)
  }

  val q168Sql: String =
    """SELECT n_name, o_orderpriority, count(*) AS n_orders,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE)
      |    AS revenue,
      |  rank() OVER (PARTITION BY n_name
      |               ORDER BY count(*) DESC, o_orderpriority) AS rnk
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name, o_orderpriority""".stripMargin

  /** THE 80/20 POINT — the inverse of q160's Lorenz curve: the
    * SMALLEST top-spender prefix covering ≥80% of revenue, reported as
    * a count, a customer share and the exact covered share. Customers
    * rank by spend DESCENDING via [[globalRank]] on the negated exact
    * spend; the cumulative spend over that order is the distributed
    * prefix scan (range partition on rank, per-partition running sum,
    * ≤parts-row broadcast offsets — the q138 CDF shape), and the 80%
    * test is INTEGER: 5·cum ≥ 4·total.
    *
    * Scale shape: customer-grain agg, one range exchange, bounded
    * offsets frame, 1-row output. No single-task sort, no
    * customer-sized window. */
  def q169ParetoPoint(s: SparkSession, d: String): DataFrame = {
    val spend = orders(s, d)
      .groupBy(col("o_custkey"))
      .agg((sum(col("o_totalprice").cast(DecimalType(38, 4))) * 10000)
        .cast("long").as("y"))
    val ranked = globalRank(spend, negate(col("y")), col("o_custkey"),
      parts = 32)
    val parted = ranked.repartitionByRange(32, col("rnk"))
      .withColumn("pid", spark_partition_id())
      .localCheckpoint()
    val offsets = parted.groupBy(col("pid")).agg(sum(col("y")).as("ps"))
      .withColumn("off",
        coalesce(sum(col("ps")).over(Window.orderBy(col("pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("pid"), col("off"))
    val cum = parted
      .withColumn("local",
        sum(col("y")).over(Window.partitionBy(col("pid")).orderBy(col("rnk"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .join(broadcast(offsets), Seq("pid"))
      .select(col("rnk"), col("y"), (col("off") + col("local")).as("cum"))
    val tot = spend.agg(sum(col("y")).as("total"),
      count(lit(1)).as("n_customers"))
    cum.crossJoin(broadcast(tot))
      .filter(col("cum") * 5 >= col("total") * 4)
      .agg(min(col("rnk")).as("n_top"), max(col("n_customers")).as("nc"),
        min(col("cum")).as("mincum"), max(col("total")).as("tt"))
      .select(col("n_top"), col("nc").as("n_customers"),
        round(col("n_top").cast("double") / col("nc").cast("double"), 6)
          .as("pct_customers6"),
        round(col("mincum").cast("double") / col("tt").cast("double"), 6)
          .as("covered_share6"))
  }

  val q169Sql: String =
    """WITH spend AS (
      |  SELECT o_custkey,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(38,4))) * 10000 AS BIGINT)
      |      AS y
      |  FROM orders GROUP BY 1),
      |r AS (
      |  SELECT y,
      |    row_number() OVER (ORDER BY -y, o_custkey) AS rnk,
      |    sum(y) OVER (ORDER BY -y, o_custkey
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    CAST(sum(y) OVER () AS BIGINT) AS total,
      |    count(*) OVER () AS n_customers
      |  FROM spend),
      |hit AS (
      |  SELECT rnk, cum, total, n_customers FROM r
      |  WHERE cum * 5 >= total * 4)
      |SELECT min(rnk) AS n_top,
      |  max(n_customers) AS n_customers,
      |  round(CAST(min(rnk) AS DOUBLE) / CAST(max(n_customers) AS DOUBLE),
      |        6) AS pct_customers6,
      |  round(CAST(min(cum) AS DOUBLE) / CAST(max(total) AS DOUBLE), 6)
      |    AS covered_share6
      |FROM hit""".stripMargin

  /** ORDER-FILL LATENCY percentiles per priority — the logistics SLA
    * readout: days from order placement to FIRST shipment, summarized
    * as exact interpolated p50/p90 per priority class. Latencies are
    * exact integer days; `percentile` buffers per group, the q32
    * discipline (priority groups are bounded; the 100 TB swap is
    * approx_percentile with the q63 rank-error invariant, same plan
    * shape).
    *
    * Scale shape: join on orderkey, partial-agg min to the order
    * grain, then a bounded-group percentile fold to 5 rows. */
  def q170FillLatency(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .join(lineitem(s, d).select(col("l_orderkey"), col("l_shipdate")),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderpriority"),
        col("o_orderdate"))
      .agg(min(col("l_shipdate")).as("first_ship"))
      .select(col("o_orderpriority"),
        datediff(col("first_ship"), col("o_orderdate")).as("latency_days"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        expr("percentile(latency_days, 0.5)").as("p50_days"),
        expr("percentile(latency_days, 0.9)").as("p90_days"))

  val q170Sql: String =
    """WITH f AS (
      |  SELECT o_orderkey, o_orderpriority,
      |    datediff('day', CAST(o_orderdate AS TIMESTAMP),
      |             CAST(min(l_shipdate) AS TIMESTAMP)) AS latency_days
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |  GROUP BY o_orderkey, o_orderpriority, o_orderdate)
      |SELECT o_orderpriority, count(*) AS n_orders,
      |  quantile_cont(latency_days, 0.5) AS p50_days,
      |  quantile_cont(latency_days, 0.9) AS p90_days
      |FROM f GROUP BY 1""".stripMargin

  /** BENFORD FIRST-DIGIT AUDIT of order totals — the fraud/synthesis
    * forensic: naturally-grown monetary amounts follow
    * P(d) = log₁₀(1 + 1/d); fabricated or truncated data visibly
    * doesn't. The first digit is extracted with INTEGER arithmetic on
    * exact 1e-4 units — x4 div 10^(digits−1), never log10/floor on a
    * double whose 1-ulp boundary wobble at exact powers of ten could
    * shift a digit between engines. Each digit row carries its count
    * and the Benford expectation (an identical IEEE expression both
    * sides, round 6) so the caller's deviation test needs no re-scan.
    *
    * Scale shape: per-row digit extraction, partial-agg count onto 9
    * groups — the shuffle carries ≤9 rows per map task. */
  def q161Benford(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .select((col("o_totalprice").cast(DecimalType(38, 4)) * 10000)
        .cast("long").as("x4"))
      .filter(col("x4") > 0)
      .select(expr(
        "x4 div cast(pow(10, length(cast(x4 as string)) - 1) as bigint)")
        .as("digit"))
      .groupBy(col("digit"))
      .agg(count(lit(1)).as("n"))
      .select(col("digit"), col("n"),
        round(log(lit(1.0) + lit(1.0) / col("digit").cast("double")) /
          log(lit(10.0)), 6).as("benford_p6"))

  val q161Sql: String =
    """WITH x AS (
      |  SELECT CAST(CAST(o_totalprice AS DECIMAL(38,4)) * 10000 AS BIGINT)
      |      AS x4
      |  FROM orders),
      |dg AS (
      |  SELECT x4 // CAST(power(10, length(CAST(x4 AS VARCHAR)) - 1)
      |               AS BIGINT) AS digit
      |  FROM x WHERE x4 > 0)
      |SELECT digit, count(*) AS n,
      |  round(ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0), 6)
      |    AS benford_p6
      |FROM dg GROUP BY 1""".stripMargin

  /** EXACT GLOBAL QUANTILES at 100 TB — the scale path q32's scaladoc
    * promises beyond approx_percentile: `percentile()` buffers every
    * value of a group in one task, and a global percentile over a fact
    * table would buffer the WORLD. Here order statistics come from
    * [[globalRank]]: rank the column distributively, compute each
    * target's bracketing ranks lo/hi = f(n, q) in a 3-row broadcast
    * frame, pick the two bracketing VALUES by rank equality (a
    * broadcast join = scan-side filter — the table never shuffles for
    * the pick), and interpolate with the standard percentile_cont
    * formula. Exact to the definition, one range exchange total,
    * bounded memory everywhere. frac and the interpolation are the
    * same IEEE expression tree on both engines; round 6 exports it.
    *
    * Scale shape: globalRank's range exchange + per-partition windows;
    * the quantile frame is 3 rows; the final agg is 3 groups. */
  def q157ExactQuantiles(s: SparkSession, d: String): DataFrame = {
    val li = lineitem(s, d).select(col("l_extendedprice").as("x"),
      col("l_orderkey"), col("l_linenumber"))
    val ranked = globalRank(li, col("x"),
      struct(col("l_orderkey"), col("l_linenumber")), parts = 32)
    val qf = ranked.agg(count(lit(1)).as("n"))
      .select(explode(array(Seq(0.5, 0.9, 0.99).map(lit(_)): _*)).as("q"),
        col("n"))
      .select(col("q"),
        (floor((col("n") - 1) * col("q")) + 1).cast("long").as("lo"),
        least(floor((col("n") - 1) * col("q")) + 2, col("n"))
          .cast("long").as("hi"),
        ((col("n") - 1) * col("q") - floor((col("n") - 1) * col("q")))
          .as("frac"))
    ranked.join(broadcast(qf),
        col("rnk") === col("lo") || col("rnk") === col("hi"))
      .groupBy(col("q"))
      .agg(min(when(col("rnk") === col("lo"), col("x"))).as("xlo"),
        min(when(col("rnk") === col("hi"), col("x"))).as("xhi"),
        min(col("frac")).as("frac"))
      .select(col("q"),
        round(col("xlo") + col("frac") * (col("xhi") - col("xlo")), 6)
          .as("quantile"))
  }

  val q157Sql: String =
    """WITH r AS (
      |  SELECT l_extendedprice AS x,
      |    row_number() OVER (ORDER BY l_extendedprice, l_orderkey,
      |                       l_linenumber) AS rnk
      |  FROM lineitem),
      |n AS (SELECT count(*) AS n FROM r),
      |qs AS (SELECT unnest([CAST(0.5 AS DOUBLE), CAST(0.9 AS DOUBLE),
      |                      CAST(0.99 AS DOUBLE)]) AS q),
      |b AS (
      |  SELECT qs.q,
      |    CAST(floor((n.n - 1) * qs.q) + 1 AS BIGINT) AS lo,
      |    CAST(least(floor((n.n - 1) * qs.q) + 2, n.n) AS BIGINT) AS hi,
      |    (n.n - 1) * qs.q - floor((n.n - 1) * qs.q) AS frac
      |  FROM qs CROSS JOIN n)
      |SELECT b.q,
      |  round(min(CASE WHEN rnk = lo THEN x END)
      |        + min(frac) * (min(CASE WHEN rnk = hi THEN x END)
      |                       - min(CASE WHEN rnk = lo THEN x END)), 6)
      |    AS quantile
      |FROM r JOIN b ON rnk = lo OR rnk = hi
      |GROUP BY b.q""".stripMargin

  /** TPC-H Q22's shape on this schema: "sales opportunity" — customers
    * with ABOVE-AVERAGE account balance who have LAPSED (no order in
    * the trailing 180 days of the dataset; in this synthetic data
    * every customer has ordered at least once, so never-ordered is the
    * degenerate empty set — lapsed keeps Q22's anti-join semantics on
    * a non-trivial population), sized per market segment. Three
    * classic pieces in one plan: a scalar aggregate subquery (the
    * positive-balance average), an anti-join against recent orders,
    * and the final rollup. The average comparison is INTEGER-EXACT:
    * bal > avg ⇔ bal4·npos > tot4 on 1e-4-dollar units — no decimal
    * division, no float threshold (a 1-ulp quotient wobble at the
    * boundary would flip membership).
    *
    * Scale shape: both scalar aggregates broadcast (1 row each); the
    * anti-join shuffles on custkey (both sides big — correct); the
    * rollup partial-aggs to |segments| rows. */
  def q159SalesOpportunity(s: SparkSession, d: String): DataFrame = {
    val cust = customer(s, d).select(col("c_custkey"), col("c_mktsegment"),
      (col("c_acctbal").cast(DecimalType(38, 4)) * 10000)
        .cast("long").as("bal4"))
    val tot = cust.filter(col("bal4") > 0)
      .agg(sum(col("bal4")).as("tot4"), count(lit(1)).as("npos"))
    val cutoff = orders(s, d)
      .agg((max(col("o_orderdate")) - expr("INTERVAL 180 DAYS")).as("cut"))
    val recent = orders(s, d)
      .select(col("o_custkey"), col("o_orderdate"))
      .crossJoin(broadcast(cutoff))
      .filter(col("o_orderdate") > col("cut"))
      .select(col("o_custkey"))
    cust
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .crossJoin(broadcast(tot))
      .filter(col("bal4") * col("npos") > col("tot4"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_cust"), sum(col("bal4")).as("tot_bal4"))
  }

  val q159Sql: String =
    """WITH c AS (
      |  SELECT c_custkey, c_mktsegment,
      |    CAST(CAST(c_acctbal AS DECIMAL(38,4)) * 10000 AS BIGINT) AS bal4
      |  FROM customer),
      |t AS (SELECT CAST(sum(bal4) AS BIGINT) AS tot4, count(*) AS npos
      |      FROM c WHERE bal4 > 0),
      |mx AS (SELECT max(o_orderdate) - INTERVAL 180 DAY AS cut FROM orders)
      |SELECT c_mktsegment, count(*) AS n_cust,
      |  CAST(sum(bal4) AS BIGINT) AS tot_bal4
      |FROM c CROSS JOIN t CROSS JOIN mx
      |WHERE bal4 * npos > tot4
      |  AND NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey AND o_orderdate > cut)
      |GROUP BY 1""".stripMargin

  /** LORENZ CURVE at decile resolution — the gains chart behind q153's
    * Gini scalar: customers sorted by spend split into 10 equal-count
    * buckets; each row reports the bucket's population, exact spend,
    * and the CUMULATIVE share of total spend. decile = (rank−1)·10
    * div n — pure integer bucketing off the same distributed
    * [[globalRank]]; spend stays 1e-4-dollar integers until the one
    * exported share division (round 6).
    *
    * Scale shape: after the rank, a partial-agg collapse to ≤10 rows;
    * the running sum and total run on that 10-row frame (its
    * SinglePartition exchange is bounded by construction). */
  def q160LorenzDeciles(s: SparkSession, d: String): DataFrame = {
    val spend = orders(s, d)
      .groupBy(col("o_custkey"))
      .agg((sum(col("o_totalprice").cast(DecimalType(38, 4))) * 10000)
        .cast("long").as("y"))
    val ranked = globalRank(spend, col("y"), col("o_custkey"), parts = 32)
    val nf = ranked.agg(count(lit(1)).as("n"))
    val dec = ranked.crossJoin(broadcast(nf))
      .select(least(lit(9L), expr("((rnk - 1) * 10) div n")).as("decile"),
        col("y"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_cust"), sum(col("y")).as("spend4"))
    val run = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, 0)
    dec
      .withColumn("cum4", sum(col("spend4")).over(run))
      .crossJoin(broadcast(dec.agg(sum(col("spend4")).as("tot4"))))
      .select(col("decile"), col("n_cust"), col("spend4"),
        round(col("cum4").cast("double") / col("tot4").cast("double"), 6)
          .as("cum_share6"))
  }

  val q160Sql: String =
    """WITH spend AS (
      |  SELECT o_custkey,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(38,4))) * 10000 AS BIGINT)
      |      AS y
      |  FROM orders GROUP BY 1),
      |r AS (
      |  SELECT y, row_number() OVER (ORDER BY y, o_custkey) AS rnk,
      |    count(*) OVER () AS n
      |  FROM spend),
      |d AS (
      |  SELECT least(9, ((rnk - 1) * 10) // n) AS decile,
      |    count(*) AS n_cust, CAST(sum(y) AS BIGINT) AS spend4
      |  FROM r GROUP BY 1),
      |t AS (SELECT CAST(sum(spend4) AS BIGINT) AS tot4 FROM d)
      |SELECT decile, n_cust, spend4,
      |  round(CAST(sum(spend4) OVER (ORDER BY decile
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |          AS DOUBLE) / CAST(tot4 AS DOUBLE), 6) AS cum_share6
      |FROM d CROSS JOIN t""".stripMargin

  /** EXACT GINI COEFFICIENT of customer spend — the inequality measure
    * behind "whale" analyses (complementing q130's Herfindahl on
    * market shares): G = (2·Σrank·y − (n+1)·Σy) / (n·Σy) over spend
    * sorted ascending. Spend is exact 1e-4-dollar integers; the rank
    * comes from [[globalRank]] (two-pass range partitioning — never a
    * single-task sort of the customer table); Σrank·y and the final
    * numerator widen to DECIMAL(38,0)/HUGEINT (rank×cents grazes 2^63
    * at scale). Rank ties share equal y values, so Σrank·y — and
    * therefore G — is invariant to how the custkey tiebreak orders
    * them; the tiebreak exists only to pin both engines to one
    * ordering. Only the final division is double, then round 6.
    *
    * Scale shape: orders partial-agg to customer grain, the
    * globalRank's range exchange + per-partition windows, then a
    * 3-moment fold to ONE row. */
  def q153Gini(s: SparkSession, d: String): DataFrame = {
    val spend = orders(s, d)
      .groupBy(col("o_custkey"))
      .agg((sum(col("o_totalprice").cast(DecimalType(38, 4))) * 10000)
        .cast("long").as("y"))
    globalRank(spend, col("y"), col("o_custkey"), parts = 32)
      .agg(count(lit(1)).as("n_customers"),
        sum(col("y")).as("sy"),
        sum(col("rnk").cast(DecimalType(38, 0)) * col("y")).as("sry"))
      .select(col("n_customers"), col("sy"),
        round((lit(2L).cast(DecimalType(38, 0)) * col("sry") -
            (col("n_customers") + 1).cast(DecimalType(38, 0)) * col("sy"))
            .cast("double") /
          (col("n_customers").cast(DecimalType(38, 0)) * col("sy"))
            .cast("double"), 6).as("gini6"))
  }

  val q153Sql: String =
    """WITH spend AS (
      |  SELECT o_custkey,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(38,4))) * 10000 AS BIGINT)
      |      AS y
      |  FROM orders GROUP BY 1),
      |r AS (
      |  SELECT y, row_number() OVER (ORDER BY y, o_custkey) AS rnk
      |  FROM spend),
      |m AS (
      |  SELECT count(*) AS n_customers,
      |    CAST(sum(y) AS BIGINT) AS sy,
      |    sum(CAST(rnk AS HUGEINT) * y) AS sry
      |  FROM r)
      |SELECT n_customers, sy,
      |  round(CAST(2 * sry - (n_customers + 1) * CAST(sy AS HUGEINT)
      |             AS DOUBLE)
      |        / CAST(CAST(n_customers AS HUGEINT) * sy AS DOUBLE), 6)
      |    AS gini6
      |FROM m""".stripMargin

  /** WEIGHTED MEDIAN retail price per brand, weighted by quantity sold
    * — the robust "typical price paid" (a plain median over parts
    * ignores that one SKU sells 100× another; a mean is outlier-bent).
    * Definition: smallest price whose cumulative weight reaches half
    * the total, on exact 1e-4 quantity integers — the comparison is
    * 2·cum ≥ tot, all BIGINT, no rounding convention anywhere.
    *
    * Scale shape: the fact table partial-aggs onto the (brand, price)
    * grain — parts-sized, not lineitem-sized — and BOTH windows
    * (running + total) share one exchange on brand; the argmin
    * collapses with a partial-agg min. The percentile never sees a
    * data-sized sort. */
  def q154WeightedMedian(s: SparkSession, d: String): DataFrame = {
    val grp = lineitem(s, d)
      .select(col("l_partkey"),
        (col("l_quantity").cast(DecimalType(38, 4)) * 10000)
          .cast("long").as("q4"))
      .join(part(s, d)
        .select(col("p_partkey"), col("p_brand"), col("p_retailprice")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_retailprice"))
      .agg(sum(col("q4")).as("w"))
    val run = Window.partitionBy(col("p_brand")).orderBy(col("p_retailprice"))
      .rowsBetween(Window.unboundedPreceding, 0)
    grp
      .withColumn("cum", sum(col("w")).over(run))
      .withColumn("tot", sum(col("w")).over(Window.partitionBy(col("p_brand"))))
      .filter(col("cum") * 2 >= col("tot"))
      .groupBy(col("p_brand"))
      .agg(min(col("p_retailprice")).as("wmedian_price"),
        min(col("tot")).as("tot_q4"))
  }

  val q154Sql: String =
    """WITH grp AS (
      |  SELECT p_brand, p_retailprice,
      |    CAST(sum(CAST(CAST(l_quantity AS DECIMAL(38,4)) * 10000
      |                  AS BIGINT)) AS BIGINT) AS w
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  GROUP BY 1, 2),
      |c AS (
      |  SELECT p_brand, p_retailprice, w,
      |    sum(w) OVER (PARTITION BY p_brand ORDER BY p_retailprice
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS cum,
      |    sum(w) OVER (PARTITION BY p_brand) AS tot
      |  FROM grp)
      |SELECT p_brand,
      |  min(p_retailprice) AS wmedian_price,
      |  CAST(min(tot) AS BIGINT) AS tot_q4
      |FROM c WHERE cum * 2 >= tot
      |GROUP BY 1""".stripMargin

  /** TPC-H Q21's shape on this schema: suppliers who were the SOLE late
    * shipper on a multi-supplier order (shipdate > orderdate + 60 days)
    * — the classic "suppliers who kept orders waiting" blame query. The
    * textbook formulation is EXISTS(other supplier) AND NOT EXISTS
    * (other LATE supplier): two correlated self-joins that each re-scan
    * lineitem. Here both quantifiers collapse into ONE aggregation
    * over (order, supplier) — n_supp ≥ 2 replaces the EXISTS, n_late
    * = 1 replaces the NOT-EXISTS, and because exactly one supplier is
    * late, max(CASE late) IS that supplier — so lineitem is scanned
    * once and shuffled once. The oracle runs the EXISTS/NOT-EXISTS
    * form, gating the equivalence of the two formulations.
    *
    * Scale shape: join on orderkey (both sides huge → shuffle join,
    * the right call), partial-agg to (order, supplier), re-agg to
    * order grain, then a supplier-sized count joined to the broadcast
    * supplier dim and TakeOrdered(20) — no global sort. */
  def q147WaitingSupplier(s: SparkSession, d: String): DataFrame = {
    val li = lineitem(s, d)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      .join(orders(s, d).select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(when(col("l_shipdate") >
        col("o_orderdate") + expr("INTERVAL 60 DAYS"), 1L).otherwise(0L))
        .as("late"))
    val blamed = li
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_supp"), sum(col("late")).as("n_late"),
        max(when(col("late") === 1L, col("l_suppkey"))).as("waiter"))
      .filter(col("n_supp") >= 2 && col("n_late") === 1)
      .groupBy(col("waiter"))
      .agg(count(lit(1)).as("numwait"))
    blamed
      .join(supplier(s, d).select(col("s_suppkey"), col("s_name")),
        col("waiter") === col("s_suppkey"))
      .select(col("s_name"), col("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(20)
  }

  val q147Sql: String =
    """WITH l AS (
      |  SELECT l_orderkey, l_suppkey,
      |    CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
      |         THEN 1 ELSE 0 END AS late
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |ls AS (
      |  SELECT l_orderkey, l_suppkey, max(late) AS late
      |  FROM l GROUP BY 1, 2),
      |w AS (
      |  SELECT a.l_orderkey, a.l_suppkey
      |  FROM ls a
      |  WHERE a.late = 1
      |    AND EXISTS (SELECT 1 FROM ls b
      |                WHERE b.l_orderkey = a.l_orderkey
      |                  AND b.l_suppkey <> a.l_suppkey)
      |    AND NOT EXISTS (SELECT 1 FROM ls c
      |                    WHERE c.l_orderkey = a.l_orderkey
      |                      AND c.l_suppkey <> a.l_suppkey
      |                      AND c.late = 1))
      |SELECT s_name, count(*) AS numwait
      |FROM w JOIN supplier ON l_suppkey = s_suppkey
      |GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin

  val all: Map[String, ((SparkSession, String) => DataFrame, String)] = Map(
    "q01_pricing_summary" -> (q01PricingSummary _, q01Sql),
    "q02_filter_pushdown" -> (q02FilterPushdown _, q02Sql),
    "q03_top_revenue"     -> (q03TopRevenue _, q03Sql),
    "q04_semi_join"       -> (q04SemiJoin _, q04Sql),
    "q05_local_supplier"  -> (q05LocalSupplier _, q05Sql),
    "q06_revenue_filter"  -> (q06RevenueForecast _, q06Sql),
    "q07_window_rank"     -> (q07WindowRank _, q07Sql),
    "q08_running_sum"     -> (q08RunningSum _, q08Sql),
    "q09_distinct_agg"    -> (q09DistinctAgg _, q09Sql),
    "q10_setops"          -> (q10SetOps _, q10Sql),
    "q11_rollup"          -> (q11Rollup _, q11Sql),
    "q12_having"          -> (q12Having _, q12Sql),
    "q13_anti_join"       -> (q13AntiJoin _, q13Sql),
    "q14_case_promo"      -> (q14CasePromo _, q14Sql),
    "q15_events_hourly"   -> (q15EventsHourly _, q15Sql),
    "q16_sessionize"      -> (q16Sessionize _, q16Sql),
    "q17_avg_subquery"    -> (q17AvgSubquery _, q17Sql),
    "q32_percentiles"     -> (q32Percentiles _, q32Sql),
    "q33_pivot"           -> (q33Pivot _, q33Sql),
    "q34_cube"            -> (q34Cube _, q34Sql),
    "q36_self_join"       -> (q36SelfJoin _, q36Sql),
    "q37_scalar_funcs"    -> (q37ScalarFuncs _, q37Sql),
    "q38_except_all"      -> (q38ExceptAll _, q38Sql),
    "q39_full_outer"      -> (q39FullOuter _, q39Sql),
    "q46_json_funcs"      -> (q46JsonFuncs _, q46Sql),
    "q47_date_window"     -> (q47DateWindow _, q47Sql),
    "q48_market_share"    -> (q48MarketShare _, q48Sql),
    "q49_top_supplier"    -> (q49TopSupplier _, q49Sql),
    "q53_profile"         -> (q53Profile _, q53Sql),
    "q57_priority_check"  -> (q57PriorityCheck _, q57Sql),
    "q59_grouping_sets"   -> (q59GroupingSets _, q59Sql),
    "q60_order_gaps"      -> (q60OrderGaps _, q60Sql),
    "q63_approx_percentile" -> (q63ApproxPercentileBound _, q63Sql),
    "q83_rolling_window"  -> (q83RollingWindow _, q83Sql),
    "q84_grouped_percentiles" -> (q84GroupedPercentiles _, q84Sql),
    "q108_robust_stats" -> (q108RobustStats _, q108Sql),
    "q111_histogram" -> (q111Histogram _, q111Sql),
    "q116_ref_integrity" -> (q116RefIntegrity _, q116Sql),
    "q125_brand_basket" -> (q125BrandBasket _, q125Sql),
    "q130_hhi" -> (q130Hhi _, q130Sql),
    "q86_window_topk_rewrite" -> (q86WindowTopkRewrite _, q86Sql),
    "q87_array_funcs"     -> (q87ArrayFuncs _, q87Sql),
    "q90_global_customer" -> (q90GlobalCustomer _, q90Sql),
    "q94_ntile_deciles"   -> (q94NtileDeciles _, q94Sql),
    "q96_corr_moments"    -> (q96CorrMoments _, q96Sql),
    "q97_global_rank"     -> (q97GlobalRank _, q97Sql),
    "q137_skyline"        -> (q137Skyline _, q137Sql),
    "q142_hdr_histogram"  -> (q142HdrHistogram _, q142Sql),
    "q101_session_window" -> (q101SessionWindow _, q101Sql),
    "q221_dynamic_session" -> (q221DynamicSession _, q221Sql),
    "q223_hopping_window" -> (q223HoppingWindow _, q223Sql),
    "q224_custdist" -> (q224Custdist _, q224Sql),
    "q225_large_orders" -> (q225LargeOrders _, q225Sql),
    "q230_volume_shipping" -> (q230VolumeShipping _, q230Sql),
    "q231_nation_profit" -> (q231NationProfit _, q231Sql),
    "q232_returned_items" -> (q232ReturnedItems _, q232Sql),
    "q233_disjunctive_scan" -> (q233DisjunctiveScan _, q233Sql),
    "q102_unpivot"        -> (q102Unpivot _, q102Sql),
    "q147_waiting_supplier" -> (q147WaitingSupplier _, q147Sql),
    "q153_gini"             -> (q153Gini _, q153Sql),
    "q154_weighted_median"  -> (q154WeightedMedian _, q154Sql),
    "q157_exact_quantiles"  -> (q157ExactQuantiles _, q157Sql),
    "q159_sales_opportunity" -> (q159SalesOpportunity _, q159Sql),
    "q160_lorenz_deciles"   -> (q160LorenzDeciles _, q160Sql),
    "q161_benford"          -> (q161Benford _, q161Sql),
    "q168_sql_entry"        -> (q168SqlEntry _, q168Sql),
    "q169_pareto_point"     -> (q169ParetoPoint _, q169Sql),
    "q170_fill_latency"     -> (q170FillLatency _, q170Sql),
  )
}
