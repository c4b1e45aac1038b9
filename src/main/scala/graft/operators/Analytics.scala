package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Md5Bits.md5Bucket

/** Event-sequence analytics over the events table — the classic product
  * questions a clickstream engine must answer:
  *
  *   - [[q66Funnel]]: ORDERED conversion funnel (view → click →
  *     purchase, each step strictly after the previous one). The naive
  *     formulation is one self-join per step (the oracle's shape — k
  *     shuffles and k joins for a k-step funnel); here each step is a
  *     conditional `min` over the SAME per-user window, so the whole
  *     funnel costs ONE shuffle on user_id: Spark plans the chained
  *     window aggregates as stacked Window operators over one Exchange,
  *     and the follow-up per-user collapse reuses that partitioning
  *     (ENSURE_REQUIREMENTS inserts no second shuffle — asserted in
  *     AnalyticsSpec).
  *   - [[q67Retention]]: weekly cohort retention. Cohort = ISO week of
  *     the user's first event; one (user, active-week) dedup, one join
  *     back on user_id, one count-distinct per (cohort, offset). Every
  *     shuffle key is either user_id or the tiny (cohort, offset) pair —
  *     nothing is ever events×events.
  *
  * Timestamps compare at MICROsecond precision on both engines (Spark
  * ts is micros by Tables.events construction; the oracles CAST to
  * TIMESTAMP which truncates DuckDB's nanos) — the q16 convention.
  */
object Analytics {
  import Tables._

  /** One row: users with ≥1 view; of those, users with a click strictly
    * after their first view; of those, users with a purchase strictly
    * after that first qualifying click. First-touch attribution (first
    * view, first qualifying click) — the strictest common funnel
    * definition, and the one with a clean one-pass window form. */
  def q66Funnel(s: SparkSession, d: String): DataFrame =
    funnel(events(s, d))

  /** The one-shuffle funnel over any (user_id, event_type, ts) frame. */
  def funnel(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    ev
      .select(col("user_id"), col("event_type"), col("ts"))
      .withColumn("t1",
        min(when(col("event_type") === "view", col("ts"))).over(w))
      .withColumn("t2",
        min(when(col("event_type") === "click" && col("ts") > col("t1"),
          col("ts"))).over(w))
      .withColumn("t3",
        min(when(col("event_type") === "purchase" && col("ts") > col("t2"),
          col("ts"))).over(w))
      .groupBy(col("user_id"))
      .agg(max(col("t1")).as("t1"), max(col("t2")).as("t2"),
        max(col("t3")).as("t3"))
      .agg(count(lit(1)).as("n_users"),
        count(col("t1")).as("n_view"),
        count(col("t2")).as("n_view_click"),
        count(col("t3")).as("n_funnel"))
  }

  val q66Sql: String =
    """WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
      |           FROM events),
      |u AS (
      |  SELECT user_id,
      |    min(CASE WHEN event_type = 'view' THEN ts END) AS t1
      |  FROM e GROUP BY 1),
      |c AS (
      |  SELECT e.user_id, min(e.ts) AS t2
      |  FROM e JOIN u ON e.user_id = u.user_id
      |  WHERE e.event_type = 'click' AND e.ts > u.t1
      |  GROUP BY 1),
      |p AS (
      |  SELECT e.user_id, min(e.ts) AS t3
      |  FROM e JOIN c ON e.user_id = c.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts > c.t2
      |  GROUP BY 1)
      |SELECT (SELECT count(*) FROM u) AS n_users,
      |       (SELECT count(t1) FROM u) AS n_view,
      |       (SELECT count(*) FROM c) AS n_view_click,
      |       (SELECT count(*) FROM p) AS n_funnel""".stripMargin

  /** (cohort_week, week_offset) → distinct active users, for every
    * offset a cohort was ever active at. Weeks are ISO date_trunc
    * ('week') on both engines; the offset divides a day-diff that is a
    * multiple of 7 by construction, so the double division is exact. */
  def q67Retention(s: SparkSession, d: String): DataFrame =
    retention(events(s, d))

  /** Cohort retention over any (user_id, ts) frame. */
  def retention(events: DataFrame): DataFrame = {
    val ev = events.select(col("user_id"), col("ts"))
    // to_date: DuckDB's date_trunc('week') yields DATE — match the type
    val cohorts = ev.groupBy(col("user_id"))
      .agg(min(col("ts")).as("first_ts"))
      .select(col("user_id"),
        to_date(date_trunc("week", col("first_ts"))).as("cohort_week"))
    val active = ev
      .select(col("user_id"), to_date(date_trunc("week", col("ts"))).as("wk"))
      .distinct()
    active.join(cohorts, Seq("user_id"))
      .withColumn("week_offset",
        (datediff(col("wk"), col("cohort_week")) / 7).cast("long"))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_active"))
  }

  val q67Sql: String =
    """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
      |f AS (
      |  SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
      |  FROM e GROUP BY 1),
      |a AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM e)
      |SELECT f.cohort_week,
      |  CAST(date_diff('day', f.cohort_week, a.wk) / 7 AS BIGINT)
      |    AS week_offset,
      |  count(DISTINCT a.user_id) AS n_active
      |FROM a JOIN f ON a.user_id = f.user_id
      |GROUP BY 1, 2""".stripMargin

  /** Per-nation top-3 customers by balance, through the custom
    * [[graft.plans.GroupTopK]] whole-operator (bounded per-group heaps,
    * partial before the shuffle — no window, no sort of the input; see
    * its scaladoc for the 100 TB argument). The oracle is the classic
    * `row_number()` window form, so the gate proves operator ==
    * window-top-k semantics. Tiebreak on c_custkey makes ties
    * deterministic on both engines. The nation-name join happens AFTER
    * the top-k (25 x 3 rows), so the dimension join is over the already
    * reduced side. */
  def q71TopPerGroup(s: SparkSession, d: String): DataFrame = {
    val top = graft.plans.GroupTopKExtension.topKPerGroup(
      customer(s, d).select(col("c_custkey"), col("c_name"),
        col("c_acctbal"), col("c_nationkey")),
      groupCols = Seq("c_nationkey"),
      order = Seq(("c_acctbal", false), ("c_custkey", true)), k = 3)
    top.join(broadcast(nation(s, d).select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("c_custkey"), col("c_name"), col("c_acctbal"))
  }

  val q71Sql: String =
    """SELECT n_name, c_custkey, c_name, c_acctbal
      |FROM (
      |  SELECT c_custkey, c_name, c_acctbal, c_nationkey,
      |    row_number() OVER (PARTITION BY c_nationkey
      |                       ORDER BY c_acctbal DESC, c_custkey) AS rn
      |  FROM customer) c
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE rn <= 3""".stripMargin

  /** Gap-filled hourly resample: event counts per (event_type, hour)
    * with missing hours emitted as explicit zeros — the shape every
    * downstream charting/anomaly job wants (a gap and a zero are
    * different signals).
    *
    * Scale shape: the raw table is touched ONCE by a partially-aggregated
    * count (map-side combine shrinks it to |types|x|hours| before the one
    * shuffle). The dense calendar is generated DISTRIBUTED from a 1-row
    * min/max aggregate via `sequence()` + explode — never a driver-side
    * loop — and is bounded (hours x bounded event-type enum: ~9k
    * rows/year/type), so both sides of the final left join are tiny; the
    * 100 TB cost is exactly the one count aggregation. */
  def q74GapFill(s: SparkSession, d: String): DataFrame =
    gapFillHourly(events(s, d))

  def gapFillHourly(ev: DataFrame): DataFrame = {
    // ONE pass over the raw table; the calendar bounds and the type list
    // both derive from the already-aggregated (bounded) counts frame,
    // not from re-scans of the input. Count columns are renamed so the
    // final join is unambiguous (counts/types share lineage).
    val counts = ev
      .select(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .groupBy(col("event_type"), col("h"))
      .agg(count(lit(1)).as("n"))
      .select(col("event_type").as("ct"), col("h").as("ch"), col("n"))
    val calendar = counts
      .agg(min(col("ch")).as("lo"), max(col("ch")).as("hi"))
      .select(explode(expr("sequence(lo, hi, interval 1 hour)")).as("hour"))
    val types = counts.select(col("ct").as("event_type")).distinct()
    calendar.crossJoin(broadcast(types))
      .join(counts,
        col("ct") === col("event_type") && col("ch") === col("hour"), "left")
      .select(col("event_type"), col("hour"),
        coalesce(col("n"), lit(0L)).as("n"))
  }

  val q74Sql: String =
    """WITH e AS (SELECT event_type,
      |             date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h
      |           FROM events),
      |b AS (SELECT min(h) AS lo, max(h) AS hi FROM e),
      |cal AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour
      |        FROM b),
      |t AS (SELECT DISTINCT event_type FROM e),
      |c AS (SELECT event_type, h, count(*) AS n FROM e GROUP BY 1, 2)
      |SELECT t.event_type, cal.hour, COALESCE(c.n, 0) AS n
      |FROM cal CROSS JOIN t
      |LEFT JOIN c ON c.event_type = t.event_type AND c.h = cal.hour""".stripMargin

  /** SCD2 snapshot construction from a changelog — the gaps-and-islands
    * problem: collapse each user's CONSECUTIVE runs of the same
    * event_type into one validity interval [valid_from, valid_to), with
    * valid_to = the next run's start (NULL while current). This is how a
    * warehouse turns an event stream into a slowly-changing-dimension
    * table (state-at-time-T joins, as-of semantics).
    *
    * Scale shape: run boundaries, run ids (running sum over the change
    * flag), the per-run collapse, and the valid_to lead all stack over
    * ONE user_id partitioning — Spark plans the window chain plus the
    * groupBy over a single Exchange (the q66 trick; ENSURE_REQUIREMENTS
    * inserts nothing). Ties order by (ts, event_id) so runs are
    * deterministic on both engines; the valid_to lead additionally
    * tiebreaks on run_id — two runs of one user CAN share valid_from
    * (same-ts events of different types split by the event_id tiebreak),
    * and run_id is the run sequence in (ts, event_id) order, so
    * (valid_from, run_id) is a total order on both engines. */
  def q80Scd2(s: SparkSession, d: String): DataFrame =
    scd2(events(s, d))

  def scd2(ev: DataFrame): DataFrame = {
    val ord = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val runs = ev
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      // null-SAFE boundary detection (<=> / IS DISTINCT FROM): a null
      // state is its own run, not silently merged into the previous one
      // (plain <> returns NULL against a null state -> chg would be 0)
      .withColumn("chg",
        when(!(lag(col("event_type"), 1).over(ord) <=> col("event_type")), 1L)
          .otherwise(0L))
      .withColumn("run_id", sum(col("chg")).over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("run_id"), col("event_type"))
      .agg(min(col("ts")).as("valid_from"), count(lit(1)).as("n_events"))
    runs
      .withColumn("valid_to", lead(col("valid_from"), 1).over(
        Window.partitionBy(col("user_id"))
          .orderBy(col("valid_from"), col("run_id"))))
      .select(col("user_id"), col("event_type"), col("valid_from"),
        col("valid_to"), col("n_events"))
  }

  val q80Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts
      |  FROM events),
      |flagged AS (
      |  SELECT user_id, event_id, event_type, ts,
      |    CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
      |         THEN 1 ELSE 0 END AS chg
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |runs AS (
      |  SELECT user_id, event_type, ts,
      |    sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                   ROWS UNBOUNDED PRECEDING) AS run_id
      |  FROM flagged),
      |collapsed AS (
      |  SELECT user_id, run_id, event_type,
      |    min(ts) AS valid_from, count(*) AS n_events
      |  FROM runs GROUP BY 1, 2, 3)
      |SELECT user_id, event_type, valid_from,
      |  lead(valid_from) OVER (PARTITION BY user_id
      |                         ORDER BY valid_from, run_id)
      |    AS valid_to,
      |  n_events
      |FROM collapsed""".stripMargin

  /** Rolling z-score anomaly detection, composed over the GAP-FILLED
    * hourly series (q74 — the zeros matter: a missing hour IS the
    * anomaly signal, and without gap fill a ROWS frame silently skips
    * it): each (type, hour) against its trailing-24h mean/stddev,
    * full frames only, |z| > 3 reported.
    *
    * Cross-engine determinism: the window accumulates the EXACT moments
    * (Σn, Σn² in DECIMAL — never a running double variance, whose
    * accumulation order and formula differ between engines), and both
    * engines then evaluate the identical closed-form z from identical
    * exact inputs, rounded to 4 before the threshold compare. Zero-σ
    * frames are excluded before the division. One event_type exchange
    * carries all three window aggregates. */
  def q85Anomaly(s: SparkSession, d: String): DataFrame =
    anomalies(gapFillHourly(events(s, d)), window = 24, zThresh = 3.0)

  def anomalies(series: DataFrame, window: Int, zThresh: Double): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("hour"))
      .rowsBetween(-(window - 1), 0)
    series
      .withColumn("cnt", count(lit(1)).over(w))
      .withColumn("s", sum(col("n").cast("decimal(38,0)")).over(w))
      .withColumn("s2", sum((col("n").cast("decimal(19,0)") *
        col("n").cast("decimal(19,0)"))).over(w))
      .where(col("cnt") === window)
      .withColumn("mean", col("s").cast("double") / window)
      .withColumn("sigma", sqrt((col("s2").cast("double") -
        col("s").cast("double") * col("s").cast("double") / window) /
        (window - 1)))
      .where(col("sigma") > 0)
      .withColumn("z", round(abs(col("n") - col("mean")) / col("sigma"), 4))
      .where(col("z") > zThresh)
      .select(col("event_type"), col("hour"), col("n"), col("z"))
  }

  val q85Sql: String =
    """WITH e AS (SELECT event_type,
      |             date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h
      |           FROM events),
      |b AS (SELECT min(h) AS lo, max(h) AS hi FROM e),
      |cal AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour
      |        FROM b),
      |t AS (SELECT DISTINCT event_type FROM e),
      |c AS (SELECT event_type, h, count(*) AS n FROM e GROUP BY 1, 2),
      |series AS (
      |  SELECT t.event_type, cal.hour, COALESCE(c.n, 0) AS n
      |  FROM cal CROSS JOIN t
      |  LEFT JOIN c ON c.event_type = t.event_type AND c.h = cal.hour),
      |w AS (
      |  SELECT event_type, hour, n,
      |    count(*) OVER fr AS cnt,
      |    sum(CAST(n AS DECIMAL(38,0))) OVER fr AS s,
      |    sum(CAST(n AS DECIMAL(19,0)) * CAST(n AS DECIMAL(19,0))) OVER fr AS s2
      |  FROM series
      |  WINDOW fr AS (PARTITION BY event_type ORDER BY hour
      |                ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)),
      |f AS (
      |  SELECT event_type, hour, n,
      |    CAST(s AS DOUBLE) / 24 AS mean,
      |    sqrt((CAST(s2 AS DOUBLE) -
      |      CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / 24) / 23) AS sigma
      |  FROM w WHERE cnt = 24)
      |SELECT event_type, hour, n,
      |  round(abs(n - mean) / sigma, 4) AS z
      |FROM f
      |WHERE sigma > 0 AND round(abs(n - mean) / sigma, 4) > 3.0""".stripMargin

  /** CDC changelog apply — the MERGE INTO analog on plain columnar
    * storage: fold a stream of keyed change records (op ∈ {U, D}, a
    * sequence number, replacement payload) into a base snapshot,
    * LATEST-WINS per key. U on an existing key replaces its payload; U
    * on an unseen key inserts; D deletes (including a base row with no
    * other change). `src` marks which side produced each surviving row.
    *
    * Determinism: the per-key winner is `max(struct(seq, op, payload…))`
    * — lexicographic struct max, so even a duplicated seq resolves
    * identically on any engine/partitioning (the oracle's row_number
    * DESC over the same triple is the same total order). The struct max
    * is an ordinary aggregate: partial (map-side) combine applies, so
    * at 100 TB the changelog collapses BEFORE its shuffle — the join
    * then moves one row per changed key, not one per change. Base and
    * collapsed changes full-outer-join on the key (both sides hash on
    * it; AQE may broadcast a small change set), and nothing in the
    * plan is per-change-record after the first aggregate. */
  def applyChangelog(base: DataFrame, changes: DataFrame, key: String,
      seq: String, op: String): DataFrame = {
    val payload = changes.columns.filterNot(Set(key, seq, op)).toSeq
    require(payload.nonEmpty && payload.forall(base.columns.contains),
      s"base must carry the change payload columns $payload")
    val latest = changes.groupBy(col(key))
      .agg(max(struct((seq +: op +: payload).map(col): _*)).as("w"))
      .select(col(key).as("_k") +:
        col(s"w.$op").as("_op") +:
        payload.map(p => col(s"w.$p").as(s"_p_$p")): _*)
    base.select((key +: payload).map(col): _*)
      .join(latest, col(key) === col("_k"), "full_outer")
      .filter(coalesce(col("_op"), lit("U")) =!= "D")
      .select(coalesce(col(key), col("_k")).as(key) +:
        payload.map(p => coalesce(col(s"_p_$p"), col(p)).as(p)) :+
        when(col("_k").isNotNull, lit("chg")).otherwise(lit("base")).as("src"): _*)
  }

  /** [[applyChangelog]] under the gate: orders replayed as a synthetic
    * changelog against the customer base — o_orderkey is the sequence,
    * every 7th order is a delete, every 11th targets a key outside the
    * base (the insert path), the rest update c_acctbal to the order
    * total. Exercises insert, update, delete, and untouched-base in one
    * deterministic query. */
  def q91CdcApply(s: SparkSession, d: String): DataFrame = {
    val chg = orders(s, d).select(
      when(col("o_orderkey") % 11 === 0, col("o_custkey") + 100000L)
        .otherwise(col("o_custkey")).as("c_custkey"),
      col("o_orderkey").as("seq"),
      when(col("o_orderkey") % 7 === 0, lit("D")).otherwise(lit("U")).as("op"),
      col("o_totalprice").as("c_acctbal"))
    applyChangelog(
      customer(s, d).select(col("c_custkey"), col("c_acctbal")),
      chg, "c_custkey", "seq", "op")
  }

  val q91Sql: String =
    """WITH chg AS (
      |  SELECT CASE WHEN o_orderkey % 11 = 0 THEN o_custkey + 100000
      |              ELSE o_custkey END AS k,
      |    o_orderkey AS seq,
      |    CASE WHEN o_orderkey % 7 = 0 THEN 'D' ELSE 'U' END AS op,
      |    o_totalprice AS bal
      |  FROM orders),
      |latest AS (
      |  SELECT k, op, bal FROM (
      |    SELECT k, op, bal,
      |      row_number() OVER (PARTITION BY k
      |                         ORDER BY seq DESC, op DESC, bal DESC) AS rn
      |    FROM chg) WHERE rn = 1)
      |SELECT COALESCE(b.c_custkey, l.k) AS c_custkey,
      |  COALESCE(l.bal, b.c_acctbal) AS c_acctbal,
      |  CASE WHEN l.k IS NOT NULL THEN 'chg' ELSE 'base' END AS src
      |FROM (SELECT c_custkey, c_acctbal FROM customer) b
      |FULL OUTER JOIN latest l ON b.c_custkey = l.k
      |WHERE COALESCE(l.op, 'U') <> 'D'""".stripMargin

  /** Point-in-time attribution — [[scd2]] composed with an interval
    * join, the standard warehouse question "what state was the user in
    * WHEN they converted": build the SCD2 dimension from all
    * NON-purchase events, then join each purchase to the interval
    * containing its timestamp. Purchases before the user's first state
    * run (or by users with no non-purchase events) attribute to 'none'.
    *
    * Correctness lean on q80's determinism fix: intervals chain
    * half-open [valid_from, valid_to) in (valid_from, run_id) order, so
    * they are DISJOINT (a tie produces a zero-length interval that can
    * match nothing) and every purchase matches at most one state — the
    * left join cannot fan out.
    *
    * Scale shape: the dimension is run-count sized (collapsed, much
    * smaller than events); the join is an equi join on user_id with the
    * interval bounds as residual filters — both sides hash-partition on
    * user_id, nothing is events×events. */
  def q98PitAttribution(s: SparkSession, d: String): DataFrame =
    pitAttribution(events(s, d))

  def pitAttribution(ev: DataFrame): DataFrame = {
    val states = scd2(ev.filter(col("event_type") =!= "purchase"))
      .select(col("user_id").as("s_user"), col("event_type").as("state"),
        col("valid_from"), col("valid_to"))
    ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"))
      .join(states, col("user_id") === col("s_user") &&
        col("ts") >= col("valid_from") &&
        (col("valid_to").isNull || col("ts") < col("valid_to")), "left")
      .groupBy(coalesce(col("state"), lit("none")).as("state"))
      .agg(count(lit(1)).as("n_purchases"),
        countDistinct(col("user_id")).as("n_users"))
  }

  val q98Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts
      |  FROM events),
      |flagged AS (
      |  SELECT user_id, event_id, event_type, ts,
      |    CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
      |         THEN 1 ELSE 0 END AS chg
      |  FROM e WHERE event_type <> 'purchase'
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |runs AS (
      |  SELECT user_id, event_type, ts,
      |    sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                   ROWS UNBOUNDED PRECEDING) AS run_id
      |  FROM flagged),
      |collapsed AS (
      |  SELECT user_id, run_id, event_type, min(ts) AS valid_from
      |  FROM runs GROUP BY 1, 2, 3),
      |states AS (
      |  SELECT user_id AS s_user, event_type AS state, valid_from,
      |    lead(valid_from) OVER (PARTITION BY user_id
      |                           ORDER BY valid_from, run_id) AS valid_to
      |  FROM collapsed)
      |SELECT COALESCE(state, 'none') AS state,
      |  count(*) AS n_purchases, count(DISTINCT user_id) AS n_users
      |FROM (SELECT user_id, ts FROM e WHERE event_type = 'purchase') p
      |LEFT JOIN states ON p.user_id = s_user
      |  AND p.ts >= valid_from
      |  AND (valid_to IS NULL OR p.ts < valid_to)
      |GROUP BY 1""".stripMargin

  /** Rolling distinct actives (DAU + trailing-7-day WAU per day) — the
    * exact form of the windowed-distinct problem. `count(DISTINCT)`
    * does not compose over sliding windows (users active on several
    * days must count once), so the exact answer is a day-grid × user-day
    * interval join: the grid is BOUNDED (one row per day — dozens at
    * any corpus size), so the nested-loop side broadcasts and the real
    * work is the one distinct-agg shuffle, ~7× the user-day table. At
    * 100 TB the approximate path is per-day HLL sketches merged over
    * the trailing window (q53's HLL discipline applied over time);
    * this gate pins the exact semantics those sketches approximate. */
  def q99RollingActives(s: SparkSession, d: String): DataFrame = {
    val ud = events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val days = ud.select(col("day").as("d")).distinct()
    ud.join(broadcast(days),
        col("day").between(date_sub(col("d"), 6), col("d")))
      .groupBy(col("d"))
      .agg(countDistinct(col("user_id")).as("wau"),
        countDistinct(when(col("day") === col("d"), col("user_id"))).as("dau"))
  }

  val q99Sql: String =
    """WITH ud AS (
      |  SELECT DISTINCT user_id,
      |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
      |  FROM events),
      |days AS (SELECT DISTINCT day AS d FROM ud)
      |SELECT d, count(DISTINCT user_id) AS wau,
      |  count(DISTINCT CASE WHEN day = d THEN user_id END) AS dau
      |FROM ud JOIN days ON day BETWEEN d - INTERVAL 6 DAY AND d
      |GROUP BY 1""".stripMargin

  /** Markov transition counts over each user's event stream: the
    * (from_type → to_type) adjacency of consecutive events, with the
    * per-source row total carried alongside so P(to|from) = cnt /
    * from_total is computable by the caller without a division in the
    * gated output (cross-engine decimal-division scale rules differ;
    * both factors are exact BIGINTs). Order within a user is
    * (ts, event_id) — the same deterministic total order the SCD2 runs
    * (q80) use, so same-timestamp events tie-break identically on both
    * engines.
    *
    * Scale shape: one shuffle of events on user_id for the lead()
    * window (the partitioning sessionize/q16/q80 already use — at a
    * real deployment these share one exchange), then a partially-
    * aggregated groupBy down to the |types|² transition matrix; the
    * from_total window runs on that matrix-sized frame, never on the
    * event log. */
  def q104EventTransitions(s: SparkSession, d: String): DataFrame =
    eventTransitions(events(s, d))

  def eventTransitions(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val counts = ev
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("from_type"))
      .withColumn("to_type", lead(col("from_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("cnt"))
    counts.withColumn("from_total",
      sum(col("cnt")).over(Window.partitionBy(col("from_type"))))
  }

  val q104Sql: String =
    """WITH steps AS (
      |  SELECT event_type AS from_type,
      |    lead(event_type) OVER (PARTITION BY user_id
      |                           ORDER BY CAST(ts AS TIMESTAMP), event_id)
      |      AS to_type
      |  FROM events),
      |m AS (
      |  SELECT from_type, to_type, count(*) AS cnt FROM steps
      |  WHERE to_type IS NOT NULL GROUP BY 1, 2)
      |SELECT from_type, to_type, cnt,
      |  CAST(sum(cnt) OVER (PARTITION BY from_type) AS BIGINT) AS from_total
      |FROM m""".stripMargin

  /** Gaps-and-islands interval coalescing: each order is "open" from
    * o_orderdate to its LAST shipment; overlapping/touching open windows
    * of one customer merge into maximal engagement periods. The merge is
    * the classic running-max island construction: a row starts a new
    * island iff its start strictly exceeds the max end seen so far in
    * (start, end) order. Island EXTENTS are tie-order invariant (equal
    * starts: whichever row the engine visits first opens the island,
    * the other lands in it), so both engines agree on the output even
    * though ROWS frames order ties differently.
    *
    * Scale shape: one shuffle on the merge key for the windowed sort
    * (both window functions share the single sort), running max/sum
    * stream in O(1) memory per row, and the output is islands-sized.
    * Timestamp comparisons are exact micros — no float anywhere. */
  def q107IntervalMerge(s: SparkSession, d: String): DataFrame = {
    val spans = orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      .join(lineitem(s, d).select(col("l_orderkey"), col("l_shipdate")),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_custkey").as("k"), col("o_orderdate").as("s"))
      .agg(max(col("l_shipdate")).as("mx"))
      .select(col("k"), col("s"), greatest(col("mx"), col("s")).as("e"))
    intervalMerge(spans)
  }

  /** Merge overlapping closed intervals (k, s, e) per key k; touching
    * intervals (next.s == prev.e) merge. */
  def intervalMerge(iv: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("k")).orderBy(col("s"), col("e"))
    iv
      .withColumn("pmax", max(col("e")).over(
        w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("brk",
        when(col("pmax").isNull || col("s") > col("pmax"), 1L).otherwise(0L))
      .withColumn("island", sum(col("brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("k"), col("island"))
      .agg(min(col("s")).as("merged_from"), max(col("e")).as("merged_to"),
        count(lit(1)).as("n_spans"))
  }

  val q107Sql: String =
    """WITH spans AS (
      |  SELECT o_custkey AS k, o_orderdate AS s,
      |    greatest(max(l_shipdate), o_orderdate) AS e
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |  GROUP BY 1, 2),
      |f AS (
      |  SELECT k, s, e,
      |    max(e) OVER (PARTITION BY k ORDER BY s, e
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |      AS pmax
      |  FROM spans),
      |g AS (
      |  SELECT k, s, e,
      |    CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END AS brk
      |  FROM f),
      |h AS (
      |  SELECT k, s, e,
      |    CAST(sum(brk) OVER (PARTITION BY k ORDER BY s, e
      |                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS island
      |  FROM g)
      |SELECT k, island, min(s) AS merged_from, max(e) AS merged_to,
      |  count(*) AS n_spans
      |FROM h GROUP BY 1, 2""".stripMargin

  /** Exponentially time-decayed activity score per event type ("what's
    * trending") with a one-week half-life, in INTEGER FIXED-POINT: an
    * event k full weeks old weighs 2³⁰⁻ᵏ units of 2⁻³⁰ (floored at 30
    * weeks — beyond that an event contributes one unit). Powers of two
    * make the decay exact integer arithmetic on both engines — the q81
    * discipline applied to decay curves, where a pow(0.5, age/7.0)
    * double formulation would diverge ULP-by-ULP across engines and
    * accumulation orders. The anchor is the corpus max day (data-driven,
    * so the operator is re-runnable on any snapshot).
    *
    * Scale shape: anchor is a 1-row broadcast; weights are per-row
    * expressions; one partially-aggregated shuffle onto the types-sized
    * output. */
  def q110TrendingDecay(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
      .select(col("event_type"), to_date(col("ts")).as("day"))
    val mx = ev.agg(max(col("day")).as("maxd"))
    ev.crossJoin(broadcast(mx))
      .select(col("event_type"),
        expr("shiftright(1073741824L, " +
          "cast(least(datediff(maxd, day) div 7, 30) as int))").as("wt"))
      .groupBy(col("event_type"))
      .agg(sum(col("wt")).as("decayed_e30"), count(lit(1)).as("n_events"))
  }

  val q110Sql: String =
    """WITH ev AS (
      |  SELECT event_type,
      |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
      |  FROM events),
      |mx AS (SELECT max(day) AS maxd FROM ev)
      |SELECT event_type,
      |  CAST(sum(1073741824 >> least(datediff('day', day, maxd) // 7, 30))
      |    AS BIGINT) AS decayed_e30,
      |  count(*) AS n_events
      |FROM ev CROSS JOIN mx GROUP BY 1""".stripMargin

  /** Modal event type per user (dominant-activity profile) with the
    * deterministic tie rule "highest count, then lexicographically
    * smallest type" — expressed as min_by on the (−count, type) struct
    * key so the argmax is PARTIAL aggregation end to end: candidate
    * (type, count) rows collapse map-side and the user's winner needs
    * no window or per-user sort. Counts are BIGINT; no numeric
    * convention needed. */
  def q115UserMode(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("user_id"))
      .agg(
        min_by(struct(col("event_type"), col("n")),
          struct(negate(col("n")), col("event_type"))).as("w"),
        sum(col("n")).as("n_events"))
      .select(col("user_id"), col("w.event_type").as("modal_type"),
        col("w.n").as("n_modal"), col("n_events"))

  val q115Sql: String =
    """WITH c AS (
      |  SELECT user_id, event_type, count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |r AS (
      |  SELECT user_id, event_type, n,
      |    sum(n) OVER (PARTITION BY user_id) AS n_events,
      |    row_number() OVER (PARTITION BY user_id
      |                       ORDER BY n DESC, event_type) AS rn
      |  FROM c)
      |SELECT user_id, event_type AS modal_type, n AS n_modal,
      |  CAST(n_events AS BIGINT) AS n_events
      |FROM r WHERE rn = 1""".stripMargin

  private val MaxLag = 6

  /** Lead–lag cross-correlation of event-type hourly series: for every
    * ordered type pair (a, b) and lag 0..6 hours, the RAW product sum
    * Σ_h cnt_a(h)·cnt_b(h+lag) plus the overlap size — "does b follow a
    * k hours later". The sum is exact BIGINT on integer counts, so the
    * sweep is bit-identical across engines; mean-centering/normalizing
    * to a Pearson r is float territory deliberately left to consumers
    * (the q96 moments give them the exact ingredients).
    *
    * Scale shape: the ONE events-sized stage is the hourly partial-agg
    * (types×hours output); the lag sweep explodes THAT small matrix ×7
    * and self-joins on the shifted hour — never events×events, and the
    * frame is checkpointed once for both join legs. Output is bounded
    * by |types|²·(MaxLag+1). */
  def q117LagXcorr(s: SparkSession, d: String): DataFrame = {
    val h = events(s, d)
      .groupBy(col("event_type").as("et"),
        expr("unix_micros(ts) div 3600000000").as("hr"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint(false)
    val a = h.select(col("et").as("type_a"), col("hr"), col("cnt").as("ca"))
    val b = h.select(col("et").as("type_b"), col("hr").as("bhr"),
      col("cnt").as("cb"))
    a.withColumn("lag", explode(array((0 to MaxLag).map(l => lit(l.toLong)): _*)))
      .withColumn("bhr", col("hr") + col("lag"))
      .join(b, Seq("bhr"))
      .groupBy(col("type_a"), col("type_b"), col("lag"))
      .agg(sum(col("ca") * col("cb")).as("xprod"),
        count(lit(1)).as("n_hours"))
  }

  val q117Sql: String =
    s"""WITH h AS (
       |  SELECT event_type AS et,
       |    epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS hr,
       |    count(*) AS cnt
       |  FROM events GROUP BY 1, 2),
       |l AS (SELECT unnest(range(0, ${MaxLag + 1})) AS lag)
       |SELECT a.et AS type_a, b.et AS type_b, l.lag,
       |  CAST(sum(a.cnt * b.cnt) AS BIGINT) AS xprod,
       |  count(*) AS n_hours
       |FROM h a CROSS JOIN l
       |JOIN h b ON b.hr = a.hr + l.lag
       |GROUP BY 1, 2, 3""".stripMargin

  /** Hourly OHLC bars per event type — the time-series downsampling
    * primitive (resample + first/last/min/max/volume). open/close are
    * min_by/max_by on the (ts, event_id) struct: deterministic under ts
    * ties via the unique event_id, and PARTIAL aggregation end to end —
    * no window, no per-bar sort, ONE shuffle on the (type, hour) bar
    * key with map-side combine, so it scales as pure aggregation.
    * (The oracle has no composite-key arg_min, so it uses row_number
    * windows — deliberately NOT the shape we run.)
    *
    * Numeric convention: open/high/low/close are raw stored doubles
    * (no arithmetic → bit-exact across engines); turnover sums in
    * DECIMAL(38,10) after an identical cast on both sides, so the
    * addition order doesn't matter. */
  /** Aggregate-strategy note (measured, BASELINE.md §"Round-9: OHLC
    * aggregate-strategy A/B (q119)"):
    * the struct ordering key makes the aggregation buffer a struct, which
    * HashAggregate can't mutate in place — Spark plans SortAggregate with
    * a per-partition sort on the bar key. The tempting "fix" — packing
    * (ts, event_id) into one DECIMAL(38,0) scalar so the buffer stays
    * hash-mutable — LOSES ~40% at sf0.1 (0.53 s vs 0.37 s median): two
    * wide-decimal multiplies per row cost more than the sort, and the
    * sort's per-task cost is BOUNDED at any corpus size because task
    * input is fixed by partition sizing (the log n factor is log of rows
    * per task, not rows total). Both forms are partial-agg before the one
    * bar-key exchange; the struct form is the measured winner. */
  private[operators] def ohlcBars(ev: DataFrame): DataFrame =
    ev
      .select(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("hr"),
        col("ts"), col("event_id"), col("value"))
      .groupBy(col("event_type"), col("hr"))
      .agg(
        min_by(col("value"), struct(col("ts"), col("event_id"))).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), struct(col("ts"), col("event_id"))).as("close"),
        count(lit(1)).as("volume"),
        // Sum in DECIMAL(38,10) (exact at 100 TB row counts), but emit
        // DOUBLE: the gate's hasher only normalizes {int64, double,
        // string, date, timestamp} identically across engines — 128-bit
        // decimals render differently from DuckDB's DECIMAL and
        // hash-mismatch though cell-equal (round-9 verdict).
        sum(col("value").cast("decimal(38,10)")).cast("double")
          .as("turnover"))

  def q119OhlcBars(s: SparkSession, d: String): DataFrame =
    ohlcBars(events(s, d))

  val q119Sql: String =
    """WITH e AS (
      |  SELECT event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS hr,
      |    ts, event_id, value
      |  FROM events),
      |w AS (
      |  SELECT *,
      |    row_number() OVER (PARTITION BY event_type, hr
      |                       ORDER BY ts, event_id) AS rn_o,
      |    row_number() OVER (PARTITION BY event_type, hr
      |                       ORDER BY ts DESC, event_id DESC) AS rn_c
      |  FROM e)
      |SELECT event_type, hr,
      |  max(CASE WHEN rn_o = 1 THEN value END) AS open,
      |  max(value) AS high, min(value) AS low,
      |  max(CASE WHEN rn_c = 1 THEN value END) AS close,
      |  count(*) AS volume,
      |  CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE) AS turnover
      |FROM w GROUP BY 1, 2""".stripMargin

  /** Cumulative distinct users by day ("growth curve"). Running
    * count-distinct is the textbook unscalable window; the scalable
    * identity is first-seen collapse: distinct-users-through-day-d =
    * Σ_{d'≤d} (#users first seen on d'). One user-keyed partial-agg
    * min, one day-keyed count, and a running sum over the tiny
    * days-sized frame — the events table is never windowed. */
  private[operators] def cumulativeUsers(ev: DataFrame): DataFrame = {
    val firstSeen = ev
      .groupBy(col("user_id"))
      .agg(min(to_date(col("ts"))).as("day"))
    val perDay = firstSeen.groupBy(col("day"))
      .agg(count(lit(1)).as("new_users"))
    perDay
      .withColumn("cum_users",
        sum(col("new_users")).over(
          Window.orderBy(col("day"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("day"), col("new_users"), col("cum_users"))
  }

  def q122CumulativeUsers(s: SparkSession, d: String): DataFrame =
    cumulativeUsers(events(s, d))

  val q122Sql: String =
    """WITH fs AS (
      |  SELECT user_id, min(CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS day
      |  FROM events GROUP BY 1),
      |pd AS (SELECT day, count(*) AS new_users FROM fs GROUP BY 1)
      |-- CAST: DuckDB widens window sum(BIGINT) to HUGEINT (int128),
      |-- which the gate's hasher normalizes differently from Spark's
      |-- int64 though values are equal; BIGINT is exact here (bounded
      |-- by total user count).
      |SELECT day, new_users,
      |  CAST(sum(new_users) OVER (ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS cum_users
      |FROM pd""".stripMargin

  /** χ² contingency of event_type × customer market segment — "does
    * behavior depend on segment", the independence test behind every
    * segmentation dashboard. Output is the full contingency matrix with
    * observed counts, expected counts under independence, and per-cell
    * χ² contributions (their sum is the statistic; kept per-cell so the
    * oracle compares exactly and the interesting cells are visible).
    *
    * Scale shape: ONE fact×dim join (events to customer — broadcast
    * while the dim fits, shuffle-hash beyond; orphan user_ids drop on
    * both engines by the inner join), collapsed immediately to the
    * types×segments matrix by partial agg; marginals and the total are
    * aggregates OF THE MATRIX, so everything after the first join is
    * bounded by |types|·|segments| regardless of corpus size. */
  def q124Chi2(s: SparkSession, d: String): DataFrame =
    chi2Contingency(events(s, d), customer(s, d))

  /** See [[q124Chi2]]; any events-shaped and customer-shaped frames. */
  private[operators] def chi2Contingency(ev: DataFrame, cust: DataFrame): DataFrame = {
    val o = ev
      .join(cust, col("user_id") === col("c_custkey"))
      .groupBy(col("event_type"), col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("obs"))
    val r = o.groupBy(col("event_type")).agg(sum(col("obs")).as("rt"))
    val c = o.groupBy(col("segment")).agg(sum(col("obs")).as("ct"))
    val n = o.agg(sum(col("obs")).as("n"))
    val e = (col("rt").cast("double") * col("ct")) / col("n")
    o.join(r, Seq("event_type")).join(c, Seq("segment"))
      .crossJoin(broadcast(n))
      .select(col("event_type"), col("segment"), col("obs"),
        round(e, 6).as("expected"),
        round(((col("obs").cast("double") - e) * (col("obs").cast("double") - e)) / e, 6)
          .as("contrib"))
  }

  val q124Sql: String =
    """WITH o AS (
      |  SELECT event_type, c_mktsegment AS segment, count(*) AS obs
      |  FROM events e JOIN customer c ON c.c_custkey = e.user_id
      |  GROUP BY 1, 2),
      |r AS (SELECT event_type, sum(obs) AS rt FROM o GROUP BY 1),
      |c AS (SELECT segment, sum(obs) AS ct FROM o GROUP BY 1),
      |n AS (SELECT sum(obs) AS n FROM o)
      |SELECT o.event_type, o.segment, obs,
      |  round((CAST(rt AS DOUBLE) * ct) / n, 6) AS expected,
      |  round(((CAST(obs AS DOUBLE) - (CAST(rt AS DOUBLE) * ct) / n) *
      |         (CAST(obs AS DOUBLE) - (CAST(rt AS DOUBLE) * ct) / n)) /
      |        ((CAST(rt AS DOUBLE) * ct) / n), 6) AS contrib
      |FROM o JOIN r ON r.event_type = o.event_type
      |JOIN c ON c.segment = o.segment CROSS JOIN n""".stripMargin

  /** Inter-event time distribution per event type — the arrival-process
    * profile (bot detection, cadence monitoring, retention-model input):
    * for each consecutive same-type pair within a user's stream, the gap
    * in seconds; reported as exact p50/p90 per type. Gap ordering uses
    * the (ts, event_id) tiebreak so ties can't flip a gap's sign.
    *
    * Scale shape: ONE (user, type) exchange serves the lag window; the
    * percentile then groups by type. `percentile` is EXACT (buffers per
    * type) to stay oracle-comparable — the 100 TB swap is
    * `approx_percentile`, whose rank-error contract q63 gates. */
  def q127EventGaps(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    events(s, d)
      .withColumn("us", expr("unix_micros(ts)"))
      .withColumn("gap_us", col("us") - lag(col("us"), 1).over(w))
      .filter(col("gap_us").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_gaps"),
        round(expr("percentile(gap_us / 1000000.0D, 0.5D)"), 6).as("p50_s"),
        round(expr("percentile(gap_us / 1000000.0D, 0.9D)"), 6).as("p90_s"))
  }

  val q127Sql: String =
    """WITH g AS (
      |  SELECT event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) -
      |    lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
      |      PARTITION BY user_id, event_type
      |      ORDER BY ts, event_id) AS gap_us
      |  FROM events)
      |SELECT event_type, count(*) AS n_gaps,
      |  round(quantile_cont(gap_us / 1000000.0, 0.5), 6) AS p50_s,
      |  round(quantile_cont(gap_us / 1000000.0, 0.9), 6) AS p90_s
      |FROM g WHERE gap_us IS NOT NULL
      |GROUP BY 1""".stripMargin

  /** RFM segmentation — recency/frequency/monetary quintile scores per
    * user, the classic marketing segmentation (a "555" is your best
    * user). The naive form is three `ntile(5) OVER (ORDER BY …)` global
    * windows — three Exchange SinglePartition sorts of the user
    * universe. Here each score composes [[Relational.globalRank]] (range
    * partition + local rank + broadcast offsets — q97's machinery), and
    * the quintile is integer arithmetic on the exact rank:
    * (rnk·5 − 1) div n + 1, identical on both engines, so no NTILE
    * anywhere. Higher score = more recent / more frequent / more spend
    * (ascending rank, tiebreak user_id). The only events-sized stage is
    * the per-user aggregate; the three ranks run on the users-sized
    * frame (checkpointed once — three consumers must see ONE
    * materialization). */
  def q129Rfm(s: SparkSession, d: String): DataFrame =
    rfm(events(s, d))

  /** See [[q129Rfm]]; any events-shaped frame. */
  private[operators] def rfm(ev: DataFrame): DataFrame = {
    val u = ev.groupBy(col("user_id"))
      .agg(max(expr("unix_micros(ts)")).as("last_us"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).as("monetary"))
      .localCheckpoint(false)
    val n = u.agg(count(lit(1)).as("n"))
    def score(value: Column, out: String): DataFrame =
      Relational.globalRank(u, value, col("user_id"), parts = 32)
        .select(col("user_id"), col("rnk").as(out))
    score(col("last_us"), "r_rnk")
      .join(score(col("n_events"), "f_rnk"), Seq("user_id"))
      .join(score(col("monetary"), "m_rnk"), Seq("user_id"))
      .crossJoin(broadcast(n))
      .selectExpr("user_id",
        "CAST((r_rnk*5 - 1) div n + 1 AS INT) AS r_score",
        "CAST((f_rnk*5 - 1) div n + 1 AS INT) AS f_score",
        "CAST((m_rnk*5 - 1) div n + 1 AS INT) AS m_score")
      .withColumn("segment",
        concat(col("r_score"), col("f_score"), col("m_score")))
  }

  val q129Sql: String =
    """WITH u AS (
      |  SELECT user_id, max(epoch_us(CAST(ts AS TIMESTAMP))) AS last_us,
      |    count(*) AS n_events,
      |    sum(CAST(value AS DECIMAL(18,2))) AS monetary
      |  FROM events GROUP BY 1),
      |n AS (SELECT count(*) AS n FROM u),
      |rk AS (
      |  SELECT user_id,
      |    row_number() OVER (ORDER BY last_us, user_id) AS r_rnk,
      |    row_number() OVER (ORDER BY n_events, user_id) AS f_rnk,
      |    row_number() OVER (ORDER BY monetary, user_id) AS m_rnk
      |  FROM u)
      |SELECT user_id,
      |  CAST((r_rnk*5 - 1) // n + 1 AS INT) AS r_score,
      |  CAST((f_rnk*5 - 1) // n + 1 AS INT) AS f_score,
      |  CAST((m_rnk*5 - 1) // n + 1 AS INT) AS m_score,
      |  CAST((r_rnk*5 - 1) // n + 1 AS VARCHAR) ||
      |  CAST((f_rnk*5 - 1) // n + 1 AS VARCHAR) ||
      |  CAST((m_rnk*5 - 1) // n + 1 AS VARCHAR) AS segment
      |FROM rk CROSS JOIN n""".stripMargin

  /** Two-sample Kolmogorov–Smirnov statistic between the `value`
    * distributions of click and purchase events — the standard drift
    * test between two empirical distributions ("did the metric's shape
    * change"). INTEGER-EXACT: instead of max |F₁(x) − F₂(x)| in
    * floating point, report the integer numerator
    * ks_num = max over pooled values of |c₁(x)·n₂ − c₂(x)·n₁|
    * (D = ks_num / (n₁·n₂)), with the location of the max (min such
    * value as the tiebreak) — no division, no rounding convention,
    * identical on both engines. Products go through DECIMAL(38,0) /
    * HUGEINT (the q106 widening): at 100 TB c·n exceeds BIGINT.
    *
    * Scale shape: one partial-agg shuffle to per-value (a, b) counts;
    * the empirical CDFs are a DISTRIBUTED PREFIX SCAN (the
    * [[Relational.globalRank]] two-pass scheme: range partition on
    * value, per-partition running sums, broadcast per-partition
    * totals) — never a single-partition window over the data; the
    * final max/argmin is a scalar aggregate. */
  def q138KsTest(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("value"), (col("event_type") === "click").as("isa"))
    ksTest2(ev, parts = 32)
  }

  /** See [[q138KsTest]]; any (value, isa) frame — isa marks sample A. */
  private[operators] def ksTest2(rows: DataFrame, parts: Int): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val g = rows.groupBy(col("value"))
      .agg(sum(when(col("isa"), 1L).otherwise(0L)).as("a"),
        sum(when(!col("isa"), 1L).otherwise(0L)).as("b"))
    val parted = g.repartitionByRange(parts, col("value"))
      .withColumn("pid", spark_partition_id())
      .localCheckpoint()
    val wo = Window.orderBy(col("pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = parted.groupBy(col("pid"))
      .agg(sum(col("a")).as("pa"), sum(col("b")).as("pb"))
      .withColumn("oa", coalesce(sum(col("pa")).over(wo), lit(0L)))
      .withColumn("ob", coalesce(sum(col("pb")).over(wo), lit(0L)))
      .select(col("pid"), col("oa"), col("ob"))
    val n = g.agg(sum(col("a")).as("n1"), sum(col("b")).as("n2"))
    val wc = Window.partitionBy(col("pid")).orderBy(col("value"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dec = DecimalType(38, 0)
    val cum = parted
      .withColumn("ca", sum(col("a")).over(wc))
      .withColumn("cb", sum(col("b")).over(wc))
      .join(broadcast(offs), Seq("pid"))
      .crossJoin(broadcast(n))
      .select(col("value"),
        abs((col("ca") + col("oa")).cast(dec) * col("n2").cast(dec) -
          (col("cb") + col("ob")).cast(dec) * col("n1").cast(dec))
          .cast(dec).as("diff"),
        col("n1"), col("n2"))
      .localCheckpoint()
    val m = cum.agg(max(col("diff")).as("ks_num"))
    cum.join(broadcast(m), col("diff") === col("ks_num"))
      .groupBy(col("ks_num"), col("n1"), col("n2"))
      .agg(min(col("value")).as("at_value"))
      // The max-diff comparison above stays DECIMAL(38,0) (exact at
      // 100 TB where c·n overflows BIGINT); only the OUTPUT is cast to
      // BIGINT — exact at every gated SF and inside the hasher-safe
      // dtype set ({int64, double, string, date, timestamp}); 128-bit
      // decimals hash-mismatch vs DuckDB HUGEINT though cell-equal.
      .select(col("ks_num").cast("long").as("ks_num"),
        col("at_value"), col("n1"), col("n2"))
  }

  val q138Sql: String =
    """WITH r AS (
      |  SELECT value, event_type = 'click' AS isa FROM events
      |  WHERE event_type IN ('click', 'purchase')),
      |g AS (
      |  SELECT value,
      |    sum(CASE WHEN isa THEN 1 ELSE 0 END) AS a,
      |    sum(CASE WHEN NOT isa THEN 1 ELSE 0 END) AS b
      |  FROM r GROUP BY 1),
      |n AS (SELECT CAST(sum(a) AS BIGINT) AS n1,
      |             CAST(sum(b) AS BIGINT) AS n2 FROM g),
      |c AS (
      |  SELECT value,
      |    sum(a) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING) AS ca,
      |    sum(b) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING) AS cb
      |  FROM g),
      |dd AS (
      |  SELECT value,
      |    abs(CAST(ca AS HUGEINT) * n2 - CAST(cb AS HUGEINT) * n1) AS diff,
      |    n1, n2
      |  FROM c CROSS JOIN n),
      |m AS (SELECT max(diff) AS ks_num FROM dd)
      |SELECT CAST(m.ks_num AS BIGINT) AS ks_num,
      |  min(dd.value) AS at_value,
      |  min(dd.n1) AS n1, min(dd.n2) AS n2
      |FROM dd JOIN m ON dd.diff = m.ks_num
      |GROUP BY m.ks_num""".stripMargin

  /** Portable HYPERLOGLOG sketch state (Flajolet et al. 2007) for
    * distinct users: 256 registers, each the max "rank" (position of
    * the first 1-bit in a 40-bit hash suffix) seen for keys routed to
    * it. The output IS the mergeable sketch — element-wise max unions
    * two sketches, which is what a 1000-executor distinct-count
    * actually ships between nodes instead of the keys themselves; the
    * estimate is α·m²/Σ2^(−rank), derived in SketchSpec. Unlike
    * approx_count_distinct (whose HLL++ state is Spark-internal and
    * engine-specific), every bit here is defined by md5 — so the gate
    * compares REGISTERS exactly across engines, not an estimate within
    * tolerance. No DISTINCT anywhere: duplicate keys hash to identical
    * (register, rank) and drown in the max — the whole point of the
    * sketch.
    *
    * Scale shape: one narrow map (hash → register, rank) then a
    * partial-agg max onto 256 groups: the shuffle carries at most
    * 256 rows per map task regardless of corpus size. Rank arithmetic
    * is integer-exact via length(bin(w)) — no log2, whose rounding
    * could flip a register across engines. */
  def q140HllRegisters(s: SparkSession, d: String): DataFrame =
    hllRegisters(events(s, d).select(col("user_id").cast("string").as("key")))

  /** See [[q140HllRegisters]]; any single-column (key: string) frame —
    * batch OR streaming: under Update/Complete output the stateful max
    * holds exactly the 256-row register state and each micro-batch
    * folds new maxima in, which IS streaming HLL maintenance
    * (StreamingSpec diffs the two modes). */
  private[graft] def hllRegisters(keys: DataFrame): DataFrame =
    hllRanks(keys.select(md5(col("key")).as("hx")), col("hx"))
      .groupBy(col("reg"))
      .agg(max(col("rank")).cast("long").as("max_rank"))

  /** The q140 step over md5 hex column `hex`: (`keep`, reg = hex chars
    * 1–2, rank = 41 − length(bin(w)) for w = chars 3–12, 41 if w = 0). Two
    * projections, so w is computed once per row. */
  private[graft] def hllRanks(df: DataFrame, hex: Column, keep: Column*): DataFrame =
    df.select(keep ++ Seq(
        conv(substring(hex, 1, 2), 16, 10).cast("long").as("reg"),
        conv(substring(hex, 3, 10), 16, 10).cast("long").as("w")): _*)
      .select(keep ++ Seq(col("reg"),
        when(col("w") === 0, lit(41L))
          .otherwise(lit(41L) - length(bin(col("w")))).as("rank")): _*)

  val q140Sql: String =
    """WITH h AS (
      |  SELECT md5(CAST(user_id AS VARCHAR)) AS hx FROM events),
      |p AS (SELECT
      |  16 * (strpos('0123456789abcdef', substr(hx, 1, 1)) - 1)
      |     + (strpos('0123456789abcdef', substr(hx, 2, 1)) - 1) AS reg,
      |  list_reduce(list_transform(range(10),
      |    i -> CAST(strpos('0123456789abcdef', substr(hx, 3 + i, 1)) - 1
      |         AS BIGINT)),
      |    (a, b) -> a * 16 + b) AS w
      |  FROM h)
      |SELECT CAST(reg AS BIGINT) AS reg,
      |  CAST(max(CASE WHEN w = 0 THEN 41
      |           ELSE 41 - length(bin(w)) END) AS BIGINT) AS max_rank
      |FROM p GROUP BY reg""".stripMargin

  /** TIME-WEIGHTED average of `value` per event type (TWAP): each
    * observation holds until the next one, so the mean weights every
    * value by its holding duration in integer MICROSECONDS — the
    * correct average for irregularly-sampled series where the plain
    * mean over-counts bursts. Weighted sums accumulate in DECIMAL (the
    * q96 moment discipline: per-row products are deterministic double
    * ops, only the ACCUMULATION must be order-free), divided once by
    * the exact integer total duration.
    *
    * Scale shape: consecutive-pair durations need each row's SUCCESSOR
    * in the (type, ts, id) order — the naive lead() is one data-sized
    * window partition per type (a 5-way parallelism ceiling here, a
    * catastrophe at 100 TB). Instead: DISTRIBUTED LEAD — range-
    * partition the order, per-partition lead for everything but each
    * partition's last row, and stitch those last rows to the next
    * non-empty partition's first row on the ≤`parts`-row boundary
    * frame (the globalRank offsets idea applied to neighbor access;
    * type changes at a boundary are discarded the same way the
    * within-partition lead discards them). */
  def q143Twap(s: SparkSession, d: String): DataFrame =
    twap(events(s, d)
      .select(col("event_type"), col("ts"), col("event_id"), col("value")),
      parts = 32)

  /** See [[q143Twap]]; any (event_type, ts, event_id, value) frame. */
  private[operators] def twap(ev: DataFrame, parts: Int): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val parted = ev
      .repartitionByRange(parts, col("event_type"), col("ts"), col("event_id"))
      .withColumn("pid", spark_partition_id())
      .localCheckpoint()
    val w = Window.partitionBy(col("pid"))
      .orderBy(col("event_type"), col("ts"), col("event_id"))
    val dw = Window.partitionBy(col("pid"))
      .orderBy(col("event_type").desc, col("ts").desc, col("event_id").desc)
    val within = parted
      .withColumn("ntype", lead(col("event_type"), 1).over(w))
      .withColumn("nt", lead(col("ts"), 1).over(w))
      .withColumn("rn_first", row_number().over(w))
      .withColumn("rn_last", row_number().over(dw))
    // ≤parts-row boundary frames: each partition's first row, and the
    // stitch target for each partition's last row = the first row of
    // the minimal non-empty pid greater than it
    val firsts = within.filter(col("rn_first") === 1)
      .select(col("pid").as("fpid"), col("event_type").as("ftype"),
        col("ts").as("fts"))
    val stitched = within.filter(col("rn_last") === 1)
      .join(broadcast(firsts), col("fpid") > col("pid"), "left")
      .withColumn("pick", row_number().over(
        Window.partitionBy(col("pid"), col("event_type"), col("ts"),
          col("event_id")).orderBy(col("fpid"))))
      .filter(col("pick") === 1)
      .select(col("event_type"), col("ts"), col("value"),
        when(col("ftype") === col("event_type"), col("fts")).as("nt"))
    val within2 = within.filter(col("nt").isNotNull)
      .select(col("event_type"), col("ts"), col("value"),
        when(col("ntype") === col("event_type"), col("nt")).as("nt"))
    within2.unionAll(stitched)
      .filter(col("nt").isNotNull)
      .withColumn("dur", unix_micros(col("nt")) - unix_micros(col("ts")))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_segments"),
        sum(col("dur")).as("total_us"),
        round(sum((col("value") * col("dur")).cast(DecimalType(38, 4)))
          .cast("double") / sum(col("dur")).cast("double"), 6).as("twap6"))
  }

  val q143Sql: String =
    """WITH w AS (
      |  SELECT event_type, value, ts,
      |    lead(ts) OVER (PARTITION BY event_type
      |                   ORDER BY ts, event_id) AS nt
      |  FROM events),
      |seg AS (
      |  SELECT event_type, value,
      |    epoch_us(nt) - epoch_us(ts) AS dur
      |  FROM w WHERE nt IS NOT NULL)
      |SELECT event_type, count(*) AS n_segments,
      |  CAST(sum(dur) AS BIGINT) AS total_us,
      |  round(CAST(sum(CAST(value * dur AS DECIMAL(38,4))) AS DOUBLE)
      |        / CAST(sum(dur) AS DOUBLE), 6) AS twap6
      |FROM seg GROUP BY event_type""".stripMargin

  /** Portable COUNT-MIN sketch (Cormode–Muthukrishnan 2005) over user
    * activity: d=4 rows × w=64 counters; each key increments one
    * counter per row at column md5(row:key) mod w, and a point
    * frequency estimate is the MIN of the key's d counters (derived in
    * SketchSpec, with the one-sided-overestimate guarantee checked).
    * Like the q140 HLL, the gated output is the SKETCH STATE itself,
    * defined bit-for-bit by md5 — so the gate compares the mergeable
    * registers exactly across engines, not an estimate within
    * tolerance. Counters ADD under union, which is what a
    * 1000-executor frequency service ships between nodes instead of
    * the keys.
    *
    * Scale shape: a 4× fan-out map (constant), then partial-agg count
    * onto ≤256 groups — each map task ships at most 256 rows into the
    * shuffle regardless of corpus size. */
  def q145CmsSketch(s: SparkSession, d: String): DataFrame =
    cmsSketch(events(s, d).select(col("user_id").cast("string").as("key")))

  /** See [[q145CmsSketch]]; any single-column (key: string) frame —
    * batch OR streaming: the stateful count under Update/Complete mode
    * holds exactly the ≤256-counter state and each micro-batch adds new
    * increments in, which IS streaming CMS maintenance (StreamingSpec
    * diffs the two modes). */
  private[graft] def cmsSketch(keys: DataFrame): DataFrame =
    cmsSketchW(keys, 64L)

  /** Width-parameterized CMS: q145 gates the 64-wide form; the join-
    * cardinality estimator (q204) needs width ≈ the additive-error
    * budget ||f_A||₁·||f_B||₁/ε and uses 16384. */
  private[graft] def cmsSketchW(keys: DataFrame, w: Long): DataFrame =
    cmsCells(keys, w)
      .groupBy(col("row_idx"), col("col_idx"))
      .agg(count(lit(1)).as("cnt"))

  /** [[cmsSketchW]] folded from a pre-aggregated (key, kn) multiplicity
    * frame: cell-identical output (a CMS cell's count is the sum of its
    * keys' multiplicities either way), but md5 runs once per DISTINCT
    * key instead of once per row, and the caller shares the count
    * frame's Exchange with the exact referee it is graded against
    * (SketchPlanner q204/q205/q211/q217 — guide §1.2/§2.3). */
  private[graft] def cmsSketchWeighted(keyCounts: DataFrame, w: Long): DataFrame =
    cmsCells(keyCounts, w, col("kn"))
      .groupBy(col("row_idx"), col("col_idx"))
      .agg(sum(col("kn")).as("cnt"))

  /** The CMS fan-out: each key lands in all 4 rows, at column
    * md5(row:key) mod w; `keep` columns ride along. */
  private def cmsCells(keys: DataFrame, w: Long, keep: Column*): DataFrame =
    keys
      .select(Seq(col("key")) ++ keep :+
        explode(array((0 until 4).map(i => lit(i.toLong)): _*)).as("row_idx"): _*)
      .select(Seq(col("row_idx"),
        md5Bucket(concat_ws(":", col("row_idx").cast("string"), col("key")), w)
          .as("col_idx")) ++ keep: _*)

  val q145Sql: String =
    """WITH g AS (SELECT CAST(range AS BIGINT) AS row_idx FROM range(4)),
      |h AS (
      |  SELECT g.row_idx,
      |    CAST('0x' || substr(md5(CAST(g.row_idx AS VARCHAR) || ':'
      |         || CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) % 64
      |      AS col_idx
      |  FROM events CROSS JOIN g)
      |SELECT row_idx, col_idx, count(*) AS cnt
      |FROM h GROUP BY 1, 2""".stripMargin

  /** Per-nation revenue TREND: closed-form ordinary-least-squares
    * slope/intercept of monthly order revenue against the month index,
    * computed as one pass of INTEGER-EXACT moments — the distributed
    * form of regression (no iteration, no solver): slope =
    * (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²). Months are re-centered per
    * nation (x − min x) so every moment fits BIGINT; revenue is exact
    * 1e-4-dollar integer units (the q96/q143 DECIMAL discipline); ALL
    * four cross-products — intercept's Σy·Σx² and Σx·Σxy, slope's
    * n·Σxy and Σx·Σy — can graze 2^63 (around SF 30 for the slope
    * pair) so they widen to DECIMAL(38,0)/HUGEINT — the q106 gate
    * trick. Only the final divisions are double, an identical IEEE
    * expression tree on both engines, then round 6.
    *
    * Scale shape: star join (two broadcastable dims), partial-agg down
    * to nation×month, a window over that TINY frame for the re-center,
    * then a second partial agg to 25 rows. Nothing data-sized ever
    * moves after the first aggregation. */
  def q146OlsTrend(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val monthly = orders(s, d)
      .join(customer(s, d).select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).as("x"))
      .agg((sum(col("o_totalprice").cast(DecimalType(38, 4))) * 10000)
        .cast("long").as("yc"))
    val x0 = monthly
      .withColumn("x0",
        col("x") - min(col("x")).over(Window.partitionBy(col("n_name"))))
    val m = x0.groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_months"),
        sum(col("x0")).as("sx"),
        sum(col("x0") * col("x0")).as("sxx"),
        sum(col("yc")).as("sy"),
        sum(col("x0") * col("yc")).as("sxy"))
    m.select(col("n_name"), col("n_months"),
      // slope cross-products n·Σxy and Σx·Σy widen to DECIMAL(38,0)
      // like the intercept's: with Σxy ~ 1e18 units they graze 2^63
      // around SF 30 and BIGINT arithmetic would abort (ANSI overflow)
      // instead of scaling. Denominator terms are months-sized — safe.
      round((col("n_months").cast(DecimalType(38, 0)) * col("sxy") -
          col("sx").cast(DecimalType(38, 0)) * col("sy"))
          .cast("double") /
        (col("n_months") * col("sxx") - col("sx") * col("sx"))
          .cast("double") / 10000.0, 6).as("slope6"),
      round((col("sy").cast(DecimalType(38, 0)) * col("sxx") -
          col("sx").cast(DecimalType(38, 0)) * col("sxy")).cast("double") /
        (col("n_months") * col("sxx") - col("sx") * col("sx"))
          .cast("double") / 10000.0, 6).as("intercept6"))
  }

  val q146Sql: String =
    """WITH monthly AS (
      |  SELECT n_name,
      |    year(o_orderdate) * 12 + month(o_orderdate) AS x,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(38,4))) * 10000 AS BIGINT)
      |      AS yc
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY 1, 2),
      |c AS (
      |  SELECT n_name, x - min(x) OVER (PARTITION BY n_name) AS x0, yc
      |  FROM monthly),
      |m AS (
      |  SELECT n_name, count(*) AS n_months,
      |    CAST(sum(x0) AS BIGINT) AS sx,
      |    CAST(sum(x0 * x0) AS BIGINT) AS sxx,
      |    CAST(sum(yc) AS BIGINT) AS sy,
      |    CAST(sum(x0 * yc) AS BIGINT) AS sxy
      |  FROM c GROUP BY 1)
      |SELECT n_name, n_months,
      |  round(CAST(CAST(n_months AS HUGEINT) * sxy
      |             - CAST(sx AS HUGEINT) * sy AS DOUBLE)
      |        / CAST(n_months * sxx - sx * sx AS DOUBLE) / 10000.0, 6)
      |    AS slope6,
      |  round(CAST(CAST(sy AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sxy
      |             AS DOUBLE)
      |        / CAST(n_months * sxx - sx * sx AS DOUBLE) / 10000.0, 6)
      |    AS intercept6
      |FROM m""".stripMargin

  /** Top session PATHS: the 25 most common event-type TRIGRAMS taken
    * within a 30-minute-gap session (q16's sessionization), with the
    * deterministic total order (count desc, trigram asc) — the
    * sequence-mining primitive behind "what do users do next"
    * dashboards. Both leads carry the session id alongside so a
    * trigram never spans a session boundary.
    *
    * Scale shape: ONE shuffle of events on user_id — the gap lag, the
    * session-id running sum, and both leads all share the single
    * (user_id | ts, event_id) sort (stacked Window operators over one
    * Exchange, plan-asserted); then a partial-agg groupBy onto the
    * ≤|types|³ trigram space and a TakeOrdered(25) — no global sort. */
  def q149PathTrigrams(s: SparkSession, d: String): DataFrame = {
    val wo = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("gap_us",
        unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(wo)))
      .withColumn("new_s",
        when(col("gap_us").isNull || col("gap_us") > 1800L * 1000000L, 1L)
          .otherwise(0L))
      .withColumn("sid", sum(col("new_s")).over(wo))
      .withColumn("t2", lead(col("event_type"), 1).over(wo))
      .withColumn("s2", lead(col("sid"), 1).over(wo))
      .withColumn("t3", lead(col("event_type"), 2).over(wo))
      .withColumn("s3", lead(col("sid"), 2).over(wo))
      .filter(col("s2") === col("sid") && col("s3") === col("sid"))
      .select(concat_ws(">", col("event_type"), col("t2"), col("t3"))
        .as("trigram"))
      .groupBy(col("trigram"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("trigram"))
      .limit(25)
  }

  val q149Sql: String =
    """WITH e AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type
      |  FROM events),
      |g AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    epoch_us(ts) - epoch_us(lag(ts) OVER
      |      (PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
      |  FROM e),
      |sess AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    sum(CASE WHEN gap_us IS NULL OR gap_us > 1800000000
      |             THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sid
      |  FROM g),
      |tri AS (
      |  SELECT event_type, sid,
      |    lead(event_type, 1) OVER w AS t2,
      |    lead(sid, 1) OVER w AS s2,
      |    lead(event_type, 2) OVER w AS t3,
      |    lead(sid, 2) OVER w AS s3
      |  FROM sess
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      |SELECT event_type || '>' || t2 || '>' || t3 AS trigram,
      |  count(*) AS n
      |FROM tri WHERE s2 = sid AND s3 = sid
      |GROUP BY 1 ORDER BY n DESC, trigram LIMIT 25""".stripMargin

  /** Weekly distinct users via BITMAP ROLLUP: user ids pack into
    * 63-bit words (word = id div 63, bit = id mod 63 — see the
    * sign-bit rationale below), a bit_or aggregate
    * builds each week's per-word bitmap, and bit_count sums the exact
    * distinct total — the bitmap-index technique OLAP engines use so a
    * distinct "count" is an OR of fixed-size words instead of a
    * shuffle of raw ids. The bitmaps MERGE (OR is associative/
    * commutative/idempotent), so week→month→all rollups union sketches,
    * not re-scan events — and unlike HLL the answer is EXACT.
    *
    * Scale shape: partial-agg bit_or means each map task emits at most
    * (weeks × occupied words) rows — with dense ids, ~63× fewer than
    * the distinct-user count, each a constant 8 bytes. The second agg
    * is weeks-sized. Sparse/huge id spaces would want roaring
    * containers; the word-packing and merge algebra are identical.
    * Words hold 63 bits, not 64: shifting into the sign bit is
    * signed-BIGINT overflow in DuckDB (a hard error) and
    * engine-defined in general, so the portable packing stays inside
    * the non-negative range. CONTRACT: ids must be NON-NEGATIVE — a
    * negative id would hit sign-preserving `%` (a negative bit index)
    * and a negative-shift; callers with signed key spaces must offset
    * or hash into [0, 2^62) first. */
  def q150BitmapRollup(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .select(date_trunc("week", col("ts")).cast("date").as("week"),
        expr("user_id div 63").as("word"),
        expr("shiftleft(1L, cast(user_id % 63 as int))").as("m"))
      .groupBy(col("week"), col("word"))
      .agg(expr("bit_or(m)").as("mask"))
      .groupBy(col("week"))
      .agg(count(lit(1)).as("n_words"),
        sum(expr("bit_count(mask)")).cast("long").as("n_distinct_users"))

  val q150Sql: String =
    """WITH b AS (
      |  SELECT CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE)
      |      AS week,
      |    user_id // 63 AS word,
      |    bit_or(CAST(1 AS BIGINT) << CAST(user_id % 63 AS INTEGER))
      |      AS mask
      |  FROM events GROUP BY 1, 2)
      |SELECT week, count(*) AS n_words,
      |  CAST(sum(bit_count(mask)) AS BIGINT) AS n_distinct_users
      |FROM b GROUP BY 1""".stripMargin

  /** Max ENGAGEMENT BURST per user (Kadane's max-subarray by prefix
    * sums): events score +1, errors −1; the burst is the best net run
    * over any contiguous span of the user's timeline — max over t of
    * prefix(t) − min(0, min prefix before t). Pure integers: no
    * rounding convention needed anywhere.
    *
    * Scale shape: the O(n) sequential Kadane scan becomes two window
    * functions (running sum + running min over the SAME per-user sort
    * — one Exchange, stacked Window operators), then a partial-agg max
    * per user. Distributed-friendly because the recurrence is a prefix
    * computation, not a stateful fold. */
  def q151KadaneBurst(s: SparkSession, d: String): DataFrame = {
    val wo = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wprev = wo.rowsBetween(Window.unboundedPreceding, -1)
    events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"),
        when(col("event_type") === "error", -1L).otherwise(1L).as("delta"))
      .withColumn("pfx", sum(col("delta")).over(wo))
      .withColumn("burst",
        col("pfx") -
          least(lit(0L), coalesce(min(col("pfx")).over(wprev), lit(0L))))
      .groupBy(col("user_id"))
      .agg(max(col("burst")).as("max_burst"),
        sum(col("delta")).as("net"),
        count(lit(1)).as("n_events"))
  }

  val q151Sql: String =
    """WITH e AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
      |    CASE WHEN event_type = 'error' THEN -1 ELSE 1 END AS delta
      |  FROM events),
      |p AS (
      |  SELECT user_id, ts, event_id, delta,
      |    sum(delta) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS pfx
      |  FROM e),
      |b AS (
      |  SELECT user_id, delta, pfx,
      |    least(0, coalesce(min(pfx) OVER
      |      (PARTITION BY user_id ORDER BY ts, event_id
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))
      |      AS minb
      |  FROM p)
      |SELECT user_id,
      |  CAST(max(pfx - minb) AS BIGINT) AS max_burst,
      |  CAST(sum(delta) AS BIGINT) AS net,
      |  count(*) AS n_events
      |FROM b GROUP BY 1""".stripMargin

  /** WALD–WOLFOWITZ RUNS TEST per event type — is daily volume random
    * noise around its mean, or does it trend/cycle? The observed runs
    * count (maximal blocks of consecutive above/below-mean days) is
    * compared to the expectation μ = 1 + 2n₁n₂/n for a random
    * arrangement; far fewer runs ⇒ clumping/trend, far more ⇒
    * oscillation. The above-mean sign is INTEGER-EXACT —
    * cnt·ndays > total, never a float mean comparison at the boundary;
    * the runs count is a lag-inequality sum; only the exported μ is a
    * double (identical expression both engines, round 6). Exact-mean
    * days count as below (documented tie rule, matched in the oracle).
    *
    * Scale shape: daily partial-agg (the q15 grain), per-type totals
    * as a second tiny agg joined back, one window on the days-sized
    * frame, fold to |types| rows. The event log is scanned once and
    * only its daily rollup is ever windowed. */
  def q162RunsTest(s: SparkSession, d: String): DataFrame = {
    val daily = events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
    val tot = daily.groupBy(col("event_type"))
      .agg(sum(col("cnt")).as("total"), count(lit(1)).as("ndays"))
    val signed = daily.join(tot, Seq("event_type"))
      .select(col("event_type"), col("day"),
        when(col("cnt") * col("ndays") > col("total"), 1L).otherwise(0L)
          .as("s"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    signed
      .withColumn("brk",
        when(lag(col("s"), 1).over(w).isNull ||
          lag(col("s"), 1).over(w) =!= col("s"), 1L).otherwise(0L))
      .groupBy(col("event_type"))
      .agg(sum(col("brk")).as("runs"),
        sum(col("s")).as("n_above"),
        (count(lit(1)) - sum(col("s"))).as("n_below"))
      .select(col("event_type"), col("runs"), col("n_above"), col("n_below"),
        round(lit(1.0) +
          lit(2.0) * col("n_above") * col("n_below") /
            (col("n_above") + col("n_below")).cast("double"), 6)
          .as("expected_runs6"))
  }

  val q162Sql: String =
    """WITH daily AS (
      |  SELECT event_type,
      |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, count(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |t AS (
      |  SELECT event_type, CAST(sum(cnt) AS BIGINT) AS total,
      |    count(*) AS ndays
      |  FROM daily GROUP BY 1),
      |sg AS (
      |  SELECT daily.event_type, day,
      |    CASE WHEN cnt * ndays > total THEN 1 ELSE 0 END AS s
      |  FROM daily JOIN t USING (event_type)),
      |b AS (
      |  SELECT event_type, s,
      |    CASE WHEN lag(s) OVER (PARTITION BY event_type ORDER BY day)
      |           IS DISTINCT FROM s THEN 1 ELSE 0 END AS brk
      |  FROM sg)
      |SELECT event_type,
      |  CAST(sum(brk) AS BIGINT) AS runs,
      |  CAST(sum(s) AS BIGINT) AS n_above,
      |  CAST(count(*) - sum(s) AS BIGINT) AS n_below,
      |  round(1.0 + 2.0 * sum(s) * (count(*) - sum(s))
      |        / CAST(count(*) AS DOUBLE), 6) AS expected_runs6
      |FROM b GROUP BY 1""".stripMargin

  /** AUTOCORRELATION of daily volume per event type at lags 1–3 — does
    * today's traffic predict tomorrow's? Computed on the DAILY rollup
    * with integer day indices (datediff from the epoch), pairing day t
    * with day t+lag by equi-join — no dynamic-offset window, and
    * missing days are simply absent pairs (the observed-days ACF,
    * matched exactly by the oracle). All five moments are exact
    * BIGINTs; Pearson r over the pairs is one identical IEEE
    * expression (products widened DECIMAL/HUGEINT first), round 6.
    *
    * Scale shape: event log partial-aggs to the daily grain once; the
    * 3-lag fan-out and self-join run on that days-sized frame; the
    * final fold is |types|×3 rows. */
  def q165Acf(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val daily = events(s, d)
      .groupBy(col("event_type"),
        datediff(to_date(col("ts")), lit("1970-01-01")).as("di"))
      .agg(count(lit(1)).as("y"))
    val lags = Seq(1, 2, 3)
    val lagged = daily
      .select(col("event_type"), col("di"), col("y"),
        explode(array(lags.map(lit(_)): _*)).as("lag"))
    val pairs = lagged.as("a")
      .join(daily.as("b"),
        col("a.event_type") === col("b.event_type") &&
          col("b.di") === col("a.di") + col("a.lag"))
      .select(col("a.event_type").as("event_type"), col("a.lag").as("lag"),
        col("a.y").as("x"), col("b.y").as("yy"))
    val m = pairs.groupBy(col("event_type"), col("lag"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("yy")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("yy") * col("yy")).as("syy"),
        sum(col("x") * col("yy")).as("sxy"))
    // zero-variance series (constant daily counts, or a single pair)
    // have no defined correlation: NULL, not a division error/NaN
    m.select(col("event_type"), col("lag"), col("n"),
      when(
        (col("n").cast(DecimalType(38, 0)) * col("sxx") -
          col("sx").cast(DecimalType(38, 0)) * col("sx")) > 0 &&
        (col("n").cast(DecimalType(38, 0)) * col("syy") -
          col("sy").cast(DecimalType(38, 0)) * col("sy")) > 0,
        round((col("n").cast(DecimalType(38, 0)) * col("sxy") -
            col("sx").cast(DecimalType(38, 0)) * col("sy")).cast("double") /
          sqrt((col("n").cast(DecimalType(38, 0)) * col("sxx") -
              col("sx").cast(DecimalType(38, 0)) * col("sx")).cast("double") *
            (col("n").cast(DecimalType(38, 0)) * col("syy") -
              col("sy").cast(DecimalType(38, 0)) * col("sy")).cast("double")),
          6)).as("acf6"))
  }

  val q165Sql: String =
    """WITH daily AS (
      |  SELECT event_type,
      |    CAST(CAST(ts AS TIMESTAMP) AS DATE) - DATE '1970-01-01' AS di,
      |    count(*) AS y
      |  FROM events GROUP BY 1, 2),
      |lg AS (SELECT unnest([1, 2, 3]) AS lag),
      |pairs AS (
      |  SELECT a.event_type, lg.lag, a.y AS x, b.y AS yy
      |  FROM daily a CROSS JOIN lg
      |  JOIN daily b ON b.event_type = a.event_type
      |             AND b.di = a.di + lg.lag),
      |m AS (
      |  SELECT event_type, lag, count(*) AS n,
      |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(yy) AS BIGINT) AS sy,
      |    CAST(sum(x * x) AS BIGINT) AS sxx,
      |    CAST(sum(yy * yy) AS BIGINT) AS syy,
      |    CAST(sum(x * yy) AS BIGINT) AS sxy
      |  FROM pairs GROUP BY 1, 2)
      |SELECT event_type, CAST(lag AS INTEGER) AS lag, n,
      |  CASE WHEN CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx > 0
      |        AND CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy > 0
      |  THEN
      |    round(CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy
      |               AS DOUBLE)
      |      / sqrt(CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx
      |                  AS DOUBLE)
      |           * CAST(CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy
      |                  AS DOUBLE)), 6)
      |  END AS acf6
      |FROM m""".stripMargin

  /** TWO-PROPORTION Z-TEST between user cohorts (the A/B-test
    * readout): cohort A = even user ids, B = odd (the deterministic
    * split a hash-bucketed experiment assignment produces); the tested
    * proportion is the PURCHASE SHARE of each cohort's traffic (in
    * this synthetic corpus every user converts at least once, so a
    * converted-user proportion is degenerately 1.0 — and its pooled
    * z divides by zero; the event-mix rate is the non-trivial test).
    * Counts are exact integers and the pooled z statistic is one
    * identical IEEE expression over them, round 6 — the gate pins the
    * counting pipeline and the formula together.
    *
    * Scale shape: partial-agg count onto 2 cohort rows, then a 1-row
    * fold — the z arithmetic never touches the event log. */
  def q166AbtestZ(s: SparkSession, d: String): DataFrame = {
    val m = events(s, d)
      .groupBy((col("user_id") % 2).as("cohort"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("k"))
    val wide = m.agg(
      min(when(col("cohort") === 0, col("n"))).as("n_a"),
      min(when(col("cohort") === 0, col("k"))).as("k_a"),
      min(when(col("cohort") === 1, col("n"))).as("n_b"),
      min(when(col("cohort") === 1, col("k"))).as("k_b"))
    wide.select(col("n_a"), col("k_a"), col("n_b"), col("k_b"),
      round((col("k_a").cast("double") / col("n_a").cast("double") -
          col("k_b").cast("double") / col("n_b").cast("double")) /
        sqrt(((col("k_a") + col("k_b")).cast("double") /
            (col("n_a") + col("n_b")).cast("double")) *
          (lit(1.0) - (col("k_a") + col("k_b")).cast("double") /
            (col("n_a") + col("n_b")).cast("double")) *
          (lit(1.0) / col("n_a").cast("double") +
            lit(1.0) / col("n_b").cast("double"))), 6).as("z6"))
  }

  val q166Sql: String =
    """WITH m AS (
      |  SELECT user_id % 2 AS cohort, count(*) AS n,
      |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |         AS BIGINT) AS k
      |  FROM events GROUP BY 1),
      |w AS (
      |  SELECT
      |    min(CASE WHEN cohort = 0 THEN n END) AS n_a,
      |    min(CASE WHEN cohort = 0 THEN k END) AS k_a,
      |    min(CASE WHEN cohort = 1 THEN n END) AS n_b,
      |    min(CASE WHEN cohort = 1 THEN k END) AS k_b
      |  FROM m)
      |SELECT n_a, k_a, n_b, k_b,
      |  round((CAST(k_a AS DOUBLE) / CAST(n_a AS DOUBLE)
      |         - CAST(k_b AS DOUBLE) / CAST(n_b AS DOUBLE))
      |    / sqrt((CAST(k_a + k_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
      |         * (1.0 - CAST(k_a + k_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
      |         * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))),
      |    6) AS z6
      |FROM w""".stripMargin

  /** RAPID-FIRE PURCHASE SCREEN — the velocity fraud check: two
    * purchases by the same user within one hour are flagged for the
    * case queue, each row naming both event ids, both exact 1e-4
    * amounts (money compares as integers — double equality is how
    * real dupes get missed) and the exact microsecond gap. (A
    * same-amount duplicate-charge variant is the same plan with v4 in
    * the window key; on this synthetic data exact repeat amounts
    * don't occur, so the gate pins the velocity form.)
    *
    * Scale shape: purchase-only rows (predicate reaches the scan),
    * one shuffle on user_id for the lag window, output is
    * suspects-sized. */
  def q167RapidFire(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    events(s, d)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"),
        (col("value").cast(DecimalType(38, 4)) * 10000).cast("long").as("v4"),
        col("ts"), col("event_id"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("prev_id", lag(col("event_id"), 1).over(w))
      .withColumn("prev_v4", lag(col("v4"), 1).over(w))
      .withColumn("gap_us",
        unix_micros(col("ts")) - unix_micros(col("prev_ts")))
      .filter(col("gap_us").isNotNull && col("gap_us") <= 3600L * 1000000L)
      .select(col("user_id"), col("prev_id"), col("event_id"),
        col("prev_v4"), col("v4"), col("gap_us"))
  }

  val q167Sql: String =
    """WITH p AS (
      |  SELECT user_id,
      |    CAST(CAST(value AS DECIMAL(38,4)) * 10000 AS BIGINT) AS v4,
      |    CAST(ts AS TIMESTAMP) AS ts, event_id
      |  FROM events WHERE event_type = 'purchase'),
      |lg AS (
      |  SELECT user_id, v4, event_id, ts,
      |    lag(ts) OVER w AS prev_ts,
      |    lag(event_id) OVER w AS prev_id,
      |    lag(v4) OVER w AS prev_v4
      |  FROM p
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      |SELECT user_id, prev_id, event_id, prev_v4, v4,
      |  epoch_us(ts) - epoch_us(prev_ts) AS gap_us
      |FROM lg
      |WHERE prev_ts IS NOT NULL
      |  AND epoch_us(ts) - epoch_us(prev_ts) <= 3600000000""".stripMargin

  /** MANN–WHITNEY U (Wilcoxon rank-sum) between the click and view
    * value distributions — the nonparametric location test an A/B
    * readout runs when values are skewed (q166's z-test assumes
    * normal-ish means; this one ranks). Emits the group sizes plus the
    * two scale-free effect sizes in 1e-9 fixed point: `auc_e9` — the
    * common-language effect size AUC = U1/(n1·n2) ∈ [0,1] (tie-averaged:
    * internally U1×2 keeps tied ranks integral — a tie group of t rows
    * at min-rank m has 2·avgrank = 2m + t − 1) — and `cliff_e9`,
    * Cliff's delta = 2·AUC − 1 computed in the same integer pipeline.
    *
    * U1 = Σ_v a(v)·[ b_less(v) + b(v)/2 ] over distinct values v, where
    * a/b are the per-value group counts and b_less the count of group-B
    * values strictly below v — so the whole statistic needs ONE
    * prefix sum over the distinct-value order. That prefix is the
    * q138/q97 two-pass distributed scan (range partition → local
    * running sum → broadcast per-partition offsets), never an Exchange
    * SinglePartition over the data. Arithmetic runs in DECIMAL(38,0)
    * (n1·n2 overflows BIGINT near n≈3e9 — reachable at 100 TB); the
    * OUTPUT is the ratio form precisely because raw U (bounded by
    * 2·n1·n2) does NOT fit BIGINT in that regime — the round-10 red-trio
    * lesson plus ADVICE.md item 2: never emit a column whose range can
    * leave the hasher-safe dtype set at target scale. `div` numerators
    * stay nonnegative (cliff is shifted after the division) so Spark's
    * truncating `div` and DuckDB's flooring `//` agree; exact while
    * 1e9·2·n1·n2 < 10^38, i.e. to ~5e28 pairs ≈ 4·10^14 rows/arm —
    * far past 100 TB of events. */
  def q178MannWhitney(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
      .filter(col("event_type").isin("click", "view"))
      .select(col("value"), (col("event_type") === "click").as("isa"))
    mannWhitneyU(ev, parts = 32)
  }

  /** See [[q178MannWhitney]]; any (value, isa) frame — isa marks group A. */
  private[operators] def mannWhitneyU(rows: DataFrame, parts: Int): DataFrame =
    mannWhitneyFromCounts(
      rows.groupBy(col("value"))
        .agg(sum(when(col("isa"), 1L).otherwise(0L)).as("a"),
          sum(when(!col("isa"), 1L).otherwise(0L)).as("b")),
      parts)

  /** The statistic from pre-aggregated per-value counts (value, a, b) —
    * split out so the DECIMAL(38,0) ratio path can be regression-pinned
    * on counts whose U exceeds BIGINT (~3e9 rows/arm) without
    * materializing the rows (AnalyticsSpec). */
  private[operators] def mannWhitneyFromCounts(g: DataFrame, parts: Int): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val parted = g.repartitionByRange(parts, col("value"))
      .withColumn("pid", spark_partition_id())
      .localCheckpoint()
    val offs = parted.groupBy(col("pid")).agg(sum(col("b")).as("pb"))
      .withColumn("ob", coalesce(sum(col("pb")).over(
        Window.orderBy(col("pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("pid"), col("ob"))
    val wc = Window.partitionBy(col("pid")).orderBy(col("value"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val terms = parted
      .withColumn("b_less_local", coalesce(sum(col("b")).over(wc), lit(0L)))
      .join(broadcast(offs), Seq("pid"))
      .select(col("a"), col("b"),
        (col("b_less_local") + col("ob")).as("b_less"))
    terms.agg(
        sum(col("a")).cast(dec).as("dn1"),
        sum(col("b")).cast(dec).as("dn2"),
        sum(col("a").cast(dec) *
          (col("b_less").cast(dec) * 2 + col("b").cast(dec))).as("du1x2"))
      .select(col("dn1").cast("long").as("n1"),
        col("dn2").cast("long").as("n2"),
        expr("(du1x2 * 1000000000) div (dn1 * dn2 * 2)").as("auc_e9"),
        expr("(du1x2 * 1000000000) div (dn1 * dn2) - 1000000000")
          .as("cliff_e9"))
  }

  val q178Sql: String =
    """WITH r AS (
      |  SELECT value, event_type = 'click' AS isa FROM events
      |  WHERE event_type IN ('click', 'view')),
      |g AS (
      |  SELECT value,
      |    sum(CASE WHEN isa THEN 1 ELSE 0 END) AS a,
      |    sum(CASE WHEN NOT isa THEN 1 ELSE 0 END) AS b
      |  FROM r GROUP BY 1),
      |c AS (
      |  SELECT a, b,
      |    coalesce(sum(b) OVER (ORDER BY value
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS b_less
      |  FROM g),
      |t AS (
      |  SELECT CAST(sum(a) AS HUGEINT) AS n1,
      |    CAST(sum(b) AS HUGEINT) AS n2,
      |    CAST(sum(CAST(a AS HUGEINT) * (CAST(b_less AS HUGEINT) * 2 + b))
      |      AS HUGEINT) AS u1x2
      |  FROM c)
      |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
      |  CAST((u1x2 * 1000000000) // (n1 * n2 * 2) AS BIGINT) AS auc_e9,
      |  CAST((u1x2 * 1000000000) // (n1 * n2) - 1000000000 AS BIGINT)
      |    AS cliff_e9
      |FROM t""".stripMargin

  /** DETERMINISTIC MULTIPLIER BOOTSTRAP of the mean purchase value —
    * confidence via resampling WITHOUT rand(): replicate b's weight for
    * event e is `md5(e:b) mod 3` ∈ {0,1,2} (mean 1 — a two-point
    * multiplier bootstrap), a pure function of (event_id, replicate), so
    * every engine/run/partitioning draws the SAME 32 pseudo-resamples.
    * Each replicate's mean is integer fixed-point (value in millis,
    * `div` by the weight sum) — no double summation order anywhere.
    *
    * Shape: events × 32 replicates via an exploded literal sequence
    * (fan-out is a constant factor, partial-agg'd map-side so the
    * shuffle carries 32 rows per partition, not 32× the data). The
    * per-replicate sums run in DECIMAL(38,0) (Σ w·v at 100 TB exceeds
    * BIGINT) and cast to BIGINT on output — the q138 convention. The
    * caller reads the 32 sorted means as the empirical CI. */
  def q179BootstrapCi(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val ev = events(s, d)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"),
        round(col("value") * 1000, 0).cast("long").as("v"))
    ev.select(col("event_id"), col("v"),
        explode(sequence(lit(0), lit(31))).as("b"))
      .withColumn("w", md5Bucket(concat_ws(":", col("event_id"), col("b")), 3))
      .groupBy(col("b"))
      .agg(sum(col("w")).cast(dec).as("dn"),
        sum(col("w").cast(dec) * col("v").cast(dec)).as("dsum"))
      .select(col("b"), col("dn").cast("long").as("n_eff"),
        expr("cast(dsum div dn as long)").as("mean_milli"))
  }

  val q179Sql: String =
    """WITH ev AS (
      |  SELECT event_id, CAST(round(value * 1000, 0) AS BIGINT) AS v
      |  FROM events WHERE event_type = 'purchase'),
      |fan AS (
      |  SELECT event_id, v, t.b,
      |    CAST('0x' || substr(md5(CAST(event_id AS VARCHAR) || ':'
      |      || CAST(t.b AS VARCHAR)), 1, 15) AS BIGINT) % 3 AS w
      |  FROM ev CROSS JOIN (SELECT unnest(range(32)) AS b) t)
      |SELECT b, CAST(sum(w) AS BIGINT) AS n_eff,
      |  CAST(CAST(sum(CAST(w AS HUGEINT) * v) AS HUGEINT)
      |    // CAST(sum(w) AS HUGEINT) AS BIGINT) AS mean_milli
      |FROM fan GROUP BY b""".stripMargin

  /** Per-user SESSIONIZATION with a 30-minute inactivity gap — the
    * canonical web-analytics unit of work, via the ENGINE's merging
    * `session_window` aggregation (graft.streaming.SessionStream: the
    * identical code path runs under a watermark as a continuous query —
    * this gated entry certifies the batch semantics both modes share).
    * The engine MERGES at the exact boundary: an event at prev + gap
    * still joins the session (split only when ts − prev > gap — pinned
    * by StreamingSessionSpec); window end = last event + gap; value
    * sums in fixed-point millis (the q179 convention). The oracle is
    * the classic gaps-and-islands formulation (lag → break flag →
    * running island id), so the native operator is pinned against the
    * from-first-principles SQL. One user-keyed exchange; session state
    * is one tuple per in-flight session. */
  def q186Sessionize(s: SparkSession, d: String): DataFrame =
    graft.streaming.SessionStream.sessions(
      events(s, d).select(col("user_id"), col("ts"), col("value")),
      "30 minutes")

  val q186Sql: String =
    """WITH e AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CAST(round(value * 1000, 0) AS BIGINT) AS v
      |  FROM events),
      |d AS (
      |  SELECT user_id, ts, v,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
      |         THEN 1 ELSE 0 END AS brk
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |i AS (
      |  SELECT user_id, ts, v,
      |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts
      |      ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM d)
      |SELECT user_id, min(ts) AS s_start,
      |  max(ts) + INTERVAL 30 MINUTE AS s_end,
      |  count(*) AS n_events, CAST(sum(v) AS BIGINT) AS total_milli
      |FROM i GROUP BY user_id, sid""".stripMargin

  /** Click→purchase attribution within a 1-hour window — one pair row
    * per (click, same-user purchase in [click, click+1h)). The
    * implementation is graft.streaming.AttributionStream: the SAME join
    * runs as a watermarked STREAM–STREAM join in continuous mode (state
    * bounded by the range condition on both sides); this gated entry
    * certifies the batch semantics both modes share. Scale shape: a
    * user-keyed equi join carrying the range predicates — per-user
    * event lists co-locate on one exchange, pair fan-out is bounded by
    * per-user click×purchase density inside one hour, never
    * corpus×corpus. */
  def q187Attribution(s: SparkSession, d: String): DataFrame =
    graft.streaming.AttributionStream.attribution(
      events(s, d).select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value")),
      "1 HOUR", "10 minutes")

  val q187Sql: String =
    """WITH c AS (
      |  SELECT event_id AS click_id, user_id, CAST(ts AS TIMESTAMP) AS cts
      |  FROM events WHERE event_type = 'click'),
      |p AS (
      |  SELECT event_id AS purchase_id, user_id,
      |    CAST(ts AS TIMESTAMP) AS pts,
      |    CAST(round(value * 1000, 0) AS BIGINT) AS value_milli
      |  FROM events WHERE event_type = 'purchase')
      |SELECT click_id, purchase_id, c.user_id,
      |  epoch_us(pts) - epoch_us(cts) AS lag_us, value_milli
      |FROM c JOIN p ON c.user_id = p.user_id
      |  AND pts >= cts AND pts < cts + INTERVAL 1 HOUR""".stripMargin

  /** q187's LEFT-OUTER form: every click appears, unconverted ones with
    * a null purchase side — the funnel-drop-off readout. Same shared
    * batch/streaming code path; in streaming the null rows are emitted
    * only once the watermark proves no purchase can still match
    * (StreamingAttributionSpec). */
  def q188AttributionOuter(s: SparkSession, d: String): DataFrame =
    graft.streaming.AttributionStream.attribution(
      events(s, d).select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value")),
      "1 HOUR", "10 minutes", "left_outer")

  val q188Sql: String =
    """WITH c AS (
      |  SELECT event_id AS click_id, user_id, CAST(ts AS TIMESTAMP) AS cts
      |  FROM events WHERE event_type = 'click'),
      |p AS (
      |  SELECT event_id AS purchase_id, user_id,
      |    CAST(ts AS TIMESTAMP) AS pts,
      |    CAST(round(value * 1000, 0) AS BIGINT) AS value_milli
      |  FROM events WHERE event_type = 'purchase')
      |SELECT click_id, purchase_id, c.user_id,
      |  epoch_us(pts) - epoch_us(cts) AS lag_us, value_milli
      |FROM c LEFT JOIN p ON c.user_id = p.user_id
      |  AND pts >= cts AND pts < cts + INTERVAL 1 HOUR""".stripMargin

  /** CUSUM CHANGEPOINT DETECTION on per-type daily volume — the
    * sequential quality-control statistic (Page 1954) that flags a
    * sustained mean shift long before a single-day z-score would:
    * S⁺_t = max(0, S⁺_{t-1} + (x_t − μ − κ)) and the mirrored S⁻ for
    * downward shifts, alarm when S crosses h.
    *
    * The textbook recurrence is a stateful fold; distributed, it
    * becomes CLOSED FORM: S_t = P_t − min(0, min_{i≤t} P_i) where P is
    * the running sum of deviations — so the whole scan is two stacked
    * windows over one per-type sort. The min INCLUDES the current
    * prefix (unlike q151's Kadane form, which uses the preceding-only
    * min): that inclusion is exactly what floors Page's statistic at 0
    * when the prefix itself is the running minimum —
    * AnalyticsPropertiesSpec pins the identity against the sequential
    * max(0, S+dev) fold on arbitrary signed series.
    *
    * Integer-exact everywhere: deviations are scaled by 10·ndays
    * (x_t·10·ndays − 11·total encodes x_t − 1.1μ with slack κ = 0.1μ),
    * and the alarm threshold h = (3·total) div 2 = 1.5·μ·ndays is in
    * those SCALED units — dividing out the 10·ndays factor, the alarm
    * fires when the accumulated raw deviation Σ(x_t − 1.1μ) exceeds
    * h_raw = 0.15·μ, a deliberately sensitive operating point for the
    * sf-sized fixture — no float mean ever compared. Both tails emitted per type
    * with alarm counts and first-alarm dates (null when quiet — fixture
    * verified to alarm some types each direction and not others).
    *
    * Scale shape: the event log folds to the daily grain map-side
    * (partial agg); everything windowed is days-sized per type. At
    * 100 TB the scan cost is the daily rollup; the CUSUM itself is
    * noise. */
  def q190CusumChangepoint(s: SparkSession, d: String): DataFrame = {
    val daily = events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
    val tot = daily.groupBy(col("event_type"))
      .agg(sum(col("cnt")).as("total"), count(lit(1)).as("ndays"))
    val dev = daily.join(tot, Seq("event_type"))
      .select(col("event_type"), col("day"), col("total"),
        (lit(10L) * col("ndays") * col("cnt") - lit(11L) * col("total")).as("su"),
        (lit(9L) * col("total") - lit(10L) * col("ndays") * col("cnt")).as("sd"))
    val wo = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val wincl = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cusum = dev
      .withColumn("pu", sum(col("su")).over(wo))
      .withColumn("pd", sum(col("sd")).over(wo))
      .withColumn("cu", col("pu") -
        least(lit(0L), min(col("pu")).over(wincl)))
      .withColumn("cd", col("pd") -
        least(lit(0L), min(col("pd")).over(wincl)))
      .withColumn("h", expr("(3L * total) div 2"))
    cusum.groupBy(col("event_type"))
      .agg(max(col("cu")).as("max_cusum_up"),
        max(col("cd")).as("max_cusum_dn"),
        sum(when(col("cu") > col("h"), 1L).otherwise(0L)).as("n_alarm_up"),
        sum(when(col("cd") > col("h"), 1L).otherwise(0L)).as("n_alarm_dn"),
        min(when(col("cu") > col("h"), col("day"))).as("first_alarm_up"),
        min(when(col("cd") > col("h"), col("day"))).as("first_alarm_dn"))
  }

  val q190Sql: String =
    """WITH d AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |t AS (
      |  SELECT event_type, sum(cnt) AS total, count(*) AS ndays
      |  FROM d GROUP BY 1),
      |dev AS (
      |  SELECT d.event_type, day, total,
      |    10 * ndays * cnt - 11 * total AS su,
      |    9 * total - 10 * ndays * cnt AS sd
      |  FROM d JOIN t USING (event_type)),
      |p AS (
      |  SELECT *,
      |    sum(su) OVER (PARTITION BY event_type ORDER BY day) AS pu,
      |    sum(sd) OVER (PARTITION BY event_type ORDER BY day) AS pd
      |  FROM dev),
      |c AS (
      |  SELECT event_type, day, total,
      |    pu - least(0, min(pu) OVER (PARTITION BY event_type
      |      ORDER BY day ROWS UNBOUNDED PRECEDING)) AS cu,
      |    pd - least(0, min(pd) OVER (PARTITION BY event_type
      |      ORDER BY day ROWS UNBOUNDED PRECEDING)) AS cd,
      |    (3 * total) // 2 AS h
      |  FROM p)
      |SELECT event_type,
      |  CAST(max(cu) AS BIGINT) AS max_cusum_up,
      |  CAST(max(cd) AS BIGINT) AS max_cusum_dn,
      |  CAST(sum(CASE WHEN cu > h THEN 1 ELSE 0 END) AS BIGINT) AS n_alarm_up,
      |  CAST(sum(CASE WHEN cd > h THEN 1 ELSE 0 END) AS BIGINT) AS n_alarm_dn,
      |  min(CASE WHEN cu > h THEN day END) AS first_alarm_up,
      |  min(CASE WHEN cd > h THEN day END) AS first_alarm_dn
      |FROM c GROUP BY 1""".stripMargin

  /** RATE-LIMIT ADMISSION CENSUS — the gated surface of the
    * batch/streaming rate-limiter pair (graft.streaming.RateLimitStream,
    * whose streaming half is this repo's first transformWithState
    * operator): admit ≤3 events per (user, event_type) per 10-minute
    * tumbling window, earliest first, and report per type how much an
    * ingest throttle would pass vs drop. Window buckets are integer
    * `unix_micros div 6e8` — identical arithmetic to DuckDB's
    * `epoch_us // 6e8` (the q119 idiom), never a float timestamp op.
    *
    * Scale shape: one keyed window whose rank filter plans as the
    * partial+final WindowGroupLimit bounded heap? No — admission needs
    * EVERY row tagged, not top-k extracted, so this is one
    * (user,type,bucket)-keyed exchange + sort, then a types-sized
    * partial agg. The streaming form replaces the sort with O(1) keyed
    * state per event — that asymmetry (batch sorts, streams fold) is
    * inherent to admission control. */
  def q194RateLimit(s: SparkSession, d: String): DataFrame = {
    val limited = graft.streaming.RateLimitStream.rateLimitBatch(
      events(s, d).select(col("event_id"), col("ts"), col("user_id"),
        col("event_type")), 3, 600000000L)
    limited.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_raw"),
        sum(when(col("allowed"), 1L).otherwise(0L)).as("n_allowed"),
        sum(when(col("allowed"), 0L).otherwise(1L)).as("n_throttled"),
        max(col("rn")).as("max_burst"))
  }

  val q194Sql: String =
    """WITH w AS (
      |  SELECT event_type,
      |    row_number() OVER (
      |      PARTITION BY user_id, event_type,
      |        epoch_us(CAST(ts AS TIMESTAMP)) // 600000000
      |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
      |  FROM events)
      |SELECT event_type, count(*) AS n_raw,
      |  CAST(sum(CASE WHEN rn <= 3 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_allowed,
      |  CAST(sum(CASE WHEN rn <= 3 THEN 0 ELSE 1 END) AS BIGINT)
      |    AS n_throttled,
      |  CAST(max(rn) AS BIGINT) AS max_burst
      |FROM w GROUP BY 1""".stripMargin

  /** HLL SET ALGEBRA — the payoff of q140's portable register format:
    * sketch the heavy-clicker and heavy-purchaser audiences (>13
    * events of the type — a genuinely partial overlap: 71/69 users,
    * 31 shared at sf0.01, so the union max and inclusion–exclusion do
    * real work) separately, UNION them by element-wise register max
    * (the only set op HLL supports natively), and estimate the
    * INTERSECTION by est(A)+est(B)−est(A∪B) — the audience-overlap
    * query every analytics stack answers from sketches because the
    * exact answer needs a user-level join of both sides. The exact
    * counts ride along (the q55 recall-gate convention) so the row
    * self-reports its own estimation error.
    *
    * Cross-engine determinism: the raw Flajolet estimator α·m²/Z runs
    * in EXACT integer rationals — Z = Σ2^(−rank) is scaled by 2^41 so
    * every term is an integer power of two, α_256 = 0.7213/(1+1.079/256)
    * is carried as the exact rational 1846528000/2570790000, and the
    * whole quotient is one DECIMAL(38,0)/HUGEINT integral divide with a
    * 27-digit precomputed numerator constant. The small-range
    * LINEAR-COUNTING correction (est ≤ 2.5m with empty registers ⇒
    * m·ln(m/V), V = zero-register count) needs ln — whose ulps differ
    * per engine — so the 256 possible values are precomputed ONCE into
    * an integer table ([[HllLc]]) and the SAME literals are emitted
    * into the Spark plan and the oracle SQL (the q189 discount-table
    * move): no engine ever evaluates ln. Corrected est_a: 73 vs
    * exact 71 at sf0.01, where the raw estimator read 219.
    *
    * Scale shape: two filtered scans fold to 256-row register tables
    * map-side (the q140 shape — ≤256 rows per map task); the union,
    * estimates and the final assembly are constant-sized. The exact
    * side is one user-keyed partial agg — the thing the sketch path
    * exists to avoid, kept here as the self-evaluation. */
  def q195HllSetops(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    // user-sized activity frame, checkpointed once for its three
    // consumers (sketch A, sketch B, exact side) — the q77 idiom
    val perUser = ev.filter(col("event_type").isin("click", "purchase"))
      .groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("nc"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("np"))
      .localCheckpoint(false)
    def regs(cond: Column, nm: String) =
      hllRegisters(perUser.filter(cond)
        .select(col("user_id").cast("string").as("key")))
        .withColumnRenamed("max_rank", nm)
    val spine = s.range(256).select(col("id").as("reg"))
    val j = spine
      .join(regs(col("nc") > 13L, "ra"), Seq("reg"), "left")
      .join(regs(col("np") > 13L, "rb"), Seq("reg"), "left")
      .select(col("reg"), coalesce(col("ra"), lit(0L)).as("ra"),
        coalesce(col("rb"), lit(0L)).as("rb"))
      .withColumn("ru", greatest(col("ra"), col("rb")))
    val z = j.agg(
      sum(expr("shiftleft(1L, cast(41 - ra as int))")).as("zn_a"),
      sum(expr("shiftleft(1L, cast(41 - rb as int))")).as("zn_b"),
      sum(expr("shiftleft(1L, cast(41 - ru as int))")).as("zn_u"),
      sum(when(col("ra") > 0L, 1L).otherwise(0L)).as("n_nz_a"),
      sum(when(col("rb") > 0L, 1L).otherwise(0L)).as("n_nz_b"),
      sum(when(col("ru") > 0L, 1L).otherwise(0L)).as("n_nz_u"),
      sum(col("ru")).as("sum_rank_union"))
    def raw(zn: String): Column =
      expr(s"CAST('$HllNum' AS DECIMAL(38,0)) div " +
        s"(CAST($zn AS DECIMAL(38,0)) * 2570790000)")
    val lcArr = array(HllLc.map(lit): _*)
    // linear counting when empty registers exist and the raw estimate
    // is under 2.5m; greatest(...,1) keeps element_at legal on the
    // V=0 branch the `when` discards
    def est(zn: String, nz: String): Column = {
      val v = lit(256L) - col(nz)
      when(v > 0L && raw(zn) <= 640L,
        element_at(lcArr, greatest(v, lit(1L)).cast("int")))
        .otherwise(raw(zn))
    }
    val ests = z.select(
      est("zn_a", "n_nz_a").as("est_a"), est("zn_b", "n_nz_b").as("est_b"),
      est("zn_u", "n_nz_u").as("est_union"),
      (est("zn_a", "n_nz_a") + est("zn_b", "n_nz_b") -
        est("zn_u", "n_nz_u")).as("est_intersect"),
      col("n_nz_a"), col("n_nz_b"), col("sum_rank_union"))
    val exact = perUser
      .agg(sum(when(col("nc") > 13L, 1L).otherwise(0L)).as("exact_a"),
        sum(when(col("np") > 13L, 1L).otherwise(0L)).as("exact_b"),
        sum(when(col("nc") > 13L || col("np") > 13L, 1L).otherwise(0L))
          .as("exact_union"),
        sum(when(col("nc") > 13L && col("np") > 13L, 1L).otherwise(0L))
          .as("exact_intersect"))
    ests.crossJoin(broadcast(exact))
  }

  /** α_256·m²·2^41 as one exact integer: 1846528000·65536·2^41. */
  private val HllNum = "266112730007333991612416000"

  /** Linear-counting table: floor(256·ln(256/V)) for V = 1..256 empty
    * registers, computed ONCE here and interpolated verbatim into the
    * oracle SQL — both engines consume identical integer literals, so
    * ln's per-engine rounding never matters. */
  private val HllLc: IndexedSeq[Long] =
    (1 to 256).map(v => math.floor(256.0 * math.log(256.0 / v)).toLong)

  private def hllRegSqlFor(cond: String): String =
    s"""(SELECT
       |  16 * (strpos('0123456789abcdef', substr(hx, 1, 1)) - 1)
       |     + (strpos('0123456789abcdef', substr(hx, 2, 1)) - 1) AS reg,
       |  max(CASE WHEN w = 0 THEN 41 ELSE 41 - length(bin(w)) END) AS r
       |FROM (SELECT hx, list_reduce(list_transform(range(10),
       |    i -> CAST(strpos('0123456789abcdef', substr(hx, 3 + i, 1)) - 1
       |         AS BIGINT)),
       |    (a, b) -> a * 16 + b) AS w
       |  FROM (SELECT md5(CAST(user_id AS VARCHAR)) AS hx FROM pu
       |        WHERE $cond) hh) pp
       |GROUP BY 1)"""

  val q195Sql: String =
    s"""WITH pu AS (
       |  SELECT user_id,
       |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS nc,
       |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS np
       |  FROM events WHERE event_type IN ('click', 'purchase')
       |  GROUP BY 1),
       |ra AS ${hllRegSqlFor("nc > 13")},
       |rb AS ${hllRegSqlFor("np > 13")},
       |spine AS (SELECT CAST(range AS BIGINT) AS reg FROM range(256)),
       |j AS (
       |  SELECT spine.reg, coalesce(ra.r, 0) AS ra, coalesce(rb.r, 0) AS rb,
       |    greatest(coalesce(ra.r, 0), coalesce(rb.r, 0)) AS ru
       |  FROM spine LEFT JOIN ra ON spine.reg = ra.reg
       |             LEFT JOIN rb ON spine.reg = rb.reg),
       |z AS (
       |  SELECT
       |    sum(CAST(1 AS BIGINT) << CAST(41 - ra AS INTEGER)) AS zn_a,
       |    sum(CAST(1 AS BIGINT) << CAST(41 - rb AS INTEGER)) AS zn_b,
       |    sum(CAST(1 AS BIGINT) << CAST(41 - ru AS INTEGER)) AS zn_u,
       |    CAST(sum(CASE WHEN ra > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_nz_a,
       |    CAST(sum(CASE WHEN rb > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_nz_b,
       |    CAST(sum(CASE WHEN ru > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_nz_u,
       |    CAST(sum(ru) AS BIGINT) AS sum_rank_union
       |  FROM j),
       |lc(v, cnt) AS (VALUES
       |${(1 to 256).map(v => s"  ($v, ${HllLc(v - 1)})").mkString(",\n")}),
       |e0 AS (
       |  SELECT
       |    CAST(CAST('$HllNum' AS HUGEINT)
       |      // (CAST(zn_a AS HUGEINT) * 2570790000) AS BIGINT) AS raw_a,
       |    CAST(CAST('$HllNum' AS HUGEINT)
       |      // (CAST(zn_b AS HUGEINT) * 2570790000) AS BIGINT) AS raw_b,
       |    CAST(CAST('$HllNum' AS HUGEINT)
       |      // (CAST(zn_u AS HUGEINT) * 2570790000) AS BIGINT) AS raw_u,
       |    n_nz_a, n_nz_b, n_nz_u, sum_rank_union
       |  FROM z),
       |e AS (
       |  SELECT
       |    CAST(CASE WHEN 256 - n_nz_a > 0 AND raw_a <= 640
       |      THEN (SELECT cnt FROM lc WHERE v = 256 - n_nz_a)
       |      ELSE raw_a END AS BIGINT) AS est_a,
       |    CAST(CASE WHEN 256 - n_nz_b > 0 AND raw_b <= 640
       |      THEN (SELECT cnt FROM lc WHERE v = 256 - n_nz_b)
       |      ELSE raw_b END AS BIGINT) AS est_b,
       |    CAST(CASE WHEN 256 - n_nz_u > 0 AND raw_u <= 640
       |      THEN (SELECT cnt FROM lc WHERE v = 256 - n_nz_u)
       |      ELSE raw_u END AS BIGINT) AS est_union,
       |    n_nz_a, n_nz_b, sum_rank_union
       |  FROM e0),
       |x AS (
       |  SELECT
       |    CAST(sum(CASE WHEN nc > 13 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS exact_a,
       |    CAST(sum(CASE WHEN np > 13 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS exact_b,
       |    CAST(sum(CASE WHEN nc > 13 OR np > 13 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS exact_union,
       |    CAST(sum(CASE WHEN nc > 13 AND np > 13 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS exact_intersect
       |  FROM pu)
       |SELECT est_a, est_b, est_union,
       |  est_a + est_b - est_union AS est_intersect,
       |  n_nz_a, n_nz_b, sum_rank_union,
       |  exact_a, exact_b, exact_union, exact_intersect
       |FROM e CROSS JOIN x""".stripMargin

  /** JOIN-CARDINALITY ESTIMATION from CMS inner products — the query-
    * optimizer application of the q145 sketch (AMS/Cormode-
    * Muthukrishnan): |A ⋈_k B| = Σ_v f_A(v)·f_B(v), and the inner
    * product of two count-min rows OVERESTIMATES it one-sidedly
    * (collisions only add), so min over the d rows is the classic
    * estimator. This is how an engine prices a join WITHOUT touching
    * either side's keys: two 256-counter sketches meet, not two
    * tables. Width is 16384 here (vs q145's point-query 64): the
    * inner-product estimator's additive error is ||f_A||₁·||f_B||₁/w,
    * so the width IS the precision budget — still a constant-size
    * sketch at any corpus. Estimates events⋈orders on user/cust key
    * with the exact
    * join size riding along as the referee (the q55 convention) plus
    * the one-sided overestimate gap in fixed point.
    *
    * Determinism: the sketch is the q145 md5 construction verbatim;
    * products and sums widen to DECIMAL(38,0)/HUGEINT (counter
    * products graze 2^63 around sf100 — the q146 discipline), BIGINT
    * out. One-sidedness (est ≥ exact) is a THEOREM here, not a
    * tolerance: the gate checks exact integers.
    *
    * Scale shape: each side folds to ≤256 counters map-side (the q145
    * shape); the estimator joins 256-row frames; only the referee
    * touches key-level counts (per-key partial aggs, dropped in
    * production use). */
  def q204JoinCardinality(s: SparkSession, d: String): DataFrame = {
    // est + exact from ONE per-key count pass per side (guide §1.2/§2.3):
    // the weighted CMS folds the same groupBy frame the exact referee
    // consumes — cell-identical sketch (a cell's count is the sum of its
    // keys' multiplicities), shared key-shuffle Exchange, md5 per
    // DISTINCT key instead of per row.
    // lazily checkpointed: the exact referee's join pushes an
    // isnotnull(key) filter below ITS copy of this aggregate, so plain
    // exchange reuse can't dedupe the two subtrees (see
    // SketchPlanner.keyCounts) — the checkpoint shares the one frame
    // r18: the shared helper also groups integral keys NATIVELY and
    // renders to string per distinct key (see SketchPlanner.keyCounts) —
    // identical (key, kn) values, cheaper per-row hashing.
    val fa = SketchPlanner.keyCounts(events(s, d), col("user_id"))
    val fb = SketchPlanner.keyCounts(orders(s, d), col("o_custkey"))
    val a = cmsSketchWeighted(fa, 16384L)
    val b = cmsSketchWeighted(fb, 16384L)
    val rows = a.select(col("row_idx"), col("col_idx"), col("cnt").as("ca"))
      .join(b.select(col("row_idx"), col("col_idx"), col("cnt").as("cb")),
        Seq("row_idx", "col_idx"))
      .groupBy(col("row_idx"))
      .agg(sum(expr("CAST(ca AS DECIMAL(38,0)) * cb")).as("ip"))
    val est = rows.agg(min(col("ip")).cast("long").as("est_join_size"),
      max(col("ip")).cast("long").as("max_row_est"))
    val exact = fa.select(col("key"), col("kn").as("na"))
      .join(fb.select(col("key"), col("kn").as("nb")), Seq("key"))
      .agg(coalesce(sum(expr("CAST(na AS DECIMAL(38,0)) * nb")), lit(0))
        .cast("long").as("exact_join_size"))
    est.crossJoin(broadcast(exact))
      .withColumn("overest_fp",
        when(col("exact_join_size") > 0L,
          expr("((est_join_size - exact_join_size) * 1000000000L) " +
            "div exact_join_size")).otherwise(0L))
  }

  val q204Sql: String =
    """WITH g AS (SELECT CAST(range AS BIGINT) AS row_idx FROM range(4)),
      |ha AS (
      |  SELECT g.row_idx,
      |    CAST('0x' || substr(md5(CAST(g.row_idx AS VARCHAR) || ':'
      |         || CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) % 16384
      |      AS col_idx
      |  FROM events CROSS JOIN g),
      |ca AS (SELECT row_idx, col_idx, count(*) AS ca
      |       FROM ha GROUP BY 1, 2),
      |hb AS (
      |  SELECT g.row_idx,
      |    CAST('0x' || substr(md5(CAST(g.row_idx AS VARCHAR) || ':'
      |         || CAST(o_custkey AS VARCHAR)), 1, 15) AS BIGINT) % 16384
      |      AS col_idx
      |  FROM orders CROSS JOIN g),
      |cb AS (SELECT row_idx, col_idx, count(*) AS cb
      |       FROM hb GROUP BY 1, 2),
      |ip AS (
      |  SELECT ca.row_idx, sum(CAST(ca.ca AS HUGEINT) * cb.cb) AS ip
      |  FROM ca JOIN cb USING (row_idx, col_idx)
      |  GROUP BY 1),
      |e AS (SELECT CAST(min(ip) AS BIGINT) AS est_join_size,
      |             CAST(max(ip) AS BIGINT) AS max_row_est FROM ip),
      |fa AS (SELECT CAST(user_id AS VARCHAR) AS key, count(*) AS na
      |       FROM events GROUP BY 1),
      |fb AS (SELECT CAST(o_custkey AS VARCHAR) AS key, count(*) AS nb
      |       FROM orders GROUP BY 1),
      |x AS (SELECT CAST(coalesce(sum(CAST(na AS HUGEINT) * nb), 0)
      |        AS BIGINT) AS exact_join_size
      |      FROM fa JOIN fb USING (key))
      |SELECT est_join_size, max_row_est, exact_join_size,
      |  CAST(CASE WHEN exact_join_size > 0 THEN
      |    ((est_join_size - exact_join_size) * 1000000000)
      |      // exact_join_size
      |    ELSE 0 END AS BIGINT) AS overest_fp
      |FROM e CROSS JOIN x""".stripMargin

  /** Spearman rank correlation per source between document length
    * (n_chars) and whitespace token count — the monotone-association
    * audit a curation pipeline runs between any two quality signals
    * (Pearson, q96, is fooled by the heavy-tailed length distribution;
    * rank correlation is outlier-immune). Average-rank tie handling via
    * DOUBLED ranks: 2·rank_min + ties − 1 is the average rank scaled by
    * 2, stays integral (no engine-divergent .5 doubles in the shuffle),
    * and Pearson-on-ranks is invariant under the linear scaling. Exact
    * integer rank moments accumulate in DECIMAL(38,0) (the q96
    * convention), then ONE closed-form double expression shared
    * verbatim with the oracle; rank products are int64-exact for
    * groups up to ~1.5e9 docs (rx·ry ≤ 4n²).
    *
    * Scale shape: slim 3-column projection before any exchange; ranks
    * are per-source windows (group-parallel; a mega-source serializes
    * its own sort — the q97 two-pass offsets pattern is the escape
    * hatch documented there), then ONE shuffle-agg on source. The
    * degenerate all-ties group (zero rank variance) yields NULL via an
    * explicit guard in both engines rather than engine-specific
    * 0/0 NaN semantics. */
  def q236Spearman(s: SparkSession, d: String): DataFrame =
    spearmanByGroup(documents(s, d).select(col("source"),
      col("n_chars").cast("long").as("x"),
      call_function("ws_token_count", col("text")).cast("long").as("y")))

  /** Core of [[q236Spearman]] over any (source, x: long, y: long) frame
    * (spec entry point). */
  def spearmanByGroup(base: DataFrame): DataFrame = {
    def r2(c: String): Column =
      (lit(2L) * rank().over(Window.partitionBy(col("source")).orderBy(col(c))) +
        count(lit(1)).over(Window.partitionBy(col("source"), col(c))) - 1L)
        .cast("long")
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val m = base
      .select(col("source"), r2("x").as("rx"), r2("y").as("ry"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"),
        sum(col("rx").cast(dec)).cast("double").as("sx"),
        sum(col("ry").cast(dec)).cast("double").as("sy"),
        sum((col("rx") * col("ry")).cast(dec)).cast("double").as("sxy"),
        sum((col("rx") * col("rx")).cast(dec)).cast("double").as("sxx"),
        sum((col("ry") * col("ry")).cast(dec)).cast("double").as("syy"))
    val varProd = (col("n") * col("sxx") - col("sx") * col("sx")) *
      (col("n") * col("syy") - col("sy") * col("sy"))
    m.select(col("source"), col("n"),
      when(varProd > 0,
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          sqrt(varProd), 6)).as("spearman"))
  }

  val q236Sql: String =
    """WITH base AS (
      |  SELECT source, n_chars AS x,
      |    len(list_filter(string_split_regex(text, '\s+'), t -> t <> ''))
      |      AS y
      |  FROM documents),
      |r AS (
      |  SELECT source,
      |    2*rank() OVER (PARTITION BY source ORDER BY x)
      |      + count(*) OVER (PARTITION BY source, x) - 1 AS rx,
      |    2*rank() OVER (PARTITION BY source ORDER BY y)
      |      + count(*) OVER (PARTITION BY source, y) - 1 AS ry
      |  FROM base),
      |m AS (
      |  SELECT source, count(*) AS n,
      |    CAST(sum(CAST(rx AS DECIMAL(38,0))) AS DOUBLE) AS sx,
      |    CAST(sum(CAST(ry AS DECIMAL(38,0))) AS DOUBLE) AS sy,
      |    CAST(sum(CAST(rx*ry AS DECIMAL(38,0))) AS DOUBLE) AS sxy,
      |    CAST(sum(CAST(rx*rx AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
      |    CAST(sum(CAST(ry*ry AS DECIMAL(38,0))) AS DOUBLE) AS syy
      |  FROM r GROUP BY 1)
      |SELECT source, n,
      |  CASE WHEN (n*sxx - sx*sx) * (n*syy - sy*sy) > 0 THEN
      |    round((n*sxy - sx*sy) /
      |      sqrt((n*sxx - sx*sx) * (n*syy - sy*sy)), 6) END AS spearman
      |FROM m""".stripMargin

  val all: Map[String, ((SparkSession, String) => DataFrame, String)] = Map(
    "q66_funnel"    -> (q66Funnel _, q66Sql),
    "q67_retention" -> (q67Retention _, q67Sql),
    "q71_top_per_group" -> (q71TopPerGroup _, q71Sql),
    "q74_gap_fill"  -> (q74GapFill _, q74Sql),
    "q80_scd2"      -> (q80Scd2 _, q80Sql),
    "q85_anomaly"   -> (q85Anomaly _, q85Sql),
    "q91_cdc_apply" -> (q91CdcApply _, q91Sql),
    "q98_pit_attribution" -> (q98PitAttribution _, q98Sql),
    "q99_rolling_actives" -> (q99RollingActives _, q99Sql),
    "q104_event_transitions" -> (q104EventTransitions _, q104Sql),
    "q107_interval_merge" -> (q107IntervalMerge _, q107Sql),
    "q110_trending_decay" -> (q110TrendingDecay _, q110Sql),
    "q115_user_mode" -> (q115UserMode _, q115Sql),
    "q117_lag_xcorr" -> (q117LagXcorr _, q117Sql),
    "q119_ohlc_bars" -> (q119OhlcBars _, q119Sql),
    "q122_cumulative_users" -> (q122CumulativeUsers _, q122Sql),
    "q124_chi2_contingency" -> (q124Chi2 _, q124Sql),
    "q127_event_gaps" -> (q127EventGaps _, q127Sql),
    "q129_rfm" -> (q129Rfm _, q129Sql),
    "q138_ks_test" -> (q138KsTest _, q138Sql),
    "q140_hll_registers" -> (q140HllRegisters _, q140Sql),
    "q143_twap" -> (q143Twap _, q143Sql),
    "q145_cms_sketch" -> (q145CmsSketch _, q145Sql),
    "q146_ols_trend" -> (q146OlsTrend _, q146Sql),
    "q149_path_trigrams" -> (q149PathTrigrams _, q149Sql),
    "q150_bitmap_rollup" -> (q150BitmapRollup _, q150Sql),
    "q151_kadane_burst" -> (q151KadaneBurst _, q151Sql),
    "q162_runs_test" -> (q162RunsTest _, q162Sql),
    "q165_acf" -> (q165Acf _, q165Sql),
    "q166_abtest_z" -> (q166AbtestZ _, q166Sql),
    "q167_rapid_fire" -> (q167RapidFire _, q167Sql),
    "q178_mannwhitney" -> (q178MannWhitney _, q178Sql),
    "q179_bootstrap_ci" -> (q179BootstrapCi _, q179Sql),
    "q186_sessionize" -> (q186Sessionize _, q186Sql),
    "q187_attribution" -> (q187Attribution _, q187Sql),
    "q188_attribution_outer" -> (q188AttributionOuter _, q188Sql),
    "q190_cusum_changepoint" -> (q190CusumChangepoint _, q190Sql),
    "q194_rate_limit" -> (q194RateLimit _, q194Sql),
    "q195_hll_setops" -> (q195HllSetops _, q195Sql),
    "q204_join_cardinality" -> (q204JoinCardinality _, q204Sql),
    "q236_spearman" -> (q236Spearman _, q236Sql),
  )
}
