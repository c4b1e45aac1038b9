package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.plans.logical.{Join, JoinHint, LogicalPlan}

/** SKETCH-DRIVEN JOIN PLANNING — the consumer of q204's CMS
  * join-cardinality estimator (round-11 verdict task 3): price every
  * candidate join from constant-size sketches, then DECIDE — which pair
  * to join first in a multi-way join, and whether the intermediate is
  * small enough to broadcast — before a single data-sized shuffle runs.
  *
  * This is the engine-side intelligence the reference's fixed
  * map→shuffle→reduce pipeline never had (its only "plan" is the nReduce
  * constant at `src/mr/coordinator.go:18-24`), and it is exactly the
  * decision Catalyst's CBO makes from ANALYZE statistics — except sketches
  * work on inputs no catalog has stats for (filtered subqueries, fresh
  * ingests, mid-pipeline frames), are mergeable across executors, and add
  * one cheap counting pass instead of a full stats build.
  *
  * Three surfaces:
  *   - [[q205JoinPlanner]] (gated): prices the two pairwise joins of the
  *     customer⋈orders⋈lineitem chain from 4×16384 CMS sketches, emits
  *     each candidate's estimate, the exact referee, and both DECISIONS
  *     (first-join pick = argmin estimate; broadcast-vs-shuffle for the
  *     intermediate) alongside the decisions exact stats would have made.
  *   - [[planThreeWay]] (executor): builds the A⋈B⋈C DataFrame in the
  *     sketch-chosen order with the broadcast hint applied when the
  *     intermediate estimate clears the threshold. The two 1-row estimate
  *     aggregates are collected driver-side — a deliberate, documented
  *     exception to the no-collect rule: a plan decision needs a scalar on
  *     the driver, the same way AQE reads runtime shuffle stats (bytes per
  *     partition) on the driver between stages.
  *   - the decision's worth — sketch cost vs the runtime gap between
  *     the two orders on a corpus where the wrong first join explodes —
  *     is recorded in BASELINE.md §"Round-12: q205 sketch join planner
  *     A/B".
  *
  * Scale shape: each side folds to ≤4·16384 counters map-side (the q145
  * partial-agg shape — every map task ships at most the sketch, never
  * keys); the estimator joins sketch-sized frames; decisions are O(1).
  * At 100 TB the planner's cost is one counting scan per side — and a
  * side's sketch is reusable across every candidate join it appears in.
  */
object SketchPlanner {
  import Tables._

  private val W = 16384L

  /** SESSION-LEVEL SKETCH CATALOG (round-13 verdict task 2): every
    * sketch estimate is reusable across plans, but [[decideChain]] used
    * to re-scan each (table, key) per call. The catalog memoizes the
    * COLLECTED scalars — edge estimates and table counts — keyed by the
    * CANONICALIZED analyzed plan of the priced frame (exprIds
    * normalized, so re-reading the same parquet path or re-deriving the
    * same filtered subquery hits), which is the same plan-identity
    * Spark's own CacheManager uses. A second decision over the same
    * corpus therefore adds ZERO table scans (SketchPlannerSpec pins
    * this via a QueryExecutionListener execution count; BASELINE.md
    * §"Round-14: sketch catalog + automatic chain reorder" records the
    * plan-arm drop).
    *
    * Staleness contract — the same one Spark's catalog statistics and
    * every stats-cache in Delta/Iceberg carry: entries describe the
    * data as of the scan; a writer mutating files under an already-
    * priced path must [[SketchCatalog.clear]] (or flip
    * `spark.graft.planner.sketchCache` to false) or decisions price the
    * old distribution. Estimates are advisory (plan shape only), so a
    * stale entry can cost performance, never correctness. Sessions are
    * weak keys: a stopped session's entries are collectable. */
  object SketchCatalog {
    private val perSession = new java.util.WeakHashMap[
      SparkSession, java.util.concurrent.ConcurrentHashMap[AnyRef, Long]]()

    private def map(s: SparkSession) = perSession.synchronized {
      var m = perSession.get(s)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[AnyRef, Long]()
        perSession.put(s, m)
      }
      m
    }

    private[operators] def lookup(s: SparkSession, k: AnyRef): Option[Long] =
      Option(map(s).get(k))
    private[operators] def store(s: SparkSession, k: AnyRef, v: Long): Unit =
      map(s).put(k, v)
    /** Invalidate every cached estimate (all sessions). */
    def clear(): Unit = perSession.synchronized {
      perSession.values().forEach(_.clear())
    }
    def size(s: SparkSession): Int = map(s).size()
  }

  /** Catalog identity of one side of an edge: the canonicalized plan of
    * the key projection (embeds both the source subtree and the key). */
  private def sideKey(df: DataFrame, k: Column): AnyRef =
    df.select(k).queryExecution.analyzed.canonicalized
  private def edgeKey(a: DataFrame, ka: Column, b: DataFrame, kb: Column): AnyRef =
    ("edge", sideKey(a, ka), sideKey(b, kb))
  private def countKey(t: DataFrame): AnyRef =
    ("count", t.queryExecution.analyzed.canonicalized)

  /** min over the 4 CMS rows of Σ_col ca·cb — the one-sided
    * |A ⋈_key B| overestimate (see q204's derivation). One row, one
    * BIGINT column `est`. `fast=false` is the gated md5 construction
    * (engine-portable, so DuckDB can replicate it bit-for-bit);
    * `fast=true` swaps the hash for native xxhash64 — same sketch, same
    * guarantees, ~an order of magnitude cheaper per row, for the
    * execution-side planner where no cross-engine parity is needed
    * (the hash only has to be uniform, not portable). */
  private[operators] def estPair(a: DataFrame, ka: Column, b: DataFrame, kb: Column,
      fast: Boolean = false): DataFrame = {
    def sketch(df: DataFrame, k: Column, out: String): DataFrame = {
      val s =
        if (fast) cmsSketchFast(df.select(k.as("key")))
        else Analytics.cmsSketchW(df.select(k.cast("string").as("key")), W)
      s.select(col("row_idx"), col("col_idx"), col("cnt").as(out))
    }
    sketch(a, ka, "ca").join(sketch(b, kb, "cb"), Seq("row_idx", "col_idx"))
      .groupBy(col("row_idx"))
      .agg(sum(expr("CAST(ca AS DECIMAL(38,0)) * cb")).as("ip"))
      .agg(min(col("ip")).cast("long").as("est"))
  }

  /** q145's 4×W CMS shape with xxhash64 rows (seeded by row_idx via the
    * hash's argument list) — whole-stage-codegen'd, no md5. Partial-agg
    * to ≤4·W counters map-side, like the gated form. The key is
    * normalized to its STRING rendering first (same canonicalization as
    * the gated md5 path): xxhash64 is type-sensitive, so without it an
    * INT key on one side and a BIGINT/STRING key holding the same
    * values on the other would hash to unrelated cells and the inner
    * product would silently price garbage. */
  private def cmsSketchFast(keys: DataFrame): DataFrame =
    keys
      .select(col("key").cast("string").as("key"),
        explode(array((0 until 4).map(i => lit(i.toLong)): _*)).as("row_idx"))
      .select(col("row_idx"),
        pmod(xxhash64(col("row_idx"), col("key")), lit(W)).as("col_idx"))
      .groupBy(col("row_idx"), col("col_idx"))
      .agg(count(lit(1)).as("cnt"))

  /** Exact |A ⋈_key B| referee: per-key partial counts joined, Σ na·nb —
    * what the estimate is graded against (never run in production use;
    * the whole point of the sketch is not touching keys). */
  private[operators] def exactPair(a: DataFrame, ka: Column, b: DataFrame, kb: Column): DataFrame =
    exactFromCounts(keyCounts(a, ka), keyCounts(b, kb))

  // ──────────────────────────────────────────────────────────────────
  // SHARED-SCAN est+exact (optimization round 17, guide §1.2/§2.3):
  // the gated referee queries (q205/q211/q217, and q204 in Analytics)
  // used to compute the md5 CMS from the RAW rows and the exact referee
  // from a separate per-key groupBy — each base table scanned twice per
  // candidate, and md5 evaluated 4× PER ROW. A CMS cell's count is the
  // sum of its keys' multiplicities, so folding the per-key count frame
  // WEIGHTED is bit-identical — and then the sketch and the referee hang
  // off the SAME groupBy subtree, whose Exchange the executed plan
  // shares (ReusedExchange, pinned in SketchPlannerSpec and visible in
  // plans/r17/): one scan + one key shuffle per side per candidate, and
  // md5 runs 4× per DISTINCT key. Results unchanged by construction.
  // ──────────────────────────────────────────────────────────────────

  /** (key-string, kn) per-key multiplicity frame of (df, k) — the one
    * pass both [[estFromCounts]] and [[exactFromCounts]] derive from.
    * Lazily checkpointed (the q217 two-consumer idiom): the exact
    * referee's join infers `key IS NOT NULL` and pushes it below its
    * copy of this aggregate, so the est and exact Exchange subtrees are
    * NOT canonically identical and AQE stage reuse alone cannot dedupe
    * them — the checkpoint makes the one computed frame feed the
    * sketch, the referee and (q211) the System-R stats. Never filters
    * nulls itself: a null key legitimately lands in the md5("<row>")
    * CMS cell, weighted exactly as the raw-row sketch weights it. */
  private[operators] def keyCounts(df: DataFrame, k: Column): DataFrame = {
    // Integral keys group NATIVELY and render to string per DISTINCT key
    // after the aggregate (r18, guide §2.3 narrower types / §4 expression
    // cost): hashing an 8-byte long beats hashing its decimal string for
    // every input row, and CAST(integral AS STRING) is injective so the
    // groups — including NULL — are identical by construction. Non-
    // integral keys keep the cast-first form (general casts need not be
    // injective, e.g. float renderings).
    val grouped =
      if (isIntegral(df, k))
        df.groupBy(k.as("key0")).agg(count(lit(1)).as("kn"))
          .select(col("key0").cast("string").as("key"), col("kn"))
      else
        df.groupBy(k.cast("string").as("key")).agg(count(lit(1)).as("kn"))
    grouped.localCheckpoint(false)
  }

  private def isIntegral(df: DataFrame, k: Column): Boolean =
    df.select(k.as("key")).schema.head.dataType match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => true
      case _ => false
    }

  /** BOTH per-key multiplicity frames of the SAME table from ONE scan
    * (optimization round 18, guide §1.2/§2.4 — the r17 ledger's declared
    * "not yet" item): `orders` appears in two q205/q217 candidates under
    * DIFFERENT keys (o_custkey vs o_orderkey), which as two [[keyCounts]]
    * calls costs two full scans. GROUPING SETS ((k1),(k2)) computes both
    * aggregations in one pass — one scan, one Expand (×2 rows into the
    * same map-side partial agg the two separate groupBys paid anyway),
    * one shuffle — and the (ndv₁+ndv₂)-row result is checkpointed ONCE.
    * `grouping_id()` disambiguates the set (1 = grouped by k1, 2 = by
    * k2): a NULL key is a legitimate group, so the null-marker columns
    * alone cannot. The two returned frames are gid-filters over the
    * shared checkpoint — each VALUE-IDENTICAL to its [[keyCounts]] form
    * (same cast-to-string, same count), pinned in SketchPlannerSpec. */
  private[operators] def keyCounts2(df: DataFrame, k1: Column,
      k2: Column): (DataFrame, DataFrame) = {
    // same native-group/cast-after trick as [[keyCounts]] when both keys
    // are integral — the expanded rows then hash (long, long, int)
    // instead of two strings
    val nativeKeys = isIntegral(df, k1) && isIntegral(df, k2)
    val pre =
      if (nativeKeys) df.select(k1.as("key1"), k2.as("key2"))
      else df.select(k1.cast("string").as("key1"),
        k2.cast("string").as("key2"))
    val agg = pre
      .groupingSets(Seq(Seq(col("key1")), Seq(col("key2"))),
        col("key1"), col("key2"))
      .agg(count(lit(1)).as("kn"), grouping_id().as("gid"))
    val both =
      (if (nativeKeys)
        agg.select(col("key1").cast("string").as("key1"),
          col("key2").cast("string").as("key2"), col("kn"), col("gid"))
      else agg).localCheckpoint(false)
    (both.filter(col("gid") === 1).select(col("key1").as("key"), col("kn")),
      both.filter(col("gid") === 2).select(col("key2").as("key"), col("kn")))
  }

  /** [[estPair]]'s gated md5 estimate folded from per-key count frames —
    * value-identical to the raw-row form. */
  private[operators] def estFromCounts(fa: DataFrame, fb: DataFrame): DataFrame = {
    def sketch(kc: DataFrame, out: String): DataFrame =
      Analytics.cmsSketchWeighted(kc, W)
        .select(col("row_idx"), col("col_idx"), col("cnt").as(out))
    sketch(fa, "ca").join(sketch(fb, "cb"), Seq("row_idx", "col_idx"))
      .groupBy(col("row_idx"))
      .agg(sum(expr("CAST(ca AS DECIMAL(38,0)) * cb")).as("ip"))
      .agg(min(col("ip")).cast("long").as("est"))
  }

  /** [[exactPair]]'s Σ na·nb from per-key count frames. */
  private[operators] def exactFromCounts(fa: DataFrame, fb: DataFrame): DataFrame =
    fa.select(col("key"), col("kn").as("na"))
      .join(fb.select(col("key"), col("kn").as("nb")), Seq("key"))
      .agg(coalesce(sum(expr("CAST(na AS DECIMAL(38,0)) * nb")), lit(0))
        .cast("long").as("exact"))

  /** Rows the planner lets an intermediate hold and still broadcast it
    * into the next join — config in a real optimizer
    * (spark.sql.autoBroadcastJoinThreshold is the byte-unit analog). */
  val broadcastRowThreshold = 50000L

  /** The gated decision table for the customer⋈orders⋈lineitem chain.
    * One row per candidate first join, with the sketch estimate, the
    * exact referee, the pick (argmin by (size, name) — deterministic
    * under ties), and the broadcast-vs-shuffle call for the candidate's
    * intermediate under [[broadcastRowThreshold]]. At sf0.01 the two
    * candidates land on OPPOSITE sides of the threshold (est
    * c⋈o ≈ 16.4k → broadcast, o⋈l ≈ 115k → shuffle), so both branches
    * of both decisions are exercised — and both agree with exact stats. */
  def q205JoinPlanner(s: SparkSession, d: String): DataFrame = {
    // est + exact per candidate from ONE key-count pass per side (the
    // shared-scan helpers above): the sketch and its referee reuse the
    // same groupBy Exchange, so each base table is scanned once per
    // candidate instead of twice and md5 runs per distinct key.
    // r18: `orders` appears in BOTH candidates under different keys —
    // [[keyCounts2]] derives both its key-count frames from ONE scan
    // (3 base-table scans total instead of 4).
    def cand(name: String, fa: DataFrame, fb: DataFrame): DataFrame =
      estFromCounts(fa, fb).crossJoin(broadcast(exactFromCounts(fa, fb)))
        .select(lit(name).as("candidate"), col("est").as("est_join_size"),
          col("exact").as("exact_join_size"))
    val (fOrdCust, fOrdKey) =
      keyCounts2(orders(s, d), col("o_custkey"), col("o_orderkey"))
    val rows = Seq(
      cand("c_join_o", keyCounts(customer(s, d), col("c_custkey")), fOrdCust),
      cand("o_join_l", fOrdKey, keyCounts(lineitem(s, d), col("l_orderkey"))))
      .reduce(_ unionByName _)
    // 2-row frame: the bounded-aggregate scalar-join idiom, never a
    // data-sized single partition
    val best = rows.agg(
      min(struct(col("est_join_size"), col("candidate"))).as("be"),
      min(struct(col("exact_join_size"), col("candidate"))).as("bx"))
    rows.crossJoin(broadcast(best))
      .select(col("candidate"), col("est_join_size"), col("exact_join_size"),
        (col("candidate") === col("be.candidate")).as("est_pick"),
        (col("candidate") === col("bx.candidate")).as("exact_pick"),
        when(col("est_join_size") <= broadcastRowThreshold, "broadcast")
          .otherwise("shuffle").as("est_strategy"),
        when(col("exact_join_size") <= broadcastRowThreshold, "broadcast")
          .otherwise("shuffle").as("exact_strategy"))
  }

  // NOTE: q205Sql stripMargins the INTERPOLATED text, so no line these
  // helpers emit may begin with `||` (the outer pass would eat one bar)
  private def cmsSql(table: String, key: String, cnt: String): String =
    s"""h_$cnt AS (
       |  SELECT g.row_idx,
       |    CAST('0x' || substr(md5(CAST(g.row_idx AS VARCHAR) || ':' ||
       |         CAST($key AS VARCHAR)), 1, 15) AS BIGINT) % $W
       |      AS col_idx
       |  FROM $table CROSS JOIN g),
       |$cnt AS (SELECT row_idx, col_idx, count(*) AS $cnt
       |         FROM h_$cnt GROUP BY 1, 2)""".stripMargin

  private def pairSql(name: String, sa: String, sb: String,
      ta: String, ka: String, tb: String, kb: String): String =
    s"""ip_$name AS (
       |  SELECT $sa.row_idx, sum(CAST($sa.$sa AS HUGEINT) * $sb.$sb) AS ip
       |  FROM $sa JOIN $sb USING (row_idx, col_idx) GROUP BY 1),
       |fa_$name AS (SELECT CAST($ka AS VARCHAR) AS key, count(*) AS na
       |             FROM $ta GROUP BY 1),
       |fb_$name AS (SELECT CAST($kb AS VARCHAR) AS key, count(*) AS nb
       |             FROM $tb GROUP BY 1),
       |r_$name AS (
       |  SELECT '$name' AS candidate,
       |    (SELECT CAST(min(ip) AS BIGINT) FROM ip_$name) AS est_join_size,
       |    (SELECT CAST(coalesce(sum(CAST(na AS HUGEINT) * nb), 0) AS BIGINT)
       |     FROM fa_$name JOIN fb_$name USING (key)) AS exact_join_size)""".stripMargin

  val q205Sql: String =
    s"""WITH g AS (SELECT CAST(range AS BIGINT) AS row_idx FROM range(4)),
       |${cmsSql("customer", "c_custkey", "s_c")},
       |${cmsSql("orders", "o_custkey", "s_oc")},
       |${cmsSql("orders", "o_orderkey", "s_ok")},
       |${cmsSql("lineitem", "l_orderkey", "s_l")},
       |${pairSql("c_join_o", "s_c", "s_oc", "customer", "c_custkey", "orders", "o_custkey")},
       |${pairSql("o_join_l", "s_ok", "s_l", "orders", "o_orderkey", "lineitem", "l_orderkey")},
       |r AS (SELECT * FROM r_c_join_o UNION ALL SELECT * FROM r_o_join_l)
       |SELECT candidate, est_join_size, exact_join_size,
       |  candidate = (SELECT candidate FROM r r2
       |               ORDER BY r2.est_join_size, r2.candidate LIMIT 1)
       |    AS est_pick,
       |  candidate = (SELECT candidate FROM r r2
       |               ORDER BY r2.exact_join_size, r2.candidate LIMIT 1)
       |    AS exact_pick,
       |  CASE WHEN est_join_size <= $broadcastRowThreshold
       |    THEN 'broadcast' ELSE 'shuffle' END AS est_strategy,
       |  CASE WHEN exact_join_size <= $broadcastRowThreshold
       |    THEN 'broadcast' ELSE 'shuffle' END AS exact_strategy
       |FROM r""".stripMargin

  /** EXECUTE a three-way join A⋈B⋈C (A–B on `kab`, B–C on `kbc`, both
    * key columns present in B) in the sketch-chosen order: price both
    * intermediates from CMS sketches, join the cheaper pair first, and
    * broadcast the intermediate into the second join when its estimate
    * clears `bcastRows`. Returns (decision-label, frame); output rows
    * are order-independent — SketchPlannerSpec differentials both
    * orders on uniform AND adversarially skewed corpora.
    *
    * The two 1-row estimates are collected driver-side by design (the
    * scalar a plan decision needs — AQE's runtime-stats reads are the
    * same shape); each costs one counting scan whose shuffle payload is
    * the constant-size sketch. */
  def planThreeWay(a: DataFrame, b: DataFrame, c: DataFrame,
      kab: String, kbc: String,
      bcastRows: Long = broadcastRowThreshold): (String, DataFrame) = {
    val d = decideThreeWay(a, b, c, kab, kbc, bcastRows)
    (d, buildThreeWay(a, b, c, kab, kbc, d))
  }

  /** The decision alone — at most two constant-size sketch scans (1-row
    * collects), zero when [[SketchCatalog]] already holds both edges.
    * Catalog keys are the same per-edge identities [[decideChainCols]]
    * uses, so a chain decision over the same tables warms the three-way
    * and vice versa. Label: `{ab,bc}_first/{broadcast,shuffle}`. */
  def decideThreeWay(a: DataFrame, b: DataFrame, c: DataFrame,
      kab: String, kbc: String,
      bcastRows: Long = broadcastRowThreshold): String = {
    val s = a.sparkSession
    val useCatalog = s.conf.getOption("spark.graft.planner.sketchCache")
      .forall(_.toBoolean)
    def est(x: DataFrame, y: DataFrame, k: String): Long = {
      val ck = edgeKey(x, col(k), y, col(k))
      (if (useCatalog) SketchCatalog.lookup(s, ck) else None).getOrElse {
        val v = estPair(x, col(k), y, col(k), fast = true)
          .collect()(0).getLong(0) // 1-row planner scalar (AQE shape)
        if (useCatalog) SketchCatalog.store(s, ck, v)
        v
      }
    }
    val estAB = est(a, b, kab)
    val estBC = est(b, c, kbc)
    val label = if (estAB <= estBC) "ab_first" else "bc_first"
    val strat = if (math.min(estAB, estBC) <= bcastRows) "broadcast"
    else "shuffle"
    s"$label/$strat"
  }

  /** Construct the plan a decision names — no sketching, so a cached
    * decision is free to reuse (and the A/B can time execution alone). */
  def buildThreeWay(a: DataFrame, b: DataFrame, c: DataFrame,
      kab: String, kbc: String, decision: String): DataFrame = {
    val (first, second, secondKey) =
      if (decision.startsWith("ab_first")) (a.join(b, kab), c, kbc)
      else (b.join(c, kbc), a, kab)
    val hinted =
      if (decision.endsWith("/broadcast")) broadcast(first) else first
    hinted.join(second, secondKey)
  }

  /** The opposite first join (same broadcast policy suffix dropped —
    * the wrong order's intermediate is by construction the big one, so
    * it gets no hint), for differentials and the A/B. */
  def invertDecision(decision: String): String =
    if (decision.startsWith("ab_first")) "bc_first/shuffle"
    else "ab_first/shuffle"

  /** The deliberately wrong order, for differentials and the A/B. */
  def threeWayWorstFirst(a: DataFrame, b: DataFrame, c: DataFrame,
      kab: String, kbc: String): DataFrame =
    buildThreeWay(a, b, c, kab, kbc,
      invertDecision(decideThreeWay(a, b, c, kab, kbc)))

  /** SELECTIVITY-ESTIMATOR COMPARISON — the CMS inner product (q204)
    * side by side with the classic System-R formula
    * |A⋈B| ≈ n_A·n_B / max(ndv_A, ndv_B) (Selinger 1979, and what
    * Catalyst's CBO computes from ANALYZE stats), each against the
    * exact size, per candidate join of the TPC-H-ish chain plus
    * events⋈orders. Emits both estimates and both 1e-9 fixed-point
    * relative errors (CMS error signed-positive by theorem; System-R
    * error in absolute value). System-R here gets EXACT ndv/row counts
    * (better than any catalog), so its residual error is purely the
    * uniformity assumption.
    *
    * The honest reading of the gated fixture: on FK-shaped joins with
    * mild skew, System-R-with-exact-stats is accurate — often beating
    * the CMS's width-noise overestimate. The CMS earns its keep on the
    * two axes the table can't show: (1) its error is ONE-SIDED — it
    * never underestimates, so a planner consuming it never wrongly
    * picks a broadcast/unsalted plan for an exploding join, while
    * System-R's uniformity assumption UNDERESTIMATES under real key
    * skew by arbitrary factors (SketchPlannerSpec's hot-key fixture:
    * 125× under, exactly the dangerous direction), and (2) it needs no
    * catalog — it works on any mid-pipeline frame a filter just
    * produced. An engine wants both: System-R when stats exist and
    * distributions are tame, the sketch when they don't or aren't.
    *
    * Scale shape: per candidate, two count-distinct partial aggs (key
    * frames), one CMS fold each side (≤4·16384 counters map-side), a
    * sketch-sized join — nothing data×data; the exact referee is
    * gate-only as in q204/q205. */
  def q211SelectivityCompare(s: SparkSession, d: String): DataFrame = {
    // r18 cross-candidate sharing: `orders` used to be scanned three
    // times (o_custkey in c_join_o AND e_join_o — two separate
    // checkpoints of the IDENTICAL frame — plus o_orderkey in o_join_l).
    // One [[keyCounts2]] pass yields both key frames, and the o_custkey
    // frame is the SAME object in both its candidates: 4 base-table
    // scans total instead of 6.
    val (fOrdCust, fOrdKey) =
      keyCounts2(orders(s, d), col("o_custkey"), col("o_orderkey"))
    val cands = Seq(
      ("c_join_o", keyCounts(customer(s, d), col("c_custkey")), fOrdCust),
      ("o_join_l", fOrdKey, keyCounts(lineitem(s, d), col("l_orderkey"))),
      ("e_join_o", keyCounts(events(s, d), col("user_id")), fOrdCust))
    cands.map { case (name, fa, fb) =>
      // ONE key-count pass per side feeds the System-R stats, the exact
      // referee AND the md5 CMS (shared-scan helpers above): the old
      // form re-derived fa/fb for stats and exact and sketched the raw
      // rows besides — 4 scans per side per candidate, now 1.
      val statsA = fa.agg(sum(col("kn")).as("n_a"), count(lit(1)).as("ndv_a"))
      val statsB = fb.agg(sum(col("kn")).as("n_b"), count(lit(1)).as("ndv_b"))
      val exact = exactFromCounts(fa, fb)
        .select(col("exact").as("exact_size"))
      estFromCounts(fa, fb)
        .crossJoin(broadcast(exact))
        .crossJoin(broadcast(statsA)).crossJoin(broadcast(statsB))
        .select(lit(name).as("candidate"), col("exact_size"),
          col("est").as("cms_est"),
          expr("CAST((CAST(n_a AS DECIMAL(38,0)) * n_b) " +
            "div greatest(ndv_a, ndv_b) AS BIGINT)").as("systemr_est"))
        .withColumn("cms_err_fp",
          expr("CASE WHEN exact_size > 0 THEN " +
            "((cms_est - exact_size) * 1000000000L) div exact_size " +
            "ELSE 0L END"))
        .withColumn("systemr_err_fp",
          expr("CASE WHEN exact_size > 0 THEN " +
            "(abs(CAST(systemr_est AS DECIMAL(38,0)) - exact_size) " +
            "* 1000000000) div exact_size ELSE 0 END").cast("long"))
    }.reduce(_ unionByName _)
  }

  private def selSql(name: String, ta: String, ka: String,
      tb: String, kb: String): String =
    s"""ga_$name AS (SELECT CAST($ka AS VARCHAR) AS key, count(*) AS na
       |             FROM $ta GROUP BY 1),
       |gb_$name AS (SELECT CAST($kb AS VARCHAR) AS key, count(*) AS nb
       |             FROM $tb GROUP BY 1),
       |ha_$name AS (
       |  SELECT g.row_idx,
       |    CAST('0x' || substr(md5(CAST(g.row_idx AS VARCHAR) || ':' ||
       |         CAST($ka AS VARCHAR)), 1, 15) AS BIGINT) % $W AS col_idx
       |  FROM $ta CROSS JOIN g),
       |sa_$name AS (SELECT row_idx, col_idx, count(*) AS ca
       |             FROM ha_$name GROUP BY 1, 2),
       |hb_$name AS (
       |  SELECT g.row_idx,
       |    CAST('0x' || substr(md5(CAST(g.row_idx AS VARCHAR) || ':' ||
       |         CAST($kb AS VARCHAR)), 1, 15) AS BIGINT) % $W AS col_idx
       |  FROM $tb CROSS JOIN g),
       |sb_$name AS (SELECT row_idx, col_idx, count(*) AS cb
       |             FROM hb_$name GROUP BY 1, 2),
       |r_$name AS (
       |  SELECT '$name' AS candidate,
       |    (SELECT CAST(coalesce(sum(CAST(na AS HUGEINT) * nb), 0) AS BIGINT)
       |     FROM ga_$name JOIN gb_$name USING (key)) AS exact_size,
       |    (SELECT CAST(min(ip) AS BIGINT) FROM (
       |       SELECT sa_$name.row_idx,
       |         sum(CAST(sa_$name.ca AS HUGEINT) * sb_$name.cb) AS ip
       |       FROM sa_$name JOIN sb_$name USING (row_idx, col_idx)
       |       GROUP BY 1)) AS cms_est,
       |    CAST((SELECT CAST(sum(na) AS HUGEINT) FROM ga_$name)
       |       * (SELECT CAST(sum(nb) AS HUGEINT) FROM gb_$name)
       |       // greatest((SELECT count(*) FROM ga_$name),
       |                   (SELECT count(*) FROM gb_$name))
       |      AS BIGINT) AS systemr_est)""".stripMargin

  val q211Sql: String =
    s"""WITH g AS (SELECT CAST(range AS BIGINT) AS row_idx FROM range(4)),
       |${selSql("c_join_o", "customer", "c_custkey", "orders", "o_custkey")},
       |${selSql("o_join_l", "orders", "o_orderkey", "lineitem", "l_orderkey")},
       |${selSql("e_join_o", "events", "user_id", "orders", "o_custkey")},
       |r AS (SELECT * FROM r_c_join_o UNION ALL SELECT * FROM r_o_join_l
       |      UNION ALL SELECT * FROM r_e_join_o)
       |SELECT candidate, exact_size, cms_est, systemr_est,
       |  CAST(CASE WHEN exact_size > 0 THEN
       |    ((cms_est - exact_size) * 1000000000) // exact_size
       |    ELSE 0 END AS BIGINT) AS cms_err_fp,
       |  CAST(CASE WHEN exact_size > 0 THEN
       |    (abs(CAST(systemr_est AS HUGEINT) - exact_size) * 1000000000)
       |      // exact_size ELSE 0 END AS BIGINT) AS systemr_err_fp
       |FROM r""".stripMargin

  // ──────────────────────────────────────────────────────────────────
  // N-WAY CHAIN REORDER (round-13, generalizing decideThreeWay): price
  // every adjacent join of a linear N-table chain from per-side
  // sketches, then GREEDILY merge the cheapest adjacent pair,
  // propagating intermediate cardinalities through edge SELECTIVITIES —
  // System-R's independence assumption with sketch-measured
  // selectivities (sel(e) = est|A⋈B| / (n_A·n_B)) in place of the
  // catalog's 1/max(ndv). The estimator is one counting scan per
  // (table, key); a mid-chain table prices both its edges from the same
  // scan's keyspace, and every sketch is reusable across plans.
  // ──────────────────────────────────────────────────────────────────

  /** One greedy merge: join across `edge` (= keys(edge), between tables
    * edge and edge+1); broadcast-hint the named side when its estimated
    * rows clear the threshold (at most one side is hinted — the
    * smaller). */
  case class ChainStep(edge: Int, bcastLeft: Boolean, bcastRight: Boolean)

  /** Decide the merge order for `tables(0) ⋈ … ⋈ tables(n-1)` with
    * `keys(i)` joining tables i and i+1 (shared column names, the
    * planThreeWay convention). AT MOST ONE bounded collect: the edge
    * estimates and table counts not already in [[SketchCatalog]] union
    * into a single (≤2n−1)-row frame read on the driver — the AQE
    * runtime-stats shape, same budget discipline as decideThreeWay —
    * and a fully-warm catalog means ZERO scans and zero collects.
    * Greedy state lives in plain Scala: segment
    * cardinalities multiply through the sketch selectivities, ties
    * break on the lower edge index (deterministic; the q217 gated
    * decision table replicates the same arithmetic in-plan against the
    * DuckDB oracle). */
  def decideChain(tables: Seq[DataFrame], keys: Seq[String],
      bcastRows: Long = broadcastRowThreshold): Seq[ChainStep] =
    decideChainCols(tables, keys.map(k => (col(k), col(k))), bcastRows)

  /** [[decideChain]]'s core with per-edge (left key, right key) COLUMNS
    * instead of shared names — what [[graft.plans.RewriteChainJoin]]
    * needs, since a plan-extracted chain joins on attributes whose
    * names differ per table (c_custkey = o_custkey). */
  private[graft] def decideChainCols(tables: Seq[DataFrame],
      edgeCols: Seq[(Column, Column)],
      bcastRows: Long = broadcastRowThreshold): Seq[ChainStep] = {
    require(tables.size >= 2 && edgeCols.size == tables.size - 1,
      s"chain needs n tables and n-1 keys, got ${tables.size}/${edgeCols.size}")
    val s = tables.head.sparkSession
    val useCatalog = s.conf.getOption("spark.graft.planner.sketchCache")
      .forall(_.toBoolean) // default ON — see SketchCatalog's contract
    // (id, catalog key, manifest loader, estimator frame) per statistic
    val wanted: Seq[(String, AnyRef, () => Option[Long], () => DataFrame)] =
      edgeCols.zipWithIndex.map { case ((lk, rk), i) =>
        (s"e$i", edgeKey(tables(i), lk, tables(i + 1), rk),
          () => persistedEdgeEst(tables(i), lk, tables(i + 1), rk), () =>
          estPair(tables(i), lk, tables(i + 1), rk, fast = true)
            .select(lit(s"e$i").as("id"), col("est")))
      } ++ tables.zipWithIndex.map { case (t, i) =>
        (s"n$i", countKey(t), () => persistedCount(t), () =>
          t.agg(count(lit(1)).as("est")).select(lit(s"n$i").as("id"), col("est")))
      }
    val stats = gatherStats(s, useCatalog, wanted)
    val n = tables.indices.map(i => stats(s"n$i").toDouble)
    val sel = edgeCols.indices.map(i =>
      stats(s"e$i").toDouble / math.max(1.0, n(i) * n(i + 1)))
    // segments (loTable, hiTable, estCard); edge between adjacent
    // segments l and r is keys(l.hiTable)
    var segs = tables.indices.map(i => (i, i, n(i))).toVector
    val steps = Vector.newBuilder[ChainStep]
    while (segs.size > 1) {
      val cands = (0 until segs.size - 1).map { j =>
        val (l, r) = (segs(j), segs(j + 1))
        (l._3 * r._3 * sel(l._2), l._2, j)
      }
      val (cost, _, j) = cands.minBy(c => (c._1, c._2))
      val (l, r) = (segs(j), segs(j + 1))
      steps += ChainStep(l._2,
        bcastLeft = l._3 <= r._3 && l._3 <= bcastRows.toDouble,
        bcastRight = r._3 < l._3 && r._3 <= bcastRows.toDouble)
      segs = segs.patch(j, Vector((l._1, r._2, cost)), 2)
    }
    steps.result()
  }

  /** Execute a decided merge order — no sketching, so a cached decision
    * replays free (and the A/B times execution alone). */
  def buildChain(tables: Seq[DataFrame], keys: Seq[String],
      steps: Seq[ChainStep]): DataFrame = {
    var segs = tables.indices.map(i => (i, i, tables(i))).toVector
    steps.foreach { st =>
      val j = segs.indexWhere(_._2 == st.edge)
      require(j >= 0 && j < segs.size - 1, s"step $st does not fit $segs")
      val (l, r) = (segs(j), segs(j + 1))
      val lf = if (st.bcastLeft) broadcast(l._3) else l._3
      val rf = if (st.bcastRight) broadcast(r._3) else r._3
      segs = segs.patch(j, Vector((l._1, r._2, lf.join(rf, keys(st.edge)))), 2)
    }
    segs.head._3
  }

  /** Decide + build in one call. */
  def planChain(tables: Seq[DataFrame], keys: Seq[String],
      bcastRows: Long = broadcastRowThreshold): (Seq[ChainStep], DataFrame) = {
    val d = decideChain(tables, keys, bcastRows)
    (d, buildChain(tables, keys, d))
  }

  /** Left-to-right fold with no hints — the order a planner with no
    * distribution knowledge defaults to; the A/B's comparison arm. */
  def chainLeftToRight(tables: Seq[DataFrame], keys: Seq[String]): DataFrame =
    buildChain(tables, keys,
      keys.indices.map(i => ChainStep(i, bcastLeft = false, bcastRight = false)))

  /** Resolve the wanted statistics: [[SketchCatalog]] hits cost
    * nothing; misses try the PERSISTED `_sketch/` manifest next (small
    * driver-side file reads, zero jobs — the cold-session path); only
    * what neither holds unions into ONE bounded frame and one driver
    * collect (the decideChain/decideStar budget). Manifest loads are
    * stored back into the session catalog so later decisions skip even
    * the file read. Shared by the chain and star deciders so both
    * amortize identically.
    *
    * OPT-OUT (r16 advice): the manifest path honors the SAME
    * `spark.graft.planner.sketchCache` flag as the session catalog —
    * a user who turns cached stats off to force fresh pricing gets a
    * real scan, never silently-possibly-stale on-disk numbers — plus a
    * dedicated `spark.graft.planner.sketchManifest` flag (default on)
    * to disable only the persisted layer while keeping the in-session
    * catalog. */
  private def gatherStats(s: SparkSession, useCatalog: Boolean,
      wanted: Seq[(String, AnyRef, () => Option[Long], () => DataFrame)])
      : Map[String, Long] = {
    val cached: Map[String, Long] =
      if (!useCatalog) Map.empty
      else wanted.flatMap { case (id, ck, _, _) =>
        SketchCatalog.lookup(s, ck).map(id -> _)
      }.toMap
    val useManifest = useCatalog &&
      s.conf.getOption("spark.graft.planner.sketchManifest").forall(_.toBoolean)
    val manifested: Map[String, Long] =
      if (!useManifest) Map.empty
      else wanted.flatMap {
        case (id, _, loader, _) if !cached.contains(id) =>
          loader().map(id -> _)
        case _ => None
      }.toMap
    val missing = wanted.filterNot { case (id, _, _, _) =>
      cached.contains(id) || manifested.contains(id) }
    val fresh: Map[String, Long] =
      if (missing.isEmpty) Map.empty
      else missing.map(_._4()).reduce(_ unionByName _)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    if (useCatalog) wanted.foreach { case (id, ck, _, _) =>
      (manifested.get(id) orElse fresh.get(id)).foreach(
        SketchCatalog.store(s, ck, _))
    }
    cached ++ manifested ++ fresh
  }

  // ───────────────────────── star planning ─────────────────────────

  /** One decided star join: `edge` indexes the dim to join next;
    * `bcastDim` hints a broadcast of that dim under the row budget. */
  case class StarStep(edge: Int, bcastDim: Boolean)

  /** Decide the dim order for a STAR — one fact joined by N independent
    * dims, `edges(i)` = (fact key, dim key) — most-selective dim FIRST:
    * dims are ordered by the sketch-estimated join output |fact ⋈ dim_i|
    * (for a fixed fact this IS the fact-retention order est_i / n_fact,
    * so no fact count is needed), ties on the lower edge index. Joining
    * the most selective dim first shrinks the fact stream every later
    * join has to carry — the classic star heuristic, here priced from
    * the same CMS sketches as the chain. A dim whose row count fits
    * `bcastRows` gets a broadcast hint. Budget identical to
    * [[decideChain]]: at most ONE bounded (≤2n-row) collect through
    * [[SketchCatalog]], zero jobs when warm. */
  def decideStar(fact: DataFrame, dims: Seq[DataFrame],
      edges: Seq[(Column, Column)],
      bcastRows: Long = broadcastRowThreshold): Seq[StarStep] = {
    require(dims.nonEmpty && edges.size == dims.size,
      s"star needs n dims and n edges, got ${dims.size}/${edges.size}")
    val s = fact.sparkSession
    val useCatalog = s.conf.getOption("spark.graft.planner.sketchCache")
      .forall(_.toBoolean)
    val wanted: Seq[(String, AnyRef, () => Option[Long], () => DataFrame)] =
      edges.zipWithIndex.map { case ((fk, dk), i) =>
        (s"e$i", edgeKey(fact, fk, dims(i), dk),
          () => persistedEdgeEst(fact, fk, dims(i), dk), () =>
          estPair(fact, fk, dims(i), dk, fast = true)
            .select(lit(s"e$i").as("id"), col("est")))
      } ++ dims.zipWithIndex.map { case (t, i) =>
        (s"n$i", countKey(t), () => persistedCount(t), () =>
          t.agg(count(lit(1)).as("est")).select(lit(s"n$i").as("id"), col("est")))
      }
    val stats = gatherStats(s, useCatalog, wanted)
    edges.indices.sortBy(i => (stats(s"e$i"), i))
      .map(i => StarStep(i, bcastDim = stats(s"n$i") <= bcastRows))
  }

  /** Execute a decided star order — no sketching, decisions replay free. */
  def buildStar(fact: DataFrame, dims: Seq[DataFrame],
      edges: Seq[(Column, Column)], steps: Seq[StarStep]): DataFrame =
    steps.foldLeft(fact) { (acc, st) =>
      val d = if (st.bcastDim) broadcast(dims(st.edge)) else dims(st.edge)
      acc.join(d, edges(st.edge)._1 === edges(st.edge)._2)
    }

  /** Greedy-rank arithmetic for a 3-EDGE chain (4 tables), shared
    * verbatim by the Spark plan and the DuckDB oracle: given edge
    * estimates a0..a2 and inner-table counts n1, n2, every greedy
    * comparison reduces to a cross-multiplied integer inequality
    * (division-free — the determinism convention):
    *
    *   step 1: argmin(a0, a1, a2)                 [ties → lower index]
    *   step 2 after e0: cost(e1) = a0·a1/n1  vs cost(e2) = a2
    *   step 2 after e1: cost(e0) = a0·a1/n1  vs cost(e2) = a1·a2/n2
    *   step 2 after e2: cost(e0) = a0        vs cost(e1) = a1·a2/n2
    *
    * each both-sides-×(n1·n2) into DECIMAL(38,0)/HUGEINT products. The
    * after-e1 comparisons additionally cancel the common a1 factor
    * (keeping products two-wide, overflow-safe) — valid only when
    * a1 > 0, so both carry an explicit `a1 = 0` guard: with a1 = 0 the
    * true costs tie at zero and the greedy breaks to the LOWER edge
    * (e0 second, e2 third), which the cancelled inequality alone would
    * get wrong whenever a0·n2 > a2·n1. The spec referee includes
    * zero-size edges to pin this branch. */
  private[operators] def rank3Sql(a0: String, a1: String, a2: String,
      n1: String, n2: String, edgeCol: String,
      e0: String, e1: String, e2: String): String = {
    def d(x: String) = s"CAST($x AS DECIMAL(38,0))"
    val f0 = s"($a0 <= $a1 AND $a0 <= $a2)"
    val f1 = s"(NOT ($a0 <= $a1 AND $a0 <= $a2) AND $a1 <= $a2)"
    s"""CAST(CASE $edgeCol
       WHEN '$e0' THEN
         CASE WHEN $f0 THEN 1
              WHEN $f1 THEN CASE WHEN $a1 = 0
                                   OR ${d(a0)} * $n2 <= ${d(a2)} * $n1
                            THEN 2 ELSE 3 END
              ELSE CASE WHEN ${d(a0)} * $n2 <= ${d(a1)} * $a2
                   THEN 2 ELSE 3 END END
       WHEN '$e1' THEN
         CASE WHEN $f1 THEN 1
              WHEN $f0 THEN CASE WHEN ${d(a0)} * $a1 <= ${d(a2)} * $n1
                            THEN 2 ELSE 3 END
              ELSE CASE WHEN ${d(a1)} * $a2 < ${d(a0)} * $n2
                   THEN 2 ELSE 3 END END
       ELSE
         CASE WHEN NOT $f0 AND NOT $f1 THEN 1
              WHEN $f0 THEN CASE WHEN ${d(a2)} * $n1 < ${d(a0)} * $a1
                            THEN 2 ELSE 3 END
              ELSE CASE WHEN $a1 <> 0
                          AND ${d(a2)} * $n1 < ${d(a0)} * $n2
                   THEN 2 ELSE 3 END END
       END AS BIGINT)"""
  }

  /** The GATED chain-reorder decision table — the q205 pattern widened
    * to the 4-table chain customer⋈orders⋈lineitem⋈part: one row per
    * edge with the md5-CMS estimate, the exact referee, and the edge's
    * GREEDY MERGE RANK under both cost models (`est_rank` from
    * sketches — what [[decideChain]] would do; `exact_rank` from true
    * sizes — what a perfectly-informed optimizer would do). Rank
    * arithmetic is [[rank3Sql]], interpolated verbatim into BOTH
    * engines, so the gate pins every greedy comparison bit-for-bit; no
    * driver collect anywhere in this path (scalars travel as broadcast
    * 1-row aggregates). */
  def q217JoinReorder(s: SparkSession, d: String): DataFrame = {
    // est + exact per edge from ONE key-count pass per side (the q205
    // shared-scan pattern): one scan + one key shuffle per side per
    // edge, md5 per distinct key, referee Exchange reused.
    // r18 cross-edge sharing: `orders` (e0 by o_custkey, e1 by
    // o_orderkey) and `lineitem` (e1 by l_orderkey, e2 by l_partkey)
    // each appear on two edges under different keys — [[keyCounts2]]
    // derives both frames of each from ONE scan, and the n1/n2 row
    // counts the rank arithmetic needs are Σkn over those SAME frames
    // (count(*) ≡ sum of per-key multiplicities) instead of two more
    // full scans: 4 base-table scans total instead of 8.
    def cand(name: String, fa: DataFrame, fb: DataFrame): DataFrame =
      estFromCounts(fa, fb).crossJoin(broadcast(exactFromCounts(fa, fb)))
        .select(lit(name).as("edge"), col("est").as("est_size"),
          col("exact").as("exact_size"))
    val (fOrdCust, fOrdKey) =
      keyCounts2(orders(s, d), col("o_custkey"), col("o_orderkey"))
    val (fLineOrd, fLinePart) =
      keyCounts2(lineitem(s, d), col("l_orderkey"), col("l_partkey"))
    val rows = Seq(
      cand("e0_c_o", keyCounts(customer(s, d), col("c_custkey")), fOrdCust),
      cand("e1_o_l", fOrdKey, fLineOrd),
      cand("e2_l_p", fLinePart, keyCounts(part(s, d), col("p_partkey"))))
      .reduce(_ unionByName _)
      .localCheckpoint(false) // two consumers: output rows + the pivot
    val wide = rows.agg(
      max(when(col("edge") === "e0_c_o", col("est_size"))).as("a0"),
      max(when(col("edge") === "e1_o_l", col("est_size"))).as("a1"),
      max(when(col("edge") === "e2_l_p", col("est_size"))).as("a2"),
      max(when(col("edge") === "e0_c_o", col("exact_size"))).as("x0"),
      max(when(col("edge") === "e1_o_l", col("exact_size"))).as("x1"),
      max(when(col("edge") === "e2_l_p", col("exact_size"))).as("x2"))
    // row counts from the shared key frames: Σkn over any one key's
    // groups IS count(*) (coalesce for the empty-table edge case, where
    // sum yields NULL but count(*) yields 0)
    val n1 = fOrdCust.agg(coalesce(sum(col("kn")), lit(0L)).as("n1"))
    val n2 = fLineOrd.agg(coalesce(sum(col("kn")), lit(0L)).as("n2"))
    rows.crossJoin(broadcast(wide))
      .crossJoin(broadcast(n1)).crossJoin(broadcast(n2))
      .select(col("edge"), col("est_size"), col("exact_size"),
        expr(rank3Sql("a0", "a1", "a2", "n1", "n2", "edge",
          "e0_c_o", "e1_o_l", "e2_l_p")).as("est_rank"),
        expr(rank3Sql("x0", "x1", "x2", "n1", "n2", "edge",
          "e0_c_o", "e1_o_l", "e2_l_p")).as("exact_rank"))
  }

  val q217Sql: String =
    s"""WITH g AS (SELECT CAST(range AS BIGINT) AS row_idx FROM range(4)),
       |${cmsSql("customer", "c_custkey", "s_c")},
       |${cmsSql("orders", "o_custkey", "s_oc")},
       |${cmsSql("orders", "o_orderkey", "s_ok")},
       |${cmsSql("lineitem", "l_orderkey", "s_l")},
       |${cmsSql("lineitem", "l_partkey", "s_lp")},
       |${cmsSql("part", "p_partkey", "s_p")},
       |${pairSql("e0_c_o", "s_c", "s_oc", "customer", "c_custkey", "orders", "o_custkey")},
       |${pairSql("e1_o_l", "s_ok", "s_l", "orders", "o_orderkey", "lineitem", "l_orderkey")},
       |${pairSql("e2_l_p", "s_lp", "s_p", "lineitem", "l_partkey", "part", "p_partkey")},
       |r AS (SELECT candidate AS edge, est_join_size AS est_size,
       |             exact_join_size AS exact_size FROM r_e0_c_o
       |      UNION ALL SELECT candidate, est_join_size, exact_join_size
       |      FROM r_e1_o_l
       |      UNION ALL SELECT candidate, est_join_size, exact_join_size
       |      FROM r_e2_l_p),
       |wide AS (
       |  SELECT
       |    max(CASE WHEN edge = 'e0_c_o' THEN est_size END) AS a0,
       |    max(CASE WHEN edge = 'e1_o_l' THEN est_size END) AS a1,
       |    max(CASE WHEN edge = 'e2_l_p' THEN est_size END) AS a2,
       |    max(CASE WHEN edge = 'e0_c_o' THEN exact_size END) AS x0,
       |    max(CASE WHEN edge = 'e1_o_l' THEN exact_size END) AS x1,
       |    max(CASE WHEN edge = 'e2_l_p' THEN exact_size END) AS x2
       |  FROM r),
       |ns AS (SELECT (SELECT count(*) FROM orders) AS n1,
       |              (SELECT count(*) FROM lineitem) AS n2)
       |SELECT edge, est_size, exact_size,
       |  ${rank3Sql("a0", "a1", "a2", "n1", "n2", "edge",
                     "e0_c_o", "e1_o_l", "e2_l_p")} AS est_rank,
       |  ${rank3Sql("x0", "x1", "x2", "n1", "n2", "edge",
                     "e0_c_o", "e1_o_l", "e2_l_p")} AS exact_rank
       |FROM r CROSS JOIN wide CROSS JOIN ns""".stripMargin

  /** The STAR REWRITE under the gate (round-15: rule-executed answers,
    * not just decisions): a plain literal-order star — lineitem fact
    * joined by orders, supplier, part on its three distinct keys — is
    * optimized with `spark.graft.chainReorder.enabled` on, so
    * [[graft.plans.RewriteChainJoin]]'s star path picks the dim order
    * and broadcast hints, and the EXECUTED answer must hash-match
    * DuckDB's plain four-table join. The flag is scoped to optimization
    * (frozen via ofRows, restored after) so no other gated query's
    * planning sees it; a `require` pins that hints actually landed —
    * an inert rule must fail the gate, not coast on Spark's default
    * plan. Pricing pays the bounded sketch scans once per session
    * (SketchCatalog). */
  def q248StarReorder(s: SparkSession, d: String): DataFrame = {
    val l = lineitem(s, d)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_partkey"),
        col("l_extendedprice"), col("l_discount"))
    val o = orders(s, d).select(col("o_orderkey"), col("o_orderstatus"))
    val su = supplier(s, d).select(col("s_suppkey"), col("s_nationkey"))
    val p = part(s, d).select(col("p_partkey"), col("p_size"))
    val star = l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(su, col("l_suppkey") === col("s_suppkey"))
      .join(p, col("l_partkey") === col("p_partkey"))
      .filter(col("p_size") <= 25)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows"),
        sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)")).cast("double").as("revenue"))
    org.apache.spark.sql.GraftSqlBridge.optimizedWithFlag(star,
        graft.plans.RewriteChainJoin.FLAG) { optimized =>
      require(hasJoinHint(optimized),
        "the star rewrite did not fire: no broadcast hints in the plan")
    }
  }

  /** Did the chain-reorder rule leave a join hint anywhere in `plan`? */
  private def hasJoinHint(plan: LogicalPlan): Boolean =
    plan.exists { case j: Join => j.hint != JoinHint.NONE; case _ => false }

  val q248Sql: String =
    """SELECT o_orderstatus, count(*) AS n_rows,
      |  CAST(sum(CAST(l_extendedprice * (1 - l_discount)
      |    AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN part ON l_partkey = p_partkey
      |WHERE p_size <= 25
      |GROUP BY 1""".stripMargin

  /** The SNOWFLAKE REWRITE under the gate (round-15 verdict task 6):
    * the TPC-H q5 shape — lineitem fact, an orders dim, and a
    * supplier→nation→region BRANCH (region filtered) — written
    * LINEARLY, the way a user folds it: nation joins supplier's key
    * and region joins nation's, so no key after the second references
    * the fact and the r15 star extractor conceded the whole tree.
    * r16's `assembleBranches` collapses the chain hanging off supplier
    * into one dim, prices the collapsed branch's retention (ASIA only
    * — the selective side), and reorders. Flag scoped to THIS
    * optimization; the `require` pins that hints landed (an inert rule
    * fails the gate). Results hash-match DuckDB's plain 5-way join. */
  def q262SnowflakeReorder(s: SparkSession, d: String): DataFrame = {
    val l = lineitem(s, d)
      .select(col("l_orderkey"), col("l_suppkey"),
        col("l_extendedprice"), col("l_discount"))
    val o = orders(s, d).select(col("o_orderkey"), col("o_orderstatus"))
    val su = supplier(s, d).select(col("s_suppkey"), col("s_nationkey"))
    val n = nation(s, d)
      .select(col("n_nationkey"), col("n_regionkey"), col("n_name"))
    val re = region(s, d).select(col("r_regionkey"), col("r_name"))
      .filter(col("r_name") === "ASIA")
    val q = l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(su, col("l_suppkey") === col("s_suppkey"))
      .join(n, col("s_nationkey") === col("n_nationkey"))
      .join(re, col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_rows"),
        sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)")).cast("double").as("revenue"))
    org.apache.spark.sql.GraftSqlBridge.optimizedWithFlag(q,
        graft.plans.RewriteChainJoin.FLAG) { optimized =>
      require(hasJoinHint(optimized),
        "the snowflake rewrite did not fire: no broadcast hints in the plan")
    }
  }

  val q262Sql: String =
    """SELECT n_name, count(*) AS n_rows,
      |  CAST(sum(CAST(l_extendedprice * (1 - l_discount)
      |    AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |GROUP BY 1""".stripMargin

  /** The BUSHY REWRITE under the gate (round-16 verdict task 7): the
    * chain decider's segment-merge greedy is not left-deep-only — when
    * both OUTER edges of a 4-table chain are cheap and the middle edge
    * explodes, it merges the outer pairs first and the final merge
    * joins two JOINED segments. This gates that shape end-to-end on
    * TPC-H-ish tables: customer ⋈ orders (15k) ⋈ lineitem (60k hot
    * middle) ⋈ part filtered to ~half (est ≈ 30k), written left-to-
    * right the way a user folds it. The greedy merges e0 (15k), then
    * e2 (30k), then the explosive e1 — so (c⋈o) ⋈ (l⋈p), evaluating
    * both cheap sides at their own grain before the expensive merge.
    * The `require` pins the literal bushy SHAPE (a join with joins
    * under BOTH children) — an inert or left-deep rewrite fails the
    * gate. Estimate margins are 2× at every SF (counts scale
    * proportionally), so the decision is SF-stable. Results hash-match
    * DuckDB's plain 4-way join. */
  def q267BushyChain(s: SparkSession, d: String): DataFrame = {
    val c = customer(s, d).select(col("c_custkey"), col("c_mktsegment"))
    val o = orders(s, d).select(col("o_orderkey"), col("o_custkey"))
    val l = lineitem(s, d).select(col("l_orderkey"), col("l_partkey"),
      col("l_extendedprice"), col("l_discount"))
    val p = part(s, d).select(col("p_partkey"), col("p_retailprice"))
      .filter(col("p_retailprice") < 950.0)
    val q = c.join(o, col("c_custkey") === col("o_custkey"))
      .join(l, col("o_orderkey") === col("l_orderkey"))
      .join(p, col("l_partkey") === col("p_partkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_rows"),
        sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)")).cast("double").as("revenue"))
    org.apache.spark.sql.GraftSqlBridge.optimizedWithFlag(q,
        graft.plans.RewriteChainJoin.FLAG) { optimized =>
      val bushy = optimized.collect {
        case j: Join
            if j.left.collectFirst { case i: Join => i }.isDefined &&
               j.right.collectFirst { case i: Join => i }.isDefined => j
      }
      require(bushy.nonEmpty,
        "the bushy rewrite did not fire: no join-of-joins in the plan")
    }
  }

  val q267Sql: String =
    """SELECT c_mktsegment, count(*) AS n_rows,
      |  CAST(sum(CAST(l_extendedprice * (1 - l_discount)
      |    AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON o_orderkey = l_orderkey
      |JOIN part ON l_partkey = p_partkey
      |WHERE p_retailprice < 950.0
      |GROUP BY 1""".stripMargin

  // ───────────────── persisted sketch manifests ─────────────────

  /** PERSISTED SKETCH CATALOG (round-15 verdict task 3):
    * [[SketchCatalog]] amortizes pricing to ~0 s but is session-scoped —
    * a fresh session re-scans every table (and at 100 TB the sketch
    * scan is a real job). [[SketchManifest.write]] persists the SAME
    * statistics the planner derives by scanning — the table count and
    * one 4×16384 xxhash64 CMS per join-key column (the exact
    * [[cmsSketchFast]] counters, so estimates are bit-identical) — as a
    * `_sketch/` manifest beside the data, the `_zonemap/` commit-file
    * shape (Delta/Iceberg's stats-in-metadata discipline). At decide
    * time, [[gatherStats]] resolves a missing statistic from the
    * manifest whenever the priced side is a BARE single-root parquet
    * scan of a manifest-bearing directory and the key is a plain data
    * column — loading two small driver-side files and folding the
    * inner product in Scala: ZERO Spark jobs in a cold session
    * (SketchPlannerSpec pins the job count via the monotonic max job
    * id). Filtered/derived sides never match the bare-scan shape and
    * fall back to scanning — a persisted sketch describes the whole
    * table, not a subquery.
    *
    * Staleness contract: identical to [[SketchCatalog]] (and to every
    * stats-in-metadata store) — the manifest describes the data as of
    * `write`; rewriting the directory without re-running `write` prices
    * the old distribution. Advisory only: plan shape, never results. */
  object SketchManifest {
    private[operators] val ROWS = 4

    private def sketchDir(dataDir: String) =
      new org.apache.hadoop.fs.Path(dataDir, "_sketch")

    /** `name size` per data file, sorted — the manifest's STALENESS
      * STAMP (r16 verdict task 6). [[append]] keeps a manifest honest
      * across commits it is told about; an out-of-band OVERWRITE of the
      * data directory (a rewrite that preserves `_sketch/`) used to
      * leave stale counters silently mis-pricing every cold session
      * afterward. The stamp records the exact file-set (names + sizes,
      * the `_zonemap` coverage pattern) the statistics describe;
      * [[readCount]]/[[readCms]] compare it against the live directory
      * (one driver `listStatus`, ZERO Spark jobs) and return None on
      * mismatch, so the planner falls back to scan-derived stats
      * instead of pricing a distribution that no longer exists. A
      * manifest WITHOUT a stamp (written before this round) stays
      * honored — legacy layouts keep their zero-job path until their
      * next rewrite. */
    private def dataFileStamp(s: SparkSession, dataDir: String): String = {
      val root = new org.apache.hadoop.fs.Path(dataDir)
      val fs = root.getFileSystem(s.sessionState.newHadoopConf())
      // RECURSIVE listing with root-relative names: a PARTITIONED lake
      // table's data files live under partCol=v/ directories, and the
      // stamp must cover them — a flat listing would stamp an empty
      // set and never detect a rewrite. Flat layouts stamp exactly as
      // before (relative name == file name).
      Storage.listDataFiles(fs, root)
        .map(f => s"${Storage.relativize(fs, root, f.getPath)} ${f.getLen}")
        .sorted.mkString("", "\n", "\n")
    }

    private def writeStamp(s: SparkSession, dataDir: String): Unit = {
      val md = sketchDir(dataDir)
      val fs = md.getFileSystem(s.sessionState.newHadoopConf())
      val out = fs.create(new org.apache.hadoop.fs.Path(md, "files.txt"), true)
      try out.write(dataFileStamp(s, dataDir).getBytes("UTF-8"))
      finally out.close()
    }

    /** True when the persisted stamp matches the live file-set (or the
      * manifest predates stamping). Driver file IO only — no jobs. */
    private[operators] def stampValid(s: SparkSession, dataDir: String): Boolean = {
      val p = new org.apache.hadoop.fs.Path(sketchDir(dataDir), "files.txt")
      val fs = p.getFileSystem(s.sessionState.newHadoopConf())
      if (!fs.exists(p)) true // legacy manifest: no stamp to contradict
      else {
        val in = fs.open(p)
        val stored = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
        stored == dataFileStamp(s, dataDir)
      }
    }

    /** Compute and persist count + per-key CMS counters for the parquet
      * table at `dataDir`. One counting job per statistic, write-time
      * only. Existing `cms-*.txt` sidecars are DELETED first (r16
      * advice): a rewrite that sketches fewer columns than the previous
      * write must not leave old-table counters being served alongside
      * the new count — a manifest is always internally consistent. */
    def write(s: SparkSession, dataDir: String, keyCols: Seq[String]): Unit = {
      val df = s.read.parquet(dataDir)
      val md = sketchDir(dataDir)
      val fs = md.getFileSystem(s.sessionState.newHadoopConf())
      fs.mkdirs(md)
      fs.listStatus(md).toSeq
        .filter(_.getPath.getName.startsWith("cms-"))
        .foreach(f => fs.delete(f.getPath, false))
      val n = df.count()
      val out = fs.create(new org.apache.hadoop.fs.Path(md, "count.json"), true)
      try out.write(s"""{"count":$n}""".getBytes("UTF-8")) finally out.close()
      keyCols.foreach { c =>
        // EXACTLY the estimator's counters: same hash, same width, so a
        // manifest-priced decision equals a scan-priced one bit-for-bit
        val cells = cmsSketchFast(df.select(col(c).as("key")))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          .sortBy(t => (t._1, t._2))
        val f = fs.create(
          new org.apache.hadoop.fs.Path(md, s"cms-$c.txt"), true)
        try f.write(cells.map { case (r, cc, v) => s"$r $cc $v" }
          .mkString(s"w $W\n", "\n", "\n").getBytes("UTF-8"))
        finally f.close()
      }
      writeStamp(s, dataDir)
    }

    /** Incremental manifest maintenance — the zonemapAppend discipline
      * for statistics: after appending `appended` rows to the table,
      * sketch ONLY the appended slice and MERGE. CMS counters are
      * LINEAR (each cell is a count of hash collisions), so
      * cell-wise sum of the old manifest and the slice's counters is
      * BIT-IDENTICAL to a from-scratch rebuild over the grown table —
      * no full-table re-scan, the property that makes persisted stats
      * viable on a table that grows by commits (SketchPlannerSpec pins
      * append == rebuild). Keys absent from the existing manifest are
      * skipped (a slice cannot seed a column's whole-table sketch). */
    def append(s: SparkSession, dataDir: String, appended: DataFrame,
        keyCols: Seq[String]): Unit = {
      val md = sketchDir(dataDir)
      val fs = md.getFileSystem(s.sessionState.newHadoopConf())
      require(fs.exists(md), s"no _sketch manifest at $dataDir to append to")
      val slim = appended.localCheckpoint(false) // one pass per statistic
      val nNew = slim.count()
      // the appended files are already in the directory, so the stamp
      // written at the PREVIOUS commit cannot match — append is the one
      // caller that legitimately reads across that boundary (its whole
      // contract is "the only change since the stamp is my slice")
      val nOld = readCount(s, dataDir, checkStamp = false).getOrElse(
        throw new IllegalStateException(s"missing count.json under $md"))
      val out = fs.create(new org.apache.hadoop.fs.Path(md, "count.json"), true)
      try out.write(s"""{"count":${nOld + nNew}}""".getBytes("UTF-8"))
      finally out.close()
      keyCols.foreach { c =>
        readCms(s, dataDir, c, checkStamp = false).foreach { old =>
          val fresh = cmsSketchFast(slim.select(col(c).as("key")))
            .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          val merged = Array.tabulate(ROWS)(r =>
            scala.collection.mutable.Map.empty[Long, Long] ++= old(r))
          fresh.foreach { case (r, cc, v) =>
            val m = merged(r.toInt)
            m(cc) = m.getOrElse(cc, 0L) + v
          }
          val cells = for {
            r <- 0 until ROWS
            (cc, v) <- merged(r).toSeq.sortBy(_._1)
          } yield s"$r $cc $v"
          val f = fs.create(
            new org.apache.hadoop.fs.Path(md, s"cms-$c.txt"), true)
          try f.write(cells.mkString(s"w $W\n", "\n", "\n").getBytes("UTF-8"))
          finally f.close()
        }
      }
      writeStamp(s, dataDir) // the merged stats describe the grown file-set
    }

    def readCount(s: SparkSession, dataDir: String,
        checkStamp: Boolean = true): Option[Long] = {
      if (checkStamp && !stampValid(s, dataDir)) return None
      val p = new org.apache.hadoop.fs.Path(sketchDir(dataDir), "count.json")
      val fs = p.getFileSystem(s.sessionState.newHadoopConf())
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
        """"count":(\d+)""".r.findFirstMatchIn(text).map(_.group(1).toLong)
      }
    }

    /** Sparse (row → col → cnt) counters for `colName`, None when the
      * manifest is absent, was written at a different width, or its
      * file-set stamp no longer matches the directory (stale after an
      * out-of-band rewrite — fall back to scan-derived stats). */
    def readCms(s: SparkSession, dataDir: String, colName: String,
        checkStamp: Boolean = true)
        : Option[Array[scala.collection.immutable.Map[Long, Long]]] = {
      if (checkStamp && !stampValid(s, dataDir)) return None
      val p = new org.apache.hadoop.fs.Path(sketchDir(dataDir), s"cms-$colName.txt")
      val fs = p.getFileSystem(s.sessionState.newHadoopConf())
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        val lines = try scala.io.Source.fromInputStream(in, "UTF-8")
          .getLines().toVector finally in.close()
        lines.headOption match {
          case Some(h) if h == s"w $W" =>
            val rows = Array.fill(ROWS)(Map.newBuilder[Long, Long])
            lines.drop(1).filter(_.nonEmpty).foreach { l =>
              val Array(r, c, v) = l.split(' ')
              rows(r.toInt) += (c.toLong -> v.toLong)
            }
            Some(rows.map(_.result()))
          case _ => None
        }
      }
    }

    /** After a ROW-PRESERVING rewrite ([[Storage.optimizeCompact]]):
      * the persisted statistics are functions of row CONTENT, not
      * layout — a compaction that moves every row into new files
      * changes neither the count nor a single CMS cell — so the
      * manifest stays exactly correct and only the staleness stamp
      * (file names + sizes) needs refreshing. Restamping costs one
      * driver listing, zero jobs; dropping the manifest would cost a
      * full re-scan to win back the cold zero-job pricing path.
      * A `_sketch/` directory WITHOUT a readable count (a bare stub,
      * or a crash mid-write) is deleted instead — never stamp what
      * the readers can't serve. Returns true when restamped.
      * ONLY for rewrites that preserve the multiset of rows; any
      * rewrite that filters, dedups or appends must use [[write]] /
      * [[append]]. */
    def restampAfterRowPreservingRewrite(s: SparkSession,
        dataDir: String): Boolean = {
      val md = sketchDir(dataDir)
      val fs = md.getFileSystem(s.sessionState.newHadoopConf())
      if (!fs.exists(md)) false
      else if (fs.exists(new org.apache.hadoop.fs.Path(md, "count.json"))) {
        writeStamp(s, dataDir); true
      } else { fs.delete(md, true); false }
    }
  }

  /** (directory, column name) when `df.select(k)` is a bare projection
    * of a column over a single-root, unfiltered parquet scan — the only
    * shape a whole-table persisted sketch is allowed to answer for.
    * PARTITIONED layouts qualify too (r17): a bare scan with no
    * partition filter still reads the whole table, which is exactly
    * what the manifest describes — and the key may even be the
    * partition column itself (its values come from the directory
    * names, but [[SketchManifest.write]] sketches through the same
    * whole-table read). Any Filter — partition or data — breaks the
    * bare-scan match and falls back to scanning, as before. */
  private def persistTarget(df: DataFrame, k: Column): Option[(String, String)] = {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.catalyst.plans.logical.Project
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    df.select(k).queryExecution.analyzed match {
      case Project(Seq(a: AttributeReference), lr: LogicalRelation)
          if lr.relation.isInstanceOf[HadoopFsRelation] =>
        val rel = lr.relation.asInstanceOf[HadoopFsRelation]
        if (rel.location.rootPaths.size == 1)
          Some((rel.location.rootPaths.head.toString, a.name))
        else None
      case _ => None
    }
  }

  /** The table directory when `df` is the bare scan itself. */
  private def countTarget(df: DataFrame): Option[String] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    df.queryExecution.analyzed match {
      case lr: LogicalRelation if lr.relation.isInstanceOf[HadoopFsRelation] =>
        val rel = lr.relation.asInstanceOf[HadoopFsRelation]
        if (rel.location.rootPaths.size == 1)
          Some(rel.location.rootPaths.head.toString)
        else None
      case _ => None
    }
  }

  /** Manifest-resolved |A ⋈ B| estimate — [[estPair]]'s min-over-rows
    * inner product folded driver-side from two persisted counter
    * tables. Zero Spark jobs. */
  private def persistedEdgeEst(a: DataFrame, ka: Column,
      b: DataFrame, kb: Column): Option[Long] = {
    val s = a.sparkSession
    for {
      (da, ca) <- persistTarget(a, ka)
      (db, cb) <- persistTarget(b, kb)
      ma <- SketchManifest.readCms(s, da, ca)
      mb <- SketchManifest.readCms(s, db, cb)
    } yield {
      val ips = (0 until SketchManifest.ROWS).map { r =>
        ma(r).iterator.map { case (c, va) =>
          BigInt(va) * BigInt(mb(r).getOrElse(c, 0L))
        }.sum
      }
      val est = ips.min
      if (est > BigInt(Long.MaxValue)) Long.MaxValue else est.toLong
    }
  }

  private def persistedCount(t: DataFrame): Option[Long] =
    countTarget(t).flatMap(SketchManifest.readCount(t.sparkSession, _))

  val all: Map[String, ((SparkSession, String) => DataFrame, String)] = Map(
    "q205_join_planner" -> (q205JoinPlanner _, q205Sql),
    "q211_selectivity_compare" -> (q211SelectivityCompare _, q211Sql),
    "q217_join_reorder" -> (q217JoinReorder _, q217Sql),
    "q248_star_reorder" -> (q248StarReorder _, q248Sql),
    "q262_snowflake_reorder" -> (q262SnowflakeReorder _, q262Sql),
    "q267_bushy_chain" -> (q267BushyChain _, q267Sql))
}
