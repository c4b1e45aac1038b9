package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph analytics beyond connected components ([[Dedup.dedupClusters]]):
  * PageRank by power iteration over the undirected customer–supplier
  * trade graph (an edge per distinct (o_custkey, l_suppkey) pair traded
  * through orders⋈lineitem; customers get even node ids, suppliers odd).
  *
  * Determinism across engines: the iteration is INTEGER FIXED-POINT —
  * ranks are BIGINT units of 1e-12 ("rank_e12"), contributions are
  * floor divisions rank div deg, the damped update is
  * base + (85·Σ) div 100 with base = 15e12 div (100·n) — so every
  * quantity on both engines is an exactly-summed integer and the walk
  * is bit-identical BY CONSTRUCTION. (A double formulation with
  * per-iteration round(x, 10) measurably diverges: Spark rounds the
  * shortest decimal representation HALF_UP while DuckDB multiplies and
  * rounds in binary, and across 5 iterations × |V| values dozens of
  * 1-ULP boundary hits survive to the output. Floor quantization loses
  * ≤1e-12 mass per edge per step — a defined, engine-free semantic.)
  *
  * Scale shape: the edge list (with out-degrees pre-joined) is
  * partitioned on src and persisted ONCE; each of the k iterations is
  * one shuffle join rank⋈edges plus one partially-aggregated sum on
  * dst — the textbook Pregel-style schedule expressed relationally. The
  * rank frame is groups-sized (one row per node), never edges-sized,
  * and N is a one-scalar driver aggregate, not a collected dataset.
  * 100 TB honesty: iteration count is fixed (5), not convergence-
  * chased; lineage stays linear in k.
  */
object Graph {
  import Tables._
  import org.apache.spark.sql.graft.PartitionedCheckpoint

  private[operators] val Iters = 5
  /** Fixed-point scale: ranks are BIGINT multiples of 1e-12. */
  private[operators] val Scale = 1000000000000L

  def q81Pagerank(s: SparkSession, d: String): DataFrame = {
    val pairs = orders(s, d).select(col("o_orderkey"), col("o_custkey"))
      .join(lineitem(s, d).select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
    pagerank(pairs.select(col("src"), col("dst"))
      .unionAll(pairs.select(col("dst").as("src"), col("src").as("dst"))))
  }

  /** Power-iteration PageRank over a DIRECTED edge list (undirected
    * graphs pass both directions). Nodes = sources (every node of an
    * undirected graph has out-edges). */
  def pagerank(edges: DataFrame): DataFrame = {
    // localCheckpoint, not persist: the blocks must outlive this builder
    // (a persist + finally-unpersist would drop the cache before the
    // returned frame ever executes) and be reclaimed with the frame by
    // the context cleaner rather than squatting in the session cache.
    // Checkpointed PARTITIONED AND SORTED on src: every iteration's
    // rank⋈edges then plans as a zero-Exchange sort-merge join against
    // the rank frame (itself key-partitioned by its groupBy/distinct
    // lineage) — no broadcast of the rank vector anywhere, because at
    // web scale the node set does NOT fit an executor; measured 0 hash
    // exchanges per iteration at sf0.1. (A window-count variant for the
    // degrees — saving the groupBy+join — measured ~2x SLOWER here: the
    // whole-partition window buffers every src group, while the partial-
    // aggregated groupBy shuffles only group-sized rows.)
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    // r18: PartitionedCheckpoint, not a bare localCheckpoint — a plain
    // lazy checkpoint FORGETS its partitioning (LogicalRDD over an
    // unexecuted adaptive plan), so every iteration was silently paying
    // a full edge-sized Exchange to re-partition the checkpoint it had
    // already partitioned (found via the per-round plan probe this
    // round; the r13 "zero-Exchange per iteration" claim had regressed).
    // The helper re-labels the checkpoint with the HashPartitioning +
    // sort it provably has; per-round plans are now exchange-free on
    // the edge side again (plans/r18).
    val e = PartitionedCheckpoint(edges.join(deg, Seq("src")), Seq("src"))
    val nodes = PartitionedCheckpoint(
      e.select(col("src").as("node")).distinct(), Seq("node"))
    val n = nodes.count()
    // fixed-point: rank_e12 units of 1e-12; all ops integer, both engines
    var r = nodes.select(col("node"), lit(Scale / n).as("rank_e12"))
    val base = (15L * Scale) / (100L * n)
    for (_ <- 1 to Iters) {
      val contrib = e.join(r, e("src") === r("node"))
        .select(col("dst"), expr("rank_e12 div deg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
      r = PartitionedCheckpoint(
        nodes.join(contrib, nodes("node") === contrib("dst"), "left")
          .select(nodes("node"),
            (lit(base) + expr("coalesce(s, 0L) * 85 div 100")).as("rank_e12")),
        // truncate the per-iteration lineage (the dedupClusters
        // lesson): without this, Catalyst re-plans a k-deep join
        // chain and AQE re-derives every prior iteration per stage.
        // Lazy, so the loop still executes as one DAG per run; keyed by
        // node so next round's e join streams it exchange-free.
        Seq("node"))
    }
    r.select(col("node"), col("rank_e12"))
  }

  private[operators] def iterSql(i: Int): String =
    s"""rk$i AS (
       |  SELECT e.dst AS node, sum(r.rank_e12 // e.deg) AS s
       |  FROM ed e JOIN r${i - 1} r ON e.src = r.node
       |  GROUP BY 1),
       |r$i AS (
       |  SELECT n0.node,
       |    CAST((15 * $Scale) // (100 * nn.n) +
       |         (COALESCE(rk$i.s, 0) * 85) // 100 AS BIGINT) AS rank_e12
       |  FROM nodes n0 CROSS JOIN nn
       |  LEFT JOIN rk$i ON rk$i.node = n0.node)""".stripMargin

  val q81Sql: String =
    s"""WITH eraw AS (
       |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |edges AS (SELECT src, dst FROM eraw
       |          UNION ALL SELECT dst, src FROM eraw),
       |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
       |ed AS (SELECT e.src, e.dst, d.deg FROM edges e
       |       JOIN deg d ON d.src = e.src),
       |nodes AS (SELECT DISTINCT src AS node FROM edges),
       |nn AS (SELECT count(*) AS n FROM nodes),
       |r0 AS (SELECT node, CAST($Scale // nn.n AS BIGINT) AS rank_e12
       |       FROM nodes CROSS JOIN nn),
       |${(1 to Iters).map(iterSql).mkString(",\n")}
       |SELECT node, rank_e12 FROM r$Iters""".stripMargin

  /** Baskets with more distinct parts than this are excluded from edge
    * generation — a basket of k parts emits k²/2 pairs, so one
    * pathological mega-order would otherwise dominate the edge list
    * (the q22 stop-gram-cap discipline applied to co-occurrence). The
    * cap is part of the operator's semantic and replicated in the
    * oracle. TPC-H baskets are ≤7 parts, so at test SFs it never bites. */
  private val BasketCap = 64

  /** Per-node triangle counts over the part co-purchase graph (parts
    * are adjacent iff some order contains both). The algorithm is the
    * classic DEGREE-ORIENTED count (Schank–Wagner / Cohen's MapReduce
    * form): orient every undirected edge from its (degree, id)-smaller
    * endpoint, build wedges only at each edge's low-degree apex, and
    * close them against the oriented edge list. Orientation bounds the
    * per-node wedge fan-out by O(√m) — the hub that would generate
    * deg² wedges undirected generates almost none oriented, which is
    * what makes the count feasible on power-law graphs at scale.
    *
    * Scale shape: three partially-aggregated shuffles (edge dedup,
    * degrees, final count) plus two equi-joins on the apex/closing
    * keys; the oriented edge list is localCheckpointed once and reused
    * by both sides of the wedge join and the closing probe, so the
    * basket self-join runs exactly once. Everything is BIGINT —
    * bit-identical across engines by construction. */
  def q105TriangleCount(s: SparkSession, d: String): DataFrame =
    triangleCounts(basketEdges(s, d))

  /** The part co-purchase DISTINCT edge list (u < v) — q105's graph,
    * hoisted so the q246 sampled estimator counts over the SAME edges.
    *
    * Basket pairs via ONE shuffle: collect_set per order (subsumes the
    * old distinct-over-(ok,pk) pre-shuffle), sort, expand the i<j pairs
    * per row with array lambdas. The previous window-count + self-join
    * form shuffled the basket table three times (distinct, window sort,
    * join) and measured ~8 s of the query's 11 s at sf0.1; pair fan-out
    * is unchanged (≤ C(cap,2) per order) and the cap bounds the lambda
    * work per row, so the expansion never needs a shuffle of its own. */
  private[operators] def basketEdges(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .groupBy(col("ok")).agg(sort_array(collect_set(col("pk"))).as("ps"))
      .filter(size(col("ps")) <= BasketCap)
      .select(explode(expr(
        "flatten(transform(ps, (x, i) -> transform(" +
          "slice(ps, i + 2, size(ps)), y -> named_struct('u', x, 'v', y))))"))
        .as("p"))
      .select(col("p.u").as("u"), col("p.v").as("v"))
      .distinct()

  /** Degree-oriented per-node triangle counts over a DISTINCT
    * undirected edge list given as (u, v) with u < v. */
  def triangleCounts(eRaw: DataFrame): DataFrame = {
    val tri = orientedTriangles(eRaw)
    tri.select(col("a").as("node"))
      .unionAll(tri.select(col("b").as("node")))
      .unionAll(tri.select(col("c").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("tri_cnt"))
  }

  /** The oriented triangle stream (a, b, c) — ONE row per triangle —
    * shared by the per-node rollup above and the q246 total-count
    * estimator (which needs `count(*)`, not the node expansion). */
  private[graft] def orientedTriangles(eRaw: DataFrame): DataFrame = {
    // The edge build above this call can be expensive (basket pair
    // expansion + dedup) and has THREE consumers here (both legs of the
    // degree union and the orientation join) — pin it once or it
    // re-executes per consumer (measured 3× the build cost at sf0.1
    // without this).
    val e = eRaw.localCheckpoint(false)
    val deg = e.select(col("u").as("x")).unionAll(e.select(col("v").as("x")))
      .groupBy(col("x")).agg(count(lit(1)).as("dg"))
    // Orient u→v iff (deg_u, u) < (deg_v, v); e has u < v, so degree
    // ties keep the id order. Carry the TARGET's degree so the wedge
    // join can order its two legs without re-joining degrees.
    val fwd = col("du") < col("dv") || (col("du") === col("dv"))
    val o = e
      .join(deg.select(col("x").as("u"), col("dg").as("du")), Seq("u"))
      .join(deg.select(col("x").as("v"), col("dg").as("dv")), Seq("v"))
      .select(
        when(fwd, col("u")).otherwise(col("v")).as("s"),
        when(fwd, col("v")).otherwise(col("u")).as("t"),
        when(fwd, col("dv")).otherwise(col("du")).as("dt"))
      // reused by wedge-left, wedge-right AND the closing probe: pin the
      // blocks so the basket self-join executes once, not three times
      .localCheckpoint(false)
    // Wedge (s; t1, t2) with (dt1, t1) < (dt2, t2): the closing edge, if
    // present, is then oriented t1→t2 by construction.
    // Both joins run SHUFFLED HASH, not sort-merge: the probe side is
    // the wedge stream (Σ d_out² rows — 41M at sf0.1), and sorting it
    // for an SMJ would dominate the whole query; the build side is the
    // edges-sized o, whose per-partition hash table is m/parts rows.
    // Wedges are never materialized or sorted — they stream from the
    // first join's output straight into the closing probe's exchange.
    val w = o.as("e1").join(o.as("e2").hint("SHUFFLE_HASH"),
        col("e1.s") === col("e2.s") &&
          (col("e1.dt") < col("e2.dt") ||
            (col("e1.dt") === col("e2.dt") && col("e1.t") < col("e2.t"))))
      .select(col("e1.s").as("a"), col("e1.t").as("b"), col("e2.t").as("c"))
    // The closing exchange is the query's dominant data movement, and
    // most wedges DON'T close (1.9M of 41M at sf0.1 — 4.6%): a bloom
    // over the oriented edge keys probes each wedge BEFORE its shuffle,
    // so only closings + the FP tail (~3%) enter the exchange — a ~13×
    // cut. The exact join downstream keeps correctness; the bloom only
    // cuts shuffle input (the BloomPrune contract). Sized from the
    // checkpointed edge count — a metadata-cheap count, not a recompute.
    val wf = BloomPrune.bloomPrefilter(
      w.withColumn("bck", xxhash64(col("b"), col("c"))),
      o.select(xxhash64(col("s"), col("t")).as("stk")),
      "bck", "stk", nItems = math.max(o.count(), 1000L))
    wf.join(
        o.select(col("s").as("b"), col("t").as("c")).hint("SHUFFLE_HASH"),
        Seq("b", "c"))
      .select(col("a"), col("b"), col("c"))
  }

  val q105Sql: String =
    s"""WITH basket AS (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |sized AS (
       |  SELECT ok, pk FROM (
       |    SELECT ok, pk, count(*) OVER (PARTITION BY ok) AS bsz FROM basket)
       |  WHERE bsz <= $BasketCap),
       |e AS (
       |  SELECT DISTINCT a.pk AS u, b.pk AS v
       |  FROM sized a JOIN sized b ON a.ok = b.ok AND a.pk < b.pk),
       |deg AS (
       |  SELECT x, count(*) AS dg FROM (
       |    SELECT u AS x FROM e UNION ALL SELECT v FROM e) GROUP BY 1),
       |o AS (
       |  SELECT CASE WHEN du <= dv THEN u ELSE v END AS s,
       |         CASE WHEN du <= dv THEN v ELSE u END AS t,
       |         CASE WHEN du <= dv THEN dv ELSE du END AS dt
       |  FROM (SELECT u, v, d1.dg AS du, d2.dg AS dv
       |        FROM e JOIN deg d1 ON d1.x = e.u
       |               JOIN deg d2 ON d2.x = e.v)),
       |wdg AS (
       |  SELECT e1.s AS a, e1.t AS b, e2.t AS c
       |  FROM o e1 JOIN o e2 ON e1.s = e2.s
       |   AND (e1.dt < e2.dt OR (e1.dt = e2.dt AND e1.t < e2.t))),
       |tri AS (
       |  SELECT a, b, c FROM wdg JOIN o ON o.s = wdg.b AND o.t = wdg.c)
       |SELECT node, count(*) AS tri_cnt FROM (
       |  SELECT a AS node FROM tri
       |  UNION ALL SELECT b FROM tri
       |  UNION ALL SELECT c FROM tri)
       |GROUP BY 1""".stripMargin

  /** q246's DOULION keep-fraction numerator: an edge survives iff the
    * first hex char of md5("u_v") is below this, so p = keepHex/16.
    * 4 → p = 1/4: the wedge stage (the count's quadratic term) shrinks
    * ~p² = 16×, and at sf0.1's ~1.9M triangles the estimator's relative
    * std dev (≈ √(1/p³ − 1)/√T) is well under 1%. Deterministic —
    * both engines hash the same "u_v" string, no RNG to disagree on. */
  private[operators] val DoulionKeepHex = 4

  /** APPROXIMATE triangle total via DOULION edge sampling (Tsourakakis,
    * Kang, Miller & Faloutsos, KDD 2009): keep each edge independently
    * with probability p, count triangles on the sample, scale by 1/p³
    * — an unbiased estimator, because a triangle survives iff all
    * three edges do (p³). q105's exact count is O(m^1.5) and the
    * suite's terminal heavy; sampling attacks the only term a better
    * plan cannot (the verdict: theory-bound, on the curve). This gated
    * query runs BOTH and emits the estimate NEXT TO its exact referee
    * with the relative error — the q244 estimator-vs-truth pattern —
    * so the gate hash-pins the sampling, the scale-up, and the error
    * arithmetic across engines. Production runs the estimator alone:
    * BASELINE.md records the standalone sf1 speedup.
    *
    * Determinism: the "coin" is the first hex char of md5 of the edge
    * rendered as "u_v" (< '4' ⇔ keep, p = 4/16) — a fixed public
    * convention both engines compute identically; the estimate is
    * integer arithmetic (count × 64) and the only division is the
    * final rounded error ratio. */
  def q246TriangleDoulion(s: SparkSession, d: String): DataFrame =
    triangleDoulion(basketEdges(s, d), DoulionKeepHex)

  private[graft] def triangleDoulion(eRaw: DataFrame,
      keepHex: Int): DataFrame = {
    require(keepHex >= 1 && keepHex <= 16 && 16 % keepHex == 0,
      s"keepHex must divide 16, got $keepHex")
    val scale = { val inv = 16 / keepHex; inv.toLong * inv * inv } // 1/p³
    // one pin, three consumers (edge count, exact referee, sample)
    val e = eRaw.localCheckpoint(false)
    val sampled =
      if (keepHex == 16) e
      else e.filter(
        substring(md5(concat(col("u"), lit("_"), col("v"))), 1, 1) <
          lit(keepHex.toHexString))
    val nEdges = e.agg(count(lit(1)).as("n_edges"))
    val nSampled = sampled.agg(count(lit(1)).as("n_sampled"))
    val exact = orientedTriangles(e).agg(count(lit(1)).as("n_tri"))
    val est = orientedTriangles(sampled)
      .agg(count(lit(1)).as("n_tri_sampled"))
    nEdges.crossJoin(broadcast(nSampled))
      .crossJoin(broadcast(exact)).crossJoin(broadcast(est))
      .select(col("n_edges"), col("n_sampled"), col("n_tri"),
        col("n_tri_sampled"),
        (col("n_tri_sampled") * scale).as("est_tri"),
        when(col("n_tri") > 0,
          round(abs(col("n_tri_sampled") * scale - col("n_tri"))
            .cast("double") / col("n_tri"), 6)).as("rel_err"))
  }

  /** The deg→orient→wedge→close CTE chain over edge CTE `eName`, names
    * suffixed `_$sfx` — emitted twice by q246Sql (exact arm over `e`,
    * sampled arm over `es`). */
  private def triArmSql(eName: String, sfx: String): String =
    s"""deg_$sfx AS (
       |  SELECT x, count(*) AS dg FROM (
       |    SELECT u AS x FROM $eName UNION ALL SELECT v FROM $eName) GROUP BY 1),
       |o_$sfx AS (
       |  SELECT CASE WHEN du <= dv THEN u ELSE v END AS s,
       |         CASE WHEN du <= dv THEN v ELSE u END AS t,
       |         CASE WHEN du <= dv THEN dv ELSE du END AS dt
       |  FROM (SELECT u, v, d1.dg AS du, d2.dg AS dv
       |        FROM $eName e0 JOIN deg_$sfx d1 ON d1.x = e0.u
       |               JOIN deg_$sfx d2 ON d2.x = e0.v)),
       |tri_$sfx AS (
       |  SELECT count(*) AS n FROM (
       |    SELECT e1.s, e1.t AS b, e2.t AS c
       |    FROM o_$sfx e1 JOIN o_$sfx e2 ON e1.s = e2.s
       |     AND (e1.dt < e2.dt OR (e1.dt = e2.dt AND e1.t < e2.t))) w
       |  JOIN o_$sfx oc ON oc.s = w.b AND oc.t = w.c)""".stripMargin

  val q246Sql: String =
    s"""WITH basket AS (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |sized AS (
       |  SELECT ok, pk FROM (
       |    SELECT ok, pk, count(*) OVER (PARTITION BY ok) AS bsz FROM basket)
       |  WHERE bsz <= $BasketCap),
       |e AS (
       |  SELECT DISTINCT a.pk AS u, b.pk AS v
       |  FROM sized a JOIN sized b ON a.ok = b.ok AND a.pk < b.pk),
       |es AS (
       |  SELECT u, v FROM e
       |  WHERE substr(md5(CAST(u AS VARCHAR) || '_' || CAST(v AS VARCHAR)),
       |    1, 1) < '${DoulionKeepHex.toHexString}'),
       |${triArmSql("e", "x")},
       |${triArmSql("es", "s")}
       |SELECT (SELECT count(*) FROM e) AS n_edges,
       |  (SELECT count(*) FROM es) AS n_sampled,
       |  tri_x.n AS n_tri,
       |  tri_s.n AS n_tri_sampled,
       |  CAST(tri_s.n * ${(16 / DoulionKeepHex).toLong *
          (16 / DoulionKeepHex) * (16 / DoulionKeepHex)} AS BIGINT) AS est_tri,
       |  CASE WHEN tri_x.n > 0 THEN round(
       |    abs(tri_s.n * ${(16 / DoulionKeepHex).toLong *
          (16 / DoulionKeepHex) * (16 / DoulionKeepHex)} - tri_x.n)
       |      / tri_x.n, 6) END AS rel_err
       |FROM tri_x, tri_s""".stripMargin

  private[operators] val BfsDepth = 4

  /** Bounded-depth BFS shortest-path distances over the undirected
    * customer–supplier trade graph (q81's node encoding), seeded from
    * the customers of one nation. FRONTIER-BASED: each round expands
    * only the nodes first reached in the previous round — not the whole
    * distance table — so round cost is frontier-out-degree, not
    * |reached|·degree; on a small-diameter graph the frontier collapses
    * after 2–3 hops and later rounds are near-free. Distances are
    * integers, so the iteration is bit-identical across engines with no
    * numeric convention needed; depth is FIXED (the q81 discipline:
    * lineage linear in k, never convergence-chased), and each round's
    * min-merge is localCheckpointed to keep Catalyst from re-deriving
    * prior rounds per stage.
    *
    * The oracle unrolls the same rounds as chained CTEs — a recursive
    * CTE would enumerate all ≤k-hop PATHS (degreeᵏ blow-up); the
    * unrolled min-merge is polynomial, the same work the Spark plan
    * does. */
  def q109BfsDistances(s: SparkSession, d: String): DataFrame = {
    val pairs = orders(s, d).select(col("o_orderkey"), col("o_custkey"))
      .join(lineitem(s, d).select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
    val edges = pairs.select(col("src"), col("dst"))
      .unionAll(pairs.select(col("dst").as("src"), col("src").as("dst")))
    val seeds = customer(s, d).filter(col("c_nationkey") === 0)
      .select((col("c_custkey") * 2).as("node"))
    bfs(edges, seeds, BfsDepth)
  }

  /** Frontier BFS from `seeds` over a DIRECTED edge list (undirected
    * graphs pass both directions); returns (node, dist) for every node
    * within `k` hops. */
  def bfs(edges: DataFrame, seeds: DataFrame, k: Int): DataFrame = {
    // partitioned+sorted once, reused every round (the q81 schedule);
    // r18: partitioning-visible checkpoints (see pagerank)
    val e = PartitionedCheckpoint(edges, Seq("src"))
    var dist = PartitionedCheckpoint(
      seeds.select(col("node"), lit(0L).as("dist")), Seq("node"))
    var frontier = dist
    for (i <- 1 to k) {
      val next = frontier.join(e, frontier("node") === e("src"))
        .select(col("dst").as("node"), lit(i.toLong).as("dist"))
        .distinct()
      val merged = PartitionedCheckpoint(dist.unionAll(next)
        .groupBy(col("node")).agg(min(col("dist")).as("dist")), Seq("node"))
      frontier = merged.filter(col("dist") === i)
      dist = merged
    }
    dist
  }

  private[operators] def bfsIterSql(i: Int): String =
    s"""n$i AS (
       |  SELECT DISTINCT e.dst AS node, $i AS dist
       |  FROM d${i - 1} f JOIN edges e ON e.src = f.node
       |  WHERE f.dist = ${i - 1}),
       |d$i AS (
       |  SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
       |    SELECT node, dist FROM d${i - 1}
       |    UNION ALL SELECT node, dist FROM n$i)
       |  GROUP BY 1)""".stripMargin

  val q109Sql: String =
    s"""WITH eraw AS (
       |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |edges AS (SELECT src, dst FROM eraw
       |          UNION ALL SELECT dst, src FROM eraw),
       |d0 AS (SELECT c_custkey * 2 AS node, CAST(0 AS BIGINT) AS dist
       |       FROM customer WHERE c_nationkey = 0),
       |${(1 to BfsDepth).map(bfsIterSql).mkString(",\n")}
       |SELECT node, dist FROM d$BfsDepth""".stripMargin

  private val CoreK = 4
  private val PeelRounds = 3

  /** k-core decomposition membership by PARALLEL PEELING: each round
    * recomputes degrees over the surviving subgraph and removes every
    * node below k at once (the standard distributed formulation — a
    * sequential min-degree peel has no parallel schedule). Rounds are
    * FIXED (the q81 discipline: lineage linear in rounds, never
    * convergence-chased), so the result is "the r-round peel of the
    * k-core", identical on both engines by construction — all-integer,
    * no numeric convention needed; GraphSpec checks the fixpoint
    * semantics separately with enough rounds to converge. Returns every
    * surviving node with its degree inside the surviving subgraph.
    *
    * Scale shape: the edge list is partitioned on src and checkpointed
    * ONCE; each round is two semi joins against the node-sized live set
    * plus one partially-aggregated degree count — no edges-sized state
    * ever reshuffles on a new key, and the live frame only shrinks. */
  def q113KCore(s: SparkSession, d: String): DataFrame = {
    val pairs = orders(s, d).select(col("o_orderkey"), col("o_custkey"))
      .join(lineitem(s, d).select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
    val edges = pairs.select(col("src"), col("dst"))
      .unionAll(pairs.select(col("dst").as("src"), col("src").as("dst")))
    kcore(edges, CoreK, PeelRounds)
  }

  /** `rounds` peeling rounds toward the `k`-core over a DIRECTED edge
    * list (undirected graphs pass both directions); returns
    * (node, core_deg) for survivors, core_deg measured in the FINAL
    * surviving subgraph. */
  def kcore(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    // r18: MEASURED, NOT converted to PartitionedCheckpoint — each round
    // semi-joins e on src AND on dst; pinning the src layout forces the
    // dst semi-join into a co-partition-shaped SMJ whose dst exchange +
    // sort beat the runtime broadcast AQE picks when the plan is free
    // (sf0.1 ×7 cold median 2.47 → 3.22 s). The dst re-key is
    // fundamental whichever layout the checkpoint pins.
    val e = edges.repartition(col("src")).sortWithinPartitions(col("src"))
      .localCheckpoint(false)
    def aliveDeg(live: DataFrame): DataFrame =
      e.join(live.select(col("node").as("src")), Seq("src"), "leftsemi")
        .join(live.select(col("node").as("dst")), Seq("dst"), "leftsemi")
        .groupBy(col("src")).agg(count(lit(1)).as("dg"))
    var live = e.select(col("src").as("node")).distinct()
      .localCheckpoint(false)
    for (_ <- 1 to rounds) {
      live = aliveDeg(live).filter(col("dg") >= k)
        .select(col("src").as("node"))
        .localCheckpoint(false)
    }
    aliveDeg(live).select(col("src").as("node"), col("dg").as("core_deg"))
  }

  private def kcoreIterSql(i: Int): String =
    s"""a$i AS (
       |  SELECT e.src, e.dst FROM edges e
       |  JOIN l${i - 1} x ON e.src = x.node
       |  JOIN l${i - 1} y ON e.dst = y.node),
       |l$i AS (
       |  SELECT src AS node FROM a$i
       |  GROUP BY 1 HAVING count(*) >= $CoreK)""".stripMargin

  val q113Sql: String =
    s"""WITH eraw AS (
       |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |edges AS (SELECT src, dst FROM eraw
       |          UNION ALL SELECT dst, src FROM eraw),
       |l0 AS (SELECT DISTINCT src AS node FROM edges),
       |${(1 to PeelRounds).map(kcoreIterSql).mkString(",\n")},
       |af AS (
       |  SELECT e.src, e.dst FROM edges e
       |  JOIN l$PeelRounds x ON e.src = x.node
       |  JOIN l$PeelRounds y ON e.dst = y.node)
       |SELECT src AS node, count(*) AS core_deg FROM af GROUP BY 1""".stripMargin

  private val SsspRounds = 4

  /** Single-source (seed-set) shortest paths by BOUNDED BELLMAN–FORD
    * over the weighted trade graph: edge (customer, supplier) weight =
    * floor(min l_quantity ever traded between them) — the "cheapest
    * lot" relation — and dist(v) = the minimum-weight path from any
    * nation-0 customer using at most [[SsspRounds]] edges. Rounds are
    * FIXED (the q81/q113 discipline: the semantic is "best ≤k-edge
    * path", identical on both engines by construction, lineage linear
    * in k — never convergence-chased). All-integer arithmetic: floor
    * before the BIGINT cast because Spark truncates double→long while
    * DuckDB rounds — floor makes the quantization explicit and
    * engine-free.
    *
    * Scale shape: the weighted edge list is checkpointed partitioned+
    * sorted on src ONCE; every round is one zero-exchange join
    * dist⋈edges plus one partially-aggregated min on node — the q109
    * BFS schedule with (dist+w, min) in place of (hop, first-visit).
    * Unlike BFS there is no frontier shrink: a settled node can
    * re-relax when a cheaper multi-hop route appears, so every round
    * relaxes the full dist frame — which stays node-sized, never
    * edge-sized. */
  def q136Sssp(s: SparkSession, d: String): DataFrame = {
    val pairs = orders(s, d).select(col("o_orderkey"), col("o_custkey"))
      .join(lineitem(s, d)
          .select(col("l_orderkey"), col("l_suppkey"), col("l_quantity")),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy((col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      .agg(floor(min(col("l_quantity"))).cast("long").as("w"))
    val edges = pairs.select(col("src"), col("dst"), col("w"))
      .unionAll(pairs.select(col("dst").as("src"), col("src").as("dst"),
        col("w")))
    val seeds = customer(s, d).filter(col("c_nationkey") === 0)
      .select((col("c_custkey") * 2).as("node"))
    sssp(edges, seeds, SsspRounds)
  }

  /** See [[q136Sssp]]: min-cost ≤k-edge path from `seeds` over a
    * DIRECTED weighted edge list (undirected graphs pass both
    * directions). */
  private[operators] def sssp(edges: DataFrame, seeds: DataFrame,
      k: Int): DataFrame = {
    // r18: partitioning-visible checkpoints (see pagerank)
    val e = PartitionedCheckpoint(edges, Seq("src"))
    var dist = PartitionedCheckpoint(
      seeds.select(col("node"), lit(0L).as("dist")), Seq("node"))
    for (_ <- 1 to k) {
      val relaxed = dist.join(e, dist("node") === e("src"))
        .select(col("dst").as("node"), (col("dist") + col("w")).as("dist"))
      dist = PartitionedCheckpoint(dist.unionAll(relaxed)
        .groupBy(col("node")).agg(min(col("dist")).as("dist")), Seq("node"))
    }
    dist
  }

  private def ssspIterSql(i: Int): String =
    s"""s$i AS (
       |  SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
       |    SELECT node, dist FROM s${i - 1}
       |    UNION ALL
       |    SELECT e.dst AS node, f.dist + e.w AS dist
       |    FROM s${i - 1} f JOIN edges e ON e.src = f.node)
       |  GROUP BY 1)""".stripMargin

  val q136Sql: String =
    s"""WITH eraw AS (
       |  SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst,
       |    CAST(floor(min(l_quantity)) AS BIGINT) AS w
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |  GROUP BY 1, 2),
       |edges AS (SELECT src, dst, w FROM eraw
       |          UNION ALL SELECT dst, src, w FROM eraw),
       |s0 AS (SELECT c_custkey * 2 AS node, CAST(0 AS BIGINT) AS dist
       |       FROM customer WHERE c_nationkey = 0),
       |${(1 to SsspRounds).map(ssspIterSql).mkString(",\n")}
       |SELECT node, dist FROM s$SsspRounds""".stripMargin

  /** Parts shared by more customers than this don't generate candidate
    * pairs — a part of degree d emits d²/2 pairs, so one commodity part
    * everyone buys would dominate the pair list while contributing the
    * LEAST evidence (weight 1/d → ~0). Dropping high-degree "hub"
    * features is the standard resource-allocation practice (same
    * discipline as the q22 stop-gram cap and q105 basket cap) and is
    * part of the semantic, replicated in the oracle. Measured part
    * degrees at the test SFs top out at 53, so the cap never bites
    * there; at 100 TB it is the hard fan-out bound: pairs ≤ cap²/2
    * per part. */
  private val RaDegCap = 64

  /** Link prediction between customers by RESOURCE ALLOCATION over the
    * customer–part co-purchase bipartite graph (Zhou–Lü–Zhang 2009):
    * score(a,b) = Σ_{p ∈ Γ(a)∩Γ(b)} 1/deg(p), suggesting which
    * customers behave alike though no direct edge exists. The weight is
    * INTEGER fixed-point (1e12 div deg — the q81 discipline), so the
    * sum is an exactly-ordered BIGINT on both engines and the top-100
    * cut is deterministic with the (score, a, b) tiebreak.
    *
    * Scale shape: distinct (customer, part) edges; per-part degrees by
    * partial-agg count; candidate pairs ONLY from shared parts under
    * the degree cap (never an all-pairs product); one partially-
    * aggregated sum on (a, b); the global top-100 is a
    * TakeOrderedAndProject (per-partition heads merged on the driver —
    * k-sized, never a single-partition sort of the world). */
  def q135LinkPredict(s: SparkSession, d: String): DataFrame = {
    val edges = orders(s, d).select(col("o_orderkey"), col("o_custkey"))
      .join(lineitem(s, d).select(col("l_orderkey"), col("l_partkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
      .distinct()
    resourceAlloc(edges, RaDegCap)
  }

  /** See [[q135LinkPredict]]; any distinct (c, p) bipartite edge frame. */
  private[operators] def resourceAlloc(edges: DataFrame, cap: Int): DataFrame = {
    val deg = edges.groupBy(col("p")).agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= 2 && col("deg") <= cap)
    // checkpoint: TWO consumers (both sides of the pair join) — without
    // it the orders⋈lineitem distinct runs twice (q105 edge-list
    // discipline). Partitioned+sorted on p so the self-join needs no
    // further exchange or sort on either side.
    // r18: MEASURED, NOT converted to PartitionedCheckpoint — unlike the
    // iterative operators' uniform edge frames, this self-join EXPLODES
    // (deg² pairs per part), and pinning both sides to the checkpoint's
    // co-partitioning removed AQE's runtime rebalancing of the exploding
    // stage: sf1 BenchOne ×3 cold min went 9.7 s → 29.3 s. The exchange
    // is worth it here; the cap bounds the fan-out, AQE balances it.
    val e = edges.join(deg, Seq("p")).repartition(col("p"))
      .sortWithinPartitions(col("p"))
      .localCheckpoint(false)
    e.select(col("p"), col("c").as("c_a"), col("deg"))
      .join(e.select(col("p"), col("c").as("c_b")).hint("SHUFFLE_HASH"),
        Seq("p"))
      .filter(col("c_a") < col("c_b"))
      .groupBy(col("c_a"), col("c_b"))
      .agg(count(lit(1)).as("n_common"),
        sum(expr(s"${Scale}L div deg")).as("score_e12"))
      .orderBy(col("score_e12").desc, col("c_a"), col("c_b"))
      .limit(100)
  }

  val q135Sql: String =
    s"""WITH e AS (
       |  SELECT DISTINCT o_custkey AS c, l_partkey AS p
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |d AS (SELECT p, count(*) AS deg FROM e GROUP BY p),
       |ed AS (SELECT e.c, e.p, d.deg FROM e JOIN d USING (p)
       |       WHERE d.deg BETWEEN 2 AND $RaDegCap),
       |pr AS (SELECT a.c AS c_a, b.c AS c_b, a.deg
       |       FROM ed a JOIN ed b ON a.p = b.p AND a.c < b.c)
       |SELECT c_a, c_b, count(*) AS n_common,
       |  CAST(sum($Scale // deg) AS BIGINT) AS score_e12
       |FROM pr GROUP BY 1, 2
       |ORDER BY score_e12 DESC, c_a, c_b LIMIT 100""".stripMargin

  /** HITS (Kleinberg 1999) hubs-and-authorities over the customer–part
    * co-purchase bipartite graph, two full iterations UNNORMALIZED so
    * every score is an exactly-summed BIGINT (the q81 integer
    * discipline without even needing fixed-point: h₀ ≡ 1 makes
    * a₁(p) = deg(p), h₁(c) = Σ_{p∈Γ(c)} deg(p), a₂(p) = Σ_{c∈Γ(p)}
    * h₁(c) — normalization only rescales, the RANKING is the classic
    * HITS ordering). Authorities = parts that the broadest-basket
    * customers buy; distinct from raw popularity (deg) because a₂
    * weights each buyer by their reach. Top-50 with (score, partkey)
    * tiebreak. At 100 TB the scores widen to DECIMAL(38,0) after ~3
    * iterations — two keep the demo in BIGINT by a large margin.
    *
    * Scale shape: the distinct edge frame is checkpointed ONCE,
    * partitioned on p (the q135 discipline) — consumer joins reuse the
    * layout; each half-iteration is one join + partial-agg sum on a
    * node-sized frame; top-50 is TakeOrderedAndProject. */
  def q156Hits(s: SparkSession, d: String): DataFrame = {
    // r18: partitioning-visible checkpoint (see pagerank)
    val e = PartitionedCheckpoint(
      orders(s, d).select(col("o_orderkey"), col("o_custkey"))
        .join(lineitem(s, d).select(col("l_orderkey"), col("l_partkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
        .distinct(),
      Seq("p"))
    val a1 = e.groupBy(col("p")).agg(count(lit(1)).as("a1"))
    val h1 = e.join(a1, Seq("p"))
      .groupBy(col("c")).agg(sum(col("a1")).as("h1"))
    e.join(h1, Seq("c"))
      .groupBy(col("p"))
      .agg(sum(col("h1")).as("authority2"), count(lit(1)).as("deg"))
      .orderBy(col("authority2").desc, col("p"))
      .limit(50)
      .select(col("p").as("p_partkey"), col("deg"), col("authority2"))
  }

  val q156Sql: String =
    """WITH e AS (
      |  SELECT DISTINCT o_custkey AS c, l_partkey AS p
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      |a1 AS (SELECT p, count(*) AS a1 FROM e GROUP BY p),
      |h1 AS (SELECT e.c, CAST(sum(a1.a1) AS BIGINT) AS h1
      |       FROM e JOIN a1 USING (p) GROUP BY e.c),
      |a2 AS (SELECT e.p, CAST(sum(h1.h1) AS BIGINT) AS authority2,
      |              count(*) AS deg
      |       FROM e JOIN h1 USING (c) GROUP BY e.p)
      |SELECT p AS p_partkey, deg, authority2
      |FROM a2 ORDER BY authority2 DESC, p LIMIT 50""".stripMargin

  /** PERSONALIZED PageRank (random walk with restart to a SEED SET —
    * the recommendation/trust-propagation variant of q81): teleport
    * mass goes only to seed nodes (every-100th customer, the "VIP"
    * cohort stand-in), so rank measures proximity to the seeds, not
    * global importance. Same integer fixed-point discipline as q81 —
    * BIGINT 1e-12 units, floor divisions, bit-identical across engines
    * by construction — with the seed-indicator folded into the nodes
    * frame so the update is one expression. |S| is a one-scalar driver
    * aggregate exactly like q81's N.
    *
    * Scale shape: identical to q81 — checkpointed partitioned+sorted
    * edges, zero hash exchanges per iteration, node-sized rank frame,
    * fixed 5 iterations, per-iteration lineage truncation. */
  def q164Ppr(s: SparkSession, d: String): DataFrame = {
    val pairs = orders(s, d).select(col("o_orderkey"), col("o_custkey"))
      .join(lineitem(s, d).select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
    val edges = pairs.select(col("src"), col("dst"))
      .unionAll(pairs.select(col("dst").as("src"), col("src").as("dst")))
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    // r18: partitioning-visible checkpoints (see pagerank)
    val e = PartitionedCheckpoint(edges.join(deg, Seq("src")), Seq("src"))
    val nodes = PartitionedCheckpoint(
      e.select(col("src").as("node")).distinct()
        .withColumn("is_seed",
          when(col("node") % 100 === 0, 1L).otherwise(0L)), Seq("node"))
    val ns = nodes.filter(col("is_seed") === 1L).count()
    require(ns > 0, "PPR needs a non-empty seed set")
    val base = (15L * Scale) / (100L * ns)
    var r = nodes.select(col("node"),
      (col("is_seed") * lit(Scale / ns)).as("rank_e12"))
    for (_ <- 1 to Iters) {
      val contrib = e.join(r, e("src") === r("node"))
        .select(col("dst"), expr("rank_e12 div deg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
      r = PartitionedCheckpoint(
        nodes.join(contrib, nodes("node") === contrib("dst"), "left")
          .select(nodes("node"),
            (nodes("is_seed") * lit(base) +
              expr("coalesce(s, 0L) * 85 div 100")).as("rank_e12")),
        Seq("node"))
    }
    r.select(col("node"), col("rank_e12"))
  }

  private def pprIterSql(i: Int): String =
    s"""pk$i AS (
       |  SELECT e.dst AS node, sum(r.rank_e12 // e.deg) AS s
       |  FROM ed e JOIN p${i - 1} r ON e.src = r.node
       |  GROUP BY 1),
       |p$i AS (
       |  SELECT n0.node,
       |    CAST(n0.is_seed * ((15 * $Scale) // (100 * nn.ns)) +
       |         (COALESCE(pk$i.s, 0) * 85) // 100 AS BIGINT) AS rank_e12
       |  FROM nodes n0 CROSS JOIN nn
       |  LEFT JOIN pk$i ON pk$i.node = n0.node)""".stripMargin

  val q164Sql: String =
    s"""WITH eraw AS (
       |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |eall AS (
       |  SELECT src, dst FROM eraw
       |  UNION ALL SELECT dst, src FROM eraw),
       |dg AS (SELECT src, count(*) AS deg FROM eall GROUP BY 1),
       |ed AS (SELECT e.src, e.dst, dg.deg FROM eall e JOIN dg USING (src)),
       |nodes AS (
       |  SELECT DISTINCT src AS node,
       |    CASE WHEN src % 100 = 0 THEN 1 ELSE 0 END AS is_seed
       |  FROM eall),
       |nn AS (SELECT CAST(sum(is_seed) AS BIGINT) AS ns FROM nodes),
       |p0 AS (
       |  SELECT node, CAST(is_seed * ($Scale // nn.ns) AS BIGINT)
       |      AS rank_e12
       |  FROM nodes CROSS JOIN nn),
       |${(1 to Iters).map(pprIterSql).mkString(",\n")}
       |SELECT node, rank_e12 FROM p$Iters""".stripMargin

  /** LABEL-PROPAGATION COMMUNITY DETECTION (Raghavan et al. 2007),
    * SYNCHRONOUS and fully deterministic: every node starts as its own
    * label; each round every node adopts the most frequent label among
    * its NEIGHBORS, ties to the smallest label (the randomized
    * tie-break of the paper is replaced by min — the same determinism
    * stance as everywhere else in this repo: never rand()). Three fixed
    * rounds (not convergence-chased — the q81 lineage-honesty rule),
    * then the community census.
    *
    * The per-node argmax is the q163 min_by-on-struct idiom:
    * min_by(label, (-count, label)) — PARTIAL-AGGREGATION-friendly
    * (min_by merges map-side), where the textbook row_number window
    * would sort every (node, label) group. The oracle unrolls the three
    * rounds as nested CTEs with the equivalent rank filter.
    *
    * Scale shape: per round one edges⋈labels equi join (labels frame is
    * node-sized, co-partitioned with the src-partitioned checkpointed
    * edge list) plus two partial aggs on (node, label) then node.
    * Lineage truncated per round (localCheckpoint — the dedupClusters
    * lesson). Nothing is ever broadcast at graph scale and no window
    * touches an edges-sized frame. */
  def q193LabelProp(s: SparkSession, d: String): DataFrame = {
    val pairs = orders(s, d).select(col("o_orderkey"), col("o_custkey"))
      .join(lineitem(s, d).select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("v"))
      .distinct()
    // r18: the checkpoint was partitioned by src, but every round JOINS
    // ON dst — each of the 3 rounds re-shuffled the full edge list by
    // dst (one edge-sized Exchange per round, visible in the sf1 stage
    // profile as 3x ~106 MB writes). Partitioning-visible checkpoint on
    // the ACTUAL join key: edge side of every round is now
    // exchange-free; labels stay node-sized.
    val edges = PartitionedCheckpoint(
      pairs.select(col("c").as("src"), col("v").as("dst"))
        .unionAll(pairs.select(col("v").as("src"), col("c").as("dst"))),
      Seq("dst"))
    var labels = PartitionedCheckpoint(
      edges.select(col("src").as("node")).distinct()
        .select(col("node"), col("node").as("label")), Seq("node"))
    for (_ <- 1 to 3) {
      labels = PartitionedCheckpoint(edges
        .join(labels.select(col("node").as("dst"), col("label").as("nl")),
          Seq("dst"))
        .groupBy(col("src"), col("nl"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("src"))
        .agg(min_by(col("nl"), struct(negate(col("cnt")), col("nl")))
          .as("label"))
        .select(col("src").as("node"), col("label")), Seq("node"))
    }
    labels.groupBy(col("label").as("community"))
      .agg(count(lit(1)).as("n_nodes"), min(col("node")).as("min_node"))
  }

  private def lpaIterSql(k: Int): String =
    s"""r$k AS (
       |  SELECT node, label FROM (
       |    SELECT e.src AS node, lp.label,
       |      row_number() OVER (PARTITION BY e.src
       |        ORDER BY count(*) DESC, lp.label) AS rn
       |    FROM e JOIN r${k - 1} lp ON e.dst = lp.node
       |    GROUP BY e.src, lp.label)
       |  WHERE rn = 1)"""

  val q193Sql: String =
    s"""WITH pairs AS (
       |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS v
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |e AS (SELECT c AS src, v AS dst FROM pairs
       |      UNION ALL SELECT v, c FROM pairs),
       |r0 AS (SELECT DISTINCT src AS node, src AS label FROM e),
       |${(1 to 3).map(lpaIterSql).mkString(",\n")}
       |SELECT label AS community, count(*) AS n_nodes,
       |  min(node) AS min_node
       |FROM r3 GROUP BY 1""".stripMargin

  val all: Map[String, ((SparkSession, String) => DataFrame, String)] = Map(
    "q81_pagerank" -> (q81Pagerank _, q81Sql),
    "q105_triangle_count" -> (q105TriangleCount _, q105Sql),
    "q246_triangle_doulion" -> (q246TriangleDoulion _, q246Sql),
    "q109_bfs_distances" -> (q109BfsDistances _, q109Sql),
    "q113_kcore" -> (q113KCore _, q113Sql),
    "q135_link_predict" -> (q135LinkPredict _, q135Sql),
    "q136_sssp" -> (q136Sssp _, q136Sql),
    "q156_hits" -> (q156Hits _, q156Sql),
    "q164_ppr" -> (q164Ppr _, q164Sql),
    "q193_label_prop" -> (q193LabelProp _, q193Sql),
  )
}
