package graft.plans

import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.plans.logical.{Join, JoinHint}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.SketchPlanner

/** The automatic sketch-driven chain reorder: a default session never
  * runs it, the canonical-equality pin against buildChain (the
  * round-13 verdict's "done" bar), end-to-end result invariance, and
  * the conservative non-matches (star shapes, hinted joins). */
class ChainReorderSpec extends SparkSpec {

  /** SketchPlannerSpec's decisive 4-table chain: e0 cheap 1:1, e1
    * explosive (40 hot keys × 50 each side), e2 a 100-row dim. Greedy:
    * e2 → e0 → e1, with broadcast hints on the small sides. */
  private def chainFixture = {
    val t0 = spark.range(2000).select(col("id").as("k0"), lit(1L).as("v0"))
    val t1 = spark.range(2000).select(col("id").as("k0"),
      pmod(col("id"), lit(40)).as("k1"), lit(2L).as("v1"))
    val t2 = spark.range(2000).select(pmod(col("id"), lit(40)).as("k1"),
      col("id").as("k2"), lit(3L).as("v2"))
    val t3 = spark.range(100).select(col("id").as("k2"), lit(4L).as("v3"))
    (Seq(t0, t1, t2, t3), Seq("k0", "k1", "k2"))
  }

  private def leftToRight(tables: Seq[DataFrame], keys: Seq[String]): DataFrame =
    tables.tail.zip(keys).foldLeft(tables.head) { case (acc, (t, k)) =>
      acc.join(t, k)
    }

  /** `df` with the rule applied once to its optimized plan. */
  private def reordered(df: DataFrame): DataFrame =
    GraftSqlBridge.optimizedWith(df, RewriteChainJoin)(_ => ())

  private def multiset(df: DataFrame, cols: Seq[String]): Map[Seq[Any], Int] =
    df.select(cols.map(col): _*).collect().map(_.toSeq)
      .groupBy(identity).view.mapValues(_.length).toMap

  test("a default session is left alone: only RewriteWindowTopK is installed, the chain plans without join hints") {
    assert(spark.experimental.extraOptimizations === Seq(RewriteWindowTopK))
    val (tables, keys) = chainFixture
    val opt = leftToRight(tables, keys).queryExecution.optimizedPlan
    assert(!opt.exists { case j: Join => j.hint != JoinHint.NONE; case _ => false },
      s"a default session must not reorder or hint the chain:\n$opt")
  }

  test("rule-rewritten plan canonicalizes equal to buildChain's on the 4-table fixture") {
    val (tables, keys) = chainFixture
    val chainDf = leftToRight(tables, keys)
    val opt = chainDf.queryExecution.optimizedPlan
    val rewritten = RewriteChainJoin(opt)
    assert(rewritten.canonicalized !== opt.canonicalized,
      "the fixture's best order is not left-to-right; the rule must rewrite")
    val steps = SketchPlanner.decideChain(tables, keys)
    val manual = SketchPlanner.buildChain(tables, keys, steps)
      .select(chainDf.columns.toSeq.map(col): _*)
    // the rule's DIRECT output (no re-optimization pass) must already be
    // the plan buildChain + the full optimizer produce — intermediate
    // projection pruning included
    assert(rewritten.canonicalized ===
      manual.queryExecution.optimizedPlan.canonicalized,
      s"\nrule:\n$rewritten\nmanual:\n${manual.queryExecution.optimizedPlan}")
    // and the results are identical
    val cols = chainDf.columns.toSeq
    assert(multiset(GraftSqlBridge.ofRows(spark, rewritten), cols) ===
      multiset(manual, cols))
  }

  test("end-to-end with the flag on: results unchanged, broadcast hints land") {
    val (tables, keys) = chainFixture
    val cols = Seq("k0", "k1", "k2", "v0", "v1", "v2", "v3")
    val off = multiset(leftToRight(tables, keys), cols)
    val on = reordered(leftToRight(tables, keys))
    assert(multiset(on, cols) === off)
    val hinted = on.queryExecution.optimizedPlan.collect {
      case j: Join if j.hint != JoinHint.NONE => j
    }
    assert(hinted.nonEmpty, "decideChain's broadcast hints must reach the plan:\n" +
      on.queryExecution.optimizedPlan)
  }

  test("star shape: most-selective dim joins first, broadcast hints land, results unchanged") {
    // fact 2000 rows; dSel keeps 1/20 of it (ids 0..99 of a 0..1999 key
    // space), dAll matches every row — written WRONG order (dAll first)
    val fact = spark.range(2000).select(col("id").as("a"),
      pmod(col("id"), lit(10)).as("b"), col("id").as("fv"))
    val dSel = spark.range(100).select(col("id").as("sa"), lit(1L).as("dselv"))
    val dAll = spark.range(10).select(col("id").as("ab"), lit(2L).as("dallv"))
    def star = fact.join(dAll, col("b") === col("ab"))
      .join(dSel, col("a") === col("sa"))
    val cols = star.columns.toSeq
    val off = multiset(star, cols)
    assert(multiset(reordered(star), cols) === off)
    // the rule's own output: re-optimizing it lifts the literal dselv
    // column above the joins
    val rw = RewriteChainJoin(star.queryExecution.optimizedPlan)
    val joins = rw.collect { case j: Join => j }
    assert(joins.size === 2)
    // the INNERMOST join (last collected) must take the selective dim
    // — the rule reversed the written order
    assert(joins.last.right.output.map(_.name).contains("dselv"),
      s"selective dim must join first:\n$rw")
    assert(joins.forall(_.hint != JoinHint.NONE),
      "both 100-/10-row dims are under the broadcast budget")
  }

  test("q48-shaped TPC-H star (lineitem fact, three dims on distinct fact keys): rule == manual buildStar") {
    val d = sf("sf0.001")
    val l = spark.read.parquet(s"$d/lineitem.parquet")
      .select("l_orderkey", "l_suppkey", "l_partkey", "l_quantity")
    val o = spark.read.parquet(s"$d/orders.parquet")
      .select("o_orderkey", "o_totalprice")
    val su = spark.read.parquet(s"$d/supplier.parquet")
      .select("s_suppkey", "s_nationkey")
    val p = spark.read.parquet(s"$d/part.parquet")
      .select("p_partkey", "p_size")
    def star = l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(su, l("l_suppkey") === su("s_suppkey"))
      .join(p, l("l_partkey") === p("p_partkey"))
    val cols = star.columns.toSeq
    val off = multiset(star, cols)
    val opt = star.queryExecution.optimizedPlan
    val rewritten = RewriteChainJoin(opt)
    val edges = Seq((l("l_orderkey"), o("o_orderkey")),
      (l("l_suppkey"), su("s_suppkey")), (l("l_partkey"), p("p_partkey")))
    val steps = SketchPlanner.decideStar(l, Seq(o, su, p), edges)
    assert(steps.exists(_.bcastDim), "sf0.001 dims are broadcastable")
    val manual = SketchPlanner.buildStar(l, Seq(o, su, p), edges, steps)
      .select(cols.map(col): _*)
    // bare-Join anchor, nothing prunes: the rule's direct output must
    // BE the manual fold's optimized plan
    assert(rewritten.canonicalized ===
      manual.queryExecution.optimizedPlan.canonicalized,
      s"\nrule:\n$rewritten\nmanual:\n${manual.queryExecution.optimizedPlan}")
    assert(multiset(GraftSqlBridge.ofRows(spark, rewritten), cols) === off)
    // end-to-end through the rule: same answer
    assert(multiset(reordered(star), cols) === off)
  }

  test("snowflake branch collapses into its dim: results unchanged, branch stays intact") {
    // r16: d2 hangs off the fact, snow hangs off d1 — the branch
    // (d1 ⋈ snow) collapses into ONE dim and the star reorders the
    // collapsed branches (this shape was conceded before)
    val fact = spark.range(1000).select(col("id").as("a"),
      pmod(col("id"), lit(10)).as("b"), col("id").as("fv"))
    val d1 = spark.range(100).select(col("id").as("a"),
      pmod(col("id"), lit(7)).as("sub"), lit(1L).as("d1v"))
    val d2 = spark.range(10).select(col("id").as("b"), lit(2L).as("d2v"))
    val snow = spark.range(7).select(col("id").as("sub"), lit(3L).as("d3v"))
    def q = fact.join(d1, "a").join(d2, "b").join(snow, "sub")
    val cols = q.columns.toSeq
    val off = multiset(q, cols)
    val opt = q.queryExecution.optimizedPlan
    val rw = RewriteChainJoin(opt)
    // d1 keeps 100/1000 of the fact, d2 keeps all of it: the selective
    // collapsed branch must join first — the rewrite fires
    assert(rw.canonicalized !== opt.canonicalized, s"rewrite did not fire:\n$opt")
    // the snow⋈d1 join must sit INSIDE the branch (below its fact join),
    // never interleaved with the other branch's fact join
    assert(multiset(reordered(q), cols) === off)
  }

  test("q5-shaped 5-table snowflake (lineitem fact, orders dim, supplier->nation->region branch): rule == manual collapsed star") {
    val d = sf("sf0.001")
    val l = spark.read.parquet(s"$d/lineitem.parquet")
      .select("l_orderkey", "l_suppkey", "l_quantity")
    val o = spark.read.parquet(s"$d/orders.parquet")
      .select("o_orderkey", "o_totalprice")
    val su = spark.read.parquet(s"$d/supplier.parquet")
      .select("s_suppkey", "s_nationkey")
    val n = spark.read.parquet(s"$d/nation.parquet")
      .select("n_nationkey", "n_regionkey", "n_name")
    val re = spark.read.parquet(s"$d/region.parquet")
      .select("r_regionkey", "r_name")
    // written LINEARLY, the way a user folds it: n joins su's key,
    // re joins n's key — a branch growing off the su dim
    def q = l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(su, l("l_suppkey") === su("s_suppkey"))
      .join(n, su("s_nationkey") === n("n_nationkey"))
      .join(re, n("n_regionkey") === re("r_regionkey"))
    val cols = q.columns.toSeq
    val off = multiset(q, cols)
    val opt = q.queryExecution.optimizedPlan
    val rewritten = RewriteChainJoin(opt)
    // manual referee: collapse the branch by hand, then star-decide
    val branch = su.join(n, su("s_nationkey") === n("n_nationkey"))
      .join(re, n("n_regionkey") === re("r_regionkey"))
    val edges = Seq((l("l_orderkey"), o("o_orderkey")),
      (l("l_suppkey"), su("s_suppkey")))
    val steps = SketchPlanner.decideStar(l, Seq(o, branch), edges)
    val manual = SketchPlanner.buildStar(l, Seq(o, branch), edges, steps)
      .select(cols.map(col): _*)
    assert(rewritten.canonicalized ===
      manual.queryExecution.optimizedPlan.canonicalized,
      s"\nrule:\n$rewritten\nmanual:\n${manual.queryExecution.optimizedPlan}")
    assert(multiset(GraftSqlBridge.ofRows(spark, rewritten), cols) === off)
    assert(multiset(reordered(q), cols) === off)
  }

  test("randomized snowflake soak: 8 seeded random trees — flag-on results always equal flag-off") {
    // property over the new branch assembly: random sizes, random
    // (valid) spine orders, optional dim filter — the rewrite may or
    // may not fire per tree; results must NEVER change
    val rnd = new scala.util.Random(987)
    (1 to 8).foreach { t =>
      val n = 500 + rnd.nextInt(1500)
      val fact = spark.range(n).select(col("id").as("fa"),
        pmod(col("id"), lit(1 + rnd.nextInt(50))).as("fb"),
        col("id").as("fv"))
      val d1n = 20 + rnd.nextInt(200)
      val d1base = spark.range(d1n).select(col("id").as("da"),
        pmod(col("id"), lit(11)).as("dsub"), lit(1L).as("d1v"))
      val d1 = if (rnd.nextBoolean()) d1base.filter(col("da") < d1n / 2)
               else d1base
      val d2 = spark.range(1 + rnd.nextInt(60))
        .select(col("id").as("db"), lit(2L).as("d2v"))
      val s1 = spark.range(11).select(col("id").as("sk"),
        (col("id") * 5).as("s1v"))
      // deps: d1 and d2 attach to the fact, s1 attaches to d1 — any
      // topological order of the spine is a tree a user could write
      val orders = Seq(Seq("d1", "d2", "s1"), Seq("d1", "s1", "d2"),
        Seq("d2", "d1", "s1"))
      val ord = orders(rnd.nextInt(orders.size))
      def join1(acc: DataFrame, e: String): DataFrame = e match {
        case "d1" => acc.join(d1, col("fa") === col("da"))
        case "d2" => acc.join(d2, col("fb") === col("db"))
        case "s1" => acc.join(s1, col("dsub") === col("sk"))
      }
      def q = ord.foldLeft(fact: DataFrame)(join1)
      val cols = q.columns.toSeq
      val off = multiset(q, cols)
      assert(multiset(reordered(q), cols) === off,
        s"tree $t order $ord changed results")
    }
  }

  test("an existing user hint anywhere on the spine vetoes the rewrite") {
    val (tables, keys) = chainFixture
    val hintedChain = tables.head.join(broadcast(tables(1)), keys.head)
      .join(tables(2), keys(1)).join(tables(3), keys(2))
    val opt = hintedChain.queryExecution.optimizedPlan
    val rw = RewriteChainJoin(opt)
    assert(rw.canonicalized === opt.canonicalized)
  }

  test("TPC-H-style chain with per-table key names (EqualTo-origin): rewrite fires, results unchanged") {
    // differing key names mean the user writes explicit EqualTo joins —
    // the non-using origin where duplicate keys stay in the output;
    // exercises decideChainCols' per-edge columns and BOTH anchors
    val d = sf("sf0.001")
    val c = spark.read.parquet(s"$d/customer.parquet")
      .select("c_custkey", "c_nationkey")
    val o = spark.read.parquet(s"$d/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val l = spark.read.parquet(s"$d/lineitem.parquet")
      .select("l_orderkey", "l_partkey", "l_quantity")
    val p = spark.read.parquet(s"$d/part.parquet")
      .select("p_partkey", "p_size")
    def chain = c.join(o, c("c_custkey") === o("o_custkey"))
      .join(l, o("o_orderkey") === l("l_orderkey"))
      .join(p, l("l_partkey") === p("p_partkey"))
    // Project anchor (the common shape: a selection above the chain)
    val sel = Seq("c_nationkey", "o_totalprice", "l_quantity", "p_size")
    val off = multiset(chain.select(sel.map(col): _*), sel)
    val on = reordered(chain.select(sel.map(col): _*))
    assert(multiset(on, sel) === off)
    val hinted = on.queryExecution.optimizedPlan.collect {
      case j: Join if j.hint != JoinHint.NONE => j
    }
    assert(hinted.nonEmpty, "the sf0.001 chain has broadcast-able sides; " +
      "the rewrite must fire:\n" + on.queryExecution.optimizedPlan)
    // bare-Join anchor (no projection above): exact output order restored
    val offBare = chain.collect().map(_.toSeq)
      .groupBy(identity).view.mapValues(_.length).toMap
    val onBare = reordered(chain)
    assert(onBare.columns.toSeq === chain.columns.toSeq)
    assert(onBare.collect().map(_.toSeq)
      .groupBy(identity).view.mapValues(_.length).toMap === offBare)
  }

  test("bushy lemma: the segment-greedy chain decider emits a JOIN-OF-JOINS when the middle edge is explosive (r16 task 7)") {
    // decideChain is NOT left-deep-only: its segment merge joins any
    // adjacent pair, so when the two OUTER edges are cheap and the
    // middle edge explodes, the greedy merges both outer pairs first
    // and the final merge joins two JOINED segments — a bushy tree.
    // Fixture: e0 (t0⋈t1) 1:1, e1 (t1⋈t2) 10-hot-key explosion, e2
    // (t2⋈t3) 1:1.
    val t0 = spark.range(1000).select(col("id").as("k0"), lit(1L).as("v0"))
    val t1 = spark.range(1000).select(col("id").as("k0"),
      pmod(col("id"), lit(10)).as("k1"), lit(2L).as("v1"))
    val t2 = spark.range(1000).select(pmod(col("id"), lit(10)).as("k1"),
      col("id").as("k2"), lit(3L).as("v2"))
    val t3 = spark.range(1000).select(col("id").as("k2"), lit(4L).as("v3"))
    val tables = Seq(t0, t1, t2, t3)
    val keys = Seq("k0", "k1", "k2")
    val steps = SketchPlanner.decideChain(tables, keys)
    assert(steps.map(_.edge) === Seq(0, 2, 1),
      s"greedy must merge both cheap outer edges before the explosive middle, got $steps")
    // the built tree is LITERALLY bushy: the outermost join has a join
    // under BOTH children
    def hasJoin(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
      p.collectFirst { case j: Join => j }.isDefined
    val built = SketchPlanner.buildChain(tables, keys, steps)
    val top = built.queryExecution.analyzed.collectFirst { case j: Join => j }.get
    assert(hasJoin(top.left) && hasJoin(top.right),
      s"expected a bushy join-of-joins, got\n${built.queryExecution.analyzed}")
    // ...and the RULE produces the same shape from the written chain
    val cols = Seq("v0", "v1", "v2", "v3")
    def q = leftToRight(tables, keys)
    val off = multiset(q, cols)
    val rw = RewriteChainJoin(q.queryExecution.optimizedPlan)
    val rtop = rw.collectFirst { case j: Join => j }.get
    assert(hasJoin(rtop.left) && hasJoin(rtop.right),
      s"rule must rebuild the bushy shape, got\n$rw")
    assert(multiset(reordered(q), cols) === off, "bushy rewrite changed results")
    // the lemma's teeth: EVERY left-deep (one-table-at-a-time) order
    // over this chain materializes a contiguous 3-table segment before
    // the last join, and both such segments ({t0,t1,t2}, {t1,t2,t3})
    // contain the explosive e1 — so the cheapest left-deep
    // intermediate total is >= min(|t0⋈t1⋈t2|, |t1⋈t2⋈t3|), while the
    // bushy tree's intermediates are the two cheap 1:1 joins.
    val bushyInter = t0.join(t1, "k0").count() + t2.join(t3, "k2").count()
    val abc = t0.join(t1, "k0").join(t2, "k1").count()
    val bcd = t1.join(t2, "k1").join(t3, "k2").count()
    assert(bushyInter * 10 < math.min(abc, bcd),
      s"bushy intermediates $bushyInter must be far under left-deep's ${math.min(abc, bcd)}")
  }

  test("star lemma: exhaustive permutation referee — most-selective-first minimizes the intermediate-row total (r16 task 7)") {
    // a fact-anchored star has NO bushy alternative: branches share no
    // key, so any join between two dims without the fact is a cross
    // product — every admissible tree is a fact-threaded sequence, and
    // the only freedom is the ORDER. This pins decideStar's
    // most-selective-first order against an exhaustive referee: all 3!
    // dim permutations, summing ACTUAL intermediate row counts.
    val fact = spark.range(2000).select(col("id").as("ka"),
      col("id").as("kb"), col("id").as("kc"), lit(1L).as("fv"))
    val dims = Seq(
      spark.range(200).select(col("id").as("da"), lit(1L).as("wa")),   // keeps 10%
      spark.range(1000).select(col("id").as("db"), lit(1L).as("wb")),  // keeps 50%
      spark.range(2000).select(col("id").as("dc"), lit(1L).as("wc")))  // keeps all
    val edges = Seq((col("ka"), col("da")), (col("kb"), col("db")),
      (col("kc"), col("dc")))
    val steps = SketchPlanner.decideStar(fact, dims, edges)
    def interTotal(order: Seq[Int]): Long =
      order.init.scanLeft(fact) { (acc, i) =>
        acc.join(dims(i), edges(i)._1 === edges(i)._2)
      }.tail.map(_.count()).sum
    val deciderTotal = interTotal(steps.map(_.edge))
    val allTotals = Seq(0, 1, 2).permutations.map(interTotal).toSeq
    assert(deciderTotal === allTotals.min,
      s"decider total $deciderTotal vs exhaustive min ${allTotals.min}")
    assert(allTotals.max > deciderTotal,
      "fixture must make order matter, or the lemma is vacuous")
  }

  test("snowflake lemma: the collapsed-branch rebuild IS the bushy plan and beats every fact-threaded order on intermediates (r16 task 7)") {
    // the rule's snowflake rebuild joins a branch's tables together
    // FIRST (dim grain) and only then touches the fact — the bushy
    // alternative the r16 verdict asks to price. Left-deep threading
    // drags the fact-sized stream through every branch link instead.
    // BASELINE.md §"Round-16 record" gives the wall-clock delta of
    // decided vs literal order (1.25 s vs 1.58 s at 2M rows); this lemma
    // pins the shape and the intermediate-row counts at spec scale.
    val fact = spark.range(5000).select(pmod(col("id"), lit(100)).as("sk"),
      col("id").as("ok"), lit(1L).as("fv"))
    val supp = spark.range(100).select(col("id").as("sk"),
      pmod(col("id"), lit(25)).as("nk"))
    val nat = spark.range(25).select(col("id").as("nk"),
      pmod(col("id"), lit(5)).as("rk"))
    val reg = spark.range(1).select(col("id").as("rk")) // keeps 1/5 of nations
    val dimO = spark.range(5000).select(col("id").as("ok"), lit(2L).as("ov"))
    def q = fact.join(dimO, "ok").join(supp, "sk").join(nat, "nk").join(reg, "rk")
    val cols = Seq("fv", "ov")
    val off = multiset(q, cols)
    val rw = RewriteChainJoin(q.queryExecution.optimizedPlan)
    // bushy: some join's RIGHT child is itself a joined subtree (the
    // collapsed supplier→nation→region branch) — the literal
    // left-deep spine has join-free right children everywhere
    val bushy = rw.collect {
      case j: Join if j.right.collectFirst { case i: Join => i }.isDefined => j
    }
    assert(bushy.nonEmpty, s"expected a collapsed-branch join, got\n$rw")
    assert(multiset(reordered(q), cols) === off, "snowflake rewrite changed results")
    // intermediates: collapsing s⋈n⋈r costs dim-grain rows (≤100 each),
    // then ONE fact join; threading costs fact-grain rows (~5000) at
    // EVERY link. (reg keeps rk=0 → 5 of 25 nations → 20 suppliers →
    // 1000 fact rows.)
    val branchInter = supp.join(nat, "nk").count() +
      supp.join(nat, "nk").join(reg, "rk").count()
    val threadInter = fact.join(dimO, "ok").join(supp, "sk").count() +
      fact.join(dimO, "ok").join(supp, "sk").join(nat, "nk").count()
    assert(branchInter * 10 < threadInter,
      s"branch-first intermediates $branchInter vs threaded $threadInter")
  }

  test("gated queries are output-invariant under the rule") {
    val d = sf("sf0.001")
    for (name <- Seq("q05_local_supplier", "q03_top_revenue",
        "q48_market_share")) {
      val q = graft.SparkEntry.queries(name)
      val off = q(spark, d).collect().map(_.toSeq)
        .groupBy(identity).view.mapValues(_.length).toMap
      val on = reordered(q(spark, d)).collect().map(_.toSeq)
        .groupBy(identity).view.mapValues(_.length).toMap
      assert(on === off, name)
    }
  }
}
