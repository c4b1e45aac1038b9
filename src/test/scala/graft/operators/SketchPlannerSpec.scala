package graft.operators

import org.apache.spark.sql.functions._
import graft.{SparkSpec, TempDirs}

class SketchPlannerSpec extends SparkSpec with TempDirs {
  import spark.implicits._

  // A(k1), B(k1,k2), C(k2): the planner prices A⋈B vs B⋈C and must join
  // the cheaper pair first. Differential ground truth: both orders
  // produce the same rows, so correctness never depends on the decision —
  // only cost does.
  private def runBoth(a: org.apache.spark.sql.DataFrame,
      b: org.apache.spark.sql.DataFrame,
      c: org.apache.spark.sql.DataFrame) = {
    val (label, planned) = SketchPlanner.planThreeWay(a, b, c, "k1", "k2")
    val worst = SketchPlanner.threeWayWorstFirst(a, b, c, "k1", "k2")
    (label, planned, worst)
  }

  test("uniform corpus: sketch pick matches exact stats, output order-independent") {
    // |A⋈B| = 5000 (unique k1 both sides), |B⋈C| = 200·25 = 5000? no:
    // C has 200 rows over 100 k2 values, B spreads k2 uniformly over
    // 1000 values → |B⋈C| = 5000·(100/1000 match)·2 = 1000. B⋈C is
    // genuinely smaller; the sketch must see that through the noise.
    val a = spark.range(5000).select(col("id").as("k1"), lit(1L).as("av"))
    val b = spark.range(5000).select(col("id").as("k1"),
      pmod(col("id"), lit(1000)).as("k2"), lit(2L).as("bv"))
    val c = spark.range(200).select(pmod(col("id"), lit(100)).as("k2"),
      col("id").as("cv"))
    val (label, planned, worst) = runBoth(a, b, c)
    assert(label.startsWith("bc_first"), label)
    val p = planned.select("k1", "k2", "av", "bv", "cv")
      .collect().map(_.toSeq).toSet
    val w = worst.select("k1", "k2", "av", "bv", "cv")
      .collect().map(_.toSeq).toSet
    assert(p === w)
    assert(p.size === 1000)
  }

  test("skewed corpus: one hot key explodes A⋈B; the sketch routes around it") {
    // A and B share ONE hot k1 value with 300 rows each side →
    // |A⋈B| ≥ 90 000, while |B⋈C| stays tiny. Static row counts alone
    // (|A| = |B| = 600) cannot see this — the CMS inner product can,
    // because the hot key's counter squares.
    val a = spark.range(600).select(
      when(col("id") < 300, lit(7L)).otherwise(col("id") + 1000).as("k1"),
      lit(1L).as("av"))
    val b = spark.range(600).select(
      when(col("id") < 300, lit(7L)).otherwise(col("id") + 5000).as("k1"),
      pmod(col("id"), lit(500)).as("k2"), lit(2L).as("bv"))
    val c = spark.range(20).select(col("id").as("k2"), col("id").as("cv"))
    val (label, planned, worst) = runBoth(a, b, c)
    assert(label.startsWith("bc_first"), label)
    val p = planned.select("k1", "k2", "av", "bv", "cv")
      .collect().map(_.toSeq).toSet
    assert(p === worst.select("k1", "k2", "av", "bv", "cv")
      .collect().map(_.toSeq).toSet)
    // the avoided intermediate really is the explosive one
    assert(a.join(b, "k1").count() >= 90000L)
    assert(b.join(c, "k2").count() < 100L)
  }

  test("mirror-skewed corpus: when B⋈C is the explosive side, ab_first wins") {
    val a = spark.range(200).select((col("id") + 50).as("k1"), lit(1L).as("av"))
    val b = spark.range(600).select(col("id").as("k1"),
      when(col("id") < 300, lit(3L)).otherwise(col("id") + 9000).as("k2"),
      lit(2L).as("bv"))
    val c = spark.range(300).select(lit(3L).as("k2"), col("id").as("cv"))
    val (label, planned, worst) = runBoth(a, b, c)
    assert(label.startsWith("ab_first"), label)
    assert(planned.select("k1", "k2", "av", "bv", "cv")
      .collect().map(_.toSeq).toSet ===
      worst.select("k1", "k2", "av", "bv", "cv")
        .collect().map(_.toSeq).toSet)
  }

  test("hot-key skew: System-R underestimates 100x in the dangerous direction; CMS stays one-sided") {
    // 500 copies of key 7 on each side plus 500 disjoint unique keys:
    // exact |A join B| = 500*500 = 250_000, but n*n/max(ndv) with EXACT
    // stats says ~1996 - the uniformity assumption underestimating by
    // 125x, exactly the error that makes a planner broadcast an
    // exploding join. The CMS prices the frequency inner product
    // directly: >= exact always, and within width noise here.
    val a = spark.range(1000).select(
      when(col("id") < 500, lit(7L)).otherwise(col("id") + 1000).as("k"))
    val b = spark.range(1000).select(
      when(col("id") < 500, lit(7L)).otherwise(col("id") + 9000).as("k"))
    val exact = SketchPlanner.exactPair(a, col("k"), b, col("k"))
      .as[Long].collect().head
    val cms = SketchPlanner.estPair(a, col("k"), b, col("k"))
      .as[Long].collect().head
    val (na, ndvA) = (1000L, 501L)
    val systemR = na * na / ndvA
    assert(exact === 250000L)
    assert(systemR < exact / 100, s"System-R $systemR vs exact $exact")
    assert(cms >= exact, s"CMS must never underestimate: $cms vs $exact")
    assert(cms <= exact + (1000L * 1000L) / 16384 * 4,
      s"CMS $cms far past the width-noise bound") // eps = n_a*n_b/w slack
  }

  // ── r17 shared-scan est+exact (weighted CMS fold) ──────────────────

  test("weighted CMS over key counts is cell-identical to the raw-row sketch") {
    // skewed multiplicities (1..100 copies per key) so the weight path
    // is genuinely exercised, not just kn=1 everywhere
    val raw = spark.range(2000).select(
      pmod(col("id") * col("id"), lit(400)).cast("string").as("key"))
    val kc = raw.groupBy(col("key")).agg(count(lit(1)).as("kn"))
    def cells(df: org.apache.spark.sql.DataFrame) =
      df.select("row_idx", "col_idx", "cnt")
        .as[(Long, Long, Long)].collect().toSet
    assert(cells(Analytics.cmsSketchWeighted(kc, 64L)) ===
      cells(Analytics.cmsSketchW(raw, 64L)))
    assert(cells(Analytics.cmsSketchWeighted(kc, 16384L)) ===
      cells(Analytics.cmsSketchW(raw, 16384L)))
  }

  test("est+exact from shared key counts: values unchanged, base tables scanned once") {
    val a = spark.range(3000).select(pmod(col("id"), lit(700)).as("k"))
    val b = spark.range(2000).select(pmod(col("id") * 3, lit(900)).as("k"))
    val fa = SketchPlanner.keyCounts(a, col("k"))
    val fb = SketchPlanner.keyCounts(b, col("k"))
    val est = SketchPlanner.estFromCounts(fa, fb).as[Long].collect().head
    val exact = SketchPlanner.exactFromCounts(fa, fb).as[Long].collect().head
    // value-identical to the raw-row forms
    assert(est === SketchPlanner.estPair(a, col("k"), b, col("k"))
      .as[Long].collect().head)
    assert(exact === SketchPlanner.exactPair(a, col("k"), b, col("k"))
      .as[Long].collect().head)
    assert(est >= exact)
    // the q205/q217 composite: est and exact hang off the SAME
    // checkpointed per-key count frame, so the composite's plan contains
    // NO base-table leaves at all — the one scan + key shuffle per side
    // happened once, building the shared frame (guide §1.2; the exact
    // side's inferred isnotnull(key) filter makes plain exchange reuse
    // impossible, which is why keyCounts checkpoints)
    val combo = SketchPlanner.estFromCounts(fa, fb)
      .crossJoin(broadcast(SketchPlanner.exactFromCounts(fa, fb)))
    val leaves = combo.queryExecution.optimizedPlan.collectLeaves()
    assert(leaves.nonEmpty)
    assert(leaves.forall(_.getClass.getSimpleName.contains("LogicalRDD")),
      s"expected only checkpointed-RDD leaves, got: ${leaves.map(_.getClass.getSimpleName).mkString(", ")}")
    // and only TWO distinct shared RDDs feed all four consumer arms
    // (attribute ids differ per consumer arm; the RDD identity is what
    // proves the frame is computed once)
    val rddIds = leaves.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
    }
    assert(rddIds.size === leaves.size)
    assert(rddIds.distinct.size === 2, s"rdd ids: $rddIds")
  }

  test("keyCounts2: grouping-sets pair == two separate keyCounts, incl. null keys, one shared scan") {
    // k1 skewed multiplicities, k2 near-unique, and BOTH carry nulls —
    // the gid filter must keep a NULL key as a real group of its set
    // and never confuse it with the other set's null-marker
    val df = spark.range(2000).select(
      when(col("id") % 97 === 0, lit(null))
        .otherwise(pmod(col("id") * col("id"), lit(300))).as("k1"),
      when(col("id") % 101 === 0, lit(null)).otherwise(col("id")).as("k2"))
    val (f1, f2) = SketchPlanner.keyCounts2(df, col("k1"), col("k2"))
    def m(f: org.apache.spark.sql.DataFrame) =
      f.as[(Option[String], Long)].collect().toMap
    assert(m(f1) === m(SketchPlanner.keyCounts(df, col("k1"))))
    assert(m(f2) === m(SketchPlanner.keyCounts(df, col("k2"))))
    // both frames are filters over ONE shared checkpointed RDD — the
    // single-scan claim (each keyCounts would be its own RDD)
    val ids = Seq(f1, f2).flatMap(_.queryExecution.optimizedPlan
      .collectLeaves().collect {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id })
    assert(ids.size === 2 && ids.distinct.size === 1, s"rdd ids: $ids")
  }

  test("q205 decision table: one-sided estimates, picks and strategies agree with exact") {
    val d = sf("sf0.001")
    val rows = SketchPlanner.q205JoinPlanner(spark, d)
      .as[(String, Long, Long, Boolean, Boolean, String, String)]
      .collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq === Seq("c_join_o", "o_join_l"))
    rows.foreach { case (cand, est, exact, _, _, _, _) =>
      assert(est >= exact, s"$cand: CMS estimate must be one-sided")
    }
    // exactly one candidate picked, and the sketch agrees with exact
    assert(rows.count(_._4) === 1)
    rows.foreach { r =>
      assert(r._4 === r._5, s"${r._1}: pick disagrees with exact stats")
      assert(r._6 === r._7, s"${r._1}: strategy disagrees with exact stats")
    }
  }

  // ── N-way chain reorder ────────────────────────────────────────────

  /** The decisive 4-table chain: e0 cheap (1:1 FK), e1 explosive
    * (40 hot k1 keys × 50 rows each side), e2 tiny (100-row dim).
    * Hand-derived greedy: merge e2 (cost 100), then e0 (2000), then e1
    * last — any order that takes e1 early materializes ~100k rows. */
  private def chainFixture = {
    val t0 = spark.range(2000).select(col("id").as("k0"), lit(1L).as("v0"))
    val t1 = spark.range(2000).select(col("id").as("k0"),
      pmod(col("id"), lit(40)).as("k1"), lit(2L).as("v1"))
    val t2 = spark.range(2000).select(pmod(col("id"), lit(40)).as("k1"),
      col("id").as("k2"), lit(3L).as("v2"))
    val t3 = spark.range(100).select(col("id").as("k2"), lit(4L).as("v3"))
    (Seq(t0, t1, t2, t3), Seq("k0", "k1", "k2"))
  }

  test("chain: greedy decision equals the hand-derived best order; output order-independent") {
    import SketchPlanner.ChainStep
    val (tables, keys) = chainFixture
    val steps = SketchPlanner.decideChain(tables, keys)
    // e2 first (100-row join), then e0 (2000), e1's explosion last;
    // broadcast hints on the ≤50k sides (tie on e0 → left by convention)
    assert(steps === Seq(
      ChainStep(2, bcastLeft = false, bcastRight = true),
      ChainStep(0, bcastLeft = true, bcastRight = false),
      ChainStep(1, bcastLeft = false, bcastRight = true)))
    val ruled = SketchPlanner.buildChain(tables, keys, steps)
    val ltr = SketchPlanner.chainLeftToRight(tables, keys)
    val cols = Seq("k0", "k1", "k2", "v0", "v1", "v2", "v3")
    val r = ruled.select(cols.map(col): _*).collect().map(_.toSeq)
    val l = ltr.select(cols.map(col): _*).collect().map(_.toSeq)
    // multiset equality: the join emits duplicate rows by design
    assert(r.length === l.length)
    assert(r.groupBy(identity).view.mapValues(_.length).toMap ===
      l.groupBy(identity).view.mapValues(_.length).toMap)
    // |t1⋈t2| = 40 keys × 50 × 50 = 100k survives t3's 100-row filter
    // to 100·50 = 5000 rows; sanity that the fixture is what we claim
    assert(r.length === 5000)
  }

  test("chain: sketch greedy order equals exact-stats greedy on uniform and skewed corpora") {
    // referee: the SAME greedy loop run on EXACT pair sizes and counts
    def exactGreedy(tables: Seq[org.apache.spark.sql.DataFrame],
        keys: Seq[String]): Seq[Int] = {
      val n = tables.map(_.count().toDouble)
      val sel = keys.zipWithIndex.map { case (k, i) =>
        val e = tables(i).groupBy(col(k)).count().withColumnRenamed("count", "na")
          .join(tables(i + 1).groupBy(col(k)).count()
            .withColumnRenamed("count", "nb"), k)
          .agg(coalesce(sum(col("na") * col("nb")), lit(0L)))
          .collect()(0).getLong(0).toDouble
        e / math.max(1.0, n(i) * n(i + 1))
      }
      var segs = tables.indices.map(i => (i, i, n(i))).toVector
      val order = Vector.newBuilder[Int]
      while (segs.size > 1) {
        val cands = (0 until segs.size - 1).map { j =>
          val (l, r) = (segs(j), segs(j + 1))
          (l._3 * r._3 * sel(l._2), l._2, j)
        }
        val (cost, edge, j) = cands.minBy(c => (c._1, c._2))
        order += edge
        val (l, r) = (segs(j), segs(j + 1))
        segs = segs.patch(j, Vector((l._1, r._2, cost)), 2)
      }
      order.result()
    }
    // uniform: all tables same size, selectivities differ DECISIVELY
    // (exact sizes 3000 / 15000 / 6000 — gaps far beyond the sketch's
    // ~n_a·n_b/w ≈ 550-row noise floor, so the orders must agree; a tie
    // would be legitimately noise-ranked and prove nothing)
    val u0 = spark.range(3000).select(col("id").as("k0"), lit(1L).as("v0"))
    val u1 = spark.range(3000).select(col("id").as("k0"),
      pmod(col("id"), lit(600)).as("k1"), lit(2L).as("v1"))
    val u2 = spark.range(3000).select(pmod(col("id"), lit(600)).as("k1"),
      pmod(col("id"), lit(50)).as("k2"), lit(3L).as("v2"))
    val u3 = spark.range(3000).select(pmod(col("id"), lit(1500)).as("k2"),
      lit(4L).as("v3"))
    val uniform = (Seq(u0, u1, u2, u3), Seq("k0", "k1", "k2"))
    // skewed: SAME row counts everywhere — static stats cannot rank the
    // edges — but e1 carries one hot key on both sides
    val s0 = spark.range(3000).select(col("id").as("k0"), lit(1L).as("v0"))
    val s1 = spark.range(3000).select(col("id").as("k0"),
      when(col("id") < 1500, lit(7L)).otherwise(col("id")).as("k1"),
      lit(2L).as("v1"))
    val s2 = spark.range(3000).select(
      when(col("id") < 1500, lit(7L)).otherwise(col("id") + 100000L).as("k1"),
      col("id").as("k2"), lit(3L).as("v2"))
    val s3 = spark.range(3000).select(col("id").as("k2"), lit(4L).as("v3"))
    val skewed = (Seq(s0, s1, s2, s3), Seq("k0", "k1", "k2"))
    for ((tables, keys) <- Seq(uniform, skewed)) {
      val got = SketchPlanner.decideChain(tables, keys).map(_.edge)
      val want = exactGreedy(tables, keys)
      assert(got === want, s"sketch greedy $got vs exact greedy $want")
    }
  }

  test("q217 rank arithmetic: the cross-multiplied CASE equals a first-principles greedy on random scalars") {
    // the gated rank3Sql collapses every greedy comparison of the
    // 3-edge chain into integer inequalities over (a0,a1,a2,n1,n2) —
    // pin that algebra against a direct rational-cost greedy referee
    // on randomized scalars (including exact ties, which must break to
    // the lower edge index on both paths)
    def referee(a0: Long, a1: Long, a2: Long, n1: Long, n2: Long): Map[String, Int] = {
      // costs as exact rationals via BigInt cross-multiplication; the
      // common denominator for step-2 costs is n1·n2
      def cost2(first: Int): Seq[(BigInt, Int)] = first match {
        // (numerator over n1·n2, edge): cost(e)·n1·n2
        case 0 => Seq((BigInt(a0) * a1 * n2, 1), (BigInt(a2) * n1 * n2, 2))
        case 1 => Seq((BigInt(a0) * a1 * n2, 0), (BigInt(a1) * a2 * n1, 2))
        case _ => Seq((BigInt(a0) * n1 * n2, 0), (BigInt(a1) * a2 * n1, 1))
      }
      val first = Seq(a0, a1, a2).zipWithIndex.minBy { case (v, i) => (v, i) }._2
      val second = cost2(first).minBy { case (c, e) => (c, e) }._2
      val third = (Set(0, 1, 2) - first - second).head
      Map("e0" -> 0, "e1" -> 1, "e2" -> 2).map { case (nm, e) =>
        nm -> (if (e == first) 1 else if (e == second) 2 else 3)
      }
    }
    val rnd = new scala.util.Random(20260815L)
    val cases = Seq.fill(40)((
      1L + rnd.nextInt(100000), 1L + rnd.nextInt(100000), 1L + rnd.nextInt(100000),
      1L + rnd.nextInt(5000), 1L + rnd.nextInt(5000))) ++
      // zero-size edges: rnd sizes 0..2 hit empty joins constantly —
      // the a1 = 0 guard in the after-e1 branches (costs tie at zero →
      // lower edge second) only differs from the cancelled inequality
      // here, so these cases pin it (round-13 ADVICE)
      Seq.fill(30)((
        rnd.nextInt(3).toLong, rnd.nextInt(3).toLong, rnd.nextInt(3).toLong,
        1L + rnd.nextInt(5), 1L + rnd.nextInt(5))) ++ Seq(
      (7L, 7L, 7L, 3L, 3L),            // three-way tie → 1,2,3 by index
      (100L, 100L, 5L, 10L, 10L),      // tie at rank 2 after e2
      (50L, 1L, 50L, 1L, 1L),          // middle edge first
      (5L, 0L, 9L, 2L, 1L),            // a1=0, a0·n2 > a2·n1: guard decides
      (0L, 0L, 0L, 3L, 4L))            // all-empty chain → 1,2,3 by index
    cases.foreach { case (a0, a1, a2, n1, n2) =>
      val sqlRanks = spark.sql(
        s"""SELECT edge,
           |  ${SketchPlanner.rank3Sql("a0", "a1", "a2", "n1", "n2",
                 "edge", "e0", "e1", "e2")} AS r
           |FROM VALUES ('e0'), ('e1'), ('e2') AS t(edge)
           |CROSS JOIN (SELECT CAST($a0 AS BIGINT) a0, CAST($a1 AS BIGINT) a1,
           |  CAST($a2 AS BIGINT) a2, CAST($n1 AS BIGINT) n1,
           |  CAST($n2 AS BIGINT) n2)""".stripMargin)
        .collect().map(r => r.getString(0) -> r.getLong(1).toInt).toMap
      assert(sqlRanks === referee(a0, a1, a2, n1, n2),
        s"case ($a0,$a1,$a2,$n1,$n2)")
    }
  }

  test("sketch catalog: a warm second decideChain runs ZERO jobs and returns the same steps") {
    // max job ID, not .length: the status tracker RETAINS a bounded
    // number of jobs (spark.ui.retainedJobs), so in a long suite run
    // the count can DECREASE as old jobs evict mid-test; IDs are
    // monotonic, so the max is eviction-proof
    def jobCount = spark.sparkContext.statusTracker
      .getJobIdsForGroup(null).foldLeft(-1)(math.max)
    SketchPlanner.SketchCatalog.clear()
    val (tables, keys) = chainFixture
    val before = jobCount
    val cold = SketchPlanner.decideChain(tables, keys)
    val afterCold = jobCount
    assert(afterCold > before, "cold decision must scan")
    val warm = SketchPlanner.decideChain(tables, keys)
    assert(jobCount === afterCold,
      "warm decision over the same frames must add ZERO table scans")
    assert(warm === cold)
    // independently-constructed but canonically-equal frames also hit
    val (tables2, keys2) = chainFixture
    val warm2 = SketchPlanner.decideChain(tables2, keys2)
    assert(jobCount === afterCold, "canonically-equal frames must hit the catalog")
    assert(warm2 === cold)
  }

  test("sketch catalog: decideThreeWay warms too, and shares edge keys with decideChain") {
    // max job ID, not .length: the status tracker RETAINS a bounded
    // number of jobs (spark.ui.retainedJobs), so in a long suite run
    // the count can DECREASE as old jobs evict mid-test; IDs are
    // monotonic, so the max is eviction-proof
    def jobCount = spark.sparkContext.statusTracker
      .getJobIdsForGroup(null).foldLeft(-1)(math.max)
    SketchPlanner.SketchCatalog.clear()
    val a = spark.range(3000).select(col("id").as("k1"), lit(1L).as("av"))
    val b = spark.range(3000).select(col("id").as("k1"),
      pmod(col("id"), lit(300)).as("k2"), lit(2L).as("bv"))
    val c = spark.range(300).select(col("id").as("k2"), col("id").as("cv"))
    val cold = SketchPlanner.decideThreeWay(a, b, c, "k1", "k2")
    val afterCold = jobCount
    assert(SketchPlanner.decideThreeWay(a, b, c, "k1", "k2") === cold)
    assert(jobCount === afterCold, "warm three-way must add zero scans")
    // a chain decision over the same tables reuses BOTH edge estimates —
    // only the three table counts are new scans (one unioned collect)
    val before = jobCount
    SketchPlanner.decideChain(Seq(a, b, c), Seq("k1", "k2"))
    assert(jobCount > before) // the counts ran...
    val afterChain = jobCount
    SketchPlanner.decideChain(Seq(a, b, c), Seq("k1", "k2"))
    assert(jobCount === afterChain, "...and the second chain call is fully warm")
  }

  test("sketch catalog: SketchCatalog.clear() re-prices the next call") {
    // max job ID, not .length: the status tracker RETAINS a bounded
    // number of jobs (spark.ui.retainedJobs), so in a long suite run
    // the count can DECREASE as old jobs evict mid-test; IDs are
    // monotonic, so the max is eviction-proof
    def jobCount = spark.sparkContext.statusTracker
      .getJobIdsForGroup(null).foldLeft(-1)(math.max)
    val (tables, keys) = chainFixture
    val steps = SketchPlanner.decideChain(tables, keys) // warm the catalog
    val c0 = jobCount
    SketchPlanner.decideChain(tables, keys)
    assert(jobCount === c0, "a warm catalog prices with zero jobs")
    SketchPlanner.SketchCatalog.clear()
    assert(SketchPlanner.SketchCatalog.size(spark) === 0)
    assert(SketchPlanner.decideChain(tables, keys) === steps)
    assert(jobCount > c0, "after clear() the next call must re-scan")
  }

  test("chain decision prices the ACTUAL filtered frame, not any catalog: a filter flips the order") {
    // the planner's no-catalog selling point (q211): a mid-pipeline
    // filter changes a frame's distribution and the decision must
    // follow. Unfiltered, e0 explodes (one hot k0 on both sides) and
    // merges last; filtering t0 to the non-hot rows deflates e0 to a
    // cheap 1:1 join that merges FIRST. Static table stats see the
    // same row counts either way... and the catalog would not even
    // have stats for the filtered frame.
    val t0 = spark.range(4000).select(
      when(col("id") < 2000, lit(13L)).otherwise(col("id")).as("k0"),
      col("id").as("v0"))
    val t1 = spark.range(4000).select(
      when(col("id") < 2000, lit(13L)).otherwise(col("id") + 50000L).as("k0"),
      pmod(col("id"), lit(400)).as("k1"), col("id").as("v1"))
    val t2 = spark.range(4000).select(pmod(col("id"), lit(400)).as("k1"),
      col("id").as("v2"))
    val keys = Seq("k0", "k1")
    val hot = SketchPlanner.decideChain(Seq(t0, t1, t2), keys).map(_.edge)
    assert(hot === Seq(1, 0), s"unfiltered: e0's 2000x2000 hot key must merge last, got $hot")
    val cooled = SketchPlanner.decideChain(
      Seq(t0.filter(col("k0") =!= 13L), t1, t2), keys).map(_.edge)
    assert(cooled === Seq(0, 1),
      s"filtered: e0 deflates to ~0 matches and must merge first, got $cooled")
  }

  test("persisted sketch manifest: a COLD session prices chain and star with ZERO jobs, decisions identical to scan-derived") {
    // three parquet tables: a fact and two dims of very different
    // selectivity, so the decisions are non-trivial
    val base = tempDir("graft-sketchman").toString
    spark.range(20000).select(col("id").as("fk1"),
      pmod(col("id"), lit(50)).as("fk2"))
      .write.parquet(s"$base/fact")
    spark.range(5000).select(col("id").as("fk1"), lit(1L).as("d1v"))
      .write.parquet(s"$base/dim1")
    spark.range(50).select(col("id").as("fk2"), lit(2L).as("d2v"))
      .write.parquet(s"$base/dim2")
    def frames(s: org.apache.spark.sql.SparkSession) = (
      s.read.parquet(s"$base/fact"),
      s.read.parquet(s"$base/dim1"),
      s.read.parquet(s"$base/dim2"))

    // scan-derived reference decisions (no manifests exist yet)
    SketchPlanner.SketchCatalog.clear()
    val (f0, d10, d20) = frames(spark)
    val chainScan = SketchPlanner.decideChain(Seq(d10, f0, d20), Seq("fk1", "fk2"))
    val starScan = SketchPlanner.decideStar(f0, Seq(d10, d20),
      Seq((col("fk1"), col("fk1")), (col("fk2"), col("fk2"))))

    // persist the manifests (write-time jobs — before the baseline)
    for ((dir, k) <- Seq(("fact", Seq("fk1", "fk2")),
        ("dim1", Seq("fk1")), ("dim2", Seq("fk2"))))
      SketchPlanner.SketchManifest.write(spark, s"$base/$dir", k)

    // a cold session: fresh SketchCatalog (keyed per session object),
    // same SparkContext so the monotonic max job id counts its jobs
    val s2 = spark.newSession()
    val (f2, d12, d22) = frames(s2)
    def jobCount = spark.sparkContext.statusTracker
      .getJobIdsForGroup(null).foldLeft(-1)(math.max)
    val before = jobCount
    val chainMan = SketchPlanner.decideChain(Seq(d12, f2, d22), Seq("fk1", "fk2"))
    val starMan = SketchPlanner.decideStar(f2, Seq(d12, d22),
      Seq((col("fk1"), col("fk1")), (col("fk2"), col("fk2"))))
    assert(jobCount === before,
      "cold-session pricing over manifest-bearing tables must run ZERO jobs")
    assert(chainMan === chainScan, "manifest chain decision diverged from scan")
    assert(starMan === starScan, "manifest star decision diverged from scan")

    // a FILTERED side no longer matches the bare-scan shape: the
    // manifest must NOT answer for a subquery it does not describe
    val filteredDecide = SketchPlanner.decideChain(
      Seq(d12.filter(col("fk1") < 100), f2, d22), Seq("fk1", "fk2"))
    assert(jobCount > before, "a filtered side must re-price by scanning")
    assert(filteredDecide.nonEmpty)
  }

  test("persisted sketch append: slice-merge equals a from-scratch rebuild (CMS linearity)") {
    val base = tempDir("graft-sketchappend").toString
    spark.range(10000).select(col("id").as("k"),
      pmod(col("id"), lit(97)).as("j"))
      .write.parquet(s"$base/t")
    SketchPlanner.SketchManifest.write(spark, s"$base/t", Seq("k", "j"))
    // grow the table by an append commit, sketch ONLY the slice
    val extra = spark.range(10000, 13000).select(col("id").as("k"),
      pmod(col("id"), lit(97)).as("j"))
    extra.write.mode("append").parquet(s"$base/t")
    SketchPlanner.SketchManifest.append(spark, s"$base/t", extra, Seq("k", "j"))
    val mergedCount = SketchPlanner.SketchManifest.readCount(spark, s"$base/t")
    val mergedK = SketchPlanner.SketchManifest.readCms(spark, s"$base/t", "k").get
    val mergedJ = SketchPlanner.SketchManifest.readCms(spark, s"$base/t", "j").get
    // rebuild in place from the grown table — CMS linearity says the
    // cell-wise sums must be BIT-identical
    SketchPlanner.SketchManifest.write(spark, s"$base/t", Seq("k", "j"))
    assert(SketchPlanner.SketchManifest.readCount(spark, s"$base/t") === mergedCount)
    assert(mergedCount === Some(13000L))
    assert(SketchPlanner.SketchManifest.readCms(spark, s"$base/t", "k").get.toSeq
      === mergedK.toSeq)
    assert(SketchPlanner.SketchManifest.readCms(spark, s"$base/t", "j").get.toSeq
      === mergedJ.toSeq)
    // a manifest-less target refuses the append loudly
    spark.range(10).select(col("id").as("k")).write.parquet(s"$base/bare")
    intercept[IllegalArgumentException] {
      SketchPlanner.SketchManifest.append(spark, s"$base/bare",
        spark.range(5).select(col("id").as("k")), Seq("k"))
    }
  }

  test("PARTITIONED lake tables price cold with zero jobs too; the recursive stamp detects a partition rewrite (r17)") {
    val base = tempDir("graft-sketchpart").toString
    // a partitioned fact (the Delta/Iceberg layering) + a flat dim
    spark.range(12000).select(pmod(col("id"), lit(4)).cast("string").as("tenant"),
      pmod(col("id"), lit(500)).as("k"), col("id").as("v"))
      .write.partitionBy("tenant").parquet(s"$base/fact")
    spark.range(500).select(col("id").as("k"), lit(1L).as("w"))
      .write.parquet(s"$base/dim")
    for (d <- Seq("fact", "dim"))
      SketchPlanner.SketchManifest.write(spark, s"$base/$d", Seq("k"))
    def jobCount = spark.sparkContext.statusTracker
      .getJobIdsForGroup(null).foldLeft(-1)(math.max)
    // scan-derived reference decision (fresh session, manifests deleted)
    val conf = spark.sessionState.newHadoopConf()
    val fs = new org.apache.hadoop.fs.Path(base).getFileSystem(conf)
    def frames(s: org.apache.spark.sql.SparkSession) =
      (s.read.parquet(s"$base/fact"), s.read.parquet(s"$base/dim"))
    // cold manifest-priced decision: ZERO jobs even through partition dirs
    val s2 = spark.newSession()
    val (f2, d2) = frames(s2)
    val b2 = jobCount
    val manifestDecision = SketchPlanner.decideChain(Seq(f2, d2), Seq("k"))
    assert(jobCount === b2,
      "partitioned cold pricing must stay on the zero-job manifest path")
    // ...and it equals the scan-derived decision
    val stash = new org.apache.hadoop.fs.Path(base, "stash")
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new org.apache.hadoop.fs.Path(s"$base/fact/_sketch"), fs, stash, false, conf)
    fs.delete(new org.apache.hadoop.fs.Path(s"$base/fact/_sketch"), true)
    fs.delete(new org.apache.hadoop.fs.Path(s"$base/dim/_sketch"), true)
    val s3 = spark.newSession()
    val (f3, d3) = frames(s3)
    assert(SketchPlanner.decideChain(Seq(f3, d3), Seq("k")) === manifestDecision,
      "partitioned manifest decision diverged from scan-derived")
    // the RECURSIVE stamp: restore the manifest, then rewrite ONE
    // partition's data out-of-band — the nested file-set changed, so
    // the stamp must invalidate and readers refuse the stale stats
    org.apache.hadoop.fs.FileUtil.copy(fs, stash, fs,
      new org.apache.hadoop.fs.Path(s"$base/fact/_sketch"), false, true, conf)
    assert(SketchPlanner.SketchManifest.readCount(spark, s"$base/fact")
      === Some(12000L), "restored stamp must validate before the rewrite")
    spark.range(5).select(lit(13L).as("k"), col("id").as("v"))
      .write.mode("overwrite").parquet(s"$base/fact/tenant=2")
    assert(SketchPlanner.SketchManifest.readCount(spark, s"$base/fact") === None,
      "a rewritten partition must invalidate the whole-table stamp")
  }

  test("stale-stamp guard: an out-of-band rewrite invalidates persisted sketches; decisions reprice from scan (r16 task 6)") {
    val base = tempDir("graft-sketchstale").toString
    val conf = spark.sessionState.newHadoopConf()
    val fs = new org.apache.hadoop.fs.Path(base).getFileSystem(conf)
    def jobCount = spark.sparkContext.statusTracker
      .getJobIdsForGroup(null).foldLeft(-1)(math.max)
    spark.range(8000).select(pmod(col("id"), lit(400)).as("k"),
      col("id").as("v")).write.parquet(s"$base/t")
    spark.range(400).select(col("id").as("k"), lit(1L).as("w"))
      .write.parquet(s"$base/u")
    for ((d, ks) <- Seq(("t", Seq("k")), ("u", Seq("k"))))
      SketchPlanner.SketchManifest.write(spark, s"$base/$d", ks)
    // the stamp's match path adds ZERO jobs (driver listStatus only)
    val before = jobCount
    assert(SketchPlanner.SketchManifest.readCount(spark, s"$base/t")
      === Some(8000L))
    assert(SketchPlanner.SketchManifest.readCms(spark, s"$base/t", "k").isDefined)
    assert(jobCount === before, "stamp validation must run zero jobs")
    // out-of-band OVERWRITE that preserves _sketch/: stash the manifest,
    // rewrite the data with a different distribution, restore the stash
    val stash = new org.apache.hadoop.fs.Path(base, "stash")
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new org.apache.hadoop.fs.Path(s"$base/t/_sketch"), fs, stash, false, conf)
    spark.range(50).select(lit(13L).as("k"), col("id").as("v"))
      .write.mode("overwrite").parquet(s"$base/t")
    org.apache.hadoop.fs.FileUtil.copy(fs, stash, fs,
      new org.apache.hadoop.fs.Path(s"$base/t/_sketch"), false, true, conf)
    // the readers must refuse the stale stats outright...
    assert(SketchPlanner.SketchManifest.readCount(spark, s"$base/t") === None,
      "a mismatched file-set stamp must invalidate count.json")
    assert(SketchPlanner.SketchManifest.readCms(spark, s"$base/t", "k") === None)
    // ...so a cold session PRICES BY SCANNING (jobs run), and the
    // decision equals one taken with no manifest at all
    val s2 = spark.newSession()
    def frames(s: org.apache.spark.sql.SparkSession) =
      (s.read.parquet(s"$base/t"), s.read.parquet(s"$base/u"))
    val (t2, u2) = frames(s2)
    val b2 = jobCount
    val staleDecision = SketchPlanner.decideChain(Seq(t2, u2), Seq("k"))
    assert(jobCount > b2, "a stale manifest must force real pricing jobs")
    fs.delete(new org.apache.hadoop.fs.Path(s"$base/t/_sketch"), true)
    fs.delete(new org.apache.hadoop.fs.Path(s"$base/u/_sketch"), true)
    val s3 = spark.newSession()
    val (t3, u3) = frames(s3)
    val freshDecision = SketchPlanner.decideChain(Seq(t3, u3), Seq("k"))
    assert(staleDecision === freshDecision,
      "stale-manifest decision must equal the scan-derived one")
  }

  test("write() clears stale cms sidecars: a narrower re-sketch serves no old-column counters (r16 advice)") {
    val base = tempDir("graft-sketchnarrow").toString
    spark.range(5000).select(col("id").as("k"), pmod(col("id"), lit(7)).as("j"))
      .write.parquet(s"$base/t")
    SketchPlanner.SketchManifest.write(spark, s"$base/t", Seq("k", "j"))
    assert(SketchPlanner.SketchManifest.readCms(spark, s"$base/t", "j").isDefined)
    // re-sketch only k: j's counters must be GONE, not served stale
    SketchPlanner.SketchManifest.write(spark, s"$base/t", Seq("k"))
    assert(SketchPlanner.SketchManifest.readCms(spark, s"$base/t", "j") === None,
      "an omitted column's old counters must not survive a rewrite")
    assert(SketchPlanner.SketchManifest.readCms(spark, s"$base/t", "k").isDefined)
  }

  test("persisted sketch manifest: a fresh default session prices a chain from it with zero jobs") {
    val base = tempDir("graft-sketchoptout").toString
    spark.range(6000).select(pmod(col("id"), lit(300)).as("k"),
      col("id").as("v")).write.parquet(s"$base/t")
    spark.range(300).select(col("id").as("k"), lit(1L).as("w"))
      .write.parquet(s"$base/u")
    for (d <- Seq("t", "u"))
      SketchPlanner.SketchManifest.write(spark, s"$base/$d", Seq("k"))
    def jobCount = spark.sparkContext.statusTracker
      .getJobIdsForGroup(null).foldLeft(-1)(math.max)
    // frames built BEFORE the baseline — parquet schema inference may
    // run a listing job of its own, which is not the decider's cost
    val s0 = spark.newSession()
    val t0 = s0.read.parquet(s"$base/t")
    val u0 = s0.read.parquet(s"$base/u")
    val b0 = jobCount
    SketchPlanner.decideChain(Seq(t0, u0), Seq("k"))
    assert(jobCount === b0, "a default session must keep the zero-job cold path")
  }

  test("persisted sketch stats SURVIVE optimizeCompact: row-preserving rewrite restamps, serving identical counters") {
    val base = tempDir("graft-sketchcompact").toString
    val dir = s"$base/t"
    // fragmented history with a sketched join key riding along
    val rows = spark.range(8000).select(col("id"),
      pmod(col("id"), lit(250)).as("k"), (col("id") % 1000).cast("double").as("price"))
    Storage.zonemapClusteredWrite(rows.filter(col("id") % 2 === 0),
      "price", 4, dir)
    Storage.zonemapAppend(rows.filter(col("id") % 2 === 1), "price", 4, dir)
    SketchPlanner.SketchManifest.write(spark, dir, Seq("k"))
    val preCount = SketchPlanner.SketchManifest.readCount(spark, dir)
    val preCms = SketchPlanner.SketchManifest.readCms(spark, dir, "k").get
    assert(preCount === Some(8000L))

    Storage.optimizeCompact(spark, dir, "price", 4)

    // the stamp-CHECKED readers still serve — the restamp matched the
    // new file-set — and the counters are bit-identical: compaction
    // moved every row into new files but changed none of them
    assert(SketchPlanner.SketchManifest.readCount(spark, dir) === preCount,
      "restamped manifest must keep serving the count after compaction")
    assert(SketchPlanner.SketchManifest.readCms(spark, dir, "k").get.toSeq
      === preCms.toSeq,
      "CMS counters are layout-independent and must survive unchanged")
    // referee: the served counters equal a from-scratch rebuild over
    // the compacted table
    SketchPlanner.SketchManifest.write(spark, dir, Seq("k"))
    assert(SketchPlanner.SketchManifest.readCms(spark, dir, "k").get.toSeq
      === preCms.toSeq)
  }
}
