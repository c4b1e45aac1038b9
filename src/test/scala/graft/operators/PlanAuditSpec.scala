package graft.operators

import graft.SparkSpec

/** Plan-shape assertions: the properties that make these queries viable
  * at 100 TB (pushdown, pruning, map-side partial aggregation, no
  * cartesian products) must be visible in the physical plan, not
  * assumed. */
class PlanAuditSpec extends SparkSpec {
  private val d = sf("sf0.001")

  private def planOf(df: org.apache.spark.sql.DataFrame): String = {
    // materialize so AQE finalizes join strategies
    df.queryExecution.toRdd.count()
    df.queryExecution.executedPlan.toString
  }

  test("q02: filters are pushed to the parquet scan and columns pruned") {
    val plan = planOf(Relational.q02FilterPushdown(spark, d))
    assert(plan.contains("PushedFilters: ["), plan.take(1500))
    assert(plan.contains("p_size"), "p_size filter not pushed")
    // scan must read only the needed columns, not all of part
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("p_name"), readSchema)
    assert(!readSchema.contains("p_container"), readSchema)
  }

  test("q01: aggregation is partial (map-side combine) before the shuffle") {
    val plan = planOf(Relational.q01PricingSummary(spark, d))
    assert(plan.contains("partial_sum") || plan.contains("partial_"), plan.take(1500))
  }

  test("q18 wordcount: partial aggregation before the shuffle (unlike the reference)") {
    val plan = planOf(TextOps.q18Wordcount(spark, d))
    assert(plan.contains("partial_count") || plan.contains("partial_"), plan.take(1500))
  }

  test("q05: bounded dims broadcast; no cartesian or nested-loop join anywhere") {
    val plan = planOf(Relational.q05LocalSupplier(spark, d))
    assert(plan.contains("BroadcastHashJoin"), plan.take(1500))
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(1500))
  }

  test("q17: single scan of lineitem — window formulation, no self-join of the fact table") {
    val plan = planOf(Relational.q17AvgSubquery(spark, d))
    // AQE treeString prints Final AND Initial plan sections — count scans
    // in the final plan only
    val finalPlan = plan.split("== Initial Plan ==").head
    val scans = finalPlan.linesIterator
      .count(l => l.contains("Scan parquet") && l.contains("lineitem"))
    assert(scans === 1, s"lineitem scanned $scans times\n${finalPlan.take(1500)}")
  }

  test("q23 knn: vector math is codegen'd — no interpreted lambda in the final plan") {
    val plan = planOf(Similarity.q23KnnExact(spark, d))
    // higher-order functions (aggregate/zip_with/transform) evaluate
    // their lambdas interpreted, per element per row — the per-candidate
    // dot product must run through the native vec_dot expression instead
    assert(!plan.toLowerCase.contains("lambdafunction"), plan.take(2000))
    assert(plan.contains("vec_dot"), plan.take(2000))
  }

  test("dedup/text/curation hot paths carry no interpreted lambdas") {
    // per-token work runs as explode + plain aggregates or row-level
    // regex, never higher-order array lambdas (interpreted per element)
    Seq[(String, org.apache.spark.sql.DataFrame)](
      "q20" -> Dedup.q20ExactDedup(spark, d),
      "q21" -> Dedup.q21MinhashNeardup(spark, d),
      "q22" -> Dedup.q22NgramJaccard(spark, d),
      "q24" -> TextAnalysis.q24TokenStats(spark, d),
      "q25" -> TextAnalysis.q25BigramCounts(spark, d),
      "q26" -> TextAnalysis.q26TfidfTop(spark, d),
      "q27" -> TextAnalysis.q27LangId(spark, d),
      "q28" -> TextAnalysis.q28Fingerprint(spark, d),
      "q31" -> Dedup.q31Simhash(spark, d),
      "q51" -> Curation.q51SequencePack(spark, d),
      "q56" -> TextAnalysis.q56Repetition(spark, d)
    ).foreach { case (name, df) =>
      val plan = planOf(df)
      assert(!plan.toLowerCase.contains("lambdafunction"),
        s"$name plan contains an interpreted lambda\n${plan.take(1500)}")
    }
  }

  test("q40 at scale config: gram rows cached — documents not re-tokenized per consumer") {
    // spark.graft.dedup.cache is the large-corpus deployment flag (off by
    // default — BASELINE.md has the measured crossover); under it the
    // pipeline's reused gram/signature subtrees must show as explicit
    // InMemoryRelations instead of re-scanning documents per consumer.
    spark.conf.set("spark.graft.dedup.cache", "true")
    try {
      val plan = planOf(TextAnalysis.q40CorpusPipeline(spark, d))
      assert(plan.contains("InMemoryTableScan"), plan.take(2000))
    } finally {
      spark.conf.unset("spark.graft.dedup.cache")
      spark.catalog.clearCache()
    }
  }

  test("q48 deep join tree: dims broadcast, facts shuffle, no cartesian") {
    val plan = planOf(Relational.q48MarketShare(spark, d))
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("q49: global max is a broadcast scalar, not a single-partition window") {
    // an empty-partitionBy window would ship EVERY per-supplier row into
    // one partition (supplier cardinality scales with the data); the
    // scale-safe shape is a 1-row aggregate broadcast back over rev.
    // The scalar agg's own SinglePartition exchange carries one partial
    // row per map partition — bounded by cluster size, not data size.
    val plan = planOf(Relational.q49TopSupplier(spark, d))
    val finalPlan = plan.split("== Initial Plan ==").head
    assert(!finalPlan.contains("Window"), finalPlan.take(2000))
    assert(finalPlan.contains("BroadcastNestedLoopJoin") ||
      finalPlan.contains("BroadcastExchange"), finalPlan.take(2000))
    // the shared per-supplier rev subtree must be computed once: AQE
    // ReuseExchange dedups the max side against the probe side
    assert(finalPlan.contains("ReusedExchange"), finalPlan.take(3000))
  }

  test("q53: no exact-distinct Expand over unbounded key columns") {
    // exact countDistinct on o_custkey/o_totalprice would shuffle every
    // distinct value; the profile keeps exact distincts only for the
    // bounded columns and routes key columns to the HLL path (SketchSpec
    // gates the estimate's accuracy).
    val plan = planOf(Relational.profile(spark, d, hll = true))
    val finalPlan = plan.split("== Initial Plan ==").head
    assert(!finalPlan.contains("distinct o_custkey"), finalPlan.take(2000))
    assert(!finalPlan.contains("distinct o_totalprice"), finalPlan.take(2000))
  }

  test("q83 rolling RANGE window: ONE customer exchange serves both aggregates") {
    val plan = planOf(Relational.q83RollingWindow(spark, d))
      .split("== Initial Plan ==").head
    val ex = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(ex === 1, s"expected 1 hash exchange:\n${plan.take(2500)}")
    assert(!plan.contains("CartesianProduct") && !plan.contains("SortMergeJoin"),
      "rolling windows must never become a self-join")
  }

  test("q84 grouped sketch: partial percentile buffers merge — no per-group value sort") {
    val plan = planOf(Relational.q84GroupedPercentiles(spark, d))
    assert(plan.contains("partial_percentile_approx"),
      s"sketch must partial-aggregate map-side:\n${plan.take(2000)}")
    // exact percentile would buffer and sort each group's column
    assert(!plan.contains("partial_percentile(") && !plan.contains("Window"),
      plan.take(2000))
  }

  test("q88 quantizer: per-row project only — no shuffle, no join") {
    val plan = planOf(Similarity.q88ScalarQuantize(spark, d))
    assert(!plan.contains("Exchange") && !plan.contains("Join"),
      s"SQ8 must stay embarrassingly parallel:\n${plan.take(2000)}")
  }

  test("q57: correlated EXISTS decorrelates to a hash semi join") {
    // the equi predicate becomes the join key; the correlated non-equi
    // date predicate rides the join condition — never a nested loop
    val plan = planOf(Relational.q57PriorityCheck(spark, d))
    val finalPlan = plan.split("== Initial Plan ==").head
    assert(finalPlan.contains("LeftSemi"), finalPlan.take(2000))
    assert(!finalPlan.contains("BroadcastNestedLoopJoin"), finalPlan.take(2000))
    assert(!finalPlan.contains("CartesianProduct"), finalPlan.take(2000))
  }

  test("q60: lag+lead share one window (one shuffle); custkey filter pushed to scan") {
    // both offsets use the identical window spec, so the optimizer must
    // plan a single Window over a single hash exchange on o_custkey —
    // two Window nodes would mean a second sort (and with differing
    // specs, a second shuffle) for free-riding semantics.
    val plan = planOf(Relational.q60OrderGaps(spark, d))
    val finalPlan = plan.split("== Initial Plan ==").head
    val windows = finalPlan.linesIterator.count(_.contains("Window ["))
    assert(windows === 1, s"$windows Window nodes\n${finalPlan.take(2000)}")
    // the o_custkey predicate is on the partition key → evaluated at the
    // scan, not after the shuffle
    assert(finalPlan.contains("PushedFilters: [IsNotNull(o_custkey), LessThan(o_custkey"),
      finalPlan.take(2000))
  }

  test("q63: sketch builds with map-side partial merge; rank verify broadcasts") {
    val plan = planOf(Relational.q63ApproxPercentileBound(spark, d))
    // the GK sketch is a TypedImperativeAggregate — partial sketches must
    // merge map-side (ObjectHashAggregate partial_percentile_approx), so
    // the shuffle moves one sketch per partition, never raw values
    assert(plan.contains("partial_percentile_approx"), plan.take(2000))
    // the 4-row (quantile, value) side broadcasts back over the column —
    // no shuffle of the lineitem scan for the verification pass
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      plan.take(2000))
    assert(!plan.contains("SortAggregate"), plan.take(2000))
  }

  test("runtime bloom filter: a selective dim filter prunes the fact scan side") {
    // Spark's InjectRuntimeFilter builds a bloom filter from the join's
    // selective (filtered) side at runtime and applies might_contain on
    // the fact side BEFORE the shuffle — at 100 TB this is the lever
    // that keeps a selective dim join from shuffling the whole fact
    // table. Thresholds are sized for production (10 MB creation side /
    // 10 GB application side), so at spec SF we lower them to prove the
    // MECHANISM; the session defaults leave them at production values.
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      import org.apache.spark.sql.functions._
      val q = Tables.lineitem(spark, d)
        .join(Tables.orders(spark, d)
            .filter(col("o_orderpriority") === "1-URGENT"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("l_quantity")).as("qty"))
      val plan = planOf(q).split("== Initial Plan ==").head
      assert(plan.contains("might_contain"),
        s"no runtime bloom filter injected\n${plan.take(2500)}")
      assert(plan.contains("bloom_filter_agg") || plan.contains("ObjectHashAggregate"),
        plan.take(2500))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("q91 cdc: changelog collapses with a partial aggregate before its shuffle") {
    val plan = planOf(Analytics.q91CdcApply(spark, d))
    // the latest-wins max(struct(...)) must be an ordinary two-phase
    // aggregate: at 100 TB the shuffle moves one row per changed key,
    // not one per change record
    assert(plan.contains("partial_max") || plan.contains("partial_"),
      plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("q92 winsorize: no per-lang window sort — every window partitions on pid") {
    val plan = planOf(Curation.q92Winsorize(spark, d))
    val finalPlan = plan.split("== Initial Plan ==").head
    // lang is low-cardinality: a Window.partitionBy(lang) sort would
    // funnel each language's corpus into one task. The two-pass
    // groupedRank keeps every window keyed by the physical partition id
    // (bounded rows per task regardless of group cardinality)
    // (on the clamp path the rank column is dropped, so Catalyst prunes
    // the window away entirely — zero windows is the best case)
    val winLines = finalPlan.linesIterator
      .filter(_.trim.startsWith("Window")).toVector
    assert(winLines.forall(_.contains("pid")),
      s"window not pid-keyed:\n${winLines.mkString("\n")}")
    // boundary picks and clamping come back via broadcast, not reshuffles
    assert(finalPlan.contains("BroadcastHashJoin"), finalPlan.take(2500))
    assert(!finalPlan.contains("CartesianProduct"), finalPlan.take(2500))
  }

  test("q96 correlation: five exact moments merge map-side, one shuffle") {
    val plan = planOf(Relational.q96CorrMoments(spark, d))
    val finalPlan = plan.split("== Initial Plan ==").head
    assert(finalPlan.contains("partial_"), finalPlan.take(2000))
    val exchanges = finalPlan.linesIterator
      .count(l => l.contains("Exchange hashpartitioning"))
    assert(exchanges === 1,
      s"expected 1 exchange, got $exchanges\n${finalPlan.take(2500)}")
  }

  test("q99 rolling actives: the day grid broadcasts — never a shuffled theta join") {
    val plan = planOf(Analytics.q99RollingActives(spark, d))
    val finalPlan = plan.split("== Initial Plan ==").head
    // the interval predicate is non-equi: the only sane shape is the
    // BOUNDED grid broadcast against the user-day table
    assert(finalPlan.contains("BroadcastNestedLoopJoin"), finalPlan.take(2000))
    assert(!finalPlan.contains("CartesianProduct"), finalPlan.take(2000))
  }

  test("q95 kmeans: assignment is an aggregate, not a window over the corpus") {
    val plan = planOf(Similarity.q95KmeansAssign(spark, d))
    val finalPlan = plan.split("== Initial Plan ==").head
    assert(!finalPlan.contains("Window"), finalPlan.take(2000))
    assert(finalPlan.contains("BroadcastExchange"),
      "centroids should broadcast\n" + finalPlan.take(2000))
  }

  test("q104 transitions: matrix-sized second window, partial agg, no extra event shuffle") {
    val plan = planOf(Analytics.q104EventTransitions(spark, d))
    val finalPlan = plan.split("== Initial Plan ==").head
    // events shuffle once on user_id for the lead window, the groupBy
    // partially aggregates map-side, and the from_total window runs on
    // the matrix — three hash exchanges in total, none more
    val exchanges = finalPlan.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 3, s"$exchanges exchanges\n" + finalPlan.take(2500))
    assert(finalPlan.contains("partial_count") || finalPlan.contains("partial_"),
      finalPlan.take(2500))
  }

  test("q106 cosine pairs: candidates only from the term join — no cartesian; partial products combine map-side") {
    val plan = planOf(Vocab.q106TfCosinePairs(spark, d))
    val finalPlan = plan.split("== Initial Plan ==").head
    assert(!finalPlan.contains("CartesianProduct") &&
      !finalPlan.contains("BroadcastNestedLoopJoin"), finalPlan.take(2500))
    assert(finalPlan.contains("partial_sum"), finalPlan.take(2500))
  }

  test("q107 interval merge: both window functions share ONE sort and exchange") {
    val plan = planOf(Analytics.q107IntervalMerge(spark, d))
    val finalPlan = plan.split("== Initial Plan ==").head
    // running-max and island-sum must land in a single Window operator
    // chain over one hashpartitioning(k) exchange — a second sort of the
    // span list would double the dominant cost at scale
    val windowSorts = finalPlan.linesIterator.count(l =>
      l.contains("Sort [") && l.contains("k#"))
    assert(windowSorts <= 1, s"$windowSorts span sorts\n" + finalPlan.take(2500))
  }

  test("q108 robust stats: two order-statistics sorts, medians broadcast back") {
    val plan = planOf(Relational.q108RobustStats(spark, d))
    val finalPlan = plan.split("== Initial Plan ==").head
    assert(finalPlan.contains("BroadcastHashJoin"), finalPlan.take(2500))
    assert(!finalPlan.contains("CartesianProduct") &&
      !finalPlan.contains("BroadcastNestedLoopJoin"), finalPlan.take(2500))
  }

  test("q112 semantic dedup: pair candidates only from the cluster join — no cartesian") {
    val plan = planOf(Similarity.q112SemanticDedup(spark, d))
    val finalPlan = plan.split("== Initial Plan ==").head
    assert(!finalPlan.contains("CartesianProduct") &&
      !finalPlan.contains("BroadcastNestedLoopJoin"), finalPlan.take(2500))
  }

  test("q119 OHLC: partial aggregation, no window, exactly one bar-key exchange") {
    val plan = planOf(Analytics.q119OhlcBars(spark, d))
    val finalPlan = plan.split("== Initial Plan ==").head
    // struct-keyed min_by/max_by plans as SortAggregate (struct buffers
    // aren't hash-mutable) — the MEASURED winner over a hash-aggregable
    // packed-decimal key (0.37 vs 0.53 s, BASELINE.md §Round-9 OHLC).
    // What must hold: map-side combine before the single bar-key
    // shuffle, and no Window (a window formulation would shuffle
    // per-bar ORDERED rows).
    assert(!finalPlan.contains("Window"), finalPlan.take(2000))
    assert(finalPlan.contains("partial_min_by"), finalPlan.take(2000))
    val exchanges = finalPlan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges === 1, s"$exchanges exchanges\n${finalPlan.take(2500)}")
  }

  test("q122 growth curve: events are never windowed — only the days-sized frame is") {
    val plan = planOf(Analytics.q122CumulativeUsers(spark, d))
    val finalPlan = plan.split("== Initial Plan ==").head
    // the running sum's single-partition window must sit ABOVE the per-day
    // aggregate (days-sized input), with both event-sized stages partial-agg
    val winIdx = finalPlan.indexOf("Window")
    assert(winIdx >= 0, finalPlan.take(2000))
    assert(finalPlan.contains("partial_"), finalPlan.take(2000))
    // no window keyed on user_id/event rows: exactly one Window operator
    assert(finalPlan.indexOf("Window", winIdx + 1) < 0, finalPlan.take(2500))
  }

  test("q120 PMI: no cartesian beyond the two 1-row total broadcasts; counts combine map-side") {
    val plan = planOf(TextAnalysis.q120PmiBigrams(spark, d))
    val finalPlan = plan.split("== Initial Plan ==").head
    assert(!finalPlan.contains("CartesianProduct"), finalPlan.take(2500))
    // the 1-row nu/np frames ride BroadcastNestedLoopJoin by construction;
    // anything joining the word-keyed tables that way would be a scale bug
    val bnlj = finalPlan.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj <= 2, s"$bnlj nested-loop joins\n${finalPlan.take(2500)}")
    assert(finalPlan.contains("partial_"), finalPlan.take(2000))
  }

  test("q125 basket: pair fan-out keys on the order — no cartesian, support combines map-side") {
    val plan = planOf(Relational.q125BrandBasket(spark, d))
    val finalPlan = plan.split("== Initial Plan ==").head
    assert(!finalPlan.contains("CartesianProduct"), finalPlan.take(2500))
    // only the 1-row order total may ride a nested-loop broadcast
    val bnlj = finalPlan.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj <= 1, s"$bnlj nested-loop joins\n${finalPlan.take(2500)}")
    assert(finalPlan.contains("partial_"), finalPlan.take(2000))
  }

  test("q126 centroid sim: corpus scanned once — the pairwise work runs on the centroid frame") {
    val plan = planOf(Similarity.q126CentroidSim(spark, d))
    val finalPlan = plan.split("== Initial Plan ==").head
    val scans = finalPlan.linesIterator
      .count(l => l.contains("Scan parquet") && l.contains("embeddings"))
    assert(scans === 1, s"embeddings scanned $scans times\n${finalPlan.take(2000)}")
    assert(!finalPlan.contains("CartesianProduct"), finalPlan.take(2500))
  }

  test("q128 zipf: WindowGroupLimit bounds the rank input — never a full vocab sort") {
    // the rank VALUE feeds the regression (x = ln rank), so the Window
    // must materialize it and the GroupTopK rewrite rightly declines;
    // what must hold is Spark's partial+final WindowGroupLimit keeping
    // <=k rows per lang on BOTH sides of the exchange, so the sort input
    // is k-bounded per group, not vocab-sized
    val plan = planOf(TextAnalysis.q128ZipfSlope(spark, d))
    val finalPlan = plan.split("== Initial Plan ==").head
    assert(finalPlan.contains("WindowGroupLimit"), finalPlan.take(2500))
    assert(finalPlan.contains("Partial") || finalPlan.contains("Final"),
      finalPlan.take(2500))
  }

  test("q134 exact-substr: no per-shingle window buffering — agg+join shape, bounded scans, no cartesian") {
    val plan = planOf(Dedup.q134ExactSubstr(spark, d))
    val finalPlan = plan.split("== Initial Plan ==").head
    // r16: the duplicate-shingle set comes from a streamed groupBy
    // min/max + left-semi join, not an unordered Window over `sh`
    // (boilerplate shingles = corpus-sized one-task groups). The
    // explode feeds BOTH join sides, deliberately recomputed (2x
    // map-side work beats corpus-scale checkpoint storage), so the
    // corpus is scanned at most twice — never more, never cartesian.
    val scans = finalPlan.linesIterator
      .count(l => l.contains("Scan parquet") && l.contains("documents"))
    assert(scans <= 2, s"documents scanned $scans times\n${finalPlan.take(2000)}")
    // the remaining windows are doc_id-grain (island merge), never sh
    val shWindows = finalPlan.linesIterator
      .filter(_.trim.startsWith("Window")).count(_.contains("sh#"))
    assert(shWindows === 0, s"per-shingle window survived\n${finalPlan.take(2500)}")
    assert(!finalPlan.contains("CartesianProduct"), finalPlan.take(2500))
    assert(!finalPlan.contains("BroadcastNestedLoopJoin"), finalPlan.take(2500))
  }

  test("q135 link predict: shuffle-hash pair join, top-100 is TakeOrdered, no cartesian") {
    val plan = planOf(Graph.q135LinkPredict(spark, d))
    val finalPlan = plan.split("== Initial Plan ==").head
    assert(finalPlan.contains("ShuffledHashJoin"), finalPlan.take(2500))
    assert(finalPlan.contains("TakeOrderedAndProject"), finalPlan.take(2500))
    assert(!finalPlan.contains("CartesianProduct"), finalPlan.take(2500))
  }

  test("q137 skyline: only the ≤parts-row offsets frame is ever single-partition") {
    val plan = planOf(Relational.q137Skyline(spark, d))
    val finalPlan = plan.split("== Initial Plan ==").head
    val singles = finalPlan.linesIterator
      .count(_.contains("Exchange SinglePartition"))
    assert(singles <= 1, s"$singles SinglePartition exchanges\n${finalPlan.take(2500)}")
    assert(finalPlan.contains("BroadcastHashJoin"), finalPlan.take(2500))
    assert(!finalPlan.contains("CartesianProduct"), finalPlan.take(2500))
  }

  test("q139 ADC: distance tables broadcast to the code scan; the M-term sum combines map-side") {
    val plan = planOf(Similarity.q139AdcSearch(spark, d))
    val finalPlan = plan.split("== Initial Plan ==").head
    assert(finalPlan.contains("BroadcastHashJoin"), finalPlan.take(2500))
    assert(finalPlan.contains("partial_sum"), finalPlan.take(2500))
    assert(!finalPlan.contains("CartesianProduct"), finalPlan.take(2500))
  }

  test("q140 HLL / q142 HDR: sketch shuffles are partial-agg'd onto bounded groups, single scan") {
    for ((df, tbl) <- Seq(
        (Analytics.q140HllRegisters(spark, d), "events"),
        (Relational.q142HdrHistogram(spark, d), "lineitem"))) {
      val plan = planOf(df)
      val finalPlan = plan.split("== Initial Plan ==").head
      assert(finalPlan.contains("partial_max") || finalPlan.contains("partial_count"),
        finalPlan.take(2000))
      val scans = finalPlan.linesIterator
        .count(l => l.contains("Scan parquet") && l.contains(tbl))
      assert(scans === 1, s"$tbl scanned $scans times\n${finalPlan.take(2000)}")
    }
  }

  test("q141 quantile transform: per-dim conversion is a broadcast join; one SinglePartition (offsets)") {
    val plan = planOf(Similarity.q141QuantileTransform(spark, d))
    val finalPlan = plan.split("== Initial Plan ==").head
    assert(finalPlan.contains("BroadcastHashJoin"), finalPlan.take(2500))
    val singles = finalPlan.linesIterator
      .count(_.contains("Exchange SinglePartition"))
    assert(singles <= 1, s"$singles SinglePartition exchanges\n${finalPlan.take(2500)}")
  }

  test("q145 CMS / q150 bitmap: sketch shuffles partial-agg'd onto bounded groups, single scan") {
    for ((df, partial) <- Seq(
        (Analytics.q145CmsSketch(spark, d), "partial_count"),
        (Analytics.q150BitmapRollup(spark, d), "partial_bit_or"))) {
      val plan = planOf(df)
      val finalPlan = plan.split("== Initial Plan ==").head
      assert(finalPlan.contains(partial), finalPlan.take(2000))
      val scans = finalPlan.linesIterator
        .count(l => l.contains("Scan parquet") && l.contains("events"))
      assert(scans === 1, s"events scanned $scans times\n${finalPlan.take(2000)}")
    }
  }

  test("q149 trigrams / q151 kadane: all per-user windows share ONE exchange; top-k is TakeOrdered") {
    val p149 = planOf(Analytics.q149PathTrigrams(spark, d))
      .split("== Initial Plan ==").head
    // lag + running sum + two leads must not multiply shuffles: exactly
    // one hashpartitioning exchange on user_id
    val ex149 = p149.linesIterator
      .count(l => l.contains("Exchange hashpartitioning") && l.contains("user_id"))
    assert(ex149 === 1, s"$ex149 user_id exchanges\n${p149.take(2500)}")
    assert(p149.contains("TakeOrderedAndProject"), p149.take(2500))
    val p151 = planOf(Analytics.q151KadaneBurst(spark, d))
      .split("== Initial Plan ==").head
    val ex151 = p151.linesIterator
      .count(l => l.contains("Exchange hashpartitioning") && l.contains("user_id"))
    assert(ex151 === 1, s"$ex151 user_id exchanges\n${p151.take(2500)}")
  }

  test("q146 OLS: partial agg to nation-month before any window; dims broadcast") {
    val plan = planOf(Analytics.q146OlsTrend(spark, d))
    val finalPlan = plan.split("== Initial Plan ==").head
    assert(finalPlan.contains("partial_sum"), finalPlan.take(2500))
    assert(finalPlan.contains("BroadcastHashJoin"), finalPlan.take(2500))
    assert(!finalPlan.contains("CartesianProduct"), finalPlan.take(2500))
  }

  test("q147 waiting supplier: lineitem scanned once (agg form, not EXISTS self-joins)") {
    val plan = planOf(Relational.q147WaitingSupplier(spark, d))
    val finalPlan = plan.split("== Initial Plan ==").head
    val scans = finalPlan.linesIterator
      .count(l => l.contains("Scan parquet") && l.contains("lineitem"))
    assert(scans === 1, s"lineitem scanned $scans times\n${finalPlan.take(2500)}")
    assert(finalPlan.contains("TakeOrderedAndProject"), finalPlan.take(2500))
  }

  test("q148 weighted sample: TakeOrdered top-k — no global sort, no shuffle of the corpus") {
    val plan = planOf(Curation.q148WeightedSample(spark, d))
    val finalPlan = plan.split("== Initial Plan ==").head
    assert(finalPlan.contains("TakeOrderedAndProject"), finalPlan.take(2000))
    assert(!finalPlan.contains("Exchange hashpartitioning"), finalPlan.take(2000))
  }

  test("q144 compaction plan: planning window runs on the file-grain frame, one scan") {
    val plan = planOf(Storage.q144CompactionPlan(spark, d))
    val finalPlan = plan.split("== Initial Plan ==").head
    assert(finalPlan.contains("partial_sum"), finalPlan.take(2000))
    val scans = finalPlan.linesIterator
      .count(l => l.contains("Scan parquet") && l.contains("documents"))
    assert(scans === 1, s"documents scanned $scans times\n${finalPlan.take(2000)}")
  }

  test("q153 gini / q154 wmedian / q155 digest: bounded single-partition work, partial aggs") {
    val p153 = planOf(Relational.q153Gini(spark, d))
      .split("== Initial Plan ==").head
    // only the globalRank offsets frame (≤parts rows) may single-partition
    val singles = p153.linesIterator.count(_.contains("Exchange SinglePartition"))
    assert(singles <= 2, s"$singles SinglePartition exchanges\n${p153.take(2500)}")
    val p154 = planOf(Relational.q154WeightedMedian(spark, d))
      .split("== Initial Plan ==").head
    assert(p154.contains("partial_sum"), p154.take(2000))
    assert(!p154.contains("Exchange SinglePartition"), p154.take(2500))
    val p155 = planOf(Storage.q155TableDigest(spark, d))
      .split("== Initial Plan ==").head
    assert(p155.contains("partial_bit_xor") || p155.contains("partial_count"),
      p155.take(2000))
    assert(!p155.contains("CartesianProduct"), p155.take(2000))
  }

  test("q156 HITS / q158 simhash join: hash joins only, partial aggs, no cartesian") {
    val p156 = planOf(Graph.q156Hits(spark, d))
      .split("== Initial Plan ==").head
    assert(p156.contains("partial_sum"), p156.take(2000))
    assert(p156.contains("TakeOrderedAndProject"), p156.take(2000))
    assert(!p156.contains("CartesianProduct"), p156.take(2000))
    val p158 = planOf(Dedup.q158SimhashJoin(spark, d))
      .split("== Initial Plan ==").head
    assert(p158.contains("ShuffledHashJoin"), p158.take(2500))
    assert(!p158.contains("CartesianProduct"), p158.take(2500))
    assert(!p158.toLowerCase.contains("lambdafunction"), p158.take(2500))
  }

  test("q157/q159/q160: rank-based order stats keep single-partition work bounded") {
    // every SinglePartition here is a bounded frame by construction:
    // globalRank offsets (≤parts rows), the 1-row n/total aggregates,
    // and q160's 10-row decile window — never table-sized data
    for ((name, df, maxSingles) <- Seq(
        ("q157", Relational.q157ExactQuantiles(spark, d), 3),
        ("q160", Relational.q160LorenzDeciles(spark, d), 4))) {
      val plan = planOf(df).split("== Initial Plan ==").head
      val singles = plan.linesIterator.count(_.contains("Exchange SinglePartition"))
      assert(singles <= maxSingles,
        s"$name: $singles SinglePartition exchanges\n${plan.take(2500)}")
    }
    val p159 = planOf(Relational.q159SalesOpportunity(spark, d))
      .split("== Initial Plan ==").head
    assert(p159.contains("LeftAnti"), p159.take(2500))
    assert(!p159.contains("CartesianProduct"), p159.take(2500))
  }

  test("q161 benford / q162 runs: single scan, partial agg onto bounded groups") {
    for ((name, df, tbl) <- Seq(
        ("q161", Relational.q161Benford(spark, d), "orders"),
        ("q162", Analytics.q162RunsTest(spark, d), "events"))) {
      val plan = planOf(df).split("== Initial Plan ==").head
      assert(plan.contains("partial_count") || plan.contains("partial_sum"),
        s"$name\n${plan.take(2000)}")
      val scans = plan.linesIterator
        .count(l => l.contains("Scan parquet") && l.contains(tbl))
      assert(scans === 1, s"$name: $tbl scanned $scans times\n${plan.take(2000)}")
    }
  }

  test("q168 SQL entry / q169 pareto / q170 latency: same engine guarantees via SQL, bounded singles") {
    val p168 = planOf(Relational.q168SqlEntry(spark, d))
      .split("== Initial Plan ==").head
    assert(p168.contains("BroadcastHashJoin"), p168.take(2000))
    assert(p168.contains("partial_count") || p168.contains("partial_sum"),
      p168.take(2000))
    val p169 = planOf(Relational.q169ParetoPoint(spark, d))
      .split("== Initial Plan ==").head
    // globalRank offsets + prefix-scan offsets + the 1-row folds — all
    // bounded frames by construction
    val singles = p169.linesIterator.count(_.contains("Exchange SinglePartition"))
    assert(singles <= 4, s"$singles SinglePartition exchanges\n${p169.take(2500)}")
    val p170 = planOf(Relational.q170FillLatency(spark, d))
      .split("== Initial Plan ==").head
    val scans = p170.linesIterator
      .count(l => l.contains("Scan parquet") && l.contains("lineitem"))
    assert(scans === 1, s"lineitem scanned $scans times\n${p170.take(2000)}")
  }

  test("q173 keyness: token scan once, a bounded heap prunes the per-source rank") {
    val plan = planOf(Vocab.q173Keyness(spark, d))
      .split("== Initial Plan ==").head
    // with the session extensions installed (production config) the
    // row_number-filter plans as GroupTopK; the property is the same
    // either way: rank input bounded before the exchange
    assert(plan.contains("GroupTopK") || plan.contains("WindowGroupLimit"),
      plan.take(2500))
    assert(!plan.contains("CartesianProduct"), plan.take(2500))
    // 0 visible scans = the tokenize ran ONCE into the checkpointed
    // (source, word) grain all three aggregates read; >1 means a
    // consumer re-tokenized the corpus
    val scans = plan.linesIterator
      .count(l => l.contains("Scan parquet") && l.contains("documents"))
    assert(scans <= 1, s"documents scanned $scans times\n${plan.take(2000)}")
  }

  test("q167 rapid-fire: purchase filter reaches the scan; one user_id window exchange") {
    val plan = planOf(Analytics.q167RapidFire(spark, d))
      .split("== Initial Plan ==").head
    // velocity screens scan the WHOLE event stream at 100 TB — the
    // event_type predicate must prune at the parquet reader, not after
    assert(plan.contains("PushedFilters") && plan.contains("purchase"),
      plan.take(2500))
    assert(!plan.contains("CartesianProduct"), plan.take(2500))
    // all three lags + the gap stack over ONE hashpartitioning(user_id)
    val exchanges = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 1, s"$exchanges hash exchanges\n${plan.take(2500)}")
  }

  test("q172 frame manifest: bounded typed fan-out, partial-agg manifest, payloads stay columnar") {
    val plan = planOf(Multimodal.q172FrameManifest(spark, d))
      .split("== Initial Plan ==").head
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      plan.take(2500))
    assert(!plan.contains("CartesianProduct"), plan.take(2500))
    val scans = plan.linesIterator
      .count(l => l.contains("Scan parquet") && l.contains("documents"))
    assert(scans === 1, s"documents scanned $scans times\n${plan.take(2000)}")
  }

  test("q174 negative sampling: bounded pool broadcasts; WindowGroupLimit caps both ranks") {
    val plan = planOf(Curation.q174NegativeSample(spark, d))
      .split("== Initial Plan ==").head
    // the source<>source condition is non-equi, so the JOIN ALGORITHM
    // must be nested-loop against the BROADCAST bounded pool (≤
    // 4·|sources| rows) — a shuffled NLJ or cartesian here would be
    // anchors × corpus
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(2500))
    assert(!plan.contains("CartesianProduct"), plan.take(2500))
    // rank<=k filters over row_number must plan as bounded-heap
    // WindowGroupLimit (partial+final), never a full per-key sort+filter
    assert(plan.contains("WindowGroupLimit"), plan.take(2500))
  }

  test("q175 c4 rules: token census partial-aggregates; no lambdas, no cartesian") {
    val plan = planOf(Curation.q175C4Rules(spark, d))
      .split("== Initial Plan ==").head
    assert(plan.contains("partial_"), plan.take(2500))
    assert(!plan.toLowerCase.contains("lambdafunction"), plan.take(2500))
    assert(!plan.contains("CartesianProduct"), plan.take(2500))
    // rule flags are row-level integer comparisons inside whole-stage
    // codegen spans (the executedPlan treeString's "*(n)" markers)
    assert(plan.contains("*("), plan.take(2500))
  }

  test("q176 domain cap: only over-cap sources are ranked, via the partial top-cap prune") {
    val plan = planOf(Curation.q176DomainCap(spark, d))
      .split("== Initial Plan ==").head
    assert(!plan.contains("Exchange SinglePartition"), plan.take(2500))
    // the rank input is the FILTERED subset: docs broadcast-semi-join the
    // over-cap source list before any window touches them
    assert(plan.contains("BroadcastHashJoin"), plan.take(2500))
    // the filtered rank prunes map-side — each partition keeps at most
    // cap rows per source BEFORE the exchange, so a mega-domain never
    // funnels unbounded rows into one sort: GroupTopKPartial under the
    // production extensions, partial WindowGroupLimit without them
    assert(plan.contains("GroupTopKPartial") ||
      (plan.contains("WindowGroupLimit") && plan.contains("Partial")),
      plan.take(2500))
    // small sources bypass the window entirely through the Union's
    // pre-aggregated branch
    assert(plan.contains("Union"), plan.take(2500))
    // one documents parquet scan feeds the ranked branch (the per-source
    // rollup was localCheckpointed at build time)
    val scans = plan.linesIterator
      .count(l => l.contains("Scan parquet") && l.contains("documents"))
    assert(scans === 1, s"documents scanned $scans times\n${plan.take(2500)}")
  }

  test("q177 dsir: affinity broadcast is the BOUNDED bucket table; rank runs the two-pass scan (offsets frame is the only single partition)") {
    val plan = planOf(Curation.q177DsirWeights(spark, d))
      .split("== Initial Plan ==").head
    // the broadcast build side keys on the hashed bucket (≤4096 rows at
    // ANY corpus size), not the unbounded raw token vocabulary
    assert("BroadcastHashJoin \\[bk".r.findFirstIn(plan).isDefined,
      plan.take(2500))
    // globalRank's per-partition offsets (≤32 rows) and the nd scalar are
    // the only global frames
    val singles = plan.linesIterator
      .count(_.contains("Exchange SinglePartition"))
    assert(singles <= 2, s"$singles SinglePartition exchanges\n${plan.take(2500)}")
    assert(!plan.contains("CartesianProduct"), plan.take(2500))
  }

  test("q178 mann-whitney: distinct-value prefix scan — offsets frame is the only single partition") {
    val plan = planOf(Analytics.q178MannWhitney(spark, d))
      .split("== Initial Plan ==").head
    // per-value counts combine map-side before the range repartition
    assert(plan.contains("partial_"), plan.take(2500))
    // the ≤parts-row offsets window and the final scalar agg are global
    // by construction; the data-sized window is partitioned by pid
    val singles = plan.linesIterator
      .count(_.contains("Exchange SinglePartition"))
    assert(singles <= 2, s"$singles SinglePartition exchanges\n${plan.take(2500)}")
  }

  test("q179 bootstrap: the 32x fan-out collapses map-side — shuffle carries replicate partials only") {
    val plan = planOf(Analytics.q179BootstrapCi(spark, d))
      .split("== Initial Plan ==").head
    assert(plan.contains("partial_"), plan.take(2500))
    assert(!plan.toLowerCase.contains("lambdafunction"), plan.take(2500))
    // value filter reaches the events scan
    assert(plan.contains("PushedFilters: ["), plan.take(2500))
  }

  test("q180 mips: seed set is TakeOrdered; thresholds broadcast; dot products codegen'd") {
    val plan = planOf(Similarity.q180Mips(spark, d))
      .split("== Initial Plan ==").head
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2500))
    // threshold table (10 rows) must broadcast into the survivor join —
    // non-equi condition, so BroadcastNestedLoopJoin against 10 rows is
    // the right algorithm; a shuffled NLJ or cartesian would be fatal
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(2500))
    assert(!plan.contains("CartesianProduct"), plan.take(2500))
    assert(plan.contains("vec_dot"), plan.take(2500))
    assert(!plan.toLowerCase.contains("lambdafunction"), plan.take(2500))
  }

  test("q186 sessionize: one user-keyed exchange, partial session merge, no window function") {
    val plan = planOf(Analytics.q186Sessionize(spark, d))
      .split("== Initial Plan ==").head
    // the native session aggregation: partial merge map-side, no
    // row_number/lag window machinery, no single partition
    assert(plan.contains("partial_"), plan.take(2000))
    assert(!plan.contains("Exchange SinglePartition"), plan.take(2000))
    assert(plan.contains("session_window") ||
      plan.contains("SessionWindow"), plan.take(2000))
  }

  test("q187 attribution: user-keyed equi join carries the range predicates — no theta join") {
    val plan = planOf(Analytics.q187Attribution(spark, d))
      .split("== Initial Plan ==").head
    // the equi key must drive the join; a pure theta join here would be
    // a BroadcastNestedLoopJoin/cartesian over the event stream
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")
      || plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    // the type filters reach both scans
    assert(plan.contains("PushedFilters: ["), plan.take(2000))
    // the outer form keeps the same equi-join shape (LeftOuter, never
    // a nested-loop over the event stream)
    val outer = planOf(Analytics.q188AttributionOuter(spark, d))
      .split("== Initial Plan ==").head
    assert(outer.contains("LeftOuter"), outer.take(2000))
    assert(!outer.contains("CartesianProduct") &&
      !outer.contains("BroadcastNestedLoopJoin"), outer.take(2000))
  }

  test("q182-q185 SQL surface: SQL text reaches the DSL siblings' scale shapes") {
    // q182: dedup census partial-aggregates map-side like q20
    val p182 = planOf(SqlSurface.q182SqlDedupCensus(spark, d))
      .split("== Initial Plan ==").head
    assert(p182.contains("partial_"), p182.take(2000))
    assert(!p182.contains("CartesianProduct"), p182.take(2000))
    // q183: word census partial-aggregates; the doc join is an equi join
    val p183 = planOf(SqlSurface.q183SqlTokenStats(spark, d))
      .split("== Initial Plan ==").head
    assert(p183.contains("partial_"), p183.take(2000))
    assert(!p183.contains("CartesianProduct"), p183.take(2000))
    // q184: one (user, type) window exchange, no single partition
    val p184 = planOf(SqlSurface.q184SqlEventGaps(spark, d))
      .split("== Initial Plan ==").head
    assert(!p184.contains("Exchange SinglePartition"), p184.take(2000))
    // q185: the custom vec_dot expression from SQL text, 10-row query
    // side broadcast into the non-equi join, rank-limited window —
    // byte-for-byte the q23 plan contract
    val p185 = planOf(SqlSurface.q185SqlKnn(spark, d))
      .split("== Initial Plan ==").head
    assert(p185.contains("vec_dot"), p185.take(2000))
    assert(p185.contains("BroadcastNestedLoopJoin"), p185.take(2000))
    assert(p185.contains("WindowGroupLimit"), p185.take(2000))
    assert(!p185.contains("CartesianProduct"), p185.take(2000))
    assert(!p185.toLowerCase.contains("lambdafunction"), p185.take(2000))
  }

  test("q181 temperature mix: one source-sized aggregate plus a broadcast scalar join") {
    val plan = planOf(Curation.q181TemperatureMix(spark, d))
      .split("== Initial Plan ==").head
    assert(plan.contains("partial_"), plan.take(2500))
    assert(!plan.contains("CartesianProduct") ||
      plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"), plan.take(2500))
  }

  test("q189/q191 retrieval eval + RRF: rank-limited windows, lambda-free, no cartesian") {
    // q189 rides q23's plan: broadcast query side, one corpus scan,
    // rank<=10 as a bounded-heap WindowGroupLimit; everything after is
    // (queries x k)-sized aggs + label-count joins
    val p189 = planOf(Similarity.q189RetrievalEval(spark, d))
      .split("== Initial Plan ==").head
    assert(p189.contains("WindowGroupLimit"), p189.take(2500))
    assert(!p189.toLowerCase.contains("lambdafunction"), p189.take(2500))
    assert(!p189.contains("CartesianProduct"), p189.take(2500))
    assert(p189.contains("partial_"), p189.take(2500))
    // q191: the union trick must hold — ONE corpus scan (plus the
    // broadcast query-side scan) feeds BOTH rankers through a single
    // rank-limited (qid, measure) window; a regression to per-branch
    // recomputation shows up as 4+ embeddings scans
    val p191 = planOf(Similarity.q191RrfFusion(spark, d))
      .split("== Initial Plan ==").head
    val embScans = p191.linesIterator
      .count(l => l.contains("Scan parquet") && l.contains("embeddings"))
    assert(embScans <= 2, s"embeddings scanned $embScans times\n${p191.take(2500)}")
    assert(p191.contains("WindowGroupLimit"), p191.take(2500))
    assert(!p191.toLowerCase.contains("lambdafunction"), p191.take(2500))
    assert(!p191.contains("CartesianProduct"), p191.take(2500))
  }

  test("q190 cusum: daily rollup partial-aggregates; windows keyed per type, never single-partition") {
    val plan = planOf(Analytics.q190CusumChangepoint(spark, d))
      .split("== Initial Plan ==").head
    assert(plan.contains("partial_"), plan.take(2500))
    assert(!plan.contains("Exchange SinglePartition"), plan.take(2500))
    assert(!plan.contains("CartesianProduct"), plan.take(2500))
  }

  test("q192 bucket dedup: pure two-level partial aggregation — no window, no sort, no join") {
    val plan = planOf(Dedup.q192BucketDedup(spark, d))
      .split("== Initial Plan ==").head
    assert(plan.contains("partial_"), plan.take(2500))
    assert(!plan.contains("Window"), plan.take(2500))
    assert(!plan.contains("Join"), plan.take(2500))
    assert(!plan.contains("Exchange SinglePartition"), plan.take(2500))
  }

  test("q193 label prop: census over the checkpointed final labels — partial agg, no cartesian") {
    val plan = planOf(Graph.q193LabelProp(spark, d))
      .split("== Initial Plan ==").head
    assert(plan.contains("partial_"), plan.take(2500))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(2500))
  }

  test("q194 rate limit: one keyed admission window, never single-partition; census partial-aggregates") {
    val plan = planOf(Analytics.q194RateLimit(spark, d))
      .split("== Initial Plan ==").head
    assert(plan.contains("partial_"), plan.take(2500))
    assert(!plan.contains("Exchange SinglePartition"), plan.take(2500))
    assert(!plan.contains("CartesianProduct"), plan.take(2500))
    // admission tags every row (rn over user/type/bucket) — exactly one
    // events scan feeds it
    val scans = plan.linesIterator
      .count(l => l.contains("Scan parquet") && l.contains("events"))
    assert(scans === 1, s"events scanned $scans times\n${plan.take(2500)}")
  }

  test("q195 hll setops: registers partial-aggregate map-side; only scalar frames broadcast") {
    val plan = planOf(Analytics.q195HllSetops(spark, d))
      .split("== Initial Plan ==").head
    // the register fold is the q140 shape: partial max onto <=256
    // groups before any shuffle
    assert(plan.contains("partial_max") || plan.contains("partial_"),
      plan.take(2500))
    assert(!plan.contains("CartesianProduct"), plan.take(2500))
    // the only nested-loop join allowed is the 1-row scalar assembly
    // (broadcast crossJoin idiom)
    val bnlj = plan.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj <= 2, s"$bnlj nested-loop joins\n${plan.take(2500)}")
  }

  test("q196 textrank: top-20 is a bounded TakeOrdered, never a global sort; no cartesian") {
    val plan = planOf(TextAnalysis.q196Textrank(spark, d))
      .split("== Initial Plan ==").head
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2500))
    // the iteration stages sit behind localCheckpoint boundaries; the
    // visible tail must be the bounded top-k over an equi join only
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(2500))
  }

  test("q197 k-anonymity: QI groups partial-aggregate; rollup sized by distinct k") {
    val plan = planOf(Curation.q197KAnonymity(spark, d))
      .split("== Initial Plan ==").head
    assert(plan.contains("partial_"), plan.take(2500))
    assert(!plan.contains("Exchange SinglePartition"), plan.take(2500))
    assert(!plan.contains("CartesianProduct"), plan.take(2500))
    // the scan must prune to the three QI/sensitive columns
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("c_name"), readSchema)
  }

  test("q198 source minhash: seeded hashes partial-agg min map-side; signature join is equi") {
    val plan = planOf(Dedup.q198SourceMinhash(spark, d))
      .split("== Initial Plan ==").head
    assert(plan.contains("partial_min") || plan.contains("partial_"),
      plan.take(2500))
    assert(!plan.contains("CartesianProduct"), plan.take(2500))
    assert(!plan.toLowerCase.contains("lambdafunction"), plan.take(2500))
  }

  test("q199 roc calibration: only the bands-sized frame is ever windowed unpartitioned") {
    val plan = planOf(Vocab.q199RocCalibration(spark, d))
      .split("== Initial Plan ==").head
    assert(plan.contains("partial_"), plan.take(2500))
    assert(!plan.contains("CartesianProduct"), plan.take(2500))
    // the single-partition exchange must feed a Window over the band
    // rollup (tens of rows), never a doc-sized frame: the window's
    // input aggregates on `band` first
    assert(plan.contains("Window"), plan.take(2500))
  }

  test("q200 neardup decontam: candidates only from shared LSH buckets — no all-pairs product") {
    val plan = planOf(Dedup.q200NeardupDecontam(spark, d))
      .split("== Initial Plan ==").head
    assert(!plan.contains("CartesianProduct"), plan.take(2500))
    assert(plan.contains("partial_"), plan.take(2500))
    // the split-flag joins and the leak join are equi joins
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2500))
  }

  test("q201/q202 SQL surface: the new-family SQL text reaches the DSL siblings' shapes") {
    // q201: per-type windows, never single-partition; daily rollup
    // partial-aggregates — the q190 contract from SQL text
    val p201 = planOf(SqlSurface.q201SqlCusum(spark, d))
      .split("== Initial Plan ==").head
    assert(p201.contains("partial_"), p201.take(2500))
    assert(!p201.contains("Exchange SinglePartition"), p201.take(2500))
    // q202: one keyed admission window + census agg — the q194 contract
    val p202 = planOf(SqlSurface.q202SqlRateLimit(spark, d))
      .split("== Initial Plan ==").head
    assert(p202.contains("partial_"), p202.take(2500))
    assert(!p202.contains("Exchange SinglePartition"), p202.take(2500))
    assert(!p202.contains("CartesianProduct"), p202.take(2500))
  }

  test("q203 bpe train: winner rows broadcast into the rewrite — no driver collect, no cartesian blowup") {
    val plan = planOf(Vocab.q203BpeTrain(spark, d))
      .split("== Initial Plan ==").head
    // rounds sit behind checkpoints; the visible tail must union the
    // three 1-row winner frames — nothing corpus-sized
    assert(!plan.contains("CartesianProduct"), plan.take(2500))
    assert(plan.contains("Union"), plan.take(2500))
  }

  test("q204 join cardinality: both sides fold to sketch size map-side; estimator joins sketch frames") {
    val plan = planOf(Analytics.q204JoinCardinality(spark, d))
      .split("== Initial Plan ==").head
    assert(plan.contains("partial_"), plan.take(2500))
    assert(!plan.contains("CartesianProduct"), plan.take(2500))
    // the only nested-loop join allowed is the 1-row referee assembly
    val bnlj = plan.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj <= 1, s"$bnlj nested-loop joins\n${plan.take(2500)}")
  }

  test("q205 join planner: sketch-sized frames only; nested loops confined to 1-row assembly") {
    val plan = planOf(SketchPlanner.q205JoinPlanner(spark, d))
      .split("== Initial Plan ==").head
    assert(plan.contains("partial_"), plan.take(2500)) // map-side sketch fold
    assert(!plan.contains("CartesianProduct"), plan.take(2500))
  }

  test("q206 SQL asof: the union-window merge costs one keyed window, no single partition") {
    val plan = planOf(SqlSurface.q206SqlAsof(spark, d))
      .split("== Initial Plan ==").head
    assert(plan.contains("Window"), plan.take(2500))
    assert(!plan.contains("Exchange SinglePartition"), plan.take(2500))
    assert(!plan.contains("CartesianProduct"), plan.take(2500))
  }

  test("q207 SQL bfs: unrolled rounds stay hash-join shaped, never cartesian") {
    val plan = planOf(SqlSurface.q207SqlBfs(spark, d))
      .split("== Initial Plan ==").head
    assert(!plan.contains("CartesianProduct"), plan.take(2500))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2500))
    assert(plan.contains("partial_"), plan.take(2500)) // min-merge partial agg
  }

  test("q208 SQL sessionize: session_window plans the same merging aggregation as the DSL") {
    val plan = planOf(SqlSurface.q208SqlSessionize(spark, d))
      .split("== Initial Plan ==").head
    assert(plan.toLowerCase.contains("session"), plan.take(2500))
    assert(!plan.contains("Exchange SinglePartition"), plan.take(2500))
  }

  test("chain reorder: rule-applied plan is identical to the hand-built best order") {
    import org.apache.spark.sql.functions._
    // the SketchPlannerSpec fixture: greedy = e2 (100-row dim), e0
    // (1:1 FK), e1 (explosive) last, broadcasting the small/tied-left
    // sides — the rule's output must be THE SAME PLAN a person hand-
    // writing the best order would get, not merely an equivalent one
    val t0 = spark.range(2000).select(col("id").as("k0"), lit(1L).as("v0"))
    val t1 = spark.range(2000).select(col("id").as("k0"),
      pmod(col("id"), lit(40)).as("k1"), lit(2L).as("v1"))
    val t2 = spark.range(2000).select(pmod(col("id"), lit(40)).as("k1"),
      col("id").as("k2"), lit(3L).as("v2"))
    val t3 = spark.range(100).select(col("id").as("k2"), lit(4L).as("v3"))
    val (steps, ruled) =
      SketchPlanner.planChain(Seq(t0, t1, t2, t3), Seq("k0", "k1", "k2"))
    assert(steps.map(_.edge) === Seq(2, 0, 1), steps)
    val manual = broadcast(t0).join(t1, "k0")
      .join(broadcast(t2.join(broadcast(t3), "k2")), "k1")
    assert(ruled.queryExecution.optimizedPlan.canonicalized ===
      manual.queryExecution.optimizedPlan.canonicalized)
  }

  test("no driver-side materialization in any operator source") {
    // collect()/take()/toLocalIterator in an operator would mean the
    // operator isn't distributed; the only sanctioned driver-side results
    // are in tests, Verify and Bench.
    import scala.jdk.CollectionConverters._
    val roots = Seq("src/main/scala/graft/operators", "src/main/scala/graft/streaming",
      "src/main/scala/graft/mr")
    // Allowlist by EXACT occurrence count, not by file: each entry is a
    // documented driver-side read whose scaladoc carries the rationale.
    // A future .collect() added anywhere — including to an allowlisted
    // file — raises that file's count above its budget and fails here.
    //   MRJob.scala: 1 — runToLines, the documented sequential-oracle
    //     test helper (never an operator path).
    //   SketchPlanner.scala: 2 — decideThreeWay's 1-ROW estimate read
    //     (one call site; catalog misses only) + decideChain's one
    //     bounded per-edge estimates read (#edges = chain length − 1):
    //     plan decisions need scalars on the driver, the AQE
    //     runtime-stats shape; the GATED q205/q217 paths collect
    //     nothing.
    //   (Storage.prunedRead's zone-map manifest is driver-side too, but
    //   reads parquet FOOTERS directly — no Dataset materialization, so
    //   no budget entry.)
    //   Storage.scala: 2 — prunedReadScaled's 1-row (total, skipped)
    //     aggregate + its SURVIVOR-path listing: the zone predicate runs
    //     distributed over the manifest DataFrame and the driver holds
    //     only the pruned set — the files the scan must list at plan
    //     time anyway (the Delta/Iceberg planning contract; StorageSpec
    //     pins bounded materialization on a 4000-entry manifest).
    //   CurationStream.scala: 4 — buildRefs' frozen-model compile, every
    //     read BOUNDED BY CONSTRUCTION since round 15: the 1-row prob
    //     stats aggregate (type count + eviction floor), the top-probCap
    //     prob rows (distributed exact top-K), the eval-gram set
    //     (require-checked against its cap BEFORE collecting), and the
    //     1-row tercile cut — the "train the model, broadcast it to
    //     scorers" step; capped reference data, never corpus rows.
    //   Similarity.scala: 1 — q253's MMR greedy argmax: one 1-row
    //     TakeOrdered read per round (k = 5 bounded rounds; the greedy
    //     is inherently sequential in k) — the planner-scalar shape.
    //   SketchPlanner.scala +2 (r16, total 4): SketchManifest.write's
    //     and .append's CMS counter reads — WRITE-TIME only (the
    //     stats-persist step, Delta/Iceberg's ANALYZE analog), each
    //     bounded at ≤4·16384 cells by the sketch shape regardless of
    //     table size; the decide-time manifest path reads FILES, zero
    //     jobs.
    val collectBudget = Map("MRJob.scala" -> 1, "SketchPlanner.scala" -> 4,
      "Storage.scala" -> 2, "CurationStream.scala" -> 4,
      "Similarity.scala" -> 1)
    val markers = Seq(".collect()", ".toLocalIterator", ".collectAsList")
    val offending = roots.flatMap { r =>
      java.nio.file.Files.walk(java.nio.file.Paths.get(r)).iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .flatMap { p =>
          val src = java.nio.file.Files.readString(p)
          val n = markers.map(m => src.sliding(m.length).count(_ == m)).sum
          val budget = collectBudget.getOrElse(p.getFileName.toString, 0)
          if (n > budget)
            Some(s"$p: $n driver-materialization call(s), budget $budget")
          else None
        }
    }
    assert(offending.isEmpty, offending.mkString("\n"))
  }

  test("the 60-bit md5 prefix is md5_bits everywhere but its one builtin referee") {
    // Every md5 → 15-hex-char substring → conv chain under src/main goes
    // through graft.functions.Md5Bits. The one sanctioned copy is
    // Multimodal.payloadFingerprintsAgg: PayloadSimhashSpec compares the
    // payload_simhash kernel against that builtin form.
    import scala.jdk.CollectionConverters._
    val chain = """conv\(\s*substr(ing)?\(\s*md5\(""".r
    val hits = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
      .iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        val src = java.nio.file.Files.readString(p)
        chain.findAllMatchIn(src).map { m =>
          val owner = "\n  def (\\w+)".r.findAllMatchIn(src.take(m.start))
            .toSeq.lastOption.map(_.group(1)).getOrElse("")
          s"${p.getFileName}:$owner"
        }
      }.toSeq
    assert(hits === Seq("Multimodal.scala:payloadFingerprintsAgg"), hits.mkString("\n"))
  }

  test("q233: single-table residuals of the three-way OR are pushed to BOTH parquet scans") {
    val plan = planOf(Relational.q233DisjunctiveScan(spark, d))
    // lineitem side: the derived quantity-range disjunction reaches the scan
    assert(plan.contains("Or(Or(And(GreaterThanOrEqual(l_quantity,1.0)"),
      plan.take(3000))
    // part side: the derived brand/size disjunction reaches the scan
    assert(plan.contains("Or(Or(And(EqualTo(p_brand"), plan.take(3000))
    // the exact three-way OR survives as the join's non-equi condition
    assert(plan.contains("p_brand#") && plan.contains("l_quantity#"),
      plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("q232: top-20 is TakeOrderedAndProject (no materialized global sort); both fact filters pushed") {
    val plan = planOf(Relational.q232ReturnedItems(spark, d))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(3000))
    assert(plan.contains("EqualTo(l_returnflag,R)"), plan.take(3000))
    assert(plan.contains("GreaterThanOrEqual(o_orderdate"), plan.take(3000))
  }

  test("q230: ship-date range pushed to the lineitem scan; no cartesian from the pair predicate") {
    val plan = planOf(Relational.q230VolumeShipping(spark, d))
    assert(plan.contains("GreaterThanOrEqual(l_shipdate"), plan.take(3000))
    // the PushedFilters render truncates mid-list; the untruncated
    // Filter node carries the upper bound
    assert(plan.contains("<= 1997-12-31 00:00:00"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
  }

  test("q237 chunk sweep: tokenize runs once — the per-width passes read the checkpoint, not the corpus") {
    val plan = planOf(Curation.q237ChunkSweep(spark, d))
    val scans = plan.linesIterator
      .count(l => l.contains("Scan parquet") && l.contains("documents"))
    assert(scans <= 1, s"documents scanned $scans times\n${plan.take(2000)}")
    // 5 checkpoint consumers (one per width) must be visible instead
    assert(plan.contains("Scan ExistingRDD"), plan.take(2000))
  }

  test("q239 novelty curve: decile assignment never windows the corpus — no ntile, one documents scan") {
    val plan = planOf(Curation.q239NoveltyCurve(spark, d))
    // the two-pass globalRank replaces a global ntile window; a plan
    // containing `ntile` would mean the corpus funneled one partition
    assert(!plan.contains("ntile"), plan.take(2500))
    val scans = plan.linesIterator
      .count(l => l.contains("Scan parquet") && l.contains("documents"))
    assert(scans <= 1, s"documents scanned $scans times\n${plan.take(2000)}")
  }

  test("q240 source overlap: checkpointed chunk set feeds all three consumers — one documents scan") {
    val plan = planOf(Curation.q240SourceOverlap(spark, d))
    val scans = plan.linesIterator
      .count(l => l.contains("Scan parquet") && l.contains("documents"))
    assert(scans <= 1, s"documents scanned $scans times\n${plan.take(2000)}")
    assert(!plan.contains("CartesianProduct"), plan.take(2500))
  }

  test("q238 split leakage: chunk-hash equi join, never a cartesian; verdict aggregates partially") {
    val plan = planOf(Curation.q238SplitLeakage(spark, d))
    assert(!plan.contains("CartesianProduct"), plan.take(2500))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2500))
    assert(plan.contains("partial_"), plan.take(2500))
  }

  test("q257 rag pack: cumsum window input is GroupTopK-bounded — never a corpus-sized per-query sort") {
    val plan = planOf(Similarity.q257RagPack(spark, d))
    // budget <= 1000 and ntok >= 1 bound packable rows at 1000, so the
    // per-qid cumsum window (5 qids — the low-cardinality hazard class)
    // must see a heap-bounded top-k, not every scored candidate
    assert(plan.contains("GroupTopKPartial"), plan.take(3000))
    val lines = plan.split("== Initial Plan ==").head.linesIterator.toVector
    val iWin = lines.indexWhere(_.contains("Window"))
    val iTopK = lines.indexWhere(_.contains("GroupTopK"))
    assert(iWin >= 0 && iTopK > iWin,
      s"window (line $iWin) must consume the bounded top-k (line $iTopK)\n${plan.take(3000)}")
  }

  test("q263 budget mix: per-source cumsum window input is GroupTopK-bounded") {
    val plan = planOf(Curation.q263BudgetMix(spark, d))
    // source is low-cardinality: without the k=budget prefilter one task
    // would sort a source's entire corpus for the admission cumsum
    assert(plan.contains("GroupTopKPartial"), plan.take(3000))
    val lines = plan.split("== Initial Plan ==").head.linesIterator.toVector
    val iWin = lines.indexWhere(_.contains("Window"))
    val iTopK = lines.indexWhere(_.contains("GroupTopK"))
    assert(iWin >= 0 && iTopK > iWin,
      s"window (line $iWin) must consume the bounded top-k (line $iTopK)\n${plan.take(3000)}")
  }

  test("q235: type ranking is GroupTopK-bounded before the unpartitioned window") {
    val plan = planOf(Vocab.q235VocabCoverage(spark, d))
    // the heap-bounded cut runs BEFORE the global row_number: types
    // reaching the single-partition window are <= max(K), not |V|^2
    assert(plan.contains("GroupTopK"), plan.take(3000))
    // the K-grid join is a broadcast nested loop over <= 5 x 1000 rows
    // (bounded), and the total is a broadcast 1-row aggregate
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
  }
}
