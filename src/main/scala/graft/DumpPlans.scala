package graft
import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.{Files, Paths}
import graft.operators._
object DumpPlans {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.getOrCreate("plans")
    val d = "/root/testdata/sf0.001"
    val picks: Seq[(String, org.apache.spark.sql.DataFrame, String)] = Seq(
      ("q01_pricing_summary", Relational.q01PricingSummary(spark, d),
        "scan -> filter -> partial agg -> single shuffle on 2 group cols"),
      ("q02_filter_pushdown", Relational.q02FilterPushdown(spark, d),
        "PushedFilters + 3-column ReadSchema prove scan pushdown/pruning"),
      ("q05_local_supplier", Relational.q05LocalSupplier(spark, d),
        "bounded dims broadcast-hinted; SF-scaled joins left to AQE"),
      ("q17_avg_subquery", Relational.q17AvgSubquery(spark, d),
        "window over l_partkey: ONE lineitem scan, no aggregate broadcast"),
      ("q21_minhash_neardup", Dedup.q21MinhashNeardup(spark, d),
        "slim band-bucket join; 64 codegen'd min() aggregates; no cartesian"),
      ("q23_knn_exact", Similarity.q23KnnExact(spark, d),
        "bounded query side broadcast; corpus streams through one scan; " +
          "vec_dot native expression, no interpreted lambda"),
      ("q35_asof_join", Asof.q35AsofJoin(spark, d),
        "union-merge as-of: one shuffle on key, running last() window"),
      ("q40_corpus_pipeline", TextAnalysis.q40CorpusPipeline(spark, d),
        "quality gate -> window keep-first dedup -> LSH near-dup removal; " +
          "gram/signature subtrees become InMemoryRelations under " +
          "spark.graft.dedup.cache=true (large-corpus config)"),
      ("q41_label_cohesion", Similarity.q41LabelCohesion(spark, d),
        "explode to (label, dim) rows -> centroid avg aggregates -> dot " +
          "products as sums; nothing corpus x corpus"),
      ("q45_contamination", Curation.q45Contamination(spark, d),
        "eval gram set broadcast; corpus grams single pass"),
      ("q49_top_supplier", Relational.q49TopSupplier(spark, d),
        "global max as 1-row aggregate + broadcast crossJoin — no " +
          "empty-partitionBy window, so per-supplier rows never funnel " +
          "into a single partition"),
      ("q50_dedup_clusters", Dedup.q50DedupClusters(spark, d),
        "label propagation already ran (localCheckpoint per round " +
          "truncates lineage — this is the FINAL round's flat plan): " +
          "cluster sizes via window over checkpointed labels; edge list " +
          "never re-derived"),
      ("q54_ivf_full_probe", Similarity.q54IvfFullProbe(spark, d),
        "bounded ncells centroid sample via TakeOrderedAndProject; " +
          "corpus cell assignment is max_by aggregation (window-free); " +
          "probe join keyed on cid"),
      ("q57_priority_check", Relational.q57PriorityCheck(spark, d),
        "correlated EXISTS through spark.sql decorrelated to a hash " +
          "LEFT SEMI join — never a per-row subquery"),
      ("q58_skew_agg", Skew.q58SkewAgg(spark, d),
        "two-phase salted aggregation: partial agg on (key, salt), " +
          "final agg on key — the hot key fans across salt partitions"),
      ("q64_range_join", Asof.q64RangeJoin(spark, d),
        "pure theta join rewritten as equi join on time buckets: " +
          "10-interval side explodes + broadcasts, events stream through " +
          "one scan — no BroadcastNestedLoopJoin anywhere"),
      ("q62_partitioned_sink", Storage.q62PartitionedSink(spark, d),
        "partitioned-sink round-trip read-back: PartitionFilters on " +
          "split prove DIRECTORY-level pruning — val/test partitions " +
          "are never listed"),
      ("q63_approx_percentile", Relational.q63ApproxPercentileBound(spark, d),
        "one scan builds the GK sketch; rank verification joins the " +
          "4-row (quantile, value) broadcast back against the column — " +
          "no sort, no per-group value buffering"),
      ("q71_top_per_group", Analytics.q71TopPerGroup(spark, d),
        "GroupTopKPartial -> exchange -> GroupTopK bounded heaps (no " +
          "Window, no input sort); dimension join AFTER the top-k"),
      ("q77_prefix_join", Dedup.q77PrefixJoin(spark, d),
        "rank-sorted set table materialized ONCE (localCheckpoint); " +
          "candidates from an equi join over rarest-item prefixes; " +
          "exact-Jaccard verify on the checkpointed arrays"),
      ("q79_zorder", Storage.q79Zorder(spark, d),
        "native zorder_bits inside whole-stage codegen; the 1-row " +
          "global-bounds frame broadcasts; integer-only bin math"),
      ("q80_scd2", Analytics.q80Scd2(spark, d),
        "change flag, running-sum run ids, per-run collapse and the " +
          "valid_to lead ALL stack over one user_id exchange"),
      ("q83_rolling_window", Relational.q83RollingWindow(spark, d),
        "RANGE frame over integer day numbers: one o_custkey exchange " +
          "serves both trailing-30-day aggregates; decimal-exact sum"),
      ("q82_incremental_dedup", Dedup.q82IncrementalDedup(spark, d),
        "batch and corpus set tables checkpointed once each; candidates " +
          "only from prefix-item collisions; corpus never self-joined"),
      ("q86_window_topk_rewrite", Relational.q86WindowTopkRewrite(spark, d),
        "user-shaped SQL row_number()<=k silently planned as the " +
          "GroupTopK bounded-heap operator: no Window, no input sort"),
      ("q90_global_customer", Relational.q90GlobalCustomer(spark, d),
        "TPC-H Q22 shape: 5-row segment aggregate broadcasts; the " +
          "average compares multiplied-through in exact decimal; " +
          "anti join on the filtered orders projection"),
      ("q93_bloom_prune", BloomPrune.q93BloomPrune(spark, d),
        "one-row bloom sketch built with map-side merge, reaches the " +
          "fact side as a scalar subquery; might_contain probes BELOW " +
          "the semi join, so non-matching rows never enter the shuffle"),
      ("q95_kmeans_assign", Similarity.q95KmeansAssign(spark, d),
        "bounded md5-ranked centroid pick (TakeOrdered), broadcast to " +
          "the corpus; argmax via max_by partial agg — no window, " +
          "corpus-linear at any size"),
      ("q97_global_rank", Relational.q97GlobalRank(spark, d),
        "global row_number with NO SinglePartition exchange on the data " +
          "path: range partition (checkpointed once), per-partition " +
          "local rank, tiny offsets frame broadcast back"),
      ("q105_triangle_count", Graph.q105TriangleCount(spark, d),
        "degree-oriented wedges: the edge list is checkpointed once and " +
          "reused by both wedge legs and the closing probe; equi-joins " +
          "only, no cartesian; orientation bounds wedge fan-out at " +
          "O(sqrt m) per node; a bloom over the oriented edge keys " +
          "prunes non-closing wedges BEFORE the closing exchange"),
      ("q112_semantic_dedup", Similarity.q112SemanticDedup(spark, d),
        "SemDeDup: broadcast-centroid assignment (checkpointed once for " +
          "both pair-join legs), then ONE cluster-keyed self-join — " +
          "candidates are sum of cluster^2, never n^2; no cartesian"),
      ("q113_kcore", Graph.q113KCore(spark, d),
        "parallel peeling, final round's plan: edge list checkpointed " +
          "once; per round two semi joins against the node-sized live " +
          "set and a partially-aggregated degree count"),
      ("q106_tf_cosine_pairs", Vocab.q106TfCosinePairs(spark, d),
        "inverted-index all-pairs: candidates only from shared sub-cap " +
          "terms; partial products combine map-side before the pair " +
          "shuffle; norms are a groups-sized frame joined back"),
      ("q107_interval_merge", Analytics.q107IntervalMerge(spark, d),
        "both window functions (running max, island sum) share ONE sort " +
          "and exchange on the merge key; output is islands-sized"),
      ("q109_bfs_distances", Graph.q109BfsDistances(spark, d),
        "frontier BFS, final round's flat plan: the edge list is " +
          "partitioned+checkpointed once; each round joins only the " +
          "new frontier, merged with a partial-agg min"),
      ("q115_user_mode", Analytics.q115UserMode(spark, d),
        "per-user modal type: (user,type) partial-agg counts, then the " +
          "argmax as min_by on the (-n, type) struct — partial agg end " +
          "to end, no window, no per-user sort"),
      ("q116_ref_integrity", Relational.q116RefIntegrity(spark, d),
        "seven FK audits union'd, each ONE left-anti join collapsing to " +
          "a 1-row count; parent keysets broadcast while they fit, " +
          "independent subtrees schedule concurrently"),
      ("q117_lag_xcorr", Analytics.q117LagXcorr(spark, d),
        "the one events-sized stage is the hourly partial agg; the lag " +
          "sweep explodes the types x hours matrix x7 and self-joins on " +
          "the shifted hour (checkpointed once for both legs) — never " +
          "events x events"),
      ("q119_ohlc_bars", Analytics.q119OhlcBars(spark, d),
        "struct-keyed min_by/max_by partial SortAggregate, ONE bar-key " +
          "exchange — the MEASURED winner over the hash-aggregable " +
          "packed-decimal key (0.37 vs 0.53 s at sf0.1, BASELINE.md §Round-9 OHLC)"),
      ("q125_brand_basket", Relational.q125BrandBasket(spark, d),
        "pair fan-out keys on the order (bounded by basket size); " +
          "support counts combine map-side; brand marginals and the " +
          "1-row order total broadcast back onto the pairs frame"),
      ("q126_centroid_sim", Similarity.q126CentroidSim(spark, d),
        "embeddings scanned ONCE into labels x dims centroid partials; " +
          "all pairwise work runs on that matrix — quadratic in labels, " +
          "constant in corpus"),
      ("q128_zipf_slope", TextAnalysis.q128ZipfSlope(spark, d),
        "rank value is consumed (x = ln rank) so the Window stays, but " +
          "partial+final WindowGroupLimit caps both sides of the " +
          "exchange at k rows per lang — never a vocab-sized sort"),
      ("q129_rfm", Analytics.q129Rfm(spark, d),
        "three globalRank compositions over the users-sized frame " +
          "(range partition + local rank + broadcast offsets) — NO " +
          "ntile, no Exchange SinglePartition of the user universe; " +
          "quintiles are integer arithmetic on exact ranks"),
      ("q131_pq_codes", Similarity.q131PqCodes(spark, d),
        "16x64 codebook broadcasts; candidate residual terms collapse " +
          "map-side to (vec, m, code) partial LONG sums — fixed-point " +
          "exact, no per-row decimals; argmin is one more partial agg"),
      ("q134_exact_substr", Dedup.q134ExactSubstr(spark, d),
        "one corpus scan; duplication decided by min/max doc over ONE " +
          "shingle-keyed window — no distinct-count, no pair fan-out; " +
          "island merge rides the doc_id windows"),
      ("q135_link_predict", Graph.q135LinkPredict(spark, d),
        "checkpointed edge+degree frame partitioned on p feeds both " +
          "sides of the shuffle-hash pair join; top-100 is " +
          "TakeOrderedAndProject, never a global sort"),
      ("q137_skyline", Relational.q137Skyline(spark, d),
        "per-price group max, then the globalRank two-pass prefix max " +
          "— the only SinglePartition exchange is the <=32-row offsets " +
          "frame; oracle does the quadratic NOT EXISTS instead"),
      ("q138_ks_test", Analytics.q138KsTest(spark, d),
        "distributed prefix-scan CDFs (range partition + local running " +
          "sums + broadcast totals); DECIMAL(38,0) cross-products; " +
          "scalar max/argmin readout"),
      ("q139_adc_search", Similarity.q139AdcSearch(spark, d),
        "per-query distance tables (M x K longs) BROADCAST to the " +
          "corpus-code scan; the M-term ADC sums combine map-side; " +
          "top-k per query is a bounded window"),
      ("q140_hll_registers", Analytics.q140HllRegisters(spark, d),
        "narrow hash map then partial-agg max onto 256 register " +
          "groups — the shuffle carries <=256 rows per map task at " +
          "any corpus size"),
      ("q143_twap", Analytics.q143Twap(spark, d),
        "distributed lead: range-partitioned order, per-partition " +
          "lead, <=32-row broadcast boundary stitch — no per-type " +
          "data-sized window partitions"),
      ("q145_cms_sketch", Analytics.q145CmsSketch(spark, d),
        "4x constant fan-out, partial-agg count onto <=256 cells — " +
          "shuffle carries <=256 rows per map task"),
      ("q147_waiting_supplier", Relational.q147WaitingSupplier(spark, d),
        "EXISTS/NOT-EXISTS collapsed into one (order, supplier) agg: " +
          "lineitem scanned and shuffled ONCE; top-20 TakeOrdered"),
      ("q148_weighted_sample", Curation.q148WeightedSample(spark, d),
        "A-ES keys per-row, TakeOrdered(50) — zero exchanges, no " +
          "global sort of the corpus"),
      ("q149_path_trigrams", Analytics.q149PathTrigrams(spark, d),
        "gap lag + session sum + two leads stack on ONE user_id " +
          "exchange; trigram space partial-aggs; top-25 TakeOrdered"),
      ("q150_bitmap_rollup", Analytics.q150BitmapRollup(spark, d),
        "partial-agg bit_or onto (week, word) — 63x fewer shuffle rows " +
          "than distinct user ids, 8 bytes each; exact counts"),
      ("q153_gini", Relational.q153Gini(spark, d),
        "globalRank two-pass rank, DECIMAL-widened moments, one-row " +
          "output — no single-task sort of the customer table"),
      ("q157_exact_quantiles", Relational.q157ExactQuantiles(spark, d),
        "exact percentile_cont via globalRank + 3-row broadcast " +
          "bracket pick — bounded memory where percentile() buffers " +
          "the column"),
      ("q158_simhash_join", Dedup.q158SimhashJoin(spark, d),
        "pigeonhole 4-band bucket join over checkpointed signatures; " +
          "DISTINCT collapses multi-band hits; exact bit_count verify"),
      ("q164_ppr", Graph.q164Ppr(spark, d),
        "seed-teleport power iteration on the q81 schedule: " +
          "checkpointed partitioned+sorted edges, zero hash exchanges " +
          "per iteration"),
      ("q169_pareto_point", Relational.q169ParetoPoint(spark, d),
        "globalRank desc + distributed prefix scan; integer 5*cum >= " +
          "4*total boundary; 1-row output"),
      ("q173_keyness", Vocab.q173Keyness(spark, d),
        "one tokenize into a checkpointed (source, word) grain feeding " +
          "three totals; WindowGroupLimit bounds the per-source rank"))
    // Expression ids (#38583) and plan ids accumulate across the session,
    // so two dumps of the SAME plan differ textually. Normalize them away:
    // regenerated PLANS.md then diffs only where a plan actually changed.
    def norm(s: String): String = s
      .replaceAll("#\\d+", "#x")
      .replaceAll("plan_id=\\d+", "plan_id=x")
      .replaceAll("cachedrdd-\\d+", "cachedrdd-x")
      .replaceAll("graft-gate/local-\\d+", "graft-gate/local-x")
    // Long plans are cut by plan lines, never by characters: a cut by
    // characters moves with the printed length of expressions, so
    // shortening an expression's text alone would change the token
    // signature tools/plan_drift.py pins.
    def firstLines(s: String, n: Int): String =
      s.linesIterator.take(n).mkString("\n")
    val sb = new StringBuilder
    sb.append("# PLANS — final physical plans of the headline queries\n\n")
    sb.append("Generated by `graft.DumpPlans` at sf0.001 (plan shapes are SF-invariant;\n")
    sb.append("AQE join choices at real scale are driven by runtime stats). The\n")
    sb.append("load-bearing properties are asserted in PlanAuditSpec/StorageSpec.\n")
    picks.foreach { case (name, df, note) =>
      val buf = new ByteArrayOutputStream()
      Console.withOut(new PrintStream(buf)) { df.explain("formatted") }
      sb.append(s"\n## $name\n\n_${note}_\n\n```\n")
      sb.append(firstLines(norm(buf.toString), 160))
      sb.append("\n```\n")
    }
    // FULL COVERAGE (round-10 verdict task): every registered query not
    // curated above gets its physical tree dumped in compact form, so
    // no registered plan is unauditable — a plan regression in ANY
    // query is visible in this file's diff, not just a bench spike.
    // Compact mode (tree only) keeps the file reviewable; the per-node
    // detail (PushedFilters/ReadSchema) for load-bearing operators
    // lives in the curated entries and in PlanAuditSpec assertions.
    val curated = picks.map(_._1).toSet
    sb.append("\n# Appendix — compact physical trees of every other registered query\n")
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (n, _) => curated(n) }
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, d)
          val buf = new ByteArrayOutputStream()
          Console.withOut(new PrintStream(buf)) { df.explain("simple") }
          sb.append(s"\n## $name\n\n```\n")
          sb.append(firstLines(norm(buf.toString), 60))
          sb.append("\n```\n")
        } catch { case e: Throwable =>
          sb.append(s"\n## $name\n\n_plan build failed: ${e.getMessage}_\n")
        }
      }
    // optional arg: output path — tools/plan_drift.py dumps to a scratch
    // file and diffs token signatures against the committed PLANS.md
    val out = args.headOption.getOrElse("/root/repo/PLANS.md")
    Files.writeString(Paths.get(out), sb.toString)
    println(s"PLANS WRITTEN $out")
    spark.stop()
  }
}
