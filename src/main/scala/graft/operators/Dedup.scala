package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Md5Bits.md5Bits

/** Deduplication operators for LLM-training-data pipelines over the
  * documents table: exact (normalize → hash → group), MinHash-LSH
  * near-dup (shingle → minhash → band → bucket-join — candidate pairs
  * come ONLY from shared LSH buckets, never an all-pairs product),
  * SimHash fingerprints, and n-gram Jaccard via an inverted-index join.
  *
  * Scale notes (100 TB):
  *   - Exact dedup is one hash-groupBy — the canonical first pass.
  *   - MinHash-LSH: cost is Σ_bucket |bucket|², bounded by band width
  *     choice, vs n² for all-pairs. Signatures (64 longs) shuffle instead
  *     of full texts.
  *   - n-gram Jaccard joins on shared trigrams, with a document-frequency
  *     cap on CANDIDATE generation: a stop-gram shared by k documents
  *     would otherwise emit k² candidate pairs. Grams above the cap are
  *     excluded from candidate generation only — verification still
  *     counts every gram, so any pair sharing at least one sub-cap gram
  *     gets its exact Jaccard. The same idea caps LSH bucket sizes.
  *   - Everything is built-in expressions → whole-stage codegen; no UDFs.
  */
object Dedup {
  import Tables._

  /** Optionally persist a reused dedup intermediate (gram rows,
    * signatures), controlled by `spark.graft.dedup.cache`.
    *
    * WITHIN one query the cache is mostly unnecessary even at scale:
    * AQE's ReuseExchange dedups the shared subtrees — q21's executed
    * plan shows ONE documents scan and 5 ReusedExchange nodes uncached
    * (probed; shuffle files effectively act as the materialization).
    * Measured at sf0.1 (BASELINE.md) the explicit cache is a strict
    * loss there: columnar build + read costs more than the reuse it
    * duplicates, with high variance. The flag pays off ACROSS queries —
    * a curation run executing q20/q21/q22/q45 over the same corpus
    * re-tokenizes per query unless the gram rows are cached (shuffle
    * reuse is per-query; the cache is cross-query — Spark's CacheManager
    * matches the canonicalized gramHashRows plan, so every later query
    * hits the persisted rows). MEASURED (sf0.1, ×5 OFF/ON alternated):
    * bundle median 7.54 s off → 6.30 s on, every rep's ON beating its
    * OFF — BASELINE.md §"Round-6: cross-query dedup cache A/B". Slim
    * 16-byte rows, MEMORY_AND_DISK so it spills. Default stays OFF
    * because the gate/bench paths run one query per cleared cache,
    * where the build cost is a strict loss; set it for multi-query sessions. */
  private def maybeCache(df: DataFrame): DataFrame =
    if (df.sparkSession.conf.getOption("spark.graft.dedup.cache").exists(_.toBoolean))
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else df

  /** lower → collapse whitespace → trim: the usual text canonicalization
    * before exact hashing. */
  private[graft] def normText(c: Column): Column =
    lower(trim(regexp_replace(c, "\\s+", " ")))

  /** Exact dedup: group by md5 of normalized text; keep the smallest
    * doc_id (keep-first), count copies. */
  def q20ExactDedup(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .groupBy(md5(normText(col("text"))).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  val q20Sql: String =
    """SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS content_hash,
      |  min(doc_id) AS keep_id, count(*) AS n_copies
      |FROM documents GROUP BY 1""".stripMargin

  /** Lowercase a-z word tokens — the corpus tokenizer under every text
    * operator. Since round 13 this is the NATIVE single-pass
    * `alpha_tokens` kernel (graft.functions.TextTokens): bit-identical
    * to the regex pipeline it replaced (AlphaTokensSpec pins the
    * equivalence on random unicode inputs, [[tokensRegex]] keeps the
    * reference form), measured 1.4× on the end-to-end tokenize→agg
    * shape (BASELINE §TokenizeAB). A letterless text yields [""]
    * (size 1 → callers' short-doc fallback branch), matching the
    * oracle semantics of an empty token list joined with ' '. */
  def tokensCodegen(c: Column): Column = call_function("alpha_tokens", c)

  /** Distinct (doc_id, gram = md5_bits of each space-joined n-token
    * window) rows of a (doc_id, toks) frame. CASE guard, not greatest():
    * Spark's sequence(1, 0) DESCENDS to [1, 0] (DuckDB's generate_series
    * yields empty), and j = 0 is an invalid slice start. */
  private[graft] def gramHashes(df: DataFrame, n: Int): DataFrame = df
    .select(col("doc_id"), explode(expr(
      s"CASE WHEN size(toks) >= $n THEN " +
        s"transform(sequence(1, size(toks) - ${n - 1}), " +
        s"j -> md5_bits(concat_ws(' ', slice(toks, j, $n)))) " +
        "ELSE array() END")).as("gram"))
    .distinct()

  /** The regex formulation tokensCodegen replaced — kept as the
    * in-repo reference semantics for the AlphaTokensSpec differential
    * and the TokenizeAB baseline arm. */
  private[graft] def tokensRegex(c: Column): Column =
    split(regexp_replace(lower(c), "(^[^a-z]+)|([^a-z]+$)", ""), "[^a-z]+")

  /** WHITESPACE token count ("" → 0) — the oracle-matched semantic
    * shared by the quality stats (q24) and sequence packing (q51).
    * Native since round 13 (`ws_token_count`: one byte scan counting
    * non-\s runs, no split-array allocation — bit-equal to the old
    * trim+split form, which [[nTokensRegex]] keeps for the spec
    * differential). */
  private[operators] def nTokensCol(c: Column): Column =
    call_function("ws_token_count", c)

  /** The trim+split formulation nTokensCol replaced (spec reference). */
  private[graft] def nTokensRegex(c: Column): Column = {
    val trimmed = regexp_replace(c, "(^\\s+)|(\\s+$)", "")
    when(length(trimmed) === 0, 0).otherwise(size(split(trimmed, "\\s+")))
  }

  /** One (doc_id, w) row per non-empty lowercase a-z word — codegen'd
    * tokenize + ROW filter; the shared feed for per-word aggregations
    * (simhash votes, TF-IDF, quality metrics, language scores). */
  private[operators] def wordRows(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(tokensCodegen(col("text"))).as("w"))
      .filter(col("w") =!= "")

  /** DISTINCT 64-bit gram hashes as slim (doc_id, gh) rows. The trigram
    * string is never materialized: the token triple is hashed directly
    * (tokens contain no spaces, so triple ↔ "a b c" string is a
    * bijection; only hash identity matters for set intersection /
    * minhash). Dedup happens on 16-byte rows, not strings. */
  def gramHashRows(docs: DataFrame): DataFrame = {
    // A small corpus arrives as one parquet split; fan the rows out first
    // so the (cpu-heavy) tokenize/shingle pipeline uses every core. At
    // real scale the scan has natural parallelism and this shuffle is
    // raw-text-sized, i.e. cheap relative to the downstream work.
    val t = docs.repartition(col("doc_id"))
      .withColumn("toks", tokensCodegen(col("text")))
    val tri = t.filter(size(col("toks")) >= 3)
      .select(col("doc_id"), col("toks"), posexplode(col("toks")))
      .filter(col("pos") <= size(col("toks")) - 3)
      .select(col("doc_id"),
        xxhash64(col("col"),
          element_at(col("toks"), col("pos") + 2),
          element_at(col("toks"), col("pos") + 3)).as("gh"))
    val short = t.filter(size(col("toks")) < 3)
      .select(col("doc_id"), xxhash64(concat_ws(" ", col("toks"))).as("gh"))
    // Reused by every consumer (signatures, df counts, candidate join,
    // verification join, per-doc sizes): cached on large-corpus
    // deployments via spark.graft.dedup.cache — see maybeCache.
    maybeCache(tri.unionAll(short).dropDuplicates("doc_id", "gh"))
  }

  /** k-hash MinHash signatures as (doc_id, sig array<long>) from shingle
    * ROWS (see [[gramRows]]). Each shingle string is hashed once
    * (string → long); the k hash functions re-hash that 8-byte long with
    * seed j as k plain `min()` AGGREGATES — fully whole-stage-codegen'd
    * (higher-order array lambdas are interpreted in Spark and measured
    * ~10× slower here), with map-side partial aggregation so the shuffle
    * carries one 64-long row per doc per map partition. */
  def minhashSigs(grams: DataFrame, k: Int): DataFrame = {
    val hashed = grams.select(col("doc_id"), col("gh").as("h"))
    val mins = (0 until k).map(j => min(xxhash64(col("h"), lit(j))).as(s"m$j"))
    // One tiny row per doc (k longs ≈ 512 B), consumed by the bucket-size
    // count and both self-join sides — cacheable via maybeCache.
    maybeCache(hashed.groupBy(col("doc_id"))
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"),
        array((0 until k).map(j => col(s"m$j")): _*).as("sig")))
  }

  /** MinHash-LSH near-dup pairs, banded: 16 bands × 4 rows over a 64-hash
    * signature; candidates share ≥1 band key; exact shingle Jaccard
    * verifies candidates (≥ 0.8). The oracle computes the TRUE pair set
    * with an exact inverted-index join — so this gate also measures LSH
    * recall: at s = 0.8, P(pair shares a band) = 1-(1-s⁴)¹⁶ ≈ 0.9998,
    * and the corpus's seeded near-dups (jaccard 0.9-0.99) are found with
    * near-certainty (hashes are fixed, so the result is deterministic —
    * verified green at sf0.01; DedupSpec covers mutated copies too). */
  def q21MinhashNeardup(s: SparkSession, d: String): DataFrame =
    // maxBucket EXPLICIT at the registered entry point: near-dup groups
    // larger than the cap lose candidate generation (see neardupPairs) —
    // run exact dedup (q20) first on corpora with boilerplate floods.
    neardupPairs(documents(s, d).select(col("doc_id"), col("text")),
      bands = 16, rowsPerBand = 4, threshold = 0.8, maxBucket = 1000)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))

  /** Edit-distance verification over the LSH candidate set — the
    * third near-dup verification tier (token Jaccard → edit distance):
    * levenshtein is O(|a|·|b|) PER PAIR, so the only viable shape at
    * scale is exactly this one — candidates from the banded LSH join
    * (already Jaccard-verified ≥ t), texts joined back per side, the
    * quadratic kernel run on the bounded survivor set, NEVER all-pairs.
    * Spark's `levenshtein` is a codegen'd built-in (classic DP on
    * codepoints).
    *
    * Cross-engine caveat, stated: DuckDB's levenshtein counts BYTE
    * edits, Spark's counts codepoint edits — identical on ASCII (this
    * corpus is 100% ASCII, so the gate is exact) and divergent on
    * multi-byte text, where the codepoint semantic is the defensible
    * one. The normalized similarity divides by the char length of the
    * longer side, rounded 1e-6 (the q23 convention). */
  def q103EditDistance(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).select(col("doc_id"), col("text"))
    val pairs = neardupPairs(docs, bands = 16, rowsPerBand = 4,
      threshold = 0.8, maxBucket = 1000).select(col("id_a"), col("id_b"))
      // Pin-spread the pair rows BEFORE the texts attach: AQE coalesces
      // the candidate exchange by BYTES (slim 16-byte pairs → 1-2
      // partitions), but each row's downstream cost is the O(|a|·|b|)
      // levenshtein — measured at the sf1 grain: the final stage ran 2
      // tasks / 16.7 s wall / 29.8 s task time on 32 cores (8c/32c ratio
      // 0.95, the suite's worst serial signature). REPARTITION_BY_NUM
      // (conf-derived count) is AQE-proof; the exchange itself moves
      // ~2.4 MB. Keyed by id_a ALONE on purpose: the candidate distinct
      // below already emits hashpartitioning(id_a, id_b, n), so an
      // identically-keyed repartition is elided as redundant and the
      // surviving ENSURE_REQUIREMENTS exchange coalesces again —
      // verified in-plan. (Per-id_a fan-out is bounded by the LSH
      // bucket cap, so the single-key spread cannot recreate the skew.)
      // At corpus scale the text joins leave broadcast and the heavy
      // join output stops coalescing on its own — the pinned spread
      // only matters (and only helps) in the slim-pairs regime.
      .repartition(
        s.conf.get("spark.sql.shuffle.partitions").toInt, col("id_a"))
    val ta = docs.select(col("doc_id").as("id_a"), col("text").as("text_a"))
    val tb = docs.select(col("doc_id").as("id_b"), col("text").as("text_b"))
    pairs.join(ta, Seq("id_a")).join(tb, Seq("id_b"))
      // equality short-circuit: LSH candidates on a dup-dense corpus are
      // mostly byte-identical pairs, and codegen'd CaseWhen skips the
      // O(len_a·len_b) levenshtein entirely for them (lev(a,a) = 0 by
      // definition — semantics unchanged; sf1: 40.6 s → 11.3 s median)
      .withColumn("lev", when(col("text_a") === col("text_b"), lit(0L))
        .otherwise(levenshtein(col("text_a"), col("text_b")).cast("long")))
      .withColumn("sim6", round(lit(1.0) - col("lev") /
        greatest(length(col("text_a")), length(col("text_b"))), 6))
      .select(col("id_a"), col("id_b"), col("lev"), col("sim6"))
  }

  val q103Sql: String = {
    val truePairs = exactJaccardSql(0.8)
    s"""WITH pairs AS ($truePairs)
       |SELECT id_a, id_b,
       |  CAST(levenshtein(a.text, b.text) AS BIGINT) AS lev,
       |  round(1.0 - CAST(levenshtein(a.text, b.text) AS DOUBLE)
       |        / greatest(length(a.text), length(b.text)), 6) AS sim6
       |FROM pairs
       |JOIN documents a ON a.doc_id = id_a
       |JOIN documents b ON b.doc_id = id_b""".stripMargin
  }

  /** DuckDB replica of the trigram-Jaccard pipelines. `maxDf = 0` means
    * no document-frequency filter (q21's oracle — the TRUE pair set);
    * a positive `maxDf` replicates the stop-gram-filtered Jaccard of
    * [[q22NgramJaccard]] exactly, cap included, so both engines compute
    * the identical bounded semantic at any scale. */
  private def exactJaccardSql(threshold: Double, maxDf: Int = 0): String = {
    val dfFilter =
      if (maxDf <= 0) ""
      else
        s"""
           |capped AS (
           |  SELECT doc_id, g FROM grams
           |  WHERE g IN (SELECT g FROM grams GROUP BY g HAVING count(*) <= $maxDf)),""".stripMargin
    val gramsRel = if (maxDf <= 0) "grams" else "capped"
    s"""WITH toks AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(lower(text), '[^a-z]+'), t -> t <> '') AS ws
       |  FROM documents),
       |glists AS (
       |  SELECT doc_id, CASE WHEN len(ws) >= 3
       |    THEN list_distinct(list_transform(range(1, len(ws) - 1),
       |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
       |    ELSE [array_to_string(ws, ' ')] END AS gs
       |  FROM toks),
       |grams AS (SELECT DISTINCT doc_id, unnest(gs) AS g FROM glists),$dfFilter
       |sizes AS (SELECT doc_id, count(*) AS sz FROM $gramsRel GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ninter
       |  FROM $gramsRel a JOIN $gramsRel b ON a.g = b.g AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b,
       |  round(CAST(ninter AS DOUBLE) / (sa.sz + sb.sz - ninter), 6) AS jaccard
       |FROM inter
       |JOIN sizes sa ON sa.doc_id = id_a
       |JOIN sizes sb ON sb.doc_id = id_b
       |WHERE CAST(ninter AS DOUBLE) / (sa.sz + sb.sz - ninter) >= $threshold""".stripMargin
  }

  val q21Sql: String = exactJaccardSql(0.8)

  /** Connected components over a near-dup PAIR graph → transitive dedup
    * clusters: (doc, cluster representative = min doc id in the
    * component, cluster size). Pairs alone under-deduplicate a corpus —
    * near-dup similarity is not transitive (A≈B, B≈C but A≉C), yet a
    * keep-one-per-pair policy would keep A and C while a crawl of
    * mutated copies chains arbitrarily far; the standard resolution is
    * one representative per CONNECTED COMPONENT.
    *
    * Two interchangeable algorithms behind one API (`algo`):
    *
    *   - "label" (default): iterative min-label propagation — each node
    *     repeatedly adopts the minimum label among itself and its
    *     neighbors until fixpoint. One join + partial-aggregated groupBy
    *     per round on the EDGE list (pair graph ≪ corpus). Rounds =
    *     component DIAMETER: tiny for real dedup clusters (copy chains),
    *     and the cheapest per round, so it's the default.
    *   - "star": alternating large-star/small-star contraction (the
    *     MapReduce connected-components construction of Kiveris et al.,
    *     "Connected Components in MapReduce and Beyond", SoCC'14 —
    *     public algorithm, re-derived here in DataFrame form). Each
    *     round rewires every node toward its neighborhood minimum, so
    *     components collapse in O(log n) rounds REGARDLESS of diameter —
    *     the right tool for adversarial long-path graphs where label
    *     propagation would need a round per hop.
    *
    * Both: `localCheckpoint` truncates lineage so plans stay flat across
    * iterations, convergence is a distributed count (never a collect),
    * and exceeding `maxIters` fails LOUDLY — silently under-merged
    * clusters are never returned. */
  def dedupClusters(pairs: DataFrame, maxIters: Int = 30,
                    algo: String = "label"): DataFrame = {
    val labels = algo match {
      case "label" => propagateLabels(pairs, maxIters)
      case "star"  => starContract(pairs, maxIters)
      case other => throw new IllegalArgumentException(
        s"unknown dedupClusters algo '$other' (label | star)")
    }
    // streamed agg + join, not an unordered window on lbl (r16): a
    // boilerplate page duplicated 10^8 times is ONE label — the window
    // would buffer that whole group in a single task; the partial-agg'd
    // count streams it map-side and ships one row per cluster
    val sizes = labels.groupBy(col("lbl")).agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, Seq("lbl"))
      .select(col("id").as("doc_id"), col("lbl").as("cluster_rep"),
        col("cluster_size"))
  }

  /** Min-label propagation to fixpoint: (id, lbl = component min). */
  private def propagateLabels(pairs: DataFrame, maxIters: Int): DataFrame = {
    // The edge list is joined on `b` EVERY round: hash-partition it on
    // that key once before persisting. While labels fit the broadcast
    // threshold the round join broadcasts them and never shuffles
    // either side (plan-probed); once the graph outgrows broadcast the
    // join needs hashpartitioning(b) — which the cache then already
    // provides (AQE leaves cached-plan output partitioning intact by
    // default), so only the labels frame shuffles per round.
    val edges = pairs.select(col("id_a").as("a"), col("id_b").as("b"))
      .unionAll(pairs.select(col("id_b").as("a"), col("id_a").as("b")))
      .repartition(col("b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var labels = edges.select(col("a").as("id")).distinct()
      .withColumn("lbl", col("id"))
      .localCheckpoint(true)
    // convergence = an OBSERVED zero-change pass (a diameter-d component
    // needs d label-moving rounds plus one confirming round, all within
    // maxIters); never return silently-wrong labels — a component too
    // deep for the cap must fail loudly, not under-merge.
    var changed = 1L
    var iter = 0
    try {
      while (changed > 0) {
        require(iter < maxIters,
          s"dedupClusters did not converge within $maxIters rounds " +
            "(component diameter exceeds the cap); use algo=\"star\" " +
            "for long-chain graphs")
        val nmin = edges
          .join(labels.select(col("id").as("b"), col("lbl")), Seq("b"))
          .groupBy(col("a").as("id")).agg(min(col("lbl")).as("nlbl"))
        // The previous label rides along into the checkpointed frame, so
        // the convergence count is a filter on `next` itself — not a
        // second join+shuffle against `labels` every round.
        val next = labels.join(nmin, Seq("id"), "left")
          .select(col("id"),
            least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"),
            col("lbl").as("prev"))
          .localCheckpoint(true)
        changed = next.filter(col("lbl") =!= col("prev")).count()
        labels = next.select(col("id"), col("lbl"))
        iter += 1
      }
    } finally edges.unpersist() // also on the non-convergence throw path
    labels
  }

  /** Large-star: every node u connects its strictly-LARGER neighbors to
    * the minimum of its closed neighborhood — emitted as (child, root)
    * edges with root < child always. */
  private def largeStar(e: DataFrame): DataFrame = {
    val und = e.unionAll(e.select(col("b").as("a"), col("a").as("b")))
    val m = und.groupBy(col("a")).agg(min(col("b")).as("mn"))
      .select(col("a"), least(col("mn"), col("a")).as("m"))
    und.join(m, Seq("a"))
      .filter(col("b") > col("a"))
      .select(col("b").as("a"), col("m").as("b"))
      .distinct()
  }

  /** Small-star: every node u connects its smaller-or-equal neighborhood
    * (itself included) to that neighborhood's minimum. Input edges are
    * re-oriented (child > parent) first, so this also canonicalizes. */
  private def smallStar(e: DataFrame): DataFrame = {
    val lt = e.select(greatest(col("a"), col("b")).as("u"),
        least(col("a"), col("b")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    val m = lt.groupBy(col("u")).agg(min(col("v")).as("m"))
    lt.join(m, Seq("u"))
      .filter(col("v") =!= col("m"))
      .select(col("v").as("a"), col("m").as("b"))
      .unionAll(m.select(col("u").as("a"), col("m").as("b")))
      .distinct()
  }

  /** Alternating star contraction to fixpoint: at convergence the edge
    * set is a union of stars (child, component-min root), checked by an
    * unchanged-edge-set round. O(log n) rounds on any topology. */
  private def starContract(pairs: DataFrame, maxIters: Int): DataFrame = {
    var edges = pairs
      .select(col("id_a").as("a"), col("id_b").as("b"))
      .filter(col("a") =!= col("b"))
      .localCheckpoint(true)
    var n = -1L
    var converged = false
    var iter = 0
    while (!converged) {
      require(iter < maxIters,
        s"dedupClusters(star) did not converge within $maxIters rounds")
      val next = smallStar(largeStar(edges)).localCheckpoint(true)
      val n2 = next.count()
      // equal cardinality + one-sided set difference empty ⇒ equal sets
      // (both sides are distinct()); both checks run on checkpointed
      // frames, so no lineage growth
      converged = n2 == n && next.except(edges).isEmpty
      edges = next
      n = n2
      iter += 1
    }
    // fixpoint edges are (child, root); roots never appear as a child
    val nodes = pairs.select(col("id_a").as("id"))
      .unionAll(pairs.select(col("id_b").as("id"))).distinct()
    nodes.join(edges.select(col("a").as("id"), col("b").as("lbl")),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("lbl"), col("id")).as("lbl"))
  }

  /** Transitive near-dup clusters of the documents corpus: components of
    * the q21 pair graph. Only documents that appear in ≥1 near-dup pair
    * are emitted (singletons are trivially their own cluster). */
  def q50DedupClusters(s: SparkSession, d: String): DataFrame =
    // maxBucket explicit for the same reason as q21 (cap trade-off is a
    // call-site decision, not a buried default).
    dedupClusters(neardupPairs(
      documents(s, d).select(col("doc_id"), col("text")),
      bands = 16, rowsPerBand = 4, threshold = 0.8, maxBucket = 1000))

  /** Shared CTE chain: exact-Jaccard pair graph → recursive min-label
    * closure → (id, cluster_rep). Tail of q50Sql and q114Sql. */
  private val closureCte: String =
    """WITH RECURSIVE toks AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '[^a-z]+'), t -> t <> '') AS ws
      |  FROM documents),
      |glists AS (
      |  SELECT doc_id, CASE WHEN len(ws) >= 3
      |    THEN list_distinct(list_transform(range(1, len(ws) - 1),
      |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
      |    ELSE [array_to_string(ws, ' ')] END AS gs
      |  FROM toks),
      |grams AS (SELECT DISTINCT doc_id, unnest(gs) AS g FROM glists),
      |sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ninter
      |  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |pairs AS (
      |  SELECT id_a, id_b FROM inter
      |  JOIN sizes sa ON sa.doc_id = id_a
      |  JOIN sizes sb ON sb.doc_id = id_b
      |  WHERE CAST(ninter AS DOUBLE) / (sa.sz + sb.sz - ninter) >= 0.8),
      |edges AS (
      |  SELECT id_a AS a, id_b AS b FROM pairs
      |  UNION ALL SELECT id_b, id_a FROM pairs),
      |nodes AS (SELECT DISTINCT a AS id FROM edges),
      |cc AS (
      |  SELECT id, id AS lbl FROM nodes
      |  UNION
      |  SELECT e.a AS id, cc.lbl FROM edges e JOIN cc ON e.b = cc.id),
      |reps AS (SELECT id, min(lbl) AS cluster_rep FROM cc GROUP BY id)""".stripMargin

  /** Oracle: the TRUE pair set (exact Jaccard ≥ 0.8) fed to a recursive
    * min-label closure — DuckDB's recursive CTE reaches the same
    * fixpoint the label propagation does. */
  val q50Sql: String =
    s"""$closureCte
       |SELECT id AS doc_id, cluster_rep,
       |  count(*) OVER (PARTITION BY cluster_rep) AS cluster_size
       |FROM reps""".stripMargin

  /** Representative selection — the curation policy AFTER clustering:
    * per near-dup cluster keep the member with the most whitespace
    * tokens (when near-dups are truncations/elisions of one document,
    * the longest version carries the most content), ties to the
    * smallest doc_id. One row per cluster: the kept doc, its token
    * count, and the cluster size.
    *
    * Scale shape: the argmax is max_by PARTIAL aggregation on the
    * (n_tokens, -doc_id) struct key — candidates collapse map-side, no
    * window, no per-cluster sort; the token-count join touches only
    * clustered docs (clusters-graph-sized, not corpus-sized). Token
    * convention is [[nTokensCol]], the q24/q51 oracle-matched count. */
  def q114ClusterKeep(s: SparkSession, d: String): DataFrame = {
    val cl = q50DedupClusters(s, d)
    val nt = documents(s, d)
      .select(col("doc_id"), nTokensCol(col("text")).as("n_tokens"))
    cl.join(nt, Seq("doc_id"))
      .groupBy(col("cluster_rep"))
      .agg(
        max_by(struct(col("doc_id"), col("n_tokens")),
          struct(col("n_tokens"), negate(col("doc_id")))).as("w"),
        max(col("cluster_size")).as("cluster_size"))
      .select(col("cluster_rep"), col("w.doc_id").as("kept_doc"),
        col("w.n_tokens").as("kept_tokens"), col("cluster_size"))
  }

  val q114Sql: String =
    s"""$closureCte,
       |csz AS (SELECT cluster_rep, count(*) AS cluster_size
       |        FROM reps GROUP BY 1),
       |nt AS (SELECT doc_id,
       |         len(list_filter(string_split_regex(text, '\\s+'),
       |             t -> t <> '')) AS n_tokens
       |       FROM documents)
       |SELECT r.cluster_rep, kept_doc, kept_tokens, cluster_size FROM (
       |  SELECT cluster_rep, id AS kept_doc, n_tokens AS kept_tokens,
       |    row_number() OVER (PARTITION BY cluster_rep
       |                       ORDER BY n_tokens DESC, id) AS rn
       |  FROM reps JOIN nt ON nt.doc_id = reps.id) r
       |JOIN csz ON csz.cluster_rep = r.cluster_rep
       |WHERE rn = 1""".stripMargin

  /** The general banded-LSH near-dup pipeline over (doc_id, text).
    * Everything row-oriented and codegen'd: shingle rows → hashed once →
    * 64 min-aggregates → band keys → slim (doc_id, band, bkey) bucket
    * join → candidate pairs verified by an exact gram-intersection join
    * (counts, never array materialization through the shuffle). */
  def neardupPairs(docs: DataFrame, bands: Int, rowsPerBand: Int,
                   threshold: Double, maxBucket: Int = 1000): DataFrame = {
    // Both intermediates are slim multi-consumer frames, lazily
    // checkpointed (r17 optimization, guide §1.2/§2.4): per-consumer
    // inferred filters (isnotnull(doc_id) on join arms, short-doc size
    // branches) make the copies canonically different, so runtime
    // exchange reuse NEVER fires — measured 16 executed parquet scans of
    // `documents` (tokenize+gram-hash ×8 per union arm) in q21 before,
    // 2 after. grams: 16-byte (doc_id, gh) rows, 3
    // consumers (signatures, set sizes, verify intersection); banded:
    // (doc_id, band, bkey) rows, 2 consumers (cap census + capped flow).
    // The cap observes stay ABOVE the checkpoints — CollectMetrics on a
    // checkpointed subtree would never surface in the main query's
    // observedMetrics and the no-silent-caps WARN would go dark.
    // Under spark.graft.dedup.cache=true the checkpoints are SKIPPED:
    // maybeCache already materializes the shared frames once (the cache
    // dedups the consumers the checkpoint exists for), checkpoint+cache
    // would double-materialize, and a checkpoint above the cache hides
    // the InMemoryTableScan that the cache audits (DedupSpec,
    // PlanAuditSpec q40) assert on. Scale note (§5): a localCheckpoint
    // eagerly pins O(total grams) rows to executor-local storage and is
    // not replayable on executor loss — on a 100 TB corpus run with
    // dedup.cache=true instead (MEMORY_AND_DISK, spillable, replayable).
    val ckpt = !docs.sparkSession.conf
      .getOption("spark.graft.dedup.cache").exists(_.toBoolean)
    val grams0 = gramHashRows(docs)
    val grams = if (ckpt) grams0.localCheckpoint(false) else grams0
    val banded0 = bandedRows(grams, bands, rowsPerBand)
    val banded = if (ckpt) banded0.localCheckpoint(false) else banded0

    // Bucket-size cap: an adversarial bucket of k docs (e.g. a boiler-
    // plate band value shared corpus-wide) would emit k² candidates.
    // Buckets above `maxBucket` are dropped from candidate generation.
    // RECALL CAVEAT: for a group of NEAR-IDENTICAL docs larger than the
    // cap, ALL 16 band buckets are the same oversized bucket, so the
    // whole group loses candidate generation — not one band of it (the
    // DedupSpec cap test shows exactly this). That is the deliberate
    // trade: such groups are boilerplate floods, and the intended
    // composition (q40) runs EXACT dedup first, which collapses
    // identical copies before LSH ever sees them. The q21 oracle has no
    // cap (the bucket construction isn't SQL-expressible) — it agrees
    // because no bucket approaches the cap on real corpora; a corpus
    // with a >maxBucket near-dup flood needs the exact-dedup pass first.
    // Oversized buckets are RARE BY CONSTRUCTION (≤ total_rows/maxBucket
    // of them), so the cap is a broadcast ANTI-join against that tiny
    // set — no window, no sort, no extra shuffle of the banded rows.
    // NO SILENT CAPS: CollectMetrics (`observe`) nodes count banded rows
    // entering and surviving the cap anti-join — zero extra jobs — and
    // GraftSession's listener WARNs whenever they differ (DedupSpec
    // asserts the metrics fire on a planted flood). The observes sit on
    // the MAIN flow: a metric attached to the broadcast (bigBuckets)
    // subtree is never surfaced in QueryExecution.observedMetrics.
    // AQE caveat (verified empirically): if EVERY banded row is capped,
    // AQEPropagateEmptyRelation replaces the emptied subtree and the
    // metrics vanish with it; partial drops — the realistic silent-
    // recall-loss case — always report. A monitoring pipeline that needs
    // the signal even for total drops can exclude that rule via
    // spark.sql.adaptive.optimizer.excludedRules or run the
    // [[oversizedBuckets]] diagnostic.
    val bigBuckets = banded.groupBy(col("band"), col("bkey"))
      .agg(count(lit(1)).as("bsize"))
      .filter(col("bsize") > maxBucket)
      .select(col("band"), col("bkey"))
    val bounded = banded
      .observe("graft_neardup_cap_in", count(lit(1)).as("banded_rows"))
      .join(broadcast(bigBuckets), Seq("band", "bkey"), "left_anti")
      .observe("graft_neardup_cap_out", count(lit(1)).as("banded_rows"))

    val candidates = bounded.select(col("band"), col("bkey"), col("doc_id").as("id_a"))
      .join(bounded.select(col("band"), col("bkey"), col("doc_id").as("id_b")),
        Seq("band", "bkey"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct() // a pair may share many bands

    verifyJaccard(candidates, grams, threshold)
  }

  /** (doc_id, band, bkey) LSH bucket rows: band key = murmur3 of the
    * signature slice; shared key ⇒ candidate. Band index explodes as
    * plain rows and the slice start is a column expression — no
    * transform() lambda. */
  private def bandedRows(grams: DataFrame, bands: Int,
                         rowsPerBand: Int): DataFrame =
    minhashSigs(grams, bands * rowsPerBand)
      .select(col("doc_id"), col("sig"),
        explode(expr(s"sequence(0, ${bands - 1})")).as("band"))
      .select(col("doc_id"), col("band"),
        hash(slice(col("sig"), col("band") * rowsPerBand + 1, lit(rowsPerBand)))
          .as("bkey"))

  /** Monitoring diagnostic for the [[neardupPairs]] bucket cap: the
    * (band, bkey, bsize) buckets that a run with this `maxBucket` DROPS
    * from candidate generation. A curation pipeline runs this next to
    * the capped dedup when it needs a guaranteed drop signal (the inline
    * observe metrics disappear under AQE empty-relation propagation when
    * a flood caps EVERY bucket — see neardupPairs). Same plan shape as
    * the cap itself: one partial-aggregated groupBy of the banded rows. */
  def oversizedBuckets(docs: DataFrame, bands: Int, rowsPerBand: Int,
                       maxBucket: Int): DataFrame =
    bandedRows(gramHashRows(docs), bands, rowsPerBand)
      .groupBy(col("band"), col("bkey"))
      .agg(count(lit(1)).as("bsize"))
      .filter(col("bsize") > maxBucket)

  /** Exact Jaccard for candidate pairs from distinct gram rows:
    * |A∩B| via a per-pair gram join, sizes via per-doc counts. */
  private def verifyJaccard(candidates: DataFrame, gh: DataFrame,
                            threshold: Double): DataFrame = {
    val sizes = gh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val inter = candidates
      .join(gh.select(col("doc_id").as("id_a"), col("gh")), Seq("id_a"))
      .join(gh.select(col("doc_id").as("id_b"), col("gh")), Seq("id_b", "gh"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("ninter"))
    inter
      .join(sizes.select(col("doc_id").as("id_a"), col("sz").as("sz_a")), Seq("id_a"))
      .join(sizes.select(col("doc_id").as("id_b"), col("sz").as("sz_b")), Seq("id_b"))
      .withColumn("jaccard", col("ninter").cast("double") /
        (col("sz_a") + col("sz_b") - col("ninter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Number of SimHash fingerprint bits. 60 rather than 64 so the
    * per-token hash can be the leading 15 hex chars of md5 (`md5_bits`)
    * — an engine-portable construction (both Spark and DuckDB have md5, so
    * the whole fingerprint is oracle-checkable; xxhash64 is Spark-only).
    * 60 bits lose nothing for near-dup detection: Hamming distance on a
    * random 60-bit vs 64-bit simhash separates dup/non-dup identically. */
  val simhashBits = 60

  /** SimHash fingerprint per document: each token votes ±1 on each bit of
    * its 60-bit md5-derived hash; bit b of the fingerprint is 1 iff the
    * vote sum is positive. Tokens are hashed ONCE (n string hashes), then
    * the bit-votes run over the precomputed longs. Near-dups land within
    * small Hamming distance (asserted in DedupSpec). */
  def simhash(docs: DataFrame): DataFrame = {
    // explode + codegen'd SUM aggregates (partial agg map-side)
    // instead of interpreted higher-order lambdas.
    simhashVotes(wordRows(docs).select(col("doc_id"), md5Bits(col("w")).as("h")),
      "simhash")
  }

  /** The simhash fold of (doc_id, h) rows: bit b of the (doc_id, `out`)
    * output is 1 iff more rows have bit b of h set than clear. */
  private[operators] def simhashVotes(hashed: DataFrame, out: String): DataFrame = {
    val votes = (0 until simhashBits).map { b =>
      sum(shiftright(col("h"), b).bitwiseAND(lit(1L)) * lit(2L) - lit(1L)).as(s"v$b")
    }
    hashed.groupBy(col("doc_id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"),
        (0 until simhashBits).map { b =>
          when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L))
        }.reduce(_ + _).as(out))
  }

  def q31Simhash(s: SparkSession, d: String): DataFrame =
    simhash(documents(s, d))

  /** DuckDB replica of [[simhash]]: same tokens, same md5-derived 60-bit
    * token hash (`CAST('0x'||hex AS BIGINT)`), same bit votes. */
  val q31Sql: String = {
    val voteCols = (0 until simhashBits)
      .map(b => s"sum(((h >> $b) & 1) * 2 - 1) AS v$b").mkString(", ")
    val bits = (0 until simhashBits)
      .map(b => s"CASE WHEN v$b > 0 THEN ${1L << b} ELSE 0 END").mkString(" + ")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(list_filter(
       |    string_split_regex(lower(text), '[^a-z]+'), t -> t <> '')) AS t
       |  FROM documents),
       |h AS (SELECT doc_id,
       |        CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) AS h FROM toks),
       |v AS (SELECT doc_id, $voteCols FROM h GROUP BY doc_id)
       |SELECT doc_id, CAST($bits AS BIGINT) AS simhash FROM v""".stripMargin
  }

  /** Gram rows restricted to grams with document frequency ≤ `maxDf`:
    * a stop-gram in k docs contributes k² pairs to an inverted-index
    * self-join, so the cap bounds join output at Σ_{df≤maxDf} df²
    * regardless of corpus skew. Above-cap grams number ≤
    * total_rows/maxDf — tiny — so the cap is a broadcast anti-join, not
    * a window over every gram row. */
  private[operators] def capGramDf(gh: DataFrame, maxDf: Int): DataFrame = {
    val stopGrams = gh.groupBy(col("gh"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf)
      .select(col("gh"))
    gh.join(broadcast(stopGrams), Seq("gh"), "left_anti")
  }

  /** Pairs sharing ≥1 sub-cap gram, from a single inverted-index
    * self-join (never materialized per-pair-per-gram). Used by the
    * planted-stop-gram bound test; the q22 pipeline inlines the same
    * shape to reuse the join output for the intersection counts. */
  private[operators] def jaccardCandidates(gh: DataFrame, maxDf: Int): DataFrame = {
    val bounded = capGramDf(gh, maxDf)
    bounded.select(col("doc_id").as("id_a"), col("gh"))
      .join(bounded.select(col("doc_id").as("id_b"), col("gh")), Seq("gh"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
  }

  /** Stop-gram-filtered n-gram (word trigram) Jaccard: Jaccard over the
    * sub-cap gram sets (df ≤ 1000), computed in ONE inverted-index
    * self-join + per-pair aggregation — the intersection count and the
    * candidate generation are the same pass, so nothing pair×gram is
    * ever re-joined. The cap changes the SEMANTIC (standard stop-gram
    * removal: a pair overlapping only in corpus-wide boilerplate scores
    * 0), and the oracle replicates the cap exactly, so both engines
    * compute the identical bounded measure at any scale. On this corpus
    * no trigram reaches df 1000, making the result equal to true Jaccard.
    * Output: pairs with filtered Jaccard ≥ 0.2. */
  def q22NgramJaccard(s: SparkSession, d: String): DataFrame = {
    // join key is the 64-bit hash of the gram, not the string — the
    // shuffle ships 8 bytes per gram instead of ~20 chars (collision
    // probability over ~250k distinct grams is ~1e-9 — negligible).
    val gh = sharedGramFrame(documents(s, d).select(col("doc_id"), col("text")))
    val bounded = capGramDf(gh, maxDf = 1000)
    val sizes = bounded.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val inter = spreadForSelfJoin(bounded)
      .select(col("doc_id").as("id_a"), col("gh"))
      .join(bounded.select(col("doc_id").as("id_b"), col("gh")), Seq("gh"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("ninter"))
    inter
      .join(sizes.select(col("doc_id").as("id_a"), col("sz").as("sz_a")), Seq("id_a"))
      .join(sizes.select(col("doc_id").as("id_b"), col("sz").as("sz_b")), Seq("id_b"))
      .withColumn("jaccard", col("ninter").cast("double") /
        (col("sz_a") + col("sz_b") - col("ninter")).cast("double"))
      .filter(col("jaccard") >= 0.2)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  val q22Sql: String = exactJaccardSql(0.2, maxDf = 1000)

  /** The q22/q255 gram frame, materialized ONCE: its four consumers
    * (stop-gram census, per-doc sizes, both inverted-index join arms)
    * carry canonically different inferred filters, so runtime exchange
    * reuse never fires and each re-ran the whole tokenize→shingle
    * pipeline — 4 documents scans per query (OPTIMIZATION_r18.md §11).
    * Gated the neardupPairs way: under spark.graft.dedup.cache the maybeCache
    * inside gramHashRows already dedups the consumers (checkpoint+cache
    * would double-materialize). */
  private def sharedGramFrame(docs: DataFrame): DataFrame = {
    val gh = gramHashRows(docs)
    if (docs.sparkSession.conf
        .getOption("spark.graft.dedup.cache").exists(_.toBoolean)) gh
    else gh.localCheckpoint(false)
  }

  /** Pin-spread the STREAMED arm of an inverted-index self-join: AQE
    * coalesces the slim gram rows by BYTES (sf1: 8 post-coalesce
    * partitions carrying 8.5 MB), but the join EXPLODES df² pair rows
    * per gram into the same stage's aggregate — measured on q22 at the
    * sf1 grain: 155 s of task time in 8 tasks (19.8 s wall on 32
    * cores). REPARTITION_BY_NUM with the conf-derived count is
    * AQE-proof and moves only the slim rows once.
    *
    * Keyed by doc_id, NOT the join key: the streamed arm becomes id_a,
    * so doc_id partitioning co-locates EVERY pair row of a given
    * (id_a, id_b) — the per-pair intersection partial aggregate
    * collapses to one row per pair map-side. A gh-keyed spread was
    * measured first: same 32-way parallelism, but each pair's rows
    * scatter across the gram partitions and the partial aggregate
    * stopped collapsing — 1.1 GB partial-output exchange, wall
    * unchanged.
    *
    * This pays only while the id_b arm is broadcast. Once that arm
    * outgrows the broadcast threshold (larger SF, looser df cap), the
    * join becomes a shuffle join that re-exchanges BOTH sides on gh,
    * which discards the doc_id layout: the pinned doc_id shuffle is
    * then pure overhead, one extra exchange of the streamed arm. */
  private def spreadForSelfJoin(gramRows: DataFrame): DataFrame =
    gramRows.repartition(
      gramRows.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt,
      col("doc_id"))

  /** Duplicated-SPAN statistics per document — the substring-level dedup
    * signal of Lee et al., "Deduplicating Training Data Makes Language
    * Models Better" (ACL'22), at fixed span width instead of suffix
    * arrays: for every word 8-gram OCCURRENCE (position, not distinct
    * gram — a doc repeating a crawled boilerplate line 10 times has 10
    * flagged spans), is that 8-gram present in ≥2 distinct documents?
    * Output per doc: span count, cross-document duplicated span count,
    * and their ratio — the "fraction of this document that is copied
    * from elsewhere in the corpus" curation signal.
    *
    * Scale shape: occurrence rows are slim (doc_id, pos, 8-byte hash);
    * the cross-doc gram set is one distinct + partial-aggregated count
    * on the hash; flagging is a semi join on the hash — inverted-index
    * passes only, nothing pair×pair, no windows. Docs with < 8 tokens
    * have no spans and are excluded on both engines. */
  def q72DupSpans(s: SparkSession, d: String): DataFrame =
    dupSpanStats(documents(s, d).select(col("doc_id"), col("text")), 8)

  /** See [[q72DupSpans]]; any (doc_id, text) frame, any span width. */
  def dupSpanStats(docs: DataFrame, n: Int): DataFrame = {
    val t = docs.repartition(col("doc_id"))
      .withColumn("toks", tokensCodegen(col("text")))
      .filter(size(col("toks")) >= n)
    val spans = t
      .select(col("doc_id"), col("toks"), posexplode(col("toks")))
      .filter(col("pos") <= size(col("toks")) - n)
      .select(col("doc_id"),
        xxhash64((col("col") +:
          (2 to n).map(j => element_at(col("toks"), col("pos") + j))): _*)
          .as("gh"))
    val crossDoc = spans.dropDuplicates("doc_id", "gh")
      .groupBy(col("gh")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2).select(col("gh"))
    val perDoc = spans.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"))
    val dupPerDoc = spans.join(crossDoc, Seq("gh"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup_spans"))
    perDoc.join(dupPerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        round(coalesce(col("n_dup_spans"), lit(0L)).cast("double") /
          col("n_spans").cast("double"), 6).as("dup_frac"))
  }

  val q72Sql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '[^a-z]+'), t -> t <> '') AS ws
      |  FROM documents),
      |spans AS (
      |  SELECT doc_id, array_to_string(ws[i:i+7], ' ') AS g
      |  FROM toks, UNNEST(range(1, len(ws) - 6)) AS t(i)),
      |crossdoc AS (
      |  SELECT g FROM (SELECT g, count(DISTINCT doc_id) AS nd
      |                 FROM spans GROUP BY 1) WHERE nd >= 2),
      |perdoc AS (
      |  SELECT doc_id, count(*) AS n_spans,
      |    sum(CASE WHEN g IN (SELECT g FROM crossdoc) THEN 1 ELSE 0 END) AS n_dup
      |  FROM spans GROUP BY 1)
      |SELECT doc_id, n_spans, CAST(n_dup AS BIGINT) AS n_dup_spans,
      |  round(CAST(n_dup AS DOUBLE) / n_spans, 6) AS dup_frac
      |FROM perdoc""".stripMargin

  /** EXACT trigram-set Jaccard similarity self-join via prefix filtering
    * — the AllPairs/PPJoin candidate-generation scheme (Bayardo et al.,
    * "Scaling Up All Pairs Similarity Search", WWW'07): order every
    * document's distinct shingles by ONE global total order (ascending
    * document frequency, rarest first), and two sets with Jaccard >= t
    * MUST share an item within their first n - ceil(t*n) + 1 items. So
    * candidates come from an inverted index over PREFIXES only, plus the
    * length filter t*max(n_a,n_b) <= min(n_a,n_b) — and unlike the
    * MinHash-LSH path (q21, recall < 1) or the df-capped gram join
    * (q22, drops super-frequent grams), the result is EXACT: the
    * verification step computes true Jaccard on the full sets and every
    * qualifying pair provably survives candidate generation
    * (differential-tested against naive all-pairs in DedupSpec).
    *
    * Scale shape: prefix rows are a (1-t) fraction of the distinct-item
    * rows, and prefixes hold each doc's RAREST shingles, so the
    * inverted-index join is naturally skew-resistant (a boilerplate gram
    * shared by every doc lands in almost no prefixes — the opposite of
    * q22's cap-managed skew). Items are the 8-byte gram hashes of
    * [[gramHashRows]] (~1e-9 collision odds over a 250k-gram
    * vocabulary); verification intersects rank-sorted hash arrays
    * carried once per candidate side. */
  def q77PrefixJoin(s: SparkSession, d: String): DataFrame =
    prefixSimilarityJoin(documents(s, d).select(col("doc_id"), col("text")), 0.5)

  /** See [[q77PrefixJoin]]: trigram-shingle sets (the q21/q22 set
    * granularity, via [[gramHashRows]] — word sets are not discriminative
    * on near-dup corpora), any threshold. */
  def prefixSimilarityJoin(docs: DataFrame, t: Double): DataFrame =
    prefixJoinItems(gramHashRows(docs), t)

  /** Prefix-filtered exact similarity join over DISTINCT (doc_id, gh)
    * item rows — set granularity is the caller's choice. */
  /** Per-doc item array, rank-sorted by the caller's (df, gh) total
    * order. The set table feeds several consumers (prefix rows, both
    * verify sides); the lazy localCheckpoint makes them share ONE
    * materialization of the tokenize→shingle→df-join→collect pipeline
    * instead of re-deriving it from raw text per consumer (measured ~18
    * scans → 1 at sf0.1 — BASELINE.md), without leaking session cache:
    * the blocks are reclaimed with the frame by the context cleaner. */
  private def rankedSets(items: DataFrame, dfreq: DataFrame): DataFrame =
    items.join(dfreq, Seq("gh"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("df"), col("gh")))).as("s"))
      .select(col("doc_id"),
        expr("transform(s, x -> x.gh)").as("tk"), size(col("s")).as("n"))
      .localCheckpoint(false)

  /** The n − ⌈t·n⌉ + 1 rarest items of each set, exploded to rows. */
  private def prefixRows(sets: DataFrame, t: Double): DataFrame =
    sets.select(col("doc_id"), col("n"),
      explode(slice(col("tk"), lit(1),
        (col("n") - ceil(col("n") * lit(t)) + lit(1)).cast("int"))).as("gh"))

  /** Exact-Jaccard verification of candidate (aCol, bCol) pairs against
    * the rank-sorted set tables. */
  private def verifyPairs(cand: DataFrame, setsA: DataFrame, setsB: DataFrame,
      aCol: String, bCol: String, t: Double): DataFrame =
    cand
      .join(setsA.select(col("doc_id").as(aCol), col("tk").as("tk_a"),
        col("n").as("n_a")), Seq(aCol))
      .join(setsB.select(col("doc_id").as(bCol), col("tk").as("tk_b"),
        col("n").as("n_b")), Seq(bCol))
      .withColumn("inter", size(array_intersect(col("tk_a"), col("tk_b"))))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("n_a") + col("n_b") - col("inter")).cast("double"))
      .where(col("jaccard") >= t)
      .select(col(aCol), col(bCol), round(col("jaccard"), 6).as("jaccard"))

  def prefixJoinItems(items: DataFrame, t: Double): DataFrame = {
    require(t > 0 && t <= 1, s"threshold must be in (0,1], got $t")
    val dfreq = items.groupBy(col("gh")).agg(count(lit(1)).as("df"))
    val sets = rankedSets(items, dfreq)
    verifyPairs(prefixCandidates(sets, t), sets, sets, "id_a", "id_b", t)
  }

  /** The candidate stage alone (visible for DedupSpec's skew-resistance
    * assertion): pairs sharing a PREFIX item + passing the length
    * filter. A corpus-wide stopword generates ~no candidates here — it
    * sorts LAST in the df order and thus falls outside almost every
    * prefix — where a plain shared-token inverted index would emit all
    * O(n²) pairs. */
  private[operators] def prefixCandidates(sets: DataFrame, t: Double): DataFrame = {
    val prefix = prefixRows(sets, t)
    prefix
      .select(col("gh"), col("doc_id").as("id_a"), col("n").as("n_a"))
      .join(prefix.select(col("gh"), col("doc_id").as("id_b"),
        col("n").as("n_b")), Seq("gh"))
      .where(col("id_a") < col("id_b") &&
        col("n_a") * lit(t) <= col("n_b") && col("n_b") * lit(t) <= col("n_a"))
      .select(col("id_a"), col("id_b")).distinct()
  }

  /** Rank-sorted set table for [[prefixCandidates]] tests. */
  private[operators] def rankedSetsOf(items: DataFrame): DataFrame =
    rankedSets(items, items.groupBy(col("gh")).agg(count(lit(1)).as("df")))

  /** INCREMENTAL near-dup screen — the production dedup mode: a new
    * crawl batch is checked against the EXISTING corpus without ever
    * re-self-joining the corpus. Same prefix-filter guarantee as
    * [[prefixJoinItems]] (one total order — df over batch ∪ corpus —
    * shared by both sides makes the cross-table theorem hold: a
    * batch/corpus pair with Jaccard >= t must collide within the two
    * prefixes), so the screen is EXACT, and the corpus-side work is one
    * distinct-item pass + its prefix rows: at 100 TB the corpus prefix
    * index is write-once/reusable per batch, the batch side is tiny,
    * and nothing batch-internal or corpus-internal is ever paired. */
  def prefixJoinItemsTwo(itemsNew: DataFrame, itemsCorpus: DataFrame,
      t: Double): DataFrame = {
    require(t > 0 && t <= 1, s"threshold must be in (0,1], got $t")
    val dfreq = itemsNew.unionAll(itemsCorpus)
      .groupBy(col("gh")).agg(count(lit(1)).as("df"))
    val sn = rankedSets(itemsNew, dfreq)
    val sc = rankedSets(itemsCorpus, dfreq)
    val cand = prefixRows(sn, t)
      .select(col("gh"), col("doc_id").as("id_new"), col("n").as("n_a"))
      .join(prefixRows(sc, t).select(col("gh"),
        col("doc_id").as("id_corpus"), col("n").as("n_b")), Seq("gh"))
      .where(col("n_a") * lit(t) <= col("n_b") &&
        col("n_b") * lit(t) <= col("n_a"))
      .select(col("id_new"), col("id_corpus")).distinct()
    verifyPairs(cand, sn, sc, "id_new", "id_corpus", t)
  }

  /** See [[prefixJoinItemsTwo]]: the src0 batch against the rest of the
    * corpus at trigram granularity. */
  def q82IncrementalDedup(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).select(col("doc_id"), col("text"), col("source"))
    prefixJoinItemsTwo(
      gramHashRows(docs.where(col("source") === "src0")
        .select(col("doc_id"), col("text"))),
      gramHashRows(docs.where(col("source") =!= "src0")
        .select(col("doc_id"), col("text"))), 0.5)
  }

  val q82Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, source, list_filter(
      |    string_split_regex(lower(text), '[^a-z]+'), t -> t <> '') AS ws
      |  FROM documents),
      |glists AS (
      |  SELECT doc_id, source, CASE WHEN len(ws) >= 3
      |    THEN list_distinct(list_transform(range(1, len(ws) - 1),
      |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
      |    ELSE [array_to_string(ws, ' ')] END AS gs
      |  FROM toks),
      |grams AS (SELECT DISTINCT doc_id, source, unnest(gs) AS g FROM glists),
      |sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY 1),
      |inter AS (
      |  SELECT a.doc_id AS id_new, b.doc_id AS id_corpus, count(*) AS ninter
      |  FROM grams a JOIN grams b ON a.g = b.g
      |  WHERE a.source = 'src0' AND b.source <> 'src0'
      |  GROUP BY 1, 2)
      |SELECT id_new, id_corpus,
      |  round(CAST(ninter AS DOUBLE) / (sa.sz + sb.sz - ninter), 6) AS jaccard
      |FROM inter
      |JOIN sizes sa ON sa.doc_id = id_new
      |JOIN sizes sb ON sb.doc_id = id_corpus
      |WHERE CAST(ninter AS DOUBLE) / (sa.sz + sb.sz - ninter) >= 0.5""".stripMargin

  /** Same trigram-set oracle as q21/q22 but UNCAPPED — the operator's
    * exactness claim is precisely "q22 semantics without the df-cap
    * heuristic", so the oracle must not cap either. */
  val q77Sql: String = exactJaccardSql(0.5)

  /** DIRECTED trigram containment |A∩B|/|A| ≥ 0.8 — the asymmetric
    * near-dup relation Jaccard misses: a short doc fully embedded in a
    * much longer one (quoted boilerplate, a page wrapped in a bigger
    * crawl) has low Jaccard (union is large) but high containment, and
    * the standard curation policy is to drop the CONTAINED side. Output
    * is the ordered pair (id_a contained-in id_b).
    *
    * Round-11 formulation: PREFIX-FILTERED over the same df-capped gram
    * universe (cap semantics unchanged — the oracle has the cap too).
    * Containment ≥ t needs overlap ≥ ⌈t·|A|⌉, so if none of A's
    * n_A − ⌈t·n_A⌉ + 1 RAREST grams (global (df, gh) order) appears in
    * B, the overlap is < ⌈t·n_A⌉ — candidates from A-prefix × B-full
    * rows are therefore EXACT, and a near-df-cap gram generates pairs
    * only against the few docs whose prefix still contains it, instead
    * of |df|² pairs in the round-10 inverted-index form
    * ([[containmentPairs]], kept as the A/B baseline). The sf1 sweep
    * exposed that |df|² blow-up as the suite's worst scaler (73 s,
    * BASELINE.md); the prefix form is the same family fix q77 applies
    * to Jaccard, plus the containment-specific length filter
    * n_B ≥ t·n_A (B smaller than t·|A| cannot contain t of A).
    * Verification is exact array_intersect against the ONE
    * checkpointed rank-sorted set table (the q77 machinery). */
  def q121Containment(s: SparkSession, d: String): DataFrame =
    containmentPrefixJoin(
      capGramDf(gramHashRows(
        documents(s, d).select(col("doc_id"), col("text"))), 1000), 0.8)

  /** df-capped distinct gram items — the q22/q121 set universe, exposed
    * for the reference forms in DedupPropertiesSpec. */
  def cappedGramItems(docs: DataFrame, maxDf: Int): DataFrame =
    capGramDf(gramHashRows(docs), maxDf)

  /** q22's inverted-index Jaccard shape at any (maxDf, threshold) — the
    * baseline of BASELINE.md §"Round-11: prefix filtering does NOT pay
    * at low thresholds (q22 A/B)". */
  def q22Shape(docs: DataFrame, maxDf: Int, threshold: Double): DataFrame = {
    val bounded = cappedGramItems(docs, maxDf)
    val sizes = bounded.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val inter = bounded.select(col("doc_id").as("id_a"), col("gh"))
      .join(bounded.select(col("doc_id").as("id_b"), col("gh")), Seq("gh"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("ninter"))
    inter
      .join(sizes.select(col("doc_id").as("id_a"), col("sz").as("sz_a")), Seq("id_a"))
      .join(sizes.select(col("doc_id").as("id_b"), col("sz").as("sz_b")), Seq("id_b"))
      .withColumn("jaccard", col("ninter").cast("double") /
        (col("sz_a") + col("sz_b") - col("ninter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Prefix-filtered directed containment join over DISTINCT (doc_id,
    * gh) item rows. See [[q121Containment]] for the exactness argument. */
  private[operators] def containmentPrefixJoin(items: DataFrame,
      t: Double): DataFrame = {
    require(t > 0 && t <= 1, s"threshold must be in (0,1], got $t")
    val dfreq = items.groupBy(col("gh")).agg(count(lit(1)).as("df"))
    val sets = rankedSets(items, dfreq)
    val prefix = prefixRows(sets, t)
    val full = sets.select(col("doc_id"), col("n"),
      explode(col("tk")).as("gh"))
    val cand = prefix
      .select(col("gh"), col("doc_id").as("id_a"), col("n").as("n_a"))
      .join(full.select(col("gh"), col("doc_id").as("id_b"),
        col("n").as("n_b")), Seq("gh"))
      .where(col("id_a") =!= col("id_b") &&
        col("n_b").cast("double") >= col("n_a").cast("double") * lit(t))
      .select(col("id_a"), col("id_b")).distinct()
    cand
      .join(sets.select(col("doc_id").as("id_a"), col("tk").as("tk_a"),
        col("n").as("n_a")), Seq("id_a"))
      .join(sets.select(col("doc_id").as("id_b"), col("tk").as("tk_b")),
        Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("tk_a"), col("tk_b"))))
      .withColumn("containment",
        col("inter").cast("double") / col("n_a").cast("double"))
      .where(col("containment") >= t)
      .select(col("id_a"), col("id_b"),
        round(col("containment"), 6).as("containment"))
  }

  /** See [[q121Containment]]; any (doc_id, text) frame.
    *
    * The intersection is symmetric, so it's counted ONCE per unordered
    * pair (id_a < id_b in the gram self-join — half the pair-shuffle
    * rows of the naive directed form) and only then mirrored into both
    * directed candidates; the direction-specific part is just the
    * denominator join. Measured ~2× less pair-stage work for identical
    * output. */
  private[operators] def containmentPairs(docs: DataFrame, maxDf: Int,
      threshold: Double): DataFrame = {
    val gh = gramHashRows(docs)
    val bounded = capGramDf(gh, maxDf)
    val sizes = bounded.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val undirected = bounded.select(col("doc_id").as("id_a"), col("gh"))
      .join(bounded.select(col("doc_id").as("id_b"), col("gh")), Seq("gh"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("ninter"))
    val inter = undirected.unionAll(
      undirected.select(col("id_b").as("id_a"), col("id_a").as("id_b"),
        col("ninter")))
    inter
      .join(sizes.select(col("doc_id").as("id_a"), col("sz").as("sz_a")), Seq("id_a"))
      .withColumn("containment",
        col("ninter").cast("double") / col("sz_a").cast("double"))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"),
        round(col("containment"), 6).as("containment"))
  }

  val q121Sql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '[^a-z]+'), t -> t <> '') AS ws
      |  FROM documents),
      |glists AS (
      |  SELECT doc_id, CASE WHEN len(ws) >= 3
      |    THEN list_distinct(list_transform(range(1, len(ws) - 1),
      |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
      |    ELSE [array_to_string(ws, ' ')] END AS gs
      |  FROM toks),
      |grams AS (SELECT DISTINCT doc_id, unnest(gs) AS g FROM glists),
      |capped AS (
      |  SELECT doc_id, g FROM grams
      |  WHERE g IN (SELECT g FROM grams GROUP BY g HAVING count(*) <= 1000)),
      |sizes AS (SELECT doc_id, count(*) AS sz FROM capped GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ninter
      |  FROM capped a JOIN capped b ON a.g = b.g AND a.doc_id <> b.doc_id
      |  GROUP BY 1, 2)
      |SELECT id_a, id_b,
      |  round(CAST(ninter AS DOUBLE) / sa.sz, 6) AS containment
      |FROM inter JOIN sizes sa ON sa.doc_id = id_a
      |WHERE CAST(ninter AS DOUBLE) / sa.sz >= 0.8""".stripMargin

  /** Sorted-neighborhood dedup (Hernández–Stolfo SNM): sort the corpus
    * by a blocking key (first 32 normalized chars), slide a w=5 window
    * down the sorted order, and verify only rank-adjacent candidates
    * with exact trigram Jaccard — the third candidate-generation family
    * in the suite beside hashing (MinHash/SimHash buckets) and inverted
    * lists (q22/q77/q121). Candidates are ≤ n·w with NO dependence on
    * gram frequency, which is SNM's selling point on boilerplate-heavy
    * corpora where shared-gram fan-out explodes.
    *
    * Scale shape: the global sort order comes from
    * [[Relational.globalRank]] (range partition + local rank + broadcast
    * offsets — never an Exchange SinglePartition); the window becomes
    * w equi-joins on rank_b = rank_a + k (slim integer keys via one
    * k-explode); the Jaccard verify joins gram hashes only for the
    * surviving pairs. Pairs with zero shared trigrams drop (inner join),
    * mirrored exactly in the oracle. */
  def q133SnmNeardup(s: SparkSession, d: String): DataFrame =
    snmNeardup(documents(s, d).select(col("doc_id"), col("text")), w = 5)

  /** See [[q133SnmNeardup]]; any (doc_id, text) frame. */
  private[operators] def snmNeardup(docs: DataFrame, w: Int): DataFrame = {
    val keyed = docs.withColumn("sortkey",
      substring(concat_ws(" ", tokensCodegen(col("text"))), 1, 32))
    val ranked = Relational.globalRank(keyed.select(col("doc_id"), col("sortkey")),
        col("sortkey"), col("doc_id"), parts = 32)
      .select(col("doc_id"), col("rnk"))
      .localCheckpoint(false)
    val pairs = ranked.select(col("doc_id").as("id_a"), col("rnk"))
      .withColumn("k", explode(array((1 to w).map(lit): _*)))
      .withColumn("rnk_b", col("rnk") + col("k"))
      .join(ranked.select(col("doc_id").as("id_b"), col("rnk").as("rnk_b")),
        Seq("rnk_b"))
      .select(col("id_a"), col("id_b"))
    val gh = gramHashRows(docs)
    val sizes = gh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val inter = pairs
      .join(gh.select(col("doc_id").as("id_a"), col("gh")), Seq("id_a"))
      .join(gh.select(col("doc_id").as("id_b"), col("gh")), Seq("id_b", "gh"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("ninter"))
    inter
      .join(sizes.select(col("doc_id").as("id_a"), col("sz").as("sz_a")), Seq("id_a"))
      .join(sizes.select(col("doc_id").as("id_b"), col("sz").as("sz_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(col("ninter").cast("double") /
          (col("sz_a") + col("sz_b") - col("ninter")).cast("double"), 6)
          .as("jaccard"))
  }

  val q133Sql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '[^a-z]+'), t -> t <> '') AS ws
      |  FROM documents),
      |keyed AS (
      |  SELECT doc_id, substr(array_to_string(ws, ' '), 1, 32) AS sortkey
      |  FROM toks),
      |ranked AS (
      |  SELECT doc_id, row_number() OVER (ORDER BY sortkey, doc_id) AS rnk
      |  FROM keyed),
      |pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM ranked a JOIN ranked b
      |    ON b.rnk > a.rnk AND b.rnk <= a.rnk + 5),
      |glists AS (
      |  SELECT doc_id, CASE WHEN len(ws) >= 3
      |    THEN list_distinct(list_transform(range(1, len(ws) - 1),
      |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
      |    ELSE [array_to_string(ws, ' ')] END AS gs
      |  FROM toks),
      |grams AS (SELECT DISTINCT doc_id, unnest(gs) AS g FROM glists),
      |sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY doc_id),
      |inter AS (
      |  SELECT p.id_a, p.id_b, count(*) AS ninter
      |  FROM pairs p
      |  JOIN grams ga ON ga.doc_id = p.id_a
      |  JOIN grams gb ON gb.doc_id = p.id_b AND gb.g = ga.g
      |  GROUP BY 1, 2)
      |SELECT id_a, id_b,
      |  round(CAST(ninter AS DOUBLE) / (sa.sz + sb.sz - ninter), 6) AS jaccard
      |FROM inter
      |JOIN sizes sa ON sa.doc_id = id_a
      |JOIN sizes sb ON sb.doc_id = id_b""".stripMargin

  private val SubstrK = 8

  /** Cross-document EXACT-SUBSTRING duplication coverage — the
    * suffix-array dedup of Lee et al., "Deduplicating Training Data
    * Makes Language Models Better" (ACL 2022), re-expressed
    * relationally: a document position is duplicated if the K=8-token
    * shingle starting there occurs verbatim in at least one OTHER
    * document. Reports, per document containing any such span, the
    * number of covered token positions and the count of maximal
    * duplicated runs (the [[Analytics.intervalMerge]] island pattern
    * inlined so the per-doc token count rides along the same rows —
    * no second scan of the corpus).
    *
    * This completes the dedup families: exact doc (q20), hashed
    * near-dup (q21/q31/q42), inverted-list (q22/q77/q121), sorted-
    * neighborhood (q133) — and now sub-document exact substrings,
    * which none of the others can see (a plagiarized paragraph inside
    * an otherwise-unique page).
    *
    * Scale shape: one scan of documents; positions are O(total tokens)
    * slim rows (doc, pos, n_toks, shingle); ONE shuffle on the shingle
    * where `min(doc) < max(doc)` over the partition decides cross-doc
    * duplication (no distinct-count, no self-join, no candidate pair
    * blow-up — fan-out is exactly 1 row per position regardless of how
    * hot a shingle is); one shuffle on doc_id for the island windows.
    * At 100 TB the shingle shuffle key would be a 128-bit fingerprint
    * of the shingle rather than the string itself (the q20 md5
    * discipline); the gate keeps the hash-free semantic so the oracle
    * needs no hash convention. All outputs integer — engine-exact. */
  def q134ExactSubstr(s: SparkSession, d: String): DataFrame =
    exactSubstr(documents(s, d).select(col("doc_id"), col("text")), SubstrK)

  /** See [[q134ExactSubstr]]; any (doc_id, text) frame. */
  private[operators] def exactSubstr(docs: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.withColumn("toks", tokensCodegen(col("text")))
      .filter(size(col("toks")) >= k)
    val pos = toks
      .select(col("doc_id"), size(col("toks")).as("n_toks"), col("toks"),
        posexplode(col("toks")))
      .filter(col("pos") <= col("n_toks") - k)
      .select(col("doc_id"), col("n_toks"), col("pos"),
        concat_ws(" ", (0 until k).map(j =>
          element_at(col("toks"), col("pos") + j + 1)): _*).as("sh"))
    // streamed agg + join, not an unordered window on sh (r16): a
    // boilerplate k-gram shared by millions of documents is one window
    // group buffered in one task; the groupBy streams min/max map-side
    // and ships one row per distinct shingle. The explode feeds both
    // join sides and is deliberately recomputed (2x map-side k-gram
    // construction, embarrassingly parallel) rather than checkpointed —
    // materializing the full k-gram set to save CPU would cost corpus-
    // scale storage, and the old window's one-task group buffering is
    // the failure mode this removes
    val shSpan = pos.groupBy(col("sh"))
      .agg(min(col("doc_id")).as("sh_min"), max(col("doc_id")).as("sh_max"))
      .filter(col("sh_min") < col("sh_max"))
      .select(col("sh"))
    val dup = pos
      .join(shSpan, Seq("sh"), "left_semi")
      .select(col("doc_id"), col("n_toks"), col("pos").as("s0"),
        (col("pos") + k - 1).as("e0"))
    // intervalMerge island pattern, inlined to carry n_toks
    val w = Window.partitionBy(col("doc_id")).orderBy(col("s0"), col("e0"))
    dup
      .withColumn("pmax", max(col("e0")).over(
        w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("brk",
        when(col("pmax").isNull || col("s0") > col("pmax"), 1L).otherwise(0L))
      .withColumn("island", sum(col("brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("island"))
      .agg(max(col("n_toks")).as("nt"),
        (max(col("e0")) - min(col("s0")) + 1).as("len"))
      .groupBy(col("doc_id"))
      .agg(max(col("nt")).cast("long").as("n_toks"),
        sum(col("len")).cast("long").as("dup_tokens"),
        count(lit(1)).as("n_islands"))

  }

  val q134Sql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '[^a-z]+'), t -> t <> '') AS ws
      |  FROM documents),
      |pos AS (
      |  SELECT doc_id, len(ws) AS n_toks, ws,
      |    unnest(range(0, len(ws) - 7)) AS p
      |  FROM toks WHERE len(ws) >= 8),
      |sh AS (
      |  SELECT doc_id, n_toks, p,
      |    array_to_string(ws[p+1 : p+8], ' ') AS s
      |  FROM pos),
      |dup AS (
      |  SELECT doc_id, n_toks, p AS s0, p + 7 AS e0
      |  FROM (SELECT *,
      |          min(doc_id) OVER (PARTITION BY s) < max(doc_id) OVER (PARTITION BY s) AS isdup
      |        FROM sh)
      |  WHERE isdup),
      |f AS (
      |  SELECT doc_id, n_toks, s0, e0,
      |    max(e0) OVER (PARTITION BY doc_id ORDER BY s0, e0
      |                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
      |  FROM dup),
      |g AS (
      |  SELECT doc_id, n_toks, s0, e0,
      |    CASE WHEN pmax IS NULL OR s0 > pmax THEN 1 ELSE 0 END AS brk
      |  FROM f),
      |h AS (
      |  SELECT doc_id, n_toks, s0, e0,
      |    sum(brk) OVER (PARTITION BY doc_id ORDER BY s0, e0
      |                   ROWS UNBOUNDED PRECEDING) AS island
      |  FROM g),
      |isl AS (
      |  SELECT doc_id, island, max(n_toks) AS nt,
      |    max(e0) - min(s0) + 1 AS len
      |  FROM h GROUP BY doc_id, island)
      |SELECT doc_id, CAST(max(nt) AS BIGINT) AS n_toks,
      |  CAST(sum(len) AS BIGINT) AS dup_tokens,
      |  count(*) AS n_islands
      |FROM isl GROUP BY doc_id""".stripMargin

  /** CLUSTER-SIZE HISTOGRAM over the q50 near-dup components — the
    * dedup HEALTH METRIC a curation run reports before deleting
    * anything: how many clusters of each size exist (a long tail of
    * pairs is normal; one giant component usually means a boilerplate
    * shingle slipped the df-cap and glued the corpus together, and at
    * 100 TB you want that as a 10-row report, not a post-mortem).
    *
    * Scale shape: rides the q50 component output; distinct
    * (cluster, size) collapses to clusters-sized, then a partial-agg
    * count onto ≤|distinct sizes| rows. */
  def q171ClusterHistogram(s: SparkSession, d: String): DataFrame =
    q50DedupClusters(s, d)
      .select(col("cluster_rep"), col("cluster_size"))
      .distinct()
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))

  val q171Sql: String =
    s"""SELECT cluster_size, count(*) AS n_clusters
       |FROM (SELECT DISTINCT cluster_rep, cluster_size
       |      FROM ($q50Sql) t0) t
       |GROUP BY 1""".stripMargin

  /** SIMHASH HAMMING JOIN — the pair-finding step q31's signatures
    * exist for, via the PIGEONHOLE multi-index (Manku–Jain–Sarma,
    * WWW'07): the 60-bit signature splits into 4 bands of 15 bits;
    * any pair within Hamming distance 3 differs in at most 3 bands,
    * so it SHARES at least one band verbatim — candidates come only
    * from band-bucket equality (full recall at radius 3 by
    * construction, never an all-pairs product), then the exact
    * distance bit_count(xor) ≤ 3 verifies. Complements MinHash (set
    * overlap) and SNM (sort neighborhoods): SimHash distance tracks
    * weighted token-multiset similarity.
    *
    * Scale shape: signatures computed once and checkpointed (two
    * self-join consumers); 4× band fan-out, bucket equi-join on
    * (band, value), DISTINCT collapses multi-band hits, exact verify
    * is a per-row bit op. Bucket skew is bounded by the corpus's true
    * near-dup cluster sizes — the same frontier every LSH shares
    * (q21's bucket-cap listener applies verbatim if clusters blow up). */
  def q158SimhashJoin(s: SparkSession, d: String): DataFrame = {
    val sig = simhash(documents(s, d))
      .repartition(col("doc_id")).localCheckpoint(false)
    val bands = sig.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("simhash"), b * 15).bitwiseAND(lit(0x7FFFL))
            .as("bv"))): _*)).as("bk"))
      .select(col("doc_id"), col("simhash"),
        col("bk.band").as("band"), col("bk.bv").as("bv"))
    bands.as("a")
      .join(bands.as("b").hint("SHUFFLE_HASH"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        expr("bit_count(a.simhash ^ b.simhash)").cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
  }

  val q158Sql: String =
    s"""WITH sig AS (${q31Sql}),
       |bands AS (
       |  SELECT doc_id, simhash, g.band,
       |    (simhash >> (g.band * 15)) & 32767 AS bv
       |  FROM sig CROSS JOIN
       |    (SELECT CAST(range AS INTEGER) AS band FROM range(4)) g),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |    CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id)
       |SELECT id_a, id_b, hamming FROM cand WHERE hamming <= 3""".stripMargin

  /** BUCKETED EVENT DEDUP — the batch half of the streaming dedup pair
    * (EventStreams.streamingBucketDedup): collapse each
    * (user, event_type, hour) bucket to its earliest event and report
    * the per-(type, day) raw vs kept census. The ingest-throttling
    * shape every training-data pipeline runs in front of expensive
    * enrichment: at-least-once delivery and client retries produce
    * key-level duplicates that must die BEFORE the heavy operators.
    *
    * The hour bucket is what makes the batch and streaming forms agree
    * EXACTLY: every duplicate chain is bounded by its bucket, so
    * "earliest per bucket" (batch, order-free) equals "first seen per
    * bucket" (streaming, dropDuplicatesWithinWatermark) whenever each
    * key's events arrive in ts order — StreamingDedupSpec pins the
    * differential, and the census here is the gate-checkable surface.
    *
    * Scale shape: one partial-aggregated groupBy on the bucket key
    * (map-side collapse eats the duplicates before the shuffle), then
    * a second days×types-sized rollup. No windows, no sort. */
  def q192BucketDedup(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .select(col("event_type"), col("user_id"),
        date_trunc("hour", col("ts")).as("hour"))
      .groupBy(col("event_type"), col("user_id"), col("hour"))
      .agg(count(lit(1)).as("n_in_bucket"))
      .groupBy(col("event_type"), col("hour").cast("date").as("day"))
      .agg(sum(col("n_in_bucket")).as("n_raw"),
        count(lit(1)).as("n_kept"),
        sum(col("n_in_bucket") - 1L).as("n_dropped"),
        max(col("n_in_bucket")).as("max_bucket"))

  val q192Sql: String =
    """WITH b AS (
      |  SELECT event_type, user_id,
      |    date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
      |    count(*) AS n_in_bucket
      |  FROM events GROUP BY 1, 2, 3)
      |SELECT event_type, CAST(hour AS DATE) AS day,
      |  CAST(sum(n_in_bucket) AS BIGINT) AS n_raw,
      |  count(*) AS n_kept,
      |  CAST(sum(n_in_bucket - 1) AS BIGINT) AS n_dropped,
      |  CAST(max(n_in_bucket) AS BIGINT) AS max_bucket
      |FROM b GROUP BY 1, 2""".stripMargin

  /** SOURCE-LEVEL MINHASH SIMILARITY MATRIX — the MinHash counterpart
    * of q195's HLL set algebra: a 32-hash signature per SOURCE (min
    * over every shingle the source contains), pairwise similarity
    * estimated as the fraction of agreeing components, with the exact
    * shingle Jaccard riding along as the self-evaluation (the q55
    * recall-gate convention). This is how corpus-overlap matrices are
    * actually computed at scale: signatures are 32 longs per source
    * and MERGE by element-wise min (associative), so per-shard
    * signatures roll up without ever co-locating two sources' shingle
    * sets — only the exact side (kept here as the referee, dropped in
    * production) needs the shingle-level join.
    *
    * Portability: q21's production signatures use xxhash64, which
    * DuckDB cannot replicate, so this family hashes each shingle with
    * 32 seeded md5 prefixes (the fixed-point idiom) — slower per gram,
    * bit-identical across engines, and the gate compares SIGNATURE
    * AGREEMENT, not just set sizes.
    *
    * Scale shape: distinct (source, gram) rows fan 32× into seeded
    * hashes that partial-agg min map-side onto |sources|·32 rows; the
    * pairwise compare is a join on the 32-row axis of a sources²-sized
    * frame (sources are few by construction — this is a per-corpus
    * matrix, not a per-doc one). */
  def q198SourceMinhash(s: SparkSession, d: String): DataFrame = {
    val t = documents(s, d)
      .withColumn("toks", tokensCodegen(col("text")))
      .filter(size(col("toks")) >= 3)
    val grams = t
      .select(col("source"), col("toks"), posexplode(col("toks")))
      .filter(col("pos") <= size(col("toks")) - 3)
      .select(col("source"),
        concat_ws(" ", col("col"),
          element_at(col("toks"), col("pos") + 2),
          element_at(col("toks"), col("pos") + 3)).as("g"))
      .distinct()
      .localCheckpoint(false) // consumers: signatures + exact referee
    val sigs = grams
      .select(col("source"), explode(array((0 until 32).map(lit): _*)).as("j"),
        col("g"))
      .select(col("source"), col("j"),
        md5Bits(concat(col("g"), lit("|"), col("j").cast("string"))).as("h"))
      .groupBy(col("source"), col("j"))
      .agg(min(col("h")).as("m"))
    val est = sigs.as("a")
      .join(sigs.as("b"),
        col("a.j") === col("b.j") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(sum(when(col("a.m") === col("b.m"), 1L).otherwise(0L)).as("matches"))
      .select(col("source_a"), col("source_b"),
        expr("(matches * 1000000000L) div 32").as("est_sim_fp"))
    val sizes = grams.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val inter = grams.as("a")
      .join(grams.as("b"),
        col("a.g") === col("b.g") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_inter"))
    est
      .join(inter, Seq("source_a", "source_b"), "left")
      .join(sizes.select(col("source").as("source_a"), col("n").as("na")),
        Seq("source_a"))
      .join(sizes.select(col("source").as("source_b"), col("n").as("nb")),
        Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("est_sim_fp"),
        coalesce(col("n_inter"), lit(0L)).as("n_inter"),
        (col("na") + col("nb") - coalesce(col("n_inter"), lit(0L)))
          .as("n_union"),
        expr("(coalesce(n_inter, 0L) * 1000000000L) div " +
          "(na + nb - coalesce(n_inter, 0L))").as("exact_sim_fp"))
  }

  val q198Sql: String =
    """WITH t AS (
      |  SELECT source, list_filter(string_split_regex(lower(text),
      |    '[^a-z]+'), x -> x <> '') AS toks
      |  FROM documents),
      |grams AS (
      |  SELECT DISTINCT source,
      |    unnest(list_transform(range(1, len(toks) - 1),
      |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS g
      |  FROM t WHERE len(toks) >= 3),
      |sigs AS (
      |  SELECT source, j,
      |    min(CAST('0x' || substr(md5(g || '|' || CAST(j AS VARCHAR)),
      |        1, 15) AS BIGINT)) AS m
      |  FROM grams CROSS JOIN
      |    (SELECT CAST(range AS INTEGER) AS j FROM range(32))
      |  GROUP BY 1, 2),
      |est AS (
      |  SELECT a.source AS source_a, b.source AS source_b,
      |    (sum(CASE WHEN a.m = b.m THEN 1 ELSE 0 END) * 1000000000)
      |      // 32 AS est_sim_fp
      |  FROM sigs a JOIN sigs b
      |    ON a.j = b.j AND a.source < b.source
      |  GROUP BY 1, 2),
      |sizes AS (SELECT source, count(*) AS n FROM grams GROUP BY 1),
      |inter AS (
      |  SELECT a.source AS source_a, b.source AS source_b,
      |    count(*) AS n_inter
      |  FROM grams a JOIN grams b
      |    ON a.g = b.g AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT e.source_a, e.source_b,
      |  CAST(e.est_sim_fp AS BIGINT) AS est_sim_fp,
      |  CAST(coalesce(i.n_inter, 0) AS BIGINT) AS n_inter,
      |  CAST(sa.n + sb.n - coalesce(i.n_inter, 0) AS BIGINT) AS n_union,
      |  CAST((coalesce(i.n_inter, 0) * 1000000000)
      |    // (sa.n + sb.n - coalesce(i.n_inter, 0)) AS BIGINT)
      |    AS exact_sim_fp
      |FROM est e
      |LEFT JOIN inter i ON e.source_a = i.source_a
      |  AND e.source_b = i.source_b
      |JOIN sizes sa ON e.source_a = sa.source
      |JOIN sizes sb ON e.source_b = sb.source""".stripMargin

  /** NEAR-DUP DECONTAMINATION CENSUS — the fuzzy counterpart of q45's
    * exact n-gram contamination screen, and the 200th gated operator:
    * with doc_id % 7 == 0 as the held-out eval split, find every TRAIN
    * document that is a ≥0.8-Jaccard near-duplicate of ANY eval
    * document (the leakage exact matching misses: reformatted copies,
    * minor edits) and report the per-source leak census. This is the
    * decontamination pass every pretraining pipeline runs before
    * training — benchmark answers leak as near-dups far more often
    * than as byte-identical strings.
    *
    * Built ON [[neardupPairs]] unchanged: LSH candidates from shared
    * band buckets only, exact-Jaccard verification, bucket caps with
    * observe counters — then the pair set is filtered to CROSS-SPLIT
    * pairs and collapsed to the train side. Recall is the q21
    * argument: at s ≥ 0.8 with 16×4 bands, P(candidate) ≥ 0.9998,
    * and the oracle computes the TRUE cross-split pair set (no LSH),
    * so the gate measures recall too.
    *
    * Scale shape: q21's shape plus a doc-sized split-flag join and a
    * sources-sized rollup; the leak set is pairs-sized, DISTINCT'd
    * before the final anti-style left join. */
  def q200NeardupDecontam(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).select(col("doc_id"), col("text"), col("source"))
    val pairs = neardupPairs(docs.select(col("doc_id"), col("text")),
      bands = 16, rowsPerBand = 4, threshold = 0.8)
    val side = docs.select(col("doc_id"), (col("doc_id") % 7 === 0).as("ev"))
    val leaks = pairs
      .join(side.select(col("doc_id").as("id_a"), col("ev").as("ea")),
        Seq("id_a"))
      .join(side.select(col("doc_id").as("id_b"), col("ev").as("eb")),
        Seq("id_b"))
      .filter(col("ea") =!= col("eb"))
      .select(when(col("ea"), col("id_b")).otherwise(col("id_a"))
        .as("train_id"))
      .distinct()
    docs.filter(col("doc_id") % 7 =!= 0)
      .join(leaks, col("doc_id") === col("train_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_train"),
        sum(when(col("train_id").isNotNull, 1L).otherwise(0L)).as("n_leaked"))
      .withColumn("leak_rate_fp",
        expr("(n_leaked * 1000000000L) div n_train"))
  }

  val q200Sql: String =
    s"""WITH pairs AS (${exactJaccardSql(0.8)}),
       |side AS (SELECT doc_id, doc_id % 7 = 0 AS ev FROM documents),
       |leak AS (
       |  SELECT DISTINCT CASE WHEN sa.ev THEN p.id_b ELSE p.id_a END
       |      AS train_id
       |  FROM pairs p
       |  JOIN side sa ON p.id_a = sa.doc_id
       |  JOIN side sb ON p.id_b = sb.doc_id
       |  WHERE sa.ev <> sb.ev)
       |SELECT d.source, count(*) AS n_train,
       |  CAST(sum(CASE WHEN l.train_id IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_leaked,
       |  CAST((sum(CASE WHEN l.train_id IS NOT NULL THEN 1 ELSE 0 END)
       |    * 1000000000) // count(*) AS BIGINT) AS leak_rate_fp
       |FROM documents d LEFT JOIN leak l ON d.doc_id = l.train_id
       |WHERE d.doc_id % 7 <> 0
       |GROUP BY 1""".stripMargin

  /** N-GRAM-LEVEL DECONTAMINATION CENSUS — the third granularity of the
    * contamination family: q45 flags exact whole-doc n-gram overlap
    * presence, q200 flags whole-doc NEAR-dups; this measures, per train
    * document, WHAT FRACTION of its distinct word 8-grams appear
    * anywhere in the held-out split (doc_id % 7 == 0, the q200
    * convention) — the contamination metric eval suites actually
    * publish (GPT-3 appendix C / PaLM style n-gram overlap), catching
    * partial leakage (a quoted benchmark question inside an otherwise
    * clean document) that whole-doc methods miss. A train doc is
    * flagged when ≥10% of its distinct 8-grams are eval-contaminated
    * (integer cross-multiply, never a float ratio).
    *
    * Grams are 60-bit md5-prefix hashes of the space-joined 8-token
    * windows (engine-portable; collisions at 2^-60 are below any
    * corpus's pair count). Docs with fewer than 8 tokens have ZERO
    * grams and are censused via the left join with n_grams = 0 — never
    * dropped (the q175 lesson).
    *
    * Scale shape: both sides reduce to DISTINCT (key, gram) frames with
    * map-side partial aggregation; the probe is one equi join on the
    * gram hash (at real scale the eval side is benchmark-sized —
    * broadcastable; here it is corpus/7, so the shuffle join is the
    * honest plan); per-doc then per-source rollups. Nothing is ever
    * pairs-of-docs. */
  def q210NgramDecontam(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).select(col("doc_id"), col("text"), col("source"))
      .withColumn("toks", tokensCodegen(col("text")))
    val evalGrams = gramHashes(docs.filter(col("doc_id") % 7 === 0), 8)
      .select(col("gram")).distinct()
    val trainGrams = gramHashes(docs.filter(col("doc_id") % 7 =!= 0), 8)
    val perDoc = trainGrams
      .join(evalGrams.withColumn("hit", lit(1L)), Seq("gram"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
    docs.filter(col("doc_id") % 7 =!= 0).select(col("doc_id"), col("source"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("source"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_train"),
        sum(when(col("n_grams") > 0, 1L).otherwise(0L)).as("n_with_grams"),
        sum(when(col("n_hit") * 10 >= col("n_grams") && col("n_grams") > 0,
          1L).otherwise(0L)).as("n_contaminated"),
        sum(col("n_hit")).as("total_hits"))
  }

  val q210Sql: String =
    """WITH tk AS (
      |  SELECT doc_id, source,
      |    list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |      t -> t <> '') AS toks
      |  FROM documents),
      |gr AS (
      |  SELECT DISTINCT doc_id, CAST('0x' || substr(md5(g), 1, 15)
      |      AS BIGINT) AS gram
      |  FROM (
      |    SELECT doc_id, unnest(list_transform(
      |      generate_series(1, greatest(len(toks) - 7, 0)),
      |      j -> array_to_string(toks[j:j+7], ' '))) AS g
      |    FROM tk)),
      |ev AS (SELECT DISTINCT gram FROM gr WHERE doc_id % 7 = 0),
      |pd AS (
      |  SELECT g.doc_id, count(*) AS n_grams,
      |    CAST(sum(CASE WHEN e.gram IS NOT NULL THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_hit
      |  FROM gr g LEFT JOIN ev e ON g.gram = e.gram
      |  WHERE g.doc_id % 7 <> 0
      |  GROUP BY 1)
      |SELECT t.source, count(*) AS n_train,
      |  CAST(sum(CASE WHEN coalesce(pd.n_grams, 0) > 0 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_with_grams,
      |  CAST(sum(CASE WHEN coalesce(pd.n_hit, 0) * 10
      |      >= coalesce(pd.n_grams, 0) AND coalesce(pd.n_grams, 0) > 0
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
      |  CAST(sum(coalesce(pd.n_hit, 0)) AS BIGINT) AS total_hits
      |FROM tk t LEFT JOIN pd ON t.doc_id = pd.doc_id
      |WHERE t.doc_id % 7 <> 0
      |GROUP BY 1""".stripMargin

  /** DECONTAMINATION n-GRAM SWEEP (round-16): q210 gates one n (8);
    * the pipeline decision is which n to RUN WITH — GPT-3's 13-gram
    * standard barely fires on short prose, 4-grams flag everything.
    * This query measures the contamination-rate curve at n ∈ {4, 8, 13}
    * over the SAME eval/train split (doc_id % 7), all integers: per n,
    * train docs carrying ≥1 n-gram, docs with ≥1 eval hit, total
    * distinct grams and hits. The curve (hits collapsing as n grows)
    * is the overlap-length distribution a decontam owner reads before
    * picking the production threshold.
    *
    * Scale shape: the q237 sweep discipline — tokenize ONCE into a
    * local checkpoint, one distinct-gram pass per n (3 passes, each the
    * q210 shape: map-side gram hashing, distinct, broadcast-or-shuffle
    * left join against the eval set), unioned 3-row output. */
  def q264DecontamSweep(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).select(col("doc_id"), col("text"))
      .withColumn("toks", tokensCodegen(col("text")))
      .select(col("doc_id"), col("toks"))
      .localCheckpoint(false) // consumers: one gram pass per n
    Seq(4, 8, 13).map { n =>
      val ev = gramHashes(docs.filter(col("doc_id") % 7 === 0), n)
        .select(col("gram")).distinct()
      val perDoc = gramHashes(docs.filter(col("doc_id") % 7 =!= 0), n)
        .join(ev.withColumn("hit", lit(1L)), Seq("gram"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      perDoc.agg(
        count(lit(1)).as("docs_with_grams"),
        sum(when(col("n_hit") > 0, 1L).otherwise(0L)).as("docs_hit"),
        sum(col("n_grams")).as("grams_total"),
        sum(col("n_hit")).as("grams_hit"))
        .select(lit(n.toLong).as("n"), col("docs_with_grams"),
          col("docs_hit"), col("grams_total"), col("grams_hit"))
    }.reduce(_ unionByName _)
  }

  private def q264ArmSql(n: Int): String =
    s"""a$n AS (
       |  SELECT DISTINCT doc_id, CAST('0x' || substr(md5(g), 1, 15)
       |      AS BIGINT) AS gram
       |  FROM (
       |    SELECT doc_id, unnest(list_transform(
       |      generate_series(1, greatest(len(toks) - ${n - 1}, 0)),
       |      j -> array_to_string(toks[j:j+${n - 1}], ' '))) AS g
       |    FROM tk)),
       |e$n AS (SELECT DISTINCT gram FROM a$n WHERE doc_id % 7 = 0),
       |p$n AS (
       |  SELECT g.doc_id, count(*) AS n_grams,
       |    CAST(sum(CASE WHEN e.gram IS NOT NULL THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_hit
       |  FROM a$n g LEFT JOIN e$n e ON g.gram = e.gram
       |  WHERE g.doc_id % 7 <> 0
       |  GROUP BY 1),
       |r$n AS (
       |  SELECT CAST($n AS BIGINT) AS n, count(*) AS docs_with_grams,
       |    CAST(sum(CASE WHEN n_hit > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS docs_hit,
       |    CAST(sum(n_grams) AS BIGINT) AS grams_total,
       |    CAST(sum(n_hit) AS BIGINT) AS grams_hit
       |  FROM p$n)""".stripMargin

  val q264Sql: String =
    s"""WITH tk AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(lower(text), '[^a-z]+'),
       |      t -> t <> '') AS toks
       |  FROM documents),
       |${Seq(4, 8, 13).map(q264ArmSql).mkString(",\n")}
       |SELECT * FROM r4 UNION ALL SELECT * FROM r8
       |UNION ALL SELECT * FROM r13""".stripMargin

  /** WINNOWING FINGERPRINTS (Schleimer, Wilkerson & Aiken, SIGMOD 2003
    * — the MOSS algorithm; round-15): q28's single min-hash fingerprint
    * answers "same document?"; winnowing selects a SET of fingerprints
    * with a POSITIONAL GUARANTEE — in every window of `w` consecutive
    * 5-gram hashes at least one is selected (the window minimum,
    * rightmost on ties) — so any shared substring of ≥ w+4 tokens
    * between two documents shares at least one fingerprint: the
    * guarantee that makes fingerprint-index plagiarism/overlap lookup
    * sound where uniform sampling can miss arbitrarily long matches.
    * Output per document: window count, fingerprints selected, distinct
    * hashes, the min hash (content witness), and the selection density
    * (theory: ≈ 2/(w+1) = 0.4 for w = 4 on random hashes).
    *
    * Scale shape: per-row gram hashing, a ≤w-fan-out window-membership
    * explode, and two (doc, window)-grain aggregations — all map-side
    * partial, nothing corpus×corpus; the fingerprint SET (not built
    * here) is what a downstream index would join on. Documents under
    * w+4 tokens yield no windows and are absent — the document-grain
    * q28/minhash paths cover short docs. 60-bit md5-prefix hashes
    * ([[graft.functions.Md5Bits]]) keep both engines bit-identical. */
  def q251Winnowing(s: SparkSession, d: String): DataFrame = {
    val g = documents(s, d)
      .select(col("doc_id"), tokensCodegen(col("text")).as("tk"))
      .where(size(col("tk")) >= 8 && element_at(col("tk"), 1) =!= "")
      .select(col("doc_id"), (size(col("tk")) - 7).cast("long").as("n_windows"),
        posexplode(expr(
          "transform(sequence(1, size(tk) - 4), q -> " +
            "md5_bits(concat_ws(' ', slice(tk, q, 5))))")).as(Seq("pos", "h")))
      .select(col("doc_id"), col("n_windows"),
        (col("pos") + 1).cast("long").as("p"), col("h"))
      .localCheckpoint(false) // consumers: membership ×2 + hash lookup
    val memb = g.select(col("doc_id"), col("n_windows"), col("p"), col("h"),
        explode(expr("sequence(greatest(p - 3, 1L), least(p, n_windows))"))
          .as("i"))
      .localCheckpoint(false) // consumers: window minima + rightmost pick
    val mins = memb.groupBy(col("doc_id"), col("i"))
      .agg(min(col("h")).as("mn"))
    val sel = memb.join(mins, Seq("doc_id", "i"))
      .where(col("h") === col("mn"))
      .groupBy(col("doc_id"), col("i")).agg(max(col("p")).as("sp"))
      .select(col("doc_id"), col("sp")).distinct()
    sel.join(g.select(col("doc_id"), col("n_windows"),
        col("p").as("sp"), col("h")), Seq("doc_id", "sp"))
      .groupBy(col("doc_id"))
      .agg(max(col("n_windows")).as("n_windows"),
        count(lit(1)).as("n_fp"),
        countDistinct(col("h")).as("n_fp_distinct"),
        min(col("h")).as("min_fp"))
      .select(col("doc_id"), col("n_windows"), col("n_fp"),
        col("n_fp_distinct"), col("min_fp"),
        round(col("n_fp").cast("double") / col("n_windows"), 6).as("density"))
  }

  val q251Sql: String =
    """WITH tk AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text),
      |    '[^a-z]+'), t -> t <> '') AS tk
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, CAST(len(tk) - 7 AS BIGINT) AS n_windows,
      |    CAST(p AS BIGINT) AS p,
      |    CAST('0x' || substr(md5(array_to_string(
      |      list_slice(tk, p, p + 4), ' ')), 1, 15) AS BIGINT) AS h
      |  FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 4)) AS p
      |        FROM tk WHERE len(tk) >= 8)),
      |memb AS (
      |  SELECT doc_id, n_windows, p, h,
      |    unnest(generate_series(greatest(p - 3, 1), least(p, n_windows)))
      |      AS i
      |  FROM g),
      |mins AS (SELECT doc_id, i, min(h) AS mn FROM memb GROUP BY 1, 2),
      |sel AS (
      |  SELECT DISTINCT m.doc_id, sp FROM (
      |    SELECT m2.doc_id, m2.i, max(m2.p) AS sp
      |    FROM memb m2 JOIN mins
      |      ON m2.doc_id = mins.doc_id AND m2.i = mins.i AND m2.h = mins.mn
      |    GROUP BY 1, 2) m),
      |fph AS (
      |  SELECT g.doc_id, g.h, g.n_windows
      |  FROM sel JOIN g ON g.doc_id = sel.doc_id AND g.p = sel.sp)
      |SELECT doc_id, max(n_windows) AS n_windows,
      |  count(*) AS n_fp, count(DISTINCT h) AS n_fp_distinct,
      |  min(h) AS min_fp,
      |  round(CAST(count(*) AS DOUBLE) / max(n_windows), 6) AS density
      |FROM fph GROUP BY 1""".stripMargin

  /** MINHASH SIMILARITY ESTIMATE vs EXACT REFEREE (round-15, the
    * q244/q246 estimator-vs-truth pattern for THE dedup estimator):
    * E[fraction of agreeing minhash components] = the true Jaccard
    * (Broder 1997), which is the entire soundness argument behind the
    * LSH pipeline (q21) — but the gate never measured it. Here every
    * q22 candidate pair (exact trigram Jaccard ≥ 0.2, df-capped) gets
    * a 16-component MD5 minhash signature per side and the gate pins
    * exact, estimate (= matches/16, an exact dyadic), and |error| —
    * cross-engine, so the hashing convention, the min fold, and the
    * agreement count are all gated. Production signatures use the
    * native `minhash_bands` kernel; this referee recomputes them in
    * portable md5 ("i:gram", 60-bit prefix — [[graft.functions.Md5Bits]])
    * because the gate needs DuckDB to derive the identical signature.
    *
    * Scale shape: grams × 16 seeds (linear, the referee's cost) →
    * per-(doc, seed) min fold (map-side partial) → signatures join
    * only the BOUNDED candidate-pair set. Never all-pairs. */
  def q258MinhashEstimate(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = documents(s, d).select(col("doc_id"), col("text"))
    // trigram STRINGS with q22's short-doc fallback (the exactJaccardSql
    // gram universe — the estimator must hash the same set the exact
    // Jaccard measures)
    val t = docs.withColumn("toks", tokensCodegen(col("text")))
    val grams = t.filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(toks) - 2), i -> concat_ws(' ', " +
          "element_at(toks, i), element_at(toks, i + 1), " +
          "element_at(toks, i + 2)))")).as("g"))
      .unionAll(t.filter(size(col("toks")) < 3)
        .select(col("doc_id"), concat_ws(" ", col("toks")).as("g")))
      .distinct()
    // the q22 stop-gram df cap — dead at gate scale (df ≤ |docs| < 1000)
    // but the Σ|bucket|² guard the pair join needs at 100 TB; estimator
    // and exact measure the SAME capped universe
    val stop = grams.groupBy(col("g")).agg(count(lit(1)).as("df"))
      .filter(col("df") > 1000).select(col("g"))
    val capped = grams.join(broadcast(stop), Seq("g"), "left_anti")
      .localCheckpoint(false) // consumers: sizes, inter, 16-seed fold
    val seeds = (0 until 16).toDF("i")
    val sig = capped.crossJoin(broadcast(seeds))
      .select(col("doc_id"), col("i"),
        md5Bits(concat(col("i"), lit(":"), col("g"))).as("h"))
      .groupBy(col("doc_id"), col("i")).agg(min(col("h")).as("mh"))
    val sizes = capped.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val pairs = capped.select(col("doc_id").as("id_a"), col("g"))
      .join(capped.select(col("doc_id").as("id_b"), col("g")), Seq("g"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("ninter"))
      .join(sizes.select(col("doc_id").as("id_a"), col("sz").as("sz_a")), Seq("id_a"))
      .join(sizes.select(col("doc_id").as("id_b"), col("sz").as("sz_b")), Seq("id_b"))
      .withColumn("jaccard", col("ninter").cast("double") /
        (col("sz_a") + col("sz_b") - col("ninter")).cast("double"))
      .filter(col("jaccard") >= 0.2)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
    pairs
      .join(sig.select(col("doc_id").as("id_a"), col("i"), col("mh").as("ma")), Seq("id_a"))
      .join(sig.select(col("doc_id").as("id_b"), col("i"), col("mh").as("mb")),
        Seq("id_b", "i"))
      .groupBy(col("id_a"), col("id_b"), col("jaccard"))
      .agg(sum(when(col("ma") === col("mb"), 1L).otherwise(0L)).as("matches"))
      .select(col("id_a"), col("id_b"), col("jaccard"), col("matches"),
        (col("matches").cast("double") / 16).as("est"),
        round(abs(col("matches").cast("double") / 16 - col("jaccard")), 6)
          .as("abs_err"))
  }

  val q258Sql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '[^a-z]+'), t -> t <> '') AS ws
      |  FROM documents),
      |grams AS (
      |  SELECT DISTINCT doc_id, unnest(CASE WHEN len(ws) >= 3
      |    THEN list_transform(range(1, len(ws) - 1),
      |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
      |    ELSE [array_to_string(ws, ' ')] END) AS g
      |  FROM toks),
      |capped AS (
      |  SELECT doc_id, g FROM grams
      |  WHERE g IN (SELECT g FROM grams GROUP BY g HAVING count(*) <= 1000)),
      |sig AS (
      |  SELECT doc_id, i,
      |    min(CAST('0x' || substr(md5(i || ':' || g), 1, 15) AS BIGINT)) AS mh
      |  FROM capped, (SELECT CAST(unnest(range(16)) AS INT) AS i)
      |  GROUP BY 1, 2),
      |sizes AS (SELECT doc_id, count(*) AS sz FROM capped GROUP BY 1),
      |pairs AS (
      |  SELECT id_a, id_b,
      |    round(CAST(ninter AS DOUBLE) / (sa.sz + sb.sz - ninter), 6) AS jaccard
      |  FROM (
      |    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ninter
      |    FROM capped a JOIN capped b ON a.g = b.g AND a.doc_id < b.doc_id
      |    GROUP BY 1, 2) i
      |  JOIN sizes sa ON sa.doc_id = id_a
      |  JOIN sizes sb ON sb.doc_id = id_b
      |  WHERE CAST(ninter AS DOUBLE) / (sa.sz + sb.sz - ninter) >= 0.2)
      |SELECT id_a, id_b, jaccard,
      |  CAST(sum(CASE WHEN x.mh = y.mh THEN 1 ELSE 0 END) AS BIGINT)
      |    AS matches,
      |  sum(CASE WHEN x.mh = y.mh THEN 1 ELSE 0 END) / 16.0 AS est,
      |  round(abs(sum(CASE WHEN x.mh = y.mh THEN 1 ELSE 0 END) / 16.0
      |    - jaccard), 6) AS abs_err
      |FROM pairs
      |JOIN sig x ON x.doc_id = id_a
      |JOIN sig y ON y.doc_id = id_b AND y.i = x.i
      |GROUP BY 1, 2, 3""".stripMargin

  /** NEAR-DUP THRESHOLD SWEEP (round-15): the q237/q220 design-table
    * discipline applied to THE near-dup knob — the Jaccard cutoff. One
    * pass builds q22's exact pair frame (inverted-index intersections
    * over df-capped trigrams, never all-pairs); a broadcast 5-row
    * threshold grid then reads off, per cutoff t ∈ {0.5..0.9}: how many
    * pairs qualify and how many documents the q40 drop-higher-id policy
    * would remove. The comparison is integer cross-multiplied
    * (ninter·100 ≥ t·union — no float threshold), and zero-qualifying
    * cutoffs still emit rows, so the table is complete.
    *
    * Scale shape: exactly q22's candidate-bounded self-join plus a
    * ×5 broadcast expansion of the PAIR frame (pairs ≪ corpus) — the
    * sweep costs one near-dup pass, not five. */
  def q255JaccardSweep(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // shared gram checkpoint + pinned self-join spread: see q22 (same
    // 4-consumer / AQE-coalesced-explosion shape, measured there)
    val gh = sharedGramFrame(documents(s, d).select(col("doc_id"), col("text")))
    val bounded = capGramDf(gh, maxDf = 1000)
    val sizes = bounded.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val pairs = spreadForSelfJoin(bounded)
      .select(col("doc_id").as("id_a"), col("gh"))
      .join(bounded.select(col("doc_id").as("id_b"), col("gh")), Seq("gh"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("ninter"))
      .join(sizes.select(col("doc_id").as("id_a"), col("sz").as("sz_a")), Seq("id_a"))
      .join(sizes.select(col("doc_id").as("id_b"), col("sz").as("sz_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("ninter"),
        (col("sz_a") + col("sz_b") - col("ninter")).as("uni"))
    val grid = (50L to 90L by 10L).toDF("t")
    val hit = col("ninter") * 100 >= col("t") * col("uni")
    pairs.crossJoin(broadcast(grid))
      .groupBy(col("t"))
      .agg(sum(when(hit, 1L).otherwise(0L)).as("n_pairs"),
        countDistinct(when(hit, col("id_b"))).as("n_dropped"))
  }

  val q255Sql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '[^a-z]+'), t -> t <> '') AS ws
      |  FROM documents),
      |glists AS (
      |  SELECT doc_id, CASE WHEN len(ws) >= 3
      |    THEN list_distinct(list_transform(range(1, len(ws) - 1),
      |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
      |    ELSE [array_to_string(ws, ' ')] END AS gs
      |  FROM toks),
      |grams AS (SELECT DISTINCT doc_id, unnest(gs) AS g FROM glists),
      |capped AS (
      |  SELECT doc_id, g FROM grams
      |  WHERE g IN (SELECT g FROM grams GROUP BY g HAVING count(*) <= 1000)),
      |sizes AS (SELECT doc_id, count(*) AS sz FROM capped GROUP BY doc_id),
      |pairs AS (
      |  SELECT id_a, id_b, ninter, sa.sz + sb.sz - ninter AS uni
      |  FROM (
      |    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ninter
      |    FROM capped a JOIN capped b ON a.g = b.g AND a.doc_id < b.doc_id
      |    GROUP BY 1, 2) i
      |  JOIN sizes sa ON sa.doc_id = id_a
      |  JOIN sizes sb ON sb.doc_id = id_b),
      |grid AS (SELECT CAST(unnest([50, 60, 70, 80, 90]) AS BIGINT) AS t)
      |SELECT t,
      |  CAST(count(*) FILTER (WHERE ninter * 100 >= t * uni) AS BIGINT)
      |    AS n_pairs,
      |  CAST(count(DISTINCT CASE WHEN ninter * 100 >= t * uni THEN id_b END)
      |    AS BIGINT) AS n_dropped
      |FROM grid, pairs GROUP BY 1""".stripMargin

  /** QUALITY-AWARE CANONICAL SELECTION (round-15): q20 keeps the
    * min-doc_id copy of every exact-dup cluster — arbitrary. A curation
    * pipeline keeps the BEST copy: here the member with the lowest
    * unigram-LM surprisal (q69's avg_nll — near-duplicate crawls differ
    * in boilerplate/OCR noise, and the cleaner copy scores lower),
    * unscored members losing to scored ones, final tie on doc_id. The
    * media family already does this shape with largest-payload (q229);
    * this is the text-side twin with a LEARNED quality key.
    *
    * Scale shape: q69's scoring joins (one vocab shuffle + one doc agg)
    * plus ONE hash-partitioned window at content-hash grain — dedup
    * cluster sizes bound the window partitions, never corpus-wide.
    * avg_nll is round-4 fixed on both engines, so the winner is
    * deterministic cross-engine. */
  def q254QualityKeep(s: SparkSession, d: String): DataFrame = {
    val scored = Vocab.q69LmScore(s, d).select(col("doc_id"), col("avg_nll"))
    val buckets = documents(s, d)
      .select(col("doc_id"), md5(normText(col("text"))).as("content_hash"))
      .join(scored, Seq("doc_id"))
    val w = Window.partitionBy(col("content_hash"))
      .orderBy(col("avg_nll").asc_nulls_last, col("doc_id"))
    buckets
      .withColumn("rn", row_number().over(w))
      .groupBy(col("content_hash"))
      .agg(count(lit(1)).as("n_members"),
        max(when(col("rn") === 1, col("doc_id"))).as("kept_doc"),
        max(when(col("rn") === 1, col("avg_nll"))).as("kept_nll"))
      .select(col("content_hash"), col("n_members"),
        col("kept_doc"), col("kept_nll"))
  }

  val q254Sql: String =
    """WITH ws AS (
      |  SELECT doc_id, unnest(list_filter(
      |    string_split_regex(lower(text), '[^a-z]+'), t -> t <> '')) AS w
      |  FROM documents),
      |freq AS (SELECT w, count(*) AS wf FROM ws GROUP BY 1),
      |tot AS (SELECT CAST(sum(wf) AS BIGINT) AS tot FROM freq),
      |per AS (
      |  SELECT doc_id,
      |    round(CAST(sum(CAST(round(-ln(CAST(wf AS DOUBLE) / tot), 8)
      |        AS DECIMAL(38,18))) AS DOUBLE) / count(*), 4) AS avg_nll
      |  FROM ws JOIN freq USING (w), tot
      |  GROUP BY doc_id),
      |b AS (
      |  SELECT d.doc_id,
      |    md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
      |      AS content_hash,
      |    p.avg_nll,
      |    row_number() OVER (
      |      PARTITION BY md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
      |      ORDER BY p.avg_nll ASC NULLS LAST, d.doc_id) AS rn
      |  FROM documents d LEFT JOIN per p ON d.doc_id = p.doc_id)
      |SELECT content_hash, count(*) AS n_members,
      |  max(CASE WHEN rn = 1 THEN doc_id END) AS kept_doc,
      |  max(CASE WHEN rn = 1 THEN avg_nll END) AS kept_nll
      |FROM b GROUP BY 1""".stripMargin

  val all: Map[String, ((SparkSession, String) => DataFrame, String)] = Map(
    "q20_exact_dedup"     -> (q20ExactDedup _, q20Sql),
    "q251_winnowing"      -> (q251Winnowing _, q251Sql),
    "q254_quality_keep"   -> (q254QualityKeep _, q254Sql),
    "q255_jaccard_sweep"  -> (q255JaccardSweep _, q255Sql),
    "q258_minhash_estimate" -> (q258MinhashEstimate _, q258Sql),
    "q21_minhash_neardup" -> (q21MinhashNeardup _, q21Sql),
    "q22_ngram_jaccard"   -> (q22NgramJaccard _, q22Sql),
    "q31_simhash"         -> (q31Simhash _, q31Sql),
    "q50_dedup_clusters"  -> (q50DedupClusters _, q50Sql),
    "q114_cluster_keep"   -> (q114ClusterKeep _, q114Sql),
    "q72_dup_spans"       -> (q72DupSpans _, q72Sql),
    "q77_prefix_join"     -> (q77PrefixJoin _, q77Sql),
    "q82_incremental_dedup" -> (q82IncrementalDedup _, q82Sql),
    "q103_edit_distance"  -> (q103EditDistance _, q103Sql),
    "q121_containment"    -> (q121Containment _, q121Sql),
    "q133_snm_neardup"    -> (q133SnmNeardup _, q133Sql),
    "q134_exact_substr"   -> (q134ExactSubstr _, q134Sql),
    "q158_simhash_join"   -> (q158SimhashJoin _, q158Sql),
    "q171_cluster_histogram" -> (q171ClusterHistogram _, q171Sql),
    "q192_bucket_dedup"   -> (q192BucketDedup _, q192Sql),
    "q198_source_minhash" -> (q198SourceMinhash _, q198Sql),
    "q200_neardup_decontam" -> (q200NeardupDecontam _, q200Sql),
    "q210_ngram_decontam" -> (q210NgramDecontam _, q210Sql),
    "q264_decontam_sweep" -> (q264DecontamSweep _, q264Sql),
  )
}
