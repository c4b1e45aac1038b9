package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.MisraGries

/** Vocabulary-frequency operators for corpus curation:
  *
  *   - [[q68HeavyHitters]]: frequent tokens by the two-pass sketch
  *     pattern — a Misra–Gries candidate pass with O(k) state per task,
  *     then an EXACT re-count of only the ≤k candidates. At 100 TB the
  *     vocabulary (billions of distinct tokens) makes a plain
  *     groupBy-count a spilling O(|vocab|) shuffle; here pass 1 shuffles
  *     k-entry summaries (one per partial), pass 2 shuffles only rows
  *     surviving a broadcast semi-join against ≤k candidate words, with
  *     map-side partial aggregation bounding it at k rows per task.
  *   - [[q69LmScore]]: CCNet-style unigram language-model scoring — each
  *     document's mean negative log-likelihood under the corpus unigram
  *     distribution, THE classic cheap perplexity proxy for LLM
  *     training-data quality filtering (Wenzek et al., "CCNet", 2020
  *     use a KenLM 5-gram; the unigram case is the same pipeline shape).
  *     One shuffle builds the frequency table, one hash join on the
  *     token scores word rows (vocabulary-sized build side — shuffle
  *     join by default, NOT broadcast: at web scale the vocab doesn't
  *     fit an executor), one per-doc aggregation. Accumulation runs in
  *     DECIMAL (the q41 dsum convention) so the per-doc mean is
  *     independent of partial-aggregation order.
  */
object Vocab {
  import Tables._
  import Dedup.wordRows

  /** Sketch width: deliberately SMALLER than the testdata vocabulary
    * (31 tokens) so the Misra–Gries truncation path actually executes
    * under the driver gate; the n/(k+1) retention guarantee makes the
    * verified output exact at any k. */
  private val K = 29

  /** Two-pass frequent items over a single-column frame of tokens
    * (column `w`): MG candidate pass, broadcast semi-join, exact
    * re-count, exact threshold filter. Output (word, n) = exactly the
    * tokens with true count > n/(k+1), independent of partitioning —
    * candidates are a guaranteed SUPERSET of the qualifying set (see
    * MisraGries scaladoc) and the filter applies exact counts. */
  def frequentWords(words: DataFrame, k: Int): DataFrame = {
    val s = words.sparkSession
    import s.implicits._
    val mg = words.select(col("w")).as[String]
      .select(new MisraGries(k).toColumn.name("mg"))
      .select(explode(col("words")).as("word"), col("n").as("total"))
    words
      .join(broadcast(mg), col("w") === col("word"))
      .groupBy(col("word"), col("total"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > col("total") / lit(k + 1))
      .select(col("word"), col("n"))
  }

  def q68HeavyHitters(s: SparkSession, d: String): DataFrame =
    frequentWords(wordRows(documents(s, d)), K)

  val q68Sql: String =
    s"""WITH ws AS (
       |  SELECT unnest(list_filter(
       |    string_split_regex(lower(text), '[^a-z]+'), t -> t <> '')) AS w
       |  FROM documents),
       |tot AS (SELECT count(*) AS total FROM ws)
       |SELECT w AS word, count(*) AS n
       |FROM ws, tot
       |GROUP BY w, tot.total
       |HAVING count(*) > total / ${K + 1}""".stripMargin

  /** Per-document mean token surprisal (nats) under the corpus unigram
    * LM. Low = repetitive/templated text, high = rare-token soup; both
    * tails are the usual curation cut. Per-token terms are rounded to 8
    * decimals BEFORE decimal accumulation so the only cross-engine
    * hazard is a log ULP landing exactly on a rounding boundary (the
    * accepted q26 ln precedent). Zero-word docs keep n_words=0 and a
    * NULL score. */
  def q69LmScore(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val wr = wordRows(docs)
    val freq = wr.groupBy(col("w")).agg(count(lit(1)).as("wf"))
    val tot = freq.agg(sum(col("wf")).as("tot"))
    val scored = wr.join(freq, Seq("w"))
      .crossJoin(broadcast(tot))
      .select(col("doc_id"),
        round(-log(col("wf").cast("double") / col("tot").cast("double")), 8)
          .as("nll"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        round(sum(col("nll").cast("decimal(38,18)")).cast("double") /
          count(lit(1)), 4).as("avg_nll"))
    docs.select(col("doc_id")).join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"), col("avg_nll"))
  }

  val q69Sql: String =
    """WITH ws AS (
      |  SELECT doc_id, unnest(list_filter(
      |    string_split_regex(lower(text), '[^a-z]+'), t -> t <> '')) AS w
      |  FROM documents),
      |freq AS (SELECT w, count(*) AS wf FROM ws GROUP BY 1),
      |tot AS (SELECT CAST(sum(wf) AS BIGINT) AS tot FROM freq),
      |per AS (
      |  SELECT doc_id, count(*) AS n_words,
      |    round(CAST(sum(CAST(round(-ln(CAST(wf AS DOUBLE) / tot), 8)
      |        AS DECIMAL(38,18))) AS DOUBLE) / count(*), 4) AS avg_nll
      |  FROM ws JOIN freq USING (w), tot
      |  GROUP BY doc_id)
      |SELECT d.doc_id, COALESCE(p.n_words, 0) AS n_words, p.avg_nll
      |FROM documents d LEFT JOIN per p ON d.doc_id = p.doc_id""".stripMargin

  /** One iteration of BPE merge training at word granularity: count
    * every ADJACENT token pair occurrence (position-sensitive — "a b a
    * b" contributes "a b" twice) and report the top-k merge candidates.
    * This is the inner loop of byte-pair-encoding vocabulary induction
    * (Sennrich et al., ACL'16): the real trainer repeats
    * count→merge-most-frequent; the count step is the distributed part.
    *
    * Scale shape: pair generation is a per-row `transform(sequence(...))`
    * — zero pre-shuffle joins, no window over token positions; the count
    * partial-aggregates map-side (pairs follow a Zipf law, so combiners
    * collapse most volume before the one shuffle), and the global top-k
    * is TakeOrderedAndProject (per-partition bounded heaps), never a
    * full sort. Ties break on the pair string so the cut is
    * deterministic on both engines. */
  def q78BpePairs(s: SparkSession, d: String): DataFrame =
    bpePairCounts(documents(s, d), k = 20)

  def bpePairCounts(docs: DataFrame, k: Int): DataFrame =
    docs
      .select(Dedup.tokensCodegen(col("text")).as("toks"))
      .where(size(col("toks")) >= 2)
      // element_at is 1-based in BOTH engines — identical expression; the
      // size>=2 guard keeps sequence() off its descending start>stop path
      .select(explode(expr(
        "transform(sequence(1, size(toks) - 1), " +
          "i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"))
        .as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair").asc)
      .limit(k)

  val q78Sql: String =
    """WITH toks AS (
      |  SELECT list_filter(
      |    string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS tk
      |  FROM documents),
      |pr AS (
      |  SELECT unnest(list_transform(generate_series(1, len(tk) - 1),
      |    i -> tk[i] || ' ' || tk[i + 1])) AS pair
      |  FROM toks WHERE len(tk) >= 2)
      |SELECT pair, count(*) AS n FROM pr GROUP BY 1
      |ORDER BY n DESC, pair LIMIT 20""".stripMargin

  /** Okapi BM25 document scoring against a fixed query (k1=1.2,
    * b=0.75) — THE classic lexical retrieval scorer, complementing the
    * LM perplexity proxy (q69) on the quality/relevance side.
    *
    * Scale shape: doc lengths and per-(doc, query-term) tfs are two
    * partial-aggregated passes; the query-term df table and the corpus
    * (N, Σdl) scalars broadcast (both bounded by the QUERY, not the
    * corpus); scoring is then per-row arithmetic + one doc-keyed sum.
    * Cross-engine determinism: ln() differs at ULP level between libms,
    * so each term contribution rounds to 8 decimals BEFORE the
    * DECIMAL(38,18) accumulation (the q26/q69 convention); all other
    * constants are written as identical decimal literals in both
    * engines (never Scala-side arithmetic like 1.2+1, whose double can
    * differ from parsing "2.2"). Top-k cut is TakeOrderedAndProject
    * with a doc_id tiebreak. */
  def q89Bm25(s: SparkSession, d: String): DataFrame =
    bm25(documents(s, d), Seq("hash", "join", "merge", "window"), 50)

  def bm25(docs: DataFrame, query: Seq[String], k: Int): DataFrame = {
    val wr = Dedup.wordRows(docs)
    val dl = wr.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val tf = wr.where(col("w").isin(query: _*))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
    val dfq = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfq), Seq("w"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("avgdl",
        col("sum_dl").cast("double") / col("n_docs").cast("double"))
      .withColumn("idf", log(lit(1.0) +
        (col("n_docs").cast("double") - col("df").cast("double") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5))))
      .withColumn("contrib", round(
        col("idf") * col("tf").cast("double") * lit(2.2) /
          (col("tf").cast("double") + lit(1.2) *
            (lit(0.25) + lit(0.75) * col("dl").cast("double") / col("avgdl"))),
        8))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("contrib").cast("decimal(38,18)")).cast("double"), 4)
        .as("bm25"), count(lit(1)).as("n_terms"))
      .orderBy(col("bm25").desc, col("doc_id").asc)
      .limit(k)
  }

  val q89Sql: String =
    """WITH wr AS (
      |  SELECT doc_id, unnest(list_filter(
      |    string_split_regex(lower(text), '[^a-z]+'), t -> t <> '')) AS w
      |  FROM documents),
      |dl AS (SELECT doc_id, count(*) AS dl FROM wr GROUP BY 1),
      |stats AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl
      |          FROM dl),
      |tf AS (SELECT doc_id, w, count(*) AS tf FROM wr
      |       WHERE w IN ('hash', 'join', 'merge', 'window') GROUP BY 1, 2),
      |dfq AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
      |c AS (
      |  SELECT tf.doc_id,
      |    round(
      |      ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
      |               / (CAST(df AS DOUBLE) + 0.5))
      |      * CAST(tf AS DOUBLE) * 2.2
      |      / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE)
      |           / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))),
      |      8) AS contrib
      |  FROM tf JOIN dfq USING (w) JOIN dl ON dl.doc_id = tf.doc_id
      |  CROSS JOIN stats)
      |SELECT doc_id,
      |  round(CAST(sum(CAST(contrib AS DECIMAL(38,18))) AS DOUBLE), 4) AS bm25,
      |  count(*) AS n_terms
      |FROM c GROUP BY 1
      |ORDER BY bm25 DESC, doc_id LIMIT 50""".stripMargin

  /** Stop-term df-cap for cosine candidate generation: a term is a stop
    * term if it appears in more than 1/5 of the corpus (a RELATIVE
    * threshold — an absolute df is meaningless across corpus sizes: at
    * 5k docs of a small synthetic vocabulary every word clears df=100),
    * bounded above by an ABSOLUTE ceiling so the worst-case per-term
    * pair fan-out stays ≤ CosDfCeil²/2 no matter how large the corpus
    * grows. Capped terms are excluded from candidate generation AND
    * from the norms — the bounded "capped cosine" semantic, exactly the
    * q22 stop-gram discipline. Both bounds are replicated in the
    * oracle. */
  private val CosDfCeil = 5000

  /** All-pairs document similarity by TERM-FREQUENCY COSINE over the
    * inverted index (Bayardo et al., WWW'07 all-pairs style): pairs are
    * generated ONLY from shared sub-cap terms (term-at-a-time partial
    * products — never a doc×doc cross product), then gated on
    * cos(a,b) ≥ 0.8. The gate is evaluated in INTEGER arithmetic —
    * 25·dot² ≥ 16·‖a‖²·‖b‖² avoids sqrt and division entirely, so both
    * engines compare exactly (widened first: dot and the norms are
    * BIGINTs whose product can exceed 2⁶³ on long documents — Spark
    * compares in DECIMAL(38,0), DuckDB in HUGEINT).
    *
    * Scale shape: one shuffle of slim (doc, term, tf) rows; the df-cap
    * semi-join bounds every term's pair fan-out at CosDfCeil²/2; partial
    * products partially aggregate map-side before the (id_a, id_b)
    * shuffle; norms are a groups-sized frame joined back per side. The
    * tf index is localCheckpointed once and reused by the df filter,
    * the norms, and both join sides. */
  def q106TfCosinePairs(s: SparkSession, d: String): DataFrame = {
    val tf = Dedup.wordRows(documents(s, d))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
      .localCheckpoint(false)
    val nd = documents(s, d).agg(count(lit(1)).as("nd"))
    val okWords = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nd))
      .filter(col("df") <= least(expr("nd div 5"), lit(CosDfCeil.toLong)))
      .select(col("w"))
    val capped = tf.join(okWords, Seq("w")).localCheckpoint(false)
    val nsq = capped.groupBy(col("doc_id"))
      .agg(sum(col("c") * col("c")).as("nsq"))
    val dots = capped.as("a").join(capped.as("b"),
        col("a.w") === col("b.w") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        (col("a.c") * col("b.c")).as("p"))
      .groupBy(col("id_a"), col("id_b")).agg(sum(col("p")).as("dot"))
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    dots
      .join(nsq.select(col("doc_id").as("id_a"), col("nsq").as("nsq_a")), Seq("id_a"))
      .join(nsq.select(col("doc_id").as("id_b"), col("nsq").as("nsq_b")), Seq("id_b"))
      .filter(dec(col("dot")) * col("dot") * 25 >=
        dec(col("nsq_a")) * col("nsq_b") * 16)
      .select(col("id_a"), col("id_b"), col("dot"),
        col("nsq_a"), col("nsq_b"))
  }

  val q106Sql: String =
    s"""WITH tf AS (
       |  SELECT doc_id, w, count(*) AS c FROM (
       |    SELECT doc_id, unnest(list_filter(
       |      string_split_regex(lower(text), '[^a-z]+'), t -> t <> '')) AS w
       |    FROM documents)
       |  GROUP BY 1, 2),
       |capped AS (
       |  SELECT doc_id, w, c FROM tf
       |  WHERE w IN (SELECT w FROM tf GROUP BY w
       |              HAVING count(*) <= least(
       |                (SELECT count(*) // 5 FROM documents), $CosDfCeil))),
       |nsq AS (
       |  SELECT doc_id, CAST(sum(c * c) AS BIGINT) AS nsq
       |  FROM capped GROUP BY 1),
       |dots AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    CAST(sum(a.c * b.c) AS BIGINT) AS dot
       |  FROM capped a JOIN capped b
       |    ON a.w = b.w AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b, dot, na.nsq AS nsq_a, nb.nsq AS nsq_b
       |FROM dots
       |JOIN nsq na ON na.doc_id = id_a
       |JOIN nsq nb ON nb.doc_id = id_b
       |WHERE CAST(dot AS HUGEINT) * dot * 25 >=
       |      CAST(na.nsq AS HUGEINT) * nb.nsq * 16""".stripMargin

  /** KEYNESS extraction (Dunning 1993 log-likelihood): the top-10 most
    * CHARACTERISTIC words of each source vs the rest of the corpus —
    * the corpus-linguistics "what makes this slice different" operator
    * (domain tagging, contamination triage, drift reading). RANKING is
    * integer-exact: lift_ppm = floor(o_in·n_rest·10⁶ / max(1,
    * o_rest·n_in)) — the relative-risk cross product, HUGEINT-widened,
    * never a float ratio whose last ulp could reorder the cut; words
    * unique to a source rank maximal by construction. The G² statistic
    * itself is float and rides along per selected row (one identical
    * IEEE expression, round 6, with the O·ln(O/E) term zeroed exactly
    * when O = 0 rather than evaluated as 0·ln 0).
    *
    * Scale shape: the corpus tokenizes ONCE into the (source, word)
    * count grain, which is checkpointed (vocab×sources-sized — the q77
    * set-table discipline) because THREE aggregates derive from it:
    * per-source totals, per-word totals, and the 1-row corpus total —
    * without the checkpoint each consumer would re-scan and
    * re-tokenize the corpus (PlanAuditSpec counts the scans). The
    * top-10 window runs on that grain under WindowGroupLimit — never
    * on token rows. */
  def q173Keyness(s: SparkSession, d: String): DataFrame = {
    val cnt = documents(s, d)
      // native tokenizer + the ≠"" filter ≡ the old unanchored split
      // (split's possible leading empty token was filtered anyway)
      .select(col("source"),
        explode(Dedup.tokensCodegen(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("o_in"))
      .localCheckpoint(false)
    val nIn = cnt.groupBy(col("source")).agg(sum(col("o_in")).as("n_in"))
    val oTot = cnt.groupBy(col("w")).agg(sum(col("o_in")).as("o_tot"))
    val nAll = nIn.agg(sum(col("n_in")).as("n_all"))
    val j = cnt.join(nIn, Seq("source")).join(oTot, Seq("w"))
      .crossJoin(broadcast(nAll))
      .withColumn("o_rest", col("o_tot") - col("o_in"))
      .withColumn("n_rest", col("n_all") - col("n_in"))
      .withColumn("lift_ppm", expr(
        "cast((cast(o_in as decimal(38,0)) * n_rest * 1000000) div " +
          "greatest(1L, o_rest * n_in) as long)"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("lift_ppm").desc, col("w"))
    j.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 10)
      .select(col("source"), col("w").as("word"), col("o_in"),
        col("o_rest"), col("lift_ppm"),
        round(lit(2.0) * (
          col("o_in") * log(col("o_in").cast("double") /
            (col("n_in").cast("double") * col("o_tot") / col("n_all"))) +
          when(col("o_rest") === 0, lit(0.0)).otherwise(
            col("o_rest") * log(col("o_rest").cast("double") /
              (col("n_rest").cast("double") * col("o_tot") / col("n_all"))))),
          6).as("g2_6"))
  }

  val q173Sql: String =
    """WITH toks AS (
      |  SELECT source, unnest(list_filter(
      |    string_split_regex(lower(text), '[^a-z]+'), t -> t <> '')) AS w
      |  FROM documents),
      |cnt AS (SELECT source, w, count(*) AS o_in FROM toks GROUP BY 1, 2),
      |ni AS (SELECT source, count(*) AS n_in FROM toks GROUP BY 1),
      |ot AS (SELECT w, CAST(sum(o_in) AS BIGINT) AS o_tot
      |       FROM cnt GROUP BY 1),
      |na AS (SELECT count(*) AS n_all FROM toks),
      |j AS (
      |  SELECT cnt.source, cnt.w, o_in, n_in, o_tot, n_all,
      |    o_tot - o_in AS o_rest, n_all - n_in AS n_rest
      |  FROM cnt JOIN ni USING (source) JOIN ot USING (w) CROSS JOIN na),
      |l AS (
      |  SELECT *, CAST((CAST(o_in AS HUGEINT) * n_rest * 1000000)
      |    // greatest(1, CAST(o_rest AS HUGEINT) * n_in) AS BIGINT)
      |      AS lift_ppm
      |  FROM j),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY source
      |    ORDER BY lift_ppm DESC, w) AS rnk
      |  FROM l)
      |SELECT source, w AS word, o_in, CAST(o_rest AS BIGINT) AS o_rest,
      |  lift_ppm,
      |  round(2.0 * (
      |    o_in * ln(CAST(o_in AS DOUBLE)
      |              / (CAST(n_in AS DOUBLE) * o_tot / n_all))
      |    + CASE WHEN o_rest = 0 THEN 0.0
      |           ELSE o_rest * ln(CAST(o_rest AS DOUBLE)
      |                / (CAST(n_rest AS DOUBLE) * o_tot / n_all)) END),
      |    6) AS g2_6
      |FROM r WHERE rnk <= 10""".stripMargin

  /** SCORE CALIBRATION + ROC TABLE for the q69 unigram-LM surprisal as
    * an English-detector: band documents by 0.1-nat surprisal bands and
    * report, per band, the empirical positive rate (is the band's
    * "englishness" monotone in the score?) plus the cumulative
    * TPR/FPR pair sweeping bands from high surprisal down — the ROC
    * curve's actual points, the eval artifact behind every
    * threshold-picking decision (q178's AUC is the area under exactly
    * this curve; this emits the curve itself).
    *
    * Determinism: avg_nll is already rounded to 4 decimals identically
    * on both engines (q69), so band = round(avg_nll·1000) div 100 is
    * the same IEEE double op then integer arithmetic on both; all
    * rates are 1e-9 floor-ratio fixed point. Zero-word docs carry a
    * NULL score and are excluded (documented — a scoreless doc has no
    * place on a score ROC).
    *
    * Scale shape: q69's plan plus one doc-sized band projection, a
    * bands-sized partial agg, and cumulative windows over the BANDS
    * frame — tens of rows by construction (score range / 0.1 nat), the
    * sanctioned bounded-frame unpartitioned window. */
  def q199RocCalibration(s: SparkSession, d: String): DataFrame = {
    val scored = q69LmScore(s, d).filter(col("avg_nll").isNotNull)
      .join(documents(s, d).select(col("doc_id"),
        (col("lang") === "en").as("pos")), Seq("doc_id"))
      .select(expr("CAST(round(avg_nll * 1000, 0) AS BIGINT) div 100")
        .as("band"), col("pos"))
    val bands = scored.groupBy(col("band"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("pos"), 1L).otherwise(0L)).as("n_pos"))
    val tot = bands.agg(sum(col("n")).as("tot_n"),
      sum(col("n_pos")).as("tot_pos"))
    val w = Window.orderBy(col("band").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bands
      .withColumn("cum_n", sum(col("n")).over(w))
      .withColumn("cum_pos", sum(col("n_pos")).over(w))
      .crossJoin(broadcast(tot))
      .select(col("band"), col("n"), col("n_pos"),
        expr("(n_pos * 1000000000L) div n").as("pos_rate_fp"),
        when(col("tot_pos") > 0L,
          expr("(cum_pos * 1000000000L) div tot_pos")).otherwise(0L)
          .as("tpr_fp"),
        when(col("tot_n") - col("tot_pos") > 0L,
          expr("((cum_n - cum_pos) * 1000000000L) div (tot_n - tot_pos)"))
          .otherwise(0L).as("fpr_fp"))
  }

  val q199Sql: String =
    s"""WITH sc AS ($q69Sql),
       |b AS (
       |  SELECT CAST(round(avg_nll * 1000, 0) AS BIGINT) // 100 AS band,
       |    d.lang = 'en' AS pos
       |  FROM sc JOIN documents d USING (doc_id)
       |  WHERE avg_nll IS NOT NULL),
       |bands AS (
       |  SELECT band, count(*) AS n,
       |    CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
       |  FROM b GROUP BY 1),
       |tot AS (SELECT CAST(sum(n) AS BIGINT) AS tot_n,
       |               CAST(sum(n_pos) AS BIGINT) AS tot_pos FROM bands),
       |c AS (
       |  SELECT band, n, n_pos,
       |    sum(n) OVER (ORDER BY band DESC
       |      ROWS UNBOUNDED PRECEDING) AS cum_n,
       |    sum(n_pos) OVER (ORDER BY band DESC
       |      ROWS UNBOUNDED PRECEDING) AS cum_pos
       |  FROM bands)
       |SELECT band, n, n_pos,
       |  CAST((n_pos * 1000000000) // n AS BIGINT) AS pos_rate_fp,
       |  CAST(CASE WHEN tot_pos > 0
       |    THEN (cum_pos * 1000000000) // tot_pos ELSE 0 END AS BIGINT)
       |    AS tpr_fp,
       |  CAST(CASE WHEN tot_n - tot_pos > 0
       |    THEN ((cum_n - cum_pos) * 1000000000) // (tot_n - tot_pos)
       |    ELSE 0 END AS BIGINT) AS fpr_fp
       |FROM c CROSS JOIN tot""".stripMargin

  /** MULTI-ROUND BPE MERGE TRAINING — q78 is one count step; this is
    * the actual trainer loop (Sennrich et al., ACL'16), three rounds
    * unrolled: count adjacent pairs → merge the most frequent pair
    * corpus-wide (joined with '#') → re-count on the rewritten corpus.
    * Round 2's winner can CONTAIN round 1's merged token — that
    * feedback is what a single count step can't show.
    *
    * Determinism: winner = (count desc, pair asc) via the min_by-on-
    * struct argmax (never a sort of the pair table); the rewrite is
    * the CANONICAL Sennrich merge — every leftmost-greedy
    * non-overlapping occurrence of the winning pair merges in one
    * round, consecutive repeats included — realized as three literal
    * `replace` calls (see [[mergeRewriteExpr]]) that behave identically
    * on both engines (java UTF8String.replace and DuckDB replace share
    * leftmost non-overlapping scan semantics). The winner row reaches
    * the rewrite as a broadcast 1-row cross join (the scalar-join
    * idiom — no driver-side collect in an operator).
    *
    * Scale shape: per round one corpus pass for the Zipf-collapsed
    * pair count (map-side partial agg), one broadcast scalar join, and
    * a checkpoint of the rewritten corpus — the trainer's working set,
    * exactly what a production BPE trainer keeps materialized between
    * merges. Rounds are fixed (3), lineage truncated per round. */
  def q203BpeTrain(s: SparkSession, d: String): DataFrame =
    bpeTrain(documents(s, d))

  /** Three unrolled merge rounds over any (text) frame; rounds whose
    * corpus has no pair left are dropped (Spark's empty aggregation
    * yields a null min_by row where the oracle's LIMIT 1 yields zero
    * rows — the filter makes both engines emit only realized merges;
    * VocabSpec pins the exhaustion AND the round-2-uses-round-1's-
    * token feedback on crafted corpora).
    *
    * The rewrite is [[mergeRewriteExpr]] — canonical Sennrich merge
    * semantics via the separator-doubling trick (closes the round-11/12
    * "consecutive-occurrence deviation": 'a b a b' now merges to
    * 'a#b a#b' in ONE round, as the textbook algorithm does). */
  private[operators] def bpeTrain(docs: DataFrame): DataFrame = {
    def pairCounts(repr: DataFrame): DataFrame =
      repr.select(split(trim(col("t")), " ").as("tk"))
        .filter(size(col("tk")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(tk) - 1), " +
            "i -> concat(element_at(tk, i), ' ', element_at(tk, i + 1)))"))
          .as("pair"))
        .groupBy(col("pair")).agg(count(lit(1)).as("n"))
    def top1(cnt: DataFrame): DataFrame =
      cnt.agg(min_by(struct(col("pair"), col("n")),
        struct(negate(col("n")), col("pair"))).as("w"))
        .select(col("w.pair").as("pair"), col("w.n").as("n"))
    var repr = docs
      .select(Dedup.tokensCodegen(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(concat(lit(" "), concat_ws(" ", col("toks")), lit(" ")).as("t"))
      .localCheckpoint(false)
    val rounds = (1 to 3).map { r =>
      val win = top1(pairCounts(repr))
        .select(lit(r.toLong).as("round"), col("pair"), col("n"))
        .localCheckpoint(false) // two consumers: output + the rewrite
      repr = repr.crossJoin(broadcast(win))
        .select(expr(mergeRewriteExpr).as("t"))
        .localCheckpoint(false)
      win
    }
    rounds.reduce(_ unionAll _).filter(col("pair").isNotNull)
  }

  /** CANONICAL BPE merge rewrite of a single-space-delimited token
    * string `t` (columns in scope: `t`, and the winning `pair` as
    * "tokA tokB") — the separator-DOUBLING trick:
    *
    *   1. double every space, so each token boundary owns TWO spaces
    *   2. replace ' tokA␣␣tokB ' with ' tokA#tokB ' — each occurrence
    *      now takes one PRIVATE space from each flanking double group,
    *      so adjacent occurrences ('a b a b') no longer compete for a
    *      shared separator and BOTH merge in the single left-to-right
    *      scan; overlapping occurrences of a self-pair ('a a a') still
    *      conflict — on the shared token itself — and resolve leftmost-
    *      greedy, exactly Sennrich's reference merge order
    *   3. collapse the doubles back (every boundary group is exactly 2
    *      spaces after step 2: untouched groups keep both; a consumed
    *      group's survivor pairs with the replacement's own edge space)
    *
    * A naive single-spaced replace(' a b ', ' a#b ') consumes the
    * shared separator and merges only every OTHER consecutive
    * occurrence — the round-11/12 documented deviation this closes.
    * All three steps are plain literal `replace`, with identical
    * leftmost non-overlapping semantics on Spark (UTF8String.replace)
    * and DuckDB, so both engines produce the same canonical merge —
    * VocabSpec pins 'a b a b' and self-pair runs against hand-derived
    * expectations. '#' never collides: tokens are [a-z]+ plus '#' from
    * prior merges, never spaces. */
  private[operators] val mergeRewriteExpr: String =
    "replace(replace(replace(t, ' ', '  '), " +
      "concat(' ', replace(pair, ' ', '  '), ' '), " +
      "concat(' ', replace(pair, ' ', '#'), ' ')), '  ', ' ')"

  /** [[mergeRewriteExpr]] for the DuckDB oracle, over arbitrary
    * column/expression names. */
  private[operators] def mergeRewriteSql(t: String, pair: String): String =
    s"replace(replace(replace($t, ' ', '  '), " +
      s"' ' || replace($pair, ' ', '  ') || ' ', " +
      s"' ' || replace($pair, ' ', '#') || ' '), '  ', ' ')"

  private def bpeRoundSql(i: Int): String =
    s"""c$i AS (
       |  SELECT pair, count(*) AS n FROM (
       |    SELECT unnest(list_transform(generate_series(1, len(tk) - 1),
       |      j -> tk[j] || ' ' || tk[j+1])) AS pair
       |    FROM (SELECT string_split(trim(t), ' ') AS tk FROM t${i - 1})
       |    WHERE len(tk) >= 2)
       |  GROUP BY 1),
       |s$i AS (SELECT CAST($i AS BIGINT) AS round, pair, n FROM c$i
       |        ORDER BY n DESC, pair LIMIT 1),
       |t$i AS (
       |  SELECT ${mergeRewriteSql("t", s"s$i.pair")} AS t
       |  FROM t${i - 1} CROSS JOIN s$i)"""

  val q203Sql: String =
    s"""WITH t0 AS (
       |  SELECT ' ' || array_to_string(toks, ' ') || ' ' AS t
       |  FROM (SELECT list_filter(string_split_regex(lower(text),
       |          '[^a-z]+'), x -> x <> '') AS toks FROM documents)
       |  WHERE len(toks) >= 2),
       |${(1 to 3).map(bpeRoundSql).mkString(",\n")}
       |SELECT round, pair, CAST(n AS BIGINT) AS n FROM s1
       |UNION ALL SELECT round, pair, CAST(n AS BIGINT) FROM s2
       |UNION ALL SELECT round, pair, CAST(n AS BIGINT) FROM s3""".stripMargin

  /** INTERPOLATED KNESER–NEY BIGRAM LM SCORING — the q69 unigram scorer
    * upgraded to the smoothing real LM-based quality filters use
    * (Kneser–Ney 1995; Chen & Goodman 1999 found interpolated KN the
    * best of the classical family; CCNet/Gopher filter on exactly this
    * kind of n-gram LM perplexity). Per bigram position:
    *
    *   P(w|v) = [max(c(vw) − D, 0) + D·N1+(v·)·Pcont(w)] / c(v),
    *   Pcont(w) = N1+(·w) / N1+(··),  D = 3/4
    *
    * which over the common denominator becomes ONE integer numerator
    * and ONE integer denominator (×4 clears D):
    *
    *   P = (max(4·c(vw) − 3, 0)·N₊₊ + 3·N1+(v·)·N1+(·w))
    *       / (4·c(v)·N₊₊)
    *
    * so both engines build the SAME two integers exactly and perform
    * ONE identical double division before the q69-convention
    * round(−ln(p), 8) / per-doc round(avg, 4). The ×-products graze
    * 2^63 in the 1e12-count regime, so the numerator/denominator widen
    * to DECIMAL(38,0)/HUGEINT (the q146 discipline) and only the final
    * ratio is a double. The continuation probability is what makes KN
    * KN: a word seen in many CONTEXTS (high N1+(·w)) gets backoff mass
    * even when rare — "francisco" appears often but only after "san",
    * so its continuation count, not its frequency, sets its unseen-
    * context probability.
    *
    * Scale shape: bigram generation is per-row; all four count tables
    * partial-aggregate map-side; the probability is computed ONCE per
    * distinct bigram (vocab-sized frame) and the corpus stream joins
    * that single table on (v, w) — one data-sized shuffle, the same
    * shape as q69's unigram join. Docs with <2 tokens carry
    * n_bigrams = 0 and NULL score via the left join (the q69/q175
    * convention). */
  /** (doc_id, v, w) bigram rows of a corpus — q212's tokenize pass,
    * hoisted for the streaming funnel's frozen-model compiler. */
  private[graft] def bigramRows(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), Dedup.tokensCodegen(col("text")).as("toks"))
    .where(size(col("toks")) >= 2)
    .select(col("doc_id"), explode(expr(
      "transform(sequence(1, size(toks) - 1), i -> " +
        "struct(element_at(toks, i) AS v, element_at(toks, i + 1) AS w))"))
      .as("b"))
    .select(col("doc_id"), col("b.v").as("v"), col("b.w").as("w"))

  /** The interpolated-KN (v, w, nll) probability table trained from a
    * bigram stream — q212's model half, hoisted so the streaming
    * funnel can FREEZE it (collect + broadcast) and score new docs with
    * the exact arithmetic the gate pins. */
  private[graft] def knProbTable(big: DataFrame): DataFrame =
    knProbTableCounted(big).select(col("v"), col("w"), col("nll"))

  /** [[knProbTable]] carrying each bigram's raw count `cvw` — the
    * ranking key the streaming funnel's frozen-model compiler caps on
    * (top-K by count: the head of a Zipfian bigram distribution covers
    * almost all scored positions, so count order is the right eviction
    * order for a bounded broadcast table). */
  private[graft] def knProbTableCounted(big: DataFrame): DataFrame = {
    val cvw = big.groupBy(col("v"), col("w")).agg(count(lit(1)).as("cvw"))
    val cv = cvw.groupBy(col("v"))
      .agg(sum(col("cvw")).as("cv"), count(lit(1)).as("n1v"))
    val n1w = cvw.groupBy(col("w")).agg(count(lit(1)).as("n1w"))
    val npp = cvw.agg(count(lit(1)).as("npp"))
    cvw.join(cv, Seq("v")).join(n1w, Seq("w"))
      .crossJoin(broadcast(npp))
      .select(col("v"), col("w"),
        round(-log(
          expr("CAST(greatest(4 * CAST(cvw AS DECIMAL(38,0)) - 3, 0) * npp" +
            " + CAST(3 AS DECIMAL(38,0)) * n1v * n1w AS DOUBLE)") /
          expr("CAST(CAST(4 AS DECIMAL(38,0)) * cv * npp AS DOUBLE)")),
          8).as("nll"),
        col("cvw"))
  }

  def q212KnBigram(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val big = bigramRows(docs)
    val prob = knProbTable(big)
    val scored = big.join(prob, Seq("v", "w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(col("nll").cast("decimal(38,18)")).cast("double") /
          count(lit(1)), 4).as("avg_nll"))
    docs.select(col("doc_id")).join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"), col("avg_nll"))
  }

  val q212Sql: String =
    """WITH tk AS (
      |  SELECT doc_id, list_filter(
      |    string_split_regex(lower(text), '[^a-z]+'), t -> t <> '') AS toks
      |  FROM documents),
      |big AS (
      |  SELECT doc_id, b[1] AS v, b[2] AS w FROM (
      |    SELECT doc_id, unnest(list_transform(
      |      generate_series(1, len(toks) - 1),
      |      i -> [toks[i], toks[i + 1]])) AS b
      |    FROM tk WHERE len(toks) >= 2)),
      |cvw AS (SELECT v, w, count(*) AS cvw FROM big GROUP BY 1, 2),
      |cv AS (SELECT v, CAST(sum(cvw) AS BIGINT) AS cv,
      |         count(*) AS n1v FROM cvw GROUP BY 1),
      |n1w AS (SELECT w, count(*) AS n1w FROM cvw GROUP BY 1),
      |npp AS (SELECT count(*) AS npp FROM cvw),
      |prob AS (
      |  SELECT v, w,
      |    round(-ln(
      |      CAST(greatest(4 * CAST(cvw AS HUGEINT) - 3, 0) * npp
      |           + CAST(3 AS HUGEINT) * n1v * n1w AS DOUBLE)
      |      / CAST(CAST(4 AS HUGEINT) * cv * npp AS DOUBLE)), 8) AS nll
      |  FROM cvw JOIN cv USING (v) JOIN n1w USING (w), npp),
      |per AS (
      |  SELECT doc_id, count(*) AS n_bigrams,
      |    round(CAST(sum(CAST(nll AS DECIMAL(38,18))) AS DOUBLE)
      |      / count(*), 4) AS avg_nll
      |  FROM big JOIN prob USING (v, w)
      |  GROUP BY 1)
      |SELECT d.doc_id, COALESCE(p.n_bigrams, 0) AS n_bigrams, p.avg_nll
      |FROM documents d LEFT JOIN per p ON d.doc_id = p.doc_id""".stripMargin

  /** BPE ENCODE — the apply half of q203's train half: take the 3
    * merges [[bpeTrain]] learns from the corpus and ENCODE the same
    * corpus with them, reporting per source the token counts before and
    * after and the realized compression in 1e-9 fixed point. Training
    * without application is half an operator: this is the pass that
    * turns a learned vocabulary into shorter sequences (and its
    * compression number is the metric BPE vocab size is tuned by).
    *
    * Every doc is encoded — including sub-2-token docs the TRAINER
    * ignores (nothing to merge: before == after) and zero-token docs
    * (0 == 0, the q175 census discipline). Each round's winner reaches
    * the rewrite as a broadcast 1-row aggregate (min over the ≤1-row
    * round slice — null when the round exhausted, in which case the
    * rewrite is a guarded no-op on BOTH engines). The rewrite is the
    * canonical [[mergeRewriteExpr]], identical to the trainer's. Scale
    * shape: the trainer's three corpus passes plus three
    * broadcast-scalar rewrites over a doc-keyed stream; rollup is
    * sources-sized. */
  def q214BpeEncode(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val wins = bpeTrain(docs).localCheckpoint(false)
    var enc = docs
      .select(col("doc_id"), col("source"),
        Dedup.tokensCodegen(col("text")).as("toks"))
      .select(col("doc_id"), col("source"),
        concat(lit(" "), concat_ws(" ", col("toks")), lit(" ")).as("t"))
      // count from the joined string, not size(toks): tokensCodegen
      // yields [""] (size 1) for a letterless doc — the join+trim guard
      // sends it to 0, matching the oracle's list_filter semantics
      .withColumn("n_before",
        when(length(trim(col("t"))) === 0, 0L)
          .otherwise(size(split(trim(col("t")), " ")).cast("long")))
    (1 to 3).foreach { r =>
      val w = wins.filter(col("round") === r)
        .agg(min(col("pair")).as("pair")) // 1 row; null when exhausted
      enc = enc.crossJoin(broadcast(w))
        .withColumn("t", when(col("pair").isNull, col("t"))
          .otherwise(expr(mergeRewriteExpr)))
        .drop("pair")
    }
    enc
      .withColumn("n_after",
        when(length(trim(col("t"))) === 0, 0L)
          .otherwise(size(split(trim(col("t")), " ")).cast("long")))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_before")).as("tok_before"),
        sum(col("n_after")).as("tok_after"))
      .withColumn("saved_fp",
        when(col("tok_before") > 0,
          expr("((tok_before - tok_after) * 1000000000L) div tok_before"))
          .otherwise(0L))
  }

  private def encRoundSql(i: Int): String =
    s"""w$i AS (SELECT min(pair) AS pair FROM s$i),
       |e$i AS (
       |  SELECT doc_id, source, n_before,
       |    CASE WHEN w$i.pair IS NULL THEN t
       |         ELSE ${mergeRewriteSql("t", s"w$i.pair")} END AS t
       |  FROM e${i - 1} CROSS JOIN w$i)""".stripMargin

  val q214Sql: String = {
    // the trainer chain (t0..t3/s1..s3) verbatim from q203Sql, plus a
    // doc-keyed encode chain e0..e3 driven by the same winners
    val trainer = q203Sql
      .split("\nSELECT ").head // keep the WITH chain, drop q203's SELECT
    s"""$trainer,
       |e0 AS (
       |  SELECT doc_id, source, CAST(len(toks) AS BIGINT) AS n_before,
       |    ' ' || array_to_string(toks, ' ') || ' ' AS t
       |  FROM (SELECT doc_id, source, list_filter(string_split_regex(
       |          lower(text), '[^a-z]+'), x -> x <> '') AS toks
       |        FROM documents)),
       |${(1 to 3).map(encRoundSql).mkString(",\n")},
       |fin AS (
       |  SELECT source, count(*) AS n_docs,
       |    CAST(sum(n_before) AS BIGINT) AS tok_before,
       |    CAST(sum(CASE WHEN trim(t) = '' THEN 0
       |      ELSE len(string_split(trim(t), ' ')) END) AS BIGINT)
       |      AS tok_after
       |  FROM e3 GROUP BY 1)
       |SELECT source, n_docs, tok_before, tok_after,
       |  CAST(CASE WHEN tok_before > 0 THEN
       |    ((tok_before - tok_after) * 1000000000) // tok_before
       |    ELSE 0 END AS BIGINT) AS saved_fp
       |FROM fin""".stripMargin
  }

  /** Vocabulary-coverage curve — the "what vocab size do we need"
    * decision table a tokenizer-training run produces before committing
    * to a vocabulary: for each candidate size K, the fraction of corpus
    * token occurrences covered by the K most frequent types (here
    * word-bigram types — the unigram vocabulary of this corpus is ~31
    * types, saturated by K=10; bigrams give a real curve). Rank ties
    * break lexicographically so the curve is engine-deterministic.
    *
    * Scale shape: bigram extraction is the q25 posexplode pattern (no
    * per-row lambda), counts fold map-side into ONE shuffle on the
    * type key. The ranking deliberately does NOT window over the full
    * type table (bigram types ~ |V|² — unbounded at corpus scale):
    * [[graft.plans.GroupTopK]] cuts to the top max(K)=1000 types with
    * per-partition heaps FIRST, and only that bounded frame gets the
    * unpartitioned row_number (the sanctioned two-pass pattern). The
    * denominator is a 1-row broadcast total over the untruncated
    * counts; the K-grid joins the ranked types with a ≤ 5×1000-row
    * broadcast nested loop. */
  def q235VocabCoverage(s: SparkSession, d: String): DataFrame =
    vocabCoverage(documents(s, d), Seq(10, 30, 100, 300, 1000))

  /** Core of [[q235VocabCoverage]] over an explicit docs frame and K
    * grid (spec entry point). */
  def vocabCoverage(docs: DataFrame, kGrid: Seq[Int]): DataFrame = {
    val s = docs.sparkSession
    val cnt = docs
      .withColumn("ws", Dedup.tokensCodegen(col("text")))
      .filter(size(col("ws")) >= 2) // letterless docs tokenize to [""], size 1
      .select(col("ws"), posexplode(col("ws")))
      .filter(col("pos") <= size(col("ws")) - 2)
      .select(concat(col("col"), lit(" "),
        element_at(col("ws"), col("pos") + 2)).as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("c"))
    val top = graft.plans.GroupTopKExtension.topKPerGroup(
      cnt.withColumn("g", lit(1)), groupCols = Seq("g"),
      order = Seq(("c", false), ("bigram", true)), k = kGrid.max)
    val ranked = top.withColumn("rn",
      row_number().over(Window.orderBy(col("c").desc, col("bigram"))))
    val total = cnt.agg(sum(col("c")).as("total_tokens"))
    val grid = {
      import s.implicits._
      kGrid.toDF("vocab_k")
    }
    ranked
      .join(broadcast(grid), col("rn") <= col("vocab_k"))
      .groupBy(col("vocab_k"))
      .agg(max(col("rn")).cast("long").as("n_types"),
        sum(col("c")).as("covered"))
      .crossJoin(broadcast(total))
      .select(col("vocab_k"), col("n_types"), col("covered"),
        round(col("covered").cast("double") /
          col("total_tokens").cast("double"), 6).as("coverage"))
  }

  val q235Sql: String =
    """WITH toks AS (
      |  SELECT list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |                     t -> t <> '') AS ws
      |  FROM documents),
      |bg AS (
      |  SELECT unnest(list_transform(range(1, len(ws)),
      |           i -> ws[i] || ' ' || ws[i+1])) AS bigram
      |  FROM toks WHERE len(ws) >= 2),
      |cnt AS (SELECT bigram, count(*) AS c FROM bg GROUP BY 1),
      |ranked AS (
      |  SELECT bigram, c,
      |    row_number() OVER (ORDER BY c DESC, bigram) AS rn FROM cnt),
      |tot AS (SELECT CAST(sum(c) AS BIGINT) AS total_tokens FROM cnt),
      |grid AS (SELECT unnest([10, 30, 100, 300, 1000]) AS vocab_k)
      |SELECT vocab_k,
      |  CAST(max(rn) AS BIGINT) AS n_types,
      |  CAST(sum(c) AS BIGINT) AS covered,
      |  round(CAST(sum(c) AS DOUBLE) / max(total_tokens), 6) AS coverage
      |FROM grid JOIN ranked ON rn <= vocab_k CROSS JOIN tot
      |GROUP BY 1""".stripMargin

  val all: Map[String, ((SparkSession, String) => DataFrame, String)] = Map(
    "q68_heavy_hitters" -> (q68HeavyHitters _, q68Sql),
    "q69_lm_score"      -> (q69LmScore _, q69Sql),
    "q78_bpe_pairs"     -> (q78BpePairs _, q78Sql),
    "q89_bm25"          -> (q89Bm25 _, q89Sql),
    "q106_tf_cosine_pairs" -> (q106TfCosinePairs _, q106Sql),
    "q173_keyness"      -> (q173Keyness _, q173Sql),
    "q199_roc_calibration" -> (q199RocCalibration _, q199Sql),
    "q203_bpe_train"    -> (q203BpeTrain _, q203Sql),
    "q212_kn_bigram"    -> (q212KnBigram _, q212Sql),
    "q214_bpe_encode"   -> (q214BpeEncode _, q214Sql),
    "q235_vocab_coverage" -> (q235VocabCoverage _, q235Sql),
  )
}
