package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Md5Bits.md5Bits

/** Text-analysis operators for a training-data pipeline over documents:
  * quality scoring (q24), n-gram counting (q25), TF-IDF (q26),
  * language-ID by stopword heuristic (q27), document fingerprinting
  * (q28). Every operator is a pure Catalyst plan (string/array built-ins,
  * no UDFs) and every one carries a DuckDB oracle.
  *
  * Scale notes: every per-token metric runs as explode-to-rows + plain
  * aggregates with map-side partial aggregation (one shuffle of slim
  * per-doc partial rows), joined back per doc where the output is
  * per-document — never as interpreted array lambdas (plan-asserted
  * lambda-free in PlanAuditSpec). Purely per-row metrics (regex counts,
  * punctuation ratios) stay shuffle-free row expressions. q26 shuffles
  * (doc, word) counts once and derives doc length / document frequency /
  * corpus size with windows + one broadcast scalar — no second scan.
  */
object TextAnalysis {
  import Tables._

  /** All text-derived metrics run LAMBDA-FREE: Spark evaluates
    * higher-order array functions (filter/transform/aggregate) with an
    * interpreted per-element closure, so per-token work in registered
    * queries uses either row-level regex expressions or the
    * explode-to-rows + plain-aggregate pattern (whole-stage codegen,
    * map-side partial agg) instead. */

  import Dedup.{nTokensCol, wordRows}

  private val stopwords = Seq("the", "a", "an", "of", "to", "and", "in", "is", "it", "for")

  /** Per-document quality metrics: token counts (whitespace and a BPE-ish
    * subword regex), average word length, stopword ratio, punctuation
    * ratio. The classic cheap quality filters for LLM corpus curation.
    * Per-row regex metrics + one word-row aggregation joined back (docs
    * with zero words keep zeroed word metrics via the left join). */
  def q24TokenStats(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val wagg = wordRows(docs).groupBy(col("doc_id")).agg(
      count(lit(1)).as("nw"),
      sum(length(col("w"))).as("wlen"),
      sum(when(col("w").isin(stopwords: _*), 1).otherwise(0)).as("nstop"))
    docs
      .join(wagg, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        nTokensCol(col("text")).as("n_tokens"),
        size(expr("regexp_extract_all(text, '[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9\\\\s]', 0)"))
          .as("n_bpeish"),
        coalesce(col("nw"), lit(0L)).cast("int").as("n_words"),
        round(coalesce(col("wlen"), lit(0L)).cast("double") /
          greatest(coalesce(col("nw"), lit(0L)), lit(1L)).cast("double"), 4)
          .as("avg_word_len"),
        round(coalesce(col("nstop"), lit(0L)).cast("double") /
          greatest(coalesce(col("nw"), lit(0L)), lit(1L)).cast("double"), 4)
          .as("stopword_ratio"),
        round(length(regexp_replace(col("text"), "[A-Za-z0-9\\s]", "")).cast("double") /
          greatest(length(col("text")), lit(1)).cast("double"), 4).as("punct_ratio"))
  }

  val q24Sql: String =
    """SELECT doc_id,
      |  len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS n_tokens,
      |  len(regexp_extract_all(text, '[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9\s]')) AS n_bpeish,
      |  len(ws) AS n_words,
      |  round(CAST(list_sum(list_transform(ws, x -> length(x))) AS DOUBLE)
      |        / greatest(len(ws), 1), 4) AS avg_word_len,
      |  round(CAST(len(list_filter(ws, t -> list_contains(
      |          ['the','a','an','of','to','and','in','is','it','for'], t))) AS DOUBLE)
      |        / greatest(len(ws), 1), 4) AS stopword_ratio,
      |  round(CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS DOUBLE)
      |        / greatest(length(text), 1), 4) AS punct_ratio
      |FROM (SELECT doc_id, text,
      |        list_filter(string_split_regex(lower(text), '[^a-z]+'), t -> t <> '') AS ws
      |      FROM documents)""".stripMargin

  /** Corpus-wide word-bigram counts (≥ 10 occurrences). One shuffle with
    * map-side partial aggregation; bigrams assembled with posexplode +
    * element_at (the gramHashRows pattern) — no transform() lambda. */
  def q25BigramCounts(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("ws", Dedup.tokensCodegen(col("text")))
      .filter(size(col("ws")) >= 2) // the letterless [""] singleton is size 1
      .select(col("ws"), posexplode(col("ws")))
      .filter(col("pos") <= size(col("ws")) - 2)
      .select(concat(col("col"), lit(" "),
        element_at(col("ws"), col("pos") + 2)).as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= 10)

  val q25Sql: String =
    """SELECT bigram, count(*) AS n FROM (
      |  SELECT unnest(list_transform(range(1, len(ws)),
      |           i -> ws[i] || ' ' || ws[i+1])) AS bigram
      |  FROM (SELECT list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |               t -> t <> '') AS ws FROM documents)
      |  WHERE len(ws) >= 2)
      |GROUP BY bigram HAVING count(*) >= 10""".stripMargin

  /** Top-3 TF-IDF terms per document. tf = termcount/doclen,
    * idf = ln(N/df); one shuffle of (doc, word) counts, then streamed
    * AGGREGATES + joins for doclen and df, and a broadcast 1-row corpus
    * size — no rescan. Aggs, not unordered windows (r16): a window
    * partitioned on `word` BUFFERS each word's group in one task's
    * memory — a stopword's group is corpus-sized at 100 TB and only
    * survives by spilling; the partial-agg'd groupBy streams the same
    * count map-side and ships one row per word. Same exchange count
    * (doc_id + word), no mega-group buffering. */
  def q26TfidfTop(s: SparkSession, d: String): DataFrame = {
    val tf = wordRows(documents(s, d)).withColumnRenamed("w", "word")
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("c"))
    val n = documents(s, d).agg(count(lit(1)).as("n_docs"))
    val doclen = tf.groupBy(col("doc_id")).agg(sum(col("c")).as("doclen"))
    val dfreq = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val withStats = tf
      .join(doclen, Seq("doc_id"))
      .join(dfreq, Seq("word"))
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        round((col("c").cast("double") / col("doclen").cast("double")) *
          log(col("n_docs").cast("double") / col("df").cast("double")), 6))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("word"))
    withStats
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("word"), col("tfidf"), col("rnk"))
  }

  val q26Sql: String =
    """WITH tf AS (
      |  SELECT doc_id, w AS word, count(*) AS c FROM (
      |    SELECT doc_id, unnest(list_filter(
      |      string_split_regex(lower(text), '[^a-z]+'), t -> t <> '')) AS w
      |    FROM documents)
      |  GROUP BY 1, 2),
      |st AS (
      |  SELECT doc_id, word, c,
      |    sum(c) OVER (PARTITION BY doc_id) AS doclen,
      |    count(*) OVER (PARTITION BY word) AS df,
      |    (SELECT count(*) FROM documents) AS n_docs
      |  FROM tf)
      |SELECT doc_id, word,
      |  round((CAST(c AS DOUBLE) / doclen) * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf,
      |  rnk
      |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY
      |        round((CAST(c AS DOUBLE) / doclen) * ln(CAST(n_docs AS DOUBLE) / df), 6) DESC,
      |        word) AS rnk
      |      FROM st)
      |WHERE rnk <= 3""".stripMargin

  private val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "es" -> Seq("el", "la", "de", "los", "las", "y", "en", "que"),
    "fr" -> Seq("le", "la", "les", "des", "et", "du", "en"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "mit"))

  /** Per-doc marker-hit scores, one conditional-sum aggregate per
    * language over the word rows; docs with no words keep zero scores
    * via the left join (→ 'und'). Replaces four interpreted filter()
    * lambdas per row. */
  private def markerScores(docs: DataFrame): DataFrame = {
    val aggs = markers.map { case (lang, ms) =>
      sum(when(col("w").isin(ms: _*), 1).otherwise(0)).as(s"s_$lang")
    }
    val scored = wordRows(docs).groupBy(col("doc_id"))
      .agg(aggs.head, aggs.tail: _*)
    docs.select(col("doc_id")).join(scored, Seq("doc_id"), "left")
      .na.fill(0L, markers.map { case (lang, _) => s"s_$lang" })
  }

  private val langPredCol: Column =
    when(col("s_en") >= col("s_es") && col("s_en") >= col("s_fr") &&
      col("s_en") >= col("s_de") && col("s_en") > 0, "en")
      .when(col("s_es") >= col("s_fr") && col("s_es") >= col("s_de") &&
        col("s_es") > 0, "es")
      .when(col("s_fr") >= col("s_de") && col("s_fr") > 0, "fr")
      .when(col("s_de") > 0, "de")
      .otherwise("und")

  /** COHEN'S KAPPA for the q27 lang-ID classifier against the labeled
    * `lang` column — CHANCE-CORRECTED agreement, the metric that keeps
    * a majority-class-dominated eval honest (raw accuracy rewards
    * predicting 'en' everywhere on an en-heavy corpus; κ subtracts the
    * agreement two raters with these marginals would reach by luck).
    * Multi-class: po = Σ_k n_kk / n, pe = Σ_k r_k·c_k / n²,
    * κ = (po − pe)/(1 − pe). Emits the per-class confusion marginals
    * (n_true, n_pred, n_correct — 'zh' is never predicted and 'und'
    * never true, so both appear with a zero marginal via the full
    * outer join) plus κ as a scalar-join column.
    *
    * Integer-exact: with S = Σ r_k·c_k, κ+1 = (n·agree − S + n² − S)
    * / (n² − S) — the numerator is nonnegative BECAUSE κ ≥ −1, so the
    * 1e-9 fixed-point division floors identically on both engines
    * (the nonneg-numerator div discipline); products widen to
    * DECIMAL(38,0)/HUGEINT (n² at 100 TB). Degenerate n² = S (all mass
    * in one marginal cell) emits the defined-perfect 2e9.
    *
    * Scale shape: one doc-keyed classify pass (q27's plan), three
    * classes-sized partial aggs, a classes-sized outer join, one 1-row
    * scalar join.
    *
    * The sf0.01 readout is the metric's own advertisement: the marker
    * classifier predicts 'en' for 453/500 docs and κ lands at ~0.0016 —
    * statistically CHANCE — where raw agreement (~40%) merely looks
    * weak. TextOpsSpec hand-computes a confusion where accuracy says
    * 87.5% and κ says 0.75. */
  def q215CohensKappa(s: SparkSession, d: String): DataFrame = {
    val pred = markerScores(documents(s, d))
      .withColumn("lang_pred", langPredCol)
      .join(documents(s, d).select(col("doc_id"), col("lang")), Seq("doc_id"))
      .select(col("lang"), col("lang_pred"))
    val t = pred.groupBy(col("lang")).agg(count(lit(1)).as("n_true"))
    val p = pred.groupBy(col("lang_pred").as("lang"))
      .agg(count(lit(1)).as("n_pred"))
    val c = pred.filter(col("lang") === col("lang_pred"))
      .groupBy(col("lang")).agg(count(lit(1)).as("n_correct"))
    val classes = t.join(p, Seq("lang"), "full")
      .join(c, Seq("lang"), "left")
      .select(col("lang"),
        coalesce(col("n_true"), lit(0L)).as("n_true"),
        coalesce(col("n_pred"), lit(0L)).as("n_pred"),
        coalesce(col("n_correct"), lit(0L)).as("n_correct"))
    val stats = classes.agg(sum(col("n_true")).as("n"),
      sum(col("n_correct")).as("agree"),
      sum(expr("CAST(n_true AS DECIMAL(38,0)) * n_pred")).as("s"))
    classes.crossJoin(broadcast(stats))
      .select(col("lang"), col("n_true"), col("n_pred"), col("n_correct"),
        expr("""CASE WHEN CAST(n AS DECIMAL(38,0)) * n > s THEN
            CAST(((CAST(n AS DECIMAL(38,0)) * agree - s
                   + CAST(n AS DECIMAL(38,0)) * n - s) * 1000000000)
              div (CAST(n AS DECIMAL(38,0)) * n - s) AS BIGINT)
          ELSE CAST(2000000000 AS BIGINT) END""").as("kappa1p_e9"))
  }

  val q215Sql: String =
    s"""WITH pred AS (
       |  SELECT d.lang, p.lang_pred FROM documents d JOIN (
       |    SELECT doc_id, CASE
       |      WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_de
       |        AND s_en > 0 THEN 'en'
       |      WHEN s_es >= s_fr AND s_es >= s_de AND s_es > 0 THEN 'es'
       |      WHEN s_fr >= s_de AND s_fr > 0 THEN 'fr'
       |      WHEN s_de > 0 THEN 'de'
       |      ELSE 'und' END AS lang_pred
       |    FROM (
       |      SELECT doc_id,
       |        len(list_filter(ws, t -> list_contains(['the','a','of','and','to','in','is'], t))) AS s_en,
       |        len(list_filter(ws, t -> list_contains(['el','la','de','los','las','y','en','que'], t))) AS s_es,
       |        len(list_filter(ws, t -> list_contains(['le','la','les','des','et','du','en'], t))) AS s_fr,
       |        len(list_filter(ws, t -> list_contains(['der','die','das','und','ist','von','mit'], t))) AS s_de
       |      FROM (SELECT doc_id, list_filter(string_split_regex(lower(text),
       |              '[^a-z]+'), t -> t <> '') AS ws FROM documents))) p
       |  ON d.doc_id = p.doc_id),
       |t AS (SELECT lang, count(*) AS n_true FROM pred GROUP BY 1),
       |p AS (SELECT lang_pred AS lang, count(*) AS n_pred FROM pred
       |      GROUP BY 1),
       |c AS (SELECT lang, count(*) AS n_correct FROM pred
       |      WHERE lang = lang_pred GROUP BY 1),
       |cls AS (
       |  SELECT coalesce(t.lang, p.lang) AS lang,
       |    coalesce(n_true, 0) AS n_true, coalesce(n_pred, 0) AS n_pred,
       |    coalesce(n_correct, 0) AS n_correct
       |  FROM t FULL JOIN p ON t.lang = p.lang
       |  LEFT JOIN c ON coalesce(t.lang, p.lang) = c.lang),
       |st AS (SELECT CAST(sum(n_true) AS HUGEINT) AS n,
       |         CAST(sum(n_correct) AS HUGEINT) AS agree,
       |         CAST(sum(CAST(n_true AS HUGEINT) * n_pred) AS HUGEINT) AS s
       |       FROM cls)
       |SELECT lang, CAST(n_true AS BIGINT) AS n_true,
       |  CAST(n_pred AS BIGINT) AS n_pred,
       |  CAST(n_correct AS BIGINT) AS n_correct,
       |  CAST(CASE WHEN n * n > s THEN
       |      ((n * agree - s + n * n - s) * 1000000000) // (n * n - s)
       |    ELSE 2000000000 END AS BIGINT) AS kappa1p_e9
       |FROM cls CROSS JOIN st""".stripMargin

  /** Language-ID by stopword-hit scoring: count token hits against small
    * per-language marker lists, argmax with fixed priority, 'und' when
    * nothing hits; aggregated to (predicted lang → doc count). */
  def q27LangId(s: SparkSession, d: String): DataFrame =
    markerScores(documents(s, d))
      .withColumn("lang_pred", langPredCol)
      .groupBy(col("lang_pred"))
      .agg(count(lit(1)).as("n_docs"))

  val q27Sql: String =
    """SELECT lang_pred, count(*) AS n_docs FROM (
      |  SELECT CASE
      |    WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_de AND s_en > 0 THEN 'en'
      |    WHEN s_es >= s_fr AND s_es >= s_de AND s_es > 0 THEN 'es'
      |    WHEN s_fr >= s_de AND s_fr > 0 THEN 'fr'
      |    WHEN s_de > 0 THEN 'de'
      |    ELSE 'und' END AS lang_pred
      |  FROM (
      |    SELECT
      |      len(list_filter(ws, t -> list_contains(['the','a','of','and','to','in','is'], t))) AS s_en,
      |      len(list_filter(ws, t -> list_contains(['el','la','de','los','las','y','en','que'], t))) AS s_es,
      |      len(list_filter(ws, t -> list_contains(['le','la','les','des','et','du','en'], t))) AS s_fr,
      |      len(list_filter(ws, t -> list_contains(['der','die','das','und','ist','von','mit'], t))) AS s_de
      |    FROM (SELECT list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |                 t -> t <> '') AS ws FROM documents)))
      |GROUP BY lang_pred""".stripMargin

  /** Document fingerprint: minimum md5 over word-trigram shingles — the
    * set-min construction of winnowing-style fingerprints (a content-
    * defined signature stable under reordering-free edits away from the
    * minimal shingle). Shingle STRINGS assembled with posexplode +
    * element_at and reduced by a plain min aggregate (partial agg
    * map-side) — no transform() lambda; duplicate shingles can't affect
    * a min, so no distinct step is needed. */
  def q28Fingerprint(s: SparkSession, d: String): DataFrame = {
    val t = documents(s, d)
      .withColumn("toks", Dedup.tokensCodegen(col("text")))
    val tri = t.filter(size(col("toks")) >= 3)
      .select(col("doc_id"), col("toks"), posexplode(col("toks")))
      .filter(col("pos") <= size(col("toks")) - 3)
      .select(col("doc_id"),
        md5(concat_ws(" ", col("col"),
          element_at(col("toks"), col("pos") + 2),
          element_at(col("toks"), col("pos") + 3))).as("h"))
    val short = t.filter(size(col("toks")) < 3)
      .select(col("doc_id"), md5(concat_ws(" ", col("toks"))).as("h"))
    tri.unionAll(short)
      .groupBy(col("doc_id"))
      .agg(min(col("h")).as("fingerprint"))
  }

  val q28Sql: String =
    """SELECT doc_id,
      |  list_min(list_transform(gs, x -> md5(x))) AS fingerprint
      |FROM (
      |  SELECT doc_id, CASE WHEN len(ws) >= 3
      |    THEN list_distinct(list_transform(range(1, len(ws) - 1),
      |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
      |    ELSE [array_to_string(ws, ' ')] END AS gs
      |  FROM (SELECT doc_id, list_filter(
      |          string_split_regex(lower(text), '[^a-z]+'), t -> t <> '') AS ws
      |        FROM documents))""".stripMargin

  /** The end-to-end corpus-curation pipeline — what this engine exists
    * to run at 100 TB — as ONE composed query:
    *   1. quality gate: 20 ≤ word count ≤ 1000;
    *   2. language gate: stopword-scored prediction = 'en';
    *   3. exact dedup: keep-first by normalized-text md5;
    *   4. near-dup removal: drop the higher doc_id of every pair with
    *      trigram Jaccard ≥ 0.8 — candidates from the MinHash-LSH bucket
    *      join (the oracle recomputes the TRUE pair set exactly, so this
    *      also gates LSH recall end-to-end).
    * Output: the surviving corpus (doc_id, n_words).
    */
  def q40CorpusPipeline(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    // 1+2: quality + language gates — word count and all four marker
    // scores in ONE aggregation over the word rows (no array lambdas),
    // joined back to carry the text into the dedup stages
    val scoreAggs = count(lit(1)).as("n_words") +: markers.map {
      case (lang, ms) =>
        sum(when(col("w").isin(ms: _*), 1).otherwise(0)).as(s"s_$lang")
    }
    val scored = docs.select(col("doc_id"), col("text"))
      .join(wordRows(docs).groupBy(col("doc_id"))
        .agg(scoreAggs.head, scoreAggs.tail: _*), Seq("doc_id"), "left")
      .na.fill(0L, "n_words" +: markers.map { case (lang, _) => s"s_$lang" })
    val gated = scored
      .filter(col("n_words").between(20, 1000))
      .filter(col("s_en") >= col("s_es") && col("s_en") >= col("s_fr") &&
        col("s_en") >= col("s_de") && col("s_en") > 0)
      .select(col("doc_id"), col("text"), col("n_words"))
    // 3: exact dedup, keep-first per normalized hash — as a WINDOW
    // row_number (one shuffle on the hash), not groupBy-min + semi-join,
    // which would consume the gated subtree twice. Caching gated itself
    // was measured SLOWER at bench scale: columnar-encoding full document
    // text costs more than recomputing the gate, and at 100 TB the
    // text-heavy cache is exactly what you don't want resident. The
    // cacheable intermediates are the slim gram/signature rows inside
    // neardupPairs (spark.graft.dedup.cache — see Dedup.maybeCache).
    val byHash = Window.partitionBy(
      md5(lower(trim(regexp_replace(col("text"), "\\s+", " "))))).orderBy(col("doc_id"))
    val deduped = gated
      .withColumn("__rn", row_number().over(byHash))
      .filter(col("__rn") === 1)
      .drop("__rn")
    // 4: near-dup removal — drop id_b of every surviving pair
    val pairs = Dedup.neardupPairs(
      deduped.select(col("doc_id"), col("text")), bands = 16, rowsPerBand = 4,
      threshold = 0.8)
    deduped
      .join(pairs.select(col("id_b").as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("n_words"))
  }

  val q40Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, text,
      |    list_filter(string_split_regex(lower(text), '[^a-z]+'), t -> t <> '') AS ws
      |  FROM documents),
      |gated AS (
      |  SELECT doc_id, text, ws, len(ws) AS n_words FROM toks
      |  WHERE len(ws) BETWEEN 20 AND 1000
      |    AND len(list_filter(ws, t -> list_contains(['the','a','of','and','to','in','is'], t)))
      |        >= len(list_filter(ws, t -> list_contains(['el','la','de','los','las','y','en','que'], t)))
      |    AND len(list_filter(ws, t -> list_contains(['the','a','of','and','to','in','is'], t)))
      |        >= len(list_filter(ws, t -> list_contains(['le','la','les','des','et','du','en'], t)))
      |    AND len(list_filter(ws, t -> list_contains(['the','a','of','and','to','in','is'], t)))
      |        >= len(list_filter(ws, t -> list_contains(['der','die','das','und','ist','von','mit'], t)))
      |    AND len(list_filter(ws, t -> list_contains(['the','a','of','and','to','in','is'], t))) > 0),
      |keep AS (
      |  SELECT min(doc_id) AS doc_id
      |  FROM gated
      |  GROUP BY md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))),
      |deduped AS (
      |  SELECT g.doc_id, g.ws, g.n_words FROM gated g
      |  WHERE g.doc_id IN (SELECT doc_id FROM keep)),
      |glists AS (
      |  SELECT doc_id, CASE WHEN len(ws) >= 3
      |    THEN list_distinct(list_transform(range(1, len(ws) - 1),
      |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
      |    ELSE [array_to_string(ws, ' ')] END AS gs
      |  FROM deduped),
      |grams AS (SELECT DISTINCT doc_id, unnest(gs) AS g FROM glists),
      |sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ninter
      |  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |drops AS (
      |  SELECT DISTINCT id_b AS doc_id FROM inter
      |  JOIN sizes sa ON sa.doc_id = id_a
      |  JOIN sizes sb ON sb.doc_id = id_b
      |  WHERE CAST(ninter AS DOUBLE) / (sa.sz + sb.sz - ninter) >= 0.8)
      |SELECT doc_id, n_words FROM deduped
      |WHERE doc_id NOT IN (SELECT doc_id FROM drops)""".stripMargin

  /** Gopher-style repetition filters (Rae et al. 2021, public): the
    * fraction of trigram OCCURRENCES belonging to a trigram repeated
    * within the document, and the share of bigram occurrences taken by
    * the single most frequent bigram — the standard signals for
    * boilerplate / looping-generation text that length and stopword
    * ratios miss. Occurrence-level n-gram rows (NOT the deduplicated
    * gramHashRows feed) aggregate per (doc, gram-hash) then per doc —
    * two partial-aggregated shuffles of slim hashed rows; the most-
    * frequent-bigram share needs only max(c), so no per-doc sort or
    * window anywhere. Thresholds are illustrative; both engines compare
    * the same round(…, 6) values so the flag is deterministic. */
  def q56Repetition(s: SparkSession, d: String): DataFrame =
    repetitionStats(documents(s, d).select(col("doc_id"), col("text")))

  /** See [[q56Repetition]]; operates on any (doc_id, text) frame. */
  def repetitionStats(docs: DataFrame): DataFrame = {
    val t = docs.repartition(col("doc_id"))
      .withColumn("toks", Dedup.tokensCodegen(col("text")))
    def occRows(n: Int): DataFrame =
      t.filter(size(col("toks")) >= n)
        .select(col("doc_id"), col("toks"), posexplode(col("toks")))
        .filter(col("pos") <= size(col("toks")) - n)
        .select(col("doc_id"),
          xxhash64((col("col") +:
            (2 to n).map(j => element_at(col("toks"), col("pos") + j))): _*)
            .as("gh"))
    val triStats = occRows(3)
      .groupBy(col("doc_id"), col("gh")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tri"),
        sum(when(col("c") > 1, col("c")).otherwise(0L)).as("n_dup"))
    val biStats = occRows(2)
      .groupBy(col("doc_id"), col("gh")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_bi"), max(col("c")).as("top_bi"))
    docs.select(col("doc_id"))
      .join(triStats, Seq("doc_id"), "left")
      .join(biStats, Seq("doc_id"), "left")
      .select(col("doc_id"),
        round(coalesce(col("n_dup").cast("double") / col("n_tri").cast("double"),
          lit(0.0)), 6).as("dup_trigram_frac"),
        round(coalesce(col("top_bi").cast("double") / col("n_bi").cast("double"),
          lit(0.0)), 6).as("top_bigram_frac"))
      .withColumn("repetitive",
        col("dup_trigram_frac") >= 0.2 || col("top_bigram_frac") >= 0.2)
  }

  val q56Sql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '[^a-z]+'), t -> t <> '') AS ws
      |  FROM documents),
      |tri AS (
      |  SELECT doc_id, unnest(CASE WHEN len(ws) >= 3
      |    THEN list_transform(range(1, len(ws) - 1),
      |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
      |    ELSE [] END) AS g
      |  FROM toks),
      |tric AS (SELECT doc_id, g, count(*) AS c FROM tri GROUP BY 1, 2),
      |tstats AS (
      |  SELECT doc_id, sum(c) AS n_tri,
      |    sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS n_dup
      |  FROM tric GROUP BY 1),
      |bi AS (
      |  SELECT doc_id, unnest(CASE WHEN len(ws) >= 2
      |    THEN list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])
      |    ELSE [] END) AS g
      |  FROM toks),
      |bic AS (SELECT doc_id, g, count(*) AS c FROM bi GROUP BY 1, 2),
      |bstats AS (SELECT doc_id, sum(c) AS n_bi, max(c) AS top_bi
      |           FROM bic GROUP BY 1)
      |SELECT d.doc_id,
      |  round(coalesce(CAST(n_dup AS DOUBLE) / CAST(n_tri AS DOUBLE), 0), 6)
      |    AS dup_trigram_frac,
      |  round(coalesce(CAST(top_bi AS DOUBLE) / CAST(n_bi AS DOUBLE), 0), 6)
      |    AS top_bigram_frac,
      |  (round(coalesce(CAST(n_dup AS DOUBLE) / CAST(n_tri AS DOUBLE), 0), 6) >= 0.2
      |   OR round(coalesce(CAST(top_bi AS DOUBLE) / CAST(n_bi AS DOUBLE), 0), 6) >= 0.2)
      |    AS repetitive
      |FROM documents d
      |LEFT JOIN tstats ON d.doc_id = tstats.doc_id
      |LEFT JOIN bstats ON d.doc_id = bstats.doc_id""".stripMargin

  /** Shannon entropy of each document's unigram distribution — the
    * information-density quality signal (low-entropy docs are looping /
    * template generations; complements q56's repetition ratios, which
    * only see EXACT n-gram repeats). Computed as
    * `H = log2(n) - (Σ c·log2(c)) / n` so the only cross-engine
    * floating-point hazard is each per-word `c·log2(c)` term: terms are
    * rounded to 6 decimals and summed as DECIMAL (exact, order-free —
    * the q41 convention), then the single final division and log2 are
    * bit-identical double ops on identical inputs. One partial-aggregated
    * shuffle on (doc, word), one on doc — never a per-doc sort. Docs
    * with no a-z tokens have no distribution and are excluded on both
    * engines. */
  def q73TokenEntropy(s: SparkSession, d: String): DataFrame =
    tokenEntropy(documents(s, d).select(col("doc_id"), col("text")))

  /** See [[q73TokenEntropy]]; operates on any (doc_id, text) frame. */
  def tokenEntropy(docs: DataFrame): DataFrame =
    wordRows(docs)
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
        sum(round(col("c").cast("double") * log2(col("c")), 6)
          .cast("decimal(38,6)")).as("s"))
      .select(col("doc_id"), col("n_tokens"),
        round(log2(col("n_tokens")) -
          col("s").cast("double") / col("n_tokens").cast("double"), 6)
          .as("entropy"))

  val q73Sql: String =
    """WITH w AS (
      |  SELECT doc_id,
      |    unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |           t -> t <> '')) AS w
      |  FROM documents),
      |c AS (SELECT doc_id, w, count(*) AS c FROM w GROUP BY 1, 2),
      |a AS (
      |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
      |    sum(CAST(round(c * log2(c), 6) AS DECIMAL(38,6))) AS s
      |  FROM c GROUP BY 1)
      |SELECT doc_id, n_tokens,
      |  round(log2(n_tokens) - CAST(s AS DOUBLE) / n_tokens, 6) AS entropy
      |FROM a""".stripMargin

  /** PMI collocations over the q25 bigrams: for every adjacent token
    * pair seen ≥10 times, pmi = ln(P(a,b) / (P(a)·P(b))) with unigram
    * probabilities over total tokens and pair probability over total
    * pairs — the classic collocation-extraction score (phrase mining
    * for tokenizer/vocab curation).
    *
    * Scale shape: token and pair counts are plain partial-agg
    * aggregations; the two 1-row totals broadcast; the unigram joins
    * key on a word each — nothing is ever corpus×corpus, and the ≥10
    * support floor keeps the join output collocation-sized.
    *
    * Numeric convention: ln() inputs are built with the IDENTICAL
    * double expression tree on both engines ((n_ab·Nu·Nu)/(Np·n_a·n_b)
    * — IEEE ops are deterministic given the same tree), and the single
    * ln() result rounds to 6 dp per the q26 convention. */
  def q120PmiBigrams(s: SparkSession, d: String): DataFrame =
    pmiBigrams(documents(s, d), minSupport = 10)

  private[operators] def pmiBigrams(docs: DataFrame, minSupport: Int): DataFrame = {
    val ws = docs.withColumn("ws", Dedup.tokensCodegen(col("text")))
    val uni = ws.select(explode(col("ws")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("n_w"))
    val pairRows = ws.filter(size(col("ws")) >= 2)
      .select(col("ws"), posexplode(col("ws")))
      .filter(col("pos") <= size(col("ws")) - 2)
      .select(col("col").as("wa"),
        element_at(col("ws"), col("pos") + 2).as("wb"))
    val nu = uni.agg(sum(col("n_w")).as("nu"))
    val np = pairRows.agg(count(lit(1)).as("np"))
    pairRows
      .groupBy(col("wa"), col("wb")).agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minSupport)
      .join(uni.select(col("w").as("wa"), col("n_w").as("n_a")), Seq("wa"))
      .join(uni.select(col("w").as("wb"), col("n_w").as("n_b")), Seq("wb"))
      .crossJoin(broadcast(nu)).crossJoin(broadcast(np))
      .select(
        concat(col("wa"), lit(" "), col("wb")).as("bigram"),
        col("n_ab"), col("n_a"), col("n_b"),
        round(log(
          (col("n_ab").cast("double") * col("nu") * col("nu")) /
            (col("np").cast("double") * col("n_a") * col("n_b"))), 6)
          .as("pmi"))
  }

  val q120Sql: String =
    """WITH t AS (
      |  SELECT list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |         x -> x <> '') AS ws FROM documents),
      |uni AS (
      |  SELECT w, count(*) AS n_w
      |  FROM (SELECT unnest(ws) AS w FROM t) GROUP BY 1),
      |pr AS (
      |  SELECT ws[i] AS wa, ws[i+1] AS wb
      |  FROM t, unnest(range(1, len(ws))) AS r(i) WHERE len(ws) >= 2),
      |pc AS (
      |  SELECT wa, wb, count(*) AS n_ab FROM pr GROUP BY 1, 2
      |  HAVING count(*) >= 10),
      |nu AS (SELECT sum(n_w) AS nu FROM uni),
      |np AS (SELECT count(*) AS np FROM pr)
      |SELECT pc.wa || ' ' || pc.wb AS bigram, pc.n_ab, a.n_w AS n_a,
      |  b.n_w AS n_b,
      |  round(ln((CAST(pc.n_ab AS DOUBLE) * nu.nu * nu.nu) /
      |           (CAST(np.np AS DOUBLE) * a.n_w * b.n_w)), 6) AS pmi
      |FROM pc
      |JOIN uni a ON a.w = pc.wa
      |JOIN uni b ON b.w = pc.wb
      |CROSS JOIN nu CROSS JOIN np""".stripMargin

  /** KL divergence of each source's token distribution from the corpus
    * distribution — the drift/contamination monitor for a multi-source
    * training mix ("which crawl slice stopped looking like the rest").
    * KL(p_s ‖ p_corpus) = Σ_w (n_sw/N_s)·ln((n_sw·N)/(N_s·n_w)); only
    * words the source CONTAINS contribute (n_sw > 0), so no smoothing
    * is needed and the sum is exact over the source's vocab.
    *
    * Scale shape: ONE tokenize pass feeds (source, word) partial-agg
    * counts; corpus word counts and per-source totals are second-level
    * aggregates of that same frame (never a re-scan); the vocab-sized
    * join keys on the word, the sources-sized totals broadcast. The
    * per-term round(8)-then-decimal-sum convention (q26/q69) makes the
    * double sum order-independent and engine-exact. */
  def q123SourceKl(s: SparkSession, d: String): DataFrame =
    sourceKl(documents(s, d))

  /** See [[q123SourceKl]]; any (source, text) frame. */
  private[operators] def sourceKl(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("source"),
        explode(Dedup.tokensCodegen(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
    val sw = toks.groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("n_sw"))
    val st = sw.groupBy(col("source")).agg(sum(col("n_sw")).as("n_s"))
    val cw = sw.groupBy(col("w")).agg(sum(col("n_sw")).as("n_w"))
    val tot = sw.agg(sum(col("n_sw")).as("n"))
    sw.join(st, Seq("source")).join(cw, Seq("w"))
      .crossJoin(broadcast(tot))
      .withColumn("term", round(
        (col("n_sw").cast("double") / col("n_s")) *
          log((col("n_sw").cast("double") * col("n")) /
            (col("n_s").cast("double") * col("n_w"))), 8))
      .groupBy(col("source"), col("n_s").cast("long").as("n_tokens"))
      .agg(round(sum(col("term").cast("decimal(38,18)")).cast("double"), 6)
        .as("kl"))
  }

  val q123Sql: String =
    """WITH toks AS (
      |  SELECT source, w FROM (
      |    SELECT source,
      |      unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |             x -> x <> '')) AS w
      |    FROM documents)),
      |sw AS (SELECT source, w, count(*) AS n_sw FROM toks GROUP BY 1, 2),
      |st AS (SELECT source, sum(n_sw) AS n_s FROM sw GROUP BY 1),
      |cw AS (SELECT w, sum(n_sw) AS n_w FROM sw GROUP BY 1),
      |tot AS (SELECT sum(n_sw) AS n FROM sw)
      |SELECT sw.source, CAST(st.n_s AS BIGINT) AS n_tokens,
      |  round(CAST(sum(CAST(round(
      |    (CAST(n_sw AS DOUBLE) / n_s) *
      |    ln((CAST(n_sw AS DOUBLE) * n) / (CAST(n_s AS DOUBLE) * n_w)), 8)
      |    AS DECIMAL(38,18))) AS DOUBLE), 6) AS kl
      |FROM sw JOIN st ON st.source = sw.source
      |JOIN cw ON cw.w = sw.w CROSS JOIN tot
      |GROUP BY 1, 2""".stripMargin

  /** Zipf slope per language: least-squares slope of ln(freq) against
    * ln(rank) over the top-100 words — the one-number sanity check that
    * a text slice looks like natural language (≈ −1 for real corpora;
    * near 0 for synthetic/templated text, steeper for repetitive spam).
    *
    * Scale shape: word counts are partial-agg; the top-100 rank needs
    * the rank VALUE (x = ln rank), so the GroupTopK whole-operator
    * rewrite rightly declines and Spark's partial+final WindowGroupLimit
    * bounds the sort input to ≤k rows per lang on both sides of the
    * exchange instead — never a vocab-sized sort (plan-asserted). The
    * regression runs on ≤100 points per lang.
    * Numeric convention: ln terms round to 8 dp, every sum accumulates
    * in DECIMAL(38,18) (order-free), the closed-form slope is one
    * double expression over those exact sums, rounded to 6. */
  def q128ZipfSlope(s: SparkSession, d: String): DataFrame =
    zipfSlope(documents(s, d), topK = 100)

  /** See [[q128ZipfSlope]]; any (lang, text) frame. */
  private[operators] def zipfSlope(docs: DataFrame, topK: Int): DataFrame = {
    def ds(c: org.apache.spark.sql.Column) =
      sum(c.cast("decimal(38,18)")).cast("double")
    val wc = docs
      .select(col("lang"), explode(Dedup.tokensCodegen(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("n"))
    val rk = wc
      .withColumn("r", row_number().over(
        Window.partitionBy(col("lang")).orderBy(col("n").desc, col("w"))))
      .filter(col("r") <= topK)
    val pts = rk.select(col("lang"),
      round(log(col("r").cast("double")), 8).as("x"),
      round(log(col("n").cast("double")), 8).as("y"))
    pts.groupBy(col("lang"))
      .agg(count(lit(1)).as("k"),
        ds(col("x")).as("sx"), ds(col("y")).as("sy"),
        ds(col("x") * col("y")).as("sxy"), ds(col("x") * col("x")).as("sxx"))
      .select(col("lang"), col("k").as("n_words"),
        round((col("k") * col("sxy") - col("sx") * col("sy")) /
          (col("k") * col("sxx") - col("sx") * col("sx")), 6).as("zipf_slope"))
  }

  val q128Sql: String =
    """WITH toks AS (
      |  SELECT lang, w FROM (
      |    SELECT lang,
      |      unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |             x -> x <> '')) AS w FROM documents)),
      |wc AS (SELECT lang, w, count(*) AS n FROM toks GROUP BY 1, 2),
      |rk AS (
      |  SELECT lang, n, row_number() OVER (PARTITION BY lang
      |           ORDER BY n DESC, w) AS r
      |  FROM wc QUALIFY r <= 100),
      |pts AS (
      |  SELECT lang, round(ln(CAST(r AS DOUBLE)), 8) AS x,
      |         round(ln(CAST(n AS DOUBLE)), 8) AS y
      |  FROM rk),
      |m AS (
      |  SELECT lang, count(*) AS k,
      |    CAST(sum(CAST(x AS DECIMAL(38,18))) AS DOUBLE) AS sx,
      |    CAST(sum(CAST(y AS DECIMAL(38,18))) AS DOUBLE) AS sy,
      |    CAST(sum(CAST(x * y AS DECIMAL(38,18))) AS DOUBLE) AS sxy,
      |    CAST(sum(CAST(x * x AS DECIMAL(38,18))) AS DOUBLE) AS sxx
      |  FROM pts GROUP BY 1)
      |SELECT lang, k AS n_words,
      |  round((k * sxy - sx * sy) / (k * sxx - sx * sx), 6) AS zipf_slope
      |FROM m""".stripMargin

  /** TEXTRANK KEYWORD EXTRACTION (Mihalcea & Tarau 2004): the corpus's
    * top-20 keywords by PageRank over the word co-occurrence graph —
    * words are adjacent iff they appear next to each other in some
    * document (window 2, the paper's default), stopwords and
    * self-pairs excluded, the graph undirected. A composition proof:
    * the tokenizer (q25's adjacency idiom) feeds [[Graph.pagerank]]'s
    * integer fixed-point power iteration UNCHANGED — words become
    * 60-bit nodes via `md5_bits` ([[graft.functions.Md5Bits]]), so the walk is the same
    * bit-identical BIGINT computation q81 gates.
    *
    * Scale shape: one tokenize pass → DISTINCT normalized pairs
    * (vocabulary²-bounded, in practice co-occurrence-sparse) → the q81
    * pagerank schedule (src-partitioned checkpointed edges, node-sized
    * rank frame, zero per-iteration hash exchanges) → a TakeOrdered
    * top-20 with the word labels joined on the node id. The rank
    * frame, not the corpus, flows through the iterations. */
  def q196Textrank(s: SparkSession, d: String): DataFrame = {
    val stop = stopwords
    val pairs = documents(s, d)
      .withColumn("ws", Dedup.tokensCodegen(col("text")))
      .filter(size(col("ws")) >= 2)
      .select(col("ws"), posexplode(col("ws")))
      .filter(col("pos") <= size(col("ws")) - 2)
      .select(col("col").as("wa"),
        element_at(col("ws"), col("pos") + 2).as("wb"))
      .filter(col("wa") =!= col("wb") &&
        !col("wa").isin(stop: _*) && !col("wb").isin(stop: _*))
      .select(least(col("wa"), col("wb")).as("a"),
        greatest(col("wa"), col("wb")).as("b"))
      .distinct()
      .localCheckpoint(false) // two consumers: edges + label table
    val edges = pairs.select(md5Bits(col("a")).as("src"), md5Bits(col("b")).as("dst"))
      .unionAll(pairs.select(md5Bits(col("b")).as("src"), md5Bits(col("a")).as("dst")))
    val labels = pairs.select(col("a").as("word"))
      .union(pairs.select(col("b").as("word"))).distinct()
      .select(col("word"), md5Bits(col("word")).as("node"))
    Graph.pagerank(edges)
      .join(labels, Seq("node"))
      .orderBy(col("rank_e12").desc, col("word"))
      .limit(20)
      .select(col("word"), col("rank_e12"))
  }

  val q196Sql: String = {
    val stopList = stopwords.map(w => s"'$w'").mkString(", ")
    s"""WITH tok AS (
       |  SELECT list_filter(string_split_regex(lower(text), '[^a-z]+'),
       |         t -> t <> '') AS ws
       |  FROM documents),
       |big AS (
       |  SELECT unnest(list_transform(range(1, len(ws)),
       |           i -> ws[i] || ' ' || ws[i+1])) AS bg
       |  FROM tok WHERE len(ws) >= 2),
       |pairs AS (
       |  SELECT DISTINCT least(p[1], p[2]) AS a, greatest(p[1], p[2]) AS b
       |  FROM (SELECT string_split(bg, ' ') AS p FROM big)
       |  WHERE p[1] <> p[2]
       |    AND p[1] NOT IN ($stopList) AND p[2] NOT IN ($stopList)),
       |eraw AS (
       |  SELECT CAST('0x' || substr(md5(a), 1, 15) AS BIGINT) AS src,
       |         CAST('0x' || substr(md5(b), 1, 15) AS BIGINT) AS dst
       |  FROM pairs),
       |edges AS (SELECT src, dst FROM eraw
       |          UNION ALL SELECT dst, src FROM eraw),
       |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
       |ed AS (SELECT e.src, e.dst, d.deg FROM edges e
       |       JOIN deg d ON d.src = e.src),
       |nodes AS (SELECT DISTINCT src AS node FROM edges),
       |nn AS (SELECT count(*) AS n FROM nodes),
       |r0 AS (SELECT node, CAST(${Graph.Scale} // nn.n AS BIGINT) AS rank_e12
       |       FROM nodes CROSS JOIN nn),
       |${(1 to Graph.Iters).map(Graph.iterSql).mkString(",\n")},
       |lab AS (
       |  SELECT w AS word, CAST('0x' || substr(md5(w), 1, 15) AS BIGINT)
       |      AS node
       |  FROM (SELECT a AS w FROM pairs UNION SELECT b FROM pairs))
       |SELECT word, rank_e12
       |FROM r${Graph.Iters} r JOIN lab ON r.node = lab.node
       |ORDER BY rank_e12 DESC, word LIMIT 20""".stripMargin
  }

  /** CORPUS-SPECIFIC STOPWORD DISCOVERY (round-15): the stopword lists
    * this repo's quality rules use (q24/q175/q222) are fixed English
    * priors; a pipeline ingesting a new domain derives its own from
    * DOCUMENT FREQUENCY — a token present in most documents carries no
    * topical signal and is what IDF would zero anyway. Output: every
    * token whose document frequency reaches 30% of the corpus, with
    * its df and ratio — the list a curation config would paste in.
    * Integer threshold (df·10 ≥ 3·n_docs: no float compare); the only
    * division is the final rounded ratio.
    *
    * Scale shape: one (doc, word)-distinct shuffle (map-side partial
    * via the distinct) + a word-grain count — the q26 DF machinery
    * without the per-doc join back; output is vocabulary-bounded and
    * in practice tiny (function words). */
  def q250StopwordDiscovery(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    wordRows(docs).select(col("doc_id"), col("w")).distinct()
      .groupBy(col("w")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .filter(col("df") * 10 >= col("n_docs") * 3)
      .select(col("w").as("token"), col("df"),
        round(col("df").cast("double") / col("n_docs"), 6).as("df_ratio"))
  }

  val q250Sql: String =
    """WITH dw AS (
      |  SELECT DISTINCT doc_id, w FROM (
      |    SELECT doc_id,
      |      unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |             x -> x <> '')) AS w FROM documents)),
      |df AS (SELECT w, count(*) AS df FROM dw GROUP BY 1),
      |n AS (SELECT count(*) AS n_docs FROM documents)
      |SELECT w AS token, df,
      |  round(CAST(df AS DOUBLE) / n_docs, 6) AS df_ratio
      |FROM df, n WHERE df * 10 >= n_docs * 3""".stripMargin

  /** TOKENIZER FERTILITY REPORT (round-15): per source, how many
    * subword tokens the BPE-ish segmentation (q24's regex convention)
    * spends per whitespace word, and how many characters ride in each
    * token — THE standard tokenizer-efficiency metrics (fertility ≈ 1
    * = efficient segmentation; high fertility sources cost more
    * compute per word of content and flag scripts/domains the
    * tokenizer serves badly). Pure per-row expressions + one
    * source-grain aggregation; divisions guarded and rounded (6). */
  def q256TokenizerFertility(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("source"),
        Dedup.nTokensCol(col("text")).cast("long").as("nw"),
        size(expr("regexp_extract_all(text, " +
          "'[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9\\\\s]', 0)")).cast("long").as("nb"),
        length(col("text")).cast("long").as("nc"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nw")).as("n_words"),
        sum(col("nb")).as("n_bpeish"),
        sum(col("nc")).as("n_chars"))
      .select(col("source"), col("n_docs"), col("n_words"), col("n_bpeish"),
        when(col("n_words") > 0,
          round(col("n_bpeish").cast("double") / col("n_words"), 6))
          .as("fertility"),
        when(col("n_bpeish") > 0,
          round(col("n_chars").cast("double") / col("n_bpeish"), 6))
          .as("chars_per_token"))

  val q256Sql: String =
    """WITH per AS (
      |  SELECT source,
      |    CAST(len(list_filter(string_split_regex(text, '\s+'),
      |      t -> t <> '')) AS BIGINT) AS nw,
      |    CAST(len(regexp_extract_all(text,
      |      '[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT) AS nb,
      |    CAST(length(text) AS BIGINT) AS nc
      |  FROM documents)
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(nw) AS BIGINT) AS n_words,
      |  CAST(sum(nb) AS BIGINT) AS n_bpeish,
      |  CASE WHEN sum(nw) > 0 THEN
      |    round(CAST(sum(nb) AS DOUBLE) / sum(nw), 6) END AS fertility,
      |  CASE WHEN sum(nb) > 0 THEN
      |    round(CAST(sum(nc) AS DOUBLE) / sum(nb), 6) END AS chars_per_token
      |FROM per GROUP BY 1""".stripMargin

  val all: Map[String, ((SparkSession, String) => DataFrame, String)] = Map(
    "q24_token_stats"   -> (q24TokenStats _, q24Sql),
    "q250_stopword_discovery" -> (q250StopwordDiscovery _, q250Sql),
    "q256_tokenizer_fertility" -> (q256TokenizerFertility _, q256Sql),
    "q25_bigram_counts" -> (q25BigramCounts _, q25Sql),
    "q26_tfidf_top"     -> (q26TfidfTop _, q26Sql),
    "q27_lang_id"       -> (q27LangId _, q27Sql),
    "q28_fingerprint"   -> (q28Fingerprint _, q28Sql),
    "q40_corpus_pipeline" -> (q40CorpusPipeline _, q40Sql),
    "q56_repetition"    -> (q56Repetition _, q56Sql),
    "q73_token_entropy" -> (q73TokenEntropy _, q73Sql),
    "q120_pmi_bigrams"  -> (q120PmiBigrams _, q120Sql),
    "q123_source_kl"    -> (q123SourceKl _, q123Sql),
    "q128_zipf_slope"   -> (q128ZipfSlope _, q128Sql),
    "q196_textrank"     -> (q196Textrank _, q196Sql),
    "q215_cohens_kappa" -> (q215CohensKappa _, q215Sql),
  )
}
