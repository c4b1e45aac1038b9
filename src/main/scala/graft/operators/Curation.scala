package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Md5Bits.{md5Bits, md5Bucket}

/** Corpus-curation operators a production training-data pipeline runs
  * besides dedup/quality (all oracle-checked):
  *
  *   - [[q43SplitAssign]]: DETERMINISTIC train/val/test assignment by
  *     content-independent hash — reproducible across runs, engines and
  *     cluster sizes (never `rand()`: resampling on retry both breaks
  *     lineage and leaks eval data into train across pipeline versions).
  *   - [[q44PiiRedact]]: PII (email/phone) detection + redaction with
  *     per-document counts and a digest of the redacted text.
  *   - [[q45Contamination]]: benchmark-contamination screen — n-gram
  *     overlap of every corpus document against an evaluation set, the
  *     standard pre-training hygiene check.
  *
  * Everything is per-row expressions or single-shuffle aggregations; the
  * eval set in q45 is small by nature, so its gram set broadcast-joins
  * against the corpus (no corpus×corpus anything).
  */
object Curation {
  import Tables._

  /** Deterministic 80/10/10 split keyed on doc_id, reported per source:
    * the assignment is a pure function of the document identity, so any
    * engine, run, or partitioning reproduces it bit-for-bit. */
  /** Per-document split assignment — pure function of doc identity, so
    * growing the corpus never reshuffles existing docs between train
    * and eval (scale-invariance asserted in CurationSpec). */
  def withSplit(docs: DataFrame): DataFrame =
    docs
      .withColumn("bucket", md5Bucket(col("doc_id").cast("string"), 100))
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val")
          .otherwise("test"))

  def q43SplitAssign(s: SparkSession, d: String): DataFrame =
    withSplit(documents(s, d))
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))

  val q43Sql: String =
    // DuckDB types sum(BIGINT) as HUGEINT (INT128); Spark emits BIGINT.
    // The driver's result hasher is type-sensitive, so cast explicitly
    // (same failure class as q16's session_id — Relational.q16Sql).
    """SELECT source, split, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM (
      |  SELECT source, n_chars,
      |    CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
      |  FROM (
      |    SELECT source, n_chars,
      |      CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 AS b
      |    FROM documents))
      |GROUP BY source, split""".stripMargin

  private val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val phoneRe = "\\d{3}[-. ]\\d{3}[-. ]\\d{4}"

  /** Redact emails/phones; emit per-document hit counts and the md5 of
    * the redacted text (digest equality is the strongest cheap evidence
    * two engines performed the identical transformation). Pure per-row
    * expressions — no shuffle at all. */
  def q44PiiRedact(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(
        col("doc_id"),
        // Column-form regexp_extract_all: a SQL-literal '\d' would lose
        // its backslash to Spark's string-escape processing
        size(regexp_extract_all(col("text"), lit(emailRe), lit(0))).as("n_emails"),
        size(regexp_extract_all(col("text"), lit(phoneRe), lit(0))).as("n_phones"),
        md5(regexp_replace(regexp_replace(col("text"), emailRe, "<EMAIL>"),
          phoneRe, "<PHONE>")).as("redacted_md5"))

  val q44Sql: String =
    s"""SELECT doc_id,
       |  len(regexp_extract_all(text, '$emailRe')) AS n_emails,
       |  len(regexp_extract_all(text, '$phoneRe')) AS n_phones,
       |  md5(regexp_replace(regexp_replace(text, '$emailRe', '<EMAIL>', 'g'),
       |      '$phoneRe', '<PHONE>', 'g')) AS redacted_md5
       |FROM documents""".stripMargin

  /** Benchmark-contamination screen: for every corpus document (doc_id ≥
    * 25), the count and fraction of its distinct word trigrams that also
    * appear in the evaluation set (doc_id < 25 stands in for a held-out
    * benchmark). The eval gram set is tiny → broadcast semi-ish join;
    * the corpus side is one pass over the (cached) gram rows. */
  def q45Contamination(s: SparkSession, d: String): DataFrame = {
    val gh = Dedup.gramHashRows(documents(s, d).select(col("doc_id"), col("text")))
    val evalGrams = gh.filter(col("doc_id") < 25).select(col("gh")).distinct()
    val corpus = gh.filter(col("doc_id") >= 25)
    val shared = corpus.join(broadcast(evalGrams), Seq("gh"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
    corpus.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
      .join(shared, Seq("doc_id"), "left")
      .withColumn("n_shared", coalesce(col("n_shared"), lit(0L)))
      .withColumn("frac", round(col("n_shared").cast("double") /
        col("n_grams").cast("double"), 6))
      .withColumn("contaminated", col("frac") >= 0.2)
      .select(col("doc_id"), col("n_shared"), col("n_grams"),
        col("frac"), col("contaminated"))
  }

  val q45Sql: String =
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
      |ev AS (SELECT DISTINCT g FROM grams WHERE doc_id < 25),
      |corpus AS (SELECT doc_id, g FROM grams WHERE doc_id >= 25),
      |shared AS (
      |  SELECT doc_id, count(*) AS n_shared FROM corpus
      |  WHERE g IN (SELECT g FROM ev) GROUP BY doc_id),
      |sizes AS (SELECT doc_id, count(*) AS n_grams FROM corpus GROUP BY doc_id)
      |SELECT sizes.doc_id, coalesce(n_shared, 0) AS n_shared, n_grams,
      |  round(CAST(coalesce(n_shared, 0) AS DOUBLE) / n_grams, 6) AS frac,
      |  round(CAST(coalesce(n_shared, 0) AS DOUBLE) / n_grams, 6) >= 0.2 AS contaminated
      |FROM sizes LEFT JOIN shared ON sizes.doc_id = shared.doc_id""".stripMargin

  /** Sequence packing (concat-and-chunk): assign each document to a
    * fixed-token-budget pack, contiguously in doc_id order WITHIN its
    * source — the standard way training pipelines pack shuffled corpora
    * into fixed-length sequences. pack_id = floor(running token offset /
    * budget), a running-sum window per source: deterministic, and
    * parallel across sources (the per-source window is the unavoidable
    * sequential dependency of contiguous packing; at 100 TB you pack
    * within finer shards, same query shape). */
  def q51SequencePack(s: SparkSession, d: String): DataFrame = {
    val budget = 4096L
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    documents(s, d)
      .withColumn("n_tokens", Dedup.nTokensCol(col("text")).cast("long"))
      .withColumn("offset", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        floor(col("offset") / budget).as("pack_id"))
  }

  val q51Sql: String =
    """SELECT doc_id, source, n_tokens,
      |  CAST(floor(CAST(tok_offset AS DOUBLE) / 4096) AS BIGINT) AS pack_id
      |FROM (
      |  SELECT doc_id, source, n_tokens,
      |    coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_offset
      |  FROM (
      |    SELECT doc_id, source,
      |      CAST(len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS BIGINT)
      |        AS n_tokens
      |    FROM documents))""".stripMargin

  /** Deterministic data-mixing sampler: per-source keep rates (e.g.
    * up-weight curated sources, down-weight crawl) applied via the same
    * content-keyed md5 buckets as the split — reproducible, engine-
    * independent, and stable under retries (a rand() sampler re-draws on
    * task retry and breaks exactly-once lineage). Reports per-source
    * kept/total and the realized mixture share. */
  def q52MixtureSample(s: SparkSession, d: String): DataFrame = {
    // per-source keep rate in [20, 96]: derived from the source id so
    // every source gets a distinct, reproducible weight (stand-in for a
    // curated mixture config table, which at scale would broadcast-join).
    // The parse is the SAME expression in both engines (first digit run,
    // capped at 9 digits, empty → 0): substring/CAST variants diverge on
    // non-numeric or >10-char ids (Spark nulls where DuckDB errors).
    val rate = lit(20) +
      (coalesce(nullif(regexp_extract(col("source"), "([0-9]{1,9})", 1),
        lit("")), lit("0")).cast("int") % 20) * lit(4)
    val docs = documents(s, d)
      .withColumn("keep",
        md5Bucket(col("doc_id").cast("string"), 100) < rate)
    val perSource = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))
    val total = perSource.agg(sum(col("n_kept")).as("grand")).select(col("grand"))
    perSource.crossJoin(broadcast(total))
      .select(col("source"), col("n_total"), col("n_kept"),
        round(col("n_kept").cast("double") / col("grand").cast("double"), 6)
          .as("mixture_share"))
  }

  val q52Sql: String =
    """WITH marked AS (
      |  SELECT source,
      |    CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100
      |         < 20 + (CAST(coalesce(nullif(regexp_extract(source, '([0-9]{1,9})', 1), ''), '0') AS INT) % 20) * 4
      |    THEN 1 ELSE 0 END AS keep
      |  FROM documents),
      |per AS (
      |  SELECT source, count(*) AS n_total, CAST(sum(keep) AS BIGINT) AS n_kept
      |  FROM marked GROUP BY source)
      |SELECT source, n_total, n_kept,
      |  round(CAST(n_kept AS DOUBLE) / (SELECT sum(n_kept) FROM per), 6)
      |    AS mixture_share
      |FROM per""".stripMargin

  /** Deterministic per-source downsample: keep the k docs with the
    * smallest content-keyed md5 per source — a uniform-without-rand()
    * sample (same reproducibility contract as [[withSplit]]: engine-,
    * run- and partitioning-invariant, and adding documents to one source
    * never changes which of the SURVIVING docs another source keeps).
    *
    * Rides the [[graft.plans.GroupTopK]] whole-operator, so the scale
    * cost is a partial bounded-heap per partition + one shuffle carrying
    * <= groups x k rows per partition — never a full sort or a window
    * materialization of each source's documents (the oracle's shape). */
  def q75GroupSample(s: SparkSession, d: String): DataFrame =
    groupSample(documents(s, d), k = 25)

  /** The k docs with the smallest md5(doc_id) per source. */
  def groupSample(docs: DataFrame, k: Int): DataFrame = {
    val keyed = docs.select(col("doc_id"), col("source"),
      md5(col("doc_id").cast("string")).as("h"))
    graft.plans.GroupTopKExtension.topKPerGroup(
      keyed, groupCols = Seq("source"),
      order = Seq(("h", true), ("doc_id", true)), k = k)
      .select(col("source"), col("doc_id"), col("h"))
  }

  val q75Sql: String =
    """SELECT source, doc_id, h FROM (
      |  SELECT source, doc_id, md5(CAST(doc_id AS VARCHAR)) AS h,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      |  FROM documents) t
      |WHERE rn <= 25""".stripMargin

  /** Fixed-token-window chunking with overlap (size 50, stride 40) — the
    * RAG/pretrain preprocessing step that turns documents into
    * bounded-length training rows. Chunk starts are 0, stride, 2*stride,
    * ... while < n_tokens, so consecutive chunks share (size - stride)
    * tokens and the tail chunk may be short.
    *
    * Scale shape: pure per-row project + generate — ZERO shuffles (plan-
    * asserted in CurationSpec). Each input row expands to ceil(n/stride)
    * output rows independently of every other row, so the operator
    * scales embarrassingly; the md5 chunk digest keeps the gate content-
    * sensitive without hauling chunk text through the comparison. */
  def q76DocChunks(s: SparkSession, d: String): DataFrame =
    docChunks(documents(s, d), width = 50, stride = 40)

  def docChunks(docs: DataFrame, width: Int, stride: Int): DataFrame = {
    // validate at PLAN time on both branches: the native-kernel path
    // would otherwise surface a bad width per-row at execution, deep
    // inside ChunkStats, instead of at the call site
    require(stride > 0 && width >= stride,
      s"docChunks needs 0 < stride <= width, got width=$width stride=$stride")
    // the non-overlapping case runs the fused native kernel; overlap
    // (q76's width 50 / stride 40) keeps the token-array window path
    if (width == stride) chunkRows(docs.select(col("doc_id"), col("text")), width)
    else chunksOfTokens(docTokens(docs.select(col("doc_id"), col("text"))),
      width, stride)
  }

  /** Non-overlapping chunk rows via the native `chunk_stats` expression
    * (graft.functions.ChunkStats — tokenize + window + md5 fused into
    * one per-row pass; bit-parity with the token-array path pinned in
    * ChunkStatsSpec and corpus-wide by the q234/q237–q240 oracles).
    * Extra input columns besides `text` are carried through; letterless
    * documents produce zero rows (posexplode of the empty array). Runs
    * identically batch or streaming — pure per-row expressions. */
  private[graft] def chunkRows(docs: DataFrame, width: Int): DataFrame = {
    val carried = docs.columns.filter(_ != "text").map(col).toSeq
    docs
      .withColumn("cs", call_function("chunk_stats", col("text"), lit(width)))
      .select(carried :+ posexplode(col("cs")).as(Seq("pos", "c")): _*)
      .select(carried ++ Seq(col("pos").cast("long").as("chunk_idx"),
        col("c.n_chunk_tokens").cast("long").as("n_chunk_tokens"),
        col("c.chunk_hash").as("chunk_hash")): _*)
  }

  /** (doc_id, tk) token arrays for chunking — [[docChunks]]' tokenize
    * step, factored out so a sweep ([[q237ChunkSweep]]) pays it once.
    * Extra input columns (e.g. a split label) are carried through. */
  private[graft] def docTokens(docs: DataFrame): DataFrame = {
    val cleaned = regexp_replace(lower(col("text")), "(^[^a-z]+)|([^a-z]+$)", "")
    docs
      .withColumn("tk",
        when(length(cleaned) === 0, array().cast("array<string>"))
          .otherwise(split(cleaned, "[^a-z]+")))
      .where(size(col("tk")) > 0)
      .drop("text")
  }

  /** [[docChunks]]' window step over a pre-tokenized (doc_id, tk[, …])
    * frame; carries any extra columns alongside the chunk rows. */
  private[graft] def chunksOfTokens(toks: DataFrame, width: Int,
      stride: Int): DataFrame = {
    require(stride > 0 && width >= stride,
      s"need width >= stride > 0, got width=$width stride=$stride")
    val carried = toks.columns.filter(c => c != "doc_id" && c != "tk")
      .map(col).toSeq
    toks
      .select(Seq(col("doc_id"), col("tk"),
        explode(expr(s"sequence(0, size(tk) - 1, $stride)")).as("start"))
        ++ carried: _*)
      .select(Seq(col("doc_id"),
        (col("start") / stride).cast("long").as("chunk_idx"),
        size(slice(col("tk"), col("start") + 1, lit(width))).cast("long")
          .as("n_chunk_tokens"),
        md5(concat_ws(" ", slice(col("tk"), col("start") + 1, lit(width))))
          .as("chunk_hash")) ++ carried: _*)
  }

  val q76Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(
      |    string_split_regex(lower(text), '[^a-z]+'), t -> t <> '') AS tk
      |  FROM documents),
      |st AS (
      |  SELECT doc_id, tk,
      |    unnest(generate_series(0, len(tk) - 1, 40)) AS start
      |  FROM toks WHERE len(tk) > 0)
      |SELECT doc_id,
      |  CAST(start // 40 AS BIGINT) AS chunk_idx,
      |  CAST(len(list_slice(tk, start + 1, start + 50)) AS BIGINT)
      |    AS n_chunk_tokens,
      |  md5(array_to_string(list_slice(tk, start + 1, start + 50), ' '))
      |    AS chunk_hash
      |FROM st""".stripMargin

  /** Sub-document (chunk-level) exact deduplication with reassembly
    * accounting — the RefinedWeb/CCNet "paragraph dedup" stage adapted
    * to this corpus's newline-free text: documents split into
    * NON-overlapping 20-token chunks (the [[docChunks]] kernel at
    * width == stride), each chunk hash deduplicated GLOBALLY keeping
    * the canonical first occurrence (smallest (doc_id, chunk_idx)),
    * and per-document retention reported — how many chunks and tokens
    * a reassembled document keeps after boilerplate removal. Doc-level
    * dedup (q20) misses this entirely: two distinct documents sharing
    * a boilerplate paragraph both survive doc dedup, but the shared
    * paragraph should be emitted once.
    *
    * Scale shape: chunking is the q76 zero-shuffle expand; the global
    * first-occurrence flag is ONE hash shuffle on chunk_hash (window
    * row_number, partition size == duplication multiplicity of that
    * exact chunk — bounded by corpus duplication, not corpus size),
    * then ONE shuffle back to doc grain for the retention rollup.
    * No joins, no driver state. */
  def q234ChunkDedup(s: SparkSession, d: String): DataFrame =
    chunkDedup(documents(s, d), width = 20)

  /** Core of [[q234ChunkDedup]] over an explicit docs frame (spec entry
    * point): non-overlapping `width`-token chunks, global
    * first-occurrence dedup, per-doc retention. */
  def chunkDedup(docs: DataFrame, width: Int): DataFrame = {
    val chunks = docChunks(docs, width = width, stride = width)
    val firstSeen = Window.partitionBy(col("chunk_hash"))
      .orderBy(col("doc_id"), col("chunk_idx"))
    chunks
      .withColumn("rn", row_number().over(firstSeen))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("kept_chunks"),
        sum(col("n_chunk_tokens")).as("n_tokens"),
        sum(when(col("rn") === 1, col("n_chunk_tokens")).otherwise(0L))
          .as("kept_tokens"))
      .select(col("doc_id"), col("n_chunks"), col("kept_chunks"),
        col("n_tokens"), col("kept_tokens"),
        round(col("kept_tokens").cast("double") /
          col("n_tokens").cast("double"), 6).as("retained_ratio"))
  }

  val q234Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(
      |    string_split_regex(lower(text), '[^a-z]+'), t -> t <> '') AS tk
      |  FROM documents),
      |st AS (
      |  SELECT doc_id, tk,
      |    unnest(generate_series(0, len(tk) - 1, 20)) AS start
      |  FROM toks WHERE len(tk) > 0),
      |ch AS (
      |  SELECT doc_id,
      |    CAST(start // 20 AS BIGINT) AS chunk_idx,
      |    CAST(len(list_slice(tk, start + 1, start + 20)) AS BIGINT)
      |      AS n_chunk_tokens,
      |    md5(array_to_string(list_slice(tk, start + 1, start + 20), ' '))
      |      AS chunk_hash
      |  FROM st),
      |fl AS (
      |  SELECT doc_id, n_chunk_tokens,
      |    row_number() OVER (PARTITION BY chunk_hash
      |                       ORDER BY doc_id, chunk_idx) AS rn
      |  FROM ch)
      |SELECT doc_id,
      |  count(*) AS n_chunks,
      |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS kept_chunks,
      |  CAST(sum(n_chunk_tokens) AS BIGINT) AS n_tokens,
      |  CAST(sum(CASE WHEN rn = 1 THEN n_chunk_tokens ELSE 0 END) AS BIGINT)
      |    AS kept_tokens,
      |  round(CAST(sum(CASE WHEN rn = 1 THEN n_chunk_tokens ELSE 0 END)
      |             AS DOUBLE) / sum(n_chunk_tokens), 6) AS retained_ratio
      |FROM fl GROUP BY 1""".stripMargin

  /** Chunk-width sensitivity sweep for sub-document dedup — the
    * granularity decision table behind q234's width=20: for each
    * candidate width, how much duplicated text does chunk-level dedup
    * actually remove? Narrow chunks catch short boilerplate but cost
    * more hash state per token; wide chunks miss duplicates that
    * straddle a boundary (a shared 20-token run inside two different
    * 80-token chunks hashes differently). At sf0.01 the measured curve
    * is 1290 dup tokens removed at width 5 falling to 401 at width 80 —
    * the sweep makes the precision/state tradeoff a table, the q220
    * methodology applied to dedup granularity.
    *
    * Scale shape: tokenize runs ONCE into a lazily-checkpointed
    * (doc_id, tk) frame; each width then costs one expand + one hash
    * shuffle over it — |grid| single-shuffle passes, never a re-read of
    * the corpus (CurationSpec pins one documents scan). */
  def q237ChunkSweep(s: SparkSession, d: String): DataFrame =
    chunkSweep(documents(s, d), Seq(5, 10, 20, 40, 80))

  /** Core of [[q237ChunkSweep]] (spec entry point). */
  def chunkSweep(docs: DataFrame, widths: Seq[Int]): DataFrame = {
    val slim = docs.select(col("doc_id"), col("text"))
      .localCheckpoint(false) // consumers: one native chunk pass per width
    widths.map { w =>
      val firstSeen = Window.partitionBy(col("chunk_hash"))
        .orderBy(col("doc_id"), col("chunk_idx"))
      chunkRows(slim, width = w)
        .withColumn("rn", row_number().over(firstSeen))
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("rn") > 1, 1L).otherwise(0L)).as("dup_chunks"),
          sum(col("n_chunk_tokens")).as("n_tokens"),
          sum(when(col("rn") > 1, col("n_chunk_tokens")).otherwise(0L))
            .as("dup_tokens"))
        .select(lit(w).as("width"), col("n_chunks"), col("dup_chunks"),
          col("n_tokens"), col("dup_tokens"),
          round(col("dup_tokens").cast("double") /
            col("n_tokens").cast("double"), 6).as("removal_rate"))
    }.reduce(_.unionAll(_))
      // mirror the oracle's GROUP BY semantics on an empty corpus: a
      // global aggregate emits its zero row, the SQL emits none
      .filter(col("n_chunks") > 0)
  }

  val q237Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(
      |    string_split_regex(lower(text), '[^a-z]+'), t -> t <> '') AS tk
      |  FROM documents),
      |grid AS (SELECT unnest([5, 10, 20, 40, 80]) AS width),
      |st AS (
      |  SELECT width, doc_id, tk,
      |    unnest(generate_series(0, len(tk) - 1, width)) AS start
      |  FROM toks CROSS JOIN grid WHERE len(tk) > 0),
      |ch AS (
      |  SELECT width, doc_id,
      |    CAST(start // width AS BIGINT) AS chunk_idx,
      |    CAST(len(list_slice(tk, start + 1, start + width)) AS BIGINT)
      |      AS n_chunk_tokens,
      |    md5(array_to_string(list_slice(tk, start + 1, start + width), ' '))
      |      AS chunk_hash
      |  FROM st),
      |fl AS (
      |  SELECT width, n_chunk_tokens,
      |    row_number() OVER (PARTITION BY width, chunk_hash
      |                       ORDER BY doc_id, chunk_idx) AS rn
      |  FROM ch)
      |SELECT width,
      |  count(*) AS n_chunks,
      |  CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS dup_chunks,
      |  CAST(sum(n_chunk_tokens) AS BIGINT) AS n_tokens,
      |  CAST(sum(CASE WHEN rn > 1 THEN n_chunk_tokens ELSE 0 END) AS BIGINT)
      |    AS dup_tokens,
      |  round(CAST(sum(CASE WHEN rn > 1 THEN n_chunk_tokens ELSE 0 END)
      |             AS DOUBLE) / sum(n_chunk_tokens), 6) AS removal_rate
      |FROM fl GROUP BY 1""".stripMargin

  /** Corpus novelty-decay curve — the "is more crawl still worth it"
    * table: documents bucketed into ingest-order deciles (by doc_id,
    * the monotone ingest sequence), and for each decile the fraction of
    * its 20-token chunks never seen in ANY earlier document. A healthy
    * growing corpus stays near 1.0; the measured sf0.01 curve decays
    * 1.0 → ~0.93 as the planted duplicates accumulate. cum_distinct is
    * the running distinct-chunk count — the marginal-data value curve.
    *
    * Scale shape: the decile is a TWO-PASS global rank
    * ([[Relational.globalRank]] — range partition + per-partition
    * row_number + broadcast offsets; doc_id order never funnels into
    * one partition) on a SLIM (doc_id) projection, joined back to the
    * token frame; ntile's remainder-spreading is replicated as closed
    * integer arithmetic against a broadcast 1-row count, so Spark's
    * two-pass bucket equals the oracle's native ntile(10) exactly.
    * First-occurrence credit is the one q234 hash shuffle; the decile
    * rollup and its 10-row cumulative window are bounded. */
  def q239NoveltyCurve(s: SparkSession, d: String): DataFrame = {
    val ch = chunkDeciles(s, d)
    val firstSeen = Window.partitionBy(col("chunk_hash"))
      .orderBy(col("doc_id"), col("chunk_idx"))
    ch.withColumn("rn", row_number().over(firstSeen))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_new"))
      .select(col("decile"), col("n_chunks"), col("n_new"),
        round(col("n_new").cast("double") /
          col("n_chunks").cast("double"), 6).as("novelty"),
        // bounded: exactly 10 rows reach this window
        sum(col("n_new")).over(Window.orderBy(col("decile")))
          .as("cum_distinct"))
  }

  /** (doc_id, decile, chunk_idx, n_chunk_tokens, chunk_hash) rows with
    * the ingest-order decile attached — q239/q244's shared front half.
    * The decile is a TWO-PASS global rank (never a corpus-wide window)
    * on a slim doc_id projection, with ntile's remainder-spreading
    * replicated as closed integer arithmetic against a broadcast 1-row
    * count (validated against native ntile for every remainder case). */
  private def chunkDeciles(s: SparkSession, d: String): DataFrame = {
    val slim = documents(s, d).select(col("doc_id"), col("text"))
      // the tokenizer's letterless-drop applies at chunk time; rank
      // over docs WITH tokens only (= the oracle's len(tk) > 0 filter)
      .where(size(graft.operators.Dedup.tokensCodegen(col("text"))) > 0 &&
        element_at(graft.operators.Dedup.tokensCodegen(col("text")), 1) =!= "")
      .localCheckpoint(false) // consumers: rank input + chunk pass
    chunkRows(slim.join(docDeciles(slim), Seq("doc_id")), 20)
  }

  /** Ingest-order doc deciles for any (doc_id, …) frame — the q239
    * machinery hoisted for q252's word-grain growth curve: a TWO-PASS
    * global rank on a slim doc_id projection with ntile's remainder-
    * spreading as closed integer arithmetic (validated against native
    * ntile for every remainder case in CurationSpec). */
  private[operators] def docDeciles(slim: DataFrame): DataFrame = {
    val ranked = Relational.globalRank(
      slim.select(col("doc_id")), col("doc_id"), col("doc_id"), parts = 32)
    val n1 = ranked.agg(count(lit(1)).as("n_docs"))
    // ntile(b) closed form: k = n div b, r = n mod b; the first r
    // buckets take k+1 rows (integer `div`, exact past 2^53)
    ranked.crossJoin(broadcast(n1))
      .withColumn("decile", expr(
        "CAST(CASE WHEN rnk <= (n_docs % 10) * (n_docs div 10 + 1) " +
          "THEN (rnk - 1) div (n_docs div 10 + 1) + 1 " +
          "ELSE (n_docs % 10) + " +
          "(rnk - (n_docs % 10) * (n_docs div 10 + 1) - 1) div " +
          "(n_docs div 10) + 1 END AS BIGINT)")) // DuckDB ntile emits BIGINT
      .select(col("doc_id"), col("decile"))
  }

  val q239Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(
      |    string_split_regex(lower(text), '[^a-z]+'), t -> t <> '') AS tk
      |  FROM documents),
      |dec AS (
      |  SELECT doc_id, tk, ntile(10) OVER (ORDER BY doc_id) AS decile
      |  FROM toks WHERE len(tk) > 0),
      |st AS (
      |  SELECT doc_id, decile, tk,
      |    unnest(generate_series(0, len(tk) - 1, 20)) AS start
      |  FROM dec),
      |ch AS (
      |  SELECT doc_id, decile, CAST(start // 20 AS BIGINT) AS chunk_idx,
      |    md5(array_to_string(list_slice(tk, start + 1, start + 20), ' '))
      |      AS chunk_hash
      |  FROM st),
      |fl AS (
      |  SELECT decile,
      |    row_number() OVER (PARTITION BY chunk_hash
      |                       ORDER BY doc_id, chunk_idx) AS rn
      |  FROM ch),
      |per AS (
      |  SELECT decile, count(*) AS n_chunks,
      |    CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_new
      |  FROM fl GROUP BY 1)
      |SELECT decile, n_chunks, n_new,
      |  round(CAST(n_new AS DOUBLE) / n_chunks, 6) AS novelty,
      |  CAST(sum(n_new) OVER (ORDER BY decile) AS BIGINT) AS cum_distinct
      |FROM per""".stripMargin

  /** HLL novelty estimate vs exact — the estimator-vs-truth arc for
    * q239: at 100 TB the exact cumulative distinct-chunk count (a
    * corpus-sized first-occurrence shuffle) is what you pay for
    * PRECISION; a 256-register HyperLogLog folded cumulatively over
    * ingest deciles costs 256 rows per map task and answers the same
    * "is more crawl still worth it" question within a few percent.
    * This query runs BOTH and gates the estimate, its exact referee,
    * and the relative error per decile (measured ≤ 7.5% at sf0.01,
    * linear-counting branch live on the early deciles).
    *
    * Engine-determinism: registers come from the chunk md5 ITSELF
    * (first 2 hex chars → register, next 10 → rank, the q140
    * convention — no second hash); 2^-rank sums are exact dyadics
    * (≤ 49 mantissa bits for 256 registers), the bias constant and
    * corrections are the same literal arithmetic in both engines, and
    * the only transcendental (linear-counting ln) follows the
    * round-6/round-4 convention q26/q212 established. */
  def q244NoveltyHll(s: SparkSession, d: String): DataFrame = {
    val ch = chunkDeciles(s, d)
      .localCheckpoint(false) // consumers: exact referee + registers
    val firstSeen = Window.partitionBy(col("chunk_hash"))
      .orderBy(col("doc_id"), col("chunk_idx"))
    val exact = ch.withColumn("rn", row_number().over(firstSeen))
      .groupBy(col("decile"))
      .agg(sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_new"))
      .select(col("decile"),
        // bounded: exactly 10 rows reach this window
        sum(col("n_new")).over(Window.orderBy(col("decile")))
          .as("cum_distinct"))
    val regs = Analytics.hllRanks(ch, col("chunk_hash"), col("decile"))
      .groupBy(col("decile"), col("reg"))
      .agg(max(col("rank")).as("mr"))
    val grid = {
      import s.implicits._
      (1L to 10L).toDF("g")
    }
    val cum = regs.join(broadcast(grid), col("decile") <= col("g"))
      .groupBy(col("g"), col("reg"))
      .agg(max(col("mr")).as("mr"))
    val est = cum.groupBy(col("g"))
      .agg(count(lit(1)).as("n_set"),
        sum(pow(lit(0.5), col("mr"))).as("s_set"))
    val v = lit(256) - col("n_set")
    val eRaw = (lit(0.7213) / (lit(1) + lit(1.079) / lit(256))) *
      lit(256 * 256) / (col("s_set") + v)
    val hll = when(eRaw <= lit(2.5 * 256) && v > 0,
      lit(256) * log(lit(256.0) / v)).otherwise(eRaw)
    est.select(col("g").as("decile"), hll.as("e"))
      .join(exact, Seq("decile"))
      .select(col("decile"), col("cum_distinct"),
        round(col("e"), 4).as("hll_est"),
        round(abs(col("e") - col("cum_distinct")) /
          col("cum_distinct"), 4).as("rel_err"))
  }

  val q244Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(
      |    string_split_regex(lower(text), '[^a-z]+'), t -> t <> '') AS tk
      |  FROM documents),
      |dec AS (
      |  SELECT doc_id, tk, ntile(10) OVER (ORDER BY doc_id) AS decile
      |  FROM toks WHERE len(tk) > 0),
      |st AS (
      |  SELECT doc_id, decile, tk,
      |    unnest(generate_series(0, len(tk) - 1, 20)) AS start
      |  FROM dec),
      |ch AS (
      |  SELECT doc_id, decile, CAST(start // 20 AS BIGINT) AS chunk_idx,
      |    md5(array_to_string(list_slice(tk, start + 1, start + 20), ' '))
      |      AS chunk_hash
      |  FROM st),
      |fl AS (
      |  SELECT decile,
      |    row_number() OVER (PARTITION BY chunk_hash
      |                       ORDER BY doc_id, chunk_idx) AS rn
      |  FROM ch),
      |per AS (
      |  SELECT decile,
      |    CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_new
      |  FROM fl GROUP BY 1),
      |exact AS (
      |  SELECT decile,
      |    CAST(sum(n_new) OVER (ORDER BY decile) AS BIGINT) AS cum_distinct
      |  FROM per),
      |p AS (
      |  SELECT decile,
      |    16 * (strpos('0123456789abcdef', substr(chunk_hash, 1, 1)) - 1)
      |       + (strpos('0123456789abcdef', substr(chunk_hash, 2, 1)) - 1)
      |      AS reg,
      |    list_reduce(list_transform(range(10),
      |      i -> CAST(strpos('0123456789abcdef', substr(chunk_hash, 3 + i, 1))
      |           - 1 AS BIGINT)),
      |      (a, b) -> a * 16 + b) AS w
      |  FROM ch),
      |r AS (
      |  SELECT decile, reg,
      |    max(CASE WHEN w = 0 THEN 41 ELSE 41 - length(bin(w)) END) AS mr
      |  FROM p GROUP BY 1, 2),
      |grid AS (SELECT unnest(generate_series(1, 10)) AS g),
      |cum AS (
      |  SELECT g, reg, max(mr) AS mr
      |  FROM grid JOIN r ON decile <= g GROUP BY 1, 2),
      |est AS (
      |  SELECT g AS decile, count(*) AS n_set,
      |    sum(power(0.5, mr)) AS s_set
      |  FROM cum GROUP BY 1),
      |ee AS (
      |  SELECT decile,
      |    (0.7213 / (1 + 1.079 / 256)) * 256 * 256 /
      |      (s_set + (256 - n_set)) AS e_raw,
      |    256 - n_set AS v
      |  FROM est)
      |SELECT e.decile, x.cum_distinct,
      |  round(CASE WHEN e_raw <= 2.5 * 256 AND v > 0
      |    THEN 256 * ln(256.0 / v) ELSE e_raw END, 4) AS hll_est,
      |  round(abs(CASE WHEN e_raw <= 2.5 * 256 AND v > 0
      |    THEN 256 * ln(256.0 / v) ELSE e_raw END - x.cum_distinct)
      |    / x.cum_distinct, 4) AS rel_err
      |FROM ee e JOIN exact x ON e.decile = x.decile""".stripMargin

  /** Exact cross-source chunk-overlap matrix — the exact counterpart to
    * q198's MinHash ESTIMATE of pairwise source similarity: for every
    * source pair, how many distinct 20-token chunks they share, and the
    * exact Jaccard over their distinct chunk sets. The estimate tells
    * you where to look; this is the audit you run on the pairs it
    * flags (measured sf0.01: 32 overlapping pairs, max shared = 6).
    *
    * Scale shape: the (source, chunk_hash) distinct projection is ONE
    * hash shuffle, checkpointed once for its three consumers (totals +
    * both self-join sides); the self-join fans out per chunk only to
    * the sources containing it — bounded by |sources|² per hash, a
    * metadata cardinality, never corpus-sized; source totals broadcast
    * at |sources| rows. */
  def q240SourceOverlap(s: SparkSession, d: String): DataFrame = {
    val cr = chunkRows(documents(s, d)
        .select(col("doc_id"), col("text"), col("source")), width = 20)
      .select(col("source"), col("chunk_hash")).distinct()
      .localCheckpoint(false) // consumers: totals + two join sides
    val tot = cr.groupBy(col("source")).agg(count(lit(1)).as("n"))
    cr.select(col("source").as("src_a"), col("chunk_hash"))
      .join(cr.select(col("source").as("src_b"), col("chunk_hash")),
        Seq("chunk_hash"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("shared"))
      .join(broadcast(tot.select(col("source").as("src_a"),
        col("n").as("na"))), Seq("src_a"))
      .join(broadcast(tot.select(col("source").as("src_b"),
        col("n").as("nb"))), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("shared"),
        round(col("shared").cast("double") /
          (col("na") + col("nb") - col("shared")).cast("double"), 6)
          .as("jaccard"))
  }

  val q240Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, source, list_filter(
      |    string_split_regex(lower(text), '[^a-z]+'), t -> t <> '') AS tk
      |  FROM documents),
      |st AS (
      |  SELECT source, tk,
      |    unnest(generate_series(0, len(tk) - 1, 20)) AS start
      |  FROM toks WHERE len(tk) > 0),
      |cr AS (
      |  SELECT DISTINCT source,
      |    md5(array_to_string(list_slice(tk, start + 1, start + 20), ' '))
      |      AS chunk_hash
      |  FROM st),
      |tot AS (SELECT source, count(*) AS n FROM cr GROUP BY 1),
      |pairs AS (
      |  SELECT a.source AS src_a, b.source AS src_b, count(*) AS shared
      |  FROM cr a JOIN cr b
      |    ON a.chunk_hash = b.chunk_hash AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT src_a, src_b, shared,
      |  round(CAST(shared AS DOUBLE) / (ta.n + tb.n - shared), 6)
      |    AS jaccard
      |FROM pairs JOIN tot ta ON src_a = ta.source
      |JOIN tot tb ON src_b = tb.source""".stripMargin

  /** Template-family detection — connected components over the
    * docs-share-chunks graph: an edge joins two documents sharing ≥ 2
    * distinct 20-token chunks (one shared chunk is quotation; two is a
    * template), and each component is a boilerplate FAMILY — the
    * form-letter/mirror-site structure chunk dedup (q234) removes
    * text from but cannot SHOW. Output is the q50/q228 cluster shape:
    * (doc_id, cluster_rep, cluster_size) per family member.
    *
    * Scale shape: candidate pairs come only from shared chunk hashes
    * (one self-join of the distinct (doc, chunk) projection,
    * checkpointed once for both sides; fan-out per hash bounded by
    * that chunk's duplication multiplicity — never all-pairs), the
    * ≥ 2 filter prunes quotation noise BEFORE clustering, and the
    * component closure is [[Dedup.dedupClusters]]' iterative min-label
    * propagation (bounded iterations, distributed convergence test). */
  def q242TemplateFamilies(s: SparkSession, d: String): DataFrame = {
    val ch = chunkRows(documents(s, d).select(col("doc_id"), col("text")),
        width = 20)
      .select(col("doc_id"), col("chunk_hash")).distinct()
      .localCheckpoint(false) // consumers: both self-join sides
    val pairs = ch.select(col("doc_id").as("id_a"), col("chunk_hash"))
      .join(ch.select(col("doc_id").as("id_b"), col("chunk_hash")),
        Seq("chunk_hash"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= 2)
    Dedup.dedupClusters(pairs.select(col("id_a"), col("id_b")))
  }

  val q242Sql: String =
    """WITH RECURSIVE toks AS (
      |  SELECT doc_id, list_filter(
      |    string_split_regex(lower(text), '[^a-z]+'), t -> t <> '') AS tk
      |  FROM documents),
      |st AS (
      |  SELECT doc_id, tk,
      |    unnest(generate_series(0, len(tk) - 1, 20)) AS start
      |  FROM toks WHERE len(tk) > 0),
      |ch AS (
      |  SELECT DISTINCT doc_id,
      |    md5(array_to_string(list_slice(tk, start + 1, start + 20), ' '))
      |      AS chunk_hash
      |  FROM st),
      |pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM ch a JOIN ch b
      |    ON a.chunk_hash = b.chunk_hash AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      |edges AS (
      |  SELECT id_a AS a, id_b AS b FROM pairs
      |  UNION ALL SELECT id_b, id_a FROM pairs),
      |nodes AS (SELECT DISTINCT a AS id FROM edges),
      |cc AS (
      |  SELECT id, id AS lbl FROM nodes
      |  UNION
      |  SELECT e.a AS id, cc.lbl FROM edges e JOIN cc ON e.b = cc.id),
      |reps AS (SELECT id, min(lbl) AS cluster_rep FROM cc GROUP BY id)
      |SELECT id AS doc_id, cluster_rep,
      |  count(*) OVER (PARTITION BY cluster_rep) AS cluster_size
      |FROM reps""".stripMargin

  /** Duplication-burden attribution — q234 tells each document how
    * much of it is duplicated; this tells each SOURCE who it is
    * duplicating: for every non-canonical chunk occurrence, is the
    * canonical owner (first occurrence) in the SAME source
    * (self-duplication — templated content within a crawl) or ANOTHER
    * (cross-source — mirrors/syndication, the q240 overlap made
    * causal by ingest order)? Measured at sf0.01 cross-source dominates
    * 5–10× — the dedup burden here is mirroring, not templating.
    *
    * Scale shape: the q234 hash shuffle computes BOTH the occurrence
    * rank and the owner source in one window pass (first_value over
    * the same frame); the rollup is one shuffle at source grain. */
  def q243DupAttribution(s: SparkSession, d: String): DataFrame = {
    val ch = chunkRows(documents(s, d)
      .select(col("doc_id"), col("text"), col("source")), width = 20)
    val w = Window.partitionBy(col("chunk_hash"))
      .orderBy(col("doc_id"), col("chunk_idx"))
    ch.withColumn("rn", row_number().over(w))
      .withColumn("owner_source", first(col("source")).over(w))
      .groupBy(col("source"))
      .agg(sum(col("n_chunk_tokens")).as("n_tokens"),
        sum(when(col("rn") > 1 && col("owner_source") === col("source"),
          col("n_chunk_tokens")).otherwise(0L)).as("self_dup_tokens"),
        sum(when(col("rn") > 1 && col("owner_source") =!= col("source"),
          col("n_chunk_tokens")).otherwise(0L)).as("cross_dup_tokens"))
      .select(col("source"), col("n_tokens"), col("self_dup_tokens"),
        col("cross_dup_tokens"),
        round((col("self_dup_tokens") + col("cross_dup_tokens"))
          .cast("double") / col("n_tokens").cast("double"), 6)
          .as("dup_ratio"))
  }

  val q243Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, source, list_filter(
      |    string_split_regex(lower(text), '[^a-z]+'), t -> t <> '') AS tk
      |  FROM documents),
      |st AS (
      |  SELECT doc_id, source, tk,
      |    unnest(generate_series(0, len(tk) - 1, 20)) AS start
      |  FROM toks WHERE len(tk) > 0),
      |ch AS (
      |  SELECT doc_id, source,
      |    CAST(start // 20 AS BIGINT) AS chunk_idx,
      |    CAST(len(list_slice(tk, start + 1, start + 20)) AS BIGINT)
      |      AS n_chunk_tokens,
      |    md5(array_to_string(list_slice(tk, start + 1, start + 20), ' '))
      |      AS chunk_hash
      |  FROM st),
      |own AS (
      |  SELECT source, n_chunk_tokens,
      |    row_number() OVER (PARTITION BY chunk_hash
      |                       ORDER BY doc_id, chunk_idx) AS rn,
      |    first_value(source) OVER (PARTITION BY chunk_hash
      |                              ORDER BY doc_id, chunk_idx)
      |      AS owner_source
      |  FROM ch)
      |SELECT source,
      |  CAST(sum(n_chunk_tokens) AS BIGINT) AS n_tokens,
      |  CAST(sum(CASE WHEN rn > 1 AND owner_source = source
      |      THEN n_chunk_tokens ELSE 0 END) AS BIGINT) AS self_dup_tokens,
      |  CAST(sum(CASE WHEN rn > 1 AND owner_source <> source
      |      THEN n_chunk_tokens ELSE 0 END) AS BIGINT) AS cross_dup_tokens,
      |  round(CAST(sum(CASE WHEN rn > 1 THEN n_chunk_tokens ELSE 0 END)
      |        AS DOUBLE) / sum(n_chunk_tokens), 6) AS dup_ratio
      |FROM own GROUP BY 1""".stripMargin

  /** Train/eval split leakage audit — the contamination check a
    * pipeline runs BEFORE shipping a split assignment: a val/test
    * document is LEAKED if any of its 20-token chunks also occurs in
    * the train split (the q234 chunk grain — exact doc-hash leakage is
    * blind to partial copies, and this corpus's planted duplicates
    * cross split boundaries at the chunk level: measured 10/46 val,
    * 4/46 test at sf0.01). Splits are q43's deterministic hash buckets,
    * so the audit is reproducible across runs and engines.
    *
    * Scale shape: one tokenize+chunk pass over the corpus with the
    * split label carried through [[chunksOfTokens]]; the train chunk
    * set is a distinct projection (hash-shuffled once) consumed via a
    * LEFT join (absence must be observable, so not a semi join) — at
    * 100 TB both sides stay chunk-hash partitioned, no broadcast of
    * corpus-sized state; the per-doc verdict is a max() rollup, one
    * more shuffle at doc grain. */
  def q238SplitLeakage(s: SparkSession, d: String): DataFrame = {
    val ch = chunkRows(withSplit(documents(s, d))
        .select(col("doc_id"), col("text"), col("split")), width = 20)
      .select(col("doc_id"), col("split"), col("chunk_hash"))
    val train = ch.filter(col("split") === "train")
      .select(col("chunk_hash")).distinct()
      .withColumn("in_train", lit(1))
    ch.filter(col("split") =!= "train")
      .join(train, Seq("chunk_hash"), "left")
      .groupBy(col("split"), col("doc_id"))
      .agg(max(coalesce(col("in_train"), lit(0))).as("leaked"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("leaked")).cast("long").as("n_leaked"))
      .select(col("split"), col("n_docs"), col("n_leaked"),
        round(col("n_leaked").cast("double") /
          col("n_docs").cast("double"), 6).as("leak_rate"))
  }

  val q238Sql: String =
    """WITH sp AS (
      |  SELECT doc_id, text,
      |    CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
      |         ELSE 'test' END AS split
      |  FROM (SELECT doc_id, text,
      |      CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
      |        AS BIGINT) % 100 AS b
      |    FROM documents)),
      |toks AS (
      |  SELECT doc_id, split, list_filter(
      |    string_split_regex(lower(text), '[^a-z]+'), t -> t <> '') AS tk
      |  FROM sp),
      |st AS (
      |  SELECT doc_id, split, tk,
      |    unnest(generate_series(0, len(tk) - 1, 20)) AS start
      |  FROM toks WHERE len(tk) > 0),
      |ch AS (
      |  SELECT doc_id, split,
      |    md5(array_to_string(list_slice(tk, start + 1, start + 20), ' '))
      |      AS chunk_hash
      |  FROM st),
      |tr AS (SELECT DISTINCT chunk_hash FROM ch WHERE split = 'train'),
      |ev AS (
      |  SELECT split, doc_id,
      |    max(CASE WHEN tr.chunk_hash IS NOT NULL THEN 1 ELSE 0 END)
      |      AS leaked
      |  FROM ch LEFT JOIN tr USING (chunk_hash)
      |  WHERE split <> 'train'
      |  GROUP BY 1, 2)
      |SELECT split, count(*) AS n_docs,
      |  CAST(sum(leaked) AS BIGINT) AS n_leaked,
      |  round(CAST(sum(leaked) AS DOUBLE) / count(*), 6) AS leak_rate
      |FROM ev GROUP BY 1""".stripMargin

  /** Rank-based winsorization — outlier clamping before training-data
    * statistics: per group, clamp values below the k-th smallest (or
    * above the k-th largest) to that boundary, k = 1 + n/100 (≈ the 1st
    * and 99th percentile by RANK). Rank boundaries, not interpolated
    * percentiles, on purpose: the k-th order statistic is an exact
    * integer selection both engines agree on, where interpolated
    * quantiles (`percentile` / `quantile_cont`) mix doubles engine-
    * specifically (the q84 lesson); and n_chars is integral, so every
    * number in the gate is exact integer arithmetic end to end.
    *
    * Scale shape: rank assignment is the q97/q94 two-pass pattern
    * ([[Relational.groupedRank]] — range-partition on (group, value,
    * tiebreak), per-partition row_numbers, broadcast offsets), NOT a
    * `Window.partitionBy(group)`: group here is low-cardinality (langs),
    * and a per-group window sort funnels each language's entire corpus
    * into ONE task. With the global rank in hand, the descending rank is
    * closed-form (rd = n + 1 − ra, because the desc order is the exact
    * reverse of the asc total order), so the boundary picks are two
    * filters on a groups-sized frame that broadcast-joins back. Max
    * parallelism is `parts`, independent of group cardinality. */
  def winsorize(df: DataFrame, group: String, value: String,
      tiebreak: String): DataFrame = {
    val slim = df.select(col(group), col(value), col(tiebreak))
    val ranked = Relational.groupedRank(
      slim, col(group), col(value), col(tiebreak), parts = 32)
    val counts = ranked.groupBy(col(group)).agg(count(lit(1)).as("n"))
      .withColumn("k", expr("1L + n div 100"))
    val bounds = ranked
      .join(broadcast(counts), Seq(group))
      .filter(col("rnk") === col("k") ||
        col("rnk") === col("n") + 1L - col("k"))
      .groupBy(col(group))
      .agg(min(col("n")).as("n"), min(col("k")).as("k"),
        max(when(col("rnk") === col("k"), col(value))).as("lo"),
        max(when(col("rnk") === col("n") + 1L - col("k"), col(value)))
          .as("hi"))
    ranked.drop("rnk")
      .join(broadcast(bounds), Seq(group))
      .withColumn("clamped", least(greatest(col(value), col("lo")), col("hi")))
  }

  def q92Winsorize(s: SparkSession, d: String): DataFrame =
    winsorize(documents(s, d), "lang", "n_chars", "doc_id")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), min(col("lo")).as("lo"),
        min(col("hi")).as("hi"),
        sum(col("n_chars")).as("raw_total"),
        sum(col("clamped")).as("clamped_total"))

  val q92Sql: String =
    """WITH t AS (
      |  SELECT lang, n_chars,
      |    count(*) OVER (PARTITION BY lang) AS n,
      |    row_number() OVER (PARTITION BY lang
      |                       ORDER BY n_chars, doc_id) AS ra,
      |    row_number() OVER (PARTITION BY lang
      |                       ORDER BY n_chars DESC, doc_id DESC) AS rd
      |  FROM documents),
      |kb AS (SELECT *, 1 + n // 100 AS k FROM t),
      |b AS (
      |  SELECT lang, n_chars, n,
      |    max(CASE WHEN ra = k THEN n_chars END) OVER (PARTITION BY lang) AS lo,
      |    max(CASE WHEN rd = k THEN n_chars END) OVER (PARTITION BY lang) AS hi
      |  FROM kb)
      |SELECT lang, count(*) AS n, min(lo) AS lo, min(hi) AS hi,
      |  CAST(sum(n_chars) AS BIGINT) AS raw_total,
      |  CAST(sum(least(greatest(n_chars, lo), hi)) AS BIGINT) AS clamped_total
      |FROM b GROUP BY 1""".stripMargin

  /** Corpus training-readiness report — the capstone composition a
    * pipeline owner actually reads before a run: per (source, split),
    * document count, exact-dedup survivor count (global keep-first
    * winners, so a duplicate spanning sources is kept in exactly ONE of
    * them), raw vs surviving character volume. Composes [[withSplit]]
    * (content-keyed, scale-invariant) with q20's canonical content hash.
    *
    * Scale shape: ONE shuffle on the content hash (the window min that
    * decides keepers — the same exchange exact dedup itself costs),
    * then a partial-agg'd groupBy on the bounded (source, split) pair.
    * Integer columns end to end: the gate has no FP surface at all. */
  def q100CorpusReport(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = withSplit(documents(s, d))
      .withColumn("h", md5(Dedup.normText(col("text"))))
    docs
      .withColumn("keep",
        (min(col("doc_id")).over(Window.partitionBy(col("h")))
          === col("doc_id")).cast("long"))
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("keep")).as("n_unique"),
        sum(col("n_chars")).as("sum_chars"),
        sum(when(col("keep") === 1L, col("n_chars")).otherwise(0L))
          .as("kept_chars"))
  }

  val q100Sql: String =
    """WITH k AS (
      |  SELECT doc_id, source, n_chars,
      |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
      |      AS BIGINT) % 100 AS b,
      |    CASE WHEN min(doc_id) OVER (PARTITION BY
      |        md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))))
      |      = doc_id THEN 1 ELSE 0 END AS keep
      |  FROM documents)
      |SELECT source,
      |  CASE WHEN b < 80 THEN 'train'
      |       WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
      |  count(*) AS n_docs,
      |  CAST(sum(keep) AS BIGINT) AS n_unique,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |  CAST(sum(CASE WHEN keep = 1 THEN n_chars ELSE 0 END) AS BIGINT)
      |    AS kept_chars
      |FROM k GROUP BY 1, 2""".stripMargin

  /** DETERMINISTIC weighted sampling without replacement (Efraimidis–
    * Spirakis A-ES, IPL 2006): each document draws u ∈ (0,1] from the
    * md5 of its id and scores key = ln(u)/weight (the log of the A-ES
    * u^(1/w) key — same order, no tiny-exponent underflow); the top-k
    * keys ARE a weighted sample without replacement, here weighted by
    * n_chars so long documents are proportionally favored. Hash-derived
    * u makes the "random" sample reproducible across runs, engines and
    * cluster sizes — the q43 doctrine applied to sampling. u is exact
    * on both engines: a 60-bit integer +1 cast to double (IEEE nearest)
    * scaled by the power of two 2^60; ln may differ in the final ulp
    * across libm implementations, so the exported key rounds to 8
    * decimals and the top-k boundary would flip only on a ~2^-45
    * near-tie between distinct 60-bit draws.
    *
    * Scale shape: per-row expressions then TakeOrdered(k) — partial
    * top-k per partition, k rows to the driver, NO global sort, no
    * shuffle of the corpus. This is how you draw a 10M-doc training
    * mixture from a 10B-doc corpus without materializing an ordering. */
  def q148WeightedSample(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), col("n_chars"),
        ((md5Bits(col("doc_id").cast("string")) + 1).cast("double") /
          lit(1.152921504606846976e18))
          .as("u"))
      .select(col("doc_id"), col("n_chars"),
        (log(col("u")) / col("n_chars").cast("double")).as("key"))
      .orderBy(col("key").desc, col("doc_id"))
      .limit(50)
      .select(col("doc_id"), col("n_chars"), round(col("key"), 8).as("key8"))

  val q148Sql: String =
    """WITH k AS (
      |  SELECT doc_id, n_chars,
      |    ln(CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
      |            AS BIGINT) + 1 AS DOUBLE) / 1152921504606846976.0)
      |      / CAST(n_chars AS DOUBLE) AS key
      |  FROM documents)
      |SELECT doc_id, n_chars, round(key, 8) AS key8
      |FROM k ORDER BY key DESC, doc_id LIMIT 50""".stripMargin

  /** Deterministic NEGATIVE SAMPLING for contrastive training: every
    * document draws 2 negatives from OTHER sources — the standard
    * in-batch-negatives alternative when batches can't guarantee
    * source diversity. Two-stage to stay off the anchors×corpus
    * product: (1) a bounded candidate POOL — the 4 md5-smallest docs
    * per source (≤ 4·|sources| rows, broadcast); (2) each anchor ranks
    * the pool's other-source members by md5(anchor:candidate) — a
    * per-anchor pseudo-random but REPRODUCIBLE order (the q43/q148
    * hash-not-rand doctrine: retries, engines and cluster sizes all
    * draw the same negatives) — and keeps the 2 smallest. Real
    * pipelines scale the pool, not the mechanism.
    *
    * Scale shape: pool = per-source WindowGroupLimit over a
    * sources-bounded grain, broadcast everywhere; the anchor fan-out
    * is ≤|pool| per doc (constant), cut back to 2 by another
    * WindowGroupLimit. No corpus×corpus anything. */
  def q174NegativeSample(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).select(col("doc_id"), col("source"))
    val wp = Window.partitionBy(col("source"))
      .orderBy(col("h"), col("doc_id"))
    val pool = docs
      .withColumn("h", md5(col("doc_id").cast("string")))
      .withColumn("pr", row_number().over(wp))
      .filter(col("pr") <= 4)
      .select(col("doc_id").as("neg_doc_id"), col("source").as("neg_source"))
    val wa = Window.partitionBy(col("doc_id"))
      .orderBy(col("nh"), col("neg_doc_id"))
    docs.join(broadcast(pool), col("source") =!= col("neg_source"))
      .withColumn("nh", md5(concat_ws(":", col("doc_id").cast("string"),
        col("neg_doc_id").cast("string"))))
      .withColumn("neg_rank", row_number().over(wa))
      .filter(col("neg_rank") <= 2)
      .select(col("doc_id"), col("neg_rank"), col("neg_doc_id"),
        col("neg_source"))
  }

  val q174Sql: String =
    """WITH pool AS (
      |  SELECT doc_id AS neg_doc_id, source AS neg_source
      |  FROM (
      |    SELECT doc_id, source,
      |      row_number() OVER (PARTITION BY source
      |        ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS pr
      |    FROM documents)
      |  WHERE pr <= 4),
      |fan AS (
      |  SELECT d.doc_id, p.neg_doc_id, p.neg_source,
      |    row_number() OVER (PARTITION BY d.doc_id
      |      ORDER BY md5(CAST(d.doc_id AS VARCHAR) || ':'
      |                   || CAST(p.neg_doc_id AS VARCHAR)),
      |               p.neg_doc_id) AS neg_rank
      |  FROM documents d JOIN pool p ON d.source <> p.neg_source)
      |SELECT doc_id, neg_rank, neg_doc_id, neg_source
      |FROM fan WHERE neg_rank <= 2""".stripMargin

  /** C4/Gopher-STYLE QUALITY RULE BATTERY — the document-level keep/drop
    * filters every web-scale pretraining pipeline runs before dedup
    * (C4's "heuristic cleaning", Gopher's quality rules): minimum word
    * count, mean-word-length band, minimum stopword fraction, maximum
    * single-token fraction (repetition). Reported per source as keep
    * counts plus a per-rule failure census, so a corpus owner sees WHICH
    * rule is dropping their data.
    *
    * Every rule compares INTEGERS (cross-multiplied fractions — e.g.
    * stopword-fraction < 0.05 as `100·stop_c < 5·n`), never a double
    * division, so the keep decision is bit-identical on any engine and
    * immune to summation order. Thresholds sit inside the corpus's
    * observed stat ranges (n∈[10,99], mean-len∈[3.7,5.3], stop∈[0,.22],
    * rep∈[.05,.3] at sf0.01) so every rule both passes and fails real
    * rows — an all-pass battery would gate nothing.
    *
    * Shape: tokenize → (doc,word) counts → per-doc stats → per-source
    * rollup. Two shuffles (doc_id×word, then source), both with map-side
    * partial aggregation; nothing is corpus×corpus. At 100 TB each doc's
    * stats reduce locally — the only global state is the ~|sources| final
    * rollup.
    *
    * Zero-token docs (nothing matches `[a-z]+` — all digits/punctuation/
    * non-Latin) vanish from the exploded word stream, so the per-doc
    * stats are LEFT-JOINED back onto the documents table with n
    * coalesced to 0: such a doc is censused exactly once and fails only
    * f_short (every other rule compares 0 against 0), on any corpus —
    * not just ones that happen to contain no such docs (round-10
    * ADVICE.md item 1). */
  def q175C4Rules(s: SparkSession, d: String): DataFrame = {
    val words = documents(s, d)
      .select(col("doc_id"), col("source"),
        explode(Dedup.tokensCodegen(col("text"))).as("w"))
      .filter(col("w") =!= "")
    val perDocTok = words
      .groupBy(col("doc_id"), col("source"), col("w"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"), col("source"))
      .agg(sum(col("c")).as("n"),
        sum(length(col("w")).cast("long") * col("c")).as("sum_len"),
        sum(when(col("w").isin("the", "a"), col("c")).otherwise(0L))
          .as("stop_c"),
        max(col("c")).as("max_c"))
    val perDoc = documents(s, d).select(col("doc_id"), col("source"))
      .join(perDocTok.drop("source"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("sum_len"), lit(0L)).as("sum_len"),
        coalesce(col("stop_c"), lit(0L)).as("stop_c"),
        coalesce(col("max_c"), lit(0L)).as("max_c"))
    val flagged = perDoc.select(col("source"),
      (col("n") < 30).as("f_short"),
      (col("sum_len") * 10 < col("n") * 42 ||
        col("sum_len") * 10 > col("n") * 50).as("f_wordlen"),
      (col("stop_c") * 100 < col("n") * 5).as("f_stop"),
      (col("max_c") * 10 > col("n")).as("f_rep"))
    flagged
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(!col("f_short") && !col("f_wordlen") && !col("f_stop") &&
          !col("f_rep"), 1L).otherwise(0L)).as("n_keep"),
        sum(when(col("f_short"), 1L).otherwise(0L)).as("n_fail_short"),
        sum(when(col("f_wordlen"), 1L).otherwise(0L)).as("n_fail_wordlen"),
        sum(when(col("f_stop"), 1L).otherwise(0L)).as("n_fail_stop"),
        sum(when(col("f_rep"), 1L).otherwise(0L)).as("n_fail_rep"))
  }

  val q175Sql: String =
    """WITH ws AS (
      |  SELECT doc_id, source,
      |    list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |      t -> t <> '') AS w
      |  FROM documents),
      |st AS (
      |  SELECT doc_id, source, len(w) AS n,
      |    coalesce(list_sum(list_transform(w, x -> length(x))), 0) AS sum_len,
      |    len(list_filter(w, t -> t IN ('the','a'))) AS stop_c,
      |    coalesce(list_max(list_transform(list_distinct(w),
      |      t -> len(list_filter(w, x -> x = t)))), 0) AS max_c
      |  FROM ws),
      |fl AS (
      |  SELECT source,
      |    n < 30 AS f_short,
      |    (sum_len*10 < n*42 OR sum_len*10 > n*50) AS f_wordlen,
      |    stop_c*100 < n*5 AS f_stop,
      |    max_c*10 > n AS f_rep
      |  FROM st)
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN NOT f_short AND NOT f_wordlen AND NOT f_stop
      |                 AND NOT f_rep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
      |  CAST(sum(CASE WHEN f_short THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_short,
      |  CAST(sum(CASE WHEN f_wordlen THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_wordlen,
      |  CAST(sum(CASE WHEN f_stop THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_stop,
      |  CAST(sum(CASE WHEN f_rep THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_rep
      |FROM fl GROUP BY source""".stripMargin

  /** PER-DOMAIN CAP — the Common-Crawl curation step that stops one
    * domain from dominating the corpus: keep at most `cap` documents per
    * source, chosen by a DETERMINISTIC content-independent hash order
    * (md5 of doc_id, ties by doc_id — the q174 pool idiom), so the kept
    * set is a pure function of document identity: reproducible across
    * runs/engines/cluster sizes, and stable under corpus growth (a new
    * doc can displace at most one existing pick, never reshuffle the
    * order). Never `rand()`.
    *
    * TWO-PHASE, SKEW-PROOF (round-10 verdict task 4 — the single
    * heavy-partition sort the round-10 docstring flagged is gone):
    *
    *   0. Pre-aggregate per-source (n_total, total_chars) — one
    *      partial-agg'd shuffle, |sources| rows. Sources with
    *      n_total ≤ cap pass through UNRANKED (n_kept = n_total,
    *      kept_chars = total_chars): on a real corpus that is the vast
    *      majority of domains, and none of their rows ever enter a sort.
    *   1. Only rows of over-cap sources (a broadcast semi-join against
    *      the tiny over-cap source list) are ranked, and because the
    *      rank is now FILTERED (`r ≤ cap` — the round-10 version kept
    *      every r for the rollup), Catalyst's RankLimit rule plans the
    *      window as WindowGroupLimit Partial → exchange → Final: each
    *      map partition locally prunes to its own cap smallest hashes
    *      BEFORE the shuffle (every global top-cap row is necessarily
    *      in its partition's top cap), so the per-source sort after the
    *      exchange sees ≤ cap·P rows — bounded regardless of domain
    *      skew, with no hand-rolled salt window and no extra shuffle.
    *
    * Output is identical to the one-window formulation (the DuckDB
    * oracle below IS that formulation). */
  def q176DomainCap(s: SparkSession, d: String): DataFrame = {
    val cap = 15
    val docs = documents(s, d)
      .select(col("doc_id"), col("source"), col("n_chars"))
    val per = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_total"),
        sum(col("n_chars").cast("long")).as("total_chars"))
      .localCheckpoint()
    val small = per.filter(col("n_total") <= cap)
      .select(col("source"), col("n_total"),
        col("n_total").as("n_kept"), col("total_chars").as("kept_chars"))
    val bigSrc = per.filter(col("n_total") > cap)
      .select(col("source"), col("n_total"))
    val wExact = Window.partitionBy(col("source"))
      .orderBy(col("h"), col("doc_id"))
    val kept = docs
      .join(broadcast(bigSrc.select(col("source"))), Seq("source"))
      .withColumn("h", md5(col("doc_id").cast("string")))
      .withColumn("r", row_number().over(wExact))
      .filter(col("r") <= cap)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"),
        sum(col("n_chars").cast("long")).as("kept_chars"))
    bigSrc.join(kept, Seq("source"))
      .select(col("source"), col("n_total"), col("n_kept"),
        col("kept_chars"))
      .unionByName(small)
  }

  val q176Sql: String =
    """SELECT source, count(*) AS n_total,
      |  CAST(sum(CASE WHEN r <= 15 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  CAST(sum(CASE WHEN r <= 15 THEN n_chars ELSE 0 END) AS BIGINT)
      |    AS kept_chars
      |FROM (
      |  SELECT source, n_chars,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS r
      |  FROM documents)
      |GROUP BY source""".stripMargin

  /** DSIR-STYLE IMPORTANCE SCORING (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every
    * document by how much its unigram distribution resembles a TARGET
    * domain (here lang='en' stands in for the curated target), then
    * decile the corpus by that score — the buckets a resampling pass
    * would draw from.
    *
    * Features are HASHED into a FIXED 2^12 bucket space (the DSIR
    * paper's own hashed-n-gram construction, §3 of Xie et al.) — the
    * md5-prefix bucket already used by q43/q148, engine-identical. A
    * raw-unigram affinity table is vocabulary-sized, and web-scale
    * vocabularies (typos, URLs, code) grow without bound with the
    * corpus, so its broadcast eventually exceeds executor memory;
    * the bucket table is 4096 rows at ANY corpus size (round-10
    * verdict task 3 / ADVICE.md item 3).
    *
    * The per-bucket affinity is Laplace-smoothed target share in FIXED
    * POINT: `(1e6·(c_target+1)) div (c_all+2)` — integer division, so
    * bucket scores and their per-doc sums are exact on any engine (a
    * log-likelihood-ratio formulation would need cross-engine-identical
    * `ln`, which IEEE does not promise). Monotone in the target share,
    * which is all resampling needs.
    *
    * Shape: one bounded broadcast to the corpus word stream; per-doc
    * sum is one partial-agg'd shuffle on doc_id; the decile uses the
    * repo's rank arithmetic (`(rnk·10−1) div n + 1` — q94's NTILE-free
    * convention) over [[Relational.globalRank]]'s two-pass distributed
    * rank — the scored frame is corpus-sized, so a bare `row_number()
    * OVER (ORDER BY …)` would be an Exchange SinglePartition at 100 TB.
    * Descending score ranks as ascending `-score` (exact: scores are
    * longs). */
  def q177DsirWeights(s: SparkSession, d: String): DataFrame = {
    val words = documents(s, d)
      .select(col("doc_id"), col("lang"),
        explode(Dedup.tokensCodegen(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .select(col("doc_id"), col("lang"), md5Bucket(col("w"), 4096).as("bk"))
    // Collapse the token stream to per-(doc, bucket) COUNTS once and
    // checkpoint: the affinity table, the per-doc score, and the decile
    // denominator all used to re-derive `words` — three full
    // tokenize+explode passes over the corpus per query. Every
    // downstream sum is exact over the counts (longs): c_all = Σcnt,
    // c_t = Σcnt where en, score = Σ aff·cnt ≡ the per-token sums.
    val wc = words.groupBy(col("doc_id"), col("lang"), col("bk"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint(false)
    val vocab = wc.groupBy(col("bk"))
      .agg(sum(col("cnt")).as("c_all"),
        sum(when(col("lang") === "en", col("cnt")).otherwise(0L)).as("c_t"))
      .select(col("bk"),
        expr("(1000000 * (c_t + 1)) div (c_all + 2)").as("aff"))
    val scored = wc
      .join(broadcast(vocab), Seq("bk"))
      .groupBy(col("doc_id"))
      .agg(sum(col("aff") * col("cnt")).as("score"))
    val n = scored.agg(count(lit(1)).as("nd"))
    Relational.globalRank(scored, -col("score"), col("doc_id"), parts = 32)
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("score"),
        expr("cast((rnk * 10 - 1) div nd + 1 as int)").as("decile"))
  }

  val q177Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, lang, unnest(list_filter(
      |    string_split_regex(lower(text), '[^a-z]+'), t -> t <> '')) AS w
      |  FROM documents),
      |words AS (
      |  SELECT doc_id, lang,
      |    CAST('0x' || substr(md5(w), 1, 15) AS BIGINT) % 4096 AS bk
      |  FROM toks),
      |vocab AS (
      |  SELECT bk,
      |    (1000000 * (CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
      |       AS BIGINT) + 1)) // (count(*) + 2) AS aff
      |  FROM words GROUP BY bk),
      |scored AS (
      |  SELECT doc_id, CAST(sum(aff) AS BIGINT) AS score
      |  FROM words JOIN vocab USING (bk) GROUP BY doc_id),
      |n AS (SELECT count(*) AS nd FROM scored)
      |SELECT doc_id, score,
      |  CAST((rnk * 10 - 1) // nd + 1 AS INTEGER) AS decile
      |FROM (SELECT doc_id, score,
      |        row_number() OVER (ORDER BY score DESC, doc_id) AS rnk
      |      FROM scored) CROSS JOIN n""".stripMargin

  /** TEMPERATURE-SCALED MIXTURE WEIGHTS — the standard multi-source
    * pretraining schedule (GPT-3/PaLM style): sample source s with
    * probability ∝ n_s^α, α=0.5, flattening the natural distribution so
    * big sources don't drown small ones. Emits each source's weight and
    * its integer document budget out of 10 000.
    *
    * α=0.5 because sqrt is the one fractional power IEEE 754 requires
    * correctly rounded — `sqrt(n_s)` is bit-identical on every engine,
    * where a general `pow(n, 0.3)` is not. The weight is then fixed to
    * 1e6 integer units and the budget uses integer division, so the
    * whole schedule is engine-exact. One |sources|-row aggregate plus a
    * broadcast scalar join — nothing scales with corpus rows but the
    * first partial-agg'd count. */
  def q181TemperatureMix(s: SparkSession, d: String): DataFrame = {
    val per = documents(s, d).groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("weight",
        round(sqrt(col("n_docs").cast("double")) * 1e6, 0).cast("long"))
    val tot = per.agg(sum(col("weight")).as("tw"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"),
        col("weight"), expr("(10000 * weight) div tw").as("target_docs"))
  }

  val q181Sql: String =
    """WITH per AS (
      |  SELECT source, count(*) AS n_docs,
      |    CAST(round(sqrt(CAST(count(*) AS DOUBLE)) * 1e6, 0) AS BIGINT)
      |      AS weight
      |  FROM documents GROUP BY source),
      |tot AS (SELECT CAST(sum(weight) AS BIGINT) AS tw FROM per)
      |SELECT source, n_docs, weight,
      |  (10000 * weight) // tw AS target_docs
      |FROM per CROSS JOIN tot""".stripMargin

  /** K-ANONYMITY / L-DIVERSITY AUDIT (Sweeney 2002; Machanavajjhala
    * 2007) — the privacy-risk readout that decides whether a table can
    * ship: group by the quasi-identifiers an adversary could link on
    * (nation, market segment), measure each group's size k (smaller ⇒
    * re-identifiable) and its diversity l = distinct sensitive values
    * (account-balance band; l = 1 ⇒ the sensitive value leaks even
    * without re-identification). Output is the k-histogram with the
    * worst-case and low-diversity census per size — the compliance
    * artifact, sized by distinct k, not by rows.
    *
    * Determinism: balance bands come from exact integer cents
    * (round(bal·100) — the q187 value_milli convention), SHIFTED
    * nonnegative before the band division because Spark's `div`
    * truncates while DuckDB's `//` floors and they disagree exactly on
    * negative numerators (the q150 rule).
    *
    * Scale shape: one partial-agg groupBy on the QI key (the count and
    * distinct-band both map-side combine), then a k-sized rollup. The
    * QI group count is bounded by the QI domain, not the row count. */
  def q197KAnonymity(s: SparkSession, d: String): DataFrame = {
    val groups = customer(s, d)
      .select(col("c_nationkey"), col("c_mktsegment"),
        expr("(CAST(round(c_acctbal * 100, 0) AS BIGINT) + 100000) div 100000")
          .as("bal_band"))
      .groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(count(lit(1)).as("group_size"),
        countDistinct(col("bal_band")).as("l_div"))
    groups.groupBy(col("group_size"))
      .agg(count(lit(1)).as("n_groups"),
        sum(col("group_size")).as("n_rows"),
        min(col("l_div")).as("min_l"),
        sum(when(col("l_div") < 3L, 1L).otherwise(0L)).as("n_low_diversity"))
  }

  val q197Sql: String =
    """WITH g AS (
      |  SELECT c_nationkey, c_mktsegment,
      |    count(*) AS group_size,
      |    count(DISTINCT (CAST(round(c_acctbal * 100, 0) AS BIGINT)
      |      + 100000) // 100000) AS l_div
      |  FROM customer GROUP BY 1, 2)
      |SELECT group_size,
      |  count(*) AS n_groups,
      |  CAST(sum(group_size) AS BIGINT) AS n_rows,
      |  CAST(min(l_div) AS BIGINT) AS min_l,
      |  CAST(sum(CASE WHEN l_div < 3 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_low_diversity
      |FROM g GROUP BY 1""".stripMargin

  /** PERPLEXITY-BAND CURATION FILTER — q212's interpolated-KN bigram
    * scorer given its production CONSUMER (the round-12 verdict's
    * "estimator → decision" close-the-loop move, as q205 did for q204):
    * CCNet's head/middle/tail split (Wenzek et al. 2020 cut each
    * language's corpus into perplexity TERCILES and trained on the
    * head+middle), censused per (source, bucket) with the bucket's
    * score range and the keep decision.
    *
    * Terciles are a RELATIVE cut — corpus-size- and distribution-free,
    * so the decision survives scale-up where any absolute nats
    * threshold tuned at sf0.01 would silently keep 0% or 100% at sf1.
    * Rank order is (score-fixed-point, doc_id) — s_fp = round(avg_nll·
    * 10000) is exact on both engines because q212 already rounds
    * avg_nll to 4 decimals identically — via [[Relational.globalRank]]
    * (two-pass distributed rank, never a SinglePartition window);
    * bucket = (rnk−1)·3 div n. Docs q212 cannot score (<2 tokens, NULL
    * avg_nll) become the 'unscored' bucket, dropped but censused — the
    * q175 every-doc-exactly-once discipline.
    *
    * Scale shape: q212's plan (vocab-sized prob table joined to the
    * bigram stream) plus one doc-keyed range exchange for the rank and
    * a sources×4 rollup; nothing new is corpus×corpus. */
  def q218PplFilter(s: SparkSession, d: String): DataFrame = {
    val scored = Vocab.q212KnBigram(s, d)
      .filter(col("avg_nll").isNotNull)
      .select(col("doc_id"),
        expr("CAST(round(avg_nll * 10000, 0) AS BIGINT)").as("s_fp"))
      // two consumers (the scored-count scalar + the rank) — without
      // the checkpoint each would re-run the whole KN scoring plan
      .localCheckpoint(false)
    val n = scored.agg(count(lit(1)).as("n_scored"))
    val bucketed = Relational.globalRank(scored, col("s_fp"),
        col("doc_id"), parts = 32)
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("s_fp"),
        expr("CASE (rnk - 1) * 3 div n_scored WHEN 0 THEN 'head' " +
          "WHEN 1 THEN 'middle' ELSE 'tail' END").as("bucket"))
    documents(s, d).select(col("doc_id"), col("source"))
      .join(bucketed, Seq("doc_id"), "left")
      .select(col("source"), coalesce(col("bucket"), lit("unscored")).as("bucket"),
        col("s_fp"))
      .groupBy(col("source"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("s_fp")).as("lo_fp"), max(col("s_fp")).as("hi_fp"))
      .withColumn("kept", col("bucket").isin("head", "middle"))
  }

  val q218Sql: String =
    s"""WITH kn AS (${Vocab.q212Sql}),
       |sc AS (
       |  SELECT doc_id, CAST(round(avg_nll * 10000, 0) AS BIGINT) AS s_fp
       |  FROM kn WHERE avg_nll IS NOT NULL),
       |n AS (SELECT count(*) AS n_scored FROM sc),
       |bk AS (
       |  SELECT doc_id, s_fp,
       |    CASE (row_number() OVER (ORDER BY s_fp, doc_id) - 1) * 3
       |         // n_scored
       |      WHEN 0 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail' END
       |      AS bucket
       |  FROM sc, n)
       |SELECT d.source, coalesce(bk.bucket, 'unscored') AS bucket,
       |  count(*) AS n_docs,
       |  min(bk.s_fp) AS lo_fp, max(bk.s_fp) AS hi_fp,
       |  coalesce(bk.bucket, 'unscored') IN ('head', 'middle') AS kept
       |FROM documents d LEFT JOIN bk USING (doc_id)
       |GROUP BY 1, 2""".stripMargin

  /** SEQUENCE-PACKING EFFICIENCY SWEEP — the context-length decision
    * table behind q51's packer: under GPT-style concat-then-chunk
    * packing (docs concatenated per source in deterministic doc_id
    * order, chunked into fixed budget-token sequences), sweep the
    * budget over 512/1024/2048/4096 and census per (budget, source):
    * how many documents STRADDLE a sequence boundary (fragmented docs —
    * the cost side of longer-context packing masks), how many sequences
    * the source yields, and the tail waste of its last partial
    * sequence. This is the table a pipeline owner reads to pick context
    * length: bigger budgets fragment more docs but waste less tail,
    * smaller ones the reverse.
    *
    * Everything is closed-form integer arithmetic over q51's prefix-sum
    * offsets: doc straddles ⇔ offset div B ≠ (offset+n−1) div B (n>0);
    * n_seqs = ceil(Σn / B) as (Σn + B − 1) div B — nonnegative
    * numerators, so Spark's truncating div and DuckDB's floor // agree.
    *
    * Scale shape: ONE tokenize pass, q51's per-source window (the
    * sanctioned partitioned prefix sum), a 4× budget explode of the
    * doc-grain stats, and a (budgets×sources)-sized rollup. */
  def q220PackSweep(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    documents(s, d)
      .withColumn("n_tokens", Dedup.nTokensCol(col("text")).cast("long"))
      .withColumn("offset", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("source"), col("n_tokens"), col("offset"),
        explode(typedLit(Seq(512L, 1024L, 2048L, 4096L))).as("budget"))
      .groupBy(col("budget"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_tokens") > 0 &&
          expr("offset div budget") =!= expr("(offset + n_tokens - 1) div budget"),
          1L).otherwise(0L)).as("n_straddling"),
        sum(col("n_tokens")).as("tok_total"))
      .withColumn("n_seqs", expr("(tok_total + budget - 1) div budget"))
      .withColumn("tail_waste", col("n_seqs") * col("budget") - col("tok_total"))
  }

  val q220Sql: String =
    """WITH st AS (
      |  SELECT source, n_tokens,
      |    coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS o
      |  FROM (
      |    SELECT doc_id, source,
      |      CAST(len(list_filter(string_split_regex(text, '\s+'),
      |        t -> t <> '')) AS BIGINT) AS n_tokens
      |    FROM documents)),
      |sw AS (SELECT st.*, budget FROM st,
      |       (SELECT unnest([512, 1024, 2048, 4096]) AS budget)),
      |agg AS (
      |  SELECT CAST(budget AS BIGINT) AS budget, source,
      |    count(*) AS n_docs,
      |    CAST(sum(CASE WHEN n_tokens > 0
      |      AND o // budget <> (o + n_tokens - 1) // budget
      |      THEN 1 ELSE 0 END) AS BIGINT) AS n_straddling,
      |    CAST(sum(n_tokens) AS BIGINT) AS tok_total
      |  FROM sw GROUP BY 1, 2)
      |SELECT budget, source, n_docs, n_straddling, tok_total,
      |  CAST((tok_total + budget - 1) // budget AS BIGINT) AS n_seqs,
      |  CAST((tok_total + budget - 1) // budget * budget - tok_total
      |    AS BIGINT) AS tail_waste
      |FROM agg""".stripMargin

  /** END-TO-END CURATION FUNNEL — the composition a real pretraining
    * pipeline runs, as ONE gated query with per-stage attrition per
    * source (the funnel table every corpus owner reads before a
    * training run):
    *
    *   train docs (held-out split excluded)
    *     → C4/Gopher quality rules   (q175's exact flags)
    *     → exact dedup, keep-first   (q20's hash, among survivors)
    *     → 8-gram decontamination    (q210's grams vs the held-out split)
    *     → perplexity terciles       (q212 scores, q218's head+middle cut,
    *                                  ranked among the surviving population)
    *
    * Stage order matters and is the production order: dedup after
    * quality (why hash garbage), decontamination before the LM cut
    * (leaked eval text often scores "fluent"), and the tercile is
    * computed over the POPULATION THAT SURVIVES — a cut ranked on the
    * raw corpus would mis-band once earlier stages shift the
    * distribution. Every stage reuses the already-gated formulation,
    * so this query pins their COMPOSITION (flag interactions, join
    * nullability, population-dependent ranking), not new math.
    *
    * Scale shape: the union of the member shapes — two tokenize passes
    * (quality stats, grams) + q212's scoring pass, one hash-partitioned
    * dedup window, one bounded rank exchange over survivors, boolean
    * joins on doc_id, sources-sized rollup. Nothing corpus×corpus. */
  /** q222's stage-3 decontamination grams — (doc_id, gram) distinct
    * 60-bit md5-prefix hashes of 8-token windows — hoisted so the
    * streaming funnel's frozen-reference compiler
    * (graft.streaming.CurationStream) shares the exact arithmetic. */
  private[graft] def decontamGrams(df: DataFrame): DataFrame =
    Dedup.gramHashes(df.withColumn("toks", Dedup.tokensCodegen(col("text"))), 8)

  /** The funnel at DOC grain — (doc_id, source, keep1..keep4), exactly
    * the frame [[q222CurationFunnel]] rolls up per source. Shared by
    * the gated batch query and the streaming funnel's differential /
    * frozen-cut compiler (CurationStream): the streaming form must
    * match THESE verdicts row for row on closed windows. */
  private[graft] def funnelVerdicts(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    // stages 1 (quality stats) and 3 (decontam grams) both read the
    // tokenized train split; persisting it (MEMORY_AND_DISK: spillable
    // and lineage-replayable) tokenizes it once instead of twice.
    // Repeated builds in one session share one cache entry, because
    // CacheManager matches the canonicalized plan.
    val trainTok = docs.filter(col("doc_id") % 7 =!= 0)
      .select(col("doc_id"), col("source"), col("text"),
        Dedup.tokensCodegen(col("text")).as("toks"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val train = trainTok.select(col("doc_id"), col("source"), col("text"))

    // stage 1 — C4/Gopher rules at doc grain (q175's expressions)
    val stats = trainTok
      .select(col("doc_id"), explode(col("toks")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n"),
        sum(length(col("w")).cast("long") * col("c")).as("sum_len"),
        sum(when(col("w").isin("the", "a"), col("c")).otherwise(0L)).as("stop_c"),
        max(col("c")).as("max_c"))
    val base = train.join(stats, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("text"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("sum_len"), lit(0L)).as("sum_len"),
        coalesce(col("stop_c"), lit(0L)).as("stop_c"),
        coalesce(col("max_c"), lit(0L)).as("max_c"))
      .withColumn("keep1",
        !(col("n") < 30) &&
          !(col("sum_len") * 10 < col("n") * 42 ||
            col("sum_len") * 10 > col("n") * 50) &&
          !(col("stop_c") * 100 < col("n") * 5) &&
          !(col("max_c") * 10 > col("n")))
      .localCheckpoint(false) // consumers: dedup window, rollup join

    // stage 2 — exact dedup among survivors, keep-first by doc_id
    val wHash = Window.partitionBy(md5(Dedup.normText(col("text"))))
    val s2 = base.filter(col("keep1"))
      .withColumn("keep2", col("doc_id") === min(col("doc_id")).over(wHash))
      .select(col("doc_id"), col("keep2"))

    // stage 3 — 8-gram decontamination vs the held-out split (q210)
    val evalGrams = decontamGrams(docs.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id"), col("text")))
      .select(col("gram")).distinct()
    // the persisted token arrays go in directly: stage 3 doesn't re-tokenize
    val contam = Dedup.gramHashes(trainTok.select(col("doc_id"), col("toks")), 8)
      .join(evalGrams.withColumn("hit", lit(1L)), Seq("gram"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .select(col("doc_id"),
        (col("n_hit") * 10 >= col("n_grams")).as("contaminated"))

    val flags = base.select(col("doc_id"), col("source"))
      .join(s2, Seq("doc_id"), "left")
      .join(contam, Seq("doc_id"), "left")
      .join(base.select(col("doc_id"), col("keep1")), Seq("doc_id"))
      .withColumn("keep2", coalesce(col("keep2"), lit(false)))
      .withColumn("keep3",
        col("keep2") && !coalesce(col("contaminated"), lit(false)))
      .localCheckpoint(false) // consumers: ppl rank filter + rollup

    // stage 4 — perplexity terciles among stage-3 survivors (q218 cut)
    val scored = Vocab.q212KnBigram(s, d)
      .filter(col("avg_nll").isNotNull)
      .select(col("doc_id"),
        expr("CAST(round(avg_nll * 10000, 0) AS BIGINT)").as("s_fp"))
    val surv = flags.filter(col("keep3")).select(col("doc_id"))
      .join(scored, Seq("doc_id"))
      .localCheckpoint(false) // consumers: count scalar + rank
    val nS = surv.agg(count(lit(1)).as("n_scored"))
    val keep4 = Relational.globalRank(surv, col("s_fp"), col("doc_id"), parts = 32)
      .crossJoin(broadcast(nS))
      .filter(col("n_scored") > 0 && expr("(rnk - 1) * 3 div n_scored") < 2)
      .select(col("doc_id"), lit(true).as("keep4"))

    flags.join(keep4, Seq("doc_id"), "left")
  }

  def q222CurationFunnel(s: SparkSession, d: String): DataFrame =
    funnelVerdicts(s, d)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep1"), 1L).otherwise(0L)).as("n_c4"),
        sum(when(col("keep2"), 1L).otherwise(0L)).as("n_dedup"),
        sum(when(col("keep3"), 1L).otherwise(0L)).as("n_decontam"),
        sum(when(coalesce(col("keep4"), lit(false)), 1L).otherwise(0L))
          .as("n_kept"))

  val q222Sql: String =
    s"""WITH tr AS (
       |  SELECT doc_id, source, text FROM documents WHERE doc_id % 7 <> 0),
       |ws AS (
       |  SELECT doc_id, list_filter(string_split_regex(lower(text),
       |    '[^a-z]+'), t -> t <> '') AS w
       |  FROM tr),
       |st AS (
       |  SELECT doc_id, len(w) AS n,
       |    coalesce(list_sum(list_transform(w, x -> length(x))), 0) AS sum_len,
       |    len(list_filter(w, t -> t IN ('the','a'))) AS stop_c,
       |    coalesce(list_max(list_transform(list_distinct(w),
       |      t -> len(list_filter(w, x -> x = t)))), 0) AS max_c
       |  FROM ws),
       |b AS (
       |  SELECT tr.doc_id, tr.source, tr.text,
       |    NOT (n < 30) AND NOT (sum_len*10 < n*42 OR sum_len*10 > n*50)
       |      AND NOT (stop_c*100 < n*5) AND NOT (max_c*10 > n) AS keep1
       |  FROM tr JOIN st USING (doc_id)),
       |dd AS (
       |  SELECT doc_id, doc_id = min(doc_id) OVER (PARTITION BY
       |    md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))) AS keep2
       |  FROM b WHERE keep1),
       |gr AS (
       |  SELECT DISTINCT doc_id, CAST('0x' || substr(md5(g), 1, 15)
       |      AS BIGINT) AS gram
       |  FROM (
       |    SELECT doc_id, unnest(list_transform(
       |      generate_series(1, greatest(len(toks) - 7, 0)),
       |      j -> array_to_string(toks[j:j+7], ' '))) AS g
       |    FROM (SELECT doc_id, list_filter(string_split_regex(lower(text),
       |            '[^a-z]+'), t -> t <> '') AS toks FROM documents))),
       |ev AS (SELECT DISTINCT gram, 1 AS hit FROM gr WHERE doc_id % 7 = 0),
       |ct AS (
       |  SELECT gr.doc_id,
       |    sum(coalesce(hit, 0)) * 10 >= count(*) AS contaminated
       |  FROM gr LEFT JOIN ev USING (gram)
       |  WHERE gr.doc_id % 7 <> 0 GROUP BY 1),
       |f AS (
       |  SELECT b.doc_id, b.source, b.keep1,
       |    coalesce(dd.keep2, FALSE) AS keep2,
       |    coalesce(dd.keep2, FALSE)
       |      AND NOT coalesce(ct.contaminated, FALSE) AS keep3
       |  FROM b LEFT JOIN dd USING (doc_id)
       |  LEFT JOIN ct ON ct.doc_id = b.doc_id),
       |kn AS (${Vocab.q212Sql}),
       |sc AS (SELECT doc_id, CAST(round(avg_nll * 10000, 0) AS BIGINT)
       |         AS s_fp FROM kn WHERE avg_nll IS NOT NULL),
       |sv AS (SELECT f.doc_id, s_fp FROM f JOIN sc USING (doc_id)
       |       WHERE keep3),
       |ns AS (SELECT count(*) AS n_scored FROM sv),
       |k4 AS (
       |  SELECT doc_id FROM (
       |    SELECT doc_id, row_number() OVER (ORDER BY s_fp, doc_id) AS rn
       |    FROM sv), ns
       |  WHERE n_scored > 0 AND (rn - 1) * 3 // n_scored < 2)
       |SELECT f.source, count(*) AS n_docs,
       |  CAST(sum(CASE WHEN keep1 THEN 1 ELSE 0 END) AS BIGINT) AS n_c4,
       |  CAST(sum(CASE WHEN keep2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dedup,
       |  CAST(sum(CASE WHEN keep3 THEN 1 ELSE 0 END) AS BIGINT) AS n_decontam,
       |  CAST(sum(CASE WHEN k4.doc_id IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_kept
       |FROM f LEFT JOIN k4 USING (doc_id)
       |GROUP BY 1""".stripMargin

  /** LENGTH-BUCKET PACKING ECONOMICS (round-15): a training loader pads
    * every sequence in a batch to a common length, so the standard
    * move is power-of-2 LENGTH BUCKETS — batch only within a bucket
    * and the pad waste is bounded by the bucket's halving. This query
    * is the decision table: per bucket (smallest power of two ≥ the
    * doc's whitespace-token count — q24's token convention), how many
    * docs land there, the real tokens, the padded tokens if every doc
    * pads to the bucket top, and the waste ratio. The q220 pack-sweep
    * answers "which max length"; this answers "what does bucketing
    * save" — together they are the batching design page.
    *
    * Engine-determinism: the bucket is INTEGER arithmetic on both
    * sides — `1 << length(bin(n-1))` (ceil-log2 via binary-string
    * length, no floating log2 whose exact-power behavior differs);
    * the only division is the final rounded ratio. Scale shape: one
    * codegen'd per-row expression + one bucket-sized aggregation —
    * map-side partial, ~60 groups, zero joins. */
  def q249LengthBuckets(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(Dedup.nTokensCol(col("text")).cast("long").as("n"))
      .withColumn("bucket", expr(
        "CAST(CASE WHEN n <= 1 THEN n " +
          "ELSE shiftleft(1, length(bin(n - 1))) END AS BIGINT)"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n")).as("sum_tokens"),
        sum(col("bucket")).as("sum_padded"))
      .select(col("bucket"), col("n_docs"), col("sum_tokens"),
        col("sum_padded"),
        when(col("sum_padded") > 0,
          round(lit(1.0) - col("sum_tokens").cast("double") /
            col("sum_padded"), 6)).as("waste_ratio"))

  val q249Sql: String =
    """WITH n AS (
      |  SELECT CAST(len(list_filter(string_split_regex(text, '\s+'),
      |    t -> t <> '')) AS BIGINT) AS n
      |  FROM documents),
      |b AS (
      |  SELECT n, CAST(CASE WHEN n <= 1 THEN n
      |    ELSE 1 << length(bin(n - 1)) END AS BIGINT) AS bucket
      |  FROM n)
      |SELECT bucket, count(*) AS n_docs,
      |  CAST(sum(n) AS BIGINT) AS sum_tokens,
      |  CAST(sum(bucket) AS BIGINT) AS sum_padded,
      |  CASE WHEN sum(bucket) > 0 THEN
      |    round(1.0 - CAST(sum(n) AS DOUBLE) / sum(bucket), 6) END
      |    AS waste_ratio
      |FROM b GROUP BY 1""".stripMargin

  /** HEAPS-LAW GROWTH FIT over the chunk novelty curve (round-15):
    * q239 measures how many never-before-seen chunks each ingest decile
    * adds; this attaches the PREDICTION — Heaps' law V(n) ≈ k·n^β says
    * distinct content grows as a power of content seen, so the log-log
    * OLS fit over the cumulative (chunks seen, distinct chunks) curve
    * extrapolates what the next 10× of crawl buys (β near 1 = still
    * novel, β near 0 = saturated). The fit runs at CHUNK grain, not
    * word grain: a fixed-vocabulary corpus saturates its word types in
    * the first decile (measured here — the word curve degenerates to
    * one point), while chunk identity keeps growing, which is exactly
    * why the chunk is this repo's novelty unit.
    *
    * Determinism: deciles are q239's closed-form ntile; both cumulative
    * series are integer; the fit is q128's OLS convention (round(ln, 8)
    * points, DECIMAL(38,18) sums, double divisions, round 6), with β
    * and ln k emitted on every decile row so one frame carries curve
    * and fit. Both series strictly increase (every decile adds chunks,
    * and first-occurrence rows exist in every decile on any corpus with
    * novel content), so the OLS denominator cannot vanish.
    *
    * Scale shape: q239's one first-occurrence shuffle, then 10-row
    * arithmetic. Nothing new at scale beyond the curve it fits. */
  def q252HeapsFit(s: SparkSession, d: String): DataFrame = {
    val ch = chunkDeciles(s, d)
    val firstSeen = Window.partitionBy(col("chunk_hash"))
      .orderBy(col("doc_id"), col("chunk_idx"))
    val per = ch.withColumn("rn", row_number().over(firstSeen))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_new"))
    // bounded: exactly 10 rows reach these windows (the q244 shape)
    val w10 = Window.orderBy(col("decile"))
    val curve = per.select(col("decile"),
      sum(col("n_chunks")).over(w10).as("cum_chunks"),
      sum(col("n_new")).over(w10).as("cum_distinct"))
    val pts = curve.select(col("decile"), col("cum_chunks"),
      col("cum_distinct"),
      round(log(col("cum_chunks").cast("double")), 8).as("x"),
      round(log(col("cum_distinct").cast("double")), 8).as("y"))
    def dsum(c: org.apache.spark.sql.Column) =
      sum(c.cast("decimal(38,18)")).cast("double")
    val fit = pts.agg(count(lit(1)).cast("double").as("k"),
        dsum(col("x")).as("sx"), dsum(col("y")).as("sy"),
        dsum(col("x") * col("y")).as("sxy"),
        dsum(col("x") * col("x")).as("sxx"))
      .select(((col("k") * col("sxy") - col("sx") * col("sy")) /
          (col("k") * col("sxx") - col("sx") * col("sx"))).as("braw"),
        col("k"), col("sx"), col("sy"))
      .select(round(col("braw"), 6).as("heaps_beta"),
        round((col("sy") - col("braw") * col("sx")) / col("k"), 6)
          .as("heaps_lnk"))
    pts.select(col("decile"), col("cum_chunks"), col("cum_distinct"))
      .crossJoin(broadcast(fit))
  }

  val q252Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(
      |    string_split_regex(lower(text), '[^a-z]+'), t -> t <> '') AS tk
      |  FROM documents),
      |dec AS (
      |  SELECT doc_id, tk, ntile(10) OVER (ORDER BY doc_id) AS decile
      |  FROM toks WHERE len(tk) > 0),
      |st AS (
      |  SELECT doc_id, decile, tk,
      |    unnest(generate_series(0, len(tk) - 1, 20)) AS start
      |  FROM dec),
      |ch AS (
      |  SELECT doc_id, decile, CAST(start // 20 AS BIGINT) AS chunk_idx,
      |    md5(array_to_string(list_slice(tk, start + 1, start + 20), ' '))
      |      AS chunk_hash
      |  FROM st),
      |fl AS (
      |  SELECT decile,
      |    row_number() OVER (PARTITION BY chunk_hash
      |                       ORDER BY doc_id, chunk_idx) AS rn
      |  FROM ch),
      |per AS (
      |  SELECT decile, count(*) AS n_chunks,
      |    CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_new
      |  FROM fl GROUP BY 1),
      |curve AS (
      |  SELECT decile,
      |    CAST(sum(n_chunks) OVER (ORDER BY decile) AS BIGINT) AS cum_chunks,
      |    CAST(sum(n_new) OVER (ORDER BY decile) AS BIGINT) AS cum_distinct
      |  FROM per),
      |pts AS (
      |  SELECT decile, cum_chunks, cum_distinct,
      |    round(ln(CAST(cum_chunks AS DOUBLE)), 8) AS x,
      |    round(ln(CAST(cum_distinct AS DOUBLE)), 8) AS y
      |  FROM curve),
      |m AS (
      |  SELECT CAST(count(*) AS DOUBLE) AS k,
      |    CAST(sum(CAST(x AS DECIMAL(38,18))) AS DOUBLE) AS sx,
      |    CAST(sum(CAST(y AS DECIMAL(38,18))) AS DOUBLE) AS sy,
      |    CAST(sum(CAST(x * y AS DECIMAL(38,18))) AS DOUBLE) AS sxy,
      |    CAST(sum(CAST(x * x AS DECIMAL(38,18))) AS DOUBLE) AS sxx
      |  FROM pts),
      |fit AS (
      |  SELECT (k * sxy - sx * sy) / (k * sxx - sx * sx) AS braw, k, sx, sy
      |  FROM m)
      |SELECT decile, cum_chunks, cum_distinct,
      |  round(braw, 6) AS heaps_beta,
      |  round((sy - braw * sx) / k, 6) AS heaps_lnk
      |FROM pts, fit""".stripMargin

  /** LARGEST-REMAINDER QUOTA SAMPLING (round-15): draw exactly N docs
    * with per-source quotas PROPORTIONAL to source size, apportioned by
    * the Hare largest-remainder method — base_s = N·n_s div total, and
    * the N − Σbase leftover seats go to the largest remainders
    * (N·n_s mod total, ties by source name). q52's mixture sampler
    * hits RATES; a training-set builder that must ship exactly N rows
    * with exact proportionality needs apportionment, and largest
    * remainder is the standard integer-exact scheme (no float shares).
    * Within each source the quota is filled in md5(doc_id) order — the
    * q148/q174 deterministic-dice convention.
    *
    * Scale shape: source-grain apportionment is ≤|sources| rows
    * (broadcast); the per-source take uses [[Relational.groupedRank]]
    * (range-partitioned — no one-task-per-source window, the q94
    * fix applied at birth) and quotas join broadcast. N = 97 (prime)
    * so the remainder seats genuinely contend on a near-uniform
    * corpus. */
  def q259QuotaSample(s: SparkSession, d: String): DataFrame = {
    val n = 97L
    val docs = documents(s, d).select(col("doc_id"), col("source"))
    val per = docs.groupBy(col("source")).agg(count(lit(1)).as("n_s"))
    // sources-grain arithmetic: base, remainder, leftover rank — all
    // integer, over ≤|sources| rows (the bounded-window shape)
    val appor = per.crossJoin(broadcast(
        per.agg(sum(col("n_s")).as("total"))))
      .withColumn("base", expr(s"($n * n_s) div total"))
      .withColumn("rem", expr(s"($n * n_s) % total"))
    val leftover = appor.agg((lit(n) - sum(col("base"))).as("l"))
    val quotas = appor.crossJoin(broadcast(leftover))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("rem").desc, col("source"))))
      .withColumn("quota",
        col("base") + when(col("rk") <= col("l"), 1L).otherwise(0L))
      .select(col("source"), col("quota"))
    Relational.groupedRank(
        docs.withColumn("h", md5(col("doc_id").cast("string"))),
        col("source"), col("h"), col("doc_id"), parts = 32)
      .join(broadcast(quotas), Seq("source"))
      .filter(col("rnk") <= col("quota"))
      .select(col("source"), col("doc_id"), col("rnk").as("rk"))
  }

  val q259Sql: String =
    """WITH per AS (
      |  SELECT source, count(*) AS n_s FROM documents GROUP BY 1),
      |tot AS (SELECT CAST(sum(n_s) AS BIGINT) AS total FROM per),
      |appor AS (
      |  SELECT source, n_s,
      |    (97 * n_s) // total AS base, (97 * n_s) % total AS rem
      |  FROM per, tot),
      |lo AS (SELECT 97 - CAST(sum(base) AS BIGINT) AS l FROM appor),
      |quotas AS (
      |  SELECT source,
      |    base + CASE WHEN row_number() OVER (ORDER BY rem DESC, source)
      |      <= l THEN 1 ELSE 0 END AS quota
      |  FROM appor, lo),
      |ranked AS (
      |  SELECT source, doc_id,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      |  FROM documents)
      |SELECT r.source, doc_id, CAST(rk AS BIGINT) AS rk
      |FROM ranked r JOIN quotas q ON r.source = q.source
      |WHERE rk <= quota""".stripMargin

  /** QUALITY-BUDGETED MIX (round-16): the DoReMi-lite curation step —
    * per source, admit documents in QUALITY order until a per-source
    * token budget is spent (prefix packing, q257's serving-side policy
    * applied at corpus-curation grain). Quality is an integer ppm score
    * both engines compute bit-identically: alphabetic characters per
    * n_chars (the C4 "mostly prose" signal without float division —
    * ×10⁶ integer div). Output per source: docs admitted, tokens
    * spent, and the quality floor the budget forced — the dial a
    * data-mixing run reports per source.
    *
    * Scale shape: `source` is LOW-CARDINALITY, so the cumsum window is
    * prefiltered by GroupTopK k = budget (ntok ≥ 1 ⇒ a doc ranked past
    * the budget can never admit — exact, not approximate): the window
    * sees ≤ budget rows per source no matter how many documents a
    * source holds. The q257/q94 hazard-class fix applied at birth.
    * The ntok ≥ 1 premise is ENFORCED identically on both engines (r16
    * advice): a zero-token document past the top-k cut would otherwise
    * admit in the unprefiltered oracle but not here; excluding it is
    * also the right curation semantics — an empty document spends no
    * budget and trains nothing. */
  def q263BudgetMix(s: SparkSession, d: String): DataFrame = {
    val budget = 1500L
    val scored = documents(s, d).select(col("source"), col("doc_id"),
      graft.operators.Dedup.nTokensCol(col("text")).cast("long").as("ntok"),
      expr("CAST(length(regexp_replace(text, '[^A-Za-z]', '')) AS BIGINT)" +
        " * 1000000 div greatest(1L, n_chars)").as("quality_ppm"))
      .filter(col("ntok") >= 1)
    val bounded = graft.plans.GroupTopKExtension.topKPerGroup(
      scored, Seq("source"), Seq(("quality_ppm", false), ("doc_id", true)),
      k = budget.toInt)
    val w = Window.partitionBy(col("source"))
      .orderBy(col("quality_ppm").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val packed = bounded.withColumn("cum", sum(col("ntok")).over(w))
      .filter(col("cum") <= budget)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"), sum(col("ntok")).as("sum_tokens"),
        min(col("quality_ppm")).as("q_floor"))
    documents(s, d).select(col("source")).distinct()
      .join(packed, Seq("source"), "left")
      .select(col("source"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("sum_tokens"), lit(0L)).as("sum_tokens"),
        col("q_floor"))
  }

  val q263Sql: String =
    """WITH sc AS (
      |  SELECT source, doc_id,
      |    CAST(len(list_filter(string_split_regex(text, '\s+'),
      |      t -> t <> '')) AS BIGINT) AS ntok,
      |    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT)
      |      * 1000000 // greatest(1, n_chars) AS quality_ppm
      |  FROM documents
      |  WHERE len(list_filter(string_split_regex(text, '\s+'),
      |    t -> t <> '')) >= 1),
      |packed AS (
      |  SELECT source, count(*) AS n_kept,
      |    CAST(sum(ntok) AS BIGINT) AS sum_tokens,
      |    min(quality_ppm) AS q_floor
      |  FROM (
      |    SELECT source, ntok, quality_ppm,
      |      sum(ntok) OVER (PARTITION BY source
      |        ORDER BY quality_ppm DESC, doc_id
      |        ROWS UNBOUNDED PRECEDING) AS cum
      |    FROM sc)
      |  WHERE cum <= 1500
      |  GROUP BY 1)
      |SELECT s.source, COALESCE(n_kept, 0) AS n_kept,
      |  COALESCE(sum_tokens, 0) AS sum_tokens, q_floor
      |FROM (SELECT DISTINCT source FROM documents) s
      |LEFT JOIN packed USING (source)""".stripMargin

  val all: Map[String, ((SparkSession, String) => DataFrame, String)] = Map(
    "q43_split_assign"  -> (q43SplitAssign _, q43Sql),
    "q44_pii_redact"    -> (q44PiiRedact _, q44Sql),
    "q45_contamination" -> (q45Contamination _, q45Sql),
    "q51_sequence_pack" -> (q51SequencePack _, q51Sql),
    "q52_mixture_sample" -> (q52MixtureSample _, q52Sql),
    "q75_group_sample"  -> (q75GroupSample _, q75Sql),
    "q76_doc_chunks"    -> (q76DocChunks _, q76Sql),
    "q92_winsorize"     -> (q92Winsorize _, q92Sql),
    "q100_corpus_report" -> (q100CorpusReport _, q100Sql),
    "q148_weighted_sample" -> (q148WeightedSample _, q148Sql),
    "q174_negative_sample" -> (q174NegativeSample _, q174Sql),
    "q175_c4_rules"     -> (q175C4Rules _, q175Sql),
    "q176_domain_cap"   -> (q176DomainCap _, q176Sql),
    "q177_dsir_weights" -> (q177DsirWeights _, q177Sql),
    "q181_temperature_mix" -> (q181TemperatureMix _, q181Sql),
    "q197_k_anonymity"  -> (q197KAnonymity _, q197Sql),
    "q218_ppl_filter"   -> (q218PplFilter _, q218Sql),
    "q220_pack_sweep"   -> (q220PackSweep _, q220Sql),
    "q222_curation_funnel" -> (q222CurationFunnel _, q222Sql),
    "q234_chunk_dedup"  -> (q234ChunkDedup _, q234Sql),
    "q237_chunk_sweep"  -> (q237ChunkSweep _, q237Sql),
    "q238_split_leakage" -> (q238SplitLeakage _, q238Sql),
    "q239_novelty_curve" -> (q239NoveltyCurve _, q239Sql),
    "q240_source_overlap" -> (q240SourceOverlap _, q240Sql),
    "q242_template_families" -> (q242TemplateFamilies _, q242Sql),
    "q243_dup_attribution" -> (q243DupAttribution _, q243Sql),
    "q244_novelty_hll"  -> (q244NoveltyHll _, q244Sql),
    "q249_length_buckets" -> (q249LengthBuckets _, q249Sql),
    "q252_heaps_fit"    -> (q252HeapsFit _, q252Sql),
    "q259_quota_sample" -> (q259QuotaSample _, q259Sql),
    "q263_budget_mix"   -> (q263BudgetMix _, q263Sql),
  )
}
