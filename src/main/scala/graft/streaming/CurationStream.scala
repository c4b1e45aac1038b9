package graft.streaming

import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import java.sql.Timestamp

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

import graft.operators.{Curation, Dedup, Vocab}

/** THE q222 CURATION FUNNEL AS A CONTINUOUS QUERY (round-13 verdict
  * task 5): the batch composition is gated; the production deployment is
  * incremental — new documents stream in and the funnel emits per-doc
  * verdicts as they arrive:
  *
  *   C4/Gopher quality rules   → stateless per-row (the q222 stage-1
  *                               arithmetic over the same native tokens)
  *   exact dedup, first-wins   → the ONLY keyed state: one owner per
  *                               md5(normText) bucket, NeardupStream's
  *                               claim semantics on transformWithState v2
  *   8-gram decontamination    → stream vs a BROADCAST frozen eval-gram
  *                               set (decontam references are compiled
  *                               offline and shipped — the production
  *                               shape)
  *   perplexity band           → per-row scoring against a BROADCAST
  *                               frozen KN prob table + a FROZEN tercile
  *                               cut (batch terciles are population-
  *                               relative; a stream can't re-rank, so the
  *                               cut is compiled from the batch
  *                               population — CCNet ships exactly this:
  *                               a trained LM + fixed band thresholds)
  *
  * [[buildRefs]] compiles the frozen references with the SAME DataFrame
  * fragments the gated queries run (Vocab.knProbTable, Curation
  * .decontamGrams, Curation.funnelVerdicts), so StreamingCurationSpec's
  * differential is exact: streaming the training corpus in doc_id order
  * == `Curation.funnelVerdicts` row for row, and ChaosRecoverySpec runs
  * the stateful stage through loss + undrained kill.
  *
  * Batch/stream deviation contract (documented, inherent):
  *   - first-wins ownership follows ARRIVAL order across micro-batches
  *     (within a batch: (ts, doc_id) — deterministic); the batch form's
  *     min-doc_id winner matches when arrival follows doc_id order,
  *     which an ingest pipeline's sequencer provides.
  *   - a bigram absent from the frozen prob table (impossible when
  *     streaming the training corpus itself; possible for novel docs)
  *     is SKIPPED — the doc scores over its known bigrams, unscored if
  *     none: the standard frozen-LM scoring convention.
  *
  * Scale shape: the stateless stages are one codegen'd tokenize +
  * per-row Scala over broadcast tables that are BOUNDED BY CONSTRUCTION
  * (prob table capped at `probCap` entries via distributed top-K by
  * count with an eviction floor; the decontam reference must be a
  * bounded eval suite, checked before collect — see [[buildRefs]]);
  * the stateful stage keeps ONE long per observed text-hash bucket,
  * hash-partitioned, event-time-evicted past the watermark. Nothing is
  * corpus×corpus and nothing driver-side grows with the corpus. */
object CurationStream {

  /** Frozen references the funnel scores against. `cutS`/`cutD` encode
    * the batch tercile boundary as a lexicographic (s_fp, doc_id)
    * threshold — keep4 ⇔ (s_fp, doc_id) ≤ (cutS, cutD) — which is what
    * "rank (rnk−1)·3 div n < 2 over (s_fp, doc_id) order" freezes to.
    * `anyKept` false ⇔ the batch population had no scored survivors.
    *
    * `prob` is BOUNDED: at most `probCap` entries (top-K bigrams by
    * corpus count). `floorNll` is `Some(max nll over the FULL table)`
    * exactly when the cap evicted anything — scorers then charge every
    * absent bigram the floor (pessimistic: evicted ⇒ rare ⇒ at least
    * as surprising as the hardest retained bigram). When the whole
    * table fit (`floorNll == None`), absent means genuinely unseen and
    * is SKIPPED — bit-identical to the uncapped round-14 semantics, so
    * the gate differentials are unchanged. */
  case class FunnelRefs(
      evalGrams: Set[Long],
      prob: Map[(String, String), Double],
      cutS: Long, cutD: Long, anyKept: Boolean,
      floorNll: Option[Double] = None)

  /** One enriched row entering the stateful stage: every stateless
    * verdict ingredient precomputed so the claim processor's output
    * carries the whole row (no stream-stream join). */
  case class FunnelIn(doc_id: Long, ts: Timestamp, source: String,
      bkey: String, keep1: Boolean, contaminated: Boolean,
      scored: Boolean, s_fp: Long)

  case class FunnelOut(doc_id: Long, source: String, keep1: Boolean,
      keep2: Boolean, contaminated: Boolean, scored: Boolean, s_fp: Long)

  /** Driver-budget defaults for [[buildRefs]]: ~2M prob entries (a few
    * hundred MB as a broadcast Map) and ~4M eval grams. Generous for a
    * frozen scoring model — CCNet ships LMs of this order — and small
    * enough that compiling refs can never OOM the driver, whatever the
    * corpus size. */
  val DefaultProbCap: Int = 2 * 1000 * 1000
  val DefaultEvalGramCap: Int = 4 * 1000 * 1000

  /** Compile the frozen references from the batch corpus — the "train
    * the model, ship it to scorers" step every frozen-reference
    * pipeline has. Every driver materialization here is BOUNDED BY
    * CONSTRUCTION, whatever the corpus size (the round-14 form
    * collected the full bigram-type-sized prob table and a
    * corpus-fraction gram set — a driver OOM at 100 TB):
    *
    *   - the prob table collects at most `probCap` rows via a
    *     distributed exact top-K by count (TakeOrderedAndProject:
    *     per-partition heaps, merged on the driver — never the full
    *     table), tie-broken (v, w) for determinism. If anything was
    *     evicted, `floorNll` (the FULL table's max nll, a 1-row
    *     distributed aggregate) prices absent bigrams pessimistically.
    *   - the decontam reference must be a bounded EVAL SUITE: its
    *     distinct-gram count is checked against `evalGramCap` BEFORE
    *     collecting and the build fails fast when over — truncating a
    *     decontamination reference would silently let contamination
    *     through, which is worse than refusing. The default reference
    *     (the held-out split, gate parity) fits at gate scale; a
    *     production caller passes its benchmark suite via `evalDocs`.
    *   - the tercile cut stays a 1-row collect of a distributed rank. */
  def buildRefs(s: SparkSession, d: String,
      probCap: Int = DefaultProbCap,
      evalGramCap: Int = DefaultEvalGramCap,
      evalDocs: Option[DataFrame] = None): FunnelRefs = {
    require(probCap > 0 && evalGramCap > 0,
      s"caps must be positive, got probCap=$probCap evalGramCap=$evalGramCap")
    val docs = graft.operators.Tables.documents(s, d)
    val probAll = Vocab.knProbTableCounted(Vocab.bigramRows(docs))
    // (total types, global max nll): one 1-row aggregate — the floor is
    // computed over the FULL table even though only top-K is collected
    val probStats = probAll
      .agg(count(lit(1)).as("n"), max(col("nll")).as("max_nll")).collect()(0)
    val capBit = probStats.getLong(0) > probCap
    val prob = probAll
      .orderBy(col("cvw").desc, col("v"), col("w")).limit(probCap)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2))
      .toMap
    val floorNll = if (capBit) Some(probStats.getDouble(1)) else None
    val evalGramsDf = Curation.decontamGrams(
        evalDocs.getOrElse(
          docs.filter(col("doc_id") % 7 === 0)
            .select(col("doc_id"), col("text"))))
      .select(col("gram")).distinct()
    val nGrams = evalGramsDf.count()
    require(nGrams <= evalGramCap,
      s"decontam reference has $nGrams distinct grams > cap $evalGramCap — " +
        "pass a bounded eval suite via evalDocs (truncating a " +
        "decontamination reference would silently admit contamination)")
    val evalGrams = evalGramsDf.collect().map(_.getLong(0)).toSet
    // the frozen tercile cut: K-th smallest (s_fp, doc_id) among the
    // batch stage-3 survivors, K = (2n−1) div 3 + 1 (= the rank count
    // with (rnk−1)·3 div n < 2)
    val scored = Vocab.q212KnBigram(s, d)
      .filter(col("avg_nll").isNotNull)
      .select(col("doc_id"),
        expr("CAST(round(avg_nll * 10000, 0) AS BIGINT)").as("s_fp"))
    val surv = Curation.funnelVerdicts(s, d).filter(col("keep3"))
      .select(col("doc_id")).join(scored, Seq("doc_id"))
    val n = surv.count()
    if (n == 0) FunnelRefs(evalGrams, prob, 0L, 0L, anyKept = false, floorNll)
    else {
      val k = ((2 * n - 1) / 3 + 1).toInt
      val cut = surv.orderBy(col("s_fp"), col("doc_id")).limit(k)
        .orderBy(col("s_fp").desc, col("doc_id").desc).limit(1)
        .collect()(0)
      FunnelRefs(evalGrams, prob, cut.getLong(1), cut.getLong(0),
        anyKept = true, floorNll)
    }
  }

  /** Stateless enrichment: native tokenize + dedup hash in one codegen'd
    * select, then per-row Scala for the stats/gram/score arithmetic
    * against the broadcast refs. Every constant replicates q222's
    * expressions bit for bit (StreamingCurationSpec differentials them). */
  private def enrich(docs: DataFrame,
      refs: Broadcast[FunnelRefs]): Dataset[FunnelIn] = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .select(col("doc_id"), col("ts"), col("source"),
        Dedup.tokensCodegen(col("text")).as("toks"),
        md5(Dedup.normText(col("text"))).as("bkey"))
      .as[(Long, Timestamp, String, Seq[String], String)]
      .map { case (id, ts, src, toks, bkey) =>
        val r = refs.value
        // stage 1 — q222's C4/Gopher rules (integer arithmetic, no FP)
        val n = toks.length.toLong
        val sumLen = toks.iterator.map(_.length.toLong).sum
        val stopC = toks.count(t => t == "the" || t == "a").toLong
        val maxC =
          if (toks.isEmpty) 0L
          else toks.groupBy(identity).valuesIterator.map(_.size).max.toLong
        val keep1 = !(n < 30) &&
          !(sumLen * 10 < n * 42 || sumLen * 10 > n * 50) &&
          !(stopC * 100 < n * 5) && !(maxC * 10 > n)
        // stage 3 — distinct 8-gram 60-bit hashes vs the frozen set
        val grams: Set[Long] =
          if (toks.length < 8) Set.empty
          else (0 to toks.length - 8).iterator
            .map(j => graft.functions.Md5Bits.bits(
              toks.slice(j, j + 8).mkString(" ").getBytes("UTF-8"))).toSet
        val hits = grams.count(r.evalGrams.contains).toLong
        val contaminated = grams.nonEmpty && hits * 10 >= grams.size.toLong
        // stage 4 ingredient — frozen-KN score, q212's exact arithmetic;
        // a bigram absent from a CAPPED table charges the eviction
        // floor (see FunnelRefs), absent from a COMPLETE table is
        // skipped (unseen — the round-14 semantics, gate-differentialed)
        val nlls = (0 until toks.length - 1).iterator
          .flatMap(i => r.prob.get((toks(i), toks(i + 1)))
            .orElse(r.floorNll)).toArray
        val scored = nlls.nonEmpty
        val sFp = if (!scored) 0L else {
          var sum = JBigDecimal.ZERO
          nlls.foreach(x => sum = sum.add(
            JBigDecimal.valueOf(x).setScale(18, RoundingMode.HALF_UP)))
          val avg4 = JBigDecimal.valueOf(sum.doubleValue / nlls.length)
            .setScale(4, RoundingMode.HALF_UP).doubleValue
          JBigDecimal.valueOf(avg4).movePointRight(4)
            .setScale(0, RoundingMode.HALF_UP).longValueExact()
        }
        FunnelIn(id, ts, src, bkey, keep1, contaminated, scored, sFp)
      }
  }

  /** First-wins text-hash claims carrying the full enriched row: a
    * keep1 survivor claims its bucket iff no earlier keep1 survivor
    * owns it (q222's "dedup among quality survivors" order); rows that
    * failed stage 1 pass through unclaimed and never take ownership.
    * Event-time timer eviction bounds state exactly as ClaimProcessor. */
  class FunnelProcessor(streaming: Boolean, delayMs: Long)
      extends StatefulProcessor[String, FunnelIn, FunnelOut] {
    @transient private var owner: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      owner = getHandle.getValueState[Long]("owner",
        Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[FunnelIn],
        timerValues: TimerValues): Iterator[FunnelOut] = {
      val sorted = rows.toArray
        .sortInPlaceBy(r => (EventStreams.micros(r.ts), r.doc_id))
      var own = if (owner.exists()) owner.get() else -1L
      var lastTs = 0L
      val out = sorted.map { r =>
        lastTs = math.max(lastTs, r.ts.getTime)
        val keep2 =
          if (!r.keep1) false
          else if (own == -1L) { own = r.doc_id; true }
          else r.doc_id == own
        FunnelOut(r.doc_id, r.source, r.keep1, keep2,
          r.contaminated, r.scored, r.s_fp)
      }
      if (own != -1L) owner.update(own)
      if (streaming) {
        getHandle.listTimers().toSeq.foreach(t => getHandle.deleteTimer(t))
        getHandle.registerTimer(lastTs + delayMs)
      }
      out.iterator
    }

    override def handleExpiredTimer(key: String, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[FunnelOut] = {
      owner.clear()
      Iterator.empty
    }
  }

  /** The continuous funnel over a (doc_id, ts, source, text) TRAIN-doc
    * stream (the caller excludes the held-out split, as q222 does):
    * emits (doc_id, source, keep1, keep2, keep3, keep4) per document.
    * Runs identically in batch mode (TimeMode.None) for differentials. */
  def verdicts(docs: DataFrame, refs: Broadcast[FunnelRefs],
      watermarkDelay: String): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val enriched = enrich(docs.withWatermark("ts", watermarkDelay), refs)
    val streaming = enriched.isStreaming
    val r = refs.value // driver-side: cut literals into the plan
    enriched.groupByKey(_.bkey)
      .transformWithState(
        new FunnelProcessor(streaming, NeardupStream.delayToMs(watermarkDelay)),
        if (streaming) TimeMode.EventTime() else TimeMode.None(),
        OutputMode.Append())
      .toDF()
      .withColumn("keep3", col("keep2") && !col("contaminated"))
      .withColumn("keep4", col("keep3") && col("scored") && lit(r.anyKept) &&
        (col("s_fp") < r.cutS ||
          (col("s_fp") === r.cutS && col("doc_id") <= r.cutD)))
      .select(col("doc_id"), col("source"), col("keep1"), col("keep2"),
        col("keep3"), col("keep4"))
  }

  /** Decontamination-at-ingest: per-chunk leak flags for a document
    * ingest stream checked against a STATIC train-chunk table — the
    * streaming face of q238's split-leakage audit, and the repo's
    * exemplar of Spark's third reference-data idiom: a stream-STATIC
    * equi join. Unlike the funnel's broadcast Sets (driver-sized
    * snapshot baked into the plan) or the claims paths' keyed state
    * (stream-mutable), the static side here is a DataFrame the engine
    * re-plans per micro-batch — so a train set too big to broadcast
    * still works (shuffled join at scale) and a replaced underlying
    * table is picked up without restarting the query. Stateless by
    * construction: chunking is per-row, the left join needs no
    * watermark or state store, and the per-doc verdict is the
    * consumer's batch rollup (q238's max() shape — same division of
    * labor as claims → keptDocs). */
  def leakFlags(docs: DataFrame, trainChunks: DataFrame,
      width: Int = 20): DataFrame =
    Curation.chunkRows(docs, width)
      .join(trainChunks.select(col("chunk_hash")).distinct()
        .withColumn("in_train", lit(1)), Seq("chunk_hash"), "left")
      .select(col("doc_id"), col("ts"), col("chunk_idx"),
        (coalesce(col("in_train"), lit(0)) === 1).as("leaked"))

  /** The static reference side for [[leakFlags]]: distinct chunk hashes
    * of the train split of a batch corpus. */
  def trainChunkSet(docs: DataFrame, width: Int = 20): DataFrame =
    Curation.chunkRows(Curation.withSplit(docs)
        .filter(col("split") === "train")
        .select(col("doc_id"), col("text")), width)
      .select(col("chunk_hash")).distinct()
}
