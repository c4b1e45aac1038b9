package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming operators over the events stream — the streaming
  * forms of the batch queries q15 (hourly aggregation) and q16
  * (sessionization). Each transformation takes a DataFrame/Dataset that
  * may be batch OR streaming: identical code runs in both modes, and the
  * test suite exploits that by diffing the streaming results (via
  * MemoryStream) against the batch results on the same rows.
  *
  * Scale notes: the hourly aggregate is keyed on (window, event_type) —
  * bounded state, dropped past the watermark; sessionization keys state
  * by user_id with an event-time timeout so idle users are evicted, and
  * per-user state is O(1) (counters + last timestamp), never a buffer of
  * events.
  */
object EventStreams {

  /** Tumbling 1-hour aggregation with a 2-hour watermark: counts, exact
    * value sum (decimal — order-insensitive), distinct users
    * approximated (exact distinct isn't incrementally computable in a
    * stream without keeping per-user state; HLL is the scale answer). */
  def hourlyAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"),
        approx_count_distinct(col("user_id")).as("approx_users"))
      .select(col("w.start").as("hour"), col("event_type"),
        col("n_events"), col("sum_value"), col("approx_users"))

  /** Streaming WINDOWED HLL — per-hour distinct-user sketch STATE
    * (q140's md5-defined registers, windowed): each closed hour emits
    * its 256-register sketch, so downstream rollups (day = element-wise
    * max over 24 sketches) union state instead of re-reading users —
    * the streaming answer to "distinct users per hour AND per day"
    * with ≤256 rows of state per open window. Unlike approx_count_
    * distinct's opaque HLL++ buffer, the emitted state is engine-
    * portable and mergeable by construction. Identical code runs in
    * batch; StreamingSpec diffs the two.
    *
    * Input contract: (ts timestamp, user_id). */
  def hourlyHll(events: DataFrame): DataFrame =
    graft.operators.Analytics.hllRanks(
        events.select(col("ts"), md5(col("user_id").cast("string")).as("hx")),
        col("hx"), col("ts"))
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("reg"))
      .agg(max(col("rank")).cast("long").as("max_rank"))
      .select(col("w.start").as("hour"), col("reg"), col("max_rank"))

  /** Streaming form of the q119 OHLC bars: tumbling 1-hour windows, the
    * same min_by/max_by-on-(ts, event_id) formulation — per-bar state is
    * O(1) (six running values), never a buffer of events, and bars emit
    * once the watermark closes the window. Identical code runs in batch;
    * StreamingSpec diffs the two. */
  def hourlyOhlc(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(
        // struct key = the measured-faster batch form (Analytics.ohlcBars)
        min_by(col("value"), struct(col("ts"), col("event_id"))).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), struct(col("ts"), col("event_id"))).as("close"),
        count(lit(1)).as("volume"))
      .select(col("w.start").as("hour"), col("event_type"), col("open"),
        col("high"), col("low"), col("close"), col("volume"))

  case class Ev(user_id: Long, event_id: Long, ts: Timestamp)

  /** Stream-static enrichment: a streaming fact joined to a bounded
    * static dimension. STATELESS — the dim is broadcast and probed per
    * micro-batch, nothing accumulates in the state store; the identical
    * code runs in batch mode (same differential-test pattern as the
    * other operators here). The 100 TB shape: facts stream, dims are
    * lookup tables. */
  def enrichWithDim(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(broadcast(dim), Seq("event_type"))

  /** Watermarked stream-stream INNER join: impressions matched to the
    * clicks on the same ad within [imp_ts, imp_ts + 1 hour]. Both sides
    * carry watermarks and the join condition bounds event time in BOTH
    * directions, so each side's buffered state is evicted once the
    * other side's watermark passes the match window — bounded state by
    * construction, the requirement for an unbounded 100 TB stream.
    * Batch mode runs the same plan as a plain range join. */
  def impressionClicks(impressions: DataFrame, clicks: DataFrame): DataFrame = {
    val imp = impressions
      .select(col("ad_id"), col("ts").as("imp_ts"))
      .withWatermark("imp_ts", "2 hours")
    val clk = clicks
      .select(col("ad_id").as("c_ad_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "2 hours")
    imp.join(clk,
        col("ad_id") === col("c_ad_id") &&
          col("click_ts") >= col("imp_ts") &&
          col("click_ts") <= col("imp_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("ad_id"), col("imp_ts"), col("click_ts"))
  }

  /** lastTsUs is epoch-MICROS. The field was renamed (from lastTsMs)
    * when the unit changed: a pre-change checkpoint then fails to decode
    * loudly instead of silently misreading stored millis as micros and
    * force-splitting every in-flight session. */
  case class SessionState(sessionId: Long, lastTsUs: Long, nEvents: Long,
                          firstEvent: Long, lastEvent: Long)

  case class SessionOut(user_id: Long, session_id: Long, n_events: Long,
                        first_event: Long, last_event: Long)

  /** Exact epoch-microseconds of a Timestamp: getTime() alone truncates
    * to milliseconds, which would put stateful operators on a different
    * time convention than q16's epoch-µs arithmetic for sub-ms knife
    * edges. Shared by sessionize and NeardupStream's claim ordering. */
  private[streaming] def micros(ts: Timestamp): Long =
    math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L

  /** Gap-based sessionization via flatMapGroupsWithState: a session
    * closes when its user is silent for `gapSec` (event time). In
    * streaming mode closed sessions emit on watermark timeout; in batch
    * mode each user's full history arrives as one sorted-on-demand
    * iterator and all sessions emit — same function, both modes
    * (asserted equal to the q16 window formulation in StreamingSpec). */
  def sessionize(events: Dataset[Ev], gapSec: Long): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    // hoisted: referencing the Dataset inside the state function would
    // drag it into task serialization
    val streaming = events.isStreaming

    def update(userId: Long, evs: Iterator[Ev],
               state: GroupState[SessionState]): Iterator[SessionOut] = {
      val gapUs = gapSec * 1000000L
      // Sort the group's events by (ts, event_id) — the same total order
      // the batch/window formulation uses. BOUND: this materializes one
      // GROUP, not the corpus — in streaming that is the user's slice of
      // one micro-batch (small by construction); in batch mode it is one
      // user's full history, the same per-key memory contract as any
      // window over user_id (the q16 formulation sorts the identical
      // rows). A user hot enough to break that bound needs key salting
      // upstream, not a different operator.
      val sorted = evs.toArray.sortInPlaceBy(e => (micros(e.ts), e.event_id))
      var out = List.empty[SessionOut]

      if (state.hasTimedOut) {
        val s = state.get
        out ::= SessionOut(userId, s.sessionId, s.nEvents, s.firstEvent, s.lastEvent)
        state.remove()
      }

      var cur = state.getOption
      sorted.foreach { e =>
        // exact epoch-µs arithmetic — same convention as q16Sessionize
        val t = micros(e.ts)
        cur match {
          case Some(s) if t - s.lastTsUs <= gapUs =>
            cur = Some(s.copy(lastTsUs = t, nEvents = s.nEvents + 1,
              firstEvent = math.min(s.firstEvent, e.event_id),
              lastEvent = math.max(s.lastEvent, e.event_id)))
          case Some(s) => // gap exceeded: close the session, open the next
            out ::= SessionOut(userId, s.sessionId, s.nEvents, s.firstEvent, s.lastEvent)
            cur = Some(SessionState(s.sessionId + 1, t, 1, e.event_id, e.event_id))
          case None =>
            cur = Some(SessionState(1, t, 1, e.event_id, e.event_id))
        }
      }

      cur.foreach { s =>
        if (state.exists || sorted.nonEmpty) {
          state.update(s)
          if (streaming) // timeout API takes epoch-millis: round UP — a
            // floored timeout could evict up to 999 µs before the true
            // gap expiry and split at exactly the boundary an on-time
            // event (diff == gapUs, inside the <= gap) would extend
            state.setTimeoutTimestamp((s.lastTsUs + gapUs + 999L) / 1000L)
        }
      }
      // In batch mode state never times out; a group's final open
      // session must emit now (the iterator covered the whole history).
      if (!streaming) {
        cur.foreach(s =>
          out ::= SessionOut(userId, s.sessionId, s.nEvents, s.firstEvent, s.lastEvent))
      }
      out.reverseIterator
    }

    events
      .withWatermark("ts", s"${2 * gapSec} seconds")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)
  }

  /** Streaming exact dedup for a document stream: drop any doc whose
    * normalized-text hash was seen within the watermark delay; a
    * duplicate arriving after the hash's state expired is re-admitted —
    * the inherent streaming-dedup contract. The streaming form of the
    * batch keep-first dedup (q20).
    *
    * State honesty (round-11 fix): this MUST be
    * `dropDuplicatesWithinWatermark`, not plain `dropDuplicates` —
    * Spark only evicts plain-dropDuplicates state when the event-time
    * column is part of the dedup key, so keying on content_hash alone
    * accumulated one state row per distinct document FOREVER (the
    * 100 TB kill this docstring used to wrongly deny). The
    * WithinWatermark variant was added (SPARK-42931) exactly for
    * dedup keys without the event-time column: state is evicted once
    * the watermark passes the key's expiry, and StreamingDedupSpec
    * pins the re-emission that proves eviction really happens. */
  def streamingExactDedup(docs: DataFrame, watermarkDelay: String): DataFrame =
    docs
      .withColumn("content_hash",
        md5(lower(trim(regexp_replace(col("text"), "\\s+", " ")))))
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("content_hash")

  /** Streaming BUCKETED dedup — the streaming half of the gated q192:
    * at most one event per (user, type, hour) survives. The hour bucket
    * BOUNDS every duplicate chain (all events of a bucket sit within
    * one hour of its first event), so with delay ≥ 1 hour the
    * streaming kept-set equals the batch earliest-per-bucket collapse
    * whenever each key's events arrive in ts order — the differential
    * StreamingDedupSpec drives. State is one row per in-flight bucket,
    * watermark-evicted. */
  def streamingBucketDedup(events: DataFrame, watermarkDelay: String): DataFrame =
    events
      .withColumn("hour", date_trunc("hour", col("ts")))
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("user_id", "event_type", "hour")

  /** Streaming new-user counter — the streaming form of the q122 growth
    * curve: `dropDuplicates("user_id")` keeps first-seen keyed state, so
    * exactly the FIRST event of each user survives (across micro-batches
    * and within them), and the daily tumbling count of survivors is the
    * new-users-per-day series; windows close at the watermark.
    *
    * State honesty: "first seen EVER" requires user-keyed state with no
    * eviction — O(distinct users), the inherent minimum for exact
    * distinct detection (the approximate alternative is a bloom/HLL per
    * the q53 discussion). The per-window count state is days-sized and
    * watermark-evicted as usual.
    *
    * Attribution caveat: dropDuplicates keeps the first PROCESSED event
    * per user, so day attribution equals the batch min-ts collapse only
    * when each user's events arrive in ts order (the production norm
    * with per-user partitioned ingest, and what the spec feeds); fully
    * out-of-order exactness would need a min-ts-keeping
    * mapGroupsWithState state instead. */
  def streamingNewUsers(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .dropDuplicates("user_id")
      .groupBy(window(col("ts"), "1 day").as("w"))
      .agg(count(lit(1)).as("new_users"))
      .select(col("w.start").as("day"), col("new_users"))
}
