package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** Typed rows for the stateful operators (top-level so Spark derives
  * Encoders without an outer scope). */
case class UserEvent(user_id: Long, value: Double)
case class UserState(n: Long, sum: Double)
case class UserTotals(user_id: Long, n_events: Long, sum_value: Double)
case class TypedEvent(event_type: String, ts: java.sql.Timestamp, value: Double)
case class CdcEvent(
    event_id: Long, ts: java.sql.Timestamp, user_id: Long,
    event_type: String, value: Double)
case class CompactRow(
    user_id: Long, last_ts_us: Long, last_event_id: Long,
    last_type: String, last_value: Double, deleted: Boolean)
case class Scd2State(eventType: String, validFromUs: Long)
case class VersionRow(
    user_id: Long, event_type: String, valid_from_us: Long,
    valid_to_us: Option[Long], open: Boolean)
case class PitRow(
    event_id: Long, user_id: Long, ts_us: Long,
    state_at: Option[String], state_since_us: Option[Long], value: Double)
case class GapfillState(
    nextBucket: Long, locf: Option[Double], open: Map[Long, (Long, Double)])
case class GapBucket(
    event_type: String, bucket_start: java.sql.Timestamp,
    n_events: Long, locf_value: Option[Double])
case class InterpState(
    nextBucket: Long, anchor: Option[(Long, Double)],
    open: Map[Long, (Long, Double)])
case class InterpBucket(
    event_type: String, bucket_start: java.sql.Timestamp,
    n_events: Long, interp_value: Double)
case class EwmaEvent(
    user_id: Long, event_id: Long, ts: java.sql.Timestamp, value: Double)
case class EwmaPoint(user_id: Long, event_id: Long, ewma: Double)
case class TransEvent(
    user_id: Long, event_id: Long, ts: java.sql.Timestamp,
    event_type: String)
case class TransPair(
    user_id: Long, event_id: Long, from_type: String, to_type: String)
case class FunnelCarry(
    tView: Option[Long], tClick: Option[Long], tPurchase: Option[Long])
case class FunnelRow(
    user_id: Long, t_view: Option[Long], t_click: Option[Long],
    t_purchase: Option[Long], stage: Int)
case class AttrRow(
    event_id: Long, user_id: Long, ts_us: Long,
    first_click_us: Option[Long], last_click_us: Option[Long],
    n_clicks_win: Long)
case class CusumCarry(open: Map[Long, Long], c: Long)
case class CusumPoint(
    event_type: String, bucket_start: java.sql.Timestamp, cusum: Double)
case class RateRow(
    user_id: Long, event_id: Long, ts_us: Long, event_type: String,
    c60: Long, throttled: Boolean)
case class HystCarry(
    open: Map[Long, Long], state: Int, lastEmitted: Option[Long])
case class TwapHold(
    user_id: Long, day_us: Long, ts_us: Long, val_c: Long, dt_us: Long)
case class HystPoint(
    event_type: String, bucket_start: java.sql.Timestamp, x: Long,
    state: Int, opened: Boolean)

/** Structured Streaming twin of the batch event queries
  * (SURVEY.md §2 events block).
  *
  * The same transformation works on a batch DataFrame and a streaming
  * one — Spark's unified Dataset API — so correctness is asserted by
  * running `tumblingAgg` over a MemoryStream in the spec and comparing
  * with the batch result of the same input. With a real source this is
  * `spark.readStream.format("kafka")...` + `writeStream` with a
  * checkpoint; the watermark bounds state for late data.
  */
object EventsStream {
  import EventTimeFold.micros

  /** Tumbling 1-hour aggregate with a 2-hour watermark. */
  def tumblingAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
      .select(col("w.start").as("hour_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Streaming OHLC twin of queries.Events.qEventsOhlc: watermarked
    * 5-minute tumbling candles per event type. min_by/max_by are
    * declarative aggregates with partial merge, so the candle is a
    * plain windowed streaming aggregate — state is one partial row
    * per open (window, type), finalized in append mode when the
    * watermark passes. The (ts_us, event_id) struct key keeps
    * open/close deterministic under any arrival order, so the
    * finalized candles equal the batch query's — spec-asserted. */
  def ohlcStream(events: DataFrame, watermarkDelay: String): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .withColumn("ts_us", unix_micros(col("ts")))
      .groupBy(window(col("ts"), "5 minutes").as("w"), col("event_type"))
      .agg(
        min_by(col("value"), struct(col("ts_us"), col("event_id")))
          .as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), struct(col("ts_us"), col("event_id")))
          .as("close"),
        count(lit(1)).as("n_events"))
      .select(unix_micros(col("w.start")).as("bucket_us"),
        col("event_type"), col("open"), col("high"), col("low"),
        col("close"), col("n_events"))

  /** Streaming data-quality audit — the expectation gate
    * (queries.Maintain.qualityAudit) applied per ingest window: every
    * row-level check evaluates as a conditional sum inside ONE
    * windowed streaming aggregate, and the membership check rides a
    * stream-static left join against the frozen dimension (the same
    * one-sided shape as decontamStream). One report row per
    * (window, check) finalizes in append mode when the watermark
    * passes — the continuous version of the pre-publish gate, so a
    * bad ingest hour flags itself instead of poisoning the day's
    * batch audit. */
  def auditStream(
      events: DataFrame, validTypes: DataFrame,
      watermarkDelay: String, window_ : String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .join(validTypes.select(col("event_type"), lit(true).as("_known"))
        .distinct(), Seq("event_type"), "left")
      .groupBy(window(col("ts"), window_).as("w"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("value") < 0, 1L).otherwise(0L)).as("value_nonneg"),
        sum(when(col("_known").isNull, 1L).otherwise(0L)).as("type_known"))
      .select(col("w.start").as("window_start"), col("n_rows"), expr(
        """stack(2,
          |  'value_nonneg', value_nonneg,
          |  'type_known', type_known) AS (check_name, n_violations)
          |""".stripMargin))
      .select(col("window_start"), col("check_name"), col("n_rows"),
        col("n_violations"),
        round(col("n_violations") / col("n_rows"), 6).as("violation_rate"))

  /** Streaming DRIFT MONITOR — the deployment shape of
    * q_events_drift: each ingest window's value distribution scored
    * chi² against a FROZEN reference distribution (the training-set
    * histogram), so a drifting feed flags itself window by window
    * instead of poisoning the next retrain.
    *
    * `ref` columns: event_type, v_lo, v_hi, p_ref (array of 10 bucket
    * fractions). The reference rides a broadcast stream-static join;
    * the 10 observed bucket counts are FIXED conditional-sum columns
    * of ONE windowed aggregate (the CountMin fixed-rows trick — no
    * chained streaming aggregates, append mode finalizes on
    * watermark); chi² closes per row from the 10 columns. Buckets the
    * reference says are impossible (p = 0) are excluded from chi²
    * and reported separately as n_unexpected. */
  def driftStream(
      events: DataFrame, ref: DataFrame,
      watermarkDelay: String, window_ : String = "1 hour"): DataFrame = {
    val bucket = when(col("v_hi") > col("v_lo"),
      least(floor((col("value") - col("v_lo")) /
        (col("v_hi") - col("v_lo")) * 10).cast("int"), lit(9)))
      .otherwise(0)
    val obs = (0 until 10).map(i =>
      sum(when(col("bucket") === i, 1L).otherwise(0L)).as(s"o$i"))
    val agg = events
      .withWatermark("ts", watermarkDelay)
      .join(org.apache.spark.sql.functions.broadcast(ref),
        Seq("event_type"))
      .withColumn("bucket", bucket)
      .groupBy(window(col("ts"), window_).as("w"), col("event_type"),
        col("p_ref"))
      .agg(obs.head, obs.tail: _*)
      .withColumn("n", (0 until 10).map(i => col(s"o$i")).reduce(_ + _))
    val term = (i: Int) => {
      val p = element_at(col("p_ref"), i + 1)
      val e = col("n").cast("double") * p
      when(p > 0,
        (col(s"o$i") - e) * (col(s"o$i") - e) / e).otherwise(0.0)
    }
    val unexpected = (0 until 10).map(i =>
      when(element_at(col("p_ref"), i + 1) === 0.0, col(s"o$i"))
        .otherwise(lit(0L))).reduce(_ + _)
    agg.select(col("w.start").as("window_start"), col("event_type"),
      col("n"),
      round((0 until 10).map(term).reduce(_ + _), 6).as("chi2"),
      unexpected.as("n_unexpected"))
  }

  /** Running per-user event counts — stateful aggregation in streaming
    * (complete/update mode), plain groupBy in batch. */
  def userCounts(events: DataFrame): DataFrame =
    events.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))

  /** Streaming twin of queries.Events.qSessionNative (the 20th twin):
    * gap sessions on Spark's native session_window STATE with a real
    * watermark — adjacent windows within the gap MERGE in the session
    * state store as events arrive in any order, and APPEND mode emits
    * a session only once the watermark proves nothing can extend it.
    * Output schema matches the batch query exactly: one row per
    * finalized session with integer-μs bounds, s_end_us = last event's
    * time (window.end − gap). The 600 s merge boundary is INCLUSIVE
    * (599 s and exactly-600 s gaps merge, 601 s splits) — identical to
    * the batch sessionizer's strict-> split rule, spec-asserted under
    * out-of-order arrival in StreamingSpec. */
  def sessionNativeStream(events: DataFrame, gapSeconds: Long = 600L,
      watermarkDelay: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(col("user_id"),
        session_window(col("ts"), s"$gapSeconds seconds").as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("sw.start")).as("s_start_us"),
        (unix_micros(col("sw.end")) - lit(gapSeconds * 1000000L))
          .as("s_end_us"),
        col("n_events"))

  /** Custom keyed state via mapGroupsWithState: running per-user totals
    * held in explicit GroupState — the API for state machines that
    * windowed aggregation can't express (per-key counters, custom
    * eviction, cross-batch transitions). State is partitioned by key
    * across executors and checkpointed; NoTimeout because totals never
    * expire. Batch twin: `userCounts`. */
  def statefulUserTotals(events: Dataset[UserEvent]): Dataset[UserTotals] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserState, UserTotals](GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[UserEvent], state: GroupState[UserState]) =>
          val prev = state.getOption.getOrElse(UserState(0L, 0.0))
          var n = prev.n
          var s = prev.sum
          rows.foreach { r => n += 1; s += r.value }
          state.update(UserState(n, s))
          UserTotals(uid, n, s)
      }
  }

  /** Stream-stream interval join: each purchase matched to the same
    * user's clicks within the following `window` — the attribution
    * join. Both sides carry watermarks and the join condition bounds
    * event time on BOTH ends, so Spark can size the state store and
    * evict rows older than the watermark (an unbounded stream-stream
    * join would buffer forever). */
  def purchaseClickJoin(
      purchases: DataFrame, clicks: DataFrame,
      window: String = "10 minutes"): DataFrame = {
    val p = purchases.withWatermark("ts", "1 hour")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("value").as("p_value"))
    val c = clicks.withWatermark("ts", "1 hour")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
    p.join(c,
      col("p_user") === col("c_user") &&
        col("c_ts") >= col("p_ts") &&
        col("c_ts") <= col("p_ts") + expr(s"INTERVAL $window"))
  }

  /** Streaming exact-dedup: drop events whose id was already seen,
    * with state bounded by the watermark (ids older than the horizon
    * are evicted — the streaming twin of Dedup.exactDedup's keep-first
    * semantics, scoped to the watermark window).
    *
    * Keyed on event_id ALONE: the same id at a different timestamp is
    * still a duplicate. `dropDuplicatesWithinWatermark` lets state
    * expire by event time without `ts` being part of the key —
    * plain `dropDuplicates("event_id")` would keep every id forever. */
  def dedupStream(events: DataFrame, watermarkDelay: String): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming changelog compaction — the stateful twin of
    * Maintain.compactChangelog (MERGE semantics: last writer wins,
    * tombstones delete). State per key is ONE row: the current
    * (ts_us, event_id)-max version; each micro-batch folds its rows
    * into that maximum and emits the key's refreshed state in update
    * mode, tombstones included with `deleted = true` so a downstream
    * sink can drop the key (emitting nothing would leave the sink
    * holding the pre-tombstone version forever). Out-of-order rows
    * BELOW the current maximum fold away without emitting a stale
    * version — the cross-batch property the batch max_by gets for
    * free and a naive per-batch latest-row stream would violate.
    * State is O(1) per live key and never grows with stream length;
    * NoTimeout because a key's current version stays addressable
    * indefinitely, like the compacted table it mirrors. */
  def compactStream(events: Dataset[CdcEvent]): Dataset[CompactRow] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[CompactRow, CompactRow](GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[CdcEvent], state: GroupState[CompactRow]) =>
          var cur = state.getOption.orNull
          rows.foreach { r =>
            val tsUs = micros(r.ts)
            if (cur == null || tsUs > cur.last_ts_us ||
                (tsUs == cur.last_ts_us && r.event_id > cur.last_event_id))
              cur = CompactRow(uid, tsUs, r.event_id, r.event_type, r.value,
                deleted = r.event_type == "error")
          }
          state.update(cur)
          cur
      }
  }

  /** Streaming SCD2 historization — the stateful twin of
    * Maintain.scd2History. State per key is the OPEN version (type +
    * valid_from); each micro-batch folds its rows in event order: a
    * state change emits the previous version CLOSED (exactly once,
    * final) and opens the new one; the refreshed open version is
    * re-emitted each update with `open = true` so a sink can upsert
    * the current row. Contract (documented, mirrors the batch twin's
    * deltas): rows must arrive in event-time order ACROSS batches per
    * key — emitted closed versions are immutable, so a cross-batch
    * regression below the open version cannot rewrite them (within a
    * batch, rows are sorted before folding). Under that contract the
    * union of closed emissions + the latest open emission equals the
    * batch rebuild, spec-asserted. State is O(1) per key. */
  def scd2Stream(events: Dataset[CdcEvent]): Dataset[VersionRow] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Scd2State, VersionRow](
        org.apache.spark.sql.streaming.OutputMode.Update(),
        GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[CdcEvent], state: GroupState[Scd2State]) =>
          val sorted = rows.toSeq.sortBy(r => (micros(r.ts), r.event_id))
          var cur = state.getOption.orNull
          val closed = scala.collection.mutable.ListBuffer.empty[VersionRow]
          sorted.foreach { r =>
            val t = micros(r.ts)
            if (cur == null) cur = Scd2State(r.event_type, t)
            else if (cur.eventType != r.event_type) {
              closed += VersionRow(uid, cur.eventType, cur.validFromUs,
                Some(t), open = false)
              cur = Scd2State(r.event_type, t)
            }
          }
          if (cur == null) Iterator.empty
          else {
            state.update(cur)
            (closed :+ VersionRow(uid, cur.eventType, cur.validFromUs,
              None, open = true)).iterator
          }
      }
  }

  /** Streaming point-in-time enrichment — the stateful twin of
    * Maintain.pitJoin, i.e. the feature store's ONLINE path: the
    * batch as-of merge assembles training rows offline, this enriches
    * serving-time facts with the SAME versioned browsing state, so
    * the two paths cannot skew. State per user is the OPEN dimension
    * version (type + valid_from) — exactly scd2Stream's O(1) state;
    * each micro-batch folds its rows in (event-time, dim-before-fact,
    * event_id) order: dimension rows advance the state (a same-
    * instant change chain leaves the last writer, matching the batch
    * zero-length-version rule), and each purchase emits exactly one
    * enriched row stamped with the version valid AT its own
    * microsecond — a version opening on that same microsecond
    * applies, and a purchase before any browsing state reports NULL
    * (the cold/organic purchase). Contract (same as scd2Stream,
    * documented): per-key event-time order ACROSS batches — an
    * emitted enrichment is immutable, so Append mode. Under that
    * contract the emissions equal the batch pitJoin, spec-asserted. */
  def pitStream(events: Dataset[CdcEvent]): Dataset[PitRow] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Scd2State, PitRow](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[CdcEvent], state: GroupState[Scd2State]) =>
          val sorted = rows.toSeq.sortBy(r =>
            (micros(r.ts), if (r.event_type == "purchase") 1 else 0, r.event_id))
          var cur = state.getOption.orNull
          val out = scala.collection.mutable.ListBuffer.empty[PitRow]
          sorted.foreach { r =>
            val t = micros(r.ts)
            if (r.event_type == "purchase")
              out += PitRow(r.event_id, uid, t,
                Option(cur).map(_.eventType),
                Option(cur).map(_.validFromUs), r.value)
            else if (cur == null || cur.eventType != r.event_type)
              cur = Scd2State(r.event_type, t)
          }
          if (cur != null) state.update(cur)
          out.iterator
      }
  }

  /** Streaming gap-fill + LOCF — the stateful twin of the batch
    * `q_events_gapfill`: per event type, emit a DENSE sequence of
    * 5-minute buckets (missing buckets carry the last observed sum
    * forward) as the watermark finalizes them.
    *
    * Mechanics: `flatMapGroupsWithState` keyed on event_type. State
    * holds the next bucket to emit, the running LOCF value, and the
    * still-open per-bucket partial aggregates (out-of-order rows
    * within the watermark fold into their bucket until it finalizes).
    * A bucket is emitted exactly once, when the watermark passes its
    * END — in order, including the empty gap buckets between
    * observations. An EVENT-TIME TIMEOUT re-invokes quiet groups so a
    * type with no new rows still emits its gap buckets as the global
    * watermark advances. State is O(open buckets per type), bounded by
    * the watermark delay — nothing grows with stream length.
    *
    * Delta vs the batch twin (documented): the dense grid starts at
    * each type's FIRST observed bucket (a stream has no global
    * [lo, hi] until it ends), and sums accumulate in double rather
    * than the batch DECIMAL since state folds incrementally. */
  def gapfillStream(
      events: Dataset[TypedEvent],
      watermarkDelay: String = "10 minutes",
      stepMicros: Long = 300000000L): Dataset[GapBucket] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[GapfillState, GapBucket](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout()) {
        (etype: String,
         rows: Iterator[TypedEvent],
         state: GroupState[GapfillState]) =>
          val prev = state.getOption
            .getOrElse(GapfillState(Long.MinValue, None, Map.empty))
          var open = prev.open
          rows.foreach { r =>
            val b = Math.floorDiv(micros(r.ts), stepMicros)
            val (n, s) = open.getOrElse(b, (0L, 0.0))
            open = open.updated(b, (n + 1, s + r.value))
          }
          // buckets whose END the watermark has passed are final
          val wmMicros = state.getCurrentWatermarkMs() * 1000L
          val horizon = Math.floorDiv(wmMicros, stepMicros)
          // The emit cursor must never sit ABOVE an open bucket: with
          // watermark delay > bucket width, a late in-watermark row
          // can land in a bucket EARLIER than the first-seen one —
          // pinning the cursor to the first-seen bucket would leave
          // that row unemitted and its state entry permanent. Taking
          // the min is safe: watermark admission guarantees no row
          // precedes a bucket the horizon already finalized, so the
          // cursor never moves back over emitted output.
          val earliestOpen =
            if (open.isEmpty) Long.MaxValue else open.keys.min
          var next =
            if (prev.nextBucket != Long.MinValue)
              math.min(prev.nextBucket, earliestOpen)
            else if (open.nonEmpty) earliestOpen
            else Long.MinValue
          if (next == Long.MinValue) {
            // nothing observed yet for this type; no state to keep
            Iterator.empty
          } else {
            var locf = prev.locf
            val out = Seq.newBuilder[GapBucket]
            while (next < horizon) {
              val ts = new java.sql.Timestamp(next * stepMicros / 1000L)
              open.get(next) match {
                case Some((n, s)) =>
                  locf = Some(s)
                  out += GapBucket(etype, ts, n, locf)
                  open = open - next
                case None =>
                  out += GapBucket(etype, ts, 0L, locf)
              }
              next += 1
            }
            state.update(GapfillState(next, locf, open))
            // wake this group when the watermark passes the end of the
            // next unemitted bucket, even if no new rows arrive for it
            EventTimeFold.arm(state, (next + 1) * stepMicros / 1000L)
            out.result().iterator
          }
      }
  }

  /** Streaming linear interpolation — the stateful twin of the batch
    * `q_events_interpolate`, completing the densifier pair with
    * `gapfillStream`: per event type, missing 5-minute buckets get the
    * straight-line value between the nearest OBSERVED buckets on
    * either side.
    *
    * Interpolation is inherently LOOK-AHEAD: a gap bucket needs its
    * NEXT observed neighbor, so a finalized gap is held until the next
    * observed bucket itself finalizes, then the whole segment emits at
    * once — in order, exactly once, values bit-equal to the batch
    * twin's (same double sequence, same half-up 6 dp round;
    * spec-asserted). State is the cursor, the last emitted observation
    * (the left anchor) and the still-open per-bucket aggregates —
    * bounded by the watermark delay plus the longest gap between
    * observations (the look-ahead's intrinsic cost; the batch twin
    * needs the whole partition for the same reason).
    *
    * Deltas vs batch (documented, same spirit as gapfillStream): the
    * grid starts at each type's first observed bucket, and trailing
    * buckets after the last observation never emit — a stream cannot
    * know the tail is final (batch emits them as NULL).
    *
    * KEY-CARDINALITY CONTRACT: once a key's open map drains, its
    * (cursor, anchor) entry persists indefinitely — deliberately: the
    * left anchor is what interpolates the gap up to that key's NEXT
    * observation, however far off, exactly as the batch twin reaches
    * back arbitrarily far within a partition. Evicting idle keys would
    * silently change results on resume. State is therefore O(1) per
    * DISTINCT event_type with no timeout-based cleanup, which is the
    * right trade only because event_type is a low-cardinality
    * dimension; keying a variant on an unbounded column (user id,
    * session) would need timeout eviction plus the documented
    * grid-restart semantics that come with it. */
  def interpolateStream(
      events: Dataset[TypedEvent],
      watermarkDelay: String = "10 minutes",
      stepMicros: Long = 300000000L): Dataset[InterpBucket] = {
    import events.sparkSession.implicits._
    // Spark round() semantics (HALF_UP on the BigDecimal of the
    // double) so streamed values hash-match the batch twin
    def round6(v: Double): Double =
      java.math.BigDecimal.valueOf(v)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[InterpState, InterpBucket](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout()) {
        (etype: String,
         rows: Iterator[TypedEvent],
         state: GroupState[InterpState]) =>
          val prev = state.getOption
            .getOrElse(InterpState(Long.MinValue, None, Map.empty))
          var open = prev.open
          rows.foreach { r =>
            val b = Math.floorDiv(micros(r.ts), stepMicros)
            val (n, s) = open.getOrElse(b, (0L, 0.0))
            open = open.updated(b, (n + 1, s + r.value))
          }
          val horizon =
            Math.floorDiv(state.getCurrentWatermarkMs() * 1000L, stepMicros)
          // same cursor restore as gapfillStream: never above an open
          // bucket (late in-watermark rows can precede the first-seen)
          val earliestOpen =
            if (open.isEmpty) Long.MaxValue else open.keys.min
          var next =
            if (prev.nextBucket != Long.MinValue)
              math.min(prev.nextBucket, earliestOpen)
            else if (open.nonEmpty) earliestOpen
            else Long.MinValue
          if (next == Long.MinValue) Iterator.empty
          else {
            var anchor = prev.anchor
            val out = Seq.newBuilder[InterpBucket]
            def ts(b: Long) = new java.sql.Timestamp(b * stepMicros / 1000L)
            // every observed bucket past the horizon is final; emit
            // its whole segment (the gap buckets it right-anchors,
            // then the observation itself)
            for (a <- open.keys.toSeq.sorted if a < horizon) {
              val (n, s) = open(a)
              anchor.foreach { case (pm, pv) =>
                while (next < a) {
                  // batch arithmetic verbatim: dm/dn in micros as
                  // doubles, p + (nx - p) * (dm / dn), round 6
                  val dm = (next * stepMicros - pm * stepMicros).toDouble
                  val dn = (a * stepMicros - pm * stepMicros).toDouble
                  out += InterpBucket(etype, ts(next), 0L,
                    round6(pv + (s - pv) * (dm / dn)))
                  next += 1
                }
              }
              out += InterpBucket(etype, ts(a), n, round6(s))
              next = a + 1
              anchor = Some((a, s))
              open = open - a
            }
            state.update(InterpState(next, anchor, open))
            // wake when the watermark passes the end of the earliest
            // still-open observation — gap buckets can't emit without
            // a finalized right anchor, so there is nothing to wake
            // for until then
            if (open.nonEmpty)
              EventTimeFold.arm(state, (open.keys.min + 1) * stepMicros / 1000L)
            out.result().iterator
          }
      }
  }

  /** Streaming EWMA — the stateful twin of Events.qEventsEwma, with
    * full event-time correctness under out-of-order arrival: rows
    * BUFFER in state until the watermark passes them, then emit in
    * (ts, event_id) order through the per-user ring of the last 7
    * finalized values — so a row that arrives late (but inside the
    * watermark) still lands at its correct position in the kernel,
    * exactly as the batch window would place it. State per user is the
    * ≤7-value ring plus only the not-yet-final rows (bounded by the
    * watermark delay × event rate, like any append-mode aggregate);
    * an event-time timeout wakes idle keys so buffered rows flush as
    * the watermark advances even with no new data for that user. The
    * buffer, the µs clock and the timeout are EventTimeFold's.
    *
    * Arithmetic mirrors the batch plan STEP FOR STEP (same
    * Events.EwmaWeights bits, same HALF_UP-on-valueOf rounding at the
    * 9 dp term grid and the 6 dp close), so emitted points are
    * double-identical to the batch query — spec-asserted. */
  def ewmaStream(
      events: Dataset[EwmaEvent],
      watermarkDelay: String = "10 minutes"): Dataset[EwmaPoint] = {
    import events.sparkSession.implicits._
    val weights = graft.queries.Events.EwmaWeights
    def r9(v: Double): java.math.BigDecimal =
      java.math.BigDecimal.valueOf(v)
        .setScale(9, java.math.RoundingMode.HALF_UP)
    // batch verbatim: rescale the exact decimal sum to the 6 dp grid,
    // then ONE decimal→double conversion (never round through a double)
    def close6(sum: java.math.BigDecimal): Double =
      sum.setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    EventTimeFold(events, watermarkDelay, Seq.empty[Double])(
      _.user_id, e => (micros(e.ts), e.event_id, e.value)) {
      (uid, ring, released, _) =>
        var recent = ring
        val out = released.map { case (_, eid, v) =>
          val taps = v +: recent
          // batch verbatim: round(tap·w, 9) on the double, cast back to
          // the 9 dp decimal grid, exact decimal sum, close at 6 dp —
          // term order cannot matter
          val sum = weights.zip(taps)
            .map { case (w, t) => r9(r9(t * w).doubleValue()) }
            .foldLeft(java.math.BigDecimal.ZERO)(_.add(_))
          recent = taps.take(graft.queries.Events.EwmaLags - 1)
          EwmaPoint(uid, eid, close6(sum))
        }
        (recent, out, Nil)
    }
  }

  /** Streaming HISTOGRAM QUANTILES — per-ingest-window p50/p95/p99
    * per type from the fixed-bucket estimator
    * (operators.HistQuantile; batch twin q_events_hist_quantiles):
    * the n conditional bucket counts are ONE windowed aggregate
    * (mergeable integer state, constant per open window — the
    * driftStream discipline: no chained streaming aggregates), and
    * the interpolation closes in a stateless projection on watermark
    * finalization. This is the percentile shape that actually runs on
    * an unbounded stream — rank-based percentiles cannot. Estimates
    * are bit-identical to the same-window batch aggregate
    * (spec-asserted). */
  def histQuantileStream(
      events: DataFrame,
      windowDur: String = "1 hour",
      watermarkDelay: String = "10 minutes"): DataFrame = {
    import graft.operators.HistQuantile
    import graft.queries.Events.{HistBuckets, HistHi, HistLo}
    val aggs = HistQuantile.bucketCounts(col("value"), HistLo, HistHi,
      HistBuckets)
    val cnts = (0 until HistBuckets).map(i => col(s"c$i"))
    events.where(col("value").isNotNull)
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowDur), col("event_type"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("window.start").as("window_start"), col("event_type"),
        cnts.reduce(_ + _).as("n"),
        round(HistQuantile.estimate(cnts, 0.5, HistLo, HistHi), 4)
          .as("h_p50"),
        round(HistQuantile.estimate(cnts, 0.95, HistLo, HistHi), 4)
          .as("h_p95"),
        round(HistQuantile.estimate(cnts, 0.99, HistLo, HistHi), 4)
          .as("h_p99"))
  }

  /** Streaming one-sided CUSUM — the PRODUCTION deployment of the
    * drift alarm (queries.Events.cusumFixedTarget is the batch twin):
    * per event type, hourly bucket sums finalize when the watermark
    * passes the bucket END (no row for that hour can still arrive),
    * then fold through the textbook recursion Cₙ = max(0, Cₙ₋₁+sv−k)
    * IN BUCKET ORDER and emit one point per observed bucket. The
    * target k is configured (the in-control mean from history) — a
    * self-normalizing target would need the full series and cannot
    * stream.
    *
    * Exactness: every value quantizes to the scale-4 integer grid on
    * entry (the same HALF_UP cast the batch DECIMAL(18,4) sum
    * performs), so bucket sums and the carry are exact longs and the
    * emitted double is the one correctly-rounded conversion — the
    * spec asserts double-identical output vs the batch query under
    * out-of-order arrival. Rows landing in a bucket that already
    * finalized (ts <= watermark on arrival) never reach the fold:
    * Spark drops them as late (EventTimeFold), so they are never
    * folded out of order or re-emitted. State per type: the
    * not-yet-final rows (watermark-delay-bounded) + open bucket sums
    * + the carry. */
  def cusumStream(
      events: Dataset[TypedEvent],
      kTarget: java.math.BigDecimal,
      watermarkDelay: String = "10 minutes"): Dataset[CusumPoint] = {
    import events.sparkSession.implicits._
    val kq = kTarget.setScale(4, java.math.RoundingMode.HALF_UP)
      .unscaledValue().longValueExact()
    val hourUs = 3600000000L
    def q4(v: Double): Long =
      java.math.BigDecimal.valueOf(v)
        .setScale(4, java.math.RoundingMode.HALF_UP)
        .unscaledValue().longValueExact()
    EventTimeFold(events, watermarkDelay, CusumCarry(Map.empty, 0L))(
      _.event_type, e => (micros(e.ts), q4(e.value))) {
      (typ, carry, released, horizonUs) =>
        var open = carry.open
        released.foreach { case (ts, q) =>
          val b = ts / hourUs * hourUs
          open = open.updated(b, open.getOrElse(b, 0L) + q)
        }
        // a bucket whose END the watermark passed is final: held rows
        // all have ts > horizon, hence sit in later buckets
        val (closed, still) =
          open.partition { case (b, _) => b + hourUs <= horizonUs }
        var c = carry.c
        val out = closed.keys.toSeq.sorted.map { b =>
          c = math.max(0L, c + closed(b) - kq)
          CusumPoint(typ, new java.sql.Timestamp(b / 1000L),
            c.toDouble / 10000.0)
        }
        (CusumCarry(still, c), out, still.keys.map(_ + hourUs))
    }
  }

  /** Streaming Schmitt-trigger alerting — the PRODUCTION deployment
    * of the hysteresis rule (queries.Events.hysteresisFixed is the
    * batch twin): per event type, hourly counts finalize when the
    * watermark passes the bucket END, then fold through the
    * two-threshold state machine (open above hi, close below lo,
    * carry inside the dead band) IN BUCKET ORDER, emitting one
    * changelog point per DENSE hour from the type's first observed
    * bucket — a silent hour is a real x = 0 observation (below lo →
    * the alert closes), which is exactly why a pager needs the dense
    * grid: an alert must close when traffic STOPS, not only when a
    * quiet row happens to arrive. Thresholds are configured (the
    * in-control percentiles from history) — the batch percentile
    * self-calibration needs the full series and cannot stream; the
    * cusumStream contract.
    *
    * All integer comparisons — bit-identical to the batch fold,
    * spec-asserted under out-of-order arrival. Rows landing in a
    * finalized bucket never reach the fold (the cusumStream rule). State per type: watermark-bounded pending
    * rows + open bucket counts + one int of trigger state and the
    * last emitted hour. Event-time timeouts keep the dense emission
    * flowing through silent hours. */
  def hysteresisStream(
      events: Dataset[TypedEvent],
      hi: Long, lo: Long,
      watermarkDelay: String = "10 minutes"): Dataset[HystPoint] = {
    import events.sparkSession.implicits._
    val hourUs = 3600000000L
    EventTimeFold(events, watermarkDelay, HystCarry(Map.empty, 0, None))(
      _.event_type, e => micros(e.ts)) {
      (typ, carry, released, horizonUs) =>
        var open = carry.open
        released.foreach { ts =>
          val b = ts / hourUs * hourUs
          open = open.updated(b, open.getOrElse(b, 0L) + 1L)
        }
        // dense finalization: every hour from the cursor whose END the
        // watermark passed is final — observed or silent alike
        val out = scala.collection.mutable.ListBuffer.empty[HystPoint]
        var st = carry.state
        var lastEmitted = carry.lastEmitted
        // the dense cursor: resumes one hour past the last emission,
        // or anchors at the type's first observed bucket, so a
        // not-yet-finalizable first bucket never poisons the resume
        var cursor = lastEmitted.map(_ + hourUs).getOrElse(
          if (open.nonEmpty) open.keys.min else Long.MaxValue)
        while (cursor != Long.MaxValue && cursor + hourUs <= horizonUs) {
          val x = open.getOrElse(cursor, 0L)
          open -= cursor
          val next =
            if (x > hi) 1 else if (x < lo) 0 else st
          out += HystPoint(typ,
            new java.sql.Timestamp(cursor / 1000L), x, next,
            next == 1 && st == 0)
          st = next
          lastEmitted = Some(cursor)
          cursor += hourUs
        }
        // wake when the next dense hour (or an open bucket) can
        // finalize, so silent hours keep emitting
        (HystCarry(open, st, lastEmitted), out.toSeq,
          lastEmitted.map(_ + 2 * hourUs) ++ open.keys.map(_ + hourUs))
    }
  }

  /** Streaming sliding-log rate limiter — the per-user twin of
    * q_events_rate_limit's verdict pass (Events.rateLimitVerdicts):
    * for each event at t, c60 counts the user's events in the closed
    * RANGE window [t − 60s + 1 μs, t], same-instant events mutual
    * peers. Verdicts emit once the watermark passes the event (only
    * then is the count of ≤ t peers final). State per user: pending
    * unfinalized rows plus the finalized timestamps within 60 s of
    * the horizon — O(rate × window), watermark-bounded. Rows arriving
    * with ts at or behind the previous watermark are late: Spark
    * drops them (the cusumStream rule) — processing them would need
    * peers the 60 s retention has already released. */
  def rateLimitStream(
      events: Dataset[CdcEvent],
      n: Int = 5,
      watermarkDelay: String = "10 minutes"): Dataset[RateRow] = {
    import events.sparkSession.implicits._
    val winUs = 60000000L
    EventTimeFold(events, watermarkDelay, Seq.empty[Long])(
      _.user_id, e => (micros(e.ts), e.event_id, e.event_type)) {
      (uid, recent, released, horizonUs) =>
        // every known finalized timestamp covering the released range
        val known = recent ++ released.map(_._1)
        val out = released.map { case (t, id, typ) =>
          val c60 = known.count(x => x > t - winUs && x <= t).toLong
          RateRow(uid, id, t, typ, c60, c60 > n)
        }
        (known.filter(_ > horizonUs - winUs).sorted, out, Nil)
    }
  }

  /** Streaming twin of q_events_twap's HOLD-INTERVAL MATERIALIZATION —
    * the ingest-time shape of time-weighted averaging: each event's
    * value holds until the user's next event or the UTC-midnight cut,
    * and the closed interval (user, day, val_c, held μs) emits exactly
    * once, when the watermark proves the close can no longer move —
    * close = min(successor ts, own day end) is final once the horizon
    * passes it, because any later arrival at or below the horizon is
    * late-by-definition and drops (the cusumStream rule). The carry
    * is the last released row: its hold closes when its successor is
    * released, or when its day end passes the watermark. The daily
    * TWAP downstream is a plain windowed SUM of these deltas. State
    * per user = the unfinalized pending rows plus that one open row,
    * bounded by the watermark delay plus at most one open day;
    * event-time timeouts close the final interval of a gone-quiet
    * user at its day end. Spec-asserted equal to the batch hold table
    * (queries.Events.twapHolds) on finalized rows under out-of-order
    * arrival. */
  def twapStream(
      events: Dataset[CdcEvent],
      watermarkDelay: String = "10 minutes"): Dataset[TwapHold] = {
    import events.sparkSession.implicits._
    val dayUs = 86400000000L
    def dayEnd(t: Long): Long = (t / dayUs + 1L) * dayUs
    EventTimeFold(events, watermarkDelay, Option.empty[(Long, Long)])(
      _.user_id, e => (micros(e.ts), e.event_id, math.round(e.value * 100))) {
      (uid, last, released, horizonUs) =>
        def hold(t: Long, vc: Long, close: Long) =
          TwapHold(uid, t / dayUs * dayUs, t, vc, close - t)
        val out = scala.collection.mutable.ListBuffer.empty[TwapHold]
        var open = last
        released.foreach { case (t, _, vc) =>
          open.foreach { case (pt, pvc) =>
            out += hold(pt, pvc, math.min(t, dayEnd(pt)))
          }
          open = Some((t, vc))
        }
        open match {
          case Some((t, vc)) if dayEnd(t) <= horizonUs =>
            out += hold(t, vc, dayEnd(t))
            (None, out.toSeq, Nil)
          case _ => (open, out.toSeq, open.map(o => dayEnd(o._1)))
        }
    }
  }

  /** Streaming twin of q_events_transitions' PAIR EXTRACTION: emit the
    * (prev → next) event-type pair stream per user in exact event-time
    * order; the matrix/probability rollup downstream is a plain
    * windowed aggregate of these pairs. Same discipline as ewmaStream:
    * rows buffer in state until the watermark passes them (late
    * in-watermark rows land at their correct sequence position), then
    * emit through the one-element last-type carry — O(pending) state
    * per user, bounded by the watermark delay, plus one string. */
  def transitionsStream(
      events: Dataset[TransEvent],
      watermarkDelay: String = "10 minutes"): Dataset[TransPair] = {
    import events.sparkSession.implicits._
    EventTimeFold(events, watermarkDelay, Option.empty[String])(
      _.user_id, e => (micros(e.ts), e.event_id, e.event_type)) {
      (uid, lastType, released, _) =>
        // released rows are final, so each one's predecessor is fixed
        var last = lastType
        val out = released.flatMap { case (_, eid, typ) =>
          val pair = last.map(TransPair(uid, eid, _, typ))
          last = Some(typ)
          pair
        }
        (last, out, Nil)
    }
  }

  /** Streaming twin of queries.Events.qEventsAttribution: each
    * finalized purchase emitted with the first/last click and click
    * count in its user's trailing AttrWindowUs lookback — attribution
    * computed AT INGEST, the production shape (the batch RANGE window
    * needs the whole day's partition; this needs one user's recent
    * clicks). Same watermark-buffer discipline as transitionsStream,
    * with one extra care: the batch frame is a RANGE window, so a
    * click at EXACTLY the purchase's timestamp is a frame peer
    * regardless of event-id order — the fold absorbs all of a
    * timestamp's clicks before attributing any of its purchases.
    * State = pending rows (watermark-bounded) + the click times still
    * inside any future purchase's lookback (clicks older than
    * watermark − window can never be claimed again and are pruned) —
    * a 72 h sliding click buffer per user, the honest production
    * bound. Emissions are final (append mode, no changelog). */
  def attributionStream(
      events: Dataset[TransEvent],
      watermarkDelay: String = "10 minutes"): Dataset[AttrRow] = {
    import events.sparkSession.implicits._
    val win = graft.queries.Events.AttrWindowUs
    EventTimeFold(events, watermarkDelay, Seq.empty[Long])(
      _.user_id, e => (micros(e.ts), e.event_id, e.event_type)) {
      (uid, buffered, released, horizonUs) =>
        var clicks = buffered // ascending finalized click times
        val out = scala.collection.mutable.ListBuffer.empty[AttrRow]
        released.groupBy(_._1).toSeq.sortBy(_._1).foreach {
          case (ts, group) =>
            // all of this timestamp's clicks enter the buffer first:
            // RANGE-frame peers of any purchase at the same instant
            clicks = clicks ++ group.filter(_._3 == "click").map(_._1)
            group.foreach { case (_, eid, typ) =>
              if (typ == "purchase") {
                val inWin = clicks.dropWhile(_ < ts - win)
                clicks = inWin // older clicks are dead for later rows too
                out += AttrRow(eid, uid, ts,
                  inWin.headOption, inWin.lastOption, inWin.size.toLong)
              }
            }
        }
        (clicks.dropWhile(_ < horizonUs - win), out.toSeq, Nil)
    }
  }

  /** Streaming FUNNEL twin of queries.Events.qEventsFunnel: each
    * user's earliest view → earliest later click → earliest later
    * purchase, maintained online. The batch min-chain is exactly an
    * in-event-time-order fold (the first view IS the min view; the
    * first click strictly after the fixed t_view IS the min such
    * click; same for purchase), so the transitionsStream
    * watermark-buffer discipline — hold rows until the watermark
    * finalizes them, fold in (ts, event_id) order — reproduces the
    * batch triple bit-for-bit on finalized users (spec-asserted).
    *
    * Emits one row whenever a user ADVANCES a stage, carrying the
    * full triple — changelog semantics: downstream keeps the
    * latest row per user (append mode cannot retract). State per
    * user after the buffer drains is three epoch-µs options; the
    * keyspace is the active-user population — the same per-key
    * retention contract as interpolateStream, documented there. */
  def funnelStream(
      events: Dataset[TransEvent],
      watermarkDelay: String = "10 minutes"): Dataset[FunnelRow] = {
    import events.sparkSession.implicits._
    EventTimeFold(events, watermarkDelay, FunnelCarry(None, None, None))(
      _.user_id, e => (micros(e.ts), e.event_id, e.event_type)) {
      (uid, reached, released, _) =>
        var (tv, tc, tp) = (reached.tView, reached.tClick, reached.tPurchase)
        released.foreach { case (ts, _, typ) =>
          typ match {
            case "view" if tv.isEmpty => tv = Some(ts)
            case "click" if tc.isEmpty && tv.exists(ts > _) => tc = Some(ts)
            case "purchase" if tp.isEmpty && tc.exists(ts > _) =>
              tp = Some(ts)
            case _ => ()
          }
        }
        val stage0 = Seq(reached.tView, reached.tClick, reached.tPurchase)
          .count(_.isDefined)
        val stage1 = Seq(tv, tc, tp).count(_.isDefined)
        (FunnelCarry(tv, tc, tp),
          if (stage1 > stage0) Seq(FunnelRow(uid, tv, tc, tp, stage1))
          else Nil,
          Nil)
    }
  }
}
