package graft.streaming

import java.sql.Timestamp
import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** EventTimeFold's per-key state: the rows the watermark has not passed
  * yet, each in its twin's compact held form, and the twin's carry. */
case class FoldState[R, C](held: Seq[R], carry: C)

/** A held row's (ts_us, id) release key. A twin holds each row in its
  * most compact form: (ts_us, id, payload) when order inside an
  * instant matters, (ts_us, payload) or a bare ts_us when the twin
  * only sums rows into buckets (id 0: order cannot change a sum). */
trait Held[R] extends Serializable { def key(r: R): (Long, Long) }

object Held {
  implicit def withId[P]: Held[(Long, Long, P)] = r => (r._1, r._2)
  implicit val withPayload: Held[(Long, Long)] = r => (r._1, 0L)
  implicit val timeOnly: Held[Long] = t => (t, 0L)
}

/** The one watermark-buffered event-time fold behind the ordered
  * streaming twins: ewma, cusum, rate limit, twap, hysteresis,
  * transitions, attribution and funnel. A twin supplies its key, a
  * row's held form (`Held`, its event time read with `micros`), its
  * initial carry and a `step`; the fold owns the rest:
  *
  *   - `withWatermark("ts")` → `groupByKey` → `flatMapGroupsWithState`
  *     in Append mode with an event-time timeout;
  *   - event time as µs, read with `micros` exactly as `unix_micros`
  *     reads it (no other clock in graft.streaming, spec-linted);
  *   - the held rows: a row stays in state until the watermark passes
  *     it (`ts_us ≤ watermark`). Then it is final, because nothing
  *     earlier can still arrive, and it is released to `step` in
  *     (ts_us, id) order;
  *   - the timeout, armed at the earliest held row + 1 ms or the
  *     earliest extra wake `step` asks for, never behind the
  *     watermark, so a quiet key still releases as the watermark moves.
  *
  * `step(key, carry, released, horizonUs)` returns the new carry, the
  * outputs, and extra wake times in µs: a bucket or day end the twin
  * must see the watermark pass even if no row arrives.
  *
  * Rows at or behind the previous batch's watermark never reach the
  * fold: with an event-time timeout Spark drops them before the user
  * function runs and counts them in `numRowsDroppedByWatermark`. A
  * released row therefore never belongs to a bucket or a hold that a
  * twin has already emitted, and no twin needs a late-row branch.
  *
  * Outside the fold: gapfillStream and interpolateStream add each row
  * to its bucket partial as it arrives, so their state is O(open
  * buckets), smaller than a row buffer; they take only `micros` and
  * `arm`. compactStream, scd2Stream and pitStream have no timeout
  * (their contract is ordered arrival) and take only `micros`. */
object EventTimeFold {

  /** µs since the epoch, exactly as `unix_micros(ts)` reads it (the
    * inverse of the encoder's µs → Timestamp, nanos included). */
  def micros(ts: Timestamp): Long = DateTimeUtils.fromJavaTimestamp(ts)

  /** Arms the event-time timeout at `wakeMs`, clamped past the current
    * watermark (Spark rejects a timeout behind it). */
  def arm(state: GroupState[_], wakeMs: Long): Unit =
    state.setTimeoutTimestamp(
      math.max(wakeMs, state.getCurrentWatermarkMs() + 1L))

  def apply[E, K: Encoder, R: TypeTag: Held, C: TypeTag, O: Encoder](
      events: Dataset[E], watermarkDelay: String, init: C)(
      key: E => K, row: E => R)(
      step: (K, C, Seq[R], Long) => (C, Seq[O], Iterable[Long])): Dataset[O] = {
    implicit val stateEncoder: Encoder[FoldState[R, C]] =
      Encoders.product[FoldState[R, C]]
    val at = implicitly[Held[R]]
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(key)
      .flatMapGroupsWithState[FoldState[R, C], O](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (k: K, rows: Iterator[E], state: GroupState[FoldState[R, C]]) =>
          val prev = state.getOption.getOrElse(FoldState(Seq.empty[R], init))
          val horizonUs = state.getCurrentWatermarkMs() * 1000L
          val (ripe, held) =
            (prev.held ++ rows.map(row)).partition(at.key(_)._1 <= horizonUs)
          val (carry, out, wakesUs) =
            step(k, prev.carry, ripe.sortBy(at.key), horizonUs)
          state.update(FoldState(held, carry))
          val wakesMs = held.map(r => Math.floorDiv(at.key(r)._1, 1000L) + 1L) ++
            wakesUs.map(Math.floorDiv(_, 1000L))
          if (wakesMs.nonEmpty) arm(state, wakesMs.min)
          out.iterator
      }
  }
}
