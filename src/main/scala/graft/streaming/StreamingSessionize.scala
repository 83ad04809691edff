package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.Dataset

/** One clickstream event entering the streaming sessionizer. `ts` is the
  * watermarked event-time column (must survive into this Dataset so the
  * event-time timeout has a watermark to fire against); `tsUs` is the same
  * instant as exact integer microseconds — all gap arithmetic is integer,
  * matching the batch operator ([[graft.operators.Sessionize]]) bit for bit.
  * `valueCents` is the event value as decimal(18,2) scaled to integer
  * cents, so the session sum is order-independent and engine-exact.
  */
case class SessionEvent(
    userId: Long,
    ts: Timestamp,
    tsUs: Long,
    eventId: Long,
    eventType: String,
    valueCents: Long)

/** One closed session (column names match the batch `session_stats` query
  * so the two paths are directly comparable). */
case class SessionOut(
    user_id: Long,
    session_seq: Long,
    n_events: Long,
    start_us: Long,
    end_us: Long,
    duration_us: Long,
    n_types: Long,
    value_sum: Double)

/** Open-session state: the per-user session counter plus the running
  * aggregates of the one session still open. `types` is bounded by the
  * event-type cardinality (single digits for clickstreams), so state per
  * key stays O(1). */
case class OpenSession(
    seq: Long,
    startUs: Long,
    endUs: Long,
    n: Long,
    cents: Long,
    types: Set[String])

/** Streaming gap-based sessionization: a [[KeyedFold]] keyed by the
  * `userId` column, state = the one open session, event-time timeout =
  * session end + gap. A session closes (and emits its aggregates) either when a later
  * event of the same user arrives past the gap, or when the watermark
  * passes `end + gap` with no such event (the timeout path).
  *
  * Equivalence with the batch operator: on in-order (or ≤ watermark-delay
  * out-of-order) data the emitted sessions are exactly the batch
  * `Sessionize.assign → stats` result. Caveat, on the record: after a
  * timeout the user's state (including the session counter) is dropped, so
  * a user idle past the gap AND the watermark delay restarts at
  * `session_seq = 1`; the batch operator numbers sessions over all time.
  * Downstream consumers that need globally-unique session ids should key
  * on (user, start_us), which IS stable across the two paths.
  *
  * Scale: state shards by user across executors (one hash shuffle);
  * RocksDB state store handles state > memory; per-key work is O(events in
  * batch) with a small sort. No driver state, no cross-key traffic.
  */
object StreamingSessionize {

  def fold(gapMicros: Long)
      : KeyedFold[Long, SessionEvent, OpenSession, SessionOut] = {
    def close(user: Long, s: OpenSession): SessionOut =
      SessionOut(user, s.seq, s.n, s.startUs, s.endUs, s.endUs - s.startUs,
        s.types.size.toLong, s.cents / 100.0)
    def open(seq: Long, e: SessionEvent): OpenSession =
      OpenSession(seq, e.tsUs, e.tsUs, 1L, e.valueCents, Set(e.eventType))
    new KeyedFold[Long, SessionEvent, OpenSession, SessionOut](
      // a key's events fold in (ts, event_id) order — the same total
      // order as the batch window operator
      Seq("userId"), Ordering.by(e => (e.tsUs, e.eventId)),
      // Fire once the watermark proves no in-gap successor can arrive:
      // strictly past end+gap, rounded UP to the timeout's ms granularity
      // (truncating would close sub-ms-gap sessions a hair early). endUs >=
      // this batch's event times >= watermark, so the timestamp is always
      // legally in the future.
      KeyedFold.FireAt(s => (s.endUs + gapMicros) / 1000L + 1L),
      // Watermark passed end + gap with no successor event: the open
      // session is final. State drops with it (see scaladoc caveat).
      (user, s) => Iterator.single(close(user, s)))({
      case (Some(s), e) if e.tsUs - s.endUs <= gapMicros =>
        (s.copy(endUs = math.max(s.endUs, e.tsUs), n = s.n + 1,
          cents = s.cents + e.valueCents, types = s.types + e.eventType), None)
      case (Some(s), e) => (open(s.seq + 1, e), Some(close(e.userId, s)))
      case (None, e) => (open(1L, e), None)
    })
  }

  def apply(ds: Dataset[SessionEvent], gapMicros: Long): Dataset[SessionOut] =
    fold(gapMicros)(ds)
}
