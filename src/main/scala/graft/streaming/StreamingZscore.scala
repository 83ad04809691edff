package graft.streaming

import org.apache.spark.sql.Dataset

/** One scored event entering the online anomaly detector. `valueCents` is
  * the value as decimal(18,2) scaled to integer cents — the running sums
  * stay exact integers in state, so the emitted statistics are
  * order-independent and engine-exact (the same float discipline as the
  * batch [[graft.operators.TimeSeries.zscore]]). */
case class ZscoreEvent(
    userId: Long,
    tsUs: Long,
    eventId: Long,
    value: Double,
    valueCents: Long)

/** Online z-score for one event: the statistics are over the PRIOR events
  * of the series only (a streaming detector cannot see the future — this
  * is the online analog of the batch whole-series z-score, not a
  * replacement). `z` is null until ≥2 prior events exist and their
  * variance is positive. */
case class ZscoreOut(
    user_id: Long,
    event_id: Long,
    ts_us: Long,
    value: Double,
    n_prior: Long,
    zscore: Option[Double],
    is_anomaly: Boolean)

/** Running-moment state: exact integer sums of cents and cents² — the
  * double math happens only at emission, from exact inputs, mirroring the
  * oracle's CAST(decimal-sum AS DOUBLE) step (sum/100.0 and sumsq/10000.0
  * are single correctly-rounded divisions of exact integers, identical to
  * casting the exact decimal). cents² of a 10^7-cent value across 10^9
  * events stays under 2^63 — overflow is not a practical concern before
  * state size is. */
case class RunningMoments(n: Long, sumCents: Long, sumSqCents2: Long)

/** Streaming per-series anomaly detection: a [[KeyedFold]] keyed by the
  * `userId` column, state = exact running moments, each event emitted with
  * its z-score against the series' PRIOR distribution. The streaming analog
  * of `events_zscore`, with the same decimal-exact float discipline,
  * verified against a DuckDB prefix-window oracle.
  *
  * Scale: state is three longs per series — millions of series cost tens
  * of MB, sharded by the group key (one hash shuffle, zero cross-key
  * traffic). Within a micro-batch events process in (ts, event_id) order;
  * cross-batch order is the source's per-key ordering guarantee (ST2 —
  * Kafka partitions by series key). The operator sets no timeout: a
  * series' moments stay in state for the life of the query.
  */
object StreamingZscore {

  def fold(threshold: Double)
      : KeyedFold[Long, ZscoreEvent, RunningMoments, ZscoreOut] =
    new KeyedFold[Long, ZscoreEvent, RunningMoments, ZscoreOut](
      Seq("userId"), Ordering.by(e => (e.tsUs, e.eventId)))({ (prior, e) =>
      val s = prior.getOrElse(RunningMoments(0L, 0L, 0L))
      // score against PRIOR moments, mirroring the oracle's
      // ROWS UNBOUNDED PRECEDING AND 1 PRECEDING window exactly
      val nD = s.n.toDouble
      val sumD = s.sumCents / 100.0
      val variance = (s.sumSqCents2 / 10000.0 - sumD * sumD / nD) / (nD - 1.0)
      val z = Option.when(s.n >= 2 && variance > 0)(
        (e.value - sumD / nD) / math.sqrt(variance))
      (RunningMoments(s.n + 1, s.sumCents + e.valueCents,
         s.sumSqCents2 + e.valueCents * e.valueCents),
       Some(ZscoreOut(e.userId, e.eventId, e.tsUs, e.value, s.n, z,
         z.exists(v => math.abs(v) > threshold))))
    })

  def apply(ds: Dataset[ZscoreEvent],
            threshold: Double = 2.0): Dataset[ZscoreOut] =
    fold(threshold)(ds)
}
