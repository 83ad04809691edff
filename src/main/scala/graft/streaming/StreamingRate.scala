package graft.streaming

import org.apache.spark.sql.Dataset

import graft.core.Schemas

/** One metric sample on a time series (series key = resource_id |
  * group_type | sorted dimensions, reference
  * `polling/polling_plugin_agent.py:157-171`). */
case class MetricSample(
    series: String,
    metric: String,
    value: Double,
    ts: Double,
    interval: Long)

/** Rate-transform output: the original counter sample plus the derived
  * gauge (None when a guard skipped conversion). */
case class RateResult(
    series: String,
    metric: String,
    value: Double,
    ts: Double,
    rate: Option[Long],
    confidence: Option[Double])

/** The pure guard logic shared by the batch (`operators.RateTransform`,
  * Column form) and streaming (this file) implementations — reference
  * `polling/polling_plugin_agent.py:178-242`. */
object RateGuards {
  /** @return (rate, confidence) given the previous sample, or None per guard. */
  def compute(prev: Option[(Double, Double)], value: Double, ts: Double,
              interval: Long): (Option[Long], Option[Double]) = prev match {
    case None => (None, None) // no previous sample (:200-202)
    case Some((pv, pt)) =>
      val dt = ts - pt
      if (dt <= 0) (None, None) // negative (:209-212) or zero (:213-215)
      else {
        val confidence = Some(math.round(interval / dt * 100.0) / 100.0)
        if (dt > interval.toDouble * Schemas.KvStoreTtlMultiple)
          (None, confidence) // staleness TTL (:216-219)
        else if (value < pv) (None, confidence) // counter reset (:229-240)
        else (Some(((value - pv) / dt).toLong), confidence)
      }
  }
}

/** Streaming counter→gauge conversion: a [[KeyedFold]] keyed by the
  * `series` and `metric` columns, state = last (value, ts), TTL =
  * 3×interval via processing-time timeout — the exact semantics of the
  * reference's Redis `getset(key, value, ttl)` state store
  * (`key_value_store.py:131-150`).
  *
  * Scale: state is partitioned by the same series key used for Kafka
  * partitioning (ST2), so a 1000-executor job shards state with zero
  * cross-talk; RocksDB state store handles state > memory. Within a
  * micro-batch, samples are processed in timestamp order.
  */
object StreamingRate {
  /** @param stateTtl when true, expire idle series state with a
    *   processing-time timeout of 3×interval (the reference's Redis TTL);
    *   the expiry emits nothing. Processing-time timeouts make Spark
    *   re-trigger micro-batches continuously under the default 0-interval
    *   trigger — production jobs pair this with
    *   `Trigger.ProcessingTime(interval)` (ST6). Replays use
    *   `stateTtl = false`; the Δt > 3×interval guard already enforces
    *   staleness semantics on emission either way — the timeout only
    *   bounds state size.
    */
  def fold(stateTtl: Boolean)
      : KeyedFold[(String, String), MetricSample, (Double, Double), RateResult] =
    new KeyedFold[(String, String), MetricSample, (Double, Double), RateResult](
      Seq("series", "metric"), Ordering.by(_.ts),
      if (stateTtl)
        KeyedFold.IdleFor(_.interval * Schemas.KvStoreTtlMultiple * 1000L)
      else KeyedFold.NoTimeout)({ (prev, s) =>
      val (rate, conf) = RateGuards.compute(prev, s.value, s.ts, s.interval)
      // getset semantics: state ALWAYS advances, even on skip
      ((s.value, s.ts),
       Some(RateResult(s.series, s.metric, s.value, s.ts, rate, conf)))
    })

  def apply(ds: Dataset[MetricSample],
            stateTtl: Boolean = true): Dataset[RateResult] =
    fold(stateTtl)(ds)
}
