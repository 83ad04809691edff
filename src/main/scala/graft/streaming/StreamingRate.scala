package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

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

/** Streaming counter→gauge conversion: `flatMapGroupsWithState` keyed by
  * series×metric, state = last (value, ts), TTL = 3×interval via
  * processing-time timeout — the exact semantics of the reference's Redis
  * `getset(key, value, ttl)` state store (`key_value_store.py:131-150`).
  *
  * The grouping is relational (`groupBy` on the `series` and `metric`
  * columns), not a typed key lambda: no `AppendColumns` deserializes each
  * sample to compute its key and appends a copy of the key to the shuffle,
  * and the map stage's task binary does not carry the source's input
  * partitions. The state store's key columns are `series, metric`.
  *
  * Scale: state is partitioned by the same series key used for Kafka
  * partitioning (ST2), so a 1000-executor job shards state with zero
  * cross-talk; RocksDB state store handles state > memory. Within a
  * micro-batch, samples are processed in timestamp order.
  */
object StreamingRate {
  /** @param stateTtl when true, expire idle series state with a
    *   processing-time timeout of 3×interval (the reference's Redis TTL).
    *   Note: processing-time timeouts make Spark re-trigger micro-batches
    *   continuously under the default 0-interval trigger — production jobs
    *   pair this with `Trigger.ProcessingTime(interval)` (ST6). Tests and
    *   replays use `stateTtl = false`; the Δt > 3×interval guard already
    *   enforces staleness semantics on emission either way — the timeout
    *   only bounds state size.
    */
  def apply(ds: Dataset[MetricSample],
            stateTtl: Boolean = true): Dataset[RateResult] = {
    implicit val outEnc = Encoders.product[RateResult]
    implicit val keyEnc = Encoders.tuple(Encoders.STRING, Encoders.STRING)
    implicit val stateEnc = Encoders.tuple(Encoders.scalaDouble, Encoders.scalaDouble)
    val timeoutMode =
      if (stateTtl) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    ds.toDF().groupBy(col("series"), col("metric"))
      .as[(String, String), MetricSample](keyEnc, ds.encoder)
      .flatMapGroupsWithState[(Double, Double), RateResult](
        OutputMode.Append, timeoutMode) {
        case (_, samples, state: GroupState[(Double, Double)]) =>
          if (state.hasTimedOut) {
            state.remove() // Redis TTL expiry
            Iterator.empty
          } else {
            var prev: Option[(Double, Double)] = state.getOption
            val out = samples.toSeq.sortBy(_.ts).map { s =>
              val (rate, conf) =
                RateGuards.compute(prev, s.value, s.ts, s.interval)
              // getset semantics: state ALWAYS advances, even on skip
              prev = Some((s.value, s.ts))
              state.update((s.value, s.ts))
              if (stateTtl)
                state.setTimeoutDuration(
                  s.interval * Schemas.KvStoreTtlMultiple * 1000L)
              RateResult(s.series, s.metric, s.value, s.ts, rate, conf)
            }
            out.iterator
          }
      }
  }
}
