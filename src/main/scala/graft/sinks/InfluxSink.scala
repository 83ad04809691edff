package graft.sinks

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Influx

/** S8 — the InfluxDB line-protocol sink: render metrics-group rows to lines
  * and emit them in bounded batches through a pluggable transport.
  *
  * Reference `consumers/influxdb/consumer.py:50-394`: batch ≥200 points or
  * ≥15 s (`influxdb_consumer_configspec.ini:14-15`), 3 retries with backoff
  * (`:16-17`), and on HTTP 400 ONLY — the write API saying "unparseable
  * point" — fall back to point-by-point writes, dropping poison points
  * (`consumer.py:305-336`). A transport failure (connection refused, 5xx)
  * is NOT a poison-point problem: the reference keeps retrying the whole
  * batch and finally returns False to the Kafka consumer so the offset is
  * not committed (`:377-386`) — redelivery, at-least-once.
  *
  * The line formatting (F7-F9/W3) is static kernels called from
  * whole-stage codegen ([[graft.functions.Influx]]) and fuses with the
  * scan; only the transport runs in `foreachPartition`, so each executor
  * streams its partition in `batchSize` chunks — no driver collect, no
  * per-row round-trips. Use from streaming via
  * `writeStream.foreachBatch((df, _) => InfluxSink.write(df, ...))`.
  *
  * The reference's 15 s max-emit-interval (time-based flush) is subsumed
  * by the micro-batch trigger here: a `Trigger.ProcessingTime("15
  * seconds")` bound flushes at least that often, so only the size-based
  * chunking lives in this sink.
  */
object InfluxSink {

  /** Typed outcome of one transport call — the distinction drives the
    * retry policy exactly as the reference's exception types do
    * (`InfluxDBClientError e.code == 400` vs everything else). */
  sealed trait WriteResult
  /** Write accepted. */
  case object Ok extends WriteResult
  /** HTTP 400: at least one point is unparseable → point-by-point fallback. */
  case object ClientError extends WriteResult
  /** Transport down / server error → retry the WHOLE batch, never
    * point-by-point (one call per point against a dead endpoint would
    * multiply the outage cost by the batch size). */
  case object TransportError extends WriteResult

  /** The transport boundary: sends one batch of lines. An HTTP
    * implementation belongs here; tests inject fakes. */
  type Transport = Seq[String] => WriteResult

  /** Render rows to line protocol. `fields` must already be the rendered
    * field set (e.g. `name__gauge=1.5`). Tag KEYS are always validated at
    * this boundary (the renderer deliberately does not escape them, for
    * byte parity with `consumer.py:123-126` — an unsafe key must fail
    * loudly rather than corrupt the wire). */
  def toLines(df: DataFrame, measurement: Column, tags: Column,
              fields: Column, tsSeconds: Column): DataFrame =
    df.select(Influx.line(measurement, Influx.assertSafeTagKeys(tags),
      fields, tsSeconds).as("line"))

  /** Write a (batch or foreachBatch) DataFrame of lines through the
    * transport with the reference's batch/retry/poison-point policy:
    *
    *  - up to `maxRetries` attempts per batch, `backoffMs` sleep between
    *    transport-error attempts (`write_api_fail_backoff_interval`);
    *  - on [[ClientError]], fall back to point-by-point, dropping poison
    *    points; if NOTHING sent, keep retrying (the reference assumes an
    *    all-points failure is transient api unavailability, `:306-313`);
    *  - a batch still unsent after all retries throws, failing the Spark
    *    task → the micro-batch retries/redelivers (the reference's
    *    `return False` to the Kafka consumer — at-least-once, ST1).
    */
  def write(lines: DataFrame, transport: Transport, batchSize: Int = 200,
            maxRetries: Int = 3, backoffMs: Long = 0L): Unit = {
    lines.select(col("line")).foreachPartition {
      (it: Iterator[org.apache.spark.sql.Row]) =>
        it.map(_.getString(0)).grouped(batchSize).foreach { batch =>
          var attempt = 0
          var done = false
          while (!done && attempt < maxRetries) {
            transport(batch) match {
              case Ok => done = true
              case ClientError =>
                val sent = batch.count(l => transport(Seq(l)) == Ok)
                // ≥1 point landed: the rest are poison, drop them (:329-336)
                if (sent > 0) done = true
              case TransportError =>
                if (backoffMs > 0 && attempt < maxRetries - 1)
                  Thread.sleep(backoffMs)
            }
            attempt += 1
          }
          if (!done) throw new java.io.IOException(
            s"influx write failed after $maxRetries attempts " +
              s"(${batch.size} points); failing batch for redelivery")
        }
    }
  }
}
