package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

import graft.operators.Reconcile
import graft.sinks.InfluxSink

/** End-to-end job assembly — the reference's three dataflows (SURVEY §3.3)
  * as composable stages. Each function is pure frame-in/frame-out, so the
  * SAME code runs as a Structured Streaming job (`readStream` source →
  * `writeStream` sink with checkpointing) or as a bounded batch replay —
  * which is exactly how the specs and the driver's oracle verify it.
  *
  * Wiring on a real cluster goes through [[KafkaIO]] (site-topic naming +
  * connector options, reference `framework/const.py:112-115`):
  * {{{
  *   val raw = KafkaIO.source(spark, KafkaIO.SourceConfig(
  *     brokers, sites, KafkaIO.MetricsSuffix, groupId))
  *   val samples = decodeToMetricSample(raw)            // KafkaShaped.decodeValidated
  *   KafkaIO.sink(Pipelines.pollingToKafka(samples),
  *     KafkaIO.SinkConfig(brokers, ckpt, triggerSeconds = Some(60)))  // ST6
  *     .start()
  * }}}
  */
object Pipelines {

  /** Wire schema of the processed-metrics payload (what
    * [[pollingToKafka]] emits and [[kafkaToInfluxLines]] expects). */
  val processedSchema: StructType = StructType(Seq(
    StructField("series", StringType),
    StructField("metric", StringType),
    StructField("value", DoubleType),
    StructField("ts", DoubleType),
    StructField("rate", LongType),
    StructField("confidence", DoubleType)))

  /** Polling dataflow (`polling_plugin_agent.py:367-404` → `:307-364`):
    * metric samples → stateful counter→gauge rate → per-site topic fan-out
    * frame for the Kafka sink. The site is the first component of the
    * series key (`site|resource|group|dims…`); the message key is the full
    * series key so per-series ordering survives Kafka partitioning (ST2).
    */
  def pollingToKafka(samples: Dataset[MetricSample],
                     globalTopic: Option[String] = None,
                     stateTtl: Boolean = true): DataFrame =
    KafkaShaped.encodeFanout(
      StreamingRate(samples, stateTtl).toDF(),
      siteCol = substring_index(col("series"), "|", 1),
      topicSuffix = "processed",
      keyCol = concat_ws("|", col("series"), col("metric")),
      payload = struct(col("series"), col("metric"), col("value"),
        col("ts"), col("rate"), col("confidence")),
      globalTopic = globalTopic)

  /** Consumer dataflow (`consumers/influxdb/consumer.py:396-424`):
    * kafka-shaped records → JSON decode + schema validation (+ optional
    * key filter) → line-protocol frame. Drive the transport with
    * `writeStream.foreachBatch((df, _) => InfluxSink.write(df, transport))`
    * — batch-atomic like the reference's whole-batch commit (ST1).
    *
    * Fields follow the reference's `name__type` convention
    * (`consumer.py:139-144`): the counter sample always, the derived
    * gauge only when the rate transform emitted one. Field values render
    * via Python-`{!r}` semantics ([[graft.functions.PyRepr]]): the double
    * with CPython shortest-repr, the long rate bare — byte parity with
    * the reference consumer's output.
    */
  def kafkaToInfluxLines(kafka: DataFrame,
                         allowedKeys: Seq[String] = Nil): DataFrame = {
    val decoded = KafkaShaped.validParsed(kafka, processedSchema, allowedKeys)
    def parsed(field: String) = col("parsed").getField(field)
    val fields = concat_ws(",",
      concat(parsed("metric"), lit("__counter="),
        graft.functions.PyRepr.pyRepr(parsed("value"))),
      when(parsed("rate").isNotNull,
        concat(parsed("metric"), lit("__gauge="), parsed("rate").cast("string"))))
    InfluxSink.toLines(decoded,
      measurement = parsed("metric"),
      tags = map(lit("series"), parsed("series")),
      fields = fields,
      tsSeconds = parsed("ts"))
  }

  /** Discovery dataflow (`discovery_plugin_agent.py:94-168` →
    * `resources/manager.py:46-142`): per micro-batch, reconcile the
    * incoming inventory snapshot against the stored one and hand the
    * MERGE-shaped change feed to `applyChanges` (Delta MERGE, partition
    * overwrite, …). Use as the `foreachBatch` body of the
    * `<site>-resources` stream. */
  def reconcileBatch(stored: DataFrame, incoming: DataFrame,
                     identityCols: Seq[String], storedTsCol: String,
                     incomingSetTs: Double, incomingTsCol: Option[String],
                     applyChanges: DataFrame => Unit): Unit =
    applyChanges(Reconcile.changes(stored, incoming, identityCols,
      storedTsCol, incomingSetTs, incomingTsCol))
}
