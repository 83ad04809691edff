package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import org.apache.spark.sql.functions._

import graft.core.Schemas
import graft.dsl.MetricsDsl.{GroupConfig, TargetSpec}
import graft.operators.GroupAssembly
import graft.sinks.InfluxSink
import graft.streaming.{KafkaShaped, MetricSample, Pipelines}

object PipelinesSpec {
  /** Transport-call counter for failure-mode tests; a JVM-static survives
    * task failure (accumulators from failed tasks are discarded). */
  val calls = new java.util.concurrent.atomic.AtomicInteger(0)
}

/** The full polling→Kafka→Influx dataflow, end to end: a MemoryStream of
  * counter samples through the stateful rate transform, fan-out encode,
  * decode+validate, line rendering, and the batching sink transport. */
class PipelinesSpec extends SparkSpec {
  import spark.implicits._

  test("polling to kafka to influx lines, end to end") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[MetricSample]
    val q = Pipelines.pollingToKafka(input.toDS(), stateTtl = false,
      globalTopic = Some("global-processed"))
      .writeStream.format("memory").queryName("wire")
      .outputMode("append").start()
    try {
      input.addData(MetricSample("dc1|r1|if|eth0", "bits_in", 0.0, 1000.0, 60))
      q.processAllAvailable()
      input.addData(MetricSample("dc1|r1|if|eth0", "bits_in", 600.0, 1060.0, 60))
      q.processAllAvailable()
    } finally q.stop()

    val wire = spark.table("wire")
    // fan-out: each sample lands on its site topic AND the global topic,
    // keyed by the full series|metric key
    assert(wire.select("topic").distinct().as[String].collect().toSet ==
      Set("dc1-processed", "global-processed"))
    assert(wire.select("key").distinct().as[String].collect().toSeq ==
      Seq("dc1|r1|if|eth0|bits_in"))

    // consumer side: decode the site-topic records and render lines
    val lines = Pipelines.kafkaToInfluxLines(
      wire.filter($"topic" === "dc1-processed"))
      .as[String].collect().toSet
    // `|` is not in the influx escape class (only , = whitespace)
    assert(lines == Set(
      "bits_in,series=dc1|r1|if|eth0 bits_in__counter=0.0 1000",
      "bits_in,series=dc1|r1|if|eth0 bits_in__counter=600.0,bits_in__gauge=10 1060"))

    // transport: batches flow through InfluxSink with retry policy
    // (collected via accumulator — the foreachPartition closure runs on
    // executors, so driver-side collections would mutate a copy)
    val sent = spark.sparkContext.collectionAccumulator[String]("sent")
    InfluxSink.write(
      Pipelines.kafkaToInfluxLines(wire.filter($"topic" === "dc1-processed")),
      transport = batch => { batch.foreach(sent.add); InfluxSink.Ok },
      batchSize = 1)
    assert(sent.value.size() == 2)
  }

  test("site topic is the series' first `|` component, as the regex " +
    "split gave it") {
    val series = Seq(null, "", "nopipe", "|lead", "dc1|r1|if")
    val wire = Pipelines.pollingToKafka(
      series.map(s => MetricSample(s, "m", 1.0, 100.0, 60)).toDS(),
      stateTtl = false)
    val split0 = concat(
      split(get_json_object(col("value"), "$.series"), "\\|").getItem(0),
      lit("-processed"))
    val got = wire.select(col("topic"), split0, col("key"))
      .as[(String, String, String)].collect().toSet
    assert(got == Set((null, null, "m"), ("-processed", "-processed", "|m"),
      ("nopipe-processed", "nopipe-processed", "nopipe|m"),
      ("-processed", "-processed", "|lead|m"),
      ("dc1-processed", "dc1-processed", "dc1|r1|if|m")))
  }

  test("influx sink: HTTP 400 falls back to point-by-point, drops poison") {
    val lines = Seq("good_a v=1 1", "poison v=x 2", "good_b v=3 3")
      .toDF("line")
    val sent = spark.sparkContext.collectionAccumulator[String]("sent400")
    val calls = spark.sparkContext.longAccumulator("calls400")
    InfluxSink.write(lines.coalesce(1), transport = { batch =>
      calls.add(1)
      if (batch.size > 1) InfluxSink.ClientError // batch POST rejected
      else if (batch.head.startsWith("poison")) InfluxSink.ClientError
      else { batch.foreach(sent.add); InfluxSink.Ok }
    }, batchSize = 10)
    // one batch attempt + 3 single-point fallbacks; poison dropped, batch done
    assert(sent.value.size() == 2)
    assert(calls.value == 4)
  }

  test("influx sink: transport outage retries whole batch, then fails the task") {
    // accumulators from FAILED tasks are discarded — count through a
    // JVM-static (local-mode executors share the test JVM). Spark retries
    // a failed local task up to spark.task.maxFailures times, so assert
    // on the per-task-attempt call count via modular arithmetic.
    PipelinesSpec.calls.set(0)
    val lines = Seq("a v=1 1", "b v=2 2").toDF("line")
    val ex = intercept[org.apache.spark.SparkException] {
      InfluxSink.write(lines.coalesce(1), transport = { _ =>
        PipelinesSpec.calls.incrementAndGet(); InfluxSink.TransportError
      }, batchSize = 10, maxRetries = 3)
    }
    // each task attempt: 3 whole-batch calls, NO per-point calls against a
    // dead endpoint; the task fails → micro-batch redelivery (at-least-once)
    assert(PipelinesSpec.calls.get() > 0)
    assert(PipelinesSpec.calls.get() % 3 == 0)
    assert(ex.getMessage.contains("influx write failed") ||
      Option(ex.getCause).exists(_.getMessage.contains("influx write failed")))
  }

  test("influx sink: all-points-fail client error keeps retrying then fails") {
    PipelinesSpec.calls.set(0)
    val lines = Seq("a v=1 1", "b v=2 2").toDF("line")
    intercept[org.apache.spark.SparkException] {
      InfluxSink.write(lines.coalesce(1), transport = { _ =>
        PipelinesSpec.calls.incrementAndGet(); InfluxSink.ClientError
      }, batchSize = 10, maxRetries = 2)
    }
    // per sink attempt: 1 batch call + 2 single-point fallbacks, nothing
    // lands → transient-api-unavailability retry (consumer.py:306-313):
    // 2 attempts × 3 calls per task attempt
    assert(PipelinesSpec.calls.get() > 0)
    assert(PipelinesSpec.calls.get() % 6 == 0)
  }

  test("influx sink boundary rejects unsafe tag keys, passes safe ones") {
    val df = Seq(("m", "v=1", 100L)).toDF("meas", "fields", "ts")
    // safe keys render fine
    val ok = InfluxSink.toLines(df, col("meas"),
      map(lit("site"), lit("dc1")), col("fields"), col("ts"))
      .as[String].head()
    assert(ok == "m,site=dc1 v=1 100")
    // a key with '=' would corrupt the wire (keys are unescaped for
    // reference parity) → loud failure at the boundary
    val ex = intercept[Exception] {
      InfluxSink.toLines(df, col("meas"),
        map(lit("bad=key"), lit("x")), col("fields"), col("ts"))
        .collect()
    }
    assert(ex.getMessage.contains("tag key") ||
      Option(ex.getCause).exists(_.getMessage.contains("tag key")))
  }

  test("at-least-once redelivery is absorbed by the idempotent upsert (ST1)") {
    import graft.sources.Sources
    val stored = Seq(("r1", "if", "1", 100.0, 10000L))
      .toDF("resource_id", "namespace", "key",
        "enrichment_creation_timestamp", "enrichment_ttl")
    val batch = Seq(("r1", "if", "1", 200.0, 10000L), ("r2", "if", "2", 150.0, 10000L))
      .toDF("resource_id", "namespace", "key",
        "enrichment_creation_timestamp", "enrichment_ttl")
    val once = Sources.enrichmentUpsert(stored, batch, nowTs = 500.0)
    // redelivery: the SAME batch applied again on top of the result
    val twice = Sources.enrichmentUpsert(once, batch, nowTs = 500.0)
    assert(once.collect().toSet == twice.collect().toSet)
  }

  test("decodeValidated enforces types and enums, drops observable (P8)") {
    import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}
    val schema = StructType(Seq(
      StructField("metric_name", StringType),
      StructField("metric_value", DoubleType),
      StructField("metric_type", StringType),
      StructField("ts", DoubleType)))
    val records = Seq(
      ("1", """{"metric_name":"a","metric_value":1.5,"metric_type":"gauge","ts":1}"""),
      // wrong-TYPED: string where a number is declared → field nulls → drop
      ("1", """{"metric_name":"b","metric_value":"fast","metric_type":"gauge","ts":2}"""),
      // missing required field
      ("1", """{"metric_name":"c","metric_type":"gauge","ts":3}"""),
      // enum violation (metric_type not in {gauge, counter})
      ("1", """{"metric_name":"d","metric_value":4.0,"metric_type":"dial","ts":4}"""),
      // corrupt JSON
      ("1", """{nope"""),
      // unconfigured key
      ("99", """{"metric_name":"e","metric_value":5.0,"metric_type":"gauge","ts":5}"""))
      .toDF("key", "value")
    val out = KafkaShaped.decodeValidated(records, schema,
      requiredFields = Seq("metric_name", "metric_value", "metric_type", "ts"),
      allowedKeys = Seq("1"),
      enums = Map("metric_type" -> Seq("gauge", "counter")))
    val rows = out.collect()
    assert(rows.map(_.getAs[String]("metric_name")).toSeq == Seq("a"))
    // the drop accounting is part of the plan: the SAME action that
    // produced the rows populated the observed metrics
    val m = out.queryExecution.observedMetrics("kafka_decode")
    assert(m.getAs[Long]("dropped_key") == 1)
    assert(m.getAs[Long]("dropped_corrupt") == 1)
    assert(m.getAs[Long]("dropped_schema") == 3)
    assert(m.getAs[Long]("passed") == 1)
    assert(m.getAs[Long]("total") == 6)
  }

  test("kafka io: site topics and connector options compose round-trip") {
    import graft.streaming.KafkaIO
    // reference topic scheme: <site>-<suffix> for every configured site
    assert(KafkaIO.topicsForSites(Seq("dc1", "dc2"), KafkaIO.MetricsSuffix) ==
      Seq("dc1-metrics", "dc2-metrics"))
    assert(KafkaIO.topicName("dc1", KafkaIO.ProcessedSuffix) == "dc1-processed")
    assert(KafkaIO.topicName("dc1", KafkaIO.ResourcesSuffix) == "dc1-resources")

    val src = KafkaIO.SourceConfig(
      bootstrapServers = "k1:9092,k2:9092",
      sites = Seq("dc1", "dc2"),
      topicSuffix = KafkaIO.MetricsSuffix,
      groupId = "metrics_processing_group",
      clientId = "metrics_processing_0")
    val so = KafkaIO.sourceOptions(src)
    assert(so("subscribe") == "dc1-metrics,dc2-metrics")
    assert(so("kafka.bootstrap.servers") == "k1:9092,k2:9092")
    assert(so("kafka.group.id") == "metrics_processing_group")
    assert(so("kafka.client.id") == "metrics_processing_0")
    // reference consumer defaults: 60s session, 1MiB fetch; the per-poll
    // record cap deliberately does NOT map to maxOffsetsPerTrigger
    assert(so("kafka.session.timeout.ms") == "60000")
    assert(!so.contains("maxOffsetsPerTrigger"))
    assert(KafkaIO.sourceOptions(src.copy(maxOffsetsPerTrigger = Some(100000)))
      .apply("maxOffsetsPerTrigger") == "100000")
    assert(so("kafka.max.partition.fetch.bytes") == "1048576")
    assert(so("failOnDataLoss") == "false")

    val snk = KafkaIO.SinkConfig("k1:9092", "/tmp/ckpt", Some(60L))
    val ko = KafkaIO.sinkOptions(snk)
    assert(ko == Map("kafka.bootstrap.servers" -> "k1:9092",
      "checkpointLocation" -> "/tmp/ckpt"))
    // the writer composes on a real fan-out frame without a broker
    // (start() would need one; composition is the sandbox-testable surface)
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[MetricSample]
    val fanout = Pipelines.pollingToKafka(input.toDS(), stateTtl = false)
    KafkaIO.sink(fanout, snk) // must not throw
  }

  test("metrics-group wire format round-trips through the kafka boundary") {
    import graft.dsl.MetricsDsl
    val tables = Map(
      "names" -> Seq(("1", "eth0"), ("2", "eth1")).toDF("index", "value"),
      "octets" -> Seq(("1", "100"), ("2", "200")).toDF("index", "value"))
    val cfg = GroupConfig("interface", 60,
      dimensions = Map("name" -> TargetSpec("names.$index")),
      metrics = Map("octets_in" -> TargetSpec("int(octets.$index)",
        valueType = "int", metricType = "counter")))
    val groups = GroupAssembly.assemble(
      MetricsDsl.evaluateIndexed(cfg, tables).get, cfg,
      resource = struct(
        lit("dc1").as("resource_site"), lit("net").as("resource_class"),
        lit("switch").as("resource_subclass"), lit("core").as("resource_type"),
        lit("r1").as("resource_id"), lit("r1.example.com").as("resource_endpoint"),
        lit("snmp").as("resource_plugin"),
        lit(1.7e9).as("resource_creation_timestamp"),
        map(lit("model"), lit("m1")).as("resource_metadata")),
      clockTs = lit(1.7e9))

    // producer side: canonical JSON value, series-ish key
    val wire = groups.select(col("index").as("key"),
      to_json(struct(col("metrics_group_type"), col("metrics_group_interval"),
        col("metrics_group_creation_timestamp"),
        col("metrics_group_schema_version"), col("resource"),
        col("dimensions"), col("metrics"))).as("value"))

    // consumer side: schema-validated decode with the fixed wire schema
    val decoded = KafkaShaped.decodeAndValidate(wire, Schemas.metricsGroup)
    assert(decoded.count() == 2)
    val row = decoded.filter(col("key") === "1")
      .select(col("resource.resource_id"),
        element_at(col("dimensions"), 1).getField("dimension_value"),
        element_at(col("metrics"), 1).getField("metric_value"),
        element_at(col("metrics"), 1).getField("metric_type"))
      .as[(String, String, Double, String)].head()
    assert(row == (("r1", "eth0", 100.0, "counter")))
  }
}
