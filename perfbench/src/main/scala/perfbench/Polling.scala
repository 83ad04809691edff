package perfbench

import java.nio.file.Path
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.LongAdder

import scala.collection.concurrent.TrieMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.sinks.InfluxSink
import graft.streaming.{MetricSample, Pipelines}

/** The in-process Influx endpoint: keeps every accepted line for the
  * correctness check and counts what the sink asked of it. The first
  * attempt of about one batch in `OutageEvery` fails with a transport
  * error, so the sink's whole-batch retry runs without changing what is
  * finally delivered. A JVM-wide object: the sink calls it from tasks. */
object CountingTransport {
  val OutageEvery = 64
  val lines = new ConcurrentLinkedQueue[String]()
  val calls = new LongAdder
  val sent = new LongAdder
  val retries = new LongAdder
  val nanos = new LongAdder
  private val failedOnce = TrieMap.empty[(String, Int), Unit]

  def reset(): Unit = {
    lines.clear(); calls.reset(); sent.reset(); retries.reset(); nanos.reset()
    failedOnce.clear()
  }

  def send(batch: Seq[String]): InfluxSink.WriteResult = {
    val t0 = System.nanoTime()
    calls.increment()
    val id = (batch.head, batch.size)
    val result =
      if (batch.head.hashCode % OutageEvery == 0 && failedOnce.put(id, ()).isEmpty) {
        retries.increment()
        InfluxSink.TransportError
      } else {
        batch.foreach(lines.add)
        sent.add(batch.size)
        InfluxSink.Ok
      }
    nanos.add(System.nanoTime() - t0)
    result
  }

  /** Lines accepted so far, emptied. */
  def drain(): Seq[String] = Iterator.continually(lines.poll()).takeWhile(_ != null).toSeq
}

/** One polling query checkpointed at `ckpt`, the generator that feeds it,
  * and what it reports back. */
final class PollingQuery(spark: SparkSession, seed: Long, nSeries: Int, ckpt: Path,
                         tracer: Tracer) {
  import spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
  val gen = new PollingGen(seed, nSeries)
  // a fixed partition count, as a Kafka topic has, whatever the appends
  val input: MemoryStream[WireInput] =
    MemoryStream[WireInput](spark.sparkContext.defaultParallelism)
  /** batch id → (sink write ms, time the sink finished, ns) */
  val batches = TrieMap.empty[Long, (Double, Long)]
  private val allowed = gen.allowedKeys
  private val ref = new LinesRef(allowed.toSet)
  private val regen = new PollingGen(seed, nSeries)
  var missing = 0

  private val wire: DataFrame = {
    val ds = input.toDS()
    val samples = ds.filter($"raw".isNull)
      .select($"series", $"metric", $"value", $"ts", $"interval").as[MetricSample]
    val malformed = ds.filter($"raw".isNotNull).select(
      concat(split($"series", "\\|").getItem(0), lit("-processed")).as("topic"),
      concat_ws("|", $"series", $"metric").as("key"), $"raw".as("value"))
    Pipelines.pollingToKafka(samples, stateTtl = false).unionByName(malformed)
  }

  private def sink(df: DataFrame, batchId: Long): Unit = tracer.span("bench.micro_batch") {
    val t0 = System.nanoTime()
    val lines = tracer.span("streaming.Pipelines.kafkaToInfluxLines")(
      Pipelines.kafkaToInfluxLines(df, allowed))
    tracer.span("sinks.InfluxSink.write")(InfluxSink.write(lines, CountingTransport.send))
    val t1 = System.nanoTime()
    batches(batchId) = ((t1 - t0) / 1e6, t1)
  }

  var q: StreamingQuery = _

  def start(): Unit = {
    q = wire.writeStream.option("checkpointLocation", ckpt.toString)
      .foreachBatch((df: DataFrame, id: Long) => sink(df, id)).start()
  }

  /** Append the next `n` samples (and any malformed records riding with
    * them) as one offset, which it returns. */
  def append(n: Int): Long = {
    val buf = mutable.ArrayBuffer.empty[WireInput]
    for (_ <- 0 until n) {
      val (s, _, raw) = gen.next()
      buf += s
      raw.foreach(buf += _)
    }
    input.addData(buf).json().toLong
  }

  def progress: Seq[StreamingQueryProgress] = q.recentProgress.toSeq.filter(_.numInputRows > 0)

  def stop(): Unit = {
    if (q != null) q.stop()
    Main.deleteRecursively(ckpt)
  }

  /** Check the lines delivered since the last call against [[LinesRef]]
    * over the samples appended since then, in order. Returns a pass flag
    * per sample and the count of delivered lines no sample accounts for. */
  def verify(): (Array[Boolean], Int) = {
    val actual = mutable.HashMap.empty[String, Int]
    CountingTransport.drain().foreach(l => actual(l) = actual.getOrElse(l, 0) + 1)
    val ok = Array.fill((gen.emitted - regen.emitted).toInt)(true)
    for (i <- ok.indices) {
      ref(regen.next()._1).foreach { line =>
        actual.get(line) match {
          case Some(c) if c > 1 => actual(line) = c - 1
          case Some(_)          => actual.remove(line)
          case None             => ok(i) = false; missing += 1
        }
      }
    }
    (ok, actual.values.sum)
  }
}

/** The polling dataflow as the reference deploys it: metric samples on a
  * stream through `Pipelines.pollingToKafka`, the Kafka-shaped records
  * (plus malformed ones injected on the wire) through
  * `Pipelines.kafkaToInfluxLines` with the consumer's key allow-list, and
  * `InfluxSink.write` into [[CountingTransport]].
  *
  * A run alternates two loops on one query. In the open loop a generator
  * appends samples at a fixed offered rate, below saturation, whether or
  * not the pipeline keeps up, and each sample is timed from the moment it
  * was due until the sink finished writing its micro-batch, so a stall
  * also charges the samples queued behind it. In the closed drains a
  * backlog is queued while the consumer is idle and drained as fast as
  * the pipeline goes, as a consumer catching up after an outage does; the
  * drain rate is the pipeline's capacity, where per-row work dominates
  * instead of the micro-batch lifecycle.
  */
final class PollingStream(spark: SparkSession, seed: Long, workDir: Path) extends Workload {
  import PollingStream._

  private var runs = 0
  private def query(tracer: Tracer): PollingQuery = {
    runs += 1
    new PollingQuery(spark, seed, Series, workDir.resolve(s"checkpoint-$runs"), tracer)
  }

  def setup(): Unit = {
    CountingTransport.reset()
    val q = query(new Tracer(false))
    try {
      q.start()
      q.append(SetupSamples)
      q.q.processAllAvailable()
    } finally q.stop()
  }

  def run(seconds: Double, rec: Recorder, tracer: Tracer): Layers = {
    CountingTransport.reset()
    val q = query(tracer)
    q.start()
    try {
      // host speed drifts over tens of seconds, so the measured time is
      // spread over rounds of open loop and drains rather than two blocks
      openLoop(q, WarmupSeconds, 0, rec)
      val rounds = (0 until Rounds).map { _ =>
        val r = openLoop(q, RoundWarmupSeconds, seconds * OpenLoopShare / Rounds, rec)
        drains(q, seconds * (1 - OpenLoopShare) / Rounds, rec)
        r
      }
      val lateN = rounds.map(_._2).sum
      val loop = Map(
        "streaming.backlog_rows_end" -> Stats.mean(rounds.map(_._3)),
        "streaming.generator_late_ms" -> (if (lateN > 0) rounds.map(_._1).sum / lateN / 1e6 else 0.0))
      val p = if (!tracer.enabled) Nil
        else tracer.progressOf(q.q.id, q.progress.lastOption.fold(0L)(_.batchId))
      val calls = CountingTransport.calls.sum.toDouble
      val n = math.max(1, p.size).toDouble
      def phase(k: String) = Stats.mean(p.map(x => Option(x.durationMs.get(k)).fold(0.0)(_.toDouble)))
      val state = p.flatMap(_.stateOperators.headOption)
      Layers(loop ++ Map(
        "streaming.batch_planning_ms" -> phase("queryPlanning"),
        "streaming.batch_getbatch_ms" -> phase("getBatch"),
        "streaming.batch_addbatch_ms" -> phase("addBatch"),
        "streaming.batch_walcommit_ms" -> phase("walCommit"),
        "streaming.batch_commitoffsets_ms" -> phase("commitOffsets"),
        "streaming.batch_trigger_ms" -> phase("triggerExecution"),
        "streaming.rows_per_batch" -> Stats.mean(p.map(_.numInputRows.toDouble)),
        "streaming.state_rows" -> state.lastOption.fold(0.0)(_.numRowsTotal.toDouble),
        "streaming.state_memory_bytes" -> state.lastOption.fold(0.0)(_.memoryUsedBytes.toDouble),
        "streaming.state_commit_ms" -> Stats.mean(state.map(_.commitTimeMs.toDouble)),
        "streaming.rows_dropped_by_watermark" -> state.map(_.numRowsDroppedByWatermark.toDouble).sum,
        "sinks.calls" -> calls / n,
        "sinks.lines_per_call" -> (if (calls > 0) CountingTransport.sent.sum / calls else 0.0),
        "sinks.transport_ms" -> CountingTransport.nanos.sum / 1e6 / n,
        "sinks.retries" -> CountingTransport.retries.sum / n,
        "sinks.points_dropped" -> q.missing / n),
        p.map(x => s"batch:${x.batchId}" -> x.durationMs.get("triggerExecution").toDouble).toMap)
    } catch {
      case e: Exception =>
        rec.fail("polling_stream.query", s"${e.getClass.getSimpleName}: ${e.getMessage}")
        Layers(Map.empty, Map.empty)
    } finally q.stop()
  }

  /** The open loop: `warmup` seconds untimed, then `seconds` whose samples
    * are timed. Returns the generator's total lateness (ns) over how many
    * timed samples, and the rows still queued when the window closed. */
  private def openLoop(q: PollingQuery, warmup: Double, seconds: Double,
                       rec: Recorder): (Double, Long, Double) = {
    // (offset, first sample, samples); sample i is due at t0 + (i - base) / Rate
    val chunks = mutable.ArrayBuffer.empty[(Long, Long, Int)]
    var lateNs = 0.0
    var lateN = 0L
    val base = q.gen.emitted
    val t0 = System.nanoTime()
    val windowStart = t0 + (warmup * 1e9).toLong
    val windowEnd = windowStart + (seconds * 1e9).toLong
    val total = base + ((windowEnd - t0) / 1e9 * Rate).toLong
    def due(i: Long): Long = t0 + ((i - base) * 1e9 / Rate).toLong
    var tick = t0
    while (q.gen.emitted < total) {
      val target = math.min(base + ((System.nanoTime() - t0) / 1e9 * Rate).toLong + 1, total)
      val first = q.gen.emitted
      if (target > first) {
        val off = q.append((target - first).toInt)
        val at = System.nanoTime()
        chunks += ((off, first, (target - first).toInt))
        for (i <- first until target if due(i) >= windowStart) { lateNs += at - due(i); lateN += 1 }
      }
      tick += TickNs
      val sleepNs = tick - System.nanoTime()
      if (sleepNs > 0) Thread.sleep(sleepNs / 1000000, (sleepNs % 1000000).toInt)
    }
    q.q.processAllAvailable()

    // which batch carried each append, and when its sink write finished
    val p = q.progress
    val ends = p.flatMap(x => x.sources.headOption.map(s => (s.endOffset.toLong, x.batchId))).sortBy(_._1)
    def commitOf(offset: Long): Option[Long] =
      ends.find(_._1 >= offset).flatMap(e => q.batches.get(e._2)).map(_._2)
    val (ok, unexpected) = q.verify()
    for ((off, first, n) <- chunks; i <- first until first + n) {
      val commit = commitOf(off)
      if (!ok((i - base).toInt) || commit.isEmpty) rec.fail(s"sample#$i", "line missing or wrong")
      else if (due(i) >= windowStart) rec.passed("read", (commit.get - due(i)) / 1e6)
    }
    if (unexpected > 0) rec.fail("polling_stream.lines", s"$unexpected unexpected lines")
    q.batches.values.foreach { case (ms, end) =>
      if (end >= windowStart && end <= windowEnd) rec.timing("write", ms)
    }
    val committedAtEnd = p.filter(x => q.batches.get(x.batchId).exists(_._2 <= windowEnd))
      .flatMap(_.sources.headOption.map(_.endOffset.toLong)).maxOption.getOrElse(-1L)
    (lateNs, lateN, chunks.filter(_._1 > committedAtEnd).map(_._3).sum.toDouble)
  }

  /** Closed drains of `Backlog` samples each, for about `seconds`. */
  private def drains(q: PollingQuery, seconds: Double, rec: Recorder): Unit = {
    var spent = 0.0
    var d = 0
    while (d == 0 || spent < seconds) {
      q.append(Backlog)
      val t0 = System.nanoTime()
      q.q.processAllAvailable()
      val s = (System.nanoTime() - t0) / 1e9
      val (ok, unexpected) = q.verify()
      if (ok.forall(identity) && unexpected == 0) {
        rec.passed("drain", s * 1000)
        rec.rate(Backlog, s)
      } else rec.fail(s"drain#$d", s"${ok.count(!_)} lines missing or wrong, $unexpected unexpected")
      spent += s
      d += 1
    }
  }
}

object PollingStream {
  val Series = 500
  /** Offered rate of the open loop, samples/s: below saturation on 4 cores. */
  val Rate = 2000
  /** Untimed open loop before the first round: the JIT keeps speeding the
    * micro-batch up for the first several seconds of a JVM. */
  val WarmupSeconds = 6.0
  /** Untimed start of each round's open loop, after the drain left the
    * pipeline idle. */
  val RoundWarmupSeconds = 1.0
  val Rounds = 4
  val TickNs = 20000000L
  /** Share of each round given to the open loop; the rest drains. */
  val OpenLoopShare = 0.7
  val Backlog = 20000
  val SetupSamples = 2000
}
