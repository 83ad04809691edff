package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** A workload's measured run: what the traced run reports per layer. */
final case class Layers(values: Map[String, Double], opWallMs: Map[String, Double])

/** One benchmark workload over one Spark session. */
trait Workload {
  /** Recorder roles behind `read_*`, `write_p50_ms`. */
  def readRole: String = "read"
  def writeRole: String = "write"
  /** Generate the inputs and bring the engine to its first result; timed,
    * and repeated, by the caller. */
  def setup(): Unit
  /** Measure for about `seconds`; the tracer records only when enabled. */
  def run(seconds: Double, rec: Recorder, tracer: Tracer): Layers
}

object Main {
  val SetupRepeats = 3
  private val started = System.nanoTime()

  /** Progress on stderr, with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - started) / 1e9}%7.2f s] $msg")

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "read_p50_ms" -> "ms", "read_p90_ms" -> "ms",
    "write_p50_ms" -> "ms", "throughput_per_s" -> "1/s",
    "ok_ops_fraction" -> "ratio", "rss_peak_mb" -> "MB")

  val CurationRows: Seq[String] = Seq("pipeline_curate", "dedup_minhash_lsh",
    "ann_ivfpqt_build", "ann_ivfpqt_served", "ann_ivfpqt2_topk", "ann_ivfpqt2_recall")

  val PerLayer: Seq[(String, String)] = Seq(
    "spark.plan_ms" -> "ms", "spark.jobs_per_op" -> "count",
    "spark.tasks_per_op" -> "count", "spark.driver_wait_ms" -> "ms",
    "spark.executor_cpu_ms" -> "ms", "spark.executor_busy_ratio" -> "ratio",
    "spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "spark.gc_ms" -> "ms", "spark.task_skew" -> "ratio",
    "streaming.batch_planning_ms" -> "ms", "streaming.batch_getbatch_ms" -> "ms",
    "streaming.batch_addbatch_ms" -> "ms", "streaming.batch_walcommit_ms" -> "ms",
    "streaming.batch_commitoffsets_ms" -> "ms", "streaming.batch_trigger_ms" -> "ms",
    "streaming.rows_per_batch" -> "count", "streaming.state_rows" -> "count",
    "streaming.state_memory_bytes" -> "bytes", "streaming.state_commit_ms" -> "ms",
    "streaming.rows_dropped_by_watermark" -> "count",
    "streaming.backlog_rows_end" -> "count", "streaming.generator_late_ms" -> "ms",
    "sinks.calls" -> "count", "sinks.lines_per_call" -> "count",
    "sinks.transport_ms" -> "ms", "sinks.retries" -> "count",
    "sinks.points_dropped" -> "count",
    "dsl.parse_us" -> "us", "core.rows_scanned_per_row_returned" -> "ratio",
    "operators.reconcile_exec_ms" -> "ms", "operators.reconcile_changed_rows" -> "count",
    "core.inventory_write_bytes" -> "bytes") ++
    CurationRows.map(r => s"llm.row_ms.$r" -> "ms") ++
    CurationRows.map(r => s"llm.row_jobs.$r" -> "count") ++
    Seq("llm.recall_at_3" -> "ratio") ++
    Seq("bench", "core", "dsl", "operators", "streaming", "sinks", "llm", "spark")
      .map(l => s"self_ms.$l" -> "ms") ++
    Seq("trace.overhead_pct" -> "%")

  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(s"--$name")
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "workload")
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toDouble
    val trace = arg(args, "trace") == "1"
    val workDir = Paths.get(arg(args, "work-dir")).toAbsolutePath
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .config("spark.local.dir", workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", workDir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val w: Workload = workload match {
      case "polling_stream"  => new PollingStream(spark, seed, workDir)
      case "inventory_mixed" => new InventoryMixed(spark, seed, workDir)
      case "curation_ann"    => new CurationAnn(spark, seed, workDir)
      case other             => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val probeStart = hostProbeMs()
    log("session up")
    val setups = (1 to SetupRepeats).map { _ =>
      val t0 = System.nanoTime()
      w.setup()
      (System.nanoTime() - t0) / 1e9
    }
    log(s"set up ${setups.mkString(", ")} s")
    val rec = new Recorder
    w.run(seconds, rec, new Tracer(false))
    log("measured")

    val metrics: Seq[(String, String, Double)] =
      if (!trace) {
        val read = rec.timings(w.readRole)
        val values = Map(
          "setup_s" -> Stats.quantile(setups, 0.5),
          "read_p50_ms" -> Stats.quantile(read, 0.5),
          "read_p90_ms" -> Stats.quantile(read, 0.9),
          "write_p50_ms" -> Stats.quantile(rec.timings(w.writeRole), 0.5),
          "throughput_per_s" -> rec.rateMedian,
          "ok_ops_fraction" -> (rec.attempted - rec.failed.size).toDouble / math.max(1L, rec.attempted),
          "rss_peak_mb" -> peakRssMb)
        EndToEnd.map { case (n, u) => (n, u, values(n)) }
      } else traced(spark, w, seconds, rec, cores, workDir, workload, seed)

    val correct = rec.failed.isEmpty
    val detail = s"""{"workload":"$workload","seed":$seed,"seconds":$seconds,""" +
      s""""host":{"nproc":${Runtime.getRuntime.availableProcessors},"local_n":$cores,""" +
      s""""xmx_mb":${Runtime.getRuntime.maxMemory / (1 << 20)}},""" +
      s""""setup_runs_s":${setups.mkString("[", ",", "]")},""" +
      s""""host_probe_ms":[$probeStart,${hostProbeMs()}],""" +
      s""""failures":${rec.failed.take(20).map(f => s"""{"name":"${Json.esc(f.name)}","why":"${Json.esc(f.why)}"}""").mkString("[", ",", "]")}}"""
    println(detail)
    val m = metrics.map { case (n, u, v) => s""""$n":{"value":${Json.num(v)},"unit":"$u"}""" }
    println(s"""{"correct":$correct,"attempted":${rec.attempted},"failed":${rec.failed.size},""" +
      s""""metrics":${m.mkString("{", ",", "}")}}""")
    System.out.flush()
    try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    catch { case _: Throwable => }
    spark.stop()
  }

  /** The traced run: after the untraced measurement (each workload warms
    * up before it measures, so both are equally warm), a second one with
    * spans and listeners on. Its read p50 against the untraced one is the
    * tracing overhead. */
  private def traced(spark: SparkSession, w: Workload, seconds: Double, untraced: Recorder,
                     cores: Int, workDir: Path, workload: String, seed: Long): Seq[(String, String, Double)] = {
    val tracer = new Tracer(true)
    val rec = new Recorder
    tracer.attach(spark)
    val gc0 = gcMs
    val layers = w.run(seconds, rec, tracer)
    log("measured with tracing")
    val gc = gcMs - gc0
    // listener events are delivered asynchronously; let the bus drain
    Thread.sleep(1000)
    tracer.detach(spark)
    untraced.absorb(rec)
    val nOps = math.max(1, layers.opWallMs.size)
    val overhead = 100.0 * (Stats.quantile(rec.timings(w.readRole), 0.5) /
      Stats.quantile(untraced.timings(w.readRole), 0.5) - 1.0)
    val self = tracer.selfMsByLayer
    val values = sparkLayers(tracer, layers.opWallMs, cores, gc) ++ layers.values ++
      Seq("bench", "core", "dsl", "operators", "streaming", "sinks", "llm", "spark")
        .map(l => s"self_ms.$l" -> self.getOrElse(l, 0.0) / nOps) ++
      Map("trace.overhead_pct" -> overhead)
    tracer.writeSpans(workDir.resolve(s"spans-$workload-$seed.jsonl"))
    PerLayer.map { case (n, u) => (n, u, values.getOrElse(n, 0.0)) }
  }

  /** spark.* per-layer metrics over the traced operations. */
  def sparkLayers(t: Tracer, opWallMs: Map[String, Double], cores: Int,
                  gcMs: Double): Map[String, Double] = {
    val n = math.max(1, opWallMs.size).toDouble
    val tasks = t.tasks.tasksOf(opWallMs.contains)
    val byOp = tasks.groupBy(_.op)
    val wallMs = opWallMs.values.sum
    val driverWait = opWallMs.map { case (op, wall) =>
      val busy = Tracer.unionNs(byOp.getOrElse(op, Nil).map(x => (x.launch, x.finish))).toDouble
      math.max(0.0, wall - busy)
    }
    val skews = tasks.groupBy(_.stage).values.filter(_.size >= 2).map { ts =>
      val d = ts.map(x => math.max(1L, x.finish - x.launch).toDouble)
      d.max / Stats.quantile(d, 0.5)
    }
    Map(
      "spark.plan_ms" -> t.plans.totalMs / n,
      "spark.jobs_per_op" -> t.tasks.jobsOf(opWallMs.contains) / n,
      "spark.tasks_per_op" -> tasks.size / n,
      "spark.driver_wait_ms" -> driverWait.sum / n,
      "spark.executor_cpu_ms" -> tasks.map(_.cpuNs).sum / 1e6 / n,
      "spark.executor_busy_ratio" -> (if (wallMs > 0) tasks.map(_.runMs).sum / (wallMs * cores) else 0.0),
      "spark.shuffle_write_bytes" -> tasks.map(_.shuffleWrite).sum / n,
      "spark.spill_bytes" -> tasks.map(_.spill).sum / n,
      "spark.gc_ms" -> gcMs / n,
      "spark.task_skew" -> Stats.mean(skews))
  }

  private def gcMs: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.toDouble).sum

  def deleteRecursively(p: Path): Unit = {
    val f = p.toFile
    if (f.exists()) {
      Option(f.listFiles()).foreach(_.foreach(c => deleteRecursively(c.toPath)))
      f.delete()
    }
  }

  /** A fixed single-threaded CPU task, timed: the host's speed at that
    * moment. Printed with each run so that runs on a slow or contended
    * host can be told apart; it is not a metric. */
  def hostProbeMs(): Double = {
    val t0 = System.nanoTime()
    var h = 0L
    var i = 0
    while (i < 50000000) { h = h * 31 + (i ^ (h >>> 7)); i += 1 }
    if (h == 42) println() // keeps the loop from being removed
    (System.nanoTime() - t0) / 1e6
  }

  /** Peak resident set of this JVM (Linux VmHWM), else its committed heap. */
  def peakRssMb: Double = {
    val status = Paths.get("/proc/self/status")
    if (Files.isReadable(status))
      Files.readAllLines(status).asScala.find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
        .getOrElse(Runtime.getRuntime.totalMemory / 1048576.0)
    else Runtime.getRuntime.totalMemory / 1048576.0
  }
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c    => c.toString
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
}
