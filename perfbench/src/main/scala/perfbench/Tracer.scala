package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced call: `parent` is 0 for an operation's root span. */
final case class Span(id: Long, parent: Long, op: String, name: String,
                      startNs: Long, endNs: Long)

/** Spans around each call the benchmark makes into a layer, plus the
  * Spark, query-execution and streaming listeners that count the work
  * underneath them. Disabled, it records nothing and registers nothing:
  * the untraced runs that give the end-to-end metrics pay no tracing cost.
  *
  * A span is named `<layer>.<call>`; its layer is the text before the
  * first dot. Spans stay in memory until the run ends.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val open = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val currentOp = ThreadLocal.withInitial[String](() => "")

  val tasks = new TaskStats
  val plans = new PlanStats
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = progress.add(e.progress)
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  def attach(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(tasks)
    spark.listenerManager.register(plans)
    spark.streams.addListener(streamListener)
  }

  def detach(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.removeSparkListener(tasks)
    spark.listenerManager.unregister(plans)
    spark.streams.removeListener(streamListener)
  }

  /** Run one operation: its jobs carry the op id, its spans share it. */
  def op[T](spark: SparkSession, opId: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      sc.setLocalProperty(TaskStats.OpProperty, opId)
      currentOp.set(opId)
      try span(name)(body)
      finally {
        sc.setLocalProperty(TaskStats.OpProperty, null)
        currentOp.set("")
      }
    }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val stack = open.get
      open.set(id :: stack)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, stack.headOption.getOrElse(0L), currentOp.get, name,
          t0, System.nanoTime()))
        open.set(stack)
      }
    }

  /** Progress reports of query `id` that carried rows, once the listener
    * has seen batch `through` (events arrive asynchronously). */
  def progressOf(id: java.util.UUID, through: Long): Seq[StreamingQueryProgress] = {
    def seen = progress.asScala.filter(_.id == id)
    val deadline = System.nanoTime() + 10000000000L
    while (!seen.exists(_.batchId >= through) && System.nanoTime() < deadline) Thread.sleep(20)
    seen.filter(_.numInputRows > 0).toSeq.sortBy(_.batchId)
  }

  def allSpans: Seq[Span] = spans.asScala.toSeq

  /** Total self time per layer, in ms: each span's duration minus the part
    * of it that its child spans cover. */
  def selfMsByLayer: Map[String, Double] = {
    val all = allSpans
    val children = all.groupBy(_.parent)
    all.groupBy(s => s.name.takeWhile(_ != '.')).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val covered = Tracer.unionNs(children.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
        (s.endNs - s.startNs - covered) / 1e6
      }.sum
    }
  }

  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = allSpans.sortBy(_.id).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":"${Json.esc(s.op)}",""" +
        s""""name":"${Json.esc(s.name)}","start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  /** Length of the union of [start, end) intervals. */
  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Per-task metrics, attributed to the operation whose job ran the task.
  * Streaming micro-batch jobs are attributed by batch id. */
final class TaskStats extends SparkListener {
  import TaskStats._

  private val stageOp = TrieMap.empty[Int, String]
  private val jobOp = TrieMap.empty[Int, String]
  val tasks = new ConcurrentLinkedQueue[Task]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val op = props.flatMap(p => Option(p.getProperty(OpProperty)))
      .orElse(props.flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
        .map("batch:" + _))
      .getOrElse("")
    jobOp(e.jobId) = op
    e.stageIds.foreach(stageOp(_) = op)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(Task(stageOp.getOrElse(e.stageId, ""), e.stageId,
      e.taskInfo.launchTime, e.taskInfo.finishTime, m.executorRunTime,
      m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.recordsRead))
  }

  def jobsOf(op: String => Boolean): Int = jobOp.values.count(op)
  def tasksOf(op: String => Boolean): Seq[Task] = tasks.asScala.toSeq.filter(t => op(t.op))
}

object TaskStats {
  val OpProperty = "perfbench.op"
  final case class Task(op: String, stage: Int, launch: Long, finish: Long,
                        runMs: Long, cpuNs: Long, shuffleWrite: Long,
                        spill: Long, recordsRead: Long)
}

/** Catalyst planning time (QueryPlanningTracker phases) per executed query. */
final class PlanStats extends QueryExecutionListener {
  private val ms = new java.util.concurrent.atomic.DoubleAdder

  private def add(qe: QueryExecution): Unit =
    ms.add(qe.tracker.phases.values.map(_.durationMs.toDouble).sum)
  override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = add(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = add(qe)

  def totalMs: Double = ms.sum()
}
