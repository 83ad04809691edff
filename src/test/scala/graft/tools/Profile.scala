package graft.tools

import scala.collection.mutable
import scala.concurrent.{Await, Promise}
import scala.concurrent.duration._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

import graft.{Bench, Session, SparkEntry}
import graft.Verify.jsonString

/** The one measuring tool for `SparkEntry.queries` rows.
  *
  * `Profile <regex…>` runs every row whose name matches an argument (a
  * plain name matches itself) at `$SPARK_GRAFT_SF_DIR` (default sf0.1) on
  * the `graft.Session` engine, in two passes with the substrate memos
  * cleared between them, as `graft.Bench` does. Per row and pass it
  * prints one JSON line: build, plan (`executedPlan`) and execute
  * seconds — execute computes the full result through the `noop` sink,
  * never `count()`, which column pruning may cut short — then jobs,
  * stages and tasks, executor run and CPU time, shuffle and spill bytes,
  * and the top stages by executor time. A row that throws is reported as
  * failed and is not timed. The last line lists the failed rows and the
  * median jobs per row.
  *
  * `Profile --explain <regex…>` dumps formatted physical plans instead.
  * With `PLAN_DIR` set, each plan goes to `<PLAN_DIR>/<query>.txt` with
  * the run-specific parts normalized away (expression, lambda, RDD and
  * plan ids, call sites, lambda class ids, object hashes, store-path
  * pids), so two trees' dumps compare with a plain `diff -r`. Otherwise plans print to
  * stdout.
  *
  * Usage: `sbt "Test/runMain graft.tools.Profile dedup_.* q1_pricing"` */
object Profile {
  final case class Stage(id: Int, name: String, tasks: Int, runMs: Long,
                         cpuMs: Long)
  final case class Stats(jobs: Int, stages: Int, tasks: Int, runMs: Long,
                         cpuMs: Long, shuffleRead: Long, shuffleWrite: Long,
                         spill: Long, top: Seq[Stage])
  final case class Row(build: Double, plan: Double, execute: Double,
                       stats: Stats)

  private val FenceDesc = "profile:-fence-"

  /** Per-row job, stage and task counts. A job counts for the row its
    * `profile:<q>` description names; a streaming micro-batch job carries
    * its stream's own description and counts for the row that is open. */
  final class Listener extends SparkListener {
    private final class Acc {
      var jobs = 0
      val stages = mutable.Map[Int, Stage]()
      var shuffleRead, shuffleWrite, spill = 0L
    }
    private var open = ""
    private var fence = Promise[Unit]()
    private var fenceJob = -1
    private val stageOf = mutable.Map[Int, (String, String)]() // row, name
    private val rows = mutable.Map[String, Acc]()

    def begin(row: String): Unit = synchronized { open = row }

    /** Runs a marker job and waits for its end: the listener bus delivers
      * in order, so every event of the row before it has arrived. */
    def drain(spark: SparkSession): Unit = {
      val done = synchronized { fence = Promise[Unit](); fence }
      spark.sparkContext.setJobDescription(FenceDesc)
      spark.sparkContext.parallelize(Seq(0), 1).count()
      Await.result(done.future, 1.minute)
    }

    /** The counts of `row` since it was last taken. */
    def take(row: String): Stats = synchronized {
      val a = rows.remove(row).getOrElse(new Acc)
      val st = a.stages.values.toSeq
      Stats(a.jobs, st.size, st.map(_.tasks).sum, st.map(_.runMs).sum,
        st.map(_.cpuMs).sum, a.shuffleRead, a.shuffleWrite, a.spill,
        st.sortBy(-_.runMs).take(3))
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val desc = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse("")
      if (desc == FenceDesc) fenceJob = e.jobId
      else {
        val row =
          if (desc.startsWith("profile:")) desc.stripPrefix("profile:")
          else open
        rows.getOrElseUpdate(row, new Acc).jobs += 1
        e.stageInfos.foreach(i => stageOf(i.stageId) = (row, i.name))
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      if (e.jobId == fenceJob) fence.trySuccess(())
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for ((row, name) <- stageOf.get(e.stageId); m <- Option(e.taskMetrics)) {
        val a = rows.getOrElseUpdate(row, new Acc)
        val s = a.stages.getOrElse(e.stageId, Stage(e.stageId, name, 0, 0, 0))
        a.stages(e.stageId) = s.copy(tasks = s.tasks + 1,
          runMs = s.runMs + m.executorRunTime,
          cpuMs = s.cpuMs + m.executorCpuTime / 1000000L)
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** One pass of one row under `listener`: its timings and counts, or
    * what it threw. */
  def profile(spark: SparkSession, sfDir: String, listener: Listener,
              name: String, fn: Bench.Query): Either[Throwable, Row] = {
    def lap[T](run: => T) = Bench.timeRow(spark, s"profile:$name")(run)
    listener.begin(name)
    val timed = lap(fn(spark, sfDir)).flatMap { case (df, build) =>
      lap(df.queryExecution.executedPlan).flatMap { case (_, plan) =>
        lap(df.write.format("noop").mode("overwrite").save())
          .map { case (_, execute) => (build, plan, execute) }
      }
    }
    listener.drain(spark)
    val stats = listener.take(name)
    timed.map { case (b, p, e) => Row(b, p, e, stats) }
  }

  def json(name: String, pass: Int, r: Either[Throwable, Row]): String = {
    val head = s"""{"query":${jsonString(name)},"pass":$pass,"""
    r match {
      case Left(e) => head + s""""failed":${jsonString(String.valueOf(e))}}"""
      case Right(Row(b, p, x, st)) =>
        val top = st.top.map(s => s"""{"stage":${s.id},"name":""" +
          s"""${jsonString(s.name)},"tasks":${s.tasks},""" +
          s""""run_ms":${s.runMs},"cpu_ms":${s.cpuMs}}""")
        head + f""""build_s":$b%.3f,"plan_s":$p%.3f,"execute_s":$x%.3f,""" +
          s""""jobs":${st.jobs},"stages":${st.stages},"tasks":${st.tasks},""" +
          s""""executor_run_ms":${st.runMs},"executor_cpu_ms":${st.cpuMs},""" +
          s""""shuffle_read_bytes":${st.shuffleRead},""" +
          s""""shuffle_write_bytes":${st.shuffleWrite},""" +
          s""""spill_bytes":${st.spill},"top_stages":""" +
          top.mkString("[", ",", "]") + "}"
    }
  }

  /** The formatted physical plan of row `name`. */
  def plan(spark: SparkSession, sfDir: String, name: String): String =
    SparkEntry.queries(name)(spark, sfDir)
      .queryExecution.explainString(FormattedMode)

  /** `plan` with the run-specific parts normalized away. */
  def normalize(plan: String): String = plan
    .replaceAll("#\\d+", "#N").replaceAll("id=\\d+", "id=N")
    .replaceAll("lambda (\\w+?)_\\d+#", "lambda $1_N#")
    .replaceAll("RDD\\[\\d+\\] at (\\w+) at [\\w.$]+:\\d+", "RDD[N] at $1")
    .replaceAll("Lambda\\$\\d*/0x[0-9a-f]+", "Lambda\\$N")
    .replaceAll("@[0-9a-f]+", "@H")
    .replaceAll("_idx_\\d+_[0-9a-f]+", "_idx_P")

  def main(args: Array[String]): Unit = {
    val explain = args.headOption.contains("--explain")
    val pats = if (explain) args.toSeq.tail else args.toSeq
    require(explain || pats.nonEmpty, "pass query-name regexes")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session()
    val names = SparkEntry.queries.keys.filter(n =>
      (if (pats.nonEmpty) pats else Seq("q1_pricing", "q3_shipping",
        "j1_enrichment_join", "a1_rate", "dsl_filter_mega", "ann_ivf_topk"))
        .exists(n.matches)).toSeq.sorted
    if (explain) {
      val dir = sys.env.get("PLAN_DIR")
      dir.foreach(new java.io.File(_).mkdirs())
      names.foreach { n =>
        dir match {
          case Some(d) => java.nio.file.Files.writeString(
            java.nio.file.Paths.get(d, s"$n.txt"),
            normalize(plan(spark, sfDir, n)))
          case None => println(s"===== PLAN $n =====\n${plan(spark, sfDir, n)}")
        }
      }
    } else {
      val listener = new Listener
      spark.sparkContext.addSparkListener(listener)
      spark.range(1000000).selectExpr("sum(id)").collect() // warm-up
      val passes = (1 to 2).map { pass =>
        if (pass > 1) graft.queries.PipelineQueries.clearCaches()
        names.map { n =>
          val r = profile(spark, sfDir, listener, n, SparkEntry.queries(n))
          println(json(n, pass, r))
          n -> r
        }.toMap
      }
      val failed = passes.flatMap(_.collect { case (n, Left(_)) => n })
        .distinct.sorted
      val jobs = passes.last.values.flatMap(_.toOption).map(_.stats.jobs)
        .toSeq.sorted
      val median = if (jobs.isEmpty) 0 else jobs(jobs.size / 2)
      println(s"""{"rows":${names.size},"failed":""" +
        failed.map(jsonString).mkString("[", ",", "]") +
        s""","median_jobs":$median}""")
    }
    spark.stop()
  }
}
