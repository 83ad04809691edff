package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
object Bench {
  type Query = (SparkSession, String) => DataFrame

  /** Runs one row: labels its jobs `desc`, times `run`, and returns its
    * value and seconds — or the exception, so a row that throws is never
    * read as a (fast) timing. Shared by this board and
    * `graft.tools.Profile`. */
  def timeRow[T](spark: SparkSession, desc: String)(
      run: => T): Either[Throwable, (T, Double)] = {
    // guide §1.5: label every job with its query so the UI/event log
    // attributes stages to board rows (diagnostics only)
    spark.sparkContext.setJobDescription(desc)
    val t0 = System.nanoTime()
    try { val v = run; Right((v, (System.nanoTime() - t0) / 1e9)) }
    catch { case e: Throwable => Left(e) }
  }

  /** One pass in pinned (name-sorted) order, each row timed on `count()`. */
  def pass(spark: SparkSession, sfDir: String, queries: Map[String, Query])
      : Map[String, Either[Throwable, Double]] =
    queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> timeRow(spark, s"bench:$name")(fn(spark, sfDir).count())
        .map(_._2)
    }.toMap

  /** The board: each row's MIN over the passes, and — left out of it —
    * the names of the rows that threw in any pass. */
  def board(passes: Seq[Map[String, Either[Throwable, Double]]])
      : (Map[String, Double], Seq[String]) = {
    val failed = passes.flatMap(_.collect { case (k, Left(_)) => k })
      .distinct.sorted
    val timed = passes.head.keys.filterNot(failed.contains).map(k =>
      k -> passes.flatMap(_(k).toOption).min).toMap
    (timed, failed)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session()
    // Warm-up (uncounted): JVM/codegen paths + parquet footers, so the
    // first timed query doesn't absorb several seconds of session startup.
    spark.range(1000000).selectExpr("sum(id)").collect()
    // Ambient-load calibration: a fixed, trivially-CPU-bound probe timed
    // at the START and END of the run and emitted as a TOP-LEVEL
    // "calibration" object next to "metric"/"sf" — NOT inside "queries",
    // so consumers iterating query keys (regression diffing, oracle
    // joins) never see non-query rows (r12 advice). Two consecutive
    // round verdicts were spent re-adjudicating 2-4× swings on untouched
    // queries as shared-host drift; with these fields every artifact
    // carries its own load measurement — compare calib values across
    // artifacts before reading per-query ratios (SCALE.md §11).
    def calib(): Double = {
      val t0 = System.nanoTime()
      spark.range(50000000L).selectExpr("sum(id * 3 + 1)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    calib() // uncounted: JIT the probe itself
    val calibStart = calib()
    Seq("lineitem", "orders", "customer", "supplier", "part", "nation",
      "region", "events", "documents", "embeddings").foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").limit(10).count()
      catch { case _: Throwable => }
    }
    // Two full passes in pinned (name-sorted) order; report the per-query
    // MIN. A single shared-JVM pass conflates a query's cost with whatever
    // JIT/GC state its predecessors left behind (round 2's a10_stats "3×
    // regression" was exactly that); min-of-2 measures the steady state the
    // 100 TB deployment would actually run in.
    val first = pass(spark, sfDir, SparkEntry.queries)
    graft.queries.PipelineQueries.clearCaches()
    val second = pass(spark, sfDir, SparkEntry.queries)
    val calibEnd = calib()
    val (timed, failed) = board(Seq(first, second))
    val qs = timed.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = if (timed.nonEmpty) timed.values.sum else 0.0
    val calibJson = s"""{"start":$calibStart,"end":$calibEnd}"""
    val failedJson = failed.map(Verify.jsonString).mkString("[", ",", "]")
    println(s"""{"metric":"total","value":$total,"unit":"sec","calibration":$calibJson,"queries":$qs,"failed":$failedJson,"sf":"$sfDir"}""")
    // Repeat the summary AFTER the queries map: the driver's artifact
    // keeps only the TAIL of this program's output, and the main line
    // leads with the calibration object — a long queries map pushes it
    // past the cut, which is exactly the datum needed to adjudicate
    // cross-run drift (r14: a uniform 1.28× swing took a full verdict
    // section to attribute to host load because the artifact had lost
    // its own load measurement). This compact trailer is truncation-proof
    // by position; consumers may read either copy.
    val trailer =
      s"""{"calibration":$calibJson,"total":$total,"n":${timed.size},"failed":$failedJson,"sf":"$sfDir"}"""
    println(trailer)
    // Quiesce streaming state-store maintenance BEFORE spark.stop(): the
    // stream_* rows leave unloaded state-store providers whose async
    // maintenance thread races shutdown and, losing, dumps an
    // RpcEnvStoppedException stack trace AFTER the JSON lines — in r17
    // that trace pushed both lines out of the driver's captured tail and
    // nulled the whole PERF comparison (BENCH_r17.json parsed:null).
    // StateStore.stop() shuts the maintenance pool and unloads providers
    // synchronously; it runs after all timing, so measurements are
    // untouched.
    try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    catch { case _: Throwable => }
    spark.stop()
    // ... and re-print the compact trailer AFTER spark.stop() returns, so
    // the FINAL stdout line of this program is always parseable JSON no
    // matter what any straggler thread logged during shutdown. Consumers
    // may read any copy; all three are identical.
    println(trailer)
    System.out.flush()
  }
}
