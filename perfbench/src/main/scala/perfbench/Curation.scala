package perfbench

import java.nio.file.{Files, Path}

import scala.sys.process._
import scala.util.Try

import org.apache.spark.sql.{Row, SparkSession}

import graft.SparkEntry
import graft.queries.PipelineQueries

/** Closed loop over the LLM-data rows and their shared substrates: each
  * iteration runs the curation pipeline, MinHash-LSH dedup, the residual
  * IVF-PQ store build, the served query against that store, the in-memory
  * top-k and the recall evaluation, by row name through
  * `SparkEntry.queries`, then clears the substrate caches. Every result is
  * collected and compared with DuckDB running `SparkEntry.oracleSql` on
  * the same generated tables. */
final class CurationAnn(spark: SparkSession, seed: Long, workDir: Path) extends Workload {
  import CurationAnn._

  override def readRole: String = "ann_ivfpqt_served"
  override def writeRole: String = "ann_ivfpqt_build"

  private val data = workDir.resolve("curation")
  private val gen = new CorpusGen(seed)
  private var expected: Map[String, Either[String, Seq[String]]] = Map.empty
  private var iteration = 0

  def setup(): Unit = {
    import spark.implicits._
    Main.deleteRecursively(data)
    val (docs, _) = gen.documents(Documents)
    spark.createDataset(docs).coalesce(1).write.parquet(data.resolve("documents.parquet").toString)
    spark.createDataset(gen.embeddings(Vectors)).coalesce(1)
      .write.parquet(data.resolve("embeddings.parquet").toString)
  }

  /** Start DuckDB on the oracle SQL of every row, outside any timing;
    * the returned function waits for it and reads its results. */
  private def oracle(): () => Map[String, Either[String, Seq[String]]] = {
    val sqlFile = workDir.resolve("oracle_sql.json")
    val out = workDir.resolve("oracle")
    Main.deleteRecursively(out)
    val sql = SparkEntry.oracleSql
    Files.writeString(sqlFile, Main.CurationRows.map(r =>
      s""""$r":"${Json.esc(sql.getOrElse(r, ""))}"""").mkString("{", ",", "}"))
    val script = sys.props.getOrElse("perfbench.oracle", "perfbench/oracle.py")
    val log = new StringBuffer
    val proc = Seq("python3", script, data.toString, sqlFile.toString, out.toString)
      .run(ProcessLogger(l => log.append(l).append('\n'), l => log.append(l).append('\n')))
    () => {
      val code = proc.exitValue()
      Main.CurationRows.map { r =>
        val f = out.resolve(s"$r.parquet")
        r -> (if (!Files.exists(f)) Left(s"no oracle result (exit $code): ${log.toString.take(300)}")
        else {
          val df = spark.read.parquet(f.toString)
          Right(Canon.rows(df.columns.toSeq, df.collect().toSeq))
        })
      }.toMap
    }
  }

  private var recall = Seq.empty[Double]

  private def execute(row: String, tracer: Tracer) = CurationAnn.execute(spark, data.toString, row, tracer)

  private def verify(row: String, result: (Seq[String], Seq[Row])): Option[String] =
    expected(row) match {
      case Left(why) => Some(why)
      case Right(want) =>
        val got = Canon.rows(result._1, result._2)
        if (got == want) None
        else Some(s"${got.size} rows vs oracle ${want.size}; first differing: " +
          got.diff(want).headOption.getOrElse("-").take(120))
    }

  /** One pass over all rows, then the substrate caches are cleared. */
  private def pass(rec: Recorder, tracer: Tracer): Map[String, Double] = {
    val walls = scala.collection.mutable.Map.empty[String, Double]
    for (row <- Main.CurationRows) {
      val opId = s"it$iteration.$row"
      val t0 = System.nanoTime()
      rec.op(row, row)(tracer.op(spark, opId, s"bench.$row")(execute(row, tracer)))(verify(row, _))
        .foreach { case (cols, rows) =>
          if (row == "pipeline_curate") rec.rate(Documents, rec.timings(row).last / 1000)
          if (row == "ann_ivfpqt2_recall") recall ++= residualRecall(cols, rows)
        }
      walls(opId) = (System.nanoTime() - t0) / 1e6
    }
    PipelineQueries.clearCaches()
    iteration += 1
    walls.toMap
  }

  private def residualRecall(cols: Seq[String], rows: Seq[Row]): Seq[Double] = {
    val m = cols.indexOf("method")
    val r = cols.indexOf("recall")
    rows.filter(_.getString(m) == "ivfpq_residual").map(x => x.get(r).toString.toDouble)
  }

  /** One untimed pass warms the JIT and codegen caches while DuckDB
    * computes the reference; its results are checked once that is done. */
  private def warmUp(rec: Recorder): Unit = {
    val reference = oracle()
    val results = Main.CurationRows.map(row => row -> Try(execute(row, new Tracer(false))))
    PipelineQueries.clearCaches()
    Main.log("warm-up pass done")
    expected = reference()
    Main.log("reference results read")
    val warm = new Recorder
    results.foreach { case (row, r) => warm.op(row, s"$row (warm-up)")(r.get)(verify(row, _)) }
    rec.absorb(warm)
  }

  def run(seconds: Double, rec: Recorder, tracer: Tracer): Layers = {
    if (expected.isEmpty) warmUp(rec)
    recall = Nil
    val walls = scala.collection.mutable.Map.empty[String, Double]
    var spent = 0.0
    while (spent < seconds) {
      val w = pass(rec, tracer)
      Main.log(f"pass: ${w.values.sum / 1000}%.2f s")
      walls ++= w
      spent += w.values.sum / 1000
    }
    val perRow = Main.CurationRows.flatMap { row =>
      val ops = walls.keySet.filter(_.endsWith(s".$row"))
      Seq(s"llm.row_ms.$row" -> Stats.quantile(rec.timings(row), 0.5),
        s"llm.row_jobs.$row" -> (if (ops.isEmpty) 0.0 else tracer.tasks.jobsOf(ops).toDouble / ops.size))
    }
    Layers(perRow.toMap + ("llm.recall_at_3" -> Stats.mean(recall)), walls.toMap)
  }
}

object CurationAnn {
  /** Run one row by name and force its full result: every column of every
    * row is computed and returned, so nothing the row defines is pruned. */
  def execute(spark: SparkSession, dir: String, row: String,
              tracer: Tracer): (Seq[String], Seq[Row]) = {
    val df = tracer.span(s"llm.$row")(SparkEntry.queries(row)(spark, dir))
    (df.columns.toSeq, tracer.span("spark.collect")(df.collect().toSeq))
  }

  val Documents = 500
  val Vectors = 500
}
