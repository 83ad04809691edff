package perfbench

import java.nio.file.Files

import scala.sys.process._

/** The workloads' correctness checks, run against the engine: they pass
  * on its real output whatever the micro-batch boundaries, and they catch
  * a wrong, missing or extra result. */
class PipelineCheckSpec extends SparkSuite {

  private def delivered(chunk: Int): (Array[Boolean], Int) = {
    CountingTransport.reset()
    val q = new PollingQuery(spark, seed = 5, nSeries = 40, dir.resolve(s"ckpt-$chunk"),
      new Tracer(false))
    q.start()
    try {
      var left = 3000
      while (left > 0) {
        q.append(math.min(chunk, left))
        left -= chunk
        q.q.processAllAvailable()
      }
      q.verify()
    } finally q.stop()
  }

  test("polling lines match the reference wherever the micro-batch boundaries fall") {
    for (chunk <- Seq(3000, 450, 97)) {
      val (ok, unexpected) = delivered(chunk)
      assert(ok.length == 3000 && ok.forall(identity) && unexpected == 0, s"chunk $chunk")
    }
  }

  test("the polling check flags a wrong, a missing and an extra line") {
    CountingTransport.reset()
    val q = new PollingQuery(spark, seed = 6, nSeries = 40, dir.resolve("ckpt-mut"), new Tracer(false))
    q.start()
    try {
      q.append(800)
      q.q.processAllAvailable()
      val lines = CountingTransport.drain()
      val g = lines.indexWhere(_.contains("__gauge="))
      val d = lines.indexWhere(!_.contains("__gauge="))
      val mutated = lines.zipWithIndex.collect {
        case (l, i) if i == g => l.replaceFirst("__gauge=\\d+", "__gauge=999999999")
        case (l, i) if i != d => l
      } :+ "bits_in,series=x bits_in__counter=1.0 1"
      mutated.foreach(CountingTransport.lines.add)
      val (ok, unexpected) = q.verify()
      assert(ok.count(!_) == 2)   // the changed gauge and the dropped first line
      assert(unexpected == 2)     // the changed gauge and the invented line
    } finally q.stop()
  }

  test("the curation check agrees with DuckDB on the engine's output, and flags a changed row") {
    import spark.implicits._
    val data = dir.resolve("corpus")
    val gen = new CorpusGen(3)
    spark.createDataset(gen.documents(120)._1).coalesce(1).write.parquet(data.resolve("documents.parquet").toString)
    spark.createDataset(gen.embeddings(200)).coalesce(1).write.parquet(data.resolve("embeddings.parquet").toString)
    val row = "dedup_minhash_lsh"
    val sqlFile = dir.resolve("sql.json")
    Files.writeString(sqlFile, s"""{"$row":"${Json.esc(graft.SparkEntry.oracleSql(row))}"}""")
    val out = dir.resolve("oracle")
    val oracle = java.nio.file.Paths.get("oracle.py").toAbsolutePath.toString
    assert(Seq("python3", oracle, data.toString, sqlFile.toString, out.toString).! == 0)
    val want = spark.read.parquet(out.resolve(s"$row.parquet").toString)
    val expected = Canon.rows(want.columns.toSeq, want.collect().toSeq)
    val (cols, rows) = CurationAnn.execute(spark, data.toString, row, new Tracer(false))
    assert(rows.nonEmpty)
    assert(Canon.rows(cols, rows) == expected)
    assert(Canon.rows(cols, rows.drop(1)) != expected)
    assert(Canon.rows(cols, org.apache.spark.sql.Row(-1L, -2L) +: rows.drop(1)) != expected)
  }
}
