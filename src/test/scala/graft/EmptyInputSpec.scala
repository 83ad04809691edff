package graft

import java.io.File

/** Rows on zero-row copies of the sf0.01 tables (same schema, built at
  * test time): each must give the result its oracle SQL defines on empty
  * input — the expected row counts are DuckDB's. */
class EmptyInputSpec extends SparkSpec {
  /** Runs `body` on a dir of zero-row copies of every table. */
  private def onEmptyTables(body: String => Unit): Unit = {
    val dir = freshTmpDir("graft_empty_tables")
    try {
      Graft.tableNames.foreach { t =>
        val tmp = new File(dir, s"$t.tmp")
        spark.read.parquet(s"$sf01/$t.parquet").limit(0).coalesce(1)
          .write.parquet(tmp.getPath)
        tmp.listFiles.filter(_.getName.endsWith(".parquet"))
          .foreach(_.renameTo(new File(dir, s"$t.parquet")))
        rmTree(tmp)
      }
      body(dir.getPath)
    } finally rmTree(dir)
  }

  private def counts(dir: String, rows: Iterable[String]): Map[String, Int] =
    rows.map(q =>
      q -> SparkEntry.queries(q)(spark, dir).collect().length).toMap

  test("replay clocks: the sentinel-flushed stream rows run on empty " +
       "tables") {
    onEmptyTables { dir =>
      val want = Map("stream_window" -> 0, "stream_distinct" -> 0,
        "stream_quantiles" -> 0, "stream_cms" -> 8, "stream_ohlc" -> 0,
        "stream_window_sliding" -> 0, "stream_urldedup" -> 0,
        "stream_sessionize" -> 0)
      assert(counts(dir, want.keys) == want)
    }
  }

  test("near-dup blocking and binary/sign-LSH index rows run on empty " +
       "tables") {
    val rows = SparkEntry.queries.keys.filter(_.matches(
      "ann_hamming_.*|ann_sign_lsh|ann_recall_eval|embed_cosine_neardup|" +
        "embed_neardup_.*|knn_graph.*|dedup_.*|mm_neardup|stream_hamming|" +
        "stream_crossdedup"))
    // the sizing sweeps report one row per sweep point; recall on an
    // empty sample is NULL, SQL's 0/0
    val want = rows.map(q => q -> (q match {
      case "dedup_lsh_sizing" => 3
      case "embed_neardup_sizing" => 5
      case _ => 0
    })).toMap
    assert(want.size == 40)
    onEmptyTables { dir =>
      assert(counts(dir, rows) == want)
      assert(SparkEntry.queries("embed_neardup_sizing")(spark, dir)
        .filter("recall IS NOT NULL").isEmpty)
    }
  }
}
