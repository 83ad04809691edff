package graft

import java.io.File

/** Rows on zero-row copies of the sf0.01 tables (same schema, built at
  * test time): each must give the result its oracle SQL defines on empty
  * input — the expected row counts are DuckDB's. */
class EmptyInputSpec extends SparkSpec {
  test("replay clocks: the sentinel-flushed stream rows run on empty " +
       "tables") {
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
      val want = Map("stream_window" -> 0, "stream_distinct" -> 0,
        "stream_quantiles" -> 0, "stream_cms" -> 8, "stream_ohlc" -> 0,
        "stream_window_sliding" -> 0, "stream_urldedup" -> 0,
        "stream_sessionize" -> 0)
      val got = want.keys.map(q =>
        q -> SparkEntry.queries(q)(spark, dir.getPath).collect().length).toMap
      assert(got == want)
    } finally rmTree(dir)
  }
}
