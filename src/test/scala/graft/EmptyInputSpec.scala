package graft

import java.io.File

/** Rows on zero-row and one-row copies of the sf0.01 tables (same
  * schema, built at test time): each must give the result its oracle SQL
  * defines on that input — the expected row counts are DuckDB's. */
class EmptyInputSpec extends SparkSpec {
  /** Runs `body` on a dir of copies of every table cut to its first `n`
    * rows. */
  private def onCutTables(n: Int)(body: String => Unit): Unit = {
    val dir = freshTmpDir("graft_cut_tables")
    try {
      Graft.tableNames.foreach { t =>
        val tmp = new File(dir, s"$t.tmp")
        spark.read.parquet(s"$sf01/$t.parquet").limit(n).coalesce(1)
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
    onCutTables(0) { dir =>
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
    onCutTables(0) { dir =>
      assert(counts(dir, rows) == want)
      assert(SparkEntry.queries("embed_neardup_sizing")(spark, dir)
        .filter("recall IS NOT NULL").isEmpty)
    }
  }

  test("empty tables: corpus_rollup keeps SQL's grand-total row and the " +
       "PCA rows emit no components") {
    onCutTables(0) { dir =>
      assert(counts(dir, Seq("embed_pca", "embed_pca_k")) ==
        Map("embed_pca" -> 0, "embed_pca_k" -> 0))
      val rollup = SparkEntry.queries("corpus_rollup")(spark, dir).collect()
      assert(rollup.map(_.toSeq) sameElements
        Array(Seq("ALL", "ALL", 1, 1, 0L, null)))
    }
  }

  test("one-row tables: the heartbeat and validity rows read resources, " +
       "which joins nation") {
    // the first customer's nation is not the first nation, so the
    // one-row inventory is empty
    onCutTables(1) { dir =>
      assert(counts(dir, Seq("a12_heartbeat", "f14_validity")) ==
        Map("a12_heartbeat" -> 0, "f14_validity" -> 0))
    }
  }
}
