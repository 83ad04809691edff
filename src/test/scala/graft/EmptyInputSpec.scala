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

  test("the rows over the shared session, sketch, candle, rate, rollup " +
       "and fixture twins on zero- and one-row tables") {
    // one-row counts; on empty tables each of these rows is empty
    val one = Map(
      "q1_pricing" -> 0, "j6_index_remap" -> 0, "j9_reconcile" -> 1,
      "j9_apply" -> 1, "a1_rate" -> 1, "a4_status_rollup" -> 1,
      "a5_exception_map" -> 1, "q5_region_revenue" -> 0,
      "q18_large_orders" -> 0, "q3_shipping" -> 0, "sessionize" -> 1,
      "session_paths" -> 1, "session_stats" -> 1, "asof_join" -> 0,
      "asof_join_tol" -> 0, "asof_join_fwd" -> 0, "asof_join_near" -> 0,
      "sketch_quantiles" -> 3, "ts_quantile_buckets" -> 2,
      "ts_gapfill" -> 1, "ts_moving" -> 1, "ts_seasonal" -> 1,
      "ts_ohlc" -> 1, "ts_lttb" -> 1, "cohort_retention" -> 1,
      "skew_join_salted" -> 1, "events_leaderboard" -> 0,
      "events_histogram" -> 1, "snmp_dsl_partial" -> 1, "mg_assemble" -> 1,
      "sketch_profile" -> 1, "j5_indices_static" -> 0, "stream_dedup" -> 1,
      "stream_zscore" -> 1, "stream_join" -> 0, "stream_enrich" -> 1,
      "stream_rate" -> 1)
    onCutTables(0) { dir =>
      assert(counts(dir, one.keys) == one.map { case (q, _) => q -> 0 })
    }
    onCutTables(1) { dir => assert(counts(dir, one.keys) == one) }
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
