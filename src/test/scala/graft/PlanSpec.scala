package graft

/** Regression guards for the plan shapes SCALE.md claims — if a future
  * change un-pushes a filter or turns a broadcast join into a shuffle,
  * these fail before the benchmark does. */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf001)
      .queryExecution.executedPlan.toString

  test("s1: filter and projection reach the parquet scan") {
    val p = plan("s1_scan_filter")
    assert(p.contains("PushedFilters"), p)
    assert(p.contains("GreaterThan(s_acctbal,1000.0)"), p)
    // projection pruned to the 3 selected columns (width-agnostic)
    assert(p.contains("ReadSchema: struct<s_suppkey:"), p)
    assert(!p.contains("s_nationkey") && !p.contains("s_address"), p)
  }

  test("dsl filter compiles to scan-level predicates") {
    val p = plan("dsl_filter_basic")
    assert(p.contains("PushedFilters"), p)
    assert(p.contains("BUILDING"), p)
  }

  test("enrichment lookup is a broadcast hash join") {
    val p = plan("j1_enrichment_join")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("pricing aggregation is map-side partial") {
    val p = plan("q1_pricing")
    assert(p.contains("partial_sum"), p)
  }

  test("no query plans an accidental cartesian product") {
    // intentional cross products: brute-force ANN scores query×corpus by
    // design (broadcast nested loop); the top-level DSL packs 1-row
    // aggregate frames side by side; the corpus-stat queries attach a
    // 1-row broadcast scalar (doc count / total tokens) the same way
    // embed_source_drift pair-joins the k-row centroid frame on label_a <
    // label_b — a pairwise matrix over dozens of rows, broadcast NLJ by
    // design
    val intended = Set("ann_brute_topk", "ann_recall_eval", "ann_int8_topk",
      "snmp_dsl_toplevel",
      "tfidf_topk", "lm_surprisal", "lm_bigram_nll", "lm_kn_nll",
      "collocation_pmi",
      "curriculum_global", "vocab_topk", "source_divergence", "bm25_topk",
      "embed_source_drift", "sample_dsir", "ann_pq_topk", "ccnet_buckets",
      "quality_ensemble", "ann_pq_recall", "ann_pqt_topk",
      // both legs score by design: bm25's 1-row stat attach + brute-force
      // dense scan; the fusion itself is an equi outer join of top-k lists
      "hybrid_rrf",
      // ranked lists come from the same brute-force query×corpus scorer
      // as ann_brute_topk (broadcast NLJ by design: 50 queries broadcast)
      "eval_rank_metrics",
      // both rankings (full-dim and 16-dim prefix) are the brute-force
      // scorer by design — the truncation eval needs exact ground truth
      "embed_matryoshka",
      // the exact leg of the seeded-graph-walk recall eval is the
      // brute-force scorer by design (same posture as ann_recall_eval)
      "ann_graph_recall",
      // candidate generation is the brute-force scorer by design; the
      // greedy rounds themselves are equi-joins on query_id
      "search_mmr",
      // both passes attach the 1-row corpus-stat frame (bm25's pattern);
      // term matching itself is a broadcast equi-join on the term
      "search_prf",
      // candidate generation is the brute-force scorer by design; the
      // label attach is an equi-join (AQE-sized)
      "ann_hard_negatives",
      // the recall eval's exact leg is the brute-force scorer by design
      // (ann_graph_recall's posture); the IVF mining leg itself is
      // cell-pruned equi-joins
      "ann_hard_negatives_ivf",
      // the binary regime's brute scan is 8-byte words by design (the
      // point of the representation); the recall/rerank/blocked evals
      // add the exact leg (cosine or full fingerprint scan) as baseline;
      // indexed/sizing reuse those same baseline legs (the candidate
      // generation itself is a pruned equi-join / shortlist equi-join)
      "ann_hamming_topk", "ann_hamming_recall", "ann_hamming_rerank",
      "ann_hamming_blocked", "ann_hamming_indexed", "ann_hamming_sizing",
      // the bits sweep reuses the same brute exact-cosine baseline leg
      // (its per-bits shortlists are the one-cell Hamming broadcast scan)
      "ann_hamming_bits",
      // the trained-vs-axis recall eval's exact leg is the brute-force
      // scorer by design; both IVF legs are cell-pruned equi-joins
      "ann_ivft_recall",
      // the probes sweep reuses the same brute exact leg; the per-p
      // trained legs are cell equi-joins
      "ann_ivft_probes",
      // ann_pq_recall's posture: the exact-L2 leg is the brute scorer
      // by design; both ADC legs are cell-pruned equi-joins
      "ann_ivfpqt_recall",
      // same posture for the residual-vs-seeded eval: one brute
      // exact-L2 leg, both ADC legs cell-pruned equi-joins
      "ann_ivfpqt2_recall",
      // the residual-index probes sweep reuses the same brute exact-L2
      // leg; the per-p candidate legs are cell-pruned equi-joins
      "ann_ivfpqt2_probes",
      // the refine eval's exact leg is the brute scorer by design; the
      // refine itself is shortlist-bounded equi-joins
      "ann_ivfpqt2_rerank",
      // the codebook-budget and training-depth sweeps reuse the same
      // brute exact-L2 leg; every per-(m,k)/per-iters candidate leg is
      // a cell-pruned equi-join
      "ann_ivfpq_mk", "ann_ivfpq_iters",
      // the sq8-vs-float eval's exact leg is the brute scorer by
      // design; both IVF legs are cell-pruned equi-joins
      "ann_ivfsq_recall",
      // the blocking-sizing sweep's truth leg is the brute cosine PAIR
      // scorer by design (pair recall needs exact ground truth — the
      // ann_recall_eval posture over pairs); the per-(b,bands) legs are
      // bucket-collision FLAG filters over the checkpointed truth rows
      // (r17: pairwise locality makes the full bucketed kernel
      // unnecessary — Θ(|truth|·bands) per leg, same counts)
      "embed_neardup_sizing",
      // the bands-sizing sweep attaches three 1-ROW aggregates (truth
      // hits, Σ within-group pairs, Σ colliding group-pair products) per
      // leg — the corpus-stat scalar-attach pattern; the candidate
      // COUNTING itself is the banded group equi-join (r17: the pair
      // set is never materialized, only counted)
      "dedup_lsh_sizing",
      // quality_ensemble's 1-row fluency threshold broadcast-attaches
      // inside the composed pipeline exactly as in the standalone query
      "pipeline_curate",
      // the 1-row cut threshold broadcast-attaches to the |sources|
      // planning frame (the corpus-stat scalar-attach pattern)
      "mixture_waterfill")
    val offenders = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(intended)
      .filter { name =>
        val p = plan(name)
        p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin")
      }
    assert(offenders.isEmpty, s"unintended cross joins in: $offenders")
    // the memoized dedup queries expose only a LogicalRDD checkpoint scan
    // above — sweep the UN-memoized pipelines too, so a cross join inside
    // the LSH/cluster stages can't hide behind the cache
    import graft.llm.Dedup
    import graft.core.Tables
    val rawPairs = Dedup.minhashLsh(Tables.documents(spark, sf001),
      "text", "doc_id", shingleN = 3, k = 8, bands = 4)
    val rawPlan = rawPairs.queryExecution.executedPlan.toString
    assert(!rawPlan.contains("CartesianProduct") &&
      !rawPlan.contains("BroadcastNestedLoopJoin"), rawPlan)
  }

  test("heartbeat enrichment lookup broadcasts the small side") {
    val p = plan("a12_heartbeat")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("shard packing is a single hash-partitioned window, no joins") {
    val p = plan("pack_shards")
    assert(p.contains("Window"), p)
    assert(!p.contains("Join"), p)
    // exactly one shuffle: the stratum hash partitioning for the window
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("quantile sketch: hash aggregates + bucket-frame windows, " +
    "no corpus sort-merge") {
    Seq("sketch_quantiles", "ts_quantile_buckets").foreach { q =>
      val p = plan(q)
      assert(p.contains("HashAggregate"), p)
      assert(!p.contains("SortMergeJoin"), s"$q sort-merges:\n$p")
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), p)
    }
  }

  test("span dedup re-attaches multiplicity with a hash join, never " +
    "sort-merge") {
    Seq("dedup_spans", "dedup_span_ratio").foreach { q =>
      val p = plan(q)
      assert(p.contains("ShuffledHashJoin"), s"$q lost the hint:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$q sort-merges:\n$p")
    }
  }

  test("semdedup: capped pair + keep joins are hash, sizes broadcast") {
    val p = plan("semdedup")
    assert(p.contains("ShuffledHashJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin Inner"), p)
  }

  test("heaps fit: prefix-sum windows run hash-partitioned by bucket, " +
    "offsets broadcast") {
    val p = plan("corpus_heaps")
    assert(p.contains("hashpartitioning(bkt"),
      s"intra-bucket window must partition by bucket:\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("seasonal decompose: bucket-frame windows + broadcast seasonal " +
    "attach, never a corpus sort-merge") {
    val p = plan("ts_seasonal")
    assert(p.contains("Window"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), s"seasonal frame sort-merged:\n$p")
  }

  test("contamination broadcasts the eval side; train corpus join is hash") {
    val p = plan("contamination_ngram")
    // both the shingle join and the test-sizes join broadcast the tiny
    // eval side — the 100 TB train side must never sort-merge on a shingle
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("bloom contamination probes with the native codegen expression") {
    val p = plan("contamination_bloom")
    assert(p.contains("might_contain"), p)
    assert(!p.contains("UDF"), s"Scala UDF in the bloom hot path:\n$p")
  }

  test("text repetition and pii scrub are map-only single scans") {
    Seq("text_repetition", "text_pii", "quality_rules",
        "text_readability", "text_lang_mix", "text_blocklist",
        "url_normalize").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Exchange"), s"$q shuffles:\n$p")
      // executedPlan.toString renders whole-stage codegen spans as "*(n)"
      assert(p.contains("*(1)"), p)
    }
  }

  test("pq encode is map-only; ivf+pq joins on cell, dsir broadcasts ratios") {
    // encode: literal codebooks ride the plan — no shuffle beyond the
    // spread round-robin, no join, inside whole-stage codegen
    // (the spread round-robin exchange wraps the plan in a not-yet-final
    // AdaptiveSparkPlan, so codegen spans don't render here — the
    // no-join/no-window shape is the guard)
    val pe = plan("embed_pq_codes")
    assert(!pe.contains("Join") && !pe.contains("Window"), pe)
    // ivf+pq: the candidate stage is an EQUI-join on cell with the
    // query side broadcast — never a nested-loop over the corpus
    val pi = plan("ann_ivfpq_topk")
    assert(pi.contains("BroadcastHashJoin"), pi)
    assert(!pi.contains("BroadcastNestedLoopJoin") &&
      !pi.contains("CartesianProduct"), pi)
    // dsir: the bucket-ratio table attaches as a broadcast hash join
    // onto the per-doc counts; the top-n is a TakeOrderedAndProject
    val pd = plan("sample_dsir")
    assert(pd.contains("BroadcastHashJoin"), pd)
    assert(pd.contains("TakeOrderedAndProject"), pd)
  }

  test("split leakage: hash-key join shapes, no window anywhere") {
    // exact: the train-count aggregate must partial-combine map-side
    // (the mega-duplicate cap) and re-attach as a hash join — never a
    // window over content_hash (the single-task-sort straggler)
    val pe = plan("split_leakage")
    assert(!pe.contains("Window"), pe)
    assert(pe.contains("partial_sum") || pe.contains("partial_count"), pe)
    // near: band self-join on (band, band_hash); distinct-candidate
    // count partial-aggregates before the val-id exchange
    val pn = plan("split_leakage_near")
    assert(!pn.contains("Window"), pn)
    assert(!pn.contains("CartesianProduct"), pn)
  }

  test("mixture schedule: one exchange (the per-source rank window)") {
    val p = plan("mixture_schedule")
    assert("Exchange".r.findAllIn(p).size == 1, p)
  }

  test("per-group weighted sample: WindowGroupLimit before the exchange") {
    // rank<=k must push into per-partition top-k so the group window
    // never buffers more than k × groups × partitions rows
    val p = plan("sample_weighted_group")
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("zipf fit: top-rank window pushes into WindowGroupLimit; moments " +
    "partial-aggregate map-side") {
    // the per-source vocabulary sort must never buffer a full vocab in
    // one task (rank <= topRanks pushes into per-partition top-k), and
    // the (source, token) count must combine map-side
    val p = plan("corpus_zipf_source")
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("partial_count"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("bigram NLL: corpus counts stream through joins, not windows") {
    // the deliberate flip side of lm_surprisal's window (SCALE.md §9b):
    // a hot bigram must be a streaming join probe, never a buffered
    // window partition
    val p = plan("lm_bigram_nll")
    assert(!p.contains("Window"), p)
    assert(p.contains("partial_count"), p)  // map-side bigram combine
  }

  test("KN trigram: model tables stream through joins, not windows") {
    // same posture as lm_bigram_nll, one order up: every continuation
    // count is a hash aggregate of the collapsed type frame, probed by
    // equi-join — a hot trigram must never buffer a window partition
    val p = plan("lm_kn_nll")
    assert(!p.contains("Window"), p)
    assert(p.contains("partial_count"), p)  // map-side trigram combine
  }

  test("bm25: stats broadcast onto a map-side tf scan, heap-merged top-k") {
    val p = plan("bm25_topk")
    // global top-k must be per-partition heaps + k-row driver merge,
    // never a full sort; tokens must never explode into a shuffle
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Generate"), s"bm25 must not explode tokens:\n$p")
    // the 1-row stats frame rides a broadcast, not an exchange of the corpus
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("rotated multi-probe LSH broadcasts queries; corpus never shuffles") {
    val p = plan("ann_sign_lsh")
    assert(p.contains("BroadcastHashJoin"), p)
    // the corpus side reaches the bucket join without an Exchange before it
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("series repartition serves aggregate AND window in one exchange") {
    // without the explicit series-key repartition Spark plans two
    // exchanges (aggregate on (series, bucket), window on series)
    Seq("ts_moving", "ts_gapfill").foreach { q =>
      val p = plan(q)
      assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
        s"$q should shuffle exactly once:\n$p")
    }
  }

  test("cohort retention: one scan, window-derived cohort (no self-join)") {
    val p = plan("cohort_retention")
    assert("Scan parquet".r.findAllIn(p).size == 1,
      s"events must be scanned once:\n$p")
    assert(!p.contains("Join"), s"cohort must come from a window:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2, p)
  }

  test("stop-shingle cap never single-partitions a hot shingle") {
    // the cap must come from a partial-aggregated groupBy + broadcast
    // anti-join — a window partitioned on the shingle hash would pile every
    // row of a hot shingle onto one task before the cap can drop it.
    // Assert on the raw operator: the queries() entry memoizes the
    // candidate frame behind a checkpoint scan that hides the join.
    import graft.llm.Dedup
    import graft.core.Tables
    val p = Dedup.ngramJaccardPairs(Tables.documents(spark, sf001),
      "text", "doc_id", n = 3, threshold = 0.2, maxDocsPerShingle = 50)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Window"), p)
    assert(p.contains("LeftAnti"), p)
  }

  test("temperature sampling: rate table broadcasts; the corpus never shuffles") {
    val p = plan("sample_temperature")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // the only Window in the plan is over the tiny per-source aggregate
    // (it sits above a HashAggregate, never above the documents scan)
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 2, s"rate derivation should shuffle only the " +
      s"per-source aggregate, got $exchanges hash exchanges:\n$p")
  }

  test("winnow pair stage: hot fps die in a broadcast anti-join BEFORE collect") {
    import graft.llm.Dedup
    import graft.core.Tables
    val p = Dedup.winnowPairs(Tables.documents(spark, sf001),
      "text", "doc_id", k = 4, w = 5, minShared = 2)
      .queryExecution.executedPlan.toString
    // the over-cap fingerprint set comes from a count aggregate (partial
    // map-side reduction — a hot fp is one long per partition, never a
    // buffered id list) and is broadcast anti-joined away before any
    // collect_list materializes; the kill join must be broadcast, not a
    // shuffled join of the full fingerprint stream against itself
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p)
    assert(!p.contains("SortMergeJoin"), p) // pairs explode map-side
    // no skewed window: nothing partitions a window by the fingerprint
    assert(!p.contains("RunningWindowFunction"), p)
  }

  test("broadcast cross-dedup probe plan holds on the full documents table") {
    import graft.llm.Dedup
    import graft.core.Tables
    val docs = Tables.documents(spark, sf001)
    val srcNum = org.apache.spark.sql.functions.expr(
      "cast(substring(source, 4) as int)")
    val p = Dedup.crossCorpusKeepBroadcast(
      docs.filter(srcNum >= 10), docs.filter(srcNum < 10), "text", "doc_id")
      .queryExecution.executedPlan.toString
    // every band probe is a broadcast anti-join; the fresh side is never
    // exchanged between them (stateless-streaming compatible by shape)
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q5 star join: dims broadcast, date gate pushed to the orders scan") {
    val p = plan("q5_region_revenue")
    assert(p.contains("BroadcastHashJoin"), p)
    // the o_orderdate range must reach the parquet scan as pushed filters
    assert(p.contains("PushedFilters") && p.contains("o_orderdate"), p)
  }

  test("q18 self-referential fact filter: semi join + partial agg + " +
    "top-k, never a total sort") {
    val p = plan("q18_large_orders")
    // the big-order set gates orders through a SEMI join (never an
    // inner join that would duplicate order rows per qualifying line)
    assert(p.contains("LeftSemi"), p)
    // the threshold aggregate over the fact table is map-side combined
    assert(p.contains("partial_sum"), p)
    // top-100 is per-partition heaps, not a global sort of the result
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("exact dedup streams hot groups: hash join + agg, never a sort") {
    // a mega-duplicate (one page × 10⁸ copies) must not become a
    // single-task sort — neither a row_number window nor a sort-merge
    // join re-attach may appear anywhere in the plan
    val p = plan("dedup_exact")
    assert(p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("Window"), p)
    assert(p.contains("partial_min") || p.contains("partial_count"), p)
  }

  test("dup-ratio streams hot chunks: hash-join re-attach, never a sort") {
    // same mega-duplicate hardening as dedup_exact, at chunk grain: the
    // multiplicity re-attach must be a hash join over map-side-combined
    // counts — no sort-merge join, no window over the chunk hash
    val p = plan("dedup_dupratio")
    assert(p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("Window"), p)
    assert(p.contains("partial_count"), p)
  }

  test("quality calibrate: cell table broadcasts; rows never sort") {
    // the percentile table must come from collapsed (source, score) cells
    // and broadcast back onto the row grain — the corpus is scanned and
    // hash-aggregated, never sorted (the only Sort is inside the window
    // over the tiny cell frame, upstream of the broadcast exchange)
    val p = plan("quality_calibrate")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("partial_count"), p)
  }

  test("within-doc dedup is row-local: no join, window, agg, or shuffle") {
    val p = plan("dedup_within")
    assert(!p.contains("Join") && !p.contains("Window") &&
      !p.contains("HashAggregate"), p)
    // the only exchange allowed is spread's round-robin; nothing may
    // hash-partition (that would mean cross-row state crept in)
    assert(!p.contains("hashpartitioning"), p)
  }

  test("robust z: medians from broadcast cell tables, rows never sort") {
    val p = plan("events_robustz")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("partial_count"), p)
  }

  test("skew profile is two hash aggregates — no join, no sort") {
    val p = plan("skew_profile")
    assert(p.contains("partial_count"), p)
    assert(!p.contains("Join") && !p.contains("Sort"), p)
  }

  test("blocked hamming: hint-free bucket equi-join — AQE broadcasts a " +
    "small probe batch at runtime, never a sort or nested loop") {
    import graft.core.Tables
    import graft.llm.IvfIndex
    import org.apache.spark.sql.functions.col
    val e = Tables.embeddings(spark, sf001)
    val df = IvfIndex(IvfIndex.Prefix(48, 6), IvfIndex.Bits(48, 64)).topK(e,
      e.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5, probes = 7)
    // the join carries NO broadcast hint (a corpus-scale query batch must
    // be free to shuffle on the cell) — execute, then read the FINAL
    // adaptive plan: a tiny probe batch must land on a broadcast hash
    // join at runtime, and the corpus side must never sort or nest
    val opt = df.queryExecution.optimizedPlan.toString
    assert(!opt.contains("strategy=broadcast"), opt)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") &&
      !p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
  }

  test("influx consumer: the key allow-list is one InSet; a record is " +
    "not parsed for a struct null test; lines render without regex, sort " +
    "or lambda expressions") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val keys = (0 until 1000).map(i => s"dc1|host$i|interface|eth0|bits_in")
    val kafka = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row("k", "{}")), 1),
      StructType(Seq(StructField("key", StringType), StructField("value", StringType))))
    val qe = graft.streaming.Pipelines.kafkaToInfluxLines(kafka, keys).queryExecution
    def exprs(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
      p.flatMap(_.expressions.flatMap(_.collect { case e => e }))
    val optimized = exprs(qe.optimizedPlan)
    assert(optimized.count(_.isInstanceOf[InSet]) == 1, qe.optimizedPlan)
    assert(optimized.count(_.isInstanceOf[JsonToStructs]) == 1, qe.optimizedPlan)
    for (e <- exprs(qe.analyzed) ++ optimized) e match {
      case _: In | IsNotNull(_: JsonToStructs) | _: RegExpReplace |
           _: ArraySort | _: ArrayTransform | _: ArrayExists =>
        fail(s"$e in\n${qe.optimizedPlan}")
      case _ =>
    }
  }

  test("contamination report broadcasts the eval side like the base op") {
    val p = plan("contamination_report")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("every query has a DuckDB oracle (full-strength correctness gate)") {
    // No exceptions: as of round 11 even the sketch profile replays in
    // DuckDB (register HLL + HDR buckets are exact integer algebra).
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"queries without an oracle: $missing")
    assert(orphans.isEmpty, s"oracles without a query: $orphans")
  }

  test("sql surface: views + plain sql run the same engine") {
    Graft.attachViews(spark, sf001)
    val n = spark.sql(
      """SELECT resource_site, count(*) AS n FROM resources
        |WHERE resource_type = 'standard' GROUP BY 1""".stripMargin).count()
    assert(n > 0)
  }

  test("round-8 ops are reachable from plain SQL over the views") {
    Graft.attachViews(spark, sf001)
    // k-anonymity classes straight in SQL (the operator is declarative —
    // the library form and the SQL form are the same plan family)
    val kanon = spark.sql(
      """SELECT lang, source, n_chars div 200 AS len_bucket,
        |       count(*) AS class_size, count(*) < 5 AS at_risk
        |FROM documents GROUP BY 1, 2, 3""".stripMargin)
    assert(kanon.count() > 0)
    // the Morton key as a plain column over a view-backed frame
    val z = graft.operators.Layout.zorderKey2(
      org.apache.spark.sql.functions.col("doc_id"),
      org.apache.spark.sql.functions.col("n_chars"), bits = 8)
    assert(spark.table("documents").select(z.as("zkey")).count() > 0)
  }

  test("round-7 kernels: SQL builders wire and compute on literals") {
    // the registered builders, evaluated directly on literal arguments
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    val cw = GraftExtensions.builder("char_windows")(
      Seq(Literal("abcdefgh"), Literal(4), Literal(2)))
    assert(cw.eval(null).asInstanceOf[ArrayData].numElements() == 3)
    val sh = GraftExtensions.builder("all_shingles")(
      Seq(Literal.create(Array("a", "b", "c")), Literal(2)))
    assert(sh.eval(null).asInstanceOf[ArrayData].numElements() == 2)
    val sn = GraftExtensions.builder("int8_snap")(
      Seq(Literal.create(Array(1.0, -2.0, 0.5))))
    assert(sn.eval(null).asInstanceOf[ArrayData].numElements() == 3)
  }
}
