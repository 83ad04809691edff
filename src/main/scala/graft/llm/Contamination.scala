package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._

import graft.core.Tables.spread
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.BinaryType

/** Benchmark-contamination detection: which training documents share
  * enough word n-grams with an evaluation/benchmark document that the
  * benchmark is compromised? (The standard pre-training hygiene check —
  * see the n-gram overlap decontamination procedure described in the
  * GPT-3 and PaLM papers.)
  *
  * Scale shape (the asymmetry is the whole design): the eval set is tiny
  * and fixed (benchmarks are thousands of docs) while the train corpus is
  * the 100 TB side. Distinct n-grams are produced map-side by the codegen
  * shingle kernel, hashed to 8-byte keys, and the EVAL side is broadcast —
  * the train corpus is scanned once, never shuffled (the `spread` on the
  * train scan is a no-op whenever the scan already has >= cores
  * partitions — it exists for under-partitioned single-row-group files,
  * where serial shingling would dominate), and only matching
  * (test, train) pairs reach the final aggregation.
  */
object Contamination {

  /** The distinct word `n`-grams of each row of `df`, one row per gram:
    * the id as `as`, the gram's xxhash64 as `sh`, and with `keepGram`
    * the gram string itself as `shingle`. */
  private def shingled(df: DataFrame, textCol: String, idCol: String,
                       n: Int, as: String,
                       keepGram: Boolean = false): DataFrame =
    df.select(col(idCol).as(as), explode(grams(textCol, n)).as("shingle"))
      .select(Seq(col(as)) ++ (if (keepGram) Seq(col("shingle")) else Nil)
        :+ xxhash64(col("shingle")).as("sh"): _*)

  /** Each row's distinct `n`-gram count as (`as`, `sizeName`). */
  private def gramCounts(df: DataFrame, textCol: String, idCol: String,
                         n: Int, as: String, sizeName: String): DataFrame =
    df.select(col(idCol).as(as), size(grams(textCol, n)).as(sizeName))

  private def grams(textCol: String, n: Int): Column =
    graft.functions.Shingles.distinctShingles(
      TextAnalysis.tokens(col(textCol)), n)

  /** The (test_id, train_id) pairs of a gram-hash join that share ≥
    * `minShared` grams, with the `extra` aggregates, the test doc's gram
    * count from `testSizes` and `overlap_frac` = shared / that count. */
  private def overlapPairs(joined: DataFrame, testSizes: DataFrame,
                           minShared: Int, extra: Column*): DataFrame =
    joined.groupBy(col("test_id"), col("train_id"))
      .agg(count(lit(1)).as("shared_ngrams"), extra: _*)
      .filter(col("shared_ngrams") >= minShared)
      .join(broadcast(testSizes), Seq("test_id"))
      .withColumn("overlap_frac",
        round(col("shared_ngrams").cast("double") / col("n_test_ngrams"), 6))

  /** Pairs (test_id, train_id) sharing ≥ `minShared` distinct word
    * n-grams, with `overlap_frac` = shared / |test doc's n-grams|.
    *
    * `xxhash64` on the shingle shrinks the broadcast and the join keys to
    * longs; a hash collision could over-count `shared_ngrams` by one, the
    * standard trade at corpus scale (string keys would be exact but ship
    * n-word strings through every executor).
    */
  def ngramOverlap(train: DataFrame, test: DataFrame,
                   textCol: String, idCol: String,
                   n: Int = 3, minShared: Int = 2): DataFrame = {
    val testSizes =
      gramCounts(test, textCol, idCol, n, "test_id", "n_test_ngrams")
    overlapPairs(shingled(spread(train), textCol, idCol, n, "train_id")
      .join(broadcast(shingled(test, textCol, idCol, n, "test_id")),
        Seq("sh")), testSizes, minShared)
  }

  /** [[ngramOverlap]] plus EVIDENCE: the matched n-grams themselves per
    * flagged (test, train) pair — sorted, capped at `maxGrams`, rendered
    * as one `'|'`-joined string — what a decontamination audit actually
    * reviews before dropping training documents (a high `overlap_frac`
    * from boilerplate grams reads very differently from verbatim answer
    * text).
    *
    * The gram STRINGS ride only the broadcast eval side; the train corpus
    * still ships 8-byte hashes, so the scale shape is [[ngramOverlap]]'s
    * unchanged. Evidence per pair is bounded by the eval doc's gram count
    * pre-cap (benchmarks are short) and by `maxGrams` after. */
  def ngramOverlapReport(train: DataFrame, test: DataFrame,
                         textCol: String, idCol: String,
                         n: Int = 3, minShared: Int = 2,
                         maxGrams: Int = 10): DataFrame = {
    require(maxGrams >= 1, s"maxGrams=$maxGrams")
    val testSizes =
      gramCounts(test, textCol, idCol, n, "test_id", "n_test_ngrams")
    overlapPairs(shingled(spread(train), textCol, idCol, n, "train_id")
      .join(broadcast(shingled(test, textCol, idCol, n, "test_id",
        keepGram = true)), Seq("sh")), testSizes, minShared,
      array_join(slice(array_sort(collect_set(col("shingle"))),
        1, maxGrams), "|").as("evidence"))
  }

  /** Coverage of a TARGET (domain sample, eval suite, style exemplar) by
    * the training corpus: per target document, the fraction of its
    * distinct word n-grams that appear ANYWHERE in the corpus — the
    * data-acquisition inverse of decontamination's overlap. Low coverage
    * means the corpus doesn't speak the target's language yet (acquire
    * more of that domain); contamination asks the opposite question of
    * the same join. Target docs with zero matches surface with coverage
    * 0.0, not silently dropped.
    *
    * Scale shape: [[ngramOverlap]]'s asymmetry — the target broadcasts,
    * the corpus is scanned once and never shuffled; only MATCHED
    * (target_id, gram-hash) pairs (bounded by |target grams|, not the
    * corpus) reach the distinct-collapse and the per-target fold. */
  def targetCoverage(corpus: DataFrame, target: DataFrame,
                     textCol: String, idCol: String,
                     n: Int = 3): DataFrame = {
    val targetSizes =
      gramCounts(target, textCol, idCol, n, "target_id", "n_target_ngrams")
    val matched = shingled(spread(corpus), textCol, idCol, n, "corpus_id")
      .join(broadcast(shingled(target, textCol, idCol, n, "target_id")),
        Seq("sh"))
      .select(col("target_id"), col("sh")).distinct()
      .groupBy(col("target_id"))
      .agg(count(lit(1)).as("covered_ngrams"))
    targetSizes.join(matched, Seq("target_id"), "left")
      .withColumn("covered_ngrams",
        coalesce(col("covered_ngrams"), lit(0L)))
      .withColumn("coverage",
        round(col("covered_ngrams").cast("double")
          / col("n_target_ngrams"), 6))
  }

  /** Same result as [[ngramOverlap]] — EXACT, because a Bloom filter has
    * no false negatives and an exact join confirms the survivors — but
    * built for eval sets too large to broadcast as a hash relation: a
    * Bloom over the eval shingle hashes costs ~10 bits/key vs ~30
    * bytes/key for a broadcast hash map (≈20× larger eval sets at the
    * same executor memory). The train corpus is scanned once, ≥(1−fpp)
    * of its non-matching shingles die map-side against the Bloom, and
    * only the survivors (true matches + fpp noise) enter the exact
    * shuffle join.
    *
    * The Bloom is built with one aggregate pass over the (small) eval
    * side and embedded as a plan constant; nothing here depends on the
    * fpp for correctness — a higher fpp only shuffles more confirm-side
    * rows.
    *
    * == The per-gram expansion cap (`maxTrainDf`) ==
    * The confirm join's OUTPUT is quadratic in duplication multiplicity:
    * a gram present in D train docs and E eval docs emits D×E rows, so a
    * duplication-degenerate corpus (every doc replicated ~100×) turns a
    * linear decontamination pass into a heap-exhausting pair explosion —
    * measured at 127 M pairs / OOM on the round-14 sf10 fixture. Every
    * sibling pair stage here carries a density guard ([[Dedup]]'s
    * stop-shingle cap, winnowing's hot-fingerprint cap, the inverted
    * index's stop-term df cap); this is the same guard for the confirm
    * join: grams whose TRAIN df exceeds `maxTrainDf` are excluded from
    * pair confirmation BEFORE the join (the df pre-pass runs on the
    * post-Bloom survivors — for any surviving hash that count IS its
    * full train df, since the Bloom decision depends only on the hash —
    * and the over-cap set is tiny and broadcast for an anti-join).
    *
    * Capping is LOUD, never silent (the [[Sketches.histQuantiles]] /
    * [[Index.postings]] convention): every output row carries
    * `n_capped_grams` — how many of that test doc's distinct grams were
    * cap-excluded (an upper bound on how far `shared_ngrams` /
    * `overlap_frac` undercount for that doc) — and a test doc whose
    * matches were ALL capped away still surfaces as one sentinel row
    * (NULL `train_id`, `shared_ngrams` 0, NULL `overlap_frac`) instead
    * of vanishing. The cap defaults OFF (`Long.MaxValue`, zero extra
    * passes); a production decontamination run sizes it like a stop-term
    * list — well above any legitimate benchmark phrase's df, below the
    * boilerplate/duplication regime (cross-check with
    * [[Dedup.duplicationHistogram]], and dedup first — the
    * `pipeline_curate` ordering — so the cap is the backstop, not the
    * plan).
    *
    * == Auto-sizing the cap ([[AutoTrainDf]]) ==
    * At 100 TB the right cap is a corpus property, not a hand constant,
    * so `maxTrainDf = AutoTrainDf` derives it from the survivor-df
    * distribution the pre-pass already computes. The derivation is a
    * PAIR-ROW BUDGET, not a quantile: a quantile of the distribution
    * itself is shape-invariant under uniform duplication (replicate
    * every doc 100× and q99 scales right along with the dfs — the exact
    * regime the cap exists for slides under any quantile×margin rule).
    * What duplication cannot fake is the MEAN: the budget admits grams
    * coolest-first while the admitted train-side mass Σdf stays within
    * `autoCapMeanDf` rows per surviving gram (the confirm join emits one
    * row per admitted survivor occurrence × matching eval doc, so Σdf is
    * exactly the train-side expansion being bounded). On a clean corpus
    * (measured survivor mean df 1.6 at sf0.01, 9.1 at sf0.1) the whole
    * distribution fits and the cap lands on the max df — provably
    * non-binding; on a duplication-degenerate corpus (every df ~×100,
    * mean ≫ 16) the budget exhausts inside the replica mass and the hot
    * grams die before the join, loudly (`n_capped_grams` + sentinels as
    * above). LlmSpec pins both properties. The histogram is confirmed
    * against the exact eval hash set before derivation, so the derived
    * cap is a pure function of the corpus (Bloom false positives cannot
    * perturb it) — which is what lets the `contamination_autocap` gate
    * row replay the whole derivation in SQL. */
  def ngramOverlapBloom(train: DataFrame, test: DataFrame,
                        textCol: String, idCol: String,
                        n: Int = 3, minShared: Int = 2,
                        fpp: Double = 0.01,
                        maxTrainDf: Long = Long.MaxValue,
                        autoCapMeanDf: Long = 16): DataFrame = {
    require(maxTrainDf >= 1 || maxTrainDf == AutoTrainDf,
      s"maxTrainDf=$maxTrainDf must be >= 1 (or AutoTrainDf)")
    require(autoCapMeanDf >= 1, s"autoCapMeanDf=$autoCapMeanDf must be >= 1")
    val testSh = shingled(test, textCol, idCol, n, "test_id")
    val expected = math.max(1L, testSh.select("sh").distinct().count())
    // Build the Bloom with Spark's native BloomFilterAggregate (the same
    // expression runtime row-level filtering uses) and probe with the
    // codegen'd BloomFilterMightContain — the probe stays inside
    // whole-stage codegen instead of breaking the span with a Scala UDF.
    // The bloom binary rides as a foldable literal (MightContain requires
    // a constant); at fpp=1% that is ~1.2 bytes per eval shingle.
    val numBits = math.max(64L,
      math.ceil(-expected * math.log(fpp) / (math.log(2) * math.log(2))).toLong)
    val bloomBin = testSh.agg(ColumnBridge.column(
        new BloomFilterAggregate(ColumnBridge.expression(col("sh")),
          Literal(expected), Literal(numBits)).toAggregateExpression())
        .as("b"))
      .head().getAs[Array[Byte]](0)
    val mightContain = ColumnBridge.column(BloomFilterMightContain(
      Literal(bloomBin, BinaryType), ColumnBridge.expression(col("sh"))))
    val testSizes =
      gramCounts(test, textCol, idCol, n, "test_id", "n_test_ngrams")
    val survivors = shingled(spread(train), textCol, idCol, n, "train_id")
      .filter(mightContain) // map-side kill of non-matches
    if (maxTrainDf == Long.MaxValue) {
      // cap off: the round-13 plan verbatim, plus the honest constant —
      // no df pass, no extra shuffle
      // exact confirm; the planner picks the join strategy
      overlapPairs(survivors.join(testSh, Seq("sh")), testSizes, minShared)
        .withColumn("n_capped_grams", lit(0L))
    } else {
      // df pre-pass on the survivors: a map-side-combined long count per
      // gram hash (the survivor set is ≤ |eval grams| + fpp noise — far
      // below the corpus), then the over-cap set — bounded by the eval
      // gram count — broadcasts into an anti-join that kills hot grams
      // BEFORE any (test, train) pair materializes
      val dfs = survivors.groupBy(col("sh"))
        .agg(count(lit(1)).as("__df"))
        // confirm the aggregated survivor grams against the exact eval
        // hash set (broadcast, distinct — the Bloom's own source), so the
        // df distribution is FP-FREE: false positives never produce pairs
        // (the confirm join kills them), but left in the histogram they
        // would perturb the auto-cap derivation nondeterministically
        // (the fp set depends on the Bloom's bit layout, which no oracle
        // can replay). The semi-join runs on the already-aggregated frame
        // (≤ |eval grams| + fpp noise rows), not the corpus scan.
        .join(broadcast(testSh.select(col("sh")).distinct()),
          Seq("sh"), "left_semi")
        // lazy: materialized once at first action (or at cap derivation
        // in auto mode), shared by every consumer (cap histogram,
        // anti-join, capped counts) — eager would run the df pre-pass at
        // plan-construction time even when the result is never acted on
        .localCheckpoint(eager = false)
      val cap =
        if (maxTrainDf == AutoTrainDf) deriveTrainDfCap(dfs, autoCapMeanDf)
        else maxTrainDf
      val hot = dfs.filter(col("__df") > cap).select(col("sh"))
      val capped = testSh.join(broadcast(hot), Seq("sh"))
        .groupBy(col("test_id"))
        .agg(count(lit(1)).as("n_capped_grams"))
        .localCheckpoint(eager = false) // tiny: ≤ |eval docs| rows, consumed twice
      val pairs = overlapPairs(survivors
          .join(broadcast(hot), Seq("sh"), "left_anti")
          .join(testSh, Seq("sh")), testSizes, minShared)
        // lazy checkpoint: consumed by BOTH the count-attach and the
        // sentinel anti-join, whose differently-pruned subtrees would
        // otherwise run the confirm join twice; the frame is cap-bounded
        // by construction, so materializing it is cheap
        .localCheckpoint(eager = false)
      val withCounts = pairs
        .join(broadcast(capped), Seq("test_id"), "left")
        .withColumn("n_capped_grams",
          coalesce(col("n_capped_grams"), lit(0L)))
      // the loud-exclusion sentinel: a test doc with capped grams but no
      // surviving pair must not vanish from the report
      val orphans = capped
        .join(pairs.select(col("test_id")).distinct(),
          Seq("test_id"), "left_anti")
        .join(broadcast(testSizes), Seq("test_id"))
        .select(col("test_id"),
          // NULL typed from the pair schema, so non-long id columns union
          lit(null).cast(pairs.schema("train_id").dataType).as("train_id"),
          lit(0L).as("shared_ngrams"),
          col("n_test_ngrams"),
          lit(null).cast("double").as("overlap_frac"),
          col("n_capped_grams"))
      withCounts.select("test_id", "train_id", "shared_ngrams",
        "n_test_ngrams", "overlap_frac", "n_capped_grams")
        .unionByName(orphans)
    }
  }

  /** Sentinel for [[ngramOverlapBloom]]'s `maxTrainDf`: derive the cap
    * from the survivor-df distribution instead of a hand constant. */
  val AutoTrainDf: Long = -1L

  /** The pair-row-budget cap derivation (see [[ngramOverlapBloom]]'s
    * auto-sizing scaladoc for why a budget, not a quantile): over the
    * ascending per-df histogram of the survivor set, admit df levels
    * coolest-first while the admitted mass Σdf stays within
    * `meanDfBudget` × |survivor grams|; the cap is the last admitted df.
    * The collect is the per-DF-VALUE histogram — bounded by the distinct
    * df values of an eval-bounded frame, i.e. tiny at any corpus size —
    * and deterministic (sorted). An empty survivor set returns a
    * no-op cap: there is nothing downstream to bound. */
  private def deriveTrainDfCap(dfs: DataFrame, meanDfBudget: Long): Long = {
    val hist = dfs.groupBy(col("__df")).agg(count(lit(1)).as("__n"))
      .orderBy(col("__df")).collect()
    if (hist.isEmpty) return Long.MaxValue
    val budget = meanDfBudget * hist.map(_.getLong(1)).sum
    var spent = 0L
    var cap = 1L
    var open = true // greedy PREFIX: the cap is a threshold, so the
    // first df level that exceeds the budget closes every level above it
    hist.foreach { r =>
      val df = r.getLong(0)
      val mass = df * r.getLong(1)
      if (open && spent + mass <= budget) { spent += mass; cap = df }
      else open = false
    }
    cap
  }
}
