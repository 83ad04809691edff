package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables.spread

/** Corpus-level term statistics: TF-IDF ranking and a unigram-LM
  * surprisal score (the cheap, trainable-nothing stand-in for the
  * perplexity filters used to quality-gate web-scale training corpora).
  *
  * Scale shape (100 TB): everything is two hash aggregations and one
  * shuffle join on `term`. The (doc, term) explode never materializes the
  * corpus — partial aggregation combines counts map-side before the first
  * shuffle. The vocabulary frame is orders of magnitude smaller than the
  * corpus (heaps law); it shuffle-joins on `term` by default and AQE
  * downgrades to broadcast when it fits. The single-row corpus totals
  * frame is always broadcast — no driver-side `.count()` action breaks
  * the plan into separate jobs.
  */
object Corpus {

  /** Term frequency in long form: one row per (id, term) with its count.
    * One shuffle on (id, term); map-side partial aggregation first. */
  def termFreq(df: DataFrame, textCol: String, idCol: String): DataFrame =
    spread(df).select(col(idCol),
        explode(TextAnalysis.tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))

  /** Smoothed idf — `ln((N+1)/(df+1)) + 1` (sklearn's `smooth_idf`
    * formulation: never zero, never divides by zero, deterministic). */
  private def idf(nDocs: Column, dft: Column): Column =
    log((nDocs.cast("double") + 1.0) / (dft.cast("double") + 1.0)) + 1.0

  /** Top-`k` TF-IDF terms per document: (id, term, rank, score) with
    * score rounded to 6 dp and rank decided by (rounded score DESC, term)
    * so the ordering is reproducible across engines.
    *
    * Document frequency comes from `count(*) OVER (PARTITION BY term)` on
    * the tf frame rather than a groupBy+self-join: Catalyst cannot share
    * the tf subplan between two consumers, so the join formulation would
    * scan and re-aggregate the whole corpus TWICE (and carry a
    * vocabulary-sized broadcast). The window keeps it to one scan and
    * three shuffles ((id,term) → term → id), with no assumption that the
    * vocabulary fits in memory. The doc-count branch re-reads only parquet
    * row-group metadata (zero columns). The rank filter is eligible for
    * WindowGroupLimit rank-limit pushdown: each shuffle partition keeps
    * only its top-k candidates per doc before the final window sort. */
  def tfidfTopK(df: DataFrame, textCol: String, idCol: String,
                k: Int): DataFrame = {
    require(k > 0, s"k=$k must be positive")
    val tf = termFreq(df, textCol, idCol)
    val nDocs = df.agg(count(lit(1)).as("__n_docs"))
    val dft = count(lit(1)).over(Window.partitionBy(col("term")))
    val scored = tf
      .withColumn("dft", dft)
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        round(col("tf") * idf(col("__n_docs"), col("dft")), 6))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("term"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("term"), col("rank"), col("score"))
  }

  /** Corpus-wide top-`k` n-gram document frequencies — the boilerplate
    * detector: shingles shared by many documents are navigation chrome,
    * license headers, cookie banners (the strings web-corpus pipelines
    * strip before training). Per-doc DISTINCT shingles come from the
    * codegen'd one-pass [[graft.functions.Shingles]] kernel (map-side,
    * no per-occurrence blowup); counting is one hash aggregate with
    * map-side partials; the global top-k compiles to
    * TakeOrderedAndProject (per-partition partial top-k, k-row driver
    * merge — never a full sort of the vocabulary). Ties break on the
    * shingle text, so the cut is deterministic. */
  def ngramDocFreqTopK(df: DataFrame, textCol: String, idCol: String,
                       n: Int, k: Int): DataFrame = {
    require(n > 0 && k > 0, s"n=$n, k=$k must be positive")
    spread(df).select(explode(graft.functions.Shingles.distinctShingles(
        TextAnalysis.tokens(col(textCol)), n)).as("shingle"))
      .groupBy(col("shingle"))
      .agg(count(lit(1)).as("doc_freq"))
      .orderBy(col("doc_freq").desc, col("shingle"))
      .limit(k)
  }

  /** Per-document unigram surprisal: mean −ln p(term) over the document's
    * tokens, where p is the maximum-likelihood unigram model of the WHOLE
    * corpus (p(w) = corpus_count(w) / total_tokens). High values flag
    * documents full of corpus-rare tokens — the classic cheap proxy for
    * "perplexity under a reference LM" quality filtering. Swapping in an
    * externally-trained LM changes only the probability join.
    *
    * Output: (id, n_tokens, avg_nll) with avg_nll rounded to 6 dp.
    * Determinism: each term's nll is rounded to 9 dp and summed as an
    * exact decimal (the stream_window pattern) — the per-doc mean never
    * depends on double-addition order across shuffle partitions; the only
    * engine sensitivity left is a single ln() ulp at a rounding boundary. */
  def unigramSurprisal(df: DataFrame, textCol: String,
                       idCol: String): DataFrame = {
    val tf = termFreq(df, textCol, idCol)
    // corpus term count via window (same single-scan rationale as
    // tfidfTopK); the total-token branch is a plain global count of the
    // exploded tokens — map-side partial counts, one row out.
    val ctf = sum(col("tf")).over(Window.partitionBy(col("term")))
    val total = spread(df)
      .select(explode(TextAnalysis.tokens(col(textCol))).as("term"))
      .agg(count(lit(1)).as("__total"))
    tf.withColumn("ctf", ctf)
      .crossJoin(broadcast(total))
      .withColumn("nll9",
        round(-log(col("ctf").cast("double") / col("__total").cast("double")),
          9).cast("decimal(28,9)"))
      .groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_tokens"),
        round(
          sum(col("tf").cast("decimal(9,0)") * col("nll9")).cast("double")
            / sum(col("tf")).cast("double"), 6).as("avg_nll"))
  }

  /** Per-document bigram-LM negative log-likelihood: mean −ln p(w2|w1)
    * over the document's bigram positions, under an add-k-smoothed
    * bigram model of the WHOLE corpus — one modeling step up from
    * [[unigramSurprisal]] toward the CCNet-style "perplexity under a
    * reference LM" quality gate (word-order-scrambled or templated text
    * scores high even when its unigrams are common; swapping in an
    * externally-trained LM changes only the probability join).
    * p(w2|w1) = (c(w1,w2) + k) / (ctx(w1) + k·V) with ctx(w1) the
    * corpus count of bigram positions starting at w1 (so probabilities
    * sum to 1 over the V-word vocabulary) and V the exact distinct
    * unigram count. Documents with fewer than 2 tokens have no bigram
    * positions and emit no row.
    *
    * Output: (id, n_bigrams, avg_nll), avg_nll rounded to 6 dp.
    * Determinism: per-bigram nll is 9-dp-fixed and summed as an exact
    * decimal weighted by the doc's pair count — the [[unigramSurprisal]]
    * discipline, so only a single ln() ulp separates engines.
    *
    * Plan shape at 100 TB: bigrams explode map-side and partial-aggregate
    * to (doc, pair) counts before the first shuffle; corpus pair counts
    * and context counts are two further hash aggregates of
    * ALREADY-COLLAPSED frames (vocabulary², then vocabulary — heaps-law
    * small vs the corpus). Probability lookups are equi-joins on the pair
    * / context key where a hot bigram ("of the") is one PROBE-side
    * streaming key, never an in-memory window partition — the reason this
    * uses groupBy+join rather than [[unigramSurprisal]]'s count window.
    * V attaches as a broadcast scalar; the per-doc regroup is the last
    * of the four vocabulary-or-smaller shuffles. */
  def bigramNll(df: DataFrame, textCol: String, idCol: String,
                addK: Double = 1.0): DataFrame = {
    require(addK > 0, s"addK=$addK must be positive (unsmoothed MLE " +
      "assigns zero probability to unseen pairs)")
    val toks = TextAnalysis.tokens(col(textCol))
    val bg = spread(df).filter(size(toks) >= 2)
      .select(col(idCol), toks.as("w"))
      .select(col(idCol), explode(expr(
        "transform(sequence(0, size(w) - 2), i -> struct(w[i] AS w1, w[i + 1] AS w2))"))
        .as("b"))
      .select(col(idCol), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy(col(idCol), col("w1"), col("w2"))
      .agg(count(lit(1)).as("tfb"))
    val pairCounts = bg.groupBy("w1", "w2").agg(sum(col("tfb")).as("c12"))
    val ctxCounts = pairCounts.groupBy("w1").agg(sum(col("c12")).as("c1"))
    val vocab = spread(df)
      .select(explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .agg(countDistinct(col("tok")).as("__v"))
    val d = (c: Column) => c.cast("double")
    bg.join(pairCounts, Seq("w1", "w2"))
      .join(ctxCounts, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .withColumn("nll9",
        round(-log((d(col("c12")) + lit(addK)) /
          (d(col("c1")) + lit(addK) * d(col("__v")))), 9)
          .cast("decimal(28,9)"))
      .groupBy(col(idCol))
      .agg(sum(col("tfb")).as("n_bigrams"),
        round(
          sum(col("tfb").cast("decimal(9,0)") * col("nll9")).cast("double")
            / sum(col("tfb")).cast("double"), 6).as("avg_nll"))
  }

  /** Per-document interpolated Kneser–Ney trigram NLL: mean −ln p(w3|w1,w2)
    * over the document's trigram positions, under an interpolated-KN model
    * of the WHOLE corpus — the smoothing the n-gram-LM quality-gate
    * literature actually uses (Kneser & Ney 1995; Chen & Goodman 1999):
    * absolute discounting at the trigram level backing off to CONTINUATION
    * counts ("how many contexts has this word completed"), not raw
    * frequencies — so boilerplate tokens that are frequent in one template
    * stop looking fluent everywhere.
    *
    *   p(w3|w1w2) = max(c123−D,0)/c12 + D·N1+(w1w2·)/c12 · pKN(w3|w2)
    *   pKN(w3|w2) = max(N1+(·w2w3)−D,0)/N1+(·w2·)
    *                + D·N1+(w2·)/N1+(·w2·) · N1+(·w3)/N1+(··)
    *
    * with every N1+ count read off the distinct-trigram TYPE table (one
    * universe, self-consistent: N1+(·w2·) = distinct (w1,w3) around w2,
    * N1+(··) = distinct (w2,w3) pairs). Scoring the training corpus means
    * every scored trigram exists in the table, so all denominators are ≥ 1
    * and p > 0 without an OOV floor. Documents with fewer than 3 tokens
    * have no trigram positions and emit no row.
    *
    * Output: (id, n_trigrams, avg_nll), avg_nll rounded to 6 dp.
    * Determinism: the [[bigramNll]] discipline — exact long counts, the
    * probability as one fixed left-associative double tree mirrored
    * verbatim in the oracle, a single ln() 9-dp-fixed, exact decimal
    * weighted sum per doc.
    *
    * Plan shape at 100 TB: trigrams explode map-side and partial-aggregate
    * to (doc, trigram) counts before the first shuffle; every model table
    * (trigram types, trigram contexts, continuation bigrams, continuation
    * contexts, continuation unigrams) is a further hash aggregate of the
    * ALREADY-COLLAPSED type frame — vocabulary-cubed-bounded but
    * corpus-independent, and orders of magnitude below the corpus (heaps
    * law). Probability lookups are equi-joins where a hot trigram is one
    * probe-side streaming key; the 1-row type total attaches broadcast. */
  def knTrigramNll(df: DataFrame, textCol: String, idCol: String,
                   discount: Double = 0.75): DataFrame = {
    require(discount > 0 && discount < 1,
      s"discount=$discount out of (0,1) (absolute discounting)")
    val toks = TextAnalysis.tokens(col(textCol))
    val tg = spread(df).filter(size(toks) >= 3)
      .select(col(idCol), toks.as("w"))
      .select(col(idCol), explode(expr(
        "transform(sequence(0, size(w) - 3), i -> " +
          "struct(w[i] AS w1, w[i + 1] AS w2, w[i + 2] AS w3))")).as("g"))
      .select(col(idCol), col("g.w1").as("w1"), col("g.w2").as("w2"),
        col("g.w3").as("w3"))
      .groupBy(col(idCol), col("w1"), col("w2"), col("w3"))
      .agg(count(lit(1)).as("tfg"))
    val tri = tg.groupBy("w1", "w2", "w3").agg(sum(col("tfg")).as("c123"))
    // trigram context: total count + distinct-continuation count N1+(w1w2·)
    val ctx = tri.groupBy("w1", "w2")
      .agg(sum(col("c123")).as("c12"), count(lit(1)).as("t12"))
    // continuation bigram N1+(·w2w3): tri is distinct on (w1,w2,w3), so a
    // plain count per (w2,w3) IS the distinct-w1 count — no distinct agg
    val mid = tri.groupBy("w2", "w3").agg(count(lit(1)).as("mc"))
    // N1+(·w2·) = Σ_w3 mc (distinct (w1,w3) around w2); N1+(w2·) = rows
    val midCtx = mid.groupBy("w2")
      .agg(sum(col("mc")).as("m2"), count(lit(1)).as("t2"))
    val uni = mid.groupBy("w3").agg(count(lit(1)).as("uc"))
    val tot = mid.agg(count(lit(1)).as("__tot"))
    val d = (c: Column) => c.cast("double")
    val dd = lit(discount)
    tg.join(tri, Seq("w1", "w2", "w3"))
      .join(ctx, Seq("w1", "w2"))
      .join(mid, Seq("w2", "w3"))
      .join(midCtx, Seq("w2"))
      .join(uni, Seq("w3"))
      .crossJoin(broadcast(tot))
      .withColumn("nll9", round(-log(
        (greatest(d(col("c123")) - dd, lit(0.0)) / d(col("c12"))) +
          (dd * d(col("t12")) / d(col("c12"))) *
            ((greatest(d(col("mc")) - dd, lit(0.0)) / d(col("m2"))) +
              (dd * d(col("t2")) / d(col("m2"))) *
                (d(col("uc")) / d(col("__tot"))))), 9)
        .cast("decimal(28,9)"))
      .groupBy(col(idCol))
      .agg(sum(col("tfg")).as("n_trigrams"),
        round(
          sum(col("tfg").cast("decimal(9,0)") * col("nll9")).cast("double")
            / sum(col("tfg")).cast("double"), 6).as("avg_nll"))
  }

  /** Corpus-wide top-`k` bigram collocations by pointwise mutual
    * information: PMI(w1,w2) = ln(p(w1,w2) / (p(w1)·p(w2))) with the
    * joint from bigram counts and the marginals from unigram counts —
    * the classic collocation detector ("New York", "machine learning"
    * score high; chance co-occurrences of frequent words score ≈ 0).
    * `minCount` suppresses the unstable rare-pair tail.
    *
    * Plan shape: bigrams explode map-side (0-based array walk, no
    * shuffle), then ONE hash aggregate per granularity (bigram, unigram,
    * and the two scalar totals, each with map-side partials); the
    * marginal lookups are plain equi-joins on the token key and the two
    * 1-row totals attach as broadcast scalars. Top-k compiles to
    * TakeOrderedAndProject.
    *
    * Float discipline: all counts are exact longs; the PMI argument is
    * the fixed double tree ((c12·N1)/(c1·c2))·(N1/N2) — every step a
    * correctly-rounded IEEE op on identical inputs, mirrored verbatim in
    * the oracle — followed by one ln and a 6-dp round (the surprisal
    * precedent: both engines' ln agree on identical doubles). */
  def collocationsPmi(df: DataFrame, textCol: String, idCol: String,
                      minCount: Long, k: Int): DataFrame = {
    require(minCount >= 1 && k > 0, s"minCount=$minCount, k=$k")
    val toks = TextAnalysis.tokens(col(textCol))
    val words = spread(df).select(toks.as("w"))
    val uni = words.select(explode(col("w")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
    val n1 = uni.agg(sum(col("c")).as("__n1"))
    val bg = words.filter(size(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(w) - 2), i -> struct(w[i] AS w1, w[i + 1] AS w2))"))
        .as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .filter(col("c12") >= minCount)
    val n2 = words.filter(size(col("w")) >= 2)
      .agg(sum(size(col("w")) - 1).as("__n2"))
    val joined = bg
      .join(uni.select(col("tok").as("w1"), col("c").as("c1")), Seq("w1"))
      .join(uni.select(col("tok").as("w2"), col("c").as("c2")), Seq("w2"))
      .crossJoin(broadcast(n1)).crossJoin(broadcast(n2))
    val d = (c: Column) => c.cast("double")
    val pmi = round(log(
      d(col("c12")) * d(col("__n1")) / (d(col("c1")) * d(col("c2"))) *
        (d(col("__n1")) / d(col("__n2")))), 6)
    joined.withColumn("pmi", pmi)
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(k)
      .select("w1", "w2", "c12", "pmi")
  }

  /** Corpus vocabulary head: the `k` most frequent tokens with their rank
    * and CUMULATIVE corpus-coverage fraction — the first chart anyone
    * draws before sizing a tokenizer vocabulary ("how much of the corpus
    * do the top 32k tokens cover?"). Zipf makes the head tiny and the
    * coverage curve steep; the knee locates the useful vocab size.
    *
    * Plan shape: ONE hash aggregate on the token (map-side partials —
    * shuffle volume is the vocabulary, not the corpus), a single-row
    * broadcast total, and the running sum over the global rank order runs
    * on the k-row FRAME ONLY — `limit(k)` collapses to the
    * TakeOrderedAndProject heap-merge before the window, so no
    * single-partition pass over the full vocabulary ever happens.
    * Coverage derives from exact integer sums divided once at the end. */
  def vocabTopK(df: DataFrame, textCol: String, k: Int): DataFrame = {
    require(k > 0, s"k=$k must be positive")
    val toks = spread(df)
      .select(explode(TextAnalysis.tokens(col(textCol))).as("token"))
    val counts = toks.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    val total = toks.agg(count(lit(1)).as("__total"))
    val top = counts
      .orderBy(col("cnt").desc, col("token"))
      .limit(k)
    val w = Window.orderBy(col("cnt").desc, col("token"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    top
      .crossJoin(broadcast(total))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("cnt").desc, col("token"))))
      .withColumn("cum_frac",
        round(sum(col("cnt")).over(w).cast("double")
          / col("__total").cast("double"), 6))
      .select("rank", "token", "cnt", "cum_frac")
  }

  /** Per-document character-distribution Shannon entropy (nats): a cheap
    * degenerate-text signal — near-zero entropy flags repeated-character
    * runs and template junk; natural text sits in a narrow band per
    * language/script.
    *
    * Float discipline mirrors [[unigramSurprisal]]: each character's
    * −ln p is rounded to 9 dp and fixed as DECIMAL(28,9), so the weighted
    * sum is exact decimal arithmetic — the per-doc entropy never depends
    * on double-addition order across partitions.
    *
    * Plan shape: the char explode is map-side; the (doc, char) count
    * partial-aggregates before its shuffle, so the exchange carries at
    * most |alphabet| rows per document, not one per character. The n
    * window and the final per-doc aggregate both hash on the doc key —
    * one repartitioning for the whole tail. */
  def charEntropy(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val chars = spread(df.filter(length(col(textCol)) > 0))
      .select(col(idCol), col(textCol),
        explode(sequence(lit(1), length(col(textCol)))).as("__i"))
      .select(col(idCol), col(textCol).substr(col("__i"), lit(1)).as("ch"))
    val cf = chars.groupBy(col(idCol), col("ch")).agg(count(lit(1)).as("cnt"))
    val n = sum(col("cnt")).over(Window.partitionBy(col(idCol)))
    cf.withColumn("n", n)
      .withColumn("ent9",
        round(-log(col("cnt").cast("double") / col("n").cast("double")), 9)
          .cast("decimal(28,9)"))
      .groupBy(col(idCol))
      .agg(max(col("n")).as("n_chars"),
        round(
          sum(col("cnt").cast("decimal(9,0)") * col("ent9")).cast("double")
            / max(col("n")).cast("double"), 6).as("char_entropy"))
  }

  /** Per-document n-gram novelty: the fraction of a document's distinct
    * word n-grams whose FIRST corpus occurrence (smallest `idCol`) is
    * this document — the "how much genuinely new content does each
    * document contribute" measurement used to value crawl snapshots and
    * order ingestion (a doc-level view of the duplication-vs-novelty
    * split behind dedup-before-training arguments).
    *
    * Output: (id, n_ngrams, n_novel, novelty) with novelty rounded to
    * 6 dp; documents with fewer than `n` tokens have no n-grams and
    * degrade out.
    *
    * Shingles are hashed to 8-byte `xxhash64` keys before the shuffle —
    * same collision trade as the contamination family: a collision could
    * misattribute one gram's first occurrence, and string keys would
    * ship n-word strings through every exchange.
    *
    * Scale shape: two hash aggregations on uniform 8-byte keys (the
    * min-id-per-gram aggregate combines map-side) and one shuffle join
    * of the gram stream against the (much smaller, one row per distinct
    * gram) first-occurrence frame — no windows, no skew (boilerplate
    * grams have high fan-in but the min() pre-aggregates map-side, and
    * the join key distribution is md5-uniform). */
  def ngramNovelty(df: DataFrame, textCol: String, idCol: String,
                   n: Int = 3): DataFrame = {
    val sh = spread(df).select(col(idCol),
        explode(graft.functions.Shingles.distinctShingles(
          TextAnalysis.tokens(col(textCol)), n)).as("shingle"))
      .select(col(idCol), xxhash64(col("shingle")).as("sh"))
    val first = sh.groupBy(col("sh")).agg(min(col(idCol)).as("__first"))
    sh.join(first, Seq("sh"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_ngrams"),
        sum(when(col(idCol) === col("__first"), 1L).otherwise(0L))
          .as("n_novel"))
      .withColumn("novelty",
        round(col("n_novel").cast("double") / col("n_ngrams").cast("double"),
          6))
  }

  /** Per-source unigram-distribution KL divergence against the whole
    * corpus: KL(p_source ‖ p_corpus) in nats — the mixture diagnostic
    * that says how far each source's token distribution sits from the
    * blend it is being mixed into (high = distinct register/domain, near
    * zero = redundant with the mix; the number corpus-mixing work reads
    * before re-weighting sources).
    *
    * Output: (source, n_tokens, kl_nats), kl rounded to 6 dp. KL is
    * finite by construction — every source term is also a corpus term.
    *
    * Float discipline mirrors [[charEntropy]]: each term's contribution
    * `p_s·ln(p_s/p_c)` is rounded to 9 dp, fixed as DECIMAL(28,9), and
    * summed exactly — no double-addition-order dependence. Tokens hash
    * to 8-byte `xxhash64` keys before any shuffle (collision trade as
    * documented on [[ngramNovelty]]).
    *
    * Scale shape: two hash aggregations — (source, token) counts combine
    * map-side before the first shuffle; the per-token corpus counts
    * aggregate the already-collapsed (source, token) frame, not the raw
    * stream. The per-source totals and the single-row corpus total are
    * broadcast. The one data-sized shuffle join keys on the md5-uniform
    * token hash; probability ratios are computed in doubles so no count
    * product can overflow a long at corpus scale. */
  def sourceDivergence(df: DataFrame, textCol: String,
                       sourceCol: String): DataFrame = {
    val tok = spread(df).select(col(sourceCol).as("source"),
        explode(TextAnalysis.tokens(col(textCol))).as("tokstr"))
      .select(col("source"), xxhash64(col("tokstr")).as("t"))
    val perSrc = tok.groupBy(col("source"), col("t"))
      .agg(count(lit(1)).as("c_st"))
    val perTok = perSrc.groupBy(col("t")).agg(sum(col("c_st")).as("c_t"))
    val srcTot = perSrc.groupBy(col("source"))
      .agg(sum(col("c_st")).as("n_s"))
    val total = perTok.agg(sum(col("c_t")).as("n_corpus"))
    val ps = col("c_st").cast("double") / col("n_s").cast("double")
    val ratio = (col("c_st").cast("double") * col("n_corpus").cast("double")) /
      (col("n_s").cast("double") * col("c_t").cast("double"))
    perSrc.join(perTok, Seq("t"))
      .join(broadcast(srcTot), Seq("source"))
      .crossJoin(broadcast(total))
      .withColumn("kl9", round(ps * log(ratio), 9).cast("decimal(28,9)"))
      .groupBy(col("source"))
      .agg(max(col("n_s")).as("n_tokens"),
        round(sum(col("kl9")).cast("double"), 6).as("kl_nats"))
  }

  /** Pairwise source content overlap: for every pair of sources sharing
    * at least one distinct word n-gram, the shared-gram count and the
    * Jaccard similarity of their gram sets — the crawl-snapshot /
    * mixture-component duplication matrix (two snapshots of the same
    * crawl show up as a high-Jaccard pair; downweight or cross-dedup
    * before training).
    *
    * Output: (source_a, source_b, n_shared, jaccard) with source_a <
    * source_b, jaccard rounded to 6 dp.
    *
    * Scale shape: the (source, gram-hash) frame collapses to distinct
    * before anything else, so each source contributes each gram once;
    * the self-join keys on the md5-uniform gram hash and fans out at
    * most |sources-sharing-the-gram|² rows per gram. That is the right
    * shape when `sourceCol` is a mixture label (dozens to hundreds of
    * values — the intended use); for millions of groups (per-domain
    * overlap) use the dedup_cross / MinHash family instead, which never
    * enumerates group pairs. Per-pair sizes join broadcast. */
  def sourceOverlap(df: DataFrame, textCol: String, sourceCol: String,
                    n: Int = 3): DataFrame = {
    val sg = sourceGrams(df, textCol, sourceCol, n)
    val sizes = sg.groupBy(col("source")).agg(count(lit(1)).as("n_grams"))
    val shared = sg.toDF("source_a", "g")
      .join(sg.toDF("source_b", "g"), Seq("g"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared"))
    shared
      .join(broadcast(sizes.toDF("source_a", "n_a")), Seq("source_a"))
      .join(broadcast(sizes.toDF("source_b", "n_b")), Seq("source_b"))
      .withColumn("jaccard", round(col("n_shared").cast("double") /
        (col("n_a") + col("n_b") - col("n_shared")).cast("double"), 6))
      .select("source_a", "source_b", "n_shared", "jaccard")
  }

  /** The distinct (source, g) rows of [[sourceOverlap]] and
    * [[sourceUnique]]: each word `n`-gram's xxhash64 `g` once per
    * source that holds it. */
  private def sourceGrams(df: DataFrame, textCol: String,
                          sourceCol: String, n: Int): DataFrame =
    spread(df).select(col(sourceCol).as("source"),
        explode(graft.functions.Shingles.distinctShingles(
          TextAnalysis.tokens(col(textCol)), n)).as("gram"))
      .select(col("source"), xxhash64(col("gram")).as("g"))
      .distinct()

  /** Marginal unique contribution per source: the fraction of each
    * source's distinct grams that appear in NO other source — the
    * drop-a-source question ("is src X still buying vocabulary the
    * blend doesn't already have?") that [[sourceOverlap]]'s pairwise
    * matrix and [[sourceDivergence]]'s distribution distance both leave
    * unanswered (a source can overlap everyone a little yet still be
    * 90% unique in aggregate).
    *
    * One pass: distinct (source, gram) rows, a gram-keyed aggregate
    * counting holder sources, then a per-source rollup — unlike the
    * pairwise overlap join, nothing here scales with the NUMBER of
    * sources, so this is also the shape to reach for when `sourceCol`
    * has millions of values (per-domain uniqueness). Exact longs and
    * integer ppm; no floats in the contract.
    *
    * Output: (source, n_grams, n_unique, unique_ppm). */
  def sourceUnique(df: DataFrame, textCol: String, sourceCol: String,
                   n: Int = 3): DataFrame = {
    val sg = sourceGrams(df, textCol, sourceCol, n)
    val holders = sg.groupBy(col("g"))
      .agg(count(lit(1)).as("__nsrc"))
    sg.join(holders, Seq("g"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__nsrc") === 1L, 1L).otherwise(0L)).as("n_unique"))
      .withColumn("unique_ppm",
        expr("n_unique * 1000000 div n_grams"))
  }

  /** Okapi BM25 retrieval: score every document against a literal term
    * set and keep the global top-`k` — the standard ranking function for
    * "find the documents most about X" over a training corpus (seed-set
    * expansion, targeted-domain mining, eval-set curation), and a
    * materially different scorer from [[tfidfTopK]]: BM25 saturates term
    * frequency (k1) and penalizes long documents (b), which is why it,
    * not raw TF-IDF, is the retrieval default.
    *
    * Plan shape: ONE corpus aggregate computes N, total length, and every
    * term's document frequency as conditional sums (a single 1-row frame
    * — not one job per term), broadcast-attached to the scan; per-term tf
    * is a map-side HOF count over the token array (no explode — the
    * corpus never shuffles on tokens); the global top-k compiles to
    * TakeOrderedAndProject (per-partition heaps, k-row driver merge).
    * Two passes over the corpus total (stats + scoring) — the
    * irreducible cost of corpus-normalized scoring, same as tf-idf.
    *
    * Engine determinism: per-term contributions are a fixed tree of
    * correctly-rounded IEEE ops on exact integers (tf, dl, df, N),
    * rounded to 9 dp and summed as exact decimals ([[unigramSurprisal]]'s
    * pattern), so only `ln` passes through libm. Ties in the final
    * 6-dp score break on the id. Docs matching no term score 0 and are
    * filtered before the top-k. */
  def bm25TopK(df: DataFrame, textCol: String, idCol: String,
               terms: Seq[String], k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25TopK needs at least one query term")
    require(k > 0, s"k=$k must be positive")
    val toks = TextAnalysis.tokens(col(textCol))
    val base = spread(df).select(col(idCol), toks.as("__toks"))
      .withColumn("dl", size(col("__toks")))
    val statAggs = Seq(count(lit(1)).as("__n_docs"),
      sum(col("dl").cast("long")).as("__total_len")) ++
      terms.zipWithIndex.map { case (t, i) =>
        sum(when(array_contains(col("__toks"), t), 1L).otherwise(0L))
          .as(s"__df_$i")
      }
    val stats = base.agg(statAggs.head, statAggs.tail: _*)
    val contribs = terms.zipWithIndex.map { case (t, i) =>
      bm25Term(col(s"__df_$i"),
        size(filter(col("__toks"), x => x === lit(t))).cast("double"),
        k1, b)
    }
    base.crossJoin(broadcast(stats))
      .withColumn("__s", contribs.reduce(_ + _))
      .withColumn("bm25", round(col("__s").cast("double"), 6))
      .filter(col("bm25") > 0)
      .orderBy(col("bm25").desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("dl"), col("bm25"))
  }

  /** The robust BM25 idf ln((N − df + 0.5) / (df + 0.5) + 1) of a term
    * with document frequency `df` among `__n_docs` documents. */
  private def bm25Idf(df: Column): Column = {
    val n = col("__n_docs").cast("double")
    log((n - df.cast("double") + 0.5) / (df.cast("double") + 0.5) + 1.0)
  }

  /** One term's BM25 contribution at term frequency `tf` (a double) in a
    * document of length `dl`, over the `__n_docs`/`__total_len` corpus
    * stats: a fixed tree of correctly-rounded double ops, fixed at 9 dp.
    * The twin of `SearchRows.bm25TermSql`. */
  private def bm25Term(df: Column, tf: Column, k1: Double,
                       b: Double): Column = {
    val avgdl = col("__total_len").cast("double") /
      col("__n_docs").cast("double")
    val denom = tf + lit(k1) *
      (lit(1.0) - lit(b) + lit(b) * col("dl").cast("double") / avgdl)
    round(bm25Idf(df) * tf * lit(k1 + 1.0) / denom, 9).cast("decimal(28,9)")
  }

  /** [[bm25TopK]] with the query as a FRAME of weighted terms instead of
    * compile-time literals — the scorer that makes data-dependent
    * queries (pseudo-relevance feedback, query logs, per-segment seed
    * lists) possible: term stats can't be conditional-sum columns when
    * the terms aren't known at plan time, so this takes the exploded
    * path. `terms`: (term STRING, w DECIMAL weight); a document's score
    * is Σ w·bm25(term, doc) over its matching terms, each per-term
    * contribution the same 9-dp-fixed tree as [[bm25TopK]] (weights are
    * exact decimals, so the weighted sum stays exact until the final
    * 6-dp cast).
    *
    * Plan shape: one corpus aggregate for N/total length (broadcast
    * 1-row); ONE explode of the corpus token stream broadcast-joined to
    * the term frame — only MATCHING (doc, term) rows survive into the
    * tf/df shuffles (both keyed small: |docs-with-a-hit| × |terms|);
    * per-term df is a |terms|-row broadcast back. The global top-k is
    * TakeOrderedAndProject. Two corpus passes total, same floor as
    * [[bm25TopK]]. */
  def bm25TopKWeighted(df: DataFrame, textCol: String, idCol: String,
                       terms: DataFrame, k: Int,
                       k1: Double = 1.2, b: Double = 0.75,
                       scoreName: String = "bm25"): DataFrame = {
    require(k > 0, s"k=$k must be positive")
    val toks = TextAnalysis.tokens(col(textCol))
    val base = spread(df).select(col(idCol), toks.as("__toks"))
      .withColumn("dl", size(col("__toks")))
    val stats = broadcast(base.agg(count(lit(1)).as("__n_docs"),
      sum(col("dl").cast("long")).as("__total_len")))
    val t = broadcast(terms.select(col("term"), col("w")))
    val matched = base
      .select(col(idCol), col("dl"), explode(col("__toks")).as("term"))
      .join(t, Seq("term"))
    val tf = matched.groupBy(col(idCol), col("dl"), col("term"), col("w"))
      .agg(count(lit(1)).as("__tf"))
    val dfT = broadcast(matched.select(col(idCol), col("term")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("__df")))
    tf.join(dfT, Seq("term")).crossJoin(stats)
      .withColumn("__c",
        bm25Term(col("__df"), col("__tf").cast("double"), k1, b) * col("w"))
      .groupBy(col(idCol), col("dl"))
      .agg(sum(col("__c")).as("__s"))
      .withColumn(scoreName, round(col("__s").cast("double"), 6))
      .filter(col(scoreName) > 0)
      .orderBy(col(scoreName).desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("dl"), col(scoreName))
  }

  /** Pseudo-relevance-feedback retrieval (Rocchio/RM3 family): run the
    * seed query, mine expansion terms from the top `fbDocs` results,
    * re-retrieve with the expanded query — the classic recall lever for
    * seed-set expansion over a training corpus (find the documents about
    * X that don't SAY X the way the seed terms do).
    *
    * Expansion scoring is the relevance-model-flavored but
    * integer-friendly `idf · fbTf`: fbTf = the term's total occurrences
    * across the feedback docs (exact long), idf the same
    * robust-idf/9-dp-fixed tree as BM25 (which is what keeps ubiquitous
    * terms out without a stopword list — their idf is ~0). Seed terms
    * are excluded; the top `expandK` by (score desc, term) join the
    * query at weight `beta`, seeds keep weight 1.0 — both weights exact
    * decimal literals, so the re-retrieval stays engine-exact.
    *
    * Plan shape: [[bm25TopK]] (two corpus passes) for the feedback
    * slate; the slate is `fbDocs` rows and broadcast-semi-joins back to
    * the corpus for candidate mining (one pass: the explode is filtered
    * to fbDocs documents map-side); candidate df is one more exploded
    * pass restricted by a broadcast candidate join; re-retrieval is
    * [[bm25TopKWeighted]]. Every intermediate frame after the scans is
    * bounded by the feedback vocabulary, never the corpus. */
  def prfTopK(df: DataFrame, textCol: String, idCol: String,
              seedTerms: Seq[String], k: Int,
              fbDocs: Int = 10, expandK: Int = 5,
              k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(seedTerms.nonEmpty, "prfTopK needs seed terms")
    require(fbDocs >= 1 && expandK >= 0,
      s"fbDocs=$fbDocs / expandK=$expandK out of range")
    val spark = df.sparkSession
    import spark.implicits._
    val toks = TextAnalysis.tokens(col(textCol))
    val base = spread(df).select(col(idCol), toks.as("__toks"))
    val fb = broadcast(
      bm25TopK(df, textCol, idCol, seedTerms, fbDocs, k1, b)
        .select(col(idCol)))
    val fbTf = base.join(fb, Seq(idCol), "left_semi")
      .select(explode(col("__toks")).as("term"))
      .filter(!col("term").isin(seedTerms: _*))
      .groupBy(col("term")).agg(count(lit(1)).as("__fbtf"))
    // document frequency of the candidate terms: per-doc dedup happens
    // MAP-SIDE (array_distinct before the explode), so the count
    // aggregate partial-combines and nothing (doc, term)-grained ever
    // shuffles — r17, guide §2.3 (was explode → join → corpus-wide
    // DISTINCT on (doc, term) → count; identical __df values, since the
    // old distinct deduplicated exactly the per-doc repeats
    // array_distinct removes)
    val candDf = base
      .select(explode(array_distinct(col("__toks"))).as("term"))
      .join(broadcast(fbTf.select("term")), Seq("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("__df"))
    val nDocs = broadcast(base.agg(count(lit(1)).as("__n_docs")))
    val escore = round(bm25Idf(col("__df")) * col("__fbtf").cast("double"),
      9).cast("decimal(28,9)")
    val picked = fbTf.join(broadcast(candDf), Seq("term")).crossJoin(nDocs)
      .withColumn("__es", escore)
      .orderBy(col("__es").desc, col("term")).limit(expandK)
      .select(col("term"))
    val qTerms = seedTerms.toDF("term")
      .withColumn("w", expr("CAST('1.0' AS DECIMAL(2,1))"))
      .unionByName(picked
        .withColumn("w", expr("CAST('0.5' AS DECIMAL(2,1))")))
    bm25TopKWeighted(df, textCol, idCol, qTerms, k, k1, b,
      scoreName = "prf")
  }

  /** Zipf-law fit over the top-`topN` term frequencies: least-squares
    * slope/intercept/R² of ln(count) against ln(rank) — the standard
    * corpus health diagnostic (natural text sits near slope −1;
    * template/generated corpora flatten, boilerplate-heavy crawls
    * steepen; a LOW R² means the corpus isn't Zipfian at all — e.g.
    * machine-generated key-value dumps).
    *
    * Plan shape: one hash aggregate over the exploded token stream
    * (map-side partials — the corpus' only shuffle), a
    * TakeOrderedAndProject top-N cut (per-partition heaps, N-row driver
    * merge), then the regression runs on N rows: the rank window and
    * moment sums are single-partition over the N-row frame, which is the
    * POINT of fitting on the head — N is a constant, not a scale
    * variable. Closed-form least squares from six moment sums, so no
    * iteration.
    *
    * Engine determinism: ln(rank)/ln(count) are 9-dp-fixed decimals;
    * products re-fix at 9 dp; sums are exact decimals cast to double
    * once ([[unigramSurprisal]]'s discipline), then a fixed tree of
    * correctly-rounded double ops. Rank ties break on the term text.
    * Degenerate inputs report no fit, never a fabricated number and
    * never an error: a single-distinct-term corpus has zero rank
    * variance, and an all-equal head can have zero count variance — the
    * divisions are explicitly guarded to NULL there (this session runs
    * ANSI mode, where an unguarded x/0 THROWS rather than nulling; the
    * DuckDB oracle nulls, so the guard is also what keeps the engines
    * aligned). An all-equal head with nonzero 9-dp rounding residue
    * instead reports slope ≈ 0, R² ≈ 0. */
  def zipfFit(df: DataFrame, textCol: String, topN: Int = 100): DataFrame = {
    require(topN >= 2, s"topN=$topN needs at least two points to fit")
    val top = spread(df)
      .select(explode(TextAnalysis.tokens(col(textCol))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term")).limit(topN)
    val ranked = top.withColumn("rank",
      row_number().over(Window.orderBy(col("cnt").desc, col("term"))))
    logLogFit(ranked, col("rank"), col("cnt"),
      Seq("n_terms", "zipf_slope", "zipf_intercept", "zipf_r2"))
  }

  /** The least-squares fit of ln `y` on ln `x` over the rows of `pts`,
    * shared by [[zipfFit]] and [[heapsFit]] (the DuckDB twin is
    * `Shared.logLogFitSql`): ln points 9-dp-fixed as decimals, products
    * re-fixed at 9 dp, exact decimal moment sums cast to double once,
    * then the guarded closed-form tree. One row, named by `names` =
    * (count, slope, intercept, r²). */
  private def logLogFit(pts: DataFrame, x: Column, y: Column,
                        names: Seq[String]): DataFrame = {
    val Seq(nName, slope, intercept, r2) = names
    def fix9(c: Column): Column = round(c, 9).cast("decimal(12,9)")
    val sums = pts.select(fix9(log(x.cast("double"))).as("x"),
        fix9(log(y.cast("double"))).as("y"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(round(col("x") * col("y"), 9).cast("decimal(14,9)")).as("sxy"),
        sum(round(col("x") * col("x"), 9).cast("decimal(14,9)")).as("sxx"),
        sum(round(col("y") * col("y"), 9).cast("decimal(14,9)")).as("syy"))
    val n = col("n").cast("double")
    val sx = col("sx").cast("double"); val sy = col("sy").cast("double")
    val sxy = col("sxy").cast("double")
    val sxx = col("sxx").cast("double")
    val syy = col("syy").cast("double")
    val cov = n * sxy - sx * sy
    val varx = n * sxx - sx * sx
    val vary = n * syy - sy * sy
    sums.select(col("n").as(nName),
      when(varx =!= 0.0, round(cov / varx, 6)).as(slope),
      when(varx =!= 0.0,
        round((sy - cov / varx * sx) / n, 6)).as(intercept),
      when(varx * vary =!= 0.0,
        round(cov * cov / (varx * vary), 6)).as(r2))
  }

  /** Heaps'-law fit of vocabulary growth: least squares of
    * ln(distinct types so far) against ln(tokens so far) over the
    * corpus in doc-id order — V(n) ≈ K·n^β, the companion diagnostic to
    * [[zipfFit]] (natural text sits near β ≈ 0.4–0.6; β → 1 means the
    * stream keeps minting new types — OCR noise, random ids; a sharp
    * flattening means the crawl is exhausting its domain). Answers "how
    * much NEW vocabulary does the next TB buy?" from the corpus itself.
    *
    * The cumulative curve needs a corpus-order prefix sum, which is the
    * one primitive a naive window gets catastrophically wrong at scale
    * (ORDER BY over 10⁹ docs = one partition). This uses the standard
    * TWO-PHASE distributed prefix sum instead: docs bucket by
    * `doc div bucketSize`, per-bucket totals cumulate on the tiny
    * bucket frame (|docs|/bucketSize rows — the only ordered window,
    * same posture as the quantile sketch's bucket window), offsets
    * broadcast back, and the intra-bucket running sum windows WITHIN
    * each bucket. New-type counts come from the ngram_novelty
    * first-occurrence shape (min doc per token).
    *
    * Determinism: counts are exact longs, then [[zipfFit]]'s
    * [[logLogFit]]. Output: one row (n_points, heaps_beta, heaps_intercept, heaps_r2)
    * — K = e^intercept, left to the caller (no libm exp in the
    * contract). */
  def heapsFit(df: DataFrame, textCol: String, idCol: String,
               bucketSize: Long = 1024L): DataFrame = {
    require(bucketSize >= 1, s"bucketSize=$bucketSize must be >= 1")
    val toks = TextAnalysis.tokens(col(textCol))
    val perDoc = spread(df)
      .select(col(idCol).as("doc"), toks.as("__toks"))
      .select(col("doc"), size(col("__toks")).cast("long").as("tc"),
        explode_outer(array_distinct(col("__toks"))).as("term"))
    val firstSeen = perDoc.filter(col("term").isNotNull)
      .groupBy(col("term")).agg(min(col("doc")).as("doc"))
      .groupBy(col("doc")).agg(count(lit(1)).as("nt"))
    val docs = perDoc.groupBy(col("doc")).agg(max(col("tc")).as("tc"))
      .join(firstSeen, Seq("doc"), "left")
      .withColumn("nt", coalesce(col("nt"), lit(0L)))
      .withColumn("bkt", expr(s"doc div $bucketSize"))
      .localCheckpoint()
    val bucketTotals = docs.groupBy(col("bkt"))
      .agg(sum(col("tc")).as("btc"), sum(col("nt")).as("bnt"))
    val wB = Window.orderBy(col("bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bucketTotals
      .withColumn("otc", coalesce(sum(col("btc")).over(wB), lit(0L)))
      .withColumn("ont", coalesce(sum(col("bnt")).over(wB), lit(0L)))
      .select(col("bkt"), col("otc"), col("ont"))
    val wD = Window.partitionBy(col("bkt")).orderBy(col("doc"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val pts = docs.join(broadcast(offsets), Seq("bkt"))
      .withColumn("cumT", col("otc") + sum(col("tc")).over(wD))
      .withColumn("cumV", col("ont") + sum(col("nt")).over(wD))
      .filter(col("cumT") > 0 && col("cumV") > 0)
    logLogFit(pts, col("cumT"), col("cumV"),
      Seq("n_points", "heaps_beta", "heaps_intercept", "heaps_r2"))
  }

  /** Sketch-based per-source corpus profile: HyperLogLog vocabulary
    * cardinality and log-bucket length quantiles — the 100 TB answer to
    * "how big is each source's vocabulary and what does its length
    * distribution look like". Exact `count(DISTINCT term)` per source
    * shuffles the full (source, term) universe (tens of billions of keys
    * at web scale) and an exact percentile sorts every group; the
    * sketches here are CONSTANT-size per source (256 HLL registers, ≤ a
    * few hundred HDR buckets), mergeable, so every map task contributes
    * a fixed-size partial per source and the reduce side merges partials
    * — the shuffle volume is #tasks × #sources × sketch-size regardless
    * of corpus size. Both sketches are order/partitioning-insensitive on
    * merge (registers max-merge, buckets sum-merge), so the estimates
    * are reproducible across cluster sizes.
    *
    * == Engine-exact (unusual for a sketch) ==
    * Built from the repo's own replayable sketch algebra rather than
    * Spark's engine-specific `approx_count_distinct` (HLL++ with private
    * register layout) / `percentile_approx` (t-digest): vocabulary is
    * [[Sketches.registers]]/[[Sketches.cardinality]]'s exact-integer HLL
    * register fold over md5(term) (the [[Sketches.hllSourceOverlap]]
    * machinery, ±~6.5% at m=256, with the linear-counting small-range
    * branch so tiny vocabularies estimate accurately too), lengths are
    * [[Sketches.histQuantiles]]' string-math HDR buckets (error ≤ the
    * selected bucket's ≤10% relative width). Every step is exact integer
    * arithmetic up to one correctly-rounded division per estimate, so a
    * DuckDB oracle reproduces every output bit-for-bit — this profile is
    * hash-gated like any exact operator, not merely spec-bounded.
    *
    * Emits per source: exact `docs`/`tokens` (long counts), `vocab_est`
    * (HLL, 3 dp), and `len_p50/p90/p99` (bucket-interpolated quantiles
    * of `lenCol`, 6 dp). `lenCol` must be non-negative (the
    * [[Sketches.histQuantiles]] contract; lengths/counts are).
    *
    * One pass over the exploded token stream serves both vocabulary and
    * the exact token count: the |sources|×256 register aggregate carries
    * a per-register occurrence count whose per-source sum is the total —
    * no second corpus scan for `tokens`. The doc-grain stats aggregate
    * separately (quantiles over docs must not be token-weighted) and the
    * tiny per-source frames broadcast-join. */
  def sketchProfile(df: DataFrame, sourceCol: String, textCol: String,
                    lenCol: String): DataFrame = {
    val src = col(sourceCol)
    val reg = spread(df)
      .select(src, explode(TextAnalysis.tokens(col(textCol))).as("term"))
      .select(src, md5(col("term")).as("h"))
      .withColumn("idx", expr(Sketches.IdxSql))
      .withColumn("rho", expr(Sketches.RhoSql))
      .groupBy(src, col("idx"))
      .agg(max(col("rho")).as("m"), count(lit(1)).as("__c"))
      .localCheckpoint() // |sources|×256: both branches read it for free
    val vocab = Sketches
      .cardinality(reg.select(src, col("idx"), col("m")), Seq(sourceCol),
        smallRange = true)
      .select(src, col("est").as("vocab_est"))
    val toks = reg.groupBy(src).agg(sum(col("__c")).as("tokens"))
    val docs = df.groupBy(src).agg(count(lit(1)).as("docs"))
    val lens = Sketches
      .histQuantiles(df, Seq(sourceCol), lenCol,
        ps = Seq(0.5, 0.9, 0.99), gridPerUnit = 1L)
      .groupBy(src).agg(
        max(when(col("p") === 0.5, col("est"))).as("len_p50"),
        max(when(col("p") === 0.9, col("est"))).as("len_p90"),
        max(when(col("p") === 0.99, col("est"))).as("len_p99"))
    docs.join(broadcast(toks), Seq(sourceCol))
      .join(broadcast(vocab), Seq(sourceCol))
      .join(broadcast(lens), Seq(sourceCol))
      .select(src, col("docs"), col("tokens"), col("vocab_est"),
        col("len_p50"), col("len_p90"), col("len_p99"))
  }

  /** BPE merge-candidate table: corpus-weighted adjacent character-pair
    * frequencies — the statistic one iteration of byte-pair-encoding
    * tokenizer training greedily maximizes (Sennrich et al. 2016). The
    * top pair is the next merge; re-running after applying merges is the
    * full training loop (driver-side loop over this operator, each round
    * a new plan — BPE's sequential-merge dependency is irreducible, but
    * each ROUND is one distributed pass).
    *
    * Scale shape — the char-level work never touches the corpus: tokens
    * collapse to the VOCABULARY (one map-side-combined aggregate; Heaps'
    * law makes it orders of magnitude smaller), and the [[
    * graft.functions.CharWindows]] pair explode + weighted count run
    * over that tiny frame. Top-k compiles to TakeOrderedAndProject.
    * All counts exact longs; ties break on the pair text. */
  def bpePairCounts(df: DataFrame, textCol: String, k: Int): DataFrame = {
    require(k > 0, s"k=$k must be positive")
    val vocab = spread(df)
      .select(explode(TextAnalysis.tokens(col(textCol))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("__wc"))
    vocab
      .select(col("__wc"),
        explode(graft.functions.CharWindows.charWindows(col("word"), 2, 1))
          .as("pair"))
      .groupBy(col("pair")).agg(sum(col("__wc")).as("pair_count"))
      .orderBy(col("pair_count").desc, col("pair"))
      .limit(k)
  }

  /** DSIR-style importance resampling (Xie et al., "Data Selection for
    * Language Models via Importance Resampling", NeurIPS 2023): pick the
    * `n` raw-corpus documents whose hashed-n-gram feature distribution
    * looks most like a TARGET corpus, with Gumbel noise so the pick is a
    * SAMPLE proportional to the importance weight, not a diversity-
    * collapsing argmax of it.
    *
    * Model: features are unigrams AND adjacent bigrams hashed into
    * `buckets` ids (16-bit md5 prefix mod `buckets` — [[QualityModel]]'s
    * bucket function). Both corpora reduce to add-`addK`-smoothed bucket
    * multinomials; a document's log importance weight is
    * `Σ_f tf(f) · [ln p_target(f) − ln p_raw(f)]`. Gumbel-top-k then
    * samples ∝ exp(logw): `priority = logw + (−ln(−ln u))` with `u` the
    * 52-bit md5 uniform of (salt ∥ id) — deterministic, add-stable, and
    * engine-portable like every sampler in [[Sampling]].
    *
    * Output: the selected rows as (id, n_feats, logw, priority), priority
    * descending then id. Raw documents whose text yields zero features
    * cannot be scored and are not candidates. An EMPTY target corpus has
    * no distribution to match: every log-weight (and priority) is null —
    * surfaced, never thrown — and the selection is id-ordered noise;
    * callers gate on `logw IS NOT NULL` or validate the target first. Float discipline: counts
    * are exact longs; each bucket's log-ratio is 9-dp-fixed decimal and
    * the per-doc sum is an exact decimal weighted sum (the
    * [[unigramSurprisal]] discipline); the Gumbel term is two `ln`s on an
    * exactly-dyadic uniform, rounded to 6 dp before ranking with the id
    * as the total-order tiebreak (the [[bm25TopK]] precedent: only a
    * value landing within an ulp of a 6-dp rounding boundary could ever
    * rank differently across engines).
    *
    * Plan shape at 100 TB: both corpora collapse map-side to ≤ `buckets`
    * rows (two tiny hash aggregates — partial-combined explodes, nothing
    * doc-grained shuffles); the log-ratio table (≤ `buckets` rows) and
    * the two scalar totals broadcast onto the per-doc bucket counts
    * (map-side-combined groupBy); one per-doc regroup, then the top-n is
    * TakeOrderedAndProject (per-partition heaps, n-row driver merge — no
    * global sort). The raw corpus is featurized ONCE: the raw model's
    * bucket counts roll up from the checkpointed per-doc counts, so the
    * dominant explode+hash stage is never repeated. */
  def dsirSample(raw: DataFrame, target: DataFrame, textCol: String,
                 idCol: String, n: Int, buckets: Int = 4096,
                 addK: Double = 1.0, salt: String = ""): DataFrame = {
    require(n > 0, s"n=$n must be positive")
    require(buckets >= 1 && buckets <= 65536,
      s"buckets=$buckets not in 1..65536 (bucket is a 16-bit md5 prefix)")
    require(addK > 0, s"addK=$addK must be positive (unsmoothed ratios " +
      "are undefined on buckets unseen in either corpus)")
    def bucket(t: Column): Column =
      conv(substring(md5(t), 1, 4), 16, 10).cast("long") % buckets
    // unigram + adjacent-bigram features of one document — the codegen'd
    // AllShingles kernel (duplicates kept: features are frequency-
    // weighted); bucketing happens AFTER the explode so md5/conv run as
    // codegen'd scalars, not per-element lambdas
    def feats(text: Column): Column = {
      val toks = TextAnalysis.tokens(text)
      concat(toks, graft.functions.AllShingles.allShingles(toks, 2))
    }
    val tCounts = spread(target)
      .select(explode(feats(col(textCol))).as("__f"))
      .select(bucket(col("__f")).as("__b"))
      .groupBy(col("__b")).agg(count(lit(1)).as("__ct"))
    // per-doc bucket counts are computed ONCE; the raw model's bucket
    // counts roll up from them (a second full-corpus feature scan would
    // double the dominant cost for an identical aggregate)
    val docBuckets = spread(raw)
      .select(col(idCol), explode(feats(col(textCol))).as("__f"))
      .select(col(idCol), bucket(col("__f")).as("__b"))
      .groupBy(col(idCol), col("__b")).agg(count(lit(1)).as("__tf"))
      .localCheckpoint()
    val rCounts = docBuckets.groupBy(col("__b"))
      .agg(sum(col("__tf")).as("__cr"))
    val tTotal = tCounts.agg(sum(col("__ct")).as("__nt"))
    val rTotal = rCounts.agg(sum(col("__cr")).as("__nr"))
    val d = (c: Column) => c.cast("double")
    // every scorable bucket occurs in the raw corpus, so the ratio table
    // is raw-anchored with target counts left-joined (absent → 0)
    val ratios = rCounts
      .join(tCounts, Seq("__b"), "left")
      .crossJoin(broadcast(tTotal)).crossJoin(broadcast(rTotal))
      .select(col("__b"),
        round(
          log((d(coalesce(col("__ct"), lit(0L))) + lit(addK)) /
            (d(col("__nt")) + lit(addK * buckets))) -
          log((d(col("__cr")) + lit(addK)) /
            (d(col("__nr")) + lit(addK * buckets))), 9)
          .cast("decimal(28,9)").as("__r9"))
    val scored = docBuckets
      .join(broadcast(ratios), Seq("__b"))
      .groupBy(col(idCol))
      .agg(sum(col("__tf")).as("n_feats"),
        sum(col("__tf").cast("decimal(9,0)") * col("__r9")).as("__lw"))
    // u strictly inside (0,1): (k + 0.5) / 2^52 — exactly dyadic, so
    // both engines feed ln identical doubles
    val u = (conv(substring(md5(concat(lit(salt),
      col(idCol).cast("string"))), 1, 13), 16, 10)
      .cast("long").cast("double") + lit(0.5)) / lit(4503599627370496.0)
    scored
      .withColumn("logw", round(col("__lw").cast("double"), 6))
      .withColumn("priority",
        round(col("__lw").cast("double") - log(-log(u)), 6))
      .select(col(idCol), col("n_feats"), col("logw"), col("priority"))
      .orderBy(col("priority").desc, col(idCol))
      .limit(n)
  }

  /** Per-group linear trend: least-squares slope/intercept of integer
    * `yCol` against integer `xCol` within each group — "is this source's
    * document length / quality drifting over the crawl", the grouped
    * sibling of [[zipfFit]]'s global regression. One hash aggregate of
    * six exact moment sums per group (map-side partials — the corpus
    * never sorts), closed form from the sums.
    *
    * Exactness: moments accumulate as DECIMAL (products at
    * decimal(37,0) — no 38-precision clamping), and slope/intercept are
    * a fixed tree of correctly-rounded IEEE ops on the exact casts,
    * [[Corpus.bm25TopK]]'s engine-determinism posture. Groups with < 2
    * points or zero x-variance emit null slope/intercept. */
  /** Zipf rank-frequency slope per group: least-squares fit of
    * ln(count) against ln(rank) over the group's `topRanks` most
    * frequent tokens — the classic "is this source natural language"
    * diagnostic (natural text sits near −1; templated/boilerplate
    * sources flatten, ID-like noise steepens). Output: (groupCol,
    * n_ranks, zipf_slope, zipf_intercept), 6 dp.
    *
    * Scale shape: one (group, token) hash aggregate of the corpus
    * (map-side combined), a per-group top-`topRanks` window over the
    * VOCABULARY frame (Heaps-small; `rank <= topRanks` pushes into
    * WindowGroupLimit so no task buffers a full vocabulary), then a
    * |groups|-row moment aggregate. The corpus itself never sorts.
    *
    * Engine-exact: each ln lands as an integer NANO value
    * (round(ln·10⁹) — ln on exact integer ranks/counts, the
    * tokenEntropy/adamic discipline), all four moment sums are exact
    * integer arithmetic in DECIMAL, and the final slope/intercept are
    * single IEEE ops on identical operands; the 10⁹ scale cancels in
    * the slope and divides out of the intercept. */
  def zipfSlope(df: DataFrame, groupCol: String, textCol: String,
                topRanks: Int = 200): DataFrame = {
    require(topRanks >= 2 && topRanks <= 100000,
      s"topRanks=$topRanks out of [2,100000]")
    import graft.core.Tables.spread
    val tf = spread(df)
      .select(col(groupCol),
        explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .groupBy(col(groupCol), col("tok")).agg(count(lit(1)).as("c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col("c").desc, col("tok"))
    val top = tf.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topRanks)
    // integer nano-lns: |x9| ≤ ln(1e5)·1e9 < 1.2e10 — DECIMAL(12,0)
    // holds each term, products stay ≤ (25,0), sums ≤ (35,0): every
    // moment is EXACT integer arithmetic in both engines
    val x9 = round(log(col("rank").cast("double")) * 1e9, 0)
      .cast("decimal(12,0)")
    val y9 = round(log(col("c").cast("double")) * 1e9, 0)
      .cast("decimal(12,0)")
    val agg = top.select(col(groupCol), x9.as("x"), y9.as("y"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_ranks"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
    val n = col("n_ranks").cast("decimal(6,0)")
    val num = (n * col("sxy") - col("sx") * col("sy")).cast("double")
    val den = (n * col("sxx") - col("sx") * col("sx")).cast("double")
    val slope = num / den // 10⁹ scale cancels
    agg.select(col(groupCol), col("n_ranks"),
      when(col("n_ranks") >= 2 && den > 0, round(slope, 6))
        .as("zipf_slope"),
      when(col("n_ranks") >= 2 && den > 0,
        round((col("sy").cast("double") - slope * col("sx").cast("double"))
          / (col("n_ranks").cast("double") * 1e9), 6))
        .as("zipf_intercept"))
  }

  def groupTrend(df: DataFrame, groupCol: String, xCol: String,
                 yCol: String): DataFrame = {
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(18,0)")
    val x = dec(col(xCol))
    val y = dec(col(yCol))
    val agg = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_rows"),
        sum(x).as("sx"), sum(y).as("sy"),
        sum(x * y).as("sxy"), sum(x * x).as("sxx"))
    val n = dec(col("n_rows"))
    val num = (n * col("sxy") - col("sx") * col("sy")).cast("double")
    val den = (n * col("sxx") - col("sx") * col("sx")).cast("double")
    val slope = num / den
    agg.select(col(groupCol), col("n_rows"),
      when(col("n_rows") >= 2 && den > 0, round(slope, 6)).as("slope"),
      when(col("n_rows") >= 2 && den > 0,
        round((col("sy").cast("double") - slope * col("sx").cast("double"))
          / n.cast("double"), 6)).as("intercept"))
  }
}
