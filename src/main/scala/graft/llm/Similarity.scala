package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`Array[Float]`).
  *
  * Two paths:
  *  - [[bruteForceTopK]]: exact cosine top-k of a (small) query set against
  *    the corpus — broadcast the queries, one map-side pass over the corpus,
  *    one shuffle for the per-query top-k. This is the correctness baseline
  *    and also the right 100 TB plan when |queries| is small: corpus is
  *    never shuffled, only (|queries| × k) rows leave the scan stage.
  *  - [[IvfIndex]]: cell-pruned indexes — axis, trained, sign-LSH
  *    ([[IvfIndex.Signs]]) or bit-prefix cells over float, SQ8, PQ or
  *    binary ([[hammingWord]]) payloads — so the join only touches
  *    same-cell rows; [[cosineNearDupPairs]] and [[knnGraph]] block the
  *    corpus against itself on the sign-LSH cells.
  *
  * All dot products are computed in double (floats are widened first) so
  * results are reproducible across engines.
  */
object Similarity {

  /** Dot product over float/double array columns — a codegen'd Catalyst
    * expression ([[graft.functions.DotProduct]]): the O(pairs × dim) inner
    * loop of ANN scoring runs as a primitive `for` loop inside whole-stage
    * codegen instead of per-element lambda evaluation. Numerics identical
    * to the `aggregate(zip_with(...))` formulation (sequential left-fold in
    * double). */
  def dot(a: Column, b: Column): Column = graft.functions.VectorOps.dot(a, b)

  /** cosine(a, b) over array columns, in double precision. A zero
    * vector has no direction: the score is NULL (matching DuckDB's
    * divide-by-zero null), not an ANSI DIVIDE_BY_ZERO error — a single
    * failed-embedding row must not kill a corpus-wide job, and null
    * scores fall out of every threshold filter and top-k downstream. */
  def cosine(a: Column, b: Column): Column = {
    val denom = sqrt(dot(a, a)) * sqrt(dot(b, b))
    when(denom =!= 0.0, dot(a, b) / denom)
  }

  /** L2-normalize a vector column ONCE, map-side, so pair scoring is a
    * plain dot product — 3× fewer flops than cosine-per-pair, and at scale
    * the normalization fuses with the scan while the O(pairs) stage does
    * minimal work. Floats widen to double ([[graft.functions.L2Normalize]],
    * codegen'd; engine-portable). */
  def normalize(vec: Column): Column =
    graft.functions.VectorOps.l2normalize(vec)

  /** Exact top-k neighbors for each query row.
    * Output: (query_id, rank, neighbor_id, score). Ties broken by neighbor
    * id so ranking is deterministic. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int,
                     roundScore: Int = 6): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"),
      normalize(col(vecCol)).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      normalize(col(vecCol)).as("cv"))
    rankDesc(c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("score", dot(col("qv"), col("cv"))), k, roundScore)
  }

  /** The per-query top-`k` window every ranked ANN output shares: rank by
    * `order`, ties on neighbor id (deterministic), keep rank ≤ k. Expects
    * (query_id, neighbor_id, …); adds `rank`. */
  private[llm] def rankWithin(scored: DataFrame, k: Int,
                              order: Column): DataFrame =
    scored.withColumn("rank", row_number().over(Window
        .partitionBy(col("query_id")).orderBy(order, col("neighbor_id"))))
      .filter(col("rank") <= k)

  /** [[rankWithin]] by cosine `score` descending, emitting the cosine
    * contract (query_id, rank, neighbor_id, score rounded to
    * `roundScore`). */
  private[llm] def rankDesc(scored: DataFrame, k: Int,
                            roundScore: Int): DataFrame =
    rankWithin(scored, k, col("score").desc)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("score"), roundScore).as("score"))

  /** Maximal-marginal-relevance diversified top-`selectK` (Carbonell &
    * Goldstein 1998): from each query's `candK` highest-cosine candidates,
    * greedily pick argmax λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s) — the
    * standard rerank that stops a retrieval slate (RAG context, dedup
    * review queue) from being `selectK` copies of the same passage. Pick 1
    * is the relevance argmax (S empty); ties break on neighbor id at every
    * step, so the slate is deterministic.
    *
    * Output: (query_id, pick ∈ 1..selectK, neighbor_id) — rank-only, the
    * ANN-family convention. Relevance is the 6-dp cosine from
    * [[bruteForceTopK]]; candidate-pair similarity is 9-dp-fixed; the MMR
    * score is one fixed double tree (λ and 1−λ from the same shared
    * literals in engine and oracle), so selection replays identically.
    *
    * Plan shape at 100 TB: candidate generation is the [[bruteForceTopK]]
    * map-side scan (swap in any ANN path for corpus-sized query sets —
    * the rerank only reads (query_id, neighbor_id, score) + vectors);
    * everything after is bounded by |queries| × candK² — the pair frame
    * equi-joins on query_id, and each of the selectK−1 greedy rounds is
    * one join + one candK-row window per query group, never corpus-sized.
    * Candidates and pairs are localCheckpointed ONCE so the greedy rounds
    * don't replay the scoring scan. */
  def mmrRerank(corpus: DataFrame, queries: DataFrame,
                idCol: String, vecCol: String,
                candK: Int, selectK: Int,
                lambda: Double = 0.5): DataFrame = {
    require(candK >= selectK && selectK >= 1,
      s"need candK=$candK >= selectK=$selectK >= 1")
    mmrRerankFrom(bruteForceTopK(corpus, queries, idCol, vecCol, candK),
      corpus, idCol, vecCol, selectK, lambda)
  }

  /** MMR over ANY candidate slate: `cand0` is a (query_id, rank,
    * neighbor_id, score) frame from whichever retrieval leg fits the
    * scale — [[bruteForceTopK]] (oracle-exact) or the [[IvfIndex]] /
    * graph-walk legs (the 100 TB paths; the
    * `search_mmr_ivf` query is the IVF instantiation). Same
    * generator/re-ranker split as [[hardNegativesFrom]]: the greedy
    * diversification only reads the slate plus the candidates' vectors.
    * A query whose slate is smaller than `selectK` yields as many picks
    * as it has candidates. */
  def mmrRerankFrom(cand0: DataFrame, corpus: DataFrame,
                    idCol: String, vecCol: String, selectK: Int,
                    lambda: Double = 0.5): DataFrame = {
    require(selectK >= 1, s"selectK=$selectK must be >= 1")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda=$lambda out of [0,1]")
    val cand = cand0
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("score"))
      .localCheckpoint()
    val nv = corpus.select(col(idCol).as("neighbor_id"),
      normalize(col(vecCol)).as("nv"))
    val candV = cand.join(nv, Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("score"), col("nv"))
    val a = candV.select(col("query_id"), col("neighbor_id").as("ida"),
      col("nv").as("va"))
    val b = candV.select(col("query_id"), col("neighbor_id").as("idb"),
      col("nv").as("vb"))
    val pairs = a.join(b, Seq("query_id"))
      .filter(col("ida") =!= col("idb"))
      .select(col("query_id"), col("ida"), col("idb"),
        round(dot(col("va"), col("vb")), 9).cast("decimal(28,9)").as("sim"))
      .localCheckpoint()
    var selected = cand.filter(col("rank") === 1)
      .select(col("query_id"), lit(1L).as("pick"), col("neighbor_id"))
    var remaining = cand.filter(col("rank") > 1)
      .select(col("query_id"), col("neighbor_id"), col("score"))
    for (r <- 2 to selectK) {
      val ms = pairs
        .join(selected.select(col("query_id"), col("neighbor_id").as("idb")),
          Seq("query_id", "idb"))
        .groupBy(col("query_id"), col("ida").as("neighbor_id"))
        .agg(max(col("sim")).as("maxsim"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("mmr").desc, col("neighbor_id"))
      val pick = remaining.join(ms, Seq("query_id", "neighbor_id"))
        .withColumn("mmr", lit(lambda) * col("score") -
          lit(1.0 - lambda) * col("maxsim").cast("double"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("query_id"), lit(r.toLong).as("pick"),
          col("neighbor_id"))
      selected = selected.unionByName(pick)
      remaining = remaining.join(
        pick.select("query_id", "neighbor_id"),
        Seq("query_id", "neighbor_id"), "left_anti")
    }
    selected
  }

  /** Hard-negative mining for embedding/reranker training: per query,
    * the `k` highest-cosine candidates whose LABEL differs from the
    * query's — the near-misses that teach a model the decision boundary
    * (random negatives are trivially far; these are the ones it
    * actually confuses). The standard curation step for contrastive
    * training sets (DPR/SBERT recipe: in-batch randoms + mined hard
    * negatives).
    *
    * Plan shape: candidate generation is [[bruteForceTopK]] over candK —
    * the oracle-exact eval leg; at 100 TB mine from an ANN slate instead
    * via [[hardNegativesFrom]] (IVF/graph-walk candidates, this brute leg
    * kept as the recall baseline, the [[recallAtK]] eval pattern).
    * Deterministic: 6-dp scores, ties on neighbor id.
    *
    * Output: (query_id, hn_rank 1..k, neighbor_id, score). Queries
    * whose whole candidate slate shares their label yield fewer than
    * `k` rows — mine with a bigger candK, not a weaker filter. */
  def hardNegatives(corpus: DataFrame, queries: DataFrame,
                    idCol: String, vecCol: String, labelCol: String,
                    candK: Int, k: Int): DataFrame = {
    require(candK >= k && k >= 1, s"need candK=$candK >= k=$k >= 1")
    hardNegativesFrom(bruteForceTopK(corpus, queries, idCol, vecCol, candK),
      corpus, queries, idCol, labelCol, k)
  }

  /** Hard-negative re-rank over ANY candidate slate: `cand` is a
    * (query_id, …, neighbor_id, score) frame from whichever retrieval leg
    * fits the scale — [[bruteForceTopK]] (oracle-exact), [[IvfIndex]] /
    * [[graphSearchTopKSeeded]] (the 100 TB paths). The
    * generator/re-ranker split is the point: mining quality is measured
    * by [[recallAtK]] of the ANN-mined slate against the brute-mined one
    * (the `ann_hard_negatives_ivf` query), so the cheap leg's recall is
    * a number, not a hope.
    *
    * Join shape: the query-label attach broadcasts (a label column for
    * the query SAMPLE — small by the mining setup); the corpus-label
    * attach is a plain equi-join on neighbor_id with NO broadcast hint —
    * for a corpus-scale query set the |queries|×candK slate would blow a
    * forced broadcast, so AQE picks broadcast only when the slate
    * actually fits (it does for sampled queries). The re-rank window
    * runs per query on ≤ candK rows. */
  def hardNegativesFrom(cand: DataFrame, corpus: DataFrame,
                        queries: DataFrame, idCol: String, labelCol: String,
                        k: Int): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    val withQ = cand.select(col("query_id"), col("neighbor_id"),
        col("score"))
      .join(broadcast(queries.select(col(idCol).as("query_id"),
        col(labelCol).as("__qlab"))), Seq("query_id"))
    val nl = corpus.select(col(idCol).as("neighbor_id"),
      col(labelCol).as("__nlab"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id"))
    nl.join(withQ, Seq("neighbor_id"))
      .filter(col("__nlab") =!= col("__qlab"))
      .withColumn("hn_rank", row_number().over(w).cast("long"))
      .filter(col("hn_rank") <= k)
      .select(col("query_id"), col("hn_rank"), col("neighbor_id"),
        col("score"))
  }

  /** Default seed for the rotation family — any fixed value works; what
    * matters is that corpus and queries hash with the SAME planes. */
  val DefaultSeed: Long = 0x5DEECE66DL

  /** `b` seeded pseudo-random hyperplanes over `dim` components, each
    * coefficient drawn from splitmix64 → [-1, 1). Deterministic in
    * (b, dim, seed), so the planes can be re-generated identically by an
    * oracle (or another engine) — no fitted state to ship. */
  def rotationPlanes(b: Int, dim: Int,
                     seed: Long = DefaultSeed): IndexedSeq[Array[Double]] = {
    var x = seed
    def next(): Long = {
      x += 0x9E3779B97F4A7C15L
      var z = x
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    IndexedSeq.fill(b)(Array.fill(dim)(
      (next() >>> 11) * (2.0 / (1L << 53)) - 1.0))
  }

  /** Johnson–Lindenstrauss-style random projection to `dimOut`
    * dimensions: component j = ⟨vec, plane_j⟩ / √dimOut against the same
    * seeded deterministic planes as [[IvfIndex.Signs]]. The standard
    * cheap dimensionality reduction before clustering/ANN — pairwise
    * distances are preserved in expectation, and a 64→8 projection cuts
    * every downstream distance computation 8×.
    *
    * Map-side only: `dimOut` codegen'd dot products against FOLDABLE
    * literal planes, no shuffle at any scale. Vectors shorter than
    * `dimIn` degrade OUT (same posture as [[IvfIndex]]).
    * Components round to 6 dp — the fold order and the √dimOut scale
    * constant are identical in any IEEE engine. */
  def randomProjection(df: DataFrame, idCol: String, vecCol: String,
                       dimIn: Int, dimOut: Int,
                       seed: Long = DefaultSeed): DataFrame = {
    require(dimIn > 0 && dimOut > 0, s"dimIn=$dimIn, dimOut=$dimOut")
    val planes = rotationPlanes(dimOut, dimIn, seed)
    val scale = 1.0 / math.sqrt(dimOut.toDouble)
    val comps = planes.map(p =>
      round(dot(col(vecCol), typedlit(p.toSeq)) * lit(scale), 6))
    df.filter(size(col(vecCol)) >= dimIn)
      .select(col(idCol), array(comps: _*).as("projected"))
  }

  /** `bits`-bit binary sign fingerprint packed into ONE BIGINT: bit i =
    * sign(⟨vec, plane_i⟩) against the same seeded rotation family as
    * [[IvfIndex.Signs]] (random-hyperplane LSH, so Hamming distance
    * between fingerprints estimates angular distance: E[h] =
    * bits·θ/π). The point at 100 TB is the REPRESENTATION: an
    * 8-byte word per vector instead of dim×4 bytes — a billion
    * fingerprints fit where four million float vectors did, turning
    * candidate generation into a memory-bandwidth-bound integer scan.
    * ≤ 62 bits so the word stays positive in any engine's signed 64-bit
    * integer (no sign-bit portability hazard). Map-side only; exact
    * powers of two sum without rounding. The payload of the
    * [[IvfIndex.Bits]] codec. */
  def hammingWord(vec: Column, dim: Int, bits: Int = 48,
                  seed: Long = DefaultSeed): Column = {
    require(bits >= 1 && bits <= 62, s"bits=$bits out of [1,62]")
    // one codegen'd kernel, NOT `bits` composed dot/CASE expressions:
    // the composed tree's generated method outgrows the JIT's huge-
    // method threshold at bits = 48 and the scan drops to interpreted
    // bytecode (~100× on the corpus pass this word exists to speed up) —
    // see [[graft.functions.SignFingerprint]]
    graft.functions.VectorOps.signFingerprint(vec,
      rotationPlanes(bits, dim, seed).toArray)
  }

  /** IVF-style coarse quantization over the first `m` components: cell =
    * 2·(argmax |vᵢ|) + sign(v_argmax). Deterministic (smallest index wins
    * ties) and engine-portable; swapping in trained k-means centroids
    * changes only this expression. Returns (winnerCell, runnerUpCell). */
  def axisCells(vec: Column, m: Int): (Column, Column) = {
    require(m >= 2, s"axisCells needs m >= 2 (got $m): the runner-up cell " +
      "is the argmax over the remaining components")
    def a(i: Int): Column = abs(element_at(vec, i + 1).cast("double"))
    def argmaxOver(idxs: Seq[Int]): Column = idxs match {
      case Seq(last) => lit(last)
      case h +: t =>
        when(t.map(j => a(h) >= a(j)).reduce(_ && _), lit(h))
          .otherwise(argmaxOver(t))
    }
    def cellOf(idx: Column): Column =
      (idx * 2 + when(element_at(vec, idx + 1) >= 0, 1).otherwise(0))
        .cast("int")
    val win = argmaxOver(0 until m)
    val runner = (0 until m).map(w =>
      (w, argmaxOver((0 until m).filterNot(_ == w))))
      .foldLeft(lit(-1)) { case (acc, (w, c)) =>
        when(win === w, c).otherwise(acc)
      }
    (cellOf(win), cellOf(runner))
  }

  /** Recall@k of an approximate ANN result against the exact baseline:
    * per query, the fraction of the exact top-k the approximate result
    * also returned. Both inputs are (query_id, rank, neighbor_id, …)
    * frames as produced by the topK operators. Output: (query_id,
    * n_hits, recall).
    *
    * This is the measurement that sizes the LSH knobs (b, bands, probes)
    * for a corpus: run it on a query sample, then trade recall against
    * bucket occupancy. Scale shape: both inputs are |Q|×k rows — the join
    * and aggregate are negligible next to the topK computations that feed
    * them, and the exact side only needs a SAMPLE of queries (recall is
    * estimated, the sample mean). */
  def recallAtK(exact: DataFrame, approx: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    // truncate BOTH sides to rank <= k (the topK output contract carries
    // `rank`): a caller passing frames computed at a larger k would
    // otherwise silently inflate n_hits/recall past the k being measured
    val e = exact.filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"))
    // defensive dedup (cheap on |Q|×k rows): duplicate approx rows would
    // inflate n_hits through join multiplication
    val a = approx.filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"))
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("__hit", lit(1L))
    // denominator = the ACTUAL exact-result size per query, not k: a
    // query with fewer than k true neighbors (tiny corpus, filters)
    // must be able to score recall 1.0
    e.join(a, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(sum(coalesce(col("__hit"), lit(0L))).as("n_hits"),
        count(lit(1)).as("__n_exact"))
      .withColumn("recall",
        round(col("n_hits") / col("__n_exact").cast("double"), 6))
      .drop("__n_exact")
  }

  /** nDCG discount weights 1/log₂(r+1) for ranks 1..k, FIXED to 9 decimal
    * places. The point of pinning them as decimals: `log2` is a libm call
    * whose last ulp differs across engines, so the metric computes DCG as
    * an exact DECIMAL sum of these shared literals instead — any engine
    * (or the DuckDB oracle) reproduces the sums bit-for-bit by using the
    * same constant table. */
  def ndcgWeights(k: Int): IndexedSeq[java.math.BigDecimal] =
    (1 to k).map { r =>
      new java.math.BigDecimal(1.0 / (math.log(r + 1.0) / math.log(2.0)))
        .setScale(9, java.math.RoundingMode.HALF_UP)
    }

  /** Prefix sums of [[ndcgWeights]] — ideal DCG for a query with r
    * relevant items (r ≤ k), exact decimal arithmetic. */
  def ndcgCumWeights(k: Int): IndexedSeq[java.math.BigDecimal] =
    ndcgWeights(k).scanLeft(java.math.BigDecimal.ZERO)(_.add(_)).tail

  /** Graded ranking metrics of a retrieval result against a binary
    * relevance set: per query, nDCG@k and MRR@k — the measurements that
    * complement [[recallAtK]] when ORDER inside the top-k matters (recall
    * treats rank 1 and rank k the same; a retrieval leg that buries its
    * hits still scores full recall).
    *
    * `ranked` is a (query_id, rank, neighbor_id, …) frame as produced by
    * the topK operators; `relevant` is (query_id, neighbor_id) ground
    * truth (judged pairs, same-label pairs, click data). Output per
    * RANKED query: (query_id, n_rel, mrr, dcg, ndcg) — n_rel is the full
    * relevant count (may exceed k; it caps the ideal DCG at k), mrr is
    * 1/rank of the first relevant hit (0 if none in the top-k), ndcg is
    * DCG/IDCG in [0, 1] (0 when the query has no relevant items at all).
    *
    * Determinism: DCG is an exact DECIMAL(28,9) sum of the shared
    * [[ndcgWeights]] literals (order-free); mrr terms are single
    * correctly-rounded divisions; only the final dcg/idcg division and
    * 6-dp rounds touch doubles. Scale shape: inputs are |Q|×k ranked rows
    * joined against the relevance pairs on their composite key, then one
    * map-side-combined aggregate per query — an eval op over a query
    * sample, negligible next to the retrieval runs that feed it. */
  def rankMetrics(ranked: DataFrame, relevant: DataFrame, k: Int): DataFrame = {
    require(k >= 1 && k <= 1000, s"k=$k not in 1..1000")
    val ws = ndcgWeights(k)
    val cum = ndcgCumWeights(k)
    def dec(b: java.math.BigDecimal): Column =
      lit(b).cast("decimal(28,9)")
    val wArr = array(ws.map(dec): _*)
    val cumArr = array(cum.map(dec): _*)
    val r = ranked.filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("int").as("rank"),
        col("neighbor_id"))
    // defensive dedup (cheap on judged pairs): duplicate relevance rows
    // would multiply ranked rows through the join and inflate DCG
    val rel = relevant.select(col("query_id"), col("neighbor_id"))
      .dropDuplicates("query_id", "neighbor_id")
    val flagged = r.join(rel.withColumn("__rel", lit(1)),
      Seq("query_id", "neighbor_id"), "left")
    val per = flagged.groupBy("query_id").agg(
      sum(when(col("__rel").isNotNull, element_at(wArr, col("rank")))
        .otherwise(dec(java.math.BigDecimal.ZERO))).as("__dcg"),
      max(when(col("__rel").isNotNull,
        round(lit(1.0) / col("rank").cast("double"), 9))).as("__rr"))
    val nRel = rel.groupBy("query_id").agg(count(lit(1)).as("n_rel"))
    per.join(nRel, Seq("query_id"), "left")
      .withColumn("n_rel", coalesce(col("n_rel"), lit(0L)))
      .select(col("query_id"), col("n_rel"),
        coalesce(col("__rr"), lit(0.0)).as("mrr"),
        round(col("__dcg").cast("double"), 6).as("dcg"),
        when(col("n_rel") === 0L, lit(0.0)).otherwise(
          round(col("__dcg").cast("double") /
            element_at(cumArr, least(col("n_rel"), lit(k.toLong))
              .cast("int")).cast("double"), 6)).as("ndcg"))
  }

  /** Embedding-cosine near-duplicate pairs above `threshold`, LSH-blocked
    * on the [[IvfIndex.Signs]] cells of `b` rotated hyperplanes over
    * `dim` components: only same-bucket pairs are scored (id_a < id_b).
    *
    * `bands` is the scale knob (OR-amplification): band j hashes with an
    * independent seeded plane family, and a pair is a candidate if it
    * collides in ANY band. The sf1 rehearsal (SCALE.md §10a) measured why
    * this matters: bucket bits b must grow ~log₂(N) to keep per-bucket
    * occupancy — and therefore pair cost — constant, but raising b alone
    * drops recall (a near-dup pair straddles a hyperplane with
    * probability ∝ b·θ/π). Multiple independent bands restore it:
    * P[candidate] = 1 − (1 − p^b)^bands. b=8, bands=4 is a reasonable
    * 100 TB start; bands=1 (default) reproduces the single-family
    * behavior. Cost is `bands` map-side bucket columns and a
    * candidate-pair dedup before scoring — never an extra corpus scan. */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                         threshold: Double, b: Int, dim: Int,
                         seed: Long = DefaultSeed,
                         roundScore: Int = 6,
                         bands: Int = 1): DataFrame = {
    require(bands >= 1, s"bands=$bands must be >= 1")
    // Canonicalize on the RAW vector first ([[Blocking.canonical]]): a
    // d-duplicated vector costs one row in the bucket join instead of
    // d², and exact duplicates are the norm in crawled embedding
    // corpora. Dup-free corpora pay one extra corpus exchange (the
    // canonicalization aggregate) and nothing else.
    val groups = Blocking.canonical(df.filter(size(col(vecCol)) >= dim),
        idCol, col(vecCol))
      .withColumn("nv", normalize(col("__sig")))
    // [within-group] identical vectors share every bucket, so the original
    // bucket join emits all their a<b pairs iff the self-score clears the
    // threshold — reproduce that gate exactly (dot of the normalized
    // vector with itself, rounded, NOT an assumed 1.0)
    val within = Blocking.withinPairs(groups.filter(size(col("__ids")) >= 2)
      .withColumn("score", round(dot(col("nv"), col("nv")), roundScore))
      .filter(col("score") >= threshold), "__ids", "score")
    // [cross-group] band/bucket the DISTINCT vectors only. Score and
    // threshold INSIDE the bucket join, BEFORE any pair dedup: a vector
    // pair colliding in several bands recomputes its (deterministic) dot
    // once per band, but only the above-threshold survivors — thin rows
    // — ever reach a dedup exchange. Deduping first would shuffle every
    // candidate pair with both dim-wide vectors attached (the sf1
    // rehearsal measured that plan at 211 s vs ~bands× dot cost here).
    val buckets = Blocking.banded(groups, "bucket", (0 until bands).map(j =>
      IvfIndex.Signs(b, dim, seed + j).home(col("__sig"))),
      "__rep", "__ids", "nv")
    val scored = Blocking.selfJoin(buckets, Seq("band", "bucket"),
        Seq("__rep", "__ids", "nv"))
      .withColumn("score", round(dot(col("nv_a"), col("nv_b")), roundScore))
      .filter(col("score") >= threshold)
      .select(col("__rep_a"), col("__rep_b"), col("__ids_a"),
        col("__ids_b"), col("score"))
    within.unionByName(Blocking.crossPairs(
      if (bands == 1) scored else scored.dropDuplicates("__rep_a", "__rep_b"),
      "score"))
  }

  /** k-nearest-neighbor GRAPH over a corpus — every node's top-k cosine
    * neighbors among its LSH candidates (the [[IvfIndex.Signs]] cells).
    * The all-nodes-are-queries sibling of an `IvfIndex(Signs, Flat)`
    * top-k, with the plan shape that difference forces: the index
    * broadcasts its (small) query set, but a corpus can't broadcast
    * against itself, so here both sides of the candidate join are the
    * SAME bucketed frame and the join is a plain shuffle hash join on
    * (band, bucket) — the corpus shuffles once per side, never
    * all-pairs. The kNN graph is the substrate for graph-based curation
    * (SemDeDup-style pruning, label propagation, connected-component
    * clustering via [[Dedup.clusters]] over the edge set).
    *
    * `bands` independent seeded plane families OR-amplify recall exactly
    * as in [[cosineNearDupPairs]]; a pair colliding in several bands is
    * deduplicated before ranking. Bucket bits `b` grow ~log₂(N) to hold
    * per-bucket occupancy (and so per-node candidate count) constant —
    * the same sizing rule as the near-dup family, measured in SCALE.md
    * §10a. Top-k per node is a bounded window over candidates, ties
    * broken by neighbor id.
    *
    * Output: (src, rank, dst, score) — directed edges (kNN is not
    * symmetric); [[mutualKnnEdges]] derives the undirected mutual graph.
    *
    * Nodes in singleton buckets across all bands emit NO edges (correct
    * for an approximate graph: no candidates ⇒ no neighbors) — count
    * them against the corpus size when sizing b/bands. */
  def knnGraph(corpus: DataFrame, idCol: String, vecCol: String, k: Int,
               b: Int, dim: Int, seed: Long = DefaultSeed,
               bands: Int = 1, roundScore: Int = 6): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    require(bands >= 1, s"bands=$bands must be >= 1")
    // too-short vectors degrade OUT of the graph (the IvfIndex posture)
    // rather than killing the job under ANSI mode. Bucket on the RAW
    // vector (sign is scale-invariant, and the raw dot avoids any
    // ulp-level sign flip vs the normalized one); score on the
    // normalized vector so pair scoring is one dot product
    val nodes = Blocking.banded(corpus.filter(size(col(vecCol)) >= dim)
        .select(col(idCol).as("id"), normalize(col(vecCol)).as("nv"),
          col(vecCol).as("__v")), "bucket", (0 until bands).map(j =>
        IvfIndex.Signs(b, dim, seed + j).home(col("__v"))), "id", "nv")
    // score INSIDE the bucket join (deterministic, so the cross-band
    // dedup can key on the thin (src, dst) rows — the vectors never
    // reach the dedup exchange; the cosineNearDupPairs lesson)
    val scored = Blocking.selfJoin(nodes, Seq("band", "bucket"),
        Seq("id", "nv"), _ =!= _)
      .select(col("id_a").as("src"), col("id_b").as("dst"),
        dot(col("nv_a"), col("nv_b")).as("score"))
    val cand = if (bands == 1) scored
               else scored.dropDuplicates("src", "dst")
    val w = Window.partitionBy(col("src"))
      .orderBy(col("score").desc, col("dst"))
    cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("src"), col("rank").cast("long").as("rank"), col("dst"),
        round(col("score"), roundScore).as("score"))
  }

  /** Mutual-kNN edges from a [[knnGraph]] result: the undirected pairs
    * where EACH endpoint ranks the other in its own top-k. Mutuality is
    * the standard sparsifier before graph clustering — a hub node's
    * one-way edges (everyone's neighbor, nobody's mutual) drop out, which
    * is exactly what keeps a [[Dedup.clusters]] pass over the edge set
    * from collapsing the corpus into one giant component.
    *
    * Input is an edge frame (src, dst, score, …); output (id_a, id_b,
    * score) with id_a < id_b, one row per mutual pair (cosine is
    * symmetric, so either direction's score is THE score). Scale shape:
    * |V|·k rows self-joined on their (src, dst) key — negligible next to
    * the graph build. */
  def mutualKnnEdges(edges: DataFrame): DataFrame = {
    val fwd = edges.select(col("src"), col("dst"), col("score"))
    val rev = edges.select(col("dst").as("src"), col("src").as("dst"))
    fwd.join(rev, Seq("src", "dst"), "left_semi")
      .filter(col("src") < col("dst"))
      .select(col("src").as("id_a"), col("dst").as("id_b"), col("score"))
  }

  // -------------------------------------------- hybrid retrieval fusion

  /** Reciprocal-rank fusion (Cormack et al., SIGIR'09) of N ranked
    * retrieval lists — the standard way to combine a sparse (BM25) and a
    * dense (embedding ANN) leg without calibrating their incomparable
    * scores: each list contributes `1/(k0 + rank)` for the items it
    * ranked, fused items sort by the sum. `k0 = 60` is the paper's
    * constant; larger values flatten the head.
    *
    * `lists` maps a leg name to a frame holding (`idCol`, `rankCol`) with
    * rank 1-based; the output carries one nullable `<name>_rank` column
    * per leg (null ⟺ that leg didn't rank the item), plus `rrf` and the
    * fused top-`k` cut (ties broken by id — deterministic). The reciprocal
    * terms are added in `lists` order: each term is one correctly-rounded
    * division and the left-to-right double sum is fixed by that order, so
    * the fused scores are engine-portable (the oracle adds in the same
    * order).
    *
    * Scale shape: inputs are top-k lists — thousands of rows at most, by
    * construction — so the outer-join chain stays broadcast-sized no
    * matter the corpus behind the legs; all the heavy lifting (corpus
    * scans, ANN buckets) happened inside the legs. The final order is a
    * TakeOrderedAndProject, not a total sort. */
  def rrfFuse(lists: Seq[(String, DataFrame)], idCol: String,
              rankCol: String, k0: Int, k: Int): DataFrame = {
    require(lists.nonEmpty, "rrfFuse needs at least one ranked list")
    require(k0 > 0 && k > 0, s"k0=$k0 and k=$k must be positive")
    val named = lists.map { case (name, df) =>
      name -> df.select(col(idCol), col(rankCol).cast("long")
        .as(s"${name}_rank"))
    }
    val joined = named.map(_._2).reduce { (a, b) =>
      a.join(b, Seq(idCol), "full_outer")
    }
    val terms = named.map { case (name, _) =>
      coalesce(lit(1.0) / (lit(k0.toLong) + col(s"${name}_rank")), lit(0.0))
    }
    joined
      .withColumn("rrf", round(terms.reduce(_ + _), 9))
      .orderBy(col("rrf").desc, col(idCol))
      .limit(k)
  }

  /** Greedy best-first GRAPH search over a prebuilt kNN graph — the
    * serving-side navigation layer of graph-based ANN (the HNSW family's
    * base-layer walk, batched): every query starts at the shared entry
    * node (lowest id), and each hop expands the current top-`beam`
    * nodes' out-edges, scores the UNVISITED candidates against the
    * query, and re-ranks. After `hops` rounds the best `k` visited nodes
    * are the result. The quality/fanout trade is explicit: recall grows
    * with beam × hops; edges come from [[knnGraph]], whose bucket sizing
    * governs graph connectivity.
    *
    * Determinism: scores are the shared sequential-fold dot on
    * normalized vectors (bit-identical in the oracle), every ranking
    * breaks ties on the node id, and the visited-set dedup is exact —
    * the whole traversal unrolls hop-for-hop in SQL.
    *
    * Scale shape per hop: the frontier frame is |Q|×beam rows; expansion
    * is an equi-join onto the edge frame (hash-partitioned on src), the
    * anti-join against visited is |Q|×|visited-per-query| (bounded by
    * beam×hops×out-degree), and scoring joins candidates to the vector
    * table by id — at 100 TB that lookup is the one random-access-shaped
    * join (a production deployment backs it with a KV/ANN-serving store;
    * the plan keeps it an id-keyed hash join). `localCheckpoint` per hop
    * caps plan depth. Nothing but the entry id (one scalar) touches the
    * driver. */
  def graphSearchTopK(corpus: DataFrame, idCol: String, vecCol: String,
                      queries: DataFrame, edges: DataFrame, k: Int,
                      beam: Int, hops: Int, dim: Int): DataFrame = {
    require(k >= 1 && beam >= 1 && hops >= 1 && hops <= 10,
      s"k=$k beam=$beam hops=$hops out of range")
    val q = queries.filter(size(col(vecCol)) >= dim)
      .select(col(idCol).as("query_id"), normalize(col(vecCol)).as("__qv"))
    val entryRow = corpus.filter(size(col(vecCol)) >= dim)
      .agg(min(col(idCol))).head
    if (entryRow.isNullAt(0))
      // empty (or all-degenerate) corpus: no entry point, no results —
      // an empty frame with the contract schema, not a crash
      return q.select(col("query_id"), lit(0L).as("rank"),
        col("query_id").as("neighbor_id"), lit(0.0).as("score")).limit(0)
    val entry = entryRow.getLong(0)
    graphWalk(corpus, idCol, vecCol, q, edges,
      q.select(col("query_id"), lit(entry).as("id")), k, beam, hops, dim)
  }

  /** [[graphSearchTopK]] with PER-QUERY entry points seeded from the IVF
    * coarse quantizer ([[axisCells]] over the first `m` components): each
    * query starts at the LOWEST-ID corpus vector of its own winner cell
    * instead of the one global entry — the walk begins inside the query's
    * coarse neighborhood, so the same beam × hops budget spends its
    * expansion where the true neighbors live (the HNSW-family practice of
    * seeding the base-layer walk from an upper coarse layer). A query
    * whose cell holds no corpus vector falls back to the global
    * lowest-id entry.
    *
    * Cost over the unseeded walk: one ≤ 2m-row cell-representative
    * aggregate, broadcast into a map-side seed join — nothing else
    * changes; determinism and the hop-unrolled oracle replay carry over
    * (the cell derivation is the [[axisCells]] expression, already
    * oracle-pinned). */
  def graphSearchTopKSeeded(corpus: DataFrame, idCol: String,
                            vecCol: String, queries: DataFrame,
                            edges: DataFrame, k: Int, beam: Int,
                            hops: Int, dim: Int, m: Int = 4): DataFrame = {
    require(k >= 1 && beam >= 1 && hops >= 1 && hops <= 10,
      s"k=$k beam=$beam hops=$hops out of range")
    require(m >= 2 && m <= dim, s"m=$m out of [2,$dim]")
    val q = queries.filter(size(col(vecCol)) >= dim)
      .select(col(idCol).as("query_id"), normalize(col(vecCol)).as("__qv"))
    val entryRow = corpus.filter(size(col(vecCol)) >= dim)
      .agg(min(col(idCol))).head
    if (entryRow.isNullAt(0))
      return q.select(col("query_id"), lit(0L).as("rank"),
        col("query_id").as("neighbor_id"), lit(0.0).as("score")).limit(0)
    val entry = entryRow.getLong(0)
    val (cw, _) = axisCells(col(vecCol), m)
    val reps = corpus.filter(size(col(vecCol)) >= dim)
      .select(cw.as("cell"), col(idCol).as("__rid"))
      .groupBy("cell").agg(min(col("__rid")).as("__eid"))
    val seeds = queries.filter(size(col(vecCol)) >= dim)
      .select(col(idCol).as("query_id"), cw.as("cell"))
      .join(broadcast(reps), Seq("cell"), "left")
      .select(col("query_id"), coalesce(col("__eid"), lit(entry)).as("id"))
    graphWalk(corpus, idCol, vecCol, q, edges, seeds, k, beam, hops, dim)
  }

  /** The shared batched greedy walk: seed each query's visited set from
    * `seeds` (query_id, id), then `hops` rounds of expand-score-rerank.
    * See [[graphSearchTopK]] for the determinism and scale arguments. */
  private def graphWalk(corpus: DataFrame, idCol: String, vecCol: String,
                        q: DataFrame, edges: DataFrame, seeds: DataFrame,
                        k: Int, beam: Int, hops: Int,
                        dim: Int): DataFrame = {
    val nv = corpus.filter(size(col(vecCol)) >= dim)
      .select(col(idCol).as("__nid"), normalize(col(vecCol)).as("__nv"))
    // materialize the edge frame ONCE: its lineage (the kNN build's LSH
    // join + ranking window) would otherwise re-execute inside EVERY
    // hop's expansion join (the pagerank lesson)
    val e = edges.select(col("src").as("__esrc"), col("dst").as("__edst"))
      .localCheckpoint()
    def score(cand: DataFrame): DataFrame = cand
      .join(nv, cand("id") === nv("__nid"))
      .join(q, Seq("query_id"))
      .select(col("query_id"), col("id"),
        dot(col("__nv"), col("__qv")).as("score"))
    var visited = score(seeds).localCheckpoint()
    var frontier = visited.select(col("query_id"), col("id"))
    for (_ <- 1 to hops) {
      val cand = frontier.join(e, frontier("id") === e("__esrc"))
        .select(col("query_id"), col("__edst").as("id")).distinct()
        .join(visited.select(col("query_id"), col("id")),
          Seq("query_id", "id"), "left_anti")
      visited = visited.unionByName(score(cand)).localCheckpoint()
      frontier = visited
        .withColumn("__r", row_number().over(
          Window.partitionBy(col("query_id"))
            .orderBy(col("score").desc, col("id"))))
        .filter(col("__r") <= beam)
        .select(col("query_id"), col("id"))
    }
    visited.filter(col("id") =!= col("query_id"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("score").desc, col("id"))).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("id").as("neighbor_id"),
        round(col("score"), 6).as("score"))
  }
}
