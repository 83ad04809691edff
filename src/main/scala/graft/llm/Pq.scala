package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Tables.spread

/** Product quantization for embedding compression and memory-bound ANN
  * (Jégou, Douze & Schmid, "Product Quantization for Nearest Neighbor
  * Search", TPAMI 2011): split each D-dim vector into `m` subspaces of
  * `D/m` dims, quantize each subspace independently against a `k`-word
  * codebook, and store only the `m` code bytes — a D·4-byte float vector
  * compresses to `m` bytes (32× here: 64 floats → 8 codes), which is what
  * lets a billion-vector index live in RAM.
  *
  * Codebooks here are DETERMINISTIC seeded dyadic vectors (the
  * [[Similarity.rotationPlanes]] generator, reshaped m×k) — the same
  * stand-in discipline as [[QualityModel]]'s pseudo-weights: the operator,
  * its plan shape, and its cross-engine determinism are all real and
  * oracle-checkable without a training artifact, and k-means-trained
  * codebooks (see [[Clustering]]) plug in by swapping the literal. Every
  * codebook entry rides the plan (a references-array constant of the
  * [[graft.functions.PqEncode]] codegen kernel), so encode is a map-only
  * scan: `m·k` fixed-order dot products and an argmin per subspace in one
  * generated loop — no shuffle, no join, no UDF.
  *
  * Engine portability: subspace scores use the k-means comparison idiom
  * `dot(c,c) − 2·dot(sub,c)` (the ‖sub‖² term is constant per subspace
  * and cannot change the argmin); both dots are the shared sequential
  * left-fold on exactly-representable inputs (float→double widening +
  * dyadic literals), so the chosen code — and hence everything downstream
  * — is bit-identical in any IEEE engine. Ties break toward the lower
  * code index in both engines.
  */
object Pq {

  /** Deterministic m×k codebooks of `subDim`-dim dyadic vectors in
    * [−1, 1) — [[Similarity.rotationPlanes]] reshaped, so the generator
    * stays single-sourced. Codebook j serves dims [j·subDim, (j+1)·subDim). */
  def codebooks(m: Int, k: Int, subDim: Int,
                seed: Long = Similarity.DefaultSeed): IndexedSeq[IndexedSeq[Array[Double]]] =
    Similarity.rotationPlanes(m * k, subDim, seed)
      .grouped(k).toIndexedSeq

  /** Codebooks flattened for the [[graft.functions.PqKernels]] codegen
    * kernels: codeword (j, c) at [((j·k)+c)·subDim, +subDim). */
  private def flatCb(cbs: IndexedSeq[IndexedSeq[Array[Double]]])
      : IndexedSeq[Double] =
    cbs.flatMap(_.flatMap(_.toIndexedSeq))

  /** Per-subspace code assignment for one vector column: `codes[j]` is the
    * argmin-distance codeword of subspace j, an int in [0, k). Map-only;
    * vectors shorter than m·subDim are dropped (no partial encode).
    *
    * r17: one codegen'd [[graft.functions.PqEncode]] loop instead of the
    * m×k struct/array_min expression forest — O(1) plan size in m·k,
    * bit-identical codes (same sequential-fold dots against the same
    * selfDot literals, same low-code argmin tie-break; PqKernelsSpec
    * pins old-vs-new equality on the fixture corpus). The oracle is
    * untouched: it replays the codebook VALUES, which this kernel embeds
    * unchanged. */
  private[llm] def codesCol(vec: Column,
      cbs: IndexedSeq[IndexedSeq[Array[Double]]]): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.PqEncode(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(vec),
        cbs.length, cbs.head.length, cbs.head.head.length, flatCb(cbs)))

  /** Encode + reconstruct fused ([[graft.functions.PqEncodeRecon]]) —
    * the ADC corpus side scores against this m·subDim concatenation and
    * never needs the intermediate codes array. Same codes as
    * [[codesCol]], same codeword doubles as [[reconCol]]. */
  private[llm] def encodeReconCol(vec: Column,
      cbs: IndexedSeq[IndexedSeq[Array[Double]]]): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.PqEncodeRecon(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(vec),
        cbs.length, cbs.head.length, cbs.head.head.length, flatCb(cbs)))

  /** ‖v‖² as the exact sequential left-fold both engines' dot uses. */
  private[graft] def selfDot(v: Array[Double]): Double = {
    var acc = 0.0
    var i = 0
    while (i < v.length) { acc += v(i) * v(i); i += 1 }
    acc
  }

  /** (id, codes: array<int> of length m) — the compressed index. */
  def encode(df: DataFrame, idCol: String, vecCol: String,
             m: Int, k: Int, subDim: Int,
             seed: Long = Similarity.DefaultSeed): DataFrame =
    encodeWith(df, idCol, vecCol, subDim, codebooks(m, k, subDim, seed))

  /** [[encode]] against explicit codebooks (trained or seeded). */
  def encodeWith(df: DataFrame, idCol: String, vecCol: String, subDim: Int,
                 cbs: IndexedSeq[IndexedSeq[Array[Double]]]): DataFrame = {
    val m = cbs.length
    val k = cbs.head.length
    require(m > 0 && k > 1 && subDim > 0, s"m=$m k=$k subDim=$subDim")
    spread(df).filter(size(col(vecCol)) >= m * subDim)
      .select(col(idCol),
        codesCol(col(vecCol), cbs).as("codes"))
  }

  /** Per-subspace Lloyd-trained codebooks — the REAL quantizer (the
    * seeded default is deliberate plumbing; on the fixture corpus one
    * training round lifts ADC recall@3 ~8×). Deterministic and
    * engine-reproducible by the [[Clustering]] discipline: subvectors
    * snap to the dyadic 2⁻²⁰ grid (so component sums are EXACT and
    * aggregation order is irrelevant), init is the k lowest-id vectors'
    * subvectors, assignment scores are the shared sequential-fold dots
    * against plan-literal centroids, and each new centroid is one
    * correctly-rounded division of an exact sum. Train on the SAME
    * quantized vectors you encode ([[Clustering.quantize]]), and an
    * oracle replaying the identical derivation matches bit-for-bit.
    *
    * Scale shape: ONE distributed pass per iteration covering ALL
    * subspaces (rows explode to (subspace, subvector) map-side; the
    * update is a map-side-combined (subspace, cluster, dim) sum);
    * m·k·subDim values return to the driver per iteration — the same
    * driver-state class as [[Clustering.kmeansScored]], independent of
    * corpus size. */
  def trainCodebooks(df: DataFrame, idCol: String, vecCol: String,
                     m: Int, k: Int, subDim: Int,
                     iters: Int = 1): IndexedSeq[IndexedSeq[Array[Double]]] =
    trainCodebooksSnapshots(df, idCol, vecCol, m, k, subDim,
      Seq(iters))(iters)

  /** [[trainCodebooks]] with SNAPSHOTS: one Lloyd run to max(snapshots)
    * iterations, returning the codebooks after each requested depth.
    * Lloyd rounds NEST — the state after i rounds depends only on the
    * (deterministic) init and the first i updates — so snapshot(i) is
    * bit-identical to an independent `trainCodebooks(iters = i)` run
    * (LlmSpec pins it). This is what lets a training-depth sweep
    * (`ann_ivfpq_iters`) pay ONE init and max(iters) rounds instead of
    * one full training per leg (r17, guide §1.2). */
  def trainCodebooksSnapshots(df: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int, subDim: Int, snapshots: Seq[Int])
      : Map[Int, IndexedSeq[IndexedSeq[Array[Double]]]] = {
    // validate BEFORE snapshots.max: an empty seq must fail with this
    // message, not max's opaque UnsupportedOperationException (r17 advice)
    require(m > 0 && k > 1 && subDim > 0 && snapshots.nonEmpty &&
      snapshots.forall(_ >= 0),
      s"m=$m k=$k subDim=$subDim snapshots=$snapshots")
    val iters = snapshots.max
    val base = spread(df).filter(size(col(vecCol)) >= m * subDim)
      .select(col(idCol).as("__id"),
        Clustering.quantize(col(vecCol)).as("__w"))
    // init: the k lowest-id vectors' subvectors, per subspace; fewer
    // than k vectors cannot seed k codewords (FAISS's refusal), and the
    // count comes from the init rows already collected — no extra job
    var cbs: IndexedSeq[IndexedSeq[Array[Double]]] = {
      val first = base.orderBy(col("__id")).limit(k).collect()
        .map(_.getSeq[Double](1).toArray)
      Clustering.requireTrainingRows(first.length, k, m * subDim)
      (0 until m).map(j => first.toIndexedSeq.map(
        _.slice(j * subDim, (j + 1) * subDim)))
    }
    val out = scala.collection.mutable.Map
      .empty[Int, IndexedSeq[IndexedSeq[Array[Double]]]]
    if (snapshots.contains(0)) out(0) = cbs
    for (it <- 1 to iters) {
      // r17: assignment via the whole-vector PqEncode kernel (one
      // compact codegen loop, codes identical to the old per-subspace
      // array_min forest — PqKernelsSpec pins it), then ONE component
      // explode keyed by (subspace = pos div subDim, code, pos mod
      // subDim) feeds the same map-side-combined sum/count aggregate.
      // Same rows, same exact dyadic sums, ~m·k× smaller plan per round.
      // The explode covers only the ENCODED prefix (r17 advice): the
      // size >= m·subDim filter admits LONGER vectors, whose tail
      // positions would index past __codes' m entries and throw under
      // ANSI mode — the pre-r17 slice-based rounds trained on exactly
      // the encoded dims, and this keeps that contract (for the
      // exact-length vectors every current caller passes, slice is the
      // identity, so sums are bit-identical).
      val sums = base
        .select(codesCol(col("__w"), cbs).as("__codes"),
          posexplode(slice(col("__w"), 1, m * subDim)))
        .select(
          (col("pos") / lit(subDim)).cast("int").as("__j"),
          element_at(col("__codes"),
            (col("pos") / lit(subDim)).cast("int") + 1).as("__c"),
          (col("pos") % lit(subDim)).cast("int").as("pos"),
          col("col"))
        .groupBy(col("__j"), col("__c"), col("pos"))
        .agg(sum(col("col")).as("s"), count(lit(1)).as("n"))
        .collect()
      val byJc = sums.groupBy(r => (r.getInt(0), r.getInt(1)))
      cbs = cbs.zipWithIndex.map { case (book, j) =>
        book.zipWithIndex.map { case (prev, c) =>
          byJc.get((j, c)) match {
            case Some(rows) =>
              val arr = new Array[Double](subDim)
              rows.foreach(r =>
                arr(r.getInt(2)) = r.getDouble(3) / r.getLong(4))
              arr
            case None => prev // empty cluster keeps its centroid
          }
        }
      }
      if (snapshots.contains(it)) out(it) = cbs
    }
    out.toMap
  }

  /** Asymmetric-distance (ADC) top-`topK` search: each query's exact
    * subvectors score against the corpus' RECONSTRUCTED vectors
    * (codeword concatenation), ranked by squared L2 distance. The
    * per-query constant ‖q‖² is dropped (it cannot reorder one query's
    * ranking), leaving [[l2Score]] — two sequential-fold dots on
    * literal-derived doubles, bit-identical in any IEEE engine; ties
    * break on neighbor id.
    *
    * Scale shape: the corpus side is a map-only encode+reconstruct scan
    * (no shuffle); queries broadcast and the per-query top-k is a rank
    * window over the blocked pairs — the [[Similarity.bruteForceTopK]]
    * posture. At 100 TB the production composition is IVF-then-PQ
    * ([[IvfIndex]] with a [[IvfIndex.SeededPq]] or
    * [[IvfIndex.ResidualPq]] codec: the coarse quantizer buckets this
    * scan down to the probed cells); the ADC kernel is unchanged there. */
  def adcTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, topK: Int, m: Int, k: Int, subDim: Int,
              seed: Long = Similarity.DefaultSeed): DataFrame =
    adcTopKWith(corpus, queries, idCol, vecCol, topK, subDim,
      codebooks(m, k, subDim, seed))

  /** [[adcTopK]] against explicit codebooks (trained or seeded). */
  def adcTopKWith(corpus: DataFrame, queries: DataFrame, idCol: String,
                  vecCol: String, topK: Int, subDim: Int,
                  cbs: IndexedSeq[IndexedSeq[Array[Double]]]): DataFrame = {
    require(topK > 0, s"topK=$topK")
    val enc = spread(corpus).filter(size(col(vecCol)) >= cbs.length * subDim)
      .select(col(idCol).as("neighbor_id"),
        encodeReconCol(col(vecCol), cbs).as("__recon"))
    val q = queries.filter(size(col(vecCol)) >= cbs.length * subDim)
      .select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("__qv"))
    rankAsc(enc.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("__d", l2Score(col("__recon"), col("__qv"))), topK)
  }

  /** Codeword reconstruction of stored codes — the m·subDim array ADC
    * scores against. Literal-derived doubles throughout. */
  private[llm] def reconCol(codes: Column,
      cbs: IndexedSeq[IndexedSeq[Array[Double]]]): Column =
    flatten(array(cbs.indices.map { j =>
      element_at(typedlit(cbs(j).map(_.toSeq)), element_at(codes, j + 1) + 1)
    }: _*))

  /** Squared L2 from `q` to `x` with ‖q‖² dropped:
    * dot(x,x) − 2·dot(q,x), the idiom every L2 ranking here shares. */
  private[llm] def l2Score(x: Column, q: Column): Column =
    Similarity.dot(x, x) - lit(2.0) * Similarity.dot(q, x)

  /** The shared per-query ascending-distance rank window (ties on
    * neighbor id) — one copy for every L2 finisher. Expects
    * (query_id, neighbor_id, __d); emits (query_id, rank: long,
    * neighbor_id). */
  private[llm] def rankAsc(scored: DataFrame, topK: Int): DataFrame =
    Similarity.rankWithin(scored, topK, col("__d"))
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"))

  /** [[encode]] with the codebooks as a TABLE instead of plan literals —
    * the trained-model path for codebook sets too large to inline (the
    * [[QualityModel.scoreTable]] precedent: a plan-literal array ships
    * with every task and re-parses with every query; a big trained
    * codebook — OPQ with 2⁸ codewords × many subspaces × high dims —
    * belongs in data). The join shape: subvectors explode to (id, j)
    * rows, the broadcast codebook table supplies all k codewords per
    * subspace, and a min_by over the same `dot(c,c) − 2·dot(sub,c)`
    * score — computed with the shared sequential-fold dot, so the codes
    * are bit-identical to [[encode]]'s on the same codebooks (spec-
    * pinned). Ties break toward the lower code via the (score, code)
    * struct ordering.
    *
    * Scale shape: one explode to m× rows (map-side), one broadcast hash
    * join (m·k codebook rows ship once per executor), one
    * map-side-combined min_by aggregate per (id, j), one regroup to the
    * codes array. Nothing doc-grained shuffles except the (id, j)
    * partials — at 100 TB this is the encode job's floor.
    *
    * @param codebooksDf (subspace: int, code: int, codeword:
    *                    array<double>) — k rows per subspace. */
  def encodeTable(df: DataFrame, idCol: String, vecCol: String,
                  m: Int, k: Int, subDim: Int,
                  codebooksDf: DataFrame): DataFrame = {
    require(m > 0 && k > 1 && subDim > 0, s"m=$m k=$k subDim=$subDim")
    val cb = broadcast(codebooksDf.select(
      col(codebooksDf.columns(0)).cast("int").as("__j"),
      col(codebooksDf.columns(1)).cast("int").as("__c"),
      col(codebooksDf.columns(2)).cast("array<double>").as("__cw")))
    val subs = spread(df).filter(size(col(vecCol)) >= m * subDim)
      .select(col(idCol), posexplode(array((0 until m).map(j =>
        slice(col(vecCol), j * subDim + 1, subDim)): _*)))
      .select(col(idCol), col("pos").as("__j"), col("col").as("__sub"))
    val scored = subs.join(cb, Seq("__j"))
      .select(col(idCol), col("__j"),
        struct(l2Score(col("__cw"), col("__sub")).as("s"),
          col("__c").as("c")).as("__sc"))
      .groupBy(col(idCol), col("__j"))
      .agg(min(col("__sc")).getField("c").as("__code"))
    scored.groupBy(col(idCol))
      .agg(array_sort(collect_list(struct(col("__j"), col("__code"))))
        .as("__jc"))
      .select(col(idCol),
        transform(col("__jc"), e => e.getField("__code")).as("codes"))
  }

  /** Exact squared-L2 top-k — the ground truth [[adcTopK]] and the
    * IVF+PQ paths approximate, for recall measurement
    * ([[Similarity.recallAtK]] on a query sample is what sizes m/k/probes
    * for a corpus, the same measure-don't-guess loop as
    * `ann_recall_eval`). Same comparison idiom on the RAW vectors (‖q‖²
    * dropped), so the rankings are mutually comparable. Corpus never
    * shuffles; queries broadcast. */
  def exactL2TopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                  vecCol: String, topK: Int): DataFrame = {
    require(topK > 0, s"topK=$topK")
    val c = spread(corpus).select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("__cv"))
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("__qv"))
    rankAsc(c.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("__d", l2Score(col("__cv"), col("__qv"))), topK)
  }
}
