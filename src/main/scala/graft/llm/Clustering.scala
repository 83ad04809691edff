package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorOps

/** Deterministic distributed k-means over an embedding column, and SemDeDup
  * (cluster-then-prune semantic deduplication, Abbas et al. 2023) built on
  * it.
  *
  * Engine-exact by construction — every step is reproducible bit-for-bit in
  * another engine (the DuckDB oracle), across cluster sizes, and across
  * partition orders:
  *
  *  - Components quantize to dyadic rationals (`floor(x·2^20)/2^20`), so
  *    per-cluster component sums are EXACT doubles in any addition order
  *    while `|sum| < 2^33` — the one order-dependent step of Lloyd's
  *    algorithm (the centroid mean) becomes order-free.
  *  - Cluster scoring uses `c·c − 2·(w·c)` (the rank-equivalent part of
  *    squared distance) via the sequential-fold dot kernel
  *    ([[graft.functions.DotProduct]] ≡ DuckDB `list_dot_product`).
  *  - Argmin tie-breaks on the lowest cluster index; init is the k
  *    lowest-id vectors; empty clusters carry their previous centroid.
  *
  * Scale shape: assignment is map-side (centroids are literals in the plan);
  * the update aggregates (cluster, component) partial sums map-side, so only
  * `k × dim × partitions` rows shuffle; the driver holds k×dim doubles per
  * iteration and nothing else. This is the canonical 1000-executor k-means
  * plan — data never leaves its partitions except as tiny partial sums.
  */
object Clustering {

  /** 2^20 — quantization denominator. 20 fractional bits keeps unit-scale
    * embeddings exact under summation up to ~2^33 total magnitude. */
  val Q = 1048576.0

  /** Dyadic quantization: `floor(x·2^20)/2^20`. Float widens to double
    * (exact), ×2^20 is exact (power of two), floor and the final division
    * are exact — identical in any IEEE-754 engine. */
  def quantize(vec: Column): Column =
    transform(vec, x => floor(x.cast("double") * lit(Q)) / lit(Q))

  /** Lloyd's k-means: `iters` assignment passes with a centroid update
    * between consecutive passes. Returns (idCol, cluster) — cluster ∈
    * [0, k), long. Vectors not exactly `dim` long degrade out (same
    * posture as the ANN operators: don't crash the job, don't mis-assign).
    */
  def kmeans(df: DataFrame, idCol: String, vecCol: String,
             k: Int, iters: Int, dim: Int): DataFrame =
    // column pruning drops the unused d2 expression from the plan
    kmeansScored(df, idCol, vecCol, k, iters, dim)
      .select(col(idCol), col("cluster"))

  /** [[kmeans]] plus the exact squared distance to the assigned centroid:
    * `d2 = round(w·w + min_j(c_j·c_j − 2·w·c_j), 6)` on the quantized
    * vector. Every term is the same sequential-fold dot kernel the
    * assignment uses, so d2 is bit-reproducible in the oracle — the basis
    * for distance-ranked outlier detection ([[farthestPerCluster]]).
    * Returns (idCol, cluster, d2). */
  def kmeansScored(df: DataFrame, idCol: String, vecCol: String,
                   k: Int, iters: Int, dim: Int): DataFrame = {
    require(k >= 1 && iters >= 1, s"k=$k, iters=$iters must be >= 1")
    val base = df.filter(size(col(vecCol)) === dim)
      .select(col(idCol).as("__id"), quantize(col(vecCol)).as("__w"))
    val centroids = trainCentroids(base, k, iters, dim)
    // one scores array per row; cluster and d2 both derive from it
    base.withColumn("__s", scoresFor(centroids))
      .select(col("__id").as(idCol),
        (array_position(col("__s"), array_min(col("__s"))) - lit(1L))
          .as("cluster"),
        round(VectorOps.dot(col("__w"), col("__w")) + array_min(col("__s")), 6)
          .as("d2"))
  }

  /** score_j = c_j·c_j − 2·(w·c_j) per centroid, as ONE array column.
    * c_j·c_j is built from the SAME fold the per-row kernel uses
    * (constant-folded by Catalyst), not driver math, so its rounding
    * provably matches the oracle's list_dot_product(c, c). Expects the
    * quantized vector in `__w`. */
  private def scoresFor(centroids: IndexedSeq[Array[Double]]): Column =
    array(centroids.map { c =>
      val cl = typedlit(c.toSeq)
      VectorOps.dot(cl, cl) - lit(2.0) * VectorOps.dot(col("__w"), cl)
    }: _*)

  /** The same per-centroid scores as (s, j) STRUCTS over an arbitrary
    * quantized-vector column — struct ordering compares fields left to
    * right, so `array_sort` ranks centroids by (score asc, index asc):
    * element 1 is the kmeans argmin (first-min tie-break, identical to
    * [[scoresFor]]+array_position) and the first p elements are the p
    * NEAREST centroids — the trained-IVF probe list
    * ([[IvfIndex.Trained]]). */
  private[graft] def scoreStructs(w: Column,
      centroids: IndexedSeq[Array[Double]]): Column =
    array(centroids.zipWithIndex.map { case (c, j) =>
      val cl = typedlit(c.toSeq)
      struct((VectorOps.dot(cl, cl) - lit(2.0) * VectorOps.dot(w, cl))
        .as("s"), lit(j).as("j"))
    }: _*)

  /** The undersized-training contract of every Lloyd init here (the
    * k-means coarse quantizer and the PQ codebooks): `k` centroids need
    * at least `k` distinct seed vectors, so fewer rows fail up front with
    * a named error — FAISS's refusal — instead of an analysis-time type
    * error on an empty centroid array deep in the plan. `rows` is the
    * size of the ≤ k-row init the caller already collected. */
  private[graft] def requireTrainingRows(rows: Int, k: Int, dim: Int): Unit =
    if (rows < k) throw new IllegalArgumentException(
      s"cannot train k=$k centroids of dim=$dim from $rows training " +
        s"row(s): need at least k=$k vectors of the training dimension")

  /** Lloyd's update loop shared by [[kmeansScored]] and [[silhouette]]:
    * deterministic init (the k lowest-id quantized vectors — k rows to
    * the driver, the only data that ever leaves the executors), then
    * `iters`−1 assignment/update rounds. Component sums are exact
    * (dyadic inputs), so map-side partial aggregation order is
    * irrelevant; k×dim rows collect per round. Expects `base` as
    * (__id, __w-quantized). Fewer than `k` rows is refused up front
    * ([[requireTrainingRows]]), counted on the init rows already
    * collected. */
  private[graft] def trainCentroids(base: DataFrame, k: Int, iters: Int,
                                    dim: Int): IndexedSeq[Array[Double]] = {
    var centroids: IndexedSeq[Array[Double]] =
      base.orderBy(col("__id")).limit(k).collect()
        .map(_.getSeq[Double](1).toArray).toIndexedSeq
    requireTrainingRows(centroids.length, k, dim)
    // argmin with first-index tie-break via array_position(scores, min) —
    // 1-based, so −1
    def assignCol: Column = {
      val s = scoresFor(centroids)
      array_position(s, array_min(s)) - lit(1L)
    }
    for (_ <- 1 until iters) {
      val sums = base.withColumn("cluster", assignCol)
        .select(col("cluster"), posexplode(col("__w")))
        .groupBy("cluster", "pos")
        .agg(sum(col("col")).as("s"), count(lit(1)).as("n"))
        .collect()
      val byCluster = sums.groupBy(_.getLong(0))
      centroids = centroids.zipWithIndex.map { case (prev, j) =>
        byCluster.get(j.toLong) match {
          case Some(rows) =>
            val arr = new Array[Double](dim)
            rows.foreach(r => arr(r.getInt(1)) = r.getDouble(2) / r.getLong(3))
            arr
          case None => prev // empty cluster: carry the previous centroid
        }
      }
    }
    centroids
  }

  /** Centroid-based (simplified) silhouette per vector — the standard
    * scalable stand-in for full silhouette (whose pairwise distances are
    * quadratic and un-replayable): a = distance to the ASSIGNED
    * centroid, b = distance to the nearest OTHER centroid, sil =
    * (b − a) / max(a, b) ∈ [−1, 1]. Negative rows sit closer to another
    * cluster than their own — the "is k right / did clustering separate
    * anything" diagnostic read before acting on kmeans output
    * (SemDeDup, curricula, coresets).
    *
    * Scale shape: identical to [[kmeans]] — the training collects k×dim
    * centroid rows per round, then ONE map-only pass computes all k
    * scores per row in a single projection; no join, no window, the
    * corpus never shuffles. Engine-exact: both distances derive from
    * the same raw score array the assignment uses (min commutes with
    * the constant +w·w addition — IEEE rounding is monotone), sqrt is a
    * correctly-rounded single op on identical operands, and the argmin
    * position is excluded BY INDEX so duplicate centroids (empty-
    * cluster carry) can't double-count. Output: (idCol, cluster, sil
    * rounded to `roundScore`). */
  def silhouette(df: DataFrame, idCol: String, vecCol: String,
                 k: Int, iters: Int, dim: Int,
                 roundScore: Int = 6): DataFrame = {
    require(k >= 2, s"k=$k: silhouette needs a second centroid")
    require(iters >= 1, s"iters=$iters must be >= 1")
    val base = df.filter(size(col(vecCol)) === dim)
      .select(col(idCol).as("__id"), quantize(col(vecCol)).as("__w"))
    val centroids = trainCentroids(base, k, iters, dim)
    // a 0/1-row corpus seeds fewer than 2 centroids: there is no
    // "other" centroid, so there is no silhouette — emit NO rows,
    // matching the oracle's inner join on the other-centroid leg
    // (array_min over the index-filtered empty array would otherwise
    // null-skip into a fabricated 0/−1 score here)
    if (centroids.length < 2)
      return base.select(col("__id").as(idCol),
        lit(0L).as("cluster"), lit(0.0).as("sil")).limit(0)
    val sa2 = greatest(col("__ww") + array_min(col("__s")), lit(0.0))
    val sb2 = greatest(col("__ww") + col("__sb"), lit(0.0))
    base.withColumn("__s", scoresFor(centroids))
      .withColumn("__ww", VectorOps.dot(col("__w"), col("__w")))
      .withColumn("cluster",
        array_position(col("__s"), array_min(col("__s"))) - lit(1L))
      .withColumn("__sb", array_min(
        filter(col("__s"), (_, i) => i.cast("long") =!= col("cluster"))))
      .select(col("__id").as(idCol), col("cluster"),
        when(greatest(sqrt(sa2), sqrt(sb2)) === 0.0, lit(0.0))
          .otherwise(round((sqrt(sb2) - sqrt(sa2)) /
            greatest(sqrt(sa2), sqrt(sb2)), roundScore)).as("sil"))
  }

  /** Per-cluster farthest-from-centroid ranking — the candidate
    * mislabeled/noise examples a curation pass reviews first. Top
    * `perCluster` rows per cluster by (d2 desc, id asc); deterministic,
    * and the window runs on the k-partitioned assignment output, so the
    * only added cost over [[kmeansScored]] is one k-keyed top-k
    * (WindowGroupLimit pushes the limit map-side). */
  def farthestPerCluster(df: DataFrame, idCol: String, vecCol: String,
                         k: Int, iters: Int, dim: Int,
                         perCluster: Int): DataFrame = {
    val scored = kmeansScored(df, idCol, vecCol, k, iters, dim)
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col("d2").desc, col(idCol))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= perCluster)
      .select(col("cluster"), col("rank").cast("long").as("rank"),
        col(idCol), col("d2"))
  }

  /** SemDeDup: k-means-cluster the embeddings, then within each cluster
    * drop every vector that has a LOWER-id neighbor with cosine ≥
    * `threshold` (rounded to `roundScore` decimals before the comparison,
    * keeping the boundary engine-stable). Returns the KEPT rows as
    * (idCol, cluster).
    *
    * The clustering is what makes this scale: the near-dup self-join runs
    * per cluster (the SemDeDup paper's core trick), never all-pairs. The
    * keep-lowest-id rule makes the pruned set deterministic — no dependence
    * on which member a traversal happens to visit first.
    *
    * == Hot-cluster cap ==
    * At fixed `k`, cluster size grows ~N/k with the corpus, so an
    * uncapped within-cluster pair join grows QUADRATICALLY in corpus
    * size — the one scale-killer the rest of this file avoids. The
    * SemDeDup paper's own posture is constant expected cluster size
    * (scale k with N); when the caller pins k (this operator's
    * oracle-replayable mode — the k literals live in the plan), the cap
    * enforces the same bound structurally: clusters larger than
    * `maxPairSide` split into `ceil(size / maxPairSide)` deterministic
    * sub-buckets (52-bit md5 uniform of the id, mod nsub — the
    * [[Sampling]] hash discipline, engine-portable and immune to
    * arithmetically structured ids) and pairs are scored only within a
    * (cluster, sub-bucket).
    * Candidate pairs are then ≤ N·maxPairSide/2 — LINEAR in corpus
    * size — at the standard blocking trade: near-dups landing in
    * different sub-buckets of a hot cluster are missed, exactly the
    * recall trade every other capped family here makes (winnow's
    * hot-fingerprint cap, the stop-shingle cap). The sizing frame is a
    * k-row broadcast; the sub-bucket key is map-side.
    */
  def semdedup(df: DataFrame, idCol: String, vecCol: String,
               k: Int, iters: Int, dim: Int, threshold: Double,
               roundScore: Int = 6, maxPairSide: Int = 128): DataFrame = {
    require(maxPairSide >= 1, s"maxPairSide=$maxPairSide must be >= 1")
    val clusters = kmeans(df, idCol, vecCol, k, iters, dim)
    val nv = df.filter(size(col(vecCol)) === dim)
      .select(col(idCol), Similarity.normalize(col(vecCol)).as("__nv"))
      .join(clusters, idCol)
    // k rows; ceil on a double is exact here (counts ≪ 2^52)
    val sizes = nv.groupBy("cluster")
      .agg(ceil(count(lit(1)) / lit(maxPairSide.toDouble)).as("__nsub"))
    val sub = nv.join(broadcast(sizes), Seq("cluster"))
      .withColumn("__sub", pmod(
        conv(substring(md5(col(idCol).cast("string")), 1, 13), 16, 10)
          .cast("long"),
        col("__nsub")))
    val a = sub.select(col("cluster"), col("__sub"), col(idCol).as("id_a"),
      col("__nv").as("__va"))
    val b = sub.select(col("cluster"), col("__sub"), col(idCol).as("id_b"),
      col("__nv").as("__vb"))
    // SHUFFLE_HASH: sort-merge would sort BOTH dim-wide vector streams by
    // (cluster, sub) before pairing (the Dedup re-attach lesson); the cap
    // bounds each build partition to ~maxPairSide-member buckets
    val dominated = a.join(b.hint("shuffle_hash"), Seq("cluster", "__sub"))
      .filter(col("id_a") < col("id_b"))
      .filter(round(VectorOps.dot(col("__va"), col("__vb")), roundScore)
        >= threshold)
      .select(col("id_b").as(idCol)).distinct()
    nv.join(dominated.hint("shuffle_hash"), Seq(idCol), "left_anti")
      .select(col(idCol), col("cluster"))
  }

  /** Pairwise centroid drift between labeled embedding groups: the mean
    * vector per label (source, time-slice, pipeline version …) and the
    * cosine similarity between every label pair — the standard
    * distribution-shift monitor for a training corpus ("did this month's
    * crawl move away from the reference mix?", "are two sources
    * semantically redundant?"). Low `cos_sim` between time slices flags
    * drift; ~1.0 between sources flags redundancy a mixture weight
    * should know about.
    *
    * Engine-exact like [[kmeans]]: components quantize to dyadic
    * rationals so per-label component sums are exact in any addition
    * order; each centroid component is then ONE correctly-rounded
    * division, and the cosine runs on the sequential-fold dot kernel
    * (≡ DuckDB `list_dot_product`). Vectors not exactly `dim` long
    * degrade out (the ANN posture); a degenerate all-zero centroid
    * yields null `cos_sim` rather than a division error.
    *
    * Plan shape at 100 TB: the component explode partial-aggregates
    * map-side, so only `labels × dim × partitions` partial rows shuffle
    * (the k-means update shape — data never leaves its partitions except
    * as tiny sums); centroid assembly groups `labels × dim` rows; the
    * pair join is over the `labels`-row centroid frame (broadcast NLJ on
    * label_a < label_b, |labels|² pairs of dim-length arrays — trivial
    * for the dozens-to-hundreds of labels this is for). */
  def centroidDrift(df: DataFrame, labelCol: String, vecCol: String,
                    dim: Int): DataFrame = {
    val comps = df.filter(size(col(vecCol)) === dim)
      .select(col(labelCol), posexplode(quantize(col(vecCol))))
      .groupBy(col(labelCol), col("pos"))
      .agg(sum(col("col")).as("sc"), count(lit(1)).as("n"))
    val cents = comps.groupBy(col(labelCol))
      .agg(
        transform(
          sort_array(collect_list(struct(col("pos"),
            (col("sc") / col("n")).as("c")))),
          s => s.getField("c")).as("cv"),
        min(col("n")).as("n"))
    val a = cents.select(col(labelCol).as("label_a"), col("cv").as("__va"),
      col("n").as("n_a"))
    val b = cents.select(col(labelCol).as("label_b"), col("cv").as("__vb"),
      col("n").as("n_b"))
    val denom = sqrt(VectorOps.dot(col("__va"), col("__va"))) *
      sqrt(VectorOps.dot(col("__vb"), col("__vb")))
    a.join(b, col("label_a") < col("label_b"))
      .select(col("label_a"), col("label_b"), col("n_a"), col("n_b"),
        when(denom =!= 0.0,
          round(VectorOps.dot(col("__va"), col("__vb")) / denom, 6))
          .as("cos_sim"))
  }

  /** Top principal direction of the (mean-centered) embedding cloud by
    * POWER ITERATION — distributed PCA's first component, the signal
    * behind "is one axis dominating my embedding space" (anisotropy
    * checks, whitening decisions, drift dashboards). `iters` unrolled
    * matrix-vector rounds: uᵏ = Σᵢ (xᵢ·vᵏ⁻¹)·xᵢ, vᵏ = uᵏ/‖uᵏ‖.
    *
    * == Determinism (the [[kmeans]] scheme, extended) ==
    * Inputs quantize to dyadic rationals (grid 2⁻²⁰), the centering mean
    * re-quantizes, and per-row dot products are EXACT (granularity
    * 2⁻⁴⁰, 64 terms — every partial sum representable), so any summation
    * order agrees. The outer-product contribution floor-quantizes to the
    * 2⁻¹² grid BEFORE the component sum — s·xᵢⱼ alone would need 64 bits
    * — making the u-sums exact at any corpus size up to ~2³³ rows. The
    * normalization runs on the driver over the dim collected sums (the
    * kmeans centroid precedent: k×dim rows only), with a fixed
    * ascending-position fold so the oracle's orderless SUM matches (u²
    * terms are exact dyadics). A zero u (degenerate input) keeps the
    * previous direction rather than dividing by zero.
    *
    * Scale shape per round: one scan of the corpus, map-side dot +
    * quantized contribution, ONE hash aggregate to dim rows. Nothing
    * else moves; the driver holds 2×dim doubles.
    *
    * Output: (pos, component, eigenvalue) — the unit direction on the
    * 2⁻²⁰ grid and ‖u‖ of the final round (the Rayleigh-quotient
    * eigenvalue estimate, 6 dp). */
  def pcaTopComponent(df: DataFrame, vecCol: String, dim: Int,
                      iters: Int = 2): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    powerDirection(df, vecCol, dim, iters).toSeq.flatMap {
      case (_, v, eigen) => v.zipWithIndex.map { case (c, j) =>
        (j.toLong, c, BigDecimal(eigen).setScale(6,
          BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
    }.toDF("pos", "component", "eigenvalue")
  }

  /** Projection of every vector onto the trained top component:
    * (idCol, projection) with projection = (x−mean)·v on the quantized
    * grid (an exact dyadic sum, 6 dp) — the per-item anisotropy score
    * (how much of this embedding is "the dominant axis"), and the input
    * to rank-one whitening. One extra corpus scan past training. */
  def pcaProject(df: DataFrame, idCol: String, vecCol: String, dim: Int,
                 iters: Int = 2): DataFrame = {
    // no training rows: nothing to project, any direction will do
    val (meanQ, v, _) = powerDirection(df, vecCol, dim, iters).getOrElse(
      (new Array[Double](dim), IndexedSeq.fill(dim)(0.0), 0.0))
    val xc = zip_with(col("__w"), typedlit(meanQ.toSeq), (a, b) => a - b)
    df.filter(size(col(vecCol)) === dim)
      .select(col(idCol), quantize(col(vecCol)).as("__w"))
      .select(col(idCol),
        round(VectorOps.dot(xc, typedlit(v)), 6).as("projection"))
  }

  /** The shared power-iteration loop: returns (quantized centering mean,
    * final unit direction on the 2⁻²⁰ grid, final ‖u‖), or None when no
    * vector has `dim` components. See [[pcaTopComponent]] for the
    * determinism argument. */
  private def powerDirection(df: DataFrame, vecCol: String, dim: Int,
      iters: Int): Option[(Array[Double], IndexedSeq[Double], Double)] = {
    require(iters >= 1 && iters <= 10, s"iters=$iters out of [1,10]")
    val base = df.filter(size(col(vecCol)) === dim)
      .select(quantize(col(vecCol)).as("__w"))
    centeringMean(base, dim).map { meanQ =>
      val xc = zip_with(col("__w"), typedlit(meanQ.toSeq),
        (a, b) => a - b)
      val (v, eigen) = powerLoop(base.select(xc.as("__xc")), dim, iters)
      (meanQ, v, eigen)
    }
  }

  /** Per-component quantized centering mean of a (__w) frame — one
    * map-side-combined aggregate to dim rows; None when the frame has
    * no rows. */
  private def centeringMean(base: DataFrame,
                            dim: Int): Option[Array[Double]] = {
    val meanRows = base.select(posexplode(col("__w")))
      .groupBy("pos").agg(sum(col("col")).as("s"), count(lit(1)).as("n"))
      .collect()
    Option.when(meanRows.nonEmpty) {
      val meanQ = new Array[Double](dim)
      meanRows.foreach { r =>
        meanQ(r.getInt(0)) =
          math.floor(r.getDouble(1) / r.getLong(2) * Q) / Q
      }
      meanQ
    }
  }

  /** `iters` power-iteration rounds over a centered (__xc) frame:
    * uᵏ = Σᵢ (xᵢ·vᵏ⁻¹)·xᵢ with the outer-product contribution floored to
    * the 2⁻¹² grid before the sum, vᵏ = uᵏ/‖uᵏ‖ re-quantized to 2⁻²⁰.
    * Returns (final unit direction, final ‖u‖). One corpus scan and one
    * hash aggregate to dim rows per round; the driver holds 2×dim
    * doubles. */
  private def powerLoop(xcf: DataFrame, dim: Int,
      iters: Int): (IndexedSeq[Double], Double) = {
    var v: IndexedSeq[Double] =
      IndexedSeq.fill(dim)(math.floor(Q / math.sqrt(dim.toDouble)) / Q)
    var eigen = 0.0
    for (_ <- 1 to iters) {
      val u = xcf
        .withColumn("__s", VectorOps.dot(col("__xc"), typedlit(v)))
        .select(posexplode(col("__xc")), col("__s"))
        .groupBy("pos")
        .agg(sum(floor(col("__s") * col("col") * lit(4096.0)) / lit(4096.0))
          .as("u"))
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
      val uArr = (0 until dim).map(j => u.getOrElse(j, 0.0))
      // fixed ascending fold; u² terms are exact dyadics, so this equals
      // the oracle's orderless SUM
      eigen = math.sqrt(uArr.foldLeft(0.0)((acc, x) => acc + x * x))
      if (eigen > 0.0)
        v = uArr.map(x => math.floor(x / eigen * Q) / Q)
    }
    (v, eigen)
  }

  /** The top `nComponents` principal directions by POWER ITERATION WITH
    * DEFLATION — [[pcaTopComponent]] extended past rank one: after
    * component c converges, its rank-one projection is subtracted from
    * the centered cloud (xᵢ ← xᵢ − (xᵢ·v)·v, the Hotelling deflation)
    * and the power loop reruns on the deflated frame for component c+1.
    *
    * == Determinism (the [[pcaTopComponent]] scheme, closed under
    * deflation) ==
    * The deflation step floors each subtracted term (xᵢ·v)·vⱼ to the
    * 2⁻¹² grid — a correctly-rounded double product of exact dyadics,
    * then floor: identical in any IEEE engine — so the deflated
    * components stay EXACT dyadics on the 2⁻²⁰ grid and every
    * later-round dot/u-sum keeps the order-free exactness argument.
    * The deflated frame is `localCheckpoint`ed per component (it feeds
    * `iters` scans of the next power loop).
    *
    * Orthogonality is approximate, not bit-exact: deflation kills the
    * component's variance, but the NEXT direction is only as orthogonal
    * as the power loop has converged (plus 2⁻¹² quantization) — the
    * standard deflation posture, property-pinned on a spectrally
    * separated fixture.
    *
    * Scale shape: `nComponents × iters` corpus scans, each ONE hash
    * aggregate to dim rows, plus one narrow map-side rewrite per
    * component. Nothing but k×dim doubles touches the driver.
    *
    * Output: (comp 1-based, pos, component, eigenvalue) — `nComponents ×
    * dim` rows, eigenvalue the component's final ‖u‖ (6 dp). */
  def pcaComponents(df: DataFrame, vecCol: String, dim: Int,
                    nComponents: Int, iters: Int = 2): DataFrame = {
    require(nComponents >= 1 && nComponents <= 16,
      s"nComponents=$nComponents out of [1,16]")
    require(iters >= 1 && iters <= 10, s"iters=$iters out of [1,10]")
    val spark = df.sparkSession
    val base = df.filter(size(col(vecCol)) === dim)
      .select(quantize(col(vecCol)).as("__w"))
    // no training rows: no components (the SQL's empty result)
    val comps = centeringMean(base, dim).toSeq.flatMap(meanQ =>
      deflatedComponents(base, dim, nComponents, iters, meanQ))
    val out = comps.zipWithIndex.flatMap { case ((v, eigen), ci) =>
      val e6 = BigDecimal(eigen)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      v.zipWithIndex.map { case (cv, j) =>
        ((ci + 1).toLong, j.toLong, cv, e6) }
    }
    import spark.implicits._
    out.toDF("comp", "pos", "component", "eigenvalue")
  }

  /** The deflated power-iteration loop shared by [[pcaComponents]] and
    * [[whiten]]: per component, run [[powerLoop]] on the current
    * residual, then subtract the 2⁻¹²-floored rank-one projection
    * (exactness closed under deflation) and recurse. Returns the RAW
    * eigen norm; callers round. */
  private def deflatedComponents(base: DataFrame, dim: Int,
                                 nComponents: Int, iters: Int,
                                 meanQ: Array[Double])
      : Seq[(IndexedSeq[Double], Double)] = {
    var xcf = base.select(zip_with(col("__w"), typedlit(meanQ.toSeq),
      (a, b) => a - b).as("__xc")).localCheckpoint()
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(IndexedSeq[Double], Double)]
    for (c <- 1 to nComponents) {
      val (v, eigen) = powerLoop(xcf, dim, iters)
      out += ((v, eigen))
      if (c < nComponents) {
        val vLit = typedlit(v)
        xcf = xcf
          .withColumn("__s", VectorOps.dot(col("__xc"), vLit))
          .select(zip_with(col("__xc"), vLit, (x, vj) =>
            x - floor(col("__s") * vj * lit(4096.0)) / lit(4096.0))
            .as("__xc"))
          .localCheckpoint()
      }
    }
    out.toSeq
  }

  /** PCA whitening of the embedding column: y_c = (x−μ)·v_c / √λ_c for
    * the top `nComponents` deflated components — the standard embedding
    * post-processing (Jégou & Chum 2012's whitened descriptors; modern
    * "whitening-k" for sentence embeddings) that decorrelates dominant
    * directions so cosine stops being hijacked by the corpus' top
    * principal axis.
    *
    * Determinism: the centered vectors and components live on the
    * dyadic grid, so each projection is an ORDER-FREE exact sum (the
    * pca_project posture); the scale 1/√λ_c is one IEEE sqrt + divide
    * on the 6-dp-rounded eigen norm — identical in any engine — and
    * the product rounds once at 6 dp. A non-positive eigen norm
    * (degenerate residual) nulls that component's coordinate rather
    * than dividing by zero.
    *
    * Scale shape: training is [[pcaComponents]]' loop (nComponents ×
    * iters corpus scans over the checkpointed residual); serving is ONE
    * map-only projection pass — components and scales compile into the
    * projection as literals, nothing shuffles.
    *
    * Output: (idCol, w1..w`nComponents`). */
  def whiten(df: DataFrame, idCol: String, vecCol: String, dim: Int,
             nComponents: Int, iters: Int = 2): DataFrame = {
    require(nComponents >= 1 && nComponents <= 16,
      s"nComponents=$nComponents out of [1,16]")
    val withId = df.filter(size(col(vecCol)) === dim)
      .select(col(idCol), quantize(col(vecCol)).as("__w"))
    val base = withId.select(col("__w"))
    val meanQ = centeringMean(base, dim).getOrElse(new Array[Double](dim))
    val comps = deflatedComponents(base, dim, nComponents, iters, meanQ)
    val xcId = withId.select(col(idCol),
      zip_with(col("__w"), typedlit(meanQ.toSeq),
        (a, b) => a - b).as("__xc"))
    val cols = comps.zipWithIndex.map { case ((v, eigen), i) =>
      val e6 = BigDecimal(eigen)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val c =
        if (e6 > 0)
          round(VectorOps.dot(col("__xc"), typedlit(v)) *
            lit(1.0 / math.sqrt(e6)), 6)
        else lit(null).cast("double")
      c.as(s"w${i + 1}")
    }
    xcId.select(col(idCol) +: cols: _*)
  }

  /** Greedy k-center / farthest-point coreset (Gonzalez 1985): pick the
    * lowest-id point, then `k`−1 times the point FARTHEST from the
    * current picks (min cosine to the selected set; ties on id) — the
    * classic diverse-subset selector (eval-set seeding, label-budget
    * allocation, "cover the embedding space with k exemplars"), with
    * the standard 2-approximation guarantee on the covering radius.
    *
    * Selection is sequential BY DEFINITION (pick r depends on picks
    * 1..r−1), so the oracle unrolls rounds (the MMR/BPE precedent) —
    * but each round is ONE broadcast product of the corpus with the
    * SINGLE newest pick: the running max-similarity column is
    * maintained incrementally (`greatest(msim, sim-to-newest)`), never
    * recomputed against the whole selected set, and `localCheckpoint`
    * per round keeps the plan flat. The argmin cut is a 1-row
    * TakeOrderedAndProject. Cost: k corpus-wide map passes — the
    * irreducible k-center floor; similarities 6-dp-fixed so the greedy
    * argmin replays engine-exactly.
    *
    * Output: (pick ∈ 1..k, idCol) — rank-only, the ANN-family
    * convention. */
  def kCenterGreedy(df: DataFrame, idCol: String, vecCol: String,
                    k: Int): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    val base = df
      .select(col(idCol).as("id"), Similarity.normalize(col(vecCol)).as("nv"))
      .localCheckpoint()
    val first = base.orderBy(col("id")).limit(1)
    var selected = first.select(col("id"), lit(1L).as("pick"))
    // the running state per unpicked point is its max similarity to the
    // selected set; the farthest point is the one with the SMALLEST msim
    var rest = base.join(first.select(col("id")), Seq("id"), "left_anti")
      .crossJoin(broadcast(first.select(col("nv").as("pv"))))
      .select(col("id"), col("nv"),
        round(Similarity.dot(col("nv"), col("pv")), 6)
          .cast("decimal(9,6)").as("msim"))
      .localCheckpoint()
    for (r <- 2 to k) {
      val pick = rest.orderBy(col("msim").asc, col("id")).limit(1)
        .localCheckpoint()
      selected = selected.unionByName(
        pick.select(col("id"), lit(r.toLong).as("pick")))
      rest = rest.join(pick.select(col("id")), Seq("id"), "left_anti")
        .crossJoin(broadcast(pick.select(col("nv").as("pv"))))
        .select(col("id"), col("nv"),
          greatest(col("msim"),
            round(Similarity.dot(col("nv"), col("pv")), 6)
              .cast("decimal(9,6)")).as("msim"))
        .localCheckpoint()
    }
    selected.select(col("pick"), col("id").as(idCol))
  }
}
