package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.llm.{Clustering, Quantize, Similarity}
import graft.llm.IvfIndex.Signs

/** Embedding analytics and clustering: k-means, PCA, whitening,
  * projections, quantization, drift, outliers, near-dup blocking and
  * semantic dedup. */
object EmbedRows {
  import Shared._

  /** The unrolled power-iteration rounds mirroring
    * [[Clustering.pcaTopComponent]]: quantized inputs, re-quantized
    * centering mean, exact per-row dots, 2⁻¹²-floored contributions, and
    * a driver-equivalent normalization per round. Produces CTEs
    * v0..v`iters`, n1..n`iters`. */
  private def pcaCtes(iters: Int, dim: Int): String = {
    val q = "1048576.0"
    val head =
      s"""e AS MATERIALIZED (
         |  SELECT vec_id,
         |         list_transform(CAST(embedding AS DOUBLE[]),
         |           x -> floor(x * $q) / $q) AS w
         |  FROM embeddings WHERE len(embedding) = $dim),
         |x AS (SELECT vec_id, i, w[i] AS c
         |      FROM (SELECT vec_id, w,
         |                   unnest(generate_series(1, $dim)) AS i
         |            FROM e)),
         |m AS (SELECT i, floor(sum(c) / count(*) * $q) / $q AS mq
         |      FROM x GROUP BY i),
         |xc AS MATERIALIZED (SELECT vec_id, i, c - mq AS xc
         |                    FROM x JOIN m USING (i)),
         |v0 AS (SELECT unnest(generate_series(1, $dim)) AS i,
         |              floor($q / sqrt(CAST($dim AS DOUBLE))) / $q AS v)""".stripMargin
    val steps = (1 to iters).map { k =>
      s"""s$k AS MATERIALIZED (
         |  SELECT vec_id, SUM(xc * v) AS s
         |  FROM xc JOIN v${k - 1} USING (i) GROUP BY vec_id),
         |u$k AS MATERIALIZED (
         |  SELECT i, SUM(floor(s * xc * 4096.0) / 4096.0) AS u
         |  FROM xc JOIN s$k USING (vec_id) GROUP BY i),
         |n$k AS MATERIALIZED (SELECT sqrt(SUM(u * u)) AS nrm FROM u$k),
         |v$k AS MATERIALIZED (
         |  SELECT i, CASE WHEN (SELECT nrm FROM n$k) > 0
         |                 THEN floor(u / (SELECT nrm FROM n$k) * $q) / $q
         |                 ELSE p.v END AS v
         |  FROM u$k JOIN v${k - 1} p USING (i))""".stripMargin
    }
    (head +: steps).mkString(",\n")
  }

  /** The deflated multi-component power iteration mirroring
    * [[Clustering.pcaComponents]]: per component c, the same unrolled
    * rounds as [[pcaCtes]] over the c-th deflated frame xc_c, then
    * xc_{c+1} = xc_c − floor((xc_c·v)·v·2¹²)/2¹² — every subtracted term
    * a correctly-rounded product of exact dyadics, so the deflated
    * components stay exact and every sum stays order-free. Produces CTEs
    * xc1..xc`nComp`, v{c}_0..v{c}_`iters`, n{c}_1..n{c}_`iters`. */
  private def pcaDeflateCtes(nComp: Int, iters: Int, dim: Int): String = {
    val q = "1048576.0"
    val head =
      s"""e AS MATERIALIZED (
         |  SELECT vec_id,
         |         list_transform(CAST(embedding AS DOUBLE[]),
         |           x -> floor(x * $q) / $q) AS w
         |  FROM embeddings WHERE len(embedding) = $dim),
         |x AS (SELECT vec_id, i, w[i] AS c
         |      FROM (SELECT vec_id, w,
         |                   unnest(generate_series(1, $dim)) AS i
         |            FROM e)),
         |m AS (SELECT i, floor(sum(c) / count(*) * $q) / $q AS mq
         |      FROM x GROUP BY i),
         |xc1 AS MATERIALIZED (SELECT vec_id, i, c - mq AS xc
         |                     FROM x JOIN m USING (i))""".stripMargin
    val comps = (1 to nComp).flatMap { c =>
      val init =
        s"""v${c}_0 AS (SELECT unnest(generate_series(1, $dim)) AS i,
           |       floor($q / sqrt(CAST($dim AS DOUBLE))) / $q AS v)""".stripMargin
      val rounds = (1 to iters).map { k =>
        s"""s${c}_$k AS MATERIALIZED (
           |  SELECT vec_id, SUM(xc * v) AS s
           |  FROM xc$c JOIN v${c}_${k - 1} USING (i) GROUP BY vec_id),
           |u${c}_$k AS MATERIALIZED (
           |  SELECT i, SUM(floor(s * xc * 4096.0) / 4096.0) AS u
           |  FROM xc$c JOIN s${c}_$k USING (vec_id) GROUP BY i),
           |n${c}_$k AS MATERIALIZED (SELECT sqrt(SUM(u * u)) AS nrm
           |                          FROM u${c}_$k),
           |v${c}_$k AS MATERIALIZED (
           |  SELECT i, CASE WHEN (SELECT nrm FROM n${c}_$k) > 0
           |                 THEN floor(u / (SELECT nrm FROM n${c}_$k) * $q) / $q
           |                 ELSE p.v END AS v
           |  FROM u${c}_$k JOIN v${c}_${k - 1} p USING (i))""".stripMargin
      }
      val deflate = if (c == nComp) Nil else Seq(
        s"""sf$c AS MATERIALIZED (
           |  SELECT vec_id, SUM(xc * v) AS s
           |  FROM xc$c JOIN v${c}_$iters USING (i) GROUP BY vec_id),
           |xc${c + 1} AS MATERIALIZED (
           |  SELECT x.vec_id, x.i,
           |         x.xc - floor(sf.s * vv.v * 4096.0) / 4096.0 AS xc
           |  FROM xc$c x JOIN sf$c sf USING (vec_id)
           |  JOIN v${c}_$iters vv ON vv.i = x.i)""".stripMargin)
      (init +: rounds) ++ deflate
    }
    (head +: comps).mkString(",\n")
  }

  /** The near-dup blocking sweep points (bucket bits b × OR-bands),
    * shared by `embed_neardup_sizing` and its oracle: the gate rows'
    * configs (2,1)/(4,2), bits-alone at (4,1)/(8,1) to show the recall
    * that raising b without bands costs, and the 100 TB shape (8,4). */
  private val neardupSizingSweep: Seq[(Int, Int)] =
    Seq((2, 1), (4, 1), (4, 2), (8, 1), (8, 4))

  /** `embed_neardup_sizing`'s oracle: one MATERIALIZED sampled brute
    * partner-truth leg (queries `vec_id < 200`, rounded-score
    * threshold — the embed_cosine_neardup discipline), per (b, bands)
    * leg the seeded rotated buckets ([[rotatedBucketSql]], seed + band —
    * the embed_neardup_banded CTEs generalized) and a count of truth
    * partner rows whose two members collide in ANY band (collision is
    * symmetric, so orientation needs no care); identical vectors share
    * every bucket, so the engine's exact-dup canonicalization needs no
    * special casing here. */
  private def neardupSizingSql(legs: Seq[(Int, Int)]): String = {
    val shared =
      s"""WITH ec AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |            FROM embeddings WHERE len(embedding) >= 64),
         |nv AS (SELECT vec_id, v,
         |         ${unitSql("v")}
         |           AS nv
         |       FROM ec),
         |qs AS (SELECT vec_id AS q, nv AS vq FROM nv WHERE vec_id < 200),
         |tr AS MATERIALIZED (
         |  SELECT qs.q, c.vec_id AS x
         |  FROM qs JOIN nv c ON c.vec_id <> qs.q
         |  WHERE round(list_dot_product(qs.vq, c.nv), 6) >= 0.35),
         |trc AS (SELECT count(*) AS n_true FROM tr)""".stripMargin
    val per = legs.map { case (b, bands) =>
      val p = s"s${b}x$bands"
      val bkCols = (0 until bands).map(j =>
        s"${rotatedBucketSql("v", b, 64, Similarity.DefaultSeed + j)}" +
          s" AS bk$j").mkString(",\n         ")
      val orCond = (0 until bands).map(j => s"x.bk$j = y.bk$j")
        .mkString(" OR ")
      s""",
         |${p}b AS (SELECT vec_id,
         |         $bkCols
         |       FROM ec),
         |$p AS (SELECT count(*) AS n_found FROM tr t
         |       JOIN ${p}b x ON x.vec_id = t.q
         |       JOIN ${p}b y ON y.vec_id = t.x
         |       WHERE $orCond)""".stripMargin
    }.mkString
    val selects = legs.map { case (b, bands) =>
      val p = s"s${b}x$bands"
      s"""SELECT CAST($b AS BIGINT) AS b, CAST($bands AS BIGINT) AS bands,
         |       n_true, n_found,
         |       round(CAST(n_found AS DOUBLE) / n_true, 6) AS recall
         |FROM $p, trc""".stripMargin
    }.mkString("\nUNION ALL\n")
    shared + per + "\n" + selects
  }

  /** Mirror of [[Similarity.randomProjection]]: component j as a DuckDB
    * select item — same planes, same √dimOut scale constant (rendered via
    * Double.toString, which round-trips exactly), same 6-dp round. */
  private def projectionSql(v: String, dimOut: Int, dimIn: Int): String = {
    val scale = java.lang.Double.toString(1.0 / math.sqrt(dimOut.toDouble))
    Similarity.rotationPlanes(dimOut, dimIn).map { p =>
      val lst = p.map(java.lang.Double.toString).mkString("[", ", ", "]")
      s"round(list_dot_product($v, $lst) * $scale, 6)"
    }.mkString("[", ",\n        ", "]")
  }

  val rows: Seq[Row] = Seq(
    // --- matryoshka truncation eval: recall@k of brute-force retrieval
    // on the FIRST 16 dims vs the full 64 — the "can we serve the cheap
    // prefix embedding" decision, measured with the shared recall kernel.
    // Both rankings are exact scores with id tie-breaks; deterministic ----
    Row("embed_matryoshka", (s, d) => {
      val e = Tables.embeddings(s, d).filter(size(col("embedding")) >= 64)
      val exact = Similarity.bruteForceTopK(e,
        e.filter(col("vec_id") < 30), "vec_id", "embedding", k = 5)
      val tr = e.select(col("vec_id"),
        slice(col("embedding"), 1, 16).as("embedding"))
      val approx = Similarity.bruteForceTopK(tr,
        tr.filter(col("vec_id") < 30), "vec_id", "embedding", k = 5)
      Similarity.recallAtK(exact, approx, k = 5)
        .select(col("query_id"), col("n_hits"), col("recall"))
    },
      // two exact rankings (full 64 dims vs the 16-dim prefix), the
      // shared recall join; normalize-after-slice matches the engine
      sweepSql(Seq(
      s"""ec AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |            FROM embeddings WHERE len(embedding) >= 64),
        |ef AS (SELECT vec_id,
        |         ${unitSql("v")} AS v
        |       FROM ec),
        |et0 AS (SELECT vec_id, v[1:16] AS v FROM ec),
        |et AS (SELECT vec_id,
        |         ${unitSql("v")} AS v
        |       FROM et0),
        |qt AS (SELECT vec_id AS query_id, v AS qv FROM et WHERE vec_id < 30),
        |xt AS (SELECT qt.query_id, et.vec_id AS neighbor_id,
        |              list_dot_product(qt.qv, et.v) AS score
        |       FROM et, qt WHERE et.vec_id <> qt.query_id)""".stripMargin,
        exactCosineLegSql("ef", "v", maxQueryId = 30, k = 5,
          materialized = false),
        rankedSql("apx", "xt", "score DESC", 5)), Seq(Leg("", "apx")))),

    // --- embedding-cosine near-dup pairs (rotated sign-LSH blocking) --------
    Row("embed_cosine_neardup", (s, d) =>
      Similarity.cosineNearDupPairs(Tables.embeddings(s, d),
        "vec_id", "embedding", threshold = 0.35, b = 2, dim = 64)
        .select("id_a", "id_b", "score"),
      (s"""WITH ec AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |            FROM embeddings),
         |e0 AS (
         |  SELECT vec_id, v,
         |         ${rotatedBucketSql("v", 2, 64)} AS bucket
         |  FROM ec),""".stripMargin + "\n" +
      s"""e AS (SELECT vec_id,
        |        ${unitSql("v")} AS v,
        |        bucket
        |      FROM e0)
        |SELECT id_a, id_b, score FROM (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |         round(list_dot_product(a.v, b.v), 6) AS score
        |  FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
        |WHERE score >= 0.35""".stripMargin)),

    // --- banded (OR-amplified) variant: the 100 TB shape — more bucket
    // bits (occupancy ∝ N/2^b) with independent bands restoring the
    // recall that extra bits alone would lose --------------------------------
    Row("embed_neardup_banded", (s, d) =>
      Similarity.cosineNearDupPairs(Tables.embeddings(s, d),
        "vec_id", "embedding", threshold = 0.35, b = 4, dim = 64,
        bands = 2)
        .select("id_a", "id_b", "score"),
      (s"""WITH ec AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |            FROM embeddings WHERE len(embedding) >= 64),
         |e0 AS (
         |  SELECT vec_id, v,
         |         ${rotatedBucketSql("v", 4, 64)} AS bk0,
         |         ${rotatedBucketSql("v", 4, 64, Similarity.DefaultSeed + 1)} AS bk1
         |  FROM ec),""".stripMargin + "\n" +
      s"""e AS (SELECT vec_id,
        |        ${unitSql("v")} AS v,
        |        bk0, bk1
        |      FROM e0)
        |SELECT id_a, id_b, score FROM (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |         round(list_dot_product(a.v, b.v), 6) AS score
        |  FROM e a JOIN e b
        |    ON a.vec_id < b.vec_id
        |   AND (a.bk0 = b.bk0 OR a.bk1 = b.bk1))
        |WHERE score >= 0.35""".stripMargin)),

    // --- near-dup BLOCKING sizing sweep: partner-recall of the
    // (b, bands) bucket family against a SAMPLED brute truth — the
    // measured curve behind "grow b ~log₂N with OR-amplifying bands"
    // (the r16 de-degenerate sf1 rehearsal showed the fixed-b cost
    // honestly: occupancy ∝ N²/2^b, so deployment grows b and buys the
    // recall back with bands; this row prices exactly that trade). The
    // truth leg is Θ(|S|·N), NOT Θ(N²): all-pairs ground truth is
    // uncomputable at any real scale, so truth = the exact near-dup
    // PARTNERS of a fixed query sample (vec_id < 200 — the
    // ann_recall_eval posture applied to pairs). Found ⊆ truth by
    // construction (the kernel thresholds on the same rounded score),
    // so recall = n_found/n_true exactly over the sampled pair
    // population.
    //
    // r17 plan fix (was the one full-occupancy plan on the board): the
    // kernel's membership test is PAIRWISE-LOCAL — a truth pair (q, x)
    // is found by leg (b, bands) iff its two RAW vectors share a
    // rotated sign-bucket in ANY band (identical vectors share every
    // bucket, so the kernel's exact-dup canonicalization and its
    // within-group self-score gate need no special casing: truth
    // already enforces the same rounded-score threshold). So each leg
    // evaluates that predicate directly ON the truth rows —
    // Θ(|truth|·bands) per leg — instead of running the full
    // cosineNearDupPairs kernel at N²/2^b occupancy and semi-joining
    // down to the sample (48 s of the sf1 board; ~100× that at sf10).
    // This is exactly the plan the DuckDB oracle has always used
    // ([[neardupSizingSql]]: per-vector buckets joined onto `tr`), so
    // engine and oracle now share one shape. guide §2.3/§2.4: the
    // decision needs only per-pair metadata already in hand — no
    // corpus-wide candidate join, no exchange at all per leg. ----------
    Row("embed_neardup_sizing", (s, d) => {
      val e = Tables.embeddings(s, d)
      // per-leg collision flags are computed INSIDE the brute pass (the
      // bucket hashes the RAW vector, exactly what cosineNearDupPairs
      // buckets), so the checkpointed truth row is (q, x, flag per leg)
      // — a few bytes per pair. Carrying the two 64-float vectors
      // through the checkpoint instead pinned ~1 GB of blocks at sf1.
      def legFlag(vq: Column, vx: Column, b: Int, bands: Int): Column =
        (0 until bands).map { j =>
          val cells = Signs(b, 64, Similarity.DefaultSeed + j)
          cells.home(vq) === cells.home(vx)
        }.reduce(_ || _)
      val nv = e.filter(size(col("embedding")) >= 64)
        .select(col("vec_id"), col("embedding").as("__v"),
          Similarity.normalize(col("embedding")).as("nv"))
      val qs = nv.filter(col("vec_id") < 200)
        .select(col("vec_id").as("q"), col("__v").as("__rvq"),
          col("nv").as("__vq"))
      val cs = nv.select(col("vec_id").as("x"), col("__v").as("__rvx"),
        col("nv").as("__vx"))
      val flagCols = neardupSizingSweep.zipWithIndex.map {
        case ((b, bands), i) =>
          legFlag(col("__rvq"), col("__rvx"), b, bands).as(s"__c$i")
      }
      val truth = broadcast(qs).join(cs, col("q") =!= col("x"))
        .filter(round(Similarity.dot(col("__vq"), col("__vx")), 6) >= 0.35)
        .select(col("q") +: col("x") +: flagCols: _*)
        .localCheckpoint() // one sampled brute pass serves every leg
      val nTrue = truth.agg(count(lit(1)).as("n_true"))
      neardupSizingSweep.zipWithIndex.map { case ((b, bands), i) =>
        truth.filter(col(s"__c$i"))
          .agg(count(lit(1)).as("n_found"))
          .crossJoin(nTrue)
          .select(lit(b.toLong).as("b"), lit(bands.toLong).as("bands"),
            col("n_true"), col("n_found"),
            // NULL on an empty sample, as SQL's 0/0
            when(col("n_true") > 0, round(
              col("n_found").cast("double") / col("n_true"), 6)).as("recall"))
      }.reduce(_ unionByName _)
    },
      // the blocking sizing sweep: brute pair truth + per-(b,bands)
      // collision counts (generator doc at neardupSizingSql)
      neardupSizingSql(neardupSizingSweep)),

    // --- deterministic k-means over embeddings ------------------------------
    // Lloyd's with dyadic quantization (exact centroid sums in any addition
    // order), lowest-id init, lowest-index argmin tie-break — the oracle
    // replays the identical two rounds in SQL.
    Row("embed_kmeans", (s, d) =>
      Clustering.kmeans(Tables.embeddings(s, d), "vec_id", "embedding",
        k = 8, iters = 2, dim = 64),
      (s"WITH ${kmeansCtes(8, 2, 64)}\n" +
        "SELECT vec_id, CAST(cluster AS BIGINT) AS cluster FROM a2")),

    // --- top principal direction by deterministic power iteration: the
    // anisotropy / whitening probe. Two unrolled matrix-vector rounds,
    // dyadic quantization end-to-end (the kmeans scheme), driver holds
    // 2×dim doubles --------------------------------------------------------
    Row("embed_pca", (s, d) =>
      Clustering.pcaTopComponent(Tables.embeddings(s, d), "embedding",
        dim = 64, iters = 2),
      // power iteration unrolled: per-row dots and u-sums are exact
      // dyadics (orderless SUM ≡ the engine's sequential folds); only
      // the normalization divisions and the final sqrt are IEEE ops on
      // identical operands. A round with nrm=0 (one row: the centered
      // matrix is zero) keeps the previous direction, as the engine does.
      (s"WITH ${pcaCtes(iters = 2, dim = 64)}\n" +
        """SELECT CAST(i - 1 AS BIGINT) AS pos, v AS component,
          |       round((SELECT nrm FROM n2), 6) AS eigenvalue
          |FROM v2""".stripMargin)),

    // --- per-item projection onto the trained top component: the
    // anisotropy score / rank-one whitening input; one extra scan --------
    Row("embed_pca_project", (s, d) =>
      Clustering.pcaProject(Tables.embeddings(s, d), "vec_id",
        "embedding", dim = 64, iters = 2),
      // same training CTEs + one projection pass; (x−mean)·v is an exact
      // dyadic sum, orderless ≡ the engine's fold
      (s"WITH ${pcaCtes(iters = 2, dim = 64)}\n" +
        """SELECT vec_id, round(SUM(xc * v), 6) AS projection
          |FROM xc JOIN v2 USING (i) GROUP BY vec_id""".stripMargin)),

    // --- top-3 principal directions by power iteration WITH DEFLATION:
    // after each component converges its rank-one projection is
    // subtracted (2⁻¹²-floored — exactness closed under deflation) and
    // the loop reruns; the oracle unrolls every round of every component --
    Row("embed_pca_k", (s, d) =>
      Clustering.pcaComponents(Tables.embeddings(s, d), "embedding",
        dim = 64, nComponents = 3, iters = 2),
      // deflated power iteration unrolled component-for-component and
      // round-for-round; the deflation subtraction is 2⁻¹²-floored on
      // both sides, so exactness is closed under deflation
      (s"WITH ${pcaDeflateCtes(nComp = 3, iters = 2, dim = 64)}\n" +
        (1 to 3).map(c =>
          s"""SELECT CAST($c AS BIGINT) AS comp,
             |       CAST(i - 1 AS BIGINT) AS pos, v AS component,
             |       round((SELECT nrm FROM n${c}_2), 6) AS eigenvalue
             |FROM v${c}_2""".stripMargin).mkString("\nUNION ALL\n"))),

    // --- PCA whitening: (x−μ)·v_c / √λ_c over the top-3 deflated
    // components — decorrelates the dominant axes so cosine stops being
    // hijacked by the corpus' top principal direction. Training = the
    // pca_k loop; serving = one map-only literal projection ---------------
    Row("embed_whiten", (s, d) =>
      Clustering.whiten(Tables.embeddings(s, d), "vec_id", "embedding",
        dim = 64, nComponents = 3, iters = 2),
      // the deflated-component CTEs verbatim; every coordinate projects
      // the ORIGINAL centered frame xc1 (deflation trains components,
      // whitening serves from x−μ), scaled by 1/sqrt(round(nrm, 6)) —
      // one IEEE sqrt+divide on identical inputs, engine-exact
      (s"WITH ${pcaDeflateCtes(nComp = 3, iters = 2, dim = 64)},\n" +
        (1 to 3).map(c =>
          s"""wh$c AS (SELECT vec_id,
             |  CASE WHEN round((SELECT nrm FROM n${c}_2), 6) > 0 THEN
             |    round(SUM(xc * v)
             |          * (1.0 / sqrt(round((SELECT nrm FROM n${c}_2),
             |                              6))), 6)
             |  END AS w$c
             |  FROM xc1 JOIN v${c}_2 USING (i)
             |  GROUP BY vec_id)""".stripMargin).mkString(",\n") +
        """
          |SELECT wh1.vec_id, wh1.w1, wh2.w2, wh3.w3
          |FROM wh1 JOIN wh2 USING (vec_id)
          |         JOIN wh3 USING (vec_id)""".stripMargin)),

    // --- per-label centroid drift: distribution-shift / redundancy monitor --
    Row("embed_source_drift", (s, d) =>
      Clustering.centroidDrift(Tables.embeddings(s, d), "label",
        "embedding", dim = 64),
      // dyadic-quantized component sums (exact in any order) → one
      // correctly-rounded division per centroid component → the shared
      // sequential-fold dot for the cosine; mirrors Clustering.centroidDrift
      """WITH e AS (
        |  SELECT label,
        |         list_transform(CAST(embedding AS DOUBLE[]),
        |           x -> floor(x * 1048576.0) / 1048576.0) AS v
        |  FROM embeddings WHERE len(embedding) = 64),
        |x AS (SELECT label, i, v[i] AS c
        |      FROM (SELECT label, v,
        |                   unnest(generate_series(1, len(v))) AS i
        |            FROM e)),
        |s AS (SELECT label, i, sum(c) AS sc, count(*) AS n
        |      FROM x GROUP BY 1, 2),
        |cent AS (SELECT label, list(sc / n ORDER BY i) AS cv,
        |                min(n) AS n
        |         FROM s GROUP BY 1)
        |SELECT a.label AS label_a, b.label AS label_b,
        |       CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b,
        |       CASE WHEN sqrt(list_dot_product(a.cv, a.cv)) *
        |                 sqrt(list_dot_product(b.cv, b.cv)) != 0
        |            THEN round(list_dot_product(a.cv, b.cv) /
        |                 (sqrt(list_dot_product(a.cv, a.cv)) *
        |                  sqrt(list_dot_product(b.cv, b.cv))), 6)
        |       END AS cos_sim
        |FROM cent a JOIN cent b ON a.label < b.label""".stripMargin),

    // --- per-cluster farthest-from-centroid outliers ------------------------
    // The curation review queue: exact squared distance to the assigned
    // centroid (same fold as the assignment itself), top-3 per cluster.
    Row("embed_outliers", (s, d) =>
      Clustering.farthestPerCluster(Tables.embeddings(s, d), "vec_id",
        "embedding", k = 8, iters = 2, dim = 64, perCluster = 3),
      // same two Lloyd rounds; the final assignment re-derived from s2 so
      // the chosen score s rides along, d2 = s + w·w (addition commutes,
      // both terms are the shared sequential-fold dot)
      (s"WITH ${kmeansCtes(8, 2, 64)},\n" +
        """f AS (SELECT vec_id, w, j AS cluster, s FROM (
          |       SELECT *, row_number() OVER (PARTITION BY vec_id
          |                                    ORDER BY s, j) AS rn
          |       FROM s2) WHERE rn = 1)
          |SELECT CAST(cluster AS BIGINT) AS cluster, rank, vec_id, d2
          |FROM (
          |  SELECT cluster, vec_id,
          |         round(s + list_dot_product(w, w), 6) AS d2,
          |         CAST(row_number() OVER (PARTITION BY cluster
          |              ORDER BY round(s + list_dot_product(w, w), 6) DESC,
          |                       vec_id) AS BIGINT) AS rank
          |  FROM f) WHERE rank <= 3""".stripMargin)),

    // --- centroid-based silhouette per vector: the "is k right" quality
    // diagnostic over the same kmeans state — a = own-centroid distance,
    // b = nearest-other-centroid distance, sil = (b−a)/max(a,b); one
    // map-only pass, the corpus never shuffles ---------------------------
    Row("cluster_silhouette", (s, d) =>
      Clustering.silhouette(Tables.embeddings(s, d), "vec_id",
        "embedding", k = 8, iters = 2, dim = 64),
      // centroid silhouette over the same unrolled kmeans state: both
      // distances derive from the raw per-centroid score rows (min
      // commutes with the constant +w·w addition — IEEE rounding is
      // monotone), the "other" leg excludes the ASSIGNED index, sqrt +
      // one division on identical operands
      (s"WITH ${kmeansCtes(8, 2, 64)},\n" +
        """ww AS (SELECT vec_id, list_dot_product(w, w) AS ww FROM wq),
          |mn AS (SELECT vec_id, min(s) AS smin FROM s2 GROUP BY 1),
          |oth AS (SELECT s2.vec_id, min(s2.s) AS sother
          |        FROM s2 JOIN a2 ON a2.vec_id = s2.vec_id
          |        WHERE s2.j <> a2.cluster GROUP BY 1),
          |fin AS (SELECT a2.vec_id, a2.cluster,
          |          sqrt(greatest(ww.ww + mn.smin, 0.0)) AS sa,
          |          sqrt(greatest(ww.ww + oth.sother, 0.0)) AS sb
          |        FROM a2 JOIN ww ON ww.vec_id = a2.vec_id
          |          JOIN mn ON mn.vec_id = a2.vec_id
          |          JOIN oth ON oth.vec_id = a2.vec_id)
          |SELECT vec_id, CAST(cluster AS BIGINT) AS cluster,
          |       CASE WHEN greatest(sa, sb) = 0 THEN 0.0
          |            ELSE round((sb - sa) / greatest(sa, sb), 6)
          |       END AS sil
          |FROM fin""".stripMargin)),

    // --- SemDeDup: cluster-then-prune semantic dedup -------------------------
    // Within each k-means cluster, drop vectors with a lower-id cosine>=τ
    // neighbor; output the kept rows. The clustering bounds the pair join,
    // and the hot-cluster cap (maxPairSide) bounds it LINEARLY: clusters
    // past 128 members split into id-mod sub-buckets before pairing, so
    // candidate pairs stay ≤ N·128/2 at any corpus size (fixed k would
    // otherwise grow cluster size — and pairs quadratically — with N).
    Row("semdedup", (s, d) =>
      Clustering.semdedup(Tables.embeddings(s, d), "vec_id", "embedding",
        k = 8, iters = 2, dim = 64, threshold = 0.35, maxPairSide = 128),
      // hot-cluster cap mirrored: clusters past 128 members split into
      // ceil(size/128) sub-buckets keyed by the 52-bit md5 uniform of the
      // id (the shared hash discipline); pairs score only within a
      // (cluster, sub) — `%` on the non-negative 52-bit uniform ≡ pmod
      (s"WITH ${kmeansCtes(8, 2, 64)},\n" +
        s"""nv AS (SELECT e.vec_id, a2.cluster,
          |        ${unitSql("v")} AS nv
          |      FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          |            FROM embeddings WHERE len(embedding) = 64) e
          |      JOIN a2 ON a2.vec_id = e.vec_id),
          |sz AS (SELECT cluster,
          |              CAST(ceil(count(*) / 128.0) AS BIGINT) AS nsub
          |       FROM nv GROUP BY 1),
          |ns AS (SELECT nv.vec_id, nv.cluster, nv.nv,
          |              (('0x' || substr(md5(CAST(nv.vec_id AS VARCHAR)),
          |                               1, 13))::BIGINT) % sz.nsub AS sub
          |       FROM nv JOIN sz USING (cluster)),
          |dom AS (SELECT DISTINCT b.vec_id
          |       FROM ns a JOIN ns b
          |         ON a.cluster = b.cluster AND a.sub = b.sub
          |        AND a.vec_id < b.vec_id
          |       WHERE round(list_dot_product(a.nv, b.nv), 6) >= 0.35)
          |SELECT vec_id, CAST(cluster AS BIGINT) AS cluster FROM nv
          |WHERE vec_id NOT IN (SELECT vec_id FROM dom)""".stripMargin)),

    // --- corpus vector hygiene: one-row report a pipeline runs before
    // ANN/clustering (dim mismatches, zero vectors, norm distribution) ---
    Row("embed_stats", (s, d) => {
      val v = col("embedding")
      val ok = size(v) === 64
      val norm6 = when(ok, round(sqrt(graft.functions.VectorOps.dot(v, v)), 6)
        .cast("decimal(18,6)"))
      Tables.embeddings(s, d).agg(
        count(lit(1)).as("n_vectors"),
        sum(when(!ok, 1L).otherwise(0L)).as("n_wrong_dim"),
        sum(when(norm6 === 0, 1L).otherwise(0L)).as("n_zero"),
        round(sum(norm6).cast("double") / count(norm6).cast("double"), 6)
          .as("norm_avg"),
        min(norm6).cast("double").as("norm_min"),
        max(norm6).cast("double").as("norm_max"))
    },
      // per-row 6-dp norm fixed as decimal, then exact aggregates — the
      // one division and final casts are correctly-rounded identical ops
      """WITH e AS (
        |  SELECT CAST(embedding AS DOUBLE[]) AS v,
        |         len(embedding) AS d
        |  FROM embeddings),
        |n AS (
        |  SELECT d, CASE WHEN d = 64 THEN
        |           CAST(round(sqrt(list_dot_product(v, v)), 6)
        |                AS DECIMAL(18,6)) END AS norm6
        |  FROM e)
        |SELECT count(*) AS n_vectors,
        |       CAST(sum(CASE WHEN d != 64 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_wrong_dim,
        |       CAST(sum(CASE WHEN norm6 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_zero,
        |       round(CAST(sum(norm6) AS DOUBLE)
        |             / CAST(count(norm6) AS DOUBLE), 6) AS norm_avg,
        |       CAST(min(norm6) AS DOUBLE) AS norm_min,
        |       CAST(max(norm6) AS DOUBLE) AS norm_max
        |FROM n""".stripMargin),

    // --- JL random projection 64→8: the cheap dim reduction before
    // clustering/ANN (map-side dot products against literal planes) ------
    // The API returns ARRAY<double>; the verification entry posexplodes it
    // to (vec_id, pos, component) scalar rows so the cross-engine hash
    // gate can canonicalize the result (array cells are unsortable there).
    Row("embed_project", (s, d) =>
      Similarity.randomProjection(Tables.embeddings(s, d),
        "vec_id", "embedding", dimIn = 64, dimOut = 8)
        .select(col("vec_id"), posexplode(col("projected")))
        .select(col("vec_id"), col("pos").cast("long").as("pos"),
          col("col").as("component")),
      (s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |           FROM embeddings WHERE len(embedding) >= 64),
         |p AS (SELECT vec_id,
         |       ${projectionSql("v", 8, 64)} AS projected
         |FROM e)
         |SELECT vec_id,
         |       generate_subscripts(projected, 1) - 1 AS pos,
         |       unnest(projected) AS component
         |FROM p""".stripMargin)),

    // --- int8 embedding quantization fidelity report -----------------------
    // Map-side only: per-vector scale + mean squared reconstruction error.
    Row("embed_quantize", (s, d) =>
      Quantize.int8Stats(Tables.embeddings(s, d), "embedding", "vec_id"),
      // the quantized grid mirrors Quantize.int8Codes: q = clamp(round(
      // x·127/amax)); dequantized q·(amax/127); both engines round
      // half-away-from-zero on identical doubles, and the error fold runs
      // in array order in both.
      """WITH e AS (
        |  SELECT vec_id, embedding,
        |         CAST(len(embedding) AS INT) AS n_dims,
        |         list_max(list_transform(embedding,
        |           x -> abs(CAST(x AS DOUBLE)))) AS amax
        |  FROM embeddings),
        |d AS (
        |  SELECT vec_id, n_dims, amax,
        |         list_transform(embedding, x ->
        |           CAST(x AS DOUBLE)
        |           - greatest(-127.0, least(127.0,
        |               round(CAST(x AS DOUBLE) * 127.0 / amax)))
        |             * (amax / 127.0)) AS diffs
        |  FROM e)
        |SELECT vec_id, n_dims, round(amax, 6) AS amax,
        |       CASE WHEN amax IS NULL OR amax = 0 THEN 0.0
        |            ELSE round(list_aggregate(
        |                   list_transform(diffs, y -> y * y), 'sum')
        |                 / n_dims, 12) END AS mse
        |FROM d""".stripMargin)
  )
}
