package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.llm.{Dedup, Similarity}

/** The corpus kNN graph and the operators over it: PageRank, HITS,
  * k-core, triangles, label propagation and graph search. */
object GraphRows {
  import PipelineQueries._
  import Shared._

  /** Occupancy-sized bucket bits for the corpus-vs-itself kNN graph:
    * the smallest b ≥ 4 with 2^b · 32 ≥ n (≈ 32 nodes per bucket), per
    * SCALE.md's b ~ log₂N sizing rule — per-bucket occupancy, and so the
    * candidate join, stays CONSTANT as the corpus grows instead of
    * linear. At the oracle-gated SF (500 vectors) this is exactly the
    * documented b = 4, so the static knn oracles stay valid; costs one
    * cheap count. */
  private def knnBucketBits(e: org.apache.spark.sql.DataFrame): Int = {
    val n = math.max(1L, e.count())
    var b = 4
    while ((1L << b) * 32 < n && b < 24) b += 1
    b
  }

  /** The corpus kNN graph — every graph-family query's substrate. r16
    * measured FOURTEEN queries (knn_graph, knn_graph_mutual,
    * ann_graph_search/recall, graph_pagerank[_weighted], graph_ppr,
    * graph_hits, graph_triangles, graph_adamic, graph_kcore[_cert],
    * graph_degree, graph_labelprop) each rebuilding the IDENTICAL
    * (k=3, b=knnBucketBits, dim=64, bands=2) edge frame at ~0.7–1.3 s a
    * time — ~10 s of pure recomputation per bench pass. Memoize the
    * localCheckpointed frame per (session, dir), the
    * [[sharedLshPairs]] economics: the first consumer pays the bucket
    * join, the rest read the materialized (|V|·k-row) edge frame. The
    * graph is deterministic, so every consumer sees bit-identical
    * edges; clearCaches keeps bench passes honest. (graph_components
    * builds its own copy inside a child session scoped to 8 shuffle
    * partitions — a frame checkpointed under the parent session's plan
    * would drag its 32-partition rounds back in.) */
  private def sharedKnnGraph(s: SparkSession, d: String): DataFrame =
    memo("knnGraph", s, d) {
      val e = Tables.embeddings(s, d)
      // size the buckets on the frame knnGraph actually buckets — the
      // size >= 64 survivors (r17 advice: the unfiltered count could
      // straddle a 32·2^b boundary at a larger SF and silently shift b
      // for every consumer; at the oracle-gated SFs both counts give
      // the documented b = 4)
      Similarity.knnGraph(e, "vec_id", "embedding",
        k = 3, b = knnBucketBits(e.filter(size(col("embedding")) >= 64)),
        dim = 64, bands = 2).localCheckpoint()
    }

  /** The knn_graph oracle's CTE chain up to `g(src, dst, score, rank)`
    * (the rank≤3 directed edge set) — shared by every graph oracle. */
  private def knnEdgeCtes: String =
    s"""ec AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |            FROM embeddings WHERE len(embedding) >= 64),
       |e0 AS (
       |  SELECT vec_id, v,
       |         ${rotatedBucketSql("v", 4, 64)} AS bk0,
       |         ${rotatedBucketSql("v", 4, 64, Similarity.DefaultSeed + 1)} AS bk1
       |  FROM ec),""".stripMargin + "\n" +
      s"""e AS (SELECT vec_id,
        |        ${unitSql("v")} AS nv,
        |        bk0, bk1
        |      FROM e0),
        |s AS (SELECT a.vec_id AS src, b.vec_id AS dst,
        |             list_dot_product(a.nv, b.nv) AS score
        |      FROM e a JOIN e b
        |        ON a.vec_id <> b.vec_id
        |       AND (a.bk0 = b.bk0 OR a.bk1 = b.bk1)),
        |g AS (SELECT * FROM (
        |  SELECT src, dst, score,
        |         row_number() OVER (PARTITION BY src
        |                            ORDER BY score DESC, dst) AS rank
        |  FROM s) WHERE rank <= 3)""".stripMargin

  /** graph_kcore's peel chain over [[knnEdgeCtes]]'s `g`: mutual
    * canonical edges `mg`, then 3 unrolled peel rounds (degree
    * aggregate → keep ≥ 2 → restrict edges) ending at `e3` —
    * MATERIALIZED per round so DuckDB never re-executes the upstream
    * LSH join through the unroll. Shared by the graph_kcore membership
    * oracle and the graph_kcore_cert convergence-certificate oracle. */
  private val kcorePeelCtes =
    """mg AS MATERIALIZED (
      |       SELECT a.src AS a, a.dst AS b
      |       FROM g a JOIN g b ON a.src = b.dst AND a.dst = b.src
      |       WHERE a.src < a.dst),
      |k1 AS MATERIALIZED (
      |       SELECT id FROM (SELECT id, count(*) AS deg FROM (
      |         SELECT a AS id FROM mg UNION ALL SELECT b FROM mg)
      |         GROUP BY 1) WHERE deg >= 2),
      |e1 AS MATERIALIZED (
      |       SELECT mg.a, mg.b FROM mg
      |       JOIN k1 x ON x.id = mg.a JOIN k1 y ON y.id = mg.b),
      |k2 AS MATERIALIZED (
      |       SELECT id FROM (SELECT id, count(*) AS deg FROM (
      |         SELECT a AS id FROM e1 UNION ALL SELECT b FROM e1)
      |         GROUP BY 1) WHERE deg >= 2),
      |e2 AS MATERIALIZED (
      |       SELECT e1.a, e1.b FROM e1
      |       JOIN k2 x ON x.id = e1.a JOIN k2 y ON y.id = e1.b),
      |k3 AS MATERIALIZED (
      |       SELECT id FROM (SELECT id, count(*) AS deg FROM (
      |         SELECT a AS id FROM e2 UNION ALL SELECT b FROM e2)
      |         GROUP BY 1) WHERE deg >= 2),
      |e3 AS MATERIALIZED (
      |       SELECT e2.a, e2.b FROM e2
      |       JOIN k3 x ON x.id = e2.a JOIN k3 y ON y.id = e2.b)""".stripMargin

  /** The fixed-point PageRank iterations as unrolled CTEs p0..p`iters`,
    * mirroring [[graft.operators.Graph.pagerank]]'s integer arithmetic
    * exactly (`//` floors like Spark's `div` truncates — all masses are
    * non-negative). Expects CTEs `g` (edges) and `nodes(id)` upstream. */
  private def pagerankCtes(iters: Int, dampPct: Int, scale: Long): String = {
    val base = s"($scale // (SELECT n FROM nn))"
    val steps = (1 to iters).map { k =>
      s"""p$k AS (SELECT nd.id,
         |  (${100 - dampPct} * $base + $dampPct * COALESCE(im.inm, 0)) // 100 AS pr
         |  FROM nodes nd LEFT JOIN (
         |    SELECT ge.dst AS id, SUM(pp.pr // dg.deg) AS inm
         |    FROM g ge JOIN p${k - 1} pp ON ge.src = pp.id
         |    JOIN deg dg ON ge.src = dg.src
         |    GROUP BY ge.dst) im USING (id))""".stripMargin
    }
    (s"""deg AS (SELECT src, count(*) AS deg FROM g GROUP BY 1),
       |nn AS (SELECT count(*) AS n FROM nodes),
       |p0 AS (SELECT id, $base AS pr FROM nodes)""".stripMargin +:
      steps).mkString(",\n")
  }

  /** [[pagerankCtes]] with weighted mass splitting, mirroring
    * [[graft.operators.Graph.pagerankWeighted]]: per edge the
    * contribution is `(pr · w) // Σw_src` — still all-integer, `//`
    * floors ≡ Spark's `div` on the non-negative masses. Expects CTEs
    * `gw` (src, dst, w > 0) and `nodes(id)` upstream. */
  private def pagerankWeightedCtes(iters: Int, dampPct: Int,
                                   scale: Long): String = {
    val base = s"($scale // (SELECT n FROM nn))"
    val steps = (1 to iters).map { k =>
      s"""p$k AS (SELECT nd.id,
         |  (${100 - dampPct} * $base + $dampPct * COALESCE(im.inm, 0)) // 100 AS pr
         |  FROM nodes nd LEFT JOIN (
         |    SELECT ge.dst AS id, SUM((pp.pr * ge.w) // wg.wsum) AS inm
         |    FROM gw ge JOIN p${k - 1} pp ON ge.src = pp.id
         |    JOIN wsum wg ON ge.src = wg.src
         |    GROUP BY ge.dst) im USING (id))""".stripMargin
    }
    (s"""wsum AS (SELECT src, SUM(w) AS wsum FROM gw GROUP BY 1),
       |nn AS (SELECT count(*) AS n FROM nodes),
       |p0 AS (SELECT id, $base AS pr FROM nodes)""".stripMargin +:
      steps).mkString(",\n")
  }

  /** The unrolled HITS half-steps mirroring [[graft.operators.Graph.hits]]
    * exactly: per iteration an in-sum of hub mass, an L1 renormalization
    * `(raw · scale) // Σraw` (all-integer — `//` floors like Spark's
    * `div` on the non-negative masses, DuckDB's HUGEINT sums are
    * numerically identical), then the mirrored out-sum of authority
    * mass. Expects CTEs `g` (directed edges) and `nodes(id)` upstream;
    * produces a`iters` (id, auth) and h`iters` (id, hub). */
  private def hitsCtes(iters: Int, scale: Long): String = {
    // AS MATERIALIZED throughout: each half-step references its
    // predecessor 2-3 times, and letting DuckDB inline the chain
    // re-executes the upstream LSH edge join exponentially in `iters`
    val steps = (1 to iters).map { k =>
      s"""araw$k AS MATERIALIZED (
         |  SELECT ge.dst AS id, SUM(hh.hub) AS raw
         |  FROM gm ge JOIN h${k - 1} hh ON ge.src = hh.id GROUP BY 1),
         |atot$k AS MATERIALIZED (
         |  SELECT COALESCE(SUM(raw), 0) AS t FROM araw$k),
         |a$k AS MATERIALIZED (
         |  SELECT nd.id,
         |  CASE WHEN tt.t = 0 THEN 0
         |       ELSE (COALESCE(ar.raw, 0) * $scale) // tt.t END AS auth
         |  FROM nodes nd LEFT JOIN araw$k ar USING (id)
         |  CROSS JOIN atot$k tt),
         |hraw$k AS MATERIALIZED (
         |  SELECT ge.src AS id, SUM(aa.auth) AS raw
         |  FROM gm ge JOIN a$k aa ON ge.dst = aa.id GROUP BY 1),
         |htot$k AS MATERIALIZED (
         |  SELECT COALESCE(SUM(raw), 0) AS t FROM hraw$k),
         |h$k AS MATERIALIZED (
         |  SELECT nd.id,
         |  CASE WHEN tt.t = 0 THEN 0
         |       ELSE (COALESCE(hr.raw, 0) * $scale) // tt.t END AS hub
         |  FROM nodes nd LEFT JOIN hraw$k hr USING (id)
         |  CROSS JOIN htot$k tt)""".stripMargin
    }
    (s"""gm AS MATERIALIZED (SELECT src, dst FROM g),
       |nn AS (SELECT count(*) AS n FROM nodes),
       |h0 AS MATERIALIZED (
       |  SELECT id, ($scale // (SELECT n FROM nn)) AS hub
       |  FROM nodes)""".stripMargin +: steps).mkString(",\n")
  }

  /** The unrolled graph-search hops mirroring
    * [[Similarity.graphSearchTopK]]: shared entry, NOT-EXISTS visited
    * dedup, beam re-rank per hop. Expects [[knnEdgeCtes]]'s `ec`/`e`/`g`
    * upstream; produces `q`, v0..v`hops`, f0..f`hops`. */
  private def graphSearchCtes(beam: Int, hops: Int,
                              nQueries: Int): String = {
    val head =
      s"""q AS (SELECT vec_id AS query_id, nv AS qv FROM e
         |      WHERE vec_id < $nQueries),
         |ent AS (SELECT min(vec_id) AS id FROM ec),
         |v0 AS MATERIALIZED (
         |  SELECT q.query_id, (SELECT id FROM ent) AS id,
         |         list_dot_product(en.nv, q.qv) AS score
         |  FROM q JOIN e en ON en.vec_id = (SELECT id FROM ent)),
         |f0 AS (SELECT query_id, id FROM v0)""".stripMargin
    (head +: graphSearchHops(beam, hops)).mkString(",\n")
  }

  /** The shared hop-unrolled expand-score-rerank CTEs c/s/v/f 1..hops —
    * the walk body of [[graphSearchCtes]] and
    * [[graphSearchSeededCtes]]. */
  private def graphSearchHops(beam: Int, hops: Int): Seq[String] =
    (1 to hops).map { h =>
      s"""c$h AS (SELECT DISTINCT f.query_id, g.dst AS id
         |  FROM f${h - 1} f JOIN g ON g.src = f.id
         |  WHERE NOT EXISTS (SELECT 1 FROM v${h - 1} vv
         |                    WHERE vv.query_id = f.query_id
         |                      AND vv.id = g.dst)),
         |s$h AS (SELECT c.query_id, c.id,
         |          list_dot_product(en.nv, q.qv) AS score
         |        FROM c$h c JOIN e en ON en.vec_id = c.id
         |        JOIN q ON q.query_id = c.query_id),
         |v$h AS MATERIALIZED (
         |  SELECT * FROM v${h - 1} UNION ALL SELECT * FROM s$h),
         |f$h AS (SELECT query_id, neighbor_id AS id FROM (${slateSql(
             s"(SELECT query_id, id AS neighbor_id, score FROM v$h)",
             "score DESC", beam)}))""".stripMargin
    }

  /** The walk's result after `hops` hops: every visited node but the
    * query itself, as a (query_id, neighbor_id, score) slate source. */
  private def walkResultSql(hops: Int): String =
    s"(SELECT query_id, id AS neighbor_id, score FROM v$hops " +
      "WHERE id <> query_id)"

  /** [[graphSearchCtes]] with PER-QUERY entries seeded from the axis-cell
    * coarse quantizer, mirroring
    * [[graft.llm.Similarity.graphSearchTopKSeeded]] at m = 4: the cell
    * derivation is the ann_ivf_topk CASE chain over the raw vectors, the
    * entry is the cell's lowest corpus id (global lowest id when the
    * cell is empty). */
  private def graphSearchSeededCtes(beam: Int, hops: Int,
                                    nQueries: Int): String = {
    val head =
      s"""q AS (SELECT vec_id AS query_id, nv AS qv FROM e
         |      WHERE vec_id < $nQueries),
         |x0c AS (SELECT vec_id, v, abs(v[1]) AS a0, abs(v[2]) AS a1,
         |               abs(v[3]) AS a2, abs(v[4]) AS a3
         |        FROM ec),
         |wcc AS (SELECT vec_id, v,
         |          CASE WHEN a0 >= a1 AND a0 >= a2 AND a0 >= a3 THEN 0
         |               WHEN a1 >= a2 AND a1 >= a3 THEN 1
         |               WHEN a2 >= a3 THEN 2 ELSE 3 END AS win
         |        FROM x0c),
         |cellc AS (SELECT vec_id,
         |            2 * win + CASE WHEN v[win + 1] >= 0 THEN 1 ELSE 0 END
         |              AS cell
         |          FROM wcc),
         |rep AS (SELECT cell, min(vec_id) AS id FROM cellc GROUP BY 1),
         |qe AS (SELECT c.vec_id AS query_id,
         |              COALESCE(r.id, (SELECT min(vec_id) FROM ec)) AS id
         |       FROM cellc c LEFT JOIN rep r USING (cell)
         |       WHERE c.vec_id < $nQueries),
         |v0 AS MATERIALIZED (
         |  SELECT q.query_id, qe.id, list_dot_product(en.nv, q.qv) AS score
         |  FROM q JOIN qe USING (query_id) JOIN e en ON en.vec_id = qe.id),
         |f0 AS (SELECT query_id, id FROM v0)""".stripMargin
    (head +: graphSearchHops(beam, hops)).mkString(",\n")
  }

  /** The unrolled label-propagation rounds l0..l`iters` mirroring
    * [[graft.operators.Graph.labelPropagate]] (clamped seeds, majority
    * vote, smallest-label tie break, keep-previous fallback). Expects
    * CTEs `sym` (symmetrized edges), `nodes(id)` and `seeds(id, seed)`
    * upstream. */
  private def labelPropCtes(iters: Int): String = {
    val l0 = """l0 AS (SELECT n.id, s.seed AS label
               |       FROM nodes n LEFT JOIN seeds s USING (id))""".stripMargin
    val steps = (1 to iters).map { k =>
      s"""v$k AS (SELECT e.dst AS id, p.label, count(*) AS c
         |  FROM sym e JOIN l${k - 1} p ON e.src = p.id
         |  WHERE p.label IS NOT NULL GROUP BY 1, 2),
         |pk$k AS (SELECT id, label AS vote FROM (
         |  SELECT id, label, row_number() OVER (PARTITION BY id
         |           ORDER BY c DESC, label) AS rn FROM v$k) WHERE rn = 1),
         |l$k AS (SELECT n.id, COALESCE(s.seed, p.vote, prev.label) AS label
         |  FROM nodes n LEFT JOIN seeds s USING (id)
         |  LEFT JOIN pk$k p USING (id)
         |  LEFT JOIN l${k - 1} prev USING (id))""".stripMargin
    }
    (l0 +: steps).mkString(",\n")
  }

  val rows: Seq[Row] = Seq(
    // --- kNN GRAPH: every node's top-k neighbors among its LSH
    // candidates — the corpus-vs-itself sibling of ann_sign_lsh (shuffle
    // hash join on (band, bucket), nothing broadcasts); the substrate
    // for graph-based curation ----------------------------------------------
    Row("knn_graph", (s, d) => {
      val e = Tables.embeddings(s, d)
      sharedKnnGraph(s, d)
        .select("src", "rank", "dst", "score")
    },
      // the banded-OR join emits one row per colliding pair (SQL join
      // semantics — no dedup needed, unlike the Spark side's per-band
      // explode); rank on the unrounded score, round only in the output
      (s"WITH $knnEdgeCtes\n" +
        """SELECT src, CAST(rank AS BIGINT) AS rank, dst,
          |       round(score, 6) AS score
          |FROM g""".stripMargin)),

    // --- mutual-kNN edges: pairs ranking EACH OTHER top-k — the standard
    // sparsifier before clustering the graph (hub nodes drop out) ---------
    Row("knn_graph_mutual", (s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.mutualKnnEdges(sharedKnnGraph(s, d))
        .select("id_a", "id_b", "score")
    },
      // knn_graph's CTEs + the mutuality self-join on the rank-truncated
      // edge set
      (s"WITH $knnEdgeCtes\n" +
        """SELECT a.src AS id_a, a.dst AS id_b, round(a.score, 6) AS score
          |FROM g a JOIN g b ON a.src = b.dst AND a.dst = b.src
          |WHERE a.src < a.dst""".stripMargin)),

    // --- greedy best-first graph ANN search: the HNSW-family serving
    // walk, batched — shared lowest-id entry, beam-ranked expansion of
    // unvisited out-neighbors, hop-unrolled oracle ---------------------------
    Row("ann_graph_search", (s, d) => {
      val e = Tables.embeddings(s, d)
      val edges = sharedKnnGraph(s, d).select("src", "dst")
      Similarity.graphSearchTopK(e, "vec_id", "embedding",
        e.filter(col("vec_id") < 10), edges, k = 5, beam = 8, hops = 3,
        dim = 64)
    },
      // knn edge CTEs + the hop-unrolled greedy walk
      (s"WITH $knnEdgeCtes,\n" +
        graphSearchCtes(beam = 8, hops = 3, nQueries = 10) + "\n" +
        topKSql(walkResultSql(3), "score DESC", 5,
          ", round(score, 6) AS score"))),

    // --- recall@5 of the IVF-SEEDED graph walk vs the exact baseline:
    // each query enters the graph at the lowest-id corpus vector of its
    // own axis cell (global lowest id if the cell is empty), so the same
    // beam×hops budget expands inside the query's coarse neighborhood ------
    Row("ann_graph_recall", (s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") < 10)
      val edges = sharedKnnGraph(s, d).select("src", "dst")
      val exact = Similarity.bruteForceTopK(e, q, "vec_id", "embedding",
        k = 5)
      val approx = Similarity.graphSearchTopKSeeded(e, "vec_id",
        "embedding", q, edges, k = 5, beam = 8, hops = 3, dim = 64, m = 4)
      Similarity.recallAtK(exact, approx, k = 5)
        .select(col("query_id"), col("n_hits"), col("recall"))
    },
      // the seeded walk's hop unroll + the shared recall idiom: exact =
      // brute-force cosine over the normalized corpus, approx = v3's
      // top-5, denominator the actual exact-result size
      sweepSql(Seq(knnEdgeCtes,
        graphSearchSeededCtes(beam = 8, hops = 3, nQueries = 10),
        rankedSql("apx", walkResultSql(3), "score DESC", 5),
        exactCosineLegSql("e", "nv", maxQueryId = 10, k = 5,
          materialized = false)), Seq(Leg("", "apx")))),

    // --- fixed-point PageRank over the kNN graph: the graph-centrality
    // curation signal (dense-neighborhood = over-represented content).
    // All-integer rank masses → bit-exact oracle replay; per iteration
    // one edge join + one hash aggregate, nothing collected ------------------
    Row("graph_pagerank", (s, d) => {
      val e = Tables.embeddings(s, d)
      val edges = sharedKnnGraph(s, d).select("src", "dst")
      val nodes = e.filter(size(col("embedding")) >= 64).select("vec_id")
      graft.operators.Graph.pagerank(nodes, edges, "vec_id", iters = 3)
    },
      // knn_graph's edge CTEs + the unrolled integer PageRank iterations;
      // every mass op is floor-division on non-negative ints, so `//`
      // replays Spark's `div` bit-exactly (SUM promotes to HUGEINT in
      // DuckDB — numerically identical, cast back at the end)
      (s"WITH $knnEdgeCtes,\n" +
        "nodes AS (SELECT vec_id AS id FROM ec),\n" +
        pagerankCtes(iters = 3, dampPct = 85, scale = 1000000000000L) +
        """
          |SELECT id AS vec_id, CAST(pr AS BIGINT) AS pr_fp,
          |       CAST(pr // 1000000 AS BIGINT) AS pr_ppm
          |FROM p3""".stripMargin)),

    // --- WEIGHTED PageRank over the scored kNN edges: rank mass splits
    // ∝ integer-scaled similarity (round(score·10⁶)) instead of
    // uniformly — centrality weighted by how similar the neighborhood
    // is; same all-integer masses, bit-exact unrolled oracle ----------------
    Row("graph_pagerank_weighted", (s, d) => {
      val e = Tables.embeddings(s, d)
      val edges = sharedKnnGraph(s, d)
        .select(col("src"), col("dst"),
          round(col("score") * lit(1000000.0), 0).cast("long").as("weight"))
      val nodes = e.filter(size(col("embedding")) >= 64).select("vec_id")
      graft.operators.Graph.pagerankWeighted(nodes, edges, "vec_id",
        iters = 3)
    },
      // the knn edges WITH their 6dp score kept, integer-scaled to the
      // weight grid exactly as the engine does
      // (round6 → ×10⁶ → round0 → BIGINT, w > 0)
      (s"WITH $knnEdgeCtes,\n" +
        """gw AS (SELECT src, dst, w FROM (
          |  SELECT src, dst,
          |         CAST(round(round(score, 6) * 1000000.0, 0) AS BIGINT)
          |           AS w
          |  FROM g) WHERE w > 0),
          |nodes AS (SELECT vec_id AS id FROM ec),
          |""".stripMargin +
        pagerankWeightedCtes(iters = 3, dampPct = 85,
          scale = 1000000000000L) +
        """
          |SELECT id AS vec_id, CAST(pr AS BIGINT) AS pr_fp,
          |       CAST(pr // 1000000 AS BIGINT) AS pr_ppm
          |FROM p3""".stripMargin)),

    // --- personalized PageRank: teleport only to the vec_id < 100 seed
    // set — proximity-to-seeds ranking for seed-set expansion; same
    // integer masses, unreachable nodes converge to 0 ------------------------
    Row("graph_ppr", (s, d) => {
      val e = Tables.embeddings(s, d)
      val edges = sharedKnnGraph(s, d).select("src", "dst")
      val nodes = e.filter(size(col("embedding")) >= 64).select("vec_id")
      graft.operators.Graph.pagerankPersonalized(nodes,
        nodes.filter(col("vec_id") < 100), edges, "vec_id", iters = 3)
    },
      // the seeded variant: teleport mass gated by the seed flag
      (s"WITH $knnEdgeCtes,\n" +
        """nodes AS (SELECT vec_id AS id FROM ec),
          |sd AS (SELECT id FROM nodes WHERE id < 100),
          |ns AS (SELECT count(*) AS n FROM sd),
          |fl AS (SELECT n.id,
          |         CASE WHEN s.id IS NULL THEN 0 ELSE 1 END AS iss
          |       FROM nodes n LEFT JOIN sd s USING (id)),
          |deg AS (SELECT src, count(*) AS deg FROM g GROUP BY 1),
          |p0 AS (SELECT id,
          |         (1000000000000 // (SELECT n FROM ns)) * iss AS pr
          |       FROM fl),
          |""".stripMargin +
        (1 to 3).map { k =>
          s"""p$k AS (SELECT f.id,
             |  (15 * (1000000000000 // (SELECT n FROM ns)) * f.iss
             |   + 85 * COALESCE(im.inm, 0)) // 100 AS pr
             |  FROM fl f LEFT JOIN (
             |    SELECT ge.dst AS id, SUM(pp.pr // dg.deg) AS inm
             |    FROM g ge JOIN p${k - 1} pp ON ge.src = pp.id
             |    JOIN deg dg ON ge.src = dg.src
             |    GROUP BY ge.dst) im USING (id))""".stripMargin
        }.mkString(",\n") +
        """
          |SELECT id AS vec_id, CAST(pr AS BIGINT) AS pr_fp,
          |       CAST(pr // 1000000 AS BIGINT) AS pr_ppm
          |FROM p3""".stripMargin)),

    // --- HITS hubs/authorities over the same directed kNN edges:
    // authority = content many neighborhoods point AT, hub = content
    // whose neighbor list covers the canonical set. L1-normalized
    // integer masses on a 10⁸ grid → bit-exact unrolled oracle ------------
    Row("graph_hits", (s, d) => {
      val e = Tables.embeddings(s, d)
      val edges = sharedKnnGraph(s, d).select("src", "dst")
      val nodes = e.filter(size(col("embedding")) >= 64).select("vec_id")
      graft.operators.Graph.hits(nodes, edges, "vec_id", iters = 3)
    },
      // same edge CTEs; the unrolled L1-normalized HITS half-steps —
      // every mass op integer floor-division on non-negative values, so
      // `//` replays Spark's `div` bit-exactly
      (s"WITH $knnEdgeCtes,\n" +
        "nodes AS (SELECT vec_id AS id FROM ec),\n" +
        hitsCtes(iters = 3, scale = 100000000L) +
        """
          |SELECT a3.id AS vec_id, CAST(a3.auth AS BIGINT) AS auth_fp,
          |       CAST(h3.hub AS BIGINT) AS hub_fp
          |FROM a3 JOIN h3 ON a3.id = h3.id""".stripMargin)),

    // --- per-node triangle count + local clustering coefficient over
    // the MUTUAL kNN graph: degree-ordered orientation (wedges form only
    // at a triangle's lowest-ordered corner — the power-law skew killer);
    // exact counts, lcc as integer ppm ------------------------------------
    Row("graph_triangles", (s, d) => {
      val e = Tables.embeddings(s, d)
      val mutual = Similarity.mutualKnnEdges(sharedKnnGraph(s, d))
      val nodes = e.filter(size(col("embedding")) >= 64).select("vec_id")
      graft.operators.Graph.triangles(nodes, mutual, "vec_id")
    },
      // mutual edges from the same CTEs; degree-ordered orientation, the
      // wedge self-join at the lowest-ordered corner, the closing-edge
      // equi-join, and the exploded per-corner count — integer lcc ppm
      (s"WITH $knnEdgeCtes,\n" +
        """mg AS MATERIALIZED (
          |       SELECT a.src AS a, a.dst AS b
          |       FROM g a JOIN g b ON a.src = b.dst AND a.dst = b.src
          |       WHERE a.src < a.dst),
          |dg AS MATERIALIZED (
          |       SELECT id, count(*) AS deg FROM (
          |         SELECT a AS id FROM mg
          |         UNION ALL SELECT b FROM mg) GROUP BY 1),
          |o AS MATERIALIZED (SELECT
          |        CASE WHEN da.deg < db.deg
          |               OR (da.deg = db.deg AND m.a < m.b)
          |             THEN m.a ELSE m.b END AS lo,
          |        CASE WHEN da.deg < db.deg
          |               OR (da.deg = db.deg AND m.a < m.b)
          |             THEN m.b ELSE m.a END AS hi,
          |        CASE WHEN da.deg < db.deg
          |               OR (da.deg = db.deg AND m.a < m.b)
          |             THEN db.deg ELSE da.deg END AS dhi
          |      FROM mg m JOIN dg da ON da.id = m.a
          |                JOIN dg db ON db.id = m.b),
          |wg AS MATERIALIZED (
          |       SELECT x.lo, x.hi AS v, y.hi AS w3
          |       FROM o x JOIN o y ON x.lo = y.lo
          |       WHERE x.dhi < y.dhi
          |          OR (x.dhi = y.dhi AND x.hi < y.hi)),
          |t AS MATERIALIZED (
          |      SELECT wg.lo, wg.v, wg.w3 FROM wg
          |      JOIN o c ON c.lo = wg.v AND c.hi = wg.w3),
          |pern AS (SELECT id, count(*) AS tri FROM (
          |           SELECT lo AS id FROM t
          |           UNION ALL SELECT v FROM t
          |           UNION ALL SELECT w3 FROM t) GROUP BY 1),
          |nodes AS (SELECT vec_id AS id FROM ec)
          |SELECT nd.id AS vec_id,
          |       CAST(COALESCE(dg.deg, 0) AS BIGINT) AS deg,
          |       CAST(COALESCE(p.tri, 0) AS BIGINT) AS tri,
          |       CAST(CASE WHEN COALESCE(dg.deg, 0) < 2 THEN 0
          |            ELSE (2 * COALESCE(p.tri, 0) * 1000000)
          |                 // (dg.deg * (dg.deg - 1)) END AS BIGINT)
          |         AS lcc_ppm
          |FROM nodes nd LEFT JOIN dg ON dg.id = nd.id
          |              LEFT JOIN pern p ON p.id = nd.id""".stripMargin)),

    // --- link prediction over the MUTUAL kNN graph: common-neighbor /
    // Adamic–Adar / Jaccard scores for non-adjacent pairs sharing a
    // neighbor — the "pairs the blocking stage missed" review queue.
    // Wedge fan-out bounded by k² per node on a kNN substrate ------------
    Row("graph_adamic", (s, d) =>
      graft.operators.Graph.linkPredict(
        Similarity.mutualKnnEdges(sharedKnnGraph(s, d))),
      // mutual edges, symmetrized adjacency, the wedge self-join minus
      // existing edges, then exact-count / integer-nano-mass / integer-ppm
      // scores — all three outputs exact integers (the graph family's
      // fixed-point discipline; round halves match Spark↔DuckDB on the
      // strictly-positive terms), `//` floors like Spark's div on the
      // non-negative counts
      (s"WITH $knnEdgeCtes,\n" +
        """mg AS MATERIALIZED (
          |       SELECT a.src AS a, a.dst AS b
          |       FROM g a JOIN g b ON a.src = b.dst AND a.dst = b.src
          |       WHERE a.src < a.dst),
          |sym AS MATERIALIZED (
          |       SELECT a, b FROM mg UNION ALL SELECT b, a FROM mg),
          |dg AS MATERIALIZED (
          |       SELECT a AS id, count(*) AS deg FROM sym GROUP BY 1),
          |open AS MATERIALIZED (
          |       SELECT x.a AS z, x.b AS v, y.b AS w
          |       FROM sym x JOIN sym y ON x.a = y.a AND x.b < y.b
          |       LEFT JOIN mg m ON m.a = x.b AND m.b = y.b
          |       WHERE m.a IS NULL),
          |sc AS (SELECT o.v, o.w, count(*) AS cn,
          |         SUM(CAST(round(1000000000.0
          |               / ln(CAST(dz.deg AS DOUBLE))) AS BIGINT))
          |           AS aa_nano
          |       FROM open o JOIN dg dz ON dz.id = o.z
          |       GROUP BY 1, 2)
          |SELECT sc.v AS id_a, sc.w AS id_b,
          |       CAST(sc.cn AS BIGINT) AS cn,
          |       CAST(sc.aa_nano AS BIGINT) AS aa_nano,
          |       CAST((sc.cn * 1000000) // (dv.deg + dw.deg - sc.cn)
          |         AS BIGINT) AS jaccard_ppm
          |FROM sc JOIN dg dv ON dv.id = sc.v
          |        JOIN dg dw ON dw.id = sc.w""".stripMargin)),

    // --- bounded-round k-core peeling of the MUTUAL kNN graph: the
    // stable duplication communities that survive after hubs and
    // stragglers peel away (k=2, 3 rounds — the oracle unrolls the SAME
    // 3 rounds, so parity holds regardless; exactness-at-fixpoint is the
    // operator's documented R-vs-R+1 certificate, NOT implied by the
    // degree bound — a long chain peels 2 endpoints per round) ------------
    Row("graph_kcore", (s, d) => {
      val e = Tables.embeddings(s, d)
      val mutual = Similarity.mutualKnnEdges(sharedKnnGraph(s, d))
      val nodes = e.filter(size(col("embedding")) >= 64).select("vec_id")
      graft.operators.Graph.kCore(nodes, mutual, "vec_id",
        k = 2, rounds = 3)
    },
      // graph_adamic's mutual-edge CTE, then 3 unrolled peel rounds
      // (degree aggregate → keep ≥ k → restrict edges) and a final
      // membership test — MATERIALIZED per round so DuckDB never
      // re-executes the upstream LSH join through the unroll
      (s"WITH $knnEdgeCtes,\n$kcorePeelCtes,\n" +
        """fin AS (SELECT id, count(*) AS deg FROM (
          |          SELECT a AS id FROM e3 UNION ALL SELECT b FROM e3)
          |        GROUP BY 1 HAVING count(*) >= 2),
          |nodes AS (SELECT vec_id AS id FROM ec)
          |SELECT nd.id AS vec_id,
          |       f.id IS NOT NULL AS in_core,
          |       CAST(coalesce(f.deg, 0) AS BIGINT) AS core_deg
          |FROM nodes nd LEFT JOIN fin f ON f.id = nd.id""".stripMargin)),

    // --- the peel's convergence certificate: survivor counts at rounds
    // R and R+1 plus a `converged` flag — one extra peel round and a
    // single 1-row aggregate over the shared prefix, making graph_kcore's
    // bounded-round contract CHECKABLE instead of documented ------------
    Row("graph_kcore_cert", (s, d) => {
      val e = Tables.embeddings(s, d)
      val mutual = Similarity.mutualKnnEdges(sharedKnnGraph(s, d))
      graft.operators.Graph.kCoreCertificate(mutual, k = 2, rounds = 3)
    },
      // graph_kcore's peel chain plus ONE extra unrolled round: survivor
      // counts at R and R+1, the count of residual vertices still below
      // k (the next round's peel set), and the SOUND convergence flag
      // pending_below_k == 0 — the certificate the kCore scaladoc used
      // to leave to the caller
      (s"WITH $knnEdgeCtes,\n$kcorePeelCtes,\n" +
        """d3 AS MATERIALIZED (
          |       SELECT id, count(*) AS deg FROM (
          |         SELECT a AS id FROM e3 UNION ALL SELECT b FROM e3)
          |       GROUP BY 1),
          |f3 AS MATERIALIZED (SELECT id FROM d3 WHERE deg >= 2),
          |e4 AS MATERIALIZED (
          |       SELECT e3.a, e3.b FROM e3
          |       JOIN f3 x ON x.id = e3.a JOIN f3 y ON y.id = e3.b),
          |f4 AS (SELECT id FROM (SELECT id, count(*) AS deg FROM (
          |         SELECT a AS id FROM e4 UNION ALL SELECT b FROM e4)
          |         GROUP BY 1) WHERE deg >= 2)
          |SELECT (SELECT count(*) FROM f3) AS survivors_r,
          |       (SELECT count(*) FROM f4) AS survivors_r1,
          |       (SELECT count(*) FROM d3 WHERE deg < 2)
          |         AS pending_below_k,
          |       (SELECT count(*) FROM d3 WHERE deg < 2) = 0
          |         AS converged""".stripMargin)),

    // --- degree profile of the same graph: hub/orphan diagnostic ------------
    Row("graph_degree", (s, d) =>
      graft.operators.Graph.degreeProfile(
        sharedKnnGraph(s, d).select("src", "dst")),
      // same edge CTEs; full outer degree merge
      (s"WITH $knnEdgeCtes,\n" +
        """o AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS out_deg
          |      FROM g GROUP BY 1),
          |i AS (SELECT dst AS id, CAST(count(*) AS BIGINT) AS in_deg
          |      FROM g GROUP BY 1)
          |SELECT COALESCE(o.id, i.id) AS id,
          |       COALESCE(o.out_deg, 0) AS out_deg,
          |       COALESCE(i.in_deg, 0) AS in_deg,
          |       COALESCE(o.out_deg, 0) + COALESCE(i.in_deg, 0)
          |         AS total_deg
          |FROM o FULL OUTER JOIN i ON o.id = i.id""".stripMargin)),

    // --- connected components of the MUTUAL kNN graph: the log-round
    // large/small-star CC (similarity clusters CHAIN — plain min-root
    // propagation needs O(diameter) rounds on them, the star variant
    // O(log n); same min-root labels either way) --------------------------
    Row("graph_components", (s, d) =>
      // r17: ride the shared kNN edge frame like the rest of the graph
      // family (was: a private rebuild inside a child session scoped to
      // 8 shuffle partitions — the rebuild cost more than the scoping
      // saved once the build was shared; AQE coalesces the star rounds'
      // tiny shuffles at runtime to the same effect). Component labels
      // are partitioning-independent (min-root), so output is unchanged.
      Dedup.clustersStar(
        Similarity.mutualKnnEdges(sharedKnnGraph(s, d))
          .select("id_a", "id_b")),
      // mutual edges from the same CTEs; the dedup_clusters recursive
      // min-root reach, over the sparsified similarity substrate
      (s"WITH RECURSIVE $knnEdgeCtes,\n" +
        """mg AS (SELECT a.src AS id_a, a.dst AS id_b
          |       FROM g a JOIN g b ON a.src = b.dst AND a.dst = b.src
          |       WHERE a.src < a.dst),
          |edges AS (SELECT id_a AS src, id_b AS dst FROM mg
          |          UNION SELECT id_b, id_a FROM mg),
          |reach(id, r) AS (
          |  SELECT src, src FROM edges
          |  UNION
          |  SELECT e.dst, reach.r FROM reach JOIN edges e
          |    ON e.src = reach.id)
          |SELECT id, min(r) AS cluster_root
          |FROM reach GROUP BY 1""".stripMargin)),

    // --- semi-supervised label propagation: vec_id < 100 keep their
    // fixture label (clamped seeds), the rest adopt the majority label of
    // their in-neighbors over 3 synchronous rounds (smallest-label tie
    // break — integer votes, engine-exact) -------------------------------
    Row("graph_labelprop", (s, d) => {
      val e = Tables.embeddings(s, d).filter(size(col("embedding")) >= 64)
      // the shared graph self-filters to size >= 64, so the pre-filtered
      // local `e` builds the identical edge set (knnGraph's own gate)
      val knn = sharedKnnGraph(s, d).select("src", "dst")
      // symmetrize: labels flow along similarity, not kNN direction
      val sym = knn.union(knn.select(col("dst").as("src"),
        col("src").as("dst")))
      graft.operators.Graph.labelPropagate(
        e.select("vec_id"),
        e.filter(col("vec_id") < 100)
          .select(col("vec_id"), col("label").cast("long").as("label")),
        sym, "vec_id", "label", iters = 3)
    },
      // symmetrized kNN edges + the unrolled clamped-seed majority rounds
      (s"WITH $knnEdgeCtes,\n" +
        """sym AS (SELECT src, dst FROM g UNION SELECT dst, src FROM g),
          |nodes AS (SELECT vec_id AS id FROM ec),
          |seeds AS (SELECT vec_id AS id, CAST(label AS BIGINT) AS seed
          |          FROM embeddings
          |          WHERE len(embedding) >= 64 AND vec_id < 100),
          |""".stripMargin +
        labelPropCtes(3) +
        "\nSELECT id AS vec_id, label FROM l3"))
  )
}
