package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.llm.{IvfIndex, Quantize, Similarity}
import graft.llm.IvfIndex.{Flat, ResidualPq, SeededPq, Sq8}

/** Approximate nearest neighbours over compressed codes: PQ, int8,
  * SQ8 and (residual) IVF-PQ, their stores, sweeps and recall. */
object AnnPqRows {
  import PipelineQueries._
  import Shared._

  /** The (vec_id, cell, __res) residual frame every residual-PQ row
    * derives from — quantize → trained-cell assign → residual
    * ([[IvfIndex.Trained.residuals]]) against the ONE shared coarse
    * quantizer — memoized as a localCheckpoint per (session, dir).
    * r18 (guide §1.2/§5, VERDICT #2): ten eval rows
    * (ann_ivfpqt2_topk/recall/rerank/probes, ann_ivfpq_mk's six grid
    * legs, ann_ivfpq_iters, ann_ivfpq_candk, the compressed-store
    * build) and EVERY Lloyd training round re-derived this identical
    * frame from the parquet scan — each re-paying the scan + quantize +
    * 8-cell assignment + residual zip. Materializing it once feeds all
    * of them; the residual VALUES are unchanged (PqKernelsSpec pins
    * training + topK bit-identity against the corpus-scan path), and
    * clearCaches between bench passes keeps every pass paying the
    * build exactly once. */
  private def sharedResidualFrame(s: SparkSession, d: String): DataFrame =
    memo("residuals", s, d)(
      sharedIvfTrained(s, d).residuals(Tables.embeddings(s, d), "vec_id",
        "embedding").localCheckpoint())

  /** Residual-PQ codebooks (m=8, k=16, subDim=8, two Lloyd rounds) over
    * the trained coarse cells — the FULL `IVFx,PQy` fine quantizer,
    * memoized per (session, dir): the topk/recall rows and the
    * compressed store share one training run. Trains FROM the shared
    * residual checkpoint (bit-identical to [[IvfIndex.ResidualPq.train]]
    * on the corpus — same rows, same exact dyadic sums; PqKernelsSpec
    * pins it). */
  private def sharedResidualPq(s: SparkSession, d: String): ResidualPq =
    memo("residualCodebooks", s, d)(ResidualPq(
      graft.llm.Pq.trainCodebooks(sharedResidualFrame(s, d),
        "vec_id", "__res",
        // 2 Lloyd rounds: the sizing probe measured recall@3 0.167 →
        // 0.300 going 1 → 2 (seeded baseline 0.100); the oracle unrolls
        // the same 2 rounds (pqTrainBodyCtes iters = 2)
        m = 8, k = 16, subDim = 8, iters = 2)))

  /** The full residual `IVF8,PQ8` index over the shared quantizers. */
  private def sharedIvfPq(s: SparkSession, d: String): IvfIndex =
    IvfIndex(sharedIvfTrained(s, d), sharedResidualPq(s, d))

  /** The compressed `IVF8,PQ8` store — (neighbor_id, codes) partitioned
    * by trained cell plus both quantizer sidecars — memoized like the
    * float stores: `ann_ivfpqt_build` times the write, the probe row
    * times the pruned read. */
  private def sharedIvfPqIndex(s: SparkSession, d: String): String =
    sharedIndex(s, d, "ivfpq")(p =>
      sharedIvfPq(s, d).write(Tables.embeddings(s, d), "vec_id",
        "embedding", p, residuals = Some(sharedResidualFrame(s, d))))

  /** The `IVF8,SQ8` store — int8 codes + scale partitioned by trained
    * cell, the serving-regime triad's middle point. */
  private def sharedIvfSqIndex(s: SparkSession, d: String): String =
    sharedIndex(s, d, "ivfsq")(p =>
      IvfIndex(sharedIvfTrained(s, d), Sq8).write(Tables.embeddings(s, d),
        "vec_id", "embedding", p))

  /** The brute exact-L2 baseline leg of the residual-PQ eval family —
    * SEVEN queries (ann_ivfpqt_recall, ann_ivfpqt2_recall/rerank/probes,
    * ann_ivfpq_mk/iters/candk) score the IDENTICAL leg (corpus
    * size==64, queries vec_id<10, topK=3) and each already
    * localCheckpoints it privately; memoizing the checkpoint per
    * (session, dir) makes the sweep family pay the |Q|×N brute scan
    * once per pass instead of seven times. Deterministic ranking, so
    * every consumer sees bit-identical rows. */
  private def sharedExactL2Leg(s: SparkSession, d: String): DataFrame =
    memo("exactL2Leg", s, d) {
      val e = Tables.embeddings(s, d)
        .filter(size(col("embedding")) === 64)
      graft.llm.Pq.exactL2TopK(e, e.filter(col("vec_id") < 10),
        "vec_id", "embedding", topK = 3).localCheckpoint()
    }

  /** [[pqEncodeCtes]] plus the IVF+PQ candidate stage: `recon`
    * (codeword reconstructions), the axis-cell derivation over `e`
    * (mirrors Similarity.axisCells at m=4), `q` (queries vec_id < 50,
    * both probed cells), `c` (corpus home cell × reconstruction), and
    * `sc` (ADC scores of cell-mates). */
  private def pqIvfCtes(m: Int, k: Int, subDim: Int): String =
    s"${pqEncodeCtes(m, k, subDim)},\n" +
      """recon AS (SELECT vec_id, flatten(list(cv ORDER BY a.j)) AS rv
        |          FROM a JOIN cb ON cb.j = a.j AND cb.c = a.c
        |          GROUP BY vec_id),
        |x0 AS (SELECT vec_id, v,
        |        abs(v[1]) AS a0, abs(v[2]) AS a1,
        |        abs(v[3]) AS a2, abs(v[4]) AS a3
        |      FROM e),
        |w2 AS (
        |  SELECT *, CASE WHEN a0 >= a1 AND a0 >= a2 AND a0 >= a3 THEN 0
        |                 WHEN a1 >= a2 AND a1 >= a3 THEN 1
        |                 WHEN a2 >= a3 THEN 2 ELSE 3 END AS win
        |  FROM x0),
        |r2 AS (
        |  SELECT *, CASE win
        |    WHEN 0 THEN (CASE WHEN a1 >= a2 AND a1 >= a3 THEN 1
        |                      WHEN a2 >= a3 THEN 2 ELSE 3 END)
        |    WHEN 1 THEN (CASE WHEN a0 >= a2 AND a0 >= a3 THEN 0
        |                      WHEN a2 >= a3 THEN 2 ELSE 3 END)
        |    WHEN 2 THEN (CASE WHEN a0 >= a1 AND a0 >= a3 THEN 0
        |                      WHEN a1 >= a3 THEN 1 ELSE 3 END)
        |    ELSE (CASE WHEN a0 >= a1 AND a0 >= a2 THEN 0
        |               WHEN a1 >= a2 THEN 1 ELSE 2 END)
        |  END AS run
        |  FROM w2),
        |cells AS (
        |  SELECT vec_id, v,
        |         2 * win + CASE WHEN v[win + 1] >= 0 THEN 1 ELSE 0 END
        |           AS cell_w,
        |         2 * run + CASE WHEN v[run + 1] >= 0 THEN 1 ELSE 0 END
        |           AS cell_r
        |  FROM r2),
        |q AS (SELECT vec_id AS query_id, v AS qv,
        |             unnest([cell_w, cell_r]) AS cell
        |      FROM cells WHERE vec_id < 50),
        |c AS (SELECT cells.vec_id AS neighbor_id, cell_w AS cell, rv
        |      FROM cells JOIN recon ON recon.vec_id = cells.vec_id),
        |sc AS (SELECT q.query_id, c.neighbor_id,
        |         list_dot_product(rv, rv)
        |           - 2.0 * list_dot_product(qv, rv) AS d
        |       FROM c JOIN q ON c.cell = q.cell
        |                    AND c.neighbor_id <> q.query_id)""".stripMargin

  /** Mirror of [[graft.llm.Pq.trainCodebooks]] (iters = 1) + ADC: the
    * per-subspace Lloyd round on the dyadic grid, replayed in SQL —
    * init = k lowest-id subvectors; assignment vs cb0; exact
    * (order-free) component sums; one division per centroid component.
    * CTE `cb1(j, c, cv)` holds the trained books; `enc`/`reconT` the
    * codes and reconstructions. */
  private def pqTrainCtes(m: Int, k: Int, subDim: Int): String = {
    val dim = m * subDim
    s"""wq AS (SELECT vec_id,
       |        list_transform(CAST(embedding AS DOUBLE[]),
       |          x -> floor(x * 1048576.0) / 1048576.0) AS w
       |      FROM embeddings WHERE len(embedding) >= $dim),
       |""".stripMargin +
      pqTrainBodyCtes(m, k, subDim, src = "wq", vcol = "w", p = "")
  }

  /** The Lloyd-round/encode/reconstruct body of [[pqTrainCtes]],
    * parameterized over the source CTE (`src(vec_id, $vcol)`), a name
    * PREFIX so it can ride alongside [[kmeansCtes]] (whose s1/a1/g1/n1
    * round names it would otherwise shadow) — the residual path trains
    * on the `res` CTE with prefix `r` — and the ROUND COUNT, unrolled
    * exactly like the engine's trainCodebooks loop (round i scores
    * against cb(i−1), updates to cb(i); encode runs against
    * cb(iters)). */
  private def pqTrainBodyCtes(m: Int, k: Int, subDim: Int,
                              src: String, vcol: String,
                              p: String, iters: Int = 1): String = {
    require(iters >= 1, s"iters=$iters")
    val sb = new StringBuilder
    sb ++= s"""${p}sub AS (SELECT vec_id, js.j,
       |          list_slice($vcol, js.j * $subDim + 1,
       |                     js.j * $subDim + $subDim) AS sv
       |        FROM $src, (SELECT unnest(generate_series(0, ${m - 1})) AS j)
       |               js),
       |${p}cb0 AS (SELECT j, rn - 1 AS c, sv AS cv FROM (
       |          SELECT j, sv,
       |                 row_number() OVER (PARTITION BY j
       |                                    ORDER BY vec_id) AS rn
       |          FROM ${p}sub) WHERE rn <= $k)""".stripMargin
    for (i <- 1 to iters) sb ++= s""",
       |${p}s$i AS (SELECT ${p}sub.vec_id, ${p}sub.j, ${p}cb${i - 1}.c,
       |         list_dot_product(cv, cv)
       |           - 2.0 * list_dot_product(sv, cv) AS s
       |       FROM ${p}sub JOIN ${p}cb${i - 1}
       |         ON ${p}cb${i - 1}.j = ${p}sub.j),
       |${p}a$i AS (SELECT vec_id, j, c FROM (
       |         SELECT vec_id, j, c,
       |                row_number() OVER (PARTITION BY vec_id, j
       |                                   ORDER BY s, c) AS rn
       |         FROM ${p}s$i) WHERE rn = 1),
       |${p}g$i AS (SELECT ${p}a$i.j, ${p}a$i.c, idx.i AS pos,
       |         sum(sv[idx.i]) / count(*) AS mu
       |       FROM ${p}a$i JOIN ${p}sub ON ${p}sub.vec_id = ${p}a$i.vec_id
       |                       AND ${p}sub.j = ${p}a$i.j,
       |            (SELECT unnest(generate_series(1, $subDim)) AS i) idx
       |       GROUP BY 1, 2, 3),
       |${p}n$i AS (SELECT j, c, list(mu ORDER BY pos) AS cv
       |       FROM ${p}g$i GROUP BY 1, 2),
       |${p}cb$i AS (SELECT ${p}cb${i - 1}.j, ${p}cb${i - 1}.c,
       |          coalesce(${p}n$i.cv, ${p}cb${i - 1}.cv) AS cv
       |        FROM ${p}cb${i - 1} LEFT JOIN ${p}n$i
       |          ON ${p}n$i.j = ${p}cb${i - 1}.j
       |         AND ${p}n$i.c = ${p}cb${i - 1}.c)""".stripMargin
    sb ++= s""",
       |${p}se AS (SELECT ${p}sub.vec_id, ${p}sub.j, ${p}cb$iters.c,
       |         list_dot_product(cv, cv)
       |           - 2.0 * list_dot_product(sv, cv) AS s
       |       FROM ${p}sub JOIN ${p}cb$iters
       |         ON ${p}cb$iters.j = ${p}sub.j),
       |${p}enc AS (SELECT vec_id, j, c FROM (
       |          SELECT vec_id, j, c,
       |                 row_number() OVER (PARTITION BY vec_id, j
       |                                    ORDER BY s, c) AS rn
       |          FROM ${p}se) WHERE rn = 1),
       |${p}reconT AS (SELECT vec_id,
       |             flatten(list(cv ORDER BY ${p}enc.j)) AS rv
       |           FROM ${p}enc JOIN ${p}cb$iters ON ${p}cb$iters.j = ${p}enc.j
       |                                    AND ${p}cb$iters.c = ${p}enc.c
       |           GROUP BY vec_id)""".stripMargin
    sb.toString
  }

  /** The TRAINING-INDEPENDENT half of the residual IVF+PQ oracle — over
    * [[kmeansCtes]]' unrolled coarse training: `res` is each len-64
    * vector's dyadic-requantized residual against its a2 cell's c1
    * centroid (the centroid table the final assignment scored against —
    * what the engine's Trained.train returns); `rqr` the query's
    * full quantizer-distance cell ranking, `rqp` its first `probes`
    * cells, `qres` the per-(query, probed-cell) residual. Everything a
    * fine-stage replay needs, whatever its m/k/iters — shared so the
    * sweep oracles (`ann_ivfpq_mk`, `ann_ivfpq_iters`) and the serving
    * oracle can never diverge on the coarse stage. */
  private def residualBaseCtes(maxQueryId: Int, probes: Int): String =
    s"""resc AS (SELECT a2.vec_id, a2.cluster AS cell, idx.i AS pos,
       |           floor((a2.w[idx.i] - c.c[idx.i]) * 1048576.0)
       |             / 1048576.0 AS rv
       |         FROM a2 JOIN c1 c ON c.j = a2.cluster,
       |              (SELECT unnest(generate_series(1, 64)) AS i) idx),
       |res AS (SELECT vec_id, cell, list(rv ORDER BY pos) AS r
       |        FROM resc GROUP BY 1, 2),
       |rqr AS (SELECT vec_id AS query_id, j AS cell,
       |               row_number() OVER (
       |                   PARTITION BY vec_id ORDER BY s, j) AS rn
       |        FROM s2 WHERE vec_id < $maxQueryId),
       |rqp AS (SELECT query_id, cell FROM rqr WHERE rn <= $probes),
       |qrc AS (SELECT rqp.query_id, rqp.cell, idx.i AS pos,
       |          floor((w.w[idx.i] - c.c[idx.i]) * 1048576.0)
       |            / 1048576.0 AS rv
       |        FROM rqp JOIN wq w ON w.vec_id = rqp.query_id
       |        JOIN c1 c ON c.j = rqp.cell,
       |             (SELECT unnest(generate_series(1, 64)) AS i) idx),
       |qres AS (SELECT query_id, cell, list(rv ORDER BY pos) AS qrv
       |         FROM qrc GROUP BY 1, 2)""".stripMargin

  /** One fine-stage replay + three-term-ADC candidate CTE set under
    * name prefix `p`: [[pqTrainBodyCtes]] trains m×k codebooks on the
    * shared `res` residuals ([[residualBaseCtes]] must precede), then
    * `${p}tc`/`${p}sc` score reconstructed candidates against `qres` —
    * `dot(rv,rv) − 2·dot(qrv,rv) + dot(qrv,qrv)`, the ‖q−c‖² term KEPT
    * because it varies across a query's probed cells. */
  private def residualAdcCtes(m: Int, k: Int, iters: Int,
                              p: String): String =
    s"""${pqTrainBodyCtes(m, k, 64 / m, src = "res", vcol = "r", p = p,
         iters = iters)},
       |${p}tc AS (SELECT res.vec_id AS neighbor_id, res.cell, rv
       |        FROM res JOIN ${p}reconT ON ${p}reconT.vec_id = res.vec_id),
       |${p}sc AS (SELECT q.query_id, ${p}tc.neighbor_id,
       |          list_dot_product(rv, rv)
       |            - 2.0 * list_dot_product(qrv, rv)
       |            + list_dot_product(qrv, qrv) AS d
       |        FROM ${p}tc JOIN qres q USING (cell)
       |        WHERE ${p}tc.neighbor_id <> q.query_id)""".stripMargin

  /** Residual IVF+PQ CTEs at the serving configuration (m=8, k=16, two
    * Lloyd rounds, prefix `r` — the prefix makes [[residualAdcCtes]]'
    * outputs land on the historical names `rtc`/`rsc` the
    * `ann_ivfpqt2_*` oracles rank): [[residualBaseCtes]] +
    * [[residualAdcCtes]], byte-compatible with the pre-sweep call
    * sites. */
  private def residualCtes(maxQueryId: Int, probes: Int): String =
    residualBaseCtes(maxQueryId, probes) + ",\n" +
      residualAdcCtes(8, 16, iters = 2, p = "r")

  /** The full-residual-IVF,PQ top-3 oracle, shared by
    * `ann_ivfpqt2_topk` (unmaterialized) and `ann_ivfpqt_indexed` (the
    * compressed store) — the two are row-identical by construction:
    * the store changes WHERE the codes are read from, not what they
    * decode to. */
  private lazy val ivfPqResidualTopKSql: String =
    s"WITH ${kmeansCtes(8, 2, 64)},\n" +
      residualCtes(maxQueryId = 50, probes = 2) + """
        |SELECT query_id, rank, neighbor_id FROM (
        |  SELECT query_id, neighbor_id,
        |         CAST(row_number() OVER (PARTITION BY query_id
        |                                 ORDER BY d, neighbor_id)
        |           AS BIGINT) AS rank
        |  FROM rsc) WHERE rank <= 3""".stripMargin

  /** The shared exact-L2 truth leg (len-64 universe, queries
    * `vec_id < maxQueryId`, MATERIALIZED so one evaluation serves every
    * sweep leg) — CTEs `e0`/`xq`/`x`/`ex`. Single-sourced for the
    * residual sweep oracles. */
  private def exactL2LegSql(maxQueryId: Int, topK: Int): String =
    s"""e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |       FROM embeddings WHERE len(embedding) = 64),
       |xq AS (SELECT vec_id AS query_id, v AS qv FROM e0
       |       WHERE vec_id < $maxQueryId),
       |x AS (SELECT xq.query_id, c.vec_id AS neighbor_id,
       |        list_dot_product(c.v, c.v)
       |          - 2.0 * list_dot_product(qv, c.v) AS d
       |      FROM e0 c, xq WHERE c.vec_id <> xq.query_id),
       |ex AS MATERIALIZED (SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id, row_number() OVER (
       |    PARTITION BY query_id ORDER BY d, neighbor_id) AS rank
       |  FROM x) WHERE rank <= $topK)""".stripMargin

  /** Generic residual-fine-stage SWEEP oracle: one coarse stage
    * ([[kmeansCtes]] + [[residualBaseCtes]]) and one materialized exact
    * leg shared by every sweep point; per leg a FULL fine-stage training
    * replay ([[residualAdcCtes]] at that leg's m/k/iters), a top-3 rank,
    * and a recall block labeled by `labelSql` (e.g. `CAST(8 AS BIGINT)
    * AS m, CAST(16 AS BIGINT) AS k`). The `ann_ivfpq_mk` /
    * `ann_ivfpq_iters` sizing rows ride this one generator, so a change
    * to the replay algebra cannot desynchronize them. */
  private def residualSweepSql(
      legs: Seq[(String, Int, Int, Int, String)]): String = {
    val shared =
      s"WITH ${kmeansCtes(8, 2, 64)},\n" +
        residualBaseCtes(maxQueryId = 10, probes = 2) + ",\n" +
        exactL2LegSql(maxQueryId = 10, topK = 3)
    val per = legs.map { case (p, m, k, iters, _) =>
      s""",
         |${residualAdcCtes(m, k, iters, p)},
         |${p}apx AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id, row_number() OVER (
         |    PARTITION BY query_id ORDER BY d, neighbor_id) AS rank
         |  FROM ${p}sc) WHERE rank <= 3)""".stripMargin
    }.mkString
    val selects = legs.map { case (p, _, _, _, labelSql) =>
      s"""SELECT $labelSql, query_id, n_hits,
         |       round(n_hits / CAST(n_exact AS DOUBLE), 6) AS recall
         |FROM (
         |  SELECT ex.query_id,
         |         CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL
         |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
         |         COUNT(*) AS n_exact
         |  FROM ex LEFT JOIN ${p}apx a
         |    ON a.query_id = ex.query_id
         |   AND a.neighbor_id = ex.neighbor_id
         |  GROUP BY 1)""".stripMargin
    }.mkString("\nUNION ALL\n")
    shared + per + "\n" + selects
  }

  /** The m/k sweep points (shared by the engine query and its oracle so
    * the two enumerate identical legs): dim=64 constrains subDim=64/m. */
  private val ivfPqMkSweep: Seq[(Int, Int)] =
    Seq((8, 16), (8, 64), (16, 16))

  /** The training-depth sweep points, same sharing. */
  private val ivfPqItersSweep: Seq[Int] = Seq(1, 2, 4)

  /** The refine-depth sweep points (shortlist size candK of the
    * `IVFx,PQy,RFlat` composition), same engine/oracle sharing. Refine
    * cost is |Q|·candK float reads, so these points ARE the x-axis of
    * the recall-vs-float-reads curve. */
  private val ivfPqCandKSweep: Seq[Int] = Seq(10, 25, 50, 100)

  /** `ann_ivfpq_candk`'s oracle: ONE shared coarse stage + serving-depth
    * fine stage ([[residualCtes]] — the same `rsc` ADC scoring every
    * `ann_ivfpqt2_*` oracle ranks, so the sweep cannot desynchronize
    * from serving) and one materialized exact leg; per candK a
    * shortlist (`rank <= candK` over `rsc` — [[IvfIndex.refine]]'s
    * candidate stage verbatim), the exact-L2 re-rank of ONLY the
    * shortlist (the rerank oracle's `rref` chain, parameterized), and a
    * recall block labeled by the BIGINT cand_k. */
  private def refineCandKSweepSql(candKs: Seq[Int]): String = {
    val shared =
      s"WITH ${kmeansCtes(8, 2, 64)},\n" +
        residualCtes(maxQueryId = 10, probes = 2) + ",\n" +
        exactL2LegSql(maxQueryId = 10, topK = 3)
    val per = candKs.map { ck =>
      s""",
         |ck${ck}cand AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id, row_number() OVER (
         |    PARTITION BY query_id ORDER BY d, neighbor_id) AS rank
         |  FROM rsc) WHERE rank <= $ck),
         |ck${ck}ref AS (SELECT c0.query_id, c0.neighbor_id,
         |           list_dot_product(c.v, c.v)
         |             - 2.0 * list_dot_product(q.v, c.v) AS d
         |         FROM ck${ck}cand c0
         |         JOIN e0 c ON c.vec_id = c0.neighbor_id
         |         JOIN e0 q ON q.vec_id = c0.query_id),
         |ck${ck}apx AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id, row_number() OVER (
         |    PARTITION BY query_id ORDER BY d, neighbor_id) AS rank
         |  FROM ck${ck}ref) WHERE rank <= 3)""".stripMargin
    }.mkString
    val selects = candKs.map { ck =>
      s"""SELECT CAST($ck AS BIGINT) AS cand_k, query_id, n_hits,
         |       round(n_hits / CAST(n_exact AS DOUBLE), 6) AS recall
         |FROM (
         |  SELECT ex.query_id,
         |         CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL
         |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
         |         COUNT(*) AS n_exact
         |  FROM ex LEFT JOIN ck${ck}apx a
         |    ON a.query_id = ex.query_id
         |   AND a.neighbor_id = ex.neighbor_id
         |  GROUP BY 1)""".stripMargin
    }.mkString("\nUNION ALL\n")
    shared + per + "\n" + selects
  }

  /** One recall-aggregation SELECT block — `method`-labeled recall of
    * approximate CTE `apx` against the MATERIALIZED exact CTE `ex` —
    * so the denominator/rounding algebra lives in one place for the
    * round-14 recall oracles (the older recall oracles inline the same
    * block; a change to recallAtK's algebra must update those too). */
  private def recallSelectSql(method: String, apx: String): String =
    s"""SELECT '$method' AS method, query_id, n_hits,
       |       round(n_hits / CAST(n_exact AS DOUBLE), 6) AS recall
       |FROM (
       |  SELECT ex.query_id,
       |         CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL
       |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       |         COUNT(*) AS n_exact
       |  FROM ex LEFT JOIN $apx a
       |    ON a.query_id = ex.query_id
       |   AND a.neighbor_id = ex.neighbor_id
       |  GROUP BY 1)""".stripMargin

  /** `ann_ivfpqt2_probes`' oracle: [[residualCtes]] at probes = cells
    * (so `qres` carries every (query, cell) residual and `rqr` the full
    * cell ranking), one MATERIALIZED exact-L2 leg, then per probe depth
    * a three-term-ADC candidate/rank/recall block over `rn <= p` —
    * generated from the same [[ivftProbeSweep]] the trained-IVF sweep
    * uses. */
  private def ivfPqResidualProbesSql(probesList: Seq[Int]): String = {
    val shared =
      s"WITH ${kmeansCtes(8, 2, 64)},\n" +
        residualCtes(maxQueryId = 10, probes = 8) + ",\n" +
        exactL2LegSql(maxQueryId = 10, topK = 3)
    val perP = probesList.map { p =>
      s""",
         |ps$p AS (SELECT r.query_id, rtc.neighbor_id,
         |           list_dot_product(rv, rv)
         |             - 2.0 * list_dot_product(qrv, rv)
         |             + list_dot_product(qrv, qrv) AS d
         |         FROM rtc
         |         JOIN (SELECT query_id, cell FROM rqr WHERE rn <= $p) r
         |           USING (cell)
         |         JOIN qres q ON q.query_id = r.query_id
         |                    AND q.cell = r.cell
         |         WHERE rtc.neighbor_id <> r.query_id),
         |papx$p AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id, row_number() OVER (
         |    PARTITION BY query_id ORDER BY d, neighbor_id) AS rank
         |  FROM ps$p) WHERE rank <= 3)""".stripMargin
    }.mkString
    val selects = probesList.map { p =>
      s"""SELECT CAST($p AS BIGINT) AS probes, query_id, n_hits,
         |       round(n_hits / CAST(n_exact AS DOUBLE), 6) AS recall
         |FROM (
         |  SELECT ex.query_id,
         |         CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL
         |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
         |         COUNT(*) AS n_exact
         |  FROM ex LEFT JOIN papx$p a
         |    ON a.query_id = ex.query_id
         |   AND a.neighbor_id = ex.neighbor_id
         |  GROUP BY 1)""".stripMargin
    }.mkString("\nUNION ALL\n")
    shared + perP + "\n" + selects
  }

  val rows: Seq[Row] = Seq(
    // --- ANN over the int8-quantized corpus: the memory-bound serving
    // path (4× smaller scan) — dequantized vectors through the same
    // brute-force kernel, engine-exact because the quantized grid is ----
    Row("ann_int8_topk", (s, d) => {
      val e = Tables.embeddings(s, d)
      val deq = e.select(col("vec_id"),
        Quantize.snap(col("embedding")).as("embedding"))
      Similarity.bruteForceTopK(deq, deq.filter(col("vec_id") < 20),
        "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"))
    },
      // ann_brute_topk's ranking verbatim
      """WITH e0 AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |         list_max(list_transform(embedding,
        |           x -> abs(CAST(x AS DOUBLE)))) AS amax
        |  FROM embeddings),
        |dq AS (
        |  SELECT vec_id,
        |         CASE WHEN amax IS NULL OR amax = 0
        |              THEN list_transform(v, x -> 0.0)
        |              ELSE list_transform(v, x ->
        |                greatest(-127.0, least(127.0,
        |                    round(x * 127.0 / amax)))
        |                  * (amax / 127.0))
        |         END AS v
        |  FROM e0),
        |e AS (SELECT vec_id,
        |        list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS v
        |      FROM dq),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 20),
        |s AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |         list_dot_product(qv, e.v) AS score
        |  FROM e, q WHERE e.vec_id <> q.query_id)
        |SELECT query_id, rank, neighbor_id FROM (
        |  SELECT query_id, neighbor_id,
        |         CAST(row_number() OVER (PARTITION BY query_id
        |                                 ORDER BY score DESC, neighbor_id) AS BIGINT) AS rank
        |  FROM s) WHERE rank <= 5""".stripMargin),

    // --- product quantization: 64 floats → 8 codes (32×), map-only encode
    // against seeded literal codebooks (Jégou et al. 2011) ----------------
    Row("embed_pq_codes", (s, d) =>
      graft.llm.Pq.encode(Tables.embeddings(s, d), "vec_id", "embedding",
        m = 8, k = 16, subDim = 8)
        .select(col("vec_id"), posexplode(col("codes")))
        .select(col("vec_id"), col("pos").cast("long").as("subspace"),
          col("col").cast("long").as("code")),
      // the int8 grid from embed_quantize's oracle, dequantized, then
      (s"WITH ${pqEncodeCtes(8, 16, 8)}\n" +
        """SELECT vec_id, CAST(j AS BIGINT) AS subspace,
          |       CAST(c AS BIGINT) AS code
          |FROM a""".stripMargin)),

    // --- ANN over the PQ-compressed corpus: asymmetric-distance (ADC)
    // top-k — exact queries vs reconstructed codewords, the RAM-bound
    // billion-vector serving shape ----------------------------------------
    Row("ann_pq_topk", (s, d) => {
      val e = Tables.embeddings(s, d)
      graft.llm.Pq.adcTopK(e, e.filter(col("vec_id") < 20),
        "vec_id", "embedding", topK = 5, m = 8, k = 16, subDim = 8)
    },
      // ADC: dot(recon,recon) − 2·dot(q,recon) — both the shared
      // sequential-fold dot on literal-derived doubles, so the ranking
      // (and the sample) is bit-identical across engines
      (s"WITH ${pqEncodeCtes(8, 16, 8)},\n" +
        """recon AS (SELECT vec_id, flatten(list(cv ORDER BY a.j)) AS rv
          |          FROM a JOIN cb ON cb.j = a.j AND cb.c = a.c
          |          GROUP BY vec_id),
          |q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[])
          |        AS qv
          |      FROM embeddings WHERE vec_id < 20
          |        AND len(embedding) >= 64),
          |sc AS (SELECT q.query_id, r.vec_id AS neighbor_id,
          |         list_dot_product(rv, rv)
          |           - 2.0 * list_dot_product(qv, rv) AS d
          |       FROM recon r, q WHERE r.vec_id <> q.query_id)
          |SELECT query_id, rank, neighbor_id FROM (
          |  SELECT query_id, neighbor_id,
          |         CAST(row_number() OVER (PARTITION BY query_id
          |                                 ORDER BY d, neighbor_id)
          |           AS BIGINT) AS rank
          |  FROM sc) WHERE rank <= 5""".stripMargin)),

    // --- the same encode with codebooks as a broadcast TABLE — the
    // trained-codebook path for sets too large to ride as plan
    // literals; bit-identical to embed_pq_codes (same oracle) ------------
    Row("embed_pq_codes_table", (s, d) => {
      import s.implicits._
      val cbs = graft.llm.Pq.codebooks(8, 16, 8)
      val cbDf = (for { j <- 0 until 8; c <- 0 until 16 }
        yield (j, c, cbs(j)(c).toSeq)).toDF("subspace", "code", "codeword")
      graft.llm.Pq.encodeTable(Tables.embeddings(s, d),
        "vec_id", "embedding", m = 8, k = 16, subDim = 8, cbDf)
        .select(col("vec_id"), posexplode(col("codes")))
        .select(col("vec_id"), col("pos").cast("long").as("subspace"),
          col("col").cast("long").as("code"))
    },
      // the broadcast-table path is bit-identical to the literal path
      // by construction — same oracle derivation
      (s"WITH ${pqEncodeCtes(8, 16, 8)}\n" +
        """SELECT vec_id, CAST(j AS BIGINT) AS subspace,
          |       CAST(c AS BIGINT) AS code
          |FROM a""".stripMargin)),

    // --- TRAINED product quantization: one distributed Lloyd round per
    // subspace (dyadic grid, exact sums), then ADC over the trained
    // reconstructions — lifts ADC recall@3 ~8× over seeded codebooks on
    // this corpus; the measurement is ann_pq_recall's job ---------------
    Row("ann_pqt_topk", (s, d) => {
      val e = Tables.embeddings(s, d)
      val eq = e.select(col("vec_id"),
        graft.llm.Clustering.quantize(col("embedding")).as("qvec"))
      val cbs = graft.llm.Pq.trainCodebooks(eq, "vec_id", "qvec",
        m = 8, k = 16, subDim = 8, iters = 1)
      graft.llm.Pq.adcTopKWith(eq, eq.filter(col("vec_id") < 20),
        "vec_id", "qvec", topK = 5, subDim = 8, cbs)
    },
      // trained-PQ ADC: the Lloyd round and encode replayed in SQL;
      // queries are the same quantized vectors, so every score is the
      // shared fold on bit-identical trained reconstructions
      (s"WITH ${pqTrainCtes(8, 16, 8)},\n" +
        """qt AS (SELECT vec_id AS query_id, w AS qv FROM wq
          |       WHERE vec_id < 20),
          |sct AS (SELECT qt.query_id, r.vec_id AS neighbor_id,
          |          list_dot_product(rv, rv)
          |            - 2.0 * list_dot_product(qv, rv) AS d
          |        FROM reconT r, qt WHERE r.vec_id <> qt.query_id)
          |SELECT query_id, rank, neighbor_id FROM (
          |  SELECT query_id, neighbor_id,
          |         CAST(row_number() OVER (PARTITION BY query_id
          |                                 ORDER BY d, neighbor_id)
          |           AS BIGINT) AS rank
          |  FROM sct) WHERE rank <= 5""".stripMargin)),

    // --- IVF-then-PQ: coarse cells prune the scan, ADC ranks within —
    // the FAISS IVFx,PQy architecture (the true billion-vector shape) ----
    Row("ann_ivfpq_topk", (s, d) => {
      val e = Tables.embeddings(s, d)
      IvfIndex(AxisIvf, SeededPq(m = 8, k = 16, subDim = 8)).topK(e,
        e.filter(col("vec_id") < 50), "vec_id", "embedding", k = 3,
        probes = 2)
    },
      // the ann_ivf_topk cell derivation (axis argmax/runner-up, raw
      // component sign) over the PQ reconstructions; ADC as in ann_pq_topk
      (s"WITH ${pqIvfCtes(8, 16, 8)}\n" +
        """SELECT query_id, rank, neighbor_id FROM (
          |  SELECT query_id, neighbor_id,
          |         CAST(row_number() OVER (PARTITION BY query_id
          |                                 ORDER BY d, neighbor_id)
          |           AS BIGINT) AS rank
          |  FROM sc) WHERE rank <= 3""".stripMargin)),

    // --- IVF-then-PQ with the TRAINED coarse quantizer: the deployed
    // FAISS IVFx,PQy shape with both stages real — kmeans cells prune
    // (distance-ranked probes, the ann_ivft_* quantizer), PQ codes rank
    // within; shares the trained-centroid cache with the ivft family ----
    Row("ann_ivfpqt_topk", (s, d) => {
      val e = Tables.embeddings(s, d)
      IvfIndex(sharedIvfTrained(s, d), SeededPq(m = 8, k = 16, subDim = 8))
        .topK(e, e.filter(col("vec_id") < 50), "vec_id", "embedding",
          k = 3, probes = 2)
    },
      // IVF+PQ with TRAINED coarse cells: the kmeans training replayed
      // (kmeansCtes), corpus cell = the a2 assignment, probes = the 2
      // nearest trained cells (s2 ranked), ADC over the seeded-codebook
      // reconstructions exactly as in ann_ivfpq_topk
      (s"WITH ${kmeansCtes(8, 2, 64)},\n" +
        s"${pqEncodeCtes(8, 16, 8)},\n" +
        """recon AS (SELECT vec_id, flatten(list(cv ORDER BY a.j)) AS rv
          |          FROM a JOIN cb ON cb.j = a.j AND cb.c = a.c
          |          GROUP BY vec_id),
          |tqp AS (SELECT vec_id AS query_id, j AS cell FROM (
          |          SELECT vec_id, j, row_number() OVER (
          |              PARTITION BY vec_id ORDER BY s2.s, j) AS rn
          |          FROM s2 WHERE vec_id < 50) WHERE rn <= 2),
          |tc AS (SELECT a2.vec_id AS neighbor_id, a2.cluster AS cell,
          |              rv
          |       FROM a2 JOIN recon ON recon.vec_id = a2.vec_id),
          |tq AS (SELECT tqp.query_id, tqp.cell, e.v AS qv
          |       FROM tqp JOIN e ON e.vec_id = tqp.query_id),
          |tsc AS (SELECT tq.query_id, tc.neighbor_id,
          |          list_dot_product(rv, rv)
          |            - 2.0 * list_dot_product(qv, rv) AS d
          |        FROM tc JOIN tq USING (cell)
          |        WHERE tc.neighbor_id <> tq.query_id)
          |SELECT query_id, rank, neighbor_id FROM (
          |  SELECT query_id, neighbor_id,
          |         CAST(row_number() OVER (PARTITION BY query_id
          |                                 ORDER BY d, neighbor_id)
          |           AS BIGINT) AS rank
          |  FROM tsc) WHERE rank <= 3""".stripMargin)),

    // --- recall@3 of the trained vs axis coarse stage UNDER the ADC
    // kernel, at equal probes (p=2) against one exact-L2 leg — the
    // ann_ivft_recall measurement carried into the PQ regime: does the
    // trained quantizer's cell quality survive code compression? One
    // len=64 universe for all legs ----------------------------------------
    Row("ann_ivfpqt_recall", (s, d) => {
      val e = Tables.embeddings(s, d)
        .filter(size(col("embedding")) === 64)
      val q = e.filter(col("vec_id") < 10)
      val pq = SeededPq(m = 8, k = 16, subDim = 8)
      val exact = sharedExactL2Leg(s, d) // one exact leg serves both methods (and the whole eval family — memoized)
      val trained = IvfIndex(sharedIvfTrained(s, d), pq).topK(e, q,
        "vec_id", "embedding", k = 3, probes = 2)
      val axis = IvfIndex(AxisIvf, pq).topK(e, q, "vec_id", "embedding",
        k = 3, probes = 2)
      Similarity.recallAtK(exact, trained, k = 3)
        .select(lit("ivfpq_trained").as("method"), col("query_id"),
          col("n_hits"), col("recall"))
        .unionByName(Similarity.recallAtK(exact, axis, k = 3)
          .select(lit("ivfpq_axis").as("method"), col("query_id"),
            col("n_hits"), col("recall")))
    },
      // trained vs axis coarse cells under ADC, one exact-L2 leg over
      // the shared len=64 universe; the trained fragments come from
      // kmeansCtes (a2 cells, s2-ranked probes), the axis cells from
      // the shared ivfCellCtes, reconstructions from pqEncodeCtes
      (s"WITH ${kmeansCtes(8, 2, 64)},\n" +
        s"${pqEncodeCtes(8, 16, 8)},\n" +
        """recon AS (SELECT vec_id, flatten(list(cv ORDER BY a.j)) AS rv
          |          FROM a JOIN cb ON cb.j = a.j AND cb.c = a.c
          |          GROUP BY vec_id),
          |e64 AS (SELECT e.vec_id, e.v FROM e JOIN wq USING (vec_id)),
          |""".stripMargin +
        ivfCellCtes("e64") + """,
          |xq AS (SELECT vec_id AS query_id, v AS qv FROM e64
          |       WHERE vec_id < 10),
          |x AS (SELECT xq.query_id, c.vec_id AS neighbor_id,
          |        list_dot_product(c.v, c.v)
          |          - 2.0 * list_dot_product(qv, c.v) AS d
          |      FROM e64 c, xq WHERE c.vec_id <> xq.query_id),
          |ex AS MATERIALIZED (SELECT query_id, neighbor_id FROM (
          |  SELECT query_id, neighbor_id, row_number() OVER (
          |    PARTITION BY query_id ORDER BY d, neighbor_id) AS rank
          |  FROM x) WHERE rank <= 3),
          |tqp AS (SELECT vec_id AS query_id, j AS cell FROM (
          |          SELECT vec_id, j, row_number() OVER (
          |              PARTITION BY vec_id ORDER BY s2.s, j) AS rn
          |          FROM s2 WHERE vec_id < 10) WHERE rn <= 2),
          |tc AS (SELECT a2.vec_id AS neighbor_id, a2.cluster AS cell,
          |              rv
          |       FROM a2 JOIN recon ON recon.vec_id = a2.vec_id),
          |tsc AS (SELECT tqp.query_id, tc.neighbor_id,
          |          list_dot_product(rv, rv)
          |            - 2.0 * list_dot_product(q.v, rv) AS d
          |        FROM tc JOIN tqp USING (cell)
          |        JOIN e64 q ON q.vec_id = tqp.query_id
          |        WHERE tc.neighbor_id <> tqp.query_id),
          |tapx AS (SELECT query_id, neighbor_id FROM (
          |  SELECT query_id, neighbor_id, row_number() OVER (
          |    PARTITION BY query_id ORDER BY d, neighbor_id) AS rank
          |  FROM tsc) WHERE rank <= 3),
          |aq AS (SELECT cc.vec_id AS query_id,
          |              unnest([cell_w, cell_r]) AS cell
          |       FROM ivcell cc WHERE cc.vec_id < 10),
          |ac AS (SELECT cc.vec_id AS neighbor_id, cell_w AS cell, rv
          |       FROM ivcell cc JOIN recon ON recon.vec_id = cc.vec_id),
          |asx AS (SELECT aq.query_id, ac.neighbor_id,
          |          list_dot_product(rv, rv)
          |            - 2.0 * list_dot_product(q.v, rv) AS d
          |        FROM ac JOIN aq USING (cell)
          |        JOIN e64 q ON q.vec_id = aq.query_id
          |        WHERE ac.neighbor_id <> aq.query_id),
          |aapx AS (SELECT query_id, neighbor_id FROM (
          |  SELECT query_id, neighbor_id, row_number() OVER (
          |    PARTITION BY query_id ORDER BY d, neighbor_id) AS rank
          |  FROM asx) WHERE rank <= 3)
          |SELECT 'ivfpq_trained' AS method, query_id, n_hits,
          |       round(n_hits / CAST(n_exact AS DOUBLE), 6) AS recall
          |FROM (
          |  SELECT ex.query_id,
          |         CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL
          |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
          |         COUNT(*) AS n_exact
          |  FROM ex LEFT JOIN tapx a
          |    ON a.query_id = ex.query_id
          |   AND a.neighbor_id = ex.neighbor_id
          |  GROUP BY 1)
          |UNION ALL
          |SELECT 'ivfpq_axis' AS method, query_id, n_hits,
          |       round(n_hits / CAST(n_exact AS DOUBLE), 6) AS recall
          |FROM (
          |  SELECT ex.query_id,
          |         CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL
          |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
          |         COUNT(*) AS n_exact
          |  FROM ex LEFT JOIN aapx a
          |    ON a.query_id = ex.query_id
          |   AND a.neighbor_id = ex.neighbor_id
          |  GROUP BY 1)""".stripMargin)),

    // --- the FULL FAISS IVFx,PQy: trained coarse cells prune the scan
    // AND trained codebooks encode RESIDUALS (v − centroid[cell]) — the
    // deployed shape (Jégou et al. 2011 §IV). The ADC distance keeps
    // the per-(query, cell) ‖q−c‖² term: a query probing p > 1 cells
    // has a different residual in each, so the usual drop-the-constant
    // argument no longer holds across cells -----------------------------
    Row("ann_ivfpqt2_topk", (s, d) => {
      val e = Tables.embeddings(s, d)
      sharedIvfPq(s, d).topK(e, e.filter(col("vec_id") < 50),
        "vec_id", "embedding", k = 3, probes = 2,
        residuals = Some(sharedResidualFrame(s, d)))
    },
      // full residual IVF,PQ: kmeans training replayed (kmeansCtes),
      // residuals against the c1 centroid table, residual-codebook
      // Lloyd rounds + encode (pqTrainBodyCtes prefixed 'r'), three-term
      // ADC ranking within the 2 probed cells
      ivfPqResidualTopKSql),

    // --- the compressed store BUILD as its own timed row (the r12
    // build/probe split): writes (neighbor_id, PQ codes) partitioned by
    // trained cell + both sidecars, then reads the store back for
    // per-cell row counts — oracle-checking the LAYOUT (which vector
    // landed in which cell directory) ------------------------------------
    Row("ann_ivfpqt_build", (s, d) => {
      val idx = sharedIvfPqIndex(s, d)
      s.read.parquet(idx)
        .groupBy(col("cell").cast("long").as("cell"))
        .agg(count(lit(1)).as("n_rows"))
    },
      // the layout check: every len-64 vector lands in its a2 cell's
      // directory (the build row's per-cell counts)
      (s"WITH ${kmeansCtes(8, 2, 64)}\n" +
        """SELECT CAST(cluster AS BIGINT) AS cell,
          |       count(*) AS n_rows
          |FROM a2 GROUP BY 1""".stripMargin)),

    // --- COLD-SESSION serving of the compressed store: BOTH quantizer
    // stages come from the store's own sidecars (IvfIndex.load with
    // ResidualPq.Stored, not the session caches), candidates reconstruct
    // from the stored m-byte codes, probes arrive as PartitionFilters.
    // Row-identical to ann_ivfpqt2_topk (same oracle): the store
    // changes WHERE codes are read from, not what they decode to --------
    Row("ann_ivfpqt_indexed", (s, d) => {
      val e = Tables.embeddings(s, d)
      val idx = sharedIvfPqIndex(s, d)
      IvfIndex.load(s, idx, dim = 64, ResidualPq.Stored) // sidecars, NOT cache
        .probe(s.read.parquet(idx), e.filter(col("vec_id") < 50),
          "vec_id", "embedding", k = 3, probes = 2)
    },
      // the compressed store serves the SAME rows it was encoded from:
      // cold sidecar loaders hand back bit-equal quantizers, so the
      // indexed read is row-identical to the unmaterialized path
      ivfPqResidualTopKSql),

    // --- probes-axis sizing for the FULL residual index: recall@3 at
    // probes ∈ {1, 2, 4, 8} — the knob a deployment of the compressed
    // store actually tunes (the ann_ivft_probes posture carried into
    // the PQ regime; unlike that sweep, p = 8 does NOT read 1.0 — the
    // ceiling is the fine quantizer's, which is the point of reading
    // the two curves together) -------------------------------------------
    Row("ann_ivfpqt2_probes", (s, d) => {
      val e = Tables.embeddings(s, d)
        .filter(size(col("embedding")) === 64) // the kmeans universe
      val q = e.filter(col("vec_id") < 10)
      val ivf = sharedIvfPq(s, d)
      val exact = sharedExactL2Leg(s, d) // one exact leg serves the sweep (and the whole eval family — memoized)
      ivftProbeSweep.map { p =>
        val approx = ivf.topK(e, q, "vec_id", "embedding", k = 3,
          probes = p, residuals = Some(sharedResidualFrame(s, d)))
        Similarity.recallAtK(exact, approx, k = 3)
          .select(lit(p.toLong).as("probes"), col("query_id"),
            col("n_hits"), col("recall"))
      }.reduce(_ unionByName _)
    },
      // the probes sweep over the full residual index: per-depth
      // candidate blocks from the full cell ranking, one exact-L2 leg
      ivfPqResidualProbesSql(ivftProbeSweep)),

    // --- IVF,SQ8 (the serving-regime triad's middle point): int8
    // codes + scale partitioned by trained cell — 4× smaller than the
    // float store at near-exact recall; build row checks the layout ------
    Row("ann_ivfsq_build", (s, d) => {
      val idx = sharedIvfSqIndex(s, d)
      s.read.parquet(idx)
        .groupBy(col("cell").cast("long").as("cell"))
        .agg(count(lit(1)).as("n_rows"))
    },
      // the SQ8 store's layout is the same a2 cell assignment (codes
      // don't move rows between cells)
      (s"WITH ${kmeansCtes(8, 2, 64)}\n" +
        """SELECT CAST(cluster AS BIGINT) AS cell,
          |       count(*) AS n_rows
          |FROM a2 GROUP BY 1""".stripMargin)),

    // --- serving the SQ8 store: probed cells via PartitionFilters,
    // candidates dequantize their stored codes, the query snaps through
    // the same int8 grid (ann_int8_topk's discipline under cell
    // pruning); quantizer from the store's own sidecar -------------------
    Row("ann_ivfsq_indexed", (s, d) => {
      val e = Tables.embeddings(s, d)
      val idx = sharedIvfSqIndex(s, d)
      IvfIndex.load(s, idx, dim = 64, Sq8) // sidecar, NOT cache
        .probe(s.read.parquet(idx), e.filter(col("vec_id") < 50),
          "vec_id", "embedding", k = 3, probes = 2)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"))
    },
      // SQ8 serving: the ann_int8_topk snap/normalize grid restricted
      // to the 2 probed trained cells, cosine top-3 — grid, cells and
      // ranking all replayed
      (s"WITH ${kmeansCtes(8, 2, 64)},\n" +
        """sq0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
          |          list_max(list_transform(embedding,
          |            x -> abs(CAST(x AS DOUBLE)))) AS amax
          |        FROM embeddings WHERE len(embedding) = 64),
          |sdq AS (SELECT vec_id,
          |          CASE WHEN amax IS NULL OR amax = 0
          |               THEN list_transform(v, x -> 0.0)
          |               ELSE list_transform(v, x ->
          |                 greatest(-127.0, least(127.0,
          |                     round(x * 127.0 / amax)))
          |                   * (amax / 127.0))
          |          END AS v
          |        FROM sq0),
          |snv AS (SELECT vec_id,
          |          list_transform(v,
          |            x -> x / sqrt(list_dot_product(v, v))) AS nv
          |        FROM sdq),
          |stqp AS (SELECT query_id, cell FROM (
          |           SELECT vec_id AS query_id, j AS cell,
          |                  row_number() OVER (
          |                      PARTITION BY vec_id ORDER BY s, j) AS rn
          |           FROM s2 WHERE vec_id < 50) WHERE rn <= 2),
          |scc AS (SELECT vec_id AS neighbor_id, cluster AS cell
          |        FROM a2),
          |ssc AS (SELECT stqp.query_id, scc.neighbor_id,
          |          list_dot_product(q.nv, c.nv) AS score
          |        FROM scc JOIN stqp USING (cell)
          |        JOIN snv q ON q.vec_id = stqp.query_id
          |        JOIN snv c ON c.vec_id = scc.neighbor_id
          |        WHERE scc.neighbor_id <> stqp.query_id)
          |SELECT query_id, rank, neighbor_id FROM (
          |  SELECT query_id, neighbor_id,
          |         CAST(row_number() OVER (PARTITION BY query_id
          |             ORDER BY score DESC, neighbor_id)
          |           AS BIGINT) AS rank
          |  FROM ssc) WHERE rank <= 3""".stripMargin)),

    // --- recall@5 of SQ8 vs the FLOAT trained-IVF path at equal
    // probes against one exact-cosine leg — the measurement that
    // completes the store-regime pricing: if SQ8 ≈ float here, the 4×
    // smaller store serves at no recall cost (int8's grid loss is
    // sub-rank-resolution on this corpus) --------------------------------
    Row("ann_ivfsq_recall", (s, d) => {
      val e = Tables.embeddings(s, d)
        .filter(size(col("embedding")) === 64)
      val q = e.filter(col("vec_id") < 10)
      val coarse = sharedIvfTrained(s, d)
      val exact = Similarity.bruteForceTopK(e, q, "vec_id", "embedding",
        k = 5).localCheckpoint() // one exact leg serves both methods
      val sq = IvfIndex(coarse, Sq8).topK(e, q, "vec_id", "embedding",
        k = 5, probes = 2)
      val fl = IvfIndex(coarse, Flat).topK(e, q, "vec_id", "embedding",
        k = 5, probes = 2)
      Similarity.recallAtK(exact, sq, k = 5)
        .select(lit("ivf_sq8").as("method"), col("query_id"),
          col("n_hits"), col("recall"))
        .unionByName(Similarity.recallAtK(exact, fl, k = 5)
          .select(lit("ivf_float").as("method"), col("query_id"),
            col("n_hits"), col("recall")))
    },
      // SQ8 vs float trained-IVF at equal probes: the snap grid (sq0/
      // sdq/snv — the ann_ivfsq_indexed fragments at maxQueryId=10) and
      // the raw-normalized tnv/tcc/tqp fragments share the kmeans
      // cells; one exact-cosine leg over tnv serves both recall blocks
      (s"WITH ${kmeansCtes(8, 2, 64)},\n" +
        ivfTrainedCtes(maxQueryId = 10, probes = 2) + """,
          |sq0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
          |          list_max(list_transform(embedding,
          |            x -> abs(CAST(x AS DOUBLE)))) AS amax
          |        FROM embeddings WHERE len(embedding) = 64),
          |sdq AS (SELECT vec_id,
          |          CASE WHEN amax IS NULL OR amax = 0
          |               THEN list_transform(v, x -> 0.0)
          |               ELSE list_transform(v, x ->
          |                 greatest(-127.0, least(127.0,
          |                     round(x * 127.0 / amax)))
          |                   * (amax / 127.0))
          |          END AS v
          |        FROM sq0),
          |snv AS (SELECT vec_id,
          |          list_transform(v,
          |            x -> x / sqrt(list_dot_product(v, v))) AS nv
          |        FROM sdq),
          |xq AS (SELECT vec_id AS query_id, nv AS qv FROM tnv
          |       WHERE vec_id < 10),
          |x AS (SELECT xq.query_id, tnv.vec_id AS neighbor_id,
          |             list_dot_product(qv, tnv.nv) AS score
          |      FROM tnv, xq WHERE tnv.vec_id <> xq.query_id),
          |ex AS MATERIALIZED (SELECT query_id, neighbor_id FROM (
          |  SELECT query_id, neighbor_id, row_number() OVER (
          |    PARTITION BY query_id ORDER BY score DESC, neighbor_id)
          |      AS rank
          |  FROM x) WHERE rank <= 5),
          |tsq AS (SELECT tqp.query_id, tcc.neighbor_id,
          |          list_dot_product(q.nv, c.nv) AS score
          |        FROM tcc JOIN tqp USING (cell)
          |        JOIN snv q ON q.vec_id = tqp.query_id
          |        JOIN snv c ON c.vec_id = tcc.neighbor_id
          |        WHERE tcc.neighbor_id <> tqp.query_id),
          |sqapx AS (SELECT query_id, neighbor_id FROM (
          |  SELECT query_id, neighbor_id, row_number() OVER (
          |    PARTITION BY query_id ORDER BY score DESC, neighbor_id)
          |      AS rank
          |  FROM tsq) WHERE rank <= 5),
          |tfl AS (SELECT tqp.query_id, tcc.neighbor_id,
          |          list_dot_product(q.nv, c.nv) AS score
          |        FROM tcc JOIN tqp USING (cell)
          |        JOIN tnv q ON q.vec_id = tqp.query_id
          |        JOIN tnv c ON c.vec_id = tcc.neighbor_id
          |        WHERE tcc.neighbor_id <> tqp.query_id),
          |flapx AS (SELECT query_id, neighbor_id FROM (
          |  SELECT query_id, neighbor_id, row_number() OVER (
          |    PARTITION BY query_id ORDER BY score DESC, neighbor_id)
          |      AS rank
          |  FROM tfl) WHERE rank <= 5)
          |""".stripMargin +
        recallSelectSql("ivf_sq8", "sqapx") + "\nUNION ALL\n" +
        recallSelectSql("ivf_float", "flapx"))),

    // --- the deployed composition (FAISS IVFx,PQy,RFlat): codes
    // shortlist candK=25, exact-L2 refine re-ranks ONLY the shortlist —
    // recall@3 of refined vs codes-only against one exact leg, the
    // measurement that shows the refine stage buying back the fine
    // quantizer's ceiling at |Q|·candK float cost ------------------------
    Row("ann_ivfpqt2_rerank", (s, d) => {
      val e = Tables.embeddings(s, d)
        .filter(size(col("embedding")) === 64)
      val q = e.filter(col("vec_id") < 10)
      val ivf = sharedIvfPq(s, d)
      val res = Some(sharedResidualFrame(s, d))
      val exact = sharedExactL2Leg(s, d) // one exact leg serves both methods (and the whole eval family — memoized)
      val refined = ivf.refine(ivf.topK(e, q, "vec_id", "embedding",
          k = 25, probes = 2, residuals = res), // the candK = 25 shortlist
        e, q, "vec_id", "embedding", k = 3)
      val codes = ivf.topK(e, q, "vec_id", "embedding", k = 3, probes = 2,
        residuals = res)
      Similarity.recallAtK(exact, refined, k = 3)
        .select(lit("ivfpq_refined").as("method"), col("query_id"),
          col("n_hits"), col("recall"))
        .unionByName(Similarity.recallAtK(exact, codes, k = 3)
          .select(lit("ivfpq_codes").as("method"), col("query_id"),
            col("n_hits"), col("recall")))
    },
      // the refine composition: rsc ranked to candK=25, exact-L2
      // re-rank of only the shortlist, recall vs the same exact leg —
      // codes-only apx included for the side-by-side lift
      (s"WITH ${kmeansCtes(8, 2, 64)},\n" +
        residualCtes(maxQueryId = 10, probes = 2) + """,
          |e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          |       FROM embeddings WHERE len(embedding) = 64),
          |xq AS (SELECT vec_id AS query_id, v AS qv FROM e0
          |       WHERE vec_id < 10),
          |x AS (SELECT xq.query_id, c.vec_id AS neighbor_id,
          |        list_dot_product(c.v, c.v)
          |          - 2.0 * list_dot_product(qv, c.v) AS d
          |      FROM e0 c, xq WHERE c.vec_id <> xq.query_id),
          |ex AS MATERIALIZED (SELECT query_id, neighbor_id FROM (
          |  SELECT query_id, neighbor_id, row_number() OVER (
          |    PARTITION BY query_id ORDER BY d, neighbor_id) AS rank
          |  FROM x) WHERE rank <= 3),
          |rapx AS (SELECT query_id, neighbor_id FROM (
          |  SELECT query_id, neighbor_id, row_number() OVER (
          |    PARTITION BY query_id ORDER BY d, neighbor_id) AS rank
          |  FROM rsc) WHERE rank <= 3),
          |rcand AS (SELECT query_id, neighbor_id FROM (
          |  SELECT query_id, neighbor_id, row_number() OVER (
          |    PARTITION BY query_id ORDER BY d, neighbor_id) AS rank
          |  FROM rsc) WHERE rank <= 25),
          |rref AS (SELECT rcand.query_id, rcand.neighbor_id,
          |           list_dot_product(c.v, c.v)
          |             - 2.0 * list_dot_product(q.v, c.v) AS d
          |         FROM rcand
          |         JOIN e0 c ON c.vec_id = rcand.neighbor_id
          |         JOIN e0 q ON q.vec_id = rcand.query_id),
          |rfapx AS (SELECT query_id, neighbor_id FROM (
          |  SELECT query_id, neighbor_id, row_number() OVER (
          |    PARTITION BY query_id ORDER BY d, neighbor_id) AS rank
          |  FROM rref) WHERE rank <= 3)
          |""".stripMargin +
        recallSelectSql("ivfpq_refined", "rfapx") + "\nUNION ALL\n" +
        recallSelectSql("ivfpq_codes", "rapx"))),

    // --- the COLD deployed composition end to end (IVFx,PQy,RFlat
    // from the store): both quantizers from the store's own sidecars,
    // candK shortlist from the compressed codes behind a
    // PartitionFilters probe, exact refine touching ONLY the
    // |Q|·candK shortlist rows of the float corpus — the production
    // read path of a compressed index at high recall. The oracle is
    // the refined ranking itself (the rerank oracle's rref chain),
    // which also pins indexed-refined ≡ unmaterialized-refined. Named
    // inside the ann_ivfpqt_* family ON PURPOSE: Bench runs queries
    // name-sorted, and this row must sort AFTER ann_ivfpqt_build so
    // the build row keeps absorbing the store write + training (the
    // r12 build/probe timing split) and this row times ONLY the cold
    // serve — an earlier name (ann_ivfpq_served) silently inverted
    // that attribution ---------------------------------------------------
    // candK = 50: the ann_ivfpq_candk sweep's named operating point
    // (~85% of the 10→100 recall span at half the peak float-read cost;
    // marginal recall per read drops ~3× beyond it) — the served row
    // ships what the sizing row priced. candK=25 remains measured as
    // the budget point in ann_ivfpqt2_rerank.
    Row("ann_ivfpqt_served", (s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") < 10)
      val idx = sharedIvfPqIndex(s, d)
      val ivf = IvfIndex.load(s, idx, dim = 64, ResidualPq.Stored) // sidecars, NOT cache
      ivf.refine(ivf.probe(s.read.parquet(idx), q, "vec_id", "embedding",
          k = 50, probes = 2), // the candK = 50 shortlist
        e, q, "vec_id", "embedding", k = 3)
    },
      // the cold store-served refine: the refined RANKING itself (the
      // rerank oracle's rref chain, emitted as rows instead of folded
      // into recall) — shared derivation, so the cold path is pinned
      // row-identical to the unmaterialized refine; candK = 50, the
      // sweep's named operating point (the engine row ships it)
      (s"WITH ${kmeansCtes(8, 2, 64)},\n" +
        residualCtes(maxQueryId = 10, probes = 2) + """,
          |e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          |       FROM embeddings WHERE len(embedding) = 64),
          |rcand AS (SELECT query_id, neighbor_id FROM (
          |  SELECT query_id, neighbor_id, row_number() OVER (
          |    PARTITION BY query_id ORDER BY d, neighbor_id) AS rank
          |  FROM rsc) WHERE rank <= 50),
          |rref AS (SELECT rcand.query_id, rcand.neighbor_id,
          |           list_dot_product(c.v, c.v)
          |             - 2.0 * list_dot_product(q.v, c.v) AS d
          |         FROM rcand
          |         JOIN e0 c ON c.vec_id = rcand.neighbor_id
          |         JOIN e0 q ON q.vec_id = rcand.query_id)
          |SELECT query_id, rank, neighbor_id FROM (
          |  SELECT query_id, neighbor_id,
          |         CAST(row_number() OVER (PARTITION BY query_id
          |                                 ORDER BY d, neighbor_id)
          |           AS BIGINT) AS rank
          |  FROM rref) WHERE rank <= 3""".stripMargin)),

    // --- the measurement that motivated the residual stage: recall@3
    // of trained-codebook RESIDUAL ADC vs seeded-raw ADC at equal
    // m/k/probes against one exact-L2 leg — r13's ann_ivfpqt_recall
    // said "the seeded fine quantizer dominates the loss"; this row
    // shows what training it on residuals buys back ---------------------
    Row("ann_ivfpqt2_recall", (s, d) => {
      val e = Tables.embeddings(s, d)
        .filter(size(col("embedding")) === 64)
      val q = e.filter(col("vec_id") < 10)
      val exact = sharedExactL2Leg(s, d) // one exact leg serves both methods (and the whole eval family — memoized)
      val resid = sharedIvfPq(s, d).topK(e, q, "vec_id", "embedding",
        k = 3, probes = 2, residuals = Some(sharedResidualFrame(s, d)))
      val seeded = IvfIndex(sharedIvfTrained(s, d),
          SeededPq(m = 8, k = 16, subDim = 8))
        .topK(e, q, "vec_id", "embedding", k = 3, probes = 2)
      Similarity.recallAtK(exact, resid, k = 3)
        .select(lit("ivfpq_residual").as("method"), col("query_id"),
          col("n_hits"), col("recall"))
        .unionByName(Similarity.recallAtK(exact, seeded, k = 3)
          .select(lit("ivfpq_seeded").as("method"), col("query_id"),
            col("n_hits"), col("recall")))
    },
      // residual-trained vs seeded-raw fine quantizer under the SAME
      // trained coarse cells, one exact-L2 leg over the len-64
      // universe; seeded fragments mirror ann_ivfpqt_recall's trained
      // leg (pqEncodeCtes reconstructions over a2 cells)
      (s"WITH ${kmeansCtes(8, 2, 64)},\n" +
        residualCtes(maxQueryId = 10, probes = 2) + ",\n" +
        pqEncodeCtes(8, 16, 8) + """,
          |recon AS (SELECT vec_id, flatten(list(cv ORDER BY a.j)) AS rv
          |          FROM a JOIN cb ON cb.j = a.j AND cb.c = a.c
          |          GROUP BY vec_id),
          |e64 AS (SELECT e.vec_id, e.v FROM e JOIN wq USING (vec_id)),
          |xq AS (SELECT vec_id AS query_id, v AS qv FROM e64
          |       WHERE vec_id < 10),
          |x AS (SELECT xq.query_id, c.vec_id AS neighbor_id,
          |        list_dot_product(c.v, c.v)
          |          - 2.0 * list_dot_product(qv, c.v) AS d
          |      FROM e64 c, xq WHERE c.vec_id <> xq.query_id),
          |ex AS MATERIALIZED (SELECT query_id, neighbor_id FROM (
          |  SELECT query_id, neighbor_id, row_number() OVER (
          |    PARTITION BY query_id ORDER BY d, neighbor_id) AS rank
          |  FROM x) WHERE rank <= 3),
          |rapx AS (SELECT query_id, neighbor_id FROM (
          |  SELECT query_id, neighbor_id, row_number() OVER (
          |    PARTITION BY query_id ORDER BY d, neighbor_id) AS rank
          |  FROM rsc) WHERE rank <= 3),
          |tqp AS (SELECT vec_id AS query_id, j AS cell FROM (
          |          SELECT vec_id, j, row_number() OVER (
          |              PARTITION BY vec_id ORDER BY s2.s, j) AS rn
          |          FROM s2 WHERE vec_id < 10) WHERE rn <= 2),
          |tc AS (SELECT a2.vec_id AS neighbor_id, a2.cluster AS cell,
          |              rv
          |       FROM a2 JOIN recon ON recon.vec_id = a2.vec_id),
          |tsc AS (SELECT tqp.query_id, tc.neighbor_id,
          |          list_dot_product(rv, rv)
          |            - 2.0 * list_dot_product(q.v, rv) AS d
          |        FROM tc JOIN tqp USING (cell)
          |        JOIN e64 q ON q.vec_id = tqp.query_id
          |        WHERE tc.neighbor_id <> tqp.query_id),
          |tapx AS (SELECT query_id, neighbor_id FROM (
          |  SELECT query_id, neighbor_id, row_number() OVER (
          |    PARTITION BY query_id ORDER BY d, neighbor_id) AS rank
          |  FROM tsc) WHERE rank <= 3)
          |""".stripMargin +
        recallSelectSql("ivfpq_residual", "rapx") + "\nUNION ALL\n" +
        recallSelectSql("ivfpq_seeded", "tapx"))),

    // --- the m/k CODEBOOK-BUDGET sweep: recall@3 at fixed p=2 across
    // (m,k) ∈ {(8,16),(8,64),(16,16)} against one exact-L2 leg — the
    // knob the flat ann_ivfpqt2_probes curve says owns the ceiling
    // (probes saturate at 0.30→0.33 while the trained-float path reads
    // 1.0: the loss lives in the fine quantizer, so the next recall
    // dollar goes to the codebook budget, and this row prices it
    // against the refine stage's 0.67 at candK=25). dim=64 constrains
    // subDim = 64/m; every leg trains its own residual books (2 Lloyd
    // rounds, the serving depth), the (8,16) leg from the shared cache --
    Row("ann_ivfpq_mk", (s, d) => {
      val e = Tables.embeddings(s, d)
        .filter(size(col("embedding")) === 64) // the kmeans universe
      val q = e.filter(col("vec_id") < 10)
      val coarse = sharedIvfTrained(s, d)
      val exact = sharedExactL2Leg(s, d) // one exact leg serves the sweep (and the whole eval family — memoized)
      // r18: every grid leg trains from — and ADC-scans against — the
      // ONE shared residual checkpoint: the (quantize → cell-assign →
      // residual) frame is m/k-independent (dim = 64 throughout), so
      // the legs genuinely differ only in their Lloyd runs and codebook
      // layouts. Bit-identical trainings (PqKernelsSpec pins the
      // shared-frame path against ResidualPq.train).
      val resFrame = sharedResidualFrame(s, d)
      ivfPqMkSweep.map { case (m, k) =>
        val pq =
          if (m == 8 && k == 16) sharedResidualPq(s, d)
          else ResidualPq(graft.llm.Pq.trainCodebooks(resFrame,
            "vec_id", "__res", m = m, k = k, subDim = 64 / m, iters = 2))
        val approx = IvfIndex(coarse, pq).topK(e, q, "vec_id", "embedding",
          k = 3, probes = 2, residuals = Some(resFrame))
        Similarity.recallAtK(exact, approx, k = 3)
          .select(lit(m.toLong).as("m"), lit(k.toLong).as("k"),
            col("query_id"), col("n_hits"), col("recall"))
      }.reduce(_ unionByName _)
    },
      // the m/k budget sweep: per leg a FULL fine-stage training replay
      // at that (m, k) over the shared coarse stage + one materialized
      // exact leg — the engine enumerates the same ivfPqMkSweep points
      residualSweepSql(ivfPqMkSweep.map { case (m, k) =>
      (s"m${m}k$k", m, k, 2,
        s"CAST($m AS BIGINT) AS m, CAST($k AS BIGINT) AS k")
    })),

    // --- the TRAINING-DEPTH sweep: recall@3 at iters ∈ {1,2,4}, fixed
    // m=8/k=16/p=2 — disambiguates the mk sweep's conclusion (is the
    // 0.33 fine-quantizer ceiling a budget limit or a training-depth
    // artifact?); the iters=2 leg rides the shared serving books ---------
    Row("ann_ivfpq_iters", (s, d) => {
      val e = Tables.embeddings(s, d)
        .filter(size(col("embedding")) === 64)
      val q = e.filter(col("vec_id") < 10)
      val coarse = sharedIvfTrained(s, d)
      val exact = sharedExactL2Leg(s, d) // memoized across the eval family
      // r17: Lloyd rounds nest, so ONE training run to max(iters)
      // snapshots every leg's books (bit-identical to the per-leg
      // trainings it replaces — LlmSpec pins snapshot ≡ independent
      // run, and snapshot(2) ≡ the shared serving books): one init +
      // max(iters) rounds instead of one full training per leg.
      // r18: the one Lloyd run (and each of its max(iters) rounds) and
      // the per-leg ADC scans all read the shared residual checkpoint
      // instead of re-deriving quantize+cell+residual from parquet per
      // round (guide §1.2/§5) — values bit-identical, LlmSpec-pinned.
      val resFrame = sharedResidualFrame(s, d)
      val snaps = graft.llm.Pq.trainCodebooksSnapshots(
        resFrame, "vec_id", "__res",
        m = 8, k = 16, subDim = 8, snapshots = ivfPqItersSweep)
      ivfPqItersSweep.map { i =>
        val approx = IvfIndex(coarse, ResidualPq(snaps(i))).topK(e, q,
          "vec_id", "embedding", k = 3, probes = 2,
          residuals = Some(resFrame))
        Similarity.recallAtK(exact, approx, k = 3)
          .select(lit(i.toLong).as("iters"), col("query_id"),
            col("n_hits"), col("recall"))
      }.reduce(_ unionByName _)
    },
      // the training-depth sweep: per leg the SAME replay unrolled to
      // that leg's Lloyd-round count at the serving m/k
      residualSweepSql(ivfPqItersSweep.map { i =>
      (s"it$i", 8, 16, i, s"CAST($i AS BIGINT) AS iters")
    })),

    // --- the REFINE-DEPTH sweep: recall@3 at candK ∈ {10,25,50,100},
    // fixed m=8/k=16/p=2 — prices the knob the m/k and iters sweeps
    // declared the owner of the next recall dollar (SCALE.md §15: a 4×
    // codeword budget reads flat-to-negative while refine at candK=25
    // reads 0.67/0.567; this row completes the decision table with the
    // recall-vs-float-reads curve, since refine cost is exactly
    // |Q|·candK float rows). Every leg rides the ONE shared coarse
    // quantizer + residual books (training happens once — the sweep
    // varies only the shortlist depth), one shared exact-L2 leg, and
    // ONE shared ADC ranking at the deepest candK: the codes ranking is
    // deterministic, so leg ck's shortlist IS the shared ranking's
    // rank <= ck prefix — one ADC scan instead of one per leg ----------
    Row("ann_ivfpq_candk", (s, d) => {
      val e = Tables.embeddings(s, d)
        .filter(size(col("embedding")) === 64)
      val q = e.filter(col("vec_id") < 10)
      val ivf = sharedIvfPq(s, d)
      val exact = sharedExactL2Leg(s, d) // one exact leg serves the sweep (and the whole eval family — memoized)
      val ranked = ivf.topK(e, q, "vec_id", "embedding",
          k = ivfPqCandKSweep.max, probes = 2,
          residuals = Some(sharedResidualFrame(s, d)))
        .localCheckpoint() // one ADC scan serves every leg
      ivfPqCandKSweep.map { candK =>
        val refined = ivf.refine(ranked.filter(col("rank") <= candK), e, q,
          "vec_id", "embedding", k = 3)
        Similarity.recallAtK(exact, refined, k = 3)
          .select(lit(candK.toLong).as("cand_k"), col("query_id"),
            col("n_hits"), col("recall"))
      }.reduce(_ unionByName _)
    },
      // the refine-depth sweep: one coarse+fine replay at the serving
      // configuration, per candK a shortlist + exact-L2 re-rank block
      refineCandKSweepSql(ivfPqCandKSweep)),

    // --- recall@k of IVF+PQ vs the exact L2 baseline — the measurement
    // that sizes m/k/probes before committing to a compressed index ------
    Row("ann_pq_recall", (s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") < 50)
      val exact = graft.llm.Pq.exactL2TopK(e, q, "vec_id", "embedding",
        topK = 3)
      val approx = IvfIndex(AxisIvf, SeededPq(m = 8, k = 16, subDim = 8))
        .topK(e, q, "vec_id", "embedding", k = 3, probes = 2)
      Similarity.recallAtK(exact, approx, k = 3)
        .select(col("query_id"), col("n_hits"), col("recall"))
    },
      // approximate = the IVF+PQ ranking above; exact = raw-vector L2
      // via the same comparison idiom; hits aggregated per query with
      // the actual exact-result size as the denominator
      (s"WITH ${pqIvfCtes(8, 16, 8)},\n" +
        """apx AS (SELECT query_id, neighbor_id FROM (
          |  SELECT query_id, neighbor_id,
          |         row_number() OVER (PARTITION BY query_id
          |                            ORDER BY d, neighbor_id) AS rank
          |  FROM sc) WHERE rank <= 3),
          |xq AS (SELECT vec_id AS query_id, v AS qv FROM e
          |       WHERE vec_id < 50),
          |x AS (SELECT xq.query_id, e.vec_id AS neighbor_id,
          |        list_dot_product(e.v, e.v)
          |          - 2.0 * list_dot_product(xq.qv, e.v) AS d
          |      FROM e, xq WHERE e.vec_id <> xq.query_id),
          |ex AS (SELECT query_id, neighbor_id FROM (
          |  SELECT query_id, neighbor_id,
          |         row_number() OVER (PARTITION BY query_id
          |                            ORDER BY d, neighbor_id) AS rank
          |  FROM x) WHERE rank <= 3)
          |SELECT query_id, n_hits,
          |       round(n_hits / CAST(n_exact AS DOUBLE), 6) AS recall
          |FROM (
          |  SELECT ex.query_id,
          |         CAST(sum(CASE WHEN apx.neighbor_id IS NOT NULL
          |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
          |         COUNT(*) AS n_exact
          |  FROM ex LEFT JOIN apx
          |    ON apx.query_id = ex.query_id
          |   AND apx.neighbor_id = ex.neighbor_id
          |  GROUP BY 1)""".stripMargin))
  )
}
