package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.llm.{IvfIndex, Similarity}
import graft.llm.IvfIndex.{Bits, Flat, OneCell, Signs}

/** Approximate nearest neighbours over `embeddings` with full-precision
  * or binary codes: brute force, sign-LSH, axis and trained IVF, the
  * Hamming indexes, and the recall evaluations. */
object AnnRows {
  import PipelineQueries._
  import Shared._

  /** The candK sweep points of `ann_hamming_sizing` — shared by the
    * Spark query and the oracle builder so the two can never drift. */
  private val hammingSizingCandKs = Seq(5, 10, 25, 50)

  /** The bits sweep points of `ann_hamming_bits` (62 is the packed-word
    * positivity ceiling — [[Similarity.hammingWord]]) and the fixed
    * rerank depth the sweep runs at; shared engine/oracle. */
  private val hammingSizingBits = Seq(16, 32, 48, 62)

  private val hammingBitsCandK = 50

  /** The brute Hamming scan (one cell) over 48-bit sign words of the
    * 64-dim fixture; the prefix-cell store is [[Shared.HammingPrefix]]. */
  private val HammingBrute = IvfIndex(OneCell, Bits(48, 64))

  private def sharedHammingIndex(s: SparkSession, d: String): String =
    sharedIndex(s, d, "hamming")(p =>
      HammingPrefix.write(Tables.embeddings(s, d), "vec_id", "embedding", p))

  /** The two-stage binary path: a `candK` brute Hamming shortlist over
    * `bits`-bit words, refined to the exact-cosine top `k`. */
  private def hammingRerank(e: DataFrame, q: DataFrame, k: Int, candK: Int,
                            bits: Int = 48): DataFrame = {
    val ix = IvfIndex(OneCell, Bits(bits, 64))
    ix.refine(ix.topK(e, q, "vec_id", "embedding", k = candK, probes = 1),
      e, q, "vec_id", "embedding", k)
  }

  private def sharedIvfIndex(s: SparkSession, d: String): String =
    sharedIndex(s, d, "ivf")(p =>
      IvfIndex(AxisIvf, Flat).write(Tables.embeddings(s, d), "vec_id",
        "embedding", p))

  private def sharedIvfTrainedIndex(s: SparkSession, d: String): String =
    sharedIndex(s, d, "ivft")(p =>
      IvfIndex(sharedIvfTrained(s, d), Flat).write(Tables.embeddings(s, d),
        "vec_id", "embedding", p))

  /** The IVF top-k oracle — serves BOTH `ann_ivf_topk` and
    * `ann_ivf_indexed`: the materialized cell store changes WHERE
    * candidate rows are read from, not which rows exist, so the two
    * queries are row-identical by construction. */
  private lazy val ivfTopKSql: String =
    s"""WITH e0 AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings),
       |nv AS (
       |  SELECT vec_id,
       |         list_transform(v, x -> x / sqrt(list_dot_product(v, v)))
       |           AS nv
       |  FROM e0),
       |""".stripMargin +
      ivfCellCtes("e0") + """,
       |q AS (SELECT cc.vec_id AS query_id, n.nv AS qv,
       |             unnest([cell_w, cell_r]) AS cell
       |      FROM ivcell cc JOIN nv n USING (vec_id)
       |      WHERE cc.vec_id < 50),
       |c AS (SELECT cc.vec_id AS neighbor_id, n.nv AS cv,
       |             cell_w AS cell
       |      FROM ivcell cc JOIN nv n USING (vec_id)),
       |s AS (SELECT q.query_id, c.neighbor_id,
       |             list_dot_product(qv, cv) AS score
       |      FROM c JOIN q USING (cell) WHERE c.neighbor_id <> q.query_id)
       |SELECT query_id, rank, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |                                 ORDER BY score DESC, neighbor_id) AS BIGINT) AS rank
       |  FROM s) WHERE rank <= 3""".stripMargin

  /** ann_ivft_indexed's oracle: training replayed round for round, the
    * store's cell partitions = the a2 assignment, probes = the 2
    * nearest trained cells, cosine top-3 within the probed cells. */
  private lazy val ivfTrainedTopKSql: String =
    s"WITH ${kmeansCtes(8, 2, 64)},\n" +
      ivfTrainedCtes(maxQueryId = 50, probes = 2) + """,
      |ts AS (SELECT tqp.query_id, tcc.neighbor_id,
      |              list_dot_product(q.nv, c.nv) AS score
      |       FROM tcc JOIN tqp USING (cell)
      |       JOIN tnv q ON q.vec_id = tqp.query_id
      |       JOIN tnv c ON c.vec_id = tcc.neighbor_id
      |       WHERE tcc.neighbor_id <> tqp.query_id)
      |SELECT query_id, rank, neighbor_id FROM (
      |  SELECT query_id, neighbor_id,
      |         CAST(row_number() OVER (PARTITION BY query_id
      |             ORDER BY score DESC, neighbor_id) AS BIGINT) AS rank
      |  FROM ts) WHERE rank <= 3""".stripMargin

  /** ann_ivft_recall's oracle: one MATERIALIZED exact top-5 leg, the
    * trained leg (kmeans cells) and the axis leg ([[ivfCellCtes]]) both
    * probed at p=2 over the SAME len=64 universe, each recall-joined
    * against the exact leg and tagged with its method. */
  private lazy val ivfTrainedRecallSql: String =
    s"WITH ${kmeansCtes(8, 2, 64)},\n" +
      ivfTrainedCtes(maxQueryId = 10, probes = 2) + s""",
      |e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      |       FROM embeddings WHERE len(embedding) = 64),
      |${ivfCellCtes("e0")},
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
      |ts AS (SELECT tqp.query_id, tcc.neighbor_id,
      |              list_dot_product(q.nv, c.nv) AS score
      |       FROM tcc JOIN tqp USING (cell)
      |       JOIN tnv q ON q.vec_id = tqp.query_id
      |       JOIN tnv c ON c.vec_id = tcc.neighbor_id
      |       WHERE tcc.neighbor_id <> tqp.query_id),
      |tapx AS (SELECT query_id, neighbor_id FROM (
      |  SELECT query_id, neighbor_id, row_number() OVER (
      |    PARTITION BY query_id ORDER BY score DESC, neighbor_id)
      |      AS rank
      |  FROM ts) WHERE rank <= 5),
      |aq AS (SELECT cc.vec_id AS query_id,
      |              unnest([cell_w, cell_r]) AS cell
      |       FROM ivcell cc WHERE cc.vec_id < 10),
      |ac AS (SELECT vec_id AS neighbor_id, cell_w AS cell FROM ivcell),
      |asx AS (SELECT aq.query_id, ac.neighbor_id,
      |               list_dot_product(q.nv, c.nv) AS score
      |        FROM ac JOIN aq USING (cell)
      |        JOIN tnv q ON q.vec_id = aq.query_id
      |        JOIN tnv c ON c.vec_id = ac.neighbor_id
      |        WHERE ac.neighbor_id <> aq.query_id),
      |aapx AS (SELECT query_id, neighbor_id FROM (
      |  SELECT query_id, neighbor_id, row_number() OVER (
      |    PARTITION BY query_id ORDER BY score DESC, neighbor_id)
      |      AS rank
      |  FROM asx) WHERE rank <= 5)
      |SELECT 'ivf_trained' AS method, query_id, n_hits,
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
      |SELECT 'ivf_axis' AS method, query_id, n_hits,
      |       round(n_hits / CAST(n_exact AS DOUBLE), 6) AS recall
      |FROM (
      |  SELECT ex.query_id,
      |         CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL
      |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
      |         COUNT(*) AS n_exact
      |  FROM ex LEFT JOIN aapx a
      |    ON a.query_id = ex.query_id
      |   AND a.neighbor_id = ex.neighbor_id
      |  GROUP BY 1)""".stripMargin

  /** ann_ivft_probes' oracle: the trained-IVF fragments (ranked cells
    * in `tqr`), one MATERIALIZED exact leg, then per probe depth a
    * candidate/rank/recall block over `rn <= p`, UNION ALL'd with the
    * depth as `probes` — generated from the same [[ivftProbeSweep]]. */
  private def ivfTrainedProbesSql(probesList: Seq[Int]): String = {
    val shared =
      s"WITH ${kmeansCtes(8, 2, 64)},\n" +
        ivfTrainedCtes(maxQueryId = 10, probes = 1) + """,
        |xq AS (SELECT vec_id AS query_id, nv AS qv FROM tnv
        |       WHERE vec_id < 10),
        |x AS (SELECT xq.query_id, tnv.vec_id AS neighbor_id,
        |             list_dot_product(qv, tnv.nv) AS score
        |      FROM tnv, xq WHERE tnv.vec_id <> xq.query_id),
        |ex AS MATERIALIZED (SELECT query_id, neighbor_id FROM (
        |  SELECT query_id, neighbor_id, row_number() OVER (
        |    PARTITION BY query_id ORDER BY score DESC, neighbor_id)
        |      AS rank
        |  FROM x) WHERE rank <= 5)""".stripMargin
    val perP = probesList.map { p =>
      s""",
         |ps$p AS (SELECT qp.query_id, tcc.neighbor_id,
         |              list_dot_product(q.nv, c.nv) AS score
         |       FROM tcc
         |       JOIN (SELECT query_id, cell FROM tqr WHERE rn <= $p) qp
         |         USING (cell)
         |       JOIN tnv q ON q.vec_id = qp.query_id
         |       JOIN tnv c ON c.vec_id = tcc.neighbor_id
         |       WHERE tcc.neighbor_id <> qp.query_id),
         |papx$p AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id, row_number() OVER (
         |    PARTITION BY query_id ORDER BY score DESC, neighbor_id)
         |      AS rank
         |  FROM ps$p) WHERE rank <= 5)""".stripMargin
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

  /** The blocked-Hamming recall oracle: corpus words in ONE top-6-bit
    * bucket, each query probing its own prefix plus the 6 at
    * prefix-Hamming distance 1, recall@5 joined against the full-scan
    * baseline. Serves BOTH `ann_hamming_blocked` and
    * `ann_hamming_indexed` — the partitioned store changes WHERE
    * candidate rows are read from (pruned bucket directories), not
    * which rows exist, so the two queries are row-identical by
    * construction. */
  private val hammingBlockedRecallSql: String = {
    val shift = 42
    val probeList = (Seq(s"hq.qw >> $shift") ++
      (0 until 6).map(i => s"xor(hq.qw >> $shift, ${1L << i})"))
      .mkString("[", ", ", "]")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |           FROM embeddings WHERE len(embedding) >= 64),
       |w AS (SELECT vec_id, ${hammingWordSql("v", 48, 64)} AS word
       |      FROM e),
       |hq AS (SELECT vec_id AS query_id, word AS qw FROM w
       |       WHERE vec_id < 10),
       |cb AS (SELECT vec_id AS neighbor_id, word,
       |              word >> $shift AS bucket
       |       FROM w),
       |qp AS (SELECT hq.query_id, hq.qw,
       |              unnest($probeList) AS bucket
       |       FROM hq),
       |bs AS (SELECT qp.query_id, cb.neighbor_id,
       |              bit_count(xor(cb.word, qp.qw)) AS hamming
       |       FROM cb JOIN qp USING (bucket)
       |       WHERE cb.neighbor_id <> qp.query_id),
       |apx AS (SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id, row_number() OVER (
       |    PARTITION BY query_id ORDER BY hamming, neighbor_id) AS rank
       |  FROM bs) WHERE rank <= 5),
       |hs AS (SELECT hq.query_id, c.vec_id AS neighbor_id,
       |              bit_count(xor(c.word, hq.qw)) AS hamming
       |       FROM w c, hq WHERE c.vec_id <> hq.query_id),
       |ex AS (SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id, row_number() OVER (
       |    PARTITION BY query_id ORDER BY hamming, neighbor_id) AS rank
       |  FROM hs) WHERE rank <= 5)
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
       |  GROUP BY 1)""".stripMargin
  }

  /** ann_hamming_sizing's oracle: ONE ranked Hamming candidate list and
    * ONE exact-cosine top-5 leg (MATERIALIZED — each is referenced once
    * per sweep point, and DuckDB would otherwise re-execute the
    * query×corpus scans per reference), then per candK a shortlist →
    * cosine-rerank → recall block, UNION ALL'd with the depth as
    * `cand_k`. Generated from the same [[hammingSizingCandKs]] the
    * Spark sweep uses, so the two can never drift. */
  private def hammingSizingSql(candKs: Seq[Int]): String = {
    val shared =
      s"""WITH e AS MATERIALIZED (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings WHERE len(embedding) >= 64),
         |nv AS MATERIALIZED (
         |  SELECT vec_id,
         |         list_transform(v, x -> x / sqrt(list_dot_product(v, v)))
         |           AS nv
         |  FROM e),
         |w AS MATERIALIZED (
         |  SELECT vec_id, ${hammingWordSql("v", 48, 64)} AS word FROM e),
         |hq AS (SELECT vec_id AS query_id, word AS qw FROM w
         |       WHERE vec_id < 10),
         |hs AS MATERIALIZED (
         |  SELECT query_id, neighbor_id, ham_rank FROM (
         |    SELECT hq.query_id, c.vec_id AS neighbor_id,
         |           row_number() OVER (PARTITION BY hq.query_id
         |             ORDER BY bit_count(xor(c.word, hq.qw)), c.vec_id)
         |             AS ham_rank
         |    FROM w c, hq WHERE c.vec_id <> hq.query_id)
         |  WHERE ham_rank <= ${candKs.max}),
         |xq AS (SELECT vec_id AS query_id, nv AS qv FROM nv
         |       WHERE vec_id < 10),
         |x AS (SELECT xq.query_id, nv.vec_id AS neighbor_id,
         |        list_dot_product(qv, nv.nv) AS score
         |      FROM nv, xq WHERE nv.vec_id <> xq.query_id),
         |ex AS MATERIALIZED (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id, row_number() OVER (
         |    PARTITION BY query_id ORDER BY score DESC, neighbor_id)
         |      AS rank
         |  FROM x) WHERE rank <= 5)""".stripMargin
    val perCk = candKs.map { ck =>
      s""",
         |rs$ck AS (SELECT sl.query_id, sl.neighbor_id,
         |              list_dot_product(q.nv, c.nv) AS score
         |       FROM (SELECT query_id, neighbor_id FROM hs
         |             WHERE ham_rank <= $ck) sl
         |       JOIN nv q ON q.vec_id = sl.query_id
         |       JOIN nv c ON c.vec_id = sl.neighbor_id),
         |apx$ck AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id, row_number() OVER (
         |    PARTITION BY query_id ORDER BY score DESC, neighbor_id)
         |      AS rank
         |  FROM rs$ck) WHERE rank <= 5)""".stripMargin
    }.mkString
    val selects = candKs.map { ck =>
      s"""SELECT CAST($ck AS BIGINT) AS cand_k, query_id, n_hits,
         |       round(n_hits / CAST(n_exact AS DOUBLE), 6) AS recall
         |FROM (
         |  SELECT ex.query_id,
         |         CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL
         |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
         |         COUNT(*) AS n_exact
         |  FROM ex LEFT JOIN apx$ck a
         |    ON a.query_id = ex.query_id
         |   AND a.neighbor_id = ex.neighbor_id
         |  GROUP BY 1)""".stripMargin
    }.mkString("\nUNION ALL\n")
    shared + perCk + "\n" + selects
  }

  /** ann_hamming_bits' oracle — [[hammingSizingSql]] transposed to the
    * bits axis: ONE exact-cosine leg and shared normalized vectors
    * (MATERIALIZED), then per signature width a word CTE from that
    * width's OWN plane literals, a Hamming shortlist at the fixed
    * candK, a cosine rerank and a recall block, UNION ALL'd with the
    * width as `bits`. Generated from the same [[hammingSizingBits]] /
    * [[hammingBitsCandK]] the Spark sweep uses. */
  private def hammingBitsSql(bitsList: Seq[Int], candK: Int): String = {
    val shared =
      s"""WITH e AS MATERIALIZED (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings WHERE len(embedding) >= 64),
         |nv AS MATERIALIZED (
         |  SELECT vec_id,
         |         list_transform(v, x -> x / sqrt(list_dot_product(v, v)))
         |           AS nv
         |  FROM e),
         |xq AS (SELECT vec_id AS query_id, nv AS qv FROM nv
         |       WHERE vec_id < 10),
         |x AS (SELECT xq.query_id, nv.vec_id AS neighbor_id,
         |        list_dot_product(qv, nv.nv) AS score
         |      FROM nv, xq WHERE nv.vec_id <> xq.query_id),
         |ex AS MATERIALIZED (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id, row_number() OVER (
         |    PARTITION BY query_id ORDER BY score DESC, neighbor_id)
         |      AS rank
         |  FROM x) WHERE rank <= 5)""".stripMargin
    val perBits = bitsList.map { b =>
      s""",
         |w$b AS MATERIALIZED (
         |  SELECT vec_id, ${hammingWordSql("v", b, 64)} AS word FROM e),
         |hq$b AS (SELECT vec_id AS query_id, word AS qw FROM w$b
         |         WHERE vec_id < 10),
         |sl$b AS (SELECT query_id, neighbor_id FROM (
         |    SELECT hq$b.query_id, c.vec_id AS neighbor_id,
         |           row_number() OVER (PARTITION BY hq$b.query_id
         |             ORDER BY bit_count(xor(c.word, hq$b.qw)), c.vec_id)
         |             AS ham_rank
         |    FROM w$b c, hq$b WHERE c.vec_id <> hq$b.query_id)
         |  WHERE ham_rank <= $candK),
         |rs$b AS (SELECT sl$b.query_id, sl$b.neighbor_id,
         |              list_dot_product(q.nv, c.nv) AS score
         |       FROM sl$b
         |       JOIN nv q ON q.vec_id = sl$b.query_id
         |       JOIN nv c ON c.vec_id = sl$b.neighbor_id),
         |apx$b AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id, row_number() OVER (
         |    PARTITION BY query_id ORDER BY score DESC, neighbor_id)
         |      AS rank
         |  FROM rs$b) WHERE rank <= 5)""".stripMargin
    }.mkString
    val selects = bitsList.map { b =>
      s"""SELECT CAST($b AS BIGINT) AS bits, query_id, n_hits,
         |       round(n_hits / CAST(n_exact AS DOUBLE), 6) AS recall
         |FROM (
         |  SELECT ex.query_id,
         |         CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL
         |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
         |         COUNT(*) AS n_exact
         |  FROM ex LEFT JOIN apx$b a
         |    ON a.query_id = ex.query_id
         |   AND a.neighbor_id = ex.neighbor_id
         |  GROUP BY 1)""".stripMargin
    }.mkString("\nUNION ALL\n")
    shared + perBits + "\n" + selects
  }

  /** Same planes as 0/1 INT select items (`b0..b{b-1}`), for oracle
    * queries that need to derive the hamming-1 multi-probe bucket set. */
  private def rotatedBitsSql(v: String, b: Int, dim: Int): String =
    Similarity.rotationPlanes(b, dim).zipWithIndex.map { case (p, i) =>
      val lst = p.map(java.lang.Double.toString).mkString("[", ", ", "]")
      s"CASE WHEN list_dot_product($v, $lst) >= 0 THEN 1 ELSE 0 END AS b$i"
    }.mkString(",\n       ")

  /** Bucket string from bit columns, with bit `flip` inverted (-1 = none). */
  private def bucketFromBitsSql(b: Int, flip: Int): String =
    (0 until b).map(i =>
      if (i == flip) s"CAST(1 - b$i AS VARCHAR)" else s"CAST(b$i AS VARCHAR)")
      .mkString(" || ")

  val rows: Seq[Row] = Seq(
    // --- ANN: brute-force cosine top-k ------------------------------------------------
    Row("ann_brute_topk", (s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 20),
        "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"))
    },
      """WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |e AS (SELECT vec_id,
        |        list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS v
        |      FROM e0),
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

    // --- ANN: sign-LSH bucketed top-k (random-rotation hyperplanes +
    // hamming-1 multi-probe on the query side) -------------------------------
    Row("ann_sign_lsh", (s, d) => {
      val e = Tables.embeddings(s, d)
      IvfIndex(Signs(4, 64), Flat).topK(e, e.filter(col("vec_id") < 50),
        "vec_id", "embedding", k = 3, probes = 5)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"))
    },
      (s"""WITH ec AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |            FROM embeddings),
         |bt AS (
         |  SELECT vec_id, v,
         |       ${rotatedBitsSql("v", 4, 64)}
         |  FROM ec),
         |e AS (SELECT vec_id,
         |        list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS v,
         |        ${bucketFromBitsSql(4, -1)} AS bucket
         |      FROM bt),
         |q AS (SELECT vec_id AS query_id,
         |        list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS qv,
         |        unnest([${(-1 to 3).map(bucketFromBitsSql(4, _)).mkString(",\n                ")}]) AS bucket
         |      FROM bt WHERE vec_id < 50),""".stripMargin + "\n" +
      """s AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |         list_dot_product(qv, e.v) AS score
        |  FROM e JOIN q ON e.bucket = q.bucket AND e.vec_id <> q.query_id)
        |SELECT query_id, rank, neighbor_id FROM (
        |  SELECT query_id, neighbor_id,
        |         CAST(row_number() OVER (PARTITION BY query_id
        |                                 ORDER BY score DESC, neighbor_id) AS BIGINT) AS rank
        |  FROM s) WHERE rank <= 3""".stripMargin)),

    // --- ANN: IVF coarse-quantizer probing (the bucketed-corpus scale path) --
    Row("ann_ivf_topk", (s, d) => {
      val e = Tables.embeddings(s, d)
      IvfIndex(AxisIvf, Flat).topK(e, e.filter(col("vec_id") < 50),
        "vec_id", "embedding", k = 3, probes = 2)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"))
    },
      ivfTopKSql),

    // --- the MATERIALIZED IVF layout: normalized vectors written
    // partitionBy(cell), probes arrive as a literal cell IN-list →
    // PartitionFilters (the float-regime sibling of
    // ann_hamming_indexed); row-identical to ann_ivf_topk, same oracle --
    Row("ann_ivf_indexed", (s, d) => {
      val e = Tables.embeddings(s, d)
      // the memoized store (built by ann_ivf_build or on first use), so
      // this row times the pruned READ — the layout's serving cost
      val idx = sharedIvfIndex(s, d)
      IvfIndex(AxisIvf, Flat).probe(s.read.parquet(idx),
        e.filter(col("vec_id") < 50),
        "vec_id", "embedding", k = 3, probes = 2)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"))
    },
      // the partitioned cell store changes WHERE candidate rows are
      // read from (PartitionFilters-pruned cell directories), not which
      // rows exist — row-identical to ann_ivf_topk, same oracle
      ivfTopKSql),

    // --- the IVF store BUILD as its own timed row (r12 split: build vs
    // probe) — writes the cell-partitioned store, then reads the store
    // back for a per-cell row count, oracle-checking the LAYOUT (which
    // vector landed in which partition), not just the probe results ----
    Row("ann_ivf_build", (s, d) => {
      val idx = sharedIvfIndex(s, d)
      s.read.parquet(idx)
        .groupBy(col("cell").cast("long").as("cell"))
        .agg(count(lit(1)).as("n_rows"))
    },
      // the IVF store BUILD's layout check: per-cell vector counts via
      // the shared axis-cell fragment (the axis IVF store keeps vectors with
      // len ≥ m = 4)
      (s"""WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          |            FROM embeddings WHERE len(embedding) >= 4),
          |""".stripMargin + ivfCellCtes("e0") + """
          |SELECT CAST(cell_w AS BIGINT) AS cell,
          |       CAST(count(*) AS BIGINT) AS n_rows
          |FROM ivcell GROUP BY 1""".stripMargin)),

    // --- TRAINED-centroid IVF (the FAISS IVFx coarse stage): kmeans
    // cells instead of axis cells — probes rank by the actual quantizer
    // distance, lifting the axis scheme's probes ≤ 2 cap; the store is
    // the same partitionBy(cell) layout, reads partition-pruned --------
    Row("ann_ivft_build", (s, d) => {
      val idx = sharedIvfTrainedIndex(s, d)
      s.read.parquet(idx)
        .groupBy(col("cell").cast("long").as("cell"))
        .agg(count(lit(1)).as("n_rows"))
    },
      // the trained store's layout check: per-cell counts = the a2
      // assignment the engine's argmin-struct cells must reproduce
      (s"WITH ${kmeansCtes(8, 2, 64)}\n" +
        """SELECT CAST(cluster AS BIGINT) AS cell,
          |       CAST(count(*) AS BIGINT) AS n_rows
          |FROM a2 GROUP BY 1""".stripMargin)),

    Row("ann_ivft_indexed", (s, d) => {
      val e = Tables.embeddings(s, d)
      val idx = sharedIvfTrainedIndex(s, d)
      IvfIndex(sharedIvfTrained(s, d), Flat).probe(s.read.parquet(idx),
        e.filter(col("vec_id") < 50), "vec_id", "embedding",
        k = 3, probes = 2)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"))
    },
      // trained-IVF: the kmeans training replayed round for round
      // (kmeansCtes — the embed_kmeans discipline), then probe the 2
      // nearest TRAINED cells; the store only changes where candidate
      // rows are read from
      ivfTrainedTopKSql),

    // --- COLD-SESSION serving of the trained-IVF store: the quantizer
    // comes from the store's OWN _quantizer/ sidecar (IvfIndex.load),
    // not the session cache — proving the store is self-describing: a
    // new JVM opening the directory probes the partitions with the
    // centroids they were written under (retraining on a drifted corpus
    // would silently mis-probe). Row-identical to ann_ivft_indexed by
    // construction (bit-equal centroids ⇒ identical probe cells) --------
    Row("ann_ivft_served", (s, d) => {
      val e = Tables.embeddings(s, d)
      val idx = sharedIvfTrainedIndex(s, d)
      IvfIndex.load(s, idx, dim = 64) // sidecar, NOT cache
        .probe(s.read.parquet(idx), e.filter(col("vec_id") < 50),
          "vec_id", "embedding", k = 3, probes = 2)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"))
    },
      // cold-session serving from the sidecar quantizer is row-identical
      // to the cached-quantizer path (bit-equal centroids) — same oracle
      ivfTrainedTopKSql),

    // --- recall@5 of trained vs axis cells AT EQUAL PROBES (p = 2),
    // one exact brute leg serving both — the measurement behind
    // adopting the trained quantizer (BucketingSpec pins trained ≥ axis
    // in aggregate on the spec fixture); one len=64 universe for all
    // legs (the kmeans training universe), so recall isolates CELL
    // QUALITY ----------------------------------------------------------
    Row("ann_ivft_recall", (s, d) => {
      val e = Tables.embeddings(s, d)
        .filter(size(col("embedding")) === 64)
      val q = e.filter(col("vec_id") < 10)
      val coarse = sharedIvfTrained(s, d)
      val exact = Similarity.bruteForceTopK(e, q, "vec_id", "embedding",
        k = 5).localCheckpoint() // one brute leg serves both methods
      val trained = IvfIndex(coarse, Flat).topK(e, q, "vec_id", "embedding",
        k = 5, probes = 2)
      val axis = IvfIndex(AxisIvf, Flat).topK(e, q, "vec_id", "embedding",
        k = 5, probes = 2)
      Similarity.recallAtK(exact, trained, k = 5)
        .select(lit("ivf_trained").as("method"), col("query_id"),
          col("n_hits"), col("recall"))
        .unionByName(Similarity.recallAtK(exact, axis, k = 5)
          .select(lit("ivf_axis").as("method"), col("query_id"),
            col("n_hits"), col("recall")))
    },
      // trained vs axis cells at equal probes, one exact leg
      ivfTrainedRecallSql),

    // --- ANN over packed 48-bit sign fingerprints: the BINARY serving
    // regime (8 bytes/vector; XOR+popcount per candidate) — all-integer
    // scores, ties on id, replays engine-exactly ---------------------------
    Row("ann_hamming_topk", (s, d) => {
      val e = Tables.embeddings(s, d)
      HammingBrute.topK(e, e.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, probes = 1)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("hamming"))
    },
      // the packed sign fingerprint rebuilt from the verbatim plane
      // literals (hammingWordSql), then integer XOR+popcount ranking —
      // every score an exact BIGINT, no float leg
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |           FROM embeddings WHERE len(embedding) >= 64),
         |w AS (SELECT vec_id, ${hammingWordSql("v", 48, 64)} AS word
         |      FROM e),
         |q AS (SELECT vec_id AS query_id, word AS qw FROM w
         |      WHERE vec_id < 10),
         |s AS (SELECT q.query_id, c.vec_id AS neighbor_id,
         |             CAST(bit_count(xor(c.word, q.qw)) AS BIGINT)
         |               AS hamming
         |      FROM w c, q WHERE c.vec_id <> q.query_id)
         |SELECT query_id, rank, neighbor_id, hamming FROM (
         |  SELECT query_id, neighbor_id, hamming,
         |         CAST(row_number() OVER (PARTITION BY query_id
         |              ORDER BY hamming, neighbor_id) AS BIGINT) AS rank
         |  FROM s) WHERE rank <= 5""".stripMargin),

    // --- recall@5 of the Hamming leg vs the exact cosine baseline: the
    // family's eval pattern — how much the 8-byte representation costs.
    // BOTH legs run over the len≥64 universe the fingerprint indexes, so
    // the recall isolates representation loss (a shorter vector would
    // otherwise enter only the exact leg and read as fingerprint loss) --
    Row("ann_hamming_recall", (s, d) => {
      val e = Tables.embeddings(s, d)
        .filter(size(col("embedding")) >= 64)
      val q = e.filter(col("vec_id") < 10)
      val exact = Similarity.bruteForceTopK(e, q, "vec_id", "embedding",
        k = 5)
      val approx = HammingBrute.topK(e, q, "vec_id", "embedding",
        k = 5, probes = 1)
      Similarity.recallAtK(exact, approx, k = 5)
        .select(col("query_id"), col("n_hits"), col("recall"))
    },
      // the Hamming slate joined against the exact cosine top-5 (the
      // ann_graph_recall eval shape): denominator = the exact slate's
      // actual per-query size
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |           FROM embeddings WHERE len(embedding) >= 64),
         |nv AS (SELECT vec_id,
         |         list_transform(v, x -> x / sqrt(list_dot_product(v, v)))
         |           AS nv, v
         |       FROM e),
         |w AS (SELECT vec_id, ${hammingWordSql("v", 48, 64)} AS word
         |      FROM e),
         |hq AS (SELECT vec_id AS query_id, word AS qw FROM w
         |       WHERE vec_id < 10),
         |hs AS (SELECT hq.query_id, c.vec_id AS neighbor_id,
         |              bit_count(xor(c.word, hq.qw)) AS hamming
         |       FROM w c, hq WHERE c.vec_id <> hq.query_id),
         |apx AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id, row_number() OVER (
         |    PARTITION BY query_id ORDER BY hamming, neighbor_id) AS rank
         |  FROM hs) WHERE rank <= 5),
         |xq AS (SELECT vec_id AS query_id, nv AS qv FROM nv
         |       WHERE vec_id < 10),
         |x AS (SELECT xq.query_id, nv.vec_id AS neighbor_id,
         |        list_dot_product(qv, nv.nv) AS score
         |      FROM nv, xq WHERE nv.vec_id <> xq.query_id),
         |ex AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id, row_number() OVER (
         |    PARTITION BY query_id ORDER BY score DESC, neighbor_id)
         |      AS rank
         |  FROM x) WHERE rank <= 5)
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
         |  GROUP BY 1)""".stripMargin),

    // --- blocked Hamming: prefix-bucketed fingerprints + multi-probe —
    // the corpus-scale shape (touch (prefixBits+1)/2^prefixBits of the
    // corpus, bucket = a write-time partition key); recall@5 measured
    // IN HAMMING SPACE against the full-scan baseline, isolating the
    // blocking loss from the quantization loss ---------------------------
    Row("ann_hamming_blocked", (s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") < 10)
      val full = HammingBrute.topK(e, q, "vec_id", "embedding",
        k = 5, probes = 1)
      val blocked = HammingPrefix.topK(e, q, "vec_id", "embedding",
        k = 5, probes = 7)
      Similarity.recallAtK(full, blocked, k = 5)
        .select(col("query_id"), col("n_hits"), col("recall"))
    },
      // prefix-bucket blocking replayed: corpus words land in ONE
      // bucket (top-6 bits), each query probes its own prefix plus the
      // 6 at prefix-Hamming distance 1, recall joined vs the full scan
      hammingBlockedRecallSql),

    // --- the deployed two-stage binary path: Hamming shortlist (candK=
    // 50) → exact-cosine rerank → recall@5 vs the exact baseline — what
    // the 8-byte scan costs WITH its standard rerank stage ---------------
    Row("ann_hamming_rerank", (s, d) => {
      val e = Tables.embeddings(s, d)
        .filter(size(col("embedding")) >= 64) // one universe, both legs
      val q = e.filter(col("vec_id") < 10)
      val exact = Similarity.bruteForceTopK(e, q, "vec_id", "embedding",
        k = 5)
      val approx = hammingRerank(e, q, k = 5, candK = 50)
      Similarity.recallAtK(exact, approx, k = 5)
        .select(col("query_id"), col("n_hits"), col("recall"))
    },
      // Hamming shortlist (rank ≤ 50 by integer distance) → exact-cosine
      // rerank of only the shortlist → recall join vs the exact top-5
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |           FROM embeddings WHERE len(embedding) >= 64),
         |nv AS (SELECT vec_id,
         |         list_transform(v, x -> x / sqrt(list_dot_product(v, v)))
         |           AS nv, v
         |       FROM e),
         |w AS (SELECT vec_id, ${hammingWordSql("v", 48, 64)} AS word
         |      FROM e),
         |hq AS (SELECT vec_id AS query_id, word AS qw FROM w
         |       WHERE vec_id < 10),
         |hs AS (SELECT hq.query_id, c.vec_id AS neighbor_id,
         |              bit_count(xor(c.word, hq.qw)) AS hamming
         |       FROM w c, hq WHERE c.vec_id <> hq.query_id),
         |sl AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id, row_number() OVER (
         |    PARTITION BY query_id ORDER BY hamming, neighbor_id) AS rank
         |  FROM hs) WHERE rank <= 50),
         |rs AS (SELECT sl.query_id, sl.neighbor_id,
         |              list_dot_product(q.nv, c.nv) AS score
         |       FROM sl JOIN nv q ON q.vec_id = sl.query_id
         |               JOIN nv c ON c.vec_id = sl.neighbor_id),
         |apx AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id, row_number() OVER (
         |    PARTITION BY query_id ORDER BY score DESC, neighbor_id)
         |      AS rank
         |  FROM rs) WHERE rank <= 5),
         |xq AS (SELECT vec_id AS query_id, nv AS qv FROM nv
         |       WHERE vec_id < 10),
         |x AS (SELECT xq.query_id, nv.vec_id AS neighbor_id,
         |        list_dot_product(qv, nv.nv) AS score
         |      FROM nv, xq WHERE nv.vec_id <> xq.query_id),
         |ex AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id, row_number() OVER (
         |    PARTITION BY query_id ORDER BY score DESC, neighbor_id)
         |      AS rank
         |  FROM x) WHERE rank <= 5)
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
         |  GROUP BY 1)""".stripMargin),

    // --- the MATERIALIZED blocked-Hamming layout: fingerprints written
    // PARTITIONED BY prefix bucket, probes arrive as PartitionFilters
    // (pruned file listing — the "bucket IS a partition key" claim made
    // concrete), candidates/recall row-identical to ann_hamming_blocked
    // (same oracle); partition pruning pinned in BucketingSpec ----------
    Row("ann_hamming_indexed", (s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") < 10)
      // the memoized store (built by ann_hamming_build or on first
      // use): this row times the pruned probe READ + the recall join,
      // not the store write (r12 split)
      val idx = sharedHammingIndex(s, d)
      val full = HammingBrute.topK(e, q, "vec_id", "embedding",
        k = 5, probes = 1)
      val blocked = HammingPrefix.probe(s.read.parquet(idx), q,
        "vec_id", "embedding", k = 5, probes = 7)
      Similarity.recallAtK(full, blocked, k = 5)
        .select(col("query_id"), col("n_hits"), col("recall"))
    },
      // the MATERIALIZED layout changes WHERE candidate rows are read
      // from (pruned bucket partitions), not WHICH rows exist — the
      // query is row-identical to ann_hamming_blocked by construction,
      // so it shares the oracle verbatim
      hammingBlockedRecallSql),

    // --- the Hamming store BUILD as its own timed row (r12 split):
    // writes the bucket-partitioned fingerprint store, then reads it
    // back for per-bucket row counts — oracle-checking which word
    // landed in which partition directory --------------------------------
    Row("ann_hamming_build", (s, d) => {
      val idx = sharedHammingIndex(s, d)
      s.read.parquet(idx)
        .groupBy(col("cell").cast("long").as("bucket"))
        .agg(count(lit(1)).as("n_rows"))
    },
      // the store BUILD's layout check: per-bucket fingerprint counts —
      // the word's top-6 bits replayed from the same plane literals, so
      // the oracle pins WHICH rows the write put in WHICH partition
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |           FROM embeddings WHERE len(embedding) >= 64),
         |w AS (SELECT ${hammingWordSql("v", 48, 64)} AS word FROM e)
         |SELECT word >> 42 AS bucket,
         |       CAST(count(*) AS BIGINT) AS n_rows
         |FROM w GROUP BY 1""".stripMargin),

    // --- candK sizing sweep for the two-stage binary path: recall@5 of
    // Hamming-shortlist→cosine-rerank at several shortlist depths, per
    // (cand_k, query) row — the measurement that picks candK for a
    // recall target, the ann_pq_recall/ann_recall_eval posture extended
    // along the depth axis (one exact leg, reused across the sweep) ------
    Row("ann_hamming_sizing", (s, d) => {
      val e = Tables.embeddings(s, d)
        .filter(size(col("embedding")) >= 64) // one universe, both legs
      val q = e.filter(col("vec_id") < 10)
      val exact = Similarity.bruteForceTopK(e, q, "vec_id", "embedding",
        k = 5).localCheckpoint() // one brute leg serves all sweep points
      hammingSizingCandKs.map { ck =>
        val approx = hammingRerank(e, q, k = 5, candK = ck)
        Similarity.recallAtK(exact, approx, k = 5)
          .select(lit(ck.toLong).as("cand_k"), col("query_id"),
            col("n_hits"), col("recall"))
      }.reduce(_ unionByName _)
    },
      // one ranked Hamming list + one exact leg, then a shortlist→
      // rerank→recall block per candK — generated from the SAME sweep
      // points as the Spark query
      hammingSizingSql(hammingSizingCandKs)),

    // --- probes-axis sizing for trained IVF: recall@5 at probes ∈
    // {1, 2, 4, 8} — the knob the trained quantizer just unlocked
    // (distance-ranked cells; the axis scheme capped at 2). One brute
    // leg serves the sweep; p = 8 probes every cell, so its recall is
    // the 1.0 sanity anchor (exact scoring over the full corpus) -----------
    Row("ann_ivft_probes", (s, d) => {
      val e = Tables.embeddings(s, d)
        .filter(size(col("embedding")) === 64) // the kmeans universe
      val q = e.filter(col("vec_id") < 10)
      val ivf = IvfIndex(sharedIvfTrained(s, d), Flat)
      val exact = Similarity.bruteForceTopK(e, q, "vec_id", "embedding",
        k = 5).localCheckpoint() // one brute leg serves the sweep
      ivftProbeSweep.map { p =>
        val approx = ivf.topK(e, q, "vec_id", "embedding", k = 5,
          probes = p)
        Similarity.recallAtK(exact, approx, k = 5)
          .select(lit(p.toLong).as("probes"), col("query_id"),
            col("n_hits"), col("recall"))
      }.reduce(_ unionByName _)
    },
      // recall along the probes axis the trained quantizer unlocks;
      // p = 8 probes every cell (recall 1.0 anchor)
      ivfTrainedProbesSql(ivftProbeSweep)),

    // --- bits-axis sizing for the binary regime: recall@5 of the
    // two-stage Hamming-shortlist→cosine-rerank path at signature widths
    // bits ∈ {16, 32, 48, 62} and FIXED candK = 50 — the knob the candK
    // sweep left uncurved (its 0.42 plateau at candK=50 is bound by the
    // 48-bit signature, not the shortlist depth). One brute leg serves
    // all sweep points; each bits point is one extra map-side encode +
    // the shortlist-bounded rerank ---------------------------------------
    Row("ann_hamming_bits", (s, d) => {
      val e = Tables.embeddings(s, d)
        .filter(size(col("embedding")) >= 64) // one universe, all legs
      val q = e.filter(col("vec_id") < 10)
      val exact = Similarity.bruteForceTopK(e, q, "vec_id", "embedding",
        k = 5).localCheckpoint() // one brute leg serves the sweep
      hammingSizingBits.map { b =>
        val approx = hammingRerank(e, q, k = 5, candK = hammingBitsCandK,
          bits = b)
        Similarity.recallAtK(exact, approx, k = 5)
          .select(lit(b.toLong).as("bits"), col("query_id"),
            col("n_hits"), col("recall"))
      }.reduce(_ unionByName _)
    },
      // the sizing sweep transposed to the BITS axis: per signature
      // width its own plane-literal word CTE, shortlist at the fixed
      // candK, rerank, recall — same generated-from-shared-constants
      // discipline
      hammingBitsSql(hammingSizingBits, hammingBitsCandK)),

    // --- ANN: recall@k of the LSH path vs the exact baseline ---------------
    // The measurement that sizes b/bands/probes for a corpus: exact top-k
    // on a query sample vs the approximate result, per-query hit fraction.
    Row("ann_recall_eval", (s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") < 50)
      val exact = Similarity.bruteForceTopK(e, q, "vec_id", "embedding",
        k = 3)
      val approx = IvfIndex(Signs(4, 64), Flat).topK(e, q, "vec_id",
        "embedding", k = 3, probes = 5)
      Similarity.recallAtK(exact, approx, k = 3)
        .select(col("query_id"), col("n_hits"), col("recall"))
    },
      // the LSH CTEs are ann_sign_lsh's verbatim; the exact side reuses the
      // normalized corpus e and ranks without the bucket gate
      (s"""WITH ec AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |            FROM embeddings),
         |bt AS (
         |  SELECT vec_id, v,
         |       ${rotatedBitsSql("v", 4, 64)}
         |  FROM ec),
         |e AS (SELECT vec_id,
         |        list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS v,
         |        ${bucketFromBitsSql(4, -1)} AS bucket
         |      FROM bt),
         |q AS (SELECT vec_id AS query_id,
         |        list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS qv,
         |        unnest([${(-1 to 3).map(bucketFromBitsSql(4, _)).mkString(",\n                ")}]) AS bucket
         |      FROM bt WHERE vec_id < 50),""".stripMargin + "\n" +
      """s AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |         list_dot_product(qv, e.v) AS score
        |  FROM e JOIN q ON e.bucket = q.bucket AND e.vec_id <> q.query_id),
        |lsh AS (SELECT query_id, neighbor_id FROM (
        |  SELECT query_id, neighbor_id,
        |         row_number() OVER (PARTITION BY query_id
        |                            ORDER BY score DESC, neighbor_id) AS rank
        |  FROM s) WHERE rank <= 3),
        |q2 AS (SELECT vec_id AS query_id,
        |         list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS qv
        |       FROM ec WHERE vec_id < 50),
        |x AS (
        |  SELECT q2.query_id, e.vec_id AS neighbor_id,
        |         list_dot_product(q2.qv, e.v) AS score
        |  FROM e, q2 WHERE e.vec_id <> q2.query_id),
        |ex AS (SELECT query_id, neighbor_id FROM (
        |  SELECT query_id, neighbor_id,
        |         row_number() OVER (PARTITION BY query_id
        |                            ORDER BY score DESC, neighbor_id) AS rank
        |  FROM x) WHERE rank <= 3)
        |SELECT query_id, n_hits,
        |       round(n_hits / CAST(n_exact AS DOUBLE), 6) AS recall FROM (
        |  SELECT ex.query_id,
        |         CAST(sum(CASE WHEN lsh.neighbor_id IS NOT NULL
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
        |         COUNT(*) AS n_exact
        |  FROM ex LEFT JOIN lsh
        |    ON lsh.query_id = ex.query_id
        |   AND lsh.neighbor_id = ex.neighbor_id
        |  GROUP BY 1)""".stripMargin)),

    // --- graded ranking metrics: nDCG@5 + MRR of the exact retrieval
    // leg against same-label relevance — the order-aware complement of
    // ann_recall_eval (recall can't see WHERE in the top-k the hits sit) --
    Row("eval_rank_metrics", (s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") < 50)
      val ranked = Similarity.bruteForceTopK(e, q, "vec_id", "embedding",
        k = 5)
      val rel = q.select(col("vec_id").as("query_id"), col("label"))
        .join(e.select(col("vec_id").as("neighbor_id"), col("label")),
          Seq("label"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .select("query_id", "neighbor_id")
      Similarity.rankMetrics(ranked, rel, k = 5)
        .select("query_id", "n_rel", "mrr", "dcg", "ndcg")
    },
      {
      val ws = Similarity.ndcgWeights(5)
      val wCase = ws.zipWithIndex.map { case (w, i) =>
        s"WHEN ${i + 1} THEN CAST(${w.toPlainString} AS DECIMAL(28,9))"
      }.mkString(" ")
      val cumCase = Similarity.ndcgCumWeights(5).zipWithIndex.map {
        case (w, i) =>
          s"WHEN ${i + 1} THEN CAST(${w.toPlainString} AS DECIMAL(28,9))"
      }.mkString(" ")
      s"""WITH e0 AS (SELECT vec_id, label,
         |              CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |e AS (SELECT vec_id, label,
         |        list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS v
         |      FROM e0),
         |q AS (SELECT vec_id AS query_id, label, v AS qv
         |      FROM e WHERE vec_id < 50),
         |s AS (SELECT q.query_id, e.vec_id AS neighbor_id,
         |             list_dot_product(qv, e.v) AS score
         |      FROM e, q WHERE e.vec_id <> q.query_id),
         |ranked AS (SELECT query_id, neighbor_id, rank FROM (
         |  SELECT query_id, neighbor_id,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY score DESC, neighbor_id) AS rank
         |  FROM s) WHERE rank <= 5),
         |rel AS (SELECT q.query_id, e.vec_id AS neighbor_id
         |        FROM q JOIN e ON q.label = e.label
         |        WHERE e.vec_id <> q.query_id),
         |nr AS (SELECT query_id, count(*) AS n_rel FROM rel GROUP BY 1),
         |per AS (
         |  SELECT r.query_id,
         |         sum(CASE WHEN x.neighbor_id IS NOT NULL
         |                  THEN CASE r.rank $wCase END
         |                  ELSE CAST(0 AS DECIMAL(28,9)) END) AS dcg9,
         |         max(CASE WHEN x.neighbor_id IS NOT NULL
         |                  THEN round(1.0 / r.rank, 9) END) AS rr
         |  FROM ranked r LEFT JOIN rel x
         |    ON x.query_id = r.query_id AND x.neighbor_id = r.neighbor_id
         |  GROUP BY 1)
         |SELECT per.query_id,
         |       CAST(coalesce(nr.n_rel, 0) AS BIGINT) AS n_rel,
         |       coalesce(rr, 0.0) AS mrr,
         |       round(CAST(dcg9 AS DOUBLE), 6) AS dcg,
         |       CASE WHEN coalesce(nr.n_rel, 0) = 0 THEN 0.0
         |            ELSE round(CAST(dcg9 AS DOUBLE) / CAST(
         |              CASE least(nr.n_rel, 5) $cumCase END AS DOUBLE), 6)
         |       END AS ndcg
         |FROM per LEFT JOIN nr ON nr.query_id = per.query_id""".stripMargin
    }),

    // --- hard-negative mining: per query, the top-5 highest-cosine
    // candidates with a DIFFERENT label from its top-25 slate — the
    // contrastive-training near-misses (DPR/SBERT recipe) ----------------
    Row("ann_hard_negatives", (s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.hardNegatives(e, e.filter(col("vec_id") < 50),
        "vec_id", "embedding", "label", candK = 25, k = 5)
    },
      // ann_brute_topk's ranking CTEs at k=5 over the query sample, the
      // same-label relevance join, and the SHARED 9-dp discount-weight
      // literals (Similarity.ndcgWeights — libm log2 never runs in either
      // engine); DCG sums are exact DECIMAL(28,9)
      // the brute fragment at candK=25, labels joined on both sides,
      // same-label candidates dropped, per-query re-rank to 5
      """WITH e0 AS (SELECT vec_id, label,
        |              CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |e AS (SELECT vec_id, label,
        |        list_transform(v, x -> x / sqrt(list_dot_product(v, v)))
        |          AS v
        |      FROM e0),
        |q AS (SELECT vec_id AS query_id, label AS qlab, v AS qv
        |      FROM e WHERE vec_id < 50),
        |s AS (SELECT q.query_id, q.qlab, e.vec_id AS neighbor_id,
        |             e.label AS nlab,
        |             list_dot_product(qv, e.v) AS score0
        |      FROM e, q WHERE e.vec_id <> q.query_id),
        |cand AS (SELECT query_id, qlab, neighbor_id, nlab,
        |                round(score0, 6) AS score FROM (
        |           SELECT *, row_number() OVER (PARTITION BY query_id
        |                       ORDER BY score0 DESC, neighbor_id) AS rnk
        |           FROM s) WHERE rnk <= 25)
        |SELECT query_id, CAST(hn_rank AS BIGINT) AS hn_rank,
        |       neighbor_id, score FROM (
        |  SELECT query_id, neighbor_id, score,
        |         row_number() OVER (PARTITION BY query_id
        |           ORDER BY score DESC, neighbor_id) AS hn_rank
        |  FROM cand WHERE nlab <> qlab)
        |WHERE hn_rank <= 5""".stripMargin),

    // --- ANN-leg hard negatives + recall eval: the 100 TB mining shape —
    // the slate comes from the IVF cell-pruned leg (corpus never
    // cross-joins the queries), and the brute-mined slate is kept as the
    // recall baseline it's measured against (ann_graph_recall's pattern) --
    Row("ann_hard_negatives_ivf", (s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") < 50)
      val ivfHn = Similarity.hardNegativesFrom(
        IvfIndex(AxisIvf, Flat).topK(e, q, "vec_id", "embedding", k = 25,
          probes = 2),
        e, q, "vec_id", "label", k = 5)
      val bruteHn = Similarity.hardNegatives(e, q,
        "vec_id", "embedding", "label", candK = 25, k = 5)
      Similarity.recallAtK(
        bruteHn.withColumnRenamed("hn_rank", "rank"),
        ivfHn.withColumnRenamed("hn_rank", "rank"), k = 5)
        .select(col("query_id"), col("n_hits"), col("recall"))
    },
      // the brute hard-negative slate (the ann_hard_negatives CTEs) as
      // the exact baseline, the IVF cell-pruned slate (the ann_ivf_topk
      // cell CTEs at candK=25) as the mining leg, recallAtK's join:
      // denominator = the brute slate's ACTUAL per-query size
      (s"""WITH e0 AS (SELECT vec_id, label,
        |              CAST(embedding AS DOUBLE[]) AS v
        |            FROM embeddings),
        |e AS (SELECT vec_id, label,
        |        list_transform(v, x -> x / sqrt(list_dot_product(v, v)))
        |          AS v
        |      FROM e0),
        |q AS (SELECT vec_id AS query_id, label AS qlab, v AS qv
        |      FROM e WHERE vec_id < 50),
        |s AS (SELECT q.query_id, q.qlab, e.vec_id AS neighbor_id,
        |             e.label AS nlab,
        |             list_dot_product(qv, e.v) AS score0
        |      FROM e, q WHERE e.vec_id <> q.query_id),
        |bcand AS (SELECT query_id, qlab, neighbor_id, nlab,
        |                 round(score0, 6) AS score FROM (
        |            SELECT *, row_number() OVER (PARTITION BY query_id
        |                        ORDER BY score0 DESC, neighbor_id) AS rnk
        |            FROM s) WHERE rnk <= 25),
        |bhn AS (SELECT query_id, neighbor_id FROM (
        |          SELECT query_id, neighbor_id,
        |                 row_number() OVER (PARTITION BY query_id
        |                   ORDER BY score DESC, neighbor_id) AS hn_rank
        |          FROM bcand WHERE nlab <> qlab)
        |        WHERE hn_rank <= 5),
        |""".stripMargin +
        ivfCellCtes("e0") + """,
        |iq AS (SELECT vec_id AS query_id, unnest([cell_w, cell_r]) AS cell
        |       FROM ivcell WHERE vec_id < 50),
        |ic AS (SELECT vec_id AS neighbor_id, cell_w AS cell FROM ivcell),
        |iscore AS (SELECT iq.query_id, qe.label AS qlab,
        |                  ic.neighbor_id, ne.label AS nlab,
        |                  list_dot_product(qe.v, ne.v) AS score0
        |           FROM ic JOIN iq USING (cell)
        |           JOIN e qe ON qe.vec_id = iq.query_id
        |           JOIN e ne ON ne.vec_id = ic.neighbor_id
        |           WHERE ic.neighbor_id <> iq.query_id),
        |icand AS (SELECT query_id, qlab, neighbor_id, nlab,
        |                 round(score0, 6) AS score FROM (
        |            SELECT *, row_number() OVER (PARTITION BY query_id
        |                        ORDER BY score0 DESC, neighbor_id) AS rnk
        |            FROM iscore) WHERE rnk <= 25),
        |ihn AS (SELECT DISTINCT query_id, neighbor_id FROM (
        |          SELECT query_id, neighbor_id,
        |                 row_number() OVER (PARTITION BY query_id
        |                   ORDER BY score DESC, neighbor_id) AS hn_rank
        |          FROM icand WHERE nlab <> qlab)
        |        WHERE hn_rank <= 5)
        |SELECT bhn.query_id,
        |       CAST(sum(CASE WHEN ihn.neighbor_id IS NOT NULL
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
        |       round(CAST(sum(CASE WHEN ihn.neighbor_id IS NOT NULL
        |                          THEN 1 ELSE 0 END) AS DOUBLE)
        |             / CAST(count(*) AS DOUBLE), 6) AS recall
        |FROM bhn LEFT JOIN ihn
        |  ON ihn.query_id = bhn.query_id
        | AND ihn.neighbor_id = bhn.neighbor_id
        |GROUP BY 1""".stripMargin))
  )
}
