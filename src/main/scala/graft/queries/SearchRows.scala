package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.llm.{Corpus, IvfIndex, Similarity}
import graft.llm.IvfIndex.Flat

/** Retrieval: BM25, pseudo-relevance feedback, the inverted index,
  * hybrid rank fusion and MMR reranking. */
object SearchRows {
  import Shared._

  /** bm25_topk's query terms + Okapi constants — shared by the Spark
    * registration and the oracle so the doubles in both engines parse
    * from the SAME shortest-repr literals (a hand-written `2.2` in SQL
    * can land one ulp away from Scala's `k1 + 1.0`). */
  private val Bm25Terms = Seq("vector", "merge", "spark")

  /** PRF expansion constants, shared engine/oracle. */
  private val PrfFbDocs = 10

  private val PrfExpandK = 5

  /** MMR rerank constants, shared engine/oracle (the Bm25 policy: both
    * sides parse λ and 1−λ from the SAME shortest-repr literals). */
  private val MmrLambda = 0.5

  private val MmrCandK = 20

  private val MmrSelectK = 5

  /** DuckDB oracle for search_mmr / search_mmr_ivf: the candidate CTEs
    * (`candCtes`, producing cand(query_id, nid, rel, rnk) over the shared
    * e0/e frames) then the greedy MMR selection UNROLLED one CTE-triple
    * (maxsim, pick, survivors) per round — selection is sequential by
    * definition, so the oracle replays it round by round (the BPE-unroll
    * precedent; keep in sync with [[Similarity.mmrRerankFrom]]). */
  private def mmrOracleSql(candCtes: String): String = {
    val lam = MmrLambda
    val oneMinus = 1.0 - MmrLambda
    val rounds = (2 to MmrSelectK).map { r =>
      s"""ms$r AS (
         |  SELECT p.query_id, p.ida AS nid, max(p.sim) AS maxsim
         |  FROM p JOIN sel${r - 1} s
         |    ON s.query_id = p.query_id AND s.nid = p.idb
         |  GROUP BY 1, 2),
         |pick$r AS (
         |  SELECT query_id, nid, $r AS pick FROM (
         |    SELECT r.query_id, r.nid,
         |           row_number() OVER (PARTITION BY r.query_id
         |             ORDER BY $lam * r.rel
         |                      - $oneMinus * CAST(m.maxsim AS DOUBLE) DESC,
         |                      r.nid) AS rn
         |    FROM rem${r - 1} r JOIN ms$r m
         |      ON m.query_id = r.query_id AND m.nid = r.nid)
         |  WHERE rn = 1),
         |sel$r AS (SELECT * FROM sel${r - 1} UNION ALL
         |          SELECT * FROM pick$r),
         |rem$r AS (
         |  SELECT r.* FROM rem${r - 1} r LEFT JOIN pick$r p
         |    ON p.query_id = r.query_id AND p.nid = r.nid
         |  WHERE p.nid IS NULL)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |            FROM embeddings),
       |e AS (SELECT vec_id,
       |        list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS v
       |      FROM e0),
       |$candCtes,
       |cv AS (SELECT c.query_id, c.nid, c.rel, e.v
       |       FROM cand c JOIN e ON e.vec_id = c.nid),
       |p AS (SELECT a.query_id, a.nid AS ida, b.nid AS idb,
       |             CAST(round(list_dot_product(a.v, b.v), 9)
       |               AS DECIMAL(28,9)) AS sim
       |      FROM cv a JOIN cv b
       |        ON a.query_id = b.query_id AND a.nid <> b.nid),
       |sel1 AS (SELECT query_id, nid, 1 AS pick FROM cand WHERE rnk = 1),
       |rem1 AS (SELECT query_id, nid, rel FROM cand WHERE rnk > 1),
       |$rounds
       |SELECT query_id, CAST(pick AS BIGINT) AS pick, nid AS neighbor_id
       |FROM sel$MmrSelectK""".stripMargin
  }

  /** The brute-force MMR candidate fragment (ann_brute_topk's scorer). */
  private def mmrBruteCandCtes: String =
    s"""q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 8),
       |s AS (SELECT q.query_id, e.vec_id AS nid,
       |             list_dot_product(qv, e.v) AS score0
       |      FROM e, q WHERE e.vec_id <> q.query_id),
       |cand AS (SELECT query_id, nid, round(score0, 6) AS rel, rnk FROM (
       |           SELECT query_id, nid, score0,
       |                  row_number() OVER (PARTITION BY query_id
       |                    ORDER BY score0 DESC, nid) AS rnk
       |           FROM s) WHERE rnk <= $MmrCandK)""".stripMargin

  /** The IVF MMR candidate fragment: the SHARED [[ivfCellCtes]] axis
    * cells (m=4, probes=2) over the raw e0 vectors, scored on the
    * normalized e. */
  private def mmrIvfCandCtes: String =
    s"""${ivfCellCtes("e0")},
       |iq AS (SELECT vec_id AS query_id, unnest([cell_w, cell_r]) AS cell
       |       FROM ivcell WHERE vec_id < 8),
       |ic AS (SELECT vec_id AS neighbor_id, cell_w AS cell FROM ivcell),
       |iscore AS (SELECT iq.query_id, ic.neighbor_id AS nid,
       |                  list_dot_product(qe.v, ne.v) AS score0
       |           FROM ic JOIN iq USING (cell)
       |           JOIN e qe ON qe.vec_id = iq.query_id
       |           JOIN e ne ON ne.vec_id = ic.neighbor_id
       |           WHERE ic.neighbor_id <> iq.query_id),
       |cand AS (SELECT query_id, nid, round(score0, 6) AS rel, rnk FROM (
       |           SELECT query_id, nid, score0,
       |                  row_number() OVER (PARTITION BY query_id
       |                    ORDER BY score0 DESC, nid) AS rnk
       |           FROM iscore) WHERE rnk <= $MmrCandK)""".stripMargin

  private val Bm25K1 = 1.2

  private val Bm25B = 0.75

  /** DuckDB CTE fragment scoring every document against [[Bm25Terms]]
    * (`base`, `st`, `sc`; requires [[toksCte]]) plus the final top-100
    * SELECT — shared by the bm25_topk oracle and hybrid_rrf's sparse leg
    * so both ranked lists come from the one fragment. */
  private val Bm25OracleCtes: String = {
    val dfCols = Bm25Terms.zipWithIndex.map { case (t, i) =>
      s"sum(CASE WHEN list_contains(toks, '$t') THEN 1 ELSE 0 END) AS df_$i"
    }.mkString(",\n              ")
    val contribs = Bm25Terms.zipWithIndex.map { case (t, i) =>
      s"""CAST(round(ln((CAST(n_docs AS DOUBLE) - CAST(df_$i AS DOUBLE) + 0.5)
         |          / (CAST(df_$i AS DOUBLE) + 0.5) + 1.0)
         |     * CAST(len(list_filter(toks, x -> x = '$t')) AS DOUBLE)
         |     * ${Bm25K1 + 1.0}
         |     / (CAST(len(list_filter(toks, x -> x = '$t')) AS DOUBLE)
         |        + $Bm25K1 * (1.0 - $Bm25B + $Bm25B
         |          * CAST(dl AS DOUBLE)
         |          / (CAST(total_len AS DOUBLE)
         |             / CAST(n_docs AS DOUBLE)))), 9) AS DECIMAL(28,9))"""
        .stripMargin
    }.mkString("\n   + ")
    s"""base AS (SELECT doc_id, toks, CAST(len(toks) AS INT) AS dl
       |         FROM t),
       |st AS (SELECT count(*) AS n_docs, sum(dl) AS total_len,
       |              $dfCols
       |       FROM base),
       |sc AS (SELECT doc_id, dl,
       |   $contribs AS s
       |   FROM base, st)""".stripMargin
  }

  private val Bm25OracleTop: String =
    """SELECT doc_id, dl, round(CAST(s AS DOUBLE), 6) AS bm25
      |FROM sc
      |WHERE round(CAST(s AS DOUBLE), 6) > 0
      |ORDER BY bm25 DESC, doc_id
      |LIMIT 100""".stripMargin

  /** DuckDB oracle for search_prf: [[Bm25OracleCtes]]' feedback slate,
    * the idf·fbTf expansion pick, and the frame-driven weighted second
    * pass — keep in lock-step with [[Corpus.prfTopK]] /
    * [[Corpus.bm25TopKWeighted]] (shared k1/b/(k1+1) literals, 9-dp
    * decimal contributions, exact decimal weights). Multi-referenced
    * CTEs are AS MATERIALIZED so DuckDB doesn't re-run the token
    * explode per reference. */
  private def prfOracleSql: String = {
    val seedList = Bm25Terms.map(t => s"'$t'").mkString(", ")
    val seedRows = Bm25Terms.map(t =>
      s"SELECT '$t' AS term, CAST('1.0' AS DECIMAL(2,1)) AS w")
      .mkString("\n       UNION ALL ")
    val idf = "ln((CAST(st.n_docs AS DOUBLE) - CAST(d2.df AS DOUBLE) + 0.5)" +
      "\n              / (CAST(d2.df AS DOUBLE) + 0.5) + 1.0)"
    s"""WITH $toksCte,
       |$Bm25OracleCtes,
       |fb AS MATERIALIZED (
       |  SELECT doc_id FROM sc WHERE round(CAST(s AS DOUBLE), 6) > 0
       |  ORDER BY round(CAST(s AS DOUBLE), 6) DESC, doc_id
       |  LIMIT $PrfFbDocs),
       |fbtf AS MATERIALIZED (
       |  SELECT term, count(*) AS fbtf FROM (
       |    SELECT unnest(b.toks) AS term FROM base b JOIN fb USING (doc_id))
       |  WHERE term NOT IN ($seedList) GROUP BY 1),
       |ex2 AS MATERIALIZED (
       |  SELECT doc_id, unnest(toks) AS term FROM base),
       |cdf AS (SELECT term, count(*) AS df FROM (
       |          SELECT DISTINCT e.doc_id, e.term FROM ex2 e
       |          JOIN fbtf f ON f.term = e.term) GROUP BY 1),
       |pick AS (SELECT term FROM (
       |    SELECT f.term, row_number() OVER (ORDER BY
       |        CAST(round(ln((CAST(st.n_docs AS DOUBLE)
       |                       - CAST(c.df AS DOUBLE) + 0.5)
       |                      / (CAST(c.df AS DOUBLE) + 0.5) + 1.0)
       |                   * CAST(f.fbtf AS DOUBLE), 9)
       |          AS DECIMAL(28,9)) DESC, f.term) AS rn
       |    FROM fbtf f JOIN cdf c USING (term) CROSS JOIN st)
       |  WHERE rn <= $PrfExpandK),
       |qt AS MATERIALIZED (
       |  $seedRows
       |       UNION ALL
       |       SELECT term, CAST('0.5' AS DECIMAL(2,1)) AS w FROM pick),
       |tf2 AS (SELECT e.doc_id, e.term, count(*) AS tf FROM ex2 e
       |        JOIN qt ON qt.term = e.term GROUP BY 1, 2),
       |df2 AS (SELECT term, count(*) AS df FROM (
       |          SELECT DISTINCT e.doc_id, e.term FROM ex2 e
       |          JOIN qt ON qt.term = e.term) GROUP BY 1),
       |co AS (SELECT t2.doc_id, b.dl,
       |         CAST(round($idf
       |              * CAST(t2.tf AS DOUBLE) * ${Bm25K1 + 1.0}
       |              / (CAST(t2.tf AS DOUBLE) + $Bm25K1 * (1.0 - $Bm25B
       |                 + $Bm25B * CAST(b.dl AS DOUBLE)
       |                 / (CAST(st.total_len AS DOUBLE)
       |                    / CAST(st.n_docs AS DOUBLE)))), 9)
       |           AS DECIMAL(28,9)) * q.w AS c
       |       FROM tf2 t2 JOIN df2 d2 USING (term)
       |       JOIN qt q ON q.term = t2.term
       |       JOIN base b ON b.doc_id = t2.doc_id
       |       CROSS JOIN st)
       |SELECT doc_id, dl, round(CAST(SUM(c) AS DOUBLE), 6) AS prf
       |FROM co GROUP BY 1, 2
       |HAVING round(CAST(SUM(c) AS DOUBLE), 6) > 0
       |ORDER BY prf DESC, doc_id
       |LIMIT 100""".stripMargin
  }

  val rows: Seq[Row] = Seq(
    // --- Okapi BM25 retrieval: top-100 docs for a literal term set; one
    // corpus stats aggregate broadcast onto a map-side tf scan -----------
    Row("bm25_topk", (s, d) =>
      Corpus.bm25TopK(Tables.documents(s, d), "text", "doc_id",
        terms = Bm25Terms, k = 100, k1 = Bm25K1, b = Bm25B),
      // mirror Corpus.bm25TopK: one stats row (N, total length, per-term
      // dfs), per-term 9-dp contributions summed as exact decimals; the
      // k1/b/k1+1 constants interpolate from the SAME Scala doubles the
      // engine plans, so both parsers see identical shortest-repr
      // literals
      s"WITH $toksCte,\n$Bm25OracleCtes\n$Bm25OracleTop"),

    // --- pseudo-relevance-feedback retrieval: BM25 feedback slate →
    // idf·fbTf expansion-term mining (top-5, seeds excluded, weight 0.5)
    // → frame-driven weighted BM25 re-retrieval. The recall lever for
    // seed-set expansion; every post-scan frame is feedback-vocab-sized --
    Row("search_prf", (s, d) =>
      Corpus.prfTopK(Tables.documents(s, d), "text", "doc_id",
        seedTerms = Bm25Terms, k = 100, fbDocs = PrfFbDocs,
        expandK = PrfExpandK, k1 = Bm25K1, b = Bm25B),
      // the feedback slate from the same bm25 fragment, the idf·fbTf
      // expansion pick, and the weighted frame-driven second pass
      prfOracleSql),

    // --- inverted index build: term → df + sorted posting list, with the
    // stop-term df cap (count pre-pass + broadcast anti-join BEFORE any
    // collect_list — the Dedup stop-shingle discipline; capped terms keep
    // their df, postings NULL: no silent truncation) -------------------------
    Row("index_postings", (s, d) =>
      graft.llm.Index.postings(Tables.documents(s, d), "text", "doc_id",
        maxDf = 400),
      // distinct (doc, term) postings; stop terms (df > 400) keep their
      // df with NULL postings, mirroring the engine's anti-join cap
      """WITH p AS (SELECT DISTINCT doc_id, term FROM (
        |       SELECT doc_id,
        |              unnest(string_split_regex(text, '\s+')) AS term
        |       FROM documents) WHERE len(term) > 0),
        |dfc AS (SELECT term, CAST(count(*) AS BIGINT) AS df
        |        FROM p GROUP BY 1),
        |lists AS (SELECT term,
        |            string_agg(CAST(doc_id AS VARCHAR), ','
        |                       ORDER BY doc_id) AS postings
        |          FROM p
        |          WHERE term NOT IN (SELECT term FROM dfc WHERE df > 400)
        |          GROUP BY 1)
        |SELECT d.term, d.df, l.postings
        |FROM dfc d LEFT JOIN lists l USING (term)""".stripMargin),

    // --- conjunctive boolean retrieval over the exploded posting rows:
    // term ∈ query → group by doc → full-match gate. |query|-way
    // intersection with map-side partial counts ------------------------------
    Row("search_boolean", (s, d) =>
      graft.llm.Index.searchAll(Tables.documents(s, d), "text", "doc_id",
        terms = Bm25Terms),
      """WITH p AS (SELECT DISTINCT doc_id, term FROM (
        |       SELECT doc_id,
        |              unnest(string_split_regex(text, '\s+')) AS term
        |       FROM documents) WHERE len(term) > 0)
        |SELECT doc_id FROM p
        |WHERE term IN ('vector', 'merge', 'spark')
        |GROUP BY doc_id HAVING count(*) = 3""".stripMargin),

    // --- weak-AND variant: ≥2 of the terms, with the match count ------------
    Row("search_any", (s, d) =>
      graft.llm.Index.searchAny(Tables.documents(s, d), "text", "doc_id",
        terms = Bm25Terms, minMatch = 2),
      """WITH p AS (SELECT DISTINCT doc_id, term FROM (
        |       SELECT doc_id,
        |              unnest(string_split_regex(text, '\s+')) AS term
        |       FROM documents) WHERE len(term) > 0)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matched FROM p
        |WHERE term IN ('vector', 'merge', 'spark')
        |GROUP BY doc_id HAVING count(*) >= 2""".stripMargin),

    // --- positional phrase retrieval: adjacent-token match via a
    // (|phrase|−1)-way equi-join on (doc, pos+k) over term-filtered
    // positional postings --------------------------------------------------
    Row("search_phrase", (s, d) =>
      graft.llm.Index.searchPhrase(Tables.documents(s, d), "text",
        "doc_id", Seq("table", "hash")),
      """WITH t AS (SELECT doc_id, i - 1 AS pos, toks[i] AS tok FROM (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS toks,
        |         unnest(generate_series(1, len(toks))) AS i
        |  FROM documents))
        |SELECT a.doc_id, CAST(count(*) AS BIGINT) AS n_occurrences
        |FROM t a JOIN t b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
        |WHERE a.tok = 'table' AND b.tok = 'hash'
        |GROUP BY 1""".stripMargin),

    // --- hybrid retrieval: reciprocal-rank fusion of the BM25 sparse leg
    // and a dense cosine leg (doc 0's embedding as the query — vec_id
    // aligns with doc_id in the fixtures). The rank windows run on
    // top-100 lists, not the corpus -----------------------------------------
    Row("hybrid_rrf", (s, d) => {
      val sparse = Corpus.bm25TopK(Tables.documents(s, d), "text", "doc_id",
        terms = Bm25Terms, k = 100, k1 = Bm25K1, b = Bm25B)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("bm25").desc, col("doc_id"))))
        .select("doc_id", "rank")
      val e = Tables.embeddings(s, d)
      val dense = Similarity.bruteForceTopK(e, e.filter(col("vec_id") === 0),
        "vec_id", "embedding", k = 100)
        .select(col("neighbor_id").as("doc_id"), col("rank"))
      Similarity.rrfFuse(Seq("sparse" -> sparse, "dense" -> dense),
        "doc_id", "rank", k0 = 60, k = 20)
        .select("doc_id", "sparse_rank", "dense_rank", "rrf")
    },
      // sparse leg = the bm25_topk fragment verbatim; dense leg = the
      // ann_brute ranking with vec 0 as the query; reciprocal terms add
      // sparse-then-dense to match the engine's left-to-right fold
      (s"WITH $toksCte,\n$Bm25OracleCtes,\n" +
        """sr AS (SELECT doc_id, CAST(row_number() OVER (
          |          ORDER BY bm25 DESC, doc_id) AS BIGINT) AS sparse_rank
          |       FROM (""".stripMargin + Bm25OracleTop + """)),
          |e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          |       FROM embeddings),
          |en AS (SELECT vec_id,
          |         list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS v
          |       FROM e0),
          |qv AS (SELECT v AS q FROM en WHERE vec_id = 0),
          |dr AS (SELECT * FROM (
          |         SELECT vec_id AS doc_id,
          |                CAST(row_number() OVER (
          |                  ORDER BY list_dot_product(en.v, q) DESC,
          |                           vec_id) AS BIGINT) AS dense_rank
          |         FROM en, qv WHERE vec_id <> 0)
          |       WHERE dense_rank <= 100),
          |f AS (SELECT coalesce(sr.doc_id, dr.doc_id) AS doc_id,
          |             sr.sparse_rank, dr.dense_rank,
          |             round(coalesce(1.0 / (60 + sr.sparse_rank), 0.0)
          |                 + coalesce(1.0 / (60 + dr.dense_rank), 0.0), 9)
          |               AS rrf
          |      FROM sr FULL OUTER JOIN dr ON sr.doc_id = dr.doc_id)
          |SELECT doc_id, sparse_rank, dense_rank, rrf
          |FROM (SELECT *, row_number() OVER (ORDER BY rrf DESC, doc_id)
          |        AS rn FROM f)
          |WHERE rn <= 20""".stripMargin)),

    // --- MMR diversified rerank: greedy λ·rel − (1−λ)·max-sim-to-slate
    // over each query's top-20 cosine candidates — the anti-redundancy
    // slate builder for RAG context/review queues. Rank-only output; the
    // greedy rounds are bounded joins over |queries|×candK frames --------
    Row("search_mmr", (s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.mmrRerank(e, e.filter(col("vec_id") < 8),
        "vec_id", "embedding", candK = MmrCandK, selectK = MmrSelectK,
        lambda = MmrLambda)
    },
      mmrOracleSql(mmrBruteCandCtes)),

    // --- MMR over the IVF slate: the 100 TB instantiation — candidate
    // generation is cell-pruned equi-joins (the corpus never cross-joins
    // the queries); the greedy diversification reads only the slate ------
    Row("search_mmr_ivf", (s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") < 8)
      Similarity.mmrRerankFrom(
        IvfIndex(AxisIvf, Flat).topK(e, q, "vec_id", "embedding",
          k = MmrCandK, probes = 2),
        e, "vec_id", "embedding", selectK = MmrSelectK,
        lambda = MmrLambda)
    },
      // the same unrolled greedy over the IVF cell-pruned slate
      mmrOracleSql(mmrIvfCandCtes))
  )
}
