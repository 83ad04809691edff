package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.llm.{Blocking, Clustering, Contamination, Corpus, Dedup, IvfIndex, Multimodal, Pii, QualityModel, Quantize, Sampling, Similarity, TextAnalysis}
import graft.llm.IvfIndex.{Bits, Flat, OneCell, Prefix, ResidualPq, SeededPq,
  Signs, Sq8, Trained}
import graft.operators.{AsofJoin, Cohorts, RangeJoin, Sessionize, Skew, TimeSeries}
import graft.streaming.{SessionEvent, StreamingSessionize, StreamingZscore, ZscoreEvent}

/** The LLM-training-data-pipeline operator set (dedup, similarity search,
  * text analysis, multimodal plumbing) as oracle-checked queries over
  * `documents` / `embeddings`.
  *
  * Hash discipline: every oracle-checked query uses md5-derived hashes
  * (bit-identical in DuckDB). Scores/ranks use double arithmetic with
  * deterministic tie-breaks; raw cosine scores are kept out of hash-compared
  * outputs where summation order could differ between engines.
  */
object PipelineQueries {
  private type Q = (SparkSession, String) => DataFrame

  /** SQL fragment: tokenized documents CTE (keep in sync with
    * [[TextAnalysis.tokens]]). */
  private val toksCte =
    """t AS (SELECT doc_id, text, string_split_regex(text, '\s+') AS toks
      |      FROM documents)""".stripMargin

  /** SQL fragment: the w=3 chunker from the dedup_chunks oracle plus
    * corpus-wide chunk-hash multiplicities folded per document (`sdp`) —
    * shared by the dedup_dupratio and softdedup_weights oracles (keep in
    * sync with [[Dedup.chunkDupStats]]). */
  private val chunkMultCtes =
    """t AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks
      |      FROM documents WHERE len(string_split_regex(text, '\s+')) >= 1),
      |c AS (SELECT doc_id,
      |             CAST(ceil(len(toks) / 3.0) AS BIGINT) AS n_chunks,
      |             md5(array_to_string(toks[(i*3+1):(i*3+3)], ' ')) AS h
      |      FROM (SELECT doc_id, toks,
      |                   unnest(generate_series(
      |                     0, CAST(ceil(len(toks) / 3.0) AS BIGINT) - 1)) AS i
      |            FROM t)),
      |m AS (SELECT h, count(*) AS mult FROM c GROUP BY h),
      |sdp AS (SELECT c.doc_id,
      |               any_value(c.n_chunks) AS n_chunks,
      |               CAST(sum(CASE WHEN m.mult > 1 THEN 1 ELSE 0 END)
      |                 AS BIGINT) AS n_dup,
      |               CAST(sum(m.mult) AS BIGINT) AS sum_mult
      |        FROM c JOIN m USING (h) GROUP BY c.doc_id)""".stripMargin

  /** One raw-events-schema sentinel row at far-future `tsUs` carrying the
    * `__wm__` marker — FileReplay's watermark-flush batch. Built against
    * whichever physical ts encoding the fixture shipped (LONG nanos under
    * nanosAsLong, else TIMESTAMP/_NTZ), mirroring [[Tables.tsMicros]];
    * non-ts columns ride from an arbitrary real row, so the file-source
    * schema always matches. */
  private def eventsSentinel(ss: SparkSession, d: String, tsUs: Long,
                             userId: Long = 0L): DataFrame = {
    val raw = ss.read.parquet(s"$d/events.parquet")
    val tsLit = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => lit(tsUs * 1000L) // nanos
      case dt => timestamp_micros(lit(tsUs)).cast(dt)
    }
    raw.limit(1).select(raw.columns.map {
      case "ts" => tsLit.as("ts")
      case "event_type" => lit("__wm__").as("event_type")
      case "value" => lit(0.0).as("value")
      // pinned so any query-side predicate (user_id < 50 etc.) admits
      // the sentinel — a filtered-out sentinel never reaches the
      // watermark operator and the flush batch silently does nothing
      case "user_id" => lit(userId).as("user_id")
      case "event_id" => lit(-1L).as("event_id")
      case c => col(c)
    }: _*)
  }

  /** One raw-documents-schema sentinel row with a far-future `doc_id` —
    * the crawl-clock analogue of [[eventsSentinel]] for replays whose
    * event time derives from doc_id. All other columns ride from an
    * arbitrary real row; callers filter the sentinel's output group by
    * its out-of-range id. */
  private def docsSentinel(ss: SparkSession, d: String,
                           docId: Long): DataFrame = {
    val raw = ss.read.parquet(s"$d/documents.parquet")
    raw.limit(1).select(raw.columns.map {
      case "doc_id" => lit(docId).as("doc_id")
      case c => col(c)
    }: _*)
  }

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

  /** Deterministic crawl-record URL synthesized from fixture columns for
    * the url_* queries — mixed case, www/default-port/fragment/tracking
    * params and a trailing slash so every normalize rule fires; multiples
    * of 5 collide onto a shared path so n_urls < n_docs per domain. */
  private def synthUrl: Column = concat(
    when(col("doc_id") % 2 === 0, lit("HTTP://WWW.")).otherwise(lit("HTTPS://")),
    col("source"), lit(".Example.COM"),
    when(col("doc_id") % 2 === 0, lit(":80")).otherwise(lit(":443")),
    lit("/Docs/"),
    when(col("doc_id") % 5 === 0, expr("doc_id div 100"))
      .otherwise(col("doc_id")).cast("string"),
    when(col("doc_id") % 3 === 0, lit("/")).otherwise(lit("")),
    lit("?utm_source=feed&b=2&ref="), col("lang"), lit("&a=1#sec-"),
    col("lang"))

  /** SQL fragment: the same synthesized URL plus the normalize chain
    * (`un(doc_id, url, host, url_norm)`) — keep in lock-step with
    * [[synthUrl]], [[TextAnalysis.urlNormalize]], and
    * [[TextAnalysis.urlHost]]. */
  private val urlCtes =
    """uraw AS (SELECT doc_id,
      |  concat(CASE WHEN doc_id % 2 = 0 THEN 'HTTP://WWW.'
      |              ELSE 'HTTPS://' END,
      |         source, '.Example.COM',
      |         CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE ':443' END,
      |         '/Docs/',
      |         CAST(CASE WHEN doc_id % 5 = 0 THEN doc_id // 100
      |                   ELSE doc_id END AS VARCHAR),
      |         CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END,
      |         '?utm_source=feed&b=2&ref=', lang, '&a=1#sec-', lang)
      |    AS url
      |  FROM documents),
      |up AS (SELECT doc_id, url,
      |         lower(regexp_extract(url,
      |           '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
      |         regexp_replace(lower(regexp_extract(url,
      |           '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1)),
      |           '^www\.', '') AS h0,
      |         regexp_replace(regexp_extract(url,
      |           '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^#]*)', 1),
      |           '#.*$', '') AS pathq
      |       FROM uraw),
      |uh AS (SELECT *, CASE WHEN scheme = 'http'
      |                        THEN regexp_replace(h0, ':80$', '')
      |                      WHEN scheme = 'https'
      |                        THEN regexp_replace(h0, ':443$', '')
      |                      ELSE h0 END AS host,
      |         regexp_extract(pathq, '^([^?]*)', 1) AS path0,
      |         regexp_extract(pathq, '\?(.*)$', 1) AS qs
      |       FROM up),
      |un AS (SELECT doc_id, url, host,
      |         CASE WHEN scheme = '' THEN url ELSE
      |           concat(scheme, '://', host,
      |             CASE WHEN regexp_replace(path0, '/+$', '') = ''
      |                  THEN '/'
      |                  ELSE regexp_replace(path0, '/+$', '') END,
      |             CASE WHEN qnorm = '' THEN ''
      |                  ELSE concat('?', qnorm) END)
      |         END AS url_norm
      |       FROM (SELECT *, array_to_string(list_sort(list_filter(
      |               string_split(qs, '&'), p -> p <> '' AND NOT
      |               regexp_matches(p,
      |                 '^(utm_[^=]*|ref|fbclid|gclid)='))), '&') AS qnorm
      |             FROM uh))""".stripMargin

  /** SQL fragment: distinct word-3-gram shingles (keep in sync with
    * [[Dedup.shingles]]). Split so composed oracles that ALREADY carry a
    * whitespace-split `ws` CTE (bigramNllCtes defines the identical one)
    * can append just the shingle tail without a name collision. */
  private val shinglesFromWsCte =
    """idx AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i
      |        FROM ws WHERE len(w) >= 3),
      |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
      |       FROM idx)""".stripMargin

  private val shinglesCte =
    "ws AS (SELECT doc_id, string_split_regex(text, '\\s+') AS w FROM documents),\n" +
      shinglesFromWsCte

  private def sqlStringList(xs: Seq[String]): String =
    xs.map(x => s"'$x'").mkString("[", ", ", "]")

  /** SQL fragment: per-document add-one bigram-LM NLL as CTE
    * `bnll(doc_id, n_bigrams, avg_nll)` (keep in sync with
    * [[Corpus.bigramNll]]). Expects to follow `WITH `. */
  private val bigramNllCtes =
    """ws AS (SELECT doc_id, string_split_regex(text, '\s+') AS w
      |            FROM documents),
      |bgx AS (SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
      |        FROM (SELECT doc_id, w,
      |                     unnest(generate_series(1, len(w) - 1)) AS i
      |              FROM ws WHERE len(w) >= 2)),
      |bg AS (SELECT doc_id, w1, w2, count(*) AS tfb
      |       FROM bgx GROUP BY 1, 2, 3),
      |c12 AS (SELECT w1, w2, sum(tfb) AS c12 FROM bg GROUP BY 1, 2),
      |c1 AS (SELECT w1, sum(c12) AS c1 FROM c12 GROUP BY 1),
      |v AS (SELECT count(DISTINCT tok) AS v
      |      FROM (SELECT unnest(string_split_regex(text, '\s+')) AS tok
      |            FROM documents)),
      |nll AS (
      |  SELECT bg.doc_id, bg.tfb,
      |         CAST(round(-ln((CAST(c12.c12 AS DOUBLE) + 1.0) /
      |           (CAST(c1.c1 AS DOUBLE) + 1.0 * v.v)), 9)
      |           AS DECIMAL(28,9)) AS nll9
      |  FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1), v),
      |bnll AS (
      |  SELECT doc_id, CAST(sum(tfb) AS BIGINT) AS n_bigrams,
      |         round(CAST(sum(CAST(tfb AS DECIMAL(9,0)) * nll9) AS DOUBLE)
      |               / CAST(sum(tfb) AS DOUBLE), 6) AS avg_nll
      |  FROM nll GROUP BY 1)""".stripMargin

  /** SQL fragment: SimHash signature + chunk-blocked pairing from a CTE
    * `toks(doc_id, tok)` — the shared tail of every SimHash-family oracle
    * (keep in sync with [[graft.functions.SimHashUtil]] and
    * [[Dedup.simhashPairs]]). Expects to be appended after `WITH …,`. */
  private val simhashPairsFromToksSql =
    """tf AS (
      |  SELECT doc_id, tok, count(*) AS cnt, md5(tok) AS h
      |  FROM toks GROUP BY 1, 2),
      |bits AS (
      |  SELECT doc_id, pos,
      |         sum(CASE WHEN CAST(floor(
      |               (strpos('0123456789abcdef',
      |                       substr(h, CAST(pos // 4 AS INT) + 1, 1)) - 1)
      |               / 2 ** (3 - pos % 4)) AS INT) % 2 = 1
      |             THEN cnt ELSE -cnt END) AS s
      |  FROM tf, generate_series(0, 63) t(pos)
      |  GROUP BY 1, 2),
      |sig AS (
      |  SELECT doc_id,
      |         string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END, ''
      |                    ORDER BY pos) AS bits
      |  FROM bits GROUP BY doc_id),
      |chunks AS (
      |  SELECT doc_id, bits, i AS chunk,
      |         substr(bits, i * 16 + 1, 16) AS cv
      |  FROM sig, (SELECT unnest([0, 1, 2, 3]) AS i) t),
      |pairs AS (
      |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
      |         a.bits AS ba, b.bits AS bb
      |  FROM chunks a JOIN chunks b
      |    ON a.chunk = b.chunk AND a.cv = b.cv AND a.doc_id < b.doc_id),
      |h AS (
      |  SELECT id_a, id_b,
      |         CAST(list_sum(list_transform(generate_series(1, 64),
      |           i -> CASE WHEN substr(ba, CAST(i AS INT), 1)
      |                          = substr(bb, CAST(i AS INT), 1)
      |                     THEN 0 ELSE 1 END)) AS BIGINT) AS hamming
      |  FROM pairs)
      |SELECT id_a, id_b, hamming FROM h WHERE hamming <= 3""".stripMargin

  /** bm25_topk's query terms + Okapi constants — shared by the Spark
    * registration and the oracle so the doubles in both engines parse
    * from the SAME shortest-repr literals (a hand-written `2.2` in SQL
    * can land one ulp away from Scala's `k1 + 1.0`). */
  private val Bm25Terms = Seq("vector", "merge", "spark")
  /** Kneser–Ney absolute discount — shared by [[Corpus.knTrigramNll]]'s
    * registration and the oracle so both engines parse the SAME literal
    * (0.75 is exactly representable, but the sharing is the policy). */
  private val KnDiscount = 0.75
  /** PRF expansion constants, shared engine/oracle. */
  private val PrfFbDocs = 10
  private val PrfExpandK = 5

  /** MMR rerank constants, shared engine/oracle (the Bm25 policy: both
    * sides parse λ and 1−λ from the SAME shortest-repr literals). */
  private val MmrLambda = 0.5
  private val MmrCandK = 20
  private val MmrSelectK = 5

  /** DuckDB oracle for sample_kcenter: the greedy farthest-point rounds
    * unrolled (selection is sequential by definition — the MMR
    * precedent), each round a 1-row argmin CTE plus an incremental
    * `greatest` max-similarity update, AS MATERIALIZED so the chain
    * executes once per round (keep in sync with
    * [[Clustering.kCenterGreedy]]). */
  private def kcenterOracleSql(k: Int): String = {
    val rounds = (2 to k).map { r =>
      s"""p$r AS MATERIALIZED (
         |  SELECT vec_id, v FROM r${r - 1}
         |  ORDER BY msim ASC, vec_id LIMIT 1),
         |r$r AS MATERIALIZED (
         |  SELECT r.vec_id, r.v,
         |         greatest(r.msim, CAST(round(list_dot_product(
         |             r.v, (SELECT v FROM p$r)), 6) AS DECIMAL(9,6)))
         |           AS msim
         |  FROM r${r - 1} r
         |  WHERE r.vec_id <> (SELECT vec_id FROM p$r))""".stripMargin
    }.mkString(",\n")
    val picks = (2 to k).map(r =>
      s"SELECT CAST($r AS BIGINT) AS pick, vec_id FROM p$r")
      .mkString("\nUNION ALL ")
    s"""WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |            FROM embeddings WHERE len(embedding) >= 64),
       |e AS MATERIALIZED (
       |  SELECT vec_id,
       |         list_transform(v, x -> x / sqrt(list_dot_product(v, v)))
       |           AS v
       |  FROM e0),
       |s1 AS MATERIALIZED (
       |  SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 1),
       |r1 AS MATERIALIZED (
       |  SELECT e.vec_id, e.v,
       |         CAST(round(list_dot_product(e.v, (SELECT v FROM s1)), 6)
       |           AS DECIMAL(9,6)) AS msim
       |  FROM e WHERE e.vec_id <> (SELECT vec_id FROM s1)),
       |$rounds
       |SELECT CAST(1 AS BIGINT) AS pick, vec_id FROM s1
       |UNION ALL $picks""".stripMargin
  }

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
  /** 2024-01-01T00:00:00Z in epoch micros — the crawl-clock origin the
    * layout audit quantizes hours against. */
  private val Epoch2024Us = 1704067200000000L
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

  /** SQL fragment: per-doc quality score `q(doc_id, quality_score)` (keep
    * in lock-step with [[TextAnalysis.qualityScore]] and the text_quality
    * oracle). Requires [[toksCte]]. */
  private val qualityCte =
    """qst AS (
      |  SELECT doc_id,
      |    CAST(len(toks) AS INT) AS token_count,
      |    round(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6) AS ttr,
      |    round(CAST(length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')) AS DOUBLE)
      |          / length(text), 6) AS punct_ratio
      |  FROM t),
      |q AS (
      |  SELECT doc_id,
      |         round(least(token_count / 50.0, 1.0) * 0.4 + ttr * 0.4 +
      |               (1.0 - least(punct_ratio * 10.0, 1.0)) * 0.2, 6) AS quality_score
      |  FROM qst)""".stripMargin

  /** SQL fragment: MinHash signatures + LSH band rows
    * `bands(doc_id, band, band_hash)` for k=8 / bands=4 (keep in
    * lock-step with [[Dedup.minhashSignatures]]/[[Dedup.lshBands]]).
    * Requires [[shinglesCte]]. */
  private val minhashBandsCte =
    s"""sig AS (SELECT doc_id,
       |${(0 until 8).map(i => s"  min(md5('$i|' || shingle)) AS sig_$i").mkString(",\n")}
       |        FROM sh GROUP BY doc_id),
       |bands AS (
       |${(0 until 4).map(b =>
          s"  SELECT doc_id, $b AS band, md5(sig_${2 * b} || sig_${2 * b + 1}) AS band_hash FROM sig")
          .mkString("\n  UNION ALL\n")}
       |)""".stripMargin

  /** The child session every FileReplay row runs in: it isolates the
    * scoped-down state-store partition count (see stream_rate) from
    * concurrent queries on the parent session, and scopes
    * maxPartitionBytes down so even one rehearsal-scale file splits
    * across tasks. */
  private def replaySession(s: SparkSession): SparkSession = {
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    ss.conf.set("spark.sql.files.maxPartitionBytes", "8m")
    ss
  }

  /** The candK sweep points of `ann_hamming_sizing` — shared by the
    * Spark query and the oracle builder so the two can never drift. */
  private val hammingSizingCandKs = Seq(5, 10, 25, 50)

  /** The bits sweep points of `ann_hamming_bits` (62 is the packed-word
    * positivity ceiling — [[Similarity.hammingWord]]) and the fixed
    * rerank depth the sweep runs at; shared engine/oracle. */
  private val hammingSizingBits = Seq(16, 32, 48, 62)
  private val hammingBitsCandK = 50

  /** The probes sweep points of `ann_ivft_probes` — the knob the
    * trained quantizer unlocks (axis cells cap at 2); 8 = every cell
    * probed, so the sweep's last point must read recall 1.0 (candidate
    * set = the whole corpus, scored exactly). Shared engine/oracle. */
  private val ivftProbeSweep = Seq(1, 2, 4, 8)

  /** pipeline_curate's classifier-gate threshold, shared engine/oracle.
    * The standalone quality_ensemble AUDIT uses ≥ 0.5 (the signal
    * report); the composed pipeline tunes the threshold to a target
    * keep rate — the FineWeb practice — because the trained
    * classifier's score distribution is corpus-specific: on the gate
    * fixture ≥ 0.5 keeps 2/500 (every downstream stage vacuous), ≥ 0.3
    * keeps 150 and leaves each stage real work to do. A deployment
    * sets this from its own score histogram (quality_hist). */
  private val CurateClsThreshold = 0.3

  /** The band sweep points of `dedup_lsh_sizing` (each must divide the
    * k=8 signature) — shared by the Spark query and the oracle. */
  private val lshSizingBands = Seq(2, 4, 8)

  private val maxCacheEntries = 8

  /** ONE memo for every shared substrate, keyed by (substrate name,
    * session, dir, kind). Each query stays independently runnable
    * (the `SparkEntry.queries` contract), but when several run in the
    * same session over the same table dir — exactly what Verify and
    * Bench do — a shared intermediate is built by the first consumer and
    * reused by the rest.
    *
    * Lifecycle, honestly: entries are STRONG references held for the JVM
    * lifetime unless [[clearCaches]] runs; a memo that already holds
    * `maxCacheEntries` distinct (session, dir) pairs clears itself before
    * admitting a new one, which bounds the leak for long-lived drivers
    * cycling sessions/dirs. A caller that rewrites the parquet under a
    * cached dir mid-session must [[clearCaches]] or the queries serve
    * stale substrates (same contract as any materialized view).
    *
    * `getOrElseUpdate` on a TrieMap is non-blocking: the build runs
    * outside any lock and the first finished value wins, so a build may
    * itself read other substrates through this same map (the clusters
    * read the LSH pairs; the residual codebooks read the residual frame,
    * which reads the trained quantizer) — `ConcurrentHashMap
    * .computeIfAbsent` would throw `Recursive update` there. */
  private val substrates = scala.collection.concurrent.TrieMap
    .empty[(String, SparkSession, String, String), Any]

  private def memo[T](name: String, s: SparkSession, d: String,
                      kind: String = "")(build: => T): T = {
    val dirs = substrates.keySet.map(k => (k._2, k._3))
    if (!dirs((s, d)) && dirs.size >= maxCacheEntries) clearCaches()
    substrates.getOrElseUpdate((name, s, d, kind), build).asInstanceOf[T]
  }

  /** Drop memoized intermediates. Checkpoint BLOCKS are reclaimed by the
    * ContextCleaner once the dropped frames' RDDs are unreachable (an
    * explicit unpersist would be a no-op — localCheckpoint data is not in
    * the CacheManager). Bench calls this between passes so every pass
    * pays the shared pipeline exactly once — timings stay honest. */
  def clearCaches(): Unit = substrates.clear()

  /** The MinHash-LSH candidate-pair stage, consumed by THREE queries
    * (`dedup_minhash_lsh`, `dedup_clusters`, `dedup_keep`): the first
    * consumer pays for the signature pipeline, the rest reuse the
    * materialized (tiny: one row per candidate pair) result. */
  private def sharedLshPairs(s: SparkSession, d: String): DataFrame =
    memo("lshPairs", s, d)(
      Dedup.minhashLsh(Tables.documents(s, d), "text", "doc_id",
        shingleN = 3, k = 8, bands = 4).localCheckpoint())

  /** Same sharing for the iterative connected-components stage: both
    * `dedup_clusters` and `dedup_keep` need the full label frame. The
    * final labels are localCheckpointed by [[Dedup.clusters]]'s loop
    * already, so memoizing the frame costs nothing extra. */
  private def sharedClusters(s: SparkSession, d: String): DataFrame =
    memo("clusters", s, d)(Dedup.clusters(sharedLshPairs(s, d)))

  /** Store dirs created by THIS JVM, deleted by a shutdown hook: the
    * pid-suffixed paths fix the r12 cross-process clobber but would
    * otherwise leak one full store per (kind, dataset, JVM) into the
    * temp dir forever — repeated bench/verify runs would eventually
    * fill it (the hazard the old fixed-path scheme bounded by
    * overwriting). In-JVM reuse is unaffected: the hook runs at exit,
    * and within a run the memo (or a rebuild into the same path
    * after clearCaches) serves reads. */
  private val createdStoreDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private lazy val storeCleanupHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
        f.delete(): Unit
      }
      createdStoreDirs.forEach(p => rm(new java.io.File(p)))
    }))

  private def indexStorePath(kind: String, d: String): String = {
    val pid = java.lang.ProcessHandle.current().pid()
    val dig = java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    val p = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_${kind}_idx_${pid}_$dig").getPath
    storeCleanupHook
    createdStoreDirs.add(p)
    p
  }

  /** Materialized-index store paths, memoized per (session, dir, kind).
    * The r12 split: the store builds ONCE per pass — the `ann_*_build`
    * rows time the write — and the `ann_*_indexed` probe rows then time
    * ONLY the pruned read the layout exists for (Bench's name-sorted
    * order runs `*_build` first; a standalone probe invocation still
    * builds on first use, so Verify's per-query contract holds). The
    * path carries the JVM pid plus a digest of the dataset dir, so two
    * concurrent bench/verify JVMs (e.g. sf0.1 and sf1) can never
    * overwrite each other's store mid-query (r12 advice — the fixed
    * `graft_*_idx_q` paths were a cross-process clobber hazard). */
  private def sharedIndex(s: SparkSession, d: String, kind: String)(
      build: String => Unit): String =
    memo("index", s, d, kind) {
      val p = indexStorePath(kind, d)
      build(p)
      p
    }

  /** The binary indexes over 48-bit sign words of the 64-dim fixture:
    * the brute Hamming scan (one cell) and the 6-bit prefix-cell store. */
  private val HammingBrute = IvfIndex(OneCell, Bits(48, 64))
  private val HammingPrefix = IvfIndex(Prefix(48, 6), Bits(48, 64))

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

  /** The axis-cell IVF over the first 4 components — the untrained
    * coarse stage of ann_ivf_* / ann_ivfpq_topk / search_mmr_ivf. */
  private val AxisIvf = IvfIndex.Axis(m = 4)

  private def sharedIvfIndex(s: SparkSession, d: String): String =
    sharedIndex(s, d, "ivf")(p =>
      IvfIndex(AxisIvf, Flat).write(Tables.embeddings(s, d), "vec_id",
        "embedding", p))

  /** Trained-IVF coarse quantizer (k=8 cells, 2 Lloyd rounds — the
    * embed_kmeans configuration, so the oracle's kmeansCtes replay
    * serves the cell assignment verbatim), memoized per (session, dir):
    * every trained-cell query shares one training run. */
  private def sharedIvfTrained(s: SparkSession, d: String): Trained =
    memo("ivfTrained", s, d)(
      Trained.train(Tables.embeddings(s, d), "vec_id", "embedding",
        k = 8, iters = 2, dim = 64))

  private def sharedIvfTrainedIndex(s: SparkSession, d: String): String =
    sharedIndex(s, d, "ivft")(p =>
      IvfIndex(sharedIvfTrained(s, d), Flat).write(Tables.embeddings(s, d),
        "vec_id", "embedding", p))

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

  /** The 6-merge BPE tokenizer shared by its three surfaces (r18, guide
    * §1.2): `bpe_train` (the merge table itself), `bpe_segment` and
    * `bpe_fertility` (segmentation with that table) each ran the
    * IDENTICAL deterministic 6-round training (~1.2 s of driver-
    * sequential rounds each at sf0.1). One memoized training serves all
    * three — [[graft.llm.Bpe.train]] returns a driver-local merge
    * table, so memoizing the frame is memoizing the model object, the
    * [[sharedIvfTrained]] economics. `bpe_train_deep` keeps
    * its OWN 500-budget training (its result is the deeper table;
    * merge sequences nest, but serving the 6-row surfaces from the
    * deep run would re-attribute its ~12 s to whichever bpe row runs
    * first — measured and declined, see OPTIMIZATION_r18.md). Cleared
    * between bench passes like every substrate. */
  private def sharedBpeTrain6(s: SparkSession, d: String): DataFrame =
    memo("bpeTrain6", s, d)(
      graft.llm.Bpe.train(Tables.documents(s, d), "text", merges = 6))

  /** [[sharedBpeTrain6]] collected to the round-ordered (left, right)
    * serving form ([[graft.llm.Bpe.mergeTable]]'s contract; the frame
    * is a 6-row driver-local relation, so the collect is free). */
  private def sharedBpeTable6(s: SparkSession, d: String): Seq[(String, String)] =
    sharedBpeTrain6(s, d).collect().sortBy(_.getInt(0))
      .map(r => (r.getString(1), r.getString(2))).toSeq

  /** Replay-clock scalars shared across the streaming rows (r18, guide
    * §1.2): SEVEN stream_* rows each ran the identical
    * `max(ts_us)`-over-events aggregate (and one the max-doc_id
    * analogue) just to stamp their sentinel's far-future event time —
    * one full event-table scan per row at corpus scale. The scalar
    * depends only on the dataset, so it is memoized per (session, dir)
    * like every other substrate and cleared between bench passes. The
    * value — and hence every sentinel and every query result — is
    * unchanged. */
  private def sharedMaxTsUs(s: SparkSession, d: String): Long =
    memo("replayClock", s, d, "events.ts_us")(
      maxOrZero(Tables.eventsUs(s, d), "ts_us"))

  private def sharedMaxDocId(s: SparkSession, d: String): Long =
    memo("replayClock", s, d, "documents.doc_id")(
      maxOrZero(Tables.documents(s, d), "doc_id"))

  /** max(`c`), or 0 on an empty table — where no real window exists for
    * the sentinel to flush, so any clock will do. */
  private def maxOrZero(df: DataFrame, c: String): Long =
    df.agg(coalesce(max(col(c)), lit(0L))).head.getLong(0)

  /** Same sharing for the exact-overlap candidate join: the Jaccard and
    * containment gates are finishers over one blocking-join frame. */
  private def sharedOverlapCandidates(s: SparkSession, d: String): DataFrame =
    memo("overlap", s, d)(
      Dedup.overlapCandidates(Tables.documents(s, d), "text", "doc_id",
        n = 3, maxDocsPerShingle = 50).localCheckpoint())

  val queries: Map[String, Q] = Map(
    // --- exact dedup -----------------------------------------------------
    "dedup_exact" -> ((s, d) =>
      Dedup.exact(Tables.documents(s, d), "text", "doc_id")
        .select(col("doc_id"), col("content_hash"),
          col("group_size"), col("keep"))),

    // --- canonical (case/whitespace/NFC-insensitive) exact dedup — the
    // C4-style "fuzzy exact" pass: normalize THEN hash, so visually
    // identical docs collide; still map-side + one uniform-key window ----
    "dedup_exact_norm" -> ((s, d) =>
      Dedup.exact(
        TextAnalysis.normalize(Tables.documents(s, d), "text"),
        "text_norm", "doc_id")
        .select(col("doc_id"), col("content_hash"),
          col("group_size"), col("keep"))),

    // --- MinHash + LSH candidate pairs ------------------------------------
    "dedup_minhash_lsh" -> ((s, d) => sharedLshPairs(s, d)),

    // --- SimHash signatures -------------------------------------------------
    "dedup_simhash" -> ((s, d) =>
      Dedup.simhash(Tables.documents(s, d), "text", "doc_id")),

    // --- dedup clusters: connected components over MinHash-LSH pairs -------
    // The tiny iterative label rounds run at ambient shuffle width and rely
    // on AQE partition coalescing (no session-global conf mutation — a
    // concurrent query on the same session must never see a scoped-down
    // spark.sql.shuffle.partitions).
    "dedup_clusters" -> ((s, d) =>
      sharedClusters(s, d)
        .select(col("id").as("doc_id"), col("cluster_root"))),

    // --- dedup keep-set: the corpus minus non-representative cluster
    // members (docs in no candidate pair are implicitly their own root) ---
    "dedup_keep" -> ((s, d) => {
      val dupes = sharedClusters(s, d)
        .filter(col("id") =!= col("cluster_root"))
      Tables.documents(s, d)
        .join(dupes.select(col("id").as("doc_id")), Seq("doc_id"), "left_anti")
        .select("doc_id")
    }),

    // --- SimHash near-dup candidate pairs (chunk-blocked + exact hamming) ---
    "dedup_simhash_pairs" -> ((s, d) =>
      Dedup.simhashPairs(
        Dedup.simhash(Tables.documents(s, d), "text", "doc_id"),
        "doc_id", maxHamming = 3)
        .select(col("id_a"), col("id_b"),
          col("hamming").cast("long").as("hamming"))),

    // --- fuzzy binary-asset near-dup: byte-shingle SimHash over the
    // base64 payload (codec-free media near-dup; exact copies are
    // mm_dedup's job), through the same chunk-blocked pair stage --------
    "mm_neardup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .withColumn("payload", encode(col("text"), "utf-8"))
      // checkpoint the signature frame: simhashPairs consumes it from
      // five subplans (distinct-sig collapse, both chunk-join sides, two
      // member re-joins) and Catalyst shares no subplans — without this
      // the base64+window+md5 signature scan runs ~5× (11 s → 4 s at sf1)
      val sig = Multimodal.binarySimhash(docs, "doc_id", "payload")
        .localCheckpoint()
      Dedup.simhashPairs(sig, "doc_id", maxHamming = 3)
        .select(col("id_a"), col("id_b"),
          col("hamming").cast("long").as("hamming"))
    }),

    // --- n-gram Jaccard near-dup pairs --------------------------------------
    "dedup_ngram_jaccard" -> ((s, d) =>
      Dedup.jaccardFrom(sharedOverlapCandidates(s, d), threshold = 0.2)),

    // --- n-gram containment pairs: the subset-duplication gate Jaccard
    // misses (short doc quoted whole inside a long one); same memoized
    // candidate frame as the Jaccard gate -----------------------------------
    "dedup_containment" -> ((s, d) =>
      Dedup.containmentFrom(sharedOverlapCandidates(s, d), threshold = 0.4)),

    // --- duplication-multiplicity histogram: the corpus-health number
    // that says whether exact dedup must precede the pairwise stages -------
    "dedup_multiplicity" -> ((s, d) =>
      Dedup.duplicationHistogram(Tables.documents(s, d), "text")),

    // --- winnowing fingerprints (MOSS): per-doc selected k-gram hashes ----
    "winnow_fp" -> ((s, d) =>
      Dedup.winnowFingerprints(Tables.documents(s, d), "text", "doc_id",
        k = 4, w = 5)),

    // --- near-dup pairs by shared winnowing fingerprints ------------------
    "dedup_winnow" -> ((s, d) =>
      Dedup.winnowPairs(Tables.documents(s, d), "text", "doc_id",
        k = 4, w = 5, minShared = 2)),

    // --- vocabulary head with cumulative corpus coverage ------------------
    "vocab_topk" -> ((s, d) =>
      Corpus.vocabTopK(Tables.documents(s, d), "text", k = 100)),

    // --- text statistics -----------------------------------------------------
    "text_stats" -> ((s, d) =>
      TextAnalysis.stats(Tables.documents(s, d), "text")
        .select("doc_id", "token_count", "bpeish_count", "char_count",
          "distinct_tokens", "type_token_ratio", "avg_token_len",
          "punct_ratio", "stopword_ratio")),

    // --- Flesch / Flesch–Kincaid readability: map-only regex counts
    // (vowel-group syllable proxy, terminal-punctuation sentences) -------
    "text_readability" -> ((s, d) =>
      TextAnalysis.readability(Tables.documents(s, d), "text", "doc_id")),

    // --- per-document Shannon token entropy: the information-density
    // quality feature (boilerplate → 0 nats regardless of length); one
    // (doc, token) hash aggregate + a per-doc fold, decimal-fixed ln
    // terms so it hash-matches the oracle ---------------------------------
    "text_entropy" -> ((s, d) =>
      TextAnalysis.tokenEntropy(Tables.documents(s, d), "text", "doc_id")),

    // --- Okapi BM25 retrieval: top-100 docs for a literal term set; one
    // corpus stats aggregate broadcast onto a map-side tf scan -----------
    "bm25_topk" -> ((s, d) =>
      Corpus.bm25TopK(Tables.documents(s, d), "text", "doc_id",
        terms = Bm25Terms, k = 100, k1 = Bm25K1, b = Bm25B)),

    // --- pseudo-relevance-feedback retrieval: BM25 feedback slate →
    // idf·fbTf expansion-term mining (top-5, seeds excluded, weight 0.5)
    // → frame-driven weighted BM25 re-retrieval. The recall lever for
    // seed-set expansion; every post-scan frame is feedback-vocab-sized --
    "search_prf" -> ((s, d) =>
      Corpus.prfTopK(Tables.documents(s, d), "text", "doc_id",
        seedTerms = Bm25Terms, k = 100, fbDocs = PrfFbDocs,
        expandK = PrfExpandK, k1 = Bm25K1, b = Bm25B)),

    // --- inverted index build: term → df + sorted posting list, with the
    // stop-term df cap (count pre-pass + broadcast anti-join BEFORE any
    // collect_list — the Dedup stop-shingle discipline; capped terms keep
    // their df, postings NULL: no silent truncation) -------------------------
    "index_postings" -> ((s, d) =>
      graft.llm.Index.postings(Tables.documents(s, d), "text", "doc_id",
        maxDf = 400)),

    // --- conjunctive boolean retrieval over the exploded posting rows:
    // term ∈ query → group by doc → full-match gate. |query|-way
    // intersection with map-side partial counts ------------------------------
    "search_boolean" -> ((s, d) =>
      graft.llm.Index.searchAll(Tables.documents(s, d), "text", "doc_id",
        terms = Bm25Terms)),

    // --- weak-AND variant: ≥2 of the terms, with the match count ------------
    "search_any" -> ((s, d) =>
      graft.llm.Index.searchAny(Tables.documents(s, d), "text", "doc_id",
        terms = Bm25Terms, minMatch = 2)),

    // --- positional phrase retrieval: adjacent-token match via a
    // (|phrase|−1)-way equi-join on (doc, pos+k) over term-filtered
    // positional postings --------------------------------------------------
    "search_phrase" -> ((s, d) =>
      graft.llm.Index.searchPhrase(Tables.documents(s, d), "text",
        "doc_id", Seq("table", "hash"))),

    // --- hybrid retrieval: reciprocal-rank fusion of the BM25 sparse leg
    // and a dense cosine leg (doc 0's embedding as the query — vec_id
    // aligns with doc_id in the fixtures). The rank windows run on
    // top-100 lists, not the corpus -----------------------------------------
    "hybrid_rrf" -> ((s, d) => {
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
    }),

    // --- greedy k-center coreset: lowest-id seed, then 7× the point
    // farthest from the picks (min max-cosine, ties on id) — diverse
    // exemplar selection with the 2-approx covering guarantee. Each
    // round is one broadcast product with the single newest pick --------
    "sample_kcenter" -> ((s, d) => {
      val e = Tables.embeddings(s, d).filter(size(col("embedding")) >= 64)
      Clustering.kCenterGreedy(e, "vec_id", "embedding", k = 8)
    }),

    // --- MMR diversified rerank: greedy λ·rel − (1−λ)·max-sim-to-slate
    // over each query's top-20 cosine candidates — the anti-redundancy
    // slate builder for RAG context/review queues. Rank-only output; the
    // greedy rounds are bounded joins over |queries|×candK frames --------
    "search_mmr" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.mmrRerank(e, e.filter(col("vec_id") < 8),
        "vec_id", "embedding", candK = MmrCandK, selectK = MmrSelectK,
        lambda = MmrLambda)
    }),

    // --- MMR over the IVF slate: the 100 TB instantiation — candidate
    // generation is cell-pruned equi-joins (the corpus never cross-joins
    // the queries); the greedy diversification reads only the slate ------
    "search_mmr_ivf" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") < 8)
      Similarity.mmrRerankFrom(
        IvfIndex(AxisIvf, Flat).topK(e, q, "vec_id", "embedding",
          k = MmrCandK, probes = 2),
        e, "vec_id", "embedding", selectK = MmrSelectK,
        lambda = MmrLambda)
    }),

    // --- tokenizer fertility per language: subword-proxy tokens per
    // whitespace word — how expensive a language is under a tokenizer
    // (the fairness/sizing number multilingual pipelines report). One
    // hash aggregate with map-side partials; exact long sums -------------
    "tokenizer_fertility" -> ((s, d) => {
      val toks = TextAnalysis.tokens(col("text"))
      Tables.documents(s, d).groupBy(col("lang")).agg(
        count(lit(1)).as("n_docs"),
        sum(size(toks).cast("long")).as("ws_tokens"),
        sum(TextAnalysis.bpeishCount(col("text")).cast("long"))
          .as("bpe_tokens"))
        .withColumn("fertility", round(
          col("bpe_tokens").cast("double") / col("ws_tokens").cast("double"),
          6))
    }),

    // --- quality score ---------------------------------------------------------
    "text_quality" -> ((s, d) =>
      TextAnalysis.qualityScore(Tables.documents(s, d), "text")
        .select("doc_id", "quality_score")),

    // --- per-source percentile calibration of the quality score: the
    // threshold-free "keep every source's top 80%" gate ----------------------
    "quality_calibrate" -> ((s, d) => {
      val scored = TextAnalysis.qualityScore(Tables.documents(s, d), "text")
        .select(col("doc_id"), col("source"), col("quality_score"))
      QualityModel.calibrate(scored, "quality_score", "source")
        .withColumn("keep", col("pct") >= 0.2)
        .select("doc_id", "source", "quality_score", "pct", "keep")
    }),

    // --- main-text extraction from HTML: the crawl pipeline's first
    // step (markup synthesized deterministically around the fixture
    // text; the regex chain is the operator) ----------------------------
    "text_html_extract" -> ((s, d) => {
      val html = concat(
        lit("<html><head><style>p{color:red}</style>" +
          "<script type=\"text/javascript\">var x = 1 < 2;</script>" +
          "</head><body><h1 class=\"t\">Doc &amp; title</h1><p>"),
        col("text"),
        lit("</p><!-- footer --><div>&copy; nav&nbsp;bar</div>" +
          "</body></html>"))
      TextAnalysis.htmlExtract(
        Tables.documents(s, d).withColumn("html", html), "html")
        .select("doc_id", "text_main")
    }),

    // --- blocklist tagger: tag-then-filter term gate (map-only) -------------
    "text_blocklist" -> ((s, d) =>
      TextAnalysis.blocklist(Tables.documents(s, d), "text", "doc_id",
        terms = Seq("slow", "crash", "stale"), maxHits = 1L)),

    // --- URL canonicalization (crawl-record synthesis over the fixture
    // columns; the normalize chain is the operator — case folding, www/
    // default-port/fragment/tracking-param strip, param sort, trailing
    // slash). Map-only, fuses with the scan -------------------------------
    "url_normalize" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("url", synthUrl)
        .withColumn("url_norm", TextAnalysis.urlNormalize(col("url")))
        .withColumn("host", TextAnalysis.urlHost(col("url")))
        .select("doc_id", "url", "url_norm", "host")),

    // --- URL-level dedup: collapse crawl records on the canonical URL,
    // keep the smallest doc id — the pre-content dedup tier completed ------
    "url_dedup" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("url_norm", TextAnalysis.urlNormalize(synthUrl))
        .groupBy("url_norm")
        .agg(min(col("doc_id")).as("keep_doc"),
          count(lit(1)).as("n_records"))),

    // --- snapshot diff: added/removed/changed/unchanged between corpus
    // versions — the ingestion delta incremental stages key off -----------
    "corpus_diff" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val oldSnap = docs.filter(col("doc_id") % 2 === 0)
      val newSnap = docs.filter(col("doc_id") % 2 === 0 &&
          col("doc_id") % 10 =!= 4) // removals
        .withColumn("text", when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text"))) // edits
        .unionByName(docs.filter(col("doc_id") % 2 === 1 &&
          col("doc_id") % 10 === 5)) // additions
      graft.operators.Reconcile.contentDiff(oldSnap, newSnap,
        "doc_id", "text")
        .select("doc_id", "status")
    }),

    // --- per-domain accounting on the canonical URLs: the crawl-side
    // sizing input for domain mixing and URL-level dedup ------------------
    "url_domain_stats" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("url", synthUrl)
        .withColumn("url_norm", TextAnalysis.urlNormalize(col("url")))
        .withColumn("host", TextAnalysis.urlHost(col("url")))
        .groupBy("host")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("url_norm")).as("n_urls"))),

    // --- boilerplate removal with rebuild: drop ALL occurrences of any
    // chunk repeated corpus-wide, reassemble survivors ---------------------
    "text_deboilerplate" -> ((s, d) =>
      Dedup.deboilerplate(Tables.documents(s, d), "text", "doc_id",
        w = 3, maxMult = 2)
        .select("doc_id", "n_chunks", "n_kept", "clean_text")),

    // --- WITHIN-document repetition removal: the map-only chunk op (no
    // cross-document state, nothing shuffles) ------------------------------
    "dedup_within" -> ((s, d) =>
      Dedup.dedupWithinDoc(Tables.documents(s, d), "text", "doc_id", w = 3)
        .select("doc_id", "n_chunks", "n_kept", "clean_text")),

    // --- hashed-feature linear quality classifier (fastText-style gate
    // plumbing; deterministic stand-in weights, map-only single scan) ----
    "quality_classifier" -> ((s, d) =>
      QualityModel.score(Tables.documents(s, d), "text", "doc_id",
        buckets = 256)
        .select("doc_id", "token_count", "score_linear", "quality_prob")),

    // --- the same gate with weights as a TABLE (broadcast join on the
    // hashed bucket) — the trained-model path for vocabularies too large
    // to ride as a plan literal; weights here are the deterministic
    // dyadic stand-in k/2^17 − 1, k = (bucket·2654435761) mod 2^18 ------
    "quality_classifier_table" -> ((s, d) => {
      val w = s.range(256).select(col("id").as("bucket"),
        (((col("id") * 2654435761L) % 262144L).cast("double")
          / lit(131072.0) - lit(1.0)).as("weight"))
      QualityModel.scoreTable(Tables.documents(s, d), "text", "doc_id",
        buckets = 256, weightsDf = w)
        .select("doc_id", "token_count", "score_linear", "quality_prob")
    }),

    // --- BPE merge-candidate table: corpus-weighted adjacent char-pair
    // counts over the VOCABULARY (Heaps-small), top-50 — one round of
    // byte-pair-encoding tokenizer training (Sennrich et al. 2016) ------
    "bpe_pair_counts" -> ((s, d) =>
      Corpus.bpePairCounts(Tables.documents(s, d), "text", k = 50)),

    // --- stacked quality gate (the FineWeb-style filter stack): rule
    // gate AND model gate AND LM-fluency gate (corpus-quantile
    // threshold), with every signal kept so kill reasons are auditable.
    // Unscoreable docs (no bigram positions) fail the fluency leg -------
    "quality_ensemble" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val g = TextAnalysis.gopherRules(docs, "text")
        .select(col("doc_id"), col("pass_gopher"))
      val c = QualityModel.score(docs, "text", "doc_id", buckets = 256)
        .select(col("doc_id"), col("quality_prob"))
      // NO checkpoint on the fluency frame despite its two consumers
      // (the per-doc join and the corpus-quantile threshold): both
      // branches end in the SAME canonical exchange subtree, so
      // physical ReuseExchange computes the bigram LM once per action —
      // measured at sf10 (500k docs): the in-plan reuse serves both
      // branches at 16 s steady, while an explicit localCheckpoint
      // (which splits the plan into a materialize job + readers and
      // takes the subtree out of AQE's whole-plan view) read 64-134 s.
      // Cut lineage only where branches DIVERGE before their exchange
      // (the mm_neardup case); identical branches reuse for free.
      val b = Corpus.bigramNll(docs, "text", "doc_id")
        .select(col("doc_id"), col("avg_nll"))
      val th = b.agg(percentile(col("avg_nll"), lit(0.75)).as("__th"))
      g.join(c, Seq("doc_id"))
        .join(b, Seq("doc_id"), "left")
        .crossJoin(broadcast(th))
        .select(col("doc_id"), col("pass_gopher"), col("quality_prob"),
          col("avg_nll"),
          (col("pass_gopher") && col("quality_prob") >= 0.5 &&
            col("avg_nll").isNotNull &&
            col("avg_nll") <= col("__th")).as("keep"))
    }),

    // --- data-constrained epoch allocation (Muennighoff et al. 2023):
    // weight-share token targets per source, capped at maxEpochs× the
    // source's unique tokens, shortfall reported (chars as the budget
    // unit here — the op is unit-agnostic) -------------------------------
    "pack_epochs" -> ((s, d) =>
      Sampling.epochAllocation(Tables.documents(s, d), "source", "n_chars",
        budget = 1000000L, weights = Seq("src0" -> 3L, "src1" -> 2L),
        maxEpochs = 4.0)),

    // --- water-filling budget allocation: pack_epochs WITH the spill
    // closed — capped sources release surplus that redistributes among
    // the rest via the one-pass sorted threshold; all-integer cut math --
    "mixture_waterfill" -> ((s, d) =>
      Sampling.waterfillAllocation(Tables.documents(s, d), "source",
        "n_chars", budget = 400000L,
        weights = Seq("src0" -> 5L, "src1" -> 3L), maxEpochs = 4.0)),

    // --- DSIR importance resampling: the 100 docs (of the non-src0 pool)
    // whose hashed-n-gram distribution looks most like the src0 target,
    // Gumbel-sampled ∝ importance weight (Xie et al. 2023) ---------------
    "sample_dsir" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Corpus.dsirSample(
        raw = docs.filter(col("source") =!= "src0"),
        target = docs.filter(col("source") === "src0"),
        "text", "doc_id", n = 100, buckets = 4096, salt = "dsir")
    }),

    // --- Gopher rule-based filter: measured values + per-rule flags +
    // the conjunction (the canonical pre-model web-corpus gate) ----------
    "quality_rules" -> ((s, d) =>
      TextAnalysis.gopherRules(Tables.documents(s, d), "text")
        .select("doc_id", "n_words", "mean_word_len", "symbol_ratio",
          "bullet_line_frac", "ellipsis_line_frac", "alpha_word_frac",
          "stop_hits", "rule_word_count", "rule_mean_word_len",
          "rule_symbol_ratio", "rule_bullet_lines", "rule_ellipsis_lines",
          "rule_alpha_words", "rule_stopwords", "pass_gopher")),

    // --- language ID -------------------------------------------------------------
    "text_langid" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_id"))),

    // --- language MIXTURE: per-language stopword hits + shares — the
    // code-switch/boilerplate-mix view langId's argmax collapses --------
    "text_lang_mix" -> ((s, d) =>
      TextAnalysis.langMix(Tables.documents(s, d), "text", "doc_id")),

    // --- canonical normalization (NFC + lower + whitespace collapse) -------
    "text_normalize" -> ((s, d) =>
      TextAnalysis.normalize(Tables.documents(s, d), "text")
        .select(col("doc_id"), col("text_norm"),
          col("norm_len").cast("long").as("norm_len"))),

    // --- fingerprints ---------------------------------------------------------------
    "text_fingerprint" -> ((s, d) =>
      TextAnalysis.fingerprints(Tables.documents(s, d), "text")
        .select("doc_id", "content_fp", "bow_fp")),

    // --- Gopher-style repetition signals (dup/top n-gram fractions) --------
    "text_repetition" -> ((s, d) =>
      TextAnalysis.repetitionSignals(Tables.documents(s, d), "text")
        .select("doc_id", "dup_2gram_frac", "top_2gram_frac",
          "dup_3gram_frac", "top_3gram_frac")),

    // --- PII detect + redact. The synthetic corpus carries no organic PII,
    // so the query plants deterministic contact strings derived from
    // existing columns (same derivation in the oracle) — the operator under
    // test is the regex scrub, not the planting. ----------------------------
    "text_pii" -> ((s, d) => {
      val id = col("doc_id")
      val email = concat(col("source"), lit("_"), id.cast("string"),
        lit("@example.com"))
      val ip = concat(lit("10."), (id % 256).cast("string"), lit("."),
        ((id * 7) % 256).cast("string"), lit(".5"))
      val phone = concat(lit("+1-555-"),
        lpad((id % 1000).cast("string"), 3, "0"), lit("-"),
        lpad(((id * 3) % 10000).cast("string"), 4, "0"))
      val planted = when(id % 3 === 0, col("text"))
        .when(id % 3 === 1, concat(col("text"), lit(" contact "), email,
          lit(" from "), ip, lit(" tel "), phone))
        .otherwise(concat(col("text"), lit(" contact "), email))
      Pii.scrub(Tables.documents(s, d).select(id, planted.as("text")), "text")
        .select("doc_id", "n_emails", "n_ipv4", "n_phones", "text_redacted")
    }),

    // --- benchmark-contamination check: train docs sharing ≥2 distinct
    // 3-grams with an eval doc (eval set = doc_id % 17, broadcast side) ----
    "contamination_ngram" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Contamination.ngramOverlap(
        train = docs.filter(col("doc_id") % 17 =!= 0),
        test = docs.filter(col("doc_id") % 17 === 0),
        "text", "doc_id", n = 3, minShared = 2)
        .select("test_id", "train_id", "shared_ngrams", "overlap_frac")
    }),

    // --- decontamination audit report: the pairs PLUS the matched grams
    // themselves (sorted, capped) — gram strings ride only the broadcast
    // eval side -------------------------------------------------------------
    "contamination_report" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Contamination.ngramOverlapReport(
        train = docs.filter(col("doc_id") % 17 =!= 0),
        test = docs.filter(col("doc_id") % 17 === 0),
        "text", "doc_id", n = 3, minShared = 2, maxGrams = 5)
        .select("test_id", "train_id", "shared_ngrams", "evidence",
          "overlap_frac")
    }),

    // --- target-domain coverage: fraction of each target doc's n-grams
    // the corpus covers — the data-acquisition inverse of contamination --
    "target_coverage" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Contamination.targetCoverage(
        corpus = docs.filter(col("doc_id") % 17 =!= 0),
        target = docs.filter(col("doc_id") % 17 === 0),
        "text", "doc_id", n = 3)
        .select("target_id", "n_target_ngrams", "covered_ngrams",
          "coverage")
    }),

    // --- generic key-skew diagnostic: order-of-magnitude histogram of
    // per-key counts + the hottest keys (the sizing inputs behind every
    // salt / cap / broadcast decision) --------------------------------------
    "skew_profile" -> ((s, d) =>
      Skew.keyProfile(Tables.events(s, d), "user_id")),

    "skew_hot_keys" -> ((s, d) =>
      Skew.hotKeys(Tables.events(s, d), "user_id", topN = 20)),

    // --- bloom-prefiltered decontamination: same answer, different plan -----
    // Exact despite the Bloom (no false negatives + exact confirm join);
    // shares contamination_ngram's oracle semantics — two independent
    // algorithms, one SQL truth. The quadratic-output guard runs in AUTO
    // mode (pair-row budget over the survivor-df distribution — see
    // ngramOverlapBloom's auto-sizing scaladoc): on the fixture universe
    // the budget provably admits everything (survivor mean df 1.6 / 9.1
    // at sf0.01 / sf0.1, vs the 16-per-gram budget), so the gate keeps
    // the UNCAPPED oracle — which thereby doubles as the loud check that
    // auto never binds on clean data (a binding cap emits nonzero
    // n_capped_grams / sentinels and the row goes red). On the
    // duplication-degenerate regime (the r14 sf10 fixture multiplied
    // every df ~100× → 127 M confirm pairs, heap exhaustion) the budget
    // exhausts inside the replica mass and the hot grams die pre-join.
    // n_capped_grams rides in the projection so capped output is
    // self-describing at every scale, not just the oracle-gated ones.
    "contamination_bloom" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Contamination.ngramOverlapBloom(
        train = docs.filter(col("doc_id") % 17 =!= 0),
        test = docs.filter(col("doc_id") % 17 === 0),
        "text", "doc_id", n = 3, minShared = 2,
        maxTrainDf = Contamination.AutoTrainDf)
        .select("test_id", "train_id", "shared_ngrams", "overlap_frac",
          "n_capped_grams")
    }),

    // --- decontamination with the cap BINDING (maxTrainDf = 4 excludes
    // the 121 hottest grams at sf0.01): the oracle replays the full
    // capped semantics — hot-gram exclusion before pair counting, the
    // per-test n_capped_grams honesty column, and the sentinel row for
    // test docs whose matches were all capped away ------------------------
    "contamination_capped" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Contamination.ngramOverlapBloom(
        train = docs.filter(col("doc_id") % 17 =!= 0),
        test = docs.filter(col("doc_id") % 17 === 0),
        "text", "doc_id", n = 3, minShared = 2, maxTrainDf = 4)
        .select(col("test_id"), col("train_id"), col("shared_ngrams"),
          col("n_test_ngrams").cast("long").as("n_test_ngrams"),
          col("overlap_frac"), col("n_capped_grams"))
    }),

    // --- decontamination with the AUTO cap BINDING: autoCapMeanDf = 1
    // sets the pair-row budget to one row per surviving gram — below the
    // fixture's survivor mean (1.6 at sf0.01), so the derivation itself
    // binds at the gate SF and the oracle replays ALL of it in SQL: the
    // confirmed survivor-df histogram, the coolest-first cumulative-mass
    // prefix (monotone, so `cum <= budget` IS the greedy prefix), the
    // derived cap, hot-gram exclusion, counts and sentinels. This row is
    // why the derivation is FP-confirmed: a cap derived from a
    // Bloom-noised histogram would be a function of the filter's bit
    // layout and no oracle could replay it --------------------------------
    "contamination_autocap" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Contamination.ngramOverlapBloom(
        train = docs.filter(col("doc_id") % 17 =!= 0),
        test = docs.filter(col("doc_id") % 17 === 0),
        "text", "doc_id", n = 3, minShared = 2,
        maxTrainDf = Contamination.AutoTrainDf, autoCapMeanDf = 1)
        .select(col("test_id"), col("train_id"), col("shared_ngrams"),
          col("n_test_ngrams").cast("long").as("n_test_ngrams"),
          col("overlap_frac"), col("n_capped_grams"))
    }),

    // --- ANN: brute-force cosine top-k ------------------------------------------------
    "ann_brute_topk" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 20),
        "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"))
    }),

    // --- ANN: sign-LSH bucketed top-k (random-rotation hyperplanes +
    // hamming-1 multi-probe on the query side) -------------------------------
    "ann_sign_lsh" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      IvfIndex(Signs(4, 64), Flat).topK(e, e.filter(col("vec_id") < 50),
        "vec_id", "embedding", k = 3, probes = 5)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"))
    }),

    // --- ANN: IVF coarse-quantizer probing (the bucketed-corpus scale path) --
    "ann_ivf_topk" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      IvfIndex(AxisIvf, Flat).topK(e, e.filter(col("vec_id") < 50),
        "vec_id", "embedding", k = 3, probes = 2)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"))
    }),

    // --- the MATERIALIZED IVF layout: normalized vectors written
    // partitionBy(cell), probes arrive as a literal cell IN-list →
    // PartitionFilters (the float-regime sibling of
    // ann_hamming_indexed); row-identical to ann_ivf_topk, same oracle --
    "ann_ivf_indexed" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      // the memoized store (built by ann_ivf_build or on first use), so
      // this row times the pruned READ — the layout's serving cost
      val idx = sharedIvfIndex(s, d)
      IvfIndex(AxisIvf, Flat).probe(s.read.parquet(idx),
        e.filter(col("vec_id") < 50),
        "vec_id", "embedding", k = 3, probes = 2)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"))
    }),

    // --- the IVF store BUILD as its own timed row (r12 split: build vs
    // probe) — writes the cell-partitioned store, then reads the store
    // back for a per-cell row count, oracle-checking the LAYOUT (which
    // vector landed in which partition), not just the probe results ----
    "ann_ivf_build" -> ((s, d) => {
      val idx = sharedIvfIndex(s, d)
      s.read.parquet(idx)
        .groupBy(col("cell").cast("long").as("cell"))
        .agg(count(lit(1)).as("n_rows"))
    }),

    // --- TRAINED-centroid IVF (the FAISS IVFx coarse stage): kmeans
    // cells instead of axis cells — probes rank by the actual quantizer
    // distance, lifting the axis scheme's probes ≤ 2 cap; the store is
    // the same partitionBy(cell) layout, reads partition-pruned --------
    "ann_ivft_build" -> ((s, d) => {
      val idx = sharedIvfTrainedIndex(s, d)
      s.read.parquet(idx)
        .groupBy(col("cell").cast("long").as("cell"))
        .agg(count(lit(1)).as("n_rows"))
    }),

    "ann_ivft_indexed" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val idx = sharedIvfTrainedIndex(s, d)
      IvfIndex(sharedIvfTrained(s, d), Flat).probe(s.read.parquet(idx),
        e.filter(col("vec_id") < 50), "vec_id", "embedding",
        k = 3, probes = 2)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"))
    }),

    // --- COLD-SESSION serving of the trained-IVF store: the quantizer
    // comes from the store's OWN _quantizer/ sidecar (IvfIndex.load),
    // not the session cache — proving the store is self-describing: a
    // new JVM opening the directory probes the partitions with the
    // centroids they were written under (retraining on a drifted corpus
    // would silently mis-probe). Row-identical to ann_ivft_indexed by
    // construction (bit-equal centroids ⇒ identical probe cells) --------
    "ann_ivft_served" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val idx = sharedIvfTrainedIndex(s, d)
      IvfIndex.load(s, idx, dim = 64) // sidecar, NOT cache
        .probe(s.read.parquet(idx), e.filter(col("vec_id") < 50),
          "vec_id", "embedding", k = 3, probes = 2)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"))
    }),

    // --- recall@5 of trained vs axis cells AT EQUAL PROBES (p = 2),
    // one exact brute leg serving both — the measurement behind
    // adopting the trained quantizer (BucketingSpec pins trained ≥ axis
    // in aggregate on the spec fixture); one len=64 universe for all
    // legs (the kmeans training universe), so recall isolates CELL
    // QUALITY ----------------------------------------------------------
    "ann_ivft_recall" -> ((s, d) => {
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
    }),

    // --- ANN over packed 48-bit sign fingerprints: the BINARY serving
    // regime (8 bytes/vector; XOR+popcount per candidate) — all-integer
    // scores, ties on id, replays engine-exactly ---------------------------
    "ann_hamming_topk" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      HammingBrute.topK(e, e.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, probes = 1)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("hamming"))
    }),

    // --- recall@5 of the Hamming leg vs the exact cosine baseline: the
    // family's eval pattern — how much the 8-byte representation costs.
    // BOTH legs run over the len≥64 universe the fingerprint indexes, so
    // the recall isolates representation loss (a shorter vector would
    // otherwise enter only the exact leg and read as fingerprint loss) --
    "ann_hamming_recall" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
        .filter(size(col("embedding")) >= 64)
      val q = e.filter(col("vec_id") < 10)
      val exact = Similarity.bruteForceTopK(e, q, "vec_id", "embedding",
        k = 5)
      val approx = HammingBrute.topK(e, q, "vec_id", "embedding",
        k = 5, probes = 1)
      Similarity.recallAtK(exact, approx, k = 5)
        .select(col("query_id"), col("n_hits"), col("recall"))
    }),

    // --- blocked Hamming: prefix-bucketed fingerprints + multi-probe —
    // the corpus-scale shape (touch (prefixBits+1)/2^prefixBits of the
    // corpus, bucket = a write-time partition key); recall@5 measured
    // IN HAMMING SPACE against the full-scan baseline, isolating the
    // blocking loss from the quantization loss ---------------------------
    "ann_hamming_blocked" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") < 10)
      val full = HammingBrute.topK(e, q, "vec_id", "embedding",
        k = 5, probes = 1)
      val blocked = HammingPrefix.topK(e, q, "vec_id", "embedding",
        k = 5, probes = 7)
      Similarity.recallAtK(full, blocked, k = 5)
        .select(col("query_id"), col("n_hits"), col("recall"))
    }),

    // --- the deployed two-stage binary path: Hamming shortlist (candK=
    // 50) → exact-cosine rerank → recall@5 vs the exact baseline — what
    // the 8-byte scan costs WITH its standard rerank stage ---------------
    "ann_hamming_rerank" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
        .filter(size(col("embedding")) >= 64) // one universe, both legs
      val q = e.filter(col("vec_id") < 10)
      val exact = Similarity.bruteForceTopK(e, q, "vec_id", "embedding",
        k = 5)
      val approx = hammingRerank(e, q, k = 5, candK = 50)
      Similarity.recallAtK(exact, approx, k = 5)
        .select(col("query_id"), col("n_hits"), col("recall"))
    }),

    // --- the MATERIALIZED blocked-Hamming layout: fingerprints written
    // PARTITIONED BY prefix bucket, probes arrive as PartitionFilters
    // (pruned file listing — the "bucket IS a partition key" claim made
    // concrete), candidates/recall row-identical to ann_hamming_blocked
    // (same oracle); partition pruning pinned in BucketingSpec ----------
    "ann_hamming_indexed" -> ((s, d) => {
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
    }),

    // --- the Hamming store BUILD as its own timed row (r12 split):
    // writes the bucket-partitioned fingerprint store, then reads it
    // back for per-bucket row counts — oracle-checking which word
    // landed in which partition directory --------------------------------
    "ann_hamming_build" -> ((s, d) => {
      val idx = sharedHammingIndex(s, d)
      s.read.parquet(idx)
        .groupBy(col("cell").cast("long").as("bucket"))
        .agg(count(lit(1)).as("n_rows"))
    }),

    // --- candK sizing sweep for the two-stage binary path: recall@5 of
    // Hamming-shortlist→cosine-rerank at several shortlist depths, per
    // (cand_k, query) row — the measurement that picks candK for a
    // recall target, the ann_pq_recall/ann_recall_eval posture extended
    // along the depth axis (one exact leg, reused across the sweep) ------
    "ann_hamming_sizing" -> ((s, d) => {
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
    }),

    // --- probes-axis sizing for trained IVF: recall@5 at probes ∈
    // {1, 2, 4, 8} — the knob the trained quantizer just unlocked
    // (distance-ranked cells; the axis scheme capped at 2). One brute
    // leg serves the sweep; p = 8 probes every cell, so its recall is
    // the 1.0 sanity anchor (exact scoring over the full corpus) -----------
    "ann_ivft_probes" -> ((s, d) => {
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
    }),

    // --- bits-axis sizing for the binary regime: recall@5 of the
    // two-stage Hamming-shortlist→cosine-rerank path at signature widths
    // bits ∈ {16, 32, 48, 62} and FIXED candK = 50 — the knob the candK
    // sweep left uncurved (its 0.42 plateau at candK=50 is bound by the
    // 48-bit signature, not the shortlist depth). One brute leg serves
    // all sweep points; each bits point is one extra map-side encode +
    // the shortlist-bounded rerank ---------------------------------------
    "ann_hamming_bits" -> ((s, d) => {
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
    }),

    // --- ANN over the int8-quantized corpus: the memory-bound serving
    // path (4× smaller scan) — dequantized vectors through the same
    // brute-force kernel, engine-exact because the quantized grid is ----
    "ann_int8_topk" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val deq = e.select(col("vec_id"),
        Quantize.snap(col("embedding")).as("embedding"))
      Similarity.bruteForceTopK(deq, deq.filter(col("vec_id") < 20),
        "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"))
    }),

    // --- product quantization: 64 floats → 8 codes (32×), map-only encode
    // against seeded literal codebooks (Jégou et al. 2011) ----------------
    "embed_pq_codes" -> ((s, d) =>
      graft.llm.Pq.encode(Tables.embeddings(s, d), "vec_id", "embedding",
        m = 8, k = 16, subDim = 8)
        .select(col("vec_id"), posexplode(col("codes")))
        .select(col("vec_id"), col("pos").cast("long").as("subspace"),
          col("col").cast("long").as("code"))),

    // --- ANN over the PQ-compressed corpus: asymmetric-distance (ADC)
    // top-k — exact queries vs reconstructed codewords, the RAM-bound
    // billion-vector serving shape ----------------------------------------
    "ann_pq_topk" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      graft.llm.Pq.adcTopK(e, e.filter(col("vec_id") < 20),
        "vec_id", "embedding", topK = 5, m = 8, k = 16, subDim = 8)
    }),

    // --- the same encode with codebooks as a broadcast TABLE — the
    // trained-codebook path for sets too large to ride as plan
    // literals; bit-identical to embed_pq_codes (same oracle) ------------
    "embed_pq_codes_table" -> ((s, d) => {
      import s.implicits._
      val cbs = graft.llm.Pq.codebooks(8, 16, 8)
      val cbDf = (for { j <- 0 until 8; c <- 0 until 16 }
        yield (j, c, cbs(j)(c).toSeq)).toDF("subspace", "code", "codeword")
      graft.llm.Pq.encodeTable(Tables.embeddings(s, d),
        "vec_id", "embedding", m = 8, k = 16, subDim = 8, cbDf)
        .select(col("vec_id"), posexplode(col("codes")))
        .select(col("vec_id"), col("pos").cast("long").as("subspace"),
          col("col").cast("long").as("code"))
    }),

    // --- TRAINED product quantization: one distributed Lloyd round per
    // subspace (dyadic grid, exact sums), then ADC over the trained
    // reconstructions — lifts ADC recall@3 ~8× over seeded codebooks on
    // this corpus; the measurement is ann_pq_recall's job ---------------
    "ann_pqt_topk" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val eq = e.select(col("vec_id"),
        graft.llm.Clustering.quantize(col("embedding")).as("qvec"))
      val cbs = graft.llm.Pq.trainCodebooks(eq, "vec_id", "qvec",
        m = 8, k = 16, subDim = 8, iters = 1)
      graft.llm.Pq.adcTopKWith(eq, eq.filter(col("vec_id") < 20),
        "vec_id", "qvec", topK = 5, subDim = 8, cbs)
    }),

    // --- IVF-then-PQ: coarse cells prune the scan, ADC ranks within —
    // the FAISS IVFx,PQy architecture (the true billion-vector shape) ----
    "ann_ivfpq_topk" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      IvfIndex(AxisIvf, SeededPq(m = 8, k = 16, subDim = 8)).topK(e,
        e.filter(col("vec_id") < 50), "vec_id", "embedding", k = 3,
        probes = 2)
    }),

    // --- IVF-then-PQ with the TRAINED coarse quantizer: the deployed
    // FAISS IVFx,PQy shape with both stages real — kmeans cells prune
    // (distance-ranked probes, the ann_ivft_* quantizer), PQ codes rank
    // within; shares the trained-centroid cache with the ivft family ----
    "ann_ivfpqt_topk" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      IvfIndex(sharedIvfTrained(s, d), SeededPq(m = 8, k = 16, subDim = 8))
        .topK(e, e.filter(col("vec_id") < 50), "vec_id", "embedding",
          k = 3, probes = 2)
    }),

    // --- recall@3 of the trained vs axis coarse stage UNDER the ADC
    // kernel, at equal probes (p=2) against one exact-L2 leg — the
    // ann_ivft_recall measurement carried into the PQ regime: does the
    // trained quantizer's cell quality survive code compression? One
    // len=64 universe for all legs ----------------------------------------
    "ann_ivfpqt_recall" -> ((s, d) => {
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
    }),

    // --- the FULL FAISS IVFx,PQy: trained coarse cells prune the scan
    // AND trained codebooks encode RESIDUALS (v − centroid[cell]) — the
    // deployed shape (Jégou et al. 2011 §IV). The ADC distance keeps
    // the per-(query, cell) ‖q−c‖² term: a query probing p > 1 cells
    // has a different residual in each, so the usual drop-the-constant
    // argument no longer holds across cells -----------------------------
    "ann_ivfpqt2_topk" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      sharedIvfPq(s, d).topK(e, e.filter(col("vec_id") < 50),
        "vec_id", "embedding", k = 3, probes = 2,
        residuals = Some(sharedResidualFrame(s, d)))
    }),

    // --- the compressed store BUILD as its own timed row (the r12
    // build/probe split): writes (neighbor_id, PQ codes) partitioned by
    // trained cell + both sidecars, then reads the store back for
    // per-cell row counts — oracle-checking the LAYOUT (which vector
    // landed in which cell directory) ------------------------------------
    "ann_ivfpqt_build" -> ((s, d) => {
      val idx = sharedIvfPqIndex(s, d)
      s.read.parquet(idx)
        .groupBy(col("cell").cast("long").as("cell"))
        .agg(count(lit(1)).as("n_rows"))
    }),

    // --- COLD-SESSION serving of the compressed store: BOTH quantizer
    // stages come from the store's own sidecars (IvfIndex.load with
    // ResidualPq.Stored, not the session caches), candidates reconstruct
    // from the stored m-byte codes, probes arrive as PartitionFilters.
    // Row-identical to ann_ivfpqt2_topk (same oracle): the store
    // changes WHERE codes are read from, not what they decode to --------
    "ann_ivfpqt_indexed" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val idx = sharedIvfPqIndex(s, d)
      IvfIndex.load(s, idx, dim = 64, ResidualPq.Stored) // sidecars, NOT cache
        .probe(s.read.parquet(idx), e.filter(col("vec_id") < 50),
          "vec_id", "embedding", k = 3, probes = 2)
    }),

    // --- probes-axis sizing for the FULL residual index: recall@3 at
    // probes ∈ {1, 2, 4, 8} — the knob a deployment of the compressed
    // store actually tunes (the ann_ivft_probes posture carried into
    // the PQ regime; unlike that sweep, p = 8 does NOT read 1.0 — the
    // ceiling is the fine quantizer's, which is the point of reading
    // the two curves together) -------------------------------------------
    "ann_ivfpqt2_probes" -> ((s, d) => {
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
    }),

    // --- IVF,SQ8 (the serving-regime triad's middle point): int8
    // codes + scale partitioned by trained cell — 4× smaller than the
    // float store at near-exact recall; build row checks the layout ------
    "ann_ivfsq_build" -> ((s, d) => {
      val idx = sharedIvfSqIndex(s, d)
      s.read.parquet(idx)
        .groupBy(col("cell").cast("long").as("cell"))
        .agg(count(lit(1)).as("n_rows"))
    }),

    // --- serving the SQ8 store: probed cells via PartitionFilters,
    // candidates dequantize their stored codes, the query snaps through
    // the same int8 grid (ann_int8_topk's discipline under cell
    // pruning); quantizer from the store's own sidecar -------------------
    "ann_ivfsq_indexed" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val idx = sharedIvfSqIndex(s, d)
      IvfIndex.load(s, idx, dim = 64, Sq8) // sidecar, NOT cache
        .probe(s.read.parquet(idx), e.filter(col("vec_id") < 50),
          "vec_id", "embedding", k = 3, probes = 2)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"))
    }),

    // --- recall@5 of SQ8 vs the FLOAT trained-IVF path at equal
    // probes against one exact-cosine leg — the measurement that
    // completes the store-regime pricing: if SQ8 ≈ float here, the 4×
    // smaller store serves at no recall cost (int8's grid loss is
    // sub-rank-resolution on this corpus) --------------------------------
    "ann_ivfsq_recall" -> ((s, d) => {
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
    }),

    // --- the deployed composition (FAISS IVFx,PQy,RFlat): codes
    // shortlist candK=25, exact-L2 refine re-ranks ONLY the shortlist —
    // recall@3 of refined vs codes-only against one exact leg, the
    // measurement that shows the refine stage buying back the fine
    // quantizer's ceiling at |Q|·candK float cost ------------------------
    "ann_ivfpqt2_rerank" -> ((s, d) => {
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
    }),

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
    "ann_ivfpqt_served" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") < 10)
      val idx = sharedIvfPqIndex(s, d)
      val ivf = IvfIndex.load(s, idx, dim = 64, ResidualPq.Stored) // sidecars, NOT cache
      ivf.refine(ivf.probe(s.read.parquet(idx), q, "vec_id", "embedding",
          k = 50, probes = 2), // the candK = 50 shortlist
        e, q, "vec_id", "embedding", k = 3)
    }),

    // --- the measurement that motivated the residual stage: recall@3
    // of trained-codebook RESIDUAL ADC vs seeded-raw ADC at equal
    // m/k/probes against one exact-L2 leg — r13's ann_ivfpqt_recall
    // said "the seeded fine quantizer dominates the loss"; this row
    // shows what training it on residuals buys back ---------------------
    "ann_ivfpqt2_recall" -> ((s, d) => {
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
    }),

    // --- the m/k CODEBOOK-BUDGET sweep: recall@3 at fixed p=2 across
    // (m,k) ∈ {(8,16),(8,64),(16,16)} against one exact-L2 leg — the
    // knob the flat ann_ivfpqt2_probes curve says owns the ceiling
    // (probes saturate at 0.30→0.33 while the trained-float path reads
    // 1.0: the loss lives in the fine quantizer, so the next recall
    // dollar goes to the codebook budget, and this row prices it
    // against the refine stage's 0.67 at candK=25). dim=64 constrains
    // subDim = 64/m; every leg trains its own residual books (2 Lloyd
    // rounds, the serving depth), the (8,16) leg from the shared cache --
    "ann_ivfpq_mk" -> ((s, d) => {
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
    }),

    // --- the TRAINING-DEPTH sweep: recall@3 at iters ∈ {1,2,4}, fixed
    // m=8/k=16/p=2 — disambiguates the mk sweep's conclusion (is the
    // 0.33 fine-quantizer ceiling a budget limit or a training-depth
    // artifact?); the iters=2 leg rides the shared serving books ---------
    "ann_ivfpq_iters" -> ((s, d) => {
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
    }),

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
    "ann_ivfpq_candk" -> ((s, d) => {
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
    }),

    // --- recall@k of IVF+PQ vs the exact L2 baseline — the measurement
    // that sizes m/k/probes before committing to a compressed index ------
    "ann_pq_recall" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") < 50)
      val exact = graft.llm.Pq.exactL2TopK(e, q, "vec_id", "embedding",
        topK = 3)
      val approx = IvfIndex(AxisIvf, SeededPq(m = 8, k = 16, subDim = 8))
        .topK(e, q, "vec_id", "embedding", k = 3, probes = 2)
      Similarity.recallAtK(exact, approx, k = 3)
        .select(col("query_id"), col("n_hits"), col("recall"))
    }),

    // --- ANN: recall@k of the LSH path vs the exact baseline ---------------
    // The measurement that sizes b/bands/probes for a corpus: exact top-k
    // on a query sample vs the approximate result, per-query hit fraction.
    "ann_recall_eval" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") < 50)
      val exact = Similarity.bruteForceTopK(e, q, "vec_id", "embedding",
        k = 3)
      val approx = IvfIndex(Signs(4, 64), Flat).topK(e, q, "vec_id",
        "embedding", k = 3, probes = 5)
      Similarity.recallAtK(exact, approx, k = 3)
        .select(col("query_id"), col("n_hits"), col("recall"))
    }),

    // --- matryoshka truncation eval: recall@k of brute-force retrieval
    // on the FIRST 16 dims vs the full 64 — the "can we serve the cheap
    // prefix embedding" decision, measured with the shared recall kernel.
    // Both rankings are exact scores with id tie-breaks; deterministic ----
    "embed_matryoshka" -> ((s, d) => {
      val e = Tables.embeddings(s, d).filter(size(col("embedding")) >= 64)
      val exact = Similarity.bruteForceTopK(e,
        e.filter(col("vec_id") < 30), "vec_id", "embedding", k = 5)
      val tr = e.select(col("vec_id"),
        slice(col("embedding"), 1, 16).as("embedding"))
      val approx = Similarity.bruteForceTopK(tr,
        tr.filter(col("vec_id") < 30), "vec_id", "embedding", k = 5)
      Similarity.recallAtK(exact, approx, k = 5)
        .select(col("query_id"), col("n_hits"), col("recall"))
    }),

    // --- count-min sketch as a DataFrame: the constant-memory frequency
    // summary — one map-side-combined aggregate reduces the corpus token
    // stream to a d×w counter frame; probing the exact vocabulary head
    // against it pins the deterministic est ≥ true guarantee ---------------
    "freq_cms_est" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
      val cms = graft.llm.CountMin.build(toks, "token", d = 3, w = 512)
      val top = toks.groupBy("token").agg(count(lit(1)).as("true_count"))
        .orderBy(col("true_count").desc, col("token")).limit(30)
      graft.llm.CountMin.probe(top, "token", cms, d = 3, w = 512)
        .join(broadcast(top), Seq("token"))
        .select("token", "true_count", "est_count")
    }),

    // --- blocked fuzzy entity matching over part names: collapse to the
    // distinct-name grain, block on the head noun, length-band gate,
    // Levenshtein ≤ 3 confirm — the record-linkage shape for dirty
    // catalog/metadata tables ----------------------------------------------
    "er_blocked_match" -> ((s, d) =>
      graft.llm.EntityMatch.blockedNameMatches(
        Tables.part(s, d), "p_name", maxDist = 3)
        .select("name_a", "name_b", "dist", "n_a", "n_b")),

    // --- graded ranking metrics: nDCG@5 + MRR of the exact retrieval
    // leg against same-label relevance — the order-aware complement of
    // ann_recall_eval (recall can't see WHERE in the top-k the hits sit) --
    "eval_rank_metrics" -> ((s, d) => {
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
    }),

    // --- hard-negative mining: per query, the top-5 highest-cosine
    // candidates with a DIFFERENT label from its top-25 slate — the
    // contrastive-training near-misses (DPR/SBERT recipe) ----------------
    "ann_hard_negatives" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.hardNegatives(e, e.filter(col("vec_id") < 50),
        "vec_id", "embedding", "label", candK = 25, k = 5)
    }),

    // --- ANN-leg hard negatives + recall eval: the 100 TB mining shape —
    // the slate comes from the IVF cell-pruned leg (corpus never
    // cross-joins the queries), and the brute-mined slate is kept as the
    // recall baseline it's measured against (ann_graph_recall's pattern) --
    "ann_hard_negatives_ivf" -> ((s, d) => {
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
    }),

    // --- embedding-cosine near-dup pairs (rotated sign-LSH blocking) --------
    "embed_cosine_neardup" -> ((s, d) =>
      Similarity.cosineNearDupPairs(Tables.embeddings(s, d),
        "vec_id", "embedding", threshold = 0.35, b = 2, dim = 64)
        .select("id_a", "id_b", "score")),

    // --- banded (OR-amplified) variant: the 100 TB shape — more bucket
    // bits (occupancy ∝ N/2^b) with independent bands restoring the
    // recall that extra bits alone would lose --------------------------------
    "embed_neardup_banded" -> ((s, d) =>
      Similarity.cosineNearDupPairs(Tables.embeddings(s, d),
        "vec_id", "embedding", threshold = 0.35, b = 4, dim = 64,
        bands = 2)
        .select("id_a", "id_b", "score")),

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
    "embed_neardup_sizing" -> ((s, d) => {
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
    }),

    // --- kNN GRAPH: every node's top-k neighbors among its LSH
    // candidates — the corpus-vs-itself sibling of ann_sign_lsh (shuffle
    // hash join on (band, bucket), nothing broadcasts); the substrate
    // for graph-based curation ----------------------------------------------
    "knn_graph" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      sharedKnnGraph(s, d)
        .select("src", "rank", "dst", "score")
    }),

    // --- mutual-kNN edges: pairs ranking EACH OTHER top-k — the standard
    // sparsifier before clustering the graph (hub nodes drop out) ---------
    "knn_graph_mutual" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.mutualKnnEdges(sharedKnnGraph(s, d))
        .select("id_a", "id_b", "score")
    }),

    // --- greedy best-first graph ANN search: the HNSW-family serving
    // walk, batched — shared lowest-id entry, beam-ranked expansion of
    // unvisited out-neighbors, hop-unrolled oracle ---------------------------
    "ann_graph_search" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val edges = sharedKnnGraph(s, d).select("src", "dst")
      Similarity.graphSearchTopK(e, "vec_id", "embedding",
        e.filter(col("vec_id") < 10), edges, k = 5, beam = 8, hops = 3,
        dim = 64)
    }),

    // --- recall@5 of the IVF-SEEDED graph walk vs the exact baseline:
    // each query enters the graph at the lowest-id corpus vector of its
    // own axis cell (global lowest id if the cell is empty), so the same
    // beam×hops budget expands inside the query's coarse neighborhood ------
    "ann_graph_recall" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") < 10)
      val edges = sharedKnnGraph(s, d).select("src", "dst")
      val exact = Similarity.bruteForceTopK(e, q, "vec_id", "embedding",
        k = 5)
      val approx = Similarity.graphSearchTopKSeeded(e, "vec_id",
        "embedding", q, edges, k = 5, beam = 8, hops = 3, dim = 64, m = 4)
      Similarity.recallAtK(exact, approx, k = 5)
        .select(col("query_id"), col("n_hits"), col("recall"))
    }),

    // --- fixed-point PageRank over the kNN graph: the graph-centrality
    // curation signal (dense-neighborhood = over-represented content).
    // All-integer rank masses → bit-exact oracle replay; per iteration
    // one edge join + one hash aggregate, nothing collected ------------------
    "graph_pagerank" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val edges = sharedKnnGraph(s, d).select("src", "dst")
      val nodes = e.filter(size(col("embedding")) >= 64).select("vec_id")
      graft.operators.Graph.pagerank(nodes, edges, "vec_id", iters = 3)
    }),

    // --- WEIGHTED PageRank over the scored kNN edges: rank mass splits
    // ∝ integer-scaled similarity (round(score·10⁶)) instead of
    // uniformly — centrality weighted by how similar the neighborhood
    // is; same all-integer masses, bit-exact unrolled oracle ----------------
    "graph_pagerank_weighted" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val edges = sharedKnnGraph(s, d)
        .select(col("src"), col("dst"),
          round(col("score") * lit(1000000.0), 0).cast("long").as("weight"))
      val nodes = e.filter(size(col("embedding")) >= 64).select("vec_id")
      graft.operators.Graph.pagerankWeighted(nodes, edges, "vec_id",
        iters = 3)
    }),

    // --- personalized PageRank: teleport only to the vec_id < 100 seed
    // set — proximity-to-seeds ranking for seed-set expansion; same
    // integer masses, unreachable nodes converge to 0 ------------------------
    "graph_ppr" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val edges = sharedKnnGraph(s, d).select("src", "dst")
      val nodes = e.filter(size(col("embedding")) >= 64).select("vec_id")
      graft.operators.Graph.pagerankPersonalized(nodes,
        nodes.filter(col("vec_id") < 100), edges, "vec_id", iters = 3)
    }),

    // --- HITS hubs/authorities over the same directed kNN edges:
    // authority = content many neighborhoods point AT, hub = content
    // whose neighbor list covers the canonical set. L1-normalized
    // integer masses on a 10⁸ grid → bit-exact unrolled oracle ------------
    "graph_hits" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val edges = sharedKnnGraph(s, d).select("src", "dst")
      val nodes = e.filter(size(col("embedding")) >= 64).select("vec_id")
      graft.operators.Graph.hits(nodes, edges, "vec_id", iters = 3)
    }),

    // --- per-node triangle count + local clustering coefficient over
    // the MUTUAL kNN graph: degree-ordered orientation (wedges form only
    // at a triangle's lowest-ordered corner — the power-law skew killer);
    // exact counts, lcc as integer ppm ------------------------------------
    "graph_triangles" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val mutual = Similarity.mutualKnnEdges(sharedKnnGraph(s, d))
      val nodes = e.filter(size(col("embedding")) >= 64).select("vec_id")
      graft.operators.Graph.triangles(nodes, mutual, "vec_id")
    }),

    // --- link prediction over the MUTUAL kNN graph: common-neighbor /
    // Adamic–Adar / Jaccard scores for non-adjacent pairs sharing a
    // neighbor — the "pairs the blocking stage missed" review queue.
    // Wedge fan-out bounded by k² per node on a kNN substrate ------------
    "graph_adamic" -> ((s, d) =>
      graft.operators.Graph.linkPredict(
        Similarity.mutualKnnEdges(sharedKnnGraph(s, d)))),

    // --- bounded-round k-core peeling of the MUTUAL kNN graph: the
    // stable duplication communities that survive after hubs and
    // stragglers peel away (k=2, 3 rounds — the oracle unrolls the SAME
    // 3 rounds, so parity holds regardless; exactness-at-fixpoint is the
    // operator's documented R-vs-R+1 certificate, NOT implied by the
    // degree bound — a long chain peels 2 endpoints per round) ------------
    "graph_kcore" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val mutual = Similarity.mutualKnnEdges(sharedKnnGraph(s, d))
      val nodes = e.filter(size(col("embedding")) >= 64).select("vec_id")
      graft.operators.Graph.kCore(nodes, mutual, "vec_id",
        k = 2, rounds = 3)
    }),

    // --- the peel's convergence certificate: survivor counts at rounds
    // R and R+1 plus a `converged` flag — one extra peel round and a
    // single 1-row aggregate over the shared prefix, making graph_kcore's
    // bounded-round contract CHECKABLE instead of documented ------------
    "graph_kcore_cert" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val mutual = Similarity.mutualKnnEdges(sharedKnnGraph(s, d))
      graft.operators.Graph.kCoreCertificate(mutual, k = 2, rounds = 3)
    }),

    // --- degree profile of the same graph: hub/orphan diagnostic ------------
    "graph_degree" -> ((s, d) =>
      graft.operators.Graph.degreeProfile(
        sharedKnnGraph(s, d).select("src", "dst"))),

    // --- connected components of the MUTUAL kNN graph: the log-round
    // large/small-star CC (similarity clusters CHAIN — plain min-root
    // propagation needs O(diameter) rounds on them, the star variant
    // O(log n); same min-root labels either way) --------------------------
    "graph_components" -> ((s, d) =>
      // r17: ride the shared kNN edge frame like the rest of the graph
      // family (was: a private rebuild inside a child session scoped to
      // 8 shuffle partitions — the rebuild cost more than the scoping
      // saved once the build was shared; AQE coalesces the star rounds'
      // tiny shuffles at runtime to the same effect). Component labels
      // are partitioning-independent (min-root), so output is unchanged.
      Dedup.clustersStar(
        Similarity.mutualKnnEdges(sharedKnnGraph(s, d))
          .select("id_a", "id_b"))),

    // --- semi-supervised label propagation: vec_id < 100 keep their
    // fixture label (clamped seeds), the rest adopt the majority label of
    // their in-neighbors over 3 synchronous rounds (smallest-label tie
    // break — integer votes, engine-exact) -------------------------------
    "graph_labelprop" -> ((s, d) => {
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
    }),

    // --- deterministic k-means over embeddings ------------------------------
    // Lloyd's with dyadic quantization (exact centroid sums in any addition
    // order), lowest-id init, lowest-index argmin tie-break — the oracle
    // replays the identical two rounds in SQL.
    "embed_kmeans" -> ((s, d) =>
      Clustering.kmeans(Tables.embeddings(s, d), "vec_id", "embedding",
        k = 8, iters = 2, dim = 64)),

    // --- top principal direction by deterministic power iteration: the
    // anisotropy / whitening probe. Two unrolled matrix-vector rounds,
    // dyadic quantization end-to-end (the kmeans scheme), driver holds
    // 2×dim doubles --------------------------------------------------------
    "embed_pca" -> ((s, d) =>
      Clustering.pcaTopComponent(Tables.embeddings(s, d), "embedding",
        dim = 64, iters = 2)),

    // --- per-item projection onto the trained top component: the
    // anisotropy score / rank-one whitening input; one extra scan --------
    "embed_pca_project" -> ((s, d) =>
      Clustering.pcaProject(Tables.embeddings(s, d), "vec_id",
        "embedding", dim = 64, iters = 2)),

    // --- top-3 principal directions by power iteration WITH DEFLATION:
    // after each component converges its rank-one projection is
    // subtracted (2⁻¹²-floored — exactness closed under deflation) and
    // the loop reruns; the oracle unrolls every round of every component --
    "embed_pca_k" -> ((s, d) =>
      Clustering.pcaComponents(Tables.embeddings(s, d), "embedding",
        dim = 64, nComponents = 3, iters = 2)),

    // --- PCA whitening: (x−μ)·v_c / √λ_c over the top-3 deflated
    // components — decorrelates the dominant axes so cosine stops being
    // hijacked by the corpus' top principal direction. Training = the
    // pca_k loop; serving = one map-only literal projection ---------------
    "embed_whiten" -> ((s, d) =>
      Clustering.whiten(Tables.embeddings(s, d), "vec_id", "embedding",
        dim = 64, nComponents = 3, iters = 2)),

    // --- per-label centroid drift: distribution-shift / redundancy monitor --
    "embed_source_drift" -> ((s, d) =>
      Clustering.centroidDrift(Tables.embeddings(s, d), "label",
        "embedding", dim = 64)),

    // --- per-cluster farthest-from-centroid outliers ------------------------
    // The curation review queue: exact squared distance to the assigned
    // centroid (same fold as the assignment itself), top-3 per cluster.
    "embed_outliers" -> ((s, d) =>
      Clustering.farthestPerCluster(Tables.embeddings(s, d), "vec_id",
        "embedding", k = 8, iters = 2, dim = 64, perCluster = 3)),

    // --- centroid-based silhouette per vector: the "is k right" quality
    // diagnostic over the same kmeans state — a = own-centroid distance,
    // b = nearest-other-centroid distance, sil = (b−a)/max(a,b); one
    // map-only pass, the corpus never shuffles ---------------------------
    "cluster_silhouette" -> ((s, d) =>
      Clustering.silhouette(Tables.embeddings(s, d), "vec_id",
        "embedding", k = 8, iters = 2, dim = 64)),

    // --- SemDeDup: cluster-then-prune semantic dedup -------------------------
    // Within each k-means cluster, drop vectors with a lower-id cosine>=τ
    // neighbor; output the kept rows. The clustering bounds the pair join,
    // and the hot-cluster cap (maxPairSide) bounds it LINEARLY: clusters
    // past 128 members split into id-mod sub-buckets before pairing, so
    // candidate pairs stay ≤ N·128/2 at any corpus size (fixed k would
    // otherwise grow cluster size — and pairs quadratically — with N).
    "semdedup" -> ((s, d) =>
      Clustering.semdedup(Tables.embeddings(s, d), "vec_id", "embedding",
        k = 8, iters = 2, dim = 64, threshold = 0.35, maxPairSide = 128)),

    // --- chunk-level (paragraph-style) global dedup --------------------------
    "dedup_chunks" -> ((s, d) =>
      Dedup.chunkDedup(Tables.documents(s, d), "text", "doc_id", w = 3)
        .select("doc_id", "n_chunks", "n_kept", "clean_text")),

    // --- corpus-repeated substring SPANS at arbitrary offsets (Lee et
    // al. 2022's exact-substring posture, shingle-run approximation):
    // sliding 4-token windows duplicated anywhere in the corpus, fused
    // into maximal runs of >= 2 windows = spans of >= 5 tokens -----------
    "dedup_spans" -> ((s, d) =>
      Dedup.duplicateSpans(Tables.documents(s, d), "text", "doc_id",
        w = 4, minRun = 2)),

    // --- the actionable gate over those spans: per-doc duplicated-token
    // coverage by interval union (spans overlap < w at the edges) --------
    "dedup_span_ratio" -> ((s, d) =>
      Dedup.spanDupRatio(Tables.documents(s, d), "text", "doc_id",
        w = 4, minRun = 2)),

    // --- and the removal policy: cut the repeated spans out — per-doc
    // interval arrays ride a doc-grain hash join, the token cut is a
    // map-side indexed-lambda filter (no token-level shuffle) ------------
    "dedup_spans_clean" -> ((s, d) =>
      Dedup.stripSpans(Tables.documents(s, d), "text", "doc_id",
        w = 4, minRun = 2)),

    // --- per-document duplicated-content fraction (the RefinedWeb-style
    // "drop documents that are mostly duplicated elsewhere" gate) ------------
    "dedup_dupratio" -> ((s, d) =>
      Dedup.chunkDupStats(Tables.documents(s, d), "text", "doc_id", w = 3)
        .select(col("doc_id"), col("n_chunks"), col("n_dup"),
          col("dup_ratio"), (col("dup_ratio") <= 0.5).as("keep"))),

    // --- soft dedup: inverse-mean-multiplicity loss/sampling weights --------
    "softdedup_weights" -> ((s, d) =>
      Dedup.chunkDupStats(Tables.documents(s, d), "text", "doc_id", w = 3)
        .select("doc_id", "sum_mult", "soft_weight")),

    // --- soft dedup in action: duplication-aware weighted sampling — the
    // down-weight-instead-of-drop pipeline (chunkDupStats → weighted);
    // duplicated documents survive, at inclusion odds scaled by how
    // corpus-unique their content is -----------------------------------------
    "sample_softdedup" -> ((s, d) =>
      Sampling.weighted(
        Dedup.chunkDupStats(Tables.documents(s, d), "text", "doc_id", w = 3)
          .select("doc_id", "soft_weight"),
        "doc_id", "soft_weight", k = 100)
        .select(col("doc_id"), col("soft_weight"), col("priority"))),

    // --- mixture-weighted per-source downsampling ----------------------------
    "sample_mixture" -> ((s, d) =>
      Sampling.mixture(Tables.documents(s, d), "doc_id", "source",
        Seq("src0" -> 0.125, "src1" -> 0.25, "src2" -> 0.5, "src3" -> 0.75))
        .select("doc_id", "source")),

    // --- temperature-scaled language rebalancing (T=2, half the corpus):
    // rates derive from the corpus' own counts, head languages are
    // downsampled hardest --------------------------------------------------
    "sample_temperature" -> ((s, d) =>
      Sampling.temperature(Tables.documents(s, d), "doc_id", "lang",
        temp = 2.0, frac = 0.5)
        .select("doc_id", "lang")),

    // --- deterministic train/val split (hash of id, engine-portable) --------
    "sample_split" -> ((s, d) =>
      Sampling.split(Tables.documents(s, d), "doc_id", trainPct = 0.8)
        .select("doc_id", "split")),

    // --- weighted-fair mixture interleave: global training-order key --------
    "mixture_schedule" -> ((s, d) =>
      Sampling.mixtureSchedule(Tables.documents(s, d), "doc_id", "source",
        weights = Seq("src0" -> 5L, "src1" -> 3L), defaultWeight = 1L)
        .select("doc_id", "source", "sched_key")),

    // --- split hygiene: exact + near-dup train→val leakage audits -----------
    "split_leakage" -> ((s, d) =>
      Sampling.splitLeakageExact(Tables.documents(s, d), "text", "doc_id",
        trainPct = 0.8)),

    "split_leakage_near" -> ((s, d) =>
      Sampling.splitLeakageNear(Tables.documents(s, d), "text", "doc_id",
        trainPct = 0.8, shingleN = 3, k = 8, bands = 4)),

    // --- sketch profile: HLL vocab + log-bucket quantiles per source --------
    // built from the repo's replayable sketch algebra (register HLL +
    // HDR buckets), so the estimates hash-match a DuckDB oracle like any
    // exact operator; SplitHygieneSpec additionally bounds them against
    // exact answers.
    "sketch_profile" -> ((s, d) =>
      Corpus.sketchProfile(Tables.documents(s, d), "source", "text",
        "n_chars")),

    // --- stratified per-language cap: stable pseudo-random 50 per stratum ---
    "sample_stratified" -> ((s, d) =>
      Sampling.stratified(
        // spread: langId's stopword scan is the heavy map stage here and
        // the fixture parquet is a single row group (one scan task)
        Tables.spread(Tables.documents(s, d))
          .withColumn("lang_id", TextAnalysis.langId(col("text")))
          // project BEFORE the window: only (doc_id, lang_id) ride the
          // stratum exchange, not the full document text
          .select("doc_id", "lang_id"),
        "lang_id", "doc_id", perStratum = 50)
        .select("doc_id", "lang_id")),

    // --- token-budget shard packing per language stratum --------------------
    "pack_shards" -> ((s, d) =>
      Sampling.packShards(
        Tables.documents(s, d)
          .withColumn("lang_id", TextAnalysis.langId(col("text")))
          .withColumn("tokens",
            size(TextAnalysis.tokens(col("text"))).cast("long")),
        "lang_id", "doc_id", "tokens", budget = 2000L)
        .select("doc_id", "lang_id", "shard_id", "shard_offset")),

    // --- clickstream sessionization (gap-based, 24 h) ----------------------
    // ts is long nanos on the Spark side but DuckDB's TIMESTAMP truncates to
    // microseconds at parquet read, so both engines quantize to exact µs
    // (`ts div 1000` ↔ `epoch_us(ts)`) before comparing gaps.
    "sessionize" -> ((s, d) =>
      Sessionize.assign(
        Tables.eventsUs(s, d),
        "user_id", "ts_us", "event_id", gapMicros = 86400L * 1000000L)
        .select("event_id", "user_id", "session_seq")),

    // --- top session paths: ordered event-type sequences, capped at 5
    // steps, counted corpus-wide ---------------------------------------------
    "session_paths" -> ((s, d) =>
      Sessionize.pathsTopK(
        Tables.eventsUs(s, d),
        "user_id", "ts_us", "event_id", "event_type",
        gapMicros = 86400L * 1000000L, maxSteps = 5, topN = 20)),

    // --- per-session aggregates ---------------------------------------------
    "session_stats" -> ((s, d) =>
      Sessionize.stats(
        Sessionize.assign(
          Tables.eventsUs(s, d),
          "user_id", "ts_us", "event_id", gapMicros = 86400L * 1000000L),
        "user_id", "ts_us", "event_type", "value")
        .select("user_id", "session_seq", "n_events", "start_us", "end_us",
          "duration_us", "n_types", "value_sum")),

    // --- strict-order funnel: view → click → purchase per user --------------
    "session_funnel" -> ((s, d) =>
      Sessionize.funnel(
        Tables.eventsUs(s, d),
        "user_id", "ts_us", "event_type",
        Seq("view", "click", "purchase"))
        .select(col("user_id"), col("reached"),
          coalesce(col("ts_step1"), lit(-1L)).as("ts_step1"),
          coalesce(col("ts_step2"), lit(-1L)).as("ts_step2"),
          coalesce(col("ts_step3"), lit(-1L)).as("ts_step3"))),

    // --- streaming: watermarked tumbling-window aggregation ----------------
    // The core Structured Streaming shape for event streams (windowed
    // counts/sums with bounded state): 6 h tumbling windows on event time,
    // 1 h watermark, append mode. Replayed through FileReplay: the table
    // in one batch, then a far-future sentinel batch advances the
    // watermark past the last real window so append mode emits everything
    // (that final window would otherwise stay open forever on a bounded
    // replay). The oracle is
    // the equivalent batch GROUP BY — streaming and batch must agree
    // exactly on in-order data.
    "stream_window" -> ((s, d) => {
      // Whole-table replay → the FILE-source harness (FileReplay): the
      // micro-batch reads the parquet DISTRIBUTED instead of round-
      // tripping every event through the driver (the sf1 rehearsal
      // measured the MemoryStream version at 14–35 s, nearly all driver
      // serialization; this shape holds flat).
      val ss = replaySession(s)
      val maxUs = sharedMaxTsUs(s, d)
      graft.streaming.FileReplay.replay(ss, s"$d/events.parquet",
        "stream_window",
        sentinel = Some(
          eventsSentinel(ss, d, maxUs + 30L * 86400000000L))) { source =>
        val stream = source()
        stream
          .select(Tables.tsMicros(stream).as("ts_us"), col("event_type"),
            col("value").cast("double").as("value"))
          .withColumn("ts", timestamp_micros(col("ts_us")))
          .withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "6 hours"), col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            sum(col("value").cast("decimal(18,2)")).cast("double")
              .as("value_sum"))
          .select(unix_micros(col("window.start")).as("window_start_us"),
            col("event_type"), col("n_events"), col("value_sum"))
      }
        .filter(col("event_type") =!= "__wm__")
    }),

    // --- streaming distinct-cardinality sketch: per-window active-user
    // HLL maintained AT INGEST — state per open window is ≤ 256 integer
    // registers REGARDLESS of traffic (the unbounded-exact-distinct
    // killer at 100 TB); append mode emits each window's registers once
    // when the watermark passes, and the estimate is a cheap batch fold
    // over the emitted register rows (Sketches.cardinality — exactly how
    // a sink would serve the sketch). Engine-exact: the md5 →
    // (register, rank) derivation is the shared Sketches SQL, every step
    // to the final division exact integer arithmetic. -------------------
    "stream_distinct" -> ((s, d) => {
      val ss = replaySession(s)
      val maxUs = sharedMaxTsUs(s, d)
      val reg = graft.streaming.FileReplay.replay(ss, s"$d/events.parquet",
        "stream_distinct",
        sentinel = Some(
          eventsSentinel(ss, d, maxUs + 30L * 86400000000L))) { source =>
        val stream = source()
        stream
          .select(Tables.tsMicros(stream).as("ts_us"), col("user_id"))
          .filter(col("ts_us") >= 0L)
          .withColumn("ts", timestamp_micros(col("ts_us")))
          .withWatermark("ts", "1 hour")
          .withColumn("h", md5(col("user_id").cast("string")))
          .withColumn("idx", expr(graft.llm.Sketches.IdxSql))
          .withColumn("rho", expr(graft.llm.Sketches.RhoSql))
          .groupBy(window(col("ts"), "6 hours"), col("idx"))
          .agg(max(col("rho")).as("m"))
          .select(unix_micros(col("window.start")).as("window_start_us"),
            col("idx"), col("m"))
      }
        // the sentinel's far-future window flushes the real ones and is
        // dropped here (every real window starts at or before maxUs)
        .filter(col("window_start_us") <= maxUs)
      graft.llm.Sketches.cardinality(reg, Seq("window_start_us"))
    }),

    // --- streaming quantile sketch: per-window HDR bucket counts
    // maintained AT INGEST (state per open window: ≤ hundreds of bucket
    // rows regardless of traffic; counts merge by +), emitted on
    // watermark close and folded into p50/p99 by quantilesOfBuckets at
    // read — the THIRD at-ingest sketch beside stream_distinct's HLL
    // registers and stream_cms's counters ----------------------------------
    "stream_quantiles" -> ((s, d) => {
      val ss = replaySession(s)
      val maxUs = sharedMaxTsUs(s, d)
      val sink = graft.streaming.FileReplay.replay(ss, s"$d/events.parquet",
        "stream_quantiles",
        sentinel = Some(
          eventsSentinel(ss, d, maxUs + 30L * 86400000000L))) { source =>
        val stream = source()
          val (lo, hi) = graft.llm.Sketches.bucketBounds(col("value"), 1000L)
          stream
            .select(Tables.tsMicros(stream).as("ts_us"), col("value"))
            .filter(col("ts_us") >= 0L && col("value") >= 0)
            .withColumn("ts", timestamp_micros(col("ts_us")))
            .withWatermark("ts", "1 hour")
            .withColumn("__lo", lo).withColumn("__hi", hi)
            .groupBy(window(col("ts"), "6 hours"),
              col("__lo"), col("__hi"))
            .agg(count(lit(1)).as("__cnt"))
            .select(unix_micros(col("window.start")).as("window_start_us"),
              col("__lo"), col("__hi"), col("__cnt"))
      }
        .filter(col("window_start_us") <= maxUs)
      val merged = sink
        .groupBy(col("window_start_us"), col("__lo"), col("__hi"))
        .agg(sum(col("__cnt")).as("__cnt"))
      graft.llm.Sketches.quantilesOfBuckets(merged,
        Seq("window_start_us"), ps = Seq(0.5, 0.99), gridPerUnit = 1000L)
    }),

    // --- streaming frequency sketch: per-window CountMin counters
    // maintained AT INGEST (state per open window: ≤ d·w counter rows
    // regardless of traffic), then — because counters ADD — the emitted
    // per-window frames sum-merge into the global sketch, probed for the
    // user heavy-hitter estimates. The frequency member of the at-ingest
    // sketch pair (stream_distinct is the distinct member). -------------
    "stream_cms" -> ((s, d) => {
      val ss = replaySession(s)
      val maxUs = sharedMaxTsUs(s, d)
      val (depth, width) = (3, 256)
      val sink = graft.streaming.FileReplay.replay(ss, s"$d/events.parquet",
        "stream_cms",
        sentinel = Some(
          eventsSentinel(ss, d, maxUs + 30L * 86400000000L))) { source =>
        val stream = source()
          val keys = (0 until depth).map(i => struct(lit(i).as("row"),
            graft.llm.CountMin.bucket(col("item"), i, width).as("bucket")))
          stream
            .select(Tables.tsMicros(stream).as("ts_us"),
              col("user_id").cast("string").as("item"))
            .filter(col("ts_us") >= 0L)
            .withColumn("ts", timestamp_micros(col("ts_us")))
            .withWatermark("ts", "1 hour")
            .select(col("ts"), explode(array(keys: _*)).as("rb"))
            .groupBy(window(col("ts"), "6 hours"),
              col("rb.row").as("row"), col("rb.bucket").as("bucket"))
            .agg(count(lit(1)).as("cnt"))
            .select(unix_micros(col("window.start")).as("window_start_us"),
              col("row"), col("bucket"), col("cnt"))
      }
        .filter(col("window_start_us") <= maxUs)
      val merged = sink.groupBy(col("row"), col("bucket"))
        .agg(sum(col("cnt")).as("cnt"))
      val probes = ss.range(0, 8)
        .select(col("id").cast("string").as("item"))
      val trueCounts = Tables.eventsUs(ss, d)
        .filter(col("ts_us") >= 0L && col("user_id").between(0, 7))
        .groupBy(col("user_id").cast("string").as("item"))
        .agg(count(lit(1)).as("true_count"))
      graft.llm.CountMin.probe(probes, "item", merged, depth, width)
        .join(broadcast(trueCounts), Seq("item"), "left")
        .select(col("item"),
          coalesce(col("true_count"), lit(0L)).as("true_count"),
          col("est_count"))
    }),

    // --- streaming OHLC compaction: the ts_ohlc candles computed AT
    // INGEST — watermarked 1-day tumbling windows (epoch-aligned, so
    // window.start IS the batch operator's bucket), min_by/max_by over
    // the SAME portable total-order key, exact decimal volume sums.
    // State per (series, open window) is one partial row; append mode
    // emits each candle once when the watermark passes its window.
    // CONTRACT: nonnegative event time only (ts_us >= 0, enforced below
    // and in the oracle) — Spark's initial watermark is epoch 0, so a
    // pre-1970 window is born late and silently dropped, and window()
    // floor-aligns where the batch bucket truncates; the batch ts_ohlc
    // operator keeps the full signed range. ------------------------------
    "stream_ohlc" -> ((s, d) => {
      // Whole-table replay → FileReplay (see stream_window): the source
      // predicate runs INSIDE the micro-batch, distributed, and must
      // admit the sentinel (pinned user_id=0, value=0.0, far-future ts)
      // or the flush batch would never reach the watermark operator.
      val ss = replaySession(s)
      val maxUs = sharedMaxTsUs(s, d)
      val v = col("value")
      graft.streaming.FileReplay.replay(ss, s"$d/events.parquet",
        "stream_ohlc",
        sentinel = Some(
          eventsSentinel(ss, d, maxUs + 30L * 86400000000L))) { source =>
        val stream = source()
        stream
          .select(Tables.tsMicros(stream).as("ts_us"), col("user_id"),
            col("event_type"), col("event_id"),
            col("value").cast("double").as("value"))
          .filter(col("user_id") < 50 && col("value").isNotNull &&
            col("ts_us") >= 0)
          .withColumn("ts", timestamp_micros(col("ts_us")))
          .withWatermark("ts", "1 hour")
          .withColumn("__ord",
            TimeSeries.ohlcOrderKey(col("ts_us"), col("event_id")))
          .groupBy(window(col("ts"), "1 day"), col("user_id"),
            col("event_type"))
          .agg(min_by(v, col("__ord")).as("open"), max(v).as("high"),
            min(v).as("low"), max_by(v, col("__ord")).as("close"),
            count(lit(1)).as("n_events"),
            sum(col("value").cast("decimal(18,2)")).as("__vsum"))
          .select(col("user_id"), col("event_type"),
            unix_micros(col("window.start")).as("bucket"),
            col("open"), col("high"), col("low"), col("close"),
            col("n_events"), col("__vsum").cast("double").as("vsum"),
            round(col("__vsum").cast("double") /
              col("n_events").cast("double"), 6).as("vavg"))
      }
        .filter(col("event_type") =!= "__wm__")
    }),

    // --- streaming: SLIDING windows (6 h length, 3 h slide) — every event
    // lands in exactly two windows, so the state/emission shape differs
    // from the tumbling case (overlapping state entries per key). Same
    // pre-loaded replay + sentinel flush as stream_window. -----------------
    "stream_window_sliding" -> ((s, d) => {
      val ss = replaySession(s)
      val maxUs = sharedMaxTsUs(s, d)
      graft.streaming.FileReplay.replay(ss, s"$d/events.parquet",
        "stream_window_sliding",
        sentinel = Some(
          eventsSentinel(ss, d, maxUs + 30L * 86400000000L))) { source =>
        val stream = source()
        stream
          .select(Tables.tsMicros(stream).as("ts_us"), col("event_type"),
            col("value").cast("double").as("value"))
          .withColumn("ts", timestamp_micros(col("ts_us")))
          .withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "6 hours", "3 hours"),
            col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            sum(col("value").cast("decimal(18,2)")).cast("double")
              .as("value_sum"))
          .select(unix_micros(col("window.start")).as("window_start_us"),
            col("event_type"), col("n_events"), col("value_sum"))
      }
        .filter(col("event_type") =!= "__wm__")
    }),

    // --- as-of join: latest purchase at or before each view, per user ------
    // Union+window (one shuffle, no range explosion) vs DuckDB's native
    // ASOF JOIN — two independent algorithms, same answer.
    "asof_join" -> ((s, d) => {
      val ev = Tables.eventsUs(s, d)
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts_us"), col("event_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts_us").as("purchase_ts"))
        .agg(max(col("value")).as("purchase_value"))
      AsofJoin.leftAsof(views, purchases, "user_id", "ts_us", "purchase_ts",
        asofTsName = "purchase_ts")
        .select("event_id", "user_id", "ts_us", "purchase_ts",
          "purchase_value")
    }),

    // --- as-of join with a tolerance: latest purchase at or before each
    // view AND within 7 days — stale matches age out (the reference-data
    // freshness guard every point-in-time lookup wants) ------------------
    "asof_join_tol" -> ((s, d) => {
      val ev = Tables.eventsUs(s, d)
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts_us"), col("event_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts_us").as("purchase_ts"))
        .agg(max(col("value")).as("purchase_value"))
      AsofJoin.leftAsof(views, purchases, "user_id", "ts_us", "purchase_ts",
        asofTsName = "purchase_ts",
        tolerance = Some(7L * 86400000000L))
        .select("event_id", "user_id", "ts_us", "purchase_ts",
          "purchase_value")
    }),

    // --- corpus vector hygiene: one-row report a pipeline runs before
    // ANN/clustering (dim mismatches, zero vectors, norm distribution) ---
    "embed_stats" -> ((s, d) => {
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
    }),

    // --- forward as-of: next purchase at-or-after each view (labeling) -----
    "asof_join_fwd" -> ((s, d) => {
      val ev = Tables.eventsUs(s, d)
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts_us"), col("event_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts_us").as("purchase_ts"))
        .agg(max(col("value")).as("purchase_value"))
      AsofJoin.leftAsofForward(views, purchases, "user_id", "ts_us",
        "purchase_ts", asofTsName = "purchase_ts")
        .select("event_id", "user_id", "ts_us", "purchase_ts",
          "purchase_value")
    }),

    // --- NEAREST as-of: the closest purchase on either side of each
    // view (ties → the earlier one) — both directions in ONE window
    // pass over the union frame; oracle is a per-row lateral min-
    // distance lookup, a genuinely different algorithm -------------------
    "asof_join_near" -> ((s, d) => {
      val ev = Tables.eventsUs(s, d)
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts_us"), col("event_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts_us").as("purchase_ts"))
        .agg(max(col("value")).as("purchase_value"))
      AsofJoin.leftAsofNearest(views, purchases, "user_id", "ts_us",
        "purchase_ts", asofTsName = "purchase_ts")
        .select("event_id", "user_id", "ts_us", "purchase_ts",
          "purchase_value")
    }),

    // --- range join: views within ±1 h of a (small-cohort) purchase --------
    // Bucketized interval join (equi-join on 1 h buckets + exact filter) vs
    // DuckDB's inequality join.
    "range_join" -> ((s, d) => {
      val ev = Tables.eventsUs(s, d)
      val points = ev.filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("ts_us"))
      val hourUs = 3600L * 1000000L
      val intervals = ev
        .filter(col("event_type") === "purchase" && col("user_id") < 10)
        .select(col("event_id").as("purchase_id"),
          (col("ts_us") - hourUs).as("lo"), (col("ts_us") + hourUs).as("hi"))
      RangeJoin.pointInInterval(points, intervals, "ts_us", "lo", "hi",
        bucketWidth = hourUs)
        .select("view_id", "purchase_id", "ts_us", "lo", "hi")
    }),

    // --- interval×interval overlap join: exposure windows × purchase
    // windows (attribution candidates) — bucketized on both sides, each
    // pair emitted once via the overlap-start-bucket filter ---------------
    "interval_join" -> ((s, d) => {
      val ev = Tables.eventsUs(s, d)
      val hourUs = 3600L * 1000000L
      val views = ev.filter(col("event_type") === "view" &&
          col("user_id") < 25)
        .select(col("event_id").as("view_id"),
          col("ts_us").as("v_lo"), (col("ts_us") + 2 * hourUs).as("v_hi"))
      val purchases = ev.filter(col("event_type") === "purchase" &&
          col("user_id") < 50)
        .select(col("event_id").as("purchase_id"),
          (col("ts_us") - hourUs).as("p_lo"),
          (col("ts_us") + hourUs).as("p_hi"))
      RangeJoin.intervalOverlap(views, purchases, "v_lo", "v_hi",
        "p_lo", "p_hi", bucketWidth = hourUs)
        .select("view_id", "purchase_id", "v_lo", "p_lo")
    }),

    // --- multimodal: columnar binary metadata ----------------------------------------------
    "mm_binary_meta" -> ((s, d) =>
      Multimodal.binaryMeta(Tables.documents(s, d), "text")
        .select(col("doc_id"),
          col("byte_len"), col("content_hash"),
          (lit(64) + ascii(substring(col("text"), 1, 1)) % 192).as("width"))),

    // --- multimodal: frame sampling (every stride-th stub-decoded frame) ---
    "mm_frame_sample" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .withColumn("bin", encode(col("text"), "utf-8"))
      Multimodal.sampleFrames(docs, "doc_id", "bin", stride = 4)
    }),

    // --- multimodal: mapPartitions decode stage ----------------------------------------------
    "mm_decode_meta" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .withColumn("bin", encode(col("text"), "utf-8"))
      Multimodal.decodeMeta(s, docs, "doc_id", "bin", "image")
        .toDF()
        .select("media_id", "media_type", "byte_len", "content_hash",
          "width", "height", "n_frames")
    }),

    // --- corpus stats: top-5 TF-IDF terms per document ---------------------
    // Two hash aggregations + one vocab join; rank filter is
    // WindowGroupLimit-eligible (per-partition top-k before the final sort).
    "tfidf_topk" -> ((s, d) =>
      Corpus.tfidfTopK(Tables.documents(s, d), "text", "doc_id", k = 5)),

    // --- corpus stats: unigram-LM surprisal (perplexity-proxy filter) ------
    "lm_surprisal" -> ((s, d) =>
      Corpus.unigramSurprisal(Tables.documents(s, d), "text", "doc_id")),

    // --- bigram LM with add-one smoothing: word-order-aware quality gate ---
    "lm_bigram_nll" -> ((s, d) =>
      Corpus.bigramNll(Tables.documents(s, d), "text", "doc_id")),

    // --- interpolated Kneser–Ney trigram LM: the smoothing real n-gram
    // quality gates use (absolute discounting + continuation counts) ------
    "lm_kn_nll" -> ((s, d) =>
      Corpus.knTrigramNll(Tables.documents(s, d), "text", "doc_id",
        discount = KnDiscount)),

    // --- CCNet perplexity buckets (Wenzek et al. 2020): per-language
    // head/middle/tail terciles of the bigram-LM fluency score — the
    // composed gate CCNet cuts crawl data with (docs with no bigram
    // positions are unscoreable and drop, as in bigramNll) ---------------
    "ccnet_buckets" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val scored = Corpus.bigramNll(docs, "text", "doc_id")
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .withColumn("__fluency", -col("avg_nll"))
      Sampling.curriculum(scored, "lang", "__fluency", "doc_id",
        buckets = 3)
        .select(col("doc_id"), col("lang"), col("avg_nll"),
          when(col("curriculum_bucket") === 1, "head")
            .when(col("curriculum_bucket") === 2, "middle")
            .otherwise("tail").as("ppl_bucket"))
    }),

    // --- JL random projection 64→8: the cheap dim reduction before
    // clustering/ANN (map-side dot products against literal planes) ------
    // The API returns ARRAY<double>; the verification entry posexplodes it
    // to (vec_id, pos, component) scalar rows so the cross-engine hash
    // gate can canonicalize the result (array cells are unsortable there).
    "embed_project" -> ((s, d) =>
      Similarity.randomProjection(Tables.embeddings(s, d),
        "vec_id", "embedding", dimIn = 64, dimOut = 8)
        .select(col("vec_id"), posexplode(col("projected")))
        .select(col("vec_id"), col("pos").cast("long").as("pos"),
          col("col").as("component"))),

    // --- int8 embedding quantization fidelity report -----------------------
    // Map-side only: per-vector scale + mean squared reconstruction error.
    "embed_quantize" -> ((s, d) =>
      Quantize.int8Stats(Tables.embeddings(s, d), "embedding", "vec_id")),

    // --- exact per-type value percentiles ----------------------------------
    // Exact `percentile` matches DuckDB's quantile_cont (linear
    // interpolation at rank p·(n−1)). At 100 TB swap in approx_percentile —
    // the t-digest sketch merges map-side instead of collecting per-group
    // value multisets (same columns, bounded memory, documented in SCALE.md).
    "event_percentiles" -> ((s, d) =>
      Tables.events(s, d).groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(expr("percentile(value, 0.5D)"), 6).as("p50"),
          round(expr("percentile(value, 0.9D)"), 6).as("p90"),
          round(expr("percentile(value, 0.99D)"), 6).as("p99"))),

    // --- mergeable log-bucket quantile sketch: the 100 TB percentile
    // plan — one hash aggregate to ≤ hundreds of (group, bucket) counts
    // (merge by +, map-side combine), string-math HDR buckets (no libm),
    // deterministic in-bucket interpolation. The bounded+engine-exact
    // sibling of event_percentiles' exact sort ---------------------------
    "sketch_quantiles" -> ((s, d) =>
      graft.llm.Sketches.histQuantiles(Tables.events(s, d),
        Seq("event_type"), "value", ps = Seq(0.5, 0.9, 0.99))),

    // --- per-hour p50/p95 from the same mergeable sketch: the
    // observability "latency percentile per time bucket" board — the
    // bucket counts partial-aggregate map-side per (type, hour), so the
    // time dimension adds rows to the TINY sketch frame, not passes
    // over the corpus ----------------------------------------------------
    "ts_quantile_buckets" -> ((s, d) =>
      graft.llm.Sketches.histQuantiles(
        Tables.eventsUs(s, d)
          .withColumn("hour", expr("ts_us div 3600000000")),
        Seq("event_type", "hour"), "value", ps = Seq(0.5, 0.95))),

    // --- streaming exact dedup (dropDuplicatesWithinWatermark) -------------
    // Replays the event subset with every third event duplicated; the
    // dedup state keeps one fingerprint per key until the watermark passes,
    // so duplicates drop without unbounded state. Oracle = the base subset
    // (exact duplicates removed). Same child-session pattern as stream_rate.
    "stream_dedup" -> ((s, d) => {
      // ONE-batch file-source replay (dropDuplicates emits survivors on
      // arrival, not on watermark); the duplicate injection is a
      // streaming self-union inside the micro-batch — the file source
      // scans twice, both distributed
      val ss = replaySession(s)
      graft.streaming.FileReplay.replay(ss, s"$d/events.parquet",
        "stream_dedup") { source =>
        val stream = source()
          val base = stream
            .select(Tables.tsMicros(stream).as("ts_us"), col("event_id"),
              col("event_type"), col("value").cast("double").as("value"),
              col("user_id"))
            .filter(col("user_id") < 20)
            .drop("user_id")
          val dups = base.filter(col("event_id") % 3 === 0)
          base.union(dups)
            .withColumn("ts", timestamp_micros(col("ts_us")))
            .withWatermark("ts", "1 hour")
            .dropDuplicatesWithinWatermark("event_id")
            .select(col("event_id"), col("ts_us"), col("event_type"),
              col("value"))
      }
    }),

    // --- streaming URL-frontier compaction: crawl records dedup on the
    // canonical URL AT INGEST. A dropDuplicates would keep an ARBITRARY
    // survivor when same-URL records differ (shuffle order inside the
    // batch), so this is a watermarked aggregate instead — min(doc_id) +
    // count per url_norm, order-free and deterministic; the sentinel
    // advances the watermark so append mode flushes the single window ----
    "stream_urldedup" -> ((s, d) => {
      // Whole-table replay → FileReplay; the URL synthesis + normalize
      // chain runs distributed inside the micro-batch. The sentinel is a
      // far-future doc_id (the crawl clock), whose unique URL forms its
      // own window group — filtered by its out-of-range keep_doc.
      val ss = replaySession(s)
      val maxId = sharedMaxDocId(s, d)
      graft.streaming.FileReplay.replay(ss, s"$d/documents.parquet",
        "stream_urldedup",
        sentinel = Some(
          docsSentinel(ss, d, maxId + 90L * 86400L))) { source =>
        val stream = source()
        stream
          .select(col("doc_id"),
            TextAnalysis.urlNormalize(synthUrl).as("url_norm"))
          // synthetic event time: one record per second of crawl clock
          .withColumn("ts", timestamp_micros(col("doc_id") * 1000000L))
          .withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "30 days"), col("url_norm"))
          .agg(min(col("doc_id")).as("keep_doc"),
            count(lit(1)).as("n_records"))
          .select("url_norm", "keep_doc", "n_records")
      }
        .filter(col("keep_doc") <= maxId)
    }),

    // --- streaming gap sessionization (flatMapGroupsWithState) -------------
    // The stateful-custom-logic counterpart of stream_window: sessions close
    // either when a past-gap successor arrives or when the watermark passes
    // end+gap (event-time timeout). Oracle = the batch sessionize→stats SQL
    // on the same subset — streaming and batch must emit identical sessions
    // on in-order data. Sentinel advances the watermark so tail sessions
    // flush (the sentinel's own session never emits; it is filtered by key).
    "stream_sessionize" -> ((s, d) => {
      // Whole-table replay → FileReplay two-batch: batch 1 holds every
      // event (watermark still initial → the event-time timeout cannot
      // fire mid-stream and drop/renumber sessions), the sentinel batch
      // closes every open session. Sentinel keyed user_id = −1 so its
      // own session filters out by sign; real keys are non-negative.
      val ss = replaySession(s)
      import ss.implicits._
      val maxUs = sharedMaxTsUs(s, d)
      graft.streaming.FileReplay.replay(ss, s"$d/events.parquet",
        "stream_sessionize",
        sentinel = Some(
          eventsSentinel(ss, d, maxUs + 30L * 86400000000L, userId = -1L))) { source =>
        val stream = source()
          val evs = stream
            .select(Tables.tsMicros(stream).as("ts_us"), col("user_id"),
              col("event_id"), col("event_type"),
              (col("value").cast("decimal(18,2)") * 100).cast("long")
                .as("value_cents"))
            .filter(col("user_id") < 50)
            .withColumn("ts", timestamp_micros(col("ts_us")))
            .withWatermark("ts", "1 hour")
            .select(col("user_id").as("userId"), col("ts"),
              col("ts_us").as("tsUs"), col("event_id").as("eventId"),
              col("event_type").as("eventType"),
              col("value_cents").as("valueCents"))
            .as[SessionEvent]
          StreamingSessionize(evs, gapMicros = 86400L * 1000000L).toDF()
      }
        .filter(col("user_id") >= 0)
    }),

    // --- streaming online z-score: per-series running anomaly detection ----
    // Each event scores against its series' PRIOR distribution only (an
    // online detector cannot see the future). State = three exact integer
    // moments per series; the double math happens at emission from exact
    // inputs, so the oracle's decimal prefix-window formulation matches
    // bit for bit. Single-batch replay: every event emits immediately, no
    // sentinel needed.
    "stream_zscore" -> ((s, d) => {
      // ONE-batch file-source replay: every event emits immediately (the
      // detector keys state per series and sorts within the batch, so
      // file-scan arrival order cannot matter)
      val ss = replaySession(s)
      import ss.implicits._
      graft.streaming.FileReplay.replay(ss, s"$d/events.parquet",
        "stream_zscore") { source =>
        val stream = source()
          val evs = stream
            .select(Tables.tsMicros(stream).as("ts_us"), col("user_id"),
              col("event_id"), col("value").cast("double").as("value"),
              (col("value").cast("decimal(18,2)") * 100).cast("long")
                .as("value_cents"))
            .filter(col("user_id") < 50)
            .select(col("user_id").as("userId"), col("ts_us").as("tsUs"),
              col("event_id").as("eventId"), col("value"),
              col("value_cents").as("valueCents"))
            .as[ZscoreEvent]
          StreamingZscore(evs, threshold = 2.0).toDF()
      }
    }),

    // --- stream-stream interval join ----------------------------------------
    // Views join purchases by user within [view_ts, view_ts + 24 h] — the
    // canonical Structured Streaming two-stream shape. Both sides are
    // watermarked and the range rides the event-time columns, so join state
    // is bounded (Spark evicts a buffered row once the other side's
    // watermark passes its match window). INNER join: matches emit as soon
    // as both rows exist — no sentinel needed for completeness. Oracle =
    // the equivalent batch interval join.
    "stream_join" -> ((s, d) => {
      // Two independent file-source streams over the same table, both
      // complete in one micro-batch → every interval match emits, no
      // sentinel (see FileReplay.replay)
      val ss = replaySession(s)
      def slice(stream: DataFrame, tp: String) = stream
        .select(Tables.tsMicros(stream).as("ts_us"), col("user_id"),
          col("event_id"), col("event_type"))
        .filter(col("user_id") < 30 && col("event_type") === tp)
        .drop("event_type")
      graft.streaming.FileReplay.replay(ss, s"$d/events.parquet",
        "stream_join") { source =>
        val (s1, s2) = (source(), source())
        val v = slice(s1, "view")
          .withColumnRenamed("ts_us", "view_ts_us")
          .withColumnRenamed("event_id", "view_id")
          .withColumn("vts", timestamp_micros(col("view_ts_us")))
          .withWatermark("vts", "1 hour")
        val p = slice(s2, "purchase")
          .withColumnRenamed("ts_us", "purchase_ts_us")
          .withColumnRenamed("event_id", "purchase_id")
          .withColumnRenamed("user_id", "p_user_id")
          .withColumn("pts", timestamp_micros(col("purchase_ts_us")))
          .withWatermark("pts", "1 hour")
        v.join(p,
          col("user_id") === col("p_user_id") &&
            col("pts") >= col("vts") &&
            col("pts") <= col("vts") + expr("INTERVAL 24 HOURS"))
          .select(col("view_id"), col("purchase_id"), col("user_id"),
            col("view_ts_us"), col("purchase_ts_us"))
      }
    }),


    // --- OLAP cube over the corpus: docs/chars by every (source, lang)
    // subset. One pass: Spark expands grouping sets inside a single
    // hash aggregate (map-side partials per set), no self-union of
    // per-dimension scans. Coalesced labels + GROUPING flags keep the
    // output unambiguous when a dimension value could literally be
    // 'ALL'. Exact aggregates only (count, long sum) — nothing float. --
    "corpus_rollup" -> ((s, d) =>
      Tables.documents(s, d)
        .cube(col("source"), col("lang"))
        .agg(
          grouping(col("source")).cast("int").as("g_source"),
          grouping(col("lang")).cast("int").as("g_lang"),
          count(lit(1)).as("docs"),
          sum(col("n_chars")).as("chars"))
        .select(
          coalesce(col("source"), lit("ALL")).as("source"),
          coalesce(col("lang"), lit("ALL")).as("lang"),
          col("g_source"), col("g_lang"), col("docs"), col("chars"))),

    // --- pivot: source rows × language columns. Values are DECLARED
    // (no discovery pass over the data — the two-job groupBy().pivot()
    // shape is the 100 TB anti-pattern); absent cells are 0, not null. --
    "corpus_pivot" -> ((s, d) =>
      Tables.documents(s, d)
        .groupBy(col("source"))
        .pivot("lang", PivotLangs)
        .agg(count(lit(1)))
        .na.fill(0L, PivotLangs)),

    // --- weighted corpus sampling: 100 docs, inclusion probability
    // ∝ n_chars (sequential Poisson sampling; bit-reproducible priority,
    // global top-k = TakeOrderedAndProject, no full sort) ---------------
    "sample_weighted" -> ((s, d) =>
      Sampling.weighted(
        Tables.documents(s, d).select("doc_id", "n_chars"),
        "doc_id", "n_chars", k = 100)
        .select(col("doc_id"), col("n_chars").as("weight"),
          col("priority"))),

    // --- per-domain weighted caps: the stratified quality-weighted sample ---
    "sample_weighted_group" -> ((s, d) =>
      Sampling.weightedPerGroup(
        Tables.documents(s, d).select("doc_id", "source", "n_chars"),
        "source", "doc_id", "n_chars", k = 10)
        .select(col("doc_id"), col("source"),
          col("n_chars").as("weight"), col("priority"))),

    // --- nucleus (top-p) curation by token budget: keep the best half of
    // every source in TOKENS, ordered by quality — the gate is pure long
    // arithmetic (cum_before·2 < total·1), no float threshold ------------
    "sample_topp" -> ((s, d) =>
      Sampling.topPByBudget(
        TextAnalysis.qualityScore(Tables.documents(s, d), "text")
          .select(col("doc_id"), col("source"), col("quality_score"),
            col("token_count").cast("long").as("tokens")),
        "source", "quality_score", "doc_id", "tokens",
        pNum = 1, pDen = 2)
        .select("doc_id", "source", "quality_score", "tokens",
          "cum_before", "group_total", "kept")),

    // --- Zipf-law fit on the top-100 term frequencies: slope/R² of
    // ln(cnt) ~ ln(rank) — corpus naturalness diagnostic ----------------
    "corpus_zipf" -> ((s, d) =>
      Corpus.zipfFit(Tables.documents(s, d), "text", topN = 100)),

    // --- corpus-wide boilerplate detector: top-50 word-3-gram document
    // frequencies (distinct per doc via the codegen Shingles kernel) ----
    "ngram_boilerplate" -> ((s, d) =>
      Corpus.ngramDocFreqTopK(Tables.documents(s, d), "text", "doc_id",
        n = 3, k = 50)),

    // --- per-series anomaly flags over events: z-score vs the series'
    // own mean/stddev, |z| > 2 on the unrounded z — the exact-decimal
    // sum formulation makes mean/std/z bit-identical across engines, so
    // no round() appears anywhere in either formulation -----------------
    // --- robust (median/MAD) anomaly scores: 50% breakdown point where
    // mean/σ are dragged by the outliers being hunted ------------------------
    "events_robustz" -> ((s, d) =>
      TimeSeries.robustZscore(Tables.eventsUs(s, d), Seq("event_type"),
        "value")
        .select("event_id", "event_type", "value", "series_med",
          "series_mad", "robust_z", "is_anomaly")),

    "events_zscore" -> ((s, d) =>
      TimeSeries.zscore(
        Tables.events(s, d)
          .select("event_id", "user_id", "event_type", "value"),
        Seq("user_id", "event_type"), "value", threshold = 2.0)),

    // --- gap-filling resample: one-day grid per (user, event_type)
    // series, max-downsample per bucket, linear interpolation for
    // missing days between observations (no join — gaps explode from a
    // lag pair, reusing the aggregate's series-key shuffle) -------------
    "ts_gapfill" -> ((s, d) =>
      TimeSeries.gapfill(
        Tables.eventsUs(s, d),
        Seq("user_id", "event_type"), "ts_us", "value",
        stepMicros = DayMicros)),

    // --- trailing 7-day rolling mean per series (RANGE frame: series with
    // missing days still average over the TIME window, not the last 7
    // observations) ----------------------------------------------------
    "ts_moving" -> ((s, d) =>
      TimeSeries.rollingMean(
        Tables.eventsUs(s, d),
        Seq("user_id", "event_type"), "ts_us", "value",
        stepMicros = DayMicros, windowSteps = 7)),

    // --- classical seasonal decomposition: hourly per-type series into
    // centered-2×24-MA trend + hour-of-day seasonal + remainder, all on
    // an exact cents×48 integer grid with explicit floor division (the
    // anomaly-baseline view: is 3am low, or just the season?) ------------
    "ts_seasonal" -> ((s, d) =>
      TimeSeries.seasonalDecompose(
        Tables.eventsUs(s, d).filter(col("ts_us") >= 0L),
        Seq("event_type"), "ts_us", "value",
        periodSteps = 24, stepMicros = 3600000000L)),

    // --- OHLC candles: per (user, event_type) × day, first/high/low/last
    // value + count/sum/mean; open/close chosen by a portable total-order
    // key (sign-biased ts + length-prefixed id), one hash aggregate ------
    "ts_ohlc" -> ((s, d) =>
      TimeSeries.ohlc(
        Tables.eventsUs(s, d),
        Seq("user_id", "event_type"), "ts_us", "event_id", "value",
        stepMicros = DayMicros)),

    // --- largest-triangle downsample (parallel LTTB): per day, the ONE
    // point subtending the largest triangle vs neighbor-bucket means —
    // spike-preserving where mean/max candles flatten; endpoints kept -----
    "ts_lttb" -> ((s, d) =>
      TimeSeries.lttb(
        Tables.eventsUs(s, d)
          .select("user_id", "event_type", "ts_us", "event_id", "value"),
        Seq("user_id", "event_type"), "ts_us", "event_id", "value",
        stepMicros = DayMicros)
        .select("user_id", "event_type", "bucket", "ts_us", "event_id",
          "value", "n_in_bucket")),

    // --- CUSUM change-point: per event_type, the observation where the
    // cumulative deviation from the series mean peaks — all-integer
    // (centi-units, mean never divided out), one series-key exchange -------
    "ts_cusum" -> ((s, d) =>
      TimeSeries.cusumChangePoint(
        Tables.eventsUs(s, d),
        Seq("event_type"), "ts_us", "event_id", "value")),

    // --- BPE tokenizer training: 6 greedy merges over the corpus
    // vocabulary — a driver loop, but each round is ONE distributed pass
    // over the (shrinking) vocab frame and the driver holds only the
    // argmax pair. The merge table IS the tokenizer. ----------------------
    "bpe_train" -> ((s, d) => sharedBpeTrain6(s, d)),

    // --- tokenize the corpus with the trained merges: map-only chained
    // replaces, no shuffle — the serving path of bpe_train --------------
    "bpe_segment" -> ((s, d) =>
      graft.llm.Bpe.segmentCorpus(Tables.documents(s, d), "text",
        "doc_id", sharedBpeTable6(s, d))),

    // --- tokenizer fertility (BPE tokens per word) per language: the
    // multilingual-tokenizer-budget diagnostic — a high-fertility
    // language pays more sequence length per word. Grouped integer sums
    // over the map-only segmentation + one exact ppm division ------------
    "bpe_fertility" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.llm.Bpe.segmentCorpus(docs, "text", "doc_id",
        sharedBpeTable6(s, d))
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .groupBy("lang")
        .agg(sum(col("n_bpe_tokens")).as("n_bpe_tokens"),
          sum(col("n_words")).as("n_words"))
        .select(col("lang"), col("n_bpe_tokens"), col("n_words"),
          when(col("n_words") === 0, lit(null).cast("long"))
            .otherwise(expr("(n_bpe_tokens * 1000000) div n_words"))
            .as("fertility_ppm"))
    }),

    // --- DEEP BPE training: a 500-merge budget (the corpus fuses
    // completely first — training ends when no adjacent pair remains).
    // Incremental pair-delta maintenance: the corpus is scanned once,
    // the pair frame is built once, and each round recounts only the
    // words the winning pair touches — per-round cost tracks the pair's
    // support, not the vocabulary, so deep training is sub-linear in
    // merges. ------------------------------------------------------------
    "bpe_train_deep" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // the paired DuckDB oracle unrolls 120 guarded rounds, valid while
      // the corpus's provable merge ceiling Σ(len(w)−1) over the distinct
      // vocabulary stays ≤ 120 (107 on the driver fixture). Assert the
      // assumption HERE so a dataset change fails loudly at the bound
      // instead of as a confusing row-count mismatch.
      val ceiling = docs
        .select(explode(TextAnalysis.tokens(col("text"))).as("w"))
        .filter(length(col("w")) > 0 && !col("w").contains("<") &&
          !col("w").contains(">"))
        .distinct()
        .agg(coalesce(sum(length(col("w")) - 1), lit(0L))).head.getLong(0)
      require(ceiling <= 120, s"bpe_train_deep: corpus merge ceiling " +
        s"$ceiling exceeds the oracle's 120-round unroll — regenerate " +
        "the oracle with bpeDeepCtes(>= ceiling)")
      graft.llm.Bpe.train(docs, "text", merges = 500)
    }),

    // --- lag-1..3 autocorrelation per series: exact-decimal moment sums,
    // one sort serves all lags, pair rows collapse into one aggregate ------
    "ts_autocorr" -> ((s, d) =>
      TimeSeries.autocorrelation(Tables.eventsUs(s, d),
        Seq("event_type"), "ts_us", "event_id", "value", maxLag = 3)),

    // --- first-order event transition matrix per user, exact integer ppm
    // shares — the Markov edge weights behind the session-paths view ------
    "event_markov" -> ((s, d) =>
      Sessionize.transitionMatrix(Tables.eventsUs(s, d),
        "user_id", "ts_us", "event_id", "event_type")),

    // --- per-source document-length drift over the crawl clock: grouped
    // least squares from six exact moment sums ---------------------------
    "source_trend" -> ((s, d) =>
      Corpus.groupTrend(Tables.documents(s, d), "source",
        "doc_id", "n_chars")),

    // --- Zipf rank-frequency slope PER SOURCE: ln-ln least squares over
    // each source's top-200 tokens (integer nano-ln terms, exact moment
    // sums) — the grouped sibling of corpus_zipf's global fit: natural
    // sources sit near −1, templated sources flatten --------------------
    "corpus_zipf_source" -> ((s, d) =>
      Corpus.zipfSlope(Tables.documents(s, d), "source", "text",
        topRanks = 200)),

    // --- sliding-window chunking into 64-token segments with 16-token
    // overlap: the context-window segmentation before packing/encoding —
    // map-only, one sequence explode per doc, the corpus never shuffles --
    "doc_chunks" -> ((s, d) =>
      TextAnalysis.chunkDocs(Tables.documents(s, d), "text", "doc_id",
        budget = 64, overlap = 16)),

    // --- Z-order layout audit: Morton-interleave (user_id, crawl-hour)
    // and report each keyspace bucket's 2-D bounding box — the file-stat
    // pruning story for multi-dimension predicates at 100 TB ---------------
    "layout_zorder" -> ((s, d) => {
      // both dims quantized onto the full 10-bit grid (ranks would do the
      // same at scale) so the interleave actually mixes x and y bits —
      // un-stretched low-cardinality dims would leave the high key bits
      // constant and every row in one bucket
      val ev = Tables.eventsUs(s, d)
      graft.operators.Layout.zorderStats(ev,
        expr("user_id * 1024 div 150"),
        expr(s"((ts_us - $Epoch2024Us) div 3600000000) * 1024 div 744"),
        bits = 10, bucketBits = 6)
    }),

    // --- k-anonymity equivalence classes over quasi-identifiers
    // (lang, source, length bucket): the re-identification audit before a
    // corpus release; one hash aggregate --------------------------------
    "privacy_kanon" -> ((s, d) =>
      graft.llm.Privacy.kAnonymityClasses(
        Tables.documents(s, d),
        Seq(col("lang"), col("source"),
          expr("n_chars div 200").as("len_bucket")),
        k = 5)),

    // --- l-diversity audit: k-anonymity's complement — a class whose
    // rows all share one sensitive value leaks it even when large.
    // QI = (source, length bucket), sensitive = lang, l = 3 --------------
    "privacy_ldiv" -> ((s, d) =>
      graft.llm.Privacy.lDiversityClasses(
        Tables.documents(s, d),
        Seq(col("source"), expr("n_chars div 200").as("len_bucket")),
        col("lang"), l = 3)),

    // --- corpus-level risk summary: achieved k, risky-row count + exact
    // integer ppm -------------------------------------------------------
    "privacy_risk" -> ((s, d) =>
      graft.llm.Privacy.kAnonymityRisk(
        Tables.documents(s, d),
        Seq(col("lang"), col("source"),
          expr("n_chars div 200").as("len_bucket")),
        k = 5)),

    // --- curriculum buckets: 4 per-source difficulty tiers by descending
    // quality score (bucket 1 = highest-quality quartile) ----------------
    "curriculum_buckets" -> ((s, d) =>
      Sampling.curriculum(
        TextAnalysis.qualityScore(Tables.documents(s, d), "text")
          .select("doc_id", "source", "quality_score"),
        "source", "quality_score", "doc_id", buckets = 4)
        .select("doc_id", "source", "quality_score", "curriculum_bucket")),

    // --- GLOBAL curriculum: quantile thresholds + map-side assignment ---
    // (the 100 TB path — no total sort; bucket 1 = highest quartile)
    "curriculum_global" -> ((s, d) =>
      Sampling.curriculumGlobal(
        TextAnalysis.qualityScore(Tables.documents(s, d), "text")
          .select("doc_id", "quality_score"),
        "quality_score", buckets = 4)
        .select("doc_id", "quality_score", "curriculum_bucket")),

    // --- best-of-corpus curation: top-5 docs per source by quality ------
    "group_topk" -> ((s, d) =>
      Sampling.topKPerGroup(
        TextAnalysis.qualityScore(Tables.documents(s, d), "text")
          .select("doc_id", "source", "quality_score"),
        "source", "quality_score", "doc_id", k = 5)
        .select("doc_id", "source", "quality_score", "rank")),

    // --- MinHash-ESTIMATED Jaccard on the LSH candidate pairs: the
    // matching-component fraction whose expectation IS the Jaccard — the
    // quantity the (k, bands) collision threshold is derived from,
    // surfaced next to dedup_ngram_jaccard's exact values -----------------
    // --- LSH band-sizing sweep: candidate-pair recall of the banded
    // MinHash blocking vs the exact Jaccard ≥ 0.2 truth, at bands ∈
    // {2, 4, 8} over the same k=8 signature — the measurement that picks
    // (bands, rows) for a dedup recall target, completing the sizing-
    // eval family (LSH b → ann_recall_eval; candK → ann_hamming_sizing;
    // bands → THIS). One truth leg serves the whole sweep -----------------
    "dedup_lsh_sizing" -> ((s, d) => {
      val truth = Dedup.jaccardFrom(sharedOverlapCandidates(s, d),
          threshold = 0.2)
        .select(col("id_a"), col("id_b")).localCheckpoint()
      // bands is a banding-stage knob: the signature pipeline (shingle +
      // minhash scan, canonicalization exchange) is band-independent, so
      // compute the group frame ONCE and re-band the checkpoint per leg
      // (r17, guide §1.2 — was 3 full signature pipelines)
      val groups = Dedup.minhashSigGroups(Tables.documents(s, d), "text",
        "doc_id", shingleN = 3, k = 8).localCheckpoint()
      // r17 wave 3: the sweep needs the candidate-set CARDINALITY and the
      // truth-hit COUNT, never the pair set itself — so neither is
      // materialized (the old shape id-expanded + distinct()ed +
      // checkpointed every leg's pair set: ~25M-row exchanges ×3 and the
      // sf10 heap killer). Counts are computed exactly:
      //  - n_within = Σ C(|group|, 2): within-group pairs (identical
      //    signatures collide in every band) — group sizes alone,
      //    band-independent, zero joins.
      //  - n_cross  = Σ |ids_a|·|ids_b| over DISTINCT colliding group
      //    pairs: the banded group self-join stops at the deduped
      //    group-pair level (groups are disjoint id sets, so the id-pair
      //    expansion it replaces was exactly this product).
      //  - within ∪ cross is disjoint (same-sig vs different-sig pairs)
      //    and duplicate-free, so the old |distinct(pairs)| equals
      //    n_within + n_cross (LlmSpec pins it against the old shape).
      //  - n_hit is PAIRWISE-LOCAL (the embed_neardup_sizing argument):
      //    a truth pair is a candidate iff its two signatures share ≥1
      //    band hash — per-leg flags evaluate in ONE pass over the thin
      //    truth checkpoint, Θ(|truth|) for all legs together.
      val docSig = groups.select(explode(col("__ids")).as("doc_id"),
        col("__sig"))
      val flagged = truth
        .join(docSig.select(col("doc_id").as("id_a"),
          col("__sig").as("__sig_a")), Seq("id_a"), "left")
        .join(docSig.select(col("doc_id").as("id_b"),
          col("__sig").as("__sig_b")), Seq("id_b"), "left")
      val hitCols = count(lit(1)).as("n_true") +:
        lshSizingBands.map { b =>
          val collide = Dedup.bandHashes(col("__sig_a"), 8, b)
            .zip(Dedup.bandHashes(col("__sig_b"), 8, b))
            .map { case (x, y) => x === y }.reduce(_ || _)
          coalesce(sum(when(coalesce(collide, lit(false)), 1L)), lit(0L))
            .as(s"n_hit_$b")
        }
      val hitAgg = flagged.agg(hitCols.head, hitCols.tail: _*)
        .localCheckpoint() // one tiny row serves every leg
      // Σ n(n−1) summed as LONG, halved once with integer `div` (long `/`
      // is SQL double division; n_candidates must stay LONG for the
      // oracle schema)
      val nWithin = groups.agg(coalesce(sum(size(col("__ids")).cast("long")
          * (size(col("__ids")).cast("long") - 1L)), lit(0L))
        .as("__tw"))
        .select(expr("__tw div 2").as("n_within")).localCheckpoint()
      lshSizingBands.map { b =>
        val banded = Blocking.banded(
          groups.withColumn("__sz", size(col("__ids")).cast("long")),
          "band_hash", Dedup.bandHashes(col("__sig"), 8, b), "__rep", "__sz")
        val nCross = Blocking.selfJoin(banded, Seq("band", "band_hash"),
            Seq("__rep", "__sz"))
          .dropDuplicates("__rep_a", "__rep_b")
          .agg(coalesce(sum(col("__sz_a") * col("__sz_b")), lit(0L))
            .as("n_cross"))
        hitAgg.crossJoin(nWithin).crossJoin(nCross)
          .select(lit(b.toLong).as("bands"), col("n_true"),
            (col("n_within") + col("n_cross")).as("n_candidates"),
            col(s"n_hit_$b").as("n_hit"),
            when(col("n_true") > 0,
              round(col(s"n_hit_$b").cast("double")
                / col("n_true").cast("double"), 6)).as("recall"))
      }.reduce(_ unionByName _)
    }),

    "dedup_minhash_est" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val ws = TextAnalysis.tokens(col("text"))
      val sigs = docs.filter(size(ws) >= 3)
        .select(col("doc_id"),
          graft.functions.MinHashUtil.signatures(
            graft.functions.Shingles.distinctShingles(ws, 3), 8)
            .as("sig"))
      val pairs = sharedLshPairs(s, d)
      val matches = (1 to 8).map(i =>
        when(element_at(col("sig_a"), i) === element_at(col("sig_b"), i), 1)
          .otherwise(0)).reduce(_ + _)
      pairs
        .join(sigs.select(col("doc_id").as("id_a"), col("sig").as("sig_a")),
          Seq("id_a"))
        .join(sigs.select(col("doc_id").as("id_b"), col("sig").as("sig_b")),
          Seq("id_b"))
        .select(col("id_a"), col("id_b"),
          round(matches.cast("double") / 8.0, 6).as("est_jaccard"))
    }),

    // --- cross-corpus dedup: docs from the "new" sources (src10+) that
    // do not MinHash-collide with the "reference" corpus (src0-src9) —
    // the dedup-new-crawl-against-trained-corpus operator ----------------
    "dedup_cross" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val srcNum = expr("cast(substring(source, 4) as int)")
      Dedup.crossCorpusKeep(
        docs.filter(srcNum >= 10), docs.filter(srcNum < 10),
        "text", "doc_id", shingleN = 3, k = 8, bands = 4)
        .select("doc_id", "source")
    }),

    // --- same drop rule via the PERSISTED band set: the incremental /
    // steady-state ingest path (reference corpus never recomputed) ----------
    "dedup_cross_incr" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val srcNum = expr("cast(substring(source, 4) as int)")
      val refSet = Dedup.bandSet(docs.filter(srcNum < 10), "text", "doc_id",
        shingleN = 3, k = 8, bands = 4)
      Dedup.keepAgainstBandSet(docs.filter(srcNum >= 10), refSet,
        "text", "doc_id", shingleN = 3, k = 8, bands = 4)
        .select("doc_id", "source")
    }),

    // --- cross-corpus dedup WITH the exact-Jaccard confirm stage: band
    // collision nominates, exact shingle overlap ≥ 0.5 convicts ----------
    "dedup_cross_confirm" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val srcNum = expr("cast(substring(source, 4) as int)")
      Dedup.crossCorpusKeep(
        docs.filter(srcNum >= 10), docs.filter(srcNum < 10),
        "text", "doc_id", shingleN = 3, k = 8, bands = 4,
        confirmJaccard = Some(0.5))
        .select("doc_id", "source")
    }),

    // --- skew-hardened fact×dim equi-join: salted replication on the dim
    // side spreads any hot user key over 8 salt partitions; the result is
    // verified identical to the plain join (the oracle IS the plain join).
    "skew_join_salted" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("value"))
      val dim = ev.select(col("user_id")).distinct()
        .withColumn("tier", col("user_id") % 5)
      Skew.saltedJoin(ev, dim, "user_id", salt = 8, spreadCol = "event_id")
        .select("event_id", "user_id", "tier", "value")
    }),

    // --- resize planning ahead of decode: stub dims + fit-inside scale,
    // all columnar — budget decode bytes and drop no-op resizes before
    // any codec CPU is spent ---------------------------------------------
    "mm_resize" -> ((s, d) =>
      Multimodal.resizePlan(
        Tables.documents(s, d)
          .withColumn("payload", encode(col("text"), "utf-8")),
        "doc_id", "payload", targetW = 224, targetH = 224)),

    // --- multimodal payload dedup: one row per distinct binary asset
    // (content hash + byte length), keeper = smallest id — the asset-level
    // dedup a multimodal pipeline runs before any decode ----------------
    "mm_dedup" -> ((s, d) =>
      Multimodal.binaryMeta(
        Tables.documents(s, d)
          .withColumn("payload", encode(col("text"), "utf-8")), "payload")
        .groupBy(col("content_hash"), col("byte_len"))
        .agg(min(col("doc_id")).as("keeper_id"),
          count(lit(1)).as("n_copies"))),

    // --- global leaderboard: top-20 users by exact total spend — the
    // TakeOrderedAndProject shape (per-partition heaps, k-row driver
    // merge; never a full sort) over an exact decimal aggregate ----------
    "events_leaderboard" -> ((s, d) =>
      Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_purchases"),
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("total_spend"))
        .orderBy(col("total_spend").desc, col("user_id"))
        .limit(20)),

    // --- per-type value histogram: fixed 5-unit bins, one hash aggregate
    // with map-side partials; floor() is the identical IEEE op in both
    // engines, and the per-bin sum stays an exact decimal ----------------
    "events_histogram" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(col("event_type"),
          floor(col("value") / lit(5.0)).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("value_sum"))),

    // --- corpus length histogram per language: fixed 100-char-wide bins
    // capped at bin 5 — map-side integer binning + one hash aggregate ----
    "corpus_length_hist" -> ((s, d) =>
      Tables.documents(s, d)
        .groupBy(col("lang"),
          least(floor(col("n_chars") / 100), lit(5L)).cast("long")
            .as("bin"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"))),

    // --- cohort retention matrix: users active N days after their first
    // active day, per first-day cohort — all-integer, two user-key
    // shuffles, events collapse to distinct (user, day) up front --------
    "cohort_retention" -> ((s, d) =>
      Cohorts.retention(
        Tables.eventsUs(s, d),
        "user_id", "ts_us", stepMicros = DayMicros)
        .select("cohort", "period_offset", "n_users")),

    // --- top-50 bigram collocations by pointwise mutual information -----
    "collocation_pmi" -> ((s, d) =>
      Corpus.collocationsPmi(Tables.documents(s, d), "text", "doc_id",
        minCount = 5L, k = 50)),

    // --- RAG/embedding chunking: 8-token windows, stride 4 (50% overlap);
    // tail chunks emitted only when they add uncovered tokens -----------
    "chunk_windows" -> ((s, d) =>
      TextAnalysis.slidingChunks(Tables.documents(s, d), "text", "doc_id",
        window = 8, stride = 4)),

    // --- per-document character entropy (degenerate-text signal) --------
    "doc_entropy" -> ((s, d) =>
      Corpus.charEntropy(Tables.documents(s, d), "text", "doc_id")
        .select("doc_id", "n_chars", "char_entropy")),

    // --- per-document n-gram novelty: fraction of a doc's distinct
    // 3-grams first seen (smallest doc_id) in this doc — the snapshot-
    // valuation measurement ---------------------------------------------
    "ngram_novelty" -> ((s, d) =>
      Corpus.ngramNovelty(Tables.documents(s, d), "text", "doc_id", n = 3)
        .select("doc_id", "n_ngrams", "n_novel", "novelty")),

    // --- per-source unigram KL divergence vs the corpus blend: the
    // mixture diagnostic read before re-weighting sources ----------------
    "source_divergence" -> ((s, d) =>
      Corpus.sourceDivergence(Tables.documents(s, d), "text", "source")
        .select("source", "n_tokens", "kl_nats")),

    // --- pairwise source n-gram overlap: the snapshot-duplication
    // matrix (high-Jaccard pairs → cross-dedup before training) ----------
    "source_overlap" -> ((s, d) =>
      Corpus.sourceOverlap(Tables.documents(s, d), "text", "source", n = 3)
        .select("source_a", "source_b", "n_shared", "jaccard")),

    // --- marginal unique contribution per source: fraction of each
    // source's distinct grams no other source has — the drop-a-source
    // audit; one gram-keyed aggregate, scales past millions of sources
    // where the pairwise matrix can't ------------------------------------
    "source_unique" -> ((s, d) =>
      Corpus.sourceUnique(Tables.documents(s, d), "text", "source",
        n = 3)),

    // --- HLL register algebra: constant-memory cross-source overlap
    // estimates (256 integer registers per source, inclusion–exclusion
    // on register maxima) — the sketch-side sibling of source_overlap's
    // exact gram join; deterministic to the bit, so fully oracle-checked
    // (rare for a sketch). -------------------------------------------------
    "sketch_overlap" -> ((s, d) =>
      graft.llm.Sketches.hllSourceOverlap(Tables.documents(s, d),
        "text", "source", n = 3)),

    // --- Heaps'-law vocabulary-growth fit: ln(types so far) vs
    // ln(tokens so far) in doc order, cumulated by the two-phase
    // distributed prefix sum (bucket totals + broadcast offsets — the
    // only ordered window runs on the tiny bucket frame). Zipf's
    // companion: "how much new vocabulary does the next TB buy?" --------
    "corpus_heaps" -> ((s, d) =>
      Corpus.heapsFit(Tables.documents(s, d), "text", "doc_id")),

    // --- the composed cleaning pipeline, as ONE plan: quality scoring →
    // threshold filter → language gate → exact dedup (keep first) →
    // token-budget shard packing. The operators chain as plain DataFrame
    // transforms — scoring/gating fuse into the scan's codegen stage, and
    // only the dedup and packing windows shuffle. -----------------------
    "pipeline_clean" -> ((s, d) => {
      val scored = TextAnalysis.qualityScore(Tables.documents(s, d), "text")
        .filter(col("quality_score") >= 0.5)
        .withColumn("lang_id", TextAnalysis.langId(col("text")))
        .filter(col("lang_id") === "en")
      val kept = Dedup.exact(scored, "text", "doc_id")
        .filter(col("keep"))
        .withColumn("tokens", col("token_count").cast("long"))
      Sampling.packShards(kept, "lang_id", "doc_id", "tokens",
        budget = 2000L)
        .select("doc_id", "quality_score", "shard_id", "shard_offset")
    }),

    // --- the FULL modern curation recipe composed as ONE plan (the
    // pipeline_clean method, extended across the whole operator set):
    // quality_ensemble gate → normalized exact dedup (keep first) →
    // banded MinHash near-dedup (bands=4, the dedup_lsh_sizing pick;
    // drop the higher id of every candidate pair) → decontamination
    // against the held-out eval slice (doc_id % 17) → temperature
    // rebalance (T=2, half the survivors — rates derive from the
    // SURVIVOR counts, not the corpus) → token-budget shard packing per
    // language. Every stage is the verified standalone operator chained
    // as a plain DataFrame transform; the oracle reuses each stage's own
    // CTE fragment, so a drift in any stage fails BOTH its standalone
    // query and this composition. Gates are map-side against broadcast
    // frames (1-row threshold, |langs|-row rates); the only corpus-wide
    // exchanges are the ones the standalone stages already pay.
    //
    // Each gate's surviving-ID frame is localCheckpointed (thin: one
    // long per survivor). Without the cut, downstream branches that
    // consume a survivor frame more than once (the dedup self-joins,
    // the anti-join pairs) re-execute the ENTIRE upstream lineage per
    // branch — measured at 8× the sum of the standalone stages
    // (33.6 s vs ~4 s at sf0.1). Materializing ids-only at stage
    // boundaries is exactly what a production pipeline does between
    // stages; each expensive signal computes once, and the wide
    // document columns re-attach from the (pruned, pushed-down)
    // parquet scan, never from recomputed signal lineage ----------------
    "pipeline_curate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // stage 1: the quality_ensemble stack, same operators + constants
      val g = TextAnalysis.gopherRules(docs, "text")
        .select(col("doc_id"), col("pass_gopher"))
      val c = QualityModel.score(docs, "text", "doc_id", buckets = 256)
        .select(col("doc_id"), col("quality_prob"))
      // NO checkpoint on the fluency frame despite its two consumers
      // (the per-doc join and the corpus-quantile threshold): both
      // branches end in the SAME canonical exchange subtree, so
      // physical ReuseExchange computes the bigram LM once per action —
      // measured at sf10 (500k docs): the in-plan reuse serves both
      // branches at 16 s steady, while an explicit localCheckpoint
      // (which splits the plan into a materialize job + readers and
      // takes the subtree out of AQE's whole-plan view) read 64-134 s.
      // Cut lineage only where branches DIVERGE before their exchange
      // (the mm_neardup case); identical branches reuse for free.
      val b = Corpus.bigramNll(docs, "text", "doc_id")
        .select(col("doc_id"), col("avg_nll"))
      val th = b.agg(percentile(col("avg_nll"), lit(0.75)).as("__th"))
      val k1 = g.join(c, Seq("doc_id")).join(b, Seq("doc_id"), "left")
        .crossJoin(broadcast(th))
        .filter(col("pass_gopher") &&
          col("quality_prob") >= CurateClsThreshold &&
          col("avg_nll").isNotNull && col("avg_nll") <= col("__th"))
        .select("doc_id")
        .localCheckpoint()
      val s1 = docs.join(k1.hint("shuffle_hash"), Seq("doc_id"))
      // stage 2: C4-style normalized exact dedup, keep lowest id
      val k2 = Dedup.exact(TextAnalysis.normalize(s1, "text"),
          "text_norm", "doc_id")
        .filter(col("keep"))
        .select("doc_id")
        .localCheckpoint()
      val s2 = docs.join(k2.hint("shuffle_hash"), Seq("doc_id"))
      // stage 3: banded MinHash near-dedup among the stage-2 survivors
      val pairs = Dedup.minhashLsh(s2, "text", "doc_id",
        shingleN = 3, k = 8, bands = 4)
      val k3 = k2.join(
        pairs.select(col("id_b").as("doc_id")).distinct()
          .hint("shuffle_hash"),
        Seq("doc_id"), "left_anti")
        .localCheckpoint()
      // stage 4: decontaminate the surviving TRAIN docs against the
      // eval slice (the slice itself never enters the training corpus)
      val test = docs.filter(col("doc_id") % 17 === 0)
      val trainSide = docs.join(k3.hint("shuffle_hash"), Seq("doc_id"))
        .filter(col("doc_id") % 17 =!= 0)
      val cont = Contamination.ngramOverlap(trainSide, test,
          "text", "doc_id", n = 3, minShared = 2)
        .select(col("train_id").as("doc_id")).distinct()
      val k4 = k3.filter(col("doc_id") % 17 =!= 0)
        .join(cont.hint("shuffle_hash"), Seq("doc_id"), "left_anti")
        .localCheckpoint()
      val s4 = docs.join(k4.hint("shuffle_hash"), Seq("doc_id"))
      // stage 5: temperature rebalance over the survivor language mix
      val s5 = Sampling.temperature(s4, "doc_id", "lang",
        temp = 2.0, frac = 0.5)
      // stage 6: pack what survived into token-budget shards per lang
      Sampling.packShards(
        s5.withColumn("tokens",
          size(TextAnalysis.tokens(col("text"))).cast("long")),
        "lang", "doc_id", "tokens", budget = 2000L)
        .select("doc_id", "lang", "shard_id", "shard_offset")
    }),

    // --- stream-static enrichment join: the canonical Structured
    // Streaming enrichment shape — a stream inner-joined to a broadcast
    // static dimension (no watermark needed; the static side is planned
    // per micro-batch). Oracle = the equivalent batch join. --------------
    "stream_enrich" -> ((s, d) => {
      // stateless stream⋈static broadcast enrich → ONE-batch file replay
      val ss = replaySession(s)
      val dim = Tables.events(ss, d).select(col("user_id")).distinct()
        .withColumn("tier", col("user_id") % 5)
      graft.streaming.FileReplay.replay(ss, s"$d/events.parquet",
        "stream_enrich") { source =>
        val stream = source()
        stream
          .select(col("event_id"), col("user_id"),
            col("value").cast("double").as("value"))
          .filter(col("user_id") < 40)
          .join(broadcast(dim), Seq("user_id"))
          .select("event_id", "user_id", "tier", "value")
      }
    }),

    // --- streaming ingest quality gate: the Gopher rule conjunction
    // applied AT INGEST over a document stream — stateless map-only
    // filtering (no watermark, no state store), so the crawl is gated
    // before it ever lands; batch-equivalent to quality_rules+filter by
    // construction (same codegen'd expressions, streaming-planned) -------
    "stream_quality" -> ((s, d) => {
      // stateless gate → ONE-batch file-source replay: the quality rules
      // run distributed inside the micro-batch, no driver round-trip
      val ss = replaySession(s)
      graft.streaming.FileReplay.replay(ss, s"$d/documents.parquet",
        "stream_quality") { source =>
        val stream = source()
        TextAnalysis.gopherRules(
            stream.select(col("doc_id"), col("text"), col("source")), "text")
          .filter(col("pass_gopher"))
          .select("doc_id", "source", "n_words", "stop_hits")
      }
    }),

    // --- streaming PQ encode: compress vectors to codes AT INGEST (the
    // index-build-on-arrival path — encode is map-only and stateless, so
    // the streaming plan is the batch plan under a micro-batch trigger;
    // batch-equivalent to embed_pq_codes, same oracle) -------------------
    "stream_pq" -> ((s, d) => {
      // stateless map-only encode → ONE-batch file-source replay
      val ss = replaySession(s)
      graft.streaming.FileReplay.replay(ss, s"$d/embeddings.parquet",
        "stream_pq") { source =>
        val stream = source()
        graft.llm.Pq.encode(
            stream.select(col("vec_id"),
              col("embedding").cast("array<float>").as("embedding")),
            "vec_id", "embedding", m = 8, k = 16, subDim = 8)
          .select(col("vec_id"), posexplode(col("codes")))
          .select(col("vec_id"), col("pos").cast("long").as("subspace"),
            col("col").cast("long").as("code"))
      }
    }),

    // --- streaming chunk segmentation: chunkDocs AT INGEST (map-only
    // sequence explode, stateless — the streaming plan IS the batch
    // plan); same oracle as doc_chunks ------------------------------------
    "stream_chunks" -> ((s, d) => {
      val ss = replaySession(s)
      graft.streaming.FileReplay.replay(ss, s"$d/documents.parquet",
        "stream_chunks") { source =>
        val stream = source()
        TextAnalysis.chunkDocs(
          stream.select(col("doc_id"), col("text")), "text", "doc_id",
          budget = 64, overlap = 16)
      }
    }),

    // --- streaming binary-fingerprint encode: the 48-bit Hamming word
    // computed AT INGEST (map-only, stateless — the streaming plan IS
    // the batch plan under a micro-batch trigger), completing the binary
    // ANN regime's ingest story the way stream_pq completes PQ's: the
    // store's own encode row, so arriving words append straight into the
    // prefix-cell store's cell-partitioned layout -------------------------
    "stream_hamming" -> ((s, d) => {
      val ss = replaySession(s)
      graft.streaming.FileReplay.replay(ss, s"$d/embeddings.parquet",
        "stream_hamming") { source =>
        HammingPrefix.encode(source().select(col("vec_id"),
            col("embedding").cast("array<float>").as("embedding")),
          "vec_id", "embedding")
          .select(col("neighbor_id").as("vec_id"), col("cw").as("fingerprint"))
      }
    }),

    // --- streaming trained-IVF cell assignment AT INGEST: the float
    // store's sibling of stream_hamming — cell = argmin over the
    // plan-literal trained centroids (map-only, stateless: the
    // streaming plan IS the batch plan under a micro-batch trigger), so
    // arriving vectors append straight into the trained Flat IVF store's
    // cell-partitioned layout (byte-identical append pinned in
    // StreamingSpec, the stream_hamming discipline) ----------------------
    "stream_ivf" -> ((s, d) => {
      val ivf = sharedIvfTrained(s, d)
      val ss = replaySession(s)
      graft.streaming.FileReplay.replay(ss, s"$d/embeddings.parquet",
        "stream_ivf") { source =>
        val stream = source()
        stream
          .filter(size(col("embedding")) === 64)
          .select(col("vec_id"),
            ivf.home(col("embedding")).cast("long").as("cell"))
      }
    }),

    // --- streaming cross-corpus dedup: continuous ingest anti-joined
    // against the trained corpus' broadcast band set — stateless (no
    // watermark, no state store); the scale path for "dedup the crawl as
    // it arrives". Batch-equivalent to dedup_cross by construction -------
    "stream_crossdedup" -> ((s, d) => {
      // stateless broadcast anti-join → ONE-batch file-source replay;
      // the fresh-side gate runs inside the micro-batch
      val ss = replaySession(s)
      val srcNum = expr("cast(substring(source, 4) as int)")
      val ref = Tables.documents(ss, d).filter(srcNum < 10)
      graft.streaming.FileReplay.replay(ss, s"$d/documents.parquet",
        "stream_crossdedup") { source =>
        val stream = source()
        Dedup.crossCorpusKeepBroadcast(
          stream.filter(srcNum >= 10)
            .select(col("doc_id"), col("text"), col("source")),
          ref, "text", "doc_id", shingleN = 3, k = 8, bands = 4)
          .select("doc_id", "source")
      }
    })
  )

  /** Declared pivot columns for `corpus_pivot` (the driver corpus' five
    * languages; declaring them skips pivot's value-discovery job). */
  private val PivotLangs = Seq("de", "en", "es", "fr", "zh")

  private val DayMicros = 86400000000L

  /** DuckDB bucket expression for the SAME rotated planes the Spark side
    * uses: Double.toString round-trips, so the SQL literals parse back to
    * bit-identical doubles, and `list_dot_product` folds sequentially like
    * the codegen [[graft.functions.DotProduct]]. `v` must be a DOUBLE[]
    * column reference in the surrounding query. */
  private def rotatedBucketSql(v: String, b: Int, dim: Int,
                               seed: Long = Similarity.DefaultSeed): String =
    Similarity.rotationPlanes(b, dim, seed).map { p =>
      val lst = p.map(java.lang.Double.toString).mkString("[", ", ", "]")
      s"(CASE WHEN list_dot_product($v, $lst) >= 0 THEN '1' ELSE '0' END)"
    }.mkString(" || ")

  /** DuckDB expression for the SAME packed sign fingerprint as
    * [[Similarity.hammingWord]]: per plane a CASE on the sequential-fold
    * dot against the verbatim double literals, summed as exact powers of
    * two — all integer once the signs are taken. */
  private def hammingWordSql(v: String, bits: Int, dim: Int,
                             seed: Long = Similarity.DefaultSeed): String =
    Similarity.rotationPlanes(bits, dim, seed).zipWithIndex.map {
      case (p, i) =>
        val lst = p.map(java.lang.Double.toString).mkString("[", ", ", "]")
        s"(CASE WHEN list_dot_product($v, $lst) >= 0 " +
          s"THEN CAST(1 AS BIGINT) << $i ELSE CAST(0 AS BIGINT) END)"
    }.mkString("(", " + ", ")")

  /** The IVF axis-cell CTE chain (win/run/cell_w/cell_r at m = 4) over a
    * source CTE exposing (vec_id, v DOUBLE[]) — ONE fragment shared by
    * every IVF oracle (ann_ivf_topk, ann_hard_negatives_ivf,
    * search_mmr_ivf), so the cell-assignment logic can never
    * desynchronize between them. Keep in lock-step with
    * [[Similarity.axisCells]]. */
  private def ivfCellCtes(src: String): String =
    s"""iv0 AS (SELECT vec_id, v, abs(v[1]) AS a0, abs(v[2]) AS a1,
       |               abs(v[3]) AS a2, abs(v[4]) AS a3
       |        FROM $src),
       |ivw AS (SELECT *, CASE WHEN a0 >= a1 AND a0 >= a2 AND a0 >= a3 THEN 0
       |                       WHEN a1 >= a2 AND a1 >= a3 THEN 1
       |                       WHEN a2 >= a3 THEN 2 ELSE 3 END AS win
       |        FROM iv0),
       |ivr AS (SELECT *, CASE win
       |          WHEN 0 THEN (CASE WHEN a1 >= a2 AND a1 >= a3 THEN 1
       |                            WHEN a2 >= a3 THEN 2 ELSE 3 END)
       |          WHEN 1 THEN (CASE WHEN a0 >= a2 AND a0 >= a3 THEN 0
       |                            WHEN a2 >= a3 THEN 2 ELSE 3 END)
       |          WHEN 2 THEN (CASE WHEN a0 >= a1 AND a0 >= a3 THEN 0
       |                            WHEN a1 >= a3 THEN 1 ELSE 3 END)
       |          ELSE (CASE WHEN a0 >= a1 AND a0 >= a2 THEN 0
       |                     WHEN a1 >= a2 THEN 1 ELSE 2 END)
       |        END AS run
       |        FROM ivw),
       |ivcell AS (SELECT vec_id,
       |             2 * win + CASE WHEN v[win + 1] >= 0 THEN 1 ELSE 0 END
       |               AS cell_w,
       |             2 * run + CASE WHEN v[run + 1] >= 0 THEN 1 ELSE 0 END
       |               AS cell_r
       |           FROM ivr)""".stripMargin

  /** dedup_lsh_sizing's oracle: ONE exact Jaccard-truth leg (the
    * dedup_ngram_jaccard algebra, MATERIALIZED — referenced per sweep
    * point) plus, per band count b, the k=8 signature banded into b
    * groups of 8/b rows and the distinct same-band candidate pairs;
    * each sweep point emits 1 row of counts + recall. Generated from
    * the same [[lshSizingBands]] the Spark sweep uses. */
  private def lshSizingSql(bandCounts: Seq[Int]): String = {
    val truth =
      s"""WITH $shinglesCte,
         |kept AS (
         |  SELECT doc_id, shingle FROM sh
         |  QUALIFY count(*) OVER (PARTITION BY shingle) <= 50),
         |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
         |shared AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
         |  FROM kept a JOIN kept b
         |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |truth AS MATERIALIZED (
         |  SELECT id_a, id_b FROM (
         |    SELECT id_a, id_b,
         |           round(CAST(inter AS DOUBLE)
         |                 / (sa.n_sh + sb.n_sh - inter), 6) AS jaccard
         |    FROM shared
         |    JOIN sizes sa ON sa.doc_id = id_a
         |    JOIN sizes sb ON sb.doc_id = id_b)
         |  WHERE jaccard >= 0.2),
         |sig AS MATERIALIZED (SELECT doc_id,
         |${(0 until 8).map(i =>
            s"  min(md5('$i|' || shingle)) AS sig_$i").mkString(",\n")}
         |        FROM sh GROUP BY doc_id)""".stripMargin
    val perB = bandCounts.map { b =>
      val rows = 8 / b
      s""",
         |bands$b AS (
         |${(0 until b).map(i =>
            s"  SELECT doc_id, $i AS band, md5(${(0 until rows)
              .map(r => s"sig_${i * rows + r}").mkString(" || ")})" +
              " AS band_hash FROM sig").mkString("\n  UNION ALL\n")}
         |),
         |cand$b AS MATERIALIZED (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bands$b a JOIN bands$b b
         |    ON a.band = b.band AND a.band_hash = b.band_hash
         |   AND a.doc_id < b.doc_id)""".stripMargin
    }.mkString
    val selects = bandCounts.map { b =>
      s"""SELECT CAST($b AS BIGINT) AS bands,
         |       (SELECT count(*) FROM truth) AS n_true,
         |       (SELECT count(*) FROM cand$b) AS n_candidates,
         |       (SELECT count(*) FROM truth t
         |        JOIN cand$b c ON c.id_a = t.id_a AND c.id_b = t.id_b)
         |         AS n_hit,
         |       CASE WHEN (SELECT count(*) FROM truth) > 0 THEN
         |         round(CAST((SELECT count(*) FROM truth t
         |                     JOIN cand$b c ON c.id_a = t.id_a
         |                                  AND c.id_b = t.id_b) AS DOUBLE)
         |               / (SELECT count(*) FROM truth), 6) END AS recall""".stripMargin
    }.mkString("\nUNION ALL\n")
    truth + perB + "\n" + selects
  }

  /** The sliding-window chunking oracle — serves `doc_chunks` and its
    * ingest-time twin `stream_chunks` (map-only, stateless: the
    * streaming plan IS the batch plan). */
  private val docChunksSql: String =
    """WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks
      |           FROM documents),
      |n AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tokens
      |      FROM t WHERE len(toks) > 0),
      |st AS (SELECT doc_id, toks, n_tokens,
      |         unnest(generate_series(0, n_tokens - 1, 48)) AS tok_start
      |       FROM n)
      |SELECT doc_id,
      |       tok_start // 48 AS seg_id,
      |       tok_start,
      |       least(tok_start + 64, n_tokens) AS tok_end,
      |       least(tok_start + 64, n_tokens) - tok_start
      |         AS n_seg_tokens,
      |       array_to_string(list_slice(toks, tok_start + 1,
      |         least(tok_start + 64, n_tokens)), ' ') AS seg_text
      |FROM st""".stripMargin

  /** The 6-merge BPE segmentation oracle (train replay + per-doc token
    * counts) — serves `bpe_segment` directly and `bpe_fertility` as a
    * nested CTE. */
  private lazy val bpeSegmentSql: String =
    s"WITH ${bpeCtes(6)},\n" +
      """doc0 AS MATERIALIZED (
        |  SELECT doc_id,
        |         array_to_string(list_transform(
        |           list_filter(string_split_regex(text, '\s+'),
        |             w -> w NOT LIKE '%<%' AND w NOT LIKE '%>%'),
        |           w -> regexp_replace(w, '(.)', '<\1>', 'g')), ' ')
        |           AS v,
        |         CAST(len(string_split_regex(text, '\s+')) AS BIGINT)
        |           AS n_words
        |  FROM documents),
        |""".stripMargin +
      (1 to 6).map(k =>
        s"""doc$k AS MATERIALIZED (
           |  SELECT doc_id, replace(v,
           |    '<' || (SELECT l FROM t$k) || '><' ||
           |      (SELECT r FROM t$k) || '>',
           |    '<' || (SELECT l FROM t$k) ||
           |      (SELECT r FROM t$k) || '>') AS v, n_words
           |  FROM doc${k - 1})""".stripMargin).mkString(",\n") +
      """
        |SELECT doc_id,
        |       CAST(length(v) - length(replace(v, '<', '')) AS BIGINT)
        |         AS n_bpe_tokens,
        |       n_words
        |FROM doc6""".stripMargin

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

  /** The trained-IVF probe/assignment fragment over [[kmeansCtes]]'
    * unrolled training (k=8, iters=2, dim=64 — the embed_kmeans
    * configuration): `tnv` normalizes the len=64 training universe,
    * `tcc` is the corpus cell (the a2 assignment verbatim), `tqp` the
    * query's 2 nearest cells by (quantizer score, index) — the same
    * (s, j) ordering the engine's sorted score structs use. Shared by
    * ann_ivft_indexed and ann_ivft_recall so the cell algebra can
    * never desynchronize. */
  private def ivfTrainedCtes(maxQueryId: Int, probes: Int): String =
    s"""tnv AS (
       |  SELECT vec_id,
       |         list_transform(v, x -> x / sqrt(list_dot_product(v, v)))
       |           AS nv
       |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |        FROM embeddings WHERE len(embedding) = 64)),
       |tcc AS (SELECT vec_id AS neighbor_id, cluster AS cell FROM a2),
       |tqr AS (SELECT vec_id AS query_id, j AS cell,
       |               row_number() OVER (
       |                   PARTITION BY vec_id ORDER BY s, j) AS rn
       |        FROM s2 WHERE vec_id < $maxQueryId),
       |tqp AS (SELECT query_id, cell FROM tqr WHERE rn <= $probes)""".stripMargin

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

  /** The knn_graph oracle's CTE chain up to `g` (the rank≤3 directed edge
    * set) — shared by the graph_pagerank / graph_degree oracles, verbatim
    * the knn_graph fragment. */
  private def knnEdgeCtes: String =
    s"""ec AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |            FROM embeddings WHERE len(embedding) >= 64),
       |e0 AS (
       |  SELECT vec_id, v,
       |         ${rotatedBucketSql("v", 4, 64)} AS bk0,
       |         ${rotatedBucketSql("v", 4, 64, Similarity.DefaultSeed + 1)} AS bk1
       |  FROM ec),""".stripMargin + "\n" +
      """e AS (SELECT vec_id,
        |        list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS nv,
        |        bk0, bk1
        |      FROM e0),
        |s AS (SELECT a.vec_id AS src, b.vec_id AS dst,
        |             list_dot_product(a.nv, b.nv) AS score
        |      FROM e a JOIN e b
        |        ON a.vec_id <> b.vec_id
        |       AND (a.bk0 = b.bk0 OR a.bk1 = b.bk1)),
        |g AS (SELECT src, dst FROM (
        |  SELECT src, dst,
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
         |            END AS v
         |  FROM u$k)""".stripMargin
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
           |            END AS v
           |  FROM u${c}_$k)""".stripMargin
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

  /** The unrolled BPE training rounds mirroring [[graft.llm.Bpe.train]]:
    * each round re-derives corpus-weighted adjacent-pair counts from the
    * previous vocabulary, picks the (count desc, left, right) argmax as
    * a 1-row CTE, and applies the merge with plain sequential `replace`
    * — identical left-to-right non-overlapping semantics in both
    * engines. Produces CTEs v0..v`merges`, t1..t`merges`. */
  private def bpeCtes(merges: Int): String = {
    val v0 =
      """w0 AS (SELECT term AS w, CAST(count(*) AS BIGINT) AS wc FROM (
        |        SELECT unnest(string_split_regex(text, '\s+')) AS term
        |        FROM documents) t
        |      WHERE len(term) > 0 AND term NOT LIKE '%<%'
        |        AND term NOT LIKE '%>%'
        |      GROUP BY 1),
        |v0 AS MATERIALIZED (
        |       SELECT regexp_replace(w, '(.)', '<\1>', 'g') AS v, wc
        |       FROM w0)""".stripMargin
    val steps = (1 to merges).map { k =>
      s"""p$k AS MATERIALIZED (SELECT t[i] AS l, t[i + 1] AS r, SUM(wc) AS c
         |  FROM (SELECT wc, t, unnest(generate_series(1, len(t) - 1)) AS i
         |        FROM (SELECT wc, string_split(v[2:-2], '><') AS t
         |              FROM v${k - 1})
         |        WHERE len(t) >= 2)
         |  GROUP BY 1, 2),
         |t$k AS MATERIALIZED (SELECT l, r, c FROM p$k
         |        ORDER BY c DESC, l, r LIMIT 1),
         |v$k AS MATERIALIZED (SELECT replace(v,
         |          '<' || (SELECT l FROM t$k) || '><' ||
         |            (SELECT r FROM t$k) || '>',
         |          '<' || (SELECT l FROM t$k) ||
         |            (SELECT r FROM t$k) || '>') AS v, wc
         |        FROM v${k - 1})""".stripMargin
    }
    (v0 +: steps).mkString(",\n")
  }

  /** [[bpeCtes]] hardened for DEEP unrolls past corpus exhaustion: once
    * no adjacent pair remains, t_k is EMPTY — the vocab step must then
    * pass v through unchanged (an unguarded `replace` against the empty
    * t_k's NULL scalar subqueries would null the whole vocabulary), and
    * the merge rows accumulate through chained m_k CTEs instead of one
    * wide UNION ALL (a 120-way union overflows DuckDB's expression-depth
    * limit; the CTE chain binds flat). 120 rounds covers any run of this
    * corpus: the vocabulary's Σ(len(w)−1) bounds possible merges at 107,
    * so the engine's 500-merge budget and the oracle's fixed unroll
    * provably agree — every round past exhaustion is a no-op on both
    * sides. Produces m`merges` = (round, l, r, c). */
  private def bpeDeepCtes(merges: Int): String = {
    val v0 =
      """w0 AS (SELECT term AS w, CAST(count(*) AS BIGINT) AS wc FROM (
        |        SELECT unnest(string_split_regex(text, '\s+')) AS term
        |        FROM documents) t
        |      WHERE len(term) > 0 AND term NOT LIKE '%<%'
        |        AND term NOT LIKE '%>%'
        |      GROUP BY 1),
        |v0 AS MATERIALIZED (
        |       SELECT regexp_replace(w, '(.)', '<\1>', 'g') AS v, wc
        |       FROM w0),
        |m0 AS (SELECT 0 AS round, '' AS l, '' AS r,
        |              CAST(0 AS BIGINT) AS c WHERE false)""".stripMargin
    val steps = (1 to merges).map { k =>
      s"""p$k AS (SELECT t[i] AS l, t[i + 1] AS r, SUM(wc) AS c
         |  FROM (SELECT wc, t, unnest(generate_series(1, len(t) - 1)) AS i
         |        FROM (SELECT wc, string_split(v[2:-2], '><') AS t
         |              FROM v${k - 1})
         |        WHERE len(t) >= 2)
         |  GROUP BY 1, 2),
         |t$k AS MATERIALIZED (SELECT l, r, c FROM p$k
         |        ORDER BY c DESC, l, r LIMIT 1),
         |v$k AS MATERIALIZED (SELECT
         |        CASE WHEN (SELECT count(*) FROM t$k) = 0 THEN v
         |        ELSE replace(v,
         |          '<' || (SELECT l FROM t$k) || '><' ||
         |            (SELECT r FROM t$k) || '>',
         |          '<' || (SELECT l FROM t$k) ||
         |            (SELECT r FROM t$k) || '>') END AS v, wc
         |        FROM v${k - 1}),
         |m$k AS MATERIALIZED (SELECT * FROM m${k - 1}
         |        UNION ALL SELECT $k AS round, l, r, c FROM t$k)"""
        .stripMargin
    }
    (v0 +: steps).mkString(",\n")
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
         |f$h AS (SELECT query_id, id FROM (
         |  SELECT query_id, id, row_number() OVER (
         |    PARTITION BY query_id ORDER BY score DESC, id) AS r
         |  FROM v$h) WHERE r <= $beam)""".stripMargin
    }

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

  /** DuckDB Morton-interleave of the low `bits` bits of two integer
    * expressions — mirror of [[graft.operators.Layout.zorderKey2]]. */
  private def zorderKeySql(x: String, y: String, bits: Int): String = {
    val mask = (1L << bits) - 1
    (0 until bits).map { i =>
      s"((((($x) & $mask) >> $i) & 1) << ${2 * i}) + " +
        s"((((($y) & $mask) >> $i) & 1) << ${2 * i + 1})"
    }.mkString("(", " + ", ")")
  }

  /** Mirror of [[Similarity.randomProjection]]: component j as a DuckDB
    * select item — same planes, same √dimOut scale constant (rendered via
    * Double.toString, which round-trips exactly), same 6-dp round. */
  /** Mirror of [[graft.llm.Pq.encode]]: CTEs `e` (doubled vectors), `cb`
    * (the m×k seeded codebooks + their self-dots as VALUES literals —
    * stringified from the SAME arrays the Spark plan inlines), `sub`
    * (per-subspace slices), and `a` (the argmin code per (vec, subspace),
    * ties toward the lower code). */
  private def pqEncodeCtes(m: Int, k: Int, subDim: Int): String = {
    val cbs = graft.llm.Pq.codebooks(m, k, subDim)
    val values = (for { j <- 0 until m; c <- 0 until k } yield {
      val cb = cbs(j)(c)
      val lst = cb.map(java.lang.Double.toString).mkString("[", ", ", "]")
      val l = java.lang.Double.toString(graft.llm.Pq.selfDot(cb))
      s"($j, $c, $lst, $l)"
    }).mkString(",\n      ")
    val dim = m * subDim
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |      FROM embeddings WHERE len(embedding) >= $dim),
       |cb(j, c, cv, l) AS (VALUES
       |      $values),
       |sub AS (SELECT vec_id, js.j,
       |          list_slice(v, js.j * $subDim + 1, js.j * $subDim + $subDim)
       |            AS sv
       |        FROM e, (SELECT unnest(generate_series(0, ${m - 1})) AS j)
       |               js),
       |s AS (SELECT vec_id, sub.j, c,
       |        l - 2.0 * list_dot_product(sv, cv) AS s
       |      FROM sub JOIN cb ON cb.j = sub.j),
       |a AS (SELECT vec_id, j, c FROM (
       |        SELECT vec_id, j, c,
       |               row_number() OVER (PARTITION BY vec_id, j
       |                                  ORDER BY s, c) AS rn
       |        FROM s) WHERE rn = 1)""".stripMargin
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

  /** The near-dup blocking sweep points (bucket bits b × OR-bands),
    * shared by `embed_neardup_sizing` and its oracle: the gate rows'
    * configs (2,1)/(4,2), bits-alone at (4,1)/(8,1) to show the recall
    * that raising b without bands costs, and the 100 TB shape (8,4). */
  private val neardupSizingSweep: Seq[(Int, Int)] =
    Seq((2, 1), (4, 1), (4, 2), (8, 1), (8, 4))

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
         |         list_transform(v, x -> x / sqrt(list_dot_product(v, v)))
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

  private def projectionSql(v: String, dimOut: Int, dimIn: Int): String = {
    val scale = java.lang.Double.toString(1.0 / math.sqrt(dimOut.toDouble))
    Similarity.rotationPlanes(dimOut, dimIn).map { p =>
      val lst = p.map(java.lang.Double.toString).mkString("[", ", ", "]")
      s"round(list_dot_product($v, $lst) * $scale, 6)"
    }.mkString("[", ",\n        ", "]")
  }

  /** Same planes as 0/1 INT select items (`b0..b{b-1}`), for oracle
    * queries that need to derive the hamming-1 multi-probe bucket set. */
  private def rotatedBitsSql(v: String, b: Int, dim: Int): String =
    Similarity.rotationPlanes(b, dim).zipWithIndex.map { case (p, i) =>
      val lst = p.map(java.lang.Double.toString).mkString("[", ", ", "]")
      s"CASE WHEN list_dot_product($v, $lst) >= 0 THEN 1 ELSE 0 END AS b$i"
    }.mkString(",\n       ")

  /** The k-means CTE chain, mirroring [[graft.llm.Clustering.kmeans]] step
    * for step: `wq` = dyadic-quantized vectors, `c0` = lowest-id init,
    * then per round i: `s_i` scores (c·c − 2·w·c, the same sequential-fold
    * dot), `a_i` argmin assignment (ORDER BY s, j ≡ first-index tie-break),
    * and between rounds the exact-sum mean `c_i` with empty clusters
    * carrying the previous centroid via the LEFT JOIN + coalesce. The final
    * assignment is `a$iters`. */
  private def kmeansCtes(k: Int, iters: Int, dim: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""wq AS (SELECT vec_id,
       list_transform(embedding,
         x -> floor(CAST(x AS DOUBLE) * 1048576.0) / 1048576.0) AS w
     FROM embeddings WHERE len(embedding) = $dim),
c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, w AS c
       FROM (SELECT vec_id, w FROM wq ORDER BY vec_id LIMIT $k))"""
    for (i <- 1 to iters) {
      sb ++= s""",
s$i AS (SELECT wq.vec_id, wq.w, c.j,
         list_dot_product(c.c, c.c) - 2 * list_dot_product(wq.w, c.c) AS s
       FROM wq CROSS JOIN c${i - 1} c),
a$i AS (SELECT vec_id, w, j AS cluster FROM (
         SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s, j) AS rn
         FROM s$i) WHERE rn = 1)"""
      if (i < iters) sb ++= s""",
g$i AS (SELECT cluster, idx.i AS pos, sum(w[idx.i]) / count(*) AS mu
       FROM a$i, (SELECT unnest(generate_series(1, $dim)) AS i) idx
       GROUP BY 1, 2),
n$i AS (SELECT cluster AS j, list(mu ORDER BY pos) AS c FROM g$i GROUP BY 1),
c$i AS (SELECT p.j, coalesce(n.c, p.c) AS c
       FROM c${i - 1} p LEFT JOIN n$i n ON n.j = p.j)"""
    }
    sb.toString
  }

  /** Bucket string from bit columns, with bit `flip` inverted (-1 = none). */
  private def bucketFromBitsSql(b: Int, flip: Int): String =
    (0 until b).map(i =>
      if (i == flip) s"CAST(1 - b$i AS VARCHAR)" else s"CAST(b$i AS VARCHAR)")
      .mkString(" || ")

  val oracleSql: Map[String, String] = {
    val allStops = sqlStringList(
      TextAnalysis.stopwords.flatMap(_._2).distinct.sorted)
    val langHits = TextAnalysis.stopwords.map { case (lang, words) =>
      s"len(list_filter(toks, x -> list_contains(${sqlStringList(words)}, x))) AS hits_$lang"
    }.mkString(",\n       ")
    // language-id CTE shared by the sampling/packing oracles (keep the
    // CASE in lock-step with the text_langid oracle below)
    val langCase =
      """CASE WHEN greatest(hits_en, hits_es, hits_fr, hits_de) = 0 THEN 'und'
        |     WHEN hits_de >= hits_en AND hits_de >= hits_es AND hits_de >= hits_fr THEN 'de'
        |     WHEN hits_en >= hits_es AND hits_en >= hits_fr THEN 'en'
        |     WHEN hits_es >= hits_fr THEN 'es'
        |     ELSE 'fr' END""".stripMargin
    val langCte =
      s"""$toksCte,
         |hh AS (SELECT doc_id, toks,
         |       $langHits
         |       FROM t),
         |lang AS (SELECT doc_id, toks, $langCase AS lang_id FROM hh)""".stripMargin

    // Gopher rule SQL shared by the batch gate (quality_rules) and
    // the streaming-ingest gate oracle (stream_quality)
    val gopherRulesSql =
      s"""WITH $toksCte,
           |m AS (SELECT doc_id,
           |  CASE WHEN length(trim(text)) = 0 THEN 0
           |       ELSE CAST(len(toks) AS INT) END AS n_words,
           |  length(text) - length(regexp_replace(text, '#', '', 'g'))
           |    AS hashes,
           |  (length(text) - length(regexp_replace(text, '\\.\\.\\.', '', 'g'))) / 3
           |    + (length(text) - length(regexp_replace(text, '…', '', 'g')))
           |    AS ellipses,
           |  length(regexp_replace(text, '\\s', '', 'g')) AS nonspace,
           |  string_split(text, chr(10)) AS lines,
           |  CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS INT)
           |    AS alpha_words,
           |  CAST(len(list_filter(['the', 'a', 'of', 'and', 'to', 'in', 'is', 'that'],
           |                       s -> list_contains(toks, s))) AS INT) AS stop_hits
           |  FROM t),
           |v AS (SELECT doc_id, n_words, stop_hits,
           |  CASE WHEN n_words > 0
           |       THEN round(CAST(nonspace AS DOUBLE) / n_words, 6)
           |       ELSE 0.0 END AS mean_word_len,
           |  CASE WHEN n_words > 0
           |       THEN round(CAST(hashes + ellipses AS DOUBLE) / n_words, 6)
           |       ELSE 0.0 END AS symbol_ratio,
           |  round(CAST(len(list_filter(lines, l -> regexp_matches(ltrim(l), '^[-*•]'))) AS DOUBLE)
           |        / len(lines), 6) AS bullet_line_frac,
           |  round(CAST(len(list_filter(lines, l -> regexp_matches(rtrim(l), '(\\.\\.\\.|…)$$'))) AS DOUBLE)
           |        / len(lines), 6) AS ellipsis_line_frac,
           |  CASE WHEN n_words > 0
           |       THEN round(CAST(alpha_words AS DOUBLE) / n_words, 6)
           |       ELSE 0.0 END AS alpha_word_frac
           |  FROM m)
           |SELECT doc_id, n_words, mean_word_len, symbol_ratio,
           |  bullet_line_frac, ellipsis_line_frac, alpha_word_frac, stop_hits,
           |  n_words BETWEEN 50 AND 100000 AS rule_word_count,
           |  n_words > 0 AND mean_word_len BETWEEN 3.0 AND 10.0 AS rule_mean_word_len,
           |  n_words > 0 AND symbol_ratio <= 0.1 AS rule_symbol_ratio,
           |  bullet_line_frac < 0.9 AS rule_bullet_lines,
           |  ellipsis_line_frac < 0.3 AS rule_ellipsis_lines,
           |  n_words > 0 AND alpha_word_frac >= 0.8 AS rule_alpha_words,
           |  stop_hits >= 2 AS rule_stopwords,
           |  n_words BETWEEN 50 AND 100000
           |    AND (n_words > 0 AND mean_word_len BETWEEN 3.0 AND 10.0)
           |    AND (n_words > 0 AND symbol_ratio <= 0.1)
           |    AND bullet_line_frac < 0.9 AND ellipsis_line_frac < 0.3
           |    AND (n_words > 0 AND alpha_word_frac >= 0.8)
           |    AND stop_hits >= 2 AS pass_gopher
           |FROM v""".stripMargin

    // hashed-feature classifier SQL shared by quality_classifier and
    // the ensemble gate oracle
    val qualityClassifierSql =
      s"""WITH $toksCte,
           |s AS (SELECT doc_id, CAST(len(toks) AS INT) AS token_count,
           |        list_aggregate(list_transform(toks, tok ->
           |          ((('0x' || substr(md5(tok), 1, 4))::BIGINT % 256)
           |            * 2654435761) % 1048576), 'sum') AS wsum
           |      FROM t),
           |l AS (SELECT doc_id, token_count,
           |        CAST(wsum AS DOUBLE)
           |          / (CAST(token_count AS DOUBLE) * 1048576.0) * 2 - 1
           |          AS lin
           |      FROM s)
           |SELECT doc_id, token_count, round(lin, 6) AS score_linear,
           |       round(1.0 / (1.0 + exp(lin * -4.0)), 6) AS quality_prob
           |FROM l""".stripMargin

    Map(
      "dedup_exact" ->
        """SELECT doc_id, md5(text) AS content_hash,
          |       count(*) OVER w AS group_size,
          |       doc_id = min(doc_id) OVER w AS keep
          |FROM documents
          |WINDOW w AS (PARTITION BY md5(text))""".stripMargin,

      // text_normalize's derivation composed under dedup_exact's window
      "dedup_exact_norm" ->
        """WITH n AS (
          |  SELECT doc_id,
          |         nfc_normalize(lower(trim(
          |             regexp_replace(text, '\s+', ' ', 'g')))) AS tn
          |  FROM documents)
          |SELECT doc_id, md5(tn) AS content_hash,
          |       count(*) OVER w AS group_size,
          |       doc_id = min(doc_id) OVER w AS keep
          |FROM n
          |WINDOW w AS (PARTITION BY md5(tn))""".stripMargin,

      "dedup_minhash_lsh" ->
        s"""WITH $shinglesCte,
           |$minhashBandsCte
           |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           |FROM bands a JOIN bands b
           |  ON a.band = b.band AND a.band_hash = b.band_hash
           | AND a.doc_id < b.doc_id""".stripMargin,

      // one exact-Jaccard truth leg + per-band-count candidate legs over
      // the same k=8 signature, 1 counts row per sweep point
      "dedup_lsh_sizing" -> lshSizingSql(lshSizingBands),

      "dedup_simhash" ->
        """WITH toks AS (
          |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS tok
          |  FROM documents),
          |tf AS (
          |  SELECT doc_id, tok, count(*) AS cnt, md5(tok) AS h
          |  FROM toks GROUP BY 1, 2),
          |bits AS (
          |  SELECT doc_id, pos,
          |         sum(CASE WHEN CAST(floor(
          |               (strpos('0123456789abcdef',
          |                       substr(h, CAST(pos // 4 AS INT) + 1, 1)) - 1)
          |               / 2 ** (3 - pos % 4)) AS INT) % 2 = 1
          |             THEN cnt ELSE -cnt END) AS s
          |  FROM tf, generate_series(0, 63) t(pos)
          |  GROUP BY 1, 2)
          |SELECT doc_id,
          |       string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END, ''
          |                  ORDER BY pos) AS simhash_bits
          |FROM bits GROUP BY doc_id""".stripMargin,

      "dedup_clusters" ->
        s"""WITH RECURSIVE $shinglesCte,
           |$minhashBandsCte,
           |pairs AS (
           |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           |  FROM bands a JOIN bands b
           |    ON a.band = b.band AND a.band_hash = b.band_hash
           |   AND a.doc_id < b.doc_id),
           |edges AS (
           |  SELECT id_a AS src, id_b AS dst FROM pairs
           |  UNION SELECT id_b, id_a FROM pairs),
           |reach(id, r) AS (
           |  SELECT src, src FROM edges
           |  UNION
           |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id)
           |SELECT id AS doc_id, min(r) AS cluster_root
           |FROM reach GROUP BY 1""".stripMargin,

      "dedup_keep" ->
        s"""WITH RECURSIVE $shinglesCte,
           |$minhashBandsCte,
           |pairs AS (
           |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           |  FROM bands a JOIN bands b
           |    ON a.band = b.band AND a.band_hash = b.band_hash
           |   AND a.doc_id < b.doc_id),
           |edges AS (
           |  SELECT id_a AS src, id_b AS dst FROM pairs
           |  UNION SELECT id_b, id_a FROM pairs),
           |reach(id, r) AS (
           |  SELECT src, src FROM edges
           |  UNION
           |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id),
           |dupes AS (
           |  SELECT id FROM reach GROUP BY id HAVING id != min(r))
           |SELECT doc_id FROM documents
           |WHERE doc_id NOT IN (SELECT id FROM dupes)""".stripMargin,

      "dedup_simhash_pairs" ->
        ("""WITH toks AS (
          |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS tok
          |  FROM documents),
          |""".stripMargin + simhashPairsFromToksSql),

      // identical signature+blocking derivation, fed by base64 byte
      // shingles (window 8 / stride 4) instead of word tokens — mirrors
      // Multimodal.binarySimhash ∘ Dedup.simhashPairs
      "mm_neardup" ->
        ("""WITH b AS (SELECT doc_id, to_base64(encode(text)) AS b64
          |           FROM documents),
          |toks AS (
          |  SELECT doc_id, substr(b64, i * 4 + 1, 8) AS tok
          |  FROM (SELECT doc_id, b64,
          |          unnest(generate_series(0,
          |            CAST((len(b64) - 8) // 4 AS INT))) AS i
          |        FROM b WHERE len(b64) >= 8)),
          |""".stripMargin + simhashPairsFromToksSql),


      "dedup_ngram_jaccard" ->
        s"""WITH $shinglesCte,
           |kept AS (
           |  SELECT doc_id, shingle FROM sh
           |  QUALIFY count(*) OVER (PARTITION BY shingle) <= 50),
           |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
           |shared AS (
           |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
           |  FROM kept a JOIN kept b
           |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2)
           |SELECT id_a, id_b, jaccard FROM (
           |  SELECT id_a, id_b,
           |         round(CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter), 6) AS jaccard
           |  FROM shared
           |  JOIN sizes sa ON sa.doc_id = id_a
           |  JOIN sizes sb ON sb.doc_id = id_b)
           |WHERE jaccard >= 0.2""".stripMargin,

      "dedup_containment" ->
        s"""WITH $shinglesCte,
           |kept AS (
           |  SELECT doc_id, shingle FROM sh
           |  QUALIFY count(*) OVER (PARTITION BY shingle) <= 50),
           |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
           |shared AS (
           |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
           |  FROM kept a JOIN kept b
           |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2)
           |SELECT id_a, id_b, containment FROM (
           |  SELECT id_a, id_b,
           |         round(CAST(inter AS DOUBLE) / least(sa.n_sh, sb.n_sh), 6) AS containment
           |  FROM shared
           |  JOIN sizes sa ON sa.doc_id = id_a
           |  JOIN sizes sb ON sb.doc_id = id_b)
           |WHERE containment >= 0.4""".stripMargin,

      "dedup_multiplicity" ->
        """WITH g AS (SELECT md5(text) AS h, count(*) AS multiplicity
          |           FROM documents GROUP BY 1)
          |SELECT multiplicity, count(*) AS n_groups,
          |       multiplicity * count(*) AS n_docs
          |FROM g GROUP BY 1""".stripMargin,

      // winnowing: positional 4-gram md5-prefix hashes, window-5 minima,
      // distinct per doc. The window join (i BETWEEN j AND j+4) is the
      // O(L·w) oracle formulation of the same selection the Spark side
      // does with per-row array ops.
      "winnow_fp" ->
        """WITH ws AS (SELECT doc_id, string_split_regex(text, '\s+') AS w
          |            FROM documents),
          |gi AS (SELECT doc_id, w, unnest(generate_series(0, len(w) - 4)) AS i
          |       FROM ws WHERE len(w) >= 4),
          |g AS (SELECT doc_id, i,
          |        substring(md5(w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
          |                      || ' ' || w[i+4]), 1, 16) AS gh
          |      FROM gi),
          |ng AS (SELECT doc_id, max(i) + 1 AS n FROM g GROUP BY 1),
          |wi AS (SELECT doc_id, unnest(generate_series(0, greatest(n - 5, 0))) AS j
          |       FROM ng),
          |sel AS (SELECT wi.doc_id, wi.j, min(g.gh) AS fp
          |        FROM wi JOIN g ON g.doc_id = wi.doc_id
          |                      AND g.i BETWEEN wi.j AND wi.j + 4
          |        GROUP BY 1, 2)
          |SELECT DISTINCT doc_id, fp FROM sel""".stripMargin,

      "dedup_winnow" ->
        """WITH ws AS (SELECT doc_id, string_split_regex(text, '\s+') AS w
          |            FROM documents),
          |gi AS (SELECT doc_id, w, unnest(generate_series(0, len(w) - 4)) AS i
          |       FROM ws WHERE len(w) >= 4),
          |g AS (SELECT doc_id, i,
          |        substring(md5(w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
          |                      || ' ' || w[i+4]), 1, 16) AS gh
          |      FROM gi),
          |ng AS (SELECT doc_id, max(i) + 1 AS n FROM g GROUP BY 1),
          |wi AS (SELECT doc_id, unnest(generate_series(0, greatest(n - 5, 0))) AS j
          |       FROM ng),
          |sel AS (SELECT wi.doc_id, wi.j, min(g.gh) AS fp
          |        FROM wi JOIN g ON g.doc_id = wi.doc_id
          |                      AND g.i BETWEEN wi.j AND wi.j + 4
          |        GROUP BY 1, 2),
          |fps AS (SELECT DISTINCT doc_id, fp FROM sel),
          |kept AS (SELECT doc_id, fp FROM fps
          |         QUALIFY count(*) OVER (PARTITION BY fp) <= 1000)
          |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared_fps
          |FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
          |GROUP BY 1, 2
          |HAVING count(*) >= 2""".stripMargin,

      "vocab_topk" ->
        s"""WITH $toksCte,
           |tok AS (SELECT unnest(toks) AS token FROM t),
           |counts AS (SELECT token, count(*) AS cnt FROM tok GROUP BY 1),
           |total AS (SELECT count(*) AS n FROM tok),
           |top AS (SELECT token, cnt,
           |          CAST(row_number() OVER (ORDER BY cnt DESC, token) AS INT) AS rank
           |        FROM counts ORDER BY cnt DESC, token LIMIT 100)
           |SELECT rank, token, cnt,
           |       round(CAST(sum(cnt) OVER (ORDER BY cnt DESC, token
           |               ROWS UNBOUNDED PRECEDING) AS DOUBLE)
           |             / (SELECT CAST(n AS DOUBLE) FROM total), 6) AS cum_frac
           |FROM top""".stripMargin,

      "tokenizer_fertility" ->
        """WITH t AS (SELECT lang, string_split_regex(text, '\s+') AS toks,
          |             len(regexp_extract_all(text,
          |                 '[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]')) AS bpe
          |           FROM documents)
          |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
          |       CAST(SUM(len(toks)) AS BIGINT) AS ws_tokens,
          |       CAST(SUM(bpe) AS BIGINT) AS bpe_tokens,
          |       round(CAST(SUM(bpe) AS DOUBLE)
          |             / CAST(SUM(len(toks)) AS DOUBLE), 6) AS fertility
          |FROM t GROUP BY 1""".stripMargin,

      // mirror TextAnalysis.langMix: the langHits fragment (occurrence-
      // weighted stopword counts) + shares guarded on total > 0
      "text_lang_mix" ->
        s"""WITH $toksCte,
           |h AS (SELECT doc_id,
           |       $langHits
           |       FROM t),
           |tt AS (SELECT doc_id,
           |        CAST(hits_en AS INT) AS hits_en,
           |        CAST(hits_es AS INT) AS hits_es,
           |        CAST(hits_fr AS INT) AS hits_fr,
           |        CAST(hits_de AS INT) AS hits_de,
           |        CAST(hits_en + hits_es + hits_fr + hits_de AS INT)
           |          AS total_hits
           |       FROM h)
           |SELECT doc_id, hits_en, hits_es, hits_fr, hits_de, total_hits,
           |  CASE WHEN total_hits > 0
           |       THEN round(CAST(hits_en AS DOUBLE) / total_hits, 6)
           |  END AS share_en,
           |  CASE WHEN total_hits > 0
           |       THEN round(CAST(hits_es AS DOUBLE) / total_hits, 6)
           |  END AS share_es,
           |  CASE WHEN total_hits > 0
           |       THEN round(CAST(hits_fr AS DOUBLE) / total_hits, 6)
           |  END AS share_fr,
           |  CASE WHEN total_hits > 0
           |       THEN round(CAST(hits_de AS DOUBLE) / total_hits, 6)
           |  END AS share_de
           |FROM tt""".stripMargin,

      // mirror the events_histogram aggregate: identical IEEE floor on
      // the same double division, exact decimal per-bin sums
      "events_histogram" ->
        """SELECT event_type,
          |       CAST(floor(value / 5.0) AS BIGINT) AS bucket,
          |       count(*) AS n,
          |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
          |         AS value_sum
          |FROM events GROUP BY 1, 2""".stripMargin,

      "text_stats" ->
        s"""WITH $toksCte
           |SELECT doc_id,
           |  CAST(len(toks) AS INT) AS token_count,
           |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^\\sA-Za-z0-9]')) AS INT) AS bpeish_count,
           |  CAST(length(text) AS INT) AS char_count,
           |  CAST(len(list_distinct(toks)) AS INT) AS distinct_tokens,
           |  round(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6) AS type_token_ratio,
           |  round(CAST(length(text) - len(toks) + 1 AS DOUBLE) / len(toks), 6) AS avg_token_len,
           |  round(CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS DOUBLE)
           |        / length(text), 6) AS punct_ratio,
           |  round(CAST(len(list_filter(toks, x -> list_contains($allStops, x))) AS DOUBLE)
           |        / len(toks), 6) AS stopword_ratio
           |FROM t""".stripMargin,

      // mirror tokenEntropy: H = ln n − (Σ c·ln c)/n with each c·ln c
      // term 9-dp-fixed before an exact decimal sum (ln on identical
      // integer-derived doubles — the BM25 discipline); the normalized
      // form recomputes the unrounded H before its one division
      "text_entropy" ->
        """WITH tf AS (SELECT doc_id, tok, count(*) AS c FROM (
          |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS tok
          |  FROM documents) GROUP BY 1, 2),
          |a AS (SELECT doc_id, SUM(c) AS n_tokens, count(*) AS n_distinct,
          |        SUM(CAST(round(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)),
          |                       9) AS DECIMAL(28,9))) AS sclnc
          |      FROM tf GROUP BY 1)
          |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
          |       CAST(n_distinct AS BIGINT) AS n_distinct,
          |       round(ln(CAST(n_tokens AS DOUBLE))
          |             - CAST(sclnc AS DOUBLE) / CAST(n_tokens AS DOUBLE),
          |             6) AS entropy_nats,
          |       CASE WHEN n_tokens > 1 THEN
          |         round((ln(CAST(n_tokens AS DOUBLE))
          |                - CAST(sclnc AS DOUBLE) / CAST(n_tokens AS DOUBLE))
          |               / ln(CAST(n_tokens AS DOUBLE)), 6)
          |       END AS entropy_norm
          |FROM a""".stripMargin,

      // mirror TextAnalysis.readability: vowel-group syllables with a
      // one-syllable floor, sentence floor of 1, same left-assoc double
      // trees (NOT regexp_matches == Spark's ^[^vowels]*$ full match)
      "text_readability" ->
        s"""WITH $toksCte,
           |m AS (SELECT doc_id,
           |  CASE WHEN length(trim(text)) = 0 THEN 0
           |       ELSE CAST(len(toks) AS INT) END AS n_words,
           |  greatest(1, CAST(len(regexp_extract_all(text, '[.!?]+'))
           |                   AS INT)) AS n_sentences,
           |  CAST(len(regexp_extract_all(text, '[aeiouyAEIOUY]+')) AS INT)
           |    + CAST(len(list_filter(toks, x ->
           |        NOT regexp_matches(x, '[aeiouyAEIOUY]')
           |        AND length(x) > 0)) AS INT) AS n_syllables
           |  FROM t)
           |SELECT doc_id, n_words, n_sentences, n_syllables,
           |  CASE WHEN n_words > 0 THEN
           |    round(206.835
           |          - 1.015 * (CAST(n_words AS DOUBLE)
           |                     / CAST(n_sentences AS DOUBLE))
           |          - 84.6 * (CAST(n_syllables AS DOUBLE)
           |                    / CAST(n_words AS DOUBLE)), 6) END AS flesch,
           |  CASE WHEN n_words > 0 THEN
           |    round(0.39 * (CAST(n_words AS DOUBLE)
           |                  / CAST(n_sentences AS DOUBLE))
           |          + 11.8 * (CAST(n_syllables AS DOUBLE)
           |                    / CAST(n_words AS DOUBLE)) - 15.59, 6)
           |  END AS fk_grade
           |FROM m""".stripMargin,

      // mirror Corpus.bm25TopK: one stats row (N, total length, per-term
      // dfs), per-term 9-dp contributions summed as exact decimals; the
      // k1/b/k1+1 constants interpolate from the SAME Scala doubles the
      // engine plans, so both parsers see identical shortest-repr
      // literals
      "bm25_topk" ->
        s"WITH $toksCte,\n$Bm25OracleCtes\n$Bm25OracleTop",

      // the feedback slate from the same bm25 fragment, the idf·fbTf
      // expansion pick, and the weighted frame-driven second pass
      "search_prf" -> prfOracleSql,

      // the sorted-threshold waterfill with cross-multiplied integer cut
      // math; the exact-order sort key and every share are integers
      "mixture_waterfill" ->
        """WITH a AS (
          |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
          |         CAST(sum(n_chars) AS BIGINT) AS n_tokens,
          |         CAST(CASE source WHEN 'src0' THEN 5 WHEN 'src1' THEN 3
          |              ELSE 1 END AS BIGINT) AS weight
          |  FROM documents GROUP BY 1),
          |c AS (SELECT *, CAST(floor(4.0 * n_tokens) AS BIGINT)
          |        AS capacity FROM a),
          |r AS (SELECT *, row_number() OVER w AS rnk,
          |             COALESCE(SUM(capacity) OVER (
          |               w ROWS BETWEEN UNBOUNDED PRECEDING
          |               AND 1 PRECEDING), 0) AS pc,
          |             SUM(weight) OVER (
          |               w ROWS BETWEEN CURRENT ROW
          |               AND UNBOUNDED FOLLOWING) AS rw
          |      FROM c
          |      WINDOW w AS (ORDER BY capacity * 1000000 // weight,
          |                   source)),
          |f AS (SELECT rnk AS cut, pc AS cpc, rw AS crw FROM r
          |      WHERE (400000 - pc) * weight <= capacity * rw
          |      ORDER BY rnk LIMIT 1),
          |al AS (SELECT source, n_docs, n_tokens, weight, capacity,
          |         CASE WHEN (SELECT cut FROM f) IS NULL
          |                   OR rnk < (SELECT cut FROM f)
          |              THEN capacity
          |              ELSE CAST((400000 - (SELECT cpc FROM f)) * weight
          |                   // (SELECT crw FROM f) AS BIGINT) END
          |           AS alloc_tokens,
          |         ((SELECT cut FROM f) IS NULL
          |          OR rnk < (SELECT cut FROM f)) AS at_cap
          |       FROM r)
          |SELECT source, n_docs, n_tokens, weight, capacity, alloc_tokens,
          |       round(CAST(alloc_tokens AS DOUBLE)
          |             / CAST(n_tokens AS DOUBLE), 6) AS epochs,
          |       at_cap
          |FROM al""".stripMargin,

      // distinct (doc, term) postings; stop terms (df > 400) keep their
      // df with NULL postings, mirroring the engine's anti-join cap
      "index_postings" ->
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
          |FROM dfc d LEFT JOIN lists l USING (term)""".stripMargin,

      "search_boolean" ->
        """WITH p AS (SELECT DISTINCT doc_id, term FROM (
          |       SELECT doc_id,
          |              unnest(string_split_regex(text, '\s+')) AS term
          |       FROM documents) WHERE len(term) > 0)
          |SELECT doc_id FROM p
          |WHERE term IN ('vector', 'merge', 'spark')
          |GROUP BY doc_id HAVING count(*) = 3""".stripMargin,

      "search_any" ->
        """WITH p AS (SELECT DISTINCT doc_id, term FROM (
          |       SELECT doc_id,
          |              unnest(string_split_regex(text, '\s+')) AS term
          |       FROM documents) WHERE len(term) > 0)
          |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matched FROM p
          |WHERE term IN ('vector', 'merge', 'spark')
          |GROUP BY doc_id HAVING count(*) >= 2""".stripMargin,

      // `//` floors, Spark `div` truncates — identical on the
      // non-negative n_chars
      "privacy_kanon" ->
        """SELECT lang, source, n_chars // 200 AS len_bucket,
          |       CAST(count(*) AS BIGINT) AS class_size,
          |       count(*) < 5 AS at_risk
          |FROM documents GROUP BY 1, 2, 3""".stripMargin,

      "privacy_ldiv" ->
        """SELECT source, n_chars // 200 AS len_bucket,
          |       CAST(count(*) AS BIGINT) AS class_size,
          |       CAST(count(DISTINCT lang) AS BIGINT) AS l_div,
          |       count(DISTINCT lang) < 3 AS at_risk
          |FROM documents GROUP BY 1, 2""".stripMargin,

      "privacy_risk" ->
        """WITH c AS (SELECT count(*) AS cs FROM documents
          |           GROUP BY lang, source, n_chars // 200)
          |SELECT CAST(sum(cs) AS BIGINT) AS n_rows,
          |       CAST(count(*) AS BIGINT) AS n_classes,
          |       CAST(min(cs) AS BIGINT) AS k_anon,
          |       CAST(sum(CASE WHEN cs < 5 THEN cs ELSE 0 END) AS BIGINT)
          |         AS risky_rows,
          |       CAST(sum(CASE WHEN cs < 5 THEN cs ELSE 0 END) * 1000000
          |            // sum(cs) AS BIGINT) AS risky_ppm
          |FROM c""".stripMargin,

      // sparse leg = the bm25_topk fragment verbatim; dense leg = the
      // ann_brute ranking with vec 0 as the query; reciprocal terms add
      // sparse-then-dense to match the engine's left-to-right fold
      "hybrid_rrf" ->
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
            |WHERE rn <= 20""".stripMargin),

      "text_quality" ->
        s"""WITH $toksCte,
           |$qualityCte
           |SELECT doc_id, quality_score FROM q""".stripMargin,

      // percent_rank ties share a value (no per-row tiebreak), so the
      // engine's collapsed-cell formulation matches the window verbatim
      "quality_calibrate" ->
        s"""WITH $toksCte,
           |$qualityCte,
           |j AS (SELECT d.doc_id, d.source, q.quality_score
           |      FROM documents d JOIN q ON d.doc_id = q.doc_id),
           |p AS (SELECT doc_id, source, quality_score,
           |             round(percent_rank() OVER (PARTITION BY source
           |                     ORDER BY quality_score), 6) AS pct
           |      FROM j)
           |SELECT doc_id, source, quality_score, pct,
           |       pct >= 0.2 AS keep
           |FROM p""".stripMargin,

      "text_blocklist" ->
        """WITH b AS (SELECT doc_id,
          |                  string_split_regex(lower(text), '\s+') AS toks
          |            FROM documents),
          |h AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
          |             CAST(len(list_filter(toks, t ->
          |               list_contains(['crash', 'slow', 'stale'], t)))
          |               AS BIGINT) AS n_blocked
          |      FROM b)
          |SELECT doc_id, n_tokens, n_blocked,
          |       CASE WHEN n_tokens > 0
          |            THEN round(CAST(n_blocked AS DOUBLE) / n_tokens, 6)
          |       END AS blocked_frac,
          |       n_blocked > 1 AS flagged
          |FROM h""".stripMargin,

      "text_langid" ->
        s"""WITH $toksCte,
           |h AS (
           |  SELECT doc_id,
           |       $langHits
           |  FROM t)
           |SELECT doc_id,
           |  CASE WHEN greatest(hits_en, hits_es, hits_fr, hits_de) = 0 THEN 'und'
           |       WHEN hits_de >= hits_en AND hits_de >= hits_es AND hits_de >= hits_fr THEN 'de'
           |       WHEN hits_en >= hits_es AND hits_en >= hits_fr THEN 'en'
           |       WHEN hits_es >= hits_fr THEN 'es'
           |       ELSE 'fr' END AS lang_id
           |FROM h""".stripMargin,

      "text_fingerprint" ->
        """SELECT doc_id,
          |       md5(lower(trim(text))) AS content_fp,
          |       md5(array_to_string(list_sort(list_distinct(
          |           string_split_regex(lower(text), '\s+'))), ' ')) AS bow_fp
          |FROM documents""".stripMargin,

      "text_normalize" ->
        """SELECT doc_id,
          |       nfc_normalize(lower(trim(
          |           regexp_replace(text, '\s+', ' ', 'g')))) AS text_norm,
          |       CAST(length(nfc_normalize(lower(trim(
          |           regexp_replace(text, '\s+', ' ', 'g'))))) AS BIGINT)
          |         AS norm_len
          |FROM documents""".stripMargin,

      "stream_window" ->
        """SELECT (epoch_us(ts) // 21600000000) * 21600000000
          |         AS window_start_us,
          |       event_type, count(*) AS n_events,
          |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
          |         AS value_sum
          |FROM events GROUP BY 1, 2""".stripMargin,

      // batch replay of the streaming HLL: same shared idx/rho SQL over
      // md5(user_id), per-window register maxima, the exact-integer
      // denominator fold, one correctly-rounded division (the
      // sketch_overlap idioms; registers are order-insensitive, so the
      // batch grouping IS the stream's final state)
      "stream_distinct" -> {
        val c = java.lang.Double.toString(graft.llm.Sketches.EstNumerator)
        val one = "CAST(1 AS BIGINT)"
        s"""WITH e AS (
           |  SELECT (epoch_us(ts) // 21600000000) * 21600000000
           |           AS window_start_us,
           |         md5(CAST(user_id AS VARCHAR)) AS h
           |  FROM events WHERE epoch_us(ts) >= 0),
           |r0 AS (SELECT window_start_us,
           |              ${graft.llm.Sketches.IdxSql} AS idx,
           |              ${graft.llm.Sketches.RhoSql} AS rho
           |       FROM e),
           |reg AS (SELECT window_start_us, idx, max(rho) AS m
           |        FROM r0 GROUP BY 1, 2)
           |SELECT window_start_us, CAST(count(*) AS BIGINT) AS n_reg,
           |       round($c / CAST(
           |         SUM(CAST($one << (57 - m) AS HUGEINT))
           |         + (256 - count(*)) * CAST($one << 57 AS HUGEINT)
           |         AS DOUBLE), 3) AS est
           |FROM reg GROUP BY 1""".stripMargin
      },

      // batch replay of the streaming CMS: counters add, so the summed
      // per-window build equals one global build (the freq_cms_est
      // idioms over md5-prefix buckets; exact integer end to end)
      "stream_cms" ->
        """WITH e AS (SELECT CAST(user_id AS VARCHAR) AS item
          |           FROM events WHERE epoch_us(ts) >= 0),
          |keys AS (SELECT item, r.i,
          |           (('0x' || substr(md5(CAST(r.i AS VARCHAR) || ':' || item),
          |                            1, 8))::BIGINT) % 256 AS bucket
          |         FROM e, (SELECT unnest([0, 1, 2]) AS i) r),
          |cms AS (SELECT i, bucket, count(*) AS cnt FROM keys GROUP BY 1, 2),
          |p AS (SELECT CAST(u AS VARCHAR) AS item
          |      FROM (SELECT unnest(generate_series(0, 7)) AS u)),
          |tc AS (SELECT CAST(user_id AS VARCHAR) AS item,
          |              count(*) AS true_count
          |       FROM events
          |       WHERE epoch_us(ts) >= 0 AND user_id BETWEEN 0 AND 7
          |       GROUP BY 1),
          |pk AS (SELECT p.item, r.i,
          |          (('0x' || substr(md5(CAST(r.i AS VARCHAR) || ':' || p.item),
          |                           1, 8))::BIGINT) % 256 AS bucket
          |       FROM p, (SELECT unnest([0, 1, 2]) AS i) r)
          |SELECT pk.item,
          |       CAST(coalesce(any_value(tc.true_count), 0) AS BIGINT)
          |         AS true_count,
          |       CAST(min(coalesce(cms.cnt, 0)) AS BIGINT) AS est_count
          |FROM pk LEFT JOIN cms ON cms.i = pk.i AND cms.bucket = pk.bucket
          |        LEFT JOIN tc ON tc.item = pk.item
          |GROUP BY 1""".stripMargin,

      // sliding 6 h / 3 h: every event belongs to exactly the two
      // slide-aligned windows starting at t−(t%3h) and 3 h earlier
      "stream_window_sliding" ->
        """WITH e AS (
          |  SELECT epoch_us(ts) AS ts_us, event_type, value FROM events),
          |c AS (
          |  SELECT *, unnest([
          |      (ts_us // 10800000000) * 10800000000,
          |      (ts_us // 10800000000) * 10800000000 - 10800000000])
          |    AS window_start_us
          |  FROM e)
          |SELECT window_start_us, event_type, count(*) AS n_events,
          |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
          |         AS value_sum
          |FROM c GROUP BY 1, 2""".stripMargin,

      "text_repetition" ->
        s"""WITH $toksCte,
           |g2 AS (SELECT doc_id, unnest(list_transform(
           |         generate_series(1, len(toks) - 1),
           |         i -> toks[i] || ' ' || toks[i+1])) AS g
           |       FROM t WHERE len(toks) >= 2),
           |c2 AS (SELECT doc_id, g, count(*) AS n FROM g2 GROUP BY 1, 2),
           |a2 AS (SELECT doc_id, sum(n) AS total, count(*) AS dist,
           |              max(n) AS top
           |       FROM c2 GROUP BY 1),
           |g3 AS (SELECT doc_id, unnest(list_transform(
           |         generate_series(1, len(toks) - 2),
           |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS g
           |       FROM t WHERE len(toks) >= 3),
           |c3 AS (SELECT doc_id, g, count(*) AS n FROM g3 GROUP BY 1, 2),
           |a3 AS (SELECT doc_id, sum(n) AS total, count(*) AS dist,
           |              max(n) AS top
           |       FROM c3 GROUP BY 1)
           |SELECT d.doc_id,
           |  round(coalesce(CAST(a2.total - a2.dist AS DOUBLE)
           |                 / CAST(a2.total AS DOUBLE), 0), 6) AS dup_2gram_frac,
           |  round(coalesce(CAST(a2.top AS DOUBLE)
           |                 / CAST(a2.total AS DOUBLE), 0), 6) AS top_2gram_frac,
           |  round(coalesce(CAST(a3.total - a3.dist AS DOUBLE)
           |                 / CAST(a3.total AS DOUBLE), 0), 6) AS dup_3gram_frac,
           |  round(coalesce(CAST(a3.top AS DOUBLE)
           |                 / CAST(a3.total AS DOUBLE), 0), 6) AS top_3gram_frac
           |FROM documents d
           |LEFT JOIN a2 ON a2.doc_id = d.doc_id
           |LEFT JOIN a3 ON a3.doc_id = d.doc_id""".stripMargin,

      "text_pii" ->
        s"""WITH p AS (
           |  SELECT doc_id,
           |    CASE WHEN doc_id % 3 = 0 THEN text
           |         WHEN doc_id % 3 = 1 THEN
           |           text || ' contact ' || source || '_' || doc_id
           |             || '@example.com from 10.' || (doc_id % 256) || '.'
           |             || ((doc_id * 7) % 256) || '.5 tel +1-555-'
           |             || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'
           |             || lpad(CAST((doc_id * 3) % 10000 AS VARCHAR), 4, '0')
           |         ELSE text || ' contact ' || source || '_' || doc_id
           |             || '@example.com'
           |    END AS text
           |  FROM documents),
           |r AS (SELECT doc_id, text,
           |        regexp_replace(text, '${Pii.emailPattern}',
           |          '${Pii.emailToken}', 'g') AS t1
           |      FROM p),
           |r2 AS (SELECT doc_id, text, t1,
           |         regexp_replace(t1, '${Pii.ipv4Pattern}',
           |           '${Pii.ipToken}', 'g') AS t2
           |       FROM r)
           |SELECT doc_id,
           |  CAST(len(regexp_extract_all(text, '${Pii.emailPattern}')) AS INT) AS n_emails,
           |  CAST(len(regexp_extract_all(t1, '${Pii.ipv4Pattern}')) AS INT) AS n_ipv4,
           |  CAST(len(regexp_extract_all(t2, '${Pii.phonePattern}')) AS INT) AS n_phones,
           |  regexp_replace(t2, '${Pii.phonePattern}',
           |    '${Pii.phoneToken}', 'g') AS text_redacted
           |FROM r2""".stripMargin,

      "contamination_ngram" ->
        s"""WITH $shinglesCte,
           |test AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 17 = 0),
           |train AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 17 != 0),
           |sizes AS (SELECT doc_id AS test_id, count(*) AS n_test_ngrams
           |          FROM test GROUP BY 1),
           |pairs AS (
           |  SELECT test.doc_id AS test_id, train.doc_id AS train_id,
           |         count(*) AS shared_ngrams
           |  FROM test JOIN train USING (shingle) GROUP BY 1, 2)
           |SELECT test_id, train_id, shared_ngrams,
           |       round(CAST(shared_ngrams AS DOUBLE) / n_test_ngrams, 6)
           |         AS overlap_frac
           |FROM pairs JOIN sizes USING (test_id)
           |WHERE shared_ngrams >= 2""".stripMargin,

      "contamination_report" ->
        s"""WITH $shinglesCte,
           |test AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 17 = 0),
           |train AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 17 != 0),
           |sizes AS (SELECT doc_id AS test_id, count(*) AS n_test_ngrams
           |          FROM test GROUP BY 1),
           |pairs AS (
           |  SELECT test.doc_id AS test_id, train.doc_id AS train_id,
           |         count(*) AS shared_ngrams,
           |         array_to_string(
           |           (list_sort(list(DISTINCT shingle)))[1:5], '|')
           |           AS evidence
           |  FROM test JOIN train USING (shingle) GROUP BY 1, 2)
           |SELECT test_id, train_id, shared_ngrams, evidence,
           |       round(CAST(shared_ngrams AS DOUBLE) / n_test_ngrams, 6)
           |         AS overlap_frac
           |FROM pairs JOIN sizes USING (test_id)
           |WHERE shared_ngrams >= 2""".stripMargin,

      "target_coverage" ->
        s"""WITH $shinglesCte,
           |test AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 17 = 0),
           |train AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 17 != 0),
           |sizes AS (SELECT doc_id AS target_id, count(*) AS n_target_ngrams
           |          FROM test GROUP BY 1),
           |m AS (SELECT target_id, count(*) AS covered_ngrams FROM (
           |        SELECT DISTINCT test.doc_id AS target_id, shingle
           |        FROM test JOIN train USING (shingle))
           |      GROUP BY 1)
           |SELECT target_id, n_target_ngrams,
           |       coalesce(covered_ngrams, 0) AS covered_ngrams,
           |       round(CAST(coalesce(covered_ngrams, 0) AS DOUBLE)
           |             / n_target_ngrams, 6) AS coverage
           |FROM sizes LEFT JOIN m USING (target_id)""".stripMargin,

      "skew_profile" ->
        """WITH c AS (SELECT user_id, count(*) AS cnt
          |           FROM events GROUP BY user_id)
          |SELECT CAST(length(CAST(cnt AS VARCHAR)) AS INT) AS digits,
          |       count(*) AS n_keys, CAST(sum(cnt) AS BIGINT) AS n_rows,
          |       max(cnt) AS max_count
          |FROM c GROUP BY 1""".stripMargin,

      "skew_hot_keys" ->
        """SELECT user_id, count(*) AS key_count FROM events
          |GROUP BY user_id
          |ORDER BY key_count DESC, user_id LIMIT 20""".stripMargin,

      // deliberately the SAME oracle as contamination_ngram (plus the
      // honest zero column): the Bloom path must reproduce the
      // exact-join answer bit for bit, and the 0s assert the AUTO cap
      // does not bind on the clean fixture — a binding cap would emit
      // nonzero n_capped_grams / sentinel rows and fail here loudly
      "contamination_bloom" ->
        s"""WITH $shinglesCte,
           |test AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 17 = 0),
           |train AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 17 != 0),
           |sizes AS (SELECT doc_id AS test_id, count(*) AS n_test_ngrams
           |          FROM test GROUP BY 1),
           |pairs AS (
           |  SELECT test.doc_id AS test_id, train.doc_id AS train_id,
           |         count(*) AS shared_ngrams
           |  FROM test JOIN train USING (shingle) GROUP BY 1, 2)
           |SELECT test_id, train_id, shared_ngrams,
           |       round(CAST(shared_ngrams AS DOUBLE) / n_test_ngrams, 6)
           |         AS overlap_frac,
           |       CAST(0 AS BIGINT) AS n_capped_grams
           |FROM pairs JOIN sizes USING (test_id)
           |WHERE shared_ngrams >= 2""".stripMargin,

      // the BINDING-cap variant: hot grams (train df > 4) excluded from
      // pair counting, per-test n_capped_grams, and the sentinel row for
      // all-capped test docs — the engine's Bloom+df-pre-pass plan and
      // this direct SQL must agree row for row
      "contamination_capped" ->
        s"""WITH $shinglesCte,
           |test AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 17 = 0),
           |train AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 17 != 0),
           |sizes AS (SELECT doc_id AS test_id, count(*) AS n_test_ngrams
           |          FROM test GROUP BY 1),
           |hot AS (SELECT shingle FROM (
           |          SELECT shingle, count(*) AS df FROM train GROUP BY 1)
           |        WHERE df > 4),
           |capped AS (SELECT test.doc_id AS test_id,
           |                  count(*) AS n_capped_grams
           |           FROM test JOIN hot USING (shingle) GROUP BY 1),
           |pairs AS (
           |  SELECT test.doc_id AS test_id, train.doc_id AS train_id,
           |         count(*) AS shared_ngrams
           |  FROM test JOIN train USING (shingle)
           |  WHERE shingle NOT IN (SELECT shingle FROM hot)
           |  GROUP BY 1, 2 HAVING count(*) >= 2)
           |SELECT p.test_id, p.train_id, p.shared_ngrams,
           |       s.n_test_ngrams,
           |       round(CAST(p.shared_ngrams AS DOUBLE) / s.n_test_ngrams,
           |             6) AS overlap_frac,
           |       CAST(coalesce(c.n_capped_grams, 0) AS BIGINT)
           |         AS n_capped_grams
           |FROM pairs p JOIN sizes s USING (test_id)
           |LEFT JOIN capped c USING (test_id)
           |UNION ALL
           |SELECT c.test_id, CAST(NULL AS BIGINT) AS train_id,
           |       CAST(0 AS BIGINT) AS shared_ngrams, s.n_test_ngrams,
           |       CAST(NULL AS DOUBLE) AS overlap_frac,
           |       CAST(c.n_capped_grams AS BIGINT) AS n_capped_grams
           |FROM capped c JOIN sizes s USING (test_id)
           |WHERE c.test_id NOT IN (SELECT DISTINCT test_id FROM pairs)"""
          .stripMargin,

      // the AUTO-cap derivation replayed end to end: confirmed
      // survivor dfs -> per-df histogram -> monotone cumulative mass ->
      // cap = max df level whose prefix fits the budget (1 row per
      // surviving gram) -> the contamination_capped semantics at that
      // derived cap
      "contamination_autocap" ->
        s"""WITH $shinglesCte,
           |test AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 17 = 0),
           |train AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 17 != 0),
           |sizes AS (SELECT doc_id AS test_id, count(*) AS n_test_ngrams
           |          FROM test GROUP BY 1),
           |surv AS (SELECT shingle, count(*) AS df FROM train
           |         WHERE shingle IN (SELECT shingle FROM test)
           |         GROUP BY 1),
           |hist AS (SELECT df, count(*) AS n FROM surv GROUP BY 1),
           |cum AS (SELECT df, sum(df * n) OVER (ORDER BY df) AS cum
           |        FROM hist),
           |cap AS (SELECT coalesce(max(df), 1) AS cap FROM cum
           |        WHERE cum <= (SELECT count(*) FROM surv)),
           |hot AS (SELECT shingle FROM surv
           |        WHERE df > (SELECT cap FROM cap)),
           |capped AS (SELECT test.doc_id AS test_id,
           |                  count(*) AS n_capped_grams
           |           FROM test JOIN hot USING (shingle) GROUP BY 1),
           |pairs AS (
           |  SELECT test.doc_id AS test_id, train.doc_id AS train_id,
           |         count(*) AS shared_ngrams
           |  FROM test JOIN train USING (shingle)
           |  WHERE shingle NOT IN (SELECT shingle FROM hot)
           |  GROUP BY 1, 2 HAVING count(*) >= 2)
           |SELECT p.test_id, p.train_id, p.shared_ngrams,
           |       s.n_test_ngrams,
           |       round(CAST(p.shared_ngrams AS DOUBLE) / s.n_test_ngrams,
           |             6) AS overlap_frac,
           |       CAST(coalesce(c.n_capped_grams, 0) AS BIGINT)
           |         AS n_capped_grams
           |FROM pairs p JOIN sizes s USING (test_id)
           |LEFT JOIN capped c USING (test_id)
           |UNION ALL
           |SELECT c.test_id, CAST(NULL AS BIGINT) AS train_id,
           |       CAST(0 AS BIGINT) AS shared_ngrams, s.n_test_ngrams,
           |       CAST(NULL AS DOUBLE) AS overlap_frac,
           |       CAST(c.n_capped_grams AS BIGINT) AS n_capped_grams
           |FROM capped c JOIN sizes s USING (test_id)
           |WHERE c.test_id NOT IN (SELECT DISTINCT test_id FROM pairs)"""
          .stripMargin,

      // the int8 grid from embed_quantize's oracle, dequantized, then
      "embed_pq_codes" ->
        (s"WITH ${pqEncodeCtes(8, 16, 8)}\n" +
          """SELECT vec_id, CAST(j AS BIGINT) AS subspace,
            |       CAST(c AS BIGINT) AS code
            |FROM a""".stripMargin),

      // the broadcast-table path is bit-identical to the literal path
      // by construction — same oracle derivation
      "embed_pq_codes_table" ->
        (s"WITH ${pqEncodeCtes(8, 16, 8)}\n" +
          """SELECT vec_id, CAST(j AS BIGINT) AS subspace,
            |       CAST(c AS BIGINT) AS code
            |FROM a""".stripMargin),

      // ADC: dot(recon,recon) − 2·dot(q,recon) — both the shared
      // sequential-fold dot on literal-derived doubles, so the ranking
      // (and the sample) is bit-identical across engines
      "ann_pq_topk" ->
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
            |  FROM sc) WHERE rank <= 5""".stripMargin),

      // the ann_ivf_topk cell derivation (axis argmax/runner-up, raw
      // component sign) over the PQ reconstructions; ADC as in ann_pq_topk
      "ann_ivfpq_topk" ->
        (s"WITH ${pqIvfCtes(8, 16, 8)}\n" +
          """SELECT query_id, rank, neighbor_id FROM (
            |  SELECT query_id, neighbor_id,
            |         CAST(row_number() OVER (PARTITION BY query_id
            |                                 ORDER BY d, neighbor_id)
            |           AS BIGINT) AS rank
            |  FROM sc) WHERE rank <= 3""".stripMargin),

      // IVF+PQ with TRAINED coarse cells: the kmeans training replayed
      // (kmeansCtes), corpus cell = the a2 assignment, probes = the 2
      // nearest trained cells (s2 ranked), ADC over the seeded-codebook
      // reconstructions exactly as in ann_ivfpq_topk
      "ann_ivfpqt_topk" ->
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
            |  FROM tsc) WHERE rank <= 3""".stripMargin),

      // trained vs axis coarse cells under ADC, one exact-L2 leg over
      // the shared len=64 universe; the trained fragments come from
      // kmeansCtes (a2 cells, s2-ranked probes), the axis cells from
      // the shared ivfCellCtes, reconstructions from pqEncodeCtes
      "ann_ivfpqt_recall" ->
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
            |  GROUP BY 1)""".stripMargin),

      // full residual IVF,PQ: kmeans training replayed (kmeansCtes),
      // residuals against the c1 centroid table, residual-codebook
      // Lloyd rounds + encode (pqTrainBodyCtes prefixed 'r'), three-term
      // ADC ranking within the 2 probed cells
      "ann_ivfpqt2_topk" -> ivfPqResidualTopKSql,

      // the compressed store serves the SAME rows it was encoded from:
      // cold sidecar loaders hand back bit-equal quantizers, so the
      // indexed read is row-identical to the unmaterialized path
      "ann_ivfpqt_indexed" -> ivfPqResidualTopKSql,

      // the probes sweep over the full residual index: per-depth
      // candidate blocks from the full cell ranking, one exact-L2 leg
      "ann_ivfpqt2_probes" -> ivfPqResidualProbesSql(ivftProbeSweep),

      // the m/k budget sweep: per leg a FULL fine-stage training replay
      // at that (m, k) over the shared coarse stage + one materialized
      // exact leg — the engine enumerates the same ivfPqMkSweep points
      "ann_ivfpq_mk" -> residualSweepSql(ivfPqMkSweep.map { case (m, k) =>
        (s"m${m}k$k", m, k, 2,
          s"CAST($m AS BIGINT) AS m, CAST($k AS BIGINT) AS k")
      }),

      // the training-depth sweep: per leg the SAME replay unrolled to
      // that leg's Lloyd-round count at the serving m/k
      "ann_ivfpq_iters" -> residualSweepSql(ivfPqItersSweep.map { i =>
        (s"it$i", 8, 16, i, s"CAST($i AS BIGINT) AS iters")
      }),

      // the refine-depth sweep: one coarse+fine replay at the serving
      // configuration, per candK a shortlist + exact-L2 re-rank block
      "ann_ivfpq_candk" -> refineCandKSweepSql(ivfPqCandKSweep),

      // the refine composition: rsc ranked to candK=25, exact-L2
      // re-rank of only the shortlist, recall vs the same exact leg —
      // codes-only apx included for the side-by-side lift
      "ann_ivfpqt2_rerank" ->
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
          recallSelectSql("ivfpq_codes", "rapx")),

      // the cold store-served refine: the refined RANKING itself (the
      // rerank oracle's rref chain, emitted as rows instead of folded
      // into recall) — shared derivation, so the cold path is pinned
      // row-identical to the unmaterialized refine; candK = 50, the
      // sweep's named operating point (the engine row ships it)
      "ann_ivfpqt_served" ->
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
            |  FROM rref) WHERE rank <= 3""".stripMargin),

      // the SQ8 store's layout is the same a2 cell assignment (codes
      // don't move rows between cells)
      "ann_ivfsq_build" ->
        (s"WITH ${kmeansCtes(8, 2, 64)}\n" +
          """SELECT CAST(cluster AS BIGINT) AS cell,
            |       count(*) AS n_rows
            |FROM a2 GROUP BY 1""".stripMargin),

      // SQ8 serving: the ann_int8_topk snap/normalize grid restricted
      // to the 2 probed trained cells, cosine top-3 — grid, cells and
      // ranking all replayed
      "ann_ivfsq_indexed" ->
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
            |  FROM ssc) WHERE rank <= 3""".stripMargin),

      // SQ8 vs float trained-IVF at equal probes: the snap grid (sq0/
      // sdq/snv — the ann_ivfsq_indexed fragments at maxQueryId=10) and
      // the raw-normalized tnv/tcc/tqp fragments share the kmeans
      // cells; one exact-cosine leg over tnv serves both recall blocks
      "ann_ivfsq_recall" ->
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
          recallSelectSql("ivf_float", "flapx")),

      // the layout check: every len-64 vector lands in its a2 cell's
      // directory (the build row's per-cell counts)
      "ann_ivfpqt_build" ->
        (s"WITH ${kmeansCtes(8, 2, 64)}\n" +
          """SELECT CAST(cluster AS BIGINT) AS cell,
            |       count(*) AS n_rows
            |FROM a2 GROUP BY 1""".stripMargin),

      // residual-trained vs seeded-raw fine quantizer under the SAME
      // trained coarse cells, one exact-L2 leg over the len-64
      // universe; seeded fragments mirror ann_ivfpqt_recall's trained
      // leg (pqEncodeCtes reconstructions over a2 cells)
      "ann_ivfpqt2_recall" ->
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
          recallSelectSql("ivfpq_seeded", "tapx")),

      // trained-PQ ADC: the Lloyd round and encode replayed in SQL;
      // queries are the same quantized vectors, so every score is the
      // shared fold on bit-identical trained reconstructions
      "ann_pqt_topk" ->
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
            |  FROM sct) WHERE rank <= 5""".stripMargin),

      // approximate = the IVF+PQ ranking above; exact = raw-vector L2
      // via the same comparison idiom; hits aggregated per query with
      // the actual exact-result size as the denominator
      "ann_pq_recall" ->
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
            |  GROUP BY 1)""".stripMargin),

      // ann_brute_topk's ranking verbatim
      "ann_int8_topk" ->
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
          |  FROM s) WHERE rank <= 5""".stripMargin,

      "ann_brute_topk" ->
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
          |  FROM s) WHERE rank <= 5""".stripMargin,

      "ann_sign_lsh" ->
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
          |  FROM s) WHERE rank <= 3""".stripMargin),

      // the LSH CTEs are ann_sign_lsh's verbatim; the exact side reuses the
      // normalized corpus e and ranks without the bucket gate
      "ann_recall_eval" ->
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
          |  GROUP BY 1)""".stripMargin),

      // two exact rankings (full 64 dims vs the 16-dim prefix), the
      // shared recall join; normalize-after-slice matches the engine
      "embed_matryoshka" ->
        """WITH ec AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          |            FROM embeddings WHERE len(embedding) >= 64),
          |ef AS (SELECT vec_id,
          |         list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS v
          |       FROM ec),
          |et0 AS (SELECT vec_id, v[1:16] AS v FROM ec),
          |et AS (SELECT vec_id,
          |         list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS v
          |       FROM et0),
          |qf AS (SELECT vec_id AS query_id, v AS qv FROM ef WHERE vec_id < 30),
          |qt AS (SELECT vec_id AS query_id, v AS qv FROM et WHERE vec_id < 30),
          |xf AS (SELECT qf.query_id, ef.vec_id AS neighbor_id,
          |              list_dot_product(qf.qv, ef.v) AS score
          |       FROM ef, qf WHERE ef.vec_id <> qf.query_id),
          |exa AS (SELECT query_id, neighbor_id FROM (
          |  SELECT query_id, neighbor_id,
          |         row_number() OVER (PARTITION BY query_id
          |                            ORDER BY score DESC, neighbor_id) AS rank
          |  FROM xf) WHERE rank <= 5),
          |xt AS (SELECT qt.query_id, et.vec_id AS neighbor_id,
          |              list_dot_product(qt.qv, et.v) AS score
          |       FROM et, qt WHERE et.vec_id <> qt.query_id),
          |apx AS (SELECT query_id, neighbor_id FROM (
          |  SELECT query_id, neighbor_id,
          |         row_number() OVER (PARTITION BY query_id
          |                            ORDER BY score DESC, neighbor_id) AS rank
          |  FROM xt) WHERE rank <= 5)
          |SELECT query_id, n_hits,
          |       round(n_hits / CAST(n_exact AS DOUBLE), 6) AS recall FROM (
          |  SELECT exa.query_id,
          |         CAST(sum(CASE WHEN apx.neighbor_id IS NOT NULL
          |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
          |         COUNT(*) AS n_exact
          |  FROM exa LEFT JOIN apx
          |    ON apx.query_id = exa.query_id
          |   AND apx.neighbor_id = exa.neighbor_id
          |  GROUP BY 1)""".stripMargin,

      // the packed sign fingerprint rebuilt from the verbatim plane
      // literals (hammingWordSql), then integer XOR+popcount ranking —
      // every score an exact BIGINT, no float leg
      "ann_hamming_topk" ->
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
           |  FROM s) WHERE rank <= 5""".stripMargin,

      // the Hamming slate joined against the exact cosine top-5 (the
      // ann_graph_recall eval shape): denominator = the exact slate's
      // actual per-query size
      "ann_hamming_recall" ->
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
           |  GROUP BY 1)""".stripMargin,

      // prefix-bucket blocking replayed: corpus words land in ONE
      // bucket (top-6 bits), each query probes its own prefix plus the
      // 6 at prefix-Hamming distance 1, recall joined vs the full scan
      "ann_hamming_blocked" -> hammingBlockedRecallSql,

      // the MATERIALIZED layout changes WHERE candidate rows are read
      // from (pruned bucket partitions), not WHICH rows exist — the
      // query is row-identical to ann_hamming_blocked by construction,
      // so it shares the oracle verbatim
      "ann_hamming_indexed" -> hammingBlockedRecallSql,

      // the store BUILD's layout check: per-bucket fingerprint counts —
      // the word's top-6 bits replayed from the same plane literals, so
      // the oracle pins WHICH rows the write put in WHICH partition
      "ann_hamming_build" ->
        s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           |           FROM embeddings WHERE len(embedding) >= 64),
           |w AS (SELECT ${hammingWordSql("v", 48, 64)} AS word FROM e)
           |SELECT word >> 42 AS bucket,
           |       CAST(count(*) AS BIGINT) AS n_rows
           |FROM w GROUP BY 1""".stripMargin,

      // one ranked Hamming list + one exact leg, then a shortlist→
      // rerank→recall block per candK — generated from the SAME sweep
      // points as the Spark query
      "ann_hamming_sizing" -> hammingSizingSql(hammingSizingCandKs),

      // the sizing sweep transposed to the BITS axis: per signature
      // width its own plane-literal word CTE, shortlist at the fixed
      // candK, rerank, recall — same generated-from-shared-constants
      // discipline
      "ann_hamming_bits" ->
        hammingBitsSql(hammingSizingBits, hammingBitsCandK),

      // Hamming shortlist (rank ≤ 50 by integer distance) → exact-cosine
      // rerank of only the shortlist → recall join vs the exact top-5
      "ann_hamming_rerank" ->
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
           |  GROUP BY 1)""".stripMargin,

      "ann_ivf_topk" -> ivfTopKSql,

      // the partitioned cell store changes WHERE candidate rows are
      // read from (PartitionFilters-pruned cell directories), not which
      // rows exist — row-identical to ann_ivf_topk, same oracle
      "ann_ivf_indexed" -> ivfTopKSql,

      // trained-IVF: the kmeans training replayed round for round
      // (kmeansCtes — the embed_kmeans discipline), then probe the 2
      // nearest TRAINED cells; the store only changes where candidate
      // rows are read from
      "ann_ivft_indexed" -> ivfTrainedTopKSql,

      // cold-session serving from the sidecar quantizer is row-identical
      // to the cached-quantizer path (bit-equal centroids) — same oracle
      "ann_ivft_served" -> ivfTrainedTopKSql,

      // the trained store's layout check: per-cell counts = the a2
      // assignment the engine's argmin-struct cells must reproduce
      "ann_ivft_build" ->
        (s"WITH ${kmeansCtes(8, 2, 64)}\n" +
          """SELECT CAST(cluster AS BIGINT) AS cell,
            |       CAST(count(*) AS BIGINT) AS n_rows
            |FROM a2 GROUP BY 1""".stripMargin),

      // trained vs axis cells at equal probes, one exact leg
      "ann_ivft_recall" -> ivfTrainedRecallSql,

      // recall along the probes axis the trained quantizer unlocks;
      // p = 8 probes every cell (recall 1.0 anchor)
      "ann_ivft_probes" -> ivfTrainedProbesSql(ivftProbeSweep),

      // the IVF store BUILD's layout check: per-cell vector counts via
      // the shared axis-cell fragment (the axis IVF store keeps vectors with
      // len ≥ m = 4)
      "ann_ivf_build" ->
        (s"""WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            |            FROM embeddings WHERE len(embedding) >= 4),
            |""".stripMargin + ivfCellCtes("e0") + """
            |SELECT CAST(cell_w AS BIGINT) AS cell,
            |       CAST(count(*) AS BIGINT) AS n_rows
            |FROM ivcell GROUP BY 1""".stripMargin),

      // replays CountMin.build + probe exactly: 32-bit md5-prefix buckets
      // of the row-salted token, min over the d=3 counter rows
      "freq_cms_est" ->
        s"""WITH $toksCte,
           |tok AS (SELECT unnest(toks) AS token FROM t),
           |cnt AS (SELECT token, count(*) AS true_count FROM tok GROUP BY 1),
           |top AS (SELECT token, true_count FROM cnt
           |        ORDER BY true_count DESC, token LIMIT 30),
           |keys AS (SELECT token, r.i,
           |           (('0x' || substr(md5(CAST(r.i AS VARCHAR) || ':' || token),
           |                            1, 8))::BIGINT) % 512 AS bucket
           |         FROM tok, (SELECT unnest([0, 1, 2]) AS i) r),
           |cms AS (SELECT i, bucket, count(*) AS cnt FROM keys GROUP BY 1, 2),
           |pk AS (SELECT top.token, top.true_count, r.i,
           |          (('0x' || substr(md5(CAST(r.i AS VARCHAR) || ':' || top.token),
           |                           1, 8))::BIGINT) % 512 AS bucket
           |       FROM top, (SELECT unnest([0, 1, 2]) AS i) r)
           |SELECT pk.token, pk.true_count,
           |       CAST(min(coalesce(cms.cnt, 0)) AS BIGINT) AS est_count
           |FROM pk LEFT JOIN cms ON cms.i = pk.i AND cms.bucket = pk.bucket
           |GROUP BY 1, 2""".stripMargin,

      // name-grain collapse, last-token block, length-band gate, exact
      // levenshtein — DuckDB's levenshtein has the same unit-cost
      // semantics as Spark's
      "er_blocked_match" ->
        """WITH n AS (SELECT p_name AS name, count(*) AS n,
          |                  string_split(p_name, ' ')[-1] AS block,
          |                  length(p_name) AS len
          |           FROM part GROUP BY 1)
          |SELECT a.name AS name_a, b.name AS name_b,
          |       CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist,
          |       a.n AS n_a, b.n AS n_b
          |FROM n a JOIN n b ON a.block = b.block AND a.name < b.name
          |WHERE abs(a.len - b.len) <= 3
          |  AND levenshtein(a.name, b.name) <= 3""".stripMargin,

      // ann_brute_topk's ranking CTEs at k=5 over the query sample, the
      // same-label relevance join, and the SHARED 9-dp discount-weight
      // literals (Similarity.ndcgWeights — libm log2 never runs in either
      // engine); DCG sums are exact DECIMAL(28,9)
      // the brute fragment at candK=25, labels joined on both sides,
      // same-label candidates dropped, per-query re-rank to 5
      "ann_hard_negatives" ->
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
          |WHERE hn_rank <= 5""".stripMargin,

      // the brute hard-negative slate (the ann_hard_negatives CTEs) as
      // the exact baseline, the IVF cell-pruned slate (the ann_ivf_topk
      // cell CTEs at candK=25) as the mining leg, recallAtK's join:
      // denominator = the brute slate's ACTUAL per-query size
      "ann_hard_negatives_ivf" ->
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
          |GROUP BY 1""".stripMargin),

      "eval_rank_metrics" -> {
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
      },

      "embed_cosine_neardup" ->
        (s"""WITH ec AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           |            FROM embeddings),
           |e0 AS (
           |  SELECT vec_id, v,
           |         ${rotatedBucketSql("v", 2, 64)} AS bucket
           |  FROM ec),""".stripMargin + "\n" +
        """e AS (SELECT vec_id,
          |        list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS v,
          |        bucket
          |      FROM e0)
          |SELECT id_a, id_b, score FROM (
          |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          |         round(list_dot_product(a.v, b.v), 6) AS score
          |  FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
          |WHERE score >= 0.35""".stripMargin),

      "embed_neardup_banded" ->
        (s"""WITH ec AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           |            FROM embeddings WHERE len(embedding) >= 64),
           |e0 AS (
           |  SELECT vec_id, v,
           |         ${rotatedBucketSql("v", 4, 64)} AS bk0,
           |         ${rotatedBucketSql("v", 4, 64, Similarity.DefaultSeed + 1)} AS bk1
           |  FROM ec),""".stripMargin + "\n" +
        """e AS (SELECT vec_id,
          |        list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS v,
          |        bk0, bk1
          |      FROM e0)
          |SELECT id_a, id_b, score FROM (
          |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          |         round(list_dot_product(a.v, b.v), 6) AS score
          |  FROM e a JOIN e b
          |    ON a.vec_id < b.vec_id
          |   AND (a.bk0 = b.bk0 OR a.bk1 = b.bk1))
          |WHERE score >= 0.35""".stripMargin),

      // the blocking sizing sweep: brute pair truth + per-(b,bands)
      // collision counts (generator doc at neardupSizingSql)
      "embed_neardup_sizing" -> neardupSizingSql(neardupSizingSweep),

      // the banded-OR join emits one row per colliding pair (SQL join
      // semantics — no dedup needed, unlike the Spark side's per-band
      // explode); rank on the unrounded score, round only in the output
      "knn_graph" ->
        (s"""WITH ec AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           |            FROM embeddings WHERE len(embedding) >= 64),
           |e0 AS (
           |  SELECT vec_id, v,
           |         ${rotatedBucketSql("v", 4, 64)} AS bk0,
           |         ${rotatedBucketSql("v", 4, 64, Similarity.DefaultSeed + 1)} AS bk1
           |  FROM ec),""".stripMargin + "\n" +
        """e AS (SELECT vec_id,
          |        list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS nv,
          |        bk0, bk1
          |      FROM e0),
          |s AS (SELECT a.vec_id AS src, b.vec_id AS dst,
          |             list_dot_product(a.nv, b.nv) AS score
          |      FROM e a JOIN e b
          |        ON a.vec_id <> b.vec_id
          |       AND (a.bk0 = b.bk0 OR a.bk1 = b.bk1))
          |SELECT src, rank, dst, round(score, 6) AS score FROM (
          |  SELECT src, dst, score,
          |         CAST(row_number() OVER (PARTITION BY src
          |                                 ORDER BY score DESC, dst) AS BIGINT) AS rank
          |  FROM s) WHERE rank <= 3""".stripMargin),

      // knn_graph's CTEs verbatim + the mutuality self-join on the
      // rank-truncated edge set
      "knn_graph_mutual" ->
        (s"""WITH ec AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           |            FROM embeddings WHERE len(embedding) >= 64),
           |e0 AS (
           |  SELECT vec_id, v,
           |         ${rotatedBucketSql("v", 4, 64)} AS bk0,
           |         ${rotatedBucketSql("v", 4, 64, Similarity.DefaultSeed + 1)} AS bk1
           |  FROM ec),""".stripMargin + "\n" +
        """e AS (SELECT vec_id,
          |        list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS nv,
          |        bk0, bk1
          |      FROM e0),
          |s AS (SELECT a.vec_id AS src, b.vec_id AS dst,
          |             list_dot_product(a.nv, b.nv) AS score
          |      FROM e a JOIN e b
          |        ON a.vec_id <> b.vec_id
          |       AND (a.bk0 = b.bk0 OR a.bk1 = b.bk1)),
          |g AS (SELECT src, dst, score FROM (
          |  SELECT src, dst, score,
          |         row_number() OVER (PARTITION BY src
          |                            ORDER BY score DESC, dst) AS rank
          |  FROM s) WHERE rank <= 3)
          |SELECT a.src AS id_a, a.dst AS id_b, round(a.score, 6) AS score
          |FROM g a JOIN g b ON a.src = b.dst AND a.dst = b.src
          |WHERE a.src < a.dst""".stripMargin),

      // knn_graph's edge CTEs + the unrolled integer PageRank iterations;
      // every mass op is floor-division on non-negative ints, so `//`
      // replays Spark's `div` bit-exactly (SUM promotes to HUGEINT in
      // DuckDB — numerically identical, cast back at the end)
      "graph_pagerank" ->
        (s"WITH $knnEdgeCtes,\n" +
          "nodes AS (SELECT vec_id AS id FROM ec),\n" +
          pagerankCtes(iters = 3, dampPct = 85, scale = 1000000000000L) +
          """
            |SELECT id AS vec_id, CAST(pr AS BIGINT) AS pr_fp,
            |       CAST(pr // 1000000 AS BIGINT) AS pr_ppm
            |FROM p3""".stripMargin),

      // the same knn candidates re-ranked WITH their 6dp score kept,
      // integer-scaled to the weight grid exactly as the engine does
      // (round6 → ×10⁶ → round0 → BIGINT, w > 0)
      "graph_pagerank_weighted" ->
        (s"WITH $knnEdgeCtes,\n" +
          """gw AS (SELECT src, dst, w FROM (
            |  SELECT src, dst,
            |         CAST(round(round(score, 6) * 1000000.0, 0) AS BIGINT)
            |           AS w,
            |         row_number() OVER (PARTITION BY src
            |                            ORDER BY score DESC, dst) AS rank
            |  FROM s) WHERE rank <= 3 AND w > 0),
            |nodes AS (SELECT vec_id AS id FROM ec),
            |""".stripMargin +
          pagerankWeightedCtes(iters = 3, dampPct = 85,
            scale = 1000000000000L) +
          """
            |SELECT id AS vec_id, CAST(pr AS BIGINT) AS pr_fp,
            |       CAST(pr // 1000000 AS BIGINT) AS pr_ppm
            |FROM p3""".stripMargin),

      // knn edge CTEs + the hop-unrolled greedy walk
      "ann_graph_search" ->
        (s"WITH $knnEdgeCtes,\n" +
          graphSearchCtes(beam = 8, hops = 3, nQueries = 10) +
          """
            |SELECT query_id, CAST(rank AS BIGINT) AS rank,
            |       id AS neighbor_id, round(score, 6) AS score
            |FROM (SELECT query_id, id, score, row_number() OVER (
            |        PARTITION BY query_id
            |        ORDER BY score DESC, id) AS rank
            |      FROM v3 WHERE id <> query_id)
            |WHERE rank <= 5""".stripMargin),

      // the seeded walk's hop unroll + the shared recall idiom: exact =
      // brute-force cosine over the normalized corpus, approx = v3's
      // top-5, denominator the actual exact-result size
      "ann_graph_recall" ->
        (s"WITH $knnEdgeCtes,\n" +
          graphSearchSeededCtes(beam = 8, hops = 3, nQueries = 10) +
          """,
            |apx AS (SELECT query_id, id AS neighbor_id FROM (
            |  SELECT query_id, id, row_number() OVER (
            |    PARTITION BY query_id ORDER BY score DESC, id) AS rank
            |  FROM v3 WHERE id <> query_id) WHERE rank <= 5),
            |xq AS (SELECT vec_id AS query_id, nv AS qv FROM e
            |       WHERE vec_id < 10),
            |x AS (SELECT xq.query_id, e.vec_id AS neighbor_id,
            |        list_dot_product(qv, e.nv) AS score
            |      FROM e, xq WHERE e.vec_id <> xq.query_id),
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

      // mutual edges from the same CTEs; the dedup_clusters recursive
      // min-root reach, over the sparsified similarity substrate
      "graph_components" ->
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
            |FROM reach GROUP BY 1""".stripMargin),

      // symmetrized kNN edges + the unrolled clamped-seed majority rounds
      "graph_labelprop" ->
        (s"WITH $knnEdgeCtes,\n" +
          """sym AS (SELECT src, dst FROM g UNION SELECT dst, src FROM g),
            |nodes AS (SELECT vec_id AS id FROM ec),
            |seeds AS (SELECT vec_id AS id, CAST(label AS BIGINT) AS seed
            |          FROM embeddings
            |          WHERE len(embedding) >= 64 AND vec_id < 100),
            |""".stripMargin +
          labelPropCtes(3) +
          "\nSELECT id AS vec_id, label FROM l3"),

      // the seeded variant: teleport mass gated by the seed flag
      "graph_ppr" ->
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
            |FROM p3""".stripMargin),

      // same edge CTEs; full outer degree merge
      "graph_degree" ->
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
            |FROM o FULL OUTER JOIN i ON o.id = i.id""".stripMargin),

      // same edge CTEs; the unrolled L1-normalized HITS half-steps —
      // every mass op integer floor-division on non-negative values, so
      // `//` replays Spark's `div` bit-exactly
      "graph_hits" ->
        (s"WITH $knnEdgeCtes,\n" +
          "nodes AS (SELECT vec_id AS id FROM ec),\n" +
          hitsCtes(iters = 3, scale = 100000000L) +
          """
            |SELECT a3.id AS vec_id, CAST(a3.auth AS BIGINT) AS auth_fp,
            |       CAST(h3.hub AS BIGINT) AS hub_fp
            |FROM a3 JOIN h3 ON a3.id = h3.id""".stripMargin),

      // mutual edges from the same CTEs; degree-ordered orientation, the
      // wedge self-join at the lowest-ordered corner, the closing-edge
      // equi-join, and the exploded per-corner count — integer lcc ppm
      "graph_triangles" ->
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
            |              LEFT JOIN pern p ON p.id = nd.id""".stripMargin),

      // mutual edges, symmetrized adjacency, the wedge self-join minus
      // existing edges, then exact-count / integer-nano-mass / integer-ppm
      // scores — all three outputs exact integers (the graph family's
      // fixed-point discipline; round halves match Spark↔DuckDB on the
      // strictly-positive terms), `//` floors like Spark's div on the
      // non-negative counts
      "graph_adamic" ->
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
            |        JOIN dg dw ON dw.id = sc.w""".stripMargin),

      // graph_adamic's mutual-edge CTE, then 3 unrolled peel rounds
      // (degree aggregate → keep ≥ k → restrict edges) and a final
      // membership test — MATERIALIZED per round so DuckDB never
      // re-executes the upstream LSH join through the unroll
      "graph_kcore" ->
        (s"WITH $knnEdgeCtes,\n$kcorePeelCtes,\n" +
          """fin AS (SELECT id, count(*) AS deg FROM (
            |          SELECT a AS id FROM e3 UNION ALL SELECT b FROM e3)
            |        GROUP BY 1 HAVING count(*) >= 2),
            |nodes AS (SELECT vec_id AS id FROM ec)
            |SELECT nd.id AS vec_id,
            |       f.id IS NOT NULL AS in_core,
            |       CAST(coalesce(f.deg, 0) AS BIGINT) AS core_deg
            |FROM nodes nd LEFT JOIN fin f ON f.id = nd.id""".stripMargin),

      // graph_kcore's peel chain plus ONE extra unrolled round: survivor
      // counts at R and R+1, the count of residual vertices still below
      // k (the next round's peel set), and the SOUND convergence flag
      // pending_below_k == 0 — the certificate the kCore scaladoc used
      // to leave to the caller
      "graph_kcore_cert" ->
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
            |         AS converged""".stripMargin),

      "embed_project" ->
        (s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           |           FROM embeddings WHERE len(embedding) >= 64),
           |p AS (SELECT vec_id,
           |       ${projectionSql("v", 8, 64)} AS projected
           |FROM e)
           |SELECT vec_id,
           |       generate_subscripts(projected, 1) - 1 AS pos,
           |       unnest(projected) AS component
           |FROM p""".stripMargin),

      "embed_kmeans" ->
        (s"WITH ${kmeansCtes(8, 2, 64)}\n" +
          "SELECT vec_id, CAST(cluster AS BIGINT) AS cluster FROM a2"),

      // centroid silhouette over the same unrolled kmeans state: both
      // distances derive from the raw per-centroid score rows (min
      // commutes with the constant +w·w addition — IEEE rounding is
      // monotone), the "other" leg excludes the ASSIGNED index, sqrt +
      // one division on identical operands
      "cluster_silhouette" ->
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
            |FROM fin""".stripMargin),

      // power iteration unrolled: per-row dots and u-sums are exact
      // dyadics (orderless SUM ≡ the engine's sequential folds); only
      // the normalization divisions and the final sqrt are IEEE ops on
      // identical operands. The nrm=0 degenerate branch nulls here while
      // the engine keeps the previous direction — unreachable on any
      // non-degenerate corpus, documented at the operator.
      "embed_pca" ->
        (s"WITH ${pcaCtes(iters = 2, dim = 64)}\n" +
          """SELECT CAST(i - 1 AS BIGINT) AS pos, v AS component,
            |       round((SELECT nrm FROM n2), 6) AS eigenvalue
            |FROM v2""".stripMargin),

      // deflated power iteration unrolled component-for-component and
      // round-for-round; the deflation subtraction is 2⁻¹²-floored on
      // both sides, so exactness is closed under deflation
      "embed_pca_k" ->
        (s"WITH ${pcaDeflateCtes(nComp = 3, iters = 2, dim = 64)}\n" +
          (1 to 3).map(c =>
            s"""SELECT CAST($c AS BIGINT) AS comp,
               |       CAST(i - 1 AS BIGINT) AS pos, v AS component,
               |       round((SELECT nrm FROM n${c}_2), 6) AS eigenvalue
               |FROM v${c}_2""".stripMargin).mkString("\nUNION ALL\n")),

      // same training CTEs + one projection pass; (x−mean)·v is an exact
      // dyadic sum, orderless ≡ the engine's fold
      "embed_pca_project" ->
        (s"WITH ${pcaCtes(iters = 2, dim = 64)}\n" +
          """SELECT vec_id, round(SUM(xc * v), 6) AS projection
            |FROM xc JOIN v2 USING (i) GROUP BY vec_id""".stripMargin),

      // the deflated-component CTEs verbatim; every coordinate projects
      // the ORIGINAL centered frame xc1 (deflation trains components,
      // whitening serves from x−μ), scaled by 1/sqrt(round(nrm, 6)) —
      // one IEEE sqrt+divide on identical inputs, engine-exact
      "embed_whiten" ->
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
            |         JOIN wh3 USING (vec_id)""".stripMargin),

      "search_phrase" ->
        """WITH t AS (SELECT doc_id, i - 1 AS pos, toks[i] AS tok FROM (
          |  SELECT doc_id, string_split_regex(text, '\s+') AS toks,
          |         unnest(generate_series(1, len(toks))) AS i
          |  FROM documents))
          |SELECT a.doc_id, CAST(count(*) AS BIGINT) AS n_occurrences
          |FROM t a JOIN t b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
          |WHERE a.tok = 'table' AND b.tok = 'hash'
          |GROUP BY 1""".stripMargin,

      // dyadic-quantized component sums (exact in any order) → one
      // correctly-rounded division per centroid component → the shared
      // sequential-fold dot for the cosine; mirrors Clustering.centroidDrift
      "embed_source_drift" ->
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
          |FROM cent a JOIN cent b ON a.label < b.label""".stripMargin,

      // same two Lloyd rounds; the final assignment re-derived from s2 so
      // the chosen score s rides along, d2 = s + w·w (addition commutes,
      // both terms are the shared sequential-fold dot)
      "embed_outliers" ->
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
            |  FROM f) WHERE rank <= 3""".stripMargin),

      // hot-cluster cap mirrored: clusters past 128 members split into
      // ceil(size/128) sub-buckets keyed by the 52-bit md5 uniform of the
      // id (the shared hash discipline); pairs score only within a
      // (cluster, sub) — `%` on the non-negative 52-bit uniform ≡ pmod
      "semdedup" ->
        (s"WITH ${kmeansCtes(8, 2, 64)},\n" +
          """nv AS (SELECT e.vec_id, a2.cluster,
            |        list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS nv
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
            |WHERE vec_id NOT IN (SELECT vec_id FROM dom)""".stripMargin),

      // positional sliding shingles → global multiplicity → per-doc
      // gaps-and-islands (pos − row_number) → runs ≥ 2 windows; token
      // indices 0-based inclusive, mirroring Dedup.duplicateSpans
      "dedup_spans" ->
        """WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks
          |           FROM documents),
          |tf AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 4),
          |s AS (SELECT doc_id, i - 1 AS pos,
          |             md5(array_to_string(toks[i:i+3], ' ')) AS h
          |      FROM (SELECT doc_id, toks,
          |                   unnest(generate_series(1, len(toks) - 3)) AS i
          |            FROM tf)),
          |m AS (SELECT h, count(*) AS mult FROM s GROUP BY 1),
          |d AS (SELECT s.doc_id, s.pos FROM s JOIN m USING (h)
          |      WHERE m.mult >= 2),
          |r AS (SELECT doc_id, pos,
          |             pos - row_number() OVER (PARTITION BY doc_id
          |                                      ORDER BY pos) AS grp
          |      FROM d),
          |g AS (SELECT doc_id, grp, min(pos) AS span_start,
          |             max(pos) AS last_sh, count(*) AS run
          |      FROM r GROUP BY 1, 2)
          |SELECT doc_id, CAST(span_start AS BIGINT) AS span_start,
          |       CAST(last_sh + 3 AS BIGINT) AS span_end,
          |       CAST(run + 3 AS BIGINT) AS n_tokens
          |FROM g WHERE run >= 2""".stripMargin,

      // the spans' interval union per doc (second gaps-and-islands:
      // a new island where span_start exceeds the running max end),
      // then coverage / token count
      "dedup_span_ratio" ->
        """WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks
          |           FROM documents),
          |tf AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 4),
          |s AS (SELECT doc_id, i - 1 AS pos,
          |             md5(array_to_string(toks[i:i+3], ' ')) AS h
          |      FROM (SELECT doc_id, toks,
          |                   unnest(generate_series(1, len(toks) - 3)) AS i
          |            FROM tf)),
          |m AS (SELECT h, count(*) AS mult FROM s GROUP BY 1),
          |d AS (SELECT s.doc_id, s.pos FROM s JOIN m USING (h)
          |      WHERE m.mult >= 2),
          |r AS (SELECT doc_id, pos,
          |             pos - row_number() OVER (PARTITION BY doc_id
          |                                      ORDER BY pos) AS grp
          |      FROM d),
          |g AS (SELECT doc_id, grp, min(pos) AS span_start,
          |             max(pos) AS last_sh, count(*) AS run
          |      FROM r GROUP BY 1, 2),
          |g2 AS (SELECT doc_id, span_start, last_sh + 3 AS span_end
          |       FROM g WHERE run >= 2),
          |i0 AS (SELECT doc_id, span_start, span_end,
          |         CASE WHEN span_start > COALESCE(max(span_end) OVER (
          |                PARTITION BY doc_id ORDER BY span_start
          |                ROWS BETWEEN UNBOUNDED PRECEDING
          |                         AND 1 PRECEDING), -1)
          |              THEN 1 ELSE 0 END AS newf
          |       FROM g2),
          |i1 AS (SELECT *, SUM(newf) OVER (
          |          PARTITION BY doc_id ORDER BY span_start
          |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |          AS isl
          |       FROM i0),
          |cov AS (SELECT doc_id, isl,
          |               max(span_end) - min(span_start) + 1 AS covered
          |        FROM i1 GROUP BY 1, 2),
          |dt AS (SELECT doc_id, SUM(covered) AS dup_tokens
          |       FROM cov GROUP BY 1)
          |SELECT b.doc_id,
          |       CAST(len(string_split_regex(b.text, '\s+')) AS BIGINT)
          |         AS n_doc_tokens,
          |       CAST(COALESCE(dt.dup_tokens, 0) AS BIGINT) AS dup_tokens,
          |       round(CAST(COALESCE(dt.dup_tokens, 0) AS DOUBLE) /
          |             len(string_split_regex(b.text, '\s+')), 6)
          |         AS dup_ratio
          |FROM documents b LEFT JOIN dt USING (doc_id)""".stripMargin,

      // same islands; the cut replayed at token grain (the engine cuts
      // map-side with an indexed lambda — same result, DuckDB joins)
      "dedup_spans_clean" ->
        """WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks
          |           FROM documents),
          |tf AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 4),
          |s AS (SELECT doc_id, i - 1 AS pos,
          |             md5(array_to_string(toks[i:i+3], ' ')) AS h
          |      FROM (SELECT doc_id, toks,
          |                   unnest(generate_series(1, len(toks) - 3)) AS i
          |            FROM tf)),
          |m AS (SELECT h, count(*) AS mult FROM s GROUP BY 1),
          |d AS (SELECT s.doc_id, s.pos FROM s JOIN m USING (h)
          |      WHERE m.mult >= 2),
          |r AS (SELECT doc_id, pos,
          |             pos - row_number() OVER (PARTITION BY doc_id
          |                                      ORDER BY pos) AS grp
          |      FROM d),
          |g AS (SELECT doc_id, grp, min(pos) AS span_start,
          |             max(pos) AS last_sh, count(*) AS run
          |      FROM r GROUP BY 1, 2),
          |g2 AS (SELECT doc_id, span_start, last_sh + 3 AS span_end
          |       FROM g WHERE run >= 2),
          |i0 AS (SELECT doc_id, span_start, span_end,
          |         CASE WHEN span_start > COALESCE(max(span_end) OVER (
          |                PARTITION BY doc_id ORDER BY span_start
          |                ROWS BETWEEN UNBOUNDED PRECEDING
          |                         AND 1 PRECEDING), -1)
          |              THEN 1 ELSE 0 END AS newf
          |       FROM g2),
          |i1 AS (SELECT *, SUM(newf) OVER (
          |          PARTITION BY doc_id ORDER BY span_start
          |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |          AS isl
          |       FROM i0),
          |iv AS (SELECT doc_id, isl, min(span_start) AS s,
          |              max(span_end) AS e
          |       FROM i1 GROUP BY 1, 2),
          |tok AS (SELECT doc_id, i - 1 AS pos, toks[i] AS tok
          |        FROM (SELECT doc_id, toks,
          |                     unnest(generate_series(1, len(toks))) AS i
          |              FROM t)),
          |kept AS (SELECT tk.doc_id, tk.pos, tk.tok
          |         FROM tok tk LEFT JOIN iv
          |           ON iv.doc_id = tk.doc_id
          |          AND tk.pos BETWEEN iv.s AND iv.e
          |         WHERE iv.doc_id IS NULL)
          |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
          |       CAST(len(t.toks) - count(k.tok) AS BIGINT) AS n_removed,
          |       COALESCE(array_to_string(list(k.tok ORDER BY k.pos), ' '),
          |                '') AS clean_text
          |FROM t LEFT JOIN kept k USING (doc_id)
          |GROUP BY t.doc_id, len(t.toks)""".stripMargin,

      "dedup_chunks" ->
        """WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks
          |           FROM documents WHERE len(string_split_regex(text, '\s+')) >= 1),
          |c AS (SELECT doc_id,
          |             CAST(ceil(len(toks) / 3.0) AS BIGINT) AS n_chunks,
          |             i AS chunk_idx,
          |             array_to_string(toks[(i*3+1):(i*3+3)], ' ') AS chunk
          |      FROM (SELECT doc_id, toks,
          |                   unnest(generate_series(
          |                     0, CAST(ceil(len(toks) / 3.0) AS BIGINT) - 1)) AS i
          |            FROM t)),
          |k AS (SELECT * FROM (
          |        SELECT *, row_number() OVER (PARTITION BY md5(chunk)
          |                    ORDER BY doc_id, chunk_idx) AS rn
          |        FROM c) WHERE rn = 1)
          |SELECT doc_id, any_value(n_chunks) AS n_chunks,
          |       count(*) AS n_kept,
          |       array_to_string(list(chunk ORDER BY chunk_idx), ' ')
          |         AS clean_text
          |FROM k GROUP BY doc_id""".stripMargin,

      // shares dedup_chunks' chunker CTE; multiplicity is corpus-wide
      // occurrence count of the chunk hash (within-document repeats
      // included — see Dedup.chunkDupStats)
      "dedup_dupratio" ->
        s"""WITH $chunkMultCtes
           |SELECT doc_id, n_chunks, n_dup,
           |       round(CAST(n_dup AS DOUBLE) / n_chunks, 6) AS dup_ratio,
           |       round(CAST(n_dup AS DOUBLE) / n_chunks, 6) <= 0.5 AS keep
           |FROM sdp""".stripMargin,

      "softdedup_weights" ->
        s"""WITH $chunkMultCtes
           |SELECT doc_id, sum_mult,
           |       round(CAST(n_chunks AS DOUBLE) / sum_mult, 6)
           |         AS soft_weight
           |FROM sdp""".stripMargin,

      // sample_weighted's priority construction over the soft weights
      "sample_softdedup" ->
        s"""WITH $chunkMultCtes,
           |sw AS (SELECT doc_id,
           |         round(CAST(n_chunks AS DOUBLE) / sum_mult, 6)
           |           AS soft_weight
           |       FROM sdp),
           |p AS (SELECT doc_id, soft_weight,
           |        (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))
           |           ::BIGINT / 4503599627370496.0) / soft_weight AS pri
           |      FROM sw WHERE soft_weight > 0)
           |SELECT doc_id, soft_weight, round(pri, 12) AS priority
           |FROM p ORDER BY pri, doc_id LIMIT 100""".stripMargin,

      // dedup_chunks' chunker, but EVERY occurrence of a chunk with
      // corpus multiplicity >= 2 dies (boilerplate posture), then the
      // same ordered reassembly
      "text_deboilerplate" ->
        """WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks
          |           FROM documents WHERE len(string_split_regex(text, '\s+')) >= 1),
          |c AS (SELECT doc_id,
          |             CAST(ceil(len(toks) / 3.0) AS BIGINT) AS n_chunks,
          |             i AS chunk_idx,
          |             array_to_string(toks[(i*3+1):(i*3+3)], ' ') AS chunk
          |      FROM (SELECT doc_id, toks,
          |                   unnest(generate_series(
          |                     0, CAST(ceil(len(toks) / 3.0) AS BIGINT) - 1)) AS i
          |            FROM t)),
          |m AS (SELECT md5(chunk) AS h, count(*) AS mult
          |      FROM c GROUP BY md5(chunk)),
          |k AS (SELECT c.* FROM c JOIN m ON md5(c.chunk) = m.h
          |      WHERE m.mult < 2)
          |SELECT doc_id, any_value(n_chunks) AS n_chunks,
          |       count(*) AS n_kept,
          |       array_to_string(list(chunk ORDER BY chunk_idx), ' ')
          |         AS clean_text
          |FROM k GROUP BY doc_id""".stripMargin,

      // per-doc first-occurrence keep ordered by chunk_idx — the window
      // formulation, because DuckDB's list_distinct does not document
      // order preservation (Spark's array_distinct does)
      "dedup_within" ->
        """WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks
          |           FROM documents WHERE len(string_split_regex(text, '\s+')) >= 1),
          |c AS (SELECT doc_id,
          |             CAST(ceil(len(toks) / 3.0) AS BIGINT) AS n_chunks,
          |             i AS chunk_idx,
          |             array_to_string(toks[(i*3+1):(i*3+3)], ' ') AS chunk
          |      FROM (SELECT doc_id, toks,
          |                   unnest(generate_series(
          |                     0, CAST(ceil(len(toks) / 3.0) AS BIGINT) - 1)) AS i
          |            FROM t)),
          |k AS (SELECT * FROM (
          |        SELECT *, row_number() OVER (PARTITION BY doc_id, chunk
          |                    ORDER BY chunk_idx) AS rn
          |        FROM c) WHERE rn = 1)
          |SELECT doc_id, any_value(n_chunks) AS n_chunks,
          |       count(*) AS n_kept,
          |       array_to_string(list(chunk ORDER BY chunk_idx), ' ')
          |         AS clean_text
          |FROM k GROUP BY doc_id""".stripMargin,

      "url_normalize" ->
        s"""WITH $urlCtes
           |SELECT doc_id, url, url_norm, host FROM un""".stripMargin,

      "url_domain_stats" ->
        s"""WITH $urlCtes
           |SELECT host, count(*) AS n_docs,
           |       count(DISTINCT url_norm) AS n_urls
           |FROM un GROUP BY host""".stripMargin,

      "url_dedup" ->
        s"""WITH $urlCtes
           |SELECT url_norm, min(doc_id) AS keep_doc,
           |       count(*) AS n_records
           |FROM un GROUP BY url_norm""".stripMargin,

      // the streaming compaction must equal the batch dedup exactly
      // (single 30-day window over the synthetic crawl clock)
      "stream_urldedup" ->
        s"""WITH $urlCtes
           |SELECT url_norm, min(doc_id) AS keep_doc,
           |       count(*) AS n_records
           |FROM un GROUP BY url_norm""".stripMargin,

      // presence flags, not hash nullness — in lock-step with
      // Reconcile.contentDiff's null-content handling
      "corpus_diff" ->
        """WITH old AS (SELECT doc_id, md5(text) AS h, TRUE AS p
          |             FROM documents WHERE doc_id % 2 = 0),
          |new AS (SELECT doc_id,
          |          md5(CASE WHEN doc_id % 7 = 0 THEN text || ' v2'
          |              ELSE text END) AS h, TRUE AS p
          |        FROM documents
          |        WHERE doc_id % 2 = 0 AND doc_id % 10 != 4
          |        UNION ALL
          |        SELECT doc_id, md5(text) AS h, TRUE AS p FROM documents
          |        WHERE doc_id % 2 = 1 AND doc_id % 10 = 5)
          |SELECT coalesce(old.doc_id, new.doc_id) AS doc_id,
          |       CASE WHEN old.p IS NULL THEN 'added'
          |            WHEN new.p IS NULL THEN 'removed'
          |            WHEN old.h IS NOT DISTINCT FROM new.h THEN 'unchanged'
          |            ELSE 'changed' END AS status
          |FROM old FULL OUTER JOIN new ON old.doc_id = new.doc_id""".stripMargin,

      "sample_mixture" ->
        """SELECT doc_id, source FROM documents
          |WHERE CASE source
          |  WHEN 'src0' THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '20'
          |  WHEN 'src1' THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '40'
          |  WHEN 'src2' THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '80'
          |  WHEN 'src3' THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'c0'
          |  ELSE TRUE END""".stripMargin,

      // rate derivation mirrors Sampling.temperature step for step:
      // exact long weight/doc sums, one correctly-rounded double division,
      // 6dp round clamped to >= 1e-6 (a present source is never rounded
      // to annihilation), then the 52-bit md5 uniform gate
      // (sample_weighted's construction — fine enough that sub-0.4%
      // rates still sample); null-safe join so NULL-source rows gate at
      // their own group's rate
      "sample_temperature" ->
        """WITH n AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1),
          |w AS (SELECT lang, n,
          |        CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1000000.0) AS BIGINT)
          |          AS w
          |      FROM n),
          |t AS (SELECT lang, n, w,
          |        CAST(SUM(w) OVER () AS BIGINT) AS tot,
          |        CAST(floor(0.5 * CAST(CAST(SUM(n) OVER () AS BIGINT)
          |                              AS DOUBLE)) AS DOUBLE) AS budget
          |      FROM w),
          |r AS (SELECT lang,
          |        greatest(round(least(1.0,
          |          (budget * CAST(w AS DOUBLE))
          |            / (CAST(tot AS DOUBLE) * CAST(n AS DOUBLE))), 6),
          |          0.000001)
          |          AS rate
          |      FROM t)
          |SELECT d.doc_id, d.lang FROM documents d
          |JOIN r ON d.lang IS NOT DISTINCT FROM r.lang
          |WHERE rate >= 1.0
          |   OR (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))
          |         ::BIGINT / 4503599627370496.0) < rate""".stripMargin,

      "sample_split" ->
        """SELECT doc_id,
          |       CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc'
          |            THEN 'train' ELSE 'val' END AS split
          |FROM documents""".stripMargin,

      // lcm(1,5,3)=15 → strides src0=3, src1=5, default 15 (mirror of
      // Sampling.mixtureSchedule's exact-long virtual finish times)
      "mixture_schedule" ->
        """WITH r AS (
          |  SELECT doc_id, source,
          |         row_number() OVER (PARTITION BY source
          |             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rnk
          |  FROM documents)
          |SELECT doc_id, source,
          |       CAST(rnk AS BIGINT) *
          |       CASE source WHEN 'src0' THEN 3
          |                   WHEN 'src1' THEN 5
          |                   ELSE 15 END AS sched_key
          |FROM r""".stripMargin,

      "split_leakage" ->
        """WITH n AS (
          |  SELECT doc_id,
          |         md5(nfc_normalize(lower(trim(
          |             regexp_replace(text, '\s+', ' ', 'g'))))) AS content_hash,
          |         CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc'
          |              THEN 'train' ELSE 'val' END AS split
          |  FROM documents),
          |tr AS (SELECT content_hash, count(*) AS n_train
          |       FROM n WHERE split = 'train' GROUP BY 1)
          |SELECT v.doc_id, v.content_hash,
          |       coalesce(tr.n_train, 0) AS n_train_dups,
          |       coalesce(tr.n_train, 0) > 0 AS leaked
          |FROM n v LEFT JOIN tr ON tr.content_hash = v.content_hash
          |WHERE v.split = 'val'""".stripMargin,

      "split_leakage_near" ->
        s"""WITH $shinglesCte,
           |$minhashBandsCte,
           |sp AS (SELECT doc_id,
           |              CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc'
           |                   THEN 'train' ELSE 'val' END AS split
           |       FROM documents)
           |SELECT v.doc_id, count(DISTINCT t.doc_id) AS n_train_cands
           |FROM bands v
           |JOIN sp sv ON sv.doc_id = v.doc_id AND sv.split = 'val'
           |JOIN bands t ON t.band = v.band AND t.band_hash = v.band_hash
           |JOIN sp st ON st.doc_id = t.doc_id AND st.split = 'train'
           |GROUP BY v.doc_id""".stripMargin,

      "sample_stratified" ->
        s"""WITH $langCte
           |SELECT doc_id, lang_id FROM (
           |  SELECT doc_id, lang_id,
           |         row_number() OVER (PARTITION BY lang_id
           |             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
           |  FROM lang) WHERE rn <= 50""".stripMargin,

      "pack_shards" ->
        s"""WITH $langCte,
           |tk AS (SELECT doc_id, lang_id,
           |              CAST(len(toks) AS BIGINT) AS tokens FROM lang),
           |run AS (
           |  SELECT doc_id, lang_id,
           |         coalesce(sum(tokens) OVER (
           |             PARTITION BY lang_id
           |             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
           |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |           AS before
           |  FROM tk)
           |SELECT doc_id, lang_id,
           |       CAST(floor(before / 2000) AS BIGINT) AS shard_id,
           |       CAST(before - floor(before / 2000) * 2000 AS BIGINT)
           |         AS shard_offset
           |FROM run""".stripMargin,

      "sessionize" ->
        """WITH x AS (
          |  SELECT event_id, user_id, epoch_us(ts) AS tsn,
          |         lag(epoch_us(ts)) OVER (PARTITION BY user_id
          |             ORDER BY epoch_us(ts), event_id) AS prev
          |  FROM events)
          |SELECT event_id, user_id,
          |       CAST(sum(CASE WHEN prev IS NULL
          |                       OR tsn - prev > 86400000000
          |                     THEN 1 ELSE 0 END)
          |            OVER (PARTITION BY user_id ORDER BY tsn, event_id
          |                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
          |FROM x""".stripMargin,

      "session_paths" ->
        """WITH x AS (
          |  SELECT event_id, user_id, event_type, epoch_us(ts) AS tsn,
          |         lag(epoch_us(ts)) OVER (PARTITION BY user_id
          |             ORDER BY epoch_us(ts), event_id) AS prev
          |  FROM events),
          |g AS (
          |  SELECT *, sum(CASE WHEN prev IS NULL
          |                       OR tsn - prev > 86400000000
          |                     THEN 1 ELSE 0 END)
          |            OVER (PARTITION BY user_id ORDER BY tsn, event_id
          |                  ROWS UNBOUNDED PRECEDING) AS session_seq
          |  FROM x),
          |p AS (
          |  SELECT user_id, session_seq,
          |         array_to_string(
          |           (list(event_type ORDER BY tsn, event_id))[1:5], '>')
          |           AS path
          |  FROM g GROUP BY 1, 2)
          |SELECT path, count(*) AS n_sessions FROM p GROUP BY path
          |ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin,

      "session_stats" ->
        """WITH x AS (
          |  SELECT event_id, user_id, event_type, value, epoch_us(ts) AS tsn,
          |         lag(epoch_us(ts)) OVER (PARTITION BY user_id
          |             ORDER BY epoch_us(ts), event_id) AS prev
          |  FROM events),
          |s AS (
          |  SELECT *, sum(CASE WHEN prev IS NULL
          |                       OR tsn - prev > 86400000000
          |                     THEN 1 ELSE 0 END)
          |            OVER (PARTITION BY user_id ORDER BY tsn, event_id
          |                  ROWS UNBOUNDED PRECEDING) AS session_seq
          |  FROM x)
          |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
          |       count(*) AS n_events,
          |       min(tsn) AS start_us, max(tsn) AS end_us,
          |       max(tsn) - min(tsn) AS duration_us,
          |       count(DISTINCT event_type) AS n_types,
          |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
          |FROM s GROUP BY 1, 2""".stripMargin,

      // identical session semantics as session_stats, restricted to the
      // replayed subset — the streaming path must reproduce batch exactly
      "stream_sessionize" ->
        """WITH x AS (
          |  SELECT event_id, user_id, event_type, value, epoch_us(ts) AS tsn,
          |         lag(epoch_us(ts)) OVER (PARTITION BY user_id
          |             ORDER BY epoch_us(ts), event_id) AS prev
          |  FROM events WHERE user_id < 50),
          |s AS (
          |  SELECT *, sum(CASE WHEN prev IS NULL
          |                       OR tsn - prev > 86400000000
          |                     THEN 1 ELSE 0 END)
          |            OVER (PARTITION BY user_id ORDER BY tsn, event_id
          |                  ROWS UNBOUNDED PRECEDING) AS session_seq
          |  FROM x)
          |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
          |       count(*) AS n_events,
          |       min(tsn) AS start_us, max(tsn) AS end_us,
          |       max(tsn) - min(tsn) AS duration_us,
          |       count(DISTINCT event_type) AS n_types,
          |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
          |FROM s GROUP BY 1, 2""".stripMargin,

      "stream_join" ->
        """WITH v AS (SELECT user_id, epoch_us(ts) AS view_ts_us,
          |                  event_id AS view_id
          |           FROM events WHERE event_type = 'view' AND user_id < 30),
          |p AS (SELECT user_id, epoch_us(ts) AS purchase_ts_us,
          |             event_id AS purchase_id
          |      FROM events WHERE event_type = 'purchase' AND user_id < 30)
          |SELECT view_id, purchase_id, user_id, view_ts_us, purchase_ts_us
          |FROM v JOIN p USING (user_id)
          |WHERE purchase_ts_us BETWEEN view_ts_us
          |  AND view_ts_us + 86400000000""".stripMargin,

      "session_funnel" ->
        """WITH ev AS (
          |  SELECT user_id, epoch_us(ts) AS tsn, event_type FROM events
          |  WHERE event_type IN ('view', 'click', 'purchase')),
          |s1 AS (SELECT user_id, min(tsn) AS t1 FROM ev
          |       WHERE event_type = 'view' GROUP BY 1),
          |s2 AS (SELECT ev.user_id, min(tsn) AS t2 FROM ev JOIN s1 USING (user_id)
          |       WHERE event_type = 'click' AND tsn > t1 GROUP BY 1),
          |s3 AS (SELECT ev.user_id, min(tsn) AS t3 FROM ev JOIN s2 USING (user_id)
          |       WHERE event_type = 'purchase' AND tsn > t2 GROUP BY 1),
          |keys AS (SELECT DISTINCT user_id FROM ev)
          |SELECT k.user_id,
          |       CAST(CASE WHEN t3 IS NOT NULL THEN 3
          |                 WHEN t2 IS NOT NULL THEN 2
          |                 WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS reached,
          |       coalesce(t1, -1) AS ts_step1,
          |       coalesce(t2, -1) AS ts_step2,
          |       coalesce(t3, -1) AS ts_step3
          |FROM keys k
          |LEFT JOIN s1 USING (user_id)
          |LEFT JOIN s2 USING (user_id)
          |LEFT JOIN s3 USING (user_id)""".stripMargin,

      // tolerance can't ride DuckDB's ASOF JOIN — the LATERAL top-1 is
      // the equivalent formulation (latest in-window match, else NULLs)
      "asof_join_tol" ->
        """WITH l AS (
          |  SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events
          |  WHERE event_type = 'view'),
          |r AS (
          |  SELECT user_id, epoch_us(ts) AS purchase_ts,
          |         max(value) AS purchase_value
          |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
          |SELECT l.event_id, l.user_id, l.ts_us,
          |       pb.purchase_ts, pb.purchase_value
          |FROM l LEFT JOIN LATERAL (
          |  SELECT purchase_ts, purchase_value FROM r
          |  WHERE r.user_id = l.user_id AND r.purchase_ts <= l.ts_us
          |    AND r.purchase_ts >= l.ts_us - 604800000000
          |  ORDER BY r.purchase_ts DESC LIMIT 1) pb ON true""".stripMargin,

      // per-row 6-dp norm fixed as decimal, then exact aggregates — the
      // one division and final casts are correctly-rounded identical ops
      "embed_stats" ->
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
          |FROM n""".stripMargin,

      "asof_join" ->
        """WITH l AS (
          |  SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events
          |  WHERE event_type = 'view'),
          |r AS (
          |  SELECT user_id, epoch_us(ts) AS purchase_ts,
          |         max(value) AS purchase_value
          |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
          |SELECT l.event_id, l.user_id, l.ts_us,
          |       r.purchase_ts, r.purchase_value
          |FROM l ASOF LEFT JOIN r
          |  ON l.user_id = r.user_id AND l.ts_us >= r.purchase_ts""".stripMargin,

      "asof_join_fwd" ->
        """WITH l AS (
          |  SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events
          |  WHERE event_type = 'view'),
          |r AS (
          |  SELECT user_id, epoch_us(ts) AS purchase_ts,
          |         max(value) AS purchase_value
          |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
          |SELECT l.event_id, l.user_id, l.ts_us,
          |       r.purchase_ts, r.purchase_value
          |FROM l ASOF LEFT JOIN r
          |  ON l.user_id = r.user_id AND l.ts_us <= r.purchase_ts""".stripMargin,

      // nearest-on-either-side via a correlated lateral min-distance
      // pick (ORDER BY distance, ts LIMIT 1 — tie → earlier), vs the
      // engine's one-pass two-frame window kernel
      "asof_join_near" ->
        """WITH l AS (
          |  SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events
          |  WHERE event_type = 'view'),
          |r AS (
          |  SELECT user_id, epoch_us(ts) AS purchase_ts,
          |         max(value) AS purchase_value
          |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
          |SELECT l.event_id, l.user_id, l.ts_us,
          |       m.purchase_ts, m.purchase_value
          |FROM l LEFT JOIN LATERAL (
          |  SELECT r.purchase_ts, r.purchase_value
          |  FROM r WHERE r.user_id = l.user_id
          |  ORDER BY CASE WHEN l.ts_us >= r.purchase_ts
          |                THEN l.ts_us - r.purchase_ts
          |                ELSE r.purchase_ts - l.ts_us END,
          |           r.purchase_ts
          |  LIMIT 1) m ON TRUE""".stripMargin,

      "range_join" ->
        """WITH p AS (
          |  SELECT event_id AS view_id, epoch_us(ts) AS ts_us FROM events
          |  WHERE event_type = 'view'),
          |iv AS (
          |  SELECT event_id AS purchase_id,
          |         epoch_us(ts) - 3600000000 AS lo,
          |         epoch_us(ts) + 3600000000 AS hi
          |  FROM events WHERE event_type = 'purchase' AND user_id < 10)
          |SELECT view_id, purchase_id, ts_us, lo, hi
          |FROM p JOIN iv ON p.ts_us BETWEEN iv.lo AND iv.hi""".stripMargin,

      "interval_join" ->
        """WITH e AS (SELECT event_id, user_id, event_type,
          |                  epoch_us(ts) AS ts_us FROM events),
          |v AS (SELECT event_id AS view_id, ts_us AS v_lo,
          |             ts_us + 7200000000 AS v_hi
          |      FROM e WHERE event_type = 'view' AND user_id < 25),
          |p AS (SELECT event_id AS purchase_id,
          |             ts_us - 3600000000 AS p_lo,
          |             ts_us + 3600000000 AS p_hi
          |      FROM e WHERE event_type = 'purchase' AND user_id < 50)
          |SELECT view_id, purchase_id, v_lo, p_lo
          |FROM v JOIN p ON v_lo <= p_hi AND p_lo <= v_hi""".stripMargin,

      "mm_binary_meta" ->
        """SELECT doc_id,
          |       CAST(octet_length(encode(text)) AS INT) AS byte_len,
          |       md5(text) AS content_hash,
          |       64 + ord(substr(text, 1, 1)) % 192 AS width
          |FROM documents""".stripMargin,

      "mm_frame_sample" ->
        """SELECT doc_id,
          |       unnest(generate_series(0,
          |         CAST(1 + octet_length(encode(text)) % 16 AS INT) - 1, 4))
          |         AS frame_idx
          |FROM documents""".stripMargin,

      "mm_decode_meta" ->
        """SELECT doc_id AS media_id, 'image' AS media_type,
          |       CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
          |       md5(text) AS content_hash,
          |       64 + ord(substr(text, 1, 1)) % 192 AS width,
          |       64 + ord(substr(text, 2, 1)) % 192 AS height,
          |       CAST(1 + octet_length(encode(text)) % 16 AS INT) AS n_frames
          |FROM documents""".stripMargin,

      "tfidf_topk" ->
        s"""WITH $toksCte,
           |tok AS (SELECT doc_id, unnest(toks) AS term FROM t),
           |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
           |n AS (SELECT count(*) AS n_docs FROM documents),
           |df AS (SELECT term, count(*) AS dft FROM tf GROUP BY 1),
           |scored AS (
           |  SELECT doc_id, term,
           |         round(tf * (ln((n_docs + 1.0) / (dft + 1.0)) + 1.0), 6)
           |           AS score
           |  FROM tf JOIN df USING (term), n),
           |ranked AS (
           |  SELECT doc_id, term, score,
           |         CAST(row_number() OVER (
           |           PARTITION BY doc_id ORDER BY score DESC, term) AS INT)
           |           AS rank
           |  FROM scored)
           |SELECT doc_id, term, rank, score FROM ranked
           |WHERE rank <= 5""".stripMargin,

      "lm_surprisal" ->
        s"""WITH $toksCte,
           |tok AS (SELECT doc_id, unnest(toks) AS term FROM t),
           |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
           |ctf AS (SELECT term, sum(tf) AS ctf FROM tf GROUP BY 1),
           |tot AS (SELECT sum(ctf) AS total FROM ctf),
           |nll AS (
           |  SELECT term,
           |         CAST(round(-ln(CAST(ctf AS DOUBLE) / CAST(total AS DOUBLE)),
           |           9) AS DECIMAL(28,9)) AS nll9
           |  FROM ctf, tot)
           |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
           |       round(CAST(sum(CAST(tf AS DECIMAL(9,0)) * nll9) AS DOUBLE)
           |             / CAST(sum(tf) AS DOUBLE), 6) AS avg_nll
           |FROM tf JOIN nll USING (term)
           |GROUP BY 1""".stripMargin,

      // add-one smoothed p(w2|w1) with context counts as the denominator
      // base and the exact distinct-unigram count as V — mirrored from
      // Corpus.bigramNll's double tree (counts exact, one ln, 9-dp-fixed
      // decimal sum per doc)
      "lm_bigram_nll" ->
        (s"WITH $bigramNllCtes\n" +
          "SELECT doc_id, n_bigrams, avg_nll FROM bnll"),

      // interpolated Kneser–Ney trigram: every N1+ continuation count read
      // off the distinct-trigram type table `tri` (which is unique on
      // (w1,w2,w3), so plain count(*) per suffix IS the distinct-prefix
      // count); the probability tree mirrors Corpus.knTrigramNll verbatim
      // (left-associative, greatest() discount floors, one ln, 9-dp fix)
      "lm_kn_nll" ->
        s"""WITH ws AS (SELECT doc_id, string_split_regex(text, '\\s+') AS w
           |            FROM documents),
           |tgx AS (SELECT doc_id, w[i] AS w1, w[i + 1] AS w2, w[i + 2] AS w3
           |        FROM (SELECT doc_id, w,
           |                     unnest(generate_series(1, len(w) - 2)) AS i
           |              FROM ws WHERE len(w) >= 3)),
           |tg AS (SELECT doc_id, w1, w2, w3, count(*) AS tfg
           |       FROM tgx GROUP BY 1, 2, 3, 4),
           |tri AS (SELECT w1, w2, w3, sum(tfg) AS c123 FROM tg GROUP BY 1, 2, 3),
           |ctx AS (SELECT w1, w2, sum(c123) AS c12, count(*) AS t12
           |        FROM tri GROUP BY 1, 2),
           |mid AS (SELECT w2, w3, count(*) AS mc FROM tri GROUP BY 1, 2),
           |mctx AS (SELECT w2, sum(mc) AS m2, count(*) AS t2
           |         FROM mid GROUP BY 1),
           |uni AS (SELECT w3, count(*) AS uc FROM mid GROUP BY 1),
           |tot AS (SELECT count(*) AS tot FROM mid),
           |nll AS (
           |  SELECT tg.doc_id, tg.tfg,
           |         CAST(round(-ln(
           |           (greatest(CAST(tri.c123 AS DOUBLE) - $KnDiscount, 0.0)
           |              / CAST(ctx.c12 AS DOUBLE))
           |           + ($KnDiscount * CAST(ctx.t12 AS DOUBLE)
           |              / CAST(ctx.c12 AS DOUBLE))
           |             * ((greatest(CAST(mid.mc AS DOUBLE) - $KnDiscount, 0.0)
           |                   / CAST(mctx.m2 AS DOUBLE))
           |                + ($KnDiscount * CAST(mctx.t2 AS DOUBLE)
           |                   / CAST(mctx.m2 AS DOUBLE))
           |                  * (CAST(uni.uc AS DOUBLE)
           |                     / CAST(tot.tot AS DOUBLE)))), 9)
           |           AS DECIMAL(28,9)) AS nll9
           |  FROM tg JOIN tri USING (w1, w2, w3) JOIN ctx USING (w1, w2)
           |       JOIN mid USING (w2, w3) JOIN mctx USING (w2)
           |       JOIN uni USING (w3), tot)
           |SELECT doc_id, CAST(sum(tfg) AS BIGINT) AS n_trigrams,
           |       round(CAST(sum(CAST(tfg AS DECIMAL(9,0)) * nll9) AS DOUBLE)
           |             / CAST(sum(tfg) AS DOUBLE), 6) AS avg_nll
           |FROM nll GROUP BY 1""".stripMargin,

      "search_mmr" -> mmrOracleSql(mmrBruteCandCtes),

      // the same unrolled greedy over the IVF cell-pruned slate
      "search_mmr_ivf" -> mmrOracleSql(mmrIvfCandCtes),

      "sample_kcenter" -> kcenterOracleSql(8),

      // the CCNet gate (Wenzek et al. 2020): per-language perplexity
      // terciles over the same bigram-LM score — head = most fluent.
      // Negating avg_nll is exact, so ORDER BY avg_nll ASC mirrors the
      // engine's fluency DESC ordering bit-for-bit
      "ccnet_buckets" ->
        (s"WITH $bigramNllCtes,\n" +
          """j AS (SELECT b.doc_id, d.lang, b.avg_nll
            |      FROM bnll b JOIN documents d USING (doc_id)),
            |nt AS (SELECT doc_id, lang, avg_nll,
            |         ntile(3) OVER (PARTITION BY lang
            |                        ORDER BY avg_nll, doc_id) AS t
            |       FROM j)
            |SELECT doc_id, lang, avg_nll,
            |       CASE t WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
            |              ELSE 'tail' END AS ppl_bucket
            |FROM nt""".stripMargin),

      // the quantized grid mirrors Quantize.int8Codes: q = clamp(round(
      // x·127/amax)); dequantized q·(amax/127); both engines round
      // half-away-from-zero on identical doubles, and the error fold runs
      // in array order in both.
      "embed_quantize" ->
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
          |FROM d""".stripMargin,

      "event_percentiles" ->
        """SELECT event_type, count(*) AS n,
          |       round(quantile_cont(value, 0.5), 6) AS p50,
          |       round(quantile_cont(value, 0.9), 6) AS p90,
          |       round(quantile_cont(value, 0.99), 6) AS p99
          |FROM events GROUP BY 1""".stripMargin,

      // string-math HDR buckets (two leading decimal digits of the
      // 1e-3-grid integer), cumulative window, first bucket reaching
      // t = p·n, linear in-bucket interpolation — every operand an exact
      // integer in a double, mirroring Sketches.histQuantiles
      "sketch_quantiles" ->
        """WITH src AS (
          |  SELECT event_type,
          |         CAST(CAST(floor(value * 1000.0) AS BIGINT) AS VARCHAR)
          |           AS gs
          |  FROM events WHERE value >= 0 AND NOT isnan(value)),
          |b AS (SELECT event_type,
          |        CAST(substr(gs, 1, 2) ||
          |             repeat('0', greatest(length(gs) - 2, 0)) AS BIGINT)
          |          AS lo,
          |        CAST(CAST(CAST(substr(gs, 1, 2) AS BIGINT) + 1
          |               AS VARCHAR) ||
          |             repeat('0', greatest(length(gs) - 2, 0)) AS BIGINT)
          |          AS hi
          |      FROM src),
          |cnts AS (SELECT event_type, lo, hi, count(*) AS cnt
          |         FROM b GROUP BY 1, 2, 3),
          |cum AS (SELECT *,
          |          SUM(cnt) OVER (PARTITION BY event_type ORDER BY lo)
          |            AS cum,
          |          SUM(cnt) OVER (PARTITION BY event_type) AS n
          |        FROM cnts),
          |wp AS (SELECT *, unnest([0.5, 0.9, 0.99]) AS p FROM cum),
          |sel AS (SELECT *, p * CAST(n AS DOUBLE) AS t FROM wp),
          |pick AS (SELECT * FROM (
          |  SELECT *, row_number() OVER (PARTITION BY event_type, p
          |                               ORDER BY lo) AS rn
          |  FROM sel WHERE CAST(cum AS DOUBLE) >= t) WHERE rn = 1),
          |drp AS (SELECT event_type, count(*) AS n_dropped FROM events
          |        WHERE value < 0 OR value IS NULL OR isnan(value)
          |        GROUP BY 1),
          |ad AS (SELECT d.event_type, u.p, CAST(0 AS BIGINT) AS n,
          |              CAST(NULL AS DOUBLE) AS est,
          |              CAST(d.n_dropped AS BIGINT) AS n_dropped
          |       FROM drp d
          |       CROSS JOIN (SELECT unnest([0.5, 0.9, 0.99]) AS p) u
          |       WHERE d.event_type NOT IN
          |             (SELECT DISTINCT event_type FROM cnts))
          |SELECT pick.event_type, p, CAST(n AS BIGINT) AS n,
          |       round((CAST(lo AS DOUBLE) + CAST(hi - lo AS DOUBLE) *
          |              (t - CAST(cum - cnt AS DOUBLE)) /
          |              CAST(cnt AS DOUBLE)) / 1000.0, 6) AS est,
          |       CAST(coalesce(drp.n_dropped, 0) AS BIGINT) AS n_dropped
          |FROM pick LEFT JOIN drp USING (event_type)
          |UNION ALL SELECT * FROM ad""".stripMargin,

      // same sketch, (type, hour) grain — epoch_us // 3600000000 ≡ the
      // engine's ts_us div on non-negative epochs
      "ts_quantile_buckets" ->
        """WITH src AS (
          |  SELECT event_type, epoch_us(ts) // 3600000000 AS hour,
          |         CAST(CAST(floor(value * 1000.0) AS BIGINT) AS VARCHAR)
          |           AS gs
          |  FROM events WHERE value >= 0 AND NOT isnan(value)),
          |b AS (SELECT event_type, hour,
          |        CAST(substr(gs, 1, 2) ||
          |             repeat('0', greatest(length(gs) - 2, 0)) AS BIGINT)
          |          AS lo,
          |        CAST(CAST(CAST(substr(gs, 1, 2) AS BIGINT) + 1
          |               AS VARCHAR) ||
          |             repeat('0', greatest(length(gs) - 2, 0)) AS BIGINT)
          |          AS hi
          |      FROM src),
          |cnts AS (SELECT event_type, hour, lo, hi, count(*) AS cnt
          |         FROM b GROUP BY 1, 2, 3, 4),
          |cum AS (SELECT *,
          |          SUM(cnt) OVER (PARTITION BY event_type, hour
          |                         ORDER BY lo) AS cum,
          |          SUM(cnt) OVER (PARTITION BY event_type, hour) AS n
          |        FROM cnts),
          |wp AS (SELECT *, unnest([0.5, 0.95]) AS p FROM cum),
          |sel AS (SELECT *, p * CAST(n AS DOUBLE) AS t FROM wp),
          |pick AS (SELECT * FROM (
          |  SELECT *, row_number() OVER (PARTITION BY event_type, hour, p
          |                               ORDER BY lo) AS rn
          |  FROM sel WHERE CAST(cum AS DOUBLE) >= t) WHERE rn = 1),
          |drp AS (SELECT event_type, epoch_us(ts) // 3600000000 AS hour,
          |               count(*) AS n_dropped
          |        FROM events WHERE value < 0 OR value IS NULL
          |              OR isnan(value)
          |        GROUP BY 1, 2),
          |ad AS (SELECT d.event_type, CAST(d.hour AS BIGINT) AS hour,
          |              u.p, CAST(0 AS BIGINT) AS n,
          |              CAST(NULL AS DOUBLE) AS est,
          |              CAST(d.n_dropped AS BIGINT) AS n_dropped
          |       FROM drp d
          |       CROSS JOIN (SELECT unnest([0.5, 0.95]) AS p) u
          |       WHERE NOT EXISTS (SELECT 1 FROM cnts c
          |                         WHERE c.event_type = d.event_type
          |                           AND c.hour = d.hour))
          |SELECT pick.event_type, CAST(pick.hour AS BIGINT) AS hour, p,
          |       CAST(n AS BIGINT) AS n,
          |       round((CAST(lo AS DOUBLE) + CAST(hi - lo AS DOUBLE) *
          |              (t - CAST(cum - cnt AS DOUBLE)) /
          |              CAST(cnt AS DOUBLE)) / 1000.0, 6) AS est,
          |       CAST(coalesce(drp.n_dropped, 0) AS BIGINT) AS n_dropped
          |FROM pick LEFT JOIN drp USING (event_type, hour)
          |UNION ALL SELECT * FROM ad""".stripMargin,

      // the at-ingest quantile sketch replayed in batch: same HDR
      // buckets at the 6 h epoch-aligned window grain (window.start ≡
      // (epoch // 6h) · 6h on non-negative epochs), same interpolation
      "stream_quantiles" ->
        """WITH src AS (
          |  SELECT (epoch_us(ts) // 21600000000) * 21600000000
          |           AS window_start_us,
          |         CAST(CAST(floor(value * 1000.0) AS BIGINT) AS VARCHAR)
          |           AS gs
          |  FROM events WHERE value >= 0 AND epoch_us(ts) >= 0),
          |b AS (SELECT window_start_us,
          |        CAST(substr(gs, 1, 2) ||
          |             repeat('0', greatest(length(gs) - 2, 0)) AS BIGINT)
          |          AS lo,
          |        CAST(CAST(CAST(substr(gs, 1, 2) AS BIGINT) + 1
          |               AS VARCHAR) ||
          |             repeat('0', greatest(length(gs) - 2, 0)) AS BIGINT)
          |          AS hi
          |      FROM src),
          |cnts AS (SELECT window_start_us, lo, hi, count(*) AS cnt
          |         FROM b GROUP BY 1, 2, 3),
          |cum AS (SELECT *,
          |          SUM(cnt) OVER (PARTITION BY window_start_us
          |                         ORDER BY lo) AS cum,
          |          SUM(cnt) OVER (PARTITION BY window_start_us) AS n
          |        FROM cnts),
          |wp AS (SELECT *, unnest([0.5, 0.99]) AS p FROM cum),
          |sel AS (SELECT *, p * CAST(n AS DOUBLE) AS t FROM wp),
          |pick AS (SELECT * FROM (
          |  SELECT *, row_number() OVER (PARTITION BY window_start_us, p
          |                               ORDER BY lo) AS rn
          |  FROM sel WHERE CAST(cum AS DOUBLE) >= t) WHERE rn = 1)
          |SELECT window_start_us, p, CAST(n AS BIGINT) AS n,
          |       round((CAST(lo AS DOUBLE) + CAST(hi - lo AS DOUBLE) *
          |              (t - CAST(cum - cnt AS DOUBLE)) /
          |              CAST(cnt AS DOUBLE)) / 1000.0, 6) AS est
          |FROM pick""".stripMargin,

      // exact duplicates removed = the base subset itself
      "stream_dedup" ->
        """SELECT event_id, epoch_us(ts) AS ts_us, event_type, value
          |FROM events WHERE user_id < 20""".stripMargin,

      // DuckDB sums BIGINT into HUGEINT — cast back to Spark's long
      "corpus_rollup" ->
        """SELECT coalesce(source, 'ALL') AS source,
          |       coalesce(lang, 'ALL') AS lang,
          |       CAST(GROUPING(source) AS INT) AS g_source,
          |       CAST(GROUPING(lang) AS INT) AS g_lang,
          |       count(*) AS docs,
          |       CAST(sum(n_chars) AS BIGINT) AS chars
          |FROM documents
          |GROUP BY CUBE (source, lang)""".stripMargin,

      "corpus_pivot" ->
        """SELECT source,
          |       count(CASE WHEN lang = 'de' THEN 1 END) AS de,
          |       count(CASE WHEN lang = 'en' THEN 1 END) AS en,
          |       count(CASE WHEN lang = 'es' THEN 1 END) AS es,
          |       count(CASE WHEN lang = 'fr' THEN 1 END) AS fr,
          |       count(CASE WHEN lang = 'zh' THEN 1 END) AS zh
          |FROM documents GROUP BY 1""".stripMargin,

      // mirror Sampling.weighted exactly: u52/2^52 (exact) then /w (one
      // correctly-rounded IEEE division) — the ranking is bit-identical
      "sample_weighted" ->
        """WITH p AS (
          |  SELECT doc_id, n_chars,
          |         (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))
          |            ::BIGINT / 4503599627370496.0)
          |           / CAST(n_chars AS DOUBLE) AS pri
          |  FROM documents
          |  WHERE n_chars > 0)
          |SELECT doc_id, n_chars AS weight, round(pri, 12) AS priority
          |FROM p ORDER BY pri, doc_id LIMIT 100""".stripMargin,

      "sample_weighted_group" ->
        """WITH p AS (
          |  SELECT doc_id, source, n_chars,
          |         (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))
          |            ::BIGINT / 4503599627370496.0)
          |           / CAST(n_chars AS DOUBLE) AS pri
          |  FROM documents
          |  WHERE n_chars > 0)
          |SELECT doc_id, source, n_chars AS weight,
          |       round(pri, 12) AS priority
          |FROM (SELECT *, row_number() OVER (PARTITION BY source
          |                  ORDER BY pri, doc_id) AS rn
          |      FROM p)
          |WHERE rn <= 10""".stripMargin,

      // mirror Sampling.topPByBudget over the quality score: exact long
      // cumulative sums, the rational gate cum_before·2 < total·1
      "sample_topp" ->
        s"""WITH $toksCte,
           |$qualityCte,
           |j AS (SELECT t.doc_id, d.source, q.quality_score,
           |             CAST(len(t.toks) AS BIGINT) AS tokens
           |      FROM t JOIN q ON t.doc_id = q.doc_id
           |      JOIN documents d ON d.doc_id = t.doc_id),
           |w AS (SELECT doc_id, source, quality_score, tokens,
           |        coalesce(sum(tokens) OVER (
           |          PARTITION BY source
           |          ORDER BY quality_score DESC, doc_id
           |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           |          0) AS cum_before,
           |        sum(tokens) OVER (PARTITION BY source) AS group_total
           |      FROM j)
           |SELECT doc_id, source, quality_score, tokens,
           |       CAST(cum_before AS BIGINT) AS cum_before,
           |       CAST(group_total AS BIGINT) AS group_total,
           |       cum_before * 2 < group_total * 1 AS kept
           |FROM w""".stripMargin,

      // mirror Corpus.zipfFit: 9-dp-fixed log points, exact decimal
      // moment sums, one double conversion, identical least-squares tree
      "corpus_zipf" ->
        """WITH tok AS (SELECT unnest(string_split_regex(text, '\s+')) AS term
          |             FROM documents),
          |tc AS (SELECT term, count(*) AS cnt FROM tok GROUP BY 1),
          |top AS (SELECT term, cnt FROM tc
          |        ORDER BY cnt DESC, term LIMIT 100),
          |r AS (SELECT cnt,
          |             row_number() OVER (ORDER BY cnt DESC, term) AS rank
          |      FROM top),
          |p AS (SELECT
          |        CAST(round(ln(CAST(rank AS DOUBLE)), 9)
          |             AS DECIMAL(12,9)) AS x,
          |        CAST(round(ln(CAST(cnt AS DOUBLE)), 9)
          |             AS DECIMAL(12,9)) AS y
          |      FROM r),
          |s AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
          |             sum(CAST(round(x * y, 9) AS DECIMAL(14,9))) AS sxy,
          |             sum(CAST(round(x * x, 9) AS DECIMAL(14,9))) AS sxx,
          |             sum(CAST(round(y * y, 9) AS DECIMAL(14,9))) AS syy
          |      FROM p),
          |d AS (SELECT CAST(n AS BIGINT) AS n_terms,
          |             CAST(n AS DOUBLE) AS nd,
          |             CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
          |             CAST(sxy AS DOUBLE) AS sxyd,
          |             CAST(sxx AS DOUBLE) AS sxxd,
          |             CAST(syy AS DOUBLE) AS syyd
          |      FROM s)
          |SELECT n_terms,
          |  CASE WHEN nd * sxxd - sxd * sxd <> 0.0 THEN
          |    round((nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd), 6)
          |  END AS zipf_slope,
          |  CASE WHEN nd * sxxd - sxd * sxd <> 0.0 THEN
          |    round((syd - (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd)
          |           * sxd) / nd, 6) END AS zipf_intercept,
          |  CASE WHEN (nd * sxxd - sxd * sxd) * (nd * syyd - syd * syd)
          |            <> 0.0 THEN
          |    round((nd * sxyd - sxd * syd) * (nd * sxyd - sxd * syd)
          |          / ((nd * sxxd - sxd * sxd) * (nd * syyd - syd * syd)), 6)
          |  END AS zipf_r2
          |FROM d""".stripMargin,

      // the corpus_zipf fit tree verbatim over Heaps points: cumulative
      // tokens/types in doc order (one exact window at oracle SF — the
      // engine's two-phase prefix sum produces the identical sums)
      "corpus_heaps" ->
        s"""WITH $toksCte,
          |pd AS (SELECT doc_id AS doc, CAST(len(toks) AS BIGINT) AS tc
          |       FROM t),
          |fs AS (SELECT term, min(doc_id) AS doc FROM (
          |         SELECT DISTINCT doc_id, unnest(toks) AS term FROM t)
          |       GROUP BY 1),
          |ntc AS (SELECT doc, count(*) AS nt FROM fs GROUP BY 1),
          |c AS (SELECT pd.doc, pd.tc, coalesce(ntc.nt, 0) AS nt
          |      FROM pd LEFT JOIN ntc USING (doc)),
          |cum AS (SELECT doc, sum(tc) OVER w AS cumt,
          |               sum(nt) OVER w AS cumv
          |        FROM c
          |        WINDOW w AS (ORDER BY doc ROWS BETWEEN UNBOUNDED
          |                     PRECEDING AND CURRENT ROW)),
          |p AS (SELECT
          |        CAST(round(ln(CAST(cumt AS DOUBLE)), 9)
          |             AS DECIMAL(12,9)) AS x,
          |        CAST(round(ln(CAST(cumv AS DOUBLE)), 9)
          |             AS DECIMAL(12,9)) AS y
          |      FROM cum WHERE cumt > 0 AND cumv > 0),
          |s AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
          |             sum(CAST(round(x * y, 9) AS DECIMAL(14,9))) AS sxy,
          |             sum(CAST(round(x * x, 9) AS DECIMAL(14,9))) AS sxx,
          |             sum(CAST(round(y * y, 9) AS DECIMAL(14,9))) AS syy
          |      FROM p),
          |d AS (SELECT CAST(n AS BIGINT) AS n_points,
          |             CAST(n AS DOUBLE) AS nd,
          |             CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
          |             CAST(sxy AS DOUBLE) AS sxyd,
          |             CAST(sxx AS DOUBLE) AS sxxd,
          |             CAST(syy AS DOUBLE) AS syyd
          |      FROM s)
          |SELECT n_points,
          |  CASE WHEN nd * sxxd - sxd * sxd <> 0.0 THEN
          |    round((nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd), 6)
          |  END AS heaps_beta,
          |  CASE WHEN nd * sxxd - sxd * sxd <> 0.0 THEN
          |    round((syd - (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd)
          |           * sxd) / nd, 6) END AS heaps_intercept,
          |  CASE WHEN (nd * sxxd - sxd * sxd) * (nd * syyd - syd * syd)
          |            <> 0.0 THEN
          |    round((nd * sxyd - sxd * syd) * (nd * sxyd - sxd * syd)
          |          / ((nd * sxxd - sxd * sxd) * (nd * syyd - syd * syd)), 6)
          |  END AS heaps_r2
          |FROM d""".stripMargin,

      "ngram_boilerplate" ->
        s"""WITH $shinglesCte
           |SELECT shingle, count(*) AS doc_freq
           |FROM sh GROUP BY 1
           |ORDER BY doc_freq DESC, shingle LIMIT 50""".stripMargin,

      // mirror TimeSeries.zscore's exact-decimal-sum formulation: every
      // double op below is correctly-rounded IEEE from identical inputs,
      // so outputs are bit-identical with NO round() anywhere (round(avg)
      // ties break differently between the engines on 2-dp inputs)
      "stream_zscore" ->
        """WITH e AS (
          |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, value,
          |         CAST(value AS DECIMAL(18,2)) AS vd
          |  FROM events WHERE user_id < 50),
          |w AS (
          |  SELECT user_id, event_id, ts_us, value,
          |         count(*) OVER win AS n_prior,
          |         CAST(count(*) OVER win AS DOUBLE) AS n_d,
          |         CAST(coalesce(sum(vd) OVER win, 0) AS DOUBLE) AS sum_d,
          |         CAST(coalesce(sum(vd * vd) OVER win, 0) AS DOUBLE)
          |           AS sumsq_d
          |  FROM e
          |  WINDOW win AS (PARTITION BY user_id ORDER BY ts_us, event_id
          |                 ROWS BETWEEN UNBOUNDED PRECEDING
          |                          AND 1 PRECEDING)),
          |t AS (
          |  SELECT *,
          |         sum_d / n_d AS mean,
          |         (sumsq_d - sum_d * sum_d / n_d) / (n_d - 1.0) AS var
          |  FROM w),
          |u AS (
          |  SELECT *, CASE WHEN n_prior >= 2 AND var > 0
          |                 THEN (value - mean) / sqrt(var) END AS zscore
          |  FROM t)
          |SELECT user_id, event_id, ts_us, value, n_prior, zscore,
          |       coalesce(abs(zscore) > 2.0, false) AS is_anomaly
          |FROM u""".stripMargin,

      // lower-median order statistics on collapsed cells — no
      // interpolation, no round(): every double op is correctly rounded
      // on identical operands, so results are bit-identical
      "events_robustz" ->
        """WITH c AS (SELECT event_type, value AS v, count(*) AS cnt
          |           FROM events GROUP BY 1, 2),
          |t AS (SELECT event_type, v, cnt,
          |        sum(cnt) OVER (PARTITION BY event_type ORDER BY v
          |                       ROWS UNBOUNDED PRECEDING) AS cum,
          |        sum(cnt) OVER (PARTITION BY event_type) AS n
          |      FROM c),
          |med AS (SELECT event_type, min(v) AS series_med
          |        FROM t WHERE cum >= (n + 1) // 2 GROUP BY 1),
          |dc AS (SELECT c.event_type, abs(c.v - m.series_med) AS dv,
          |              CAST(sum(c.cnt) AS BIGINT) AS cnt
          |       FROM c JOIN med m USING (event_type) GROUP BY 1, 2),
          |t2 AS (SELECT event_type, dv, cnt,
          |         sum(cnt) OVER (PARTITION BY event_type ORDER BY dv
          |                        ROWS UNBOUNDED PRECEDING) AS cum,
          |         sum(cnt) OVER (PARTITION BY event_type) AS n
          |       FROM dc),
          |mad AS (SELECT event_type, min(dv) AS series_mad
          |        FROM t2 WHERE cum >= (n + 1) // 2 GROUP BY 1)
          |SELECT e.event_id, e.event_type, e.value,
          |       m.series_med, d.series_mad,
          |       CASE WHEN d.series_mad > 0
          |            THEN 0.6745 * (e.value - m.series_med) / d.series_mad
          |       END AS robust_z,
          |       coalesce(abs(CASE WHEN d.series_mad > 0
          |            THEN 0.6745 * (e.value - m.series_med) / d.series_mad
          |       END) > 3.5, false) AS is_anomaly
          |FROM events e JOIN med m USING (event_type)
          |              JOIN mad d USING (event_type)""".stripMargin,

      "events_zscore" ->
        """WITH s AS (
          |  SELECT event_id, user_id, event_type, value,
          |         CAST(count(*) OVER w AS DOUBLE) AS n_d,
          |         count(*) OVER w AS n,
          |         CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w
          |              AS DOUBLE) AS sum_d,
          |         CAST(sum(CAST(value AS DECIMAL(18,2))
          |                  * CAST(value AS DECIMAL(18,2))) OVER w
          |              AS DOUBLE) AS sumsq_d
          |  FROM events
          |  WINDOW w AS (PARTITION BY user_id, event_type)),
          |t AS (
          |  SELECT *, sum_d / n_d AS mean,
          |         (sumsq_d - sum_d * sum_d / n_d) / (n_d - 1.0) AS var
          |  FROM s),
          |u AS (
          |  SELECT *, CASE WHEN n >= 2 AND var > 0 THEN sqrt(var) END
          |              AS std
          |  FROM t)
          |SELECT event_id, user_id, event_type, value,
          |       mean AS series_avg, std AS series_std,
          |       (value - mean) / std AS zscore,
          |       coalesce(abs((value - mean) / std) > 2.0, false)
          |         AS is_anomaly
          |FROM u""".stripMargin,

      // single-pass mirror of TimeSeries.gapfill: each (prev, current)
      // pair explodes to its interior grid fills plus the current
      // observation; the series head explodes to itself
      // all-integer CUSUM: n·prefix − k·S in centi-units; the argmax row
      // picked by (|cusum| desc, ts, id) — every op exact in both engines
      // (DuckDB's HUGEINT sums are numerically identical, cast at the end)
      "ts_cusum" ->
        """WITH b AS (
          |  SELECT event_type, epoch_us(ts) AS ts_us, event_id,
          |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
          |  FROM events WHERE value IS NOT NULL),
          |st AS (SELECT event_type, count(*) AS n, sum(vc) AS s
          |       FROM b GROUP BY 1 HAVING count(*) >= 2),
          |c AS (SELECT b.event_type, b.ts_us, b.event_id, st.n, st.s,
          |             sum(b.vc) OVER (PARTITION BY b.event_type
          |               ORDER BY b.ts_us, b.event_id
          |               ROWS UNBOUNDED PRECEDING) AS pref,
          |             row_number() OVER (PARTITION BY b.event_type
          |               ORDER BY b.ts_us, b.event_id) AS k
          |      FROM b JOIN st USING (event_type)),
          |a AS (SELECT event_type, ts_us, event_id, n, s,
          |             abs(n * pref - k * s) AS cabs
          |      FROM c)
          |SELECT event_type, CAST(n AS BIGINT) AS n_events,
          |       ts_us AS cp_ts, event_id AS cp_id,
          |       CAST(cabs AS BIGINT) AS cusum_abs,
          |       CAST(s AS BIGINT) AS sum_c100
          |FROM (SELECT *, row_number() OVER (PARTITION BY event_type
          |        ORDER BY cabs DESC, ts_us, event_id) AS r FROM a)
          |WHERE r = 1""".stripMargin,

      // the merge loop unrolled round-for-round; sequential replace() has
      // identical left-to-right semantics in both engines
      "bpe_train" ->
        (s"WITH ${bpeCtes(6)}\n" +
          (1 to 6).map(k =>
            s"""SELECT $k AS round, l AS "left", r AS "right",
               |  l || r AS merged, CAST(c AS BIGINT) AS pair_count
               |FROM t$k""".stripMargin)
            .mkString("\nUNION ALL\n")),

      // the deep unroll: 120 guarded rounds (≥ the corpus's provable
      // 107-merge ceiling) accumulated through chained m_k CTEs; rounds
      // past exhaustion contribute nothing on either side
      "bpe_train_deep" ->
        (s"WITH ${bpeDeepCtes(120)}\n" +
          """SELECT round, l AS "left", r AS "right", l || r AS merged,
            |       CAST(c AS BIGINT) AS pair_count
            |FROM m120""".stripMargin),

      // training CTEs + the chained doc-level replaces; token count =
      // number of '<' cell openers
      "bpe_segment" -> bpeSegmentSql,

      // per-language tokenizer fertility over the same 6-merge replay:
      // grouped integer sums + one exact ppm division
      "bpe_fertility" ->
        s"""WITH seg AS ($bpeSegmentSql)
           |SELECT d.lang,
           |       CAST(sum(seg.n_bpe_tokens) AS BIGINT) AS n_bpe_tokens,
           |       CAST(sum(seg.n_words) AS BIGINT) AS n_words,
           |       CASE WHEN sum(seg.n_words) = 0 THEN NULL
           |            ELSE CAST((sum(seg.n_bpe_tokens) * 1000000)
           |                      // sum(seg.n_words) AS BIGINT)
           |       END AS fertility_ppm
           |FROM seg JOIN documents d USING (doc_id)
           |GROUP BY 1""".stripMargin,

      // centi-unit longs; HUGEINT moment sums mirror Spark's
      // decimal(37,0) products exactly; one shared IEEE tree at the end
      "ts_autocorr" ->
        """WITH b AS (
          |  SELECT event_type, epoch_us(ts) AS ts_us, event_id,
          |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
          |  FROM events WHERE value IS NOT NULL),
          |l AS (SELECT event_type, x,
          |             lag(x, 1) OVER w AS y1, lag(x, 2) OVER w AS y2,
          |             lag(x, 3) OVER w AS y3
          |      FROM b
          |      WINDOW w AS (PARTITION BY event_type
          |                   ORDER BY ts_us, event_id)),
          |p AS (SELECT event_type, 1 AS lag, x, y1 AS y FROM l
          |      WHERE y1 IS NOT NULL
          |      UNION ALL SELECT event_type, 2, x, y2 FROM l
          |      WHERE y2 IS NOT NULL
          |      UNION ALL SELECT event_type, 3, x, y3 FROM l
          |      WHERE y3 IS NOT NULL),
          |a AS (SELECT event_type, lag, count(*) AS n_pairs,
          |             SUM(CAST(x AS HUGEINT)) AS sx,
          |             SUM(CAST(y AS HUGEINT)) AS sy,
          |             SUM(CAST(x AS HUGEINT) * y) AS sxy,
          |             SUM(CAST(x AS HUGEINT) * x) AS sxx,
          |             SUM(CAST(y AS HUGEINT) * y) AS syy
          |      FROM p GROUP BY 1, 2)
          |SELECT event_type, lag, n_pairs,
          |       CASE WHEN n_pairs >= 2
          |                 AND CAST(n_pairs * sxx - sx * sx AS DOUBLE) > 0
          |                 AND CAST(n_pairs * syy - sy * sy AS DOUBLE) > 0
          |            THEN round(CAST(n_pairs * sxy - sx * sy AS DOUBLE)
          |                 / sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE)
          |                        * CAST(n_pairs * syy - sy * sy AS DOUBLE)),
          |                 6)
          |       END AS autocorr
          |FROM a""".stripMargin,

      "event_markov" ->
        """WITH t AS (
          |  SELECT event_type,
          |         lag(event_type) OVER (PARTITION BY user_id
          |           ORDER BY epoch_us(ts), event_id) AS from_type
          |  FROM events),
          |tr AS (SELECT from_type, event_type AS to_type,
          |              CAST(count(*) AS BIGINT) AS n
          |       FROM t WHERE from_type IS NOT NULL GROUP BY 1, 2),
          |tot AS (SELECT from_type, sum(n) AS total FROM tr GROUP BY 1)
          |SELECT tr.from_type, tr.to_type, tr.n,
          |       CAST(tr.n * 1000000 // tot.total AS BIGINT) AS ppm
          |FROM tr JOIN tot USING (from_type)""".stripMargin,

      "source_trend" ->
        """WITH a AS (
          |  SELECT source, CAST(count(*) AS BIGINT) AS n_rows,
          |         SUM(CAST(doc_id AS HUGEINT)) AS sx,
          |         SUM(CAST(n_chars AS HUGEINT)) AS sy,
          |         SUM(CAST(doc_id AS HUGEINT) * n_chars) AS sxy,
          |         SUM(CAST(doc_id AS HUGEINT) * doc_id) AS sxx
          |  FROM documents
          |  WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL
          |  GROUP BY 1)
          |SELECT source, n_rows,
          |  CASE WHEN n_rows >= 2
          |            AND CAST(n_rows * sxx - sx * sx AS DOUBLE) > 0
          |       THEN round(CAST(n_rows * sxy - sx * sy AS DOUBLE)
          |            / CAST(n_rows * sxx - sx * sx AS DOUBLE), 6)
          |  END AS slope,
          |  CASE WHEN n_rows >= 2
          |            AND CAST(n_rows * sxx - sx * sx AS DOUBLE) > 0
          |       THEN round((CAST(sy AS DOUBLE)
          |            - (CAST(n_rows * sxy - sx * sy AS DOUBLE)
          |               / CAST(n_rows * sxx - sx * sx AS DOUBLE))
          |              * CAST(sx AS DOUBLE)) / CAST(n_rows AS DOUBLE), 6)
          |  END AS intercept
          |FROM a""".stripMargin,

      // chunk starts at multiples of step=48 while start < n; list_slice
      // is 1-based inclusive ≡ Spark's slice(start+1, len); seg_id =
      // start // step ≡ the engine's posexplode index
      "doc_chunks" -> docChunksSql,

      // ingest-time chunking is the batch chunker under a micro-batch
      // trigger (map-only, stateless) — same oracle
      "stream_chunks" -> docChunksSql,

      // integer nano-ln terms (round(ln·1e9) on exact integer
      // ranks/counts — the tokenEntropy/adamic ln discipline), HUGEINT
      // moment sums ≡ Spark's DECIMAL algebra value-for-value, one
      // shared IEEE tree at the end; the 1e9 scale cancels in the slope
      "corpus_zipf_source" ->
        """WITH tf AS (
          |  SELECT source, unnest(string_split_regex(text, '\s+')) AS tok
          |  FROM documents),
          |cnt AS (SELECT source, tok, count(*) AS c FROM tf GROUP BY 1, 2),
          |rk AS (SELECT source, tok, c,
          |         row_number() OVER (PARTITION BY source
          |                            ORDER BY c DESC, tok) AS rank
          |       FROM cnt),
          |tm AS (SELECT source,
          |         CAST(round(ln(rank) * 1000000000) AS HUGEINT) AS x,
          |         CAST(round(ln(c) * 1000000000) AS HUGEINT) AS y
          |       FROM rk WHERE rank <= 200),
          |ag AS (SELECT source, count(*) AS n,
          |         sum(x) AS sx, sum(y) AS sy,
          |         sum(x * y) AS sxy, sum(x * x) AS sxx
          |       FROM tm GROUP BY 1)
          |SELECT source, CAST(n AS BIGINT) AS n_ranks,
          |  CASE WHEN n >= 2 AND CAST(n * sxx - sx * sx AS DOUBLE) > 0
          |       THEN round(CAST(n * sxy - sx * sy AS DOUBLE)
          |            / CAST(n * sxx - sx * sx AS DOUBLE), 6)
          |  END AS zipf_slope,
          |  CASE WHEN n >= 2 AND CAST(n * sxx - sx * sx AS DOUBLE) > 0
          |       THEN round((CAST(sy AS DOUBLE)
          |            - (CAST(n * sxy - sx * sy AS DOUBLE)
          |               / CAST(n * sxx - sx * sx AS DOUBLE))
          |              * CAST(sx AS DOUBLE))
          |            / (CAST(n AS DOUBLE) * 1000000000), 6)
          |  END AS zipf_intercept
          |FROM ag""".stripMargin,

      // Morton key built by the mirrored bit-interleave expression;
      // bucket = top 6 of the 32 key bits
      "layout_zorder" ->
        (s"""WITH d AS (
           |  SELECT user_id * 1024 // 150 AS x,
           |         ((epoch_us(ts) - $Epoch2024Us) // 3600000000)
           |           * 1024 // 744 AS y
           |  FROM events),
           |z AS (SELECT ${zorderKeySql("x", "y", 10)} AS zkey, x, y FROM d)
           |SELECT zkey >> 14 AS zbucket, CAST(count(*) AS BIGINT) AS n,
           |       min(x) AS x_min, max(x) AS x_max,
           |       min(y) AS y_min, max(y) AS y_max
           |FROM z GROUP BY 1""".stripMargin),

      "ts_gapfill" ->
        """WITH b AS (
          |  SELECT user_id, event_type,
          |         epoch_us(ts) - epoch_us(ts) % 86400000000 AS bucket,
          |         max(value) AS v
          |  FROM events GROUP BY 1, 2, 3),
          |p AS (
          |  SELECT *, lag(bucket) OVER w AS prev_bucket,
          |         lag(v) OVER w AS prev_v
          |  FROM b
          |  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY bucket)),
          |g AS (
          |  SELECT user_id, event_type, prev_bucket, prev_v, v,
          |         bucket AS next_bucket,
          |         unnest(CASE WHEN prev_bucket IS NULL THEN [bucket]
          |                     ELSE generate_series(
          |                       prev_bucket + 86400000000, bucket,
          |                       86400000000) END) AS bucket
          |  FROM p)
          |SELECT user_id, event_type, bucket,
          |       CASE WHEN bucket = next_bucket THEN round(v, 6)
          |            ELSE round(prev_v + (v - prev_v)
          |                   * CAST(bucket - prev_bucket AS DOUBLE)
          |                   / CAST(next_bucket - prev_bucket AS DOUBLE),
          |                 6) END AS value,
          |       bucket <> next_bucket AS filled
          |FROM g""".stripMargin,

      // mirror TimeSeries.rollingMean: exact decimal bucket sums, RANGE
      // frame of 6 days preceding, one correctly-rounded division
      "ts_moving" ->
        """WITH b AS (
          |  SELECT user_id, event_type,
          |         epoch_us(ts) - epoch_us(ts) % 86400000000 AS bucket,
          |         sum(CAST(value AS DECIMAL(18,2))) AS bsum,
          |         count(*) AS bn
          |  FROM events GROUP BY 1, 2, 3)
          |SELECT user_id, event_type, bucket,
          |       CAST(sum(bn) OVER w AS BIGINT) AS window_n,
          |       round(CAST(sum(bsum) OVER w AS DOUBLE)
          |             / CAST(sum(bn) OVER w AS DOUBLE), 6) AS moving_avg
          |FROM b
          |WINDOW w AS (PARTITION BY user_id, event_type ORDER BY bucket
          |             RANGE BETWEEN 518400000000 PRECEDING
          |                       AND CURRENT ROW)""".stripMargin,

      // mirror TimeSeries.seasonalDecompose: exact cents buckets, the
      // 2×24 MA numerator as HUGEINT, `//` floor division (≡ the
      // engine's spelled-out (a − pmod) div), nulls where the centered
      // window is incomplete
      "ts_seasonal" ->
        """WITH b AS (
          |  SELECT event_type,
          |         epoch_us(ts) - epoch_us(ts) % 3600000000 AS bucket,
          |         count(*) AS n,
          |         sum(CAST(value AS DECIMAL(18,2))) AS vsum,
          |         CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT)
          |           AS vc
          |  FROM events WHERE epoch_us(ts) >= 0 GROUP BY 1, 2),
          |w AS (
          |  SELECT *, count(*) OVER win AS win_n, sum(vc) OVER win AS win_c
          |  FROM b
          |  WINDOW win AS (PARTITION BY event_type ORDER BY bucket
          |                 RANGE BETWEEN 43200000000 PRECEDING
          |                           AND 43200000000 FOLLOWING)),
          |t AS (
          |  SELECT w.*,
          |         CASE WHEN w.win_n = 25
          |              THEN 2 * w.win_c - lo.vc - hi.vc END AS t_fp
          |  FROM w LEFT JOIN b lo ON lo.event_type = w.event_type
          |                       AND lo.bucket = w.bucket - 43200000000
          |         LEFT JOIN b hi ON hi.event_type = w.event_type
          |                       AND hi.bucket = w.bucket + 43200000000),
          |d AS (SELECT *,
          |        CASE WHEN t_fp IS NOT NULL THEN 48 * vc - t_fp END
          |          AS det_fp,
          |        (bucket // 3600000000) % 24 AS phase
          |      FROM t),
          |pm AS (SELECT event_type, phase,
          |              SUM(det_fp) // COUNT(*) AS s_raw
          |       FROM d WHERE det_fp IS NOT NULL GROUP BY 1, 2),
          |ct AS (SELECT event_type, SUM(s_raw) // COUNT(*) AS m_fp
          |       FROM pm GROUP BY 1),
          |se AS (SELECT pm.event_type, pm.phase,
          |              pm.s_raw - ct.m_fp AS seasonal_fp
          |       FROM pm JOIN ct USING (event_type))
          |SELECT d.event_type, d.bucket, CAST(d.n AS BIGINT) AS n,
          |       CAST(d.vsum AS DOUBLE) AS value_sum,
          |       round(CAST(d.t_fp AS DOUBLE) / 4800.0, 6) AS trend,
          |       CAST(d.det_fp AS BIGINT) AS det_fp,
          |       CAST(se.seasonal_fp AS BIGINT) AS seasonal_fp,
          |       CAST(d.det_fp - se.seasonal_fp AS BIGINT) AS remainder_fp
          |FROM d LEFT JOIN se ON se.event_type = d.event_type
          |                   AND se.phase = d.phase""".stripMargin,

      // mirror TimeSeries.lttb: exact-decimal bucket means, lag/lead
      // anchors, identical IEEE area tree, (area DESC NULLS LAST,
      // dir·ts, dir·id) argmax — edge buckets fall to the tie-break and
      // keep the series endpoints
      "ts_lttb" ->
        """WITH e AS (
          |  SELECT user_id, event_type, epoch_us(ts) AS ts_us,
          |         event_id, value
          |  FROM events WHERE value IS NOT NULL),
          |b AS (SELECT *, ts_us - ts_us % 86400000000 AS bucket FROM e),
          |m AS (SELECT user_id, event_type, bucket,
          |        CAST(sum(CAST(ts_us AS DECIMAL(38,0))) AS DOUBLE)
          |          / CAST(count(*) AS DOUBLE) AS mx,
          |        CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
          |          / CAST(count(*) AS DOUBLE) AS my,
          |        count(*) AS n_in_bucket
          |      FROM b GROUP BY 1, 2, 3),
          |a AS (SELECT *, lag(mx) OVER w AS ax, lag(my) OVER w AS ay,
          |        lead(mx) OVER w AS cx, lead(my) OVER w AS cy
          |      FROM m
          |      WINDOW w AS (PARTITION BY user_id, event_type ORDER BY bucket)),
          |c AS (SELECT b.user_id, b.event_type, b.bucket, b.ts_us,
          |        b.event_id, CAST(b.value AS DOUBLE) AS value,
          |        a.n_in_bucket,
          |        abs((a.ax - a.cx) * (CAST(b.value AS DOUBLE) - a.ay)
          |            - (a.ax - CAST(b.ts_us AS DOUBLE)) * (a.cy - a.ay))
          |          AS area,
          |        CASE WHEN a.cx IS NULL AND a.ax IS NOT NULL
          |             THEN -1 ELSE 1 END AS dir
          |      FROM b JOIN a USING (user_id, event_type, bucket))
          |SELECT user_id, event_type, bucket, ts_us, event_id, value,
          |       n_in_bucket
          |FROM (SELECT *, row_number() OVER (
          |        PARTITION BY user_id, event_type, bucket
          |        ORDER BY area DESC NULLS LAST, dir * ts_us, dir * event_id)
          |        AS rn
          |      FROM c) WHERE rn = 1""".stripMargin,

      // mirror TimeSeries.ohlc: null values dropped up front; open/close
      // via min_by/max_by on the same portable total-order key (HUGEINT
      // bias ↔ Spark's decimal bias — identical digit strings), exact
      // decimal volume sum, one correctly-rounded division for the mean
      "ts_ohlc" ->
        """WITH e AS (
          |  SELECT user_id, event_type, epoch_us(ts) AS ts_us,
          |         event_id, value
          |  FROM events WHERE value IS NOT NULL),
          |k AS (
          |  SELECT user_id, event_type, value,
          |         ts_us - ts_us % 86400000000 AS bucket,
          |         lpad(CAST(CAST(ts_us AS HUGEINT)
          |                   + 9223372036854775808 AS VARCHAR), 20, '0')
          |           || lpad(CAST(length(CAST(event_id AS VARCHAR))
          |                        AS VARCHAR), 6, '0')
          |           || CAST(event_id AS VARCHAR) AS ord
          |  FROM e)
          |SELECT user_id, event_type, bucket,
          |       min_by(CAST(value AS DOUBLE), ord) AS open,
          |       max(CAST(value AS DOUBLE)) AS high,
          |       min(CAST(value AS DOUBLE)) AS low,
          |       max_by(CAST(value AS DOUBLE), ord) AS close,
          |       count(*) AS n_events,
          |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS vsum,
          |       round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
          |             / CAST(count(*) AS DOUBLE), 6) AS vavg
          |FROM k GROUP BY 1, 2, 3""".stripMargin,

      // streaming OHLC ≡ batch candles on the replayed slice: epoch-
      // aligned 1-day windows make window.start the same bucket key for
      // the NONNEGATIVE event times the streaming contract admits
      "stream_ohlc" ->
        """WITH e AS (
          |  SELECT user_id, event_type, epoch_us(ts) AS ts_us,
          |         event_id, value
          |  FROM events
          |  WHERE value IS NOT NULL AND user_id < 50 AND epoch_us(ts) >= 0),
          |k AS (
          |  SELECT user_id, event_type, value,
          |         ts_us - ts_us % 86400000000 AS bucket,
          |         lpad(CAST(CAST(ts_us AS HUGEINT)
          |                   + 9223372036854775808 AS VARCHAR), 20, '0')
          |           || lpad(CAST(length(CAST(event_id AS VARCHAR))
          |                        AS VARCHAR), 6, '0')
          |           || CAST(event_id AS VARCHAR) AS ord
          |  FROM e)
          |SELECT user_id, event_type, bucket,
          |       min_by(CAST(value AS DOUBLE), ord) AS open,
          |       max(CAST(value AS DOUBLE)) AS high,
          |       min(CAST(value AS DOUBLE)) AS low,
          |       max_by(CAST(value AS DOUBLE), ord) AS close,
          |       count(*) AS n_events,
          |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS vsum,
          |       round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
          |             / CAST(count(*) AS DOUBLE), 6) AS vavg
          |FROM k GROUP BY 1, 2, 3""".stripMargin,

      "curriculum_buckets" ->
        s"""WITH $toksCte,
           |$qualityCte
           |SELECT d.doc_id, d.source, q.quality_score,
           |       CAST(ntile(4) OVER (PARTITION BY d.source
           |           ORDER BY q.quality_score DESC, d.doc_id) AS INT)
           |         AS curriculum_bucket
           |FROM documents d JOIN q ON d.doc_id = q.doc_id""".stripMargin,

      // quantile_cont matches Spark's exact percentile (linear interp at
      // rank p·(n−1)); identical thresholds → identical bucket compares
      "curriculum_global" ->
        s"""WITH $toksCte,
           |$qualityCte,
           |th AS (SELECT quantile_cont(quality_score,
           |                            [0.25, 0.5, 0.75]) AS ts FROM q)
           |SELECT doc_id, quality_score,
           |       CAST(4 - len(list_filter(ts, t -> quality_score > t))
           |            AS INT) AS curriculum_bucket
           |FROM q, th""".stripMargin,

      "group_topk" ->
        s"""WITH $toksCte,
           |$qualityCte,
           |r AS (
           |  SELECT d.doc_id, d.source, q.quality_score,
           |         CAST(row_number() OVER (PARTITION BY d.source
           |             ORDER BY q.quality_score DESC, d.doc_id) AS INT)
           |           AS rank
           |  FROM documents d JOIN q ON d.doc_id = q.doc_id)
           |SELECT doc_id, source, quality_score, rank
           |FROM r WHERE rank <= 5""".stripMargin,

      "dedup_minhash_est" ->
        s"""WITH $shinglesCte,
           |$minhashBandsCte,
           |pairs AS (
           |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           |  FROM bands a JOIN bands b
           |    ON a.band = b.band AND a.band_hash = b.band_hash
           |   AND a.doc_id < b.doc_id)
           |SELECT p.id_a, p.id_b,
           |       round((${(0 until 8).map(i =>
                s"CASE WHEN sa.sig_$i = sb.sig_$i THEN 1 ELSE 0 END")
                .mkString(" + ")}) / 8.0, 6) AS est_jaccard
           |FROM pairs p
           |JOIN sig sa ON sa.doc_id = p.id_a
           |JOIN sig sb ON sb.doc_id = p.id_b""".stripMargin,

      // survivors of the new corpus (src10+): docs with no MinHash band
      // collision against the reference corpus (src0-src9)
      "dedup_cross" ->
        s"""WITH $shinglesCte,
           |$minhashBandsCte,
           |src AS (SELECT doc_id, source,
           |               CAST(substr(source, 4) AS INT) AS src_num
           |        FROM documents),
           |refb AS (SELECT DISTINCT band, band_hash
           |         FROM bands JOIN src USING (doc_id)
           |         WHERE src_num < 10),
           |hit AS (SELECT DISTINCT bands.doc_id
           |        FROM bands JOIN src USING (doc_id)
           |             JOIN refb USING (band, band_hash)
           |        WHERE src_num >= 10)
           |SELECT doc_id, source FROM src
           |WHERE src_num >= 10
           |  AND doc_id NOT IN (SELECT doc_id FROM hit)""".stripMargin,

      // the incremental path drops EXACTLY the same rows as dedup_cross
      // (the band set is the same distinct (band, band_hash) relation
      // whether computed inline or off storage) — identical oracle
      "dedup_cross_incr" ->
        s"""WITH $shinglesCte,
           |$minhashBandsCte,
           |src AS (SELECT doc_id, source,
           |               CAST(substr(source, 4) AS INT) AS src_num
           |        FROM documents),
           |refb AS (SELECT DISTINCT band, band_hash
           |         FROM bands JOIN src USING (doc_id)
           |         WHERE src_num < 10),
           |hit AS (SELECT DISTINCT bands.doc_id
           |        FROM bands JOIN src USING (doc_id)
           |             JOIN refb USING (band, band_hash)
           |        WHERE src_num >= 10)
           |SELECT doc_id, source FROM src
           |WHERE src_num >= 10
           |  AND doc_id NOT IN (SELECT doc_id FROM hit)""".stripMargin,

      // confirm stage mirrored exactly: band-collision candidates, exact
      // DISTINCT-shingle Jaccard ≥ 0.5 convicts (sh is already distinct
      // per doc, matching the xxhash64-keyed Spark intersection)
      "dedup_cross_confirm" ->
        s"""WITH $shinglesCte,
           |$minhashBandsCte,
           |src AS (SELECT doc_id, source,
           |               CAST(substr(source, 4) AS INT) AS src_num
           |        FROM documents),
           |pairs AS (
           |  SELECT DISTINCT n.doc_id AS new_id, r.doc_id AS ref_id
           |  FROM bands n
           |  JOIN src sn ON sn.doc_id = n.doc_id AND sn.src_num >= 10
           |  JOIN bands r ON n.band = r.band AND n.band_hash = r.band_hash
           |  JOIN src sr ON sr.doc_id = r.doc_id AND sr.src_num < 10),
           |iv AS (
           |  SELECT p.new_id, p.ref_id, count(*) AS inter
           |  FROM pairs p
           |  JOIN sh a ON a.doc_id = p.new_id
           |  JOIN sh b ON b.doc_id = p.ref_id AND b.shingle = a.shingle
           |  GROUP BY 1, 2),
           |sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
           |dropids AS (
           |  SELECT DISTINCT i.new_id FROM iv i
           |  JOIN sz a ON a.doc_id = i.new_id
           |  JOIN sz b ON b.doc_id = i.ref_id
           |  WHERE CAST(i.inter AS DOUBLE)
           |        / (a.n_sh + b.n_sh - i.inter) >= 0.5)
           |SELECT doc_id, source FROM src
           |WHERE src_num >= 10
           |  AND doc_id NOT IN (SELECT new_id FROM dropids)""".stripMargin,

      // the salted join must equal the PLAIN join — the oracle is the
      // unsalted formulation
      "skew_join_salted" ->
        """WITH dim AS (
          |  SELECT DISTINCT user_id, user_id % 5 AS tier FROM events)
          |SELECT e.event_id, e.user_id, d.tier, e.value
          |FROM events e JOIN dim d USING (user_id)""".stripMargin,

      // byte math mirrors Multimodal.resizePlan (hex of the first two
      // payload bytes); round on positive doubles is half-up in both
      "mm_resize" ->
        """WITH b AS (SELECT doc_id, encode(text) AS p FROM documents),
          |d AS (SELECT doc_id,
          |        64 + (CASE WHEN octet_length(p) > 0
          |               THEN ('0x' || substr(hex(p), 1, 2))::INT
          |               ELSE 0 END) % 192 AS width,
          |        64 + (CASE WHEN octet_length(p) > 1
          |               THEN ('0x' || substr(hex(p), 3, 2))::INT
          |               ELSE 0 END) % 192 AS height
          |      FROM b),
          |s AS (SELECT *, least(1.0, 224.0 / width, 224.0 / height)
          |        AS sc
          |      FROM d)
          |SELECT doc_id, width, height,
          |       CAST(round(width * sc, 0) AS INT) AS out_w,
          |       CAST(round(height * sc, 0) AS INT) AS out_h,
          |       round(sc, 6) AS scale
          |FROM s""".stripMargin,

      "mm_dedup" ->
        """SELECT md5(text) AS content_hash,
          |       CAST(octet_length(encode(text)) AS INT) AS byte_len,
          |       min(doc_id) AS keeper_id, count(*) AS n_copies
          |FROM documents GROUP BY 1, 2""".stripMargin,

      "events_leaderboard" ->
        """SELECT user_id, count(*) AS n_purchases,
          |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
          |         AS total_spend
          |FROM events WHERE event_type = 'purchase'
          |GROUP BY 1 ORDER BY total_spend DESC, user_id LIMIT 20""".stripMargin,

      "corpus_length_hist" ->
        """SELECT lang, least(n_chars // 100, 5) AS bin,
          |       count(*) AS n_docs,
          |       CAST(sum(n_chars) AS BIGINT) AS total_chars
          |FROM documents GROUP BY 1, 2""".stripMargin,

      "cohort_retention" ->
        """WITH act AS (
          |  SELECT DISTINCT user_id,
          |         epoch_us(ts) - epoch_us(ts) % 86400000000 AS period
          |  FROM events),
          |first AS (
          |  SELECT user_id, min(period) AS cohort FROM act GROUP BY 1)
          |SELECT cohort, (period - cohort) // 86400000000 AS period_offset,
          |       count(*) AS n_users
          |FROM act JOIN first USING (user_id)
          |GROUP BY 1, 2""".stripMargin,

      // mirror Corpus.collocationsPmi's exact double tree:
      // ((c12·N1)/(c1·c2))·(N1/N2), one ln, 6-dp round
      "collocation_pmi" ->
        """WITH ws AS (
          |  SELECT string_split_regex(text, '\s+') AS w FROM documents),
          |uni AS (SELECT unnest(w) AS tok FROM ws),
          |uc AS (SELECT tok, count(*) AS c FROM uni GROUP BY 1),
          |n1t AS (SELECT CAST(sum(c) AS BIGINT) AS n1 FROM uc),
          |bi AS (SELECT w[i] AS w1, w[i + 1] AS w2
          |       FROM (SELECT w, unnest(generate_series(1, len(w) - 1)) AS i
          |             FROM ws WHERE len(w) >= 2)),
          |bc AS (SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY 1, 2
          |       HAVING count(*) >= 5),
          |n2t AS (SELECT CAST(sum(len(w) - 1) AS BIGINT) AS n2
          |        FROM ws WHERE len(w) >= 2)
          |SELECT w1, w2, c12,
          |       round(ln(CAST(c12 AS DOUBLE) * CAST(n1 AS DOUBLE)
          |                / (CAST(a.c AS DOUBLE) * CAST(b.c AS DOUBLE))
          |                * (CAST(n1 AS DOUBLE) / CAST(n2 AS DOUBLE))), 6)
          |         AS pmi
          |FROM bc JOIN uc a ON bc.w1 = a.tok
          |        JOIN uc b ON bc.w2 = b.tok, n1t, n2t
          |ORDER BY pmi DESC, w1, w2 LIMIT 50""".stripMargin,

      // mirror TextAnalysis.slidingChunks: starts every 4, keep a window
      // iff it covers new tokens; DuckDB list slice w[a:b] clips like
      // Spark's slice(w, a, len)
      "chunk_windows" ->
        """WITH ws AS (
          |  SELECT doc_id, string_split_regex(text, '\s+') AS w
          |  FROM documents),
          |st AS (SELECT doc_id, w,
          |              unnest(generate_series(0, len(w) - 1, 4)) AS s
          |       FROM ws WHERE len(w) >= 1)
          |SELECT doc_id, CAST(s // 4 AS INT) AS chunk_idx,
          |       array_to_string(w[s + 1 : s + 8], ' ') AS chunk_text,
          |       CAST(least(8, len(w) - s) AS INT) AS n_tokens
          |FROM st WHERE s = 0 OR len(w) - s > 4""".stripMargin,

      // mirror Corpus.charEntropy: per-char −ln p rounded to 9 dp and
      // fixed as decimal, weighted sum exact, one division + 6-dp round
      "doc_entropy" ->
        """WITH idx AS (
          |  SELECT doc_id, text,
          |         unnest(generate_series(1, length(text))) AS i
          |  FROM documents WHERE length(text) > 0),
          |ch AS (SELECT doc_id, substr(text, CAST(i AS INT), 1) AS ch
          |       FROM idx),
          |cf AS (SELECT doc_id, ch, count(*) AS cnt FROM ch GROUP BY 1, 2),
          |w AS (SELECT doc_id, cnt,
          |             sum(cnt) OVER (PARTITION BY doc_id) AS n
          |      FROM cf),
          |e AS (SELECT doc_id, cnt, n,
          |             CAST(round(-ln(CAST(cnt AS DOUBLE)
          |                            / CAST(n AS DOUBLE)), 9)
          |                  AS DECIMAL(28,9)) AS ent9
          |      FROM w)
          |SELECT doc_id, CAST(max(n) AS BIGINT) AS n_chars,
          |       round(CAST(sum(CAST(cnt AS DECIMAL(9,0)) * ent9) AS DOUBLE)
          |             / CAST(max(n) AS DOUBLE), 6) AS char_entropy
          |FROM e GROUP BY 1""".stripMargin,

      // the same markup wrap + regex chain, step by step — RE2-safe
      // patterns (no backreferences; inline (?is) flags work in both)
      "text_html_extract" ->
        """WITH h AS (SELECT doc_id,
          |  '<html><head><style>p{color:red}</style>' ||
          |  '<script type="text/javascript">var x = 1 < 2;</script>' ||
          |  '</head><body><h1 class="t">Doc &amp; title</h1><p>' ||
          |  text ||
          |  '</p><!-- footer --><div>&copy; nav&nbsp;bar</div>' ||
          |  '</body></html>' AS t
          |  FROM documents),
          |s1 AS (SELECT doc_id, regexp_replace(t,
          |  '(?is)<script\b[^>]*>.*?</script\s*>', ' ', 'g') AS t FROM h),
          |s2 AS (SELECT doc_id, regexp_replace(t,
          |  '(?is)<style\b[^>]*>.*?</style\s*>', ' ', 'g') AS t FROM s1),
          |s3 AS (SELECT doc_id, regexp_replace(t,
          |  '(?s)<!--.*?-->', ' ', 'g') AS t FROM s2),
          |s4 AS (SELECT doc_id, regexp_replace(t,
          |  '(?i)</?(p|br|div|li|ul|ol|h[1-6]|tr|table)\b[^>]*>',
          |  chr(10), 'g') AS t FROM s3),
          |s5 AS (SELECT doc_id, regexp_replace(t,
          |  '(?s)<[^>]*>', ' ', 'g') AS t FROM s4),
          |s6 AS (SELECT doc_id,
          |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
          |  regexp_replace(regexp_replace(regexp_replace(t,
          |    '&amp;', '&', 'g'), '&lt;', '<', 'g'), '&gt;', '>', 'g'),
          |    '&quot;', '"', 'g'), '&apos;', '''', 'g'),
          |    '&#39;', '''', 'g'), '&nbsp;', ' ', 'g') AS t
          |  FROM s5)
          |SELECT doc_id, trim(regexp_replace(t, '\s+', ' ', 'g'))
          |         AS text_main
          |FROM s6""".stripMargin,

      // vocabulary-collapsed char bigrams weighted by word frequency;
      // substr windows mirror the CharWindows(word, 2, 1) kernel
      "bpe_pair_counts" ->
        s"""WITH $toksCte,
           |v AS (SELECT tok AS word, count(*) AS wc
           |      FROM (SELECT unnest(toks) AS tok FROM t) GROUP BY 1),
           |p AS (SELECT substr(word, i, 2) AS pair, wc
           |      FROM (SELECT word, wc,
           |              unnest(generate_series(1, length(word) - 1)) AS i
           |            FROM v WHERE length(word) >= 2))
           |SELECT pair, CAST(sum(wc) AS BIGINT) AS pair_count
           |FROM p GROUP BY 1
           |ORDER BY pair_count DESC, pair LIMIT 50""".stripMargin,

      // the three verified signal oracles joined on doc_id; the fluency
      // threshold is quantile_cont over the 6-dp avg_nll (matches
      // Spark's exact percentile); unscoreable docs fail the fluency leg
      "quality_ensemble" ->
        (s"WITH $bigramNllCtes,\n" +
          s"""th AS (SELECT quantile_cont(avg_nll, 0.75) AS th FROM bnll),
             |cls AS (SELECT doc_id, quality_prob
             |        FROM ($qualityClassifierSql) x),
             |g AS (SELECT doc_id, pass_gopher FROM ($gopherRulesSql) y)
             |SELECT g.doc_id, g.pass_gopher, cls.quality_prob, b.avg_nll,
             |       (g.pass_gopher AND cls.quality_prob >= 0.5
             |        AND b.avg_nll IS NOT NULL AND b.avg_nll <= th.th)
             |         AS keep
             |FROM g JOIN cls USING (doc_id)
             |LEFT JOIN bnll b USING (doc_id), th""".stripMargin),

      // mirrors Sampling.epochAllocation: exact long counts; one double
      // multiply/divide tree per source, floored; 6-dp epochs
      "pack_epochs" ->
        """WITH s AS (SELECT source, count(*) AS n_docs,
          |                  CAST(sum(n_chars) AS BIGINT) AS n_tokens
          |           FROM documents GROUP BY 1),
          |w AS (SELECT *, CASE source WHEN 'src0' THEN 3
          |                            WHEN 'src1' THEN 2
          |                            ELSE 1 END AS wt
          |      FROM s),
          |t AS (SELECT *,
          |        CAST(floor(1000000.0 * CAST(wt AS DOUBLE)
          |             / CAST((SELECT sum(wt) FROM w) AS DOUBLE))
          |          AS BIGINT) AS target_tokens,
          |        CAST(floor(4.0 * CAST(n_tokens AS DOUBLE)) AS BIGINT)
          |          AS cap
          |      FROM w)
          |SELECT source, n_docs, n_tokens, target_tokens,
          |       least(target_tokens, cap) AS served_tokens,
          |       round(CAST(least(target_tokens, cap) AS DOUBLE)
          |             / CAST(n_tokens AS DOUBLE), 6) AS epochs,
          |       target_tokens > cap AS capped,
          |       target_tokens - least(target_tokens, cap) AS shortfall
          |FROM t""".stripMargin,

      // mirrors Corpus.dsirSample: uni+bigram features bucketed by the
      // 16-bit md5 prefix mod 4096; 9-dp-fixed log-ratios summed as exact
      // decimals per doc; Gumbel priority from the 52-bit md5 uniform,
      // rounded to 6 dp before the (priority DESC, doc_id) top-100
      "sample_dsir" ->
        """WITH td AS (SELECT doc_id, string_split_regex(text, '\s+') AS w
          |            FROM documents WHERE source = 'src0'),
          |rd AS (SELECT doc_id, string_split_regex(text, '\s+') AS w
          |       FROM documents WHERE source != 'src0'),
          |tfeat AS (SELECT ('0x' || substr(md5(f), 1, 4))::BIGINT % 4096
          |            AS b
          |          FROM (SELECT unnest(w) AS f FROM td
          |                UNION ALL
          |                SELECT w[i] || ' ' || w[i + 1]
          |                FROM (SELECT w,
          |                        unnest(generate_series(1, len(w) - 1))
          |                          AS i
          |                      FROM td WHERE len(w) >= 2))),
          |tc AS (SELECT b, count(*) AS ct FROM tfeat GROUP BY 1),
          |rfeat AS (SELECT doc_id,
          |            ('0x' || substr(md5(f), 1, 4))::BIGINT % 4096 AS b
          |          FROM (SELECT doc_id, unnest(w) AS f FROM rd
          |                UNION ALL
          |                SELECT doc_id, w[i] || ' ' || w[i + 1]
          |                FROM (SELECT doc_id, w,
          |                        unnest(generate_series(1, len(w) - 1))
          |                          AS i
          |                      FROM rd WHERE len(w) >= 2))),
          |rc AS (SELECT b, count(*) AS cr FROM rfeat GROUP BY 1),
          |nt AS (SELECT sum(ct) AS nt FROM tc),
          |nr AS (SELECT sum(cr) AS nr FROM rc),
          |rat AS (SELECT rc.b,
          |          CAST(round(
          |            ln((CAST(coalesce(tc.ct, 0) AS DOUBLE) + 1.0) /
          |               (CAST(nt.nt AS DOUBLE) + 4096.0)) -
          |            ln((CAST(rc.cr AS DOUBLE) + 1.0) /
          |               (CAST(nr.nr AS DOUBLE) + 4096.0)), 9)
          |            AS DECIMAL(28,9)) AS r9
          |        FROM rc LEFT JOIN tc USING (b), nt, nr),
          |db AS (SELECT doc_id, b, count(*) AS tf FROM rfeat GROUP BY 1, 2),
          |sc AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_feats,
          |              sum(CAST(tf AS DECIMAL(9,0)) * r9) AS lw
          |       FROM db JOIN rat USING (b) GROUP BY 1)
          |SELECT doc_id, n_feats,
          |       round(CAST(lw AS DOUBLE), 6) AS logw,
          |       round(CAST(lw AS DOUBLE) - ln(-ln(
          |         (('0x' || substr(md5('dsir' || CAST(doc_id AS VARCHAR)),
          |             1, 13))::BIGINT + 0.5) / 4503599627370496.0)), 6)
          |         AS priority
          |FROM sc
          |ORDER BY priority DESC, doc_id LIMIT 100""".stripMargin,

      // bucket/weight arithmetic mirrors QualityModel.score exactly:
      // 16-bit md5 prefix mod 256, integer weights summed exactly, one
      // final division; only the logistic passes through libm exp
      "quality_classifier" -> qualityClassifierSql,

      // table-path mirror: per-token weight k/2^17 − 1 summed exactly —
      // the integer identity Σ(k_i/2^17 − 1) = (Σk_i − n·2^17)/2^17 keeps
      // the oracle in BIGINT until ONE exact power-of-two double scaling,
      // matching the engine's decimal(38,18) sum bit-for-bit
      "quality_classifier_table" ->
        s"""WITH $toksCte,
           |wt AS (SELECT i AS bucket, (i * 2654435761) % 262144 AS k
           |       FROM range(256) r(i)),
           |tok AS (SELECT doc_id, CAST(len(toks) AS INT) AS token_count,
           |               unnest(toks) AS tok
           |        FROM t),
           |b AS (SELECT doc_id, token_count,
           |             ('0x' || substr(md5(tok), 1, 4))::BIGINT % 256
           |               AS bucket
           |      FROM tok),
           |sagg AS (SELECT doc_id, token_count, sum(k) AS sk
           |         FROM b JOIN wt USING (bucket) GROUP BY 1, 2),
           |l AS (SELECT doc_id, token_count,
           |             CAST(sk - token_count * 131072 AS DOUBLE) / 131072.0
           |               / CAST(token_count AS DOUBLE) AS lin
           |      FROM sagg)
           |SELECT doc_id, token_count, round(lin, 6) AS score_linear,
           |       round(1.0 / (1.0 + exp(lin * -4.0)), 6) AS quality_prob
           |FROM l""".stripMargin,

      // Gopher rules: every measured value mirrors gopherRules' exact
      // arithmetic (regexp_replace with 'g' = Spark's replace-all;
      // DuckDB `/` is float division like Spark's Column `/`)
      "quality_rules" -> gopherRulesSql,

      // the stream gate is map-only and stateless, so its oracle is
      // simply the batch rule table filtered on the conjunction
      // ingest-time PQ encode is the batch encode under a micro-batch
      // trigger — same codes, same oracle as embed_pq_codes
      "stream_pq" ->
        (s"WITH ${pqEncodeCtes(8, 16, 8)}\n" +
          """SELECT vec_id, CAST(j AS BIGINT) AS subspace,
            |       CAST(c AS BIGINT) AS code
            |FROM a""".stripMargin),

      // ingest-time fingerprint encode is the batch hammingWord under a
      // micro-batch trigger (map-only, stateless) — the oracle is the
      // plain word projection
      "stream_hamming" ->
        s"""SELECT vec_id, ${hammingWordSql("v", 48, 64)} AS fingerprint
           |FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           |      FROM embeddings WHERE len(embedding) >= 64)""".stripMargin,

      // ingest-time trained-IVF cell assignment is the batch argmin
      // under a micro-batch trigger (map-only, stateless) — the oracle
      // is the kmeans training's final assignment
      "stream_ivf" ->
        (s"WITH ${kmeansCtes(8, 2, 64)}\n" +
          """SELECT vec_id, CAST(cluster AS BIGINT) AS cell
            |FROM a2""".stripMargin),

      "stream_quality" ->
        s"""SELECT q.doc_id, d.source, q.n_words, q.stop_hits
           |FROM ($gopherRulesSql) q
           |JOIN documents d ON d.doc_id = q.doc_id
           |WHERE q.pass_gopher""".stripMargin,

      // per-source KL vs corpus: grouping by the token STRING here vs
      // its 64-bit hash on the engine side (the documented collision
      // trade); per-term contributions fixed at 9 dp and summed as
      // exact decimals on both sides
      "source_divergence" ->
        """WITH tok AS (SELECT source, unnest(string_split_regex(text, '\s+')) AS tok
          |             FROM documents),
          |ps AS (SELECT source, tok, count(*) AS c_st FROM tok GROUP BY 1, 2),
          |pt AS (SELECT tok, CAST(sum(c_st) AS BIGINT) AS c_t FROM ps GROUP BY 1),
          |st AS (SELECT source, CAST(sum(c_st) AS BIGINT) AS n_s FROM ps GROUP BY 1),
          |tot AS (SELECT CAST(sum(c_t) AS BIGINT) AS n FROM pt),
          |terms AS (SELECT ps.source, n_s,
          |            CAST(round((CAST(c_st AS DOUBLE) / CAST(n_s AS DOUBLE))
          |              * ln((CAST(c_st AS DOUBLE) * CAST(n AS DOUBLE))
          |                   / (CAST(n_s AS DOUBLE) * CAST(c_t AS DOUBLE))), 9)
          |              AS DECIMAL(28,9)) AS kl9
          |          FROM ps JOIN pt USING (tok) JOIN st USING (source) CROSS JOIN tot)
          |SELECT source, CAST(max(n_s) AS BIGINT) AS n_tokens,
          |       round(CAST(sum(kl9) AS DOUBLE), 6) AS kl_nats
          |FROM terms GROUP BY 1""".stripMargin,

      // pairwise source overlap over the shared shingle CTE (string
      // grams here vs 64-bit hashes engine-side — same trade as above)
      // engine groups the 64-bit gram hash, oracle the shingle string —
      // identical up to xxhash64 collisions (the source_overlap trade)
      "source_unique" ->
        s"""WITH $shinglesCte,
           |sg AS (SELECT DISTINCT d.source, s.shingle
           |       FROM sh s JOIN documents d USING (doc_id)),
           |h AS (SELECT shingle, count(*) AS nsrc FROM sg GROUP BY 1)
           |SELECT sg.source, CAST(count(*) AS BIGINT) AS n_grams,
           |       CAST(sum(CASE WHEN h.nsrc = 1 THEN 1 ELSE 0 END)
           |         AS BIGINT) AS n_unique,
           |       CAST(sum(CASE WHEN h.nsrc = 1 THEN 1 ELSE 0 END)
           |            * 1000000 // count(*) AS BIGINT) AS unique_ppm
           |FROM sg JOIN h USING (shingle) GROUP BY 1""".stripMargin,

      "source_overlap" ->
        s"""WITH $shinglesCte,
           |sg AS (SELECT DISTINCT d.source, s.shingle
           |       FROM sh s JOIN documents d USING (doc_id)),
           |sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS n_grams
           |          FROM sg GROUP BY 1),
           |shared AS (SELECT a.source AS source_a, b.source AS source_b,
           |                  CAST(count(*) AS BIGINT) AS n_shared
           |           FROM sg a JOIN sg b ON a.shingle = b.shingle
           |             AND a.source < b.source
           |           GROUP BY 1, 2)
           |SELECT source_a, source_b, n_shared,
           |       round(CAST(n_shared AS DOUBLE)
           |             / (sa.n_grams + sb.n_grams - n_shared), 6) AS jaccard
           |FROM shared
           |JOIN sizes sa ON sa.source = source_a
           |JOIN sizes sb ON sb.source = source_b""".stripMargin,

      // the register derivation (idx/rho) is the ENGINE'S OWN SQL string,
      // embedded verbatim; everything is integer until the single
      // estimate division by the shared numerator literal
      "sketch_overlap" -> {
        val c = java.lang.Double.toString(graft.llm.Sketches.EstNumerator)
        val one = "CAST(1 AS BIGINT)"
        def estOf(s: String) = s"round($c / CAST($s AS DOUBLE), 3)"
        s"""WITH $shinglesCte,
           |sg AS (SELECT DISTINCT d.source, md5(s.shingle) AS h
           |       FROM sh s JOIN documents d USING (doc_id)),
           |r0 AS (SELECT source, ${graft.llm.Sketches.IdxSql} AS idx,
           |              ${graft.llm.Sketches.RhoSql} AS rho
           |       FROM sg),
           |reg AS (SELECT source, idx, max(rho) AS m FROM r0 GROUP BY 1, 2),
           |den AS (SELECT source,
           |          SUM(CAST($one << (57 - m) AS HUGEINT))
           |            + (256 - count(*)) * CAST($one << 57 AS HUGEINT)
           |            AS s_int
           |        FROM reg GROUP BY 1),
           |shared AS (SELECT a.source AS source_a, b.source AS source_b,
           |             SUM(CAST($one << (57 - greatest(a.m, b.m)) AS HUGEINT)
           |                 - ($one << (57 - a.m))
           |                 - ($one << (57 - b.m))
           |                 + ($one << 57)) AS adj
           |           FROM reg a JOIN reg b
           |             ON a.idx = b.idx AND a.source < b.source
           |           GROUP BY 1, 2)
           |SELECT source_a, source_b,
           |       ${estOf("da.s_int")} AS est_a,
           |       ${estOf("db.s_int")} AS est_b,
           |       ${estOf("da.s_int + db.s_int + adj - 256 * CAST(" + one + " << 57 AS HUGEINT)")}
           |         AS est_union,
           |       round(${estOf("da.s_int")} + ${estOf("db.s_int")}
           |             - ${estOf("da.s_int + db.s_int + adj - 256 * CAST(" + one + " << 57 AS HUGEINT)")},
           |             3) AS overlap_est
           |FROM shared
           |JOIN den da ON da.source = source_a
           |JOIN den db ON db.source = source_b""".stripMargin
      },

      // sketch_overlap's HLL register algebra (over tokens instead of
      // shingles) composed with sketch_quantiles' string-math HDR buckets
      // (gridPerUnit=1: n_chars is already an integer grid) — the profile
      // replays bit-for-bit; the register aggregate's per-register counts
      // sum to the exact token total, mirroring the engine's single-pass
      // fold. vocab_est takes the standard linear-counting branch when
      // the raw estimate ≤ 2.5·m (ln on identical integer-derived
      // operands — replayable)
      "sketch_profile" -> {
        val c = java.lang.Double.toString(graft.llm.Sketches.EstNumerator)
        val one = "CAST(1 AS BIGINT)"
        s"""WITH tok AS (
           |  SELECT source, unnest(string_split_regex(text, '\\s+')) AS term
           |  FROM documents),
           |h0 AS (SELECT source, md5(term) AS h FROM tok),
           |r0 AS (SELECT source, ${graft.llm.Sketches.IdxSql} AS idx,
           |              ${graft.llm.Sketches.RhoSql} AS rho
           |       FROM h0),
           |reg AS (SELECT source, idx, max(rho) AS m, count(*) AS c
           |        FROM r0 GROUP BY 1, 2),
           |den AS (SELECT source,
           |          SUM(CAST($one << (57 - m) AS HUGEINT))
           |            + (256 - count(*)) * CAST($one << 57 AS HUGEINT)
           |            AS s_int,
           |          count(*) AS n_reg,
           |          SUM(c) AS tokens
           |        FROM reg GROUP BY 1),
           |dc AS (SELECT source, count(*) AS docs FROM documents GROUP BY 1),
           |srcq AS (
           |  SELECT source,
           |         CAST(CAST(floor(n_chars * 1.0) AS BIGINT) AS VARCHAR)
           |           AS gs
           |  FROM documents WHERE n_chars >= 0),
           |b AS (SELECT source,
           |        CAST(substr(gs, 1, 2) ||
           |             repeat('0', greatest(length(gs) - 2, 0)) AS BIGINT)
           |          AS lo,
           |        CAST(CAST(CAST(substr(gs, 1, 2) AS BIGINT) + 1
           |               AS VARCHAR) ||
           |             repeat('0', greatest(length(gs) - 2, 0)) AS BIGINT)
           |          AS hi
           |      FROM srcq),
           |cnts AS (SELECT source, lo, hi, count(*) AS cnt
           |         FROM b GROUP BY 1, 2, 3),
           |cum AS (SELECT *,
           |          SUM(cnt) OVER (PARTITION BY source ORDER BY lo) AS cum,
           |          SUM(cnt) OVER (PARTITION BY source) AS n
           |        FROM cnts),
           |wp AS (SELECT *, unnest([0.5, 0.9, 0.99]) AS p FROM cum),
           |sel AS (SELECT *, p * CAST(n AS DOUBLE) AS t FROM wp),
           |pick AS (SELECT * FROM (
           |  SELECT *, row_number() OVER (PARTITION BY source, p
           |                               ORDER BY lo) AS rn
           |  FROM sel WHERE CAST(cum AS DOUBLE) >= t) WHERE rn = 1),
           |est AS (SELECT source, p,
           |          round((CAST(lo AS DOUBLE) + CAST(hi - lo AS DOUBLE) *
           |                 (t - CAST(cum - cnt AS DOUBLE)) /
           |                 CAST(cnt AS DOUBLE)) / 1.0, 6) AS est
           |        FROM pick),
           |q AS (SELECT source,
           |        max(CASE WHEN p = 0.5 THEN est END) AS len_p50,
           |        max(CASE WHEN p = 0.9 THEN est END) AS len_p90,
           |        max(CASE WHEN p = 0.99 THEN est END) AS len_p99
           |      FROM est GROUP BY 1)
           |SELECT dc.source, CAST(dc.docs AS BIGINT) AS docs,
           |       CAST(den.tokens AS BIGINT) AS tokens,
           |       CASE WHEN $c / CAST(den.s_int AS DOUBLE) <= 640.0
           |                 AND den.n_reg < 256
           |            THEN round(256.0 *
           |                   ln(256.0 / CAST(256 - den.n_reg AS DOUBLE)), 3)
           |            ELSE round($c / CAST(den.s_int AS DOUBLE), 3)
           |            END AS vocab_est,
           |       q.len_p50, q.len_p90, q.len_p99
           |FROM dc JOIN den USING (source) JOIN q USING (source)""".stripMargin
      },

      // first-occurrence novelty over the shared shingle CTE: grouping by
      // the shingle STRING here vs its 64-bit hash on the engine side —
      // identical up to xxhash64 collisions (the documented trade)
      "ngram_novelty" ->
        s"""WITH $shinglesCte,
           |first AS (SELECT shingle, min(doc_id) AS first_id
           |          FROM sh GROUP BY 1)
           |SELECT sh.doc_id, count(*) AS n_ngrams,
           |       CAST(sum(CASE WHEN first_id = sh.doc_id THEN 1 ELSE 0 END)
           |            AS BIGINT) AS n_novel,
           |       round(CAST(sum(CASE WHEN first_id = sh.doc_id
           |                           THEN 1 ELSE 0 END) AS DOUBLE)
           |             / CAST(count(*) AS DOUBLE), 6) AS novelty
           |FROM sh JOIN first USING (shingle)
           |GROUP BY 1""".stripMargin,

      // the composed cleaning pipeline: every stage reuses the CTEs the
      // individual operators are verified against
      "pipeline_clean" ->
        s"""WITH $langCte,
           |$qualityCte,
           |f AS (
           |  SELECT d.doc_id, d.text, q.quality_score,
           |         CAST(qst.token_count AS BIGINT) AS tokens
           |  FROM documents d
           |  JOIN q ON q.doc_id = d.doc_id
           |  JOIN qst ON qst.doc_id = d.doc_id
           |  JOIN lang l ON l.doc_id = d.doc_id
           |  WHERE q.quality_score >= 0.5 AND l.lang_id = 'en'),
           |kept AS (
           |  SELECT doc_id, quality_score, tokens FROM (
           |    SELECT *, row_number() OVER (
           |        PARTITION BY md5(text) ORDER BY doc_id) AS rn
           |    FROM f) WHERE rn = 1),
           |run AS (
           |  SELECT doc_id, quality_score,
           |         coalesce(sum(tokens) OVER (
           |             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
           |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |           AS before
           |  FROM kept)
           |SELECT doc_id, quality_score,
           |       CAST(floor(before / 2000) AS BIGINT) AS shard_id,
           |       CAST(before - floor(before / 2000) * 2000 AS BIGINT)
           |         AS shard_offset
           |FROM run""".stripMargin,

      // the composed curation pipeline: every stage reuses the CTE
      // fragment its standalone query is verified against —
      // quality_ensemble's signal CTEs, dedup_exact_norm's window,
      // dedup_minhash_lsh's bands (restricted to survivors on BOTH pair
      // sides), contamination_ngram's ≥2-shared-shingles pairs,
      // sample_temperature's rate algebra (counts from the SURVIVORS),
      // pack_shards' per-stratum running window
      "pipeline_curate" ->
        (s"""WITH $toksCte,
            |$bigramNllCtes,
            |$shinglesFromWsCte,
            |$minhashBandsCte,
            |th AS (SELECT quantile_cont(avg_nll, 0.75) AS th FROM bnll),
            |cls AS (SELECT doc_id, quality_prob
            |        FROM ($qualityClassifierSql) x),
            |g AS (SELECT doc_id, pass_gopher FROM ($gopherRulesSql) y),
            |k1 AS (SELECT g.doc_id
            |       FROM g JOIN cls USING (doc_id)
            |       LEFT JOIN bnll b USING (doc_id), th
            |       WHERE g.pass_gopher
            |         AND cls.quality_prob >= $CurateClsThreshold
            |         AND b.avg_nll IS NOT NULL AND b.avg_nll <= th.th),
            |nrm AS (SELECT d.doc_id,
            |          nfc_normalize(lower(trim(
            |            regexp_replace(d.text, '\\s+', ' ', 'g')))) AS tn
            |        FROM documents d JOIN k1 USING (doc_id)),
            |k2 AS (SELECT doc_id FROM (
            |         SELECT doc_id, row_number() OVER (
            |             PARTITION BY md5(tn) ORDER BY doc_id) AS rn
            |         FROM nrm) WHERE rn = 1),
            |nd AS (SELECT DISTINCT b.doc_id
            |       FROM bands a JOIN bands b
            |         ON a.band = b.band AND a.band_hash = b.band_hash
            |        AND a.doc_id < b.doc_id
            |       JOIN k2 ka ON ka.doc_id = a.doc_id
            |       JOIN k2 kb ON kb.doc_id = b.doc_id),
            |k3 AS (SELECT doc_id FROM k2
            |       WHERE doc_id NOT IN (SELECT doc_id FROM nd)),
            |tst AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 17 = 0),
            |cont AS (SELECT DISTINCT train_id FROM (
            |          SELECT tst.doc_id AS test_id,
            |                 tr.doc_id AS train_id, count(*) AS c
            |          FROM sh tr JOIN tst USING (shingle)
            |          WHERE tr.doc_id % 17 != 0
            |          GROUP BY 1, 2) WHERE c >= 2),
            |k4 AS (SELECT doc_id FROM k3
            |       WHERE doc_id % 17 != 0
            |         AND doc_id NOT IN (SELECT train_id FROM cont)),
            |sv AS (SELECT d.doc_id, d.lang
            |       FROM documents d JOIN k4 USING (doc_id)),
            |tn4 AS (SELECT lang, count(*) AS n FROM sv GROUP BY 1),
            |tw AS (SELECT lang, n,
            |         CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1000000.0)
            |           AS BIGINT) AS w
            |       FROM tn4),
            |tt AS (SELECT lang, n, w,
            |         CAST(SUM(w) OVER () AS BIGINT) AS tot,
            |         CAST(floor(0.5 * CAST(CAST(SUM(n) OVER () AS BIGINT)
            |                               AS DOUBLE)) AS DOUBLE) AS budget
            |       FROM tw),
            |tr4 AS (SELECT lang,
            |          greatest(round(least(1.0,
            |            (budget * CAST(w AS DOUBLE))
            |              / (CAST(tot AS DOUBLE) * CAST(n AS DOUBLE))), 6),
            |            0.000001) AS rate
            |        FROM tt),
            |samp AS (SELECT sv.doc_id, sv.lang FROM sv
            |         JOIN tr4 ON sv.lang IS NOT DISTINCT FROM tr4.lang
            |         WHERE rate >= 1.0
            |            OR (('0x' || substr(md5(CAST(sv.doc_id AS VARCHAR)),
            |                                1, 13))
            |                  ::BIGINT / 4503599627370496.0) < rate),
            |tk AS (SELECT samp.doc_id, samp.lang,
            |              CAST(len(t.toks) AS BIGINT) AS tokens
            |       FROM samp JOIN t ON t.doc_id = samp.doc_id),
            |run AS (SELECT doc_id, lang,
            |          coalesce(sum(tokens) OVER (
            |              PARTITION BY lang
            |              ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
            |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
            |            0) AS before
            |        FROM tk)
            |SELECT doc_id, lang,
            |       CAST(floor(before / 2000) AS BIGINT) AS shard_id,
            |       CAST(before - floor(before / 2000) * 2000 AS BIGINT)
            |         AS shard_offset
            |FROM run""".stripMargin),

      // batch formulation of the stream-static enrichment join
      "stream_enrich" ->
        """WITH dim AS (
          |  SELECT DISTINCT user_id, user_id % 5 AS tier FROM events)
          |SELECT e.event_id, e.user_id, d.tier, e.value
          |FROM events e JOIN dim d USING (user_id)
          |WHERE e.user_id < 40""".stripMargin,

      // batch-equivalence oracle: the streaming anti-join chain must drop
      // exactly the band-colliding docs dedup_cross drops
      "stream_crossdedup" ->
        s"""WITH $shinglesCte,
           |$minhashBandsCte,
           |src AS (SELECT doc_id, source,
           |               CAST(substr(source, 4) AS INT) AS src_num
           |        FROM documents),
           |refb AS (SELECT DISTINCT band, band_hash
           |         FROM bands JOIN src USING (doc_id)
           |         WHERE src_num < 10),
           |hit AS (SELECT DISTINCT bands.doc_id
           |        FROM bands JOIN src USING (doc_id)
           |             JOIN refb USING (band, band_hash)
           |        WHERE src_num >= 10)
           |SELECT doc_id, source FROM src
           |WHERE src_num >= 10
           |  AND doc_id NOT IN (SELECT doc_id FROM hit)""".stripMargin
    )
  }
}
