package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Schemas, Tables}
import graft.llm.{Corpus, IvfIndex, QualityModel, Similarity, TextAnalysis}
import graft.llm.IvfIndex.{Bits, Prefix}
import graft.operators.Sessionize

/** Definitions that the row families share: SQL fragments several
  * oracles embed, each beside the Spark operator it is the twin of, and
  * the index configurations, splits and sweep points the Spark and SQL
  * sides share. */
object Shared {
  /** The whitespace token list of the SQL string expression `text` —
    * the DuckDB twin of [[TextAnalysis.tokens]]. */
  private[queries] def tokensSql(text: String = "text"): String =
    s"string_split_regex($text, '\\s+')"

  /** SQL fragment: tokenized documents CTE `t(doc_id, text, toks)`. */
  private[queries] val toksCte =
    s"""t AS (SELECT doc_id, text, ${tokensSql()} AS toks
       |      FROM documents)""".stripMargin

  /** The `w`-token chunker of [[Dedup.chunkDedup]] as CTE `c(doc_id,
    * n_chunks, chunk_idx, chunk)`: documents with at least one token,
    * cut into consecutive `w`-token chunks, the last one ragged. */
  private[queries] def chunksSql(w: Int): String =
    s"""c AS (SELECT doc_id,
       |             CAST(ceil(len(toks) / $w.0) AS BIGINT) AS n_chunks,
       |             i AS chunk_idx,
       |             array_to_string(toks[(i*$w+1):(i*$w+$w)], ' ') AS chunk
       |      FROM (SELECT doc_id, toks,
       |                   unnest(generate_series(
       |                     0, CAST(ceil(len(toks) / $w.0) AS BIGINT) - 1)) AS i
       |            FROM (SELECT doc_id, ${tokensSql()} AS toks FROM documents)
       |            WHERE len(toks) >= 1))""".stripMargin

  /** The chunk family's rebuild: the chunks of `from` (a [[chunksSql]]
    * shape) that survive, reassembled per document in chunk order as
    * `(doc_id, n_chunks, n_kept, clean_text)`. */
  private[queries] def rebuildSql(from: String): String =
    s"""SELECT doc_id, any_value(n_chunks) AS n_chunks,
       |       count(*) AS n_kept,
       |       array_to_string(list(chunk ORDER BY chunk_idx), ' ')
       |         AS clean_text
       |FROM $from GROUP BY doc_id""".stripMargin

  /** SQL fragment: the w=3 [[chunksSql]] plus each chunk hash's
    * corpus-wide multiplicity `m(h, mult)`. */
  private[queries] val chunkMultCtes =
    s"""${chunksSql(3)},
       |m AS (SELECT md5(chunk) AS h, count(*) AS mult FROM c GROUP BY 1)""".stripMargin

  /** [[chunkMultCtes]] folded per document as `sdp(doc_id, n_chunks,
    * n_dup, sum_mult)` — the twin of [[Dedup.chunkDupStats]]. */
  private[queries] val chunkDupCtes =
    s"""$chunkMultCtes,
       |sdp AS (SELECT c.doc_id,
       |               any_value(c.n_chunks) AS n_chunks,
       |               CAST(sum(CASE WHEN m.mult > 1 THEN 1 ELSE 0 END)
       |                 AS BIGINT) AS n_dup,
       |               CAST(sum(m.mult) AS BIGINT) AS sum_mult
       |        FROM c JOIN m ON m.h = md5(c.chunk) GROUP BY c.doc_id)""".stripMargin

  /** The contamination rows' held-out eval slice, as a SQL predicate. */
  private[queries] val isTestSql = "doc_id % 17 = 0"

  /** The eval split of `from` (any relation with `doc_id`) as CTEs
    * `test` and `train` — the twin of [[evalSplit]]. */
  private[queries] def splitCtes(from: String): String =
    s"""test AS (SELECT * FROM $from WHERE $isTestSql),
       |train AS (SELECT * FROM $from WHERE NOT ($isTestSql))""".stripMargin

  /** The held-out eval slice on the Spark side, [[isTestSql]]'s twin. */
  private[queries] val isTest: Column = col("doc_id") % 17 === 0

  /** `docs` split into its `(train, test)` sides by [[isTest]]. */
  private[queries] def evalSplit(docs: DataFrame): (DataFrame, DataFrame) =
    (docs.filter(!isTest), docs.filter(isTest))

  /** The log-log least-squares fit of [[graft.llm.Corpus.zipfFit]] and
    * [[graft.llm.Corpus.heapsFit]]: ln `x` and ln `y` over the rows of
    * `from`, 9-dp-fixed, exact decimal moment sums, then the guarded
    * closed-form tree, output as `names` = (count, slope, intercept,
    * r²). Ends the query (CTEs `p`, `s`, `d`, then the SELECT). */
  private[queries] def logLogFitSql(from: String, x: String, y: String,
                                    names: Seq[String]): String = {
    val Seq(n, slope, intercept, r2) = names
    s"""p AS (SELECT
       |        CAST(round(ln(CAST($x AS DOUBLE)), 9)
       |             AS DECIMAL(12,9)) AS x,
       |        CAST(round(ln(CAST($y AS DOUBLE)), 9)
       |             AS DECIMAL(12,9)) AS y
       |      FROM $from),
       |s AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
       |             sum(CAST(round(x * y, 9) AS DECIMAL(14,9))) AS sxy,
       |             sum(CAST(round(x * x, 9) AS DECIMAL(14,9))) AS sxx,
       |             sum(CAST(round(y * y, 9) AS DECIMAL(14,9))) AS syy
       |      FROM p),
       |d AS (SELECT CAST(n AS BIGINT) AS $n,
       |             CAST(n AS DOUBLE) AS nd,
       |             CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
       |             CAST(sxy AS DOUBLE) AS sxyd,
       |             CAST(sxx AS DOUBLE) AS sxxd,
       |             CAST(syy AS DOUBLE) AS syyd
       |      FROM s)
       |SELECT $n,
       |  CASE WHEN nd * sxxd - sxd * sxd <> 0.0 THEN
       |    round((nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd), 6)
       |  END AS $slope,
       |  CASE WHEN nd * sxxd - sxd * sxd <> 0.0 THEN
       |    round((syd - (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd)
       |           * sxd) / nd, 6) END AS $intercept,
       |  CASE WHEN (nd * sxxd - sxd * sxd) * (nd * syyd - syd * syd)
       |            <> 0.0 THEN
       |    round((nd * sxyd - sxd * syd) * (nd * sxyd - sxd * syd)
       |          / ((nd * sxxd - sxd * sxd) * (nd * syyd - syd * syd)), 6)
       |  END AS $r2
       |FROM d""".stripMargin
  }

  /** Deterministic crawl-record URL synthesized from fixture columns for
    * the url_* queries — mixed case, www/default-port/fragment/tracking
    * params and a trailing slash so every normalize rule fires; multiples
    * of 5 collide onto a shared path so n_urls < n_docs per domain. */
  private[queries] def synthUrl: Column = concat(
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
  private[queries] val urlCtes =
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

  /** SQL fragment: distinct word-3-gram shingles `sh(doc_id, shingle)`,
    * the twin of [[Dedup.shingles]]. Split so composed oracles that
    * ALREADY carry a whitespace-split `ws` CTE (bigramNllCtes defines the
    * identical one) can append just the shingle tail without a name
    * collision. */
  private[queries] val shinglesFromWsCte =
    """idx AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i
      |        FROM ws WHERE len(w) >= 3),
      |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
      |       FROM idx)""".stripMargin

  private[queries] val shinglesCte =
    s"ws AS (SELECT doc_id, ${tokensSql()} AS w FROM documents),\n" +
      shinglesFromWsCte

  private[queries] def sqlStringList(xs: Seq[String]): String =
    xs.map(x => s"'$x'").mkString("[", ", ", "]")

  /** SQL fragment: per-document add-one bigram-LM NLL as CTE
    * `bnll(doc_id, n_bigrams, avg_nll)`, the twin of
    * [[Corpus.bigramNll]]. Expects to follow `WITH `. */
  private[queries] val bigramNllCtes =
    s"""ws AS (SELECT doc_id, ${tokensSql()} AS w
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
      |      FROM (SELECT unnest(${tokensSql()}) AS tok
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

  /** SQL fragment: per-doc quality score `q(doc_id, quality_score)`, the
    * twin of [[TextAnalysis.qualityScore]]. Requires [[toksCte]]. */
  private[queries] val qualityCte =
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
    * `bands(doc_id, band, band_hash)` for k=8 / bands=4, the twin of
    * [[Dedup.minhashSignatures]]/[[Dedup.lshBands]].
    * Requires [[shinglesCte]]. */
  private[queries] val minhashBandsCte =
    s"""sig AS (SELECT doc_id,
       |${(0 until 8).map(i => s"  min(md5('$i|' || shingle)) AS sig_$i").mkString(",\n")}
       |        FROM sh GROUP BY doc_id),
       |bands AS (
       |${(0 until 4).map(b =>
          s"  SELECT doc_id, $b AS band, md5(sig_${2 * b} || sig_${2 * b + 1}) AS band_hash FROM sig")
          .mkString("\n  UNION ALL\n")}
       |)""".stripMargin

  /** The top-`k` slate per `query_id` over `from` (a CTE name or a
    * parenthesized subquery with `query_id` and `neighbor_id`): every
    * column of `from` plus its 1-based `rank` by `order`, ties broken on
    * `neighbor_id` — the order [[Similarity.rankWithin]] ranks by. */
  private[queries] def slateSql(from: String, order: String, k: Int): String =
    s"""SELECT * FROM (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY query_id ORDER BY $order, neighbor_id) AS rank
       |  FROM $from) WHERE rank <= $k""".stripMargin

  /** [[slateSql]] as CTE `name`; `materialized` when several legs read
    * it, so DuckDB evaluates it once. */
  private[queries] def rankedSql(name: String, from: String,
                                 order: String, k: Int,
                                 materialized: Boolean = false): String =
    s"$name AS ${if (materialized) "MATERIALIZED " else ""}(" +
      slateSql(from, order, k) + ")"

  /** The top-k output shape of the ANN rows: `query_id`, the BIGINT
    * `rank`, `neighbor_id`, then the select items in `extra`. */
  private[queries] def topKSql(from: String, order: String, k: Int,
                               extra: String = ""): String =
    s"SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id$extra " +
      s"FROM (${slateSql(from, order, k)})"

  /** The recall block of [[Similarity.recallAtK]]: hits of the
    * approximate slate `apx` against the exact slate CTE `ex`, over the
    * exact slate's actual per-query size, rounded to 6 dp; `label` is
    * the leading select items ("" for none). */
  private[queries] def recallSql(label: String, apx: String): String =
    s"""SELECT ${if (label.isEmpty) "" else label + ", "}query_id, n_hits,
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

  /** One leg of a recall oracle: its CTEs (may be empty), the name of its
    * approximate slate, and its label select items. */
  private[queries] final case class Leg(label: String, apx: String,
                                        ctes: String = "")

  /** A recall oracle: the `prefix` CTEs (inputs and the exact slate `ex`),
    * each leg's CTEs, and the UNION ALL of the legs' recall blocks. */
  private[queries] def sweepSql(prefix: Seq[String], legs: Seq[Leg]): String =
    (prefix ++ legs.map(_.ctes).filter(_.nonEmpty)).mkString("WITH ", ",\n",
      "\n") + legs.map(l => recallSql(l.label, l.apx)).mkString("\nUNION ALL\n")

  /** A BIGINT label select item. */
  private[queries] def bigint(name: String, v: Int): String =
    s"CAST($v AS BIGINT) AS $name"

  /** The exact cosine leg: queries `vec_id < maxQueryId` of `src`, scored
    * against every other row of `src` on its normalized column `nv`, the
    * top `k` as CTE `ex` (with `xq`, `x`). */
  private[queries] def exactCosineLegSql(src: String, nv: String,
                                         maxQueryId: Int, k: Int,
                                         materialized: Boolean): String =
    s"""xq AS (SELECT vec_id AS query_id, $nv AS qv FROM $src
       |       WHERE vec_id < $maxQueryId),
       |x AS (SELECT xq.query_id, c.vec_id AS neighbor_id,
       |             list_dot_product(qv, c.$nv) AS score
       |      FROM $src c, xq WHERE c.vec_id <> xq.query_id),
       |${rankedSql("ex", "x", "score DESC", k, materialized)}""".stripMargin

  /** The exact L2 leg over `src(vec_id, v)`, the same shape as
    * [[exactCosineLegSql]] ranked by `dot(c, c) − 2·dot(q, c)`. */
  private[queries] def exactL2LegSql(src: String, maxQueryId: Int, k: Int,
                                     materialized: Boolean = true): String =
    s"""xq AS (SELECT vec_id AS query_id, v AS qv FROM $src
       |       WHERE vec_id < $maxQueryId),
       |x AS (SELECT xq.query_id, c.vec_id AS neighbor_id,
       |        list_dot_product(c.v, c.v)
       |          - 2.0 * list_dot_product(qv, c.v) AS d
       |      FROM $src c, xq WHERE c.vec_id <> xq.query_id),
       |${rankedSql("ex", "x", "d", k, materialized)}""".stripMargin

  /** The len-64 universe of the k-means and residual rows as `e0(vec_id,
    * v)`. */
  private[queries] val len64Cte =
    """e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      |       FROM embeddings WHERE len(embedding) = 64)""".stripMargin

  /** Recall@k of each labelled approximate leg against one `exact` slate
    * ([[Similarity.recallAtK]]), the label columns first, the blocks
    * unioned by name. */
  private[queries] def recallLegs(
      exact: DataFrame, k: Int,
      legs: Seq[(Seq[Column], DataFrame)]): DataFrame =
    legs.map { case (labels, approx) =>
      Similarity.recallAtK(exact, approx, k).select(
        labels ++ Seq(col("query_id"), col("n_hits"), col("recall")): _*)
    }.reduce(_ unionByName _)

  /** The probes sweep points of `ann_ivft_probes` — the knob the
    * trained quantizer unlocks (axis cells cap at 2); 8 = every cell
    * probed, so the sweep's last point must read recall 1.0 (candidate
    * set = the whole corpus, scored exactly). Shared engine/oracle. */
  private[queries] val ivftProbeSweep = Seq(1, 2, 4, 8)

  /** The 6-bit prefix-cell store over 48-bit sign words of the 64-dim
    * fixture. */
  private[queries] val HammingPrefix = IvfIndex(Prefix(48, 6), Bits(48, 64))

  /** The axis-cell IVF over the first 4 components — the untrained
    * coarse stage of ann_ivf_* / ann_ivfpq_topk / search_mmr_ivf. */
  private[queries] val AxisIvf = IvfIndex.Axis(m = 4)

  /** DuckDB bucket expression for the SAME rotated planes the Spark side
    * uses: Double.toString round-trips, so the SQL literals parse back to
    * bit-identical doubles, and `list_dot_product` folds sequentially like
    * the codegen [[graft.functions.DotProduct]]. `v` must be a DOUBLE[]
    * column reference in the surrounding query. */
  private[queries] def rotatedBucketSql(v: String, b: Int, dim: Int,
                                        seed: Long = Similarity.DefaultSeed): String =
    Similarity.rotationPlanes(b, dim, seed).map { p =>
      val lst = p.map(java.lang.Double.toString).mkString("[", ", ", "]")
      s"(CASE WHEN list_dot_product($v, $lst) >= 0 THEN '1' ELSE '0' END)"
    }.mkString(" || ")

  /** DuckDB expression for the SAME packed sign fingerprint as
    * [[Similarity.hammingWord]]: per plane a CASE on the sequential-fold
    * dot against the verbatim double literals, summed as exact powers of
    * two — all integer once the signs are taken. */
  private[queries] def hammingWordSql(v: String, bits: Int, dim: Int,
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
  private[queries] def ivfCellCtes(src: String): String =
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

  /** The sliding-window chunking oracle — serves `doc_chunks` and its
    * ingest-time twin `stream_chunks` (map-only, stateless: the
    * streaming plan IS the batch plan). */
  private[queries] val docChunksSql: String =
    s"""WITH t AS (SELECT doc_id, ${tokensSql()} AS toks
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

  /** The DOUBLE[] expression `v` scaled to unit L2 norm — the cosine
    * normalization, the DuckDB twin of [[Similarity.normalize]]. */
  private[queries] def unitSql(v: String): String =
    s"list_transform($v, x -> x / sqrt(list_dot_product($v, $v)))"

  /** The trained-IVF probe/assignment fragment over [[kmeansCtes]]'
    * unrolled training (k=8, iters=2, dim=64 — the embed_kmeans
    * configuration): `tnv` normalizes the len=64 training universe,
    * `tcc` is the corpus cell (the a2 assignment verbatim), `tqr` the
    * query's cells ranked by (quantizer score, index) — the same (s, j)
    * ordering the engine's sorted score structs use — and `tqp` its
    * first `probes`. Shared by every trained-cell oracle (the ivft,
    * ivfsq, ivfpqt and residual rows) so the cell algebra can never
    * desynchronize. */
  private[queries] def ivfTrainedCtes(maxQueryId: Int, probes: Int): String =
    s"""tnv AS (
       |  SELECT vec_id,
       |         ${unitSql("v")}
       |           AS nv
       |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |        FROM embeddings WHERE len(embedding) = 64)),
       |tcc AS (SELECT vec_id AS neighbor_id, cluster AS cell FROM a2),
       |tqr AS (SELECT vec_id AS query_id, j AS cell,
       |               row_number() OVER (
       |                   PARTITION BY vec_id ORDER BY s, j) AS rn
       |        FROM s2 WHERE vec_id < $maxQueryId),
       |tqp AS (SELECT query_id, cell FROM tqr WHERE rn <= $probes)""".stripMargin

  /** CTE `name`: cosine scores of each query against the corpus rows of
    * its probed trained cells (`probed(query_id, cell)`, by default
    * [[ivfTrainedCtes]]' `tqp`), both sides read from `vecs(vec_id, nv)`. */
  private[queries] def trainedCellScoresSql(name: String, vecs: String,
                                            probed: String = "tqp"): String =
    s"""$name AS (SELECT qp.query_id, tcc.neighbor_id,
       |              list_dot_product(q.nv, c.nv) AS score
       |       FROM tcc JOIN $probed qp USING (cell)
       |       JOIN $vecs q ON q.vec_id = qp.query_id
       |       JOIN $vecs c ON c.vec_id = tcc.neighbor_id
       |       WHERE tcc.neighbor_id <> qp.query_id)""".stripMargin

  /** Mirror of [[graft.llm.Pq.encode]]: CTEs `e` (doubled vectors), `cb`
    * (the m×k seeded codebooks + their self-dots as VALUES literals —
    * stringified from the SAME arrays the Spark plan inlines), `sub`
    * (per-subspace slices), and `a` (the argmin code per (vec, subspace),
    * ties toward the lower code). */
  private[queries] def pqEncodeCtes(m: Int, k: Int, subDim: Int): String = {
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

  /** The k-means CTE chain, mirroring [[graft.llm.Clustering.kmeans]] step
    * for step: `wq` = dyadic-quantized vectors, `c0` = lowest-id init,
    * then per round i: `s_i` scores (c·c − 2·w·c, the same sequential-fold
    * dot), `a_i` argmin assignment (ORDER BY s, j ≡ first-index tie-break),
    * and between rounds the exact-sum mean `c_i` with empty clusters
    * carrying the previous centroid via the LEFT JOIN + coalesce. The final
    * assignment is `a$iters`. */
  private[queries] def kmeansCtes(k: Int, iters: Int, dim: Int): String = {
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

  private[queries] val langHits = TextAnalysis.stopwords.map { case (lang, words) =>
    s"len(list_filter(toks, x -> list_contains(${sqlStringList(words)}, x))) AS hits_$lang"
  }.mkString(",\n       ")

  /** The language id over [[langHits]]' counts, the twin of
    * [[TextAnalysis.langId]]. */
  private[queries] val langCase =
    """CASE WHEN greatest(hits_en, hits_es, hits_fr, hits_de) = 0 THEN 'und'
      |     WHEN hits_de >= hits_en AND hits_de >= hits_es AND hits_de >= hits_fr THEN 'de'
      |     WHEN hits_en >= hits_es AND hits_en >= hits_fr THEN 'en'
      |     WHEN hits_es >= hits_fr THEN 'es'
      |     ELSE 'fr' END""".stripMargin

  // Gopher rule SQL shared by the batch gate (quality_rules) and
  // the streaming-ingest gate oracle (stream_quality)
  private[queries] val gopherRulesSql =
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
  private[queries] val qualityClassifierSql =
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

  /** The stacked quality signals of quality_ensemble and
    * pipeline_curate per doc: the Gopher rule gate, the hashed
    * classifier's probability, the bigram-LM NLL (NULL when a doc has no
    * bigram) and its corpus 0.75 quantile `__th`. */
  private[queries] def qualitySignals(docs: DataFrame): DataFrame = {
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
    g.join(c, Seq("doc_id")).join(b, Seq("doc_id"), "left")
      .crossJoin(broadcast(th))
  }

  /** The gate over [[qualitySignals]] at classifier threshold `cls`:
    * every rule, the classifier, and a scoreable NLL at or below the
    * quantile. */
  private[queries] def qualityGate(cls: Double): Column =
    col("pass_gopher") && col("quality_prob") >= cls &&
      col("avg_nll").isNotNull && col("avg_nll") <= col("__th")

  /** The SQL twin of [[qualitySignals]]: CTE `qs(doc_id, pass_gopher,
    * quality_prob, avg_nll, th)`, after [[bigramNllCtes]]. */
  private[queries] val qualitySignalsCtes =
    s"""$bigramNllCtes,
       |th AS (SELECT quantile_cont(avg_nll, 0.75) AS th FROM bnll),
       |cls AS (SELECT doc_id, quality_prob
       |        FROM ($qualityClassifierSql) x),
       |g AS (SELECT doc_id, pass_gopher FROM ($gopherRulesSql) y),
       |qs AS (SELECT g.doc_id, g.pass_gopher, cls.quality_prob, b.avg_nll,
       |              th.th
       |       FROM g JOIN cls USING (doc_id)
       |       LEFT JOIN bnll b USING (doc_id), th)""".stripMargin

  /** The SQL twin of [[qualityGate]] over `qs`. */
  private[queries] def qualityGateSql(cls: Double): String =
    s"pass_gopher AND quality_prob >= $cls AND avg_nll IS NOT NULL " +
      "AND avg_nll <= th"

  /** The `resources` CTE the inventory oracles start from. */
  private[queries] val R = Tables.resourcesSqlCte

  /** One day in µs: the candle, gap-fill and cohort grid. */
  private[queries] val DayUs = 86400000000L

  /** The idle gap that closes a user's session: 24 h in µs. */
  private[queries] val SessionGapUs = DayUs

  /** The exact sum of the SQL expression `v` fixed to `scale` decimals,
    * as a DOUBLE — the twin of [[TimeSeries.exactSum]]. */
  private[queries] def exactSumSql(v: String, scale: Int = 2): String =
    s"CAST(sum(CAST($v AS DECIMAL(18,$scale))) AS DOUBLE)"

  /** The start of the `step`-µs grid cell of `ts` (epoch µs), truncating
    * toward zero — the twin of [[TimeSeries.bucket]]. */
  private[queries] def bucketSql(ts: String, step: Long): String =
    s"$ts - $ts % $step"

  /** The start of the epoch-aligned `step`-µs window of `ts` (epoch µs),
    * flooring — Spark's `window(…).start` on the stream rows. */
  private[queries] def windowStartSql(ts: String, step: Long): String =
    s"($ts // $step) * $step"

  /** The events' gap sessions of [[sessions]]: CTE `x` is `events` (kept
    * where `where` holds) with `tsn = epoch_us(ts)` and each user's
    * previous `tsn` as `prev`, CTE `s` adds the 1-based `session_seq`. */
  private[queries] def sessionsCtes(where: String = ""): String =
    s"""x AS (
       |  SELECT *, epoch_us(ts) AS tsn,
       |         lag(epoch_us(ts)) OVER (PARTITION BY user_id
       |             ORDER BY epoch_us(ts), event_id) AS prev
       |  FROM events$where),
       |s AS (
       |  SELECT *, sum(CASE WHEN prev IS NULL
       |                       OR tsn - prev > $SessionGapUs
       |                     THEN 1 ELSE 0 END)
       |            OVER (PARTITION BY user_id ORDER BY tsn, event_id
       |                  ROWS UNBOUNDED PRECEDING) AS session_seq
       |  FROM x)""".stripMargin

  /** [[Sessionize.stats]] of [[sessionsCtes]] — the twin of the stats
    * of [[sessions]] and of [[graft.streaming.StreamingSessionize]]. */
  private[queries] def sessionStatsSql(where: String = ""): String =
    s"""WITH ${sessionsCtes(where)}
       |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
       |       count(*) AS n_events,
       |       min(tsn) AS start_us, max(tsn) AS end_us,
       |       max(tsn) - min(tsn) AS duration_us,
       |       count(DISTINCT event_type) AS n_types,
       |       ${exactSumSql("value")} AS value_sum
       |FROM s GROUP BY 1, 2""".stripMargin

  /** The events `e` (with `ts_us`) in 24 h gap sessions per user. */
  private[queries] def sessions(e: DataFrame): DataFrame =
    Sessionize.assign(e, "user_id", "ts_us", "event_id", SessionGapUs)

  /** The HDR quantile fold of [[Sketches.quantilesOfBuckets]] over the CTE
    * `from(keys…, v)` at `grid` steps per unit: the bucket bounds of
    * [[Sketches.bucketBounds]] (string math on the grid integer's two
    * leading digits), each group's cumulative counts, the first bucket
    * reaching `t = p·n` and the linear in-bucket estimate, ending in CTE
    * `quant(keys…, p, n, est)`. */
  private[queries] def hdrCtes(from: String, keys: Seq[String],
                               ps: Seq[Double], grid: Long): String = {
    val k = keys.mkString(", ")
    s"""g AS (SELECT $k,
       |        CAST(CAST(floor(v * $grid.0) AS BIGINT) AS VARCHAR) AS gs
       |      FROM $from),
       |b AS (SELECT $k,
       |        CAST(substr(gs, 1, 2) ||
       |             repeat('0', greatest(length(gs) - 2, 0)) AS BIGINT)
       |          AS lo,
       |        CAST(CAST(CAST(substr(gs, 1, 2) AS BIGINT) + 1
       |               AS VARCHAR) ||
       |             repeat('0', greatest(length(gs) - 2, 0)) AS BIGINT)
       |          AS hi
       |      FROM g),
       |cnts AS (SELECT $k, lo, hi, count(*) AS cnt
       |         FROM b GROUP BY $k, lo, hi),
       |cum AS (SELECT *,
       |          SUM(cnt) OVER (PARTITION BY $k ORDER BY lo) AS cum,
       |          SUM(cnt) OVER (PARTITION BY $k) AS n
       |        FROM cnts),
       |wp AS (SELECT *, unnest(${ps.mkString("[", ", ", "]")}) AS p FROM cum),
       |sel AS (SELECT *, p * CAST(n AS DOUBLE) AS t FROM wp),
       |pick AS (SELECT * FROM (
       |  SELECT *, row_number() OVER (PARTITION BY $k, p
       |                               ORDER BY lo) AS rn
       |  FROM sel WHERE CAST(cum AS DOUBLE) >= t) WHERE rn = 1),
       |quant AS (SELECT $k, p, CAST(n AS BIGINT) AS n,
       |          round((CAST(lo AS DOUBLE) + CAST(hi - lo AS DOUBLE) *
       |                 (t - CAST(cum - cnt AS DOUBLE)) /
       |                 CAST(cnt AS DOUBLE)) / $grid.0, 6) AS est
       |        FROM pick)""".stripMargin
  }

  /** [[Sketches.histQuantiles]] of `src(keys…, v)` (a SELECT) on the
    * 1e-3 grid: [[hdrCtes]] over the kept values, and every group's rows
    * carry `n_dropped`, its null, negative or NaN values — a group with
    * nothing kept reports n = 0 and a null est per `p`. */
  private[queries] def histQuantilesSql(src: String, keys: Seq[String],
                                        ps: Seq[Double]): String = {
    val k = keys.mkString(", ")
    s"""WITH src AS ($src),
       |kept AS (SELECT * FROM src WHERE v >= 0 AND NOT isnan(v)),
       |${hdrCtes("kept", keys, ps, 1000L)},
       |drp AS (SELECT $k, count(*) AS n_dropped FROM src
       |        WHERE v < 0 OR v IS NULL OR isnan(v) GROUP BY $k),
       |ad AS (SELECT ${keys.map("d." + _).mkString(", ")}, u.p,
       |              CAST(0 AS BIGINT) AS n, CAST(NULL AS DOUBLE) AS est,
       |              CAST(d.n_dropped AS BIGINT) AS n_dropped
       |       FROM drp d
       |       CROSS JOIN (SELECT unnest(${ps.mkString("[", ", ", "]")}) AS p) u
       |       WHERE NOT EXISTS (SELECT 1 FROM cnts c WHERE
       |         ${keys.map(c => s"c.$c = d.$c").mkString(" AND ")}))
       |SELECT ${keys.map("quant." + _).mkString(", ")}, p, n, est,
       |       CAST(coalesce(drp.n_dropped, 0) AS BIGINT) AS n_dropped
       |FROM quant LEFT JOIN drp USING ($k)
       |UNION ALL SELECT * FROM ad""".stripMargin
  }

  /** [[TimeSeries.ohlc]]'s day candles per (user, event type) of the
    * events with a value (and `where`): open and close by `min_by` /
    * `max_by` on the portable order key of [[TimeSeries.ohlcOrderKey]]
    * (the HUGEINT bias renders the digits of Spark's decimal one), exact
    * volume sum, one correctly-rounded division for the mean. */
  private[queries] def ohlcSql(where: String = ""): String =
    s"""WITH e AS (
       |  SELECT user_id, event_type, epoch_us(ts) AS ts_us,
       |         event_id, value
       |  FROM events WHERE value IS NOT NULL$where),
       |k AS (
       |  SELECT user_id, event_type, value,
       |         ${bucketSql("ts_us", DayUs)} AS bucket,
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
       |       ${exactSumSql("value")} AS vsum,
       |       round(${exactSumSql("value")}
       |             / CAST(count(*) AS DOUBLE), 6) AS vavg
       |FROM k GROUP BY 1, 2, 3""".stripMargin

  /** The counter→gauge rate guards of [[RateTransform.batch]] over the
    * samples `src` (a SELECT with `value` and the sample time `ts` in
    * seconds): per `series`, in `order`, against the previous sample — a
    * rate where the step is positive, within the TTL of
    * [[Schemas.KvStoreTtlMultiple]] polling intervals and the counter did
    * not reset, and the confidence `interval / Δt`. The select items
    * `out` come first. */
  private[queries] def rateSql(src: String, series: String, order: String,
                               ts: String, interval: Int,
                               out: String): String =
    s"""WITH e AS ($src),
       |l AS (
       |  SELECT *, lag(value) OVER w AS pv, lag($ts) OVER w AS pt
       |  FROM e WINDOW w AS (PARTITION BY $series ORDER BY $order))
       |SELECT $out,
       |  CASE WHEN pv IS NOT NULL AND $ts - pt > 0
       |            AND $ts - pt <= ${Schemas.KvStoreTtlMultiple * interval}
       |            AND value >= pv
       |       THEN CAST(floor((value - pv) / ($ts - pt)) AS BIGINT) END AS rate,
       |  CASE WHEN pv IS NOT NULL AND $ts - pt > 0
       |       THEN round($interval / CAST($ts - pt AS DOUBLE), 2)
       |       END AS confidence
       |FROM l""".stripMargin

  /** The indexed DSL rows' sensor tables `(index, value)`, read from
    * `part`: every part's name and scale, and a value only for parts over
    * size 25. */
  private[queries] def sensorTables(s: SparkSession,
                                    d: String): Map[String, DataFrame] = {
    val p = Tables.part(s, d)
    def table(df: DataFrame, value: Column) =
      df.select(col("p_partkey").cast("string").as("index"), value.as("value"))
    Map(
      "sensor_name" -> table(p, col("p_name")),
      "sensor_scale" -> table(p, (lit(1) + col("p_partkey") % 3).cast("string")),
      // sparse table: only parts with p_size > 25 have a reading
      "sensor_value" -> table(p.filter(col("p_size") > 25),
        col("p_size").cast("string")))
  }

  /** The enrichment dimension of the skew and stream joins: each user of
    * `events` with its `tier`. */
  private[queries] def tierDim(events: DataFrame): DataFrame =
    events.select(col("user_id")).distinct()
      .withColumn("tier", col("user_id") % 5)

  /** The SQL twin of [[tierDim]] joined to `events` (kept where `where`
    * holds): `(event_id, user_id, tier, value)`. */
  private[queries] def tierJoinSql(where: String = ""): String =
    s"""WITH dim AS (
       |  SELECT DISTINCT user_id, user_id % 5 AS tier FROM events)
       |SELECT e.event_id, e.user_id, d.tier, e.value
       |FROM events e JOIN dim d USING (user_id)$where""".stripMargin
}
