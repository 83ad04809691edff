package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.llm.{IvfIndex, Similarity, TextAnalysis}
import graft.llm.IvfIndex.{Bits, Prefix}

/** Definitions that more than one row family reads: SQL fragments
  * several oracles embed, and the index configurations and sweep
  * points the Spark and SQL sides share. */
object Shared {
  /** SQL fragment: tokenized documents CTE (keep in sync with
    * [[TextAnalysis.tokens]]). */
  private[queries] val toksCte =
    """t AS (SELECT doc_id, text, string_split_regex(text, '\s+') AS toks
      |      FROM documents)""".stripMargin

  /** SQL fragment: the w=3 chunker from the dedup_chunks oracle plus
    * corpus-wide chunk-hash multiplicities folded per document (`sdp`) —
    * shared by the dedup_dupratio and softdedup_weights oracles (keep in
    * sync with [[Dedup.chunkDupStats]]). */
  private[queries] val chunkMultCtes =
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

  /** SQL fragment: distinct word-3-gram shingles (keep in sync with
    * [[Dedup.shingles]]). Split so composed oracles that ALREADY carry a
    * whitespace-split `ws` CTE (bigramNllCtes defines the identical one)
    * can append just the shingle tail without a name collision. */
  private[queries] val shinglesFromWsCte =
    """idx AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i
      |        FROM ws WHERE len(w) >= 3),
      |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
      |       FROM idx)""".stripMargin

  private[queries] val shinglesCte =
    "ws AS (SELECT doc_id, string_split_regex(text, '\\s+') AS w FROM documents),\n" +
      shinglesFromWsCte

  private[queries] def sqlStringList(xs: Seq[String]): String =
    xs.map(x => s"'$x'").mkString("[", ", ", "]")

  /** SQL fragment: per-document add-one bigram-LM NLL as CTE
    * `bnll(doc_id, n_bigrams, avg_nll)` (keep in sync with
    * [[Corpus.bigramNll]]). Expects to follow `WITH `. */
  private[queries] val bigramNllCtes =
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

  /** SQL fragment: per-doc quality score `q(doc_id, quality_score)` (keep
    * in lock-step with [[TextAnalysis.qualityScore]] and the text_quality
    * oracle). Requires [[toksCte]]. */
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
    * `bands(doc_id, band, band_hash)` for k=8 / bands=4 (keep in
    * lock-step with [[Dedup.minhashSignatures]]/[[Dedup.lshBands]]).
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

  /** The trained-IVF probe/assignment fragment over [[kmeansCtes]]'
    * unrolled training (k=8, iters=2, dim=64 — the embed_kmeans
    * configuration): `tnv` normalizes the len=64 training universe,
    * `tcc` is the corpus cell (the a2 assignment verbatim), `tqp` the
    * query's 2 nearest cells by (quantizer score, index) — the same
    * (s, j) ordering the engine's sorted score structs use. Shared by
    * ann_ivft_indexed and ann_ivft_recall so the cell algebra can
    * never desynchronize. */
  private[queries] def ivfTrainedCtes(maxQueryId: Int, probes: Int): String =
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

  /** The `resources` CTE the inventory oracles start from. */
  private[queries] val R = Tables.resourcesSqlCte
}
