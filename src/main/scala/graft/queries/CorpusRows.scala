package graft.queries

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.llm.Corpus

/** Corpus-level statistics and language models: vocabulary, Zipf and
  * Heaps, n-gram LMs, collocations, sketches and per-source
  * profiles. */
object CorpusRows {
  import Shared._

  /** Kneser–Ney absolute discount — shared by [[Corpus.knTrigramNll]]'s
    * registration and the oracle so both engines parse the SAME literal
    * (0.75 is exactly representable, but the sharing is the policy). */
  private val KnDiscount = 0.75

  /** Declared pivot columns for `corpus_pivot` (the driver corpus' five
    * languages; declaring them skips pivot's value-discovery job). */
  private val PivotLangs = Seq("de", "en", "es", "fr", "zh")

  val rows: Seq[Row] = Seq(
    // --- vocabulary head with cumulative corpus coverage ------------------
    Row("vocab_topk", (s, d) =>
      Corpus.vocabTopK(Tables.documents(s, d), "text", k = 100),
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
         |FROM top""".stripMargin),

    // --- snapshot diff: added/removed/changed/unchanged between corpus
    // versions — the ingestion delta incremental stages key off -----------
    Row("corpus_diff", (s, d) => {
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
    },
      // presence flags, not hash nullness — in lock-step with
      // Reconcile.contentDiff's null-content handling
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
        |FROM old FULL OUTER JOIN new ON old.doc_id = new.doc_id""".stripMargin),

    // --- sketch profile: HLL vocab + log-bucket quantiles per source --------
    // built from the repo's replayable sketch algebra (register HLL +
    // HDR buckets), so the estimates hash-match a DuckDB oracle like any
    // exact operator; SplitHygieneSpec additionally bounds them against
    // exact answers.
    Row("sketch_profile", (s, d) =>
      Corpus.sketchProfile(Tables.documents(s, d), "source", "text",
        "n_chars"),
      // sketch_overlap's HLL register algebra (over tokens instead of
      // shingles) composed with sketch_quantiles' string-math HDR buckets
      // (gridPerUnit=1: n_chars is already an integer grid) — the profile
      // replays bit-for-bit; the register aggregate's per-register counts
      // sum to the exact token total, mirroring the engine's single-pass
      // fold. vocab_est takes the standard linear-counting branch when
      // the raw estimate ≤ 2.5·m (ln on identical integer-derived
      // operands — replayable)
      {
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
    }),

    // --- corpus stats: top-5 TF-IDF terms per document ---------------------
    // Two hash aggregations + one vocab join; rank filter is
    // WindowGroupLimit-eligible (per-partition top-k before the final sort).
    Row("tfidf_topk", (s, d) =>
      Corpus.tfidfTopK(Tables.documents(s, d), "text", "doc_id", k = 5),
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
         |WHERE rank <= 5""".stripMargin),

    // --- corpus stats: unigram-LM surprisal (perplexity-proxy filter) ------
    Row("lm_surprisal", (s, d) =>
      Corpus.unigramSurprisal(Tables.documents(s, d), "text", "doc_id"),
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
         |GROUP BY 1""".stripMargin),

    // --- bigram LM with add-one smoothing: word-order-aware quality gate ---
    Row("lm_bigram_nll", (s, d) =>
      Corpus.bigramNll(Tables.documents(s, d), "text", "doc_id"),
      // add-one smoothed p(w2|w1) with context counts as the denominator
      // base and the exact distinct-unigram count as V — mirrored from
      // Corpus.bigramNll's double tree (counts exact, one ln, 9-dp-fixed
      // decimal sum per doc)
      (s"WITH $bigramNllCtes\n" +
        "SELECT doc_id, n_bigrams, avg_nll FROM bnll")),

    // --- interpolated Kneser–Ney trigram LM: the smoothing real n-gram
    // quality gates use (absolute discounting + continuation counts) ------
    Row("lm_kn_nll", (s, d) =>
      Corpus.knTrigramNll(Tables.documents(s, d), "text", "doc_id",
        discount = KnDiscount),
      // interpolated Kneser–Ney trigram: every N1+ continuation count read
      // off the distinct-trigram type table `tri` (which is unique on
      // (w1,w2,w3), so plain count(*) per suffix IS the distinct-prefix
      // count); the probability tree mirrors Corpus.knTrigramNll verbatim
      // (left-associative, greatest() discount floors, one ln, 9-dp fix)
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
         |FROM nll GROUP BY 1""".stripMargin),

    // --- OLAP cube over the corpus: docs/chars by every (source, lang)
    // subset. One pass: Spark expands grouping sets inside a single
    // hash aggregate (map-side partials per set), no self-union of
    // per-dimension scans. Coalesced labels + GROUPING flags keep the
    // output unambiguous when a dimension value could literally be
    // 'ALL'. Exact aggregates only (count, long sum) — nothing float. --
    Row("corpus_rollup", (s, d) =>
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
          col("g_source"), col("g_lang"), col("docs"), col("chars")),
      // DuckDB sums BIGINT into HUGEINT — cast back to Spark's long
      """SELECT coalesce(source, 'ALL') AS source,
        |       coalesce(lang, 'ALL') AS lang,
        |       CAST(GROUPING(source) AS INT) AS g_source,
        |       CAST(GROUPING(lang) AS INT) AS g_lang,
        |       count(*) AS docs,
        |       CAST(sum(n_chars) AS BIGINT) AS chars
        |FROM documents
        |GROUP BY CUBE (source, lang)""".stripMargin),

    // --- pivot: source rows × language columns. Values are DECLARED
    // (no discovery pass over the data — the two-job groupBy().pivot()
    // shape is the 100 TB anti-pattern); absent cells are 0, not null. --
    Row("corpus_pivot", (s, d) =>
      Tables.documents(s, d)
        .groupBy(col("source"))
        .pivot("lang", PivotLangs)
        .agg(count(lit(1)))
        .na.fill(0L, PivotLangs),
      """SELECT source,
        |       count(CASE WHEN lang = 'de' THEN 1 END) AS de,
        |       count(CASE WHEN lang = 'en' THEN 1 END) AS en,
        |       count(CASE WHEN lang = 'es' THEN 1 END) AS es,
        |       count(CASE WHEN lang = 'fr' THEN 1 END) AS fr,
        |       count(CASE WHEN lang = 'zh' THEN 1 END) AS zh
        |FROM documents GROUP BY 1""".stripMargin),

    // --- Zipf-law fit on the top-100 term frequencies: slope/R² of
    // ln(cnt) ~ ln(rank) — corpus naturalness diagnostic ----------------
    Row("corpus_zipf", (s, d) =>
      Corpus.zipfFit(Tables.documents(s, d), "text", topN = 100),
      // mirror Corpus.zipfFit: 9-dp-fixed log points, exact decimal
      // moment sums, one double conversion, identical least-squares tree
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
        |FROM d""".stripMargin),

    // --- corpus-wide boilerplate detector: top-50 word-3-gram document
    // frequencies (distinct per doc via the codegen Shingles kernel) ----
    Row("ngram_boilerplate", (s, d) =>
      Corpus.ngramDocFreqTopK(Tables.documents(s, d), "text", "doc_id",
        n = 3, k = 50),
      s"""WITH $shinglesCte
         |SELECT shingle, count(*) AS doc_freq
         |FROM sh GROUP BY 1
         |ORDER BY doc_freq DESC, shingle LIMIT 50""".stripMargin),

    // --- per-source document-length drift over the crawl clock: grouped
    // least squares from six exact moment sums ---------------------------
    Row("source_trend", (s, d) =>
      Corpus.groupTrend(Tables.documents(s, d), "source",
        "doc_id", "n_chars"),
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
        |FROM a""".stripMargin),

    // --- Zipf rank-frequency slope PER SOURCE: ln-ln least squares over
    // each source's top-200 tokens (integer nano-ln terms, exact moment
    // sums) — the grouped sibling of corpus_zipf's global fit: natural
    // sources sit near −1, templated sources flatten --------------------
    Row("corpus_zipf_source", (s, d) =>
      Corpus.zipfSlope(Tables.documents(s, d), "source", "text",
        topRanks = 200),
      // integer nano-ln terms (round(ln·1e9) on exact integer
      // ranks/counts — the tokenEntropy/adamic ln discipline), HUGEINT
      // moment sums ≡ Spark's DECIMAL algebra value-for-value, one
      // shared IEEE tree at the end; the 1e9 scale cancels in the slope
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
        |FROM ag""".stripMargin),

    // --- corpus length histogram per language: fixed 100-char-wide bins
    // capped at bin 5 — map-side integer binning + one hash aggregate ----
    Row("corpus_length_hist", (s, d) =>
      Tables.documents(s, d)
        .groupBy(col("lang"),
          least(floor(col("n_chars") / 100), lit(5L)).cast("long")
            .as("bin"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars")),
      """SELECT lang, least(n_chars // 100, 5) AS bin,
        |       count(*) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY 1, 2""".stripMargin),

    // --- top-50 bigram collocations by pointwise mutual information -----
    Row("collocation_pmi", (s, d) =>
      Corpus.collocationsPmi(Tables.documents(s, d), "text", "doc_id",
        minCount = 5L, k = 50),
      // mirror Corpus.collocationsPmi's exact double tree:
      // ((c12·N1)/(c1·c2))·(N1/N2), one ln, 6-dp round
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
        |ORDER BY pmi DESC, w1, w2 LIMIT 50""".stripMargin),

    // --- per-document character entropy (degenerate-text signal) --------
    Row("doc_entropy", (s, d) =>
      Corpus.charEntropy(Tables.documents(s, d), "text", "doc_id")
        .select("doc_id", "n_chars", "char_entropy"),
      // mirror Corpus.charEntropy: per-char −ln p rounded to 9 dp and
      // fixed as decimal, weighted sum exact, one division + 6-dp round
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
        |FROM e GROUP BY 1""".stripMargin),

    // --- per-document n-gram novelty: fraction of a doc's distinct
    // 3-grams first seen (smallest doc_id) in this doc — the snapshot-
    // valuation measurement ---------------------------------------------
    Row("ngram_novelty", (s, d) =>
      Corpus.ngramNovelty(Tables.documents(s, d), "text", "doc_id", n = 3)
        .select("doc_id", "n_ngrams", "n_novel", "novelty"),
      // first-occurrence novelty over the shared shingle CTE: grouping by
      // the shingle STRING here vs its 64-bit hash on the engine side —
      // identical up to xxhash64 collisions (the documented trade)
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
         |GROUP BY 1""".stripMargin),

    // --- per-source unigram KL divergence vs the corpus blend: the
    // mixture diagnostic read before re-weighting sources ----------------
    Row("source_divergence", (s, d) =>
      Corpus.sourceDivergence(Tables.documents(s, d), "text", "source")
        .select("source", "n_tokens", "kl_nats"),
      // per-source KL vs corpus: grouping by the token STRING here vs
      // its 64-bit hash on the engine side (the documented collision
      // trade); per-term contributions fixed at 9 dp and summed as
      // exact decimals on both sides
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
        |FROM terms GROUP BY 1""".stripMargin),

    // --- pairwise source n-gram overlap: the snapshot-duplication
    // matrix (high-Jaccard pairs → cross-dedup before training) ----------
    Row("source_overlap", (s, d) =>
      Corpus.sourceOverlap(Tables.documents(s, d), "text", "source", n = 3)
        .select("source_a", "source_b", "n_shared", "jaccard"),
      // pairwise source overlap over the shared shingle CTE (string
      // grams here vs 64-bit hashes engine-side)
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
         |JOIN sizes sb ON sb.source = source_b""".stripMargin),

    // --- marginal unique contribution per source: fraction of each
    // source's distinct grams no other source has — the drop-a-source
    // audit; one gram-keyed aggregate, scales past millions of sources
    // where the pairwise matrix can't ------------------------------------
    Row("source_unique", (s, d) =>
      Corpus.sourceUnique(Tables.documents(s, d), "text", "source",
        n = 3),
      // engine groups the 64-bit gram hash, oracle the shingle string —
      // identical up to xxhash64 collisions (the source_overlap trade)
      s"""WITH $shinglesCte,
         |sg AS (SELECT DISTINCT d.source, s.shingle
         |       FROM sh s JOIN documents d USING (doc_id)),
         |h AS (SELECT shingle, count(*) AS nsrc FROM sg GROUP BY 1)
         |SELECT sg.source, CAST(count(*) AS BIGINT) AS n_grams,
         |       CAST(sum(CASE WHEN h.nsrc = 1 THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_unique,
         |       CAST(sum(CASE WHEN h.nsrc = 1 THEN 1 ELSE 0 END)
         |            * 1000000 // count(*) AS BIGINT) AS unique_ppm
         |FROM sg JOIN h USING (shingle) GROUP BY 1""".stripMargin),

    // --- HLL register algebra: constant-memory cross-source overlap
    // estimates (256 integer registers per source, inclusion–exclusion
    // on register maxima) — the sketch-side sibling of source_overlap's
    // exact gram join; deterministic to the bit, so fully oracle-checked
    // (rare for a sketch). -------------------------------------------------
    Row("sketch_overlap", (s, d) =>
      graft.llm.Sketches.hllSourceOverlap(Tables.documents(s, d),
        "text", "source", n = 3),
      // the register derivation (idx/rho) is the ENGINE'S OWN SQL string,
      // embedded verbatim; everything is integer until the single
      // estimate division by the shared numerator literal
      {
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
    }),

    // --- Heaps'-law vocabulary-growth fit: ln(types so far) vs
    // ln(tokens so far) in doc order, cumulated by the two-phase
    // distributed prefix sum (bucket totals + broadcast offsets — the
    // only ordered window runs on the tiny bucket frame). Zipf's
    // companion: "how much new vocabulary does the next TB buy?" --------
    Row("corpus_heaps", (s, d) =>
      Corpus.heapsFit(Tables.documents(s, d), "text", "doc_id"),
      // the corpus_zipf fit tree verbatim over Heaps points: cumulative
      // tokens/types in doc order (one exact window at oracle SF — the
      // engine's two-phase prefix sum produces the identical sums)
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
        |FROM d""".stripMargin)
  )
}
