package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.llm.{Contamination, Corpus, Multimodal, Pii, QualityModel,
  TextAnalysis}

/** Per-document text operators: statistics, normalization, language
  * id, URLs, PII, quality and contamination gates, privacy, BPE
  * tokenization and the multimodal payload plumbing. */
object TextRows {
  import PipelineQueries._
  import Shared._

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

  /** The 6-merge BPE segmentation oracle (train replay + per-doc token
    * counts) — serves `bpe_segment` directly and `bpe_fertility` as a
    * nested CTE. */
  private lazy val bpeSegmentSql: String =
    raw"""WITH ${bpeCtes(6)},
       |doc0 AS MATERIALIZED (
       |  SELECT doc_id,
       |         array_to_string(list_transform(
       |           list_filter(${tokensSql()},
       |             w -> w NOT LIKE '%<%' AND w NOT LIKE '%>%'),
       |           w -> regexp_replace(w, '(.)', '<\1>', 'g')), ' ')
       |           AS v,
       |         CAST(len(${tokensSql()}) AS BIGINT)
       |           AS n_words
       |  FROM documents),
       |""".stripMargin +
      (1 to 6).map(k =>
        s"""doc$k AS MATERIALIZED (
           |  SELECT doc_id, ${mergeSql(k)} AS v, n_words
           |  FROM doc${k - 1})""".stripMargin).mkString(",\n") +
      """
        |SELECT doc_id,
        |       CAST(length(v) - length(replace(v, '<', '')) AS BIGINT)
        |         AS n_bpe_tokens,
        |       n_words
        |FROM doc6""".stripMargin

  /** Merge `k` (the 1-row CTE `t$k` of [[bpeCtes]]) applied to the cell
    * string `v`: a plain sequential `replace`, identical left-to-right
    * non-overlapping semantics in both engines. */
  private def mergeSql(k: Int): String =
    s"""replace(v,
       |    '<' || (SELECT l FROM t$k) || '><' || (SELECT r FROM t$k) || '>',
       |    '<' || (SELECT l FROM t$k) || (SELECT r FROM t$k) || '>')""".stripMargin

  /** The unrolled BPE training rounds mirroring [[graft.llm.Bpe.train]]:
    * each round re-derives corpus-weighted adjacent-pair counts from the
    * previous vocabulary, picks the (count desc, left, right) argmax as
    * a 1-row CTE `t_k`, and applies the merge ([[mergeSql]]). Hardened
    * for DEEP unrolls past corpus exhaustion: once no adjacent pair
    * remains, t_k is EMPTY, so the vocab step passes v through unchanged
    * (an unguarded `replace` against the empty t_k's NULL scalar
    * subqueries would null the whole vocabulary), and the merge rows
    * accumulate through chained m_k CTEs instead of one wide UNION ALL
    * (a 120-way union overflows DuckDB's expression-depth limit; the
    * CTE chain binds flat). Produces v0..v`merges`, t1..t`merges` and
    * m`merges` = (round, l, r, c). */
  private def bpeCtes(merges: Int): String = {
    val v0 =
      raw"""w0 AS (SELECT term AS w, CAST(count(*) AS BIGINT) AS wc FROM (
        |        SELECT unnest(${tokensSql()}) AS term
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
         |        ELSE ${mergeSql(k)} END AS v, wc
         |        FROM v${k - 1}),
         |m$k AS MATERIALIZED (SELECT * FROM m${k - 1}
         |        UNION ALL SELECT $k AS round, l, r, c FROM t$k)""".stripMargin
    }
    (v0 +: steps).mkString(",\n")
  }

  /** The merge table of a `merges`-round BPE training, round by round. */
  private def bpeTrainSql(merges: Int): String =
    s"""WITH ${bpeCtes(merges)}
       |SELECT round, l AS "left", r AS "right", l || r AS merged,
       |       CAST(c AS BIGINT) AS pair_count
       |FROM m$merges""".stripMargin

  private val allStops = sqlStringList(
    TextAnalysis.stopwords.flatMap(_._2).distinct.sorted)

  /** The contamination oracles' head: distinct shingles, their eval
    * split ([[splitCtes]]) and each test doc's shingle count
    * `sizes(test_id, n_test_ngrams)`. */
  private val contamCtes =
    s"""WITH $shinglesCte,
       |${splitCtes("sh")},
       |sizes AS (SELECT doc_id AS test_id, count(*) AS n_test_ngrams
       |          FROM test GROUP BY 1)""".stripMargin

  /** The exact oracle of [[Contamination.ngramOverlap]]: (test, train)
    * pairs sharing ≥ 2 shingles with their overlap fraction, plus, with
    * `evidence`, the five smallest shared grams
    * ([[Contamination.ngramOverlapReport]]). */
  private def overlapSql(evidence: Boolean = false): String = {
    val (agg, ev) = if (!evidence) ("", "") else (",\n" +
      "         array_to_string((list_sort(list(DISTINCT shingle)))[1:5], '|')" +
      " AS evidence", ", evidence")
    s"""$contamCtes,
       |pairs AS (
       |  SELECT test.doc_id AS test_id, train.doc_id AS train_id,
       |         count(*) AS shared_ngrams$agg
       |  FROM test JOIN train USING (shingle) GROUP BY 1, 2)
       |SELECT test_id, train_id, shared_ngrams$ev,
       |       round(CAST(shared_ngrams AS DOUBLE) / n_test_ngrams, 6)
       |         AS overlap_frac
       |FROM pairs JOIN sizes USING (test_id)
       |WHERE shared_ngrams >= 2""".stripMargin
  }

  /** The capped oracle of [[Contamination.ngramOverlapBloom]]: the grams
    * of `hotCtes`' `hot(shingle)` are excluded from pair counting and
    * counted per test doc as `n_capped_grams`, and a test doc whose
    * matches were all capped away keeps one sentinel row. */
  private def cappedSql(hotCtes: String): String =
    s"""$contamCtes,
       |$hotCtes,
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
       |WHERE c.test_id NOT IN (SELECT DISTINCT test_id FROM pairs)""".stripMargin

  val rows: Seq[Row] = Seq(
    // --- text statistics -----------------------------------------------------
    Row("text_stats", (s, d) =>
      TextAnalysis.stats(Tables.documents(s, d), "text")
        .select("doc_id", "token_count", "bpeish_count", "char_count",
          "distinct_tokens", "type_token_ratio", "avg_token_len",
          "punct_ratio", "stopword_ratio"),
      s"""WITH $toksCte
         |SELECT doc_id,
         |  CAST(len(toks) AS INT) AS token_count,
         |  CAST(len(regexp_extract_all(text, '${TextAnalysis.bpeishPattern}')) AS INT) AS bpeish_count,
         |  CAST(length(text) AS INT) AS char_count,
         |  CAST(len(list_distinct(toks)) AS INT) AS distinct_tokens,
         |  round(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6) AS type_token_ratio,
         |  round(CAST(length(text) - len(toks) + 1 AS DOUBLE) / len(toks), 6) AS avg_token_len,
         |  round(CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS DOUBLE)
         |        / length(text), 6) AS punct_ratio,
         |  round(CAST(len(list_filter(toks, x -> list_contains($allStops, x))) AS DOUBLE)
         |        / len(toks), 6) AS stopword_ratio
         |FROM t""".stripMargin),

    // --- Flesch / Flesch–Kincaid readability: map-only regex counts
    // (vowel-group syllable proxy, terminal-punctuation sentences) -------
    Row("text_readability", (s, d) =>
      TextAnalysis.readability(Tables.documents(s, d), "text", "doc_id"),
      // mirror TextAnalysis.readability: vowel-group syllables with a
      // one-syllable floor, sentence floor of 1, same left-assoc double
      // trees (NOT regexp_matches == Spark's ^[^vowels]*$ full match)
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
         |FROM m""".stripMargin),

    // --- per-document Shannon token entropy: the information-density
    // quality feature (boilerplate → 0 nats regardless of length); one
    // (doc, token) hash aggregate + a per-doc fold, decimal-fixed ln
    // terms so it hash-matches the oracle ---------------------------------
    Row("text_entropy", (s, d) =>
      TextAnalysis.tokenEntropy(Tables.documents(s, d), "text", "doc_id"),
      // mirror tokenEntropy: H = ln n − (Σ c·ln c)/n with each c·ln c
      // term 9-dp-fixed before an exact decimal sum (ln on identical
      // integer-derived doubles — the BM25 discipline); the normalized
      // form recomputes the unrounded H before its one division
      s"""WITH tf AS (SELECT doc_id, tok, count(*) AS c FROM (
        |  SELECT doc_id, unnest(${tokensSql()}) AS tok
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
        |FROM a""".stripMargin),

    // --- tokenizer fertility per language: subword-proxy tokens per
    // whitespace word — how expensive a language is under a tokenizer
    // (the fairness/sizing number multilingual pipelines report). One
    // hash aggregate with map-side partials; exact long sums -------------
    Row("tokenizer_fertility", (s, d) => {
      val toks = TextAnalysis.tokens(col("text"))
      Tables.documents(s, d).groupBy(col("lang")).agg(
        count(lit(1)).as("n_docs"),
        sum(size(toks).cast("long")).as("ws_tokens"),
        sum(TextAnalysis.bpeishCount(col("text")).cast("long"))
          .as("bpe_tokens"))
        .withColumn("fertility", round(
          col("bpe_tokens").cast("double") / col("ws_tokens").cast("double"),
          6))
    },
      s"""WITH t AS (SELECT lang, ${tokensSql()} AS toks,
        |             len(regexp_extract_all(text,
        |                 '${TextAnalysis.bpeishPattern}')) AS bpe
        |           FROM documents)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(len(toks)) AS BIGINT) AS ws_tokens,
        |       CAST(SUM(bpe) AS BIGINT) AS bpe_tokens,
        |       round(CAST(SUM(bpe) AS DOUBLE)
        |             / CAST(SUM(len(toks)) AS DOUBLE), 6) AS fertility
        |FROM t GROUP BY 1""".stripMargin),

    // --- quality score ---------------------------------------------------------
    Row("text_quality", (s, d) =>
      TextAnalysis.qualityScore(Tables.documents(s, d), "text")
        .select("doc_id", "quality_score"),
      s"""WITH $toksCte,
         |$qualityCte
         |SELECT doc_id, quality_score FROM q""".stripMargin),

    // --- per-source percentile calibration of the quality score: the
    // threshold-free "keep every source's top 80%" gate ----------------------
    Row("quality_calibrate", (s, d) => {
      val scored = TextAnalysis.qualityScore(Tables.documents(s, d), "text")
        .select(col("doc_id"), col("source"), col("quality_score"))
      QualityModel.calibrate(scored, "quality_score", "source")
        .withColumn("keep", col("pct") >= 0.2)
        .select("doc_id", "source", "quality_score", "pct", "keep")
    },
      // percent_rank ties share a value (no per-row tiebreak), so the
      // engine's collapsed-cell formulation matches the window verbatim
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
         |FROM p""".stripMargin),

    // --- main-text extraction from HTML: the crawl pipeline's first
    // step (markup synthesized deterministically around the fixture
    // text; the regex chain is the operator) ----------------------------
    Row("text_html_extract", (s, d) => {
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
    },
      // the same markup wrap + regex chain, step by step — RE2-safe
      // patterns (no backreferences; inline (?is) flags work in both)
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
        |FROM s6""".stripMargin),

    // --- blocklist tagger: tag-then-filter term gate (map-only) -------------
    Row("text_blocklist", (s, d) =>
      TextAnalysis.blocklist(Tables.documents(s, d), "text", "doc_id",
        terms = Seq("slow", "crash", "stale"), maxHits = 1L),
      s"""WITH b AS (SELECT doc_id,
        |                  ${tokensSql("lower(text)")} AS toks
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
        |FROM h""".stripMargin),

    // --- URL canonicalization (crawl-record synthesis over the fixture
    // columns; the normalize chain is the operator — case folding, www/
    // default-port/fragment/tracking-param strip, param sort, trailing
    // slash). Map-only, fuses with the scan -------------------------------
    Row("url_normalize", (s, d) =>
      Tables.documents(s, d)
        .withColumn("url", synthUrl)
        .withColumn("url_norm", TextAnalysis.urlNormalize(col("url")))
        .withColumn("host", TextAnalysis.urlHost(col("url")))
        .select("doc_id", "url", "url_norm", "host"),
      s"""WITH $urlCtes
         |SELECT doc_id, url, url_norm, host FROM un""".stripMargin),

    // --- URL-level dedup: collapse crawl records on the canonical URL,
    // keep the smallest doc id — the pre-content dedup tier completed ------
    Row("url_dedup", (s, d) =>
      Tables.documents(s, d)
        .withColumn("url_norm", TextAnalysis.urlNormalize(synthUrl))
        .groupBy("url_norm")
        .agg(min(col("doc_id")).as("keep_doc"),
          count(lit(1)).as("n_records")),
      s"""WITH $urlCtes
         |SELECT url_norm, min(doc_id) AS keep_doc,
         |       count(*) AS n_records
         |FROM un GROUP BY url_norm""".stripMargin),

    // --- per-domain accounting on the canonical URLs: the crawl-side
    // sizing input for domain mixing and URL-level dedup ------------------
    Row("url_domain_stats", (s, d) =>
      Tables.documents(s, d)
        .withColumn("url", synthUrl)
        .withColumn("url_norm", TextAnalysis.urlNormalize(col("url")))
        .withColumn("host", TextAnalysis.urlHost(col("url")))
        .groupBy("host")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("url_norm")).as("n_urls")),
      s"""WITH $urlCtes
         |SELECT host, count(*) AS n_docs,
         |       count(DISTINCT url_norm) AS n_urls
         |FROM un GROUP BY host""".stripMargin),

    // --- hashed-feature linear quality classifier (fastText-style gate
    // plumbing; deterministic stand-in weights, map-only single scan) ----
    Row("quality_classifier", (s, d) =>
      QualityModel.score(Tables.documents(s, d), "text", "doc_id",
        buckets = 256)
        .select("doc_id", "token_count", "score_linear", "quality_prob"),
      // bucket/weight arithmetic mirrors QualityModel.score exactly:
      // 16-bit md5 prefix mod 256, integer weights summed exactly, one
      // final division; only the logistic passes through libm exp
      qualityClassifierSql),

    // --- the same gate with weights as a TABLE (broadcast join on the
    // hashed bucket) — the trained-model path for vocabularies too large
    // to ride as a plan literal; weights here are the deterministic
    // dyadic stand-in k/2^17 − 1, k = (bucket·2654435761) mod 2^18 ------
    Row("quality_classifier_table", (s, d) => {
      val w = s.range(256).select(col("id").as("bucket"),
        (((col("id") * 2654435761L) % 262144L).cast("double")
          / lit(131072.0) - lit(1.0)).as("weight"))
      QualityModel.scoreTable(Tables.documents(s, d), "text", "doc_id",
        buckets = 256, weightsDf = w)
        .select("doc_id", "token_count", "score_linear", "quality_prob")
    },
      // table-path mirror: per-token weight k/2^17 − 1 summed exactly —
      // the integer identity Σ(k_i/2^17 − 1) = (Σk_i − n·2^17)/2^17 keeps
      // the oracle in BIGINT until ONE exact power-of-two double scaling,
      // matching the engine's decimal(38,18) sum bit-for-bit
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
         |FROM l""".stripMargin),

    // --- BPE merge-candidate table: corpus-weighted adjacent char-pair
    // counts over the VOCABULARY (Heaps-small), top-50 — one round of
    // byte-pair-encoding tokenizer training (Sennrich et al. 2016) ------
    Row("bpe_pair_counts", (s, d) =>
      Corpus.bpePairCounts(Tables.documents(s, d), "text", k = 50),
      // vocabulary-collapsed char bigrams weighted by word frequency;
      // substr windows mirror the CharWindows(word, 2, 1) kernel
      s"""WITH $toksCte,
         |v AS (SELECT tok AS word, count(*) AS wc
         |      FROM (SELECT unnest(toks) AS tok FROM t) GROUP BY 1),
         |p AS (SELECT substr(word, i, 2) AS pair, wc
         |      FROM (SELECT word, wc,
         |              unnest(generate_series(1, length(word) - 1)) AS i
         |            FROM v WHERE length(word) >= 2))
         |SELECT pair, CAST(sum(wc) AS BIGINT) AS pair_count
         |FROM p GROUP BY 1
         |ORDER BY pair_count DESC, pair LIMIT 50""".stripMargin),

    // --- stacked quality gate (the FineWeb-style filter stack): rule
    // gate AND model gate AND LM-fluency gate (corpus-quantile
    // threshold), with every signal kept so kill reasons are auditable.
    // Unscoreable docs (no bigram positions) fail the fluency leg -------
    Row("quality_ensemble", (s, d) =>
      qualitySignals(Tables.documents(s, d))
        .select(col("doc_id"), col("pass_gopher"), col("quality_prob"),
          col("avg_nll"), qualityGate(0.5).as("keep")),
      // the three verified signal oracles joined on doc_id; the fluency
      // threshold is quantile_cont over the 6-dp avg_nll (matches
      // Spark's exact percentile); unscoreable docs fail the fluency leg
      s"""WITH $qualitySignalsCtes
         |SELECT doc_id, pass_gopher, quality_prob, avg_nll,
         |       (${qualityGateSql(0.5)}) AS keep
         |FROM qs""".stripMargin),

    // --- Gopher rule-based filter: measured values + per-rule flags +
    // the conjunction (the canonical pre-model web-corpus gate) ----------
    Row("quality_rules", (s, d) =>
      TextAnalysis.gopherRules(Tables.documents(s, d), "text")
        .select("doc_id", "n_words", "mean_word_len", "symbol_ratio",
          "bullet_line_frac", "ellipsis_line_frac", "alpha_word_frac",
          "stop_hits", "rule_word_count", "rule_mean_word_len",
          "rule_symbol_ratio", "rule_bullet_lines", "rule_ellipsis_lines",
          "rule_alpha_words", "rule_stopwords", "pass_gopher"),
      // Gopher rules: every measured value mirrors gopherRules' exact
      // arithmetic (regexp_replace with 'g' = Spark's replace-all;
      // DuckDB `/` is float division like Spark's Column `/`)
      gopherRulesSql),

    // --- language ID -------------------------------------------------------------
    Row("text_langid", (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_id")),
      s"""WITH $toksCte,
         |h AS (
         |  SELECT doc_id,
         |       $langHits
         |  FROM t)
         |SELECT doc_id, $langCase AS lang_id
         |FROM h""".stripMargin),

    // --- language MIXTURE: per-language stopword hits + shares — the
    // code-switch/boilerplate-mix view langId's argmax collapses --------
    Row("text_lang_mix", (s, d) =>
      TextAnalysis.langMix(Tables.documents(s, d), "text", "doc_id"),
      // mirror TextAnalysis.langMix: the langHits fragment (occurrence-
      // weighted stopword counts) + shares guarded on total > 0
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
         |FROM tt""".stripMargin),

    // --- canonical normalization (NFC + lower + whitespace collapse) -------
    Row("text_normalize", (s, d) =>
      TextAnalysis.normalize(Tables.documents(s, d), "text")
        .select(col("doc_id"), col("text_norm"),
          col("norm_len").cast("long").as("norm_len")),
      """SELECT doc_id,
        |       nfc_normalize(lower(trim(
        |           regexp_replace(text, '\s+', ' ', 'g')))) AS text_norm,
        |       CAST(length(nfc_normalize(lower(trim(
        |           regexp_replace(text, '\s+', ' ', 'g'))))) AS BIGINT)
        |         AS norm_len
        |FROM documents""".stripMargin),

    // --- fingerprints ---------------------------------------------------------------
    Row("text_fingerprint", (s, d) =>
      TextAnalysis.fingerprints(Tables.documents(s, d), "text")
        .select("doc_id", "content_fp", "bow_fp"),
      s"""SELECT doc_id,
        |       md5(lower(trim(text))) AS content_fp,
        |       md5(array_to_string(list_sort(list_distinct(
        |           ${tokensSql("lower(text)")})), ' ')) AS bow_fp
        |FROM documents""".stripMargin),

    // --- Gopher-style repetition signals (dup/top n-gram fractions) --------
    Row("text_repetition", (s, d) =>
      TextAnalysis.repetitionSignals(Tables.documents(s, d), "text")
        .select("doc_id", "dup_2gram_frac", "top_2gram_frac",
          "dup_3gram_frac", "top_3gram_frac"),
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
         |LEFT JOIN a3 ON a3.doc_id = d.doc_id""".stripMargin),

    // --- PII detect + redact. The synthetic corpus carries no organic PII,
    // so the query plants deterministic contact strings derived from
    // existing columns (same derivation in the oracle) — the operator under
    // test is the regex scrub, not the planting. ----------------------------
    Row("text_pii", (s, d) => {
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
    },
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
         |FROM r2""".stripMargin),

    // --- benchmark-contamination check: train docs sharing ≥2 distinct
    // 3-grams with an eval doc (the eval split, broadcast side) ------------
    Row("contamination_ngram", (s, d) => {
      val (train, test) = evalSplit(Tables.documents(s, d))
      Contamination.ngramOverlap(train, test, "text", "doc_id", n = 3,
        minShared = 2)
        .select("test_id", "train_id", "shared_ngrams", "overlap_frac")
    },
      overlapSql()),

    // --- decontamination audit report: the pairs PLUS the matched grams
    // themselves (sorted, capped) — gram strings ride only the broadcast
    // eval side -------------------------------------------------------------
    Row("contamination_report", (s, d) => {
      val (train, test) = evalSplit(Tables.documents(s, d))
      Contamination.ngramOverlapReport(train, test, "text", "doc_id", n = 3,
        minShared = 2, maxGrams = 5)
        .select("test_id", "train_id", "shared_ngrams", "evidence",
          "overlap_frac")
    },
      overlapSql(evidence = true)),

    // --- target-domain coverage: fraction of each target doc's n-grams
    // the corpus covers — the data-acquisition inverse of contamination --
    Row("target_coverage", (s, d) => {
      val (corpus, target) = evalSplit(Tables.documents(s, d))
      Contamination.targetCoverage(corpus, target, "text", "doc_id", n = 3)
        .select("target_id", "n_target_ngrams", "covered_ngrams",
          "coverage")
    },
      s"""$contamCtes,
         |m AS (SELECT test.doc_id AS test_id,
         |             count(DISTINCT shingle) AS covered_ngrams
         |      FROM test JOIN train USING (shingle) GROUP BY 1)
         |SELECT test_id AS target_id, n_test_ngrams AS n_target_ngrams,
         |       coalesce(covered_ngrams, 0) AS covered_ngrams,
         |       round(CAST(coalesce(covered_ngrams, 0) AS DOUBLE)
         |             / n_test_ngrams, 6) AS coverage
         |FROM sizes LEFT JOIN m USING (test_id)""".stripMargin),

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
    Row("contamination_bloom", (s, d) => {
      val (train, test) = evalSplit(Tables.documents(s, d))
      Contamination.ngramOverlapBloom(train, test, "text", "doc_id", n = 3,
        minShared = 2, maxTrainDf = Contamination.AutoTrainDf)
        .select("test_id", "train_id", "shared_ngrams", "overlap_frac",
          "n_capped_grams")
    },
      // deliberately the SAME oracle as contamination_ngram (plus the
      // honest zero column): the Bloom path must reproduce the
      // exact-join answer bit for bit, and the 0s assert the AUTO cap
      // does not bind on the clean fixture — a binding cap would emit
      // nonzero n_capped_grams / sentinel rows and fail here loudly
      s"SELECT *, CAST(0 AS BIGINT) AS n_capped_grams FROM (${overlapSql()})"),

    // --- decontamination with the cap BINDING (maxTrainDf = 4 excludes
    // the 121 hottest grams at sf0.01): the oracle replays the full
    // capped semantics — hot-gram exclusion before pair counting, the
    // per-test n_capped_grams honesty column, and the sentinel row for
    // test docs whose matches were all capped away ------------------------
    Row("contamination_capped", (s, d) => {
      val (train, test) = evalSplit(Tables.documents(s, d))
      Contamination.ngramOverlapBloom(train, test, "text", "doc_id", n = 3,
        minShared = 2, maxTrainDf = 4)
        .select(col("test_id"), col("train_id"), col("shared_ngrams"),
          col("n_test_ngrams").cast("long").as("n_test_ngrams"),
          col("overlap_frac"), col("n_capped_grams"))
    },
      // the BINDING-cap variant: hot grams (train df > 4) excluded from
      // pair counting — the engine's Bloom+df-pre-pass plan and this
      // direct SQL must agree row for row
      cappedSql(
        "hot AS (SELECT shingle FROM train GROUP BY 1 HAVING count(*) > 4)")),

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
    Row("contamination_autocap", (s, d) => {
      val (train, test) = evalSplit(Tables.documents(s, d))
      Contamination.ngramOverlapBloom(train, test, "text", "doc_id", n = 3,
        minShared = 2, maxTrainDf = Contamination.AutoTrainDf,
        autoCapMeanDf = 1)
        .select(col("test_id"), col("train_id"), col("shared_ngrams"),
          col("n_test_ngrams").cast("long").as("n_test_ngrams"),
          col("overlap_frac"), col("n_capped_grams"))
    },
      // the AUTO-cap derivation replayed end to end: confirmed
      // survivor dfs -> per-df histogram -> monotone cumulative mass ->
      // cap = max df level whose prefix fits the budget (1 row per
      // surviving gram) -> the contamination_capped semantics at that
      // derived cap
      cappedSql(
        """surv AS (SELECT shingle, count(*) AS df FROM train
          |         WHERE shingle IN (SELECT shingle FROM test)
          |         GROUP BY 1),
          |hist AS (SELECT df, count(*) AS n FROM surv GROUP BY 1),
          |cum AS (SELECT df, sum(df * n) OVER (ORDER BY df) AS cum
          |        FROM hist),
          |cap AS (SELECT coalesce(max(df), 1) AS cap FROM cum
          |        WHERE cum <= (SELECT count(*) FROM surv)),
          |hot AS (SELECT shingle FROM surv
          |        WHERE df > (SELECT cap FROM cap))""".stripMargin)),

    // --- count-min sketch as a DataFrame: the constant-memory frequency
    // summary — one map-side-combined aggregate reduces the corpus token
    // stream to a d×w counter frame; probing the exact vocabulary head
    // against it pins the deterministic est ≥ true guarantee ---------------
    Row("freq_cms_est", (s, d) => {
      val toks = Tables.documents(s, d)
        .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
      val cms = graft.llm.CountMin.build(toks, "token", d = 3, w = 512)
      val top = toks.groupBy("token").agg(count(lit(1)).as("true_count"))
        .orderBy(col("true_count").desc, col("token")).limit(30)
      graft.llm.CountMin.probe(top, "token", cms, d = 3, w = 512)
        .join(broadcast(top), Seq("token"))
        .select("token", "true_count", "est_count")
    },
      // replays CountMin.build + probe exactly: 32-bit md5-prefix buckets
      // of the row-salted token, min over the d=3 counter rows
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
         |GROUP BY 1, 2""".stripMargin),

    // --- multimodal: columnar binary metadata ----------------------------------------------
    Row("mm_binary_meta", (s, d) =>
      Multimodal.binaryMeta(Tables.documents(s, d), "text")
        .select(col("doc_id"),
          col("byte_len"), col("content_hash"),
          (lit(64) + ascii(substring(col("text"), 1, 1)) % 192).as("width")),
      """SELECT doc_id,
        |       CAST(octet_length(encode(text)) AS INT) AS byte_len,
        |       md5(text) AS content_hash,
        |       64 + ord(substr(text, 1, 1)) % 192 AS width
        |FROM documents""".stripMargin),

    // --- multimodal: frame sampling (every stride-th stub-decoded frame) ---
    Row("mm_frame_sample", (s, d) => {
      val docs = Tables.documents(s, d)
        .withColumn("bin", encode(col("text"), "utf-8"))
      Multimodal.sampleFrames(docs, "doc_id", "bin", stride = 4)
    },
      """SELECT doc_id,
        |       unnest(generate_series(0,
        |         CAST(1 + octet_length(encode(text)) % 16 AS INT) - 1, 4))
        |         AS frame_idx
        |FROM documents""".stripMargin),

    // --- multimodal: mapPartitions decode stage ----------------------------------------------
    Row("mm_decode_meta", (s, d) => {
      val docs = Tables.documents(s, d)
        .withColumn("bin", encode(col("text"), "utf-8"))
      Multimodal.decodeMeta(s, docs, "doc_id", "bin", "image")
        .toDF()
        .select("media_id", "media_type", "byte_len", "content_hash",
          "width", "height", "n_frames")
    },
      """SELECT doc_id AS media_id, 'image' AS media_type,
        |       CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
        |       md5(text) AS content_hash,
        |       64 + ord(substr(text, 1, 1)) % 192 AS width,
        |       64 + ord(substr(text, 2, 1)) % 192 AS height,
        |       CAST(1 + octet_length(encode(text)) % 16 AS INT) AS n_frames
        |FROM documents""".stripMargin),

    // --- BPE tokenizer training: 6 greedy merges over the corpus
    // vocabulary — a driver loop, but each round is ONE distributed pass
    // over the (shrinking) vocab frame and the driver holds only the
    // argmax pair. The merge table IS the tokenizer. ----------------------
    Row("bpe_train", (s, d) => sharedBpeTrain6(s, d),
      // the merge loop unrolled round-for-round
      bpeTrainSql(6)),

    // --- tokenize the corpus with the trained merges: map-only chained
    // replaces, no shuffle — the serving path of bpe_train --------------
    Row("bpe_segment", (s, d) =>
      graft.llm.Bpe.segmentCorpus(Tables.documents(s, d), "text",
        "doc_id", sharedBpeTable6(s, d)),
      // training CTEs + the chained doc-level replaces; token count =
      // number of '<' cell openers
      bpeSegmentSql),

    // --- tokenizer fertility (BPE tokens per word) per language: the
    // multilingual-tokenizer-budget diagnostic — a high-fertility
    // language pays more sequence length per word. Grouped integer sums
    // over the map-only segmentation + one exact ppm division ------------
    Row("bpe_fertility", (s, d) => {
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
    },
      // per-language tokenizer fertility over the same 6-merge replay:
      // grouped integer sums + one exact ppm division
      s"""WITH seg AS ($bpeSegmentSql)
         |SELECT d.lang,
         |       CAST(sum(seg.n_bpe_tokens) AS BIGINT) AS n_bpe_tokens,
         |       CAST(sum(seg.n_words) AS BIGINT) AS n_words,
         |       CASE WHEN sum(seg.n_words) = 0 THEN NULL
         |            ELSE CAST((sum(seg.n_bpe_tokens) * 1000000)
         |                      // sum(seg.n_words) AS BIGINT)
         |       END AS fertility_ppm
         |FROM seg JOIN documents d USING (doc_id)
         |GROUP BY 1""".stripMargin),

    // --- DEEP BPE training: a 500-merge budget (the corpus fuses
    // completely first — training ends when no adjacent pair remains).
    // Incremental pair-delta maintenance: the corpus is scanned once,
    // the pair frame is built once, and each round recounts only the
    // words the winning pair touches — per-round cost tracks the pair's
    // support, not the vocabulary, so deep training is sub-linear in
    // merges. ------------------------------------------------------------
    Row("bpe_train_deep", (s, d) => {
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
        "the oracle with bpeCtes(>= ceiling)")
      graft.llm.Bpe.train(docs, "text", merges = 500)
    },
      // the deep unroll: 120 guarded rounds (≥ the corpus's provable
      // 107-merge ceiling) accumulated through chained m_k CTEs; rounds
      // past exhaustion contribute nothing on either side
      bpeTrainSql(120)),

    // --- sliding-window chunking into 64-token segments with 16-token
    // overlap: the context-window segmentation before packing/encoding —
    // map-only, one sequence explode per doc, the corpus never shuffles --
    Row("doc_chunks", (s, d) =>
      TextAnalysis.chunkDocs(Tables.documents(s, d), "text", "doc_id",
        budget = 64, overlap = 16),
      // chunk starts at multiples of step=48 while start < n; list_slice
      // is 1-based inclusive ≡ Spark's slice(start+1, len); seg_id =
      // start // step ≡ the engine's posexplode index
      docChunksSql),

    // --- k-anonymity equivalence classes over quasi-identifiers
    // (lang, source, length bucket): the re-identification audit before a
    // corpus release; one hash aggregate --------------------------------
    Row("privacy_kanon", (s, d) =>
      graft.llm.Privacy.kAnonymityClasses(
        Tables.documents(s, d),
        Seq(col("lang"), col("source"),
          expr("n_chars div 200").as("len_bucket")),
        k = 5),
      // `//` floors, Spark `div` truncates — identical on the
      // non-negative n_chars
      """SELECT lang, source, n_chars // 200 AS len_bucket,
        |       CAST(count(*) AS BIGINT) AS class_size,
        |       count(*) < 5 AS at_risk
        |FROM documents GROUP BY 1, 2, 3""".stripMargin),

    // --- l-diversity audit: k-anonymity's complement — a class whose
    // rows all share one sensitive value leaks it even when large.
    // QI = (source, length bucket), sensitive = lang, l = 3 --------------
    Row("privacy_ldiv", (s, d) =>
      graft.llm.Privacy.lDiversityClasses(
        Tables.documents(s, d),
        Seq(col("source"), expr("n_chars div 200").as("len_bucket")),
        col("lang"), l = 3),
      """SELECT source, n_chars // 200 AS len_bucket,
        |       CAST(count(*) AS BIGINT) AS class_size,
        |       CAST(count(DISTINCT lang) AS BIGINT) AS l_div,
        |       count(DISTINCT lang) < 3 AS at_risk
        |FROM documents GROUP BY 1, 2""".stripMargin),

    // --- corpus-level risk summary: achieved k, risky-row count + exact
    // integer ppm -------------------------------------------------------
    Row("privacy_risk", (s, d) =>
      graft.llm.Privacy.kAnonymityRisk(
        Tables.documents(s, d),
        Seq(col("lang"), col("source"),
          expr("n_chars div 200").as("len_bucket")),
        k = 5),
      """WITH c AS (SELECT count(*) AS cs FROM documents
        |           GROUP BY lang, source, n_chars // 200)
        |SELECT CAST(sum(cs) AS BIGINT) AS n_rows,
        |       CAST(count(*) AS BIGINT) AS n_classes,
        |       CAST(min(cs) AS BIGINT) AS k_anon,
        |       CAST(sum(CASE WHEN cs < 5 THEN cs ELSE 0 END) AS BIGINT)
        |         AS risky_rows,
        |       CAST(sum(CASE WHEN cs < 5 THEN cs ELSE 0 END) * 1000000
        |            // sum(cs) AS BIGINT) AS risky_ppm
        |FROM c""".stripMargin),

    // --- resize planning ahead of decode: stub dims + fit-inside scale,
    // all columnar — budget decode bytes and drop no-op resizes before
    // any codec CPU is spent ---------------------------------------------
    Row("mm_resize", (s, d) =>
      Multimodal.resizePlan(
        Tables.documents(s, d)
          .withColumn("payload", encode(col("text"), "utf-8")),
        "doc_id", "payload", targetW = 224, targetH = 224),
      // byte math mirrors Multimodal.resizePlan (hex of the first two
      // payload bytes); round on positive doubles is half-up in both
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
        |FROM s""".stripMargin),

    // --- RAG/embedding chunking: 8-token windows, stride 4 (50% overlap);
    // tail chunks emitted only when they add uncovered tokens -----------
    Row("chunk_windows", (s, d) =>
      TextAnalysis.slidingChunks(Tables.documents(s, d), "text", "doc_id",
        window = 8, stride = 4),
      // mirror TextAnalysis.slidingChunks: starts every 4, keep a window
      // iff it covers new tokens; DuckDB list slice w[a:b] clips like
      // Spark's slice(w, a, len)
      s"""WITH ws AS (
        |  SELECT doc_id, ${tokensSql()} AS w
        |  FROM documents),
        |st AS (SELECT doc_id, w,
        |              unnest(generate_series(0, len(w) - 1, 4)) AS s
        |       FROM ws WHERE len(w) >= 1)
        |SELECT doc_id, CAST(s // 4 AS INT) AS chunk_idx,
        |       array_to_string(w[s + 1 : s + 8], ' ') AS chunk_text,
        |       CAST(least(8, len(w) - s) AS INT) AS n_tokens
        |FROM st WHERE s = 0 OR len(w) - s > 4""".stripMargin)
  )
}
