package graft.queries

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.llm.{Clustering, Contamination, Corpus, Dedup, Sampling,
  TextAnalysis}

/** Sampling, mixing and packing for training sets: weighted,
  * stratified and temperature sampling, mixtures, splits, curricula,
  * epoch packing and the end-to-end curation pipelines. */
object SamplingRows {
  import Shared._

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
       |         ${unitSql("v")}
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

  /** pipeline_curate's classifier-gate threshold, shared engine/oracle.
    * The standalone quality_ensemble AUDIT uses ≥ 0.5 (the signal
    * report); the composed pipeline tunes the threshold to a target
    * keep rate — the FineWeb practice — because the trained
    * classifier's score distribution is corpus-specific: on the gate
    * fixture ≥ 0.5 keeps 2/500 (every downstream stage vacuous), ≥ 0.3
    * keeps 150 and leaves each stage real work to do. A deployment
    * sets this from its own score histogram (quality_hist). */
  private val CurateClsThreshold = 0.3

  // language-id CTE shared by the sampling/packing oracles
  private val langCte =
    s"""$toksCte,
       |hh AS (SELECT doc_id, toks,
       |       $langHits
       |       FROM t),
       |lang AS (SELECT doc_id, toks, $langCase AS lang_id FROM hh)""".stripMargin

  /** The exact 52-bit md5 uniform in [0, 1) of the id column `id` — the
    * sampling rows' per-row coin. */
  private def u52Sql(id: String = "doc_id"): String =
    s"(('0x' || substr(md5(CAST($id AS VARCHAR)), 1, 13))::BIGINT" +
      " / 4503599627370496.0)"

  /** The hashed uni+bigram features of [[Corpus.dsirSample]] over the
    * token lists `w` of `from`, as `(doc_id, b)`: b = the 16-bit md5
    * prefix mod 4096. */
  private def dsirFeatsSql(from: String): String =
    s"""SELECT doc_id, ('0x' || substr(md5(f), 1, 4))::BIGINT % 4096 AS b
       |FROM (SELECT doc_id, unnest(w) AS f FROM $from
       |      UNION ALL
       |      SELECT doc_id, w[i] || ' ' || w[i + 1]
       |      FROM (SELECT doc_id, w,
       |              unnest(generate_series(1, len(w) - 1)) AS i
       |            FROM $from WHERE len(w) >= 2))""".stripMargin

  /** [[Sampling.temperature]]'s rate at T=2 and half the rows for each
    * `lang` of `from`, as CTE `rates(lang, rate)`: exact long
    * weight/doc sums, one correctly-rounded double division, a 6-dp
    * round clamped to ≥ 1e-6 (a present group is never rounded to
    * annihilation). */
  private def temperatureRatesSql(from: String): String =
    s"""tn AS (SELECT lang, COUNT(*) AS n FROM $from GROUP BY 1),
       |tw AS (SELECT lang, n,
       |         CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1000000.0)
       |           AS BIGINT) AS w
       |       FROM tn),
       |tt AS (SELECT lang, n, w,
       |         CAST(SUM(w) OVER () AS BIGINT) AS tot,
       |         CAST(floor(0.5 * CAST(CAST(SUM(n) OVER () AS BIGINT)
       |                               AS DOUBLE)) AS DOUBLE) AS budget
       |       FROM tw),
       |rates AS (SELECT lang,
       |            greatest(round(least(1.0,
       |              (budget * CAST(w AS DOUBLE))
       |                / (CAST(tot AS DOUBLE) * CAST(n AS DOUBLE))), 6),
       |              0.000001) AS rate
       |          FROM tt)""".stripMargin

  /** [[Sampling.packShards]] at budget 2000 over `from(doc_id, tokens,
    * cols…)`: each row's shard and offset from the running token sum of
    * its `part` stratum (the whole input when empty) in md5(doc_id)
    * order. Ends the query. */
  private def packSql(from: String, cols: String, part: String): String = {
    val by = if (part.isEmpty) "" else s"PARTITION BY $part "
    s"""run AS (
       |  SELECT doc_id, $cols,
       |         coalesce(sum(tokens) OVER (
       |             ${by}ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
       |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |           AS before
       |  FROM $from)
       |SELECT doc_id, $cols,
       |       CAST(floor(before / 2000) AS BIGINT) AS shard_id,
       |       CAST(before - floor(before / 2000) * 2000 AS BIGINT)
       |         AS shard_offset
       |FROM run""".stripMargin
  }

  val rows: Seq[Row] = Seq(
    // --- greedy k-center coreset: lowest-id seed, then 7× the point
    // farthest from the picks (min max-cosine, ties on id) — diverse
    // exemplar selection with the 2-approx covering guarantee. Each
    // round is one broadcast product with the single newest pick --------
    Row("sample_kcenter", (s, d) => {
      val e = Tables.embeddings(s, d).filter(size(col("embedding")) >= 64)
      Clustering.kCenterGreedy(e, "vec_id", "embedding", k = 8)
    },
      kcenterOracleSql(8)),

    // --- data-constrained epoch allocation (Muennighoff et al. 2023):
    // weight-share token targets per source, capped at maxEpochs× the
    // source's unique tokens, shortfall reported (chars as the budget
    // unit here — the op is unit-agnostic) -------------------------------
    Row("pack_epochs", (s, d) =>
      Sampling.epochAllocation(Tables.documents(s, d), "source", "n_chars",
        budget = 1000000L, weights = Seq("src0" -> 3L, "src1" -> 2L),
        maxEpochs = 4.0),
      // mirrors Sampling.epochAllocation: exact long counts; one double
      // multiply/divide tree per source, floored; 6-dp epochs
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
        |FROM t""".stripMargin),

    // --- water-filling budget allocation: pack_epochs WITH the spill
    // closed — capped sources release surplus that redistributes among
    // the rest via the one-pass sorted threshold; all-integer cut math --
    Row("mixture_waterfill", (s, d) =>
      Sampling.waterfillAllocation(Tables.documents(s, d), "source",
        "n_chars", budget = 400000L,
        weights = Seq("src0" -> 5L, "src1" -> 3L), maxEpochs = 4.0),
      // the sorted-threshold waterfill with cross-multiplied integer cut
      // math; the exact-order sort key and every share are integers
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
        |FROM al""".stripMargin),

    // --- DSIR importance resampling: the 100 docs (of the non-src0 pool)
    // whose hashed-n-gram distribution looks most like the src0 target,
    // Gumbel-sampled ∝ importance weight (Xie et al. 2023) ---------------
    Row("sample_dsir", (s, d) => {
      val docs = Tables.documents(s, d)
      Corpus.dsirSample(
        raw = docs.filter(col("source") =!= "src0"),
        target = docs.filter(col("source") === "src0"),
        "text", "doc_id", n = 100, buckets = 4096, salt = "dsir")
    },
      // mirrors Corpus.dsirSample: uni+bigram features bucketed by the
      // 16-bit md5 prefix mod 4096; 9-dp-fixed log-ratios summed as exact
      // decimals per doc; Gumbel priority from the 52-bit md5 uniform,
      // rounded to 6 dp before the (priority DESC, doc_id) top-100
      s"""WITH td AS (SELECT doc_id, ${tokensSql()} AS w
        |            FROM documents WHERE source = 'src0'),
        |rd AS (SELECT doc_id, ${tokensSql()} AS w
        |       FROM documents WHERE source != 'src0'),
        |tfeat AS (${dsirFeatsSql("td")}),
        |tc AS (SELECT b, count(*) AS ct FROM tfeat GROUP BY 1),
        |rfeat AS (${dsirFeatsSql("rd")}),
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
        |ORDER BY priority DESC, doc_id LIMIT 100""".stripMargin),

    // --- soft dedup in action: duplication-aware weighted sampling — the
    // down-weight-instead-of-drop pipeline (chunkDupStats → weighted);
    // duplicated documents survive, at inclusion odds scaled by how
    // corpus-unique their content is -----------------------------------------
    Row("sample_softdedup", (s, d) =>
      Sampling.weighted(
        Dedup.chunkDupStats(Tables.documents(s, d), "text", "doc_id", w = 3)
          .select("doc_id", "soft_weight"),
        "doc_id", "soft_weight", k = 100)
        .select(col("doc_id"), col("soft_weight"), col("priority")),
      // sample_weighted's priority construction over the soft weights
      s"""WITH $chunkDupCtes,
         |sw AS (SELECT doc_id,
         |         round(CAST(n_chunks AS DOUBLE) / sum_mult, 6)
         |           AS soft_weight
         |       FROM sdp),
         |p AS (SELECT doc_id, soft_weight, ${u52Sql()} / soft_weight AS pri
         |      FROM sw WHERE soft_weight > 0)
         |SELECT doc_id, soft_weight, round(pri, 12) AS priority
         |FROM p ORDER BY pri, doc_id LIMIT 100""".stripMargin),

    // --- mixture-weighted per-source downsampling ----------------------------
    Row("sample_mixture", (s, d) =>
      Sampling.mixture(Tables.documents(s, d), "doc_id", "source",
        Seq("src0" -> 0.125, "src1" -> 0.25, "src2" -> 0.5, "src3" -> 0.75))
        .select("doc_id", "source"),
      """SELECT doc_id, source FROM documents
        |WHERE CASE source
        |  WHEN 'src0' THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '20'
        |  WHEN 'src1' THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '40'
        |  WHEN 'src2' THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '80'
        |  WHEN 'src3' THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'c0'
        |  ELSE TRUE END""".stripMargin),

    // --- temperature-scaled language rebalancing (T=2, half the corpus):
    // rates derive from the corpus' own counts, head languages are
    // downsampled hardest --------------------------------------------------
    Row("sample_temperature", (s, d) =>
      Sampling.temperature(Tables.documents(s, d), "doc_id", "lang",
        temp = 2.0, frac = 0.5)
        .select("doc_id", "lang"),
      // the rate derivation, then the 52-bit md5 uniform gate
      // (sample_weighted's construction — fine enough that sub-0.4%
      // rates still sample); null-safe join so NULL-source rows gate at
      // their own group's rate
      s"""WITH ${temperatureRatesSql("documents")}
         |SELECT d.doc_id, d.lang FROM documents d
         |JOIN rates r ON d.lang IS NOT DISTINCT FROM r.lang
         |WHERE rate >= 1.0 OR ${u52Sql()} < rate""".stripMargin),

    // --- deterministic train/val split (hash of id, engine-portable) --------
    Row("sample_split", (s, d) =>
      Sampling.split(Tables.documents(s, d), "doc_id", trainPct = 0.8)
        .select("doc_id", "split"),
      """SELECT doc_id,
        |       CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc'
        |            THEN 'train' ELSE 'val' END AS split
        |FROM documents""".stripMargin),

    // --- weighted-fair mixture interleave: global training-order key --------
    Row("mixture_schedule", (s, d) =>
      Sampling.mixtureSchedule(Tables.documents(s, d), "doc_id", "source",
        weights = Seq("src0" -> 5L, "src1" -> 3L), defaultWeight = 1L)
        .select("doc_id", "source", "sched_key"),
      // lcm(1,5,3)=15 → strides src0=3, src1=5, default 15 (mirror of
      // Sampling.mixtureSchedule's exact-long virtual finish times)
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
        |FROM r""".stripMargin),

    // --- split hygiene: exact + near-dup train→val leakage audits -----------
    Row("split_leakage", (s, d) =>
      Sampling.splitLeakageExact(Tables.documents(s, d), "text", "doc_id",
        trainPct = 0.8),
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
        |WHERE v.split = 'val'""".stripMargin),

    Row("split_leakage_near", (s, d) =>
      Sampling.splitLeakageNear(Tables.documents(s, d), "text", "doc_id",
        trainPct = 0.8, shingleN = 3, k = 8, bands = 4),
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
         |GROUP BY v.doc_id""".stripMargin),

    // --- stratified per-language cap: stable pseudo-random 50 per stratum ---
    Row("sample_stratified", (s, d) =>
      Sampling.stratified(
        // spread: langId's stopword scan is the heavy map stage here and
        // the fixture parquet is a single row group (one scan task)
        Tables.spread(Tables.documents(s, d))
          .withColumn("lang_id", TextAnalysis.langId(col("text")))
          // project BEFORE the window: only (doc_id, lang_id) ride the
          // stratum exchange, not the full document text
          .select("doc_id", "lang_id"),
        "lang_id", "doc_id", perStratum = 50)
        .select("doc_id", "lang_id"),
      s"""WITH $langCte
         |SELECT doc_id, lang_id FROM (
         |  SELECT doc_id, lang_id,
         |         row_number() OVER (PARTITION BY lang_id
         |             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
         |  FROM lang) WHERE rn <= 50""".stripMargin),

    // --- token-budget shard packing per language stratum --------------------
    Row("pack_shards", (s, d) =>
      Sampling.packShards(
        Tables.documents(s, d)
          .withColumn("lang_id", TextAnalysis.langId(col("text")))
          .withColumn("tokens",
            size(TextAnalysis.tokens(col("text"))).cast("long")),
        "lang_id", "doc_id", "tokens", budget = 2000L)
        .select("doc_id", "lang_id", "shard_id", "shard_offset"),
      s"""WITH $langCte,
         |tk AS (SELECT doc_id, lang_id,
         |              CAST(len(toks) AS BIGINT) AS tokens FROM lang),
         |${packSql("tk", "lang_id", "lang_id")}""".stripMargin),

    // --- CCNet perplexity buckets (Wenzek et al. 2020): per-language
    // head/middle/tail terciles of the bigram-LM fluency score — the
    // composed gate CCNet cuts crawl data with (docs with no bigram
    // positions are unscoreable and drop, as in bigramNll) ---------------
    Row("ccnet_buckets", (s, d) => {
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
    },
      // the CCNet gate (Wenzek et al. 2020): per-language perplexity
      // terciles over the same bigram-LM score — head = most fluent.
      // Negating avg_nll is exact, so ORDER BY avg_nll ASC mirrors the
      // engine's fluency DESC ordering bit-for-bit
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
          |FROM nt""".stripMargin)),

    // --- weighted corpus sampling: 100 docs, inclusion probability
    // ∝ n_chars (sequential Poisson sampling; bit-reproducible priority,
    // global top-k = TakeOrderedAndProject, no full sort) ---------------
    Row("sample_weighted", (s, d) =>
      Sampling.weighted(
        Tables.documents(s, d).select("doc_id", "n_chars"),
        "doc_id", "n_chars", k = 100)
        .select(col("doc_id"), col("n_chars").as("weight"),
          col("priority")),
      // mirror Sampling.weighted exactly: u52/2^52 (exact) then /w (one
      // correctly-rounded IEEE division) — the ranking is bit-identical
      s"""WITH p AS (
        |  SELECT doc_id, n_chars, ${u52Sql()} / CAST(n_chars AS DOUBLE) AS pri
        |  FROM documents
        |  WHERE n_chars > 0)
        |SELECT doc_id, n_chars AS weight, round(pri, 12) AS priority
        |FROM p ORDER BY pri, doc_id LIMIT 100""".stripMargin),

    // --- per-domain weighted caps: the stratified quality-weighted sample ---
    Row("sample_weighted_group", (s, d) =>
      Sampling.weightedPerGroup(
        Tables.documents(s, d).select("doc_id", "source", "n_chars"),
        "source", "doc_id", "n_chars", k = 10)
        .select(col("doc_id"), col("source"),
          col("n_chars").as("weight"), col("priority")),
      s"""WITH p AS (
        |  SELECT doc_id, source, n_chars,
        |         ${u52Sql()} / CAST(n_chars AS DOUBLE) AS pri
        |  FROM documents
        |  WHERE n_chars > 0)
        |SELECT doc_id, source, n_chars AS weight,
        |       round(pri, 12) AS priority
        |FROM (SELECT *, row_number() OVER (PARTITION BY source
        |                  ORDER BY pri, doc_id) AS rn
        |      FROM p)
        |WHERE rn <= 10""".stripMargin),

    // --- nucleus (top-p) curation by token budget: keep the best half of
    // every source in TOKENS, ordered by quality — the gate is pure long
    // arithmetic (cum_before·2 < total·1), no float threshold ------------
    Row("sample_topp", (s, d) =>
      Sampling.topPByBudget(
        TextAnalysis.qualityScore(Tables.documents(s, d), "text")
          .select(col("doc_id"), col("source"), col("quality_score"),
            col("token_count").cast("long").as("tokens")),
        "source", "quality_score", "doc_id", "tokens",
        pNum = 1, pDen = 2)
        .select("doc_id", "source", "quality_score", "tokens",
          "cum_before", "group_total", "kept"),
      // mirror Sampling.topPByBudget over the quality score: exact long
      // cumulative sums, the rational gate cum_before·2 < total·1
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
         |FROM w""".stripMargin),

    // --- curriculum buckets: 4 per-source difficulty tiers by descending
    // quality score (bucket 1 = highest-quality quartile) ----------------
    Row("curriculum_buckets", (s, d) =>
      Sampling.curriculum(
        TextAnalysis.qualityScore(Tables.documents(s, d), "text")
          .select("doc_id", "source", "quality_score"),
        "source", "quality_score", "doc_id", buckets = 4)
        .select("doc_id", "source", "quality_score", "curriculum_bucket"),
      s"""WITH $toksCte,
         |$qualityCte
         |SELECT d.doc_id, d.source, q.quality_score,
         |       CAST(ntile(4) OVER (PARTITION BY d.source
         |           ORDER BY q.quality_score DESC, d.doc_id) AS INT)
         |         AS curriculum_bucket
         |FROM documents d JOIN q ON d.doc_id = q.doc_id""".stripMargin),

    // --- GLOBAL curriculum: quantile thresholds + map-side assignment ---
    // (the 100 TB path — no total sort; bucket 1 = highest quartile)
    Row("curriculum_global", (s, d) =>
      Sampling.curriculumGlobal(
        TextAnalysis.qualityScore(Tables.documents(s, d), "text")
          .select("doc_id", "quality_score"),
        "quality_score", buckets = 4)
        .select("doc_id", "quality_score", "curriculum_bucket"),
      // quantile_cont matches Spark's exact percentile (linear interp at
      // rank p·(n−1)); identical thresholds → identical bucket compares
      s"""WITH $toksCte,
         |$qualityCte,
         |th AS (SELECT quantile_cont(quality_score,
         |                            [0.25, 0.5, 0.75]) AS ts FROM q)
         |SELECT doc_id, quality_score,
         |       CAST(4 - len(list_filter(ts, t -> quality_score > t))
         |            AS INT) AS curriculum_bucket
         |FROM q, th""".stripMargin),

    // --- best-of-corpus curation: top-5 docs per source by quality ------
    Row("group_topk", (s, d) =>
      Sampling.topKPerGroup(
        TextAnalysis.qualityScore(Tables.documents(s, d), "text")
          .select("doc_id", "source", "quality_score"),
        "source", "quality_score", "doc_id", k = 5)
        .select("doc_id", "source", "quality_score", "rank"),
      s"""WITH $toksCte,
         |$qualityCte,
         |r AS (
         |  SELECT d.doc_id, d.source, q.quality_score,
         |         CAST(row_number() OVER (PARTITION BY d.source
         |             ORDER BY q.quality_score DESC, d.doc_id) AS INT)
         |           AS rank
         |  FROM documents d JOIN q ON d.doc_id = q.doc_id)
         |SELECT doc_id, source, quality_score, rank
         |FROM r WHERE rank <= 5""".stripMargin),

    // --- the composed cleaning pipeline, as ONE plan: quality scoring →
    // threshold filter → language gate → exact dedup (keep first) →
    // token-budget shard packing. The operators chain as plain DataFrame
    // transforms — scoring/gating fuse into the scan's codegen stage, and
    // only the dedup and packing windows shuffle. -----------------------
    Row("pipeline_clean", (s, d) => {
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
    },
      // the composed cleaning pipeline: every stage reuses the CTEs the
      // individual operators are verified against
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
         |${packSql("kept", "quality_score", "")}""".stripMargin),

    // --- the FULL modern curation recipe composed as ONE plan (the
    // pipeline_clean method, extended across the whole operator set):
    // quality_ensemble gate → normalized exact dedup (keep first) →
    // banded MinHash near-dedup (bands=4, the dedup_lsh_sizing pick;
    // drop the higher id of every candidate pair) → decontamination
    // against the held-out eval slice (the eval split) → temperature
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
    Row("pipeline_curate", (s, d) => {
      val docs = Tables.documents(s, d)
      // stage 1: the quality_ensemble stack, same operators + constants
      val k1 = qualitySignals(docs)
        .filter(qualityGate(CurateClsThreshold))
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
      val trainSide = docs.join(k3.hint("shuffle_hash"), Seq("doc_id"))
        .filter(!isTest)
      val cont = Contamination.ngramOverlap(trainSide,
          docs.filter(isTest), "text", "doc_id", n = 3, minShared = 2)
        .select(col("train_id").as("doc_id")).distinct()
      val k4 = k3.filter(!isTest)
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
    },
      // the composed curation pipeline: every stage reuses the CTE
      // fragment its standalone query is verified against —
      // quality_ensemble's signals, dedup_exact_norm's window,
      // dedup_minhash_lsh's bands (restricted to survivors on BOTH pair
      // sides), the eval split and contamination_ngram's ≥2 shared
      // shingles, sample_temperature's rates (counts from the
      // SURVIVORS), pack_shards' per-stratum running window
      (s"""WITH $toksCte,
          |$qualitySignalsCtes,
          |$shinglesFromWsCte,
          |$minhashBandsCte,
          |k1 AS (SELECT doc_id FROM qs
          |       WHERE ${qualityGateSql(CurateClsThreshold)}),
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
          |${splitCtes("sh")},
          |cont AS (SELECT DISTINCT train_id FROM (
          |          SELECT test.doc_id AS test_id,
          |                 train.doc_id AS train_id, count(*) AS c
          |          FROM train JOIN test USING (shingle)
          |          GROUP BY 1, 2) WHERE c >= 2),
          |k4 AS (SELECT doc_id FROM k3
          |       WHERE NOT ($isTestSql)
          |         AND doc_id NOT IN (SELECT train_id FROM cont)),
          |sv AS (SELECT d.doc_id, d.lang
          |       FROM documents d JOIN k4 USING (doc_id)),
          |${temperatureRatesSql("sv")},
          |samp AS (SELECT sv.doc_id, sv.lang FROM sv
          |         JOIN rates r ON sv.lang IS NOT DISTINCT FROM r.lang
          |         WHERE rate >= 1.0 OR ${u52Sql("sv.doc_id")} < rate),
          |tk AS (SELECT samp.doc_id, samp.lang,
          |              CAST(len(t.toks) AS BIGINT) AS tokens
          |       FROM samp JOIN t ON t.doc_id = samp.doc_id),
          |${packSql("tk", "lang", "lang")}""".stripMargin))
  )
}
