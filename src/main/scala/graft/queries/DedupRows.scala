package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.llm.{Blocking, Dedup, Multimodal, TextAnalysis}

/** Exact, fuzzy and span-level deduplication over `documents`: exact
  * and normalized hashes, MinHash-LSH, SimHash, n-gram overlap,
  * winnowing, chunk multiplicities, cross-corpus dedup, binary-asset
  * near-dups and entity matching. */
object DedupRows {
  import PipelineQueries._
  import Shared._

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

  /** The band sweep points of `dedup_lsh_sizing` (each must divide the
    * k=8 signature) — shared by the Spark query and the oracle. */
  private val lshSizingBands = Seq(2, 4, 8)

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

  /** Same sharing for the exact-overlap candidate join: the Jaccard and
    * containment gates are finishers over one blocking-join frame. */
  private def sharedOverlapCandidates(s: SparkSession, d: String): DataFrame =
    memo("overlap", s, d)(
      Dedup.overlapCandidates(Tables.documents(s, d), "text", "doc_id",
        n = 3, maxDocsPerShingle = 50).localCheckpoint())

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

  val rows: Seq[Row] = Seq(
    // --- exact dedup -----------------------------------------------------
    Row("dedup_exact", (s, d) =>
      Dedup.exact(Tables.documents(s, d), "text", "doc_id")
        .select(col("doc_id"), col("content_hash"),
          col("group_size"), col("keep")),
      """SELECT doc_id, md5(text) AS content_hash,
        |       count(*) OVER w AS group_size,
        |       doc_id = min(doc_id) OVER w AS keep
        |FROM documents
        |WINDOW w AS (PARTITION BY md5(text))""".stripMargin),

    // --- canonical (case/whitespace/NFC-insensitive) exact dedup — the
    // C4-style "fuzzy exact" pass: normalize THEN hash, so visually
    // identical docs collide; still map-side + one uniform-key window ----
    Row("dedup_exact_norm", (s, d) =>
      Dedup.exact(
        TextAnalysis.normalize(Tables.documents(s, d), "text"),
        "text_norm", "doc_id")
        .select(col("doc_id"), col("content_hash"),
          col("group_size"), col("keep")),
      // text_normalize's derivation composed under dedup_exact's window
      """WITH n AS (
        |  SELECT doc_id,
        |         nfc_normalize(lower(trim(
        |             regexp_replace(text, '\s+', ' ', 'g')))) AS tn
        |  FROM documents)
        |SELECT doc_id, md5(tn) AS content_hash,
        |       count(*) OVER w AS group_size,
        |       doc_id = min(doc_id) OVER w AS keep
        |FROM n
        |WINDOW w AS (PARTITION BY md5(tn))""".stripMargin),

    // --- MinHash + LSH candidate pairs ------------------------------------
    Row("dedup_minhash_lsh", (s, d) => sharedLshPairs(s, d),
      s"""WITH $shinglesCte,
         |$minhashBandsCte
         |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |FROM bands a JOIN bands b
         |  ON a.band = b.band AND a.band_hash = b.band_hash
         | AND a.doc_id < b.doc_id""".stripMargin),

    // --- SimHash signatures -------------------------------------------------
    Row("dedup_simhash", (s, d) =>
      Dedup.simhash(Tables.documents(s, d), "text", "doc_id"),
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
        |FROM bits GROUP BY doc_id""".stripMargin),

    // --- dedup clusters: connected components over MinHash-LSH pairs -------
    // The tiny iterative label rounds run at ambient shuffle width and rely
    // on AQE partition coalescing (no session-global conf mutation — a
    // concurrent query on the same session must never see a scoped-down
    // spark.sql.shuffle.partitions).
    Row("dedup_clusters", (s, d) =>
      sharedClusters(s, d)
        .select(col("id").as("doc_id"), col("cluster_root")),
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
         |FROM reach GROUP BY 1""".stripMargin),

    // --- dedup keep-set: the corpus minus non-representative cluster
    // members (docs in no candidate pair are implicitly their own root) ---
    Row("dedup_keep", (s, d) => {
      val dupes = sharedClusters(s, d)
        .filter(col("id") =!= col("cluster_root"))
      Tables.documents(s, d)
        .join(dupes.select(col("id").as("doc_id")), Seq("doc_id"), "left_anti")
        .select("doc_id")
    },
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
         |WHERE doc_id NOT IN (SELECT id FROM dupes)""".stripMargin),

    // --- SimHash near-dup candidate pairs (chunk-blocked + exact hamming) ---
    Row("dedup_simhash_pairs", (s, d) =>
      Dedup.simhashPairs(
        Dedup.simhash(Tables.documents(s, d), "text", "doc_id"),
        "doc_id", maxHamming = 3)
        .select(col("id_a"), col("id_b"),
          col("hamming").cast("long").as("hamming")),
      ("""WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS tok
        |  FROM documents),
        |""".stripMargin + simhashPairsFromToksSql)),

    // --- fuzzy binary-asset near-dup: byte-shingle SimHash over the
    // base64 payload (codec-free media near-dup; exact copies are
    // mm_dedup's job), through the same chunk-blocked pair stage --------
    Row("mm_neardup", (s, d) => {
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
    },
      // identical signature+blocking derivation, fed by base64 byte
      // shingles (window 8 / stride 4) instead of word tokens — mirrors
      // Multimodal.binarySimhash ∘ Dedup.simhashPairs
      ("""WITH b AS (SELECT doc_id, to_base64(encode(text)) AS b64
        |           FROM documents),
        |toks AS (
        |  SELECT doc_id, substr(b64, i * 4 + 1, 8) AS tok
        |  FROM (SELECT doc_id, b64,
        |          unnest(generate_series(0,
        |            CAST((len(b64) - 8) // 4 AS INT))) AS i
        |        FROM b WHERE len(b64) >= 8)),
        |""".stripMargin + simhashPairsFromToksSql)),

    // --- n-gram Jaccard near-dup pairs --------------------------------------
    Row("dedup_ngram_jaccard", (s, d) =>
      Dedup.jaccardFrom(sharedOverlapCandidates(s, d), threshold = 0.2),
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
         |WHERE jaccard >= 0.2""".stripMargin),

    // --- n-gram containment pairs: the subset-duplication gate Jaccard
    // misses (short doc quoted whole inside a long one); same memoized
    // candidate frame as the Jaccard gate -----------------------------------
    Row("dedup_containment", (s, d) =>
      Dedup.containmentFrom(sharedOverlapCandidates(s, d), threshold = 0.4),
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
         |WHERE containment >= 0.4""".stripMargin),

    // --- duplication-multiplicity histogram: the corpus-health number
    // that says whether exact dedup must precede the pairwise stages -------
    Row("dedup_multiplicity", (s, d) =>
      Dedup.duplicationHistogram(Tables.documents(s, d), "text"),
      """WITH g AS (SELECT md5(text) AS h, count(*) AS multiplicity
        |           FROM documents GROUP BY 1)
        |SELECT multiplicity, count(*) AS n_groups,
        |       multiplicity * count(*) AS n_docs
        |FROM g GROUP BY 1""".stripMargin),

    // --- winnowing fingerprints (MOSS): per-doc selected k-gram hashes ----
    Row("winnow_fp", (s, d) =>
      Dedup.winnowFingerprints(Tables.documents(s, d), "text", "doc_id",
        k = 4, w = 5),
      // winnowing: positional 4-gram md5-prefix hashes, window-5 minima,
      // distinct per doc. The window join (i BETWEEN j AND j+4) is the
      // O(L·w) oracle formulation of the same selection the Spark side
      // does with per-row array ops.
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
        |SELECT DISTINCT doc_id, fp FROM sel""".stripMargin),

    // --- near-dup pairs by shared winnowing fingerprints ------------------
    Row("dedup_winnow", (s, d) =>
      Dedup.winnowPairs(Tables.documents(s, d), "text", "doc_id",
        k = 4, w = 5, minShared = 2),
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
        |HAVING count(*) >= 2""".stripMargin),

    // --- boilerplate removal with rebuild: drop ALL occurrences of any
    // chunk repeated corpus-wide, reassemble survivors ---------------------
    Row("text_deboilerplate", (s, d) =>
      Dedup.deboilerplate(Tables.documents(s, d), "text", "doc_id",
        w = 3, maxMult = 2)
        .select("doc_id", "n_chunks", "n_kept", "clean_text"),
      // dedup_chunks' chunker, but EVERY occurrence of a chunk with
      // corpus multiplicity >= 2 dies (boilerplate posture), then the
      // same ordered reassembly
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
        |FROM k GROUP BY doc_id""".stripMargin),

    // --- WITHIN-document repetition removal: the map-only chunk op (no
    // cross-document state, nothing shuffles) ------------------------------
    Row("dedup_within", (s, d) =>
      Dedup.dedupWithinDoc(Tables.documents(s, d), "text", "doc_id", w = 3)
        .select("doc_id", "n_chunks", "n_kept", "clean_text"),
      // per-doc first-occurrence keep ordered by chunk_idx — the window
      // formulation, because DuckDB's list_distinct does not document
      // order preservation (Spark's array_distinct does)
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
        |FROM k GROUP BY doc_id""".stripMargin),

    // --- blocked fuzzy entity matching over part names: collapse to the
    // distinct-name grain, block on the head noun, length-band gate,
    // Levenshtein ≤ 3 confirm — the record-linkage shape for dirty
    // catalog/metadata tables ----------------------------------------------
    Row("er_blocked_match", (s, d) =>
      graft.llm.EntityMatch.blockedNameMatches(
        Tables.part(s, d), "p_name", maxDist = 3)
        .select("name_a", "name_b", "dist", "n_a", "n_b"),
      // name-grain collapse, last-token block, length-band gate, exact
      // levenshtein — DuckDB's levenshtein has the same unit-cost
      // semantics as Spark's
      """WITH n AS (SELECT p_name AS name, count(*) AS n,
        |                  string_split(p_name, ' ')[-1] AS block,
        |                  length(p_name) AS len
        |           FROM part GROUP BY 1)
        |SELECT a.name AS name_a, b.name AS name_b,
        |       CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist,
        |       a.n AS n_a, b.n AS n_b
        |FROM n a JOIN n b ON a.block = b.block AND a.name < b.name
        |WHERE abs(a.len - b.len) <= 3
        |  AND levenshtein(a.name, b.name) <= 3""".stripMargin),

    // --- chunk-level (paragraph-style) global dedup --------------------------
    Row("dedup_chunks", (s, d) =>
      Dedup.chunkDedup(Tables.documents(s, d), "text", "doc_id", w = 3)
        .select("doc_id", "n_chunks", "n_kept", "clean_text"),
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
        |FROM k GROUP BY doc_id""".stripMargin),

    // --- corpus-repeated substring SPANS at arbitrary offsets (Lee et
    // al. 2022's exact-substring posture, shingle-run approximation):
    // sliding 4-token windows duplicated anywhere in the corpus, fused
    // into maximal runs of >= 2 windows = spans of >= 5 tokens -----------
    Row("dedup_spans", (s, d) =>
      Dedup.duplicateSpans(Tables.documents(s, d), "text", "doc_id",
        w = 4, minRun = 2),
      // positional sliding shingles → global multiplicity → per-doc
      // gaps-and-islands (pos − row_number) → runs ≥ 2 windows; token
      // indices 0-based inclusive, mirroring Dedup.duplicateSpans
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
        |FROM g WHERE run >= 2""".stripMargin),

    // --- the actionable gate over those spans: per-doc duplicated-token
    // coverage by interval union (spans overlap < w at the edges) --------
    Row("dedup_span_ratio", (s, d) =>
      Dedup.spanDupRatio(Tables.documents(s, d), "text", "doc_id",
        w = 4, minRun = 2),
      // the spans' interval union per doc (second gaps-and-islands:
      // a new island where span_start exceeds the running max end),
      // then coverage / token count
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
        |FROM documents b LEFT JOIN dt USING (doc_id)""".stripMargin),

    // --- and the removal policy: cut the repeated spans out — per-doc
    // interval arrays ride a doc-grain hash join, the token cut is a
    // map-side indexed-lambda filter (no token-level shuffle) ------------
    Row("dedup_spans_clean", (s, d) =>
      Dedup.stripSpans(Tables.documents(s, d), "text", "doc_id",
        w = 4, minRun = 2),
      // same islands; the cut replayed at token grain (the engine cuts
      // map-side with an indexed lambda — same result, DuckDB joins)
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
        |GROUP BY t.doc_id, len(t.toks)""".stripMargin),

    // --- per-document duplicated-content fraction (the RefinedWeb-style
    // "drop documents that are mostly duplicated elsewhere" gate) ------------
    Row("dedup_dupratio", (s, d) =>
      Dedup.chunkDupStats(Tables.documents(s, d), "text", "doc_id", w = 3)
        .select(col("doc_id"), col("n_chunks"), col("n_dup"),
          col("dup_ratio"), (col("dup_ratio") <= 0.5).as("keep")),
      // shares dedup_chunks' chunker CTE; multiplicity is corpus-wide
      // occurrence count of the chunk hash (within-document repeats
      // included — see Dedup.chunkDupStats)
      s"""WITH $chunkMultCtes
         |SELECT doc_id, n_chunks, n_dup,
         |       round(CAST(n_dup AS DOUBLE) / n_chunks, 6) AS dup_ratio,
         |       round(CAST(n_dup AS DOUBLE) / n_chunks, 6) <= 0.5 AS keep
         |FROM sdp""".stripMargin),

    // --- soft dedup: inverse-mean-multiplicity loss/sampling weights --------
    Row("softdedup_weights", (s, d) =>
      Dedup.chunkDupStats(Tables.documents(s, d), "text", "doc_id", w = 3)
        .select("doc_id", "sum_mult", "soft_weight"),
      s"""WITH $chunkMultCtes
         |SELECT doc_id, sum_mult,
         |       round(CAST(n_chunks AS DOUBLE) / sum_mult, 6)
         |         AS soft_weight
         |FROM sdp""".stripMargin),

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
    Row("dedup_lsh_sizing", (s, d) => {
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
    },
      // one exact-Jaccard truth leg + per-band-count candidate legs over
      // the same k=8 signature, 1 counts row per sweep point
      lshSizingSql(lshSizingBands)),

    Row("dedup_minhash_est", (s, d) => {
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
    },
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
         |JOIN sig sb ON sb.doc_id = p.id_b""".stripMargin),

    // --- cross-corpus dedup: docs from the "new" sources (src10+) that
    // do not MinHash-collide with the "reference" corpus (src0-src9) —
    // the dedup-new-crawl-against-trained-corpus operator ----------------
    Row("dedup_cross", (s, d) => {
      val docs = Tables.documents(s, d)
      val srcNum = expr("cast(substring(source, 4) as int)")
      Dedup.crossCorpusKeep(
        docs.filter(srcNum >= 10), docs.filter(srcNum < 10),
        "text", "doc_id", shingleN = 3, k = 8, bands = 4)
        .select("doc_id", "source")
    },
      // survivors of the new corpus (src10+): docs with no MinHash band
      // collision against the reference corpus (src0-src9)
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
         |  AND doc_id NOT IN (SELECT doc_id FROM hit)""".stripMargin),

    // --- same drop rule via the PERSISTED band set: the incremental /
    // steady-state ingest path (reference corpus never recomputed) ----------
    Row("dedup_cross_incr", (s, d) => {
      val docs = Tables.documents(s, d)
      val srcNum = expr("cast(substring(source, 4) as int)")
      val refSet = Dedup.bandSet(docs.filter(srcNum < 10), "text", "doc_id",
        shingleN = 3, k = 8, bands = 4)
      Dedup.keepAgainstBandSet(docs.filter(srcNum >= 10), refSet,
        "text", "doc_id", shingleN = 3, k = 8, bands = 4)
        .select("doc_id", "source")
    },
      // the incremental path drops EXACTLY the same rows as dedup_cross
      // (the band set is the same distinct (band, band_hash) relation
      // whether computed inline or off storage) — identical oracle
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
         |  AND doc_id NOT IN (SELECT doc_id FROM hit)""".stripMargin),

    // --- cross-corpus dedup WITH the exact-Jaccard confirm stage: band
    // collision nominates, exact shingle overlap ≥ 0.5 convicts ----------
    Row("dedup_cross_confirm", (s, d) => {
      val docs = Tables.documents(s, d)
      val srcNum = expr("cast(substring(source, 4) as int)")
      Dedup.crossCorpusKeep(
        docs.filter(srcNum >= 10), docs.filter(srcNum < 10),
        "text", "doc_id", shingleN = 3, k = 8, bands = 4,
        confirmJaccard = Some(0.5))
        .select("doc_id", "source")
    },
      // confirm stage mirrored exactly: band-collision candidates, exact
      // DISTINCT-shingle Jaccard ≥ 0.5 convicts (sh is already distinct
      // per doc, matching the xxhash64-keyed Spark intersection)
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
         |  AND doc_id NOT IN (SELECT new_id FROM dropids)""".stripMargin),

    // --- multimodal payload dedup: one row per distinct binary asset
    // (content hash + byte length), keeper = smallest id — the asset-level
    // dedup a multimodal pipeline runs before any decode ----------------
    Row("mm_dedup", (s, d) =>
      Multimodal.binaryMeta(
        Tables.documents(s, d)
          .withColumn("payload", encode(col("text"), "utf-8")), "payload")
        .groupBy(col("content_hash"), col("byte_len"))
        .agg(min(col("doc_id")).as("keeper_id"),
          count(lit(1)).as("n_copies")),
      """SELECT md5(text) AS content_hash,
        |       CAST(octet_length(encode(text)) AS INT) AS byte_len,
        |       min(doc_id) AS keeper_id, count(*) AS n_copies
        |FROM documents GROUP BY 1, 2""".stripMargin)
  )
}
