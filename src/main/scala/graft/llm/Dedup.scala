package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables.spread

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, and n-gram Jaccard.
  *
  * Hash strategy: the `oracle*` entry points use md5 (bit-identical in
  * DuckDB, so the driver's oracle can verify values); the production path
  * takes a pluggable hash (default xxhash64, codegen'd and ~10× cheaper).
  * At 100 TB the only shuffles are (a) the groupBy on signature/band keys
  * and (b) the candidate-pair self-join, both hash-partitioned on keys with
  * map-side partial aggregation; no driver-side state anywhere.
  */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** Exact dedup via content hash: every row keeps its group hash, group
    * size, and a `keep` flag on the smallest id (deterministic
    * representative). Filter `keep` to materialize the deduplicated set.
    *
    * Mega-duplicate hardening: raw crawls routinely carry one degenerate
    * page (empty body, boilerplate error page) duplicated 10⁷-10⁸× —
    * `dedup_multiplicity`'s histogram is the sizing input. A window over
    * `content_hash` would sort that whole group inside ONE task; instead
    * the group stats come from a map-side-combining `groupBy(hash)`
    * (min(id) + count — each map task contributes one partial row per
    * distinct hash, so the reduce side sees ~#tasks rows for the hot
    * hash, not 10⁸), re-attached with a SHUFFLE_HASH join hint: the big
    * side STREAMS through the hash-join probe without the per-partition
    * sort a sort-merge join would reintroduce (which would be the same
    * single-task straggler wearing a different plan node). */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val withHash = df.withColumn("content_hash", md5(col(textCol)))
    val groups = withHash.groupBy(col("content_hash"))
      .agg(min(col(idCol)).as("__rep"), count(lit(1)).as("group_size"))
      .withColumnRenamed("content_hash", "__gh")
    // null-SAFE key: md5(NULL) = NULL, and a plain equi-join would
    // silently drop every null-text row (null keys never match) — the
    // null group must survive like any other (<=> remains a hash-join
    // key, so the streaming-probe shape is unchanged)
    withHash.join(groups.hint("shuffle_hash"),
        col("content_hash") <=> col("__gh"))
      .withColumn("keep", col(idCol) === col("__rep"))
      .drop("__rep", "__gh")
  }

  // ------------------------------------------------------------- shingles

  /** Distinct word n-gram shingles per document: (id, shingle) rows.
    * The explode is map-side; shingling + in-doc dedup run in one codegen'd
    * pass ([[graft.functions.Shingles]]) — no shuffle, no per-shingle array
    * allocation. */
  def shingles(df: DataFrame, textCol: String, idCol: String,
               n: Int): DataFrame = {
    val ws = TextAnalysis.tokens(col(textCol))
    df.filter(size(ws) >= n)
      .select(col(idCol),
        explode(graft.functions.Shingles.distinctShingles(ws, n)).as("shingle"))
  }

  // -------------------------------------------------------- MinHash + LSH

  /** MinHash signature, oracle-portable form: component i is
    * `min(md5(i || '|' || shingle))` — a hex-string min is a valid
    * permutation-min because md5 is uniform on the shingle space.
    * Returns (id, sig_0..sig_{k-1}). */
  def minhashSignatures(sh: DataFrame, idCol: String, k: Int): DataFrame = {
    val aggs = (0 until k).map { i =>
      min(md5(concat(lit(i.toString), lit("|"), col("shingle")))).as(s"sig_$i")
    }
    sh.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** LSH banding: signature split into `bands` bands of `k/bands` rows;
    * band value = md5 of the concatenated component hashes. Docs sharing
    * any (band_index, band_value) are candidate duplicates.
    * Returns (id, band, band_hash). */
  def lshBands(sigs: DataFrame, idCol: String, k: Int,
               bands: Int): DataFrame =
    Blocking.banded(sigs, "band_hash", bandHashes(
      array((0 until k).map(i => col(s"sig_$i")): _*), k, bands), idCol)

  /** The `bands` band hashes of a k-component signature array: band b
    * is md5 over the concatenation of components b·rows+1 … (b+1)·rows,
    * rows = k/bands. */
  private[graft] def bandHashes(sig: Column, k: Int, bands: Int): Seq[Column] = {
    require(k % bands == 0, s"k=$k not divisible by bands=$bands")
    val rows = k / bands
    (0 until bands).map(b => md5(concat((0 until rows).map(r =>
      element_at(sig, b * rows + r + 1)): _*)))
  }

  /** Candidate near-duplicate pairs from LSH buckets (id_a < id_b,
    * distinct). The self-join shuffles once on (band, band_hash); bucket
    * sizes bound the pair blowup, which is the point of banding. */
  def lshCandidatePairs(bandsDf: DataFrame, idCol: String): DataFrame =
    Blocking.selfJoin(bandsDf.select(col("band"), col("band_hash"),
        col(idCol).as("id")), Seq("band", "band_hash"), Seq("id"))
      .select("id_a", "id_b").distinct()

  /** End-to-end MinHash-LSH candidate pairs. Signatures come from the
    * one-pass codegen'd [[graft.functions.MinHashUtil]] (same values as
    * [[minhashSignatures]], zero shuffles before banding). */
  def minhashLsh(df: DataFrame, textCol: String, idCol: String,
                 shingleN: Int = 3, k: Int = 8, bands: Int = 4): DataFrame =
    minhashLshFromGroups(
      minhashSigGroups(df, textCol, idCol, shingleN, k), k, bands)

  /** The band-INDEPENDENT prefix of [[minhashLsh]]: canonicalized
    * signature groups (__sig, __ids, __rep). Split out so a bands sweep
    * (`dedup_lsh_sizing`) computes the signature pipeline — the
    * shingle/minhash scan and the canonicalization exchange, the
    * expensive part — once and re-bands the checkpointed group frame
    * per leg (guide §1.2: don't recompute what the legs share). */
  def minhashSigGroups(df: DataFrame, textCol: String, idCol: String,
                       shingleN: Int, k: Int): DataFrame =
    // Canonicalize on the SIGNATURE vector (computed map-side, fixed
    // k×16-char width — unlike grouping by text, this never shuffles
    // document bytes); dup-free corpora pay one signature-width exchange
    // and nothing else.
    Blocking.canonical(signatures(df, textCol, idCol, shingleN, k), idCol,
      col("__sig"))

  /** (id, __sig): the one-pass codegen'd MinHash signature of every doc
    * with at least `shingleN` tokens — zero shuffles before banding. */
  private def signatures(df: DataFrame, textCol: String, idCol: String,
                         shingleN: Int, k: Int): DataFrame = {
    val ws = TextAnalysis.tokens(col(textCol))
    spread(df.filter(size(ws) >= shingleN))
      .select(col(idCol),
        graft.functions.MinHashUtil.signatures(
          graft.functions.Shingles.distinctShingles(ws, shingleN), k)
          .as("__sig"))
  }

  /** [[minhashLsh]]'s banding/pairing suffix over a prebuilt
    * [[minhashSigGroups]] frame: identical signatures collide in every
    * band, so all within-group pairs are candidates by construction;
    * distinct signatures band as usual, and candidate GROUP pairs expand
    * to id pairs map-side. */
  def minhashLshFromGroups(groups: DataFrame, k: Int,
                           bands: Int): DataFrame = {
    val within = Blocking.withinPairs(
      groups.filter(size(col("__ids")) >= 2), "__ids")
    val banded = Blocking.banded(groups, "band_hash",
      bandHashes(col("__sig"), k, bands), "__rep", "__ids")
    within.unionByName(Blocking.crossPairs(Blocking.selfJoin(banded,
        Seq("band", "band_hash"), Seq("__rep", "__ids"))
      .dropDuplicates("__rep_a", "__rep_b")))
  }

  // ------------------------------------------------- cross-corpus dedup

  /** MinHash-LSH band rows for a corpus via the one-pass codegen kernel
    * (same (band, band_hash) values as [[minhashSignatures]]+[[lshBands]]).
    * Shared by [[bandSet]], [[crossCorpusKeep]] and the split-leak check. */
  private[llm] def bandRows(df: DataFrame, textCol: String, idCol: String,
                            shingleN: Int, k: Int, bands: Int): DataFrame =
    Blocking.banded(signatures(df, textCol, idCol, shingleN, k),
      "band_hash", bandHashes(col("__sig"), k, bands), idCol)

  /** Cross-corpus dedup: rows of `df` that do NOT near-duplicate anything
    * in `refDf` — the "dedup the new crawl against the corpus you already
    * trained on" (or against an eval benchmark) operator. A row is dropped
    * when any of its MinHash-LSH bands collides with a reference band —
    * and, when `confirmJaccard` is set, only if some colliding reference
    * doc ALSO passes an exact n-gram Jaccard check (band collision is
    * probabilistic; the confirm stage restores precision at the cost of a
    * shingle join over candidate pairs only).
    *
    * Plan shape at 100 TB: both corpora reduce to band rows (map-side
    * codegen signatures, no shuffle before banding); the reference side
    * further collapses to its DISTINCT (band, band_hash) set — typically
    * orders of magnitude smaller than the reference corpus itself, and
    * re-usable across many incoming batches if persisted. The collision
    * check is a semi-join + anti-join, both hash-partitioned; neither
    * corpus' text ever shuffles. The optional confirm stage joins hashed
    * shingles restricted to candidate ids — bounded by the collision set,
    * never all-pairs.
    *
    * Docs shorter than `shingleN` tokens have no signature and always
    * survive (nothing to collide on) — same convention as [[minhashLsh]]. */
  def crossCorpusKeep(df: DataFrame, refDf: DataFrame, textCol: String,
                      idCol: String, shingleN: Int = 3, k: Int = 8,
                      bands: Int = 4,
                      confirmJaccard: Option[Double] = None): DataFrame = {
    if (confirmJaccard.isEmpty) return keepAgainstBandSet(df,
      bandSet(refDf, textCol, idCol, shingleN, k, bands), textCol, idCol,
      shingleN, k, bands)
    val newBands = bandRows(df, textCol, idCol, shingleN, k, bands)
    val refBands = bandRows(refDf, textCol, idCol, shingleN, k, bands)
    // candidate (new, ref) pairs from band collisions, then exact
    // Jaccard on hashed shingle sets for JUST those pairs
    val pairs = newBands.select(col("band"), col("band_hash"),
        col(idCol).as("__new_id"))
      .join(refBands.select(col("band"), col("band_hash"),
        col(idCol).as("__ref_id")), Seq("band", "band_hash"))
      .select("__new_id", "__ref_id").distinct()
    def hashedShingles(x: DataFrame, as: String) =
      shingles(x, textCol, idCol, shingleN)
        .select(col(idCol).as(as), xxhash64(col("shingle")).as("sh_h"))
    val dropIds = hashedShingles(df, "__new_id")
      .join(pairs, Seq("__new_id"))
      .join(hashedShingles(refDf, "__ref_id"), Seq("__ref_id", "sh_h"))
      .groupBy("__new_id", "__ref_id").agg(count(lit(1)).as("inter"))
      .join(shingleCounts(df, textCol, idCol, shingleN, "__new_id", "na"),
        Seq("__new_id"))
      .join(shingleCounts(refDf, textCol, idCol, shingleN, "__ref_id", "nb"),
        Seq("__ref_id"))
      .filter(col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")) >= confirmJaccard.get)
      .select(col("__new_id").as(idCol)).distinct()
    df.join(dropIds, Seq(idCol), "left_anti")
  }

  /** The corpus reduced to its DISTINCT (band, band_hash) set — the
    * PERSISTABLE artifact of incremental cross-corpus dedup. Store this
    * (parquet/lakehouse table) once for the trained/reference corpus and
    * run every incoming batch through [[keepAgainstBandSet]] without
    * touching the reference corpus again; because banding is computed
    * per document, the set is ADD-ONLY under reference appends —
    * refreshing it is `union(bandSet(newRefDocs)).distinct`, never a
    * recompute (spec-pinned in LlmSpec). Orders of magnitude smaller
    * than the corpus: 2×16-byte-hash rows × bands per DISTINCT
    * signature. */
  def bandSet(df: DataFrame, textCol: String, idCol: String,
              shingleN: Int = 3, k: Int = 8, bands: Int = 4): DataFrame =
    bandRows(df, textCol, idCol, shingleN, k, bands)
      .select("band", "band_hash").distinct()

  /** [[crossCorpusKeep]]'s drop rule (no-confirm form) against a
    * PRECOMPUTED reference band set — the steady-state daily-ingest
    * path: yesterday's [[bandSet]] comes off storage, today's crawl
    * pays only its own map-side banding plus one semi-join + one
    * anti-join. The set frame may contain duplicates (a raw union of
    * incremental refreshes); it is re-distincted here — a cheap
    * aggregate of the small side, never the corpus. */
  def keepAgainstBandSet(df: DataFrame, bandSetDf: DataFrame,
                         textCol: String, idCol: String,
                         shingleN: Int = 3, k: Int = 8,
                         bands: Int = 4): DataFrame = {
    val newBands = bandRows(df, textCol, idCol, shingleN, k, bands)
    val dropIds = newBands
      .join(bandSetDf.select("band", "band_hash").distinct(),
        Seq("band", "band_hash"), "left_semi")
      .select(col(idCol)).distinct()
    df.join(dropIds, Seq(idCol), "left_anti")
  }

  /** [[crossCorpusKeep]] with the probe flipped map-side: the reference
    * corpus collapses to its distinct band-hash set, broadcast once, and
    * each new-corpus row carries its `bands` band hashes as COLUMNS (no
    * explode), checked through `bands` broadcast anti-joins. Two reasons
    * to prefer this shape:
    *
    *  - at batch scale the new corpus never leaves its scan partitions —
    *    each anti-join is a broadcast hash probe inside the same stage,
    *    where [[crossCorpusKeep]] shuffles the new corpus' band rows;
    *  - it is STATELESS-STREAMING compatible: with `df` a readStream
    *    source this runs in append mode with no watermark and no state
    *    store (stream-static anti-joins, static set on the right) —
    *    continuous ingest dedup against the corpus already trained on.
    *
    * Requires the distinct reference band set to fit in a broadcast
    * (roughly 40 bytes × bands × |ref distinct|; beyond that fall back
    * to [[crossCorpusKeep]]'s shuffle join). Drop rule is identical to
    * [[crossCorpusKeep]] without confirm: ANY band collision drops the
    * row; sub-`shingleN`-token docs have no signature and survive. */
  def crossCorpusKeepBroadcast(df: DataFrame, refDf: DataFrame,
                               textCol: String, idCol: String,
                               shingleN: Int = 3, k: Int = 8,
                               bands: Int = 4): DataFrame = {
    val ws = TextAnalysis.tokens(col(textCol))
    val refSet = bandRows(refDf, textCol, idCol, shingleN, k, bands)
      .select(concat_ws("|", col("band"), col("band_hash")).as("__ref_bh"))
      .distinct()
    val sig = graft.functions.MinHashUtil.signatures(
      graft.functions.Shingles.distinctShingles(ws, shingleN), k)
    val withSig = df.withColumn("__sig", when(size(ws) >= shingleN, sig))
    // bandRows' band hash, qualified by the band index
    val banded = bandHashes(col("__sig"), k, bands).zipWithIndex
      .foldLeft(withSig) { case (acc, (h, b)) =>
        acc.withColumn(s"__bh$b",
          when(col("__sig").isNotNull, concat_ws("|", lit(b), h)))
      }
    val kept = (0 until bands).foldLeft(banded) { (acc, b) =>
      acc.join(broadcast(refSet), acc(s"__bh$b") === col("__ref_bh"),
        "left_anti")
    }
    kept.drop("__sig" +: (0 until bands).map("__bh" + _): _*)
  }

  /** Duplication-multiplicity histogram: for each multiplicity m, how
    * many distinct contents occur exactly m times and how many documents
    * they account for. THE first corpus-health number a pipeline reports
    * (a heavy m≥2 tail says run exact dedup before anything pairwise —
    * see SCALE.md §10a for what duplication multiplicity does to
    * candidate-pair stages).
    *
    * Two hash aggregates, both with map-side partials: content hashes
    * (16-byte digests, uniform — no skew) collapse to (hash, count),
    * then counts collapse to the histogram, whose cardinality is at most
    * the largest multiplicity. Document text never shuffles. */
  def duplicationHistogram(df: DataFrame, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(count(lit(1)).as("multiplicity"))
      .groupBy(col("multiplicity"))
      .agg(count(lit(1)).as("n_groups"))
      .withColumn("n_docs", col("multiplicity") * col("n_groups"))

  // ------------------------------------------------------ dedup clusters

  /** Connected components over candidate near-duplicate pairs: every doc
    * in a component gets the component's minimum id as `cluster_root`
    * (keep one representative per root to materialize the deduplicated
    * corpus).
    *
    * Distributed min-label propagation: each round joins labels across
    * edges and takes the elementwise min, until a fixpoint (bounded by
    * component diameter — near-dup clusters are shallow; `maxIters`
    * backstops pathological chains). The per-round `isEmpty` convergence
    * probe and `localCheckpoint` lineage cut are the standard Spark shape
    * for iterative graph algorithms (GraphX/GraphFrames do the same
    * under the hood); only labels shuffle, never documents.
    */
  def clusters(pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
               maxIters: Int = 50): DataFrame = {
    // materialize the edge list ONCE — without this, every iteration
    // re-runs the (possibly expensive) candidate-pair pipeline upstream
    val edges = pairs.select(col(idA).as("src"), col(idB).as("dst"))
      .union(pairs.select(col(idB).as("src"), col(idA).as("dst")))
      .localCheckpoint()
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("cluster_root", col("id"))
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      val nbrMin = edges
        .join(labels.select(col("id").as("src"),
          col("cluster_root").as("src_root")), Seq("src"))
        .groupBy(col("dst").as("id"))
        .agg(min(col("src_root")).as("nbr_root"))
      // the changed flag rides inside the checkpointed frame, so each
      // round is exactly two jobs: materialize + a cached-scan probe
      val next = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("cluster_root"),
            coalesce(col("nbr_root"), col("cluster_root")))
            .as("cluster_root"),
          (coalesce(col("nbr_root"), col("cluster_root")) <
            col("cluster_root")).as("__changed"))
        .localCheckpoint()
      converged = next.filter(col("__changed")).isEmpty
      labels = next.drop("__changed")
      iter += 1
    }
    // fail loudly: a silently-unconverged result would split real
    // clusters. (Chains needing >maxIters rounds are pathological for
    // near-dup graphs; [[clustersStar]] is the specialist for them.)
    if (!converged) throw new IllegalStateException(
      s"clusters did not converge in $maxIters rounds; " +
        "use clustersStar for deep components")
    labels
  }

  /** Connected components via alternating large-star/small-star rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SOCC'14) — same output contract as [[clusters]], but path-DOUBLING
    * contraction: O(log d) rounds on a component of diameter d, vs O(d)
    * for plain min-label propagation. The specialist for graphs with deep
    * chains; for shallow near-dup clusters [[clusters]] does less work per
    * round.
    *
    *  - large-star: every node's LARGER neighbors re-point at the minimum
    *    of its closed neighborhood;
    *  - small-star: every node and its smaller neighbors re-point at the
    *    minimum smaller neighbor.
    *
    * Both are one groupBy + one join per round over the (shrinking) edge
    * set; edges live canonically as (u > v). Convergence = the edge set
    * reached the star fixpoint (exact anti-join check, not a checksum).
    */
  def clustersStar(pairs: DataFrame, idA: String = "id_a",
                   idB: String = "id_b", maxIters: Int = 30): DataFrame =
    clustersStarWithRounds(pairs, idA, idB, maxIters)._1

  /** [[clustersStar]] plus the number of (large+small) rounds executed —
    * exposed for the O(log n) convergence property test. */
  private[graft] def clustersStarWithRounds(
      pairs: DataFrame, idA: String, idB: String,
      maxIters: Int): (DataFrame, Int) = {
    var edges = pairs
      .select(greatest(col(idA), col(idB)).as("u"),
        least(col(idA), col(idB)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint()
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      // large-star: neighborhoods need both orientations
      val nbrs = edges.select(col("u").as("node"), col("v").as("nbr"))
        .union(edges.select(col("v").as("node"), col("u").as("nbr")))
      val mins = nbrs.groupBy("node")
        .agg(min(col("nbr")).as("mn"))
        .select(col("node"), least(col("mn"), col("node")).as("m"))
      val large = nbrs.join(mins, Seq("node"))
        .filter(col("nbr") > col("node"))
        .select(col("nbr").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
      // small-star over the canonical (u > v) edges
      val mins2 = large.groupBy("u").agg(min(col("v")).as("m"))
      val small = large.join(mins2, Seq("u"))
        .select(col("v").as("node"), col("m"))
        .union(mins2.select(col("u").as("node"), col("m")))
        .filter(col("node") =!= col("m"))
        .select(col("node").as("u"), col("m").as("v"))
        .distinct()
        .localCheckpoint()
      // exact fixpoint test: same canonical edge set as last round
      converged = small.count() == edges.count() &&
        small.exceptAll(edges).isEmpty
      edges = small
      iter += 1
    }
    if (!converged) throw new IllegalStateException(
      s"clustersStar did not converge in $maxIters rounds")
    // fixpoint edges are stars (member → component min); roots label selves
    val labels = edges.select(col("u").as("id"), col("v").as("cluster_root"))
      .union(edges.select(col("v").as("id"), col("v").as("cluster_root")))
      .distinct()
    (labels, iter)
  }

  // -------------------------------------------------------------- SimHash

  /** 64-bit SimHash as a bit string (bits come from md5 weighted by term
    * frequency; sign of each bit-sum is the signature bit — identical to
    * the portable SQL derivation, see [[graft.functions.SimHashUtil]]).
    *
    * Plan shape: ONE map-side scalar per document (codegen'd expression) —
    * no explode, no shuffle. The previous columnar formulation (explode
    * tokens → count → explode 64 positions → two aggregations) cost three
    * shuffles and a 64× row blowup for the same output. */
  def simhash(df: DataFrame, textCol: String, idCol: String): DataFrame =
    spread(df).select(col(idCol),
      graft.functions.SimHashUtil
        .simhash64(TextAnalysis.tokens(col(textCol)))
        .as("simhash_bits"))

  /** SimHash near-dup candidates: block on 4 chunks of 16 bits (two docs
    * within hamming distance 3 must agree on ≥1 chunk), then exact hamming
    * over the bit strings.
    *
    * `maxDocsPerBucket` caps (chunk, value) bucket density the same way
    * the stop-shingle cap does (partial-aggregated count + broadcast
    * anti-join — no skewed window): a bucket of d docs yields d²/2
    * candidate pairs, so one boilerplate-heavy 16-bit value can dominate
    * the whole job. Pairs inside a dropped bucket still surface through
    * any of their other 3 chunks unless those are over-cap too — and a
    * content population dense enough to saturate all four chunks is
    * exact-duplicate-grade, which [[exact]] dedup (run FIRST — the
    * composed pipeline does) removes before this stage ever sees it. */
  def simhashPairs(sig: DataFrame, idCol: String,
                   maxHamming: Int = 3,
                   maxDocsPerBucket: Int = 100000): DataFrame = {
    require(maxHamming >= 0, s"maxHamming=$maxHamming must be >= 0")
    // Canonicalize to DISTINCT signatures before the quadratic stage: a
    // group of d exact/near-exact duplicates shares one signature, so
    // running the chunk join per-document costs d² rows per group where
    // one row does. The sf1 rehearsal corpus (duplicate-heavy by
    // construction, like any web crawl) cut the candidate join ~(N/D)²
    // this way. n_docs rides along so the bucket-density cap keeps its
    // original unit (documents, not signatures).
    val members = sig.select(col(idCol), col("simhash_bits"))
    val sigs = members.groupBy("simhash_bits")
      .agg(count(lit(1)).as("n_docs"))
    val raw = Blocking.banded(sigs, "cv", (0 until 4).map(i =>
      substring(col("simhash_bits"), i * 16 + 1, 16)), "simhash_bits", "n_docs")
    val chunks = Blocking.capHot(raw, Seq("band", "cv"), maxDocsPerBucket,
      sum(col("n_docs")))
    val hamming =
      graft.functions.VectorOps.hamming(col("bits_a"), col("bits_b"))
    // hamming-filter BEFORE the cross-chunk distinct: hamming is a
    // deterministic function of the pair, so filter∘distinct ≡
    // distinct∘filter — but filtering first kills the (vast) majority of
    // candidates map-side instead of shuffling them through the dedup
    // exchange.
    val sigPairs = Blocking.selfJoin(chunks.select(col("band"), col("cv"),
        col("simhash_bits").as("bits")), Seq("band", "cv"), Seq("bits"))
      .select(col("bits_a"), col("bits_b"), hamming.as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
    // expand signature pairs back to document pairs (each doc has exactly
    // one signature, so no pair is produced twice)
    val cross = sigPairs
      .join(members.select(col("simhash_bits").as("bits_a"),
        col(idCol).as("ida")), Seq("bits_a"))
      .join(members.select(col("simhash_bits").as("bits_b"),
        col(idCol).as("idb")), Seq("bits_b"))
      .select(least(col("ida"), col("idb")).as("id_a"),
        greatest(col("ida"), col("idb")).as("id_b"), col("hamming"))
    // identical-signature groups: hamming 0 by definition. Restricted to
    // signatures with ≥1 surviving (under-cap) chunk — the same visibility
    // rule the per-document join had, where an all-chunks-hot signature's
    // pairs never surfaced.
    val visible = chunks.select("simhash_bits").distinct()
    val within = members.join(visible, Seq("simhash_bits"))
      .select(col("simhash_bits"), col(idCol).as("ida"))
      .join(members.select(col("simhash_bits"), col(idCol).as("idb")),
        Seq("simhash_bits"))
      .filter(col("ida") < col("idb"))
      .select(col("ida").as("id_a"), col("idb").as("id_b"),
        lit(0).as("hamming"))
    cross.unionByName(within)
  }

  // ------------------------------------------------------ n-gram Jaccard

  /** Exact n-gram Jaccard similarity for pairs sharing ≥1 shingle:
    * |A∩B| / (|A| + |B| − |A∩B|). The shared-shingle join is the blocking
    * step; at scale, frequent shingles are the skew risk — cap them with
    * `maxDocsPerShingle` (drop shingles appearing in more docs; standard
    * "stop-shingle" practice). */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
                        n: Int, threshold: Double,
                        maxDocsPerShingle: Int = 1000): DataFrame =
    jaccardFrom(overlapCandidates(df, textCol, idCol, n, maxDocsPerShingle),
      threshold)

  /** Jaccard finisher over an [[overlapCandidates]] frame — split out so a
    * pipeline computing BOTH gates pays the candidate join once. */
  def jaccardFrom(candidates: DataFrame, threshold: Double): DataFrame =
    candidates
      .withColumn("jaccard", round(
        col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")), 6))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")

  /** Exact n-gram CONTAINMENT for pairs sharing ≥1 shingle:
    * |A∩B| / min(|A|, |B|). Catches near-subset duplication Jaccard
    * misses — a short document quoted whole inside a much longer one has
    * containment ≈ 1 but Jaccard ≈ |short|/|long| ≈ 0, so a Jaccard
    * gate never fires. Standard second gate in corpus dedup (containment
    * ≥ 0.8-0.9 alongside Jaccard ≥ 0.7). Same blocking join, same
    * de-skewed stop-shingle cap, same cost as [[ngramJaccardPairs]]. */
  def ngramContainmentPairs(df: DataFrame, textCol: String, idCol: String,
                            n: Int, threshold: Double,
                            maxDocsPerShingle: Int = 1000): DataFrame =
    containmentFrom(
      overlapCandidates(df, textCol, idCol, n, maxDocsPerShingle), threshold)

  /** Containment finisher over an [[overlapCandidates]] frame. */
  def containmentFrom(candidates: DataFrame,
                      threshold: Double): DataFrame =
    candidates
      .withColumn("containment", round(
        col("inter").cast("double") / least(col("na"), col("nb")), 6))
      .filter(col("containment") >= threshold)
      .select("id_a", "id_b", "containment")

  /** Shared candidate machinery for the exact-overlap family:
    * (id_a, id_b, inter, na, nb) for every pair sharing ≥1 surviving
    * shingle, with the de-skewed hot-shingle cap applied. Public so a
    * pipeline applying several gates (Jaccard + containment) computes
    * the blocking join once. */
  def overlapCandidates(df: DataFrame, textCol: String,
                        idCol: String, n: Int,
                        maxDocsPerShingle: Int = 1000): DataFrame = {
    // The blocking join never needs the shingle TEXT — only equality — so
    // shuffle 8-byte xxhash64 keys instead of multi-word strings (several×
    // fewer shuffle bytes; 64-bit collisions are negligible at any
    // realistic shingle cardinality and only perturb candidate blocking).
    val sh = shingles(spread(df), textCol, idCol, n)
      .select(col(idCol), xxhash64(col("shingle")).as("sh_h"))
    val filtered = Blocking.capHot(sh, Seq("sh_h"), maxDocsPerShingle)
    Blocking.selfJoin(filtered.select(col("sh_h"), col(idCol).as("id")),
        Seq("sh_h"), Seq("id"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
      .join(shingleCounts(df, textCol, idCol, n, "id_a", "na"), "id_a")
      .join(shingleCounts(df, textCol, idCol, n, "id_b", "nb"), "id_b")
  }

  /** (`as`, `name`): each doc's distinct-shingle count |A| straight off
    * the text — a map-side scalar, no second explode/shuffle of the
    * shingle set. Docs shorter than `n` tokens have no shingles. */
  private def shingleCounts(df: DataFrame, textCol: String, idCol: String,
                            n: Int, as: String, name: String): DataFrame = {
    val ws = TextAnalysis.tokens(col(textCol))
    df.filter(size(ws) >= n).select(col(idCol).as(as),
      size(graft.functions.Shingles.distinctShingles(ws, n))
        .cast("long").as(name))
  }

  // --------------------------------------------------------- winnowing

  /** Winnowing document fingerprints (Schleimer, Wilkerson, Aiken —
    * SIGMOD'03, the MOSS local fingerprinting algorithm): hash every word
    * k-gram, slide a w-wide window over the positional hash sequence, and
    * keep each window's MINIMUM. The selection guarantee: any token run of
    * length ≥ w+k−1 shared by two documents contributes at least one
    * shared fingerprint, while only ~2/(w+1) of the gram hashes are
    * stored. Output: one (id, fp) row per distinct selected fingerprint.
    *
    * The fingerprint SET is tie-break-invariant — tied minima select the
    * same VALUE — so the derivation is engine-portable without pinning the
    * paper's rightmost-occurrence rule (which only matters for position
    * reporting). Hashes are the first 16 hex chars of md5(gram), a string
    * any engine derives and orders identically.
    *
    * Plan shape: map-only per-row HOF pipeline (positional gram hashes →
    * window minima → distinct) + one explode; no shuffle until a consumer
    * joins. Documents with fewer than k tokens have no grams and degrade
    * out; documents with fewer than w windows get one clamped window so
    * every gram-bearing doc yields ≥1 fingerprint. */
  def winnowFingerprints(df: DataFrame, textCol: String, idCol: String,
                         k: Int = 4, w: Int = 5): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    require(w >= 1, s"w=$w must be >= 1")
    val toks = TextAnalysis.tokens(col(textCol))
    // one codegen'd pass per document (gram digests + window minima +
    // distinct) — see [[graft.functions.WinnowUtil]]; equivalent to the
    // declarative transform/array_min formulation but not interpreted
    spread(df.filter(size(toks) >= k))
      .select(col(idCol),
        explode(graft.functions.Winnow.fingerprints(toks, k, w)).as("fp"))
  }

  /** Near-dup pairs by shared winnowing fingerprints: (id_a, id_b,
    * shared_fps) for pairs sharing ≥ `minShared` selected fingerprints.
    * The fingerprint grouping IS the blocking step, with the standard
    * hot-key cap: a fingerprint selected by more than `maxDocsPerFp`
    * documents is boilerplate and its whole group drops — same
    * rationale as the stop-shingle cap. Winnowing's ~2/(w+1)
    * compression makes this (w+1)/2 × cheaper than the full-shingle
    * overlap join at the same detection guarantee for runs ≥ w+k−1
    * tokens.
    *
    * Shape: a count-only pre-pass finds over-cap fingerprints (counts
    * reduce map-side, so a hot fp costs one long per partition, never a
    * row pileup), the tiny hot set is broadcast anti-joined away, and
    * only then do the survivors shuffle into per-fp doc-id lists — so
    * every materialized list is ≤ `maxDocsPerFp` ids by construction,
    * on the map side as well as the reduce side. Then a<b pairs explode
    * map-side and one hash aggregate counts shared fingerprints per
    * pair. Two passes over the fingerprint stream instead of one, but
    * the alternative (cap AFTER collect_list) buffers a boilerplate
    * fingerprint's entire id list in one aggregation buffer before
    * dropping it — exactly the unbounded state the cap exists to
    * prevent. */
  def winnowPairs(df: DataFrame, textCol: String, idCol: String,
                  k: Int = 4, w: Int = 5, minShared: Int = 2,
                  maxDocsPerFp: Int = 1000): DataFrame = {
    val groups = Blocking.canonical(Blocking.capHot(
        winnowFingerprints(df, textCol, idCol, k, w), Seq("fp"), maxDocsPerFp),
      idCol, col("fp"))
    Blocking.withinPairs(groups.filter(size(col("__ids")) >= 2), "__ids")
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= minShared)
  }

  // ----------------------------------------------- chunk (paragraph) dedup

  /** Sub-document dedup: split each document into fixed-width word chunks
    * (the word-stream analog of paragraph dedup — swap the chunker for a
    * `split(text, '\n\n')` on corpora with real paragraph breaks), keep
    * only the globally FIRST occurrence of each distinct chunk (ordered by
    * (id, chunk_idx)), and reassemble the surviving chunks in document
    * order. Returns (id, n_chunks, n_kept, clean_text); documents whose
    * every chunk was seen earlier drop out entirely.
    *
    * Scale shape: the explode is map-side; the only shuffles are the
    * first-occurrence window on the chunk hash (uniform md5 keys — no
    * skew) and the per-document reassembly groupBy. Both are
    * hash-partitioned with no driver state; shuffle volume ≈ corpus size,
    * the floor for any global sub-document dedup. */
  def chunkDedup(df: DataFrame, textCol: String, idCol: String,
                 w: Int): DataFrame = {
    val firstW = Window.partitionBy(md5(col("chunk")))
      .orderBy(col(idCol), col("chunk_idx"))
    rebuild(chunkStream(df, textCol, idCol, w)
      .withColumn("__rn", row_number().over(firstW))
      .filter(col("__rn") === 1), idCol)
  }

  /** The documents with at least one token as (id, `__toks`, n_chunks):
    * the prefix of the `w`-token chunk family, map-side only. The twin of
    * the DuckDB `Shared.chunksSql`. */
  private def chunkedDocs(df: DataFrame, textCol: String, idCol: String,
                          w: Int): DataFrame = {
    require(w >= 1, s"chunk width $w must be >= 1")
    spread(df)
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("__toks"))
      .filter(size(col("__toks")) >= 1) // sequence(0,-1) would run backwards
      .withColumn("n_chunks",
        ceil(size(col("__toks")) / lit(w.toDouble)).cast("long"))
  }

  /** Fixed-width word chunking shared by the chunk family: one exploded
    * row per (document, chunk) with the document's total chunk count.
    * Map-side only — explode + slice on the token array, no shuffle. */
  private def chunkStream(df: DataFrame, textCol: String, idCol: String,
                          w: Int): DataFrame =
    chunkedDocs(df, textCol, idCol, w)
      .withColumn("chunk_idx",
        explode(sequence(lit(0L), col("n_chunks") - 1)))
      .withColumn("chunk", array_join(
        slice(col("__toks"), (col("chunk_idx") * w + 1).cast("int"), lit(w)),
        " "))
      .drop("__toks")

  /** The chunk family's rebuild: the surviving chunk rows reassembled
    * per document in chunk order as (id, n_chunks, n_kept, clean_text) —
    * the twin of the DuckDB `Shared.rebuildSql`. */
  private def rebuild(kept: DataFrame, idCol: String): DataFrame =
    kept.groupBy(col(idCol))
      .agg(
        first(col("n_chunks")).as("n_chunks"),
        count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("chunk_idx"), col("chunk")))),
          s => s.getField("chunk")), " ").as("clean_text"))

  /** `rows` with `__mult`, the corpus-wide count of its hash `__h`: a
    * map-side-combining count per hash, re-attached with a SHUFFLE_HASH
    * join so a hot hash streams through the probe side unsorted. */
  private def withMult(rows: DataFrame): DataFrame =
    rows.join(rows.groupBy(col("__h")).agg(count(lit(1)).as("__mult"))
      .hint("SHUFFLE_HASH"), "__h")

  /** WITHIN-document repetition removal — the map-only member of the
    * chunk family: drop repeats of a chunk inside the SAME document
    * (scraped pages that loop their own nav/footer, generation artifacts
    * that stutter paragraphs), keeping each chunk's first occurrence in
    * document order. No cross-document state, so unlike [[chunkDedup]] /
    * [[deboilerplate]] there is NOTHING to shuffle: the chunk array, the
    * first-occurrence filter (`array_distinct` preserves first-occurrence
    * order), and the rebuild all evaluate inside the row, fused with the
    * scan. Run this BEFORE the global passes — it shrinks what they
    * shuffle.
    *
    * Returns (id, n_chunks, n_kept, clean_text) like the other rebuild
    * ops; a document is never dropped (its first chunk always survives).
    */
  def dedupWithinDoc(df: DataFrame, textCol: String, idCol: String,
                     w: Int): DataFrame =
    chunkedDocs(df, textCol, idCol, w)
      .withColumn("__chunks", transform(
        sequence(lit(0L), col("n_chunks") - 1),
        i => array_join(
          slice(col("__toks"), (i * w + 1).cast("int"), lit(w)), " ")))
      .withColumn("__kept", array_distinct(col("__chunks")))
      .select(col(idCol), col("n_chunks"),
        size(col("__kept")).cast("long").as("n_kept"),
        array_join(col("__kept"), " ").as("clean_text"))

  /** Boilerplate removal with document rebuild: drop EVERY occurrence of
    * any chunk whose corpus-wide multiplicity reaches `maxMult` (nav
    * bars, cookie banners, license footers — text repeated across the
    * corpus verbatim), then reassemble the surviving chunks in document
    * order. The complement of [[chunkDedup]]: that keeps a duplicated
    * chunk's FIRST occurrence (dedup), this keeps NONE (the repeated text
    * is noise, not content — the CCNet/RefinedWeb cleaning posture).
    * Returns (id, n_chunks, n_kept, clean_text); a document that was all
    * boilerplate drops out entirely.
    *
    * Scale shape: identical to [[chunkDupStats]] — map-side explode,
    * hash-only shuffle keys, map-side-combining multiplicity count,
    * SHUFFLE_HASH re-attach (hot boilerplate chunks stream through the
    * hash probe; no sort, no window) — plus the per-document reassembly
    * groupBy, the same floor as [[chunkDedup]]. */
  def deboilerplate(df: DataFrame, textCol: String, idCol: String,
                    w: Int, maxMult: Long): DataFrame = {
    require(maxMult >= 2, s"maxMult=$maxMult must be >= 2 " +
      "(1 would drop every chunk)")
    rebuild(withMult(chunkStream(df, textCol, idCol, w)
      .withColumn("__h", md5(col("chunk"))))
      .filter(col("__mult") < maxMult), idCol)
  }

  /** Per-document duplicated-content scoring (the RefinedWeb/MassiveText
    * drop policy and the SoftDeDup loss-reweighting input in one pass):
    * chunk each document ([[chunkStream]] — swap in a paragraph splitter
    * on corpora with real breaks), count each distinct chunk's corpus-wide
    * multiplicity, and fold back per document:
    *
    *   - `n_dup` / `dup_ratio` — how many of the document's chunks occur
    *     more than once in the corpus (including within-document repeats —
    *     a page that repeats its own boilerplate is duplicated content
    *     too), as count and fraction. Filtering `dup_ratio > τ` is the
    *     "drop documents that are mostly duplicated elsewhere" policy that
    *     document-level exact/near dedup misses (a unique wrapper around a
    *     copied body hashes as unique).
    *   - `sum_mult` / `soft_weight = n_chunks / sum_mult` — inverse mean
    *     chunk multiplicity in (0, 1], 1 ⟺ every chunk is corpus-unique.
    *     Feeding it to a loss- or sampling-weight column down-weights
    *     duplicated text smoothly instead of dropping it (soft dedup);
    *     `Sampling.weighted` accepts it directly. A ratio of two exact
    *     longs — one correctly-rounded division, engine-portable.
    *
    * Scale shape: the explode is map-side and only (id, md5) pairs leave
    * it — chunk text never rides a shuffle. Multiplicities come from a
    * map-side-combining `groupBy(md5(chunk))` (uniform keys; the hot
    * boilerplate chunk contributes one partial row per map task, not its
    * 10⁸ occurrences), re-attached with a SHUFFLE_HASH join — same
    * mega-duplicate hardening as [[exact]]. The join's probe side streams;
    * a single pathological chunk key lands as one probe partition of
    * occurrence rows with no sort, and AQE's skew split can further divide
    * it because the build side is one row per hash. Final per-document
    * fold is one hash aggregate. Shuffle volume ≈ corpus size — the floor
    * for any corpus-wide multiplicity computation. */
  def chunkDupStats(df: DataFrame, textCol: String, idCol: String,
                    w: Int): DataFrame = {
    withMult(chunkStream(df, textCol, idCol, w)
      .select(col(idCol), col("n_chunks"), md5(col("chunk")).as("__h")))
      .groupBy(col(idCol))
      .agg(
        first(col("n_chunks")).as("n_chunks"),
        sum(when(col("__mult") > 1L, 1L).otherwise(0L)).as("n_dup"),
        sum(col("__mult")).as("sum_mult"))
      .withColumn("dup_ratio",
        round(col("n_dup").cast("double") / col("n_chunks"), 6))
      .withColumn("soft_weight",
        round(col("n_chunks").cast("double") / col("sum_mult"), 6))
  }

  /** Corpus-repeated SUBSTRING SPANS — the unaligned sibling of the
    * chunk family, after Lee et al. 2022 ("Deduplicating Training Data
    * Makes Language Models Better"): find every maximal token span of ≥
    * `w + minRun − 1` tokens whose every `w`-token window occurs ≥ 2
    * times in the corpus (anywhere — another doc or elsewhere in the
    * same doc). [[chunkDedup]]/[[deboilerplate]] only see repeats on
    * aligned `w`-token boundaries; repeated substrings at arbitrary
    * offsets (navigation strings mid-sentence, quoted passages, licence
    * blocks) need the sliding-window view.
    *
    * The suffix-array construction the paper uses doesn't distribute;
    * this is the standard shingle-run approximation: positional
    * `w`-shingles → global multiplicity → per-doc RUNS of consecutive
    * duplicated positions (gaps-and-islands), runs of ≥ `minRun`
    * shingles = spans of ≥ `w + minRun − 1` tokens. Approximation
    * caveat, stated honestly: consecutive windows may be duplicated by
    * DIFFERENT partners, so a reported span need not repeat verbatim as
    * a whole anywhere — each of its windows does. (With minRun ≥ 2 that
    * over-approximation needs adversarial interleaving; on real
    * boilerplate the spans are the shared text.)
    *
    * Scale shape — the [[chunkDupStats]] cost class: the positional
    * shingle stream shuffles once on uniform md5 keys for multiplicity
    * (map-side partials; a 10⁸× boilerplate shingle contributes one
    * partial row per map task), re-attaches with a SHUFFLE_HASH join
    * (probe side streams, no sort), and the islands window partitions
    * per document over DUPLICATED positions only — bounded by document
    * length. Output: (idCol, span_start, span_end, n_tokens), token
    * indices 0-based inclusive; spans within a document are disjoint at
    * the shingle grain but may overlap by < w tokens at the edges —
    * callers cutting text should union the intervals. */
  def duplicateSpans(df: DataFrame, textCol: String, idCol: String,
                     w: Int, minRun: Int): DataFrame = {
    require(w >= 1 && minRun >= 1, s"w=$w minRun=$minRun must be >= 1")
    val shingled = spread(df)
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("__t"))
      .filter(size(col("__t")) >= w)
      .select(col(idCol), explode(expr(
        s"transform(sequence(0, size(__t) - $w), " +
          s"i -> struct(i AS pos, concat_ws(' ', slice(__t, i + 1, $w)) AS sh))"))
        .as("__s"))
      .select(col(idCol), col("__s.pos").as("__pos"),
        md5(col("__s.sh")).as("__h"))
    withMult(shingled)
      .filter(col("__mult") >= 2L)
      .select(col(idCol), col("__pos"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col(idCol)).orderBy(col("__pos"))))
      .withColumn("__grp", col("__pos") - col("__rn"))
      .groupBy(col(idCol), col("__grp"))
      .agg(min(col("__pos")).as("span_start"),
        max(col("__pos")).as("__last_sh"),
        count(lit(1)).as("__run"))
      .filter(col("__run") >= minRun)
      .select(col(idCol),
        col("span_start").cast("long").as("span_start"),
        (col("__last_sh") + w - 1).cast("long").as("span_end"),
        (col("__run") + w - 1).cast("long").as("n_tokens"))
  }

  /** Per-document duplicated-token coverage from [[duplicateSpans]] —
    * the actionable gate ("drop documents that are mostly repeated
    * spans", the unaligned sibling of [[chunkDupStats]]' dup_ratio).
    * Spans can overlap by < w tokens at the edges, so coverage is the
    * INTERVAL UNION: a second gaps-and-islands pass over the span list
    * (an island starts where span_start exceeds the running max end of
    * everything before it), then Σ(island extents). Documents with no
    * spans report 0. All windows run on the span frame (≪ corpus) and
    * the token counts on a map-only scan; exact integer arithmetic
    * throughout. Output: (idCol, n_doc_tokens, dup_tokens, dup_ratio). */
  def spanDupRatio(df: DataFrame, textCol: String, idCol: String,
                   w: Int, minRun: Int): DataFrame = {
    val islands = spanIslands(df, textCol, idCol, w, minRun)
      .groupBy(col(idCol))
      .agg(sum(col("__e") - col("__s") + 1L).as("dup_tokens"))
    spread(df)
      .select(col(idCol),
        size(TextAnalysis.tokens(col(textCol))).cast("long")
          .as("n_doc_tokens"))
      .join(islands.hint("shuffle_hash"), Seq(idCol), "left")
      .withColumn("dup_tokens", coalesce(col("dup_tokens"), lit(0L)))
      .withColumn("dup_ratio",
        round(col("dup_tokens").cast("double") / col("n_doc_tokens"), 6))
  }

  /** The disjoint interval union of [[duplicateSpans]] per document:
    * (idCol, __s, __e) — the second gaps-and-islands pass shared by
    * [[spanDupRatio]] and [[stripSpans]]. Windows run on the span frame
    * (≪ corpus). */
  private def spanIslands(df: DataFrame, textCol: String, idCol: String,
                          w: Int, minRun: Int): DataFrame = {
    val spans = duplicateSpans(df, textCol, idCol, w, minRun)
    val prevMax = max(col("span_end")).over(
      Window.partitionBy(col(idCol)).orderBy(col("span_start"))
        .rowsBetween(Window.unboundedPreceding, -1))
    spans
      .withColumn("__new", when(
        col("span_start") > coalesce(prevMax, lit(-1L)), 1L).otherwise(0L))
      .withColumn("__isl", sum(col("__new")).over(
        Window.partitionBy(col(idCol)).orderBy(col("span_start"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(idCol), col("__isl"))
      .agg(min(col("span_start")).as("__s"), max(col("span_end")).as("__e"))
  }

  /** CUT the corpus-repeated spans out of each document — the removal
    * policy completing [[duplicateSpans]] (Lee et al. 2022 drop the
    * repeated substring occurrences; keeping the first occurrence is a
    * caller-side variant via the span list). Each document's disjoint
    * dup intervals ride as ONE array column (documents hold few islands
    * by construction — each needs `minRun` duplicated windows), and the
    * token cut is a MAP-SIDE indexed-lambda filter against that array —
    * the corpus never explodes to token rows and never shuffles beyond
    * the doc-grain island join. Documents shorter than `w` tokens or
    * with no spans pass through unchanged.
    *
    * Output: (idCol, n_tokens, n_removed, clean_text) — clean_text is
    * the kept tokens re-joined with single spaces (the chunk family's
    * normalization posture). */
  def stripSpans(df: DataFrame, textCol: String, idCol: String,
                 w: Int, minRun: Int): DataFrame = {
    val iv = spanIslands(df, textCol, idCol, w, minRun)
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("__s"), col("__e"))))
        .as("__iv"))
    spread(df)
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("__t"))
      .join(iv.hint("shuffle_hash"), Seq(idCol), "left")
      .withColumn("__kept", when(col("__iv").isNotNull,
        filter(col("__t"), (tok, i) =>
          !exists(col("__iv"), s =>
            i.cast("long") >= s.getField("__s") &&
              i.cast("long") <= s.getField("__e"))))
        .otherwise(col("__t")))
      .select(col(idCol),
        size(col("__t")).cast("long").as("n_tokens"),
        (size(col("__t")) - size(col("__kept"))).cast("long")
          .as("n_removed"),
        concat_ws(" ", col("__kept")).as("clean_text"))
  }
}
