package graft

import org.apache.spark.sql.functions._
import graft.llm.{Clustering, Contamination, Dedup, IvfIndex, Multimodal, Pii, Similarity, TextAnalysis}

class LlmSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),   // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat"),   // near dup of 1
    (4L, "completely different words entirely unrelated text here now")
  ).toDF("doc_id", "text")

  test("doc chunking: overlapping windows tile token positions exactly; " +
    "short and empty docs behave") {
    import graft.llm.TextAnalysis
    // doc 1: 10 tokens, budget 4, overlap 1 → step 3: starts 0,3,6,9;
    // spans [0,4) [3,7) [6,10) [9,10) — the tail start inside the final
    // window still emits (documented sliding-window semantics)
    val docs = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")),
      (2L, "a b"),   // shorter than one budget → a single [0,2) chunk
      (3L, ""))      // empty → tokens() gives [""] (1 token), 1 chunk
      .toDF("doc_id", "text")
    val out = TextAnalysis.chunkDocs(docs, "text", "doc_id",
        budget = 4, overlap = 1)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5)))
      .sortBy(t => (t._1, t._2)).toSeq
    val d1 = out.filter(_._1 == 1L)
    assert(d1.map(c => (c._2, c._3, c._4, c._5)) ===
      Seq((0L, 0L, 4L, 4L), (1L, 3L, 7L, 4L), (2L, 6L, 10L, 4L),
        (3L, 9L, 10L, 1L)))
    assert(d1.head._6 === "w1 w2 w3 w4" && d1.last._6 === "w10")
    // consecutive chunks share exactly `overlap` token positions
    d1.sliding(2).foreach { case Seq(a, b) =>
      if (b._3 < a._4) assert(a._4 - b._3 === 1L)
    }
    assert(out.filter(_._1 == 2L).map(c => (c._3, c._4, c._6)) ===
      Seq((0L, 2L, "a b")))
    // split("") yields one empty token — one 1-token chunk, empty text
    assert(out.filter(_._1 == 3L).map(c => (c._4, c._6)) ===
      Seq((1L, "")))
  }

  test("exact dedup groups identical docs, keeps smallest id") {
    val out = Dedup.exact(docs, "text", "doc_id")
      .select("doc_id", "group_size", "keep")
      .as[(Long, Long, Boolean)].collect().toSet
    assert(out == Set((1L, 2L, true), (2L, 2L, false),
      (3L, 1L, true), (4L, 1L, true)))
  }

  test("exact dedup keeps null-text rows as their own group") {
    // md5(NULL) = NULL: a plain equi-join re-attach would silently drop
    // these rows (null keys never match) — the null-safe key must group
    // them like the window formulation and the oracle's PARTITION BY do
    val withNulls = Seq((1L, Some("same")), (2L, Some("same")),
      (3L, None: Option[String]), (4L, None: Option[String]))
      .toDF("doc_id", "text")
    val out = Dedup.exact(withNulls, "text", "doc_id")
      .select("doc_id", "group_size", "keep")
      .as[(Long, Long, Boolean)].collect().toSet
    assert(out == Set((1L, 2L, true), (2L, 2L, false),
      (3L, 2L, true), (4L, 2L, false)))
  }

  test("minhash LSH finds exact and near duplicates, not unrelated docs") {
    val pairs = Dedup.minhashLsh(docs, "text", "doc_id")
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))         // identical → all bands match
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L)) // unrelated never pairs
  }

  test("cross-corpus dedup drops reference collisions, keeps the rest") {
    // reference corpus: doc 1's text. New corpus: an exact copy (11), a
    // near dup (13, one word changed), an unrelated doc (14), and a
    // too-short doc (15, < shingleN tokens → no signature → survives).
    val ref = docs.filter($"doc_id" === 1L)
    val fresh = Seq(
      (11L, "the quick brown fox jumps over the lazy dog"),
      (13L, "the quick brown fox jumps over the lazy cat"),
      (14L, "completely different words entirely unrelated text here now"),
      (15L, "tiny doc")).toDF("doc_id", "text")
    val kept = Dedup.crossCorpusKeep(fresh, ref, "text", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(!kept.contains(11L), "exact copy must collide on every band")
    assert(kept.contains(14L) && kept.contains(15L))
    // confirm stage: at jaccard 1.0 only the VERBATIM copy drops; the
    // near dup (13) band-collides but fails the exact check and survives
    val confirmed = Dedup.crossCorpusKeep(fresh, ref, "text", "doc_id",
        confirmJaccard = Some(1.0))
      .select("doc_id").as[Long].collect().toSet
    assert(!confirmed.contains(11L))
    assert(confirmed.contains(13L),
      "near dup below the confirm threshold must survive")
    assert(confirmed.contains(14L) && confirmed.contains(15L))
  }

  test("broadcast cross-corpus dedup equals the shuffle-join variant") {
    val ref = docs.filter($"doc_id" <= 2L)
    val fresh = Seq(
      (11L, "the quick brown fox jumps over the lazy dog"),
      (13L, "the quick brown fox jumps over the lazy cat"),
      (14L, "completely different words entirely unrelated text here now"),
      (15L, "tiny doc")).toDF("doc_id", "text")
    val viaJoin = Dedup.crossCorpusKeep(fresh, ref, "text", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    val viaBcast = Dedup.crossCorpusKeepBroadcast(fresh, ref, "text",
      "doc_id").select("doc_id").as[Long].collect().toSet
    assert(viaBcast == viaJoin)
    // the probe is map-side: band hashes are columns, so the plan keeps
    // the broadcast anti-joins and never shuffles the fresh side's rows
    val p = Dedup.crossCorpusKeepBroadcast(fresh, ref, "text", "doc_id")
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p)
  }

  test("ngram jaccard: identical docs = 1.0, near dups high, unrelated absent") {
    val pairs = Dedup.ngramJaccardPairs(docs, "text", "doc_id",
      n = 3, threshold = 0.3)
      .as[(Long, Long, Double)].collect()
      .map(p => (p._1, p._2) -> p._3).toMap
    assert(pairs((1L, 2L)) == 1.0)
    assert(pairs((1L, 3L)) > 0.5 && pairs((1L, 3L)) < 1.0)
    assert(!pairs.keySet.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("ngram containment: fires on subset duplication where jaccard cannot") {
    // doc 21 is quoted whole inside the much longer doc 22: containment
    // is exactly 1.0 while jaccard dilutes toward |short|/|long|
    val sub = Seq(
      (21L, "alpha beta gamma delta epsilon"),
      (22L, "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
        "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi"),
      (23L, "unrelated words entirely different content here")
    ).toDF("doc_id", "text")
    val cont = Dedup.ngramContainmentPairs(sub, "text", "doc_id",
      n = 3, threshold = 0.9)
      .as[(Long, Long, Double)].collect()
      .map(p => (p._1, p._2) -> p._3).toMap
    assert(cont((21L, 22L)) == 1.0)
    assert(!cont.keySet.exists(p => p._1 == 23L || p._2 == 23L))
    // the jaccard gate at the same strictness never sees the pair
    val jac = Dedup.ngramJaccardPairs(sub, "text", "doc_id",
      n = 3, threshold = 0.9)
      .as[(Long, Long, Double)].collect()
    assert(jac.isEmpty)
  }

  test("duplication histogram: multiplicity buckets with doc accounting") {
    // fixture: ids 1,2 identical; 3,4 unique → one group of 2, two of 1
    val out = Dedup.duplicationHistogram(docs, "text")
      .as[(Long, Long, Long)].collect().toSet
    assert(out == Set((1L, 2L, 2L), (2L, 1L, 2L)))
  }

  test("vocab head: rank by (count desc, token), exact cumulative coverage") {
    import graft.llm.Corpus
    val corpus = Seq("a b a", "b a c").toDF("text") // a:3 b:2 c:1
    val out = Corpus.vocabTopK(corpus, "text", k = 2)
      .as[(Int, String, Long, Double)].collect().toList
    assert(out == List((1, "a", 3L, 0.5), (2, "b", 2L, round(5.0 / 6, 6))))
  }

  private def round(x: Double, dp: Int): Double =
    BigDecimal(x).setScale(dp, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("clusters: min-label propagation merges transitive chains") {
    // 1-2, 2-3, 3-4 chain + isolated pair 8-9 → roots 1 and 8
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (8L, 9L))
      .toDF("id_a", "id_b")
    val out = Dedup.clusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      8L -> 8L, 9L -> 8L))
  }

  test("large-star/small-star: long chain converges in O(log n) rounds") {
    // a 64-node chain has diameter 63: min-label propagation needs ~63
    // rounds; the star alternation contracts paths doubly-exponentially
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (labels, rounds) =
      Dedup.clustersStarWithRounds(chain, "id_a", "id_b", maxIters = 30)
    val out = labels.as[(Long, Long)].collect().toMap
    assert(out.size == 64)
    assert(out.values.forall(_ == 0L))
    info(s"chain-64 converged in $rounds star rounds")
    assert(rounds <= 10) // log-ish, nowhere near the 63 of label propagation
  }

  test("star clustering matches label propagation on random graphs") {
    val rng = new scala.util.Random(7)
    (0 until 3).foreach { _ =>
      val edges = Seq.fill(40)(
        (rng.nextInt(30).toLong, rng.nextInt(30).toLong))
        .filter(e => e._1 != e._2)
        .toDF("id_a", "id_b")
      val star = Dedup.clustersStar(edges).as[(Long, Long)].collect().toSet
      val prop = Dedup.clusters(edges).as[(Long, Long)].collect().toSet
      assert(star == prop)
    }
  }

  test("simhash: identical docs share signatures; near dups within hamming 3") {
    val sig = Dedup.simhash(docs, "text", "doc_id")
    val m = sig.as[(Long, String)].collect().toMap
    assert(m(1L) == m(2L))
    assert(m.values.forall(_.length == 64))
    val pairs = Dedup.simhashPairs(sig, "doc_id", maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L))) // hamming 0
  }

  test("html extract: scripts die with contents, blocks break, entities decode") {
    import graft.llm.TextAnalysis
    val html =
      """<html><head><title>T</title><style>p { color: red }</style>
        |<script>if (1 < 2) { alert("<p>not text</p>"); }</script></head>
        |<body><h1>Head &amp; line</h1>
        |<p>first  para</p><p>second &lt;tag&gt; &quot;q&quot;</p>
        |<!-- hidden --><ul><li>a</li><li>b</li></ul>
        |&nbsp;tail&#39;s &copy; stays</body></html>""".stripMargin
    val out = TextAnalysis.htmlExtract(
      Seq((1L, html)).toDF("doc_id", "html"), "html")
      .select("text_main").as[String].head()
    assert(out == "T Head & line first para second <tag> \"q\" a b " +
      "tail's &copy; stays", s"[$out]")
    // script CONTENTS are gone even though they contain markup-like text
    assert(!out.contains("alert") && !out.contains("not text"))
    // adjacent blocks don't fuse words
    assert(out.contains("para second"))
  }

  test("resize plan: stub dims, fit-inside scale, no upscaling") {
    import graft.llm.Multimodal
    val rows = Seq(
      (1L, Array[Byte](0, 0)),          // 64x64 -> fits, scale 1
      (2L, Array[Byte](-1, 63)),        // b0=255: 64+63=127? no: 255%192=63 -> 127; b1=63 -> 127
      (3L, Array[Byte](191.toByte)),    // 191%192 -> w=255, missing b1 -> h=64
      (4L, Array.empty[Byte])           // no bytes -> 64x64
    ).toDF("media_id", "payload")
    val out = Multimodal.resizePlan(rows, "media_id", "payload", 224, 224)
      .as[(Long, Int, Int, Int, Int, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 64, 64, 64, 64, 1.0)))
    assert(out(2L) == ((2L, 127, 127, 127, 127, 1.0)))
    // 255 wide caps at 224: scale = 224/255, h = round(64*224/255) = 56
    val r3 = out(3L)
    assert(r3._2 == 255 && r3._3 == 64 && r3._4 == 224 && r3._5 == 56, r3)
    assert(math.abs(r3._6 - 224.0 / 255.0) < 1e-6)
    assert(out(4L) == ((4L, 64, 64, 64, 64, 1.0)))
    // FakeCodec agreement: the columnar dims equal the codec's
    Seq(Array[Byte](12, 34, 56), Array[Byte](7)).foreach { bs =>
      val (w, h) = Multimodal.FakeCodec.dims(bs)
      val got = Multimodal.resizePlan(
        Seq((9L, bs)).toDF("media_id", "payload"),
        "media_id", "payload", 10000, 10000)
        .as[(Long, Int, Int, Int, Int, Double)].head()
      assert((got._2, got._3) == ((w, h)), s"${bs.toSeq}")
    }
  }

  test("binary simhash: retagged payload pairs with original, cross-asset not") {
    import graft.llm.Multimodal
    val base = ("header" + ("the quick brown fox jumps over the dog " * 20))
    val rows = Seq(
      (1L, base),
      (2L, "HEADER" + base.drop(6)),     // same body, 6-byte "tag" change
      (3L, scala.util.Random.javaRandomToRandom(
        new java.util.Random(7)).alphanumeric.take(800).mkString),
      (4L, "ab")                          // 4 base64 chars < one window
    ).toDF("doc_id", "text")
      .withColumn("payload", encode($"text", "utf-8"))
    val sig = Multimodal.binarySimhash(rows, "doc_id", "payload")
    val sigs = sig.as[(Long, String)].collect().toMap
    assert(!sigs.contains(4L), "sub-window payload must emit no signature")
    assert(sigs(1L).length == 64 && sigs(1L).matches("[01]+"))
    val pairs = graft.llm.Dedup.simhashPairs(sig, "doc_id", maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), s"near-identical payloads must pair: $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
      s"random payload must not pair: $pairs")
  }

  test("degenerate inputs null out, never throw under ANSI mode") {
    import graft.llm.{Similarity, TextAnalysis}
    // empty text: nChar = 0 → punct_ratio must be null (0/0 would be a
    // SparkArithmeticException in this ANSI session); quality_score
    // stays defined because least() skips nulls IDENTICALLY in Spark
    // and DuckDB: least(NULL, 1.0) = 1.0, so the punct term lands at
    // its WORST case, (1 − 1.0)·0.2 = 0 — full punctuation penalty
    val stats = TextAnalysis.qualityScore(
        Seq((1L, ""), (2L, "real words here")).toDF("doc_id", "text"),
        "text")
      .select("doc_id", "punct_ratio", "quality_score").collect()
      .map(r => r.getLong(0) -> ((r.isNullAt(1), r.isNullAt(2)))).toMap
    assert(stats(1L) == ((true, false)), "empty doc nulls ratio, no crash")
    assert(stats(2L) == ((false, false)))
    // zero vector: cosine is null (no direction), matching DuckDB's
    // divide-by-zero null — and a null score passes no threshold
    val vs = Seq((1L, Array(0.0, 0.0)), (2L, Array(1.0, 0.0)))
      .toDF("id", "v")
    val cos = vs.select(col("id"),
        Similarity.cosine(col("v"), array(lit(1.0), lit(0.0))).as("c"))
      .collect().map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(cos(1L) && !cos(2L))
    // round-7 ops on degenerate inputs: empty DSIR target → null
    // (unscored) log-weights, no throw; empty-corpus BPE → zero rows;
    // null/empty html → null/empty main text
    import graft.llm.Corpus
    val docs = Seq((1L, "a b"), (2L, "c d")).toDF("doc_id", "text")
    val emptyT = docs.filter(col("doc_id") < 0)
    val d = Corpus.dsirSample(docs, emptyT, "text", "doc_id", n = 5)
      .collect()
    assert(d.length == 2 && d.forall(_.isNullAt(2)),
      "empty target: rows surface with null logw, never a crash")
    assert(Corpus.bpePairCounts(emptyT, "text", 5).count() == 0)
    val h = TextAnalysis.htmlExtract(
      Seq((1L, null: String), (2L, "")).toDF("doc_id", "html"), "html")
      .select("text_main").collect()
    assert(h(0).isNullAt(0) && h(1).getString(0) == "")
    // chunk family: null text drops (tokens(null) is null, size -1 fails
    // the >=1 gate — a doc with no text has no duplication score); ""
    // tokenizes to one ""-token chunk and scores normally
    val nd = Seq((1L, null: String), (2L, ""), (3L, "x y z"))
      .toDF("doc_id", "text")
    val cds = Dedup.chunkDupStats(nd, "text", "doc_id", w = 2)
      .select("doc_id", "n_chunks").as[(Long, Long)].collect().toMap
    assert(cds == Map(2L -> 1L, 3L -> 2L))
    // url kernels: null propagates, never throws
    val un = Seq(Tuple1(null: String)).toDF("u")
      .select(TextAnalysis.urlNormalize(col("u")).as("n"),
        TextAnalysis.urlHost(col("u")).as("h")).collect()
    assert(un(0).isNullAt(0) && un(0).isNullAt(1))
  }

  test("brute-force cosine top-k ranks by true cosine") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f)),  // closest to 0
      (2L, Array(0.0f, 1.0f)),  // orthogonal
      (3L, Array(0.5f, 0.5f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(vecs, vecs.filter($"vec_id" === 0),
      "vec_id", "embedding", k = 3)
      .select("rank", "neighbor_id").as[(Int, Long)].collect().sorted
    assert(out.toSeq == Seq((1, 1L), (2, 3L), (3, 2L)))
  }

  test("mmr: pick 1 is the relevance argmax, pick 2 diversifies away " +
    "from a redundant near-copy") {
    // candidates for query 0: ids 1 and 2 are near-copies (both closest
    // to the query), id 3 is less relevant but orthogonal to them. Plain
    // top-3 ranks (1, 2, 3); MMR at λ=0.5 must keep 1, then skip the
    // redundant 2 in favor of the diverse 3
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.98f, 0.1f, 0.0f)),
      (2L, Array(0.97f, 0.12f, 0.0f)),  // near-copy of 1
      (3L, Array(0.6f, 0.0f, 0.8f))     // diverse, lower relevance
    ).toDF("vec_id", "embedding")
    val out = Similarity.mmrRerank(vecs, vecs.filter($"vec_id" === 0),
      "vec_id", "embedding", candK = 3, selectK = 3)
      .select("pick", "neighbor_id").as[(Long, Long)].collect().sorted
    assert(out.toSeq == Seq((1L, 1L), (2L, 3L), (3L, 2L)))
  }

  test("mmr: selectK == candK returns a permutation of the candidates") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.7f, 0.3f)), (3L, Array(0.2f, 0.9f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.mmrRerank(vecs, vecs.filter($"vec_id" === 0),
      "vec_id", "embedding", candK = 3, selectK = 3)
      .select("pick", "neighbor_id").as[(Long, Long)].collect()
    assert(out.map(_._1).sorted.toSeq == Seq(1L, 2L, 3L))
    assert(out.map(_._2).toSet == Set(1L, 2L, 3L))
  }

  test("hard negatives: same-label near-misses are excluded, " +
    "different-label ones rank by cosine") {
    // query 0 (label a): id 1 is the nearest but SHARES the label →
    // excluded; ids 2 then 3 (label b) are the mined negatives in
    // cosine order
    val vecs = Seq(
      (0L, "a", Array(1.0f, 0.0f)),
      (1L, "a", Array(0.99f, 0.1f)),
      (2L, "b", Array(0.9f, 0.2f)),
      (3L, "b", Array(0.0f, 1.0f))
    ).toDF("vec_id", "label", "embedding")
    val out = Similarity.hardNegatives(vecs,
        vecs.filter($"vec_id" === 0), "vec_id", "embedding", "label",
        candK = 3, k = 2)
      .select("query_id", "hn_rank", "neighbor_id")
      .as[(Long, Long, Long)].collect().sorted
    assert(out.toSeq == Seq((0L, 1L, 2L), (0L, 2L, 3L)))
  }

  test("k-center greedy: lowest-id seed, then farthest-first; a " +
    "near-copy of the seed is picked last") {
    import graft.llm.Clustering
    // seed = id 1; id 4 is antipodal (cos −1 → farthest), id 3 is
    // orthogonal, id 2 is a near-copy of the seed — picked never at k=3
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.99f, 0.05f)),
      (3L, Array(0.0f, 1.0f)), (4L, Array(-1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val out = Clustering.kCenterGreedy(vecs, "vec_id", "embedding", k = 3)
      .as[(Long, Long)].collect().sorted
    assert(out.toSeq == Seq((1L, 1L), (2L, 4L), (3L, 3L)))
    // k = n returns a permutation
    val all = Clustering.kCenterGreedy(vecs, "vec_id", "embedding", k = 4)
      .as[(Long, Long)].collect()
    assert(all.map(_._2).toSet == Set(1L, 2L, 3L, 4L))
  }

  test("pq: codes hit the nearest codeword; adc ranks near-exact L2") {
    import graft.llm.Pq
    // codebooks(m=2, k=4, subDim=2): encode a vector PLACED EXACTLY ON a
    // codeword — the argmin must pick that codeword with distance 0
    val cbs = Pq.codebooks(m = 2, k = 4, subDim = 2)
    val onGrid = (cbs(0)(2) ++ cbs(1)(1)).map(_.toFloat)
    val vecs = Seq(
      (0L, onGrid),
      (1L, Array(0.9f, 0.1f, -0.4f, 0.2f)),
      (2L, Array(-0.9f, -0.1f, 0.4f, -0.2f))
    ).toDF("vec_id", "embedding")
    val codes = Pq.encode(vecs, "vec_id", "embedding",
      m = 2, k = 4, subDim = 2)
      .as[(Long, Seq[Int])].collect().toMap
    assert(codes(0L) == Seq(2, 1), codes(0L))
    codes.values.foreach(cs => assert(cs.forall(c => c >= 0 && c < 4)))
    // ADC against the on-grid corpus vector reconstructs it exactly, so
    // querying with that same vector ranks it before the mirrored one
    val out = Pq.adcTopK(vecs, vecs.filter($"vec_id" === 0L),
      "vec_id", "embedding", topK = 2, m = 2, k = 4, subDim = 2)
      .select("rank", "neighbor_id").as[(Long, Long)].collect().sorted
    assert(out.length == 2 && out.map(_._2).distinct.length == 2)
    // determinism: encode is partition-order-invariant
    val again = Pq.encode(vecs.repartition(5), "vec_id", "embedding",
      m = 2, k = 4, subDim = 2).as[(Long, Seq[Int])].collect().toMap
    assert(again == codes)
    // short vectors are dropped, never partially encoded
    val short = Seq((9L, Array(1.0f, 2.0f))).toDF("vec_id", "embedding")
    assert(Pq.encode(short, "vec_id", "embedding", 2, 4, 2).count() == 0)
  }

  test("trained codebooks beat seeded ones on ADC recall") {
    import graft.llm.{Clustering, Pq, Similarity}
    val e = graft.core.Tables.embeddings(spark, sf01)
    val q = e.filter($"vec_id" < 50)
    val exact = Pq.exactL2TopK(e, q, "vec_id", "embedding", topK = 3)
    def meanRecall(approx: org.apache.spark.sql.DataFrame): Double =
      Similarity.recallAtK(exact, approx, 3)
        .agg(avg("recall")).head().getDouble(0)
    val seeded = meanRecall(Pq.adcTopK(e, q, "vec_id", "embedding",
      topK = 3, m = 8, k = 16, subDim = 8))
    val eq = e.select($"vec_id",
      Clustering.quantize($"embedding").as("qvec"))
    val cbs = Pq.trainCodebooks(eq, "vec_id", "qvec", 8, 16, 8, iters = 1)
    val trained = meanRecall(Pq.adcTopKWith(eq, eq.filter($"vec_id" < 50),
      "vec_id", "qvec", topK = 3, subDim = 8, cbs))
    assert(trained > 2 * seeded,
      s"trained=$trained seeded=$seeded — training should dominate")
    // trained books have the right shape and differ from the init
    assert(cbs.length == 8 && cbs.forall(_.length == 16))
  }

  test("codebook training is partition-order-invariant") {
    import graft.llm.{Clustering, Pq}
    val e = graft.core.Tables.embeddings(spark, sf001)
      .select($"vec_id", Clustering.quantize($"embedding").as("qvec"))
    val a = Pq.trainCodebooks(e, "vec_id", "qvec", 4, 8, 16, iters = 2)
    val b = Pq.trainCodebooks(e.repartition(13), "vec_id", "qvec",
      4, 8, 16, iters = 2)
    assert(a.flatten.flatten.map(java.lang.Double.doubleToLongBits(_)) ==
      b.flatten.flatten.map(java.lang.Double.doubleToLongBits(_)))
  }

  test("pq table-path codes == literal-path codes bit-for-bit") {
    import graft.llm.Pq
    val e = graft.core.Tables.embeddings(spark, sf001)
    val cbs = Pq.codebooks(4, 8, 16)
    val cbDf = (for { j <- 0 until 4; c <- 0 until 8 }
      yield (j, c, cbs(j)(c).toSeq)).toDF("subspace", "code", "codeword")
    val lit_ = Pq.encode(e, "vec_id", "embedding", 4, 8, 16)
      .as[(Long, Seq[Int])].collect().toMap
    val tab = Pq.encodeTable(e, "vec_id", "embedding", 4, 8, 16, cbDf)
      .as[(Long, Seq[Int])].collect().toMap
    assert(lit_.nonEmpty && tab == lit_)
  }

  test("undersized training fails up front with a named error at both " +
    "training sites: the k-means coarse quantizer and the PQ codebooks") {
    import graft.llm.{Clustering, IvfIndex, Pq}
    def emb(n: Int) = (1 to n).map(i =>
      (i.toLong, Array.tabulate(64)(j => ((i * j) % 7).toFloat)))
      .toDF("vec_id", "embedding")
    def refused(k: Int, rows: Int)(train: => Any): Unit = {
      val e = intercept[IllegalArgumentException](train)
      assert(e.getMessage.contains(s"k=$k") &&
        e.getMessage.contains("dim=64") &&
        e.getMessage.contains(s"from $rows training row"), e.getMessage)
    }
    // 0 rows and k−1 rows: FAISS's refusal, not an analysis-time
    // NULL_TYPE on an empty centroid array or a short codebook
    for (n <- Seq(0, 7)) {
      refused(8, n)(IvfIndex.Trained.train(emb(n), "vec_id", "embedding",
        k = 8, iters = 2, dim = 64))
      refused(8, n)(Clustering.kmeans(emb(n), "vec_id", "embedding",
        k = 8, iters = 2, dim = 64).collect())
    }
    for (n <- Seq(0, 15))
      refused(16, n)(Pq.trainCodebooks(emb(n), "vec_id", "embedding",
        m = 8, k = 16, subDim = 8))
    // exactly k rows still trains
    assert(IvfIndex.Trained.train(emb(8), "vec_id", "embedding", k = 8,
      iters = 1, dim = 64).centroids.length == 8)
  }

  test("ivf+pq: returns only cell-mates, ranked like the unpruned adc") {
    import graft.llm.Pq
    val e = graft.core.Tables.embeddings(spark, sf001)
    val q = e.filter($"vec_id" < 10)
    val ivf = graft.llm.IvfIndex(graft.llm.IvfIndex.Axis(m = 4),
        graft.llm.IvfIndex.SeededPq(m = 8, k = 16, subDim = 8))
      .topK(e, q, "vec_id", "embedding", k = 3, probes = 2)
      .as[(Long, Long, Long)].collect()
    assert(ivf.nonEmpty)
    // ranks are contiguous from 1 per query
    ivf.groupBy(_._1).values.foreach { rows =>
      assert(rows.map(_._2).sorted.toSeq == (1L to rows.length).toSeq)
    }
    // pruning only ever REMOVES candidates: each ivf result ranked at
    // least as well in the unpruned ADC ranking over the same corpus
    val full = Pq.adcTopK(e, q, "vec_id", "embedding", topK = 500,
      m = 8, k = 16, subDim = 8)
      .as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._3) -> r._2).toMap
    ivf.groupBy(_._1).values.foreach { rows =>
      rows.sortBy(_._2).foldLeft(0L) { case (prev, (qid, _, nid)) =>
        val fullRank = full((qid, nid))
        assert(fullRank > prev,
          s"cell pruning reordered ($qid, $nid): full=$fullRank prev=$prev")
        fullRank
      }
    }
  }

  test("sign-LSH only pairs same-bucket vectors") {
    // cells under Signs(2, 2)'s two seeded planes, bit i = sign of
    // ⟨v, plane_i⟩ with planes ≈ (0.563, −0.372) and (−0.099, 0.080)
    val vecs = Seq(
      (0L, Array(1.0f, 1.0f)), (1L, Array(1.0f, -1.0f)),  // bucket 10
      (2L, Array(-1.0f, 1.0f))                            // bucket 01
    ).toDF("vec_id", "embedding")
    val out = IvfIndex(IvfIndex.Signs(2, 2), IvfIndex.Flat).topK(vecs, vecs,
        "vec_id", "embedding", k = 5, probes = 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(out == Set((0L, 1L), (1L, 0L))) // vec 2 alone in its bucket
  }

  test("blockedNameMatches: name-grain collapse, block + length gates, " +
    "exact distance") {
    import graft.llm.EntityMatch
    val recs = Seq(
      "old bolt", "old bolt", "old bolt",  // support 3
      "cold bolt",                          // dist 1 from "old bolt"
      "gold ring",                          // other block: never pairs
      "old ring",                           // dist 1 from "gold ring"? no — other block than bolt
      "extremely long bolt"                 // same block, length gate kills it
    ).zipWithIndex.map { case (n, i) => (i.toLong, n) }.toDF("id", "name")
    val out = EntityMatch.blockedNameMatches(recs, "name", maxDist = 2)
      .as[(String, String, Long, Long, Long)].collect().toSet
    // one pair per block: bolt (with supports riding along — identical
    // names never self-pair) and ring; never across blocks
    assert(out == Set(("cold bolt", "old bolt", 1L, 1L, 3L),
      ("gold ring", "old ring", 1L, 1L, 1L)))
    // the length gate is a LOWER BOUND on edit distance — widen the
    // budget and the long name still can't sneak in under it
    val wide = EntityMatch.blockedNameMatches(recs, "name", maxDist = 3)
      .select("name_a", "name_b").as[(String, String)].collect().toSet
    assert(!wide.exists(p => p._1.contains("extremely") ||
      p._2.contains("extremely")))
    // "gold ring" vs "old ring": same block (ring), dist 1
    assert(wide.contains(("gold ring", "old ring")))
  }

  test("rankMetrics: hand-computed nDCG/MRR, no-relevant zero, " +
    "perfect-ranking one, n_rel caps the ideal") {
    // q1: hits at ranks 1 and 3 of 5, n_rel = 2 → perfect-prefix ideal
    // q2: no relevant items at all → mrr = ndcg = 0, n_rel = 0
    // q3: hit at rank 2 only, n_rel = 7 (> k) → ideal capped at k=5
    // q4: all 5 ranks relevant, n_rel = 5 → ndcg exactly 1
    val ranked = (for {
      q <- Seq(1L, 2L, 3L, 4L); r <- 1 to 5
    } yield (q, r.toLong, q * 100L + r)).toDF("query_id", "rank", "neighbor_id")
    val rel = (Seq((1L, 101L), (1L, 103L), (3L, 302L)) ++
      (1 to 6).map(i => (3L, 900L + i)) ++
      (1 to 5).map(i => (4L, 400L + i))).toDF("query_id", "neighbor_id")
    val out = Similarity.rankMetrics(ranked, rel, k = 5)
      .as[(Long, Long, Double, Double, Double)].collect()
      .map(t => t._1 -> (t._2, t._3, t._4, t._5)).toMap
    val w = Similarity.ndcgWeights(5).map(_.doubleValue)
    val cum = Similarity.ndcgCumWeights(5).map(_.doubleValue)
    def r6(x: Double): Double = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // q1: dcg = w1 + w3, ideal = cum(2), mrr = 1
    assert(out(1L)._1 == 2L && out(1L)._2 == 1.0)
    assert(out(1L)._4 == r6((w(0) + w(2)) / cum(1)))
    // q2: ranked but nothing relevant
    assert(out(2L) == ((0L, 0.0, 0.0, 0.0)))
    // q3: n_rel = 7 > k caps ideal at cum(5); mrr = 0.5
    assert(out(3L)._1 == 7L && out(3L)._2 == 0.5)
    assert(out(3L)._4 == r6(w(1) / cum(4)))
    // q4: perfect ranking
    assert(out(4L)._1 == 5L && out(4L)._2 == 1.0 && out(4L)._4 == 1.0)
  }

  test("knnGraph: edges = per-band union's per-src top-k; mutual edges " +
    "are the symmetric subset") {
    val e = spark.read.parquet(s"$sf001/embeddings.parquet")
    val edges = Similarity.knnGraph(e, "vec_id", "embedding",
      k = 3, b = 4, dim = 64, bands = 2)
    val got = edges.select("src", "rank", "dst")
      .as[(Long, Long, Long)].collect()
    // rank is dense 1..k' per src, no (src, dst) repeats across bands
    val bySrc = got.groupBy(_._1)
    bySrc.foreach { case (_, rows) =>
      assert(rows.map(_._2).sorted.toSeq == (1L to rows.length).toSeq)
      assert(rows.map(_._3).distinct.length == rows.length)
    }
    // brute-force reference: same-bucket-in-any-band candidates, exact
    // cosine top-3 with the same (score desc, dst) tie-break
    val vecs = e.select($"vec_id", $"embedding").as[(Long, Seq[Float])]
      .collect().map { case (id, v) => id -> v.map(_.toDouble).toArray }
    val planes = (0 to 1).map(j =>
      Similarity.rotationPlanes(4, 64, Similarity.DefaultSeed + j))
    def bucket(v: Array[Double], j: Int): String =
      planes(j).map(p => if (p.zip(v).map { case (a, b) => a * b }.sum >= 0) "1" else "0").mkString
    def norm(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val withB = vecs.map { case (id, v) =>
      (id, norm(v), bucket(v, 0), bucket(v, 1))
    }
    val expect = withB.flatMap { case (src, nv, b0, b1) =>
      withB.filter { case (dst, _, c0, c1) =>
        dst != src && (c0 == b0 || c1 == b1) }
        .map { case (dst, dv, _, _) =>
          (dst, nv.zip(dv).map { case (a, c) => a * c }.sum) }
        .sortBy { case (dst, s) => (-s, dst) }.take(3).zipWithIndex
        .map { case ((dst, _), i) => (src, i + 1L, dst) }
    }.toSet
    assert(got.toSet == expect)
    // mutuality: exactly the pairs present in both directions
    val dir = got.map(r => (r._1, r._3)).toSet
    val mutual = Similarity.mutualKnnEdges(edges)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val expectMutual = dir.filter { case (a, bb) =>
      a < bb && dir.contains((bb, a)) }
    assert(mutual == expectMutual)
    mutual.foreach { case (a, bb) => assert(a < bb) }
    info(s"edges=${got.length} mutual=${mutual.size}")
  }

  test("banded near-dup: candidates are the union of the per-band families") {
    val e = spark.read.parquet(s"$sf001/embeddings.parquet")
    def pairs(bands: Int, seed: Long = Similarity.DefaultSeed) =
      Similarity.cosineNearDupPairs(e, "vec_id", "embedding",
        threshold = 0.35, b = 4, dim = 64, seed = seed, bands = bands)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val banded = pairs(bands = 2)
    val band0 = pairs(bands = 1)
    val band1 = pairs(bands = 1, seed = Similarity.DefaultSeed + 1)
    // OR-amplification exactly: no pair appears or disappears beyond the
    // union, and each single family is a subset (strictly more recall)
    assert(banded == (band0 | band1))
    assert(band0.subsetOf(banded) && band1.subsetOf(banded))
    info(s"band0=${band0.size} band1=${band1.size} union=${banded.size}")
  }

  test("random projection: deterministic, dim-guarded, distance-sane") {
    import graft.llm.Similarity
    val rnd = new scala.util.Random(7)
    val vecs = (1 to 40).map(i =>
      (i.toLong, Seq.fill(64)(rnd.nextDouble() * 2 - 1))) :+
      (99L, Seq.fill(8)(1.0)) // too short → degrades out
    val df = vecs.toDF("vec_id", "embedding")
    val p = Similarity.randomProjection(df, "vec_id", "embedding", 64, 8)
      .as[(Long, Seq[Double])].collect().toMap
    assert(!p.contains(99L) && p.size == 40)
    assert(p.values.forall(_.size == 8))
    // determinism in the seed
    val p2 = Similarity.randomProjection(df, "vec_id", "embedding", 64, 8)
      .as[(Long, Seq[Double])].collect().toMap
    assert(p == p2)
    // JL sanity: average projected pairwise distance correlates with the
    // original — identical vectors project identically, and the mean
    // distance ratio sits in a loose band around 1
    def dist(a: Seq[Double], b: Seq[Double]) =
      math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
    val ids = p.keys.toSeq.sorted.take(10)
    val orig = vecs.toMap
    val ratios = for {
      i <- ids; j <- ids if i < j
    } yield dist(p(i), p(j)) / dist(orig(i), orig(j))
    val mean = ratios.sum / ratios.size
    assert(mean > 0.5 && mean < 1.5, s"mean distance ratio $mean")
  }

  test("rotation planes are deterministic in (b, dim, seed)") {
    val a = Similarity.rotationPlanes(4, 64)
    val b = Similarity.rotationPlanes(4, 64)
    assert(a.flatten == b.flatten)
    assert(a.flatten.forall(c => c >= -1.0 && c < 1.0))
    // distinct planes, and a different seed gives different planes
    assert(a(0).toSeq != a(1).toSeq)
    assert(Similarity.rotationPlanes(4, 64, seed = 7L).flatten != a.flatten)
  }

  test("sampling: splits are deterministic, disjoint, and add-stable") {
    import graft.llm.Sampling
    val ids = (0L until 400L).map(i => Tuple1(i)).toDF("doc_id")
    val s1 = Sampling.split(ids, "doc_id", 0.8)
      .as[(Long, String)].collect().toMap
    // same ids → same split, independent of partitioning
    val s2 = Sampling.split(ids.repartition(7), "doc_id", 0.8)
      .as[(Long, String)].collect().toMap
    assert(s1 == s2)
    val trainFrac = s1.values.count(_ == "train").toDouble / s1.size
    assert(trainFrac > 0.7 && trainFrac < 0.9) // ~0.797 granularity 1/256
    // adding rows never flips an existing row's split
    val s3 = Sampling.split((0L until 800L).map(Tuple1(_)).toDF("doc_id"),
      "doc_id", 0.8).as[(Long, String)].collect().toMap
    assert(s1.forall { case (k, v) => s3(k) == v })
    // a different salt draws an independent split
    val salted = Sampling.split(ids, "doc_id", 0.8, salt = "s2")
      .as[(Long, String)].collect().toMap
    assert(salted != s1)
  }

  test("temperature sampling flattens the head, is deterministic") {
    import graft.llm.Sampling
    // skewed corpus: 160 docs of 'big', 40 of 'small'
    val corpus = ((0L until 160L).map((_, "big")) ++
      (160L until 200L).map((_, "small"))).toDF("doc_id", "src")
    val kept = Sampling.temperature(corpus, "doc_id", "src",
      temp = 2.0, frac = 0.5)
    val bySrc = kept.groupBy("src").count()
      .as[(String, Long)].collect().toMap
    // T=2 keep rates: big ≈ B·√160·1e6/(tot·160) < small's — the kept
    // corpus is closer to balanced than 160:40
    val keptBig = bySrc.getOrElse("big", 0L).toDouble / 160.0
    val keptSmall = bySrc.getOrElse("small", 0L).toDouble / 40.0
    assert(keptSmall > keptBig,
      s"head must be downsampled harder: big=$keptBig small=$keptSmall")
    // reproducible: same corpus, same sample
    val again = Sampling.temperature(corpus, "doc_id", "src",
      temp = 2.0, frac = 0.5).select("doc_id").as[Long].collect().toSet
    assert(again == kept.select("doc_id").as[Long].collect().toSet)
    // frac=1, T=1 keeps everything (rate = N·n/(N·n) = 1)
    val all = Sampling.temperature(corpus, "doc_id", "src",
      temp = 1.0, frac = 1.0).count()
    assert(all == 200L)
    // rates below 1/256 sample thinly instead of annihilating the
    // source (the 52-bit gate, not a hex-prefix grid)
    val big = (0L until 2000L).map((_, "only")).toDF("doc_id", "src")
    val thin = Sampling.temperature(big, "doc_id", "src",
      temp = 1.0, frac = 0.01).count()
    assert(thin > 0L && thin < 100L, s"expected ~20 of 2000, got $thin")
    // NULL-source rows form their own rate group and sample like any
    // other source (null-safe gate join) instead of silently dropping
    val withNull = Seq((1L, "a"), (2L, "a"), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "src")
    val keptNull = Sampling.temperature(withNull, "doc_id", "src",
      temp = 1.0, frac = 1.0)
    assert(keptNull.count() == 3L, "null-source rows must not be dropped")
  }

  test("epoch allocation: weight shares, maxEpochs cap, shortfall reported") {
    import graft.llm.Sampling
    val docs = Seq(
      ("web", 100L), ("web", 300L),     // 400 tokens
      ("code", 50L), ("code", 50L),     // 100 tokens
      ("tiny", 10L)                     // 10 tokens — will cap
    ).toDF("source", "n_toks")
    val out = Sampling.epochAllocation(docs, "source", "n_toks",
      budget = 900L, weights = Seq("web" -> 1L, "code" -> 1L, "tiny" -> 1L),
      maxEpochs = 2.0)
      .as[(String, Long, Long, Long, Long, Double, Boolean, Long)]
      .collect().map(r => r._1 -> r).toMap
    // equal weights: each source targets floor(900/3) = 300
    assert(out("web") == ("web", 2L, 400L, 300L, 300L, 0.75, false, 0L))
    assert(out("code") == ("code", 2L, 100L, 300L, 200L, 2.0, true, 100L))
    assert(out("tiny") == ("tiny", 1L, 10L, 300L, 20L, 2.0, true, 280L))
  }

  test("sampling: stratified caps each stratum; packing respects budget") {
    import graft.llm.Sampling
    val rows = (0L until 300L).map(i => (i, s"g${i % 3}", 100L + (i % 7) * 50))
      .toDF("doc_id", "grp", "tokens")
    val capped = Sampling.stratified(rows, "grp", "doc_id", perStratum = 20)
    val sizes = capped.groupBy("grp").count().as[(String, Long)].collect().toMap
    assert(sizes.values.toSet == Set(20L))
    // packing: every shard except the stratum's last stops before budget+max
    val packed = Sampling.packShards(rows, "grp", "doc_id", "tokens", 1000L)
    val byShard = packed.groupBy("grp", "shard_id")
      .agg(sum("tokens").as("t")).as[(String, Long, Long)].collect()
    // a shard's preceding-sum start is < budget past the boundary, so its
    // total is < budget + max single doc (450 here)
    assert(byShard.forall(_._3 < 1000L + 450L))
    // deterministic under repartition
    val packed2 = Sampling.packShards(rows.repartition(5), "grp", "doc_id",
      "tokens", 1000L).select("doc_id", "shard_id")
      .as[(Long, Long)].collect().toMap
    val packed1 = packed.select("doc_id", "shard_id")
      .as[(Long, Long)].collect().toMap
    assert(packed1 == packed2)
  }

  test("sliding chunks: overlap, covered-tail suppression, short docs") {
    // window 4, stride 2. 6 tokens: starts 0,2,4 → keep 0 (t1-4) and
    // 2 (t3-6); start 4 adds nothing (t5-6 already covered) → dropped.
    // 4 tokens: only start 0. 1 token: one short chunk.
    val docs = Seq(
      (1L, "t1 t2 t3 t4 t5 t6"),
      (2L, "a b c d"),
      (3L, "solo")).toDF("doc_id", "text")
    val out = TextAnalysis.slidingChunks(docs, "text", "doc_id",
        window = 4, stride = 2)
      .as[(Long, Int, String, Int)].collect().toSet
    assert(out == Set(
      (1L, 0, "t1 t2 t3 t4", 4), (1L, 1, "t3 t4 t5 t6", 4),
      (2L, 0, "a b c d", 4),
      (3L, 0, "solo", 1)))
  }

  test("language mix: per-language hit counts, shares, null when no hits") {
    import graft.llm.TextAnalysis
    // 3×'the' (en) + 1×'der' (de); 'la' counts for BOTH es and fr — the
    // mix view must show the overlap a single langId label hides
    val docs = Seq(
      (1L, "the cat the dog the der la"),
      (2L, "zzz qqq")) // no stopword of any language
      .toDF("doc_id", "text")
    val out = TextAnalysis.langMix(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r).toMap
    val r1 = out(1L)
    assert(r1.getInt(1) == 3 && r1.getInt(2) == 1 &&
      r1.getInt(3) == 1 && r1.getInt(4) == 1, r1.toString) // en es fr de
    assert(r1.getInt(5) == 6)
    assert(r1.getDouble(6) == 0.5) // share_en = 3/6
    val r2 = out(2L)
    assert(r2.getInt(5) == 0 && r2.isNullAt(6) && r2.isNullAt(9),
      "no hits → null shares, not 0/0")
  }

  test("language ID picks the stopword-dominant language, und when none") {
    val df = Seq(
      (1L, "the cat sat of the mat and the dog is that"),
      (2L, "el que de la y en un es el la"),
      (3L, "zzz qqq www")
    ).toDF("doc_id", "text")
    val out = df.select($"doc_id", TextAnalysis.langId($"text").as("l"))
      .as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "en", 2L -> "es", 3L -> "und"))
  }

  test("repetition signals: duplicate and top n-gram fractions, short docs 0") {
    val df = Seq(
      (1L, "a b a b a b"),     // 2-grams: [a b, b a, a b, b a, a b] → 5 total, 2 distinct, top=3
      (2L, "v w x y z"),       // all 2-grams unique → dup 0, top 1/4
      (3L, "solo")             // < 2 tokens → zeros
    ).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionSignals(df, "text")
      .select("doc_id", "dup_2gram_frac", "top_2gram_frac")
      .as[(Long, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L) == ((0.6, 0.6))) // 1 - 2/5 duplicates; top 'a b' = 3/5
    assert(out(2L) == ((0.0, 0.25)))
    assert(out(3L) == ((0.0, 0.0)))
  }

  test("pii scrub: counts and class-token redaction, email pass runs first") {
    val df = Seq(
      (1L, "mail bob.smith+x@corp.example.org or 192.168.0.1 tel +44-201-555-0199"),
      (2L, "no pii here at all"),
      (3L, "two mails a@b.io c@d.co one ip 10.0.0.7"),
      // the dotted-quad inside the email domain must be eaten by the email
      // pass, not split by the IP pass; 999.1.2.3 still redacts (documented)
      (4L, "u@10.0.0.1.example.com and 999.1.2.3")
    ).toDF("doc_id", "text")
    val out = Pii.scrub(df, "text")
      .select("doc_id", "n_emails", "n_ipv4", "n_phones", "text_redacted")
      .as[(Long, Int, Int, Int, String)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 1, 1, 1,
      "mail <EMAIL> or <IP> tel <PHONE>")))
    assert(out(2L) == ((2L, 0, 0, 0, "no pii here at all")))
    assert(out(3L) == ((3L, 2, 1, 0, "two mails <EMAIL> <EMAIL> one ip <IP>")))
    assert(out(4L) == ((4L, 1, 1, 0, "<EMAIL> and <IP>")))
  }

  test("contamination: shared distinct n-grams per (test, train) pair") {
    val train = Seq(
      (10L, "the quick brown fox jumps high"),  // shares 2 trigrams with test 1
      (11L, "nothing in common with anything"),
      (12L, "the quick brown fox jumps high")   // dup of 10 → same overlap
    ).toDF("doc_id", "text")
    val test = Seq(
      (1L, "the quick brown fox sleeps"),       // trigrams: 3 distinct
      (2L, "completely novel benchmark prompt")
    ).toDF("doc_id", "text")
    val out = Contamination.ngramOverlap(train, test, "text", "doc_id",
      n = 3, minShared = 2)
      .select("test_id", "train_id", "shared_ngrams", "overlap_frac")
      .as[(Long, Long, Long, Double)].collect().toSet
    // test 1 has trigrams {the quick brown, quick brown fox, brown fox sleeps};
    // train 10/12 share the first two → 2 shared over 3 test trigrams
    assert(out == Set((1L, 10L, 2L, 0.666667), (1L, 12L, 2L, 0.666667)))
  }

  test("target coverage: corpus-covered gram fraction; zero-match stays 0") {
    val corpus = Seq((10L, "the quick brown fox jumps high"))
      .toDF("doc_id", "text")
    val target = Seq(
      (1L, "the quick brown fox sleeps"),      // 3 grams, 2 in corpus
      (2L, "totally novel domain text here")   // 3 grams, none — kept at 0
    ).toDF("doc_id", "text")
    val out = Contamination.targetCoverage(corpus, target, "text",
      "doc_id", n = 3)
      .select("target_id", "n_target_ngrams", "covered_ngrams", "coverage")
      .as[(Long, Int, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 3, 2L, 0.666667)))
    assert(out(2L) == ((2L, 3, 0L, 0.0)))
  }

  test("contamination report carries the matched grams, sorted and capped") {
    val train = Seq(
      (10L, "the quick brown fox jumps high"),
      (11L, "nothing in common with anything")
    ).toDF("doc_id", "text")
    val test = Seq((1L, "the quick brown fox sleeps")).toDF("doc_id", "text")
    val out = Contamination.ngramOverlapReport(train, test, "text", "doc_id",
      n = 3, minShared = 2, maxGrams = 10)
      .select("test_id", "train_id", "shared_ngrams", "evidence")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(out == Seq((1L, 10L, 2L, "quick brown fox|the quick brown")))
    // the cap truncates the sorted list deterministically
    val capped = Contamination.ngramOverlapReport(train, test, "text",
      "doc_id", n = 3, minShared = 2, maxGrams = 1)
      .select("evidence").as[String].head()
    assert(capped == "quick brown fox")
  }

  test("bow fingerprint is order-invariant; content fingerprint is not") {
    val df = Seq((1L, "alpha beta gamma"), (2L, "gamma beta alpha"))
      .toDF("doc_id", "text")
    val fp = TextAnalysis.fingerprints(df, "text")
      .select("doc_id", "content_fp", "bow_fp")
      .as[(Long, String, String)].collect().sortBy(_._1)
    assert(fp(0)._3 == fp(1)._3)
    assert(fp(0)._2 != fp(1)._2)
  }

  test("multimodal decode stage: deterministic stub metadata via mapPartitions") {
    val df = docs.withColumn("bin", encode(col("text"), "utf-8"))
    val out = Multimodal.decodeMeta(spark, df, "doc_id", "bin", "image")
      .collect().map(m => m.media_id -> m).toMap
    assert(out(1L).byte_len == 43L)
    assert(out(1L).width == 64 + 't'.toInt % 192)
    assert(out(1L).n_frames == 1 + 43 % 16)
    assert(out(1L).content_hash == out(2L).content_hash) // same bytes
  }

  test("frame sampling explodes stride-sampled frame indices") {
    val df = Seq((1L, "x" * 20)).toDF("doc_id", "text")
      .withColumn("bin", encode(col("text"), "utf-8"))
    val frames = Multimodal.sampleFrames(df, "doc_id", "bin", stride = 2)
      .select("frame_idx").as[Int].collect().toSeq.sorted
    // 20 bytes → n_frames = 1 + 20%16 = 5 → indices 0,2,4
    assert(frames == Seq(0, 2, 4))
  }

  test("feature extraction produces fixed-width deterministic vectors") {
    val df = docs.withColumn("bin", encode(col("text"), "utf-8"))
    val feats = Multimodal.extractFeatures(spark, df, "doc_id", "bin")
      .collect().map(f => f.media_id -> f.feature).toMap
    assert(feats.values.forall(_.length == 8))
    assert(feats(1L).toSeq == feats(2L).toSeq) // identical bytes
  }

  test("bloom-prefiltered contamination equals the exact-join result") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (17L, "alpha beta gamma delta something else"), // test doc (17 % 17 = 0)
      (2L, "alpha beta gamma delta epsilon eta"),
      (3L, "nothing in common with anything here at all")
    ).toDF("doc_id", "text")
    val train = corpus.filter($"doc_id" % 17 =!= 0)
    val test17 = corpus.filter($"doc_id" % 17 === 0)
    val exact = graft.llm.Contamination
      .ngramOverlap(train, test17, "text", "doc_id", n = 3, minShared = 2)
      .select("test_id", "train_id", "shared_ngrams", "overlap_frac")
      .as[(Long, Long, Long, Double)].collect().toSet
    val bloom = graft.llm.Contamination
      .ngramOverlapBloom(train, test17, "text", "doc_id", n = 3,
        minShared = 2)
      .select("test_id", "train_id", "shared_ngrams", "overlap_frac")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(exact.nonEmpty && bloom == exact)
  }

  test("contamination df cap bounds the pair explosion on a " +
    "duplication-degenerate corpus, counts what it dropped, and keeps " +
    "all-capped test docs visible") {
    // 30 verbatim replicas (the make_scaled worst case): every "hot"
    // trigram has train df 30; the "cool" trigrams have df 2
    val hotTrain = (1 to 30).map(i => (i.toLong, "hot one two three four"))
    val coolTrain = Seq((31L, "cool alpha beta gamma delta"),
      (32L, "cool alpha beta gamma delta"))
    val train = (hotTrain ++ coolTrain).toDF("doc_id", "text")
    val test17 = Seq(
      (17L, "cool alpha beta gamma delta"), // all-cool: untouched by cap
      (34L, "hot one two three four"), // all-hot: fully capped away
      (51L, "hot one two three four cool alpha beta gamma delta") // mixed
    ).toDF("doc_id", "text")
    def run(cap: Long) = graft.llm.Contamination
      .ngramOverlapBloom(train, test17, "text", "doc_id", n = 3,
        minShared = 2, maxTrainDf = cap)
      .select("test_id", "train_id", "shared_ngrams", "n_test_ngrams",
        "overlap_frac", "n_capped_grams")
      .as[(Long, Option[Long], Long, Int, Option[Double], Long)]
      .collect().toSet
    // cap 5 binds: the 30-replica grams die BEFORE the confirm join —
    // 64 uncapped pairs collapse to 4 pairs + 1 sentinel
    val capped = run(5)
    assert(capped == Set(
      (17L, Some(31L), 3L, 3, Some(1.0), 0L),
      (17L, Some(32L), 3L, 3, Some(1.0), 0L),
      (51L, Some(31L), 3L, 8, Some(0.375), 3L),
      (51L, Some(32L), 3L, 8, Some(0.375), 3L),
      // the loud-exclusion sentinel: doc 34's matches were ALL capped;
      // it surfaces with its drop count instead of vanishing
      (34L, None, 0L, 3, None, 3L)), s"capped=$capped")
    // a non-binding cap reproduces the uncapped result exactly (plus the
    // honest zero column): 2 + 30 + 30 + 2 = 64 pair rows, no sentinels
    val loose = run(100)
    val uncapped = run(Long.MaxValue)
    assert(loose == uncapped && uncapped.size == 64 &&
      uncapped.forall(r => r._2.nonEmpty && r._6 == 0L))
  }

  test("auto df cap (pair-row budget) never binds on a clean corpus and " +
    "binds on a duplication-degenerate one") {
    def run(train: org.apache.spark.sql.DataFrame,
            test17: org.apache.spark.sql.DataFrame, cap: Long) =
      graft.llm.Contamination
        .ngramOverlapBloom(train, test17, "text", "doc_id", n = 3,
          minShared = 2, maxTrainDf = cap)
        .select("test_id", "train_id", "shared_ngrams", "n_test_ngrams",
          "overlap_frac", "n_capped_grams")
        .as[(Long, Option[Long], Long, Int, Option[Double], Long)]
        .collect().toSet
    // clean corpus (survivor dfs all 2, mean 2 ≤ the 16-per-gram
    // budget): the derived cap lands on the max df — auto ≡ uncapped,
    // zero capped grams, no sentinels
    val clean = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (17L, "alpha beta gamma delta something else"),
      (2L, "alpha beta gamma delta epsilon eta"),
      (3L, "nothing in common with anything here at all")
    ).toDF("doc_id", "text")
    val cleanTrain = clean.filter($"doc_id" % 17 =!= 0)
    val cleanTest = clean.filter($"doc_id" % 17 === 0)
    val auto = run(cleanTrain, cleanTest,
      graft.llm.Contamination.AutoTrainDf)
    val uncapped = run(cleanTrain, cleanTest, Long.MaxValue)
    assert(auto == uncapped && auto.nonEmpty &&
      auto.forall(r => r._2.nonEmpty && r._6 == 0L), s"auto=$auto")
    // duplication-degenerate corpus (the make_scaled sf10 worst case:
    // ~100 verbatim replicas → hot trigram df 100 vs cool df 2; mean
    // survivor df (3·100 + 3·2)/6 = 51 ≫ 16): the budget exhausts
    // inside the replica mass — cap lands at 2, the hot grams die
    // pre-join, the drops are counted, the all-hot test doc surfaces
    // as a sentinel. A quantile×margin rule CANNOT pin this corpus
    // (its q99 is 100 — duplication scales any quantile with itself).
    val hotTrain = (1 to 100).map(i => (i.toLong, "hot one two three four"))
    val coolTrain = Seq((101L, "cool alpha beta gamma delta"),
      (103L, "cool alpha beta gamma delta"))
    val dupTrain = (hotTrain ++ coolTrain).toDF("doc_id", "text")
    val dupTest = Seq(
      (17L, "cool alpha beta gamma delta"),
      (34L, "hot one two three four"),
      (51L, "hot one two three four cool alpha beta gamma delta")
    ).toDF("doc_id", "text")
    val bound = run(dupTrain, dupTest, graft.llm.Contamination.AutoTrainDf)
    assert(bound == Set(
      (17L, Some(101L), 3L, 3, Some(1.0), 0L),
      (17L, Some(103L), 3L, 3, Some(1.0), 0L),
      (51L, Some(101L), 3L, 8, Some(0.375), 3L),
      (51L, Some(103L), 3L, 8, Some(0.375), 3L),
      (34L, None, 0L, 3, None, 3L)), s"bound=$bound")
  }

  test("duplicateSpans finds unaligned repeated spans, splits on gaps, " +
    "drops sub-minRun runs") {
    // doc 1 and 2 share the UNALIGNED 5-token passage "aa bb cc dd ee"
    // (offset 0 vs 2 — invisible to the aligned chunk family); doc 3
    // repeats a 4-token phrase within itself (two separate spans); doc 4
    // is clean; doc 5 shares only ONE isolated 3-shingle → run 1 < 2
    val docs = Seq(
      (1L, "aa bb cc dd ee xx yy zz"),
      (2L, "pp qq aa bb cc dd ee rr"),
      (3L, "k1 k2 k3 k4 m k1 k2 k3 k4"),
      (4L, "u1 u2 u3 u4 u5"),
      (5L, "aa bb cc q1 q2 q3")).toDF("doc_id", "text")
    val out = graft.llm.Dedup.duplicateSpans(docs, "text", "doc_id",
        w = 3, minRun = 2)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(out === Set(
      (1L, 0L, 4L, 5L),   // "aa bb cc dd ee"
      (2L, 2L, 6L, 5L),
      (3L, 0L, 3L, 4L),   // first "k1 k2 k3 k4"
      (3L, 5L, 8L, 4L)),  // second, split across the gap at "m"
      s"got $out")
  }

  test("spanDupRatio unions overlapping spans and reports zero for " +
    "clean docs") {
    val docs = Seq(
      (1L, "aa bb cc dd ee xx yy zz"),       // span [0,4] of 8 tokens
      (2L, "pp qq aa bb cc dd ee rr"),       // span [2,6] of 8
      (3L, "k1 k2 k3 k4 m k1 k2 k3 k4"),     // [0,3] + [5,8] of 9
      (4L, "u1 u2 u3 u4 u5"),                // clean
      (5L, "aa bb cc q1 q2 q3")              // single dup shingle < minRun
    ).toDF("doc_id", "text")
    val out = graft.llm.Dedup.spanDupRatio(docs, "text", "doc_id",
        w = 3, minRun = 2)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) === ((8L, 5L, 0.625)))
    assert(out(2L) === ((8L, 5L, 0.625)))
    assert(out(3L) === ((9L, 8L, 0.888889)))
    assert(out(4L) === ((5L, 0L, 0.0)))
    assert(out(5L) === ((6L, 0L, 0.0)))
  }

  test("stripSpans cuts exactly the unioned spans, passes clean and " +
    "short docs through") {
    val docs = Seq(
      (1L, "aa bb cc dd ee xx yy zz"),   // cut [0,4] → "xx yy zz"
      (2L, "pp qq aa bb cc dd ee rr"),   // cut [2,6] → "pp qq rr"
      (3L, "k1 k2 k3 k4 m k1 k2 k3 k4"), // cut [0,3]+[5,8] → "m"
      (4L, "u1 u2 u3 u4 u5"),            // untouched
      (5L, "a b")                        // shorter than w → untouched
    ).toDF("doc_id", "text")
    val out = graft.llm.Dedup.stripSpans(docs, "text", "doc_id",
        w = 3, minRun = 2)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) === ((8L, 5L, "xx yy zz")))
    assert(out(2L) === ((8L, 5L, "pp qq rr")))
    assert(out(3L) === ((9L, 8L, "m")))
    assert(out(4L) === ((5L, 0L, "u1 u2 u3 u4 u5")))
    assert(out(5L) === ((2L, 0L, "a b")))
  }

  test("chunk dedup keeps first global occurrence and reassembles in order") {
    val df = Seq(
      (1L, "a b c d e f"),
      (2L, "a b c x y z"),   // first chunk duplicates doc 1's
      (3L, "a b c"),         // fully duplicate → drops out entirely
      (4L, "p q r p q r")    // in-doc duplicate chunk
    ).toDF("doc_id", "text")
    val out = graft.llm.Dedup.chunkDedup(df, "text", "doc_id", w = 3)
      .select("doc_id", "n_chunks", "n_kept", "clean_text")
      .as[(Long, Long, Long, String)].collect().toSet
    assert(out == Set(
      (1L, 2L, 2L, "a b c d e f"),
      (2L, 2L, 1L, "x y z"),
      (4L, 2L, 1L, "p q r")))
  }

  test("mixture sampling: rates nest, edges keep all/none, add-stable") {
    val df = (0L until 400L).map(i => (i, s"s${i % 2}"))
      .toDF("doc_id", "source")
    def kept(r0: Double) = graft.llm.Sampling
      .mixture(df, "doc_id", "source", Seq("s0" -> r0), default = 0.0)
      .select("doc_id").as[Long].collect().toSet
    val k25 = kept(0.25); val k50 = kept(0.5)
    assert(k25.subsetOf(k50))                  // thresholds nest
    assert(kept(0.0).isEmpty && kept(1.0).size == 200)
    assert(k25.nonEmpty && k25.size < k50.size)
    // membership is a pure function of the id — adding rows changes nothing
    val more = (0L until 800L).map(i => (i, s"s${i % 2}"))
      .toDF("doc_id", "source")
    val keptMore = graft.llm.Sampling
      .mixture(more, "doc_id", "source", Seq("s0" -> 0.25), default = 0.0)
      .select("doc_id").as[Long].collect().toSet
    assert(keptMore.filter(_ < 400L) == k25)
  }

  // two tight groups around (1,0,…) and (0,1,…); ids interleaved so the
  // lowest-id init (ids 1,2) seeds one centroid in each group
  private def kmeansFixture = Seq(
    (1L, Array(1.0f, 0.1f, 0.0f, 0.0f)),
    (2L, Array(0.1f, 1.0f, 0.0f, 0.0f)),
    (3L, Array(0.9f, 0.0f, 0.1f, 0.0f)),
    (4L, Array(0.0f, 0.9f, 0.1f, 0.0f)),
    (5L, Array(1.1f, 0.2f, 0.0f, 0.1f)),
    (6L, Array(0.2f, 1.1f, 0.0f, 0.1f))
  ).toDF("vec_id", "embedding")

  test("kmeans separates well-separated groups; assignment deterministic") {
    val out = Clustering.kmeans(kmeansFixture, "vec_id", "embedding",
      k = 2, iters = 3, dim = 4)
      .as[(Long, Long)].collect().toMap
    assert(out(1L) == out(3L) && out(3L) == out(5L))
    assert(out(2L) == out(4L) && out(4L) == out(6L))
    assert(out(1L) != out(2L))
    // init = lowest ids → id 1's group takes cluster 0
    assert(out(1L) == 0L && out(2L) == 1L)
    val again = Clustering.kmeans(kmeansFixture, "vec_id", "embedding",
      k = 2, iters = 3, dim = 4).as[(Long, Long)].collect().toMap
    assert(again == out)
  }

  test("kmeans: wrong-dimension vectors degrade out instead of failing") {
    val mixed = kmeansFixture.union(
      Seq((7L, Array(9.9f, 9.9f))).toDF("vec_id", "embedding"))
    val out = Clustering.kmeans(mixed, "vec_id", "embedding",
      k = 2, iters = 2, dim = 4).as[(Long, Long)].collect().toMap
    assert(!out.contains(7L) && out.size == 6)
  }

  test("kmeans carries an empty cluster's previous centroid") {
    // k=3 on the 2-group fixture: init centroids are ids 1,2,3 — id 3's
    // cluster is emptied by round 2 (its members prefer the id-1 side mean);
    // the run must not throw and every point still lands in a cluster
    val out = Clustering.kmeans(kmeansFixture, "vec_id", "embedding",
      k = 3, iters = 3, dim = 4).as[(Long, Long)].collect().toMap
    assert(out.size == 6 && out.values.forall(c => c >= 0 && c < 3))
  }

  test("blocklist: case-insensitive whole-token hits, threshold, nulls") {
    val fixture = Seq(
      (1L, "the CRASH took the server down, crash again"),
      (2L, "perfectly clean text with no banned terms"),
      (3L, "crashing is not crash-adjacent but crash is"),  // substrings don't hit
      (4L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = TextAnalysis.blocklist(fixture, "text", "doc_id",
        terms = Seq("Crash", "banned"), maxHits = 1L)
      .collect().map(r => r.getLong(0) -> r).toMap
    // doc 1: "crash" hits once ("CRASH" lowercased) + "crash" once... but
    // "down," carries punctuation — whole-token matching counts exactly
    // the bare tokens: "CRASH" and "crash" (the trailing "again" keeps
    // "crash" bare)
    assert(out(1L).getLong(2) == 2L)
    assert(out(1L).getBoolean(4))                   // 2 > maxHits=1
    assert(out(2L).getLong(2) == 1L)                // "banned" appears
    assert(!out(2L).getBoolean(4))                  // 1 hit not > 1
    assert(out(3L).getLong(2) == 1L)                // only the bare "crash"
    assert(out(4L).isNullAt(2) && out(4L).isNullAt(4)) // null text → null
  }

  test("centroid drift: identical groups ≈1, orthogonal 0, guards hold") {
    val groups = Seq(
      ("a", Array(1.0f, 0.0f, 0.0f, 0.0f)),
      ("a", Array(1.0f, 0.0f, 0.0f, 0.0f)),
      ("b", Array(1.0f, 0.0f, 0.0f, 0.0f)),   // same direction as a
      ("c", Array(0.0f, 2.0f, 0.0f, 0.0f)),   // orthogonal to a/b
      ("d", Array(0.0f, 0.0f, 0.0f, 0.0f)),   // zero centroid → null
      ("d", Array(1.0f, 1.0f)),               // wrong dim → degrades out
      ("e", Array(1.0f, 1.0f))                // whole label wrong-dim → gone
    ).toDF("label", "embedding")
    val out = Clustering.centroidDrift(groups, "label", "embedding", dim = 4)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3),
          if (r.isNullAt(4)) None else Some(r.getDouble(4))))).toMap
    // 4 surviving labels → 6 pairs; label e never appears
    assert(out.keySet == Set(("a","b"), ("a","c"), ("a","d"), ("b","c"),
      ("b","d"), ("c","d")))
    assert(out(("a","b")) == ((2L, 1L, Some(1.0))))
    assert(out(("a","c")) == ((2L, 1L, Some(0.0))))
    assert(out(("a","d"))._3.isEmpty)         // zero centroid → null, no error
    assert(out(("c","d"))._3.isEmpty)
  }

  test("centroid drift: mean is the exact per-component average") {
    // two vectors whose mean is (0.5, 1.0): cos vs (1, 2) must be exactly 1
    val groups = Seq(
      ("m", Array(0.0f, 0.5f, 0.0f, 0.0f)),
      ("m", Array(1.0f, 1.5f, 0.0f, 0.0f)),
      ("n", Array(1.0f, 2.0f, 0.0f, 0.0f))
    ).toDF("label", "embedding")
    val out = Clustering.centroidDrift(groups, "label", "embedding", dim = 4)
      .select("label_a", "label_b", "cos_sim")
      .as[(String, String, Double)].collect().toSeq
    assert(out == Seq(("m", "n", 1.0)))
  }

  test("semdedup drops exactly the lower-id-dominated near-duplicates") {
    // ids 1/3/5 are mutual cosine≈1 near-dups (same direction), as are
    // 2/4/6: within each cluster only the lowest id survives τ=0.95
    val kept = Clustering.semdedup(kmeansFixture, "vec_id", "embedding",
      k = 2, iters = 2, dim = 4, threshold = 0.95)
      .select("vec_id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L))
    // a high threshold keeps everything
    val all = Clustering.semdedup(kmeansFixture, "vec_id", "embedding",
      k = 2, iters = 2, dim = 4, threshold = 0.999999)
      .select("vec_id").as[Long].collect().toSet
    assert(all == Set(1L, 2L, 3L, 4L, 5L, 6L))
  }

  test("kmeansScored: d2 agrees with kmeans assignment and brute distance") {
    val scored = Clustering.kmeansScored(kmeansFixture, "vec_id",
      "embedding", k = 2, iters = 3, dim = 4)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val plain = Clustering.kmeans(kmeansFixture, "vec_id", "embedding",
      k = 2, iters = 3, dim = 4).as[(Long, Long)].collect().toMap
    assert(scored.view.mapValues(_._1).toMap == plain) // same assignment
    // ids 1 and 2 sit at their group's core: their distance to the
    // converged centroid is strictly below every other group member's
    assert(scored(1L)._2 < scored(3L)._2 && scored(1L)._2 < scored(5L)._2)
    assert(scored(2L)._2 < scored(4L)._2 && scored(2L)._2 < scored(6L)._2)
  }

  test("farthestPerCluster ranks by d2 desc with id tie-break, caps per cluster") {
    val out = Clustering.farthestPerCluster(kmeansFixture, "vec_id",
      "embedding", k = 2, iters = 3, dim = 4, perCluster = 2)
      .as[(Long, Long, Long, Double)].collect()
    val byCluster = out.groupBy(_._1)
    assert(byCluster.keySet == Set(0L, 1L))
    byCluster.values.foreach { rows =>
      assert(rows.length == 2)
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == Seq(1L, 2L))       // ranks 1..perCluster
      assert(sorted(0)._4 >= sorted(1)._4)                 // d2 descending
    }
    // the central points (ids 1, 2) are never in the farthest-2 of their
    // 3-member clusters — the outlier queue contains the periphery
    val ids = out.map(_._3).toSet
    assert(ids == Set(3L, 5L, 4L, 6L))
  }

  test("recallAtK: self-recall is 1, disjoint recall is 0, partial counts hits") {
    val exact = Seq((1L, 1L, 10L), (1L, 2L, 11L), (2L, 1L, 20L), (2L, 2L, 21L))
      .toDF("query_id", "rank", "neighbor_id")
    val same = Similarity.recallAtK(exact, exact, k = 2)
      .as[(Long, Long, Double)].collect().toSet
    assert(same == Set((1L, 2L, 1.0), (2L, 2L, 1.0)))
    val none = Seq((1L, 1L, 99L), (2L, 1L, 98L))
      .toDF("query_id", "rank", "neighbor_id")
    val zero = Similarity.recallAtK(exact, none, k = 2)
      .as[(Long, Long, Double)].collect().toSet
    assert(zero == Set((1L, 0L, 0.0), (2L, 0L, 0.0)))
    val half = Seq((1L, 1L, 10L), (2L, 1L, 77L))
      .toDF("query_id", "rank", "neighbor_id")
    val part = Similarity.recallAtK(exact, half, k = 2)
      .as[(Long, Long, Double)].collect().toSet
    assert(part == Set((1L, 1L, 0.5), (2L, 0L, 0.0)))
    // a query whose exact result is shorter than k still scores 1.0 —
    // the denominator is the actual exact-result size, not k
    val short = Seq((3L, 1L, 30L)).toDF("query_id", "rank", "neighbor_id")
    val full = Similarity.recallAtK(short, short, k = 2)
      .as[(Long, Long, Double)].collect().toSet
    assert(full == Set((3L, 1L, 1.0)))
    // frames computed at a larger k are truncated to the k being
    // measured: an approx hit at rank 2 earns no credit at k=1
    val deepExact = Seq((1L, 1L, 10L), (1L, 2L, 11L))
      .toDF("query_id", "rank", "neighbor_id")
    val deepApprox = Seq((1L, 1L, 99L), (1L, 2L, 10L))
      .toDF("query_id", "rank", "neighbor_id")
    val strict = Similarity.recallAtK(deepExact, deepApprox, k = 1)
      .as[(Long, Long, Double)].collect().toSet
    assert(strict == Set((1L, 0L, 0.0)), s"got $strict")
  }

  test("winnowing: shared run >= w+k-1 tokens guarantees a shared fp") {
    val k = 4; val w = 5
    // docs 1/2 share an 8-token run (= w+k-1) embedded in different
    // surroundings; doc 3 shares nothing; doc 4 is below k tokens
    val run = "alpha bravo charlie delta echo foxtrot golf hotel"
    val wd = Seq(
      (1L, s"one two $run nine ten"),
      (2L, s"zzz yyy xxx $run www vvv uuu"),
      (3L, "completely unrelated content with no common window at all really"),
      (4L, "too short")
    ).toDF("doc_id", "text")
    val fps = Dedup.winnowFingerprints(wd, "text", "doc_id", k, w)
      .as[(Long, String)].collect().groupBy(_._1)
      .map { case (id, xs) => id -> xs.map(_._2).toSet }
    // the MOSS guarantee: at least one selected fingerprint in common
    assert((fps(1L) intersect fps(2L)).nonEmpty)
    assert((fps(1L) intersect fps(3L)).isEmpty)
    assert(!fps.contains(4L)) // < k tokens: no grams, degrades out
    // compression: never more fps than windows
    val nToks = 12
    assert(fps(1L).size <= nToks - k + 1 - w + 1)

    // the pair gate surfaces exactly the guaranteed pair
    val pairs = Dedup.winnowPairs(wd, "text", "doc_id", k, w, minShared = 1)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))

    // hot-fp cap: with every fp over-cap, no pairs survive (and no skewed
    // window is involved in dropping them)
    val none = Dedup.winnowPairs(wd, "text", "doc_id", k, w,
      minShared = 1, maxDocsPerFp = 1)
    assert(none.count() == 0)

    // mixed: a boilerplate fingerprint (3 identical docs > cap 2) drops
    // via the count pre-filter while an under-cap pair still surfaces
    val runA = "one two three four five six seven eight"
    val runB = "red orange yellow green blue indigo violet ultra"
    val mixed = Seq((11L, runA), (12L, runA), (13L, runA),
      (14L, runB), (15L, runB)).toDF("doc_id", "text")
    val kept = Dedup.winnowPairs(mixed, "text", "doc_id", k, w,
      minShared = 1, maxDocsPerFp = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(kept == Set((14L, 15L)), s"got $kept")
  }

  test("within-doc dedup keeps first occurrences; cross-doc repeats stay") {
    val d = Seq(
      (1L, "a b c a b c d e f"),  // repeats its own first chunk
      (2L, "a b c x y z")         // shares a chunk with doc 1 — NOT dropped
    ).toDF("doc_id", "text")
    val out = Dedup.dedupWithinDoc(d, "text", "doc_id", w = 3)
      .select("doc_id", "n_chunks", "n_kept", "clean_text")
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 3L, 2L, "a b c d e f")))
    assert(out(2L) == ((2L, 2L, 2L, "a b c x y z")))
  }

  test("dup-ratio: corpus-wide chunk multiplicity incl. within-doc repeats") {
    val d = Seq(
      (1L, "a b c d e f"),  // shares "a b c" with doc 2
      (2L, "a b c x y z"),
      (3L, "p q r s t u"),  // fully unique
      (4L, "m m m m m m")   // duplicates ITSELF: both chunks identical
    ).toDF("doc_id", "text")
    val out = Dedup.chunkDupStats(d, "text", "doc_id", w = 3)
      .select("doc_id", "n_chunks", "n_dup", "sum_mult", "dup_ratio",
        "soft_weight")
      .as[(Long, Long, Long, Long, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 2L, 1L, 3L, 0.5, 0.666667)))
    assert(out(2L) == ((2L, 2L, 1L, 3L, 0.5, 0.666667)))
    assert(out(3L) == ((3L, 2L, 0L, 2L, 0.0, 1.0)))
    // within-doc repeat: the chunk occurs twice corpus-wide, so BOTH
    // occurrences are duplicated content and the weight halves
    assert(out(4L) == ((4L, 2L, 2L, 4L, 1.0, 0.5)))
  }

  test("rrf fusion: sum of reciprocal ranks, null rank for a missing leg") {
    val sparse = Seq((10L, 1), (20L, 2), (30L, 3)).toDF("doc_id", "rank")
    val dense = Seq((20L, 1), (30L, 2), (40L, 3)).toDF("doc_id", "rank")
    val out = Similarity.rrfFuse(
      Seq("sparse" -> sparse, "dense" -> dense), "doc_id", "rank",
      k0 = 60, k = 4)
      .select("doc_id", "sparse_rank", "dense_rank", "rrf")
      .as[(Long, Option[Long], Option[Long], Double)].collect()
    // id 20 leads (1/62 + 1/61); ids 10 and 40 tie at 1/61 exactly —
    // the id tiebreak must order 10 before 40 deterministically
    assert(out.map(_._1).toSeq == Seq(20L, 30L, 10L, 40L))
    assert(out(2)._3.isEmpty && out(3)._2.isEmpty) // single-leg items
    val expected20 = BigDecimal(1.0 / 62 + 1.0 / 61)
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(0)._4 == expected20)
  }

  test("deboilerplate drops ALL occurrences of repeated chunks, rebuilds") {
    val d = Seq(
      (1L, "a b c d e f"),   // "a b c" repeats corpus-wide -> dies here too
      (2L, "a b c x y z"),
      (3L, "a b c a b c")    // all boilerplate: document drops out
    ).toDF("doc_id", "text")
    val out = Dedup.deboilerplate(d, "text", "doc_id", w = 3, maxMult = 2)
      .select("doc_id", "n_chunks", "n_kept", "clean_text")
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 2L, 1L, "d e f")))
    assert(out(2L) == ((2L, 2L, 1L, "x y z")))
    assert(!out.contains(3L))
    // contrast with chunkDedup: FIRST occurrence survives there
    val kept = Dedup.chunkDedup(d, "text", "doc_id", w = 3)
      .filter(col("doc_id") === 1L).select("clean_text").as[String].head()
    assert(kept == "a b c d e f")
  }

  test("url normalize: every rule fires; non-default ports and case survive") {
    val cases = Seq(
      // case fold scheme+host only, www+default port+fragment+tracking
      // strip, param sort, trailing slash collapse
      ("HTTPS://WWW.Example.COM:443/A/b/?utm_source=x&b=2&a=1#frag",
        "https://example.com/A/b?a=1&b=2", "example.com"),
      // bare host, default http port: path normalizes to "/"
      ("http://Host.com:80", "http://host.com/", "host.com"),
      // tracking-only query disappears entirely
      ("https://h.io/p?utm_x=1&ref=z&fbclid=q", "https://h.io/p", "h.io"),
      // NON-default port is identity, not noise
      ("https://h.io:8080/p", "https://h.io:8080/p", "h.io:8080"),
      // :80 is only default for http — on https it stays
      ("https://h.io:80/p", "https://h.io:80/p", "h.io:80"),
      // not a hierarchical URL: left untouched
      ("mailto:x@y.z", "mailto:x@y.z", "")
    ).toDF("url", "want_norm", "want_host")
    val got = cases.select(
      TextAnalysis.urlNormalize(col("url")).as("norm"),
      TextAnalysis.urlHost(col("url")).as("host"),
      col("want_norm"), col("want_host"))
      .as[(String, String, String, String)].collect()
    got.foreach { case (norm, host, wantNorm, wantHost) =>
      assert(norm == wantNorm, s"norm: $norm != $wantNorm")
      assert(host == wantHost, s"host: $host != $wantHost")
    }
  }

  test("quality calibrate == percent_rank: ties share, singleton is 0") {
    import graft.llm.QualityModel
    val d = Seq(
      (1L, "a", 0.1), (2L, "a", 0.2), (3L, "a", 0.2), (4L, "a", 0.4),
      (5L, "b", 0.9)
    ).toDF("doc_id", "source", "score")
    val out = QualityModel.calibrate(d, "score", "source")
      .select("doc_id", "pct").as[(Long, Double)].collect().toMap
    assert(out(1L) == 0.0)
    assert(out(2L) == 0.333333 && out(3L) == 0.333333) // tied cell shares
    assert(out(4L) == 1.0)
    assert(out(5L) == 0.0) // single-row group: percent_rank is 0, not 0/0
    // and the engine formulation must equal Spark's own window function
    val viaWindow = d.withColumn("pct",
      org.apache.spark.sql.functions.round(percent_rank().over(
        org.apache.spark.sql.expressions.Window.partitionBy("source")
          .orderBy("score")), 6))
      .select("doc_id", "pct").as[(Long, Double)].collect().toMap
    assert(out == viaWindow)
  }

  test("hammingTopK: identical vectors at distance 0, negated at `bits`; " +
    "ranking is integer-exact with id ties") {
    val base = Array.tabulate(64)(i => (math.sin(i + 1) * 2).toFloat)
    val vecs = Seq(
      0L -> base,                       // the query
      1L -> base.clone,                 // exact copy: distance 0
      2L -> base.map(x => -x),          // negated: every plane flips
      3L -> base.clone                  // second copy: tie, id breaks
    ).toDF("vec_id", "embedding")
    val q = vecs.filter($"vec_id" === 0)
    val out = IvfIndex(IvfIndex.OneCell, IvfIndex.Bits(48, 64)).topK(vecs, q,
        "vec_id", "embedding", k = 3, probes = 1)
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getLong(3))).sorted
    assert(out.toSeq == Seq((1, 1L, 0L), (2, 3L, 0L), (3, 2L, 48L)),
      out.mkString(","))
    // the packed word itself: 48 bits, positive long, deterministic
    val words = vecs.select($"vec_id",
        Similarity.hammingWord($"embedding", dim = 64)).as[(Long, Long)]
      .collect().toMap
    assert(words(0L) == words(1L) && words(0L) >= 0L &&
      words(0L) < (1L << 48))
    assert((words(0L) ^ words(2L)) == (1L << 48) - 1,
      "negation flips every plane sign")
    // blocking: the identical copies share the query's bucket exactly
    // (distance 0 — found); the negated vector's prefix is the
    // complement (prefix distance 4 at prefixBits = 4, outside the
    // 1-flip probe set — correctly missed: that's the blocking trade)
    val blocked = IvfIndex(IvfIndex.Prefix(48, 4), IvfIndex.Bits(48, 64))
      .topK(vecs, q, "vec_id", "embedding", k = 3, probes = 5)
      .collect().map(r => (r.getLong(2), r.getLong(3))).sorted
    assert(blocked.toSeq == Seq((1L, 0L), (3L, 0L)), blocked.mkString(","))
    // a prefix cell reads the codec's own word: no other pairing
    // composes; sign cells are strings, so a Signs index has no store
    import IvfIndex._
    val signs = IvfIndex(Signs(2, 64), Flat)
    Seq(() => IvfIndex(Prefix(48, 4), Flat), () => IvfIndex(Prefix(32, 4),
      Bits(48, 64)), () => IvfIndex(Signs(4, 64), Bits(48, 64)),
      () => IvfIndex(OneCell, ResidualPq(IndexedSeq(IndexedSeq(Array(0.0))))),
      () => signs.encode(vecs, "vec_id", "embedding"),
      () => signs.probe(vecs, q, "vec_id", "embedding", k = 3, probes = 1))
      .foreach(ix => intercept[IllegalArgumentException](ix()))
  }

  test("tokenEntropy: hand-computed nats, boilerplate scores low, " +
    "single-token doc gets a null normalized form") {
    val d = Seq(
      (1L, "a a b"),                 // counts 2,1: H = ln3 − (2ln2)/3
      (2L, "x x x x"),               // uniform single token: H = 0
      (3L, ""),                      // split("") = [""]: n = 1, H = 0
      (4L, "p q r s")                // all distinct: H = ln4 (maximum)
    ).toDF("doc_id", "text")
    val out = TextAnalysis.tokenEntropy(d, "text", "doc_id")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3),
          if (r.isNullAt(4)) None else Some(r.getDouble(4))))).toMap
    def r6(x: Double) = BigDecimal(java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP)).toDouble
    val h1 = math.log(3.0) -
      BigDecimal(java.math.BigDecimal.valueOf(2.0 * math.log(2.0))
        .setScale(9, java.math.RoundingMode.HALF_UP)).toDouble / 3.0
    assert(out(1L) == ((3L, 2L, r6(h1), Some(r6(h1 / math.log(3.0))))))
    assert(out(2L) == ((4L, 1L, 0.0, Some(0.0))))
    assert(out(3L) == ((1L, 1L, 0.0, None)))
    assert(out(4L)._3 == r6(math.log(4.0)))
    assert(out(4L)._4 == Some(1.0))
    // the quality signal: repeated boilerplate scores strictly below
    // same-length diverse prose
    assert(out(2L)._3 < out(4L)._3)
  }

  test("dedup_lsh_sizing counting shape: n_candidates/n_hit equal the " +
    "materialized pair-set formulation it replaced (r17)") {
    // the r17 restructure counts candidates from group sizes + deduped
    // colliding group pairs and evaluates truth hits as pairwise band
    // flags; this pin replays the OLD shape (materialize every leg's
    // pair set, distinct, semi-join) against the live query's output
    import org.apache.spark.sql.functions._
    val docs = graft.core.Tables.documents(spark, sf01)
    val truth = Dedup.jaccardFrom(
        Dedup.overlapCandidates(docs, "text", "doc_id",
          n = 3, maxDocsPerShingle = 50), threshold = 0.2)
      .select(col("id_a"), col("id_b")).localCheckpoint()
    val nTrue = truth.count()
    val groups = Dedup.minhashSigGroups(docs, "text", "doc_id",
      shingleN = 3, k = 8).localCheckpoint()
    val old = Seq(2, 4, 8).map { b =>
      val cand = Dedup.minhashLshFromGroups(groups, k = 8, bands = b)
        .select(col("id_a"), col("id_b")).distinct().localCheckpoint()
      b.toLong -> ((nTrue, cand.count(),
        truth.join(cand, Seq("id_a", "id_b"), "left_semi").count()))
    }.toMap
    val now = graft.SparkEntry.queries("dedup_lsh_sizing")(spark, sf01)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(now == old,
      s"counting shape diverged from the pair-set shape: $now vs $old")
  }
}
