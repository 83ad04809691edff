package graft.llm

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables.spread
import IvfIndex._

/** The IVF index as a COMPOSITION — FAISS's `index_factory` model
  * (`IVFx,Flat` / `IVFx,SQ8` / `IVFx,PQy`, and the binary
  * `IndexBinaryIVF`/`IndexLSH`; Jégou, Douze & Schmid, TPAMI 2011): a
  * [[CoarseQuantizer]] gives every corpus vector ONE home cell and every
  * query its `probes` nearest cells, and a [[Codec]] decides what a cell
  * stores and how a candidate scores against a query. Every path below
  * is written once and specialised only where a codec genuinely differs,
  * so the axis/trained/sign/prefix quantizers and the float/SQ8/PQ/bits
  * codecs can never diverge on length filtering, self-exclusion,
  * probing, tie-breaks or sidecar discipline.
  *
  * Every stage is a plain Catalyst `Column`: the cell and probe
  * expressions ride the plan as literals (centroids, codebooks), encode
  * is map-only, and the per-query top-k is one window over the
  * cell-equi-join — nothing here is query × corpus.
  *
  * Paths:
  *  - [[topK]]: the in-memory (eval) scan — queries broadcast, the
  *    corpus encoded on the fly (the fused [[graft.functions.PqEncodeRecon]]
  *    kernel for the PQ codecs, no intermediate codes).
  *  - [[write]] / [[encode]]: the store, `partitionBy("cell")`, plus the
  *    `_quantizer/` (trained cells) and `_codebooks/` (residual PQ)
  *    sidecars that make it self-describing. [[encode]] is also the
  *    append row ([[appendRows]]).
  *    A [[Signs]] index has no store: its cells are strings.
  *  - [[probe]]: serving from a store — the probed cells arrive as a
  *    literal IN-list ([[probedStore]]) and become `PartitionFilters`.
  *  - [[refine]]: the `RFlat` exact re-rank of a shortlist.
  *
  * Outputs: the cosine codecs ([[Flat]], [[Sq8]]) return (query_id,
  * rank: int, neighbor_id, score rounded to `roundScore`), score
  * descending; the ADC codecs ([[SeededPq]], [[ResidualPq]]) return
  * (query_id, rank: long, neighbor_id), squared L2 ascending; [[Bits]]
  * returns (query_id, rank: int, neighbor_id, hamming: long), Hamming
  * distance ascending. Ties break on neighbor id everywhere. */
final case class IvfIndex(coarse: CoarseQuantizer, codec: Codec) {

  /** Components a codec reads beyond the coarse stage's own filter. */
  private val minDim = codec match {
    case p: SeededPq => p.m * p.subDim
    case b: Bits => b.dim
    case _ => 0
  }

  (coarse, codec) match {
    case (t: Trained, p: SeededPq) => require(t.dim >= minDim,
      s"dim=${t.dim} shorter than the ${p.m}×${p.subDim} PQ layout")
    case (t: Trained, r: ResidualPq) =>
      require(r.codebooks.nonEmpty,
        "ResidualPq.Stored names a store's codebooks: resolve it with " +
          "IvfIndex.load")
      require(t.dim == r.m * r.subDim,
        s"residual PQ must cover the vector: dim=${t.dim} != " +
          s"${r.m}×${r.subDim} " +
          "(wrong or damaged _codebooks sidecar?)")
    case (_, _: ResidualPq) => throw new IllegalArgumentException(
      "residual PQ encodes v − centroid[cell]: it needs a Trained " +
        "coarse quantizer")
    case (p: Prefix, b: Bits) => require(p.bits == b.bits,
      s"the prefix cells read ${p.bits}-bit words, the codec writes ${b.bits}")
    case (_: Prefix, _) | (_: Axis | _: Trained | _: Signs, _: Bits) =>
      throw new IllegalArgumentException(
        "a Bits codec pairs with OneCell or Prefix, and Prefix with Bits")
    case _ => ()
  }

  /** The length filter of this composition: too-short (axis) or
    * off-dimension (trained) vectors degrade OUT of the index on both
    * sides instead of failing the job under ANSI array indexing. */
  private def ok(vec: Column): Column = coarse.lenOk(vec, minDim)

  /** The vector the cosine codecs normalize: raw, or snapped onto the
    * int8 grid ([[Quantize.snap]] — bit-identical to encode→decode). */
  private def cosineVec(vec: Column): Column =
    if (codec == Sq8) Quantize.snap(vec) else vec

  private def residualRows(df: DataFrame, idCol: String, vecCol: String,
      residuals: Option[DataFrame]): DataFrame =
    residuals.getOrElse(trained.residuals(df, idCol, vecCol))

  private def trained: Trained = coarse.asInstanceOf[Trained]

  /** A [[Signs]] cell is a '0'/'1' string, not an integral partition
    * key that [[probedStore]] can prune on: a Signs index is in-memory
    * only ([[topK]]). */
  private def requireStorable(): Unit = require(!coarse.isInstanceOf[Signs],
    "Signs cells are '0'/'1' strings, not store partitions: a Signs index " +
      "serves topK only")

  /** The corpus side of the in-memory scan: (neighbor_id, payload, cell)
    * as the ranker reads it. [[Flat]]'s scan row IS its store row. */
  private def scan(corpus: DataFrame, idCol: String, vecCol: String,
      residuals: Option[DataFrame]): DataFrame = {
    val vec = col(vecCol)
    val id = col(idCol).as("neighbor_id")
    codec match {
      case Flat | Sq8 => corpus.filter(ok(vec)).select(id,
        Similarity.normalize(cosineVec(vec)).as("cv"),
        coarse.home(vec).as("cell"))
      case p: SeededPq => spread(corpus).filter(ok(vec)).select(id,
        coarse.home(vec).as("cell"),
        Pq.encodeReconCol(vec, p.codebooks).as("__recon"))
      case r: ResidualPq => residualRows(corpus, idCol, vecCol, residuals)
        .select(id, col("cell"),
          Pq.encodeReconCol(col("__res"), r.codebooks).as("__recon"))
      case b: Bits => corpus.filter(ok(vec)).select(id, b.word(vec).as("cw"))
        .withColumn("cell", coarse.home(col("cw")))
    }
  }

  /** The ONE encode path: the (neighbor_id, cell, payload) row a store
    * holds — float `cv` ([[Flat]]), `scale` + int8 `codes` ([[Sq8]]),
    * the residual PQ `codes` ([[ResidualPq]]) or the word `cw`
    * ([[Bits]]). It is the store row [[write]] persists and the append
    * row [[appendRows]] emits, so a streamed append is byte-identical
    * to the batch write. Map-only;
    * works on streaming frames. `residuals`: a precomputed
    * [[Trained.residuals]] frame of `df` (the shared-substrate hook). */
  def encode(df: DataFrame, idCol: String, vecCol: String,
             residuals: Option[DataFrame] = None): DataFrame = {
    requireStorable()
    val vec = col(vecCol)
    codec match {
      case Flat | _: Bits => scan(df, idCol, vecCol, None)
      case Sq8 => df.filter(ok(vec)).select(col(idCol).as("neighbor_id"),
        (Quantize.absMax(vec) / 127.0).as("scale"),
        Quantize.int8Codes(vec).as("codes"), coarse.home(vec).as("cell"))
      case r: ResidualPq => residualRows(df, idCol, vecCol, residuals)
        .select(col(idCol).as("neighbor_id"), col("cell"),
          Pq.codesCol(col("__res"), r.codebooks).as("codes"))
      case _: SeededPq => throw new IllegalArgumentException(
        "seeded PQ has no store layout: write a ResidualPq index")
    }
  }

  /** The query side: (query_id, payload, cell) with one row per probed
    * cell. The residual codec carries the per-(query, cell) residual
    * `__qr` — a query has a different residual in each probed cell; the
    * [[Bits]] codec probes from its own word. */
  private def queryRows(queries: DataFrame, idCol: String, vecCol: String,
      probes: Int): DataFrame = {
    val vec = col(vecCol)
    val id = col(idCol).as("query_id")
    def cells = explode(coarse.probeCells(vec, probes)).as("cell")
    val q = queries.filter(ok(vec))
    codec match {
      case b: Bits => q.select(id, b.word(vec).as("qw"))
        .withColumn("cell", explode(coarse.probeCells(col("qw"), probes)))
      case Flat | Sq8 =>
        val qv = Similarity.normalize(cosineVec(vec)).as("qv")
        coarse match {
          // the sign bits are projected once before the explode: inside
          // the probe Generate every plane's dot would run once per probe
          case s: Signs =>
            val bs = (0 until s.b).map(i => s"__b$i")
            q.select(id +: qv +: s.bits(vec).zip(bs)
                .map { case (bt, n) => bt.as(n) }: _*)
              .select(col("query_id"), col("qv"),
                explode(s.probesOf(bs.map(col), probes)).as("cell"))
          case _ => q.select(id, qv, cells)
        }
      case _: SeededPq =>
        q.select(id, vec.cast("array<double>").as("__qv"), cells)
      case _: ResidualPq =>
        q.select(id, Clustering.quantize(vec).as("__qw"), cells)
          .withColumn("__qr", trained.residual(col("__qw"))).drop("__qw")
    }
  }

  /** The ranker, one per score order: cosine descending for the cosine
    * codecs; squared L2 ascending for ADC, with ‖q‖² dropped (constant
    * per query) except for residual PQ, whose third term dot(qr, qr)
    * differs per probed cell and so must stay — dropping it would
    * misorder candidates ACROSS cells. All terms are sequential-fold
    * dots on literal-derived doubles: engine-exact. [[Bits]] ranks by
    * the integer popcount ascending. */
  private def rank(c: DataFrame, q: DataFrame, k: Int,
      roundScore: Int): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    val pairs = c.join(q, Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
    codec match {
      case Flat | Sq8 => Similarity.rankDesc(pairs.withColumn("score",
        Similarity.dot(col("qv"), col("cv"))), k, roundScore)
      case _: SeededPq => Pq.rankAsc(pairs.withColumn("__d",
        Pq.l2Score(col("__recon"), col("__qv"))), k)
      case _: ResidualPq => Pq.rankAsc(pairs.withColumn("__d",
        Pq.l2Score(col("__recon"), col("__qr")) +
          Similarity.dot(col("__qr"), col("__qr"))), k)
      case _: Bits => Similarity.rankWithin(pairs.withColumn("hamming",
          expr("cast(bit_count(cw ^ qw) as bigint)")), k, col("hamming").asc)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          col("hamming"))
    }
  }

  /** In-memory top-`k`: the corpus encoded on the fly, the (sampled)
    * queries broadcast with `probes` rows each, candidates ranked within
    * the shared cells. [[Prefix]] cells are the exception: the blocked
    * binary scan serves query batches up to corpus scale, where a forced
    * broadcast of the (prefixBits+1)×-exploded probe frame would blow the
    * driver, so its cell join carries no hint and AQE sizes it at runtime
    * (a small batch still lands on a broadcast hash join). `residuals`
    * (residual PQ only): a precomputed [[Trained.residuals]] frame of
    * `corpus` — a caller feeding many consumers from one corpus
    * materializes it once; results are bit-identical to the corpus-scan
    * path. */
  def topK(corpus: DataFrame, queries: DataFrame, idCol: String,
           vecCol: String, k: Int, probes: Int, roundScore: Int = 6,
           residuals: Option[DataFrame] = None): DataFrame = {
    val q = queryRows(queries, idCol, vecCol, probes)
    rank(scan(corpus, idCol, vecCol, residuals),
      if (coarse.isInstanceOf[Prefix]) q else broadcast(q), k, roundScore)
  }

  /** Materialize the store: [[encode]] rows written PARTITIONED BY cell
    * (one map-only pass, the write shuffles nothing; an empty corpus
    * leaves one empty `cell=0` file so the store still reads back as
    * zero rows), then the sidecars that make the store servable cold
    * without retraining — the coarse quantizer as `_quantizer/`,
    * residual codebooks as `_codebooks/`.
    *
    * WRITE-ORDER CRASH WINDOW: overwrite mode clears the root, so the
    * sidecars are written AFTER the data; a driver failure between the
    * two commits leaves a data-complete store without sidecars. That is
    * an interrupted write, not corruption — [[load]] fails loudly on it
    * ([[requireSidecar]]) and the remedy is to re-run the write. A
    * Delta/Iceberg store closes the window with an atomic log commit. */
  def write(corpus: DataFrame, idCol: String, vecCol: String, path: String,
            residuals: Option[DataFrame] = None): Unit = {
    val rows = encode(corpus, idCol, vecCol, residuals)
    rows.write.mode("overwrite").partitionBy("cell").parquet(path)
    val spark = corpus.sparkSession
    import spark.implicits._
    // an empty corpus writes no cell partition, and a store with no data
    // file has no schema to read back: leave one empty cell
    val root = new org.apache.hadoop.fs.Path(path)
    if (root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .globStatus(new org.apache.hadoop.fs.Path(root, "cell=*")).isEmpty)
      rows.drop("cell").limit(0).write.parquet(s"$path/cell=0")
    coarse match {
      case t: Trained => writeSidecar(t.centroids.zipWithIndex
        .map { case (c, j) => (j, c.toSeq) }.toDF("cell", "centroid"),
        path, "_quantizer")
      case _ => ()
    }
    codec match {
      case r: ResidualPq => writeSidecar((for {
        (book, j) <- r.codebooks.zipWithIndex; (cw, c) <- book.zipWithIndex
      } yield (j, c, cw.toSeq)).toDF("subspace", "code", "codeword"),
        path, "_codebooks")
      case _ => ()
    }
  }

  /** Serve a [[write]] store: the probed cells are collected into a
    * literal IN-list ([[probedStore]], bounded by the cell domain) so
    * they become `PartitionFilters` on the scan, the codec decodes the
    * stored payload (dequantized int8, or codeword reconstruction from
    * the stored codes), and the same ranker as [[topK]] runs — row-
    * identical to [[topK]] on the same corpus and quantizers. The join
    * carries no broadcast hint: AQE broadcasts a small probe batch and
    * shuffles a corpus-scale one. EAGER: the query side is checkpointed
    * and the IN-list collected before this returns. */
  def probe(store: DataFrame, queries: DataFrame, idCol: String,
            vecCol: String, k: Int, probes: Int,
            roundScore: Int = 6): DataFrame = {
    requireStorable()
    val (q, c) = probedStore(store, queryRows(queries, idCol, vecCol, probes))
    val cand = codec match {
      case Sq8 => c.select(col("neighbor_id"), Similarity.normalize(
        Quantize.dequantize(col("codes"), col("scale"))).as("cv"), col("cell"))
      case r: ResidualPq => c.select(col("neighbor_id"), col("cell"),
        Pq.reconCol(col("codes"), r.codebooks).as("__recon"))
      case _ => c
    }
    rank(cand, q, k, roundScore)
  }

  /** The exact re-rank (FAISS `RFlat`) of a (query_id, neighbor_id, …)
    * shortlist down to `k`, on the codec's exact metric — squared L2
    * for the ADC codecs, cosine (the cosine contract, rounded to 6
    * places) for [[Bits]]: the shortlist equi-joins back to the FLOAT corpus on
    * neighbor_id, so the exact kernel touches |Q|·candK rows, never the
    * corpus scan. Compose it over [[topK]] or [[probe]] at `k = candK`;
    * since the code ranking is deterministic, its `rank <= c` prefix is
    * the candK = c shortlist. */
  def refine(shortlist: DataFrame, corpus: DataFrame, queries: DataFrame,
             idCol: String, vecCol: String, k: Int): DataFrame = {
    val vec = col(vecCol)
    val (exact, c) = codec match {
      case _: Bits => (Similarity.normalize(vec), corpus)
      case _ => (vec.cast("array<double>"), spread(corpus))
    }
    val cv = c.filter(ok(vec)).select(col(idCol).as("neighbor_id"),
      exact.as("__cv"))
    val qv = queries.filter(ok(vec)).select(col(idCol).as("query_id"),
      exact.as("__qv"))
    val pairs = shortlist.select(col("query_id"), col("neighbor_id"))
      .join(cv, Seq("neighbor_id")).join(broadcast(qv), Seq("query_id"))
    codec match {
      case _: Bits => Similarity.rankDesc(pairs.withColumn("score",
        Similarity.dot(col("__qv"), col("__cv"))), k, 6)
      case _ => Pq.rankAsc(pairs.withColumn("__d",
        Pq.l2Score(col("__cv"), col("__qv"))), k)
    }
  }
}

object IvfIndex {

  /** The coarse stage: where a corpus vector lives and which cells a
    * query probes. */
  sealed trait CoarseQuantizer {
    /** Rows this quantizer (plus a codec reading `minDim` components)
      * can place. */
    def lenOk(vec: Column, minDim: Int): Column
    /** The corpus vector's ONE cell. */
    def home(vec: Column): Column
    /** The query's `probes` cells, as an int array. */
    def probeCells(vec: Column, probes: Int): Column
  }

  /** Axis cells over the first `m` components ([[Similarity.axisCells]]):
    * untrained and engine-portable, but only winner and runner-up have a
    * ranking, so `probes ≤ 2`. */
  final case class Axis(m: Int) extends CoarseQuantizer {
    def lenOk(vec: Column, minDim: Int): Column =
      size(vec) >= math.max(minDim, m)
    def home(vec: Column): Column = Similarity.axisCells(vec, m)._1
    def probeCells(vec: Column, probes: Int): Column = {
      require(probes >= 1 && probes <= 2, s"probes=$probes not in 1..2")
      val (cw, cr) = Similarity.axisCells(vec, m)
      array(Seq(cw, cr).take(probes): _*)
    }
  }

  /** Trained k-means centroids (FAISS `IVFx`): probes rank by the actual
    * quantizer distance, so any `probes ≤ k`. Cell scoring runs on the
    * dyadic-quantized vector exactly like the kmeans assignment, so the
    * oracle replays it; vectors not exactly `dim` long degrade out (the
    * kmeans universe — training, cells and probes share it). */
  final case class Trained(centroids: IndexedSeq[Array[Double]], dim: Int)
      extends CoarseQuantizer {
    require(centroids.nonEmpty && centroids.head.length == dim,
      s"centroids are ${centroids.headOption.fold(0)(_.length)}-dim but " +
        s"the layout says dim=$dim — wrong or damaged _quantizer sidecar?")

    def lenOk(vec: Column, minDim: Int): Column = size(vec) === dim

    /** Sort the (score, index) structs — struct comparison breaks ties
      * on the LOWEST index, the kmeans argmin — and take the first p. */
    def probeCells(vec: Column, probes: Int): Column = {
      require(probes >= 1 && probes <= centroids.length,
        s"probes=$probes out of [1, ${centroids.length}]")
      transform(slice(array_sort(Clustering.scoreStructs(
        Clustering.quantize(vec), centroids)), 1, probes),
        x => x.getField("j").cast("int"))
    }

    def home(vec: Column): Column = element_at(probeCells(vec, 1), 1)

    /** quantize(w − centroid[cell]) for a quantized vector `w` in a frame
      * with a `cell` column: one IEEE op per component, re-snapped onto
      * the dyadic 2⁻²⁰ grid so residual training sums stay EXACT. */
    private[llm] def residual(w: Column): Column = Clustering.quantize(
      zip_with(w, element_at(typedlit(centroids.map(_.toSeq)),
        col("cell") + 1), (a, b) => a - b))

    /** (idCol, cell, __res): each vector's residual against its home
      * cell — what residual PQ trains on and encodes. Row-local;
      * recomputed from the scan per action unless a caller
      * materializes it to share (the `residuals` hook of
      * [[IvfIndex.topK]]/[[IvfIndex.write]]). */
    def residuals(df: DataFrame, idCol: String, vecCol: String): DataFrame =
      spread(df).filter(lenOk(col(vecCol), 0))
        .select(col(idCol), Clustering.quantize(col(vecCol)).as("__w"),
          home(col(vecCol)).as("cell"))
        .withColumn("__res", residual(col("__w")))
        .drop("__w")
  }

  object Trained {
    /** k-means centroids over the len == `dim` corpus via
      * [[Clustering.trainCentroids]]' dyadic-grid Lloyd loop —
      * engine-exact, so an oracle replays training round for round.
      * Fewer than `k` vectors is refused (FAISS's contract). */
    def train(corpus: DataFrame, idCol: String, vecCol: String, k: Int,
              iters: Int, dim: Int): Trained = {
      require(k >= 2 && iters >= 1, s"k=$k, iters=$iters out of range")
      val base = corpus.filter(size(col(vecCol)) === dim)
        .select(col(idCol).as("__id"),
          Clustering.quantize(col(vecCol)).as("__w"))
      Trained(Clustering.trainCentroids(base, k, iters, dim), dim)
    }

    /** The store's own coarse quantizer, from its `_quantizer/` sidecar:
      * cell ids must be exactly 0..k−1 and all centroids one width equal
      * to `dim`. `expected`, a caller's own copy, is only a cross-check:
      * any difference (count, width or any component — parquet
      * round-trips doubles bit-exactly) is refused loudly, because
      * assigning rows with a drifted quantizer would place them in wrong
      * cell partitions with no error. */
    def load(spark: SparkSession, path: String, dim: Int,
             expected: Option[IndexedSeq[Array[Double]]] = None): Trained = {
      val rows = readSidecar(spark, path, "_quantizer", "quantizer",
        "centroid", "cell")
      rows.zipWithIndex.foreach { case (r, i) =>
        require(r.getInt(0) == i, s"quantizer sidecar at $path is not " +
          s"contiguous: expected cell $i, found ${r.getInt(0)}")
      }
      val stored = rows.map(_.getSeq[Double](1).toArray).toIndexedSeq
      require(stored.head.length == dim, s"store at $path was written " +
        s"for ${stored.head.length}-dim vectors, not dim=$dim")
      expected.foreach { c =>
        require(c.length == stored.length && c.zip(stored).forall {
          case (a, b) => java.util.Arrays.equals(a, b) },
          s"supplied centroids conflict with the quantizer sidecar at " +
            s"$path/_quantizer (${c.length} vs ${stored.length} cells, or " +
            "differing components) — appending with them would place rows " +
            "in wrong cell partitions silently; pass expected=None to use " +
            "the store's own quantizer, or rebuild the store if retraining " +
            "was intended")
      }
      Trained(stored, dim)
    }
  }

  /** Signs of `b` seeded random-rotation hyperplanes over `dim`
    * components ([[Similarity.rotationPlanes]]; random-hyperplane LSH,
    * FAISS `IndexLSH`): the cell is the '0'/'1' string of bit i =
    * sign(⟨vec, plane_i⟩), evaluated in the codegen'd [[Similarity.dot]]
    * against FOLDABLE literals and invariant to which dimensions carry
    * the variance. A query probes its own cell, then the `b` cells one
    * bit away (multi-probe LSH, Lv et al. VLDB'07), so `probes ≤ b + 1`;
    * `array_distinct` because a null bit (a null element upstream)
    * renders a flip identically to its own cell. The cell is a string,
    * not a partition key: a Signs index is in-memory only ([[topK]]). */
  final case class Signs(b: Int, dim: Int,
                         seed: Long = Similarity.DefaultSeed)
      extends CoarseQuantizer {
    private[llm] def bits(vec: Column): Seq[Column] =
      Similarity.rotationPlanes(b, dim, seed)
        .map(p => Similarity.dot(vec, typedlit(p.toSeq)) >= 0)
    private def render(bs: Seq[Column]): Column =
      concat(bs.map(bt => when(bt, lit("1")).otherwise(lit("0"))): _*)
    def lenOk(vec: Column, minDim: Int): Column =
      size(vec) >= math.max(dim, minDim)
    def home(vec: Column): Column = render(bits(vec))
    def probeCells(vec: Column, probes: Int): Column =
      probesOf(bits(vec), probes)
    /** The probe set from the `b` sign bits `bs`. */
    private[llm] def probesOf(bs: Seq[Column], probes: Int): Column = {
      require(probes >= 1 && probes <= b + 1,
        s"probes=$probes not in 1..${b + 1}")
      array_distinct(array((-1 until b).take(probes).map(f => render(
        bs.zipWithIndex.map { case (bt, i) => if (i == f) !bt else bt })): _*))
    }
  }

  /** The high `prefixBits` bits of a [[Bits]] word (`IndexBinaryIVF`
    * with a bit-prefix coarse stage) — so it reads the WORD, not the
    * vector: cell = cw >> (bits − prefixBits). A query probes its own
    * cell, then the `prefixBits` cells one prefix bit away, so
    * `probes ≤ prefixBits + 1`; a probe batch touches about
    * probes/2^prefixBits of the corpus. All-integer. */
  final case class Prefix(bits: Int, prefixBits: Int) extends CoarseQuantizer {
    require(prefixBits >= 1 && prefixBits < bits,
      s"prefixBits=$prefixBits out of [1, bits=$bits)")
    def lenOk(vec: Column, minDim: Int): Column = size(vec) >= minDim
    def home(word: Column): Column = shiftright(word, bits - prefixBits)
    def probeCells(word: Column, probes: Int): Column = {
      require(probes >= 1 && probes <= prefixBits + 1,
        s"probes=$probes not in 1..${prefixBits + 1}")
      array((-1 until prefixBits).take(probes).map(i =>
        if (i < 0) home(word) else home(word).bitwiseXOR(lit(1L << i))): _*)
    }
  }

  /** One cell holding the whole corpus: the brute scan as an index —
    * every query probes the one cell. */
  case object OneCell extends CoarseQuantizer {
    def lenOk(vec: Column, minDim: Int): Column = size(vec) >= minDim
    def home(vec: Column): Column = lit(0)
    def probeCells(vec: Column, probes: Int): Column = {
      require(probes == 1, s"probes=$probes: OneCell has one cell")
      array(lit(0))
    }
  }

  /** What a cell stores and how a candidate scores. */
  sealed trait Codec

  /** Normalized float vectors, cosine scoring (FAISS `Flat`). */
  case object Flat extends Codec

  /** Per-vector absmax int8 codes + scale ([[Quantize.int8Codes]], FAISS
    * `SQ8`): 4× smaller than [[Flat]]; both sides score on the int8 grid. */
  case object Sq8 extends Codec

  /** Seeded-codebook PQ of the raw vector with ADC scoring — the
    * deterministic stand-in fine stage ([[Pq.codebooks]]). */
  final case class SeededPq(m: Int, k: Int, subDim: Int,
                            seed: Long = Similarity.DefaultSeed) extends Codec {
    def codebooks: IndexedSeq[IndexedSeq[Array[Double]]] =
      Pq.codebooks(m, k, subDim, seed)
  }

  /** Trained PQ of the cell RESIDUAL v − centroid[cell] (the deployed
    * `IVFx,PQy`, Jégou et al. §IV: residuals have far lower variance,
    * so the same codebook budget buys a finer grid), ADC scoring with
    * the three-term distance. One codebook set serves every cell. */
  final case class ResidualPq(codebooks: IndexedSeq[IndexedSeq[Array[Double]]])
      extends Codec {
    def m: Int = codebooks.length
    def subDim: Int = codebooks.head.head.length
  }

  /** `bits`-bit sign fingerprints packed into one BIGINT
    * ([[Similarity.hammingWord]], FAISS `IndexBinaryFlat`): 8 bytes per
    * vector, candidates score by popcount(cw XOR qw) — all-integer, so
    * ranking replays engine-exactly. Vectors shorter than `dim` degrade
    * out. */
  final case class Bits(bits: Int, dim: Int,
                        seed: Long = Similarity.DefaultSeed) extends Codec {
    def word(vec: Column): Column = Similarity.hammingWord(vec, dim, bits, seed)
  }

  object ResidualPq {
    /** The codec of a stored residual index: [[IvfIndex.load]] binds it
      * to the store's own `_codebooks/` sidecar. */
    val Stored: ResidualPq = ResidualPq(IndexedSeq.empty)

    /** Lloyd-trained codebooks over `coarse`'s residuals of `corpus`
      * ([[Pq.trainCodebooks]] — exact dyadic sums, oracle-replayable). */
    def train(coarse: Trained, corpus: DataFrame, idCol: String,
              vecCol: String, m: Int, k: Int, subDim: Int,
              iters: Int = 1): ResidualPq = {
      require(coarse.dim == m * subDim,
        s"residual PQ must cover the vector: dim=${coarse.dim} != $m×$subDim")
      ResidualPq(Pq.trainCodebooks(coarse.residuals(corpus, idCol, vecCol),
        idCol, "__res", m, k, subDim, iters))
    }

    /** A store's own codebooks, from its `_codebooks/` sidecar: the
      * (subspace, code) grid must be complete and contiguous and every
      * codeword one width — a damaged sidecar fails loudly here instead
      * of silently mis-reconstructing. */
    def load(spark: SparkSession, path: String): ResidualPq = {
      val rows = readSidecar(spark, path, "_codebooks", "codebook",
        "codeword", "subspace", "code")
      val k = rows.last.getInt(1) + 1
      require(rows.length == (rows.last.getInt(0) + 1) * k,
        s"codebook sidecar at $path is not a full grid (${rows.length} rows)")
      rows.zipWithIndex.foreach { case (r, i) =>
        require(r.getInt(0) == i / k && r.getInt(1) == i % k,
          s"codebook sidecar at $path is not contiguous at row $i")
      }
      ResidualPq(rows.map(_.getSeq[Double](2).toArray).grouped(k)
        .map(_.toIndexedSeq).toIndexedSeq)
    }
  }

  /** The index a store was written with, rebuilt from the store's OWN
    * sidecars — never from a caller's copy: the coarse quantizer from
    * `_quantizer/` ([[Trained.load]], with its `expected` cross-check)
    * and, for a residual store, the codebooks from `_codebooks/`.
    * `codec` names the store's payload: [[Flat]] or [[Sq8]] rows, or
    * residual codes ([[ResidualPq.Stored]]; any [[ResidualPq]] passed
    * here is replaced by the store's own codebooks). */
  def load(spark: SparkSession, path: String, dim: Int, codec: Codec = Flat,
           expected: Option[IndexedSeq[Array[Double]]] = None): IvfIndex =
    IvfIndex(Trained.load(spark, path, dim, expected), codec match {
      case _: ResidualPq => ResidualPq.load(spark, path)
      case c => c
    })

  /** The append frame for an existing store, in [[IvfIndex.encode]]'s
    * exact row shape, with every quantizer bound to the TARGET store's
    * own sidecars ([[load]]): a streamer cannot assign cells from
    * drifted centroids, nor write codes the store's codebooks would
    * decode to wrong reconstructions — the codebooks are not even a
    * parameter. Works on streaming frames; the recipe is
    * `foreachBatch { _.write.mode("append").partitionBy("cell")
    * .parquet(store) }`. */
  def appendRows(df: DataFrame, idCol: String, vecCol: String,
                 storePath: String, dim: Int, codec: Codec = Flat,
                 expected: Option[IndexedSeq[Array[Double]]] = None)
      : DataFrame =
    load(df.sparkSession, storePath, dim, codec, expected)
      .encode(df, idCol, vecCol)

  /** Compact an over-fragmented partitioned index store IN PLACE —
    * the maintenance half of the streaming-ingest story: every streamed
    * [[appendRows]] / [[IvfIndex.encode]] micro-batch appends one file
    * per touched cell partition, and at ingest rates the accumulating
    * small files erode the pruned-read win the layout exists for
    * (listing cost, footer overhead, task fan-out). This rewrites ONLY
    * the partitions whose parquet file count exceeds
    * `maxFilesPerBucket`: the read is partition-pruned to those keys,
    * the rewrite is a DYNAMIC partition overwrite (untouched
    * partitions keep their files byte-for-byte), and each rewritten
    * partition lands as one file per holding task (≤ 1 here:
    * `repartition(partitionCol)` puts a key's rows in exactly one
    * task). Never a full-store rewrite.
    *
    * The over-threshold slice is `localCheckpoint`ed (materialized)
    * BEFORE the overwrite — the write must not stream from the very
    * files it is replacing. Serving is byte-identical before/after
    * (pinned in BucketingSpec: same probe rows, file count bounded).
    * Works for any partitioned store (the `cell` column of every
    * [[IvfIndex]] store; long/int/string keys). Returns the rewritten
    * partition keys (empty ⇒ nothing exceeded the threshold, nothing
    * written).
    *
    * CONCURRENCY CONTRACT — run with ingest quiesced: a plain parquet
    * directory has no transaction log, so a micro-batch appending into
    * a partition BETWEEN this function's snapshot read and its
    * overwrite commit would be silently replaced by the pre-append
    * snapshot (lost rows, no error). Schedule compaction between
    * micro-batches (foreachBatch, or a maintenance window on the
    * ingest trigger) — the standard posture for log-less file stores;
    * a Delta/Iceberg-backed store lifts the restriction with optimistic
    * commit conflict detection (the USAGE.md lakehouse swap). Concurrent
    * READERS are safe at parquet-task granularity but a probe spanning
    * the swap may see a partition mid-replacement — serve from a
    * snapshot path or quiesce reads too if that matters.
    *
    * CRASH WINDOW — same log-less-store root cause, different victim:
    * dynamic partition overwrite commits by DELETING each target
    * partition directory and renaming the staged replacement in; a
    * driver/JVM failure between the delete and the rename loses that
    * partition's data (readers see an empty or missing bucket — no
    * error, no marker). The window is job-commit-sized (small), but
    * durability-critical stores should either take a directory
    * snapshot first or use the Delta/Iceberg swap, whose atomic log
    * commit closes the window outright. */
  def compactIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                   partitionCol: String,
                   maxFilesPerBucket: Int): Seq[String] = {
    require(maxFilesPerBucket >= 1,
      s"maxFilesPerBucket=$maxFilesPerBucket must be >= 1")
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prefix = partitionCol + "="
    // directory names are Hive-ESCAPED value strings ('a b' stores as
    // 'a%20b'): unescape before comparing against column values, and
    // skip the null partition outright (no literal equals NULL, and
    // its marker string would crash the numeric coercions below)
    val over = fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(prefix))
      .filter(p => fs.listStatus(p.getPath).count(f =>
        f.isFile && f.getPath.getName.startsWith("part-"))
        > maxFilesPerBucket)
      .map(p => org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .unescapePathName(p.getPath.getName.substring(prefix.length)))
      .filter(_ != "__HIVE_DEFAULT_PARTITION__").toSeq.sorted
    if (over.isEmpty) return Nil
    val store = spark.read.parquet(path)
    // unescaped names are still strings; coerce to the inferred
    // partition dtype so the IN-list stays a PartitionFilters prune
    val keys = typedKeys(over, store.schema(partitionCol).dataType)
    val slice = store.filter(col(partitionCol).isin(keys: _*))
      .repartition(col(partitionCol))
      .localCheckpoint() // materialize before replacing the source files
    // report only keys that actually land in the rewrite: a dir whose
    // unescaped name matches no rows (shouldn't happen, but e.g. a
    // hand-made directory) is NOT overwritten by the dynamic commit
    // and must not be claimed as compacted. The comparison runs on the
    // TYPED key values used in the IN-list (r14 advice) — exact for any
    // partition dtype the coercion above covers (long/int/string, the
    // stores' universe); the cast-to-string fallback keeps exotic
    // inferable types (date/timestamp/decimal) best-effort, where
    // Spark's string rendering may differ from the directory-name format.
    val dvals = slice
      .select(col(partitionCol), col(partitionCol).cast("string"))
      .distinct().collect()
    val typedVals = dvals.map(_.get(0)).toSet
    val strVals = dvals.map(_.getString(1)).toSet
    slice.write.option("partitionOverwriteMode", "dynamic")
      .mode("overwrite").partitionBy(partitionCol).parquet(path)
    keys.zip(over).collect {
      case (k, name) if typedVals.contains(k) || strVals.contains(name) =>
        name
    }
  }

  /** A sidecar is one small parquet file INSIDE the store directory;
    * the leading underscore hides it from `spark.read.parquet(store)`
    * and partition discovery, and [[compactIndex]] touches
    * only partition dirs, so compaction preserves it. */
  private def writeSidecar(rows: DataFrame, path: String, name: String): Unit =
    rows.coalesce(1).write.mode("overwrite").parquet(s"$path/$name")

  /** A sidecar's rows ordered by its integer `keys`, validated to be
    * non-empty with every `vec` array one non-zero width — a damaged
    * sidecar must fail loudly here, not silently mis-score later. */
  private def readSidecar(spark: SparkSession, path: String, name: String,
      kind: String, vec: String, keys: String*): Array[Row] = {
    requireSidecar(spark, path, name)
    val rows = spark.read.parquet(s"$path/$name")
      .select(keys.map(col(_).cast("int")) :+ col(vec): _*)
      .orderBy(keys.map(col): _*).collect()
    require(rows.nonEmpty, s"empty $kind sidecar at $path/$name")
    val width = rows.head.getSeq[Double](keys.length).length
    require(width > 0, s"$kind sidecar at $path has empty ${vec}s")
    rows.zipWithIndex.foreach { case (r, i) =>
      val w = r.getSeq[Double](keys.length).length
      require(w == width, s"$kind sidecar at $path has inconsistent $vec " +
        s"widths: row $i is $w-dim, expected $width")
    }
    rows
  }

  /** Loud, diagnosable failure when a store is missing its sidecar: with
    * the data partitions present, the write was interrupted between the
    * data commit and the sidecar commit (see [[IvfIndex.write]]). */
  private def requireSidecar(spark: SparkSession, path: String,
                             name: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path, name)
    if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      throw new IllegalStateException(
        s"store at $path has no $name/ sidecar — if the data partitions " +
          "are present, the store write was interrupted between the data " +
          "commit and the sidecar commit (data is written first); re-run " +
          "the store write, or re-write just the sidecar if the trained " +
          "quantizer is still in hand")
  }

  /** The probe preamble of [[IvfIndex.probe]]: localCheckpoint the
    * exploded query frame (it is consumed twice — the IN-list collect
    * and the join), collect the DISTINCT probed cells (bounded by the
    * cell DOMAIN, never the batch or corpus size), and restrict the
    * store by the typed literal IN-list so the probed cells become
    * `PartitionFilters`. Returns (checkpointed queries, pruned store). */
  private def probedStore(indexed: DataFrame,
                          q: DataFrame): (DataFrame, DataFrame) = {
    val qc = q.localCheckpoint()
    val probed = qc.select("cell").distinct().collect()
      .map(_.get(0) match {
        case l: java.lang.Long => l.longValue
        case i: java.lang.Integer => i.toLong
        // before the catch-all: `other.getClass` on a null key would NPE
        // and mask the diagnostic
        case null => throw new IllegalArgumentException(
          "null probe cell — a query row produced no cell (null vector " +
            "element upstream?)")
        case other => throw new IllegalArgumentException(
          s"probe cell $other (${other.getClass.getSimpleName}) is not integral")
      }).sorted.toSeq.map(_.toString)
    (qc, indexed.filter(col("cell").isin(
      typedKeys(probed, indexed.schema("cell").dataType): _*)))
  }

  /** Coerce partition-key strings to the store column's ACTUAL dtype:
    * partition inference may hand back LONG/INT/STRING (or be disabled),
    * and an IN-list of mismatched literals would wrap the partition
    * column in a cast that stops unwrapping into `PartitionFilters`. */
  private def typedKeys(values: Seq[String],
                        dt: org.apache.spark.sql.types.DataType): Seq[Any] =
    dt match {
      case org.apache.spark.sql.types.LongType => values.map(_.toLong)
      case org.apache.spark.sql.types.IntegerType => values.map(_.toInt)
      case org.apache.spark.sql.types.ShortType => values.map(_.toShort)
      case _ => values
    }
}
