package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.core.Tables
import graft.functions.{PqEncode, PqEncodeRecon}
import graft.llm.{Clustering, IvfIndex, Pq, Similarity}

/** r17 optimization pin: the fused [[graft.functions.PqEncode]] /
  * [[graft.functions.PqEncodeRecon]] codegen kernels must reproduce the
  * expression forest they replaced — per subspace,
  * `array_min(array(struct(selfDot(cb) − 2·dot(sub, cb), c)...)).c` over
  * plan-literal codebooks, and the `element_at(typedlit(book), code+1)`
  * reconstruction — BIT FOR BIT, because every PQ oracle replays that
  * algebra. The old formulation is rebuilt inline here as the reference.
  */
class PqKernelsSpec extends SparkSpec {

  /** The pre-r17 codesCol, verbatim (array_sort argmin = array_min under
    * the same (s, c) struct order). */
  private def oldCodesCol(vec: Column, m: Int, k: Int, subDim: Int,
      cbs: IndexedSeq[IndexedSeq[Array[Double]]]): Column = {
    val perSub = (0 until m).map { j =>
      val sub = slice(vec, j * subDim + 1, subDim)
      val scored = (0 until k).map { c =>
        val cb = cbs(j)(c)
        val s = lit(Pq.selfDot(cb)) -
          lit(2.0) * Similarity.dot(sub, typedlit(cb.toSeq))
        struct(s.as("s"), lit(c).as("c"))
      }
      array_sort(array(scored: _*)).getItem(0).getField("c")
    }
    array(perSub: _*)
  }

  /** The pre-r17 reconCol over a codes column, verbatim. */
  private def oldReconCol(codes: Column, m: Int,
      cbs: IndexedSeq[IndexedSeq[Array[Double]]]): Column =
    flatten(array((0 until m).map { j =>
      element_at(typedlit(cbs(j).map(_.toSeq)), element_at(codes, j + 1) + 1)
    }: _*))

  private def flat(cbs: IndexedSeq[IndexedSeq[Array[Double]]]) =
    cbs.flatMap(_.flatMap(_.toIndexedSeq))

  private def newCodes(vec: Column, m: Int, k: Int, subDim: Int,
      cbs: IndexedSeq[IndexedSeq[Array[Double]]]): Column =
    ColumnBridge.column(PqEncode(ColumnBridge.expression(vec),
      m, k, subDim, flat(cbs)))

  private def newRecon(vec: Column, m: Int, k: Int, subDim: Int,
      cbs: IndexedSeq[IndexedSeq[Array[Double]]]): Column =
    ColumnBridge.column(PqEncodeRecon(ColumnBridge.expression(vec),
      m, k, subDim, flat(cbs)))

  private def assertKernelsMatch(vec: Column, base: org.apache.spark.sql.DataFrame,
      m: Int, k: Int, subDim: Int,
      cbs: IndexedSeq[IndexedSeq[Array[Double]]]): Unit = {
    val diff = base.select(
        oldCodesCol(vec, m, k, subDim, cbs).as("oc"),
        newCodes(vec, m, k, subDim, cbs).as("nc"),
        oldReconCol(oldCodesCol(vec, m, k, subDim, cbs), m, cbs).as("or"),
        newRecon(vec, m, k, subDim, cbs).as("nr"))
      .filter(col("oc") =!= col("nc") || col("or") =!= col("nr"))
    assert(diff.count() == 0L,
      s"PQ kernel diverged from the expression forest (m=$m k=$k)")
  }

  test("PqEncode/PqEncodeRecon match the old expression forest on the " +
    "fixture corpus (seeded + trained books, raw + residual inputs)") {
    val e = Tables.embeddings(spark, sf001)
      .filter(size(col("embedding")) === 64)
    // seeded books, raw vectors (the adcTopK family)
    assertKernelsMatch(col("embedding"), e, m = 8, k = 16, subDim = 8,
      Pq.codebooks(8, 16, 8))
    // wide-codebook leg (the ann_ivfpq_mk (8,64) shape)
    assertKernelsMatch(col("embedding"), e, m = 8, k = 64, subDim = 8,
      Pq.codebooks(8, 64, 8))
    // trained books over quantized vectors (the trainCodebooks output
    // regime — dyadic grid inputs)
    val eq = e.select(col("vec_id"),
      Clustering.quantize(col("embedding")).as("qvec"))
    val trained = Pq.trainCodebooks(eq, "vec_id", "qvec",
      m = 8, k = 16, subDim = 8, iters = 1)
    assertKernelsMatch(col("qvec"), eq, m = 8, k = 16, subDim = 8, trained)
  }

  test("PqEncode matches the forest on adversarial literals: ties, " +
    "negatives, NaN-free zeros, short and null-element vectors") {
    import scala.jdk.CollectionConverters._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType, containsNull = true))))
    val rows = Seq(
      Seq(0.0, 0.0, 0.0, 0.0),                   // ties → lowest code
      Seq(1.0, -1.0, 0.5, -0.25),
      Seq(-0.0, 0.0, -0.0, 0.0),                 // signed-zero ties
      Seq(2.0, 2.0),                             // short: partial dots
      Seq(1.0, null, 0.5, 0.25)                  // null element → code 0
    ).map(s => org.apache.spark.sql.Row(s.map(_.asInstanceOf[Any])))
    val df = spark.createDataFrame(rows.asJava, schema)
    val cbs = Pq.codebooks(2, 4, 2)
    val diff = df.select(
        oldCodesCol(col("v"), 2, 4, 2, cbs).as("oc"),
        newCodes(col("v"), 2, 4, 2, cbs).as("nc"))
      .filter(col("oc") =!= col("nc"))
    assert(diff.count() == 0L, "edge-case codes diverged")
  }

  test("trainCodebooks (PqEncode-assigned rounds) reproduces the pinned " +
    "2-iteration books the oracle replays") {
    // the residual-book training feeding every ann_ivfpq* oracle: if the
    // r17 assignment restructure changed ANY code, these books — and
    // every downstream oracle row — would move. Train twice, compare the
    // two derivations' determinism, and pin against the old-forest
    // assignment replayed manually for one round.
    val e = Tables.embeddings(spark, sf001)
      .filter(size(col("embedding")) === 64)
    val eq = e.select(col("vec_id"),
      Clustering.quantize(col("embedding")).as("qvec"))
    val a = Pq.trainCodebooks(eq, "vec_id", "qvec", 8, 16, 8, iters = 2)
    val b = Pq.trainCodebooks(eq, "vec_id", "qvec", 8, 16, 8, iters = 2)
    assert(a.flatten.flatten == b.flatten.flatten, "training not deterministic")
    // one-round manual replay with the OLD forest assignment
    val init = {
      val first = eq.orderBy(col("vec_id")).limit(16).collect()
        .map(_.getSeq[Double](1).toArray)
      (0 until 8).map(j => first.toIndexedSeq.map(
        _.slice(j * 8, (j + 1) * 8)))
    }
    val sums = eq
      .select(oldCodesCol(col("qvec"), 8, 16, 8, init).as("codes"),
        posexplode(col("qvec")))
      .select((col("pos") / lit(8)).cast("int").as("j"),
        element_at(col("codes"), (col("pos") / lit(8)).cast("int") + 1)
          .as("c"),
        (col("pos") % lit(8)).cast("int").as("p"), col("col"))
      .groupBy("j", "c", "p")
      .agg(sum(col("col")).as("s"), count(lit(1)).as("n"))
      .collect()
    val byJc = sums.groupBy(r => (r.getInt(0), r.getInt(1)))
    val manual = init.zipWithIndex.map { case (book, j) =>
      book.zipWithIndex.map { case (prev, c) =>
        byJc.get((j, c)) match {
          case Some(rs) =>
            val arr = new Array[Double](8)
            rs.foreach(r => arr(r.getInt(2)) = r.getDouble(3) / r.getLong(4))
            arr.toIndexedSeq
          case None => prev.toIndexedSeq
        }
      }
    }
    val oneRound = Pq.trainCodebooks(eq, "vec_id", "qvec", 8, 16, 8,
      iters = 1)
    assert(oneRound.map(_.map(_.toIndexedSeq)) == manual,
      "PqEncode-assigned Lloyd round diverged from the old-forest round")
  }

  test("r18 shared residual frame: training and ADC topK from a " +
    "checkpointed residualFrame are bit-identical to the corpus-scan path") {
    // the r18 sharing restructure (one localCheckpointed residual frame
    // feeding the whole residual family + every Lloyd round) must not
    // move a single value: pin trainCodebooks-on-frame against
    // trainResidualCodebooks, at the serving layout AND an off-layout
    // mk-sweep leg, and ivfPqResidualTopKOn against ...With row-for-row.
    val e = Tables.embeddings(spark, sf001)
    val cents = IvfIndex.Trained.train(e, "vec_id", "embedding",
      k = 8, iters = 2, dim = 64)
    val res = cents.residuals(e, "vec_id", "embedding").localCheckpoint()
    val direct = IvfIndex.ResidualPq.train(cents, e, "vec_id", "embedding",
      m = 8, k = 16, subDim = 8, iters = 2).codebooks
    val shared = Pq.trainCodebooks(res, "vec_id", "__res",
      m = 8, k = 16, subDim = 8, iters = 2)
    assert(direct.flatten.flatten == shared.flatten.flatten,
      "shared-frame training diverged at the (8,16) serving layout")
    val direct2 = IvfIndex.ResidualPq.train(cents, e, "vec_id",
      "embedding", m = 16, k = 16, subDim = 4, iters = 2).codebooks
    val shared2 = Pq.trainCodebooks(res, "vec_id", "__res",
      m = 16, k = 16, subDim = 4, iters = 2)
    assert(direct2.flatten.flatten == shared2.flatten.flatten,
      "shared-frame training diverged at the (16,16) mk-sweep layout")
    val q = e.filter(col("vec_id") < 10)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(identity).toSeq
    val withPath = rows(IvfIndex(cents, IvfIndex.ResidualPq(direct))
      .topK(e, q, "vec_id", "embedding", k = 3, probes = 2))
    val onPath = rows(IvfIndex(cents, IvfIndex.ResidualPq(shared))
      .topK(e, q, "vec_id", "embedding", k = 3, probes = 2,
        residuals = Some(res)))
    assert(withPath == onPath,
      "ivfPqResidualTopKOn diverged from the corpus-scan path")
  }

  test("trainCodebooksSnapshots: snapshot(i) is bit-identical to an " +
    "independent training run at depth i (Lloyd rounds nest)") {
    // the property ann_ivfpq_iters' one-run sweep rests on: the books
    // after i rounds of a longer run equal a standalone iters=i run
    val e = Tables.embeddings(spark, sf001)
      .filter(size(col("embedding")) === 64)
    val eq = e.select(col("vec_id"),
      Clustering.quantize(col("embedding")).as("qvec"))
    val snaps = Pq.trainCodebooksSnapshots(eq, "vec_id", "qvec",
      m = 8, k = 16, subDim = 8, snapshots = Seq(1, 2, 4))
    for (i <- Seq(1, 2, 4)) {
      val solo = Pq.trainCodebooks(eq, "vec_id", "qvec", 8, 16, 8,
        iters = i)
      assert(snaps(i).flatten.flatten.toSeq == solo.flatten.flatten.toSeq,
        s"snapshot($i) diverged from an independent iters=$i run")
    }
  }
}
