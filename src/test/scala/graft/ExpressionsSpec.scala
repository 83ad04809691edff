package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.functions._

import graft.functions.{Shingles, VectorOps}

/** The custom codegen expressions (vector kernels + shingling) against
  * their composable higher-order-function formulations — the perf path
  * must be numerically/semantically identical to the portable one. */
class ExpressionsSpec extends SparkSpec {
  import spark.implicits._

  test("codegen dot product matches aggregate(zip_with(...)) exactly") {
    val df = Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(0.5, -1.0, 2.0)),
      (Array(0.0f, 0.0f, 0.0f), Array(1.0, 1.0, 1.0)))
      .toDF("vf", "vd")
    val hof = aggregate(
      zip_with(transform(col("vf"), _.cast("double")), col("vd"),
        (p, q) => p * q),
      lit(0.0), (acc, v) => acc + v)
    val rows = df.select(VectorOps.dot(col("vf"), col("vd")).as("fast"),
      hof.as("ref")).collect()
    rows.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  test("null array elements null the result, matching the HOF fold") {
    val df = Seq(
      (Seq[Option[Double]](Some(1.0), None), Seq[Option[Double]](Some(2.0), Some(3.0))),
      (Seq[Option[Double]](Some(1.0), Some(2.0)), Seq[Option[Double]](Some(2.0), Some(3.0))))
      .toDF("a", "b")
    val out = df.select(
      VectorOps.dot(col("a"), col("b")).as("d"),
      VectorOps.l2normalize(col("a")).as("n")).collect()
    assert(out(0).isNullAt(0) && out(0).isNullAt(1))
    assert(out(1).getDouble(0) == 8.0)
    assert(!out(1).isNullAt(1))
  }

  test("codegen l2 normalize widens floats and divides by the l2 norm") {
    val out = Seq(Tuple1(Array(3.0f, 4.0f))).toDF("v")
      .select(VectorOps.l2normalize(col("v")).as("n"))
      .as[Seq[Double]].head()
    assert(out == Seq(0.6, 0.8))
  }

  test("distinct shingles: windowing, first-occurrence dedup, short input") {
    val out = Seq("a b c b a b c", "a b").toDF("text")
      .select(Shingles.distinctShingles(split(col("text"), "\\s+"), 3).as("sh"))
      .as[Seq[String]].collect()
    assert(out(0) == Seq("a b c", "b c b", "c b a", "b a b"))
    assert(out(1) == Seq.empty)
  }

  test("pyrepr matches CPython repr on known goldens") {
    import graft.functions.PyRepr
    // goldens generated with CPython 3: repr(x)
    val goldens = Seq(
      2.0 -> "2.0", 0.1 -> "0.1", 1.5 -> "1.5", 100.0 -> "100.0",
      12345678.5 -> "12345678.5", // Java: 1.23456785E7
      1e16 -> "1e+16", // Java: 1.0E16
      1.5e16 -> "1.5e+16",
      1e15 -> "1000000000000000.0",
      9999999999999998.0 -> "9999999999999998.0",
      0.0001 -> "0.0001", 1e-5 -> "1e-05", 6.55e-7 -> "6.55e-07",
      -2.5 -> "-2.5", -1e-5 -> "-1e-05",
      1.0 / 3.0 -> "0.3333333333333333",
      3.0000000000000004 -> "3.0000000000000004",
      250.00000000000003 -> "250.00000000000003",
      0.0 -> "0.0", -0.0 -> "-0.0",
      5e-324 -> "5e-324", 1.7976931348623157e308 -> "1.7976931348623157e+308",
      // decimal-tie double (exact …907.25): BOTH '…907.2' and '…907.3'
      // round-trip; CPython/DuckDB pick half-EVEN on the exact value,
      // Java's %.pe would pick HALF_UP ('…907.3')
      1164376756402907.25 -> "1164376756402907.2",
      Double.NaN -> "nan", Double.PositiveInfinity -> "inf",
      Double.NegativeInfinity -> "-inf")
    goldens.foreach { case (d, want) =>
      assert(PyRepr.repr(d) == want, s"repr($d)")
    }
    // codegen path produces the same strings as the static helper
    val df = goldens.map(_._1).filterNot(_.isNaN).toDF("d")
    val rows = df.select(col("d"), PyRepr.pyRepr(col("d")).as("r")).collect()
    rows.foreach(r => assert(r.getString(1) == PyRepr.repr(r.getDouble(0))))
  }

  test("pyrepr output always round-trips to the exact input double") {
    import graft.functions.PyRepr
    val rng = new scala.util.Random(42)
    (0 until 2000).foreach { _ =>
      val d = rng.nextInt(4) match {
        case 0 => rng.nextDouble() * 1e3
        case 1 => rng.nextDouble() * 1e18
        case 2 => rng.nextDouble() / 1e9
        case _ => java.lang.Double.longBitsToDouble(rng.nextLong())
      }
      if (!d.isNaN && !d.isInfinite) {
        val s = PyRepr.repr(d)
        assert(java.lang.Double.parseDouble(s) == d, s"round-trip $d -> $s")
      }
    }
  }

  test("winnow fingerprints match the declarative HOF formulation exactly") {
    import graft.functions.Winnow
    val docs = Seq(
      "the quick brown fox jumps over the lazy dog and runs far away now",
      "a b c d",                       // exactly k tokens → one gram
      "alpha beta gamma delta epsilon", // nG < w → one short window
      "x y repeated x y repeated x y repeated x y repeated x y repeated"
    ).zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val k = 4; val w = 5
    val toks = split(col("text"), "\\s+")
    val grams = transform(sequence(lit(0), size(toks) - k),
      i => substring(md5(array_join(slice(toks, i + 1, lit(k)), " ")), 1, 16))
    val declarative = docs.filter(size(toks) >= k)
      .select(col("id"), grams.as("gh"))
      .select(col("id"),
        transform(sequence(lit(0), greatest(size(col("gh")) - w, lit(0))),
          j => array_min(slice(col("gh"), j + 1, lit(w)))).as("sel"))
      .select(col("id"), explode(array_distinct(col("sel"))).as("fp"))
      .as[(Long, String)].collect().toSet
    val native = docs.filter(size(toks) >= k)
      .select(col("id"),
        explode(Winnow.fingerprints(toks, k, w)).as("fp"))
      .as[(Long, String)].collect().toSet
    assert(native == declarative)
    assert(native.nonEmpty)
  }

  test("extensions installer registers the SQL functions") {
    // a live session can't re-run injection; assert the injector wires
    // cleanly into a fresh SparkSessionExtensions instance
    new GraftExtensions().apply(new SparkSessionExtensions)
  }

  test("hamming: unequal lengths yield null, equal lengths count diffs") {
    val out = Seq(("1", "0000"), ("1010", "1000"), ("abcd", "abcd"))
      .toDF("a", "b")
      .select(VectorOps.hamming(col("a"), col("b")).as("h")).collect()
    assert(out(0).isNullAt(0)) // prefix distance would have been 0 — wrong
    assert(out(1).getInt(0) == 1)
    assert(out(2).getInt(0) == 0)
  }

  test("sign fingerprint: equal plane matrices give equal expressions " +
    "(deep value equality, not array reference equality)") {
    import graft.functions.SignFingerprint
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference}
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val child = AttributeReference("v", ArrayType(DoubleType))()
    def planes() = Array(Array(1.0, -2.0), Array(0.5, 0.25))
    val a = SignFingerprint(child, planes())
    val b = SignFingerprint(child, planes()) // DISTINCT arrays, same values
    // without the deep-equals override these are reference-unequal and
    // Catalyst never canonicalizes them together (missed subexpression
    // elimination / plan reuse)
    assert(a == b && a.hashCode == b.hashCode)
    assert(a.semanticEquals(b))
    val c = SignFingerprint(child, Array(Array(1.0, -2.0), Array(0.5, 0.75)))
    assert(a != c, "different plane values must stay unequal")
  }

  test("SQL kernel params: INT literals extract, non-literals reject") {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Literal => L}
    import org.apache.spark.sql.types.IntegerType
    assert(GraftExtensions.litInt("shingles", "n", L(3)) == 3)
    val ex = intercept[IllegalArgumentException] {
      GraftExtensions.litInt("shingles", "n",
        AttributeReference("x", IntegerType)())
    }
    assert(ex.getMessage.contains("shingles"))
    // the registered builder composes with extracted params
    val b = GraftExtensions.builder("shingles")
    b(Seq(L.create(Array("a", "b", "c")), L(2)))
  }

  test("wrong-arity function builder raises WRONG_NUM_ARGS analysis error") {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val build = GraftExtensions.builder("vec_dot")
    val one = Seq(ColumnBridge.expression(lit(1)))
    val ex = intercept[org.apache.spark.sql.AnalysisException] { build(one) }
    assert(ex.getMessage.contains("vec_dot"))
    assert(ex.getMessage.contains("2"))
    // correct arity still builds
    build(Seq(ColumnBridge.expression(lit(1)), ColumnBridge.expression(lit(2))))
  }

  test("nfc normalization composes combining marks and is ASCII-identity") {
    val decomposed = "e\u0301clair" // e + COMBINING ACUTE ACCENT
    val composed = "\u00e9clair"      // \u00e9 as one codepoint
    val df = Seq((decomposed, 1), (composed, 2), ("plain ascii", 3))
      .toDF("s", "id")
    val out = df.select(col("id"),
      graft.functions.TextNorm.nfcNormalize(col("s")).as("n"))
      .as[(Int, String)].collect().toMap
    assert(out(1) == composed) // decomposed → composed
    assert(out(2) == composed) // already NFC → unchanged
    assert(out(3) == "plain ascii")
    assert(out(1).length == composed.length)
  }

  test("nfc injects cleanly and nulls propagate") {
    // injection surface into a fresh SparkSessionExtensions instance (the
    // live registration in every session is covered by SqlFunctionsSpec)
    new GraftExtensions().apply(new SparkSessionExtensions)
    val r = spark.range(1).select(
      graft.functions.TextNorm.nfcNormalize(lit("e\u0301")),
      graft.functions.TextNorm.nfcNormalize(lit(null).cast("string")))
      .collect()(0)
    assert(r.getString(0) == "\u00e9")
    assert(r.isNullAt(1))
  }
}
