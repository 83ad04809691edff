package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.functions.{AllShingles, CharWindows, MinHashUtil, RepetitionUtil,
  Shingles, SimHashUtil, TextNorm, VectorOps, Winnow}

/** Every SQL function `GraftExtensions` registers, called through
  * `spark.sql`, equals its Column-API result — with whole-stage codegen and
  * in a child session that evaluates every expression interpreted. */
class SqlFunctionsSpec extends SparkSpec {

  // (SQL call, the same call through the Column API)
  private val calls: Seq[(String, Column)] = Seq(
    "vec_dot(vf, vd)" -> VectorOps.dot(col("vf"), col("vd")),
    "l2_normalize(vf)" -> VectorOps.l2normalize(col("vf")),
    "hamming(bits, bits2)" -> VectorOps.hamming(col("bits"), col("bits2")),
    "nfc(s)" -> TextNorm.nfcNormalize(col("s")),
    "shingles(toks, 2)" -> Shingles.distinctShingles(col("toks"), 2),
    "minhash_signature(toks, 4)" -> MinHashUtil.signatures(col("toks"), 4),
    "simhash64(toks)" -> SimHashUtil.simhash64(col("toks")),
    "ngram_stats(toks, 2)" -> RepetitionUtil.ngramStats(col("toks"), 2),
    "int8_snap(vd)" -> VectorOps.int8Snap(col("vd")),
    "char_windows(s, 4, 2)" -> CharWindows.charWindows(col("s"), 4, 2),
    "all_shingles(toks, 2)" -> AllShingles.allShingles(col("toks"), 2),
    "winnow_fingerprints(toks, 2, 3)" -> Winnow.fingerprints(col("toks"), 2, 3))

  /** One literal row plus an all-NULL row, read through an RDD so the
    * optimizer cannot fold the calls into constants. */
  private def rows(ss: SparkSession): DataFrame = {
    val schema = StructType(Seq(
      StructField("vf", ArrayType(FloatType, containsNull = false)),
      StructField("vd", ArrayType(DoubleType, containsNull = false)),
      StructField("bits", StringType), StructField("bits2", StringType),
      StructField("s", StringType),
      StructField("toks", ArrayType(StringType, containsNull = false))))
    val lit = Row(Seq(1.0f, 2.0f, 3.0f), Seq(0.5, -1.0, 2.0), "10110",
      "10011", "e\u0301clair au cafe\u0301", // decomposed accents
      Seq("a", "b", "a", "b", "c", "a", "b"))
    val nulls = Row(null, null, null, null, null, null)
    ss.createDataFrame(ss.sparkContext.parallelize(Seq(lit, nulls), 1), schema)
  }

  private def check(ss: SparkSession): Map[String, Seq[Any]] = {
    val df = rows(ss)
    df.createOrReplaceTempView("lit_rows")
    calls.map { case (sql, column) =>
      val viaSql = ss.sql(s"SELECT $sql AS r FROM lit_rows")
      val viaCol = df.select(column.as("r"))
      assert(viaSql.schema == viaCol.schema, sql)
      val got = viaSql.collect().map(_.get(0)).toSeq
      assert(got == viaCol.collect().map(_.get(0)).toSeq, sql)
      assert(got(0) != null && got(1) == null, sql)
      sql -> got
    }.toMap
  }

  test("sql functions: each registered function equals its Column builder, " +
    "with codegen and interpreted") {
    assert(calls.map(_._1.takeWhile(_ != '(')).toSet ==
      GraftExtensions.functions.map(_._1).toSet)
    val generated = check(spark)
    val interp = spark.newSession()
    interp.conf.set("spark.sql.codegen.wholeStage", "false")
    interp.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val plan = rows(interp).select(calls.map(_._2): _*)
      .queryExecution.executedPlan
    assert(plan.collectFirst {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }.isEmpty)
    assert(check(interp) == generated)
    // spot values: the kernels, not just agreement
    assert(generated("hamming(bits, bits2)").head == 2)
    assert(generated("nfc(s)").head == "\u00e9clair au caf\u00e9")
    assert(generated("ngram_stats(toks, 2)").head == Seq(6, 4, 3))
    assert(generated("char_windows(s, 4, 2)").head ==
      Seq("e\u0301cl", "clai", "air ", "r au", "au c", " caf", "afe\u0301"))
  }
}
