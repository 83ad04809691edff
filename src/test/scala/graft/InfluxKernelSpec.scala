package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, rng}

import graft.functions.Influx

/** The line-protocol renderer as Column composition: the reference the
  * `Influx` kernels are checked against (`consumer.py:84-169`). */
object InfluxColumnReference {
  def escapeTag(c: Column): Column =
    regexp_replace(c, "([,=\\s])", "\\\\$1")

  def sanitizeMeasurement(c: Column): Column =
    regexp_replace(c, "[^0-9a-zA-Z_]+", "_")

  def sortedTags(m: Column): Column =
    array_join(
      transform(
        array_sort(map_entries(m)),
        e => concat(e.getField("key"), lit("="),
          escapeTag(e.getField("value")))),
      ",")

  def assertSafeTagKeys(m: Column): Column = {
    val anyBad = exists(map_keys(m), k => k.rlike("[,=\\s]"))
    when(assert_true(!anyBad,
      concat(lit("influx tag key contains ',', '=', or whitespace: "),
        to_json(map_keys(m)))).isNull, m)
  }

  def line(measurement: Column, tags: Column, fields: Column,
           tsSeconds: Column): Column =
    concat_ws(" ",
      concat(sanitizeMeasurement(measurement), lit(","), sortedTags(tags)),
      fields,
      tsSeconds.cast("long").cast("string"))
}

/** `Influx.line` and `Influx.assertSafeTagKeys` equal their Column
  * composition on generated rows — with whole-stage codegen and in a child
  * session that evaluates every expression interpreted. */
class InfluxKernelSpec extends SparkSpec {
  import InfluxColumnReference._

  private def sample[A](g: Gen[A], seed: Long): A =
    g.pureApply(Gen.Parameters.default, rng.Seed(seed))

  /** Word characters, the escaped set (`,`, `=`, Java's six `\s`),
    * punctuation the escape leaves alone, and non-ASCII and supplementary
    * characters, so measurement runs mix all of them. */
  private val pool: Seq[String] = Seq("a", "Z", "0", "9", "_", ",", "=", " ",
    "\t", "\n", "\u000B", "\f", "\r", "|", "-", ".", "\\", "é",
    "中", " ", "😀", "𝄞")

  private val str: Gen[String] =
    Gen.chooseNum(0, 6).flatMap(n => Gen.listOfN(n, Gen.oneOf(pool)))
      .map(_.mkString)

  private def orNull[A <: AnyRef](g: Gen[A]): Gen[A] =
    Gen.frequency(5 -> g, 1 -> Gen.const(null.asInstanceOf[A]))

  private def tagsOf(key: Gen[String]): Gen[Map[String, String]] =
    Gen.chooseNum(0, 4)
      .flatMap(n => Gen.listOfN(n, Gen.zip(key, orNull(str)))).map(_.toMap)

  private val safeKey: Gen[String] = str.map(_.filterNot(",= \t\n\u000B\f\r".contains(_)))

  private val schema = StructType(Seq(
    StructField("m", StringType),
    StructField("tags", MapType(StringType, StringType)),
    StructField("safe_tags", MapType(StringType, StringType)),
    StructField("fields", StringType),
    StructField("ts", DoubleType)))

  private val rowGen: Gen[Row] = for {
    m <- orNull(str)
    tags <- orNull(tagsOf(str))
    safe <- tagsOf(safeKey)
    fields <- orNull(str)
    ts <- Gen.frequency(5 -> Gen.chooseNum(-1.0e10, 1.0e10).map(Double.box),
      1 -> Gen.const(null.asInstanceOf[java.lang.Double]))
  } yield Row(m, tags, safe, fields, ts)

  /** Fixed edge rows plus generated ones, through an RDD so the optimizer
    * cannot fold the calls into constants. */
  private def rows(ss: SparkSession): DataFrame = {
    val fixed = Seq(
      Row("", Map.empty[String, String], Map.empty[String, String], "", 0.0),
      Row("cpu util", Map("host b" -> "x=1", "a" -> "v,2"), Map("a" -> null),
        "v__gauge=42.5", 1700000000.9),
      Row("😀aé, b", Map("k" -> " \t\n\u000B\f\r,="),
        Map("é" -> "", "e" -> "1", "E" -> "2"), null, null),
      Row(null, null, Map("k" -> "v"), null, null))
    val gen = (1 to 4).flatMap(seed => sample(Gen.listOfN(500, rowGen), seed))
    ss.createDataFrame(ss.sparkContext.parallelize(fixed ++ gen, 3), schema)
  }

  private def both(ss: SparkSession, kernel: Column, reference: Column): Seq[String] = {
    val df = rows(ss)
    val got = df.select(kernel).collect().map(_.getString(0)).toSeq
    assert(got == df.select(reference).collect().map(_.getString(0)).toSeq)
    assert(!got.contains(null))
    got
  }

  private def check(ss: SparkSession): Seq[String] = {
    val (m, tags, safe) = (col("m"), col("tags"), col("safe_tags"))
    both(ss, Influx.line(m, tags, col("fields"), col("ts")),
      line(m, tags, col("fields"), col("ts"))) ++
      both(ss, Influx.line(m, Influx.assertSafeTagKeys(safe), col("fields"), col("ts")),
        line(m, assertSafeTagKeys(safe), col("fields"), col("ts")))
  }

  private def interpreted: SparkSession = {
    val ss = spark.newSession()
    ss.conf.set("spark.sql.codegen.wholeStage", "false")
    ss.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    ss
  }

  test("influx line kernel equals its Column composition on generated " +
    "rows, with codegen and interpreted") {
    val generated = check(spark)
    assert(check(interpreted) == generated)
    assert(generated.size == 2 * 2004)
    // spot values: the kernel, not just agreement
    assert(generated(0) == ",  0")
    assert(generated(1) == "cpu_util,a=v\\,2,host b=x\\=1 v__gauge=42.5 1700000000")
    assert(generated(2) == "_a_b,k=\\ \\\t\\\n\\\u000B\\\f\\\r\\,\\=")
    assert(generated(3) == "")
    assert(generated(2004 + 1) == "cpu_util, v__gauge=42.5 1700000000")
    assert(generated(2004 + 2) == "_a_b,E=2,e=1,é=")
  }

  test("influx line kernel decodes invalid UTF-8 tag values as the " +
    "regex reference does") {
    // C3 41: a truncated 2-byte lead before 'A'; FF: never valid; then a
    // lone continuation byte between word characters
    val hex = Seq("C341", "FF2C", "61806A").map(h => Row(h))
    for (ss <- Seq(spark, interpreted)) {
      val df = ss.createDataFrame(ss.sparkContext.parallelize(hex, 1),
        StructType(Seq(StructField("h", StringType))))
        .select(unhex(col("h")).cast("string").as("m"),
          map(lit("k"), unhex(col("h")).cast("string")).as("tags"))
      val (m, tags, f, ts) = (col("m"), col("tags"), lit("f=1"), lit(1.0))
      val got = df.select(Influx.line(m, tags, f, ts)).collect().toSeq
      assert(got == df.select(line(m, tags, f, ts)).collect().toSeq)
      assert(got.map(_.getString(0)) == Seq("_A,k=\uFFFDA f=1 1",
        "_,k=\uFFFD\\, f=1 1", "a_j,k=a\uFFFDj f=1 1"))
    }
  }

  /** The message of the `SparkThrowable` in `e`'s cause chain. */
  private def raised(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).collectFirst {
      case t: org.apache.spark.SparkThrowable
          if t.getCondition == "USER_RAISED_EXCEPTION" => t.getMessage
    }.getOrElse(e.toString)

  test("unsafe tag keys raise the reference's error, with codegen and " +
    "interpreted") {
    val keys = Seq(",", "=", " ", "\t", "\n", "\u000B", "\f", "\r")
      .map(c => s"a${c}b")
    for (ss <- Seq(spark, interpreted); k <- keys :+ null) {
      val m = if (k == null) null else Map("ok" -> "1", k -> "2", "\"qé" -> "3")
      val df = ss.createDataFrame(ss.sparkContext.parallelize(Seq(Row(m)), 1),
        StructType(Seq(StructField("tags", MapType(StringType, StringType)))))
      val got = intercept[Exception](
        df.select(Influx.assertSafeTagKeys(col("tags"))).collect())
      val want = intercept[Exception](
        df.select(assertSafeTagKeys(col("tags"))).collect())
      assert(raised(got) == raised(want), String.valueOf(k))
      if (k != null) assert(raised(got).contains("influx tag key contains"), k)
    }
  }
}
