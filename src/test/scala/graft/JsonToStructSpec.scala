package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions.{col, from_json}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** `ColumnBridge.jsonToStruct` is `from_json` without options, run in
  * generated code: the same struct (or null) for every record, valid or
  * not, with every expression generated and with every expression
  * interpreted. */
class JsonToStructSpec extends SparkSpec {

  /** The wire payload plus a timestamp, which reads the session zone. */
  private val schema = StructType(
    graft.streaming.Pipelines.processedSchema.fields :+
      StructField("at", TimestampType))

  private val records: Seq[String] = Seq(
    // valid: full, partial, field order, timestamp
    """{"series":"dc1|h|if","metric":"m","value":1.5,"ts":2.0,"rate":3,"confidence":0.5}""",
    """{"metric":"m","ts":1e9}""",
    """{"ts":2.0,"series":"s"}""",
    """{"series":"s","at":"2024-02-29 12:34:56"}""",
    // truncated JSON and non-objects
    """{"series":"s","value":1.""",
    """{"series":""",
    """not json""",
    """[1,2]""",
    """[{"series":"s"}]""",
    """42""",
    """"str"""",
    """null""",
    """true""",
    """{}""",
    // wrong field types, numbers sent as strings
    """{"series":"s","value":"abc"}""",
    """{"series":"s","rate":1.5}""",
    """{"series":{"x":1},"metric":"m"}""",
    """{"value":"1.5","rate":"3"}""",
    """{"series":7,"metric":true}""",
    // extra and duplicate keys
    """{"series":"s","zzz":1,"nested":{"a":[1,2]}}""",
    """{"series":"a","series":"b","rate":1,"rate":2}""",
    // empty and NULL
    "",
    null)

  /** The records read through an RDD, so nothing folds to a constant. */
  private def frame(ss: SparkSession): DataFrame =
    ss.createDataFrame(ss.sparkContext.parallelize(records.map(Row(_)), 2),
      StructType(Seq(StructField("value", StringType))))

  private def parsed(ss: SparkSession): (Seq[Row], Seq[Row], DataFrame) = {
    val df = frame(ss)
    val ours = df.select(ColumnBridge.jsonToStruct(col("value"), schema).as("p"))
    val theirs = df.select(from_json(col("value"), schema).as("p"))
    assert(ours.schema == theirs.schema)
    (ours.collect().toSeq, theirs.collect().toSeq, ours)
  }

  test("jsonToStruct equals from_json on valid, malformed, mistyped, " +
    "duplicate-key, empty and NULL records, generated and interpreted") {
    val (generated, reference, plan) = parsed(spark)
    assert(generated == reference)
    assert(plan.queryExecution.executedPlan.collectFirst {
      case w: WholeStageCodegenExec => w
    }.nonEmpty, plan.queryExecution.executedPlan)

    val codegenOnly = spark.newSession()
    codegenOnly.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    val (gen2, ref2, _) = parsed(codegenOnly)
    assert(gen2 == ref2 && gen2 == generated)

    val interp = spark.newSession()
    interp.conf.set("spark.sql.codegen.wholeStage", "false")
    interp.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val (got, ref3, interpPlan) = parsed(interp)
    assert(interpPlan.queryExecution.executedPlan.collectFirst {
      case w: WholeStageCodegenExec => w
    }.isEmpty)
    assert(got == ref3 && got == generated)

    // spot values: the parse itself, not just agreement
    val byRecord = records.zip(generated.map(_.getStruct(0))).toMap
    assert(byRecord(records.head) ==
      Row("dc1|h|if", "m", 1.5, 2.0, 3L, 0.5, null))
    assert(byRecord(records(3)).getAs[java.sql.Timestamp]("at").toInstant ==
      java.time.Instant.parse("2024-02-29T12:34:56Z"))
    assert(byRecord(null) == null)
  }
}
