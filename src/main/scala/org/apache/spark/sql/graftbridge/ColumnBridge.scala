package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkRuntimeException
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, InSet, Literal}
import org.apache.spark.sql.catalyst.expressions.json.JsonToStructsEvaluator
import org.apache.spark.sql.catalyst.expressions.objects.{Invoke, StaticInvoke}
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, ObjectType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Spark 4.x moved `Column` onto ColumnNode; building a `Column` from a
  * Catalyst `Expression` goes through `classic.ExpressionUtils`, which is
  * `private[sql]` — this tiny shim (in a subpackage of `org.apache.spark.sql`,
  * the standard extension-library pattern) re-exports just the
  * converters the engine needs for its custom codegen expressions and
  * static kernels.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `expression` with every nested Column node converted too — what a
    * Dataset does before analysis. A SQL function builder's result goes
    * straight to the analyzer, so it must not carry unconverted nodes. */
  def convertedExpression(c: Column): Expression =
    ColumnNodeToExpressionConverter(c.node)

  /** A Column that calls the static kernel `obj.fn(args…)` per row —
    * Spark's own `StaticInvoke`, which forwards from generated and
    * interpreted code alike. By default a null argument gives a null
    * result without calling `fn`; with `propagateNull = false` the kernel
    * receives the nulls itself. `returnNullable` says whether `fn` may
    * return null. */
  def staticCall(obj: AnyRef, fn: String, dataType: DataType,
                 returnNullable: Boolean = false,
                 propagateNull: Boolean = true)(args: Column*): Column =
    column(StaticInvoke(obj.getClass, dataType, fn, args.map(expression),
      propagateNull = propagateNull, returnNullable = returnNullable))

  /** `c IN (values…)` on a string column as the one hashed `InSet` node
    * the optimizer's `OptimizeIn` would produce from `isin` — built once,
    * so a long list costs the analyzer no per-literal coercion and the
    * optimizer no rewrite. Null when `c` is null, as `isin` is. */
  def inStringSet(c: Column, values: Iterable[String]): Column =
    column(InSet(expression(c), values.iterator.map(UTF8String.fromString).toSet[Any]))

  /** `from_json(c, schema)` without options, in generated code: Spark's
    * own parser (`JsonToStructsEvaluator`, what `JsonToStructs` calls)
    * behind an `Invoke`, the pattern Spark 4.1 uses for `to_json`.
    * `JsonToStructs` is a `CodegenFallback`, so any operator holding it
    * leaves whole-stage codegen. Null or unparseable input gives what
    * `from_json` gives (PERMISSIVE). The session's corrupt-record column
    * name, time zone and duplicate-key setting are read here, once, as
    * the analyzer would read them for `from_json`. */
  def jsonToStruct(c: Column, schema: StructType): Column = {
    val conf = SQLConf.get
    val evaluator = JsonToStructsEvaluator(Map.empty, schema.asNullable,
      conf.columnNameOfCorruptRecord, Some(conf.sessionLocalTimeZone),
      conf.getConf(SQLConf.VARIANT_ALLOW_DUPLICATE_KEYS))
    column(Invoke(
      Literal.create(evaluator, ObjectType(classOf[JsonToStructsEvaluator])),
      "evaluate", schema.asNullable, Seq(expression(c)), Seq(StringType)))
  }

  /** The error `assert_true`/`raise_error` throw for a user message, for
    * a static kernel that enforces the same condition. */
  def userRaisedError(message: String): RuntimeException =
    new SparkRuntimeException("USER_RAISED_EXCEPTION",
      Map("errorMessage" -> message))

  /** Proper analysis-time arity error for injected SQL functions — the
    * same `WRONG_NUM_ARGS` condition built-in functions raise, instead of
    * an IndexOutOfBoundsException from `args(i)`. */
  def wrongNumArgs(function: String, expected: Int, actual: Int): Nothing =
    throw new org.apache.spark.sql.AnalysisException(
      errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
      messageParameters = Map(
        "functionName" -> s"`$function`",
        "expectedNum" -> expected.toString,
        "actualNum" -> actual.toString,
        "docroot" -> "https://spark.apache.org/docs/latest"))
}
