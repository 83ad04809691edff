package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.StructType

/** Kafka-boundary transforms, expressed as plain DataFrame ops so they work
  * identically on batch frames and streams (and are testable without a
  * broker; with the kafka connector on the classpath the same frames go
  * straight to `writeStream.format("kafka")` — the dynamic `topic` column
  * is native there).
  *
  * Reference: consumer `framework/utilities/consumer.py:187-447`
  * (key filter `:383-389`, JSON decode `:391-398`, schema validation
  * `:136-184,400-405`); producer fan-out
  * `polling/polling_plugin_agent.py:307-364`,
  * `discovery/discovery_plugin_agent.py:142-168`.
  */
object KafkaShaped {

  /** S6 — fan-out encode: one record per (site topic [+ global topic]),
    * message key = the series key (preserves per-series ordering, ST2),
    * value = canonical JSON of the payload struct.
    *
    * Scale: pure map-side projection, no shuffle before the sink. Rows
    * come out of an `explode` only when a global topic is configured (it
    * doubles them); without one the site topic is a plain column.
    */
  def encodeFanout(
      df: DataFrame,
      siteCol: Column,
      topicSuffix: String,
      keyCol: Column,
      payload: Column,
      globalTopic: Option[String] = None): DataFrame = {
    val siteTopic = concat(siteCol, lit("-"), lit(topicSuffix))
    df.select(
      globalTopic.fold(siteTopic)(g => explode(array(siteTopic, lit(g)))).as("topic"),
      keyCol.cast("string").as("key"),
      to_json(payload).as("value"))
  }

  /** The key allow-list predicate, or None without a list. A null key
    * never passes: `None not in keys` is True in the reference, i.e. a
    * null key IS dropped by the filter — coalesce keeps three-valued
    * logic from losing such records from BOTH [[decodeAndValidate]] and
    * [[invalidRecords]]. The list is one hashed set in the plan, not one
    * literal per key for every micro-batch to coerce and rewrite. */
  private def keyAllowed(allowedKeys: Seq[String]): Option[Column] =
    if (allowedKeys.isEmpty) None
    else Some(coalesce(
      ColumnBridge.inStringSet(col("key").cast("string"), allowedKeys),
      lit(false)))

  /** The `parsed` struct holds ≥1 schema field. A PERMISSIVE parse
    * yields an all-null struct for malformed input (not a null struct) —
    * treat both as invalid. A null struct has no non-null field, so no
    * separate struct test. */
  private def parsedOk(schema: StructType): Column =
    schema.fields
      .map(f => col("parsed").getField(f.name).isNotNull)
      .reduce(_ || _)

  /** S5/P7/P8 — decode + validate: parse the JSON `value` against `schema`
    * (PERMISSIVE → corrupt rows become null structs), drop invalid records,
    * optionally drop records whose key is not in `allowedKeys`.
    *
    * Invalid-record counts surface via `df.observe` upstream if needed —
    * the filter itself stays codegen-friendly.
    */
  def decodeAndValidate(
      df: DataFrame,
      schema: StructType,
      allowedKeys: Seq[String] = Nil): DataFrame =
    validParsed(df, schema, allowedKeys).select(col("key"), col("parsed.*"))

  /** `df`'s `keep` columns plus `parsed`, the JSON `value` parsed against
    * `schema` once per record, in generated code
    * ([[ColumnBridge.jsonToStruct]]). `parsed` comes out of a one-element
    * `explode`, so the optimizer cannot push a predicate on it below the
    * parse and copy the parse into every `OR` term of [[parsedOk]]; the
    * `explode` fuses into whole-stage codegen with the parse. Every
    * decode path reads its records through here. */
  private def withParsed(df: DataFrame, schema: StructType,
                         keep: Column*): DataFrame =
    df.select(keep :+ explode(array(ColumnBridge.jsonToStruct(
      col("value").cast("string"), schema))).as("parsed"): _*)

  /** [[decodeAndValidate]]'s records before the struct is flattened: the
    * string `key` and the `parsed` struct ([[withParsed]]), in two Dataset
    * operations (a micro-batch analyzes its whole plan once per
    * operation). The key test still runs before the parse: the optimizer
    * pushes it below the `explode`. */
  private[streaming] def validParsed(
      df: DataFrame,
      schema: StructType,
      allowedKeys: Seq[String]): DataFrame =
    withParsed(df, schema, col("key").cast("string").as("key"))
      .filter(keyAllowed(allowedKeys).fold(parsedOk(schema))(_ && parsedOk(schema)))

  /** The records [[decodeAndValidate]] would DROP — a dead-letter frame.
    * The reference counts skipped records
    * (`consumer.py:136-184,400-405`); at scale a dead-letter sink is the
    * auditable form of that counter (and `count()` on this frame IS the
    * counter). Same predicate, negated, so the two frames partition the
    * input exactly. */
  def invalidRecords(
      df: DataFrame,
      schema: StructType,
      allowedKeys: Seq[String] = Nil): DataFrame = {
    val keyOk = keyAllowed(allowedKeys).getOrElse(lit(true))
    withParsed(df, schema, col("key"), col("value"))
      .filter(!keyOk || !parsedOk(schema))
      .select(col("key").cast("string").as("key"),
        col("value").cast("string").as("value"),
        (!keyOk).as("dropped_by_key_filter"))
  }

  /** Full decode + JSON-Schema-style enforcement with OBSERVABLE drop
    * counts — the one-call form of the reference's validate-and-count loop
    * (`consumer.py:136-184,400-405`).
    *
    * Enforced per record, in order:
    *  1. key filter (when `allowedKeys` non-empty);
    *  2. JSON parses to ≥1 schema field (corrupt records drop);
    *  3. every `requiredFields` entry is present AND of the declared
    *     type — PERMISSIVE `from_json` nulls a field whose JSON value
    *     cannot take the schema's type (a string where a number is
    *     declared, an object where a scalar is declared), so requiring
    *     non-null enforces the reference's `"type"` checks, not just
    *     `"required"` presence. (Deliberate deviation, documented: JSON
    *     numbers/booleans COERCE to declared strings — Spark's parser is
    *     lax in that one direction.)
    *  4. `enums` membership (the reference's `"enum"` constraints, e.g.
    *     metric_type ∈ {gauge, counter}).
    *
    * Drop counts surface through `df.observe(observationName, ...)` as
    * `dropped_key / dropped_corrupt / dropped_schema / passed / total` —
    * readable per micro-batch from a StreamingQueryListener, or in batch
    * via `Observation` — so the dead-letter accounting is part of the
    * plan, not a side effect. */
  def decodeValidated(
      df: DataFrame,
      schema: StructType,
      requiredFields: Seq[String],
      allowedKeys: Seq[String] = Nil,
      enums: Map[String, Seq[String]] = Map.empty,
      observationName: String = "kafka_decode"): DataFrame = {
    val reqOk = requiredFields
      .map(f => col("parsed").getField(f).isNotNull)
      .foldLeft(lit(true))(_ && _)
    val enumOk = enums
      .map { case (f, vs) =>
        col("parsed").getField(f).isNull ||
          col("parsed").getField(f).isin(vs: _*)
      }
      .foldLeft(lit(true))(_ && _)
    withParsed(df, schema, col("key"))
      .withColumn("__key_ok", keyAllowed(allowedKeys).getOrElse(lit(true)))
      .withColumn("__parse_ok", parsedOk(schema))
      .withColumn("__schema_ok", reqOk && enumOk)
      .observe(observationName,
        count(when(!col("__key_ok"), 1)).as("dropped_key"),
        count(when(col("__key_ok") && !col("__parse_ok"), 1))
          .as("dropped_corrupt"),
        count(when(col("__key_ok") && col("__parse_ok") &&
          !col("__schema_ok"), 1)).as("dropped_schema"),
        count(when(col("__key_ok") && col("__parse_ok") &&
          col("__schema_ok"), 1)).as("passed"),
        count(lit(1)).as("total"))
      .filter(col("__key_ok") && col("__parse_ok") && col("__schema_ok"))
      .select(col("key").cast("string").as("key"), col("parsed.*"))
  }
}
