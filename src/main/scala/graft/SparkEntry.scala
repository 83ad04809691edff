package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

import graft.queries._

/** Driver contract (SURVEY.md §7).
  *
  * `rows` is the full operator inventory (SURVEY.md §2 reference parity +
  * the LLM-pipeline extension): one [[graft.queries.Row]] per query, its
  * Spark builder beside its DuckDB-equivalent SQL (column names aliased
  * identically), each family's rows in one file under `graft/queries`.
  * `queries` and `oracleSql` are the two views of it that the contract
  * exposes.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    TelemetryRows.flagship.build(spark, "/root/testdata/sf0.001")

  /** Every row of every family; a duplicate name fails here. */
  lazy val rows: Seq[Row] = Row.registry(
    TelemetryRows.rows, MetricsRows.rows, DedupRows.rows, AnnRows.rows,
    AnnPqRows.rows, EmbedRows.rows, GraphRows.rows, TextRows.rows,
    CorpusRows.rows, SearchRows.rows, SamplingRows.rows, StreamRows.rows)

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    rows.map(r => r.name -> r.build).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  lazy val oracleSql: Map[String, String] =
    rows.map(r => r.name -> r.oracle).toMap
}
