package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One oracle-checked query: its name, its Spark plan over the table
  * directory, and the DuckDB SQL that computes the same result over the
  * same parquet tables (column names aliased identically).
  *
  * Hash discipline: every oracle-checked row uses md5-derived hashes
  * (bit-identical in DuckDB). Scores/ranks use double arithmetic with
  * deterministic tie-breaks; raw cosine scores are kept out of
  * hash-compared outputs where summation order could differ between
  * engines. */
final case class Row(name: String, build: (SparkSession, String) => DataFrame,
                     oracle: String)

object Row {
  /** The families' rows as one list; a name defined twice is refused,
    * naming it. */
  def registry(families: Seq[Row]*): Seq[Row] = {
    val all = families.flatten
    val names = all.map(_.name)
    val dups = names.diff(names.distinct).distinct
    require(dups.isEmpty, s"duplicate row name: ${dups.mkString(", ")}")
    all
  }
}
