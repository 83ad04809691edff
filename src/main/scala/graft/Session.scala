package graft

import org.apache.spark.sql.SparkSession

/** The one session definition: `Bench`, `Verify`, the test suites and
  * `graft.tools.Profile` all build through it, so every measurement and
  * every check runs the same engine. */
object Session {
  /** `cores` defaults to `SPARK_GRAFT_CPUS` (else 4), as the driver sets
    * it; the specs pin 4. */
  def apply(cores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      : SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // fixtures that store ns timestamps are read as long nanos, which
      // Tables.tsMicros normalizes (the vectorized reader rejects them)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
