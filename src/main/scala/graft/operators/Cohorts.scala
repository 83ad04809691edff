package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cohort/retention analytics over an event stream. */
object Cohorts {

  /** Classic retention matrix: every user is assigned to the cohort of
    * their first active period (period = `stepMicros` grid bucket of the
    * event timestamp), and each (cohort, period_offset) cell counts the
    * users active `offset` periods after their cohort period.
    *
    * Plan shape: ONE scan, TWO exchanges. Activity collapses to DISTINCT
    * (user, period) on an explicit user-key repartition — the widest
    * frame in the job is one row per user per active period, never raw
    * events, and the same partitioning serves the cohort WINDOW (a
    * min-over-user window, not a self-joined aggregate: the aggregate
    * + join formulation scans the source twice because Catalyst does not
    * share subplans). The final cell count is the second exchange, and it
    * needs no countDistinct (its input is already distinct per user) — a
    * plain count with map-side partials. All-integer math; no float
    * anywhere. */
  def retention(df: DataFrame, userCol: String, tsMicrosCol: String,
                stepMicros: Long): DataFrame = {
    require(stepMicros > 0, s"stepMicros=$stepMicros must be positive")
    val ts = col(tsMicrosCol)
    val act = df.select(col(userCol).as("__user"),
        TimeSeries.bucket(ts, stepMicros).as("period"))
      .repartition(col("__user"))
      .dropDuplicates("__user", "period")
    val cohort = min(col("period"))
      .over(Window.partitionBy(col("__user")))
    act.withColumn("cohort", cohort)
      .groupBy(col("cohort"),
        // integer `div`, not `/`: double division then cast is only exact
        // below 2^53 µs of period delta — div keeps this truly all-integer
        expr(s"(period - cohort) div ${stepMicros}L")
          .cast("long").as("period_offset"))
      .agg(count(lit(1)).as("n_users"))
  }
}
