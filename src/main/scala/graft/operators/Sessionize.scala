package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Gap-based sessionization over an event stream — the classic large-scale
  * clickstream operator (the reference has no analog; this is part of the
  * training-data/analytics extension alongside the LLM pipeline ops).
  *
  * Shape: one shuffle on the session key, then a per-key sort window. All
  * arithmetic is integer nanoseconds (exact, hash-stable across engines).
  *
  * 100 TB posture: `Window.partitionBy(key)` is a single hash shuffle; each
  * key's events sort within a partition (spillable). A pathological hot key
  * (one user with billions of events) would bottleneck its partition — for
  * such streams pre-split the key by a coarse time bucket (e.g. day), run
  * this per bucket, and stitch boundary sessions with one extra pass over
  * per-bucket head/tail rows. The common case (bounded events/key) needs
  * nothing special, and AQE handles moderate skew.
  */
object Sessionize {

  /** Assign a per-key session index: a new session starts when the gap from
    * the previous event of the same key exceeds `gapMicros`. Adds
    * `session_seq` (1-based per key). `tieCol` makes the ordering total when
    * timestamps collide (determinism under shuffle). `tsCol` is integer
    * microseconds (exact arithmetic; any integer time unit works as long as
    * the gap is in the same unit).
    */
  def assign(df: DataFrame, keyCol: String, tsCol: String, tieCol: String,
             gapMicros: Long): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(tieCol))
    val prev = lag(col(tsCol), 1).over(w)
    val isNew = when(prev.isNull || col(tsCol) - prev > gapMicros, 1L)
      .otherwise(0L)
    df.withColumn("session_seq",
      sum(isNew).over(w.rowsBetween(Window.unboundedPreceding,
        Window.currentRow)))
  }

  /** Per-session aggregates over an [[assign]]ed frame: event count, start /
    * end / duration (micros), distinct event types, and the value sum
    * (decimal-summed for cross-engine determinism, surfaced as double).
    */
  def stats(sessioned: DataFrame, keyCol: String, tsCol: String,
            typeCol: String, valueCol: String): DataFrame =
    sessioned.groupBy(col(keyCol), col("session_seq"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col(tsCol)).as("start_us"),
        max(col(tsCol)).as("end_us"),
        (max(col(tsCol)) - min(col(tsCol))).as("duration_us"),
        countDistinct(col(typeCol)).as("n_types"),
        TimeSeries.exactSum(col(valueCol)).as("value_sum"))

  /** Strict-order funnel: how far each key progresses through `steps`, where
    * step i+1 must occur strictly after the (earliest-completion) time of
    * step i. Returns one row per key: `reached` (0..steps.length) and the
    * completion timestamp of each step (null if not reached).
    *
    * Single pass: per-key events sort into an array and a linear fold walks
    * it — one shuffle, no self-joins. The collected array is bounded by
    * events-per-key; for keys too hot to collect, pre-filter to the step
    * types first (done here) which caps the array at the funnel-relevant
    * rows.
    */
  def funnel(df: DataFrame, keyCol: String, tsCol: String, typeCol: String,
             steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty && steps.size <= 8, "1..8 funnel steps")
    val relevant = df.filter(col(typeCol).isin(steps: _*))
      .select(col(keyCol), col(tsCol).cast("long").as("__ts"),
        col(typeCol).as("__tp"))
    val sorted = relevant.groupBy(col(keyCol))
      .agg(sort_array(collect_list(struct(col("__ts"), col("__tp"))))
        .as("evs"))
    // Fold state: array of step completion timestamps (null = not yet
    // reached). An event advances the frontier iff it is the next step's
    // type and strictly later than the previous step's completion time.
    // `reached` is computed against the PRE-event state, so one event can
    // advance at most one step.
    val init = array(steps.map(_ => lit(null).cast("long")): _*)
    val fold = aggregate(
      col("evs"), init,
      (acc, ev) => {
        val reached = size(filter(acc, x => x.isNotNull))
        steps.indices.foldLeft(acc) { (a, i) =>
          val prevTs = if (i == 0) lit(Long.MinValue)
            else element_at(a, i) // 1-based: step i-1 (0-based) is element i
          when(reached === i &&
            ev.getField("__tp") === steps(i) &&
            ev.getField("__ts") > prevTs,
            concat(slice(a, 1, i), array(ev.getField("__ts")),
              slice(a, i + 2, steps.size - i - 1)))
            .otherwise(a)
        }
      })
    val out = sorted.withColumn("steps_ts", fold)
      .withColumn("reached",
        size(filter(col("steps_ts"), x => x.isNotNull)).cast("long"))
    steps.indices.foldLeft(out) { (d, i) =>
      d.withColumn(s"ts_step${i + 1}", element_at(col("steps_ts"), i + 1))
    }.drop("evs", "steps_ts")
  }

  /** Top event-type PATHS: each session's ordered event-type sequence,
    * capped at the first `maxSteps` events (long sessions share prefixes,
    * which is what makes paths countable), counted corpus-wide, top `topN`
    * by frequency — the "what do users actually do" drill-down that
    * funnels (which presuppose an expected order) can't answer.
    *
    * Scale shape: rides [[assign]]'s one shuffle + per-key sort window;
    * the path itself assembles inside the per-session aggregate
    * (`array_sort` over (ts, tie, type) structs — the canonical-ordering
    * pattern, exact total order, no second window), path counting is a
    * map-side-combining aggregate on the path string, and the top-N
    * compiles to TakeOrderedAndProject (per-partition heaps, an N-row
    * driver merge). A mega-session costs its own array sort but is capped
    * by `maxSteps` at emission; a mega-POPULAR path is a hot aggregate
    * key, combined map-side. */
  def pathsTopK(df: DataFrame, keyCol: String, tsCol: String,
                tieCol: String, typeCol: String, gapMicros: Long,
                maxSteps: Int, topN: Int): DataFrame = {
    require(maxSteps >= 1, s"maxSteps=$maxSteps")
    require(topN >= 1, s"topN=$topN")
    val sess = assign(df, keyCol, tsCol, tieCol, gapMicros)
    val paths = sess
      .groupBy(col(keyCol), col("session_seq"))
      .agg(array_join(slice(transform(
        array_sort(collect_list(
          struct(col(tsCol), col(tieCol), col(typeCol)))),
        s => s.getField(typeCol)), 1, maxSteps), ">").as("path"))
    paths.groupBy(col("path"))
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(topN)
  }

  /** First-order transition matrix over per-key event sequences:
    * (from_type, to_type, n, ppm) where `ppm` is the exact
    * parts-per-million share of `from_type`'s outgoing transitions —
    * the Markov-chain summary behind "what do users do AFTER X"
    * (recommendation priors, funnel discovery, bot-pattern detection;
    * [[pathsTopK]] shows whole paths, this shows the edge weights).
    *
    * Exactness: counts are longs, shares integer ppm (`n·10⁶ div
    * row_total`) — no float in the contract. Ordering inside a key is
    * total on (ts, tie), so simultaneous events transition
    * deterministically.
    *
    * Scale shape: one exchange on the key serves the single lag window;
    * transitions collapse into one hash aggregate on the (from, to)
    * pair (map-side partials), and the per-from totals ride a second
    * tiny aggregate over the |types|² matrix joined back broadcast. */
  def transitionMatrix(df: DataFrame, keyCol: String, tsCol: String,
                       tieCol: String, typeCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol), col(tieCol))
    val trans = df
      .withColumn("__from", lag(col(typeCol), 1).over(w))
      .filter(col("__from").isNotNull)
      .groupBy(col("__from").as("from_type"), col(typeCol).as("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = trans.groupBy(col("from_type"))
      .agg(sum(col("n")).as("__total"))
    trans.join(broadcast(totals), Seq("from_type"))
      .select(col("from_type"), col("to_type"), col("n"),
        expr("n * 1000000 div __total").as("ppm"))
  }
}
