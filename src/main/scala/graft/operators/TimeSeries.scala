package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series analytics over metric/event streams: per-series anomaly
  * scoring and gap-filling resample — the query-side counterparts of the
  * reference's polled-metrics model (fixed-cadence series keyed by
  * resource × metric, e.g. `plugin_polling_device_interface_metrics`
  * emitting one sample per interface per 60 s cycle; missed polls leave
  * holes a downstream consumer has to tolerate or fill).
  *
  * Scale shape (100 TB): both operators are a single shuffle on the
  * series key followed by map-side work. Nothing aggregates across
  * series, so the plans parallelize per-series and AQE handles skewed
  * series (one chatty device) by splitting its partition.
  */
object TimeSeries {

  /** The exact sum of `c` fixed to `scale` decimals, surfaced as a
    * double: the decimal sum is order-free, so every engine and every
    * partitioning gives the same double. */
  def exactSum(c: Column, scale: Int = 2): Column =
    sum(c.cast(s"decimal(18,$scale)")).cast("double")

  /** The start of the `stepMicros` grid cell of `ts` (integer µs):
    * `ts - ts % step`. `%` truncates toward zero in both Spark and DuckDB,
    * so negative timestamps bucket the same in either engine (pmod's
    * floor semantics would not). */
  def bucket(ts: Column, stepMicros: Long): Column =
    (ts - (ts % lit(stepMicros))).cast("long")

  /** Per-series z-score anomaly flags: each row gets its series' mean and
    * sample stddev, its z-score, and a flag when |z| exceeds `threshold`.
    *
    * Float discipline — stronger than rounding: the mean and variance are
    * derived from EXACT decimal sums (`valueScale` = the decimal scale of
    * the measurements; 2 for 2-dp gauges), converted to double once, then
    * combined with a fixed tree of correctly-rounded IEEE ops (-, *, /,
    * sqrt — all required-correctly-rounded by IEEE-754). Every output is
    * therefore BIT-identical in any IEEE engine, with no `round()` call
    * whose half-up/half-even tie behavior could differ at a midpoint
    * (plain `round(avg(value), 4)` provably diverges between Spark and
    * DuckDB when a series mean lands on a 4-dp midpoint, which 2-dp
    * inputs hit constantly). Exactness headroom: Σ(value·10^scale) and
    * Σ(value²·10^2scale) must stay under 2^53 per series — at 100 TB,
    * series are single resources' histories, orders of magnitude below
    * that.
    *
    * Single-sample and constant series yield null stddev/z — null never
    * flags. One shuffle on the series key; the window aggregates share
    * one exchange. */
  def zscore(df: DataFrame, seriesCols: Seq[String], valueCol: String,
             threshold: Double = 3.0, valueScale: Int = 2): DataFrame = {
    require(seriesCols.nonEmpty, "zscore needs at least one series column")
    val w = Window.partitionBy(seriesCols.map(col): _*)
    val dec = col(valueCol).cast(s"decimal(18,$valueScale)")
    val n = count(lit(1)).over(w)
    val nD = n.cast("double")
    val sumD = sum(dec).over(w).cast("double")
    val sumSqD = sum(dec * dec).over(w).cast("double")
    val mean = sumD / nD
    val variance = (sumSqD - sumD * sumD / nD) / (nD - lit(1.0))
    val std = when(n >= 2 && variance > 0, sqrt(variance))
    val z = (col(valueCol) - mean) / std
    df.withColumn("series_avg", mean)
      .withColumn("series_std", std)
      .withColumn("zscore", z)
      .withColumn("is_anomaly",
        coalesce(abs(z) > lit(threshold), lit(false)))
  }

  /** Per-series ROBUST anomaly score (modified z, Iglewicz–Hoaglin):
    * `0.6745·(x − median) / MAD`, flagged over `threshold` (3.5 is the
    * literature default). Where [[zscore]]'s mean/stddev are dragged by
    * the very outliers being hunted (one 10⁶× spike inflates σ until
    * nothing else flags), median and MAD have a 50% breakdown point — the
    * right detector for spiky telemetry.
    *
    * Median semantics: LOWER median (the value at 1-based position
    * ⌈n/2⌉ in sorted order) for both the median and the MAD — a pure
    * order statistic, NO interpolation, so both engines pick the same
    * element and every downstream double op (−, abs, ·, /) is a
    * correctly-rounded IEEE step on identical operands: bit-identical
    * results with no `round()` anywhere. A series whose MAD is 0 (half
    * or more of its values identical) yields null scores — null never
    * flags, matching [[zscore]]'s constant-series posture.
    *
    * Scale shape: the quality-calibrate cells pattern, twice. Rows
    * collapse map-side to distinct (series, value) cells with counts;
    * the cumulative-count window that locates the median position runs
    * over CELL frames (bounded by value cardinality, e.g. ≤10⁴ for 2-dp
    * gauges in [0,100), regardless of row count); deviation cells derive
    * from value cells by a broadcast join (|cells|, not |rows|); medians
    * broadcast back onto the rows. The corpus is scanned and
    * hash-aggregated — never sorted, no per-row window. */
  def robustZscore(df: DataFrame, seriesCols: Seq[String], valueCol: String,
                   threshold: Double = 3.5): DataFrame = {
    require(seriesCols.nonEmpty, "robustZscore needs a series column")
    val sc = seriesCols.map(col)
    val v = col(valueCol)

    // lower median of a (series, value-like, cnt) cell frame
    def lowerMedian(cells: DataFrame, vCol: String, as: String): DataFrame = {
      val byV = Window.partitionBy(sc: _*).orderBy(col(vCol))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val whole = Window.partitionBy(sc: _*)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      cells
        .withColumn("__cum", sum(col("__cnt")).over(byV))
        .withColumn("__n", sum(col("__cnt")).over(whole))
        // ⌈n/2⌉ = truncating (n+1)/2; exact in double for any real n
        .filter(col("__cum") >=
          ((col("__n") + lit(1L)) / lit(2L)).cast("long"))
        .groupBy(sc: _*)
        .agg(min(col(vCol)).as(as))
    }

    val cells = df.filter(v.isNotNull)
      .groupBy(sc :+ v.as("__v"): _*).agg(count(lit(1)).as("__cnt"))
    val med = lowerMedian(cells, "__v", "series_med")
    val devCells = cells.join(broadcast(med), seriesCols)
      .select(sc ++ Seq(abs(col("__v") - col("series_med")).as("__dv"),
        col("__cnt")): _*)
      .groupBy(sc :+ col("__dv"): _*).agg(sum(col("__cnt")).as("__cnt"))
    val mad = lowerMedian(devCells, "__dv", "series_mad")

    val z = when(col("series_mad") > 0,
      lit(0.6745) * (v - col("series_med")) / col("series_mad"))
    df.join(broadcast(med), seriesCols)
      .join(broadcast(mad), seriesCols)
      .withColumn("robust_z", z)
      .withColumn("is_anomaly",
        coalesce(abs(z) > lit(threshold), lit(false)))
  }

  /** Gap-filling resample: snap each series to a fixed `stepMicros` grid
    * (per-bucket value = MAX — exact, order-free; no float summation to
    * drift between engines), then linearly interpolate the missing
    * buckets between consecutive observations.
    *
    * Output: series cols + `bucket` (epoch micros, grid-aligned) +
    * `value` (6 dp) + `filled` (false = observed, true = interpolated).
    * Buckets before a series' first or after its last observation are NOT
    * invented — interpolation needs both endpoints (that's also what
    * keeps the operator bounded: a series absent for a month does not
    * fabricate a month of rows on re-appearance).
    *
    * Plan shape — ONE pass: bucketize is map-side integer math; one hash
    * aggregate on (series, bucket); one lag window on the series key;
    * then every output row — observed AND interpolated — comes from a
    * single map-side `sequence`/`explode` over each (prev, current)
    * observation pair (a row with no predecessor explodes to just
    * itself). No union (a union of observed+gap branches would scan the
    * source twice — Catalyst does not share subplans across union
    * sides), no join, and ONE exchange: the explicit series-key
    * repartition satisfies both the aggregate's clustering and the
    * window's partitioning (without it Spark plans a second exchange
    * between them). Interpolation arithmetic is a
    * fixed tree of correctly-rounded IEEE ops on exact longs, so values
    * are bit-reproducible across engines. */
  def gapfill(df: DataFrame, seriesCols: Seq[String], tsMicrosCol: String,
              valueCol: String, stepMicros: Long): DataFrame = {
    require(stepMicros > 0, s"stepMicros=$stepMicros must be positive")
    val sc = seriesCols.map(col)
    val ts = col(tsMicrosCol)
    val bucketed = df
      .withColumn("bucket", bucket(ts, stepMicros))
      .repartition(sc: _*)
      .groupBy(sc :+ col("bucket"): _*)
      .agg(max(col(valueCol).cast("double")).as("v"))
    val w = Window.partitionBy(sc: _*).orderBy(col("bucket"))
    val paired = bucketed
      .withColumn("prev_bucket", lag(col("bucket"), 1).over(w))
      .withColumn("prev_v", lag(col("v"), 1).over(w))
    // each pair emits (prev_bucket, current] on the grid: the interior
    // fills plus the current observation; the series head emits itself
    val exploded = paired.select(sc ++ Seq(
      col("bucket").as("next_bucket"), col("prev_bucket"),
      col("prev_v"), col("v"),
      explode(
        when(col("prev_bucket").isNull, array(col("bucket")))
          .otherwise(sequence(col("prev_bucket") + stepMicros,
            col("bucket"), lit(stepMicros)))).as("bucket")): _*)
    exploded.select(sc ++ Seq(
      col("bucket"),
      when(col("bucket") === col("next_bucket"), round(col("v"), 6))
        .otherwise(round(col("prev_v") +
          (col("v") - col("prev_v")) *
            (col("bucket") - col("prev_bucket")).cast("double") /
            (col("next_bucket") - col("prev_bucket")).cast("double"),
          6)).as("value"),
      (col("bucket") =!= col("next_bucket")).as("filled")): _*)
  }

  /** OHLC downsample ("candles"): per series × fixed `stepMicros` bucket,
    * the first/highest/lowest/last observed value plus event count and
    * exact value sum — the standard market-data/telemetry compaction that
    * turns a raw event firehose into a fixed-cadence summary a dashboard
    * or a coarser pipeline stage can afford to read.
    *
    * Open/close are selected by `min_by`/`max_by` over a TOTAL ordering
    * key — one string combining a sign-biased fixed-width timestamp with
    * a length-prefixed id — so same-timestamp events never make the
    * result engine- or partition-order-dependent. (A struct ordering key
    * would be Spark-only; the string key is the portable total order, and
    * both engines' min_by/max_by agree on binary VARCHAR ordering.)
    * Key construction, and why each piece is there:
    *   - timestamp: `lpad(ts + 2^63, 20, '0')` computed in DECIMAL — the
    *     bias maps the full signed-long range onto [0, 2^64) so PRE-1970
    *     (negative) timestamps order numerically too (a plain zero-pad
    *     sorts '-2' after '-1'), and decimal arithmetic avoids the
    *     long-overflow error ANSI mode would raise on `ts - Long.MinValue`;
    *   - id: `lpad(length(id), 6, '0') || id` — a length prefix instead of
    *     a fixed-width pad, because `lpad` TRUNCATES input longer than the
    *     pad width (silently un-totalizing the order for 19-digit snowflake
    *     ids or UUIDs sharing a prefix). Length-prefixed strings compare as
    *     shortlex, which is a total order for any id type, numeric or not
    *     (ids beyond 999,999 chars are out of contract).
    *
    * NULL values are dropped up front: a null is a missed measurement, not
    * an observation, so it must not count in `n_events` (deflating `vavg`)
    * nor be eligible as `open`/`close` while `high`/`low` skip it. A
    * bucket whose every value is null produces no row.
    *
    * Scale shape: ONE hash aggregate on (series, bucket) with map-side
    * partial aggregation — min_by/max_by/min/max/count/sum all combine
    * associatively, so the shuffle carries one partial row per (series,
    * bucket, map task), not raw events. No window, no join; a hot series
    * costs its bucket count, not its event count. The value sum is an
    * exact DECIMAL(18,2) (order-free), divided once for the mean. */
  /** The portable total-order key [[ohlc]] selects open/close with —
    * exposed so the streaming OHLC query shares the exact construction
    * (see [[ohlc]]'s scaladoc for why each piece exists). */
  def ohlcOrderKey(ts: Column, id: Column): Column = {
    // 2^63 as an exact decimal literal; decimal(20,0) + decimal(19,0)
    // stays exact and in-range for every signed-long timestamp
    val bias = lit(new java.math.BigDecimal("9223372036854775808"))
    val tsKey = lpad((ts.cast("decimal(20,0)") + bias).cast("string"),
      20, "0")
    val idStr = id.cast("string")
    concat(tsKey, lpad(length(idStr).cast("string"), 6, "0"), idStr)
  }

  def ohlc(df: DataFrame, seriesCols: Seq[String], tsMicrosCol: String,
           idCol: String, valueCol: String, stepMicros: Long): DataFrame = {
    require(stepMicros > 0, s"stepMicros=$stepMicros must be positive")
    val sc = seriesCols.map(col)
    val ts = col(tsMicrosCol)
    val ord = ohlcOrderKey(ts, col(idCol))
    val v = col(valueCol).cast("double")
    df.filter(col(valueCol).isNotNull)
      .withColumn("bucket", bucket(ts, stepMicros))
      .groupBy(sc :+ col("bucket"): _*)
      .agg(
        min_by(v, ord).as("open"),
        max(v).as("high"),
        min(v).as("low"),
        max_by(v, ord).as("close"),
        count(lit(1)).as("n_events"),
        sum(col(valueCol).cast("decimal(18,2)")).as("vsum"))
      .withColumn("vavg", round(col("vsum").cast("double") /
        col("n_events").cast("double"), 6))
      .withColumn("vsum", col("vsum").cast("double"))
  }

  /** Largest-triangle downsampling (the LTTB family, Steinarsson 2013):
    * per series × fixed time bucket, keep the ONE observed point that
    * subtends the largest triangle against the neighboring buckets'
    * mean points — the visualization-grade downsample that preserves
    * spikes and shape where per-bucket mean/max flatten them.
    *
    * This is the PARALLEL variant: both triangle anchors are bucket
    * MEANS (classic LTTB anchors on the previously *selected* point,
    * a sequential dependency that cannot distribute; anchoring both
    * sides on means is the standard parallelization and what LTTB
    * itself does for the right anchor). Endpoint buckets keep the
    * series' first/last observation, matching LTTB's keep-the-endpoints
    * contract.
    *
    * Determinism: bucket means come from EXACT decimal sums (timestamps
    * as DECIMAL(38,0), values as DECIMAL(18,2)) with one correctly-
    * rounded division each; the triangle area is then a fixed tree of
    * IEEE ops on identical operands in any engine, so the per-bucket
    * argmax (area desc, then timestamp/id asc — id desc in the last
    * bucket) picks the same point everywhere. `idCol` must be numeric
    * (the directional tie-break negates it); null values are dropped
    * up front (not observations).
    *
    * Scale shape: one repartition on the series key serves everything —
    * the bucket-mean aggregate (map-side partials), the lag/lead window
    * over the per-series BUCKET frame (downsampled, not raw), the
    * candidates join (hash partitioning on a subset of the join keys
    * satisfies its clustering), and the per-bucket selection window
    * (sorts bucket occupancy — events per series per step, a cadence
    * bound, not a corpus bound). The input is localCheckpoint'd once:
    * raw rows and bucket means are two subplans of the same scan, and
    * without it Catalyst would scan the source twice (the
    * quality_calibrate precedent). Pass a PROJECTED frame. */
  def lttb(df: DataFrame, seriesCols: Seq[String], tsMicrosCol: String,
           idCol: String, valueCol: String, stepMicros: Long): DataFrame = {
    require(stepMicros > 0, s"stepMicros=$stepMicros must be positive")
    val sc = seriesCols.map(col)
    val ts = col(tsMicrosCol)
    val base = df.filter(col(valueCol).isNotNull)
      .withColumn("bucket", bucket(ts, stepMicros))
      .repartition(sc: _*)
      .localCheckpoint()
    val means = base
      .groupBy(sc :+ col("bucket"): _*)
      .agg((sum(ts.cast("decimal(38,0)")).cast("double") /
        count(lit(1)).cast("double")).as("mx"),
        (exactSum(col(valueCol)) / count(lit(1)).cast("double")).as("my"),
        count(lit(1)).as("n_in_bucket"))
    val w = Window.partitionBy(sc: _*).orderBy(col("bucket"))
    val anchored = means
      .withColumn("ax", lag(col("mx"), 1).over(w))
      .withColumn("ay", lag(col("my"), 1).over(w))
      .withColumn("cx", lead(col("mx"), 1).over(w))
      .withColumn("cy", lead(col("my"), 1).over(w))
      .drop("mx", "my")
    val bx = ts.cast("double")
    val by = col(valueCol).cast("double")
    val cand = base.join(anchored, seriesCols :+ "bucket")
      .withColumn("__area", abs(
        (col("ax") - col("cx")) * (by - col("ay")) -
          (col("ax") - bx) * (col("cy") - col("ay"))))
      // edge buckets have a null anchor → null area for every candidate;
      // the tie-break then selects the endpoint: first observation in
      // the series' first bucket, last observation in its last
      .withColumn("__dir",
        when(col("cx").isNull && col("ax").isNotNull, lit(-1L))
          .otherwise(lit(1L)))
    val sel = Window.partitionBy(sc :+ col("bucket"): _*)
      .orderBy(col("__area").desc_nulls_last,
        (col("__dir") * ts).asc, (col("__dir") * col(idCol)).asc)
    cand.withColumn("__rn", row_number().over(sel))
      .filter(col("__rn") === 1)
      .select(sc ++ Seq(col("bucket"), ts.as(tsMicrosCol),
        col(idCol), by.as(valueCol), col("n_in_bucket")): _*)
  }

  /** Rolling mean over a fixed trailing time window: snap to a
    * `stepMicros` grid, aggregate each bucket (exact decimal sum + count),
    * then average the last `windowSteps` buckets with a RANGE frame —
    * RANGE, not ROWS, so series with missing buckets still average over
    * the TIME window (a ROWS frame would silently stretch across gaps).
    *
    * ONE shuffle total: the explicit repartition on the series key
    * satisfies both the bucket aggregate's clustering (a subset of its
    * grouping keys) and the window's partitioning, so EnsureRequirements
    * inserts no further exchange. Per-bucket partial sums are still
    * map-side, and only one row per (series, bucket) enters the window —
    * at 100 TB the window input is the downsampled series, not raw
    * events. (Without the repartition Spark plans TWO exchanges: one on
    * (series, bucket) for the aggregate, another on series for the
    * window — verified with ExplainProbe.)
    *
    * Float discipline: bucket sums are DECIMAL(18,2) (exact, order-free);
    * the single double division and the final 6-dp round are
    * correctly-rounded IEEE ops on identical inputs in any engine. */
  def rollingMean(df: DataFrame, seriesCols: Seq[String],
                  tsMicrosCol: String, valueCol: String, stepMicros: Long,
                  windowSteps: Int): DataFrame = {
    require(stepMicros > 0, s"stepMicros=$stepMicros must be positive")
    require(windowSteps > 0, s"windowSteps=$windowSteps must be positive")
    val sc = seriesCols.map(col)
    val ts = col(tsMicrosCol)
    val bucketed = df
      .withColumn("bucket", bucket(ts, stepMicros))
      .repartition(sc: _*)
      .groupBy(sc :+ col("bucket"): _*)
      .agg(sum(col(valueCol).cast("decimal(18,2)")).as("bsum"),
        count(lit(1)).as("bn"))
    val w = Window.partitionBy(sc: _*).orderBy(col("bucket"))
      .rangeBetween(-(windowSteps - 1) * stepMicros, 0)
    bucketed.select(sc ++ Seq(
      col("bucket"),
      sum(col("bn")).over(w).as("window_n"),
      round(sum(col("bsum")).over(w).cast("double") /
        sum(col("bn")).over(w).cast("double"), 6).as("moving_avg")): _*)
  }

  /** Classical additive seasonal decomposition (the decompose() of every
    * stats toolkit): per series, hourly/daily buckets split into
    * trend + seasonal + remainder — trend the centered 2×m moving
    * average, seasonal the per-phase mean of the detrended series
    * (centered to sum ~0 over a period), remainder what's left. The
    * capacity-planning / anomaly-baseline view of an event stream:
    * "is Tuesday 3am REALLY low, or is that just the season?".
    *
    * == Engine-exact integer grid ==
    * Bucket sums are exact cents; the 2×m MA numerator is the exact long
    * T = 2·Σ_{−h..+h} − x_{−h} − x_{+h} (cents, 2m× scale), so
    * `detrended = 2m·x − T` is EXACT on the cents×2m grid, and the
    * seasonal/centering means use integral division — detrended masses
    * go negative, and BOTH engines truncate toward zero there (Spark
    * `div` and DuckDB `//` alike; verified −7 // 2 = −3), so the
    * truncated means replay exactly.
    * Trend is additionally emitted in value units as one
    * correctly-rounded division of exact ints (6 dp). Deterministic, no
    * libm anywhere.
    *
    * Trend (and so detrended/remainder) is defined only where the
    * centered window is COMPLETE — all 2h+1 buckets present (`win_n` =
    * periodSteps+1) — the textbook edge rule; incomplete-window buckets
    * keep their seasonal index (phase means are estimated from complete
    * rows only) and null trend/remainder. A phase with NO complete rows
    * yields null seasonal for its buckets.
    *
    * Scale shape: one hash aggregate corpus → (series, bucket) cents;
    * everything after runs on the bucket frame — one RANGE window and
    * two ±h self-equi-joins for the MA, two phase-keyed hash aggregates
    * for the seasonal means, broadcast-sized per-series frames joined
    * back. No global sort, nothing collected.
    *
    * Output: (series…, bucket, n, value_sum, trend, det_fp, seasonal_fp,
    * remainder_fp) — *_fp on the cents×2m grid. */
  def seasonalDecompose(df: DataFrame, seriesCols: Seq[String],
                        tsMicrosCol: String, valueCol: String,
                        periodSteps: Int = 24,
                        stepMicros: Long = 3600000000L): DataFrame = {
    require(periodSteps >= 2 && periodSteps % 2 == 0,
      s"periodSteps=$periodSteps must be even and >= 2")
    require(stepMicros > 0, s"stepMicros=$stepMicros must be positive")
    val half = periodSteps / 2
    val m2 = 2L * periodSteps
    val sc = seriesCols.map(col)
    val ts = col(tsMicrosCol)
    val bucketed = df
      .withColumn("bucket", bucket(ts, stepMicros))
      .repartition(sc: _*)
      .groupBy(sc :+ col("bucket"): _*)
      .agg(count(lit(1)).as("n"),
        sum(col(valueCol).cast("decimal(18,2)")).as("vsum"))
      .withColumn("vc", (col("vsum") * 100).cast("long"))
      .localCheckpoint()
    val w = Window.partitionBy(sc: _*).orderBy(col("bucket"))
      .rangeBetween(-half * stepMicros, half * stepMicros)
    val withWin = bucketed
      .withColumn("win_n", count(lit(1)).over(w))
      .withColumn("win_c", sum(col("vc")).over(w))
    val bLo = bucketed.select(sc ++ Seq(
      (col("bucket") + half * stepMicros).as("bucket"),
      col("vc").as("c_lo")): _*)
    val bHi = bucketed.select(sc ++ Seq(
      (col("bucket") - half * stepMicros).as("bucket"),
      col("vc").as("c_hi")): _*)
    val names = seriesCols :+ "bucket"
    val trended = withWin
      .join(bLo, names, "left").join(bHi, names, "left")
      .withColumn("t_fp",
        when(col("win_n") === (periodSteps + 1),
          lit(2L) * col("win_c") - col("c_lo") - col("c_hi")))
      .withColumn("det_fp",
        when(col("t_fp").isNotNull, lit(m2) * col("vc") - col("t_fp")))
      .withColumn("phase",
        pmod(expr(s"bucket div $stepMicros"), lit(periodSteps.toLong)))
    // `div` truncates toward zero on the (possibly negative) detrended
    // masses — and so does DuckDB's `//` (verified: −7 // 2 = −3), so
    // the truncated means replay exactly; `/` would be double division
    val phaseMeans = trended.filter(col("det_fp").isNotNull)
      .groupBy(sc :+ col("phase"): _*)
      .agg(sum(col("det_fp")).as("ps"), count(lit(1)).as("pn"))
      .withColumn("s_raw", expr("ps div pn"))
    val centers = phaseMeans
      .groupBy(sc: _*)
      .agg(sum(col("s_raw")).as("ss"), count(lit(1)).as("sn"))
      .withColumn("m_fp", expr("ss div sn"))
      .select(sc :+ col("m_fp"): _*)
    // phase means and centers are |series|×period rows — broadcast
    // explicitly (post-aggregate size estimates are too conservative to
    // pick it, and a sort-merge of the corpus-bucket frame against a
    // 24-row-per-series table is the wrong plan at any scale)
    val seasonal = phaseMeans.join(broadcast(centers), seriesCols)
      .select(sc ++ Seq(col("phase"),
        (col("s_raw") - col("m_fp")).as("seasonal_fp")): _*)
    trended.join(broadcast(seasonal), seriesCols :+ "phase", "left")
      .select(sc ++ Seq(col("bucket"), col("n"),
        col("vsum").cast("double").as("value_sum"),
        round(col("t_fp").cast("double") / lit(m2 * 100.0), 6).as("trend"),
        col("det_fp"), col("seasonal_fp"),
        (col("det_fp") - col("seasonal_fp")).as("remainder_fp")): _*)
  }

  /** CUSUM change-point localization: per series, the observation where
    * the cumulative sum of deviations from the series mean attains its
    * maximum magnitude — the classic single-change-point estimator (the
    * argmax of |CUSUM| splits the series where the level shifted), run
    * offline over a metrics table to find WHEN a counter's behavior
    * changed (deploy, reroute, hardware swap).
    *
    * == All-integer arithmetic ==
    * Values are fixed to centi-units (`decimal(18,2) × 100` → long), and
    * the mean is never divided out: with n = series length and
    * S = Σvᵢ, the k-th CUSUM against the mean scaled by n is
    * `n·Σ_{i≤k}vᵢ − k·S` — exact longs, identical in any engine, same
    * trick as [[zscore]]'s exact-decimal moments. Headroom: n·S must
    * stay under 2⁶³ (≈9·10¹⁸); a 10⁶-row series of 10⁴-unit values uses
    * 10¹⁶ — checked by the caller's series granularity, not here.
    *
    * Ordering inside a series is total — (ts, id) — so equal-timestamp
    * rows cannot make the prefix sums partition-order-dependent.
    *
    * Scale shape: one shuffle on the series key serves the stats join,
    * the prefix-sum window, and the argmax window (same partitioning;
    * EnsureRequirements plans one exchange, the sorts differ). A hot
    * series costs one task's sort, the [[gapfill]] posture. Null values
    * are missed measurements and are dropped up front.
    *
    * Output: one row per series with ≥ 2 observations — series cols,
    * `n_events`, the change point's `cp_ts`/`cp_id`, the exact scaled
    * deviation `cusum_abs` (= n·|CUSUM at the change point| in
    * centi-units), and `sum_c100` (the exact centi-unit value total, for
    * reconstructing the mean downstream without a division here). */
  def cusumChangePoint(df: DataFrame, seriesCols: Seq[String],
                       tsMicrosCol: String, idCol: String,
                       valueCol: String): DataFrame = {
    val sc = seriesCols.map(col)
    val base = df.filter(col(valueCol).isNotNull)
      .withColumn("__vc",
        (col(valueCol).cast("decimal(18,2)") * 100).cast("long"))
    val stats = base.groupBy(sc: _*)
      .agg(count(lit(1)).as("__n"), sum(col("__vc")).as("__s"))
      .filter(col("__n") >= 2)
    val wPrefix = Window.partitionBy(sc: _*)
      .orderBy(col(tsMicrosCol), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wPick = Window.partitionBy(sc: _*)
      .orderBy(col("__cabs").desc, col(tsMicrosCol), col(idCol))
    base.join(stats, seriesCols)
      .withColumn("__k",
        row_number().over(Window.partitionBy(sc: _*)
          .orderBy(col(tsMicrosCol), col(idCol))).cast("long"))
      .withColumn("__cusum",
        col("__n") * sum(col("__vc")).over(wPrefix) - col("__k") * col("__s"))
      .withColumn("__cabs", abs(col("__cusum")))
      .withColumn("__r", row_number().over(wPick))
      .filter(col("__r") === 1)
      .select(sc ++ Seq(col("__n").as("n_events"),
        col(tsMicrosCol).as("cp_ts"), col(idCol).as("cp_id"),
        col("__cabs").as("cusum_abs"), col("__s").as("sum_c100")): _*)
  }

  /** Per-series lag-k autocorrelation for k = 1..`maxLag`: the Pearson
    * correlation of (xₜ, xₜ₋ₖ) over consecutive observation pairs —
    * "is this metric self-similar at 1/2/3 steps", the cheap seasonality
    * / momentum probe read before committing to a forecasting model.
    *
    * Same exactness scheme as [[cusumChangePoint]]: values fix to
    * centi-unit longs, ALL five correlation sums (Σx, Σy, Σxy, Σx²,
    * Σy²) accumulate as DECIMAL(38,0) (xy up to 10¹² per pair — long
    * sums would overflow at ~10⁶ pairs), and the closed form
    * `(nΣxy − ΣxΣy) / √((nΣx²−(Σx)²)(nΣy²−(Σy)²))` is evaluated as a
    * fixed tree of correctly-rounded IEEE ops on the exact-decimal
    * casts. Series ordering is total on (ts, id). Degenerate series
    * (fewer than 2 pairs at a lag, or zero variance on either side)
    * emit null autocorr — null, not NaN.
    *
    * Scale shape: ONE exchange on the series key; the single sort
    * serves all `maxLag` lag columns (one window frame, k lag exprs);
    * the pair rows collapse immediately into one hash aggregate per
    * (series, lag). */
  def autocorrelation(df: DataFrame, seriesCols: Seq[String],
                      tsMicrosCol: String, idCol: String, valueCol: String,
                      maxLag: Int = 3): DataFrame = {
    require(maxLag >= 1 && maxLag <= 32, s"maxLag=$maxLag out of [1,32]")
    val sc = seriesCols.map(col)
    val w = Window.partitionBy(sc: _*)
      .orderBy(col(tsMicrosCol), col(idCol))
    val base = df.filter(col(valueCol).isNotNull)
      .withColumn("__x",
        (col(valueCol).cast("decimal(18,2)") * 100).cast("long"))
    val lagged = (1 to maxLag).foldLeft(base) { (acc, k) =>
      acc.withColumn(s"__y$k", lag(col("__x"), k).over(w))
    }
    val pairs = lagged.select(sc ++ Seq(col("__x"),
      explode(array((1 to maxLag).map(k =>
        struct(lit(k).as("lag"), col(s"__y$k").as("y"))): _*)).as("__p")): _*)
      .select(sc ++ Seq(col("__p.lag").as("lag"), col("__x"),
        col("__p.y").as("__y")): _*)
      .filter(col("__y").isNotNull)
    // decimal(18,0) keeps the pairwise product at decimal(37,0) — exact
    // with NO precision clamping (38-cap rounding would be silent)
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(18,0)")
    val agg = pairs.groupBy(sc :+ col("lag"): _*)
      .agg(count(lit(1)).as("n_pairs"),
        sum(dec(col("__x"))).as("sx"), sum(dec(col("__y"))).as("sy"),
        sum(dec(col("__x")) * dec(col("__y"))).as("sxy"),
        sum(dec(col("__x")) * dec(col("__x"))).as("sxx"),
        sum(dec(col("__y")) * dec(col("__y"))).as("syy"))
    val n = dec(col("n_pairs"))
    val num = (n * col("sxy") - col("sx") * col("sy")).cast("double")
    val vx = (n * col("sxx") - col("sx") * col("sx")).cast("double")
    val vy = (n * col("syy") - col("sy") * col("sy")).cast("double")
    agg.select(sc ++ Seq(col("lag"), col("n_pairs"),
      when(col("n_pairs") >= 2 && vx > 0 && vy > 0,
        round(num / sqrt(vx * vy), 6)).as("autocorr")): _*)
  }
}
