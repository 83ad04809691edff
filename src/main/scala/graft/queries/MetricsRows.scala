package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.{AsofJoin, Cohorts, GroupAssembly, RangeJoin,
  Sessionize, Skew, TimeSeries}
import graft.dsl.{MetricsDsl, ResourceFilter}
import graft.dsl.MetricsDsl.{GroupConfig, TargetSpec}

/** The resource-filter and metrics DSLs, and the event-stream metrics
  * in batch: sessions, as-of and range joins, skew, sketches and the
  * time-series operators over `events`. */
object MetricsRows {
  import Shared._

  /** 2024-01-01T00:00:00Z in epoch micros — the crawl-clock origin the
    * layout audit quantizes hours against. */
  private val Epoch2024Us = 1704067200000000L

  private val DayMicros = 86400000000L

  /** DuckDB Morton-interleave of the low `bits` bits of two integer
    * expressions — mirror of [[graft.operators.Layout.zorderKey2]]. */
  private def zorderKeySql(x: String, y: String, bits: Int): String = {
    val mask = (1L << bits) - 1
    (0 until bits).map { i =>
      s"((((($x) & $mask) >> $i) & 1) << ${2 * i}) + " +
        s"((((($y) & $mask) >> $i) & 1) << ${2 * i + 1})"
    }.mkString("(", " + ", ")")
  }

  private def resourceCols(df: DataFrame): DataFrame =
    df.select("resource_id", "resource_site", "resource_subclass",
      "resource_type")

  val rows: Seq[Row] = Seq(
    // --- generic key-skew diagnostic: order-of-magnitude histogram of
    // per-key counts + the hottest keys (the sizing inputs behind every
    // salt / cap / broadcast decision) --------------------------------------
    Row("skew_profile", (s, d) =>
      Skew.keyProfile(Tables.events(s, d), "user_id"),
      """WITH c AS (SELECT user_id, count(*) AS cnt
        |           FROM events GROUP BY user_id)
        |SELECT CAST(length(CAST(cnt AS VARCHAR)) AS INT) AS digits,
        |       count(*) AS n_keys, CAST(sum(cnt) AS BIGINT) AS n_rows,
        |       max(cnt) AS max_count
        |FROM c GROUP BY 1""".stripMargin),

    Row("skew_hot_keys", (s, d) =>
      Skew.hotKeys(Tables.events(s, d), "user_id", topN = 20),
      """SELECT user_id, count(*) AS key_count FROM events
        |GROUP BY user_id
        |ORDER BY key_count DESC, user_id LIMIT 20""".stripMargin),

    // --- clickstream sessionization (gap-based, 24 h) ----------------------
    // ts is long nanos on the Spark side but DuckDB's TIMESTAMP truncates to
    // microseconds at parquet read, so both engines quantize to exact µs
    // (`ts div 1000` ↔ `epoch_us(ts)`) before comparing gaps.
    Row("sessionize", (s, d) =>
      Sessionize.assign(
        Tables.eventsUs(s, d),
        "user_id", "ts_us", "event_id", gapMicros = 86400L * 1000000L)
        .select("event_id", "user_id", "session_seq"),
      """WITH x AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS tsn,
        |         lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |             ORDER BY epoch_us(ts), event_id) AS prev
        |  FROM events)
        |SELECT event_id, user_id,
        |       CAST(sum(CASE WHEN prev IS NULL
        |                       OR tsn - prev > 86400000000
        |                     THEN 1 ELSE 0 END)
        |            OVER (PARTITION BY user_id ORDER BY tsn, event_id
        |                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        |FROM x""".stripMargin),

    // --- top session paths: ordered event-type sequences, capped at 5
    // steps, counted corpus-wide ---------------------------------------------
    Row("session_paths", (s, d) =>
      Sessionize.pathsTopK(
        Tables.eventsUs(s, d),
        "user_id", "ts_us", "event_id", "event_type",
        gapMicros = 86400L * 1000000L, maxSteps = 5, topN = 20),
      """WITH x AS (
        |  SELECT event_id, user_id, event_type, epoch_us(ts) AS tsn,
        |         lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |             ORDER BY epoch_us(ts), event_id) AS prev
        |  FROM events),
        |g AS (
        |  SELECT *, sum(CASE WHEN prev IS NULL
        |                       OR tsn - prev > 86400000000
        |                     THEN 1 ELSE 0 END)
        |            OVER (PARTITION BY user_id ORDER BY tsn, event_id
        |                  ROWS UNBOUNDED PRECEDING) AS session_seq
        |  FROM x),
        |p AS (
        |  SELECT user_id, session_seq,
        |         array_to_string(
        |           (list(event_type ORDER BY tsn, event_id))[1:5], '>')
        |           AS path
        |  FROM g GROUP BY 1, 2)
        |SELECT path, count(*) AS n_sessions FROM p GROUP BY path
        |ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin),

    // --- per-session aggregates ---------------------------------------------
    Row("session_stats", (s, d) =>
      Sessionize.stats(
        Sessionize.assign(
          Tables.eventsUs(s, d),
          "user_id", "ts_us", "event_id", gapMicros = 86400L * 1000000L),
        "user_id", "ts_us", "event_type", "value")
        .select("user_id", "session_seq", "n_events", "start_us", "end_us",
          "duration_us", "n_types", "value_sum"),
      """WITH x AS (
        |  SELECT event_id, user_id, event_type, value, epoch_us(ts) AS tsn,
        |         lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |             ORDER BY epoch_us(ts), event_id) AS prev
        |  FROM events),
        |s AS (
        |  SELECT *, sum(CASE WHEN prev IS NULL
        |                       OR tsn - prev > 86400000000
        |                     THEN 1 ELSE 0 END)
        |            OVER (PARTITION BY user_id ORDER BY tsn, event_id
        |                  ROWS UNBOUNDED PRECEDING) AS session_seq
        |  FROM x)
        |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
        |       count(*) AS n_events,
        |       min(tsn) AS start_us, max(tsn) AS end_us,
        |       max(tsn) - min(tsn) AS duration_us,
        |       count(DISTINCT event_type) AS n_types,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
        |FROM s GROUP BY 1, 2""".stripMargin),

    // --- strict-order funnel: view → click → purchase per user --------------
    Row("session_funnel", (s, d) =>
      Sessionize.funnel(
        Tables.eventsUs(s, d),
        "user_id", "ts_us", "event_type",
        Seq("view", "click", "purchase"))
        .select(col("user_id"), col("reached"),
          coalesce(col("ts_step1"), lit(-1L)).as("ts_step1"),
          coalesce(col("ts_step2"), lit(-1L)).as("ts_step2"),
          coalesce(col("ts_step3"), lit(-1L)).as("ts_step3")),
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) AS tsn, event_type FROM events
        |  WHERE event_type IN ('view', 'click', 'purchase')),
        |s1 AS (SELECT user_id, min(tsn) AS t1 FROM ev
        |       WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT ev.user_id, min(tsn) AS t2 FROM ev JOIN s1 USING (user_id)
        |       WHERE event_type = 'click' AND tsn > t1 GROUP BY 1),
        |s3 AS (SELECT ev.user_id, min(tsn) AS t3 FROM ev JOIN s2 USING (user_id)
        |       WHERE event_type = 'purchase' AND tsn > t2 GROUP BY 1),
        |keys AS (SELECT DISTINCT user_id FROM ev)
        |SELECT k.user_id,
        |       CAST(CASE WHEN t3 IS NOT NULL THEN 3
        |                 WHEN t2 IS NOT NULL THEN 2
        |                 WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS reached,
        |       coalesce(t1, -1) AS ts_step1,
        |       coalesce(t2, -1) AS ts_step2,
        |       coalesce(t3, -1) AS ts_step3
        |FROM keys k
        |LEFT JOIN s1 USING (user_id)
        |LEFT JOIN s2 USING (user_id)
        |LEFT JOIN s3 USING (user_id)""".stripMargin),

    // --- as-of join: latest purchase at or before each view, per user ------
    // Union+window (one shuffle, no range explosion) vs DuckDB's native
    // ASOF JOIN — two independent algorithms, same answer.
    Row("asof_join", (s, d) => {
      val ev = Tables.eventsUs(s, d)
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts_us"), col("event_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts_us").as("purchase_ts"))
        .agg(max(col("value")).as("purchase_value"))
      AsofJoin.leftAsof(views, purchases, "user_id", "ts_us", "purchase_ts",
        asofTsName = "purchase_ts")
        .select("event_id", "user_id", "ts_us", "purchase_ts",
          "purchase_value")
    },
      """WITH l AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events
        |  WHERE event_type = 'view'),
        |r AS (
        |  SELECT user_id, epoch_us(ts) AS purchase_ts,
        |         max(value) AS purchase_value
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT l.event_id, l.user_id, l.ts_us,
        |       r.purchase_ts, r.purchase_value
        |FROM l ASOF LEFT JOIN r
        |  ON l.user_id = r.user_id AND l.ts_us >= r.purchase_ts""".stripMargin),

    // --- as-of join with a tolerance: latest purchase at or before each
    // view AND within 7 days — stale matches age out (the reference-data
    // freshness guard every point-in-time lookup wants) ------------------
    Row("asof_join_tol", (s, d) => {
      val ev = Tables.eventsUs(s, d)
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts_us"), col("event_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts_us").as("purchase_ts"))
        .agg(max(col("value")).as("purchase_value"))
      AsofJoin.leftAsof(views, purchases, "user_id", "ts_us", "purchase_ts",
        asofTsName = "purchase_ts",
        tolerance = Some(7L * 86400000000L))
        .select("event_id", "user_id", "ts_us", "purchase_ts",
          "purchase_value")
    },
      // tolerance can't ride DuckDB's ASOF JOIN — the LATERAL top-1 is
      // the equivalent formulation (latest in-window match, else NULLs)
      """WITH l AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events
        |  WHERE event_type = 'view'),
        |r AS (
        |  SELECT user_id, epoch_us(ts) AS purchase_ts,
        |         max(value) AS purchase_value
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT l.event_id, l.user_id, l.ts_us,
        |       pb.purchase_ts, pb.purchase_value
        |FROM l LEFT JOIN LATERAL (
        |  SELECT purchase_ts, purchase_value FROM r
        |  WHERE r.user_id = l.user_id AND r.purchase_ts <= l.ts_us
        |    AND r.purchase_ts >= l.ts_us - 604800000000
        |  ORDER BY r.purchase_ts DESC LIMIT 1) pb ON true""".stripMargin),

    // --- forward as-of: next purchase at-or-after each view (labeling) -----
    Row("asof_join_fwd", (s, d) => {
      val ev = Tables.eventsUs(s, d)
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts_us"), col("event_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts_us").as("purchase_ts"))
        .agg(max(col("value")).as("purchase_value"))
      AsofJoin.leftAsofForward(views, purchases, "user_id", "ts_us",
        "purchase_ts", asofTsName = "purchase_ts")
        .select("event_id", "user_id", "ts_us", "purchase_ts",
          "purchase_value")
    },
      """WITH l AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events
        |  WHERE event_type = 'view'),
        |r AS (
        |  SELECT user_id, epoch_us(ts) AS purchase_ts,
        |         max(value) AS purchase_value
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT l.event_id, l.user_id, l.ts_us,
        |       r.purchase_ts, r.purchase_value
        |FROM l ASOF LEFT JOIN r
        |  ON l.user_id = r.user_id AND l.ts_us <= r.purchase_ts""".stripMargin),

    // --- NEAREST as-of: the closest purchase on either side of each
    // view (ties → the earlier one) — both directions in ONE window
    // pass over the union frame; oracle is a per-row lateral min-
    // distance lookup, a genuinely different algorithm -------------------
    Row("asof_join_near", (s, d) => {
      val ev = Tables.eventsUs(s, d)
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts_us"), col("event_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts_us").as("purchase_ts"))
        .agg(max(col("value")).as("purchase_value"))
      AsofJoin.leftAsofNearest(views, purchases, "user_id", "ts_us",
        "purchase_ts", asofTsName = "purchase_ts")
        .select("event_id", "user_id", "ts_us", "purchase_ts",
          "purchase_value")
    },
      // nearest-on-either-side via a correlated lateral min-distance
      // pick (ORDER BY distance, ts LIMIT 1 — tie → earlier), vs the
      // engine's one-pass two-frame window kernel
      """WITH l AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events
        |  WHERE event_type = 'view'),
        |r AS (
        |  SELECT user_id, epoch_us(ts) AS purchase_ts,
        |         max(value) AS purchase_value
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT l.event_id, l.user_id, l.ts_us,
        |       m.purchase_ts, m.purchase_value
        |FROM l LEFT JOIN LATERAL (
        |  SELECT r.purchase_ts, r.purchase_value
        |  FROM r WHERE r.user_id = l.user_id
        |  ORDER BY CASE WHEN l.ts_us >= r.purchase_ts
        |                THEN l.ts_us - r.purchase_ts
        |                ELSE r.purchase_ts - l.ts_us END,
        |           r.purchase_ts
        |  LIMIT 1) m ON TRUE""".stripMargin),

    // --- range join: views within ±1 h of a (small-cohort) purchase --------
    // Bucketized interval join (equi-join on 1 h buckets + exact filter) vs
    // DuckDB's inequality join.
    Row("range_join", (s, d) => {
      val ev = Tables.eventsUs(s, d)
      val points = ev.filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("ts_us"))
      val hourUs = 3600L * 1000000L
      val intervals = ev
        .filter(col("event_type") === "purchase" && col("user_id") < 10)
        .select(col("event_id").as("purchase_id"),
          (col("ts_us") - hourUs).as("lo"), (col("ts_us") + hourUs).as("hi"))
      RangeJoin.pointInInterval(points, intervals, "ts_us", "lo", "hi",
        bucketWidth = hourUs)
        .select("view_id", "purchase_id", "ts_us", "lo", "hi")
    },
      """WITH p AS (
        |  SELECT event_id AS view_id, epoch_us(ts) AS ts_us FROM events
        |  WHERE event_type = 'view'),
        |iv AS (
        |  SELECT event_id AS purchase_id,
        |         epoch_us(ts) - 3600000000 AS lo,
        |         epoch_us(ts) + 3600000000 AS hi
        |  FROM events WHERE event_type = 'purchase' AND user_id < 10)
        |SELECT view_id, purchase_id, ts_us, lo, hi
        |FROM p JOIN iv ON p.ts_us BETWEEN iv.lo AND iv.hi""".stripMargin),

    // --- interval×interval overlap join: exposure windows × purchase
    // windows (attribution candidates) — bucketized on both sides, each
    // pair emitted once via the overlap-start-bucket filter ---------------
    Row("interval_join", (s, d) => {
      val ev = Tables.eventsUs(s, d)
      val hourUs = 3600L * 1000000L
      val views = ev.filter(col("event_type") === "view" &&
          col("user_id") < 25)
        .select(col("event_id").as("view_id"),
          col("ts_us").as("v_lo"), (col("ts_us") + 2 * hourUs).as("v_hi"))
      val purchases = ev.filter(col("event_type") === "purchase" &&
          col("user_id") < 50)
        .select(col("event_id").as("purchase_id"),
          (col("ts_us") - hourUs).as("p_lo"),
          (col("ts_us") + hourUs).as("p_hi"))
      RangeJoin.intervalOverlap(views, purchases, "v_lo", "v_hi",
        "p_lo", "p_hi", bucketWidth = hourUs)
        .select("view_id", "purchase_id", "v_lo", "p_lo")
    },
      """WITH e AS (SELECT event_id, user_id, event_type,
        |                  epoch_us(ts) AS ts_us FROM events),
        |v AS (SELECT event_id AS view_id, ts_us AS v_lo,
        |             ts_us + 7200000000 AS v_hi
        |      FROM e WHERE event_type = 'view' AND user_id < 25),
        |p AS (SELECT event_id AS purchase_id,
        |             ts_us - 3600000000 AS p_lo,
        |             ts_us + 3600000000 AS p_hi
        |      FROM e WHERE event_type = 'purchase' AND user_id < 50)
        |SELECT view_id, purchase_id, v_lo, p_lo
        |FROM v JOIN p ON v_lo <= p_hi AND p_lo <= v_hi""".stripMargin),

    // --- exact per-type value percentiles ----------------------------------
    // Exact `percentile` matches DuckDB's quantile_cont (linear
    // interpolation at rank p·(n−1)). At 100 TB swap in approx_percentile —
    // the t-digest sketch merges map-side instead of collecting per-group
    // value multisets (same columns, bounded memory, documented in SCALE.md).
    Row("event_percentiles", (s, d) =>
      Tables.events(s, d).groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(expr("percentile(value, 0.5D)"), 6).as("p50"),
          round(expr("percentile(value, 0.9D)"), 6).as("p90"),
          round(expr("percentile(value, 0.99D)"), 6).as("p99")),
      """SELECT event_type, count(*) AS n,
        |       round(quantile_cont(value, 0.5), 6) AS p50,
        |       round(quantile_cont(value, 0.9), 6) AS p90,
        |       round(quantile_cont(value, 0.99), 6) AS p99
        |FROM events GROUP BY 1""".stripMargin),

    // --- mergeable log-bucket quantile sketch: the 100 TB percentile
    // plan — one hash aggregate to ≤ hundreds of (group, bucket) counts
    // (merge by +, map-side combine), string-math HDR buckets (no libm),
    // deterministic in-bucket interpolation. The bounded+engine-exact
    // sibling of event_percentiles' exact sort ---------------------------
    Row("sketch_quantiles", (s, d) =>
      graft.llm.Sketches.histQuantiles(Tables.events(s, d),
        Seq("event_type"), "value", ps = Seq(0.5, 0.9, 0.99)),
      // string-math HDR buckets (two leading decimal digits of the
      // 1e-3-grid integer), cumulative window, first bucket reaching
      // t = p·n, linear in-bucket interpolation — every operand an exact
      // integer in a double, mirroring Sketches.histQuantiles
      """WITH src AS (
        |  SELECT event_type,
        |         CAST(CAST(floor(value * 1000.0) AS BIGINT) AS VARCHAR)
        |           AS gs
        |  FROM events WHERE value >= 0 AND NOT isnan(value)),
        |b AS (SELECT event_type,
        |        CAST(substr(gs, 1, 2) ||
        |             repeat('0', greatest(length(gs) - 2, 0)) AS BIGINT)
        |          AS lo,
        |        CAST(CAST(CAST(substr(gs, 1, 2) AS BIGINT) + 1
        |               AS VARCHAR) ||
        |             repeat('0', greatest(length(gs) - 2, 0)) AS BIGINT)
        |          AS hi
        |      FROM src),
        |cnts AS (SELECT event_type, lo, hi, count(*) AS cnt
        |         FROM b GROUP BY 1, 2, 3),
        |cum AS (SELECT *,
        |          SUM(cnt) OVER (PARTITION BY event_type ORDER BY lo)
        |            AS cum,
        |          SUM(cnt) OVER (PARTITION BY event_type) AS n
        |        FROM cnts),
        |wp AS (SELECT *, unnest([0.5, 0.9, 0.99]) AS p FROM cum),
        |sel AS (SELECT *, p * CAST(n AS DOUBLE) AS t FROM wp),
        |pick AS (SELECT * FROM (
        |  SELECT *, row_number() OVER (PARTITION BY event_type, p
        |                               ORDER BY lo) AS rn
        |  FROM sel WHERE CAST(cum AS DOUBLE) >= t) WHERE rn = 1),
        |drp AS (SELECT event_type, count(*) AS n_dropped FROM events
        |        WHERE value < 0 OR value IS NULL OR isnan(value)
        |        GROUP BY 1),
        |ad AS (SELECT d.event_type, u.p, CAST(0 AS BIGINT) AS n,
        |              CAST(NULL AS DOUBLE) AS est,
        |              CAST(d.n_dropped AS BIGINT) AS n_dropped
        |       FROM drp d
        |       CROSS JOIN (SELECT unnest([0.5, 0.9, 0.99]) AS p) u
        |       WHERE d.event_type NOT IN
        |             (SELECT DISTINCT event_type FROM cnts))
        |SELECT pick.event_type, p, CAST(n AS BIGINT) AS n,
        |       round((CAST(lo AS DOUBLE) + CAST(hi - lo AS DOUBLE) *
        |              (t - CAST(cum - cnt AS DOUBLE)) /
        |              CAST(cnt AS DOUBLE)) / 1000.0, 6) AS est,
        |       CAST(coalesce(drp.n_dropped, 0) AS BIGINT) AS n_dropped
        |FROM pick LEFT JOIN drp USING (event_type)
        |UNION ALL SELECT * FROM ad""".stripMargin),

    // --- per-hour p50/p95 from the same mergeable sketch: the
    // observability "latency percentile per time bucket" board — the
    // bucket counts partial-aggregate map-side per (type, hour), so the
    // time dimension adds rows to the TINY sketch frame, not passes
    // over the corpus ----------------------------------------------------
    Row("ts_quantile_buckets", (s, d) =>
      graft.llm.Sketches.histQuantiles(
        Tables.eventsUs(s, d)
          .withColumn("hour", expr("ts_us div 3600000000")),
        Seq("event_type", "hour"), "value", ps = Seq(0.5, 0.95)),
      // same sketch, (type, hour) grain — epoch_us // 3600000000 ≡ the
      // engine's ts_us div on non-negative epochs
      """WITH src AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS hour,
        |         CAST(CAST(floor(value * 1000.0) AS BIGINT) AS VARCHAR)
        |           AS gs
        |  FROM events WHERE value >= 0 AND NOT isnan(value)),
        |b AS (SELECT event_type, hour,
        |        CAST(substr(gs, 1, 2) ||
        |             repeat('0', greatest(length(gs) - 2, 0)) AS BIGINT)
        |          AS lo,
        |        CAST(CAST(CAST(substr(gs, 1, 2) AS BIGINT) + 1
        |               AS VARCHAR) ||
        |             repeat('0', greatest(length(gs) - 2, 0)) AS BIGINT)
        |          AS hi
        |      FROM src),
        |cnts AS (SELECT event_type, hour, lo, hi, count(*) AS cnt
        |         FROM b GROUP BY 1, 2, 3, 4),
        |cum AS (SELECT *,
        |          SUM(cnt) OVER (PARTITION BY event_type, hour
        |                         ORDER BY lo) AS cum,
        |          SUM(cnt) OVER (PARTITION BY event_type, hour) AS n
        |        FROM cnts),
        |wp AS (SELECT *, unnest([0.5, 0.95]) AS p FROM cum),
        |sel AS (SELECT *, p * CAST(n AS DOUBLE) AS t FROM wp),
        |pick AS (SELECT * FROM (
        |  SELECT *, row_number() OVER (PARTITION BY event_type, hour, p
        |                               ORDER BY lo) AS rn
        |  FROM sel WHERE CAST(cum AS DOUBLE) >= t) WHERE rn = 1),
        |drp AS (SELECT event_type, epoch_us(ts) // 3600000000 AS hour,
        |               count(*) AS n_dropped
        |        FROM events WHERE value < 0 OR value IS NULL
        |              OR isnan(value)
        |        GROUP BY 1, 2),
        |ad AS (SELECT d.event_type, CAST(d.hour AS BIGINT) AS hour,
        |              u.p, CAST(0 AS BIGINT) AS n,
        |              CAST(NULL AS DOUBLE) AS est,
        |              CAST(d.n_dropped AS BIGINT) AS n_dropped
        |       FROM drp d
        |       CROSS JOIN (SELECT unnest([0.5, 0.95]) AS p) u
        |       WHERE NOT EXISTS (SELECT 1 FROM cnts c
        |                         WHERE c.event_type = d.event_type
        |                           AND c.hour = d.hour))
        |SELECT pick.event_type, CAST(pick.hour AS BIGINT) AS hour, p,
        |       CAST(n AS BIGINT) AS n,
        |       round((CAST(lo AS DOUBLE) + CAST(hi - lo AS DOUBLE) *
        |              (t - CAST(cum - cnt AS DOUBLE)) /
        |              CAST(cnt AS DOUBLE)) / 1000.0, 6) AS est,
        |       CAST(coalesce(drp.n_dropped, 0) AS BIGINT) AS n_dropped
        |FROM pick LEFT JOIN drp USING (event_type, hour)
        |UNION ALL SELECT * FROM ad""".stripMargin),

    // --- per-series anomaly flags over events: z-score vs the series'
    // own mean/stddev, |z| > 2 on the unrounded z — the exact-decimal
    // sum formulation makes mean/std/z bit-identical across engines, so
    // no round() appears anywhere in either formulation -----------------
    // --- robust (median/MAD) anomaly scores: 50% breakdown point where
    // mean/σ are dragged by the outliers being hunted ------------------------
    Row("events_robustz", (s, d) =>
      TimeSeries.robustZscore(Tables.eventsUs(s, d), Seq("event_type"),
        "value")
        .select("event_id", "event_type", "value", "series_med",
          "series_mad", "robust_z", "is_anomaly"),
      // lower-median order statistics on collapsed cells — no
      // interpolation, no round(): every double op is correctly rounded
      // on identical operands, so results are bit-identical
      """WITH c AS (SELECT event_type, value AS v, count(*) AS cnt
        |           FROM events GROUP BY 1, 2),
        |t AS (SELECT event_type, v, cnt,
        |        sum(cnt) OVER (PARTITION BY event_type ORDER BY v
        |                       ROWS UNBOUNDED PRECEDING) AS cum,
        |        sum(cnt) OVER (PARTITION BY event_type) AS n
        |      FROM c),
        |med AS (SELECT event_type, min(v) AS series_med
        |        FROM t WHERE cum >= (n + 1) // 2 GROUP BY 1),
        |dc AS (SELECT c.event_type, abs(c.v - m.series_med) AS dv,
        |              CAST(sum(c.cnt) AS BIGINT) AS cnt
        |       FROM c JOIN med m USING (event_type) GROUP BY 1, 2),
        |t2 AS (SELECT event_type, dv, cnt,
        |         sum(cnt) OVER (PARTITION BY event_type ORDER BY dv
        |                        ROWS UNBOUNDED PRECEDING) AS cum,
        |         sum(cnt) OVER (PARTITION BY event_type) AS n
        |       FROM dc),
        |mad AS (SELECT event_type, min(dv) AS series_mad
        |        FROM t2 WHERE cum >= (n + 1) // 2 GROUP BY 1)
        |SELECT e.event_id, e.event_type, e.value,
        |       m.series_med, d.series_mad,
        |       CASE WHEN d.series_mad > 0
        |            THEN 0.6745 * (e.value - m.series_med) / d.series_mad
        |       END AS robust_z,
        |       coalesce(abs(CASE WHEN d.series_mad > 0
        |            THEN 0.6745 * (e.value - m.series_med) / d.series_mad
        |       END) > 3.5, false) AS is_anomaly
        |FROM events e JOIN med m USING (event_type)
        |              JOIN mad d USING (event_type)""".stripMargin),

    Row("events_zscore", (s, d) =>
      TimeSeries.zscore(
        Tables.events(s, d)
          .select("event_id", "user_id", "event_type", "value"),
        Seq("user_id", "event_type"), "value", threshold = 2.0),
      """WITH s AS (
        |  SELECT event_id, user_id, event_type, value,
        |         CAST(count(*) OVER w AS DOUBLE) AS n_d,
        |         count(*) OVER w AS n,
        |         CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w
        |              AS DOUBLE) AS sum_d,
        |         CAST(sum(CAST(value AS DECIMAL(18,2))
        |                  * CAST(value AS DECIMAL(18,2))) OVER w
        |              AS DOUBLE) AS sumsq_d
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id, event_type)),
        |t AS (
        |  SELECT *, sum_d / n_d AS mean,
        |         (sumsq_d - sum_d * sum_d / n_d) / (n_d - 1.0) AS var
        |  FROM s),
        |u AS (
        |  SELECT *, CASE WHEN n >= 2 AND var > 0 THEN sqrt(var) END
        |              AS std
        |  FROM t)
        |SELECT event_id, user_id, event_type, value,
        |       mean AS series_avg, std AS series_std,
        |       (value - mean) / std AS zscore,
        |       coalesce(abs((value - mean) / std) > 2.0, false)
        |         AS is_anomaly
        |FROM u""".stripMargin),

    // --- gap-filling resample: one-day grid per (user, event_type)
    // series, max-downsample per bucket, linear interpolation for
    // missing days between observations (no join — gaps explode from a
    // lag pair, reusing the aggregate's series-key shuffle) -------------
    Row("ts_gapfill", (s, d) =>
      TimeSeries.gapfill(
        Tables.eventsUs(s, d),
        Seq("user_id", "event_type"), "ts_us", "value",
        stepMicros = DayMicros),
      """WITH b AS (
        |  SELECT user_id, event_type,
        |         epoch_us(ts) - epoch_us(ts) % 86400000000 AS bucket,
        |         max(value) AS v
        |  FROM events GROUP BY 1, 2, 3),
        |p AS (
        |  SELECT *, lag(bucket) OVER w AS prev_bucket,
        |         lag(v) OVER w AS prev_v
        |  FROM b
        |  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY bucket)),
        |g AS (
        |  SELECT user_id, event_type, prev_bucket, prev_v, v,
        |         bucket AS next_bucket,
        |         unnest(CASE WHEN prev_bucket IS NULL THEN [bucket]
        |                     ELSE generate_series(
        |                       prev_bucket + 86400000000, bucket,
        |                       86400000000) END) AS bucket
        |  FROM p)
        |SELECT user_id, event_type, bucket,
        |       CASE WHEN bucket = next_bucket THEN round(v, 6)
        |            ELSE round(prev_v + (v - prev_v)
        |                   * CAST(bucket - prev_bucket AS DOUBLE)
        |                   / CAST(next_bucket - prev_bucket AS DOUBLE),
        |                 6) END AS value,
        |       bucket <> next_bucket AS filled
        |FROM g""".stripMargin),

    // --- trailing 7-day rolling mean per series (RANGE frame: series with
    // missing days still average over the TIME window, not the last 7
    // observations) ----------------------------------------------------
    Row("ts_moving", (s, d) =>
      TimeSeries.rollingMean(
        Tables.eventsUs(s, d),
        Seq("user_id", "event_type"), "ts_us", "value",
        stepMicros = DayMicros, windowSteps = 7),
      // mirror TimeSeries.rollingMean: exact decimal bucket sums, RANGE
      // frame of 6 days preceding, one correctly-rounded division
      """WITH b AS (
        |  SELECT user_id, event_type,
        |         epoch_us(ts) - epoch_us(ts) % 86400000000 AS bucket,
        |         sum(CAST(value AS DECIMAL(18,2))) AS bsum,
        |         count(*) AS bn
        |  FROM events GROUP BY 1, 2, 3)
        |SELECT user_id, event_type, bucket,
        |       CAST(sum(bn) OVER w AS BIGINT) AS window_n,
        |       round(CAST(sum(bsum) OVER w AS DOUBLE)
        |             / CAST(sum(bn) OVER w AS DOUBLE), 6) AS moving_avg
        |FROM b
        |WINDOW w AS (PARTITION BY user_id, event_type ORDER BY bucket
        |             RANGE BETWEEN 518400000000 PRECEDING
        |                       AND CURRENT ROW)""".stripMargin),

    // --- classical seasonal decomposition: hourly per-type series into
    // centered-2×24-MA trend + hour-of-day seasonal + remainder, all on
    // an exact cents×48 integer grid with explicit floor division (the
    // anomaly-baseline view: is 3am low, or just the season?) ------------
    Row("ts_seasonal", (s, d) =>
      TimeSeries.seasonalDecompose(
        Tables.eventsUs(s, d).filter(col("ts_us") >= 0L),
        Seq("event_type"), "ts_us", "value",
        periodSteps = 24, stepMicros = 3600000000L),
      // mirror TimeSeries.seasonalDecompose: exact cents buckets, the
      // 2×24 MA numerator as HUGEINT, `//` floor division (≡ the
      // engine's spelled-out (a − pmod) div), nulls where the centered
      // window is incomplete
      """WITH b AS (
        |  SELECT event_type,
        |         epoch_us(ts) - epoch_us(ts) % 3600000000 AS bucket,
        |         count(*) AS n,
        |         sum(CAST(value AS DECIMAL(18,2))) AS vsum,
        |         CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT)
        |           AS vc
        |  FROM events WHERE epoch_us(ts) >= 0 GROUP BY 1, 2),
        |w AS (
        |  SELECT *, count(*) OVER win AS win_n, sum(vc) OVER win AS win_c
        |  FROM b
        |  WINDOW win AS (PARTITION BY event_type ORDER BY bucket
        |                 RANGE BETWEEN 43200000000 PRECEDING
        |                           AND 43200000000 FOLLOWING)),
        |t AS (
        |  SELECT w.*,
        |         CASE WHEN w.win_n = 25
        |              THEN 2 * w.win_c - lo.vc - hi.vc END AS t_fp
        |  FROM w LEFT JOIN b lo ON lo.event_type = w.event_type
        |                       AND lo.bucket = w.bucket - 43200000000
        |         LEFT JOIN b hi ON hi.event_type = w.event_type
        |                       AND hi.bucket = w.bucket + 43200000000),
        |d AS (SELECT *,
        |        CASE WHEN t_fp IS NOT NULL THEN 48 * vc - t_fp END
        |          AS det_fp,
        |        (bucket // 3600000000) % 24 AS phase
        |      FROM t),
        |pm AS (SELECT event_type, phase,
        |              SUM(det_fp) // COUNT(*) AS s_raw
        |       FROM d WHERE det_fp IS NOT NULL GROUP BY 1, 2),
        |ct AS (SELECT event_type, SUM(s_raw) // COUNT(*) AS m_fp
        |       FROM pm GROUP BY 1),
        |se AS (SELECT pm.event_type, pm.phase,
        |              pm.s_raw - ct.m_fp AS seasonal_fp
        |       FROM pm JOIN ct USING (event_type))
        |SELECT d.event_type, d.bucket, CAST(d.n AS BIGINT) AS n,
        |       CAST(d.vsum AS DOUBLE) AS value_sum,
        |       round(CAST(d.t_fp AS DOUBLE) / 4800.0, 6) AS trend,
        |       CAST(d.det_fp AS BIGINT) AS det_fp,
        |       CAST(se.seasonal_fp AS BIGINT) AS seasonal_fp,
        |       CAST(d.det_fp - se.seasonal_fp AS BIGINT) AS remainder_fp
        |FROM d LEFT JOIN se ON se.event_type = d.event_type
        |                   AND se.phase = d.phase""".stripMargin),

    // --- OHLC candles: per (user, event_type) × day, first/high/low/last
    // value + count/sum/mean; open/close chosen by a portable total-order
    // key (sign-biased ts + length-prefixed id), one hash aggregate ------
    Row("ts_ohlc", (s, d) =>
      TimeSeries.ohlc(
        Tables.eventsUs(s, d),
        Seq("user_id", "event_type"), "ts_us", "event_id", "value",
        stepMicros = DayMicros),
      // mirror TimeSeries.ohlc: null values dropped up front; open/close
      // via min_by/max_by on the same portable total-order key (HUGEINT
      // bias ↔ Spark's decimal bias — identical digit strings), exact
      // decimal volume sum, one correctly-rounded division for the mean
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS ts_us,
        |         event_id, value
        |  FROM events WHERE value IS NOT NULL),
        |k AS (
        |  SELECT user_id, event_type, value,
        |         ts_us - ts_us % 86400000000 AS bucket,
        |         lpad(CAST(CAST(ts_us AS HUGEINT)
        |                   + 9223372036854775808 AS VARCHAR), 20, '0')
        |           || lpad(CAST(length(CAST(event_id AS VARCHAR))
        |                        AS VARCHAR), 6, '0')
        |           || CAST(event_id AS VARCHAR) AS ord
        |  FROM e)
        |SELECT user_id, event_type, bucket,
        |       min_by(CAST(value AS DOUBLE), ord) AS open,
        |       max(CAST(value AS DOUBLE)) AS high,
        |       min(CAST(value AS DOUBLE)) AS low,
        |       max_by(CAST(value AS DOUBLE), ord) AS close,
        |       count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS vsum,
        |       round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |             / CAST(count(*) AS DOUBLE), 6) AS vavg
        |FROM k GROUP BY 1, 2, 3""".stripMargin),

    // --- largest-triangle downsample (parallel LTTB): per day, the ONE
    // point subtending the largest triangle vs neighbor-bucket means —
    // spike-preserving where mean/max candles flatten; endpoints kept -----
    Row("ts_lttb", (s, d) =>
      TimeSeries.lttb(
        Tables.eventsUs(s, d)
          .select("user_id", "event_type", "ts_us", "event_id", "value"),
        Seq("user_id", "event_type"), "ts_us", "event_id", "value",
        stepMicros = DayMicros)
        .select("user_id", "event_type", "bucket", "ts_us", "event_id",
          "value", "n_in_bucket"),
      // mirror TimeSeries.lttb: exact-decimal bucket means, lag/lead
      // anchors, identical IEEE area tree, (area DESC NULLS LAST,
      // dir·ts, dir·id) argmax — edge buckets fall to the tie-break and
      // keep the series endpoints
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS ts_us,
        |         event_id, value
        |  FROM events WHERE value IS NOT NULL),
        |b AS (SELECT *, ts_us - ts_us % 86400000000 AS bucket FROM e),
        |m AS (SELECT user_id, event_type, bucket,
        |        CAST(sum(CAST(ts_us AS DECIMAL(38,0))) AS DOUBLE)
        |          / CAST(count(*) AS DOUBLE) AS mx,
        |        CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |          / CAST(count(*) AS DOUBLE) AS my,
        |        count(*) AS n_in_bucket
        |      FROM b GROUP BY 1, 2, 3),
        |a AS (SELECT *, lag(mx) OVER w AS ax, lag(my) OVER w AS ay,
        |        lead(mx) OVER w AS cx, lead(my) OVER w AS cy
        |      FROM m
        |      WINDOW w AS (PARTITION BY user_id, event_type ORDER BY bucket)),
        |c AS (SELECT b.user_id, b.event_type, b.bucket, b.ts_us,
        |        b.event_id, CAST(b.value AS DOUBLE) AS value,
        |        a.n_in_bucket,
        |        abs((a.ax - a.cx) * (CAST(b.value AS DOUBLE) - a.ay)
        |            - (a.ax - CAST(b.ts_us AS DOUBLE)) * (a.cy - a.ay))
        |          AS area,
        |        CASE WHEN a.cx IS NULL AND a.ax IS NOT NULL
        |             THEN -1 ELSE 1 END AS dir
        |      FROM b JOIN a USING (user_id, event_type, bucket))
        |SELECT user_id, event_type, bucket, ts_us, event_id, value,
        |       n_in_bucket
        |FROM (SELECT *, row_number() OVER (
        |        PARTITION BY user_id, event_type, bucket
        |        ORDER BY area DESC NULLS LAST, dir * ts_us, dir * event_id)
        |        AS rn
        |      FROM c) WHERE rn = 1""".stripMargin),

    // --- CUSUM change-point: per event_type, the observation where the
    // cumulative deviation from the series mean peaks — all-integer
    // (centi-units, mean never divided out), one series-key exchange -------
    Row("ts_cusum", (s, d) =>
      TimeSeries.cusumChangePoint(
        Tables.eventsUs(s, d),
        Seq("event_type"), "ts_us", "event_id", "value"),
      // single-pass mirror of TimeSeries.gapfill: each (prev, current)
      // pair explodes to its interior grid fills plus the current
      // observation; the series head explodes to itself
      // all-integer CUSUM: n·prefix − k·S in centi-units; the argmax row
      // picked by (|cusum| desc, ts, id) — every op exact in both engines
      // (DuckDB's HUGEINT sums are numerically identical, cast at the end)
      """WITH b AS (
        |  SELECT event_type, epoch_us(ts) AS ts_us, event_id,
        |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
        |  FROM events WHERE value IS NOT NULL),
        |st AS (SELECT event_type, count(*) AS n, sum(vc) AS s
        |       FROM b GROUP BY 1 HAVING count(*) >= 2),
        |c AS (SELECT b.event_type, b.ts_us, b.event_id, st.n, st.s,
        |             sum(b.vc) OVER (PARTITION BY b.event_type
        |               ORDER BY b.ts_us, b.event_id
        |               ROWS UNBOUNDED PRECEDING) AS pref,
        |             row_number() OVER (PARTITION BY b.event_type
        |               ORDER BY b.ts_us, b.event_id) AS k
        |      FROM b JOIN st USING (event_type)),
        |a AS (SELECT event_type, ts_us, event_id, n, s,
        |             abs(n * pref - k * s) AS cabs
        |      FROM c)
        |SELECT event_type, CAST(n AS BIGINT) AS n_events,
        |       ts_us AS cp_ts, event_id AS cp_id,
        |       CAST(cabs AS BIGINT) AS cusum_abs,
        |       CAST(s AS BIGINT) AS sum_c100
        |FROM (SELECT *, row_number() OVER (PARTITION BY event_type
        |        ORDER BY cabs DESC, ts_us, event_id) AS r FROM a)
        |WHERE r = 1""".stripMargin),

    // --- lag-1..3 autocorrelation per series: exact-decimal moment sums,
    // one sort serves all lags, pair rows collapse into one aggregate ------
    Row("ts_autocorr", (s, d) =>
      TimeSeries.autocorrelation(Tables.eventsUs(s, d),
        Seq("event_type"), "ts_us", "event_id", "value", maxLag = 3),
      // centi-unit longs; HUGEINT moment sums mirror Spark's
      // decimal(37,0) products exactly; one shared IEEE tree at the end
      """WITH b AS (
        |  SELECT event_type, epoch_us(ts) AS ts_us, event_id,
        |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
        |  FROM events WHERE value IS NOT NULL),
        |l AS (SELECT event_type, x,
        |             lag(x, 1) OVER w AS y1, lag(x, 2) OVER w AS y2,
        |             lag(x, 3) OVER w AS y3
        |      FROM b
        |      WINDOW w AS (PARTITION BY event_type
        |                   ORDER BY ts_us, event_id)),
        |p AS (SELECT event_type, 1 AS lag, x, y1 AS y FROM l
        |      WHERE y1 IS NOT NULL
        |      UNION ALL SELECT event_type, 2, x, y2 FROM l
        |      WHERE y2 IS NOT NULL
        |      UNION ALL SELECT event_type, 3, x, y3 FROM l
        |      WHERE y3 IS NOT NULL),
        |a AS (SELECT event_type, lag, count(*) AS n_pairs,
        |             SUM(CAST(x AS HUGEINT)) AS sx,
        |             SUM(CAST(y AS HUGEINT)) AS sy,
        |             SUM(CAST(x AS HUGEINT) * y) AS sxy,
        |             SUM(CAST(x AS HUGEINT) * x) AS sxx,
        |             SUM(CAST(y AS HUGEINT) * y) AS syy
        |      FROM p GROUP BY 1, 2)
        |SELECT event_type, lag, n_pairs,
        |       CASE WHEN n_pairs >= 2
        |                 AND CAST(n_pairs * sxx - sx * sx AS DOUBLE) > 0
        |                 AND CAST(n_pairs * syy - sy * sy AS DOUBLE) > 0
        |            THEN round(CAST(n_pairs * sxy - sx * sy AS DOUBLE)
        |                 / sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE)
        |                        * CAST(n_pairs * syy - sy * sy AS DOUBLE)),
        |                 6)
        |       END AS autocorr
        |FROM a""".stripMargin),

    // --- first-order event transition matrix per user, exact integer ppm
    // shares — the Markov edge weights behind the session-paths view ------
    Row("event_markov", (s, d) =>
      Sessionize.transitionMatrix(Tables.eventsUs(s, d),
        "user_id", "ts_us", "event_id", "event_type"),
      """WITH t AS (
        |  SELECT event_type,
        |         lag(event_type) OVER (PARTITION BY user_id
        |           ORDER BY epoch_us(ts), event_id) AS from_type
        |  FROM events),
        |tr AS (SELECT from_type, event_type AS to_type,
        |              CAST(count(*) AS BIGINT) AS n
        |       FROM t WHERE from_type IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT from_type, sum(n) AS total FROM tr GROUP BY 1)
        |SELECT tr.from_type, tr.to_type, tr.n,
        |       CAST(tr.n * 1000000 // tot.total AS BIGINT) AS ppm
        |FROM tr JOIN tot USING (from_type)""".stripMargin),

    // --- Z-order layout audit: Morton-interleave (user_id, crawl-hour)
    // and report each keyspace bucket's 2-D bounding box — the file-stat
    // pruning story for multi-dimension predicates at 100 TB ---------------
    Row("layout_zorder", (s, d) => {
      // both dims quantized onto the full 10-bit grid (ranks would do the
      // same at scale) so the interleave actually mixes x and y bits —
      // un-stretched low-cardinality dims would leave the high key bits
      // constant and every row in one bucket
      val ev = Tables.eventsUs(s, d)
      graft.operators.Layout.zorderStats(ev,
        expr("user_id * 1024 div 150"),
        expr(s"((ts_us - $Epoch2024Us) div 3600000000) * 1024 div 744"),
        bits = 10, bucketBits = 6)
    },
      // Morton key built by the mirrored bit-interleave expression;
      // bucket = top 6 of the 32 key bits
      (s"""WITH d AS (
         |  SELECT user_id * 1024 // 150 AS x,
         |         ((epoch_us(ts) - $Epoch2024Us) // 3600000000)
         |           * 1024 // 744 AS y
         |  FROM events),
         |z AS (SELECT ${zorderKeySql("x", "y", 10)} AS zkey, x, y FROM d)
         |SELECT zkey >> 14 AS zbucket, CAST(count(*) AS BIGINT) AS n,
         |       min(x) AS x_min, max(x) AS x_max,
         |       min(y) AS y_min, max(y) AS y_max
         |FROM z GROUP BY 1""".stripMargin)),

    // --- skew-hardened fact×dim equi-join: salted replication on the dim
    // side spreads any hot user key over 8 salt partitions; the result is
    // verified identical to the plain join (the oracle IS the plain join).
    Row("skew_join_salted", (s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("value"))
      val dim = ev.select(col("user_id")).distinct()
        .withColumn("tier", col("user_id") % 5)
      Skew.saltedJoin(ev, dim, "user_id", salt = 8, spreadCol = "event_id")
        .select("event_id", "user_id", "tier", "value")
    },
      // the salted join must equal the PLAIN join — the oracle is the
      // unsalted formulation
      """WITH dim AS (
        |  SELECT DISTINCT user_id, user_id % 5 AS tier FROM events)
        |SELECT e.event_id, e.user_id, d.tier, e.value
        |FROM events e JOIN dim d USING (user_id)""".stripMargin),

    // --- global leaderboard: top-20 users by exact total spend — the
    // TakeOrderedAndProject shape (per-partition heaps, k-row driver
    // merge; never a full sort) over an exact decimal aggregate ----------
    Row("events_leaderboard", (s, d) =>
      Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_purchases"),
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("total_spend"))
        .orderBy(col("total_spend").desc, col("user_id"))
        .limit(20),
      """SELECT user_id, count(*) AS n_purchases,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |         AS total_spend
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY total_spend DESC, user_id LIMIT 20""".stripMargin),

    // --- per-type value histogram: fixed 5-unit bins, one hash aggregate
    // with map-side partials; floor() is the identical IEEE op in both
    // engines, and the per-bin sum stays an exact decimal ----------------
    Row("events_histogram", (s, d) =>
      Tables.events(s, d)
        .groupBy(col("event_type"),
          floor(col("value") / lit(5.0)).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("value_sum")),
      // mirror the events_histogram aggregate: identical IEEE floor on
      // the same double division, exact decimal per-bin sums
      """SELECT event_type,
        |       CAST(floor(value / 5.0) AS BIGINT) AS bucket,
        |       count(*) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |         AS value_sum
        |FROM events GROUP BY 1, 2""".stripMargin),

    // --- cohort retention matrix: users active N days after their first
    // active day, per first-day cohort — all-integer, two user-key
    // shuffles, events collapse to distinct (user, day) up front --------
    Row("cohort_retention", (s, d) =>
      Cohorts.retention(
        Tables.eventsUs(s, d),
        "user_id", "ts_us", stepMicros = DayMicros)
        .select("cohort", "period_offset", "n_users"),
      """WITH act AS (
        |  SELECT DISTINCT user_id,
        |         epoch_us(ts) - epoch_us(ts) % 86400000000 AS period
        |  FROM events),
        |first AS (
        |  SELECT user_id, min(period) AS cohort FROM act GROUP BY 1)
        |SELECT cohort, (period - cohort) // 86400000000 AS period_offset,
        |       count(*) AS n_users
        |FROM act JOIN first USING (user_id)
        |GROUP BY 1, 2""".stripMargin),

    // --- P1-P5: the resource-filter DSL --------------------------------
    Row("dsl_filter_basic", (s, d) =>
      resourceCols(Tables.resources(s, d).filter(ResourceFilter.parse(
        """resource_site = "NATION_3" AND resource_subclass = "BUILDING""""))),
      s"""WITH $R
         |SELECT resource_id, resource_site, resource_subclass, resource_type
         |FROM resources
         |WHERE resource_site = 'NATION_3' AND resource_subclass = 'BUILDING'""".stripMargin),

    Row("dsl_filter_like_in", (s, d) =>
      resourceCols(Tables.resources(s, d).filter(ResourceFilter.parse(
        """resource_id LIKE "Customer#0000001%" OR resource_site IN ("NATION_1", "NATION_2") AND resource_type != "delinquent""""))),
      s"""WITH $R
         |SELECT resource_id, resource_site, resource_subclass, resource_type
         |FROM resources
         |WHERE resource_id LIKE 'Customer#0000001%'
         |   OR (resource_site IN ('NATION_1', 'NATION_2') AND resource_type != 'delinquent')""".stripMargin),

    Row("dsl_filter_metadata", (s, d) =>
      resourceCols(Tables.resources(s, d).filter(ResourceFilter.parse(
        """resource_metadata.acctbal_bucket = "high" AND resource_metadata.nation NOT LIKE "NATION_1%""""))),
      s"""WITH $R
         |SELECT resource_id, resource_site, resource_subclass, resource_type
         |FROM resources
         |WHERE meta_acctbal_bucket = 'high' AND meta_nation NOT LIKE 'NATION_1%'""".stripMargin),

    Row("dsl_filter_mega", (s, d) =>
      resourceCols(Tables.resources(s, d).filter(ResourceFilter.parse(
        """resource_class = "customer" AND resource_subclass = "AUTOMOBILE" OR resource_metadata.acctbal_bucket ne "low" AND resource_site NOT IN ("NATION_5") AND resource_endpoint LIKE "Customer#00000001%" OR resource_type eq "delinquent" AND resource_metadata.mktsegment IN ("BUILDING", "MACHINERY")"""))),
      s"""WITH $R
         |SELECT resource_id, resource_site, resource_subclass, resource_type
         |FROM resources
         |WHERE (resource_class = 'customer' AND resource_subclass = 'AUTOMOBILE')
         |   OR (meta_acctbal_bucket != 'low' AND resource_site NOT IN ('NATION_5')
         |       AND resource_endpoint LIKE 'Customer#00000001%')
         |   OR (resource_type = 'delinquent'
         |       AND meta_mktsegment IN ('BUILDING', 'MACHINERY'))""".stripMargin),

    // --- J3/J4/J7/F10/F11/P10: the computed-metrics DSL, indexed path --------------
    Row("snmp_dsl_indexed", (s, d) => {
      val p = Tables.part(s, d)
      val tables = Map(
        "temp_sensor_name" -> p.select(
          col("p_partkey").cast("string").as("index"), col("p_name").as("value")),
        "temp_sensor_values" -> p.select(
          col("p_partkey").cast("string").as("index"),
          col("p_size").cast("string").as("value")),
        "temp_sensor_scales" -> p.select(
          col("p_partkey").cast("string").as("index"),
          (lit(1) + col("p_partkey") % 3).cast("string").as("value")))
      val cfg = GroupConfig("environment", 60,
        dimensions = Map("sensor" -> TargetSpec("temp_sensor_name.$index")),
        metrics = Map("temperature_fahrenheit" -> TargetSpec(
          value = "int(temp_sensor_values.$index) * int(temp_sensor_scales.$index)",
          valueType = "float",
          transform = Some("lambda x: round((x * 1.8) + 32, 2) if x != 0 else 0.0"),
          indicesFrom = Some("temp_sensor_scales"))))
      MetricsDsl.evaluateIndexed(cfg, tables).get
        .select("index", "sensor", "temperature_fahrenheit")
    },
      """SELECT CAST(p_partkey AS VARCHAR) AS index, p_name AS sensor,
        |       CASE WHEN CAST(CAST(p_size AS BIGINT) * (1 + p_partkey % 3) AS DOUBLE) != 0
        |            THEN round(CAST(CAST(p_size AS BIGINT) * (1 + p_partkey % 3) AS DOUBLE) * 1.8 + 32, 2)
        |            ELSE 0.0 END AS temperature_fahrenheit
        |FROM part WHERE p_name != ''""".stripMargin),

    // --- DSL partial-target semantics: a failed target (missing key in its
    // table) skips ONLY that target at that index — the group still emits
    // with the remaining metrics (plugin_polling_generic_snmp.py:494-505).
    Row("snmp_dsl_partial", (s, d) => {
      val p = Tables.part(s, d)
      val tables = Map(
        "sensor_name" -> p.select(
          col("p_partkey").cast("string").as("index"), col("p_name").as("value")),
        "sensor_scale" -> p.select(
          col("p_partkey").cast("string").as("index"),
          (lit(1) + col("p_partkey") % 3).cast("string").as("value")),
        // sparse table: only parts with p_size > 25 have a reading
        "sensor_value" -> p.filter(col("p_size") > 25).select(
          col("p_partkey").cast("string").as("index"),
          col("p_size").cast("string").as("value")))
      val cfg = GroupConfig("environment", 60,
        dimensions = Map("sensor" -> TargetSpec("sensor_name.$index")),
        metrics = Map(
          "reading" -> TargetSpec("int(sensor_value.$index)", valueType = "int",
            indicesFrom = Some("sensor_name")),
          "scale" -> TargetSpec("int(sensor_scale.$index)", valueType = "int")))
      MetricsDsl.evaluateIndexed(cfg, tables).get
        .select("index", "sensor", "reading", "scale")
    },
      """SELECT CAST(p.p_partkey AS VARCHAR) AS index, p.p_name AS sensor,
        |       CAST(v.p_size AS BIGINT) AS reading,
        |       CAST(1 + p.p_partkey % 3 AS BIGINT) AS scale
        |FROM part p
        |LEFT JOIN (SELECT p_partkey, p_size FROM part WHERE p_size > 25) v
        |  ON v.p_partkey = p.p_partkey
        |WHERE p.p_name != ''""".stripMargin),

    // --- Group assembly: DSL output → reference-shaped nested rows with a
    // canonical content hash (metrics.py:388-398); verified through flat
    // canonical renders + the hash itself.
    Row("mg_assemble", (s, d) => {
      val p = Tables.part(s, d)
      val tables = Map(
        "sensor_name" -> p.select(
          col("p_partkey").cast("string").as("index"), col("p_name").as("value")),
        "sensor_scale" -> p.select(
          col("p_partkey").cast("string").as("index"),
          (lit(1) + col("p_partkey") % 3).cast("string").as("value")),
        "sensor_value" -> p.filter(col("p_size") > 25).select(
          col("p_partkey").cast("string").as("index"),
          col("p_size").cast("string").as("value")))
      val cfg = GroupConfig("environment", 60,
        dimensions = Map("sensor" -> TargetSpec("sensor_name.$index")),
        metrics = Map(
          "reading" -> TargetSpec("int(sensor_value.$index)", valueType = "int",
            indicesFrom = Some("sensor_name")),
          "scale" -> TargetSpec("int(sensor_scale.$index)", valueType = "int")))
      val idx = MetricsDsl.evaluateIndexed(cfg, tables).get
      GroupAssembly.assemble(idx, cfg,
        resource = struct(lit("device-1").as("resource_id")),
        clockTs = lit(1.7e9))
        .select(col("index"), col("metrics_group_type"),
          col("metrics_group_interval"),
          col("metrics_group_creation_timestamp"),
          GroupAssembly.dimsRender(col("dimensions")).as("dims_render"),
          GroupAssembly.metricsRender(col("metrics")).as("metrics_render"),
          col("content_hash"))
    },
      """WITH g AS (
        |  SELECT CAST(p.p_partkey AS VARCHAR) AS index, p.p_name AS sensor,
        |         CASE WHEN v.p_size IS NOT NULL
        |              THEN 'reading|' || CAST(CAST(v.p_size AS DOUBLE) AS VARCHAR)
        |                   || '|gauge,' ELSE '' END
        |           || 'scale|' || CAST(CAST(1 + p.p_partkey % 3 AS DOUBLE) AS VARCHAR)
        |           || '|gauge' AS metrics_render,
        |         'sensor|' || p.p_name AS dims_render
        |  FROM part p
        |  LEFT JOIN (SELECT p_partkey, p_size FROM part WHERE p_size > 25) v
        |    ON v.p_partkey = p.p_partkey
        |  WHERE p.p_name != '')
        |SELECT index, 'environment' AS metrics_group_type,
        |       CAST(60 AS BIGINT) AS metrics_group_interval,
        |       1.7e9 AS metrics_group_creation_timestamp,
        |       dims_render, metrics_render,
        |       sha256('{"resource_id":"device-1"}' || '|' || metrics_render
        |              || '|' || dims_render) AS content_hash
        |FROM g""".stripMargin),

    // --- A3: the computed-metrics DSL, top-level count-where path -------------------
    Row("snmp_dsl_toplevel", (s, d) => {
      val tables = Map(
        "fan_statuses" -> Tables.orders(s, d).select(
          col("o_orderkey").cast("string").as("index"),
          col("o_orderstatus").as("value")),
        "entity_fru_control" -> Tables.orders(s, d).select(
          col("o_orderkey").cast("string").as("index"),
          col("o_orderstatus").as("value")),
        "power_supplies" -> Tables.lineitem(s, d).select(
          col("l_orderkey").cast("string").as("index"),
          col("l_linenumber").cast("string").as("value")))
      val cfg = GroupConfig("environment", 60,
        dimensions = Map(),
        metrics = Map(
          "fans_ok" -> TargetSpec(
            "len([x for x in fan_statuses.values() if x == 'F'])",
            valueType = "int"),
          "power_units_on" -> TargetSpec(
            "len([(x,y) for (x,y) in entity_fru_control.items() if x in power_supplies and y in ['F', 'O']])",
            valueType = "int"),
          "fans_total" -> TargetSpec("3", valueType = "int")))
      MetricsDsl.evaluateTopLevel(cfg, tables).get
    },
      """SELECT
        |  (SELECT count(*) FROM orders WHERE o_orderstatus = 'F') AS fans_ok,
        |  CAST(3 AS BIGINT) AS fans_total,
        |  (SELECT count(*) FROM orders o
        |   WHERE o.o_orderstatus IN ('F', 'O')
        |     AND EXISTS (SELECT 1 FROM lineitem l
        |                 WHERE CAST(l.l_orderkey AS VARCHAR) = CAST(o.o_orderkey AS VARCHAR)))
        |    AS power_units_on""".stripMargin)
  )
}
