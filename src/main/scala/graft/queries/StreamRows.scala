package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.llm.{Dedup, TextAnalysis}
import graft.operators.TimeSeries
import graft.streaming.{MetricSample, SessionEvent, StreamingRate,
  StreamingSessionize, StreamingZscore, ZscoreEvent}

/** The streaming rows: each replays a batch table through a
  * Structured Streaming query ([[graft.streaming.FileReplay]]) and is
  * checked against the batch formulation of the same result. */
object StreamRows {
  import PipelineQueries._
  import Shared._

  /** One raw-events-schema sentinel row at far-future `tsUs` carrying the
    * `__wm__` marker — FileReplay's watermark-flush batch. Built against
    * whichever physical ts encoding the fixture shipped (LONG nanos under
    * nanosAsLong, else TIMESTAMP/_NTZ), mirroring [[Tables.tsMicros]];
    * non-ts columns ride from an arbitrary real row, so the file-source
    * schema always matches. */
  private def eventsSentinel(ss: SparkSession, d: String, tsUs: Long,
                             userId: Long = 0L): DataFrame = {
    val raw = ss.read.parquet(s"$d/events.parquet")
    val tsLit = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => lit(tsUs * 1000L) // nanos
      case dt => timestamp_micros(lit(tsUs)).cast(dt)
    }
    raw.limit(1).select(raw.columns.map {
      case "ts" => tsLit.as("ts")
      case "event_type" => lit("__wm__").as("event_type")
      case "value" => lit(0.0).as("value")
      // pinned so any query-side predicate (user_id < 50 etc.) admits
      // the sentinel — a filtered-out sentinel never reaches the
      // watermark operator and the flush batch silently does nothing
      case "user_id" => lit(userId).as("user_id")
      case "event_id" => lit(-1L).as("event_id")
      case c => col(c)
    }: _*)
  }

  /** One raw-documents-schema sentinel row with a far-future `doc_id` —
    * the crawl-clock analogue of [[eventsSentinel]] for replays whose
    * event time derives from doc_id. All other columns ride from an
    * arbitrary real row; callers filter the sentinel's output group by
    * its out-of-range id. */
  private def docsSentinel(ss: SparkSession, d: String,
                           docId: Long): DataFrame = {
    val raw = ss.read.parquet(s"$d/documents.parquet")
    raw.limit(1).select(raw.columns.map {
      case "doc_id" => lit(docId).as("doc_id")
      case c => col(c)
    }: _*)
  }

  /** The child session every FileReplay row runs in: it isolates the
    * scoped-down state-store partition count (see stream_rate) from
    * concurrent queries on the parent session, and scopes
    * maxPartitionBytes down so even one rehearsal-scale file splits
    * across tasks. */
  private def replaySession(s: SparkSession): SparkSession = {
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    ss.conf.set("spark.sql.files.maxPartitionBytes", "8m")
    ss
  }

  /** Replay-clock scalars shared across the streaming rows (r18, guide
    * §1.2): SEVEN stream_* rows each ran the identical
    * `max(ts_us)`-over-events aggregate (and one the max-doc_id
    * analogue) just to stamp their sentinel's far-future event time —
    * one full event-table scan per row at corpus scale. The scalar
    * depends only on the dataset, so it is memoized per (session, dir)
    * like every other substrate and cleared between bench passes. The
    * value — and hence every sentinel and every query result — is
    * unchanged. */
  private def sharedMaxTsUs(s: SparkSession, d: String): Long =
    memo("replayClock", s, d, "events.ts_us")(
      maxOrZero(Tables.eventsUs(s, d), "ts_us"))

  private def sharedMaxDocId(s: SparkSession, d: String): Long =
    memo("replayClock", s, d, "documents.doc_id")(
      maxOrZero(Tables.documents(s, d), "doc_id"))

  /** max(`c`), or 0 on an empty table — where no real window exists for
    * the sentinel to flush, so any clock will do. */
  private def maxOrZero(df: DataFrame, c: String): Long =
    df.agg(coalesce(max(col(c)), lit(0L))).head.getLong(0)

  /** A streaming row: `build` gets the row's name, which names the
    * row's replay query ([[graft.streaming.FileReplay.replay]]). */
  private def replayRow(name: String)(
      build: String => (SparkSession, String) => DataFrame,
      oracle: String): Row =
    Row(name, build(name), oracle)

  val rows: Seq[Row] = Seq(
    // --- streaming: watermarked tumbling-window aggregation ----------------
    // The core Structured Streaming shape for event streams (windowed
    // counts/sums with bounded state): 6 h tumbling windows on event time,
    // 1 h watermark, append mode. Replayed through FileReplay: the table
    // in one batch, then a far-future sentinel batch advances the
    // watermark past the last real window so append mode emits everything
    // (that final window would otherwise stay open forever on a bounded
    // replay). The oracle is
    // the equivalent batch GROUP BY — streaming and batch must agree
    // exactly on in-order data.
    replayRow("stream_window")(name => (s, d) => {
      // Whole-table replay → the FILE-source harness (FileReplay): the
      // micro-batch reads the parquet DISTRIBUTED instead of round-
      // tripping every event through the driver (the sf1 rehearsal
      // measured the MemoryStream version at 14–35 s, nearly all driver
      // serialization; this shape holds flat).
      val ss = replaySession(s)
      val maxUs = sharedMaxTsUs(s, d)
      graft.streaming.FileReplay.replay(ss, s"$d/events.parquet",
        name,
        sentinel = Some(
          eventsSentinel(ss, d, maxUs + 30L * 86400000000L))) { source =>
        val stream = source()
        stream
          .select(Tables.tsMicros(stream).as("ts_us"), col("event_type"),
            col("value").cast("double").as("value"))
          .withColumn("ts", timestamp_micros(col("ts_us")))
          .withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "6 hours"), col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            sum(col("value").cast("decimal(18,2)")).cast("double")
              .as("value_sum"))
          .select(unix_micros(col("window.start")).as("window_start_us"),
            col("event_type"), col("n_events"), col("value_sum"))
      }
        .filter(col("event_type") =!= "__wm__")
    },
      """SELECT (epoch_us(ts) // 21600000000) * 21600000000
        |         AS window_start_us,
        |       event_type, count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |         AS value_sum
        |FROM events GROUP BY 1, 2""".stripMargin),

    // --- streaming distinct-cardinality sketch: per-window active-user
    // HLL maintained AT INGEST — state per open window is ≤ 256 integer
    // registers REGARDLESS of traffic (the unbounded-exact-distinct
    // killer at 100 TB); append mode emits each window's registers once
    // when the watermark passes, and the estimate is a cheap batch fold
    // over the emitted register rows (Sketches.cardinality — exactly how
    // a sink would serve the sketch). Engine-exact: the md5 →
    // (register, rank) derivation is the shared Sketches SQL, every step
    // to the final division exact integer arithmetic. -------------------
    replayRow("stream_distinct")(name => (s, d) => {
      val ss = replaySession(s)
      val maxUs = sharedMaxTsUs(s, d)
      val reg = graft.streaming.FileReplay.replay(ss, s"$d/events.parquet",
        name,
        sentinel = Some(
          eventsSentinel(ss, d, maxUs + 30L * 86400000000L))) { source =>
        val stream = source()
        stream
          .select(Tables.tsMicros(stream).as("ts_us"), col("user_id"))
          .filter(col("ts_us") >= 0L)
          .withColumn("ts", timestamp_micros(col("ts_us")))
          .withWatermark("ts", "1 hour")
          .withColumn("h", md5(col("user_id").cast("string")))
          .withColumn("idx", expr(graft.llm.Sketches.IdxSql))
          .withColumn("rho", expr(graft.llm.Sketches.RhoSql))
          .groupBy(window(col("ts"), "6 hours"), col("idx"))
          .agg(max(col("rho")).as("m"))
          .select(unix_micros(col("window.start")).as("window_start_us"),
            col("idx"), col("m"))
      }
        // the sentinel's far-future window flushes the real ones and is
        // dropped here (every real window starts at or before maxUs)
        .filter(col("window_start_us") <= maxUs)
      graft.llm.Sketches.cardinality(reg, Seq("window_start_us"))
    },
      // batch replay of the streaming HLL: same shared idx/rho SQL over
      // md5(user_id), per-window register maxima, the exact-integer
      // denominator fold, one correctly-rounded division (the
      // sketch_overlap idioms; registers are order-insensitive, so the
      // batch grouping IS the stream's final state)
      {
      val c = java.lang.Double.toString(graft.llm.Sketches.EstNumerator)
      val one = "CAST(1 AS BIGINT)"
      s"""WITH e AS (
         |  SELECT (epoch_us(ts) // 21600000000) * 21600000000
         |           AS window_start_us,
         |         md5(CAST(user_id AS VARCHAR)) AS h
         |  FROM events WHERE epoch_us(ts) >= 0),
         |r0 AS (SELECT window_start_us,
         |              ${graft.llm.Sketches.IdxSql} AS idx,
         |              ${graft.llm.Sketches.RhoSql} AS rho
         |       FROM e),
         |reg AS (SELECT window_start_us, idx, max(rho) AS m
         |        FROM r0 GROUP BY 1, 2)
         |SELECT window_start_us, CAST(count(*) AS BIGINT) AS n_reg,
         |       round($c / CAST(
         |         SUM(CAST($one << (57 - m) AS HUGEINT))
         |         + (256 - count(*)) * CAST($one << 57 AS HUGEINT)
         |         AS DOUBLE), 3) AS est
         |FROM reg GROUP BY 1""".stripMargin
    }),

    // --- streaming quantile sketch: per-window HDR bucket counts
    // maintained AT INGEST (state per open window: ≤ hundreds of bucket
    // rows regardless of traffic; counts merge by +), emitted on
    // watermark close and folded into p50/p99 by quantilesOfBuckets at
    // read — the THIRD at-ingest sketch beside stream_distinct's HLL
    // registers and stream_cms's counters ----------------------------------
    replayRow("stream_quantiles")(name => (s, d) => {
      val ss = replaySession(s)
      val maxUs = sharedMaxTsUs(s, d)
      val sink = graft.streaming.FileReplay.replay(ss, s"$d/events.parquet",
        name,
        sentinel = Some(
          eventsSentinel(ss, d, maxUs + 30L * 86400000000L))) { source =>
        val stream = source()
          val (lo, hi) = graft.llm.Sketches.bucketBounds(col("value"), 1000L)
          stream
            .select(Tables.tsMicros(stream).as("ts_us"), col("value"))
            .filter(col("ts_us") >= 0L && col("value") >= 0)
            .withColumn("ts", timestamp_micros(col("ts_us")))
            .withWatermark("ts", "1 hour")
            .withColumn("__lo", lo).withColumn("__hi", hi)
            .groupBy(window(col("ts"), "6 hours"),
              col("__lo"), col("__hi"))
            .agg(count(lit(1)).as("__cnt"))
            .select(unix_micros(col("window.start")).as("window_start_us"),
              col("__lo"), col("__hi"), col("__cnt"))
      }
        .filter(col("window_start_us") <= maxUs)
      val merged = sink
        .groupBy(col("window_start_us"), col("__lo"), col("__hi"))
        .agg(sum(col("__cnt")).as("__cnt"))
      graft.llm.Sketches.quantilesOfBuckets(merged,
        Seq("window_start_us"), ps = Seq(0.5, 0.99), gridPerUnit = 1000L)
    },
      // the at-ingest quantile sketch replayed in batch: same HDR
      // buckets at the 6 h epoch-aligned window grain (window.start ≡
      // (epoch // 6h) · 6h on non-negative epochs), same interpolation
      """WITH src AS (
        |  SELECT (epoch_us(ts) // 21600000000) * 21600000000
        |           AS window_start_us,
        |         CAST(CAST(floor(value * 1000.0) AS BIGINT) AS VARCHAR)
        |           AS gs
        |  FROM events WHERE value >= 0 AND epoch_us(ts) >= 0),
        |b AS (SELECT window_start_us,
        |        CAST(substr(gs, 1, 2) ||
        |             repeat('0', greatest(length(gs) - 2, 0)) AS BIGINT)
        |          AS lo,
        |        CAST(CAST(CAST(substr(gs, 1, 2) AS BIGINT) + 1
        |               AS VARCHAR) ||
        |             repeat('0', greatest(length(gs) - 2, 0)) AS BIGINT)
        |          AS hi
        |      FROM src),
        |cnts AS (SELECT window_start_us, lo, hi, count(*) AS cnt
        |         FROM b GROUP BY 1, 2, 3),
        |cum AS (SELECT *,
        |          SUM(cnt) OVER (PARTITION BY window_start_us
        |                         ORDER BY lo) AS cum,
        |          SUM(cnt) OVER (PARTITION BY window_start_us) AS n
        |        FROM cnts),
        |wp AS (SELECT *, unnest([0.5, 0.99]) AS p FROM cum),
        |sel AS (SELECT *, p * CAST(n AS DOUBLE) AS t FROM wp),
        |pick AS (SELECT * FROM (
        |  SELECT *, row_number() OVER (PARTITION BY window_start_us, p
        |                               ORDER BY lo) AS rn
        |  FROM sel WHERE CAST(cum AS DOUBLE) >= t) WHERE rn = 1)
        |SELECT window_start_us, p, CAST(n AS BIGINT) AS n,
        |       round((CAST(lo AS DOUBLE) + CAST(hi - lo AS DOUBLE) *
        |              (t - CAST(cum - cnt AS DOUBLE)) /
        |              CAST(cnt AS DOUBLE)) / 1000.0, 6) AS est
        |FROM pick""".stripMargin),

    // --- streaming frequency sketch: per-window CountMin counters
    // maintained AT INGEST (state per open window: ≤ d·w counter rows
    // regardless of traffic), then — because counters ADD — the emitted
    // per-window frames sum-merge into the global sketch, probed for the
    // user heavy-hitter estimates. The frequency member of the at-ingest
    // sketch pair (stream_distinct is the distinct member). -------------
    replayRow("stream_cms")(name => (s, d) => {
      val ss = replaySession(s)
      val maxUs = sharedMaxTsUs(s, d)
      val (depth, width) = (3, 256)
      val sink = graft.streaming.FileReplay.replay(ss, s"$d/events.parquet",
        name,
        sentinel = Some(
          eventsSentinel(ss, d, maxUs + 30L * 86400000000L))) { source =>
        val stream = source()
          val keys = (0 until depth).map(i => struct(lit(i).as("row"),
            graft.llm.CountMin.bucket(col("item"), i, width).as("bucket")))
          stream
            .select(Tables.tsMicros(stream).as("ts_us"),
              col("user_id").cast("string").as("item"))
            .filter(col("ts_us") >= 0L)
            .withColumn("ts", timestamp_micros(col("ts_us")))
            .withWatermark("ts", "1 hour")
            .select(col("ts"), explode(array(keys: _*)).as("rb"))
            .groupBy(window(col("ts"), "6 hours"),
              col("rb.row").as("row"), col("rb.bucket").as("bucket"))
            .agg(count(lit(1)).as("cnt"))
            .select(unix_micros(col("window.start")).as("window_start_us"),
              col("row"), col("bucket"), col("cnt"))
      }
        .filter(col("window_start_us") <= maxUs)
      val merged = sink.groupBy(col("row"), col("bucket"))
        .agg(sum(col("cnt")).as("cnt"))
      val probes = ss.range(0, 8)
        .select(col("id").cast("string").as("item"))
      val trueCounts = Tables.eventsUs(ss, d)
        .filter(col("ts_us") >= 0L && col("user_id").between(0, 7))
        .groupBy(col("user_id").cast("string").as("item"))
        .agg(count(lit(1)).as("true_count"))
      graft.llm.CountMin.probe(probes, "item", merged, depth, width)
        .join(broadcast(trueCounts), Seq("item"), "left")
        .select(col("item"),
          coalesce(col("true_count"), lit(0L)).as("true_count"),
          col("est_count"))
    },
      // batch replay of the streaming CMS: counters add, so the summed
      // per-window build equals one global build (the freq_cms_est
      // idioms over md5-prefix buckets; exact integer end to end)
      """WITH e AS (SELECT CAST(user_id AS VARCHAR) AS item
        |           FROM events WHERE epoch_us(ts) >= 0),
        |keys AS (SELECT item, r.i,
        |           (('0x' || substr(md5(CAST(r.i AS VARCHAR) || ':' || item),
        |                            1, 8))::BIGINT) % 256 AS bucket
        |         FROM e, (SELECT unnest([0, 1, 2]) AS i) r),
        |cms AS (SELECT i, bucket, count(*) AS cnt FROM keys GROUP BY 1, 2),
        |p AS (SELECT CAST(u AS VARCHAR) AS item
        |      FROM (SELECT unnest(generate_series(0, 7)) AS u)),
        |tc AS (SELECT CAST(user_id AS VARCHAR) AS item,
        |              count(*) AS true_count
        |       FROM events
        |       WHERE epoch_us(ts) >= 0 AND user_id BETWEEN 0 AND 7
        |       GROUP BY 1),
        |pk AS (SELECT p.item, r.i,
        |          (('0x' || substr(md5(CAST(r.i AS VARCHAR) || ':' || p.item),
        |                           1, 8))::BIGINT) % 256 AS bucket
        |       FROM p, (SELECT unnest([0, 1, 2]) AS i) r)
        |SELECT pk.item,
        |       CAST(coalesce(any_value(tc.true_count), 0) AS BIGINT)
        |         AS true_count,
        |       CAST(min(coalesce(cms.cnt, 0)) AS BIGINT) AS est_count
        |FROM pk LEFT JOIN cms ON cms.i = pk.i AND cms.bucket = pk.bucket
        |        LEFT JOIN tc ON tc.item = pk.item
        |GROUP BY 1""".stripMargin),

    // --- streaming OHLC compaction: the ts_ohlc candles computed AT
    // INGEST — watermarked 1-day tumbling windows (epoch-aligned, so
    // window.start IS the batch operator's bucket), min_by/max_by over
    // the SAME portable total-order key, exact decimal volume sums.
    // State per (series, open window) is one partial row; append mode
    // emits each candle once when the watermark passes its window.
    // CONTRACT: nonnegative event time only (ts_us >= 0, enforced below
    // and in the oracle) — Spark's initial watermark is epoch 0, so a
    // pre-1970 window is born late and silently dropped, and window()
    // floor-aligns where the batch bucket truncates; the batch ts_ohlc
    // operator keeps the full signed range. ------------------------------
    replayRow("stream_ohlc")(name => (s, d) => {
      // Whole-table replay → FileReplay (see stream_window): the source
      // predicate runs INSIDE the micro-batch, distributed, and must
      // admit the sentinel (pinned user_id=0, value=0.0, far-future ts)
      // or the flush batch would never reach the watermark operator.
      val ss = replaySession(s)
      val maxUs = sharedMaxTsUs(s, d)
      val v = col("value")
      graft.streaming.FileReplay.replay(ss, s"$d/events.parquet",
        name,
        sentinel = Some(
          eventsSentinel(ss, d, maxUs + 30L * 86400000000L))) { source =>
        val stream = source()
        stream
          .select(Tables.tsMicros(stream).as("ts_us"), col("user_id"),
            col("event_type"), col("event_id"),
            col("value").cast("double").as("value"))
          .filter(col("user_id") < 50 && col("value").isNotNull &&
            col("ts_us") >= 0)
          .withColumn("ts", timestamp_micros(col("ts_us")))
          .withWatermark("ts", "1 hour")
          .withColumn("__ord",
            TimeSeries.ohlcOrderKey(col("ts_us"), col("event_id")))
          .groupBy(window(col("ts"), "1 day"), col("user_id"),
            col("event_type"))
          .agg(min_by(v, col("__ord")).as("open"), max(v).as("high"),
            min(v).as("low"), max_by(v, col("__ord")).as("close"),
            count(lit(1)).as("n_events"),
            sum(col("value").cast("decimal(18,2)")).as("__vsum"))
          .select(col("user_id"), col("event_type"),
            unix_micros(col("window.start")).as("bucket"),
            col("open"), col("high"), col("low"), col("close"),
            col("n_events"), col("__vsum").cast("double").as("vsum"),
            round(col("__vsum").cast("double") /
              col("n_events").cast("double"), 6).as("vavg"))
      }
        .filter(col("event_type") =!= "__wm__")
    },
      // streaming OHLC ≡ batch candles on the replayed slice: epoch-
      // aligned 1-day windows make window.start the same bucket key for
      // the NONNEGATIVE event times the streaming contract admits
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS ts_us,
        |         event_id, value
        |  FROM events
        |  WHERE value IS NOT NULL AND user_id < 50 AND epoch_us(ts) >= 0),
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

    // --- streaming: SLIDING windows (6 h length, 3 h slide) — every event
    // lands in exactly two windows, so the state/emission shape differs
    // from the tumbling case (overlapping state entries per key). Same
    // pre-loaded replay + sentinel flush as stream_window. -----------------
    replayRow("stream_window_sliding")(name => (s, d) => {
      val ss = replaySession(s)
      val maxUs = sharedMaxTsUs(s, d)
      graft.streaming.FileReplay.replay(ss, s"$d/events.parquet",
        name,
        sentinel = Some(
          eventsSentinel(ss, d, maxUs + 30L * 86400000000L))) { source =>
        val stream = source()
        stream
          .select(Tables.tsMicros(stream).as("ts_us"), col("event_type"),
            col("value").cast("double").as("value"))
          .withColumn("ts", timestamp_micros(col("ts_us")))
          .withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "6 hours", "3 hours"),
            col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            sum(col("value").cast("decimal(18,2)")).cast("double")
              .as("value_sum"))
          .select(unix_micros(col("window.start")).as("window_start_us"),
            col("event_type"), col("n_events"), col("value_sum"))
      }
        .filter(col("event_type") =!= "__wm__")
    },
      // sliding 6 h / 3 h: every event belongs to exactly the two
      // slide-aligned windows starting at t−(t%3h) and 3 h earlier
      """WITH e AS (
        |  SELECT epoch_us(ts) AS ts_us, event_type, value FROM events),
        |c AS (
        |  SELECT *, unnest([
        |      (ts_us // 10800000000) * 10800000000,
        |      (ts_us // 10800000000) * 10800000000 - 10800000000])
        |    AS window_start_us
        |  FROM e)
        |SELECT window_start_us, event_type, count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |         AS value_sum
        |FROM c GROUP BY 1, 2""".stripMargin),

    // --- streaming exact dedup (dropDuplicatesWithinWatermark) -------------
    // Replays the event subset with every third event duplicated; the
    // dedup state keeps one fingerprint per key until the watermark passes,
    // so duplicates drop without unbounded state. Oracle = the base subset
    // (exact duplicates removed). Same child-session pattern as stream_rate.
    replayRow("stream_dedup")(name => (s, d) => {
      // ONE-batch file-source replay (dropDuplicates emits survivors on
      // arrival, not on watermark); the duplicate injection is a
      // streaming self-union inside the micro-batch — the file source
      // scans twice, both distributed
      val ss = replaySession(s)
      graft.streaming.FileReplay.replay(ss, s"$d/events.parquet",
        name) { source =>
        val stream = source()
          val base = stream
            .select(Tables.tsMicros(stream).as("ts_us"), col("event_id"),
              col("event_type"), col("value").cast("double").as("value"),
              col("user_id"))
            .filter(col("user_id") < 20)
            .drop("user_id")
          val dups = base.filter(col("event_id") % 3 === 0)
          base.union(dups)
            .withColumn("ts", timestamp_micros(col("ts_us")))
            .withWatermark("ts", "1 hour")
            .dropDuplicatesWithinWatermark("event_id")
            .select(col("event_id"), col("ts_us"), col("event_type"),
              col("value"))
      }
    },
      // exact duplicates removed = the base subset itself
      """SELECT event_id, epoch_us(ts) AS ts_us, event_type, value
        |FROM events WHERE user_id < 20""".stripMargin),

    // --- streaming URL-frontier compaction: crawl records dedup on the
    // canonical URL AT INGEST. A dropDuplicates would keep an ARBITRARY
    // survivor when same-URL records differ (shuffle order inside the
    // batch), so this is a watermarked aggregate instead — min(doc_id) +
    // count per url_norm, order-free and deterministic; the sentinel
    // advances the watermark so append mode flushes the single window ----
    replayRow("stream_urldedup")(name => (s, d) => {
      // Whole-table replay → FileReplay; the URL synthesis + normalize
      // chain runs distributed inside the micro-batch. The sentinel is a
      // far-future doc_id (the crawl clock), whose unique URL forms its
      // own window group — filtered by its out-of-range keep_doc.
      val ss = replaySession(s)
      val maxId = sharedMaxDocId(s, d)
      graft.streaming.FileReplay.replay(ss, s"$d/documents.parquet",
        name,
        sentinel = Some(
          docsSentinel(ss, d, maxId + 90L * 86400L))) { source =>
        val stream = source()
        stream
          .select(col("doc_id"),
            TextAnalysis.urlNormalize(synthUrl).as("url_norm"))
          // synthetic event time: one record per second of crawl clock
          .withColumn("ts", timestamp_micros(col("doc_id") * 1000000L))
          .withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "30 days"), col("url_norm"))
          .agg(min(col("doc_id")).as("keep_doc"),
            count(lit(1)).as("n_records"))
          .select("url_norm", "keep_doc", "n_records")
      }
        .filter(col("keep_doc") <= maxId)
    },
      // the streaming compaction must equal the batch dedup exactly
      // (single 30-day window over the synthetic crawl clock)
      s"""WITH $urlCtes
         |SELECT url_norm, min(doc_id) AS keep_doc,
         |       count(*) AS n_records
         |FROM un GROUP BY url_norm""".stripMargin),

    // --- streaming gap sessionization (flatMapGroupsWithState) -------------
    // The stateful-custom-logic counterpart of stream_window: sessions close
    // either when a past-gap successor arrives or when the watermark passes
    // end+gap (event-time timeout). Oracle = the batch sessionize→stats SQL
    // on the same subset — streaming and batch must emit identical sessions
    // on in-order data. Sentinel advances the watermark so tail sessions
    // flush (the sentinel's own session never emits; it is filtered by key).
    replayRow("stream_sessionize")(name => (s, d) => {
      // Whole-table replay → FileReplay two-batch: batch 1 holds every
      // event (watermark still initial → the event-time timeout cannot
      // fire mid-stream and drop/renumber sessions), the sentinel batch
      // closes every open session. Sentinel keyed user_id = −1 so its
      // own session filters out by sign; real keys are non-negative.
      val ss = replaySession(s)
      import ss.implicits._
      val maxUs = sharedMaxTsUs(s, d)
      graft.streaming.FileReplay.replay(ss, s"$d/events.parquet",
        name,
        sentinel = Some(
          eventsSentinel(ss, d, maxUs + 30L * 86400000000L, userId = -1L))) { source =>
        val stream = source()
          val evs = stream
            .select(Tables.tsMicros(stream).as("ts_us"), col("user_id"),
              col("event_id"), col("event_type"),
              (col("value").cast("decimal(18,2)") * 100).cast("long")
                .as("value_cents"))
            .filter(col("user_id") < 50)
            .withColumn("ts", timestamp_micros(col("ts_us")))
            .withWatermark("ts", "1 hour")
            .select(col("user_id").as("userId"), col("ts"),
              col("ts_us").as("tsUs"), col("event_id").as("eventId"),
              col("event_type").as("eventType"),
              col("value_cents").as("valueCents"))
            .as[SessionEvent]
          StreamingSessionize(evs, gapMicros = 86400L * 1000000L).toDF()
      }
        .filter(col("user_id") >= 0)
    },
      // identical session semantics as session_stats, restricted to the
      // replayed subset — the streaming path must reproduce batch exactly
      """WITH x AS (
        |  SELECT event_id, user_id, event_type, value, epoch_us(ts) AS tsn,
        |         lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |             ORDER BY epoch_us(ts), event_id) AS prev
        |  FROM events WHERE user_id < 50),
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

    // --- streaming online z-score: per-series running anomaly detection ----
    // Each event scores against its series' PRIOR distribution only (an
    // online detector cannot see the future). State = three exact integer
    // moments per series; the double math happens at emission from exact
    // inputs, so the oracle's decimal prefix-window formulation matches
    // bit for bit. Single-batch replay: every event emits immediately, no
    // sentinel needed.
    replayRow("stream_zscore")(name => (s, d) => {
      // ONE-batch file-source replay: every event emits immediately (the
      // detector keys state per series and sorts within the batch, so
      // file-scan arrival order cannot matter)
      val ss = replaySession(s)
      import ss.implicits._
      graft.streaming.FileReplay.replay(ss, s"$d/events.parquet",
        name) { source =>
        val stream = source()
          val evs = stream
            .select(Tables.tsMicros(stream).as("ts_us"), col("user_id"),
              col("event_id"), col("value").cast("double").as("value"),
              (col("value").cast("decimal(18,2)") * 100).cast("long")
                .as("value_cents"))
            .filter(col("user_id") < 50)
            .select(col("user_id").as("userId"), col("ts_us").as("tsUs"),
              col("event_id").as("eventId"), col("value"),
              col("value_cents").as("valueCents"))
            .as[ZscoreEvent]
          StreamingZscore(evs, threshold = 2.0).toDF()
      }
    },
      // mirror TimeSeries.zscore's exact-decimal-sum formulation: every
      // double op below is correctly-rounded IEEE from identical inputs,
      // so outputs are bit-identical with NO round() anywhere (round(avg)
      // ties break differently between the engines on 2-dp inputs)
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, value,
        |         CAST(value AS DECIMAL(18,2)) AS vd
        |  FROM events WHERE user_id < 50),
        |w AS (
        |  SELECT user_id, event_id, ts_us, value,
        |         count(*) OVER win AS n_prior,
        |         CAST(count(*) OVER win AS DOUBLE) AS n_d,
        |         CAST(coalesce(sum(vd) OVER win, 0) AS DOUBLE) AS sum_d,
        |         CAST(coalesce(sum(vd * vd) OVER win, 0) AS DOUBLE)
        |           AS sumsq_d
        |  FROM e
        |  WINDOW win AS (PARTITION BY user_id ORDER BY ts_us, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING
        |                          AND 1 PRECEDING)),
        |t AS (
        |  SELECT *,
        |         sum_d / n_d AS mean,
        |         (sumsq_d - sum_d * sum_d / n_d) / (n_d - 1.0) AS var
        |  FROM w),
        |u AS (
        |  SELECT *, CASE WHEN n_prior >= 2 AND var > 0
        |                 THEN (value - mean) / sqrt(var) END AS zscore
        |  FROM t)
        |SELECT user_id, event_id, ts_us, value, n_prior, zscore,
        |       coalesce(abs(zscore) > 2.0, false) AS is_anomaly
        |FROM u""".stripMargin),

    // --- stream-stream interval join ----------------------------------------
    // Views join purchases by user within [view_ts, view_ts + 24 h] — the
    // canonical Structured Streaming two-stream shape. Both sides are
    // watermarked and the range rides the event-time columns, so join state
    // is bounded (Spark evicts a buffered row once the other side's
    // watermark passes its match window). INNER join: matches emit as soon
    // as both rows exist — no sentinel needed for completeness. Oracle =
    // the equivalent batch interval join.
    replayRow("stream_join")(name => (s, d) => {
      // Two independent file-source streams over the same table, both
      // complete in one micro-batch → every interval match emits, no
      // sentinel (see FileReplay.replay)
      val ss = replaySession(s)
      def slice(stream: DataFrame, tp: String) = stream
        .select(Tables.tsMicros(stream).as("ts_us"), col("user_id"),
          col("event_id"), col("event_type"))
        .filter(col("user_id") < 30 && col("event_type") === tp)
        .drop("event_type")
      graft.streaming.FileReplay.replay(ss, s"$d/events.parquet",
        name) { source =>
        val (s1, s2) = (source(), source())
        val v = slice(s1, "view")
          .withColumnRenamed("ts_us", "view_ts_us")
          .withColumnRenamed("event_id", "view_id")
          .withColumn("vts", timestamp_micros(col("view_ts_us")))
          .withWatermark("vts", "1 hour")
        val p = slice(s2, "purchase")
          .withColumnRenamed("ts_us", "purchase_ts_us")
          .withColumnRenamed("event_id", "purchase_id")
          .withColumnRenamed("user_id", "p_user_id")
          .withColumn("pts", timestamp_micros(col("purchase_ts_us")))
          .withWatermark("pts", "1 hour")
        v.join(p,
          col("user_id") === col("p_user_id") &&
            col("pts") >= col("vts") &&
            col("pts") <= col("vts") + expr("INTERVAL 24 HOURS"))
          .select(col("view_id"), col("purchase_id"), col("user_id"),
            col("view_ts_us"), col("purchase_ts_us"))
      }
    },
      """WITH v AS (SELECT user_id, epoch_us(ts) AS view_ts_us,
        |                  event_id AS view_id
        |           FROM events WHERE event_type = 'view' AND user_id < 30),
        |p AS (SELECT user_id, epoch_us(ts) AS purchase_ts_us,
        |             event_id AS purchase_id
        |      FROM events WHERE event_type = 'purchase' AND user_id < 30)
        |SELECT view_id, purchase_id, user_id, view_ts_us, purchase_ts_us
        |FROM v JOIN p USING (user_id)
        |WHERE purchase_ts_us BETWEEN view_ts_us
        |  AND view_ts_us + 86400000000""".stripMargin),

    // --- stream-static enrichment join: the canonical Structured
    // Streaming enrichment shape — a stream inner-joined to a broadcast
    // static dimension (no watermark needed; the static side is planned
    // per micro-batch). Oracle = the equivalent batch join. --------------
    replayRow("stream_enrich")(name => (s, d) => {
      // stateless stream⋈static broadcast enrich → ONE-batch file replay
      val ss = replaySession(s)
      val dim = Tables.events(ss, d).select(col("user_id")).distinct()
        .withColumn("tier", col("user_id") % 5)
      graft.streaming.FileReplay.replay(ss, s"$d/events.parquet",
        name) { source =>
        val stream = source()
        stream
          .select(col("event_id"), col("user_id"),
            col("value").cast("double").as("value"))
          .filter(col("user_id") < 40)
          .join(broadcast(dim), Seq("user_id"))
          .select("event_id", "user_id", "tier", "value")
      }
    },
      // batch formulation of the stream-static enrichment join
      """WITH dim AS (
        |  SELECT DISTINCT user_id, user_id % 5 AS tier FROM events)
        |SELECT e.event_id, e.user_id, d.tier, e.value
        |FROM events e JOIN dim d USING (user_id)
        |WHERE e.user_id < 40""".stripMargin),

    // --- streaming ingest quality gate: the Gopher rule conjunction
    // applied AT INGEST over a document stream — stateless map-only
    // filtering (no watermark, no state store), so the crawl is gated
    // before it ever lands; batch-equivalent to quality_rules+filter by
    // construction (same codegen'd expressions, streaming-planned) -------
    replayRow("stream_quality")(name => (s, d) => {
      // stateless gate → ONE-batch file-source replay: the quality rules
      // run distributed inside the micro-batch, no driver round-trip
      val ss = replaySession(s)
      graft.streaming.FileReplay.replay(ss, s"$d/documents.parquet",
        name) { source =>
        val stream = source()
        TextAnalysis.gopherRules(
            stream.select(col("doc_id"), col("text"), col("source")), "text")
          .filter(col("pass_gopher"))
          .select("doc_id", "source", "n_words", "stop_hits")
      }
    },
      s"""SELECT q.doc_id, d.source, q.n_words, q.stop_hits
         |FROM ($gopherRulesSql) q
         |JOIN documents d ON d.doc_id = q.doc_id
         |WHERE q.pass_gopher""".stripMargin),

    // --- streaming PQ encode: compress vectors to codes AT INGEST (the
    // index-build-on-arrival path — encode is map-only and stateless, so
    // the streaming plan is the batch plan under a micro-batch trigger;
    // batch-equivalent to embed_pq_codes, same oracle) -------------------
    replayRow("stream_pq")(name => (s, d) => {
      // stateless map-only encode → ONE-batch file-source replay
      val ss = replaySession(s)
      graft.streaming.FileReplay.replay(ss, s"$d/embeddings.parquet",
        name) { source =>
        val stream = source()
        graft.llm.Pq.encode(
            stream.select(col("vec_id"),
              col("embedding").cast("array<float>").as("embedding")),
            "vec_id", "embedding", m = 8, k = 16, subDim = 8)
          .select(col("vec_id"), posexplode(col("codes")))
          .select(col("vec_id"), col("pos").cast("long").as("subspace"),
            col("col").cast("long").as("code"))
      }
    },
      // the stream gate is map-only and stateless, so its oracle is
      // simply the batch rule table filtered on the conjunction
      // ingest-time PQ encode is the batch encode under a micro-batch
      // trigger — same codes, same oracle as embed_pq_codes
      (s"WITH ${pqEncodeCtes(8, 16, 8)}\n" +
        """SELECT vec_id, CAST(j AS BIGINT) AS subspace,
          |       CAST(c AS BIGINT) AS code
          |FROM a""".stripMargin)),

    // --- streaming chunk segmentation: chunkDocs AT INGEST (map-only
    // sequence explode, stateless — the streaming plan IS the batch
    // plan); same oracle as doc_chunks ------------------------------------
    replayRow("stream_chunks")(name => (s, d) => {
      val ss = replaySession(s)
      graft.streaming.FileReplay.replay(ss, s"$d/documents.parquet",
        name) { source =>
        val stream = source()
        TextAnalysis.chunkDocs(
          stream.select(col("doc_id"), col("text")), "text", "doc_id",
          budget = 64, overlap = 16)
      }
    },
      // ingest-time chunking is the batch chunker under a micro-batch
      // trigger (map-only, stateless) — same oracle
      docChunksSql),

    // --- streaming binary-fingerprint encode: the 48-bit Hamming word
    // computed AT INGEST (map-only, stateless — the streaming plan IS
    // the batch plan under a micro-batch trigger), completing the binary
    // ANN regime's ingest story the way stream_pq completes PQ's: the
    // store's own encode row, so arriving words append straight into the
    // prefix-cell store's cell-partitioned layout -------------------------
    replayRow("stream_hamming")(name => (s, d) => {
      val ss = replaySession(s)
      graft.streaming.FileReplay.replay(ss, s"$d/embeddings.parquet",
        name) { source =>
        HammingPrefix.encode(source().select(col("vec_id"),
            col("embedding").cast("array<float>").as("embedding")),
          "vec_id", "embedding")
          .select(col("neighbor_id").as("vec_id"), col("cw").as("fingerprint"))
      }
    },
      // ingest-time fingerprint encode is the batch hammingWord under a
      // micro-batch trigger (map-only, stateless) — the oracle is the
      // plain word projection
      s"""SELECT vec_id, ${hammingWordSql("v", 48, 64)} AS fingerprint
         |FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |      FROM embeddings WHERE len(embedding) >= 64)""".stripMargin),

    // --- streaming trained-IVF cell assignment AT INGEST: the float
    // store's sibling of stream_hamming — cell = argmin over the
    // plan-literal trained centroids (map-only, stateless: the
    // streaming plan IS the batch plan under a micro-batch trigger), so
    // arriving vectors append straight into the trained Flat IVF store's
    // cell-partitioned layout (byte-identical append pinned in
    // StreamingSpec, the stream_hamming discipline) ----------------------
    replayRow("stream_ivf")(name => (s, d) => {
      val ivf = sharedIvfTrained(s, d)
      val ss = replaySession(s)
      graft.streaming.FileReplay.replay(ss, s"$d/embeddings.parquet",
        name) { source =>
        val stream = source()
        stream
          .filter(size(col("embedding")) === 64)
          .select(col("vec_id"),
            ivf.home(col("embedding")).cast("long").as("cell"))
      }
    },
      // ingest-time trained-IVF cell assignment is the batch argmin
      // under a micro-batch trigger (map-only, stateless) — the oracle
      // is the kmeans training's final assignment
      (s"WITH ${kmeansCtes(8, 2, 64)}\n" +
        """SELECT vec_id, CAST(cluster AS BIGINT) AS cell
          |FROM a2""".stripMargin)),

    // --- streaming cross-corpus dedup: continuous ingest anti-joined
    // against the trained corpus' broadcast band set — stateless (no
    // watermark, no state store); the scale path for "dedup the crawl as
    // it arrives". Batch-equivalent to dedup_cross by construction -------
    replayRow("stream_crossdedup")(name => (s, d) => {
      // stateless broadcast anti-join → ONE-batch file-source replay;
      // the fresh-side gate runs inside the micro-batch
      val ss = replaySession(s)
      val srcNum = expr("cast(substring(source, 4) as int)")
      val ref = Tables.documents(ss, d).filter(srcNum < 10)
      graft.streaming.FileReplay.replay(ss, s"$d/documents.parquet",
        name) { source =>
        val stream = source()
        Dedup.crossCorpusKeepBroadcast(
          stream.filter(srcNum >= 10)
            .select(col("doc_id"), col("text"), col("source")),
          ref, "text", "doc_id", shingleN = 3, k = 8, bands = 4)
          .select("doc_id", "source")
      }
    },
      // batch-equivalence oracle: the streaming anti-join chain must drop
      // exactly the band-colliding docs dedup_cross drops
      s"""WITH $shinglesCte,
         |$minhashBandsCte,
         |src AS (SELECT doc_id, source,
         |               CAST(substr(source, 4) AS INT) AS src_num
         |        FROM documents),
         |refb AS (SELECT DISTINCT band, band_hash
         |         FROM bands JOIN src USING (doc_id)
         |         WHERE src_num < 10),
         |hit AS (SELECT DISTINCT bands.doc_id
         |        FROM bands JOIN src USING (doc_id)
         |             JOIN refb USING (band, band_hash)
         |        WHERE src_num >= 10)
         |SELECT doc_id, source FROM src
         |WHERE src_num >= 10
         |  AND doc_id NOT IN (SELECT doc_id FROM hit)""".stripMargin),

    // --- ST1-ST4/A1/J8: the STREAMING rate transform, replayed through the
    // file-source harness in ONE micro-batch (flatMapGroupsWithState path)
    // — the same guards as the batch a1_rate, verified against the same
    // windowed oracle (ts = event_id, unique per series, interval 1000 →
    // TTL 3000).
    replayRow("stream_rate")(name => (s, d) => {
      // A CHILD session (shared SparkContext, isolated SQLConf) scopes the
      // state-store partition override to this replay — the parent session
      // never sees a mutated spark.sql.shuffle.partitions, so concurrent
      // queries are unaffected. Conf set at builder time (nanosAsLong etc.)
      // lives in the context conf and is inherited.
      val ss = s.newSession()
      ss.conf.set("spark.sql.shuffle.partitions", "4")
      import ss.implicits._
      // One micro-batch in any arrival order: state advances on every
      // sample (getset semantics), and StreamingRate sorts each group's
      // batch by ts, matching the oracle's lag() window order.
      graft.streaming.FileReplay.replay(ss, s"$d/events.parquet",
        name) { source =>
        StreamingRate(source().filter(col("user_id") < 30)
          .select(
            concat_ws("|", col("user_id"), col("event_type")).as("series"),
            lit("value").as("metric"),
            col("value").cast("double").as("value"),
            col("event_id").cast("double").as("ts"),
            lit(1000L).as("interval"))
          .as[MetricSample], stateTtl = false).toDF()
      }.select("series", "ts", "rate", "confidence")
    },
      """WITH e AS (
        |  SELECT concat_ws('|', CAST(user_id AS VARCHAR), event_type) AS series,
        |         value, CAST(event_id AS DOUBLE) AS ts
        |  FROM events WHERE user_id < 30),
        |l AS (
        |  SELECT *, lag(value) OVER w AS pv, lag(ts) OVER w AS pt
        |  FROM e WINDOW w AS (PARTITION BY series ORDER BY ts))
        |SELECT series, ts,
        |  CASE WHEN pv IS NOT NULL AND ts - pt > 0 AND ts - pt <= 3000
        |            AND value >= pv
        |       THEN CAST(floor((value - pv) / (ts - pt)) AS BIGINT) END AS rate,
        |  CASE WHEN pv IS NOT NULL AND ts - pt > 0
        |       THEN round(1000 / (ts - pt), 2) END AS confidence
        |FROM l""".stripMargin)
  )
}
