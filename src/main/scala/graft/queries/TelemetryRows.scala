package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType,
  StructField, StructType}

import graft.core.{Schemas, Tables}
import graft.dsl.MetricsDsl
import graft.dsl.MetricsDsl.{GroupConfig, TargetSpec}
import graft.operators.{Enrichment, RateTransform, Reconcile, StatusRollup}
import graft.functions.Influx
import graft.sources.Sources
import graft.streaming.KafkaShaped

/** Reference-parity telemetry rows: panoptes' discovery sources,
  * enrichment, Kafka/Influx wire formats, joins, aggregates and the
  * TPC-H-shaped reports, over the test tables. Column names are aliased
  * identically on both sides (the correctness check compares
  * column-name-sorted values). */
object TelemetryRows {
  import Shared._

  /** The flagship row, run as the smoke check ([[graft.SparkEntry.entry]]). */
  val flagship: Row =
    // --- headline: TPC-H Q1-style pricing summary -------------------------------
    Row("q1_pricing", (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          // money columns carry 2 decimals; products of (2dp × 2dp) carry
          // exactly 4 — casting to the matching decimal scale recovers the
          // EXACT value (no .005 rounding ties), so the sums are exact and
          // the final double cast is engine-portable.
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_base"),
          sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(18,4)")).cast("double").as("sum_disc"),
          count(lit(1)).as("count_order")),
      """SELECT l_returnflag, l_linestatus,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base,
        |       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc,
        |       count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY 1, 2""".stripMargin)

  val rows: Seq[Row] = Seq(
    // --- S3: JSON discovery source — write the inventory as JSON lines,
    // read it back through the schema'd discovery reader (round-trip).
    Row("s3_json_source", (s, d) => {
      val tmp = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_s3_json_" + Integer.toHexString(d.hashCode)).getPath
      Tables.resources(s, d).write.mode("overwrite").json(tmp)
      Sources.readResourcesJson(s, tmp, multiLine = false)
        .select("resource_id", "resource_site", "resource_type",
          "resource_endpoint")
    },
      s"""WITH $R
         |SELECT resource_id, resource_site, resource_type, resource_endpoint
         |FROM resources""".stripMargin),

    // --- S7: enrichment KV upsert with last-write-wins + TTL expiry ------
    Row("s7_enrichment_upsert", (s, d) => {
      val sup = Tables.supplier(s, d)
      def shape(df: DataFrame, tsShift: Column) = df.select(
        col("s_name").as("resource_id"),
        lit("interface").as("namespace"),
        col("s_suppkey").cast("string").as("key"),
        (lit(1000.0) + tsShift % 100).as("enrichment_creation_timestamp"),
        (lit(500L) + (col("s_suppkey") % 5) * 1000L).as("enrichment_ttl"))
      val stored = shape(sup, col("s_suppkey"))
      val incoming = shape(sup.filter(col("s_suppkey") % 2 === 0),
        col("s_suppkey") + 50)
      Sources.enrichmentUpsert(stored, incoming, nowTs = 1800.0)
        .select(col("resource_id"), col("key"),
          col("enrichment_creation_timestamp").as("win_ts"))
    },
      """WITH stored AS (
        |  SELECT s_name AS resource_id, CAST(s_suppkey AS VARCHAR) AS key,
        |         1000.0 + s_suppkey % 100 AS ts,
        |         500 + (s_suppkey % 5) * 1000 AS ttl
        |  FROM supplier),
        |inc AS (
        |  SELECT s_name AS resource_id, CAST(s_suppkey AS VARCHAR) AS key,
        |         1000.0 + (s_suppkey + 50) % 100 AS ts,
        |         500 + (s_suppkey % 5) * 1000 AS ttl
        |  FROM supplier WHERE s_suppkey % 2 = 0),
        |u AS (SELECT * FROM stored UNION ALL SELECT * FROM inc),
        |r AS (SELECT *, row_number() OVER (PARTITION BY resource_id, key
        |                                   ORDER BY ts DESC) AS rn FROM u)
        |SELECT resource_id, key, ts AS win_ts
        |FROM r WHERE rn = 1 AND ts + ttl >= 1800""".stripMargin),

    // --- P6: metadata map rebuild from EAV rows (resources.py:773-787) ---
    Row("p6_eav_rebuild", (s, d) => {
      val eav = Tables.resources(s, d)
        .select(col("resource_id"),
          explode(col("resource_metadata")).as(Seq("k", "v")))
      eav.groupBy("resource_id")
        .agg(concat_ws("|",
          flatten(array_sort(collect_list(array(col("k"), col("v"))))))
          .as("meta_kv"))
    },
      s"""WITH $R
         |SELECT resource_id,
         |       'acctbal_bucket|' || meta_acctbal_bucket ||
         |       '|mktsegment|' || meta_mktsegment ||
         |       '|nation|' || meta_nation AS meta_kv
         |FROM resources""".stripMargin),

    // --- P7/P8/S5: Kafka-boundary decode — key filter + JSON-schema
    // validation drop corrupt and unconfigured records (consumer.py:383-405).
    Row("p7p8_kafka_decode", (s, d) => {
      // spread: to_json/from_json round-trip is the heavy map stage and
      // the fixture parquet is one row group (one scan task); a real
      // Kafka source has a task per topic partition instead
      val raw = Tables.spread(Tables.events(s, d)).select(
        (col("user_id") % 10).cast("string").as("key"),
        when(col("event_id") % 7 === 0, lit("{not json"))
          .otherwise(to_json(struct(col("event_id"), col("event_type"),
            col("value")))).as("value"))
      val schema = StructType(Seq(
        StructField("event_id", LongType),
        StructField("event_type", StringType),
        StructField("value", DoubleType)))
      KafkaShaped.decodeAndValidate(raw, schema,
        allowedKeys = Seq("0", "1", "2", "3", "4"))
        .select("key", "event_id", "event_type", "value")
    },
      """SELECT CAST(user_id % 10 AS VARCHAR) AS key, event_id, event_type, value
        |FROM events
        |WHERE event_id % 7 != 0 AND user_id % 10 <= 4""".stripMargin),

    // --- F2/F6/F12/F13: interface-plugin scalar derivations --------------
    Row("f_iface_pack", (s, d) => {
      val e = Tables.events(s, d)
      val highSpeed = col("user_id") % 5 // 0/1 → fall back to if_speed
      val ifSpeed = col("user_id") * 1000L
      val uni = when(col("event_id") % 11 === 0, lit(null)).otherwise(col("value"))
      val multi = when(col("event_id") % 13 === 0, lit(null)).otherwise(col("value") * 2)
      val broad = col("value") * 3
      val oper = col("event_type")
      val admin = when(col("event_id") % 3 === 0, lit("click")).otherwise(col("event_type"))
      e.select(
        col("event_id"),
        // F6: ifHighSpeed Mbps→bps unless 0/1/null → ifSpeed fallback
        when(highSpeed.isNull || highSpeed === 0 || highSpeed === 1, ifSpeed)
          .otherwise(highSpeed * 1000000L).as("speed_bps"),
        // F12: component-counter sum, -1 if any component missing
        when(uni.isNull || multi.isNull || broad.isNull, lit(-1.0))
          .otherwise(uni + multi + broad).as("total_packets"),
        // F13: admin/oper state mismatch indicator
        when(oper === admin, 0L).otherwise(1L).as("state_mismatch"),
        // F2: split + trim a CSV config string
        array_join(transform(split(concat(col("event_type"), lit(" , "),
          col("event_type"), lit(" ,x")), ","), x => trim(x)), "+")
          .as("split_trim"))
    },
      """SELECT event_id,
        |       CASE WHEN user_id % 5 IN (0, 1) THEN user_id * 1000
        |            ELSE (user_id % 5) * 1000000 END AS speed_bps,
        |       CASE WHEN event_id % 11 = 0 OR event_id % 13 = 0 THEN -1.0
        |            ELSE value + value * 2 + value * 3 END AS total_packets,
        |       CASE WHEN event_id % 3 = 0 AND event_type != 'click'
        |            THEN 1 ELSE 0 END AS state_mismatch,
        |       event_type || '+' || event_type || '+x' AS split_trim
        |FROM events""".stripMargin),

    // --- S1: scan + pushed filter + projection -------------------------
    Row("s1_scan_filter", (s, d) =>
      Tables.supplier(s, d)
        .filter(col("s_acctbal") > 1000.0)
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal")),
      "SELECT s_suppkey, s_name, s_acctbal FROM supplier WHERE s_acctbal > 1000.0"),

    // --- S2: serialization-key codec ------------------------------------
    Row("s2_serialization_key", (s, d) =>
      Tables.resources(s, d).select(col("resource_id"),
        concat_ws("|",
          lit("plugin"), col("resource_plugin"),
          lit("site"), col("resource_site"),
          lit("class"), col("resource_class"),
          lit("subclass"), col("resource_subclass"),
          lit("type"), col("resource_type"),
          lit("id"), col("resource_id"),
          lit("endpoint"), col("resource_endpoint")).as("serialization_key")),
      s"""WITH $R
         |SELECT resource_id,
         |       concat_ws('|', 'plugin', 'tpch_discovery', 'site', resource_site,
         |                 'class', resource_class, 'subclass', resource_subclass,
         |                 'type', resource_type, 'id', resource_id,
         |                 'endpoint', resource_endpoint) AS serialization_key
         |FROM resources""".stripMargin),

    // --- J1: enrichment lookup join (broadcast left + defaults) ---------
    Row("j1_enrichment_join", (s, d) => {
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
      val enrich = Tables.part(s, d).filter(col("p_size") > 25)
        .select(col("p_partkey").as("l_partkey"),
          col("p_brand").as("brand"), col("p_size").as("psize"))
      Enrichment.lookupJoin(li, enrich, Seq("l_partkey"),
        Map("brand" -> lit(Schemas.MissingString), "psize" -> lit(-1)))
        .select("l_orderkey", "l_linenumber", "brand", "psize")
    },
      """SELECT l.l_orderkey, l.l_linenumber,
        |       coalesce(p.p_brand, '<not set>') AS brand,
        |       coalesce(p.p_size, -1) AS psize
        |FROM lineitem l
        |LEFT JOIN (SELECT * FROM part WHERE p_size > 25) p
        |  ON l.l_partkey = p.p_partkey""".stripMargin),

    // --- J2: parent self-join with defaults ------------------------------
    Row("j2_parent_self_join", (s, d) => {
      val sup = Tables.supplier(s, d)
      Enrichment.parentSelfJoin(sup, "s_suppkey", "s_nationkey",
        Seq("s_name" -> lit(Schemas.MissingString),
          "s_acctbal" -> lit(-1.0)))
        .select("s_suppkey", "s_name", "parent_s_name", "parent_s_acctbal")
    },
      """SELECT c.s_suppkey, c.s_name,
        |       coalesce(p.s_name, '<not set>') AS parent_s_name,
        |       coalesce(p.s_acctbal, -1.0) AS parent_s_acctbal
        |FROM supplier c LEFT JOIN supplier p ON c.s_nationkey = p.s_suppkey""".stripMargin),

    // --- J4: semi-join ---------------------------------------------------
    Row("j4_semi_join", (s, d) => {
      val urgent = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey").as("l_orderkey"))
      Tables.lineitem(s, d)
        .join(urgent, Seq("l_orderkey"), "left_semi")
        .groupBy("l_returnflag").agg(count(lit(1)).as("cnt"))
    },
      """SELECT l_returnflag, count(*) AS cnt
        |FROM lineitem l
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_orderkey = l.l_orderkey
        |                AND o.o_orderpriority = '1-URGENT')
        |GROUP BY 1""".stripMargin),

    // --- J6: index-remap join --------------------------------------------
    Row("j6_index_remap", (s, d) => {
      val mapping = Tables.supplier(s, d)
        .select(col("s_suppkey").as("from_idx"), col("s_nationkey").as("to_idx"))
      val remapped = Tables.lineitem(s, d)
        .join(broadcast(mapping), col("l_suppkey") === col("from_idx"))
        .select(col("to_idx").as("n_nationkey"),
          col("l_quantity").cast("decimal(18,2)").as("qty"))
      remapped.join(broadcast(Tables.nation(s, d)), Seq("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("cnt"),
          sum(col("qty")).cast("double").as("sum_qty"))
    },
      """WITH m AS (SELECT s_suppkey AS from_idx, s_nationkey AS to_idx FROM supplier)
        |SELECT n.n_name, count(*) AS cnt,
        |       CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem l
        |JOIN m ON l.l_suppkey = m.from_idx
        |JOIN nation n ON m.to_idx = n.n_nationkey
        |GROUP BY 1""".stripMargin),

    // --- J9/SO3: reconciliation ------------------------------------------
    // Updates are guarded by the incoming ROW's own creation timestamp
    // (manager.py:121-135); deletes by the incoming SET's timestamp
    // (:83-87). Incoming rows alternate older/newer than stored so both
    // guard branches fire.
    Row("j9_reconcile", (s, d) => {
      val o = Tables.orders(s, d)
      val stored = o.filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .select(col("o_orderkey"),
          unix_timestamp(col("o_orderdate")).as("ts_s"))
      val incoming = o.filter(
        col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1999-01-01").cast("timestamp"))
        .select(col("o_orderkey"),
          (unix_timestamp(col("o_orderdate")) +
            when(col("o_orderkey") % 3 === 0, -86400L).otherwise(86400L))
            .as("inc_ts"))
      Reconcile.changes(stored, incoming, Seq("o_orderkey"), "ts_s",
        867715200.0, // epoch of 1997-07-01 UTC
        incomingTsCol = Some("inc_ts"))
    },
      """WITH stored AS (
        |  SELECT o_orderkey, CAST(epoch(o_orderdate) AS BIGINT) AS ts_s
        |  FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'),
        |inc AS (
        |  SELECT o_orderkey,
        |         CAST(epoch(o_orderdate) AS BIGINT) +
        |           CASE WHEN o_orderkey % 3 = 0 THEN -86400 ELSE 86400 END AS inc_ts
        |  FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |    AND o_orderdate < TIMESTAMP '1999-01-01')
        |SELECT i.o_orderkey, 'add' AS action FROM inc i
        |WHERE NOT EXISTS (SELECT 1 FROM stored s WHERE s.o_orderkey = i.o_orderkey)
        |UNION ALL
        |SELECT s.o_orderkey, 'delete' AS action FROM stored s
        |WHERE NOT EXISTS (SELECT 1 FROM inc i WHERE i.o_orderkey = s.o_orderkey)
        |  AND s.ts_s <= 867715200
        |UNION ALL
        |SELECT s.o_orderkey, 'update' AS action
        |FROM stored s JOIN inc i ON i.o_orderkey = s.o_orderkey
        |WHERE s.ts_s <= i.inc_ts""".stripMargin),

    // --- J9 apply: the post-MERGE inventory after the change feed lands
    // (manager.py:136-142) — same fixture as j9_reconcile, returning the
    // resulting store instead of the feed.
    Row("j9_apply", (s, d) => {
      val o = Tables.orders(s, d)
      val stored = o.filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .select(col("o_orderkey"),
          unix_timestamp(col("o_orderdate")).as("ts"))
      val incoming = o.filter(
        col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1999-01-01").cast("timestamp"))
        .select(col("o_orderkey"),
          (unix_timestamp(col("o_orderdate")) +
            when(col("o_orderkey") % 3 === 0, -86400L).otherwise(86400L))
            .as("ts"))
      Reconcile.applied(stored, incoming, Seq("o_orderkey"), "ts",
        867715200.0, incomingTsCol = Some("ts"))
    },
      """WITH stored AS (
        |  SELECT o_orderkey, CAST(epoch(o_orderdate) AS BIGINT) AS ts
        |  FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'),
        |inc AS (
        |  SELECT o_orderkey,
        |         CAST(epoch(o_orderdate) AS BIGINT) +
        |           CASE WHEN o_orderkey % 3 = 0 THEN -86400 ELSE 86400 END AS ts
        |  FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |    AND o_orderdate < TIMESTAMP '1999-01-01')
        |SELECT s.o_orderkey, s.ts FROM stored s
        |WHERE (EXISTS (SELECT 1 FROM inc i WHERE i.o_orderkey = s.o_orderkey
        |                 AND s.ts > i.ts))
        |   OR (NOT EXISTS (SELECT 1 FROM inc i WHERE i.o_orderkey = s.o_orderkey)
        |       AND s.ts > 867715200)
        |UNION ALL
        |SELECT i.o_orderkey, i.ts FROM inc i
        |WHERE NOT EXISTS (SELECT 1 FROM stored s WHERE s.o_orderkey = i.o_orderkey)
        |   OR EXISTS (SELECT 1 FROM stored s WHERE s.o_orderkey = i.o_orderkey
        |                AND s.ts <= i.ts)""".stripMargin),

    // --- J10: metrics-group × transform-config lookup (broadcast, pass-through) ----
    // polling_plugin_agent.py:269-304 — per group_type, look up the configured
    // transform; groups with no config pass through unchanged.
    Row("j10_transform_config", (s, d) => {
      val cfg = s.createDataFrame(Seq(
        ("purchase", "rate"), ("click", "rate"), ("view", "pass"))).
        toDF("event_type", "transform")
      Tables.events(s, d)
        .groupBy("event_type").agg(count(lit(1)).as("n_groups"))
        .join(broadcast(cfg), Seq("event_type"), "left")
        .select(col("event_type"), col("n_groups"),
          coalesce(col("transform"), lit("none")).as("transform"))
    },
      """WITH cfg(event_type, transform) AS (
        |  VALUES ('purchase','rate'), ('click','rate'), ('view','pass')),
        |g AS (SELECT event_type, count(*) AS n_groups FROM events GROUP BY 1)
        |SELECT g.event_type, g.n_groups,
        |       coalesce(cfg.transform, 'none') AS transform
        |FROM g LEFT JOIN cfg ON g.event_type = cfg.event_type""".stripMargin),

    // --- A1/A2/W1/J8: counter→gauge rate with guards ----------------------
    Row("a1_rate", (s, d) => {
      val e = Tables.eventsUs(s, d) // ts_us normalized in Tables.eventsUs
        .withColumn("ts_s", expr(Tables.tsSecondsExpr)) // exact FLOOR division
      RateTransform.batch(e, Seq("user_id", "event_type"),
        "value", "ts_s", "event_id", lit(3600))
        .select("event_id", "user_id", "event_type", "rate", "confidence")
    },
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, value,
        |         epoch_ns(ts) // 1000000000 AS ts_s
        |  FROM events),
        |l AS (
        |  SELECT *, lag(value) OVER w AS pv, lag(ts_s) OVER w AS pt
        |  FROM e WINDOW w AS (PARTITION BY user_id, event_type ORDER BY event_id))
        |SELECT event_id, user_id, event_type,
        |  CASE WHEN pv IS NOT NULL AND ts_s - pt > 0 AND ts_s - pt <= 10800
        |            AND value >= pv
        |       THEN CAST(floor((value - pv) / (ts_s - pt)) AS BIGINT) END AS rate,
        |  CASE WHEN pv IS NOT NULL AND ts_s - pt > 0
        |       THEN round(3600 / CAST(ts_s - pt AS DOUBLE), 2) END AS confidence
        |FROM l""".stripMargin),

    // --- A3: count-where --------------------------------------------------
    Row("a3_count_where", (s, d) =>
      Tables.events(s, d).groupBy("event_type").agg(
        count(when(col("value") > 100, 1)).as("n_high"),
        countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n")),
      """SELECT event_type,
        |       count(CASE WHEN value > 100 THEN 1 END) AS n_high,
        |       count(DISTINCT user_id) AS n_users,
        |       count(*) AS n
        |FROM events GROUP BY 1""".stripMargin),

    // --- A4/A5: status rollup (all/any/mode) -------------------------------
    Row("a4_status_rollup", (s, d) =>
      StatusRollup.rollup(Tables.events(s, d), "user_id", "event_type",
        successValue = "purchase"),
      """WITH c AS (
        |  SELECT user_id, event_type, count(*) AS cnt FROM events GROUP BY 1, 2),
        |m AS (
        |  SELECT user_id, event_type FROM (
        |    SELECT user_id, event_type,
        |           row_number() OVER (PARTITION BY user_id
        |                              ORDER BY cnt DESC, event_type DESC) AS rn
        |    FROM c) WHERE rn = 1),
        |f AS (
        |  SELECT user_id,
        |         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS any_s,
        |         min(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS all_s
        |  FROM events GROUP BY 1)
        |SELECT f.user_id,
        |       CASE WHEN all_s = 1 THEN 'purchase'
        |            WHEN any_s = 1 THEN 'PARTIAL_METRIC_FAILURE'
        |            ELSE m.event_type END AS device_status
        |FROM f JOIN m ON f.user_id = m.user_id""".stripMargin),

    // --- A5: exception→status mapping + per-device rollup ----------------
    // polling_status.py:42-53 maps exception classes to status codes; the
    // per-check outcomes then fold per device (A4's machinery).
    Row("a5_exception_map", (s, d) => {
      val outcome = when(col("value") > 150, lit("SUCCESS"))
        .when(col("event_id") % 5 === 0, lit("PING_FAILURE"))
        .when(col("event_id") % 7 === 0, lit("AUTHENTICATION_FAILURE"))
        .when(col("event_id") % 11 === 0, lit("TIMEOUT"))
        .otherwise(lit("INTERNAL_FAILURE"))
      StatusRollup.rollup(
        Tables.events(s, d).select(col("user_id"), outcome.as("status")),
        "user_id", "status", successValue = "SUCCESS")
    },
      """WITH o AS (
        |  SELECT user_id,
        |         CASE WHEN value > 150 THEN 'SUCCESS'
        |              WHEN event_id % 5 = 0 THEN 'PING_FAILURE'
        |              WHEN event_id % 7 = 0 THEN 'AUTHENTICATION_FAILURE'
        |              WHEN event_id % 11 = 0 THEN 'TIMEOUT'
        |              ELSE 'INTERNAL_FAILURE' END AS status
        |  FROM events),
        |c AS (SELECT user_id, status, count(*) AS cnt FROM o GROUP BY 1, 2),
        |m AS (
        |  SELECT user_id, status FROM (
        |    SELECT user_id, status,
        |           row_number() OVER (PARTITION BY user_id
        |                              ORDER BY cnt DESC, status DESC) AS rn
        |    FROM c) WHERE rn = 1),
        |f AS (
        |  SELECT user_id,
        |         max(CASE WHEN status = 'SUCCESS' THEN 1 ELSE 0 END) AS any_s,
        |         min(CASE WHEN status = 'SUCCESS' THEN 1 ELSE 0 END) AS all_s
        |  FROM o GROUP BY 1)
        |SELECT f.user_id,
        |       CASE WHEN all_s = 1 THEN 'SUCCESS'
        |            WHEN any_s = 1 THEN 'PARTIAL_METRIC_FAILURE'
        |            ELSE m.status END AS device_status
        |FROM f JOIN m ON f.user_id = m.user_id""".stripMargin),

    // --- A7/SO4: union + dedup --------------------------------------------
    Row("a7_union_dedup", (s, d) => {
      val o = Tables.orders(s, d)
      val a = o.filter(col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .select("o_orderkey", "o_orderstatus")
      val b = o.filter(
        col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .select("o_orderkey", "o_orderstatus")
      a.union(b).distinct()
    },
      """SELECT o_orderkey, o_orderstatus FROM orders
        |WHERE o_orderdate < TIMESTAMP '1997-01-01'
        |UNION
        |SELECT o_orderkey, o_orderstatus FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'""".stripMargin),

    // --- A8: last-write-wins upsert -----------------------------------------
    Row("a8_last_write_wins", (s, d) =>
      Enrichment.lastWriteWins(Tables.events(s, d),
        Seq("user_id", "event_type"), "ts", Seq("event_id"))
        .select("user_id", "event_type", "event_id", "value"),
      """SELECT user_id, event_type, event_id, value FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id, event_type
        |                               ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1""".stripMargin),

    // --- A9/W2: canonical sorted re-aggregation ------------------------------
    Row("a9_map_rebuild", (s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_orderkey"),
          concat_ws(":", col("l_linenumber"), col("l_partkey")).as("item"))
        .groupBy("l_orderkey")
        .agg(array_join(array_sort(collect_list(col("item"))), "|").as("items")),
      """SELECT l_orderkey,
        |       string_agg(item, '|' ORDER BY item) AS items
        |FROM (SELECT l_orderkey,
        |             CAST(l_linenumber AS VARCHAR) || ':' ||
        |             CAST(l_partkey AS VARCHAR) AS item
        |      FROM lineitem)
        |GROUP BY 1""".stripMargin),

    // --- A10: probe statistics ------------------------------------------------
    Row("a10_stats", (s, d) =>
      Tables.events(s, d).groupBy("event_type").agg(
        count(lit(1)).as("n"),
        min("value").as("vmin"),
        max("value").as("vmax"),
        round(avg("value"), 4).as("vavg"),
        round(stddev_samp(col("value")), 4).as("vstd")),
      """SELECT event_type, count(*) AS n, min(value) AS vmin, max(value) AS vmax,
        |       round(avg(value), 4) AS vavg,
        |       round(stddev_samp(value), 4) AS vstd
        |FROM events GROUP BY 1""".stripMargin),

    flagship,

    // --- headline: shipping-priority join (Q3-style, deterministic top-10) ------
    // TPC-H Q5 shape: six-table star join (two fact tables + four dims)
    // with a region gate and a date-range gate — the multi-way join
    // Catalyst's cost-based reorder + AQE exist for. Region/nation are
    // declared broadcast (always tiny); supplier/customer joins are left
    // to AQE, which broadcasts them at bench scale but shuffle-joins at
    // 100 TB where customer scales with the fact data.
    Row("q5_region_revenue", (s, d) => {
      val r = Tables.region(s, d).filter(col("r_name") === "ASIA")
      val n = Tables.nation(s, d)
      val c = Tables.customer(s, d)
      val sup = Tables.supplier(s, d)
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      Tables.lineitem(s, d)
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(c, col("o_custkey") === col("c_custkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)")).cast("double").as("revenue"))
    },
      """SELECT n.n_name,
        |       CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
        |                     AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |               AND c.c_nationkey = s.s_nationkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |WHERE r.r_name = 'ASIA'
        |  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o.o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1""".stripMargin),

    // TPC-H Q18 shape: the self-referential fact filter — "orders whose
    // own lineitems sum past a threshold" — realized as a map-side-
    // combined aggregate over the fact table feeding a LEFT-SEMI join
    // back onto orders (the big-order set is the top ~1% of keys, so AQE
    // broadcasts it at any scale where orders is the big side). The
    // final top-100 is a TakeOrderedAndProject, never a total sort.
    Row("q18_large_orders", (s, d) => {
      val l = Tables.lineitem(s, d)
      val big = l.groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("__q"))
        .filter(col("__q") > 250)
        .select(col("l_orderkey").as("__big_ok"))
      val o = Tables.orders(s, d)
        .join(big, col("o_orderkey") === col("__big_ok"), "left_semi")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
          .as("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey")).limit(100)
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
          col("o_totalprice"), col("sum_qty"))
    },
      """WITH big AS (
        |  SELECT l_orderkey FROM lineitem
        |  GROUP BY 1
        |  HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 250)
        |SELECT c_name, c_custkey, o_orderkey,
        |       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
        |       o_totalprice,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderkey IN (SELECT l_orderkey FROM big)
        |GROUP BY 1, 2, 3, 4, 5
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 100""".stripMargin),

    Row("q3_shipping", (s, d) => {
      val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate") < lit("1998-03-15").cast("timestamp"))
      val l = Tables.lineitem(s, d)
        .filter(col("l_shipdate") > lit("1998-03-15").cast("timestamp"))
      val joined = l
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderpriority"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)")).cast("double").as("revenue"))
      import org.apache.spark.sql.expressions.Window
      // Top-k via orderBy+limit -> TakeOrderedAndProject (per-partition heaps,
      // no global shuffle); the rank window then runs over only the 10 survivors.
      val w = Window.orderBy(col("revenue").desc, col("l_orderkey"))
      joined.orderBy(col("revenue").desc, col("l_orderkey")).limit(10)
        .withColumn("rk", row_number().over(w))
        .select(col("l_orderkey"), col("o_orderpriority"), col("revenue"),
          col("rk").cast("long").as("rk"))
    },
      """WITH agg AS (
        |  SELECT l.l_orderkey, o.o_orderpriority,
        |         CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  WHERE c.c_mktsegment = 'BUILDING'
        |    AND o.o_orderdate < TIMESTAMP '1998-03-15'
        |    AND l.l_shipdate > TIMESTAMP '1998-03-15'
        |  GROUP BY 1, 2)
        |SELECT l_orderkey, o_orderpriority, revenue, rk FROM (
        |  SELECT *, CAST(row_number() OVER (ORDER BY revenue DESC, l_orderkey) AS BIGINT) AS rk
        |  FROM agg) WHERE rk <= 10""".stripMargin),

    // --- W1: running window -------------------------------------------------------
    Row("w1_running", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      Tables.events(s, d)
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("running_value",
          sum(col("value").cast("decimal(18,2)"))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("double"))
        .select("event_id", "user_id", "rn", "running_value")
    },
      """SELECT event_id, user_id,
        |       CAST(row_number() OVER w AS BIGINT) AS rn,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS running_value
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY event_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin),

    // --- SO1/SO2: id-set intersection --------------------------------------------
    Row("so1_intersect", (s, d) => {
      val r = Tables.resources(s, d)
      r.filter(col("resource_metadata").getItem("acctbal_bucket") === "high")
        .select("resource_id")
        .intersect(
          r.filter(col("resource_metadata").getItem("nation").like("NATION_1%"))
            .select("resource_id"))
    },
      s"""WITH $R
         |SELECT resource_id FROM resources WHERE meta_acctbal_bucket = 'high'
         |INTERSECT
         |SELECT resource_id FROM resources WHERE meta_nation LIKE 'NATION_1%'""".stripMargin),

    // --- SO2: union of metadata-matching id-sets (OR across metadata preds) --------
    Row("so2_union", (s, d) => {
      val r = Tables.resources(s, d)
      r.filter(col("resource_metadata").getItem("acctbal_bucket") === "negative")
        .select("resource_id")
        .union(
          r.filter(col("resource_metadata").getItem("nation") === "NATION_5")
            .select("resource_id"))
        .distinct()
    },
      s"""WITH $R
         |SELECT resource_id FROM resources WHERE meta_acctbal_bucket = 'negative'
         |UNION
         |SELECT resource_id FROM resources WHERE meta_nation = 'NATION_5'""".stripMargin),

    // --- SO3: set difference -------------------------------------------------------
    Row("so3_except", (s, d) =>
      Tables.orders(s, d)
        .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .select("o_orderkey")
        .except(
          Tables.lineitem(s, d)
            .filter(col("l_shipdate") >= lit("1999-01-01").cast("timestamp"))
            .select(col("l_orderkey").as("o_orderkey"))),
      """SELECT o_orderkey FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
        |EXCEPT
        |SELECT l_orderkey AS o_orderkey FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1999-01-01'""".stripMargin),

    // --- F7-F9/W3/S8: InfluxDB line-protocol rendering ------------------------------
    Row("f_influx_line", (s, d) =>
      Tables.eventsUs(s, d).filter(col("event_id") < 200)
        .select(col("event_id"),
          Influx.line(
            col("event_type"),
            map(lit("site"), lit("dc1"),
              lit("user"), col("user_id").cast("string")),
            concat(lit("value__gauge="),
              format_string("%.2f", col("value"))),
            expr(Tables.tsSecondsExpr)).as("line")),
      """SELECT event_id,
        |       event_type || ',' || 'site=dc1,user=' || CAST(user_id AS VARCHAR)
        |       || ' ' || 'value__gauge=' || printf('%.2f', value)
        |       || ' ' || CAST(epoch_ns(ts) // 1000000000 AS VARCHAR) AS line
        |FROM events WHERE event_id < 200""".stripMargin),

    // --- F9: Python-repr field rendering — ints bare, floats via CPython
    // shortest-repr ({!r} at consumer.py:142). The field values sweep both
    // notation thresholds (≥1e16 and <1e-4 go scientific) plus negatives,
    // so the expression's fixed/scientific branch logic is all oracle-hit.
    Row("f_influx_repr", (s, d) => {
      import graft.functions.PyRepr.pyRepr
      Tables.eventsUs(s, d).filter(col("event_id") < 200)
        .select(col("event_id"),
          Influx.line(
            col("event_type"),
            map(lit("site"), lit("dc1"),
              lit("user"), col("user_id").cast("string")),
            concat_ws(",",
              concat(lit("big__gauge="), pyRepr(col("value") * lit(1.0e14))),
              concat(lit("bytes__counter="),
                floor(col("value") * 100).cast("long").cast("string")),
              concat(lit("load__gauge="), pyRepr(col("value") / lit(3.0))),
              concat(lit("neg__gauge="), pyRepr(-col("value") / lit(3.0))),
              concat(lit("temp__gauge="), pyRepr(col("value"))),
              concat(lit("tiny__gauge="), pyRepr(col("value") / lit(1.0e7)))),
            expr(Tables.tsSecondsExpr)).as("line"))
    },
      """SELECT event_id,
        |       event_type || ',' || 'site=dc1,user=' || CAST(user_id AS VARCHAR)
        |       || ' ' || 'big__gauge=' || CAST(value * 1.0e14 AS VARCHAR)
        |       || ',bytes__counter=' || CAST(CAST(floor(value * 100) AS BIGINT) AS VARCHAR)
        |       || ',load__gauge=' || CAST(value / 3.0 AS VARCHAR)
        |       || ',neg__gauge=' || CAST(-value / 3.0 AS VARCHAR)
        |       || ',temp__gauge=' || CAST(value AS VARCHAR)
        |       || ',tiny__gauge=' || CAST(value / 1.0e7 AS VARCHAR)
        |       || ' ' || CAST(epoch_ns(ts) // 1000000000 AS VARCHAR) AS line
        |FROM events WHERE event_id < 200""".stripMargin),

    // --- F1-F16: scalar function pack ------------------------------------------------
    Row("f_scalar_pack", (s, d) =>
      Tables.events(s, d).filter(col("event_id") < 500)
        .select(
          col("event_id"),
          regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("int").as("k_val"),
          regexp_extract(concat(lit("1.3.6.1."), col("event_id")),
            "([0-9]+)$", 1).as("oid_index"),
          (col("value") * 8).as("bits"),
          round(col("value") * 1.8 + 32, 2).as("fahrenheit"),
          regexp_replace(col("event_type"), "[^\\x00-\\x7F]", "").as("ascii_clean"),
          lower(lpad(hex(col("user_id") % 256), 2, "0")).as("mac_octet")),
      """SELECT event_id,
        |       CAST(regexp_extract(props, '"k": (\d+)', 1) AS INT) AS k_val,
        |       regexp_extract('1.3.6.1.' || CAST(event_id AS VARCHAR),
        |                      '([0-9]+)$', 1) AS oid_index,
        |       value * 8 AS bits,
        |       round(value * 1.8 + 32, 2) AS fahrenheit,
        |       regexp_replace(event_type, '[^\x00-\x7F]', '', 'g') AS ascii_clean,
        |       lower(lpad(to_hex(user_id % 256), 2, '0')) AS mac_octet
        |FROM events WHERE event_id < 500""".stripMargin),

    // --- F14: resource-set timestamp validity window (≤7d old, ≤60s
    // future; resources.py:393-399) with an INJECTED clock — wall-clock
    // never reaches an oracle-checked query.
    Row("f14_validity", (s, d) => {
      val now = lit(1.5e9 + 500.0)
      val ts = col("resource_creation_timestamp")
      Tables.resources(s, d).select(col("resource_id"),
        (ts <= now + 60.0 && ts >= now - 604800.0).as("is_valid"))
    },
      """SELECT c_name AS resource_id,
        |       (c_custkey + 1.5e9 <= 1.5e9 + 500 + 60
        |        AND c_custkey + 1.5e9 >= 1.5e9 + 500 - 604800) AS is_valid
        |FROM customer""".stripMargin),

    // --- P9: identifier validation ------------------------------------------------
    Row("p9_validation", (s, d) =>
      Tables.events(s, d)
        .select(col("event_type").as("name"))
        .distinct()
        .withColumn("valid", col("name").rlike(Schemas.identifierRegex)),
      """SELECT DISTINCT event_type AS name,
        |       regexp_matches(event_type, '^[^\d\W]\w*$') AS valid
        |FROM events""".stripMargin),

    // --- A12: heartbeat plugin — status gauge + own-enrichment timestamp
    // (-1 when the device has no heartbeat enrichment), injected clock
    // (plugin_polling_heartbeat.py:18-47).
    Row("a12_heartbeat", (s, d) => {
      val res = Tables.resources(s, d)
      // enrolled devices: every other custkey (derived back from the
      // injected creation timestamp), enrichment ts = creation + 3600
      val enrichment = res
        .filter((col("resource_creation_timestamp") - lit(1.5e9))
          .cast("long") % 2 === 0)
        .select(col("resource_id"),
          lit(graft.operators.Heartbeat.Namespace).as("namespace"),
          lit(graft.operators.Heartbeat.Key).as("key"),
          (col("resource_creation_timestamp") + lit(3600.5)).as("timestamp"))
      graft.operators.Heartbeat.metrics(res, enrichment, lit(1.7e9))
    },
      """SELECT c_name AS resource_id,
        |       'heartbeat' AS metrics_group_type,
        |       CAST(1 AS BIGINT) AS status,
        |       CASE WHEN c_custkey % 2 = 0
        |            THEN CAST(floor(c_custkey + 1.5e9 + 3600.5) AS BIGINT)
        |            ELSE CAST(-1 AS BIGINT) END
        |         AS heartbeat_enrichment_timestamp,
        |       1.7e9 AS metrics_group_creation_timestamp
        |FROM customer""".stripMargin),

    // --- A6: group-by-site (per-site topic fan-out shape) ---------------------------
    Row("a6_group_by_site", (s, d) =>
      Tables.resources(s, d).groupBy("resource_site")
        .agg(count(lit(1)).as("n_resources")),
      s"""WITH $R
         |SELECT resource_site, count(*) AS n_resources FROM resources GROUP BY 1""".stripMargin),

    // --- A11: flatten metrics by type (canonical sorted map render) ------------------
    Row("a11_flatten_by_type", (s, d) =>
      Tables.events(s, d)
        .groupBy("user_id", "event_type").agg(count(lit(1)).as("cnt"))
        .groupBy("user_id")
        .agg(concat(lit("{"),
          array_join(array_sort(collect_list(
            format_string("\"%s\":%d", col("event_type"), col("cnt")))), ","),
          lit("}")).as("by_type")),
      """WITH c AS (
        |  SELECT user_id, event_type, count(*) AS cnt FROM events GROUP BY 1, 2)
        |SELECT user_id,
        |       '{' || string_agg(format('"{}":{}', event_type, cnt), ','
        |                          ORDER BY format('"{}":{}', event_type, cnt)) || '}' AS by_type
        |FROM c GROUP BY 1""".stripMargin),

    // --- F15: MAC from octets ----------------------------------------------------------
    Row("f15_mac", (s, d) =>
      Tables.events(s, d).filter(col("event_id") < 300)
        .select(col("event_id"),
          lower(concat_ws(":", (0 to 5).map(i =>
            lpad(hex((col("user_id") + lit(i)) % 256), 2, "0")): _*)).as("mac")),
      """SELECT event_id,
        |       lower(concat_ws(':',
        |         lpad(to_hex((user_id + 0) % 256), 2, '0'),
        |         lpad(to_hex((user_id + 1) % 256), 2, '0'),
        |         lpad(to_hex((user_id + 2) % 256), 2, '0'),
        |         lpad(to_hex((user_id + 3) % 256), 2, '0'),
        |         lpad(to_hex((user_id + 4) % 256), 2, '0'),
        |         lpad(to_hex((user_id + 5) % 256), 2, '0'))) AS mac
        |FROM events WHERE event_id < 300""".stripMargin),

    // --- F17: canonical JSON encode ------------------------------------------------------
    Row("f17_canonical_json", (s, d) =>
      Tables.events(s, d).filter(col("event_id") < 300)
        .select(col("event_id"),
          to_json(struct(col("event_id"), col("event_type"), col("user_id")))
            .as("json")),
      """SELECT event_id,
        |       '{"event_id":' || event_id || ',"event_type":"' || event_type
        |       || '","user_id":' || user_id || '}' AS json
        |FROM events WHERE event_id < 300""".stripMargin),

    // --- S2 decode: serialization-key round-trip ------------------------------------------
    Row("s2_parse_roundtrip", (s, d) => {
      val r = Tables.resources(s, d)
      val keyed = r.select(col("resource_id").as("orig_id"),
        graft.sources.Sources.serializationKey().as("skey"))
      graft.sources.Sources.parseSerializationKey(keyed, "skey")
        .select(col("orig_id"), col("resource_site"), col("resource_type"),
          col("resource_endpoint"))
    },
      s"""WITH $R
         |SELECT resource_id AS orig_id, resource_site, resource_type,
         |       resource_endpoint
         |FROM resources""".stripMargin),

    // --- S6: Kafka fan-out encode — one record per (site topic + global
    // topic), key = series key, value = canonical JSON payload
    // (polling_plugin_agent.py:307-364).
    Row("s6_kafka_fanout", (s, d) => {
      val e = Tables.events(s, d).filter(col("event_id") < 400)
      KafkaShaped.encodeFanout(e,
        siteCol = col("event_type"), topicSuffix = "metrics",
        keyCol = concat_ws("|", col("user_id"), col("event_type")),
        payload = struct(col("event_id"), col("event_type")),
        globalTopic = Some("global-metrics"))
    },
      """WITH base AS (
        |  SELECT event_type || '-metrics' AS site_topic,
        |         concat_ws('|', CAST(user_id AS VARCHAR), event_type) AS key,
        |         '{"event_id":' || event_id || ',"event_type":"'
        |           || event_type || '"}' AS value
        |  FROM events WHERE event_id < 400)
        |SELECT site_topic AS topic, key, value FROM base
        |UNION ALL
        |SELECT 'global-metrics' AS topic, key, value FROM base""".stripMargin),

    // --- J5: explicit indices allow-list restricts evaluation ------------
    Row("j5_indices_static", (s, d) => {
      val p = Tables.part(s, d)
      val tables = Map(
        "sensor_name" -> p.select(
          col("p_partkey").cast("string").as("index"), col("p_name").as("value")),
        "sensor_scale" -> p.select(
          col("p_partkey").cast("string").as("index"),
          (lit(1) + col("p_partkey") % 3).cast("string").as("value")))
      val allow = Some(Seq("1", "2", "3", "5", "8"))
      val cfg = GroupConfig("environment", 60,
        dimensions = Map("sensor" -> TargetSpec("sensor_name.$index",
          indices = allow)),
        metrics = Map("scale" -> TargetSpec("int(sensor_scale.$index)",
          valueType = "int", indices = allow)))
      MetricsDsl.evaluateIndexed(cfg, tables).get
        .select("index", "sensor", "scale")
    },
      """SELECT CAST(p_partkey AS VARCHAR) AS index, p_name AS sensor,
        |       CAST(1 + p_partkey % 3 AS BIGINT) AS scale
        |FROM part
        |WHERE p_partkey IN (1, 2, 3, 5, 8) AND p_name != ''""".stripMargin)
  )
}
