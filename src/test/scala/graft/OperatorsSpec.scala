package graft

import org.apache.spark.sql.functions._
import graft.operators.{Enrichment, Reconcile, StatusRollup}
import graft.functions.Influx

class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  test("reconcile: adds/deletes/updates with timestamp conflict guard") {
    // reference resources/manager.py:74-135
    val stored = Seq(("k1", 100.0), ("k2", 100.0), ("k3", 999.0), ("k4", 100.0))
      .toDF("id", "ts_s")
    val incoming = Seq("k1", "k3", "k5").toDF("id")
    val out = Reconcile.changes(stored, incoming, Seq("id"), "ts_s", 500.0)
      .as[(String, String)].collect().toSet
    assert(out == Set(
      ("k5", "add"),     // new
      ("k2", "delete"),  // gone, stored ts 100 <= 500
      // k4 gone but... also 100 <= 500 → delete
      ("k4", "delete"),
      ("k1", "update")   // present both; k3 skipped: stored ts 999 > 500
    ))
  }

  test("reconcile: update guard compares against the incoming ROW's timestamp") {
    // reference manager.py:121-135 — updates use the incoming resource's own
    // resource_creation_timestamp, not the set timestamp
    val stored = Seq(("k1", 100.0), ("k2", 300.0)).toDF("id", "ts_s")
    val incoming = Seq(("k1", 200.0), ("k2", 200.0), ("k9", 1.0))
      .toDF("id", "inc_ts")
    val out = Reconcile.changes(stored, incoming, Seq("id"), "ts_s", 500.0,
      incomingTsCol = Some("inc_ts"))
      .as[(String, String)].collect().toSet
    // k2: stored 300 > incoming row 200 → update skipped (set ts 500 would
    // have allowed it under the old set-timestamp guard)
    assert(out == Set(("k9", "add"), ("k1", "update")))
  }

  test("reconcile: duplicate incoming keys collapse to one add/update") {
    val stored = Seq(("k1", 100.0)).toDF("id", "ts_s")
    val incoming = Seq(("k1", 50.0), ("k1", 200.0), ("k9", 1.0), ("k9", 2.0))
      .toDF("id", "inc_ts")
    val out = Reconcile.changes(stored, incoming, Seq("id"), "ts_s", 500.0,
      incomingTsCol = Some("inc_ts"))
      .as[(String, String)].collect().toList
    // k1: newest duplicate (200) wins the guard; exactly one row each —
    // a MERGE consumer requires unique source keys
    assert(out.sorted == List(("k1", "update"), ("k9", "add")))
  }

  test("reconcile: a NULL stored timestamp blocks the delete in both " +
    "changes and applied") {
    // key 1 is absent from the incoming set, but its stored timestamp is
    // NULL — not provably older than the set, so it is neither deleted
    // from the change feed nor dropped from the applied inventory
    val stored = Seq((1, Option.empty[Double]), (2, Some(10.0)))
      .toDF("id", "ts_s")
    val incoming = Seq((2, Option(20.0))).toDF("id", "ts_s")
    val changes = Reconcile.changes(stored, incoming, Seq("id"), "ts_s",
      100.0, Some("ts_s")).as[(Int, String)].collect().toSet
    assert(changes == Set((2, "update")))
    val applied = Reconcile.applied(stored, incoming, Seq("id"), "ts_s",
      100.0, Some("ts_s")).as[(Int, Option[Double])].collect()
      .sortBy(_._1).toSeq
    assert(applied == Seq((1, None), (2, Some(20.0))))
  }

  test("reconcile apply: a Resource inventory carrying the metadata map " +
    "collapses timestamp-tied duplicate keys deterministically") {
    // the content-hash tiebreak used to hash the MapType column directly
    // and fail analysis with DATATYPE_MISMATCH.HASH_MAP_TYPE
    def inv(rows: (String, String, Double, Map[String, String])*) =
      rows.toDF("resource_id", "resource_site",
        "resource_creation_timestamp", "resource_metadata")
    val stored = inv(("r1", "s1", 100.0, Map("k" -> "a")),
      ("r2", "s1", 100.0, Map("k" -> "b")))
    // r1 arrives twice, tied on its timestamp, differing only in metadata
    val dupA = ("r1", "s1", 200.0, Map("k" -> "x", "z" -> "1"))
    val dupB = ("r1", "s1", 200.0, Map("k" -> "y"))
    val add = ("r3", "s1", 200.0, Map("k" -> "c"))
    def applied(incoming: org.apache.spark.sql.DataFrame) =
      Reconcile.applied(stored, incoming, Seq("resource_id"),
        "resource_creation_timestamp", 500.0,
        Some("resource_creation_timestamp"))
        .as[(String, String, Double, Map[String, String])]
        .collect().sortBy(_._1).toSeq
    val out = applied(inv(dupA, dupB, add))
    // r1 updated (stored 100 <= 200) to ONE of its duplicates, r2 deleted
    // (stored 100 <= set ts 500), r3 added
    assert(out.map(_._1) == Seq("r1", "r3"))
    assert(Set(dupA._4, dupB._4).contains(out.head._4))
    assert(out(1) == add)
    // the winner does not depend on row order, partitioning or the map's
    // insertion order
    val reordered = inv(add, dupB,
      dupA.copy(_4 = Map("z" -> "1", "k" -> "x"))).repartition(3)
    assert(applied(reordered) == out)
  }

  test("last-write-wins keeps newest with deterministic tie-break") {
    val df = Seq(
      ("k", 10L, 1, "old"), ("k", 20L, 2, "new"), ("k", 20L, 1, "tie-lo"))
      .toDF("key", "ts", "seq", "val")
    val out = Enrichment.lastWriteWins(df, Seq("key"), "ts", Seq("seq"))
      .select("val").as[String].collect().toSeq
    assert(out == Seq("new"))
  }

  test("status rollup: all-success, any-success, mode") {
    // reference polling_status.py:191-208
    val df = Seq(
      ("d1", "SUCCESS"), ("d1", "SUCCESS"),                       // all → SUCCESS
      ("d2", "SUCCESS"), ("d2", "PING_FAILURE"),                  // any → PARTIAL
      ("d3", "PING_FAILURE"), ("d3", "PING_FAILURE"), ("d3", "AUTH_FAILURE")
    ).toDF("device", "status")                                    // mode → PING_FAILURE
    val out = StatusRollup.rollup(df, "device", "status")
      .as[(String, String)].collect().toMap
    assert(out == Map(
      "d1" -> "SUCCESS",
      "d2" -> "PARTIAL_METRIC_FAILURE",
      "d3" -> "PING_FAILURE"))
  }

  test("parent self-join pulls parent attrs with <not set>/-1 defaults") {
    // reference plugin_enrichment_interface.py:169-186
    val ifaces = Seq(
      ("ae0", null.asInstanceOf[String], 20000L),
      ("xe-0/0/0", "ae0", 10000L),
      ("xe-9/9/9", "missing", 10000L))
      .toDF("interface_name", "parent_interface_name", "speed")
    val out = Enrichment.parentSelfJoin(ifaces, "interface_name",
      "parent_interface_name", Seq("speed" -> lit(-1L)))
      .select("interface_name", "parent_speed")
      .as[(String, Long)].collect().toMap
    assert(out == Map("ae0" -> -1L, "xe-0/0/0" -> 20000L, "xe-9/9/9" -> -1L))
  }

  test("enrichment attribute validation partitions valid/invalid exactly") {
    val df = Seq(
      (1L, Map("interface_name" -> "eth0", "speed" -> "10000")),
      (2L, Map("interface_name" -> "eth1", "speed" -> "fast")), // bad int
      (3L, Map("interface_name" -> "eth2")))                    // missing key
      .toDF("id", "attrs")
    val (valid, invalid) = Enrichment.validateAttributes(df, "attrs",
      Map("interface_name" -> "string", "speed" -> "integer"))
    assert(valid.select("id").as[Long].collect().toSeq == Seq(1L))
    assert(invalid.select("id").as[Long].collect().toSet == Set(2L, 3L))
  }

  test("salted join equals the plain join on skewed keys") {
    import graft.operators.Skew
    val facts = ((1 to 500).map(i => ("hot", i.toLong)) ++
      (1 to 20).map(i => ("cold", i.toLong))).toDF("key", "row_id")
    val dims = Seq(("hot", "H"), ("cold", "C")).toDF("key", "attr")
    val salted = Skew.saltedJoin(facts, dims, "key", salt = 8, "row_id")
    val plain = facts.join(dims, "key")
    assert(salted.count() == plain.count())
    assert(salted.select("key", "row_id", "attr").as[(String, Long, String)]
      .collect().toSet ==
      plain.select("key", "row_id", "attr").as[(String, Long, String)]
        .collect().toSet)
    // the hot key's rows actually spread across salts: recompute the salt
    // assignment the operator uses and count distinct salts on the hot key
    val hotSalts = facts.filter($"key" === "hot")
      .select(pmod(xxhash64($"row_id"), lit(8L)).as("salt"))
      .distinct().count()
    assert(hotSalts > 1, s"hot key stayed on $hotSalts salt(s)")
  }

  test("content diff classifies added/removed/changed/unchanged, null-safe") {
    import graft.operators.Reconcile
    val oldS = Seq((1L, Some("a")), (2L, Some("b")), (3L, Some("c")),
      (5L, None: Option[String])).toDF("id", "text")
    val newS = Seq((2L, Some("b")), (3L, Some("C2")), (4L, Some("d")),
      (5L, None: Option[String])).toDF("id", "text")
    val out = Reconcile.contentDiff(oldS, newS, "id", "text")
      .select("id", "status").as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "removed", 2L -> "unchanged", 3L -> "changed",
      4L -> "added", 5L -> "unchanged")) // no-content == no-content
  }

  test("key-skew profile buckets by count digits; hot keys rank with ties") {
    import graft.operators.Skew
    // a: 3 rows (1 digit), b: 12 rows (2 digits), c: 12, d: 120 (3 digits)
    val rows = (Seq.fill(3)("a") ++ Seq.fill(12)("b") ++ Seq.fill(12)("c") ++
      Seq.fill(120)("d")).zipWithIndex.map { case (k, i) => (k, i.toLong) }
    val df = rows.toDF("k", "row_id")
    val hist = Skew.keyProfile(df, "k")
      .select("digits", "n_keys", "n_rows", "max_count")
      .as[(Int, Long, Long, Long)].collect().toSet
    assert(hist == Set((1, 1L, 3L, 3L), (2, 2L, 24L, 12L),
      (3, 1L, 120L, 120L)))
    // top-3: d first, then the b/c tie resolved by key ascending
    val hot = Skew.hotKeys(df, "k", topN = 3)
      .as[(String, Long)].collect().toSeq
    assert(hot == Seq(("d", 120L), ("b", 12L), ("c", 12L)))
  }

  test("influx escaping and sorted-tag line rendering") {
    // reference consumers/influxdb/consumer.py:84-169
    val df = Seq(("cpu util", Map("host b" -> "x=1", "a" -> "v,2"), 42.5, 1700000000L))
      .toDF("measurement", "tags", "value", "ts")
    val line = df.select(Influx.line(col("measurement"), col("tags"),
      concat(lit("v__gauge="), format_string("%.1f", col("value"))),
      col("ts")).as("l")).as[String].head()
    // tag KEYS are rendered unescaped ("host b"), only values are escaped —
    // byte-for-byte with consumer.py:123-126
    assert(line == "cpu_util,a=v\\,2,host b=x\\=1 v__gauge=42.5 1700000000")
  }
}
