package perfbench

import graft.core.Resource

/** The independent references the workloads check the engine against,
  * each on a hand-built case with known answers. */
class ReferenceSpec extends SparkSuite {

  test("sequential rate guards reproduce the FIXTURES.md A3 eight-step golden sequence") {
    // (value, ts) per step, interval 60: every guard in order
    val steps = Seq((0.0, 1000.0), (60.0, 1060.0), (120.0, 1120.0), (130.0, 1100.0),
      (140.0, 1100.0), (1000.0, 1400.0), (1200.0, 1550.0), (100.0, 1660.0))
    val expected = Seq(
      (None, None),            // no previous sample
      (Some(1L), Some(1.0)),   // (60 - 0) / 60
      (Some(1L), Some(1.0)),
      (None, None),            // Δt < 0
      (None, None),            // Δt = 0
      (None, Some(0.2)),       // Δt > 3 × interval
      (Some(1L), Some(0.4)),   // state advanced on the skips
      (None, Some(0.55)))      // counter reset
    var prev: Option[(Double, Double)] = None
    val got = steps.map { case (v, ts) =>
      val r = RateRef.guard(prev, v, ts, 60)
      prev = Some((v, ts))
      r
    }
    assert(got == expected)
  }

  test("the expected Influx lines follow the consumer's format and allow-list") {
    val ref = new LinesRef(Set("dc1|r1|if|eth0|bits_in"))
    def s(v: Double, ts: Double) = WireInput("dc1|r1|if|eth0", "bits_in", v, ts, 60, None)
    assert(ref(s(0, 1000)).contains("bits_in,series=dc1|r1|if|eth0 bits_in__counter=0.0 1000"))
    assert(ref(s(600, 1060)).contains(
      "bits_in,series=dc1|r1|if|eth0 bits_in__counter=600.0,bits_in__gauge=10 1060"))
    assert(ref(WireInput("dc1|r1|if|eth0", "bits_out", 5, 1000, 60, None)).isEmpty) // not allowed
    assert(ref(s(0, 0).copy(raw = Some("{"))).isEmpty) // malformed on the wire
  }

  private def res(id: String, site: String, cls: String, ts: Double, meta: (String, String)*) =
    Resource(site, cls, "switch", "cisco", id, id, Some(s"${cls}_discovery_plugin"), Some(ts), meta.toMap)

  private val inventory = Seq(
    res("a", "dc1", "network", 1, "os_version" -> "15.1", "make" -> "Cisco"),
    res("b", "dc2", "network", 1, "os_version" -> "4.2", "make" -> "Arista"),
    res("c", "dc1", "server", 1, "make" -> "Dell"),
    res("d", "dc3", "storage", 1, "os_version" -> "4.9"))

  private def ids(q: DslQuery) = inventory.filter(DslRef.matches(_, q)).map(_.resource_id)

  test("plain DSL evaluation: operators, NULL metadata and AND-before-OR precedence") {
    val cls = DslCond("resource_class", "=", Seq("network"))
    val os4 = DslCond("resource_metadata.os_version", "LIKE", Seq("4%"))
    val notOs4 = DslCond("resource_metadata.os_version", "NOT LIKE", Seq("4%"))
    val site = DslCond("resource_site", "NOT IN", Seq("dc2"))
    val make = DslCond("resource_metadata.make", "ne", Seq("Cisco"))
    assert(ids(DslQuery(Seq(Seq(cls, os4)))) == Seq("b"))
    // a missing key is NULL: neither LIKE nor NOT LIKE holds for "c"
    assert(ids(DslQuery(Seq(Seq(notOs4)))) == Seq("a"))
    assert(ids(DslQuery(Seq(Seq(make)))) == Seq("b", "c"))
    // (network AND NOT IN dc2) OR os_version LIKE 4%
    assert(ids(DslQuery(Seq(Seq(cls, site), Seq(os4)))) == Seq("a", "b", "d"))
    assert(DslQuery(Seq(Seq(cls, site), Seq(os4))).render ==
      """resource_class = "network" AND resource_site NOT IN ("dc2") OR resource_metadata.os_version LIKE "4%"""")
  }

  test("plain DSL evaluation agrees with the engine's compiled predicate on the hand-built case") {
    import spark.implicits._
    val df = inventory.toDS()
    val qs = new InventoryGen(1)
    for (i <- 0 until 40) {
      val q = qs.query(i)
      val engine = df.filter(graft.dsl.ResourceFilter.parse(q.render)).as[Resource]
        .collect().map(_.resource_id).sorted.toSeq
      assert(engine == ids(q), q.render)
    }
  }

  test("reference reconcile rules on a before/after snapshot with both guards") {
    val stored = Seq(
      res("a", "dc1", "network", 100, "os_version" -> "1"),
      res("b", "dc1", "network", 100),
      res("c", "dc1", "network", 500), // fresher than the snapshot
      res("d", "dc1", "network", 100))
    val incoming = Seq(
      res("a", "dc1", "network", 200, "os_version" -> "2"), // update
      res("b", "dc1", "network", 50),                       // older than stored: skipped
      res("e", "dc1", "network", 200))                      // add
    val changes = ReconcileRef.changes(stored, incoming, setTs = 200)
    def k(id: String) = ReconcileRef.key(stored.find(_.resource_id == id).getOrElse(incoming.find(_.resource_id == id).get))
    assert(changes == Map(k("a") -> "update", k("d") -> "delete", k("e") -> "add"))
    val after = ReconcileRef.apply(stored, incoming, changes).sortBy(_.resource_id)
    assert(after.map(_.resource_id) == Seq("a", "b", "c", "e"))
    assert(after.head.resource_metadata == Map("os_version" -> "2"))
    assert(after(1).resource_creation_timestamp.contains(100.0)) // b kept as stored
  }

  test("canonical rows compare integers by value and floats exactly") {
    import org.apache.spark.sql.Row
    assert(Canon.rows(Seq("b", "a"), Seq(Row(1, 2.5))) == Canon.rows(Seq("a", "b"), Seq(Row(2.5, 1L))))
    assert(Canon.rows(Seq("a"), Seq(Row(0.1f))) != Canon.rows(Seq("a"), Seq(Row(0.1))))
    assert(Canon.rows(Seq("a"), Seq(Row(2), Row(1))) == Canon.rows(Seq("a"), Seq(Row(1L), Row(2L))))
  }
}
