package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The seeded generators: reproducible per seed, different across seeds,
  * and with the anomaly shares they declare. */
class GenSpec extends AnyFunSuite {

  private def samples(seed: Long, nSeries: Int, n: Int) = {
    val g = new PollingGen(seed, nSeries)
    (0 until n).map(_ => g.next())
  }

  private def near(share: Double, want: Double, tol: Double): Boolean =
    math.abs(share - want) <= tol

  test("polling samples: the same seed gives the same inputs, another seed others") {
    assert(samples(7, 100, 5000) == samples(7, 100, 5000))
    assert(samples(7, 100, 5000) != samples(8, 100, 5000))
    assert(new PollingGen(7, 100).allowedKeys == new PollingGen(7, 100).allowedKeys)
  }

  test("polling samples: anomaly shares land within tolerance") {
    val n = 200000
    val all = samples(3, 500, n)
    val later = all.filter(_._2 != Anomaly.First)
    def share(a: Anomaly.Value) = later.count(_._2 == a).toDouble / later.size
    assert(near(share(Anomaly.ZeroDt), PollingGen.ZeroDtShare, 0.002))
    assert(near(share(Anomaly.StaleGap), PollingGen.StaleShare, 0.002))
    assert(near(share(Anomaly.CounterReset), PollingGen.ResetShare, 0.002))
    assert(near(all.count(_._3.isDefined).toDouble / n, PollingGen.MalformedShare, 0.002))
    val g = new PollingGen(3, 20000)
    assert(near(g.disallowed.count(identity).toDouble / g.nSeries, PollingGen.DisallowedShare, 0.006))
  }

  test("polling samples: each anomaly is what it declares, in per-series order") {
    val prev = scala.collection.mutable.Map.empty[(String, String), WireInput]
    for ((s, a, raw) <- samples(5, 200, 50000)) {
      val key = (s.series, s.metric)
      val p = prev.get(key)
      a match {
        case Anomaly.First => assert(p.isEmpty)
        case Anomaly.ZeroDt => assert(p.exists(x => x.ts == s.ts && x.value == s.value))
        case Anomaly.StaleGap => assert(p.exists(x => s.ts - x.ts > 3 * s.interval))
        case Anomaly.CounterReset => assert(p.exists(x => s.value < x.value && s.ts - x.ts == s.interval))
        case Anomaly.Normal => assert(p.exists(x => s.value >= x.value && s.ts - x.ts == s.interval))
      }
      // timestamps never go back within a series, so where micro-batch
      // boundaries fall cannot change the expected output
      assert(p.forall(_.ts <= s.ts))
      raw.foreach(r => assert(r.raw.exists(j => scala.util.Try(json.readTree(j)).isFailure)))
      prev(key) = s
    }
  }

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()

  test("inventory: the same seed gives the same inventory, snapshots and queries") {
    val a = new InventoryGen(11)
    val b = new InventoryGen(11)
    val c = new InventoryGen(12)
    assert(a.initial(500) == b.initial(500))
    assert(a.initial(500) != c.initial(500))
    val inv = a.initial(2000)
    var i1 = 2000L
    var i2 = 2000L
    assert(a.snapshot(3, inv, 1.8e9, () => { i1 += 1; i1 }) ==
      b.snapshot(3, inv, 1.8e9, () => { i2 += 1; i2 }))
    assert((0 until 50).map(a.query(_)) == (0 until 50).map(b.query(_)))
    assert((0 until 50).map(a.query(_)) != (0 until 50).map(c.query(_)))
  }

  test("inventory: snapshots delete, update, add and carry stale rows in the declared shares") {
    val g = new InventoryGen(4)
    val inv = g.initial(15000)
    assert(inv.forall(_.resource_metadata.contains("os_version")))
    assert(near(inv.count(_.resource_creation_timestamp.contains(InventoryGen.FreshTs)).toDouble / inv.size,
      InventoryGen.FreshShare, 0.006))
    var deleted, updated, stale, added, scoped = 0
    var next = 15000L
    for (w <- 0 until g.scopes.size) {
      val (site, plugin) = g.scopes(w)
      val stored = inv.filter(r => r.resource_site == site && r.resource_plugin.contains(plugin))
        .map(r => ReconcileRef.key(r) -> r).toMap
      val snap = g.snapshot(w, inv, 1.8e9, () => { next += 1; next })
      val inc = snap.map(r => ReconcileRef.key(r) -> r).toMap
      scoped += stored.size
      deleted += (stored.keySet -- inc.keySet).size
      added += (inc.keySet -- stored.keySet).size
      updated += stored.count { case (k, r) => inc.get(k).exists(_.resource_metadata != r.resource_metadata) }
      stale += stored.count { case (k, r) =>
        inc.get(k).exists(_.resource_creation_timestamp.get < r.resource_creation_timestamp.get)
      }
    }
    assert(near(deleted.toDouble / scoped, InventoryGen.DeleteShare, 0.01))
    assert(near(added.toDouble / scoped, InventoryGen.AddShare, 0.01))
    assert(near(updated.toDouble / scoped, InventoryGen.UpdateShare, 0.012))
    // stale: drawn as such, or stored with a creation time after the snapshot
    assert(near(stale.toDouble / scoped,
      (InventoryGen.StaleShare + InventoryGen.FreshShare) * (1 - InventoryGen.DeleteShare), 0.008))
  }

  test("corpus: the same seed gives the same documents and embeddings, another seed others") {
    val a = new CorpusGen(21)
    assert(a.documents(300) == new CorpusGen(21).documents(300))
    assert(a.documents(300)._1 != new CorpusGen(22).documents(300)._1)
    assert(a.embeddings(100) == new CorpusGen(21).embeddings(100))
    assert(a.embeddings(100) != new CorpusGen(22).embeddings(100))
    assert(a.embeddings(100).forall(_.embedding.size == CorpusGen.Dim))
  }

  test("corpus: exact, near-duplicate and contamination shares land within tolerance") {
    val n = 6000
    val (docs, kinds) = new CorpusGen(9).documents(n)
    def share(k: String) = kinds.count(_._1 == k).toDouble / n
    def norm(t: String) = t.trim.toLowerCase.split("\\s+").mkString(" ")
    assert(near(share("exact"), CorpusGen.ExactShare, 0.01))
    assert(near(share("near"), CorpusGen.NearShare, 0.012))
    // only training documents (doc_id % 17 != 0) are contaminated
    assert(near(share("contaminated"), CorpusGen.ContaminatedShare * 16 / 17, 0.008))
    for (((kind, from), d) <- kinds.zipWithIndex) kind match {
      case "exact" =>
        assert(from < d && norm(docs(d).text) == norm(docs(from).text))
      case "near" =>
        val (x, y) = (norm(docs(d).text).split(" "), norm(docs(from).text).split(" "))
        assert(from < d && x.length == y.length)
        assert(x.zip(y).count { case (p, q) => p != q } <= x.length / 5)
      case "contaminated" =>
        assert(from % 17 == 0 && d % 17 != 0)
        val ev = norm(docs(from).text).split(" ")
        assert(ev.sliding(CorpusGen.SpanWords).exists(span => norm(docs(d).text).contains(span.mkString(" "))))
      case _ => assert(from == -1)
    }
  }
}
