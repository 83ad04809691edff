package perfbench

import graft.core.Resource

/** Seeded input generators. Every draw is a pure function of
  * (seed, stream, index), so the same seed gives the same inputs however
  * the benchmark slices them into micro-batches, appends or operations.
  */
object Rng {
  private def mix(z0: Long): Long = { // SplitMix64 finaliser
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  def long(seed: Long, stream: Long, i: Long): Long =
    mix(mix(mix(seed) + stream * 0x9e3779b97f4a7c15L) + i)
  /** Uniform in [0, 1). */
  def u(seed: Long, stream: Long, i: Long): Double =
    (long(seed, stream, i) >>> 11) * (1.0 / (1L << 53))
  def int(seed: Long, stream: Long, i: Long, n: Int): Int =
    (u(seed, stream, i) * n).toInt
  def gauss(seed: Long, stream: Long, i: Long): Double = {
    val u1 = math.max(u(seed, stream, 2 * i), 1e-12)
    val u2 = u(seed, stream, 2 * i + 1)
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }
}

/** One record on the benchmark's input stream: a metric sample, or (when
  * `raw` is set) a record that arrives on the wire topic already encoded. */
final case class WireInput(series: String, metric: String, value: Double,
                           ts: Double, interval: Long, raw: Option[String])

/** What the generator did to one sample: the declared anomalies. */
object Anomaly extends Enumeration {
  val First, Normal, ZeroDt, StaleGap, CounterReset = Value
}

/** Polling samples for `nSeries` interface series × 2 counters, emitted
  * round-robin, so each series' samples arrive in order whatever the
  * micro-batch boundaries. Every anomaly is one whose expected output does
  * not depend on those boundaries: counter resets, stale gaps (Δt > 3 ×
  * interval), zero Δt (an exact repeat of the previous sample), malformed
  * JSON on the wire, and keys outside the consumer's allow-list. Negative Δt is left out: the engine orders a
  * micro-batch by timestamp, so its output would depend on the boundaries.
  */
final class PollingGen(seed: Long, val nSeries: Int) {
  import PollingGen._

  val metrics: Seq[String] = Seq("bits_in", "bits_out")
  val nKeys: Int = nSeries * metrics.size

  val series: IndexedSeq[String] = (0 until nSeries).map { j =>
    s"dc${1 + j % 4}|host$j|interface|eth${j % 8}"
  }
  val interval: IndexedSeq[Long] =
    (0 until nSeries).map(j => Intervals(Rng.int(seed, 1, j, Intervals.size)))
  /** Series whose keys the consumer's allow-list leaves out. */
  val disallowed: IndexedSeq[Boolean] =
    (0 until nSeries).map(j => Rng.u(seed, 2, j) < DisallowedShare)

  def allowedKeys: Seq[String] = for {
    j <- 0 until nSeries if !disallowed(j)
    m <- metrics
  } yield s"${series(j)}|$m"

  private val lastValue = Array.fill(nKeys)(Double.NaN)
  private val lastTs = Array.fill(nKeys)(Double.NaN)
  private var i = 0L

  def emitted: Long = i

  /** The next sample, its anomaly, and an optional malformed wire record
    * that rides along with it. */
  def next(): (WireInput, Anomaly.Value, Option[WireInput]) = {
    val k = (i % nKeys).toInt
    val j = k / metrics.size
    val iv = interval(j)
    val u = Rng.u(seed, 4, i)
    val inc = math.floor(Rng.u(seed, 5, i) * 1e6)
    val (v, ts, a) =
      if (lastValue(k).isNaN)
        (1e6 + math.floor(Rng.u(seed, 6, k) * 1e9), Base + Rng.int(seed, 7, k, 60), Anomaly.First)
      else if (u < ZeroDtShare) (lastValue(k), lastTs(k), Anomaly.ZeroDt)
      else if (u < ZeroDtShare + StaleShare)
        (lastValue(k) + inc, lastTs(k) + iv * (4 + Rng.int(seed, 8, i, 3)), Anomaly.StaleGap)
      else if (u < ZeroDtShare + StaleShare + ResetShare)
        (math.floor(lastValue(k) * Rng.u(seed, 9, i) * 0.5), lastTs(k) + iv, Anomaly.CounterReset)
      else (lastValue(k) + inc, lastTs(k) + iv, Anomaly.Normal)
    require(v < 1e15 && v == math.floor(v), "sample values stay integral below 1e15")
    lastValue(k) = v
    lastTs(k) = ts
    val sample = WireInput(series(j), metrics(k % metrics.size), v, ts, iv, None)
    val raw =
      if (Rng.u(seed, 10, i) < MalformedShare) Some(WireInput(series(j), sample.metric,
        0.0, 0.0, 0L, Some(s"""{"series": "${series(j)}", "metric": "${sample.metric}", "value": """)))
      else None
    i += 1
    (sample, a, raw)
  }
}

object PollingGen {
  val Intervals: IndexedSeq[Long] = IndexedSeq(30L, 60L, 300L)
  val Base = 1.7e9
  val ZeroDtShare = 0.02
  val StaleShare = 0.02
  val ResetShare = 0.02
  val MalformedShare = 0.01
  val DisallowedShare = 0.05
}

/** A discovered resource inventory in the reference's shape, including its
  * `resource_metadata` map, plus the discovery snapshots and resource-filter
  * queries that run over it. */
final class InventoryGen(seed: Long) {
  import InventoryGen._

  private def pick[T](xs: IndexedSeq[T], stream: Long, i: Long): T =
    xs(Rng.int(seed, stream, i, xs.size))

  def resource(n: Long, ts: Double, site: String,
               kind: (String, String, String)): Resource = {
    val (cls, sub, typ) = kind
    val make = Makes(typ)
    val meta = Map(
      "_resource_ttl" -> "604800",
      "make" -> make,
      "model" -> s"${make.take(2).toUpperCase}-${100 + Rng.int(seed, 22, n, 5) * 100}",
      "os_name" -> s"$make OS",
      "os_version" -> s"${1 + Rng.int(seed, 23, n, 9)}.${Rng.int(seed, 24, n, 5)}.${Rng.int(seed, 25, n, 10)}",
      "role" -> pick(Roles, 26, n)) ++
      (if (Rng.u(seed, 27, n) < 0.5) Map("rack" -> s"r${Rng.int(seed, 28, n, 40)}") else Map.empty)
    val id = s"$typ$n.$site.example.com"
    Resource(site, cls, sub, typ, id, id, Some(s"${cls}_discovery_plugin"), Some(ts), meta)
  }

  /** The initial inventory: a small share carries a creation time newer
    * than any discovery, so the reconcile guards have rows to protect. */
  def initial(n: Int): Seq[Resource] = (0 until n).map { i =>
    val ts = if (Rng.u(seed, 29, i) < FreshShare) FreshTs else Base + Rng.int(seed, 30, i, 1000000)
    resource(i.toLong, ts, pick(Sites, 21, i), pick(Kinds, 20, i))
  }

  /** Discovery scopes: one plugin at one site. */
  val scopes: IndexedSeq[(String, String)] =
    for (s <- Sites; c <- Kinds.map(_._1).distinct) yield (s, s"${c}_discovery_plugin")

  /** The `w`-th discovery snapshot of `scope`, taken at `setTs`: stored
    * resources disappear, change metadata, or stay; new ones appear; a few
    * carry a per-resource time older than the stored row. */
  def snapshot(w: Int, stored: Seq[Resource], setTs: Double,
               nextId: () => Long): Seq[Resource] = {
    val (site, plugin) = scopes(w % scopes.size)
    val inScope = stored.filter(r => r.resource_site == site && r.resource_plugin.contains(plugin))
      .sortBy(_.resource_id)
    val kept = inScope.zipWithIndex.flatMap { case (r, i) =>
      val u = Rng.u(seed, 1000 + w.toLong * 8, i)
      if (u < DeleteShare) None
      else {
        val ts = if (Rng.u(seed, 1001 + w.toLong * 8, i) < StaleShare)
          r.resource_creation_timestamp.getOrElse(setTs) - 1.0 else setTs
        val meta = if (u < DeleteShare + UpdateShare)
          r.resource_metadata.updated("os_version", s"${1 + Rng.int(seed, 1002 + w.toLong * 8, i, 9)}.9.${w % 10}")
        else r.resource_metadata
        Some(r.copy(resource_creation_timestamp = Some(ts), resource_metadata = meta))
      }
    }
    val kinds = Kinds.filter(_._1 == plugin.stripSuffix("_discovery_plugin"))
    val added = (0 until math.max(1, (inScope.size * AddShare).round.toInt)).map { _ =>
      val n = nextId()
      resource(n, setTs, site, kinds(Rng.int(seed, 43, n, kinds.size)))
    }
    kept ++ added
  }

  /** A resource-filter query over values the inventory holds: one or two
    * OR-ed chains, each led by a positive condition that keeps about a
    * tenth of the inventory, so result sizes, and with them read costs,
    * stay within a narrow band whatever the seed. */
  def query(q: Long): DslQuery = {
    val nOr = if (Rng.u(seed, 50, q) < 0.3) 2 else 1
    DslQuery((0 until nOr).map { o =>
      val c = q * 16 + o * 4
      anchor(c) +: (1 to Rng.int(seed, 51, c, 3)).map(a => cond(c + a))
    })
  }

  private def anchor(c: Long): DslCond = Rng.int(seed, 56, c, 4) match {
    case 0 => DslCond("resource_site", "=", Seq(pick(Sites, 57, c)))
    case 1 => DslCond("resource_type", "IN", Seq(pick(Kinds, 57, c)._3))
    case 2 => DslCond("resource_metadata.os_version", "LIKE", Seq(s"${1 + Rng.int(seed, 57, c, 9)}%"))
    case _ => DslCond("resource_metadata.role", "eq", Seq(pick(Roles, 57, c)))
  }

  private def cond(c: Long): DslCond = {
    val neg = Rng.u(seed, 52, c) < 0.25
    Rng.int(seed, 53, c, 8) match {
      case 0 => DslCond("resource_site", if (neg) "!=" else "=", Seq(pick(Sites, 54, c)))
      case 1 => DslCond("resource_class", if (neg) "ne" else "eq", Seq(pick(Kinds, 54, c)._1))
      case 2 => DslCond("resource_subclass", "=", Seq(pick(Kinds, 54, c)._2))
      case 3 => DslCond("resource_type", if (neg) "NOT IN" else "IN",
        Seq(pick(Kinds, 54, c)._3, pick(Kinds, 55, c)._3).distinct)
      case 4 => DslCond("resource_metadata.os_version", if (neg) "NOT LIKE" else "LIKE",
        Seq(s"${1 + Rng.int(seed, 54, c, 9)}%"))
      case 5 => DslCond("resource_metadata.make", if (neg) "!=" else "=", Seq(pick(Makes.values.toIndexedSeq.sorted, 54, c)))
      case 6 => DslCond("resource_metadata.role", if (neg) "NOT IN" else "IN",
        Seq(pick(Roles, 54, c), pick(Roles, 55, c)).distinct)
      case _ => DslCond("resource_metadata.rack", "LIKE", Seq(s"r${Rng.int(seed, 54, c, 4)}%"))
    }
  }
}

object InventoryGen {
  val Sites: IndexedSeq[String] = (1 to 6).map(i => s"dc$i")
  val Kinds: IndexedSeq[(String, String, String)] = IndexedSeq(
    ("network", "switch", "cisco"), ("network", "switch", "juniper"),
    ("network", "switch", "arista"), ("network", "router", "cisco"),
    ("network", "router", "juniper"), ("network", "load-balancer", "a10"),
    ("network", "load-balancer", "f5"), ("server", "linux", "dell"),
    ("server", "linux", "hp"), ("server", "windows", "dell"),
    ("storage", "array", "netapp"), ("storage", "array", "emc"))
  val Makes: Map[String, String] = Map("cisco" -> "Cisco", "juniper" -> "Juniper",
    "arista" -> "Arista", "a10" -> "A10", "f5" -> "F5", "dell" -> "Dell",
    "hp" -> "HP", "netapp" -> "NetApp", "emc" -> "EMC")
  val Roles: IndexedSeq[String] = IndexedSeq("core", "edge", "access", "db", "web")
  val Base = 1.7e9
  val FreshTs = 2.0e9
  val FreshShare = 0.02
  val DeleteShare = 0.05
  val UpdateShare = 0.15
  val StaleShare = 0.02
  val AddShare = 0.05
}

/** One resource-filter DSL condition: `field op value(s)`. */
final case class DslCond(field: String, op: String, values: Seq[String]) {
  private def q(v: String) = "\"" + v.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  def render: String = op match {
    case "IN" | "NOT IN" => s"$field $op (${values.map(q).mkString(", ")})"
    case _               => s"$field $op ${q(values.head)}"
  }
}

/** A DSL query: OR of AND-chains (the DSL has no parentheses). */
final case class DslQuery(orOfAnds: Seq[Seq[DslCond]]) {
  def render: String = orOfAnds.map(_.map(_.render).mkString(" AND ")).mkString(" OR ")
}

/** The curation corpus and embeddings in the fixture schema, with declared
  * shares of exact duplicates (half of them differing only in case and
  * whitespace), near duplicates, and training documents contaminated by a
  * span of an evaluation document (`doc_id % 17 == 0`). */
final class CorpusGen(seed: Long) {
  import CorpusGen._

  private def words(stream: Long, d: Long, n: Int): IndexedSeq[String] =
    (0 until n).map(w => Vocab(Rng.int(seed, stream, d * 1024 + w, Vocab.size)))

  /** (doc_id, text, lang, source, n_chars), and for each doc the anomaly
    * it got with the doc it copied from (-1 for none). */
  def documents(n: Int): (IndexedSeq[Doc], IndexedSeq[(String, Int)]) = {
    val texts = new Array[String](n)
    val kinds = new Array[(String, Int)](n)
    for (d <- 0 until n) {
      val u = Rng.u(seed, 60, d)
      val src = if (d > 0) Rng.int(seed, 61, d, d) else 0
      val (t, kind, from) =
        if (d > 0 && u < ExactShare) {
          val base = texts(src)
          (if (Rng.u(seed, 62, d) < 0.5) base else "  " + base.toUpperCase.replace(" ", "   ") + " ", "exact", src)
        } else if (d > 0 && u < ExactShare + NearShare) {
          val ws = texts(src).trim.split("\\s+").map(_.toLowerCase)
          (ws.indices.map(w => if (Rng.u(seed, 63, d * 1024 + w) < 0.05)
            Vocab(Rng.int(seed, 64, d * 1024 + w, Vocab.size)) else ws(w)).mkString(" "), "near", src)
        } else if (d % 17 != 0 && d >= 17 && u < ExactShare + NearShare + ContaminatedShare) {
          val evalDoc = 17 * Rng.int(seed, 65, d, d / 17)
          val ev = texts(evalDoc).trim.split("\\s+").map(_.toLowerCase)
          val at = Rng.int(seed, 66, d, math.max(1, ev.length - SpanWords))
          val span = ev.slice(at, at + SpanWords)
          val own = words(67, d, 30 + Rng.int(seed, 68, d, 60))
          ((own.take(own.size / 2) ++ span ++ own.drop(own.size / 2)).mkString(" "), "contaminated", evalDoc)
        } else (words(69, d, 30 + Rng.int(seed, 70, d, 80)).mkString(" "), "original", -1)
      texts(d) = t
      kinds(d) = (kind, from)
    }
    val docs = (0 until n).map { d =>
      Doc(d.toLong, texts(d), Langs(Rng.int(seed, 71, d, Langs.size)), s"src${d % 5}",
        texts(d).length.toLong)
    }
    (docs, kinds.toIndexedSeq)
  }

  /** (vec_id, 64-dim float embedding, label) around `Clusters` centres. */
  def embeddings(n: Int): IndexedSeq[Vec] = {
    val centres = (0 until Clusters).map(c => (0 until Dim).map(x => 0.3 * Rng.gauss(seed, 80, c * Dim + x)))
    (0 until n).map { v =>
      val c = Rng.int(seed, 81, v, Clusters)
      Vec(v.toLong, (0 until Dim).map(x => (centres(c)(x) + 0.1 * Rng.gauss(seed, 82, v.toLong * Dim + x)).toFloat), c)
    }
  }
}

object CorpusGen {
  val Vocab: IndexedSeq[String] = IndexedSeq("join", "hash", "row", "batch", "scan",
    "column", "customer", "filter", "small", "slow", "merge", "order", "vector",
    "line", "table", "data", "agg", "value", "key", "stream", "window", "a",
    "spark", "part", "group", "big", "sort", "query", "fast", "the", "and", "of")
  val Langs: IndexedSeq[String] = IndexedSeq("en", "en", "en", "de", "fr", "es", "zh")
  val Dim = 64
  val Clusters = 8
  val SpanWords = 12
  val ExactShare = 0.05
  val NearShare = 0.10
  val ContaminatedShare = 0.04
}

final case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)
final case class Vec(vec_id: Long, embedding: Seq[Float], label: Int)
