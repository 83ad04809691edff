package perfbench

import graft.core.Resource

/** Independent references the benchmark checks the engine against. None
  * of them calls engine code: each restates the reference behaviour
  * directly, sequentially, on the same generated inputs. */
object RateRef {
  val TtlMultiple = 3

  /** (rate, confidence) of a counter sample against the previous one of
    * its series: `polling/polling_plugin_agent.py:178-242`. */
  def guard(prev: Option[(Double, Double)], value: Double, ts: Double,
            interval: Long): (Option[Long], Option[Double]) = prev match {
    case None => (None, None)
    case Some((pv, pt)) =>
      val dt = ts - pt
      if (dt <= 0) (None, None)
      else {
        val conf = Some(math.round(interval / dt * 100.0) / 100.0)
        if (dt > interval * TtlMultiple || value < pv) (None, conf)
        else (Some(((value - pv) / dt).toLong), conf)
      }
  }
}

/** The Influx lines the polling pipeline must deliver for a sample stream,
  * computed one sample at a time in arrival order. */
final class LinesRef(allowed: Set[String]) {
  private val prev = scala.collection.mutable.Map.empty[(String, String), (Double, Double)]

  /** The line for `s`, if the consumer keeps it. Sample values are
    * integral below 1e15, so Python's repr of the counter is `<int>.0`. */
  def apply(s: WireInput): Option[String] =
    if (s.raw.isDefined) None
    else {
      val key = (s.series, s.metric)
      val (rate, _) = RateRef.guard(prev.get(key), s.value, s.ts, s.interval)
      prev(key) = (s.value, s.ts) // the previous sample always advances
      if (!allowed(s"${s.series}|${s.metric}")) None
      else Some(s"${s.metric},series=${s.series} ${s.metric}__counter=${s.value.toLong}.0" +
        rate.fold("")(r => s",${s.metric}__gauge=$r") + s" ${s.ts.toLong}")
    }
}

/** Plain evaluation of a resource-filter query, with SQL three-valued
  * logic: a missing metadata key is NULL and no comparison with NULL is
  * true. AND binds tighter than OR; LIKE is case-sensitive. */
object DslRef {
  private def field(r: Resource, f: String): Option[String] = f match {
    case "resource_site"     => Some(r.resource_site)
    case "resource_class"    => Some(r.resource_class)
    case "resource_subclass" => Some(r.resource_subclass)
    case "resource_type"     => Some(r.resource_type)
    case "resource_id"       => Some(r.resource_id)
    case "resource_endpoint" => Some(r.resource_endpoint)
    case m if m.startsWith("resource_metadata.") =>
      r.resource_metadata.get(m.stripPrefix("resource_metadata."))
  }

  def like(v: String, pattern: String): Boolean =
    v.matches(pattern.map {
      case '%' => ".*"
      case '_' => "."
      case c   => java.util.regex.Pattern.quote(c.toString)
    }.mkString)

  def cond(r: Resource, c: DslCond): Option[Boolean] = field(r, c.field).map { v =>
    c.op match {
      case "=" | "eq"  => v == c.values.head
      case "!=" | "ne" => v != c.values.head
      case "LIKE"      => like(v, c.values.head)
      case "NOT LIKE"  => !like(v, c.values.head)
      case "IN"        => c.values.contains(v)
      case "NOT IN"    => !c.values.contains(v)
    }
  }

  private def and(a: Option[Boolean], b: Option[Boolean]) = (a, b) match {
    case (Some(false), _) | (_, Some(false)) => Some(false)
    case (Some(true), Some(true))            => Some(true)
    case _                                   => None
  }
  private def or(a: Option[Boolean], b: Option[Boolean]) = (a, b) match {
    case (Some(true), _) | (_, Some(true)) => Some(true)
    case (Some(false), Some(false))        => Some(false)
    case _                                 => None
  }

  def matches(r: Resource, q: DslQuery): Boolean =
    q.orOfAnds.map(_.map(cond(r, _)).reduce(and)).reduce(or).contains(true)
}

/** The reference reconcile rules, `resources/manager.py:46-142`: within
  * one discovery scope, stored-only rows are deleted unless newer than the
  * incoming set; incoming-only rows are added; rows in both are updated
  * unless the stored row is newer than the incoming row. */
object ReconcileRef {
  type Key = (String, String, String, String, String)

  def key(r: Resource): Key =
    (r.resource_site, r.resource_class, r.resource_subclass, r.resource_type, r.resource_id)

  def changes(stored: Seq[Resource], incoming: Seq[Resource], setTs: Double): Map[Key, String] = {
    val st = stored.map(r => key(r) -> r).toMap
    val inc = incoming.groupBy(key).map { case (k, rs) => k -> rs.flatMap(_.resource_creation_timestamp).max }
    val ts = (r: Resource) => r.resource_creation_timestamp.getOrElse(Double.NaN)
    val deletes = (st.keySet -- inc.keySet).filter(k => ts(st(k)) <= setTs).map(_ -> "delete")
    val adds = (inc.keySet -- st.keySet).map(_ -> "add")
    val updates = (st.keySet & inc.keySet).filter(k => ts(st(k)) <= inc(k)).map(_ -> "update")
    (deletes ++ adds ++ updates).toMap
  }

  /** The inventory after applying `changes`: deleted keys go, added and
    * updated keys take the incoming row, everything else stays. */
  def apply(inventory: Seq[Resource], incoming: Seq[Resource],
            changes: Map[Key, String]): Seq[Resource] = {
    val inc = incoming.map(r => key(r) -> r).toMap
    inventory.filterNot(r => changes.contains(key(r))) ++
      changes.collect { case (k, "add" | "update") => inc(k) }
  }
}

/** Canonical form of a result for comparing the engine with DuckDB: columns
  * in name order, integers as longs, floats as doubles compared exactly,
  * everything else as text; rows sorted. */
object Canon {
  import org.apache.spark.sql.Row

  def value(v: Any): String = v match {
    case null                    => "null"
    case b: java.lang.Byte       => b.longValue.toString
    case s: java.lang.Short      => s.longValue.toString
    case i: java.lang.Integer    => i.longValue.toString
    case l: java.lang.Long       => l.toString
    case f: java.lang.Float      => f.doubleValue.toString
    case d: java.lang.Double     => d.toString
    case d: java.math.BigDecimal => d.toPlainString
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case other                   => other.toString
  }

  def rows(columns: Seq[String], rs: Seq[Row]): Seq[String] = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    rs.map(r => order.map(i => value(r.get(i))).mkString("\u0001")).sorted
  }
}
