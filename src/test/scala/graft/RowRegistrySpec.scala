package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Row

class RowRegistrySpec extends AnyFunSuite {
  private def row(name: String) = Row(name, (s, _) => s.emptyDataFrame,
    "SELECT 1")

  test("a duplicate row name fails registry construction, naming the row") {
    val e = intercept[IllegalArgumentException](Row.registry(
      Seq(row("only_once"), row("twice_defined")), Seq(row("twice_defined"))))
    assert(e.getMessage.contains("twice_defined"), e.getMessage)
    assert(!e.getMessage.contains("only_once"), e.getMessage)
  }

  test("the registry holds all 298 rows, each with a non-empty oracle") {
    val rows = SparkEntry.rows
    assert(rows.size == 298)
    assert(rows.map(_.name).distinct.size == 298)
    assert(rows.filter(_.oracle.trim.isEmpty).map(_.name).isEmpty)
  }
}
