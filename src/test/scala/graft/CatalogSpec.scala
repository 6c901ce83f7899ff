package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.Catalog

/** The query catalog's contract: one record per name, each with an
  * oracle, and `SparkEntry`'s two maps are views of exactly that set.
  * A Map keeps only the last of two equal keys, so uniqueness is checked
  * on the records, before any map is built from them. */
class CatalogSpec extends AnyFunSuite {

  test("query names are unique across the catalog") {
    val dups = Catalog.all.groupBy(_.name).collect {
      case (name, qs) if qs.size > 1 => s"$name x${qs.size}"
    }
    assert(dups.isEmpty, dups.toSeq.sorted.mkString(", "))
  }

  test("every query has a non-blank oracle") {
    val blank = Catalog.all.filter(_.oracle.trim.isEmpty).map(_.name)
    assert(blank.isEmpty, blank.mkString(", "))
  }

  test("queries and oracleSql hold the same 223 names") {
    val names = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql.keySet
    assert(names.diff(oracles).isEmpty && oracles.diff(names).isEmpty)
    assert(names.size == 223)
    assert(Catalog.all.size == 223)
  }
}
