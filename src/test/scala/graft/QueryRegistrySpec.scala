package graft

import org.scalatest.funsuite.AnyFunSuite

/** The query registry, checked without Spark. A `Seq` keeps a
  * duplicated name where a `Map` would silently drop one of the twins. */
class QueryRegistrySpec extends AnyFunSuite {

  test("query names are unique") {
    val dups = SparkEntry.queries.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    assert(dups.isEmpty, s"duplicate query names: ${dups.mkString(", ")}")
  }

  test("every query carries its oracle SQL") {
    val missing = SparkEntry.queries.filter(_.oracleSql.trim.isEmpty).map(_.name)
    assert(missing.isEmpty, s"queries without oracle SQL: ${missing.mkString(", ")}")
  }
}
