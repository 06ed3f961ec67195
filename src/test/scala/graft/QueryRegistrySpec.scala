package graft

import org.scalatest.funsuite.AnyFunSuite

/** The named-query registry: every family module's entries together
  * (`SparkEntry.registry`), from which `SparkEntry.queries` and
  * `SparkEntry.oracleSql` are derived.
  */
class QueryRegistrySpec extends AnyFunSuite {

  test("236 named queries, each one entry with a builder and a non-empty oracle") {
    val registry = SparkEntry.registry
    // a name listed twice (in one module or two) would silently keep
    // only the later entry once the registry becomes a Map
    val repeated = registry.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    assert(repeated.isEmpty, s"names with more than one entry: ${repeated.toSeq.sorted.mkString(", ")}")
    assert(registry.size === 236)
    val noOracle = registry.filter(_.oracle.trim.isEmpty).map(_.name)
    assert(noOracle.isEmpty, s"entries without an oracle: ${noOracle.mkString(", ")}")
    assert(SparkEntry.queries.keySet === SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.keySet === registry.map(_.name).toSet)
  }
}
