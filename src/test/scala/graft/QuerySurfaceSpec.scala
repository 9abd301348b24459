package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the declared query surface without a Spark session: removing an
  * operator variant must keep its query name (as an alias of the kept
  * implementation), so the surface cannot shrink silently.
  */
class QuerySurfaceSpec extends AnyFunSuite {
  test("query surface: 128 declared names, every oracle key is a declared query") {
    val declared = SparkEntry.queries.keySet
    assert(declared.size == 128, s"${declared.size} declared queries")
    val undeclared = SparkEntry.oracleSql.keySet -- declared
    assert(undeclared.isEmpty, s"oracles without a query: $undeclared")
    assert(Set("dedup_clusters", "dedup_clusters_ls", "dedup_keepers",
      "semantic_dedup_keepers", "conv_dedup_near_keepers").subsetOf(declared))
  }
}
