package graft

import org.scalatest.funsuite.AnyFunSuite

/** The gate contract: every query has exactly one oracle row and every
  * oracle row a query, so a retired query cannot leave an orphan row that
  * tools/check_oracle.py reports as MISSING-OUTPUT.
  */
class SparkEntrySpec extends AnyFunSuite {
  test("queries and oracleSql have the same key set") {
    val (q, o) = (SparkEntry.queries.keySet, SparkEntry.oracleSql.keySet)
    assert(q == o, s"queries only: ${q -- o}; oracle rows only: ${o -- q}")
  }
}
