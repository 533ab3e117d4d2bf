package graft

import org.scalatest.funsuite.AnyFunSuite

/** The query registry and its oracle twin are merged from three
  * per-family maps; a key defined in two families must fail loudly
  * instead of one entry silently shadowing the other. */
class RegistrySpec extends AnyFunSuite {

  test("disjointUnion rejects a key defined twice") {
    val merged = SparkEntry.disjointUnion(Map("a" -> 1), Map("b" -> 2), Map("c" -> 3))
    assert(merged == Map("a" -> 1, "b" -> 2, "c" -> 3))
    val e = intercept[IllegalArgumentException](
      SparkEntry.disjointUnion(Map("a" -> 1, "b" -> 2), Map("c" -> 3), Map("b" -> 4)))
    assert(e.getMessage.endsWith("twice: b"))
  }
}
