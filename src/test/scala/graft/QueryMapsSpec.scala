package graft

import org.scalatest.funsuite.AnyFunSuite

class QueryMapsSpec extends AnyFunSuite {

  test("a query name defined in two maps fails instead of the later map winning") {
    val err = intercept[IllegalArgumentException](
      SparkEntry.disjointUnion(Seq(Map("q_a" -> 1, "q_b" -> 2), Map("q_b" -> 3, "q_c" -> 4))))
    assert(err.getMessage.contains("q_b"))
    assert(SparkEntry.disjointUnion(Seq(Map("q_a" -> 1), Map("q_b" -> 2))) ==
      Map("q_a" -> 1, "q_b" -> 2))
  }
}
