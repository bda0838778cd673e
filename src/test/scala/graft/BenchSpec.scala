package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's JSON error field, which must fit the compact line's
  * budget however many queries fail. */
class BenchSpec extends AnyFunSuite {

  test("errors field: empty when nothing failed, capped names plus a total otherwise") {
    assert(Bench.errorsField(Nil, 3) == "")
    assert(Bench.errorsField(Seq("q_a", "q_b"), 3) == "\"errors\":[\"q_a\",\"q_b\"],")
    val many = (1 to 165).map(i => s"q_some_long_query_name_$i")
    val capped = Bench.errorsField(many, 3)
    assert(capped ==
      "\"errors\":[\"q_some_long_query_name_1\",\"q_some_long_query_name_2\"," +
        "\"q_some_long_query_name_3\"],\"errors_total\":165,")
    // the full line keeps every name
    assert(Bench.errorsField(many, many.size).contains("q_some_long_query_name_165"))
  }
}
