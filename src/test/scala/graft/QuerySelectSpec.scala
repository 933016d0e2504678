package graft

import org.scalatest.funsuite.AnyFunSuite

/** `SparkEntry.select`, the query-name prefix filter of Verify and Bench:
  * a prefix that matches nothing must fail the run, not shrink it. Pure,
  * no Spark session. */
class QuerySelectSpec extends AnyFunSuite {

  test("an unknown prefix throws and names every unmatched prefix") {
    val e = intercept[IllegalArgumentException](
      SparkEntry.select(Seq("q01", "x07_dedup_representatives", "zz")))
    assert(e.getMessage.contains("x07_dedup_representatives"))
    assert(e.getMessage.contains("zz"))
    assert(!e.getMessage.contains("q01"))
  }

  test("no prefixes selects every query, sorted by name") {
    val names = SparkEntry.select(Nil).map(_._1)
    assert(names.size == 298)
    assert(names == SparkEntry.queries.keys.toSeq.sorted)
  }

  test("a prefix selects exactly the names starting with it") {
    val names = SparkEntry.select(Seq("q0")).map(_._1)
    assert(names.nonEmpty && names.forall(_.startsWith("q0")))
    assert(names == SparkEntry.queries.keys.toSeq.filter(_.startsWith("q0"))
      .sorted)
  }
}
