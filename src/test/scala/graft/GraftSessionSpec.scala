package graft

import org.scalatest.funsuite.AnyFunSuite

/** SPARK_GRAFT_ONLY selection, shared by Verify and Bench. Pure: it
  * reads only the registry, so no session is built here. */
class GraftSessionSpec extends AnyFunSuite {

  test("unset, empty and blank-segment SPARK_GRAFT_ONLY select every query") {
    val all = SparkEntry.queries.keySet
    for (only <- Seq(None, Some(""), Some(" , ")))
      assert(GraftSession.selectedQueries(only).keySet == all, s"only=$only")
  }

  test("a name list selects exactly those queries") {
    assert(GraftSession.selectedQueries(Some("q1_pricing, word_count")).keySet ==
      Set("q1_pricing", "word_count"))
  }

  test("an unknown name fails fast, naming it") {
    val e = intercept[IllegalArgumentException](
      GraftSession.selectedQueries(Some("q1_pricing,no_such_query")))
    assert(e.getMessage.contains("no_such_query"))
    assert(!e.getMessage.contains("q1_pricing"))
  }
}
