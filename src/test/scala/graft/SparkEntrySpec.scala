package graft

import org.scalatest.funsuite.AnyFunSuite

/** The registry's prefix selection, shared by Verify, PlanDump and Scratch. */
class SparkEntrySpec extends AnyFunSuite {

  test("select matches registry names by prefix; an unmatched prefix selects nothing") {
    assert(SparkEntry.select(Seq("q182")).keySet == Set("q182_bm25_wand_topk"))
    assert(SparkEntry.select(Seq("q182_bm25_wand_topk")).keySet ==
      Set("q182_bm25_wand_topk"))
    assert(SparkEntry.select(Seq("no_such_query")).isEmpty)
    assert(SparkEntry.select(Seq("no_such_query", "q182")).keySet ==
      Set("q182_bm25_wand_topk"))
    assert(SparkEntry.select(Nil).keySet == SparkEntry.queries.keySet)
  }

  test("selectEach reports an unmatched prefix, keeps going, and yields an entry once") {
    val unmatched = Seq.newBuilder[String]
    val got = SparkEntry.selectEach(
      Seq("no_such_query", "q182", "q182_bm25_wand_topk"), unmatched += _)
    assert(got.map(_._1) == Seq("q182_bm25_wand_topk"))
    assert(unmatched.result() == Seq("no_such_query"))
  }

  test("selectOne resolves a unique prefix and rejects none or several, listing them") {
    assert(SparkEntry.selectOne("q182") eq
      SparkEntry.queries("q182_bm25_wand_topk"))
    assert(SparkEntry.selectOne("q182_bm25_wand_topk") eq
      SparkEntry.queries("q182_bm25_wand_topk"))
    val none = intercept[IllegalArgumentException](
      SparkEntry.selectOne("no_such_query"))
    assert(none.getMessage.contains("selects 0 queries"))
    val several = SparkEntry.select(Seq("q18")).keySet
    assert(several.size > 1)
    val many = intercept[IllegalArgumentException](SparkEntry.selectOne("q18"))
    several.foreach(n => assert(many.getMessage.contains(n), n))
  }
}
