package graft

import org.scalatest.funsuite.AnyFunSuite

/** The registry's prefix selection, shared by Verify and PlanDump. */
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
}
