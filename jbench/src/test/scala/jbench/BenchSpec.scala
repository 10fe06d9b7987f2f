package jbench

import org.scalatest.funsuite.AnyFunSuite

/** Self-tests of the benchmark's own machinery; no Spark session. */
class BenchSpec extends AnyFunSuite {

  private def bytes(docs: Seq[Gen.Doc]): String =
    docs.map(d => s"${d.id} ${d.text}").mkString("\n")

  test("seeded generators give the same bytes for a seed and new bytes for a new seed") {
    val gens: Seq[Long => String] = Seq(
      s => bytes(Gen.datagenCorpus(s, 20, 50, 300)),
      s => bytes(Gen.zipfDocs(s, 50, 30, 90, 20000, 1.0, "d")),
      s => bytes(Gen.zipfQueries(s, 20, 2, 5, 20000, 1.0)),
      s => bytes(Gen.nearDupBatch(s, Gen.zipfDocs(1, 50, 30, 90, 20000, 1.0, "d").toIndexedSeq,
        40, 30, 90, 20000, 1.0, 0.05)._1))
    for (g <- gens) {
      assert(g(7) == g(7))
      assert(g(7) != g(8))
    }
  }

  test("datagen corpus has the reference shape") {
    val docs = Gen.datagenCorpus(3, 40, 400, 3000)
    assert(docs.map(_.id) == (1 to 40).map(i => s"Document$i"))
    assert(docs.forall(_.tokens.length == 400))
    assert(docs.flatMap(_.tokens).toSet.subsetOf((1 to 3000).map(i => f"w$i%04d").toSet))
  }

  test("half the near-duplicate batch is planted, each within 5 % token edits of an index doc") {
    val index = Gen.zipfDocs(11, 300, 30, 90, 20000, 1.0, "d").toIndexedSeq
    val n = 201
    val (batch, planted) = Gen.nearDupBatch(12, index, n, 30, 90, 20000, 1.0, 0.05)
    assert(batch.length == n && planted.length == n)
    assert(planted.count(identity) == (n + 1) / 2)
    batch.zip(planted).filter(_._2).foreach { case (d, _) =>
      val edits = math.max(1, math.round(d.tokens.length * 0.05).toInt)
      assert(index.exists(s => s.tokens.length == d.tokens.length &&
        s.tokens.zip(d.tokens).count { case (a, b) => a != b } <= edits), d.id)
    }
    assert(batch.map(_.id).distinct.length == n)
    assert(batch.map(_.id).toSet.intersect(index.map(_.id).toSet).isEmpty)
  }

  test("median and quartiles match Python's statistics module") {
    assert(Stats.median(Seq(3.0)) == 3.0)
    assert(Stats.median(Seq(5.0, 1.5, 9.25, 2.0)) == 3.5)
    assert(Stats.quartiles((1 to 10).map(_.toDouble)) == ((2.75, 5.5, 8.25)))
    assert(Stats.quartiles(Seq(2.0, 1.0)) == ((0.75, 1.5, 2.25)))
    assert(Stats.quartiles(Seq(3.0, 1.0, 2.0)) == ((1.0, 2.0, 3.0)))
    assert(Stats.quartiles(Seq(5.0, 1.5, 9.25, 2.0, 7.5)) == ((1.75, 5.0, 8.375)))
  }

  test("span self time subtracts the union of its children, clipped to the span") {
    assert(Span.selfNanos(0, 100, Nil) == 100)
    assert(Span.selfNanos(0, 100, Seq((0L, 100L))) == 0)
    // [10,30) from two overlapping children, [50,60), [90,100) and [0,2)
    // after clipping: 20 + 10 + 10 + 2 covered
    assert(Span.selfNanos(0, 100,
      Seq((10L, 20L), (15L, 30L), (50L, 60L), (90L, 120L), (-5L, 2L))) == 58)
    assert(Span.selfNanos(0, 100, Seq((10L, 20L), (12L, 18L))) == 90)
    assert(Span.selfNanos(0, 100, Seq((200L, 300L))) == 100)
  }

  test("the all-pairs replay reproduces the reference corpora's pair counts") {
    val all = graft.Datagen.generateAll()
    assert(Seq("small", "medium", "large").map(n => Replay.allPairs(all(n))._1) ==
      Seq(1225L, 4950L, 11175L))
  }

  test("the threshold replay finds exactly the pairs at or above the threshold") {
    val index = Seq("i1" -> Array("a", "b", "c", "d", "e"), "i2" -> Array("x", "y"))
    val batch = Seq("b1" -> Array("a", "b", "c", "d", "f"), "b2" -> Array("a", "b", "c", "d"))
    // b1~i1: 4 / 6 < 0.8; b2~i1: 4 / 5 = 0.8
    assert(Replay.thresholdMatches(batch, index, 0.8) == Set(("b2", "i1", 4L)))
  }

  test("the df-ordered replay sorts by document frequency, then token") {
    val got = Replay.dfOrderedSets(Seq("a" -> Array("z", "y", "x", "y"), "b" -> Array("z", "w")))
    assert(got == Map("a" -> Seq("x", "y", "z"), "b" -> Seq("w", "z")))
  }
}
