package graft

import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean

import graft.operators.Retrieval

/** Okapi BM25 retrieval: hand-computed scores on a tiny corpus,
  * self-retrieval, absent-term and no-overlap behavior, duplicate-doc
  * tie-breaks in top-k, and degenerate inputs.
  */
class RetrievalSpec extends SparkSpec {
  import spark.implicits._
  import RetrievalSpec.WandCase

  private def docs(rows: (Long, String)*): DataFrame =
    rows.toDF("doc_id", "text")

  private val corpus = docs(
    1L -> "apple banana apple",
    2L -> "banana cherry",
    3L -> "cherry cherry cherry date")

  private def scores(qs: DataFrame): Map[(Long, Long), Double] =
    scores2(corpus, qs)

  private def scores2(c: DataFrame, qs: DataFrame): Map[(Long, Long), Double] =
    Retrieval.bm25Scores(c, "doc_id", "text", qs, "query_id", "text")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

  test("scores match the hand-derived BM25 formula") {
    // N = 3, avgdl = (3 + 2 + 4) / 3; df: apple 1, banana 2, cherry 2,
    // date 1 — straight-line reimplementation, independent of the
    // Column tree's association
    val k1 = 1.2; val b = 0.75
    val n = 3.0; val avgdl = 3.0
    def idf(df: Long): Double = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
    def w(tf: Long, dl: Long, df: Long): Double =
      idf(df) * (tf * (k1 + 1.0)) /
        (tf + k1 * (1.0 - b + b * dl / avgdl))
    val got = scores(Seq((10L, "apple cherry")).toDF("query_id", "text"))
    assert(got.keySet === Set((10L, 1L), (10L, 2L), (10L, 3L)))
    assert(math.abs(got((10L, 1L)) - w(2, 3, 1)) < 1e-9) // apple only
    assert(math.abs(got((10L, 2L)) - w(1, 2, 2)) < 1e-9) // cherry only
    assert(math.abs(got((10L, 3L)) - w(3, 4, 2)) < 1e-9) // cherry only
  }

  test("query terms absent from the corpus contribute nothing") {
    // all-absent query: no rows at all
    assert(scores(Seq((20L, "zzz qqq")).toDF("query_id", "text")).isEmpty)
    // mixed query scores exactly like the present-terms-only query
    val mixed = scores(Seq((21L, "zzz apple")).toDF("query_id", "text"))
    val plain = scores(Seq((21L, "apple")).toDF("query_id", "text"))
    assert(mixed === plain && mixed.keySet === Set((21L, 1L)))
  }

  test("each doc retrieves itself first on a distinct corpus") {
    val qs = corpus.select(col("doc_id").as("query_id"), col("text"))
    val top1 = Retrieval.bm25TopK(
      Retrieval.bm25Scores(corpus, "doc_id", "text", qs, "query_id", "text"),
      1)
      .select("queryId", "docId").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(top1 === Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
  }

  test("top-k caps per query and breaks exact ties by docId") {
    val dup = docs(
      1L -> "apple banana",
      2L -> "apple banana", // exact duplicate of 1 -> identical score
      3L -> "apple cherry")
    val topk = Retrieval.bm25TopK(
      Retrieval.bm25Scores(dup, "doc_id", "text",
        Seq((30L, "apple banana")).toDF("query_id", "text"),
        "query_id", "text"), 2)
      .orderBy("rank")
      .select("docId", "rank").collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    // docs 1 and 2 tie bitwise; docId ascending breaks it; doc 3 is cut
    assert(topk.toSeq === Seq((1L, 1), (2L, 2)))
  }

  test("stop-term df-prune equals scoring a query stripped of hot terms") {
    // cherry has df=2 in the corpus; maxDf=1 drops it from the query,
    // so pruned scores == unpruned scores of the apple-only query, and
    // doc 2 (sharing ONLY cherry) leaves the result
    val pruned = Retrieval.bm25Scores(corpus, "doc_id", "text",
      Seq((50L, "apple cherry")).toDF("query_id", "text"),
      "query_id", "text", maxDocFrequency = Some(1L))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val stripped = scores(Seq((50L, "apple")).toDF("query_id", "text"))
    assert(pruned === stripped)
    assert(pruned.keySet === Set((50L, 1L)))
  }

  test("scores match a plain-Scala reference on a seeded random corpus") {
    // repeat-bearing docs (tf > 1) and queries that may miss the corpus
    val rnd = new scala.util.Random(14)
    val vocab = (1 to 20).map(i => s"tok$i")
    val corpusRows = (1L to 40L).map { id =>
      id -> Seq.fill(2 + rnd.nextInt(10))(
        vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    val queryRows = (100L to 105L).map { id =>
      id -> Seq.fill(3)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    val docToks = corpusRows.map { case (id, t) =>
      id -> t.split(" ").toSeq }.toMap
    val dls = docToks.map { case (id, ws) => id -> ws.length.toDouble }
    val n = docToks.size.toDouble
    val avgdl = docToks.values.map(_.length).sum.toDouble / n
    val df = docToks.values.flatMap(_.distinct)
      .groupBy(identity).map { case (w, xs) => w -> xs.size }
    val k1 = 1.2; val b = 0.75
    val expected = (for {
      (qid, qt) <- queryRows
      qws = qt.split(" ").distinct.toSeq
      (did, ws) <- docToks.toSeq
      shared = qws.filter(ws.contains)
      if shared.nonEmpty
    } yield (qid, did) -> shared.map { w =>
      val tf = ws.count(_ == w).toDouble
      math.log(1.0 + (n - df(w) + 0.5) / (df(w) + 0.5)) *
        (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dls(did) / avgdl))
    }.sum).toMap
    val got = scores2(corpusRows.toDF("doc_id", "text"),
      queryRows.toDF("query_id", "text"))
    assert(got.keySet === expected.keySet)
    for ((k, v) <- expected)
      assert(math.abs(got(k) - v) <= 1e-9 * math.max(1.0, math.abs(v)),
        s"$k: ${got(k)} vs $v")
  }

  test("rrfFuse sums 1/(k0+rank) across lists, absent = zero") {
    val a = Seq((1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3))
      .toDF("queryId", "docId", "rank")
    val b = Seq((1L, 11L, 1), (1L, 13L, 2))
      .toDF("queryId", "docId", "rank")
    val fused = Retrieval.rrfFuse(Seq(a, b), k = 10)
      .collect().map(r =>
        (r.getLong(1), r.getDouble(2), r.getInt(3))).toList
      .sortBy(_._3)
    def c(r: Int) = 1.0 / (60.0 + r)
    // 11 is in both lists (ranks 2 and 1): the only two-term sum wins
    assert(fused.map(_._1) === List(11L, 10L, 13L, 12L))
    assert(fused.head._2 === c(2) + c(1))
    assert(fused(1)._2 === c(1)) // 10: list-a rank 1 only
    assert(fused(2)._2 === c(2)) // 13: list-b rank 2 only
    assert(fused(3)._2 === c(3))
  }

  test("rrfFuse of one ranking preserves its order; ties break by docId") {
    val a = Seq((1L, 10L, 1), (1L, 11L, 2), (2L, 20L, 1))
      .toDF("queryId", "docId", "rank")
    val fused = Retrieval.rrfFuse(Seq(a), k = 1)
      .select("queryId", "docId").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fused === Map(1L -> 10L, 2L -> 20L))
    // equal ranks from two lists tie exactly; docId ascending decides
    val x = Seq((1L, 30L, 1)).toDF("queryId", "docId", "rank")
    val y = Seq((1L, 29L, 1)).toDF("queryId", "docId", "rank")
    val tie = Retrieval.rrfFuse(Seq(x, y), k = 2)
      .orderBy("rank").select("docId").collect().map(_.getLong(0)).toList
    assert(tie === List(29L, 30L))
  }

  test("rrfFuse collapses duplicate rows within one ranking to min rank") {
    // a malformed input carrying the same (query, doc) twice must not
    // inflate the fused sum — the min-rank collapse keeps the best rank
    val a = Seq((1L, 10L, 1), (1L, 10L, 3), (1L, 11L, 2))
      .toDF("queryId", "docId", "rank")
    val fused = Retrieval.rrfFuse(Seq(a), k = 10)
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    assert(fused === Map(10L -> 1.0 / 61.0, 11L -> 1.0 / 62.0))
  }

  test("precomputed df/stats tables score bitwise like the inline path") {
    val qs = corpus.select(col("doc_id").as("query_id"), col("text"))
    val tf = Retrieval.termFrequencies(corpus, "doc_id", "text")
      .localCheckpoint()
    val inline = Retrieval.bm25ScoresIndexed(tf, qs, "query_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    val pre = Retrieval.bm25ScoresPrecomputed(tf,
      Retrieval.dfTable(tf).localCheckpoint(),
      Retrieval.corpusStats(tf).localCheckpoint(),
      qs, "query_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    assert(inline === pre) // bitwise: Map equality on raw doubles
  }

  private def indexTriple(c: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    val tf = Retrieval.termFrequencies(c, "doc_id", "text").localCheckpoint()
    (tf, Retrieval.dfTable(tf).localCheckpoint(),
      Retrieval.corpusStats(tf).localCheckpoint())
  }

  private def tripleLayout(tf: DataFrame, dfT: DataFrame, st: DataFrame)
      : (Set[(Long, Long, String, Long)], Set[(String, Long)],
         Set[(Long, Long)]) =
    (tf.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3))).toSet,
      dfT.collect().map(r => (r.getString(0), r.getLong(1))).toSet,
      st.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)

  test("compacted term index equals the rebuild on the union") {
    val idxDocs = docs(
      1L -> "apple banana apple",
      2L -> "banana cherry",
      3L -> "cherry cherry cherry date")
    val batch = docs(
      11L -> "banana elder banana",
      12L -> "fig")
    val (tf0, df0, st0) = indexTriple(idxDocs)
    val (tfM, dfM, stM) = Retrieval.compactTermIndex(tf0, df0, st0,
      Retrieval.termFrequencies(batch, "doc_id", "text").localCheckpoint())
    val (tfR, dfR, stR) = indexTriple(idxDocs.unionByName(batch))
    assert(tripleLayout(tfM, dfM, stM) === tripleLayout(tfR, dfR, stR))
  }

  test("chained compactions score bitwise like the full rebuild") {
    val rnd = new scala.util.Random(15)
    val vocab = (1 to 15).map(i => s"tok$i")
    def randDocs(ids: Range): Seq[(Long, String)] = ids.map { id =>
      id.toLong -> Seq.fill(2 + rnd.nextInt(8))(
        vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    val base = randDocs(1 to 30)
    val b1 = randDocs(31 to 40)
    val b2 = randDocs(41 to 50)
    val (tf0, df0, st0) = indexTriple(base.toDF("doc_id", "text"))
    val (tf1, df1, st1) = Retrieval.compactTermIndex(tf0, df0, st0,
      Retrieval.termFrequencies(b1.toDF("doc_id", "text"), "doc_id", "text")
        .localCheckpoint())
    val (tf2, df2, st2) = Retrieval.compactTermIndex(
      tf1.localCheckpoint(), df1.localCheckpoint(), st1.localCheckpoint(),
      Retrieval.termFrequencies(b2.toDF("doc_id", "text"), "doc_id", "text")
        .localCheckpoint())
    val qs = randDocs(100 to 104).toDF("query_id", "text")
    val viaCompact = Retrieval.bm25ScoresPrecomputed(
      tf2.localCheckpoint(), df2.localCheckpoint(), st2.localCheckpoint(),
      qs, "query_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    val viaRebuild = scores2((base ++ b1 ++ b2).toDF("doc_id", "text"), qs)
    assert(viaCompact === viaRebuild) // bitwise
  }

  test("deleted term index equals the rebuild on the survivors") {
    val c = docs(
      1L -> "apple banana apple",
      2L -> "banana cherry",
      3L -> "cherry cherry cherry date",
      4L -> "elder solo")
    val (tf0, df0, st0) = indexTriple(c)
    val del = Seq(2L, 4L).toDF("docId").localCheckpoint()
    val (tfD, dfD, stD) = Retrieval.compactTermIndexDeleted(
      tf0, df0, st0, del)
    // survivors: 1, 3 — 'elder'/'solo' vanish with doc 4, banana's df
    // shrinks to 1, cherry's to 1
    val (tfR, dfR, stR) = indexTriple(
      c.filter(!col("doc_id").isin(2L, 4L)))
    assert(tripleLayout(tfD, dfD, stD) === tripleLayout(tfR, dfR, stR))
  }

  test("unknown delete ids are a no-op; deleting all docs empties") {
    val c = docs(1L -> "apple banana", 2L -> "cherry")
    val (tf0, df0, st0) = indexTriple(c)
    val (tfN, dfN, stN) = Retrieval.compactTermIndexDeleted(
      tf0, df0, st0, Seq(99L).toDF("docId"))
    assert(tripleLayout(tfN, dfN, stN) === tripleLayout(tf0, df0, st0))
    val (tfA, dfA, stA) = Retrieval.compactTermIndexDeleted(
      tf0, df0, st0, Seq(1L, 2L).toDF("docId"))
    assert(tfA.count() === 0 && dfA.count() === 0)
    assert(stA.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      === Seq((0L, 0L)))
  }

  test("append then delete chains score bitwise like the net rebuild") {
    val rnd = new scala.util.Random(186)
    val vocab = (1 to 15).map(i => s"tok$i")
    def randDocs(ids: Range): Seq[(Long, String)] = ids.map { id =>
      id.toLong -> Seq.fill(2 + rnd.nextInt(8))(
        vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    val base = randDocs(1 to 30)
    val b1 = randDocs(31 to 40)
    val dels = Seq(3L, 7L, 33L, 40L)
    val (tf0, df0, st0) = indexTriple(base.toDF("doc_id", "text"))
    val (tf1, df1, st1) = Retrieval.compactTermIndex(tf0, df0, st0,
      Retrieval.termFrequencies(b1.toDF("doc_id", "text"),
        "doc_id", "text").localCheckpoint())
    val (tf2, df2, st2) = Retrieval.compactTermIndexDeleted(
      tf1.localCheckpoint(), df1.localCheckpoint(), st1.localCheckpoint(),
      dels.toDF("docId").localCheckpoint())
    val qs = randDocs(100 to 104).toDF("query_id", "text")
    val viaCompact = Retrieval.bm25ScoresPrecomputed(
      tf2.localCheckpoint(), df2.localCheckpoint(), st2.localCheckpoint(),
      qs, "query_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    val survivors = (base ++ b1).filterNot(d => dels.contains(d._1))
    val viaRebuild = scores2(survivors.toDF("doc_id", "text"), qs)
    assert(viaCompact === viaRebuild) // bitwise
  }

  private def topkSet(df: DataFrame): Set[(Long, Long, Double, Int)] =
    df.select(col("queryId"), col("docId"), col("score"),
      col("rank").cast("int")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet

  test("WAND top-k equals the unpruned top-k bitwise at every hotDf") {
    // seeded Zipf-ish corpus: tok1 hot (in most docs), a rare tail —
    // hotDf sweeps from everything-hot (pure fallback) through mixed
    // (prune + fallback) to everything-rare (pure candidate path)
    val rnd = new scala.util.Random(182)
    val corpusRows = (1L to 80L).map { id =>
      val words = Seq.fill(6 + rnd.nextInt(6)) {
        val u = rnd.nextInt(40)
        s"tok${40 / (u + 1)}"
      }
      id -> words.mkString(" ")
    }
    val queryRows = (200L to 207L).map { id =>
      val head = Seq.fill(2)(s"tok${40 / (rnd.nextInt(40) + 1)}")
      val tail = Seq.fill(2)(s"tok${13 + rnd.nextInt(28)}")
      id -> (if (id % 4 == 3) head else head ++ tail).mkString(" ")
    }
    val c = corpusRows.toDF("doc_id", "text")
    val qs = queryRows.toDF("query_id", "text")
    val tf = Retrieval.termFrequencies(c, "doc_id", "text").localCheckpoint()
    val unpruned = topkSet(Retrieval.bm25TopK(
      Retrieval.bm25ScoresIndexed(tf, qs, "query_id", "text"), 5))
    for (hotDf <- Seq(0L, 3L, 10L, 30L, 1000L)) {
      val wand = topkSet(Retrieval.bm25TopKWand(tf, qs,
        "query_id", "text", k = 5, hotDf = hotDf))
      assert(wand === unpruned, s"hotDf=$hotDf")
    }
  }

  test("WAND safe path prunes hot-only docs without a fallback") {
    // rare terms concentrate huge idf on docs 1-2; doc 3 shares only
    // the hot term, whose bound (idf ~ 0 with df = n) cannot reach the
    // kth candidate score -> the query is SAFE, doc 3 is pruned by
    // BOUND, and the result still equals the unpruned ranking
    val c = docs(
      1L -> "rareword common filler1",
      2L -> "rareword common filler2",
      3L -> "common only hot",
      4L -> "common another doc",
      5L -> "common more text")
    val qs = Seq((1L, "rareword common")).toDF("query_id", "text")
    val tf = Retrieval.termFrequencies(c, "doc_id", "text").localCheckpoint()
    val unpruned = Retrieval.bm25TopK(
      Retrieval.bm25ScoresIndexed(tf, qs, "query_id", "text"), 2)
    val wand = Retrieval.bm25TopKWand(tf, qs, "query_id", "text",
      k = 2, hotDf = 2L)
    assert(topkSet(wand) === topkSet(unpruned))
    // the top 2 are exactly the rareword docs
    assert(wand.select("docId").collect().map(_.getLong(0)).toSet
      === Set(1L, 2L))
  }

  /** Jobs started while `body` runs (construction included — the WAND
    * operators checkpoint eagerly).
    */
  private def jobsStarted(body: => Unit): Int = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    TestListenerBus.drain(sc)
    sc.addSparkListener(l)
    try { body; TestListenerBus.drain(sc) }
    finally sc.removeSparkListener(l)
    n.get
  }

  test("WAND job counts: the stats readout builds no routing set") {
    // the decision table reads the enriched terms, candidates, bound
    // and θ only; the top-k operator also materializes the candidate
    // scores and the routing set for its fallback completion
    val rnd = new scala.util.Random(187)
    val c = (1L to 80L).map { id =>
      id -> Seq.fill(6 + rnd.nextInt(6))(
        s"tok${40 / (rnd.nextInt(40) + 1)}").mkString(" ")
    }.toDF("doc_id", "text")
    val qs = (200L to 207L).map { id =>
      id -> (Seq.fill(2)(s"tok${40 / (rnd.nextInt(40) + 1)}") ++
        Seq.fill(2)(s"tok${13 + rnd.nextInt(28)}")).mkString(" ")
    }.toDF("query_id", "text").localCheckpoint()
    val (tf, dfT, st) = indexTriple(c)
    val statsJobs = jobsStarted(Retrieval.bm25WandStats(tf, qs,
      "query_id", "text", k = 5, hotDf = 10L,
      dfStats = Some((dfT, st))).collect())
    val topkJobs = jobsStarted(Retrieval.bm25TopKWand(tf, qs,
      "query_id", "text", k = 5, hotDf = 10L,
      dfStats = Some((dfT, st))).collect())
    assert((statsJobs, topkJobs) === ((14, 20)))
  }

  test("weighted WAND equals the unpruned weighted top-k at every hotDf") {
    // the q182 sweep on the WEIGHTED operator, with RM3 expansion
    // weights as the term table — the production second-pass shape
    val rnd = new scala.util.Random(191)
    val corpusRows = (1L to 80L).map { id =>
      val words = Seq.fill(6 + rnd.nextInt(6)) {
        val u = rnd.nextInt(40)
        s"tok${40 / (u + 1)}"
      }
      id -> words.mkString(" ")
    }
    val queryRows = (200L to 207L).map { id =>
      val head = Seq.fill(2)(s"tok${40 / (rnd.nextInt(40) + 1)}")
      val tail = Seq.fill(2)(s"tok${13 + rnd.nextInt(28)}")
      id -> (if (id % 4 == 3) head else head ++ tail).mkString(" ")
    }
    val (tf, dfT, st) = indexTriple(corpusRows.toDF("doc_id", "text"))
    val tw = Retrieval.rm3ExpandedTerms(tf, dfT, st,
      queryRows.toDF("query_id", "text"), "query_id", "text",
      k = 5, m = 8, lambda = 0.5).localCheckpoint()
    val unpruned = topkSet(Retrieval.bm25TopK(
      Retrieval.bm25ScoresWeighted(tf, dfT, st, tw), 5))
    for (hotDf <- Seq(0L, 3L, 10L, 30L, 1000L)) {
      val wand = topkSet(Retrieval.bm25TopKWandWeighted(tf, tw,
        k = 5, hotDf = hotDf, dfStats = Some((dfT, st))))
      assert(wand === unpruned, s"hotDf=$hotDf")
      // the decision table routes every query somewhere, and safe
      // queries carry a real bound below their theta
      val stats = Retrieval.bm25WandWeightedStats(tf, tw,
        k = 5, hotDf = hotDf, dfStats = Some((dfT, st))).collect()
      assert(stats.length === queryRows.length, s"hotDf=$hotDf")
      for (r <- stats if r.getBoolean(6) && r.getLong(2) > 0)
        assert(r.isNullAt(4) || r.getDouble(4) < r.getDouble(5),
          s"safe query must have ub < theta: $r")
    }
  }

  test("weighted WAND stays exact under arbitrary positive weights") {
    // not just RM3-shaped weights: random magnitudes spanning 1e-6 to
    // 1e3 stress the weighted bound (and its 1e-9 margin) far from
    // the probability-mix regime
    val rnd = new scala.util.Random(204)
    val c = (1L to 60L).map { id =>
      id -> Seq.fill(5 + rnd.nextInt(6))(
        s"tok${30 / (rnd.nextInt(30) + 1)}").mkString(" ")
    }.toDF("doc_id", "text")
    val (tf, dfT, st) = indexTriple(c)
    val vocab = tf.select("word").distinct().collect()
      .map(_.getString(0)).sorted
    val tw = (400L to 405L).flatMap { qid =>
      rnd.shuffle(vocab.toSeq).take(4).map { w =>
        (qid, w, math.pow(10.0, rnd.nextInt(10) - 6) *
          (1.0 + rnd.nextDouble()))
      }
    }.toDF("queryId", "word", "weight").localCheckpoint()
    val unpruned = topkSet(Retrieval.bm25TopK(
      Retrieval.bm25ScoresWeighted(tf, dfT, st, tw), 4))
    for (hotDf <- Seq(0L, 2L, 8L, 25L, 1000L))
      assert(topkSet(Retrieval.bm25TopKWandWeighted(tf, tw,
        k = 4, hotDf = hotDf, dfStats = Some((dfT, st)))) === unpruned,
        s"hotDf=$hotDf")
  }

  test("impact-tightened WAND equals the unpruned top-k at every hotDf") {
    // the q182 sweep with impactStats metadata: the tightened bound
    // must change routing only, never the answer — unit and weighted
    val rnd = new scala.util.Random(204)
    val c = (1L to 80L).map { id =>
      id -> Seq.fill(6 + rnd.nextInt(6))(
        s"tok${40 / (rnd.nextInt(40) + 1)}").mkString(" ")
    }.toDF("doc_id", "text")
    val qs = (200L to 207L).map { id =>
      id -> (Seq.fill(2)(s"tok${40 / (rnd.nextInt(40) + 1)}") ++
        Seq.fill(2)(s"tok${13 + rnd.nextInt(28)}")).mkString(" ")
    }.toDF("query_id", "text")
    val (tf, dfT, st) = indexTriple(c)
    val imp = Retrieval.impactStats(tf).localCheckpoint()
    val unpruned = topkSet(Retrieval.bm25TopK(
      Retrieval.bm25ScoresPrecomputed(tf, dfT, st, qs,
        "query_id", "text"), 5))
    val tw = Retrieval.rm3ExpandedTerms(tf, dfT, st, qs,
      "query_id", "text", k = 5, m = 8, lambda = 0.5).localCheckpoint()
    val unprunedW = topkSet(Retrieval.bm25TopK(
      Retrieval.bm25ScoresWeighted(tf, dfT, st, tw), 5))
    for (hotDf <- Seq(0L, 3L, 10L, 30L, 1000L)) {
      assert(topkSet(Retrieval.bm25TopKWand(tf, qs, "query_id", "text",
        k = 5, hotDf = hotDf, dfStats = Some((dfT, st)),
        impact = Some(imp))) === unpruned, s"unit hotDf=$hotDf")
      assert(topkSet(Retrieval.bm25TopKWandWeighted(tf, tw,
        k = 5, hotDf = hotDf, dfStats = Some((dfT, st)),
        impact = Some(imp))) === unprunedW, s"weighted hotDf=$hotDf")
    }
  }

  test("impact metadata tightens ub and never flips safe to unsafe") {
    val rnd = new scala.util.Random(205)
    val c = (1L to 80L).map { id =>
      id -> Seq.fill(6 + rnd.nextInt(6))(
        s"tok${40 / (rnd.nextInt(40) + 1)}").mkString(" ")
    }.toDF("doc_id", "text")
    val qs = (200L to 211L).map { id =>
      id -> (Seq.fill(2)(s"tok${40 / (rnd.nextInt(40) + 1)}") ++
        Seq.fill(2)(s"tok${13 + rnd.nextInt(28)}")).mkString(" ")
    }.toDF("query_id", "text")
    val (tf, dfT, st) = indexTriple(c)
    val imp = Retrieval.impactStats(tf).localCheckpoint()
    def statRows(withImp: Boolean): Map[Long, (Option[Double], Boolean)] =
      Retrieval.bm25WandStats(tf, qs, "query_id", "text", k = 5,
        hotDf = 10L, dfStats = Some((dfT, st)),
        impact = if (withImp) Some(imp) else None)
        .collect().map { r =>
          r.getLong(0) ->
            ((if (r.isNullAt(4)) None else Some(r.getDouble(4))),
              r.getBoolean(6))
        }.toMap
    val sat = statRows(withImp = false)
    val tight = statRows(withImp = true)
    assert(sat.keySet === tight.keySet)
    for ((q, (ubS, safeS)) <- sat; (ubT, safeT) = tight(q)) {
      for (us <- ubS; ut <- ubT)
        assert(ut <= us * (1.0 + 1e-12), s"query $q: tightened ub > sat")
      if (safeS) assert(safeT, s"query $q flipped safe -> unsafe")
    }
    // the fixture must actually exercise the tightening somewhere
    assert((sat.keys.flatMap(q => sat(q)._1.zip(tight(q)._1).map {
      case (us, ut) => ut < us
    })).exists(identity), "no query had a strictly tighter bound")
  }

  test("compacted impact stats equal the rebuild on the union") {
    val rnd = new scala.util.Random(206)
    def randDocs(ids: Range): Seq[(Long, String)] = ids.map { id =>
      id.toLong -> Seq.fill(4 + rnd.nextInt(5))(
        s"tok${12 / (rnd.nextInt(12) + 1)}").mkString(" ")
    }
    val base = randDocs(1 to 40).toDF("doc_id", "text")
    val batch = randDocs(41 to 55).toDF("doc_id", "text")
    val merged = Retrieval.compactImpactStats(
      Retrieval.impactStats(Retrieval.termFrequencies(base,
        "doc_id", "text")),
      Retrieval.impactStats(Retrieval.termFrequencies(batch,
        "doc_id", "text")))
    val rebuilt = Retrieval.impactStats(Retrieval.termFrequencies(
      base.unionByName(batch), "doc_id", "text"))
    def rows(d: DataFrame): Set[(String, Long, Long)] =
      d.collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows(merged) === rows(rebuilt))
  }

  test("compacted champion lists equal the rebuild after append+delete") {
    // randomized parity at several m: append a batch through the
    // max-merge, delete ids through the affected-term recompute, and
    // the result must be ROW-identical to championPostings over the
    // survivor corpus — including the refill case (a deleted champion
    // member replaced by a posting that was outside the pruned layout)
    val rnd = new scala.util.Random(226)
    def randDocs(ids: Range): Seq[(Long, String)] = ids.map { id =>
      id.toLong -> Seq.fill(4 + rnd.nextInt(6))(
        s"tok${12 / (rnd.nextInt(12) + 1)}").mkString(" ")
    }
    val base = randDocs(1 to 40)
    val batch = randDocs(41 to 60)
    val dels = Seq(2L, 5L, 44L, 57L, 999L) // 999 absent: no-op
    def tfOf(rows: Seq[(Long, String)]): DataFrame =
      Retrieval.termFrequencies(rows.toDF("doc_id", "text"),
        "doc_id", "text").localCheckpoint()
    def rows(d: DataFrame): Set[(Long, Long, String, Long)] =
      d.select(col("docId"), col("dl"), col("word"), col("tf"))
        .collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
        .toSet
    val tfBase = tfOf(base)
    val tfBatch = tfOf(batch)
    val tfAll = tfOf(base ++ batch)
    val survivors = (base ++ batch).filterNot(d => dels.contains(d._1))
    for (m <- Seq(1, 3, 7)) {
      val appended = Retrieval.compactChampionPostings(
        Retrieval.championPostings(tfBase, m).localCheckpoint(),
        tfBatch, m).localCheckpoint()
      assert(rows(appended) === rows(Retrieval.championPostings(tfAll, m)),
        s"append m=$m")
      // deletion from the appended layout, passing the PRE-delete tf
      // (the in-plan anti-join makes pre/post equivalent)
      val deleted = Retrieval.compactChampionPostingsDeleted(appended,
        tfAll, dels.toDF("docId").localCheckpoint(), m)
      assert(rows(deleted) ===
        rows(Retrieval.championPostings(tfOf(survivors), m)),
        s"delete m=$m")
    }
  }

  test("proximity features under a pairs restriction equal the full " +
    "table filtered to those pairs") {
    val rnd = new scala.util.Random(229)
    val c = (1L to 40L).map { id =>
      id -> Seq.fill(8 + rnd.nextInt(5))(
        s"tok${12 / (rnd.nextInt(12) + 1)}").mkString(" ")
    }.toDF("doc_id", "text")
    val qs = (100L to 103L).map { id =>
      id -> Seq.fill(3)(s"tok${12 / (rnd.nextInt(12) + 1)}").mkString(" ")
    }.toDF("query_id", "text")
    val posts = Retrieval.positionalPostings(c, "doc_id", "text")
      .localCheckpoint()
    def rows(d: DataFrame): Set[(Long, Long, Long, Double, Long)] =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getLong(4))).toSet
    val full = Retrieval.proximityFeatures(posts, qs, "query_id", "text")
      .localCheckpoint()
    val keep = full.select(col("queryId"), col("docId"))
      .sample(withReplacement = false, 0.4, seed = 229)
      .localCheckpoint()
    val restricted = Retrieval.proximityFeatures(posts, qs,
      "query_id", "text", pairs = Some(keep))
    assert(rows(restricted) ===
      rows(full.join(keep, Seq("queryId", "docId"), "left_semi")))
  }

  test("champion append guard trips on a reused champion docId") {
    val c = docs(1L -> "apple banana", 2L -> "banana cherry")
    val tf = Retrieval.termFrequencies(c, "doc_id", "text")
      .localCheckpoint()
    val champ = Retrieval.championPostings(tf, m = 2).localCheckpoint()
    // doc 1 re-ingested: it sits in champion lists, so the guard fires
    val dup = Retrieval.termFrequencies(
      docs(1L -> "apple date"), "doc_id", "text").localCheckpoint()
    val ex = intercept[Exception] {
      Retrieval.compactChampionPostings(champ, dup, m = 2,
        assertDisjoint = true).collect()
    }
    assert(ex.getMessage.contains("compactChampionPostings"),
      s"unexpected error: ${ex.getMessage}")
    // a genuinely new doc passes the guard
    val fresh = Retrieval.termFrequencies(
      docs(3L -> "elder fig"), "doc_id", "text").localCheckpoint()
    assert(Retrieval.compactChampionPostings(champ, fresh, m = 2,
      assertDisjoint = true).count() > 0)
  }

  test("snippet texts slice the normalized stream and truncate at the tail") {
    val c = docs(
      1L -> "Alpha, beta gamma delta epsilon",
      2L -> "zeta eta theta")
    val wins = Seq((10L, 1L, 2L, 2L), (11L, 2L, 1L, 1L))
      .toDF("queryId", "docId", "window_start", "n_matched_terms")
    val got = Retrieval.snippetTexts(c, "doc_id", "text", wins, width = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(4)))
      .toSet
    // start is 0-based over the NORMALIZED words (lowercased, punct
    // stripped); doc 2's window runs off the end and truncates
    assert(got === Set((10L, 1L, "gamma delta epsilon"),
      (11L, 2L, "eta theta")))
  }

  test("weighted QL at unit weights reduces bitwise to the plain scorer") {
    // IEEE 1.0·x == x and the word-sorted fold of 1.0s is the exact
    // integer count, so the weighted operator IS qlDirichletScores
    // under a unit-weight table — including absent-term drops on
    // both the contribution and normalizer sides
    val rnd = new scala.util.Random(233)
    val c = (1L to 50L).map { id =>
      id -> Seq.fill(5 + rnd.nextInt(5))(
        s"tok${15 / (rnd.nextInt(15) + 1)}").mkString(" ")
    }.toDF("doc_id", "text")
    val qRows = (300L to 304L).map { id =>
      id -> (Seq.fill(3)(s"tok${15 / (rnd.nextInt(15) + 1)}") :+
        "absentterm")
    }
    val qs = qRows.map { case (id, ws) => id -> ws.mkString(" ") }
      .toDF("query_id", "text")
    val (tf, _, st) = indexTriple(c)
    val cfT = Retrieval.cfTable(tf).localCheckpoint()
    val plain = Retrieval.qlDirichletScores(tf, cfT, st, qs,
      "query_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val tw = qRows.flatMap { case (id, ws) =>
      ws.distinct.map(w => (id, w, 1.0))
    }.toDF("queryId", "word", "weight")
    val weighted = Retrieval.qlScoresWeighted(tf, cfT, st, tw)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(weighted === plain) // bitwise
  }

  test("QL RM3 weights are identical under a WAND first pass and " +
    "sum to 1 per query") {
    val rnd = new scala.util.Random(234)
    val c = (1L to 80L).map { id =>
      id -> Seq.fill(6 + rnd.nextInt(6))(
        s"tok${40 / (rnd.nextInt(40) + 1)}").mkString(" ")
    }.toDF("doc_id", "text")
    val qs = (200L to 205L).map { id =>
      id -> (Seq.fill(2)(s"tok${40 / (rnd.nextInt(40) + 1)}") ++
        Seq.fill(2)(s"tok${13 + rnd.nextInt(28)}")).mkString(" ")
    }.toDF("query_id", "text")
    val (tf, dfT, st) = indexTriple(c)
    val cfT = Retrieval.cfTable(tf).localCheckpoint()
    val imp = Retrieval.impactStats(tf).localCheckpoint()
    def weights(wand: Option[Long]): Map[(Long, String), Double] =
      Retrieval.rm3ExpandedTermsQl(tf, cfT, st, dfT, qs,
        "query_id", "text", k = 4, m = 6, lambda = 0.5,
        wandHotDf = wand,
        wandImpact = wand.map(_ => imp)).collect()
        .map(r => (r.getLong(0), r.getString(1)) -> r.getDouble(2))
        .toMap
    val plain = weights(None)
    // the λ-mix of two distributions sums to 1 per query (both sides
    // present: every fixture query matches the corpus)
    val byQ = plain.groupBy(_._1._1).view.mapValues(_.values.sum)
    for ((q, s) <- byQ)
      assert(math.abs(s - 1.0) < 1e-9, s"query $q weights sum to $s")
    // the WAND first pass is score-exact, so the feedback set — and
    // every expansion weight — is bitwise unchanged
    for (hd <- Seq(0L, 3L, 1000L))
      assert(weights(Some(hd)) === plain, s"wandHotDf=$hd") // bitwise
  }

  test("weighted QL WAND equals the unpruned weighted top-k at every " +
    "hotDf, under arbitrary positive weights") {
    // the bm25TopKWandWeighted stress on the LM side: random weight
    // magnitudes spanning 1e-6 to 1e3 exercise the weighted ceilings,
    // the weighted-mass normalizer bound, and the sign-aware margins
    // far from the probability-mix regime
    val rnd = new scala.util.Random(234)
    val c = (1L to 60L).map { id =>
      id -> Seq.fill(5 + rnd.nextInt(6))(
        s"tok${30 / (rnd.nextInt(30) + 1)}").mkString(" ")
    }.toDF("doc_id", "text")
    val (tf, dfT, st) = indexTriple(c)
    val cfT = Retrieval.cfTable(tf).localCheckpoint()
    val imp = Retrieval.impactStats(tf).localCheckpoint()
    val vocab = tf.select("word").distinct().collect()
      .map(_.getString(0)).sorted
    val tw = (400L to 405L).flatMap { qid =>
      rnd.shuffle(vocab.toSeq).take(4).map { w =>
        (qid, w, math.pow(10.0, rnd.nextInt(10) - 6) *
          (1.0 + rnd.nextDouble()))
      }
    }.toDF("queryId", "word", "weight").localCheckpoint()
    val unpruned = topkSet(Retrieval.bm25TopK(
      Retrieval.qlScoresWeighted(tf, cfT, st, tw), 4))
    for (hotDf <- Seq(0L, 2L, 8L, 25L, 1000L)) {
      assert(topkSet(Retrieval.qlTopKWandWeighted(tf, tw,
        k = 4, hotDf = hotDf, dfStats = Some((dfT, st)),
        cf = Some(cfT))) === unpruned, s"hotDf=$hotDf")
      assert(topkSet(Retrieval.qlTopKWandWeighted(tf, tw,
        k = 4, hotDf = hotDf, dfStats = Some((dfT, st)),
        cf = Some(cfT), impact = Some(imp))) === unpruned,
        s"impact hotDf=$hotDf")
      // safe queries carry a real bound strictly below theta
      val stats = Retrieval.qlWandWeightedStats(tf, tw, k = 4,
        hotDf = hotDf, dfStats = Some((dfT, st)), cf = Some(cfT),
        impact = Some(imp)).collect()
      assert(stats.length === 6, s"hotDf=$hotDf")
      for (r <- stats if r.getBoolean(6) && r.getLong(2) > 0)
        assert(r.isNullAt(4) || r.getDouble(4) < r.getDouble(5),
          s"safe query must have ub < theta: $r")
    }
  }

  test("QL WAND equals the unpruned QL top-k bitwise at every hotDf") {
    // the q182 sweep for the SECOND scorer: everything-hot (pure
    // fallback) through mixed to everything-rare (pure candidate
    // path), each with and without impact metadata — the negative
    // normalizer makes the sign-aware margin load-bearing here
    val rnd = new scala.util.Random(223)
    val c = (1L to 80L).map { id =>
      id -> Seq.fill(6 + rnd.nextInt(6))(
        s"tok${40 / (rnd.nextInt(40) + 1)}").mkString(" ")
    }.toDF("doc_id", "text")
    val qs = (200L to 207L).map { id =>
      id -> (Seq.fill(2)(s"tok${40 / (rnd.nextInt(40) + 1)}") ++
        (if (id % 4 == 3) Nil
        else Seq.fill(2)(s"tok${13 + rnd.nextInt(28)}"))).mkString(" ")
    }.toDF("query_id", "text")
    val (tf, dfT, st) = indexTriple(c)
    val cfT = Retrieval.cfTable(tf).localCheckpoint()
    val imp = Retrieval.impactStats(tf).localCheckpoint()
    val unpruned = topkSet(Retrieval.bm25TopK(
      Retrieval.qlDirichletScores(tf, cfT, st, qs,
        "query_id", "text"), 5))
    for (hotDf <- Seq(0L, 3L, 10L, 30L, 1000L)) {
      assert(topkSet(Retrieval.qlTopKWand(tf, qs, "query_id", "text",
        k = 5, hotDf = hotDf, dfStats = Some((dfT, st)),
        cf = Some(cfT))) === unpruned, s"no-impact hotDf=$hotDf")
      assert(topkSet(Retrieval.qlTopKWand(tf, qs, "query_id", "text",
        k = 5, hotDf = hotDf, dfStats = Some((dfT, st)),
        cf = Some(cfT), impact = Some(imp))) === unpruned,
        s"impact hotDf=$hotDf")
      // decision-table invariants: every query routed, safe queries
      // with hot terms carry a real bound strictly below theta
      val stats = Retrieval.qlWandStats(tf, qs, "query_id", "text",
        k = 5, hotDf = hotDf, dfStats = Some((dfT, st)),
        cf = Some(cfT), impact = Some(imp)).collect()
      assert(stats.length === 8, s"hotDf=$hotDf")
      for (r <- stats if r.getBoolean(6) && r.getLong(2) > 0)
        assert(r.isNullAt(4) || r.getDouble(4) < r.getDouble(5),
          s"safe query must have ub < theta: $r")
    }
  }

  test("QL WAND stays exact under a PARTIAL impact table") {
    // words missing from the metadata fall back to the corpus-free
    // (ln(1 + |C|/mu), dl >= 1) pair in-place — pruning degrades,
    // answers never change
    val rnd = new scala.util.Random(224)
    val c = (1L to 60L).map { id =>
      id -> Seq.fill(5 + rnd.nextInt(6))(
        s"tok${30 / (rnd.nextInt(30) + 1)}").mkString(" ")
    }.toDF("doc_id", "text")
    val qs = (300L to 305L).map { id =>
      id -> (Seq.fill(2)(s"tok${30 / (rnd.nextInt(30) + 1)}") ++
        Seq.fill(2)(s"tok${10 + rnd.nextInt(21)}")).mkString(" ")
    }.toDF("query_id", "text")
    val (tf, dfT, st) = indexTriple(c)
    val cfT = Retrieval.cfTable(tf).localCheckpoint()
    val partial = Retrieval.impactStats(tf)
      .filter(hash(col("word")) % 2 === 0).localCheckpoint()
    val unpruned = topkSet(Retrieval.bm25TopK(
      Retrieval.qlDirichletScores(tf, cfT, st, qs,
        "query_id", "text"), 4))
    for (hotDf <- Seq(2L, 8L, 25L))
      assert(topkSet(Retrieval.qlTopKWand(tf, qs, "query_id", "text",
        k = 4, hotDf = hotDf, dfStats = Some((dfT, st)),
        cf = Some(cfT), impact = Some(partial))) === unpruned,
        s"hotDf=$hotDf")
  }

  test("QL WAND safe path prunes hot-only docs without a fallback") {
    // rare terms concentrate the matching mass on docs 1-2; doc 3
    // shares only the hot term and cannot beat theta even at the
    // dl floor -> the query is SAFE and doc 3 is pruned by BOUND
    val c = docs(
      1L -> "rareword uniqua filler1 pad1 pad2",
      2L -> "rareword uniqub filler2 pad3 pad4",
      3L -> "common common common common common",
      4L -> "common misc1 misc2 misc3 misc4",
      5L -> "common misc5 misc6 misc7 misc8")
    val cc = c.unionByName(Seq.tabulate(20)(i =>
      (10L + i, s"common extra${i}a extra${i}b extra${i}c extra${i}d"))
      .toDF("doc_id", "text"))
    val qs = Seq((1L, "rareword common")).toDF("query_id", "text")
    val (tf, dfT, st) = indexTriple(cc)
    val cfT = Retrieval.cfTable(tf).localCheckpoint()
    val unpruned = Retrieval.bm25TopK(
      Retrieval.qlDirichletScores(tf, cfT, st, qs,
        "query_id", "text"), 2)
    val wand = Retrieval.qlTopKWand(tf, qs, "query_id", "text",
      k = 2, hotDf = 2L, dfStats = Some((dfT, st)), cf = Some(cfT),
      impact = Some(Retrieval.impactStats(tf).localCheckpoint()))
    assert(topkSet(wand) === topkSet(unpruned))
    val stats = Retrieval.qlWandStats(tf, qs, "query_id", "text",
      k = 2, hotDf = 2L, dfStats = Some((dfT, st)), cf = Some(cfT),
      impact = Some(Retrieval.impactStats(tf).localCheckpoint()))
      .collect()
    assert(stats.length === 1 && stats(0).getBoolean(6),
      s"query must route SAFE: ${stats.toSeq}")
  }

  test("hot words missing from the impact table fall back safely") {
    // a PARTIAL metadata table (stale ingest, half the vocabulary):
    // missing words take the saturation ceiling in-place, so the
    // top-k stays exact — degraded pruning, never a wrong answer
    val rnd = new scala.util.Random(207)
    val c = (1L to 60L).map { id =>
      id -> Seq.fill(6)(s"tok${20 / (rnd.nextInt(20) + 1)}").mkString(" ")
    }.toDF("doc_id", "text")
    val qs = (300L to 305L).map { id =>
      id -> Seq.fill(4)(s"tok${20 / (rnd.nextInt(20) + 1)}").mkString(" ")
    }.toDF("query_id", "text")
    val (tf, dfT, st) = indexTriple(c)
    val partial = Retrieval.impactStats(tf)
      .filter(length(col("word")) % 2 === 0).localCheckpoint()
    val unpruned = topkSet(Retrieval.bm25TopK(
      Retrieval.bm25ScoresPrecomputed(tf, dfT, st, qs,
        "query_id", "text"), 5))
    for (hotDf <- Seq(0L, 5L, 20L))
      assert(topkSet(Retrieval.bm25TopKWand(tf, qs, "query_id", "text",
        k = 5, hotDf = hotDf, dfStats = Some((dfT, st)),
        impact = Some(partial))) === unpruned, s"hotDf=$hotDf")
  }

  test("facet counts collapse pairs, drop null facets, rank count/facet") {
    // matches carry REPEATED (query, doc) rows (a per-term score
    // table shape) — counts must not inflate; doc 5 has a null facet
    val matches = Seq(
      (1L, 10L), (1L, 10L), (1L, 11L), (1L, 12L), (1L, 5L),
      (2L, 10L)).toDF("queryId", "docId")
    val meta = Seq(
      (10L, "web"), (11L, "web"), (12L, "books"),
      (5L, null.asInstanceOf[String])).toDF("docId", "src")
    val got = graft.operators.Retrieval
      .facetCounts(matches, meta, "src", topV = 2)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(got === Set(
      (1L, "web", 2L, 1L), (1L, "books", 1L, 2L),
      (2L, "web", 1L, 1L)))
    // equal counts break ties facet-ascending
    val tied = graft.operators.Retrieval.facetCounts(
      Seq((1L, 10L), (1L, 12L)).toDF("queryId", "docId"),
      meta, "src", topV = 2).collect()
      .map(r => (r.getString(1), r.getLong(3))).toSet
    assert(tied === Set(("books", 1L), ("web", 2L)))
  }

  test("champion pruning keeps the top-tf postings deterministically") {
    val rnd = new scala.util.Random(221)
    val c = (1L to 50L).map { id =>
      id -> Seq.fill(4 + rnd.nextInt(8))(
        s"tok${12 / (rnd.nextInt(12) + 1)}").mkString(" ")
    }.toDF("doc_id", "text")
    val tf = Retrieval.termFrequencies(c, "doc_id", "text").localCheckpoint()
    val full = tf.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val kept = Retrieval.championPostings(tf, m = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .toSet
    // plain-Scala reference: per word, top-3 by (tf desc, dl asc, id)
    val want = full.groupBy(_._3).toSeq.flatMap { case (_, rows) =>
      rows.sortBy(r => (-r._4, r._2, r._1)).take(3).toSeq
    }.toSet
    assert(kept === want)
    assert(kept.size < full.length, "the cut must bind somewhere")
    // a pair whose matched postings ALL survive scores bitwise equal
    val dfT = Retrieval.dfTable(tf).localCheckpoint()
    val st = Retrieval.corpusStats(tf).localCheckpoint()
    val qs = Seq((1L, "tok12 tok6")).toDF("query_id", "text")
    val champ = Retrieval.championPostings(tf, m = 3).localCheckpoint()
    val champScores = Retrieval.bm25ScoresPrecomputed(champ, dfT, st,
      qs, "query_id", "text").collect()
      .map(r => (r.getLong(1), r.getDouble(2))).toMap
    val fullScores = Retrieval.bm25ScoresPrecomputed(tf, dfT, st,
      qs, "query_id", "text").collect()
      .map(r => (r.getLong(1), r.getDouble(2))).toMap
    val champSet = kept.map(r => (r._1, r._3))
    val fullMatched = full.filter(r =>
      Set("tok12", "tok6").contains(r._3)).map(r => (r._1, r._3))
    for ((doc, s) <- champScores) {
      val docTerms = fullMatched.filter(_._1 == doc).toSet
      if (docTerms.forall(champSet.contains))
        assert(s === fullScores(doc), s"doc $doc full-survivor bitwise")
      else assert(s <= fullScores(doc) + 1e-12, s"doc $doc partial")
    }
  }

  test("tiered retrieval routes under-filled and zero-match queries") {
    val rnd = new scala.util.Random(222)
    val c = (1L to 60L).map { id =>
      id -> Seq.fill(6)(s"tok${15 / (rnd.nextInt(15) + 1)}").mkString(" ")
    }.toDF("doc_id", "text")
    val (tf, dfT, st) = indexTriple(c)
    val champ = Retrieval.championPostings(tf, m = 2).localCheckpoint()
    // q1: hot multi-term (fills from champions at k=3); q2: single
    // term, champion depth 2 < k (under-fills -> tier 2); q3: matches
    // nothing in the CHAMPION tier or the full index (absent term) —
    // must not vanish silently, it just has no rows anywhere
    val qs = Seq((1L, "tok15 tok7 tok5"), (2L, "tok15"),
      (3L, "absentterm")).toDF("query_id", "text")
    val got = Retrieval.bm25TopKTiered(champ, tf, dfT, st, qs,
      "query_id", "text", k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3), r.getLong(4)))
    val byQ = got.groupBy(_._1)
    assert(byQ(1L).forall(_._5 == 1L) && byQ(1L).size === 3)
    assert(byQ(2L).forall(_._5 == 2L) && byQ(2L).size === 3)
    assert(!byQ.contains(3L))
    // tier-2 rows are exactly the full-index probe's
    val full = Retrieval.bm25TopK(
      Retrieval.bm25ScoresPrecomputed(tf, dfT, st,
        qs.filter(col("query_id") === 2L), "query_id", "text"), 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSet
    assert(byQ(2L).map(t => (t._1, t._2, t._3, t._4)).toSet === full)
    // tier-1 rows are exactly the champion probe's
    val champProbe = Retrieval.bm25TopK(
      Retrieval.bm25ScoresPrecomputed(champ, dfT, st,
        qs.filter(col("query_id") === 1L), "query_id", "text"), 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSet
    assert(byQ(1L).map(t => (t._1, t._2, t._3, t._4)).toSet === champProbe)
  }

  test("tiered retrieval is bitwise unchanged under a WAND tier 2") {
    // WAND is score-exact, so routing the residual batch through it
    // (any hotDf, with or without impact metadata) must leave the
    // tiered output identical — rows, scores, ranks, tier labels
    val rnd = new scala.util.Random(225)
    val c = (1L to 80L).map { id =>
      id -> Seq.fill(6 + rnd.nextInt(6))(
        s"tok${40 / (rnd.nextInt(40) + 1)}").mkString(" ")
    }.toDF("doc_id", "text")
    val qs = (200L to 207L).map { id =>
      id -> (Seq.fill(1)(s"tok${40 / (rnd.nextInt(40) + 1)}") ++
        Seq.fill(1)(s"tok${13 + rnd.nextInt(28)}")).mkString(" ")
    }.toDF("query_id", "text")
    val (tf, dfT, st) = indexTriple(c)
    val champ = Retrieval.championPostings(tf, m = 2).localCheckpoint()
    val imp = Retrieval.impactStats(tf).localCheckpoint()
    def rows(d: DataFrame): Set[(Long, Long, Double, Int, Long)] =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3), r.getLong(4))).toSet
    val plain = rows(Retrieval.bm25TopKTiered(champ, tf, dfT, st, qs,
      "query_id", "text", k = 4))
    // the fixture must actually route somewhere for the pin to bite
    assert(plain.exists(_._5 == 2L), "no query routed to tier 2")
    for (hotDf <- Seq(0L, 3L, 10L, 1000L)) {
      assert(rows(Retrieval.bm25TopKTiered(champ, tf, dfT, st, qs,
        "query_id", "text", k = 4, hotDf = Some(hotDf))) === plain,
        s"hotDf=$hotDf")
      assert(rows(Retrieval.bm25TopKTiered(champ, tf, dfT, st, qs,
        "query_id", "text", k = 4, hotDf = Some(hotDf),
        impact = Some(imp))) === plain, s"impact hotDf=$hotDf")
    }
  }

  test("QL tiered retrieval routes like BM25's and is bitwise unchanged " +
    "under a WAND tier 2") {
    val rnd = new scala.util.Random(231)
    val c = (1L to 80L).map { id =>
      id -> Seq.fill(6 + rnd.nextInt(6))(
        s"tok${40 / (rnd.nextInt(40) + 1)}").mkString(" ")
    }.toDF("doc_id", "text")
    val qs = (200L to 207L).map { id =>
      id -> (Seq.fill(1)(s"tok${40 / (rnd.nextInt(40) + 1)}") ++
        Seq.fill(1)(s"tok${13 + rnd.nextInt(28)}")).mkString(" ")
    }.toDF("query_id", "text")
    val (tf, dfT, st) = indexTriple(c)
    val cfT = Retrieval.cfTable(tf).localCheckpoint()
    val champ = Retrieval.championPostings(tf, m = 2).localCheckpoint()
    val imp = Retrieval.impactStats(tf).localCheckpoint()
    def rows(d: DataFrame): Set[(Long, Long, Double, Int, Long)] =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3), r.getLong(4))).toSet
    val plain = rows(Retrieval.qlTopKTiered(champ, tf, cfT, st, dfT, qs,
      "query_id", "text", k = 4))
    assert(plain.exists(_._5 == 2L), "no query routed to tier 2")
    assert(plain.exists(_._5 == 1L), "no query filled from tier 1")
    // tier-1 rows are exactly the champion QL probe's for filled
    // queries; tier-2 exactly the full QL probe's for routed ones
    val champProbe = rows(Retrieval.bm25TopK(
      Retrieval.qlDirichletScores(champ, cfT, st, qs,
        "query_id", "text"), 4)
      .withColumn("tier", lit(1L)))
    for (r <- plain if r._5 == 1L)
      assert(champProbe.contains(r), s"tier-1 row not the champ probe: $r")
    val fullProbe = rows(Retrieval.bm25TopK(
      Retrieval.qlDirichletScores(tf, cfT, st, qs,
        "query_id", "text"), 4)
      .withColumn("tier", lit(2L)))
    for (r <- plain if r._5 == 2L)
      assert(fullProbe.contains(r), s"tier-2 row not the full probe: $r")
    // WAND tier-2 (any hotDf, with impact) leaves everything bitwise
    for (hotDf <- Seq(0L, 3L, 1000L))
      assert(rows(Retrieval.qlTopKTiered(champ, tf, cfT, st, dfT, qs,
        "query_id", "text", k = 4, hotDf = Some(hotDf),
        impact = Some(imp))) === plain, s"hotDf=$hotDf")
  }

  test("pair-restricted LTR features equal the full table semi-joined") {
    // the cascade shape: candidates' terms fetch doc-wise through the
    // forward layout, and the feature rows must be BITWISE the
    // word-keyed full table's — including a pair matching zero query
    // terms, which has no row on either path
    val rnd = new scala.util.Random(232)
    val c = (1L to 60L).map { id =>
      id -> Seq.fill(5 + rnd.nextInt(6))(
        s"tok${20 / (rnd.nextInt(20) + 1)}").mkString(" ")
    }.toDF("doc_id", "text")
    val qs = (300L to 306L).map { id =>
      id -> Seq.fill(3)(s"tok${20 / (rnd.nextInt(20) + 1)}").mkString(" ")
    }.toDF("query_id", "text")
    val (tf, dfT, st) = indexTriple(c)
    val cfT = Retrieval.cfTable(tf).localCheckpoint()
    def rows(d: DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getDouble(3), r.getLong(4), r.getDouble(5),
          r.getLong(6), r.getDouble(7)))).toMap
    val full = Retrieval.ltrFeatures(tf, dfT, cfT, st, qs,
      "query_id", "text").localCheckpoint()
    // candidates: a top-3 slice plus a zero-match pair (doc 1 never
    // shares a term with query 300 in this seed? force one: a pair
    // with an id absent from the corpus — no rows either way)
    val pairs = Retrieval.bm25TopK(
      Retrieval.bm25ScoresPrecomputed(tf, dfT, st, qs,
        "query_id", "text"), 3)
      .select(col("queryId"), col("docId"))
      .unionByName(Seq((300L, 9999L)).toDF("queryId", "docId"))
      .localCheckpoint()
    val restricted = Retrieval.ltrFeaturesForPairs(tf, dfT, cfT, st,
      qs, "query_id", "text", pairs)
    assert(rows(restricted) ===
      rows(full.join(pairs, Seq("queryId", "docId"), "left_semi")))
    assert(rows(restricted).nonEmpty)
  }

  test("LTR features carry the standalone scorers bitwise") {
    val rnd = new scala.util.Random(219)
    val c = (1L to 60L).map { id =>
      id -> Seq.fill(5 + rnd.nextInt(6))(
        s"tok${20 / (rnd.nextInt(20) + 1)}").mkString(" ")
    }.toDF("doc_id", "text")
    val (tf, dfT, st) = indexTriple(c)
    val cfT = Retrieval.cfTable(tf).localCheckpoint()
    val qs = (300L to 306L).map { id =>
      id -> (Seq.fill(3)(s"tok${20 / (rnd.nextInt(20) + 1)}") :+
        "absentterm").mkString(" ")
    }.toDF("query_id", "text")
    val feats = Retrieval.ltrFeatures(tf, dfT, cfT, st, qs,
      "query_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getDouble(3), r.getLong(4), r.getDouble(5),
          r.getLong(6)))).toMap
    val bm = Retrieval.bm25ScoresPrecomputed(tf, dfT, st, qs,
      "query_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val ql = Retrieval.qlDirichletScores(tf, cfT, st, qs,
      "query_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(feats.keySet === bm.keySet && feats.keySet === ql.keySet)
    for ((k, (fb, fq, nm, cov, dl)) <- feats) {
      assert(fb === bm(k), s"$k bm25") // bitwise
      assert(fq === ql(k), s"$k ql") // bitwise
      assert(nm >= 1 && dl >= 1)
      // coverage divides by the FULL term count incl. the absent term
      assert(cov > 0.0 && cov < 1.0, s"$k coverage=$cov")
    }
  }

  test("NOT retrieval excludes negative-term docs, keeps scores intact") {
    val c = docs(
      1L -> "apple banana cherry",
      2L -> "apple banana",
      3L -> "apple date",
      4L -> "banana fig")
    val tf = Retrieval.termFrequencies(c, "doc_id", "text").localCheckpoint()
    val dfT = Retrieval.dfTable(tf).localCheckpoint()
    val st = Retrieval.corpusStats(tf).localCheckpoint()
    val qs = Seq((1L, "apple banana", "cherry"),
      (2L, "apple", "zzz")) // absent negative excludes nothing
      .toDF("query_id", "text", "neg")
    val got = Retrieval.bm25TopKNot(tf, dfT, st, qs,
      "query_id", "text", "neg", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // query 1: doc 1 contains "cherry" -> excluded; 2, 3, 4 remain
    assert(got.filter(_._1 == 1L).map(_._2) === Set(2L, 3L, 4L))
    // query 2: nothing excluded; all apple docs present
    assert(got.filter(_._1 == 2L).map(_._2) === Set(1L, 2L, 3L))
    // surviving scores are bitwise the plain scores (no rescoring)
    val plain = Retrieval.bm25ScoresPrecomputed(tf, dfT, st, qs,
      "query_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    Retrieval.bm25TopKNot(tf, dfT, st, qs, "query_id", "text",
      "neg", k = 5).collect().foreach { r =>
      assert(r.getDouble(2) === plain((r.getLong(0), r.getLong(1))))
    }
  }

  test("MMR pushes a near-duplicate below a novel doc; marginals by hand") {
    // pool: doc 1 (score 1.0), doc 2 (0.95, near-dup of 1: sim 0.9),
    // doc 3 (0.5, novel: sim 0.1 to both). Plain ranking: 1, 2, 3.
    // MMR at lambda 0.5: step 2 marginal of doc 2 = .5*.95-.5*.9 =
    // 0.025 < doc 3's .5*.5-.5*.1 = 0.2 -> 3 overtakes 2.
    val pool = Seq((1L, 1L, 1.0), (1L, 2L, 0.95), (1L, 3L, 0.5))
      .toDF("queryId", "docId", "score")
    val sims = Seq(
      (1L, 1L, 2L, 0.9), (1L, 2L, 1L, 0.9),
      (1L, 1L, 3L, 0.1), (1L, 3L, 1L, 0.1),
      (1L, 2L, 3L, 0.1), (1L, 3L, 2L, 0.1))
      .toDF("queryId", "docA", "docB", "sim")
    val got = Retrieval.mmrRerank(pool, sims, k = 3, lambda = 0.5)
      .collect()
      .map(r => r.getLong(3) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got(1L)._1 === 1L && got(2L)._1 === 3L && got(3L)._1 === 2L)
    assert(math.abs(got(1L)._2 - 0.5) < 1e-12)
    assert(math.abs(got(2L)._2 - 0.2) < 1e-12)
    // step 3: doc 2's max sim over {1, 3} = 0.9
    assert(math.abs(got(3L)._2 - (0.5 * 0.95 - 0.5 * 0.9)) < 1e-12)
  }

  test("MMR treats missing sim rows as zero similarity") {
    // a SPARSE matrix (only the near-dup pair is present — the
    // above-threshold ANN-pairs shape): docs without rows keep their
    // full lambda*score marginal and nothing silently drops
    val pool = Seq((1L, 1L, 1.0), (1L, 2L, 0.95), (1L, 3L, 0.5))
      .toDF("queryId", "docId", "score")
    val sparse = Seq((1L, 1L, 2L, 0.9), (1L, 2L, 1L, 0.9))
      .toDF("queryId", "docA", "docB", "sim")
    val got = Retrieval.mmrRerank(pool, sparse, k = 3, lambda = 0.5)
      .collect()
      .map(r => r.getLong(3) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got.size === 3, "no candidate may vanish")
    assert(got(1L)._1 === 1L)
    // doc 3 has NO sim rows: marginal stays 0.5*0.5 = 0.25 > doc 2's
    // 0.5*0.95 - 0.5*0.9 = 0.025
    assert(got(2L)._1 === 3L && math.abs(got(2L)._2 - 0.25) < 1e-12)
    assert(got(3L)._1 === 2L)
  }

  test("pool token sims are symmetric exact Jaccard with zero rows kept") {
    val c = docs(
      1L -> "apple banana cherry",
      2L -> "apple banana date",
      3L -> "elder fig")
    val tf = Retrieval.termFrequencies(c, "doc_id", "text").localCheckpoint()
    val pool = Seq((9L, 1L, 2.0), (9L, 2L, 1.5), (9L, 3L, 1.0))
      .toDF("queryId", "docId", "score").localCheckpoint()
    val got = Retrieval.poolTokenSims(tf, pool).collect()
      .map(r => (r.getLong(1), r.getLong(2)) -> r.getDouble(3)).toMap
    assert(got.size === 6) // full ordered matrix
    assert(math.abs(got((1L, 2L)) - 2.0 / 4.0) < 1e-12)
    assert(got((1L, 2L)) === got((2L, 1L)))
    assert(got((1L, 3L)) === 0.0) // zero-overlap pair present
  }

  test("WAND first pass reproduces the unpruned RM3 expansion bitwise") {
    val rnd = new scala.util.Random(77)
    val c = (1L to 60L).map { id =>
      id -> Seq.fill(8)(s"tok${30 / (rnd.nextInt(30) + 1)}").mkString(" ")
    }.toDF("doc_id", "text")
    val qs = (300L to 305L).map { id =>
      id -> Seq.fill(3)(s"tok${30 / (rnd.nextInt(30) + 1)}").mkString(" ")
    }.toDF("query_id", "text")
    val (tf, dfT, st) = indexTriple(c)
    def weights(wand: Option[Long]): Map[(Long, String), Double] =
      Retrieval.rm3ExpandedTerms(tf, dfT, st, qs, "query_id", "text",
        k = 4, m = 6, lambda = 0.5, wandHotDf = wand)
        .collect()
        .map(r => (r.getLong(0), r.getString(1)) -> r.getDouble(2)).toMap
    val plain = weights(None)
    for (hd <- Seq(0L, 5L, 100L))
      assert(weights(Some(hd)) === plain, s"wandHotDf=$hd") // bitwise
    // ...and with the impact-tightened bound in the first pass
    val imp = Retrieval.impactStats(tf).localCheckpoint()
    def weightsImp(hd: Long): Map[(Long, String), Double] =
      Retrieval.rm3ExpandedTerms(tf, dfT, st, qs, "query_id", "text",
        k = 4, m = 6, lambda = 0.5, wandHotDf = Some(hd),
        wandImpact = Some(imp))
        .collect()
        .map(r => (r.getLong(0), r.getString(1)) -> r.getDouble(2)).toMap
    for (hd <- Seq(0L, 5L, 100L))
      assert(weightsImp(hd) === plain, s"impact wandHotDf=$hd") // bitwise
  }

  private def phraseOcc(c: DataFrame, qs: DataFrame)
      : Map[(Long, Long), Long] =
    Retrieval.phraseMatches(
      Retrieval.positionalPostings(c, "doc_id", "text"),
      qs, "query_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap

  test("phrase matching counts overlapping occurrences at exact positions") {
    val c = docs(
      1L -> "a b a b a",
      2L -> "b a b",
      3L -> "a a b",
      4L -> "c c c")
    // "a b a" occurs in doc 1 at starts 0 AND 2 (overlap counts); in
    // doc 2 never (starts at b); doc 3 has the words but not the order
    assert(phraseOcc(c, Seq((10L, "a b a")).toDF("query_id", "text"))
      === Map((10L, 1L) -> 2L))
    // single-word phrase = occurrence count of the term
    assert(phraseOcc(c, Seq((11L, "a")).toDF("query_id", "text"))
      === Map((11L, 1L) -> 3L, (11L, 2L) -> 1L, (11L, 3L) -> 2L))
    // absent phrase -> no row; scattered-but-not-contiguous -> no row
    assert(phraseOcc(c, Seq((12L, "a c")).toDF("query_id", "text"))
      .isEmpty)
  }

  test("phrase matching normalizes like the corpus tokenizer") {
    val c = docs(1L -> "The Quick, brown FOX! jumps")
    assert(phraseOcc(c,
      Seq((20L, "quick BROWN fox")).toDF("query_id", "text"))
      === Map((20L, 1L) -> 1L))
  }

  test("duplicate words in a phrase require distinct aligned offsets") {
    val c = docs(1L -> "x x y", 2L -> "x y x")
    // "x x" needs two CONSECUTIVE x's: doc 1 yes (start 0), doc 2 no
    assert(phraseOcc(c, Seq((30L, "x x")).toDF("query_id", "text"))
      === Map((30L, 1L) -> 1L))
  }

  test("phrase matching against a plain-Scala sliding-window reference") {
    val rnd = new scala.util.Random(188)
    val vocab = Seq("a", "b", "c", "d")
    val corpusRows = (1L to 30L).map { id =>
      id -> Seq.fill(3 + rnd.nextInt(10))(
        vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    val queryRows = (100L to 105L).map { id =>
      id -> Seq.fill(1 + rnd.nextInt(3))(
        vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    val expected = (for {
      (qid, qt) <- queryRows
      q = qt.split(" ").toSeq
      (did, dt) <- corpusRows
      d = dt.split(" ").toSeq
      n = d.sliding(q.length).count(_ == q) if n > 0
    } yield (qid, did) -> n.toLong).toMap
    assert(phraseOcc(corpusRows.toDF("doc_id", "text"),
      queryRows.toDF("query_id", "text")) === expected)
  }

  test("compacted positional index equals the rebuild on the union") {
    val rnd = new scala.util.Random(193)
    def randDocs(ids: Range): Seq[(Long, String)] = ids.map { id =>
      id.toLong -> Seq.fill(4 + rnd.nextInt(8))(
        s"w${rnd.nextInt(9)}").mkString(" ")
    }
    val base = randDocs(1 to 40).toDF("doc_id", "text")
    val batch1 = randDocs(41 to 55).toDF("doc_id", "text")
    val batch2 = randDocs(56 to 60).toDF("doc_id", "text")
    def posts(c: DataFrame) =
      Retrieval.positionalPostings(c, "doc_id", "text")
    def rows(p: DataFrame): Set[(Long, Long, String)] =
      p.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        .toSet
    // chained appends == one rebuild over the union
    val chained = Retrieval.compactPositionalIndex(
      Retrieval.compactPositionalIndex(posts(base), posts(batch1),
        assertDisjoint = true),
      posts(batch2), assertDisjoint = true)
    val rebuilt = posts(base.unionByName(batch1).unionByName(batch2))
    assert(rows(chained) === rows(rebuilt))
    // a phrase probe through the compacted layout matches the rebuild
    val qs = Seq((900L, "w1 w2")).toDF("query_id", "text")
    def occ(p: DataFrame): Map[(Long, Long), Long] =
      Retrieval.phraseMatches(p, qs, "query_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
        .toMap
    assert(occ(chained) === occ(rebuilt))
    // deletion: anti-join == survivor rebuild; unknown ids no-op
    val del = Seq(5L, 41L, 999L).toDF("docId")
    val deleted = Retrieval.compactPositionalIndexDeleted(chained, del)
    val survivors = posts(base.unionByName(batch1).unionByName(batch2)
      .filter(!col("doc_id").isin(5L, 41L)))
    assert(rows(deleted) === rows(survivors))
    // the ingest-contract guard trips on a reused id
    val bad = Retrieval.compactPositionalIndex(posts(base),
      posts(randDocs(40 to 42).toDF("doc_id", "text")),
      assertDisjoint = true)
    val e = intercept[Exception] { bad.count() }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("batch reuses")))
  }

  test("snippet windows cover the most distinct query terms, ties leftmost") {
    val c = docs(
      1L -> "a b c x x a b",
      2L -> "x a x x c x b",
      3L -> "x x x x")
    val posts = Retrieval.positionalPostings(c, "doc_id", "text")
      .localCheckpoint()
    val qs = Seq((10L, "a b c")).toDF("query_id", "text")
    def wins(width: Int, pairs: Option[DataFrame] = None)
        : Map[(Long, Long), (Long, Long)] =
      Retrieval.snippetWindows(posts, qs, "query_id", "text", width, pairs)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          (r.getLong(2), r.getLong(3))).toMap
    // width 3: doc 1's [0,2] = {a,b,c} wins outright; doc 2's best
    // covers 2 terms, first at start 4 ({c,b} in [4,6]); doc 3 absent
    assert(wins(3) === Map((10L, 1L) -> (0L, 3L), (10L, 2L) -> (4L, 2L)))
    // width 1: every window has one term; leftmost occurrence wins
    assert(wins(1) === Map((10L, 1L) -> (0L, 1L), (10L, 2L) -> (1L, 1L)))
    // width 7: doc 2 now covers all three from its first occurrence
    assert(wins(7) === Map((10L, 1L) -> (0L, 3L), (10L, 2L) -> (1L, 3L)))
    // pairs restriction: only the requested (query, doc) rows compute
    val only2 = wins(3, Some(Seq((10L, 2L)).toDF("queryId", "docId")))
    assert(only2 === Map((10L, 2L) -> (4L, 2L)))
  }

  test("QL Dirichlet scores match the hand-derived decomposition") {
    val tf = Retrieval.termFrequencies(corpus, "doc_id", "text")
      .localCheckpoint()
    val cfT = Retrieval.cfTable(tf)
    val st = Retrieval.corpusStats(tf)
    // corpus: doc1 'apple banana apple', doc2 'banana cherry',
    // doc3 'cherry cherry cherry date' -> |C| = 9 tokens;
    // cf: apple 2, banana 2, cherry 4, date 1
    val qs = Seq((1L, "apple cherry"), (2L, "apple zzz"))
      .toDF("query_id", "text")
    val got = Retrieval.qlDirichletScores(tf, cfT, st, qs,
      "query_id", "text", mu = 10.0)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    def ql(terms: Seq[(Long, Long)], nq: Long, dl: Long): Double =
      terms.map { case (tfv, cf) =>
        math.log(1.0 + tfv.toDouble * 9.0 / (10.0 * cf.toDouble))
      }.sum + nq.toDouble * math.log(10.0 / (dl.toDouble + 10.0))
    assert(got((1L, 1L)) === ql(Seq((2L, 2L)), 2L, 3L)) // apple tf2
    assert(got((1L, 2L)) === ql(Seq((1L, 4L)), 2L, 2L)) // cherry tf1
    assert(got((1L, 3L)) === ql(Seq((3L, 4L)), 2L, 4L)) // cherry tf3
    // 'zzz' is corpus-absent: it drops from the model, |q| = 1
    assert(got((2L, 1L)) === ql(Seq((2L, 2L)), 1L, 3L))
    assert(!got.contains((2L, 3L))) // no shared term, no row
    // cf is additive across micro-batches, subtractive under deletes
    val batch = Retrieval.termFrequencies(
      docs(9L -> "apple date fig"), "doc_id", "text")
    val merged = Retrieval.cfTable(tf.unionByName(batch)).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val added = Retrieval.cfTable(tf).unionByName(Retrieval.cfTable(batch))
      .groupBy("word").agg(sum(col("cf")).as("cf")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(merged === added)
  }

  test("phrase-constrained top-k equals scores semi-joined on containment") {
    val rnd = new scala.util.Random(195)
    val c = (1L to 70L).map { id =>
      id -> Seq.fill(5 + rnd.nextInt(8))(s"w${rnd.nextInt(7)}")
        .mkString(" ")
    }.toDF("doc_id", "text")
    // phrases of length 1-3 over the same vocabulary, plus one with a
    // corpus-absent word (matches nothing, returns no rows)
    val qs = Seq((500L, "w1 w2"), (501L, "w3"), (502L, "w0 w0 w4"),
      (503L, "w1 zz")).toDF("query_id", "text")
    val (tf, dfT, st) = indexTriple(c)
    val posts = Retrieval.positionalPostings(c, "doc_id", "text")
      .localCheckpoint()
    val got = topkSet(Retrieval.bm25TopKPhrase(tf, dfT, st, posts, qs,
      "query_id", "text", k = 4))
    // the reference formulation: full scores semi-joined on matches
    val matches = Retrieval.phraseMatches(posts, qs, "query_id", "text")
      .select("queryId", "docId")
    val want = topkSet(Retrieval.bm25TopK(
      Retrieval.bm25ScoresPrecomputed(tf, dfT, st, qs,
        "query_id", "text")
        .join(matches, Seq("queryId", "docId"), "left_semi"), 4))
    assert(got === want) // bitwise
    assert(!got.exists(_._1 == 503L)) // absent-word phrase: no rows
    // every ranked doc really contains its phrase
    val matchSet = matches.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.forall(r => matchSet((r._1, r._2))))
  }

  test("passage segmentation + MaxP evidence match the by-hand windows") {
    import graft.operators.Chunking
    // doc 1: 40 tokens -> windows at 0 and 16 (width 32, stride 16);
    // doc 2: 10 tokens -> one short window; doc 3: exactly 32 -> one
    val c = docs(
      1L -> (1 to 40).map(i => s"w$i").mkString(" "),
      2L -> (1 to 10).map(i => s"x$i").mkString(" "),
      3L -> (1 to 32).map(i => s"y$i").mkString(" "))
    val pass = Chunking.tokenPassages(c, "doc_id", "text",
      width = 32, stride = 16)
      .collect().map(r => r.getString(1) ->
        (r.getLong(0), r.getString(2))).toMap
    assert(pass.keySet === Set("1:0", "1:1", "2:0", "3:0"))
    assert(pass("1:0")._2 === (1 to 32).map(i => s"w$i").mkString(" "))
    assert(pass("1:1")._2 === (17 to 40).map(i => s"w$i").mkString(" "))
    assert(pass("2:0")._2 === (1 to 10).map(i => s"x$i").mkString(" "))
    // digest parity with tokenChunks: same windows, same content
    val chunkMd5 = Chunking.tokenChunks(c, "doc_id", "text", 32, 16)
      .collect().map(r => s"${r.getLong(0)}:${r.getLong(1)}" ->
        r.getString(3)).toMap
    import java.security.MessageDigest
    def md5(s: String) = MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(pass.map { case (k, (_, t)) => k -> md5(t) } === chunkMd5)
    // MaxP: a doc's score is the max over its passages
    val ps = Seq((9L, "1:0", 2.5), (9L, "1:1", 4.0), (9L, "2:0", 1.0))
      .toDF("queryId", "docId", "score")
    val maxp = Retrieval.maxPassageScores(ps,
      Seq(("1:0", 1L), ("1:1", 1L), ("2:0", 2L), ("3:0", 3L))
        .toDF("passageId", "docId"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    assert(maxp === Map((9L, 1L) -> 4.0, (9L, 2L) -> 1.0))
  }

  test("BM25F matches the hand-derived pseudo-tf decomposition") {
    val fielded = Seq(
      (1L, "title", "apple pie"),
      (1L, "body", "apple banana apple crumble"),
      (2L, "title", "banana"),
      (2L, "body", "cherry banana"),
      (3L, "title", "cherry tart"))
      .toDF("doc_id", "field", "text")
    val ftf = Retrieval.termFrequenciesFielded(fielded,
      "doc_id", "field", "text").localCheckpoint()
    val qs = Seq((1L, "apple banana")).toDF("query_id", "text")
    val got = Retrieval.bm25fScores(ftf,
      Seq(("title", 2.0, 0.5), ("body", 1.0, 0.75)),
      qs, "query_id", "text")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // mirrors of the operator's exact double trees: avgfl = exact-sum
    // division, B = (1-b) + (b*fl)/avg, ptf folds FIELD-sorted
    // ('body' < 'title'), contributions fold WORD-sorted
    val avgT = 5.0 / 3.0; val avgB = 6.0 / 2.0
    def bf(b: Double, fl: Double, avg: Double) = (1.0 - b) + (b * fl) / avg
    // Spark's log() is StrictMath.log (platform-independent) — one
    // ulp off math.log for some arguments, so the mirror matches it
    def idf(df: Double) =
      StrictMath.log(1.0 + (3.0 - df + 0.5) / (df + 0.5))
    def c(idfv: Double, ptf: Double) = idfv * ptf / (1.2 + ptf)
    val ptfApple1 = 1.0 * 2.0 / bf(0.75, 4.0, avgB) +
      2.0 * 1.0 / bf(0.5, 2.0, avgT) // body fold-first, then title
    val ptfBan1 = 1.0 * 1.0 / bf(0.75, 4.0, avgB)
    val ptfBan2 = 1.0 * 1.0 / bf(0.75, 2.0, avgB) +
      2.0 * 1.0 / bf(0.5, 1.0, avgT)
    assert(got((1L, 1L)) === c(idf(1.0), ptfApple1) + c(idf(2.0), ptfBan1))
    assert(got((1L, 2L)) === c(idf(2.0), ptfBan2))
    assert(!got.contains((1L, 3L))) // no query term in any field
  }

  test("single-field unit-weight BM25F is BM25 / (k1+1)") {
    // (tf/B)/(k1 + tf/B) == tf(k1+1)/(tf + k1·B) / (k1+1): same
    // ranking, scores equal to ulps despite the different double trees
    val fielded = corpus.select(col("doc_id"), lit("text").as("field"),
      col("text"))
    val ftf = Retrieval.termFrequenciesFielded(fielded,
      "doc_id", "field", "text").localCheckpoint()
    val qs = corpus.select(col("doc_id").as("query_id"), col("text"))
    val f = Retrieval.bm25fScores(ftf, Seq(("text", 1.0, 0.75)),
      qs, "query_id", "text")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val b = scores2(corpus, qs)
    assert(f.keySet === b.keySet && f.nonEmpty)
    for ((k, v) <- f)
      assert(math.abs(v - b(k) / 2.2) <= 1e-12 * math.abs(v), s"$k")
  }

  test("conjunctive top-k keeps only all-terms docs, scores them fully") {
    val c = docs(
      1L -> "apple banana cherry filler",
      2L -> "apple banana date",
      3L -> "apple only here",
      4L -> "banana cherry apple apple")
    val qs = Seq((10L, "apple banana"), (11L, "apple zzz"),
      (12L, "cherry")).toDF("query_id", "text")
    val (tf, dfT, st) = indexTriple(c)
    val got = topkSet(Retrieval.bm25TopKConjunctive(tf, dfT, st, qs,
      "query_id", "text", k = 3))
    // reference: full scores semi-joined on the all-terms docs
    assert(got.filter(_._1 == 10L).map(_._2) === Set(1L, 2L, 4L))
    assert(!got.exists(_._1 == 11L), "absent term fails the conjunction")
    assert(got.filter(_._1 == 12L).map(_._2) === Set(1L, 4L))
    // scores are the FULL BM25 scores, not candidates-only arithmetic
    val full = Retrieval.bm25ScoresPrecomputed(tf, dfT, st, qs,
      "query_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got.forall(r => full((r._1, r._2)) === r._3)) // bitwise
  }

  test("linearFuse min-max normalizes per query and weights the sum") {
    val bm = Seq((1L, 101L, 10.0), (1L, 102L, 6.0), (1L, 103L, 2.0),
      (2L, 201L, 3.0))
      .toDF("queryId", "docId", "score")
    val ql = Seq((1L, 102L, -1.0), (1L, 104L, -3.0), (2L, 201L, -5.0))
      .toDF("queryId", "docId", "score")
    val got = Retrieval.linearFuse(Seq((bm, 0.7), (ql, 0.3)), k = 10)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // query 1: bm norms 1/0.5/0, ql norms 1/0; absent list = 0
    assert(got((1L, 101L)) === 0.7 * 1.0)
    assert(got((1L, 102L)) === 0.7 * 0.5 + 0.3 * 1.0)
    assert(got((1L, 103L)) === 0.7 * 0.0)
    assert(got((1L, 104L)) === 0.3 * 0.0 + 0.0)
    // a single-distinct-score list normalizes to 1.0 on both sides
    assert(got((2L, 201L)) === 0.7 * 1.0 + 0.3 * 1.0)
    // ranking: fused desc, docId ties
    val ranks = Retrieval.linearFuse(Seq((bm, 0.7), (ql, 0.3)), k = 2)
      .filter(col("queryId") === 1L)
      .orderBy("rank").collect().map(_.getLong(1)).toSeq
    assert(ranks === Seq(101L, 102L)) // 0.7 > 0.65
    // duplicated pairs within one input collapse to max(score) — a
    // raw match table cannot inflate the fused sum (rrfFuse's
    // convention on the score side)
    val dup = bm.unionByName(Seq((1L, 102L, 4.0))
      .toDF("queryId", "docId", "score"))
    val collapsed = Retrieval.linearFuse(Seq((dup, 0.7), (ql, 0.3)),
      k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(collapsed === got)
  }

  test("maxAnchorOcc refuses a hot-anchored phrase, passes under the cap") {
    // every term of the phrase is in >= 6 docs: the rarest term is
    // still hot at cap 3, so the probe must fail loudly; cap 100
    // (or the default -1) runs it
    val c = docs((1L to 8L).map(id => id -> "x y x y"): _*)
    val posts = Retrieval.positionalPostings(c, "doc_id", "text")
      .localCheckpoint()
    val qs = Seq((7L, "x y x")).toDF("query_id", "text")
    val ok = Retrieval.phraseMatches(posts, qs, "query_id", "text",
      maxAnchorOcc = 100L)
    assert(ok.count() === 8L)
    val guarded = Retrieval.phraseMatches(posts, qs, "query_id", "text",
      maxAnchorOcc = 3L)
    val e = intercept[Exception] { guarded.count() }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("maxAnchorOcc")),
      s"got: ${messages(e)}")
  }

  test("proximity matching against a plain-Scala minimal-window reference") {
    val rnd = new scala.util.Random(196)
    val corpusRows = (1L to 50L).map { id =>
      id -> Seq.fill(3 + rnd.nextInt(10))(s"w${rnd.nextInt(5)}")
        .mkString(" ")
    }
    // lengths 1-3, duplicate words, and a corpus-absent term
    val queryRows = Seq((600L, "w0 w1"), (601L, "w2"), (602L, "w0 w0"),
      (603L, "w1 w2 w3"), (604L, "w4 zz"))
    // brute force: min over ALL increasing position tuples matching
    // the term order, windows capped at n + slop
    def minWindow(doc: Array[String], phrase: Array[String],
                  cap: Int): Option[Long] = {
      var best = Option.empty[Long]
      def go(offset: Int, first: Int, last: Int): Unit =
        if (offset == phrase.length) {
          val win = (last - first + 1).toLong
          if (win <= cap && best.forall(win < _)) best = Some(win)
        } else {
          val lo = if (offset == 0) 0 else last + 1
          for (p <- lo until doc.length if doc(p) == phrase(offset))
            go(offset + 1, if (offset == 0) p else first, p)
        }
      go(0, 0, -1)
      best
    }
    val posts = Retrieval.positionalPostings(
      corpusRows.toDF("doc_id", "text"), "doc_id", "text")
      .localCheckpoint()
    val qs = queryRows.toDF("query_id", "text")
    for (slop <- Seq(0, 1, 3)) {
      val got = Retrieval.proximityMatches(posts, qs,
        "query_id", "text", slop)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
        .toMap
      val want = (for {
        (qid, ptext) <- queryRows
        (did, dtext) <- corpusRows
        phrase = ptext.split(" ")
        win <- minWindow(dtext.split(" "), phrase, phrase.length + slop)
      } yield (qid, did) -> win).toMap
      assert(got === want, s"slop=$slop")
    }
    // slop = 0 degenerates to exact containment: same matched pairs,
    // every window exactly the phrase length
    val exact = Retrieval.phraseMatches(posts, qs, "query_id", "text")
      .select("queryId", "docId").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val prox0 = Retrieval.proximityMatches(posts, qs,
      "query_id", "text", slop = 0).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
    assert(prox0.map(_._1).toSet === exact)
    val nOf = queryRows.toMap.map { case (q, t) =>
      q -> t.split(" ").length.toLong }
    assert(prox0.forall { case ((q, _), w) => w === nOf(q) })
  }

  test("RM3 weights are a probability mix; λ endpoints recover each side") {
    val c = docs(
      1L -> "apple banana apple cherry",
      2L -> "banana cherry banana",
      3L -> "cherry date elder",
      4L -> "fig grape")
    val qs = Seq((1L, "apple cherry zzz")).toDF("query_id", "text")
    val (tf, dfT, st) = indexTriple(c)
    def weights(lambda: Double, m: Int = 10): Map[String, Double] =
      Retrieval.rm3ExpandedTerms(tf, dfT, st, qs, "query_id", "text",
        k = 2, m = m, lambda = lambda)
        .collect().map(r => r.getString(1) -> r.getDouble(2)).toMap
    val w = weights(0.5)
    // the mix is a probability distribution (both halves sum to 1)
    assert(math.abs(w.values.sum - 1.0) < 1e-12)
    // original terms keep at least λ/|Q| — including 'zzz', absent
    // from the corpus (weight-table contract)
    for (t <- Seq("apple", "cherry", "zzz"))
      assert(w(t) >= 0.5 / 3 - 1e-12, s"$t: ${w.get(t)}")
    // λ=1: exactly the uniform original query
    assert(weights(1.0) === Map("apple" -> 1.0 / 3, "cherry" -> 1.0 / 3,
      "zzz" -> 1.0 / 3))
    // λ=0: pure feedback distribution — only feedback-doc vocabulary,
    // sums to 1
    val fb = weights(0.0)
    assert(math.abs(fb.values.sum - 1.0) < 1e-12)
    assert(!fb.contains("zzz") && !fb.contains("grape"))
    // truncation: m=1 keeps exactly one feedback term
    val t1 = weights(0.0, m = 1)
    assert(t1.size === 1 && math.abs(t1.values.sum - 1.0) < 1e-12)
  }

  test("empty-feedback queries keep the original uniform query at any λ") {
    // q50's terms are all corpus-absent: zero feedback docs, zero
    // feedback terms — the RM3 fallback keeps the original query at
    // uniform 1/|Q| instead of dropping it at λ < 1. q51 (with
    // feedback) is unaffected by the fallback path.
    val qs = Seq((50L, "zzz yyy"), (51L, "apple")).toDF("query_id", "text")
    val (tf, dfT, st) = indexTriple(corpus)
    for (lambda <- Seq(0.0, 0.25, 1.0)) {
      val w = Retrieval.rm3ExpandedTerms(tf, dfT, st, qs,
        "query_id", "text", k = 2, m = 10, lambda = lambda)
        .filter(col("queryId") === 50L)
        .collect().map(r => r.getString(1) -> r.getDouble(2)).toMap
      assert(w === Map("zzz" -> 0.5, "yyy" -> 0.5), s"λ=$lambda: $w")
    }
    // the cap emptying a query's candidate set triggers the same
    // fallback: every feedback term of q51 is hotter than df 0
    val capped = Retrieval.rm3ExpandedTerms(tf, dfT, st, qs,
      "query_id", "text", k = 2, m = 10, lambda = 0.0,
      maxFeedbackDf = Some(0L))
      .filter(col("queryId") === 51L)
      .collect().map(r => r.getString(1) -> r.getDouble(2)).toMap
    assert(capped === Map("apple" -> 1.0), s"got $capped")
  }

  test("assertDisjoint fails loudly on a reused ingest docId") {
    val (tf, dfT, st) = indexTriple(corpus)
    val freshBatch = Retrieval.termFrequencies(
      docs(7L -> "fig grape"), "doc_id", "text")
    // disjoint ids: the guard is a no-op and the merge probes normally
    val (tfM, dfM, stM) =
      Retrieval.compactTermIndex(tf, dfT, st, freshBatch,
        assertDisjoint = true)
    assert(tfM.count() === tf.count() + freshBatch.count())
    assert(dfM.count() > 0 && stM.count() === 1)
    // a reused id (doc 2 already persisted) fails when any merged
    // output materializes, naming the violation
    val dupBatch = Retrieval.termFrequencies(
      docs(2L -> "fig grape"), "doc_id", "text")
    val (tfBad, _, _) =
      Retrieval.compactTermIndex(tf, dfT, st, dupBatch,
        assertDisjoint = true)
    val e = intercept[Exception] { tfBad.count() }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("batch reuses")),
      s"expected the ingest-contract error, got: ${messages(e)}")
  }

  test("feedback df cap drops hot expansion terms, never original terms") {
    // 'banana' (df 3) and 'cherry' (df 3) are the hot terms; cap 2
    // keeps only rarer feedback vocabulary, but the ORIGINAL query
    // term 'cherry' keeps its λ/|Q| mass through the uncapped side
    val c = docs(
      1L -> "apple banana cherry",
      2L -> "banana cherry date",
      3L -> "banana cherry elder")
    val qs = Seq((1L, "cherry apple")).toDF("query_id", "text")
    val (tf, dfT, st) = indexTriple(c)
    val w = Retrieval.rm3ExpandedTerms(tf, dfT, st, qs,
      "query_id", "text", k = 3, m = 10, lambda = 0.5,
      maxFeedbackDf = Some(2L))
      .collect().map(r => r.getString(1) -> r.getDouble(2)).toMap
    assert(math.abs(w.values.sum - 1.0) < 1e-12)
    assert(!w.contains("banana"), s"hot non-query term must drop: $w")
    assert(w("cherry") >= 0.25 - 1e-12) // original-term mass survives
    assert(w.contains("apple") && (w.contains("date") || w.contains("elder")))
  }

  test("unit weights reproduce the unweighted scores bitwise") {
    val qs = corpus.select(col("doc_id").as("query_id"), col("text"))
    val (tf, dfT, st) = indexTriple(corpus)
    val plain = Retrieval.bm25ScoresPrecomputed(tf, dfT, st,
      qs, "query_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    // unit-weight term table built from the same tokenizer
    val tw = qs.select(col("query_id").as("queryId"),
      explode(graft.functions.TextFunctions.normalizeTokens(col("text")))
        .as("word"), lit(1.0).as("weight"))
    val weighted = Retrieval.bm25ScoresWeighted(tf, dfT, st, tw)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    assert(weighted === plain) // bitwise: 1.0 * c == c
  }

  test("degenerate inputs drop on both sides") {
    val messy = docs(1L -> "apple banana") // plus nulls/empties below
      .unionByName(Seq((Option.empty[Long], Option("apple")),
        (Option(9L), Option.empty[String]), (Option(8L), Option("  !! ")))
        .toDF("doc_id", "text"))
    val qs = Seq((Option(40L), Option("apple")),
      (Option.empty[Long], Option("apple")),
      (Option(41L), Option.empty[String]))
      .toDF("query_id", "text")
    val got = Retrieval.bm25Scores(messy, "doc_id", "text",
      qs, "query_id", "text")
      .select("queryId", "docId").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSet === Set((40L, 1L)))
  }

  test("deleted impact stats equal the rebuild on the survivors") {
    val rnd = new scala.util.Random(238)
    val base = (1 to 60).map { id =>
      id.toLong -> Seq.fill(4 + rnd.nextInt(6))(
        s"tok${15 / (rnd.nextInt(15) + 1)}").mkString(" ")
    } :+ (999L -> "onlyhere onlyhere")
    val c = base.toDF("doc_id", "text")
    val tf = Retrieval.termFrequencies(c, "doc_id", "text")
      .localCheckpoint()
    val del = ((1 to 60 by 4).map(_.toLong) :+ 999L).toDF("docId")
    val merged = Retrieval.compactImpactStatsDeleted(
      Retrieval.impactStats(tf), tf, del)
    val rebuilt = Retrieval.impactStats(
      tf.join(del, Seq("docId"), "left_anti"))
    def rows(d: DataFrame): Set[(String, Long, Long)] =
      d.collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows(merged) === rows(rebuilt))
    // a word living only in deleted docs DROPS (the df > 0 convention)
    assert(!rows(merged).exists(_._1 == "onlyhere"))
  }

  test("BM25F WAND equals the unpruned fielded top-k at every hotDf") {
    val rnd = new scala.util.Random(239)
    val fielded = (1 to 50).flatMap { id =>
      Seq((id.toLong, "title", Seq.fill(3 + rnd.nextInt(3))(
        s"tok${10 / (rnd.nextInt(10) + 1)}").mkString(" ")),
        (id.toLong, "body", Seq.fill(8 + rnd.nextInt(8))(
          s"tok${20 / (rnd.nextInt(20) + 1)}").mkString(" ")))
    }.toDF("doc_id", "field", "ftext")
    val ftf = Retrieval.termFrequenciesFielded(fielded,
      "doc_id", "field", "ftext").localCheckpoint()
    val params = Seq(("title", 2.0, 0.5), ("body", 1.0, 0.75))
    val qs = Seq((100L, "tok1 tok10"), (101L, "tok20 tok4 tok2"),
      (102L, "tok5"), (103L, "zzz")).toDF("query_id", "text")
    def topkSet(d: DataFrame): Set[(Long, Long, Double, Int)] =
      d.select("queryId", "docId", "score", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getInt(3))).toSet
    val want = topkSet(Retrieval.bm25TopK(
      Retrieval.bm25fScores(ftf, params, qs, "query_id", "text"), 3))
    for (hd <- Seq(0L, 2L, 5L, 10L, 1000L);
         imp <- Seq(None, Some(Retrieval.impactStatsFielded(ftf)))) {
      val got = topkSet(Retrieval.bm25fTopKWand(ftf, params, qs,
        "query_id", "text", k = 3, hotDf = hd, impactF = imp))
      assert(got === want, s"hotDf=$hd impact=${imp.isDefined}") // bitwise
    }
  }

  test("routed weighted QL picks branches without changing answers") {
    val tf = Retrieval.termFrequencies(corpus, "doc_id", "text")
      .localCheckpoint()
    val cfT = Retrieval.cfTable(tf)
    val st = Retrieval.corpusStats(tf)
    val tw = Seq((9L, "banana", 0.7), (9L, "cherry", 0.3),
      (10L, "apple", 1.0)).toDF("queryId", "word", "weight")
    def topkSet(d: DataFrame): Set[(Long, Long, Double, Int)] =
      d.select("queryId", "docId", "score", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getInt(3))).toSet
    val want = topkSet(Retrieval.bm25TopK(
      Retrieval.qlScoresWeighted(tf, cfT, st, tw), 2))
    // 3 docs < 10 -> the unpruned branch; 3 >= 1 -> the WAND branch
    val small = topkSet(Retrieval.qlTopKWandWeightedRouted(tf, tw,
      k = 2, minWandDocs = 10))
    val large = topkSet(Retrieval.qlTopKWandWeightedRouted(tf, tw,
      k = 2, minWandDocs = 1,
      impact = Some(Retrieval.impactStats(tf))))
    assert(small === want) // bitwise
    assert(large === want) // bitwise
  }

  test("compacted fielded stats equal the rebuild; the precomputed " +
    "probe is bitwise the inline path") {
    val rnd = new scala.util.Random(243)
    def fieldedDocs(ids: Range, seed: Int) = {
      val r = new scala.util.Random(seed)
      ids.flatMap { id =>
        Seq((id.toLong, "title", Seq.fill(2 + r.nextInt(3))(
          s"tok${8 / (r.nextInt(8) + 1)}").mkString(" ")),
          (id.toLong, "body", Seq.fill(5 + r.nextInt(6))(
            s"tok${16 / (r.nextInt(16) + 1)}").mkString(" ")))
      }.toDF("doc_id", "field", "ftext")
    }
    def triple(f: DataFrame) = (Retrieval.fieldedFieldStats(f),
      Retrieval.fieldedDocStats(f), Retrieval.fieldedDfTable(f))
    val base = Retrieval.termFrequenciesFielded(
      fieldedDocs(1 to 30, 1), "doc_id", "field", "ftext")
      .localCheckpoint()
    val batch = Retrieval.termFrequenciesFielded(
      fieldedDocs(31 to 45, 2), "doc_id", "field", "ftext")
      .localCheckpoint()
    val (fs0, ds0, df0) = triple(base)
    val (fs1, ds1, df1) = triple(batch)
    val (fsA, dsA, dfA) =
      Retrieval.compactFieldedStats(fs0, ds0, df0, fs1, ds1, df1)
    val merged = base.unionByName(batch).localCheckpoint()
    def rows(d: DataFrame) = d.collect().map(_.toString).toSet
    val (fsR, dsR, dfR) = triple(merged)
    assert(rows(fsA) === rows(fsR))
    assert(rows(dsA) === rows(dsR))
    assert(rows(dfA) === rows(dfR))
    // delete a slice: negate its triple, compare to survivor rebuild
    val del = (5L to 45L by 5).toDF("docId")
    val fDel = merged.join(del, Seq("docId"), "left_semi")
      .localCheckpoint()
    val (fsD, dsD, dfD) = triple(fDel)
    val (fsF, dsF, dfF) = Retrieval.compactFieldedStats(fsA, dsA, dfA,
      fsD, dsD, dfD, negate = true)
    val survivors = merged.join(del, Seq("docId"), "left_anti")
      .localCheckpoint()
    val (fsS, dsS, dfS) = triple(survivors)
    assert(rows(fsF) === rows(fsS))
    assert(rows(dsF) === rows(dsS))
    assert(rows(dfF) === rows(dfS))
    // the precomputed probe is BITWISE the inline one (full fields)
    val qs = Seq((100L, "tok1 tok8"), (101L, "tok16 tok2"))
      .toDF("query_id", "text")
    val params = Seq(("title", 2.0, 0.5), ("body", 1.0, 0.75))
    def scores(fStats: Option[(DataFrame, DataFrame, DataFrame)]) =
      Retrieval.bm25fScores(survivors, params, qs, "query_id", "text",
        fStats = fStats).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(scores(Some((fsF, dsF, dfF))) === scores(None))
    // ...and through the WAND path too
    def topk(fStats: Option[(DataFrame, DataFrame, DataFrame)]) =
      Retrieval.bm25fTopKWand(survivors, params, qs, "query_id", "text",
        k = 3, hotDf = 5L,
        impactF = Some(Retrieval.impactStatsFielded(survivors)),
        fStats = fStats).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getInt(3))).toSet
    assert(topk(Some((fsF, dsF, dfF))) === topk(None))
  }

  test("compacted fielded impact stats equal the rebuild " +
    "(append and delete)") {
    def fieldedDocs(ids: Range, seed: Int) = {
      val r = new scala.util.Random(seed)
      ids.flatMap { id =>
        Seq((id.toLong, "title", Seq.fill(2 + r.nextInt(3))(
          s"tok${8 / (r.nextInt(8) + 1)}").mkString(" ")),
          (id.toLong, "body", Seq.fill(5 + r.nextInt(6))(
            s"tok${16 / (r.nextInt(16) + 1)}").mkString(" ")))
      } :+ ((990L + seed, "body", "lonecell lonecell"))
    }
    def ftfOf(rows: Seq[(Long, String, String)]) =
      Retrieval.termFrequenciesFielded(
        rows.toDF("doc_id", "field", "ftext"),
        "doc_id", "field", "ftext").localCheckpoint()
    val base = fieldedDocs(1 to 30, 1)
    val batch = fieldedDocs(31 to 45, 2)
    val fBase = ftfOf(base)
    val fBatch = ftfOf(batch)
    val fAll = ftfOf(base ++ batch)
    def rows(d: DataFrame): Set[(String, String, Long, Long)] =
      d.select("word", "field", "max_tf", "min_fl").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getLong(3))).toSet
    val appended = Retrieval.compactImpactStatsFielded(
      Retrieval.impactStatsFielded(fBase),
      Retrieval.impactStatsFielded(fBatch))
    assert(rows(appended) === rows(Retrieval.impactStatsFielded(fAll)))
    // delete a slice INCLUDING both lonecell docs: the affected-cell
    // recompute must match the survivor rebuild and drop the cell
    // whose postings vanished entirely
    val del = ((5L to 45L by 5) ++ Seq(991L, 992L, 4444L)).toDF("docId")
    val deleted = Retrieval.compactImpactStatsFieldedDeleted(
      appended, fAll, del)
    val survivors = fAll.join(del, Seq("docId"), "left_anti")
    assert(rows(deleted) === rows(Retrieval.impactStatsFielded(survivors)))
    assert(!rows(deleted).exists(_._1 == "lonecell"))
  }

  test("RM3 first-pass reuse is bitwise the inline composition (BM25)") {
    // r20: ONE materialized first pass feeds expansion + rescore —
    // topk, expansion weights, and rescored top-k must all be
    // BITWISE the canonical inline composition's
    val rnd = new scala.util.Random(318)
    val c = (1L to 80L).map { id =>
      id -> Seq.fill(6 + rnd.nextInt(6))(
        s"tok${40 / (rnd.nextInt(40) + 1)}").mkString(" ")
    }.toDF("doc_id", "text")
    val qs = (200L to 207L).map { id =>
      id -> (Seq.fill(2)(s"tok${40 / (rnd.nextInt(40) + 1)}") ++
        Seq.fill(2)(s"tok${13 + rnd.nextInt(28)}")).mkString(" ")
    }.toDF("query_id", "text")
    val (tf, dfT, st) = indexTriple(c)
    def scoreMap(d: DataFrame): Map[(Long, Long), Double] =
      d.select("queryId", "docId", "score").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    def wMap(d: DataFrame): Map[(Long, String), Double] =
      d.collect()
        .map(r => (r.getLong(0), r.getString(1)) -> r.getDouble(2)).toMap
    val fp = Retrieval.bm25FirstPass(tf, dfT, st, qs,
      "query_id", "text", k = 5)
    // first-pass top-k parity (exact doubles)
    assert(scoreMap(fp.topk) === scoreMap(Retrieval.bm25TopK(
      Retrieval.bm25ScoresPrecomputed(tf, dfT, st, qs,
        "query_id", "text"), 5)))
    // expansion parity through the FromTopk tail
    val tw = Retrieval.rm3ExpandedTermsFromTopk(fp.topk, tf, dfT, qs,
      "query_id", "text", m = 8, lambda = 0.5).localCheckpoint()
    assert(wMap(tw) === wMap(Retrieval.rm3ExpandedTerms(tf, dfT, st,
      qs, "query_id", "text", k = 5, m = 8, lambda = 0.5)))
    // rescore parity: the reusing scorer is bitwise the plain one
    assert(scoreMap(Retrieval.bm25ScoresWeightedReusing(tf, dfT, st,
      tw, fp))
      === scoreMap(Retrieval.bm25ScoresWeighted(tf, dfT, st, tw)))
  }

  test("RM3 first-pass reuse is bitwise the inline composition (QL)") {
    val rnd = new scala.util.Random(319)
    val c = (1L to 80L).map { id =>
      id -> Seq.fill(6 + rnd.nextInt(6))(
        s"tok${40 / (rnd.nextInt(40) + 1)}").mkString(" ")
    }.toDF("doc_id", "text")
    val qs = (200L to 207L).map { id =>
      id -> (Seq.fill(2)(s"tok${40 / (rnd.nextInt(40) + 1)}") ++
        Seq.fill(2)(s"tok${13 + rnd.nextInt(28)}")).mkString(" ")
    }.toDF("query_id", "text")
    val (tf, dfT, st) = indexTriple(c)
    val cfT = Retrieval.cfTable(tf).localCheckpoint()
    def scoreMap(d: DataFrame): Map[(Long, Long), Double] =
      d.select("queryId", "docId", "score").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    def wMap(d: DataFrame): Map[(Long, String), Double] =
      d.collect()
        .map(r => (r.getLong(0), r.getString(1)) -> r.getDouble(2)).toMap
    val fp = Retrieval.qlFirstPass(tf, cfT, st, qs,
      "query_id", "text", k = 5)
    assert(scoreMap(fp.topk) === scoreMap(Retrieval.bm25TopK(
      Retrieval.qlDirichletScores(tf, cfT, st, qs,
        "query_id", "text"), 5)))
    val tw = Retrieval.rm3ExpandedTermsQlFromTopk(fp.topk, tf, dfT, qs,
      "query_id", "text", m = 8, lambda = 0.5).localCheckpoint()
    assert(wMap(tw) === wMap(Retrieval.rm3ExpandedTermsQl(tf, cfT, st,
      dfT, qs, "query_id", "text", k = 5, m = 8, lambda = 0.5)))
    assert(scoreMap(Retrieval.qlScoresWeightedReusing(tf, cfT, st, tw,
      fp))
      === scoreMap(Retrieval.qlScoresWeighted(tf, cfT, st, tw)))
    // ...and through the routed second pass on BOTH branches
    assert(topkSet(Retrieval.qlTopKWandWeightedRouted(tf, tw, k = 5,
      dfStats = Some((dfT, st)), cf = Some(cfT),
      minWandDocs = 1000000L, firstPass = Some(fp)))
      === topkSet(Retrieval.bm25TopK(
        Retrieval.qlScoresWeighted(tf, cfT, st, tw), 5)))
    assert(topkSet(Retrieval.qlTopKWandWeightedRouted(tf, tw, k = 5,
      dfStats = Some((dfT, st)), cf = Some(cfT),
      minWandDocs = 1L, firstPass = Some(fp)))
      === topkSet(Retrieval.bm25TopK(
        Retrieval.qlScoresWeighted(tf, cfT, st, tw), 5)))
  }

  // ---- property: pruned top-k equals unpruned top-k, bitwise ---------

  /** Zipf-ish vocabulary: a hot head (tok1 in about half the draws)
    * and a uniform rare tail, so every hotDf splits queries into
    * rare and hot terms differently.
    */
  private val wandWord: Gen[String] = Gen.frequency(
    3 -> Gen.chooseNum(0, 19).map(u => s"tok${20 / (u + 1)}"),
    1 -> Gen.chooseNum(1, 30).map(i => s"rare$i"))

  private val wandCaseGen: Gen[WandCase] = for {
    nDocs <- Gen.chooseNum(4, 24)
    docs <- Gen.listOfN(nDocs,
      Gen.chooseNum(1, 8).flatMap(Gen.listOfN(_, wandWord)))
    nQ <- Gen.chooseNum(1, 4)
    queries <- Gen.listOfN(nQ, Gen.chooseNum(1, 4).flatMap(n =>
      Gen.listOfN(n, Gen.frequency(9 -> wandWord, 1 -> Gen.const("zzz")))))
    k <- Gen.chooseNum(1, 6)
    hotDf <- Gen.chooseNum(0L, nDocs.toLong)
    withImpact <- Gen.oneOf(true, false)
  } yield WandCase(docs, queries, k, hotDf, withImpact)

  /** `(queryId, docId, score bits, rank)` of a top-k table. */
  private def rankedBits(df: DataFrame): Set[(Long, Long, Long, Int)] =
    df.select(col("queryId"), col("docId"), col("score"),
      col("rank").cast("int")).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToRawLongBits(r.getDouble(2)), r.getInt(3)))
      .toSet

  /** The decision table against a plain-Scala replay of the routing:
    * term counts, the candidate set (docs with ≥ 1 rare query term), θ
    * as the kth candidate of the unpruned scores (bitwise), a bound
    * that really dominates every hot-only doc, and `safe` false exactly
    * for the queries the routing rule sends to the fallback.
    */
  private def statsAgree(stats: DataFrame, cse: WandCase,
                         scores: Map[(Long, Long), Double]): Boolean = {
    val docWords = cse.docs.zipWithIndex
      .map { case (ws, i) => (i + 1L) -> ws.toSet }.filter(_._2.nonEmpty)
    val df = docWords.flatMap(_._2).groupBy(identity)
      .map { case (w, ds) => w -> ds.size.toLong }
    val want = cse.queries.zipWithIndex.flatMap { case (ws, i) =>
      val terms = ws.toSet.filter(df.contains)
      if (terms.isEmpty) None
      else {
        val (rare, hot) = terms.partition(df(_) <= cse.hotDf)
        val qid = 100L + i
        val cands = docWords.collect {
          case (d, dws) if (dws & rare).nonEmpty => d
        }
        val hotOnly = docWords.collect {
          case (d, dws) if (dws & terms).nonEmpty && (dws & rare).isEmpty => d
        }
        val theta = cands.map(d => (scores((qid, d)), d))
          .sortBy { case (sc, d) => (-sc, d) }
          .lift(cse.k - 1).map(_._1)
        Some(qid -> (rare.size.toLong, hot.size.toLong,
          cands.size.toLong, theta, hotOnly.map(d => scores((qid, d)))))
      }
    }.toMap
    val got = stats.collect()
    got.length == want.size && got.forall { r =>
      val (nRare, nHot, nCand, theta, hotOnlyScores) = want(r.getLong(0))
      val ub = if (r.isNullAt(4)) None else Some(r.getDouble(4))
      val gotTheta = if (r.isNullAt(5)) None else Some(r.getDouble(5))
      val fellBack = nHot > 0 && (theta.isEmpty || ub.exists(_ >= theta.get))
      r.getLong(1) == nRare && r.getLong(2) == nHot &&
        r.getLong(3) == nCand &&
        gotTheta.map(java.lang.Double.doubleToRawLongBits) ==
          theta.map(java.lang.Double.doubleToRawLongBits) &&
        ub.isDefined == (nHot > 0) &&
        hotOnlyScores.forall(sc => ub.exists(_ >= sc)) &&
        r.getBoolean(6) == !fellBack
    }
  }

  test("property: BM25 and QL WAND equal the unpruned top-k bitwise, " +
    "and safe is false exactly for the fallback queries") {
    val prop = Prop.forAllNoShrink(wandCaseGen) { cse =>
      val c = cse.docs.zipWithIndex
        .map { case (ws, i) => (i + 1L, ws.mkString(" ")) }
        .toDF("doc_id", "text")
      val qs = cse.queries.zipWithIndex
        .map { case (ws, i) => (100L + i, ws.mkString(" ")) }
        .toDF("query_id", "text").localCheckpoint()
      val tf = Retrieval.termFrequencies(c, "doc_id", "text")
        .localCheckpoint()
      val imp =
        if (cse.withImpact) Some(Retrieval.impactStats(tf).localCheckpoint())
        else None
      val bm25 = Retrieval.bm25Scores(c, "doc_id", "text", qs,
        "query_id", "text").localCheckpoint()
      val ql = Retrieval.qlDirichletScores(tf,
        Retrieval.cfTable(tf), Retrieval.corpusStats(tf), qs,
        "query_id", "text").localCheckpoint()
      def scoreMap(d: DataFrame) = d.collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val bm25Ok = rankedBits(Retrieval.bm25TopKWand(tf, qs, "query_id",
        "text", cse.k, cse.hotDf, impact = imp)) ===
        rankedBits(Retrieval.bm25TopK(bm25, cse.k))
      val qlOk = rankedBits(Retrieval.qlTopKWand(tf, qs, "query_id",
        "text", cse.k, cse.hotDf, impact = imp)) ===
        rankedBits(Retrieval.bm25TopK(ql, cse.k))
      val statsOk = statsAgree(Retrieval.bm25WandStats(tf, qs,
        "query_id", "text", cse.k, cse.hotDf, impact = imp), cse,
        scoreMap(bm25)) &&
        statsAgree(Retrieval.qlWandStats(tf, qs, "query_id", "text",
          cse.k, cse.hotDf, impact = imp), cse, scoreMap(ql))
      (bm25Ok && qlOk && statsOk) :| s"bm25=$bm25Ok ql=$qlOk " +
        s"stats=$statsOk $cse"
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, res.status.toString)
  }
}

object RetrievalSpec {
  /** One random case of the WAND property: documents and queries as
    * word lists, the cut-off `k`, the hot-term df threshold, and
    * whether the impact metadata tightens the bound.
    */
  final case class WandCase(docs: Seq[Seq[String]],
                            queries: Seq[Seq[String]],
                            k: Int, hotDf: Long, withImpact: Boolean)
}
