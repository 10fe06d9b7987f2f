package graft

import java.lang.Double.doubleToRawLongBits

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean

import graft.operators.{Federation, Fuzzy, Retrieval}

/** The query side shared by the BM25 and QL scorers: unit-weight
  * scores against an independent plain-Scala replay of both formulas
  * (bitwise, on random corpora and queries), and the one parameter
  * guard every BM25/QL entry point inherits from the contribution
  * expressions.
  */
class QueryTermTableSpec extends SparkSpec {
  import spark.implicits._
  import QueryTermTableSpec.ScoreCase

  private val vocab = (0 to 9).map(i => s"w$i")
  private val oov = Seq("zz", "qq7")

  private val scoreCaseGen: Gen[ScoreCase] = for {
    nDocs <- Gen.chooseNum(1, 12)
    // empty docs drop from the index (and from n_docs)
    docs <- Gen.listOfN(nDocs,
      Gen.chooseNum(0, 8).flatMap(Gen.listOfN(_, Gen.oneOf(vocab))))
    nQ <- Gen.chooseNum(1, 4)
    // duplicate words, corpus-absent words and empty queries
    queries <- Gen.listOfN(nQ, Gen.chooseNum(0, 5).flatMap(
      Gen.listOfN(_, Gen.frequency(5 -> Gen.oneOf(vocab),
        1 -> Gen.oneOf(oov)))))
    k1 <- Gen.oneOf(0.0, 0.9, 1.2, 2.0)
    b <- Gen.oneOf(0.0, 0.4, 0.75, 1.0)
    mu <- Gen.oneOf(1.0, 10.0, 2000.0)
  } yield ScoreCase(docs, queries, k1, b, mu)

  /** The plain-Scala replay: `(queryId, docId) -> (bm25, ql)` for every
    * pair sharing a term. Lucene idf, the exact `total_dl / n_docs`
    * avgdl, each query's distinct corpus-present words in word order
    * summed left to right from 0.0, and the QL length normalizer
    * `|q|·ln(μ/(dl + μ))` added once after that sum. `log` is Spark's
    * `StrictMath.log`.
    */
  private def replay(c: ScoreCase): Map[(Long, Long), (Double, Double)] = {
    val docs = c.docs.zipWithIndex.collect {
      case (ws, i) if ws.nonEmpty => (i + 1L) -> ws
    }
    val nDocs = docs.size.toDouble
    val totalDl = docs.map(_._2.size.toLong).sum.toDouble
    val avgdl = totalDl / nDocs
    val tfs = docs.map { case (d, ws) =>
      d -> ws.groupBy(identity).map { case (w, o) => w -> o.size.toLong }
    }
    val df = tfs.flatMap(_._2.keys).groupBy(identity)
      .map { case (w, ds) => w -> ds.size.toLong }
    val cf = docs.flatMap(_._2).groupBy(identity)
      .map { case (w, o) => w -> o.size.toLong }
    def idf(w: String): Double = {
      val d = df(w).toDouble
      StrictMath.log(1.0 + (nDocs - d + 0.5) / (d + 0.5))
    }
    c.queries.zipWithIndex.filter(_._1.nonEmpty).flatMap { case (ws, i) =>
      val terms = ws.distinct.filter(df.contains).sorted
      val nq = terms.size.toDouble
      tfs.flatMap { case (d, tf) =>
        val matched = terms.filter(tf.contains)
        val dl = tf.values.sum.toDouble
        if (matched.isEmpty) None
        else {
          val bm25 = matched.foldLeft(0.0) { (acc, w) =>
            val t = tf(w).toDouble
            acc + idf(w) * (t * (c.k1 + 1.0)) /
              (t + c.k1 * ((1.0 - c.b) + c.b * dl / avgdl))
          }
          val qlSum = matched.foldLeft(0.0) { (acc, w) =>
            acc + StrictMath.log(1.0 +
              tf(w).toDouble * totalDl / (c.mu * cf(w).toDouble))
          }
          Some((100L + i, d) ->
            ((bm25, qlSum + nq * StrictMath.log(c.mu / (dl + c.mu)))))
        }
      }
    }.toMap
  }

  private def bits(scores: DataFrame): Map[(Long, Long), Long] =
    scores.collect().map(r =>
      (r.getLong(0), r.getLong(1)) -> doubleToRawLongBits(r.getDouble(2)))
      .toMap

  test("property: unit BM25 and QL scores equal a plain-Scala replay " +
    "bitwise") {
    val prop = Prop.forAllNoShrink(scoreCaseGen) { c =>
      val corpus = c.docs.zipWithIndex
        .map { case (ws, i) => (i + 1L, ws.mkString(" ")) }
        .toDF("doc_id", "text")
      val qs = c.queries.zipWithIndex
        .map { case (ws, i) => (100L + i, ws.mkString(" ")) }
        .toDF("query_id", "text")
      val tf = Retrieval.termFrequencies(corpus, "doc_id", "text")
        .localCheckpoint()
      val st = Retrieval.corpusStats(tf)
      val want = replay(c)
      val bm25 = bits(Retrieval.bm25ScoresPrecomputed(tf,
        Retrieval.dfTable(tf), st, qs, "query_id", "text", c.k1, c.b))
      val ql = bits(Retrieval.qlDirichletScores(tf, Retrieval.cfTable(tf),
        st, qs, "query_id", "text", c.mu))
      val bm25Ok =
        bm25 == want.map { case (k, v) => k -> doubleToRawLongBits(v._1) }
      val qlOk =
        ql == want.map { case (k, v) => k -> doubleToRawLongBits(v._2) }
      (bm25Ok && qlOk) :| s"bm25=$bm25Ok ql=$qlOk $c"
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status.toString)
  }

  test("every BM25 and QL entry point rejects k1 < 0, b outside [0,1] " +
    "and mu <= 0") {
    val corpus = Seq((1L, "apple banana apple"), (2L, "banana cherry"),
      (3L, "cherry date")).toDF("doc_id", "text")
    val tf = Retrieval.termFrequencies(corpus, "doc_id", "text")
      .localCheckpoint()
    val dfT = Retrieval.dfTable(tf).localCheckpoint()
    val cfT = Retrieval.cfTable(tf).localCheckpoint()
    val st = Retrieval.corpusStats(tf).localCheckpoint()
    val posts = Retrieval.positionalPostings(corpus, "doc_id", "text")
      .localCheckpoint()
    val qs = Seq((10L, "apple cherry")).toDF("query_id", "text")
      .localCheckpoint()
    val tw = Seq((10L, "apple", 0.5), (10L, "date", 0.5))
      .toDF("queryId", "word", "weight")
    val pairs = Seq((10L, 1L)).toDF("queryId", "docId")
    val shards = tf.select(col("docId"),
      pmod(col("docId"), lit(2)).as("shard")).distinct()
    val shardTf = tf.join(shards, Seq("docId"))
      .select("shard", "docId", "dl", "word", "tf").localCheckpoint()
    val sdf = Federation.shardTermStats(tf, shards).localCheckpoint()
    val scw = Federation.shardSizes(tf, shards).localCheckpoint()
    val bm25Fp = Retrieval.bm25FirstPass(tf, dfT, st, qs, "query_id",
      "text", k = 2)
    val qlFp = Retrieval.qlFirstPass(tf, cfT, st, qs, "query_id", "text",
      k = 2)
    val bm25Entries: Seq[(String, (Double, Double) => Any)] = Seq(
      "bm25ScoresPrecomputed" -> ((k1, b) => Retrieval
        .bm25ScoresPrecomputed(tf, dfT, st, qs, "query_id", "text", k1, b)),
      "bm25ScoresWeighted" -> ((k1, b) =>
        Retrieval.bm25ScoresWeighted(tf, dfT, st, tw, k1, b)),
      "bm25ScoresWeightedReusing" -> ((k1, b) => Retrieval
        .bm25ScoresWeightedReusing(tf, dfT, st, tw, bm25Fp, k1, b)),
      "bm25FirstPass" -> ((k1, b) => Retrieval.bm25FirstPass(tf, dfT, st,
        qs, "query_id", "text", 2, k1, b)),
      "bm25TopKWand" -> ((k1, b) => Retrieval.bm25TopKWand(tf, qs,
        "query_id", "text", 2, 1L, k1, b)),
      "bm25WandWeightedStats" -> ((k1, b) =>
        Retrieval.bm25WandWeightedStats(tf, tw, 2, 1L, k1, b)),
      "bm25TopKPhrase" -> ((k1, b) => Retrieval.bm25TopKPhrase(tf, dfT,
        st, posts, qs, "query_id", "text", 2, k1, b)),
      "bm25TopKConjunctive" -> ((k1, b) => Retrieval.bm25TopKConjunctive(
        tf, dfT, st, qs, "query_id", "text", 2, k1, b)),
      "bm25TopKFuzzy" -> ((k1, b) => Fuzzy.bm25TopKFuzzy(tf, dfT, st, qs,
        "query_id", "text", 2, k1, b)),
      "ltrFeatures" -> ((k1, b) => Retrieval.ltrFeatures(tf, dfT, cfT, st,
        qs, "query_id", "text", k1, b)),
      "ltrFeaturesForPairs" -> ((k1, b) => Retrieval.ltrFeaturesForPairs(
        tf, dfT, cfT, st, qs, "query_id", "text", pairs, k1, b)),
      "coriTopK" -> ((k1, b) => Federation.coriTopK(shardTf, sdf, scw, dfT,
        st, qs, "query_id", "text", 2, 1, k1, b)),
      "coriTopKRouted" -> ((k1, b) => Federation.coriTopKRouted(shardTf,
        sdf, scw, dfT, st, qs, "query_id", "text", 2, 1, k1 = k1,
        b25 = b)))
    for ((name, run) <- bm25Entries; (k1, b) <- Seq((-1.0, 0.75),
        (1.2, 1.5)))
      withClue(s"$name(k1 = $k1, b = $b): ") {
        intercept[IllegalArgumentException](run(k1, b))
      }
    val qlEntries: Seq[(String, Double => Any)] = Seq(
      "qlDirichletScores" -> (mu => Retrieval.qlDirichletScores(tf, cfT,
        st, qs, "query_id", "text", mu)),
      "qlScoresWeighted" -> (mu =>
        Retrieval.qlScoresWeighted(tf, cfT, st, tw, mu)),
      "qlScoresWeightedReusing" -> (mu => Retrieval
        .qlScoresWeightedReusing(tf, cfT, st, tw, qlFp, mu)),
      "qlFirstPass" -> (mu => Retrieval.qlFirstPass(tf, cfT, st, qs,
        "query_id", "text", 2, mu)),
      "qlTopKWand" -> (mu => Retrieval.qlTopKWand(tf, qs, "query_id",
        "text", 2, 1L, mu)),
      "qlWandWeightedStats" -> (mu =>
        Retrieval.qlWandWeightedStats(tf, tw, 2, 1L, mu)),
      "qlTopKWandWeightedRouted" -> (mu =>
        Retrieval.qlTopKWandWeightedRouted(tf, tw, 2, mu = mu)),
      "ltrFeatures" -> (mu => Retrieval.ltrFeatures(tf, dfT, cfT, st, qs,
        "query_id", "text", mu = mu)),
      "ltrFeaturesForPairs" -> (mu => Retrieval.ltrFeaturesForPairs(tf,
        dfT, cfT, st, qs, "query_id", "text", pairs, mu = mu)),
      "coriTopKQl" -> (mu => Federation.coriTopKQl(shardTf, sdf, scw, cfT,
        st, qs, "query_id", "text", 2, 1, mu)))
    for ((name, run) <- qlEntries; mu <- Seq(0.0, -1.0))
      withClue(s"$name(mu = $mu): ") {
        intercept[IllegalArgumentException](run(mu))
      }
  }
}

object QueryTermTableSpec {
  /** One random case of the replay property: documents and queries as
    * word lists (ids 1.. and 100..), and the scorer parameters.
    */
  final case class ScoreCase(docs: Seq[Seq[String]],
                             queries: Seq[Seq[String]],
                             k1: Double, b: Double, mu: Double)
}
