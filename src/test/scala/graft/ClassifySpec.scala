package graft

import org.apache.spark.sql.functions._

import graft.operators.{Classify, Knn}

/** k-NN vote and nearest-centroid label classification. */
class ClassifySpec extends SparkSpec {
  import spark.implicits._

  private def vecs(xs: (Long, Seq[Double], Int)*) =
    xs.map { case (id, v, l) => (id, v.map(_.toFloat).toArray, l) }
      .toDF("vec_id", "embedding", "label")

  // two clean clusters on the axes, labels 0 and 1
  private def clustered = vecs(
    (0L, Seq(1.0, 0.05), 0), (1L, Seq(0.9, 0.0), 0),
    (2L, Seq(1.0, -0.05), 0),
    (10L, Seq(0.0, 1.0), 1), (11L, Seq(0.05, 0.9), 1),
    (12L, Seq(-0.05, 1.0), 1))

  test("classifyByVote predicts the majority label; ties go to the " +
    "smallest label; null-label neighbors abstain") {
    val neighbors = Seq(
      // q=100: 2 votes label 0, 1 vote label 1 → 0
      (100L, 0L), (100L, 1L), (100L, 10L),
      // q=101: 1 vote each → tie → smaller label 0
      (101L, 2L), (101L, 12L),
      // q=102: one neighbor has a null label → abstains → label 1 wins 1:0
      (102L, 10L), (102L, 666L))
      .toDF("query_id", "neighbor_id")
    val labels = clustered.select("vec_id", "label")
      .unionAll(Seq((666L, null.asInstanceOf[java.lang.Integer]))
        .toDF("vec_id", "label"))
    val out = Classify.classifyByVote(neighbors, labels, "vec_id", "label")
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(100L) == ((0, 2L, 3L)))
    assert(out(101L) == ((0, 1L, 2L)))
    assert(out(102L) == ((1, 1L, 1L)))
  }

  test("vote composed with exact top-k recovers cluster labels") {
    val corpus = clustered
    val queries = vecs((200L, Seq(0.95, 0.02), 9),
      (201L, Seq(0.01, 0.97), 9))
    val topk = Knn.bruteForceTopK(corpus, queries, "vec_id", "embedding",
      k = 3)
    val out = Classify.classifyByVote(topk, corpus, "vec_id", "label")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out == Map(200L -> 0, 201L -> 1))
  }

  test("labelCentroids: hand-computed means; null-label rows excluded") {
    val df = clustered
      .unionAll(Seq((50L, Array(9f, 9f), null.asInstanceOf[java.lang.Integer]))
        .toDF("vec_id", "embedding", "label"))
    val exact = Classify.labelCentroids(df, "vec_id", "embedding", "label")
      .collect().map(r => r.getInt(0) ->
        ((r.getSeq[Double](1), r.getLong(2)))).toMap
    // the null-label (9,9) row contributes to NO centroid
    assert(exact.keySet == Set(0, 1))
    assert(exact(0)._2 == 3L && exact(1)._2 == 3L)
    val mean = (1.0 + 0.9f.toDouble + 1.0) / 3.0
    assert(math.abs(exact(0)._1(0) - mean) < 1e-9)
    assert(math.abs(exact(1)._1(1) - mean) < 1e-9)
  }

  test("literal-model form predicts identically to the joined form, " +
    "bitwise cosines") {
    val cents = Classify.labelCentroids(clustered, "vec_id", "embedding",
      "label")
    val queries = clustered // classify the corpus against itself
    val joined = Classify.centroidTopLabel(queries, "vec_id", "embedding",
      cents, "label")
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2))))
      .toMap
    val lit = Classify.centroidTopLabelLit(queries, "vec_id", "embedding",
      cents, "label")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    assert(lit.keySet == joined.keySet)
    for ((id, (pl, cos)) <- lit) {
      assert(pl == joined(id)._1.toLong, s"id $id: $pl vs ${joined(id)._1}")
      assert(cos == joined(id)._2, // bitwise — same fold tree
        s"id $id: cos $cos vs ${joined(id)._2}")
    }
  }

  test("edge cases: empty neighbor frame, all-null labels, empty model") {
    val emptyN = Seq.empty[(Long, Long)].toDF("query_id", "neighbor_id")
    assert(Classify.classifyByVote(emptyN, clustered, "vec_id", "label")
      .count() == 0L)
    // every neighbor abstains → no vote rows → no predictions
    val nullLabels = Seq((0L, null.asInstanceOf[java.lang.Integer]))
      .toDF("vec_id", "label")
    val n = Seq((100L, 0L)).toDF("query_id", "neighbor_id")
    assert(Classify.classifyByVote(n, nullLabels, "vec_id", "label")
      .count() == 0L)
    // an empty centroid model must fail fast, not silently predict
    val emptyCents = Classify.labelCentroids(
      clustered.limit(0), "vec_id", "embedding", "label")
    val ex = intercept[IllegalArgumentException] {
      Classify.centroidTopLabelLit(clustered, "vec_id", "embedding",
        emptyCents, "label")
    }
    assert(ex.getMessage.contains("empty centroid model"))
  }

  test("centroidTopLabel assigns each query its own cluster; the " +
    "centroid model is broadcast") {
    val cents = Classify.labelCentroids(clustered, "vec_id", "embedding",
      "label")
    val queries = vecs((300L, Seq(0.8, 0.1), 9),
      (301L, Seq(-0.02, 0.8), 9))
    val out = Classify.centroidTopLabel(queries, "vec_id", "embedding",
      cents, "label")
    val plan = out.queryExecution.sparkPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"centroid model must broadcast:\n${plan.take(1500)}")
    val m = out.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(m == Map(300L -> 0, 301L -> 1))
  }
}
