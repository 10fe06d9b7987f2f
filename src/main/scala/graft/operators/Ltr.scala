package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.functions.OrderedFold

/** Learning-to-rank over the [[Retrieval.ltrFeatures]] table — the
  * loop that turns the scorer stack into a TRAINED ranker and back:
  * features → pointwise or pairwise training → linear re-scoring →
  * [[IrEval]] quality delta vs the base ranker. The model is a
  * handful of named doubles (driver-sized by design, the
  * [[QualityLr]] parameter-server split over NUMERIC feature columns
  * instead of hashed tokens): training broadcasts it into each pass
  * as literals, application is ONE projection over the feature table
  * — no join, no shuffle, nothing corpus-shaped beyond the feature
  * assembly that was already paid.
  *
  * Reference behavior: jaccard-mapreduce has no ranker; this is part
  * of the demanded training-data-pipeline extension surface
  * (`DocumentSimilarityDriver.java:20-94` stops at similarity).
  */
object Ltr {

  /** Named linear model: `(featureCol → weight)` in a FIXED order +
    * intercept. The order is part of the model — [[ltrScore]]'s sum
    * associates left-to-right over it, so scores replay bitwise from
    * the pinned `(name, weight)` list alone (q228 gates exactly
    * that).
    */
  case class LtrModel(weights: Seq[(String, Double)], bias: Double)

  /** The linear score expression `bias + Σ w_f · x_f`, associated
    * left-to-right in the model's weight order — one per-row
    * arithmetic tree, partitioning-independent by construction (no
    * aggregation anywhere), replayable verbatim in SQL.
    */
  private def scoreExpr(m: LtrModel): Column =
    m.weights.foldLeft(lit(m.bias)) { case (acc, (f, w)) =>
      acc + lit(w) * col(f)
    }

  /** Apply a (trained or pinned) linear model to a feature table:
    * `(queryId, docId, score)` — ONE projection over
    * [[Retrieval.ltrFeatures]]' output, rankable by
    * [[Retrieval.bm25TopK]]. Feature columns must exist and be
    * non-null (the ltrFeatures contract — every emitted pair carries
    * every feature).
    */
  def ltrScore(features: DataFrame, m: LtrModel): DataFrame =
    features.select(col("queryId"), col("docId"),
      scoreExpr(m).as("score"))

  /** [[ltrScore]] + the per-query rank window: the re-ranked run
    * `(queryId, docId, score, rank)`, top `k`, score desc with docId
    * ties — [[Retrieval.bm25TopK]]'s shape, so the output feeds
    * [[IrEval.rankingMetrics]]/[[IrEval.pairedComparison]] directly.
    */
  def ltrRerank(features: DataFrame, m: LtrModel, k: Int): DataFrame =
    Retrieval.bm25TopK(ltrScore(features, m), k)

  /** The fixed bucket fan of the two-level training fold. A constant
    * (never data-dependent) so bucket membership is a pure function
    * of the pair key and the reduction replays bitwise at ANY
    * partitioning and ANY table size; 1024 spreads the per-bucket
    * arrays across every executor long before a single-task
    * collect_list could concentrate the table.
    */
  private val FoldBuckets = 1024L

  /** TWO-LEVEL bit-reproducible sum of each named expression over the
    * training table: `(queryId, docId)`-keyed [[OrderedFold.sum]]
    * partials per deterministic hash bucket
    * (`xxhash64(queryId, docId) mod` [[FoldBuckets]]), then one
    * bucket-keyed [[OrderedFold.sum]] of the partials. Bucketing spreads
    * the reduction across the cluster — no single task ever
    * collect_lists the whole table (the pre-r18 single global fold
    * concentrated every gradient pass into one executor array) —
    * while both levels stay sorted pure functions of the data, so
    * trained weights remain identical at any partitioning
    * (LtrSpec pins the determinism).
    */
  private def foldAll(df: DataFrame, exprs: Seq[(String, Column)]): Row = {
    val partial = exprs.map { case (n, c) =>
      OrderedFold.sum(c, col("queryId"), col("docId")).as(n) }
    val total = exprs.map { case (n, _) =>
      OrderedFold.sum(col(n), col("__fb")).as(n) }
    df.withColumn("__fb",
        pmod(xxhash64(col("queryId"), col("docId")), lit(FoldBuckets)))
      .groupBy(col("__fb"))
      .agg(partial.head, partial.tail: _*)
      .groupBy()
      .agg(total.head, total.tail: _*)
      .collect()(0)
  }

  /** Pointwise logistic training over a labeled feature table —
    * batch gradient descent, `iters` passes, each ONE distributed
    * two-level aggregate ([[foldAll]]) reducing to |features|+1
    * doubles on the driver (the [[QualityLr.train]] shape over named
    * numeric columns). `labeled` carries `featureCols` plus a {0,1}
    * `labelCol` (relevant or not — graded qrels binarize at the
    * caller's threshold); it is consumed once per iteration plus two
    * setup passes — materialize it (the training-table convention;
    * ltrFeatures output joined to qrels, absent pairs labeled 0).
    *
    * Features STANDARDIZE internally (per-column mean/std over the
    * training table — mixed scales like dl ~ 10² vs coverage ≤ 1
    * would otherwise hand the gradient to whichever column is
    * largest), and the standardization FOLDS INTO the returned
    * model: `w_f/σ_f` with the means rolled into the bias — so
    * [[ltrScore]] applies the returned model to RAW features and the
    * pinned-weights gate stays one projection. Zero-variance
    * features drop (weight 0 — no signal). All reductions are
    * two-level pair-key-sorted folds; update `w ← w − lr·∇/n`,
    * weights start at zero like QualityLr.
    */
  def ltrTrainPointwise(labeled: DataFrame, featureCols: Seq[String],
                        labelCol: String, iters: Int,
                        lr: Double): LtrModel = {
    require(featureCols.nonEmpty, "featureCols must be non-empty")
    require(iters >= 1 && lr > 0, s"iters=$iters lr=$lr")
    val n = labeled.count().toDouble
    require(n > 0, "ltrTrainPointwise: empty training table")
    // per-column mean and (population) std, two-level sorted folds
    val meanRow = foldAll(labeled, featureCols.map(f => f -> col(f)))
    val means = featureCols.map(f =>
      f -> meanRow.getDouble(meanRow.fieldIndex(f)) / n).toMap
    val varRow = foldAll(labeled, featureCols.map(f =>
      f -> (col(f) - lit(means(f))) * (col(f) - lit(means(f)))))
    val stds = featureCols.map(f =>
      f -> math.sqrt(varRow.getDouble(varRow.fieldIndex(f)) / n)).toMap
    val live = featureCols.filter(stds(_) > 0)
    var w = live.map(_ => 0.0).toArray
    var b = 0.0
    for (_ <- 1 to iters) {
      // standardized score under the current weights, then one
      // aggregate carrying every feature's gradient + the bias grad
      val z = live.zipWithIndex.foldLeft(lit(b)) { case (acc, (f, i)) =>
        acc + lit(w(i)) * (col(f) - lit(means(f))) / lit(stds(f))
      }
      val r = lit(1.0) / (lit(1.0) + exp(-z)) -
        col(labelCol).cast("double")
      val gRow = foldAll(labeled, ("__gb" -> r) +: live.map(f =>
        f -> ((col(f) - lit(means(f))) / lit(stds(f)) * r)))
      b -= lr * gRow.getDouble(gRow.fieldIndex("__gb")) / n
      w = live.zipWithIndex.map { case (f, i) =>
        w(i) - lr * gRow.getDouble(gRow.fieldIndex(f)) / n
      }.toArray
    }
    // fold the standardization into raw-feature weights:
    //   Σ wᵢ(x−μ)/σ + b  =  Σ (wᵢ/σ)x + (b − Σ wᵢμ/σ)
    val raw = live.zipWithIndex.map { case (f, i) => f -> w(i) / stds(f) }
    val bias = b - live.zipWithIndex
      .map { case (f, i) => w(i) * means(f) / stds(f) }.sum
    LtrModel(featureCols.map(f =>
      f -> raw.toMap.getOrElse(f, 0.0)), bias)
  }

  /** Within-query PREFERENCE pairs as a feature-DIFFERENCE table —
    * the pairwise (RankNet, Burges'05) training view: for every pair
    * of same-query rows whose labels differ, one row with the
    * preferred-minus-unpreferred feature deltas. Columns:
    * `queryId`, `docId` (the combined `"<winner>#<loser>"` pair key —
    * the fold key of the two-level reduction, semantics-free), and
    * each of `featureCols` as `x_winner − x_loser`; the implied
    * target is always "winner first" (the canonical direction, each
    * unordered pair emitted ONCE).
    *
    * Scale shape: one queryId-keyed self-join — pairs are
    * |candidates-per-query|², so the contract is the one every
    * pairwise LTR pipeline has: the labeled table is per-query
    * CANDIDATE LISTS (a top-k join, result-sized), never the corpus.
    * The label filter (`label_i > label_j`) prunes inside the join,
    * and everything downstream is pairs-sized.
    */
  def ltrPreferencePairs(labeled: DataFrame, featureCols: Seq[String],
                         labelCol: String): DataFrame = {
    require(featureCols.nonEmpty, "featureCols must be non-empty")
    val left = labeled.select(col("queryId") +:
      col("docId").as("__di") +:
      col(labelCol).cast("double").as("__li") +:
      featureCols.map(f => col(f).as(s"__i_$f")): _*)
    val right = labeled.select(col("queryId") +:
      col("docId").as("__dj") +:
      col(labelCol).cast("double").as("__lj") +:
      featureCols.map(f => col(f).as(s"__j_$f")): _*)
    left.join(right, Seq("queryId"))
      .filter(col("__li") > col("__lj"))
      .select(col("queryId") +:
        concat(col("__di").cast("string"), lit("#"),
          col("__dj").cast("string")).as("docId") +:
        featureCols.map(f => (col(s"__i_$f") - col(s"__j_$f")).as(f)): _*)
  }

  /** PAIRWISE logistic training (RankNet-style, Burges'05): minimize
    * `Σ ln(1 + exp(−w·(x_i − x_j)))` over within-query preference
    * pairs — the objective that optimizes ORDER directly, where
    * pointwise log-loss optimizes calibration and typically plateaus
    * on nDCG. Built on [[ltrPreferencePairs]] (each label-differing
    * pair once, winner-first), so the loop is plain logistic
    * regression on the diff table with every implied label 1 and NO
    * intercept — the bias cancels in `s_i − s_j`, which is exactly
    * why the returned model's bias is 0.
    *
    * Features scale by their root-mean-square over the diff table
    * (scale-only — centering diffs would smuggle a bias back into
    * the pairwise margin), folded into the returned raw-feature
    * weights like [[ltrTrainPointwise]]'s standardization, so
    * [[ltrScore]] applies the model to RAW features unchanged.
    * Zero-RMS features drop with weight 0. Every reduction is the
    * same two-level pair-key-sorted [[foldAll]] — trained weights
    * replay bitwise at any partitioning (LtrSpec pins it) — and the
    * diff table materializes once internally (`localCheckpoint`;
    * pairs-sized, consumed `iters`+2 times).
    */
  def ltrTrainPairwise(labeled: DataFrame, featureCols: Seq[String],
                       labelCol: String, iters: Int,
                       lr: Double): LtrModel = {
    require(featureCols.nonEmpty, "featureCols must be non-empty")
    require(iters >= 1 && lr > 0, s"iters=$iters lr=$lr")
    val pairs = ltrPreferencePairs(labeled, featureCols, labelCol)
      .localCheckpoint()
    val n = pairs.count().toDouble
    require(n > 0,
      "ltrTrainPairwise: no preference pairs (labels all equal?)")
    val sqRow = foldAll(pairs, featureCols.map(f =>
      f -> col(f) * col(f)))
    val rms = featureCols.map(f =>
      f -> math.sqrt(sqRow.getDouble(sqRow.fieldIndex(f)) / n)).toMap
    val live = featureCols.filter(rms(_) > 0)
    var w = live.map(_ => 0.0).toArray
    for (_ <- 1 to iters) {
      // margin under the current weights; every pair's target is 1,
      // so the residual is σ(s) − 1 and one aggregate carries every
      // feature's gradient
      val s = live.zipWithIndex.foldLeft(lit(0.0)) { case (acc, (f, i)) =>
        acc + lit(w(i)) * col(f) / lit(rms(f))
      }
      val r = lit(1.0) / (lit(1.0) + exp(-s)) - lit(1.0)
      val gRow = foldAll(pairs, live.map(f =>
        f -> (col(f) / lit(rms(f)) * r)))
      w = live.zipWithIndex.map { case (f, i) =>
        w(i) - lr * gRow.getDouble(gRow.fieldIndex(f)) / n
      }.toArray
    }
    val raw = live.zipWithIndex.map { case (f, i) =>
      f -> w(i) / rms(f)
    }.toMap
    LtrModel(featureCols.map(f => f -> raw.getOrElse(f, 0.0)), 0.0)
  }
}
