package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.OrderedFold

/** Ranking-quality evaluation — the trec_eval battery re-expressed
  * relationally, the lexical/hybrid mirror of [[Knn.recallAtK]]: given
  * a RUN (a ranking a retrieval operator produced) and graded QRELS
  * (relevance judgments), the per-query metrics that tune every knob
  * in the retrieval stack (`hotDf`, `maxDocFrequency`, RM3's
  * k/m/λ, fusion weights) against result QUALITY rather than
  * wall-clock. q206 gates the per-query table and q207 the macro
  * means against a from-first-principles DuckDB replay.
  *
  * Scale shape: runs and qrels are RESULT-sized (queries × k and
  * queries × judged-docs) — every join, window, and fold here is over
  * result-set-sized tables, so evaluation cost is independent of the
  * corpus. The folds are rank-/position-keyed
  * [[graft.functions.OrderedFold]]s, so the metric doubles replay
  * exactly at any partitioning.
  */
object IrEval {

  /** Per-query ranking metrics at cutoff `k` — the trec_eval set:
    * `(queryId, n_rel, n_ret_rel, p_at_k, recall_at_k, rr, ap, ndcg)`.
    *
    * Inputs: `run` = `(queryId, docId, rank)` ([[Retrieval.bm25TopK]]'s
    * shape; repeated (queryId, docId) rows are defensively collapsed
    * to `min(rank)`, the [[Retrieval.rrfFuse]] convention); `qrels` =
    * `(queryId, docId, grade)` with integer grades, `grade > 0` =
    * relevant (graded grades feed nDCG; binary qrels just use 1).
    *
    * Conventions (trec_eval's):
    *   - the query universe is the queries with ≥ 1 RELEVANT qrel —
    *     a judged query the run returned nothing for scores 0 across
    *     the board (it stays a row); run-only queries are dropped
    *     (nothing is judged, nothing can be scored);
    *   - `p_at_k` divides by `k` (not by rows returned — returning
    *     fewer than k docs forfeits the missing precision mass);
    *   - `recall_at_k = n_ret_rel / n_rel`;
    *   - `rr` = 1/rank of the FIRST relevant hit within the top k,
    *     0 with none (MRR@k when averaged);
    *   - `ap` = Σ_{relevant hits at rank r ≤ k} (rel hits ranked ≤ r)/r,
    *     divided by `n_rel` (AP@k; MAP when averaged);
    *   - `ndcg` = DCG@k / IDCG@k with the exponential gain
    *     `(2^grade − 1)/log2(rank + 1)` (the Burges/trec_eval form);
    *     IDCG re-ranks the query's own judged grades descending, so
    *     ndcg = 1 iff the run leads with an ideal ordering. Unjudged
    *     retrieved docs gain 0 (grade coalesces to 0) — the standard
    *     incomplete-judgments treatment.
    *
    * Every Σ is an [[OrderedFold.sum]] (rank-keyed for DCG/AP, ideal
    * position for IDCG); `log2` is written `ln(x)/ln(2)` so the oracle
    * replays the identical tree. `qrels` is consumed 3× (universe, hit
    * join, ideal ranking) and `run` once — pass MATERIALIZED
    * result-sized tables (a `localCheckpoint()`ed top-k), never lazy
    * scoring chains, or the chain re-runs per consumer (the measured
    * linearFuse bug class).
    */
  def rankingMetrics(run: DataFrame, qrels: DataFrame, k: Int): DataFrame = {
    require(k > 0, s"k > 0: $k")
    // BOTH inputs collapse defensively: run to min(rank) (below), and
    // qrels to max(grade) per (query, doc) — merged judgment files
    // commonly repeat a pair, and a duplicate would double-count
    // n_rel, the hit join, AP's running precision, DCG, and an IDCG
    // position at once
    val rel = qrels.filter(col("grade") > 0)
      .groupBy(col("queryId"), col("docId"))
      .agg(max(col("grade").cast("double")).as("grade"))
    val nRel = rel.groupBy("queryId").agg(count(lit(1)).as("n_rel"))
    val runK = run.groupBy(col("queryId"), col("docId"))
      .agg(min(col("rank")).cast("long").as("rank"))
      .filter(col("rank") <= k)
    val hits = runK.join(rel, Seq("queryId", "docId"), "left_outer")
      .select(col("queryId"), col("rank"),
        coalesce(col("grade"), lit(0.0)).as("grade"))
    // running count of relevant hits up to each rank — AP's prec@r
    val wRun = Window.partitionBy(col("queryId")).orderBy(col("rank"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val contrib = hits
      .withColumn("__nrelr",
        sum(when(col("grade") > 0, 1L).otherwise(0L)).over(wRun))
      .select(col("queryId"), col("rank"), col("grade"),
        when(col("grade") > 0,
          col("__nrelr").cast("double") / col("rank").cast("double"))
          .otherwise(lit(0.0)).as("__prec"),
        ((pow(lit(2.0), col("grade")) - lit(1.0)) /
          (log((col("rank") + lit(1L)).cast("double")) / log(lit(2.0))))
          .as("__dcg"),
        when(col("grade") > 0, col("rank")).as("__relrank"))
    val perQ = contrib.groupBy("queryId").agg(
      sum(when(col("grade") > 0, 1L).otherwise(0L)).as("n_ret_rel"),
      OrderedFold.sum(col("__prec"), col("rank")).as("__psum"),
      OrderedFold.sum(col("__dcg"), col("rank")).as("__dcgs"),
      min(col("__relrank")).as("__frr"))
    // ideal DCG: the query's own judged grades, best-first (grade
    // desc, docId ties — the VALUE is tie-invariant, the fold order
    // deterministic), cut at k
    val wIdeal = Window.partitionBy(col("queryId"))
      .orderBy(col("grade").desc, col("docId").asc)
    val idcg = rel.withColumn("__i", row_number().over(wIdeal))
      .filter(col("__i") <= k)
      .select(col("queryId"), col("__i"),
        ((pow(lit(2.0), col("grade")) - lit(1.0)) /
          (log((col("__i") + lit(1)).cast("double")) / log(lit(2.0))))
          .as("__ic"))
      .groupBy("queryId")
      .agg(OrderedFold.sum(col("__ic"), col("__i")).as("__idcg"))
    nRel
      .join(perQ, Seq("queryId"), "left_outer")
      .join(idcg, Seq("queryId"), "left_outer")
      .select(col("queryId"), col("n_rel"),
        coalesce(col("n_ret_rel"), lit(0L)).as("n_ret_rel"),
        (coalesce(col("n_ret_rel"), lit(0L)).cast("double") /
          lit(k.toDouble)).as("p_at_k"),
        (coalesce(col("n_ret_rel"), lit(0L)).cast("double") /
          col("n_rel").cast("double")).as("recall_at_k"),
        coalesce(lit(1.0) / col("__frr").cast("double"), lit(0.0)).as("rr"),
        (coalesce(col("__psum"), lit(0.0)) / col("n_rel").cast("double"))
          .as("ap"),
        (coalesce(col("__dcgs"), lit(0.0)) / col("__idcg")).as("ndcg"))
  }

  /** Paired comparison of two [[rankingMetrics]] tables over their
    * COMMON queries — the trec_eval run-comparison companion: one row
    * with, per metric `m ∈ {p_at_k, recall_at_k, rr, ap, ndcg}`, the
    * mean per-query difference `d_m = mean(A_m − B_m)` and the paired
    * t-statistic `t_m = d_m / √(s²/n)` (s² the n−1 sample variance of
    * the differences) — the standard significance readout for "is run
    * A actually better than run B, or is the delta query noise".
    * `t_m` is NULL when n < 2 or the differences are constant
    * (zero variance — identical runs included); callers compare |t|
    * against their chosen critical value. Queries present in only one
    * table drop (paired means paired); empty intersection → empty
    * output (the [[meanRankingMetrics]] convention). Folds are
    * queryId-keyed [[OrderedFold.sum]]s in two passes (mean, then
    * Σ(d−mean)²).
    */
  def pairedComparison(metricsA: DataFrame,
                       metricsB: DataFrame): DataFrame = {
    val ms = Seq("p_at_k", "recall_at_k", "rr", "ap", "ndcg")
    // defensive per-query collapse (the kendallTau/rankingMetrics
    // convention): a duplicated queryId would otherwise fan out the
    // pair join, multiply-weight that query's delta, and corrupt the
    // t-statistic silently. max() is deterministic and the identity
    // for well-formed inputs.
    def collapsed(m: DataFrame, pfx: String) =
      m.groupBy(col("queryId"))
        .agg(max(col(ms.head)).as(s"$pfx${ms.head}"),
          ms.tail.map(c => max(col(c)).as(s"$pfx$c")): _*)
    val a = collapsed(metricsA, "__a_")
    val b = collapsed(metricsB, "__b_")
    val d = a.join(b, Seq("queryId"))
      .select(col("queryId") +:
        ms.map(c => (col(s"__a_$c") - col(s"__b_$c")).as(s"__d_$c")): _*)
      .localCheckpoint() // queries-sized, consumed 2x (mean, variance)
    val means = d.groupBy().agg(
      count(lit(1)).as("__n"),
      ms.map(c => (OrderedFold.sum(col(s"__d_$c"), col("queryId")) /
        count(lit(1)).cast("double")).as(s"__m_$c")): _*)
    d.crossJoin(broadcast(means))
      .groupBy()
      .agg(
        count(lit(1)).as("n_queries"),
        ms.flatMap { c =>
          val dev = col(s"__d_$c") - col(s"__m_$c")
          val ssq = OrderedFold.sum(dev * dev, col("queryId"))
          val n = count(lit(1)).cast("double")
          Seq(max(col(s"__m_$c")).as(s"d_$c"),
            when(count(lit(1)) > 1 && ssq > 0,
              max(col(s"__m_$c")) / sqrt(ssq / (n - lit(1.0)) / n))
              .as(s"t_$c"))
        }: _*)
      .filter(col("n_queries") > 0)
  }

  /** Kendall rank correlation between two runs, per query — the
    * ranking-agreement diagnostic (the trec convention for "how
    * differently do these two systems order results", where q218's
    * t-test asks how differently they SCORE against qrels): over the
    * docs BOTH runs ranked for the query, τ = (C − D) / (n(n−1)/2)
    * with C/D the concordant/discordant doc pairs (ranks within a run
    * are distinct, so there are no rank ties and τ is Kendall's
    * tau-a = tau-b on this restriction). Returns
    * `(queryId, n_common, n_concordant, n_discordant, tau)` — one row
    * per query RANKED BY EITHER run (`n_common = 0` when the runs
    * share nothing, the fully-diverged case a pruning knob produces);
    * queries with fewer than 2 common docs carry a NULL τ (agreement
    * is undefined, not perfect). τ = 1 iff the runs order the common
    * docs identically, −1 iff exactly reversed.
    *
    * Scale shape: run tables are result-sized (queries × k), the pair
    * enumeration is the per-query candidate self-join (≤ k² rows per
    * query), and the counts are plain integer aggregates — evaluation
    * cost independent of the corpus, like everything in this object.
    * Both runs collapse duplicates to `min(rank)` defensively (the
    * [[rankingMetrics]] convention).
    */
  def kendallTau(runA: DataFrame, runB: DataFrame): DataFrame = {
    def collapsed(r: DataFrame, c: String) =
      r.groupBy(col("queryId"), col("docId"))
        .agg(min(col("rank")).cast("long").as(c))
    // result-sized and multiply consumed (ca: qids + common; common:
    // the self-joined pair enumeration + the count) — materialized so
    // lazy corpus-sized run plans execute once, the linearFuse rule
    val ca = collapsed(runA, "ra").localCheckpoint()
    val cb = collapsed(runB, "rb").localCheckpoint()
    val qids = ca.select("queryId").union(cb.select("queryId")).distinct()
    val common = ca.join(cb, Seq("queryId", "docId")).localCheckpoint()
    val pairs = common
      .select(col("queryId"), col("docId").as("__d1"),
        col("ra").as("__ra1"), col("rb").as("__rb1"))
      .join(common.select(col("queryId"), col("docId").as("__d2"),
        col("ra").as("__ra2"), col("rb").as("__rb2")), Seq("queryId"))
      .filter(col("__d1") < col("__d2"))
      .select(col("queryId"),
        when((col("__ra1") < col("__ra2")) === (col("__rb1") < col("__rb2")),
          1L).otherwise(0L).as("__conc"))
    val n = qids.join(
      common.groupBy("queryId").agg(count(lit(1)).as("__nc")),
      Seq("queryId"), "left_outer")
      .select(col("queryId"),
        coalesce(col("__nc"), lit(0L)).as("n_common"))
    n.join(
      pairs.groupBy("queryId").agg(
        sum(col("__conc")).as("n_concordant"),
        sum(lit(1L) - col("__conc")).as("n_discordant")),
      Seq("queryId"), "left_outer")
      .select(col("queryId"), col("n_common"),
        coalesce(col("n_concordant"), lit(0L)).as("n_concordant"),
        coalesce(col("n_discordant"), lit(0L)).as("n_discordant"),
        when(col("n_common") >= 2,
          (coalesce(col("n_concordant"), lit(0L)) -
            coalesce(col("n_discordant"), lit(0L))).cast("double") /
            (col("n_common") * (col("n_common") - 1) / lit(2L))
              .cast("double")).as("tau"))
  }

  /** Macro averages of a [[rankingMetrics]] table — ONE row
    * `(n_queries, mean_p_at_k, mean_recall_at_k, mrr, map, mean_ndcg)`:
    * every query weighs equally (the trec_eval "all" line; `rr`
    * averaged IS MRR, `ap` averaged IS MAP). Folds are queryId-keyed
    * [[OrderedFold.sum]]s; the input is per-query (result-
    * sized), so this is driver-cheap at any corpus scale.
    */
  def meanRankingMetrics(metrics: DataFrame): DataFrame = {
    def meanOf(c: String) =
      (OrderedFold.sum(col(c), col("queryId")) /
        count(lit(1)).cast("double")).as(s"mean_$c")
    metrics.groupBy().agg(
      count(lit(1)).as("n_queries"),
      meanOf("p_at_k"), meanOf("recall_at_k"),
      meanOf("rr"), meanOf("ap"), meanOf("ndcg"))
      .withColumnRenamed("mean_rr", "mrr")
      .withColumnRenamed("mean_ap", "map")
      // empty in -> empty out: the global groupBy would otherwise emit
      // one row of 0/0 = NaN means, which a tuning loop comparing
      // mrr/map across configs silently propagates (all comparisons
      // false) instead of surfacing the empty evaluation
      .filter(col("n_queries") > 0)
  }
}
