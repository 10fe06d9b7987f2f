package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.OrderedFold

/** Federated / sharded-search resource selection — CORI collection
  * ranking (Callan, Lu & Croft SIGIR'95): given a corpus partitioned
  * into shards, rank the SHARDS per query so a distributed search
  * tier probes only the most promising ones. This is the routing
  * layer a 100 TB deployment puts in front of the per-shard
  * [[Retrieval]] indexes: the selection runs entirely on
  * SHARD-LEVEL METADATA — `(shard, word, df)` and `(shard, cw)`
  * tables, shards × vocabulary sized, corpus-independent — so query
  * routing never touches a posting list.
  *
  * The CORI belief of shard `s` for term `w`:
  *
  *   `T = df / (df + dfBase + cwScale · cw_s / avg_cw)`   (df shape)
  *   `I = ln((C + 0.5) / cf_w) / ln(C + 1.0)`             (icf shape)
  *   `p(w|s) = b + (1 − b) · T · I`
  *
  * with `C` = shard count, `cf_w` = shards containing `w`, `cw_s` =
  * shard token count, and the canonical constants `b = 0.4,
  * dfBase = 50, cwScale = 150`. A query's score for a shard is the
  * MEAN belief over its corpus-present distinct terms (a term the
  * shard lacks contributes the prior `b` — df = 0 ⇒ T = 0; a term no
  * shard contains drops, the corpus-absent convention everywhere
  * here). q215 gates the whole chain against a from-first-principles
  * replay.
  *
  * Lifecycle: both metadata tables aggregate off the per-shard
  * [[Retrieval.termFrequencies]] layout and merge ADDITIVELY under
  * ingest (per-shard df adds like [[Retrieval.dfTable]], cw is an
  * exact BIGINT sum), so shard stats ride the same compaction
  * cadence as the indexes they describe. Every Σ is a word-keyed
  * [[graft.functions.OrderedFold]], so scores replay bitwise.
  */
object Federation {

  /** Per-shard term document frequencies `(shard, word, df)` off a
    * [[Retrieval.termFrequencies]] table and a `(docId, shard)`
    * assignment — `tf` rows are unique per (doc, word), so the count
    * is the shard df. Additive across micro-batches per shard.
    */
  def shardTermStats(tf: DataFrame, shards: DataFrame): DataFrame =
    tf.join(shards.select(col("docId"), col("shard")), Seq("docId"))
      .groupBy(col("shard"), col("word"))
      .agg(count(lit(1)).as("df"))

  /** Per-shard token counts `(shard, cw)` — the CORI collection-size
    * signal; exact BIGINT sums of per-doc lengths, additive under
    * ingest like [[Retrieval.corpusStats]].
    */
  def shardSizes(tf: DataFrame, shards: DataFrame): DataFrame =
    tf.join(shards.select(col("docId"), col("shard")), Seq("docId"))
      .groupBy(col("shard"), col("docId")).agg(max(col("dl")).as("dl"))
      .groupBy(col("shard")).agg(sum(col("dl")).as("cw"))

  /** Append-side merge of two [[shardTermStats]] tables — the
    * [[Retrieval.compactTermIndex]] df-merge convention per shard:
    * counts add across the union, row-identical to a rebuild over the
    * merged corpus under the disjoint-docId ingest contract
    * (FederationSpec pins the parity). Vocabulary × shards sized.
    */
  def compactShardTermStats(sdf: DataFrame,
                            batchSdf: DataFrame): DataFrame =
    sdf.unionByName(batchSdf)
      .groupBy(col("shard"), col("word"))
      .agg(sum(col("df")).as("df"))

  /** Append-side merge of two [[shardSizes]] tables — exact BIGINT
    * sums, shards-sized.
    */
  def compactShardSizes(scw: DataFrame, batchScw: DataFrame): DataFrame =
    scw.unionByName(batchScw)
      .groupBy(col("shard"))
      .agg(sum(col("cw")).as("cw"))

  /** Deletion-side merge of a [[shardTermStats]] table — the
    * [[Retrieval.compactTermIndexDeleted]] df convention per shard:
    * subtract the deleted docs' per-shard df (computed from their
    * posting rows + the shard assignment — id-width work through the
    * docId-bucketed forward layout), zero-df rows drop. Row-identical
    * to a rebuild on the survivors (FederationSpec pins it), so CORI
    * selection tracks deletions exactly instead of drifting toward
    * shards whose mass left.
    */
  def compactShardTermStatsDeleted(sdf: DataFrame, tf: DataFrame,
                                   shards: DataFrame,
                                   deleteIds: DataFrame): DataFrame = {
    val del = deleteIds.select(col("docId"))
    val deletedTf = tf.join(del, Seq("docId"), "left_semi")
    sdf.unionByName(
      shardTermStats(deletedTf, shards)
        .select(col("shard"), col("word"), (-col("df")).as("df")))
      .groupBy(col("shard"), col("word"))
      .agg(sum(col("df")).as("df"))
      .filter(col("df") > 0)
  }

  /** Deletion-side merge of a [[shardSizes]] table — exact BIGINT
    * subtraction of the deleted docs' per-shard token mass; a shard
    * whose last doc leaves drops (cw = 0 — CORI's per-shard size
    * signal must not divide by a ghost shard).
    */
  def compactShardSizesDeleted(scw: DataFrame, tf: DataFrame,
                               shards: DataFrame,
                               deleteIds: DataFrame): DataFrame = {
    val del = deleteIds.select(col("docId"))
    val deletedTf = tf.join(del, Seq("docId"), "left_semi")
    scw.unionByName(
      shardSizes(deletedTf, shards)
        .select(col("shard"), (-col("cw")).as("cw")))
      .groupBy(col("shard"))
      .agg(sum(col("cw")).as("cw"))
      .filter(col("cw") > 0)
  }

  /** CORI shard ranking: `(queryId, shard, score, rank)` over ALL
    * shards per query (rank 1 = probe first; cap with
    * `filter(rank <= n)` for a probe budget). `shardDf` is consumed
    * 2× (the cf aggregate + the belief join) and `shardCw` 2× (the
    * shard-count scalars + the per-shard size fan-out) — pass the
    * PERSISTED metadata tables ([[shardTermStats]]/[[shardSizes]]
    * landed at ingest, or `localCheckpoint()`ed as q215 does), never
    * lazy aggregation chains, or the chain re-runs per consumer (the
    * measured linearFuse bug class). Everything after the query-term
    * join is (queries × shards × terms)-sized.
    */
  def coriShardScores(shardDf: DataFrame, shardCw: DataFrame,
                      queries: DataFrame, qidCol: String, qtextCol: String,
                      b: Double = 0.4, dfBase: Double = 50.0,
                      cwScale: Double = 150.0): DataFrame = {
    require(b >= 0 && b <= 1, s"b in [0,1]: $b")
    val cstats = shardCw.agg(
      count(lit(1)).cast("double").as("C"),
      (sum(col("cw")).cast("double") / count(lit(1)).cast("double"))
        .as("avgcw"))
    val cft = shardDf.groupBy("word").agg(count(lit(1)).as("cf"))
    // corpus-present distinct query terms, cf folded in
    val qt = Retrieval.queryTerms(queries, qidCol, qtextCol)
      .join(cft, Seq("word"))
    val nq = qt.groupBy("queryId").agg(count(lit(1)).as("__nq"))
    val dfD: Column = coalesce(col("df").cast("double"), lit(0.0))
    val tExpr: Column = dfD /
      (dfD + lit(dfBase) +
        lit(cwScale) * col("cw").cast("double") / col("avgcw"))
    val iExpr: Column =
      log((col("C") + lit(0.5)) / col("cf").cast("double")) /
        log(col("C") + lit(1.0))
    val cells = qt
      .crossJoin(broadcast(shardCw.select(col("shard"), col("cw"))))
      .join(shardDf, Seq("shard", "word"), "left_outer")
      .crossJoin(broadcast(cstats))
      .select(col("queryId"), col("shard"), col("word"),
        (lit(b) + lit(1.0 - b) * tExpr * iExpr).as("__p"))
    val w = Window.partitionBy(col("queryId"))
      .orderBy(col("score").desc, col("shard").asc)
    cells
      .groupBy(col("queryId"), col("shard"))
      .agg(OrderedFold.sum(col("__p"), col("word")).as("__s"))
      .join(nq, Seq("queryId"))
      .select(col("queryId"), col("shard"),
        (col("__s") / col("__nq").cast("double")).as("score"))
      .withColumn("rank", row_number().over(w).cast("long"))
  }

  /** Federated retrieval END TO END — select → probe → merge, the
    * composition every sharded deployment runs (the pre-r18 surface
    * stopped at [[coriShardScores]] selection): CORI ranks the
    * shards per query, each query probes ONLY its top-`nProbe`
    * shards' posting rows, and the per-shard results merge into one
    * global top-`k`. Returns `(queryId, docId, score, rank)` — the
    * [[Retrieval.bm25TopK]] shape.
    *
    * THE statistics decision, pinned here: probes score with the
    * GLOBAL `(dfTab, stats)` tables — full-corpus df/avgdl/N, which
    * stay one additive merge away at ingest exactly like the
    * per-shard metadata ([[compactShardTermStats]] cadence) — NEVER
    * shard-local statistics. Shard-local idf makes scores
    * incomparable across shards (the classic federated-search
    * correctness failure: a term rare in one shard but hot globally
    * inflates that shard's results), while global statistics make
    * every probed pair's score bitwise the single-index score — so
    * the merge IS the unsharded ranking restricted to probed
    * (query, shard) pairs, and with every shard selected the output
    * is bitwise the unsharded top-k (q237 gates exactly that;
    * FederationSpec pins the nProbe < S restriction invariant and
    * the selection-quality recall row).
    *
    * Scale shape: `shardTf` is the sharded index as ONE
    * shard-partitioned table `(shard, docId, dl, word, tf)` —
    * persisted `partitionBy(shard)` + `bucketBy(word)`, the layout a
    * single-cluster federation stores anyway. The selection output
    * is result-sized (queries × nProbe; localCheckpointed — consumed
    * by the batch prune AND the pair filter); the batch's distinct
    * selected-shard set broadcast-semi-joins FIRST (partition
    * pruning — unselected shards never scan), then the word join
    * restricts to query vocabulary, then the per-(query, shard)
    * semi-join drops cross-shard noise BEFORE the score fold. The
    * fold and window are [[Retrieval]]'s own (shared internals — the
    * fold cannot drift from the unsharded scorer).
    */
  def coriTopK(shardTf: DataFrame, shardDf: DataFrame, shardCw: DataFrame,
               dfTab: DataFrame, stats: DataFrame,
               queries: DataFrame, qidCol: String, qtextCol: String,
               k: Int, nProbe: Int,
               k1: Double = 1.2, b25: Double = 0.75,
               coriB: Double = 0.4, dfBase: Double = 50.0,
               cwScale: Double = 150.0): DataFrame = {
    require(k > 0, s"k > 0: $k")
    // built first: rejects bad k1/b25 before the selection runs
    val contribCols = Retrieval.bm25ContribCols(k1, b25)
    val (sel, tfPruned) = selectAndPrune(shardTf, shardDf, shardCw,
      queries, qidCol, qtextCol, nProbe, coriB, dfBase, cwScale)
    val terms = Retrieval.bm25TermTable(
      Retrieval.unitQueryTerms(queries, qidCol, qtextCol), dfTab,
      stats)
    Retrieval.bm25TopK(Retrieval.scoreFold(Retrieval.postingContribs(
      tfPruned, terms, contribCols, selected(sel))), k)
  }

  /** [[coriTopK]] for the QUERY-LIKELIHOOD scorer — federation is
    * scorer-agnostic by construction (selection reads shard metadata,
    * the probe restriction is a semi-join), so the LM ranker gets the
    * same select → probe → merge composition with the SAME global-
    * statistics decision: probes score with the full-corpus cf/|C|
    * tables (additive merges at ingest like everything else), so QL
    * log-likelihoods are comparable across shards and the merge is
    * bitwise the unsharded QL ranking restricted to probed pairs
    * (q242 gates it; with every shard selected, the unsharded top-k).
    * Same plan shape: shard-set broadcast prune, word join, pair
    * semi-join BEFORE the fold, then [[Retrieval]]'s own QL fold with
    * its once-added length normalizer.
    */
  def coriTopKQl(shardTf: DataFrame, shardDf: DataFrame,
                 shardCw: DataFrame,
                 cfTab: DataFrame, stats: DataFrame,
                 queries: DataFrame, qidCol: String, qtextCol: String,
                 k: Int, nProbe: Int,
                 mu: Double = 2000.0,
                 coriB: Double = 0.4, dfBase: Double = 50.0,
                 cwScale: Double = 150.0): DataFrame = {
    require(k > 0, s"k > 0: $k")
    // built first: rejects a bad mu before the selection runs
    val contribCols = Retrieval.qlContribCols(mu)
    val (sel, tfPruned) = selectAndPrune(shardTf, shardDf, shardCw,
      queries, qidCol, qtextCol, nProbe, coriB, dfBase, cwScale)
    // the qlDirichletScores term table (corpus-present |q|, global
    // cf/|C|) — shared trees, so probed pairs score bitwise like the
    // single index
    val terms = Retrieval.qlTermTable(
      Retrieval.unitQueryTerms(queries, qidCol, qtextCol), cfTab,
      stats)
    Retrieval.bm25TopK(Retrieval.qlScoreFold(Retrieval.postingContribs(
      tfPruned, terms, contribCols, selected(sel)), mu), k)
  }

  /** SCORE-EXACT pruned federated top-k — [[Retrieval.bm25TopKWand]]
    * composed into [[coriTopK]], closing the r18 gap where probes
    * scored every matched posting inside the selected shards (at
    * 100 TB the per-shard matched-posting volume IS the probe cost):
    * returns exactly `coriTopK(...)` — same rows, same scores,
    * bitwise (q248 gates it against the unpruned federated replay) —
    * while hot-term postings inside the probed shards are never
    * scanned for safe queries.
    *
    * The two-phase plan survives the federation because the probe
    * restriction only REMOVES docs: candidates are the docs in
    * SELECTED (query, shard) pairs matching ≥ 1 rare term (the pair
    * semi-join lands on the rare contributions BEFORE the fold, as in
    * [[coriTopK]]); their hot contributions fetch doc-wise through
    * `forward` (defaults to `shardTf` — at ingest pass the
    * shard-partitioned docId-bucketed copy), and candidate scores are
    * the exact GLOBAL-statistics scores. Any probed-shard doc outside
    * the candidate set matches only hot terms, so its score stays
    * under the [[Retrieval.bm25WandScorer]] bound — global
    * idf/impact metadata dominates every shard-local posting — and
    * `ub < θ` (θ = the kth candidate score) routes the query safe
    * exactly as in the single-index operator; the shared bound tree
    * means the two families cannot drift. Unsafe queries complete
    * through [[Retrieval.wandTopK]]'s fallback over their selected
    * pairs (reusing the SAME selection — CORI never re-runs).
    */
  def coriTopKWand(shardTf: DataFrame, shardDf: DataFrame,
                   shardCw: DataFrame,
                   dfTab: DataFrame, stats: DataFrame,
                   queries: DataFrame, qidCol: String, qtextCol: String,
                   k: Int, nProbe: Int, hotDf: Long,
                   k1: Double = 1.2, b25: Double = 0.75,
                   forward: Option[DataFrame] = None,
                   impact: Option[DataFrame] = None,
                   coriB: Double = 0.4, dfBase: Double = 50.0,
                   cwScale: Double = 150.0): DataFrame =
    Retrieval.wandTopK(coriWandScorer(shardTf, shardDf, shardCw, queries,
      qidCol, qtextCol, nProbe, k1, b25, forward, impact, coriB,
      dfBase, cwScale),
      Retrieval.bm25TermTable(
        Retrieval.unitQueryTerms(queries, qidCol, qtextCol), dfTab,
        stats), k, hotDf)

  /** ROUTING-AWARE federated top-k — the production default for the
    * select → probe → merge path: serve through [[coriTopKWand]] when
    * the corpus is large enough for pruning to pay, through the
    * unpruned [[coriTopK]] otherwise. Both branches are score-exact
    * (q248 pins the WAND branch bitwise against the unpruned
    * federated replay), so the routing is pure ECONOMICS — the
    * [[Retrieval.qlTopKWandWeightedRouted]] rule applied to the
    * federation: WAND's candidate/bound stages cost a near-constant
    * extra budget while the win scales with the hot posting volume
    * inside the probed shards. Measured at the r19 shapes (ScaleBench
    * federated arms, 50k docs / 16 shards / 4 probed): WAND 5.8 s
    * cold vs 7.6 unpruned, but warm 5.8 vs 5.0 — the same crossover
    * every WAND consumer shows, so the same `minWandDocs = 20000`
    * default and the same [[Retrieval.routedHotDf]] over the GLOBAL
    * `stats` table. The unpruned branch never evaluates `forward` or
    * `impact` (plans are lazy), so callers pass the metadata
    * unconditionally.
    */
  def coriTopKRouted(shardTf: DataFrame, shardDf: DataFrame,
                     shardCw: DataFrame,
                     dfTab: DataFrame, stats: DataFrame,
                     queries: DataFrame, qidCol: String, qtextCol: String,
                     k: Int, nProbe: Int,
                     hotDf: Option[Long] = None,
                     minWandDocs: Long = 20000L,
                     k1: Double = 1.2, b25: Double = 0.75,
                     forward: Option[DataFrame] = None,
                     impact: Option[DataFrame] = None,
                     coriB: Double = 0.4, dfBase: Double = 50.0,
                     cwScale: Double = 150.0): DataFrame = {
    Retrieval.routedHotDf(stats, minWandDocs, hotDf) match {
      case None =>
        coriTopK(shardTf, shardDf, shardCw, dfTab, stats, queries,
          qidCol, qtextCol, k, nProbe, k1, b25, coriB, dfBase,
          cwScale)
      case Some(hd) =>
        coriTopKWand(shardTf, shardDf, shardCw, dfTab, stats, queries,
          qidCol, qtextCol, k, nProbe, hd, k1, b25, forward,
          impact, coriB, dfBase, cwScale)
    }
  }

  /** The federated WAND decision table (the q187/q205/q246
    * convention) — identical columns and routing predicate as
    * [[Retrieval.bm25WandStats]], the same [[coriWandScorer]] and
    * [[Retrieval.wandStats]] stages as [[coriTopKWand]] so the
    * readout cannot drift.
    * `n_candidates` counts candidate (query, doc) pairs INSIDE the
    * selected shards (the restricted rare-posting probe's output);
    * `ub` is the global hot-only bound (selection never weakens it —
    * probed docs are a subset of the corpus).
    */
  def coriWandStats(shardTf: DataFrame, shardDf: DataFrame,
                    shardCw: DataFrame,
                    dfTab: DataFrame, stats: DataFrame,
                    queries: DataFrame, qidCol: String, qtextCol: String,
                    k: Int, nProbe: Int, hotDf: Long,
                    k1: Double = 1.2, b25: Double = 0.75,
                    forward: Option[DataFrame] = None,
                    impact: Option[DataFrame] = None,
                    coriB: Double = 0.4, dfBase: Double = 50.0,
                    cwScale: Double = 150.0): DataFrame =
    Retrieval.wandStats(coriWandScorer(shardTf, shardDf, shardCw, queries,
      qidCol, qtextCol, nProbe, k1, b25, forward, impact, coriB,
      dfBase, cwScale),
      Retrieval.bm25TermTable(
        Retrieval.unitQueryTerms(queries, qidCol, qtextCol), dfTab,
        stats), k, hotDf)

  /** The federated WAND scorer — [[Retrieval.bm25WandScorer]] over the
    * shard-set-pruned postings with the (query, shard) selection
    * semi-join landed on every posting probe (rare candidates and the
    * fallback complement alike, BEFORE the fold — the [[coriTopK]]
    * restriction). Candidate pairs already respect the selection (each
    * doc lives in exactly one shard), so the forward fetch needs no
    * shard filter: the hot join restricts to the query's own hot terms.
    */
  private def coriWandScorer(shardTf: DataFrame, shardDf: DataFrame,
                             shardCw: DataFrame,
                             queries: DataFrame, qidCol: String,
                             qtextCol: String, nProbe: Int,
                             k1: Double, b25: Double,
                             forward: Option[DataFrame],
                             impact: Option[DataFrame],
                             coriB: Double, dfBase: Double,
                             cwScale: Double): Retrieval.WandScorer = {
    val (sel, tfPruned) = selectAndPrune(shardTf, shardDf, shardCw,
      queries, qidCol, qtextCol, nProbe, coriB, dfBase, cwScale)
    Retrieval.bm25WandScorer(tfPruned, forward.getOrElse(shardTf), k1, b25,
      impact, selected(sel))
  }

  /** The probe filter of the federated operators: matched posting rows
    * semi-joined to the selected (queryId, shard) pairs, BEFORE the
    * fold. The selection is result-sized by contract — the explicit
    * broadcast side (the [[Retrieval.postingContribs]] rationale).
    */
  private def selected(sel: DataFrame): DataFrame => DataFrame =
    _.join(broadcast(sel), Seq("queryId", "shard"), "left_semi")

  /** The selection + batch-prune head shared by the federated top-k
    * operators: the CORI top-`nProbe` (queryId, shard) set
    * (result-sized, localCheckpointed — consumed by the batch prune
    * AND the pair filter) and the shard-partitioned posting table
    * semi-joined to the batch's distinct selected shards.
    */
  private def selectAndPrune(shardTf: DataFrame, shardDf: DataFrame,
                             shardCw: DataFrame,
                             queries: DataFrame, qidCol: String,
                             qtextCol: String, nProbe: Int,
                             coriB: Double, dfBase: Double,
                             cwScale: Double): (DataFrame, DataFrame) = {
    require(nProbe > 0, s"nProbe > 0: $nProbe")
    val sel = coriShardScores(shardDf, shardCw, queries, qidCol,
      qtextCol, coriB, dfBase, cwScale)
      .filter(col("rank") <= nProbe)
      .select("queryId", "shard")
      .localCheckpoint()
    // the batch prune is a STATIC IN filter, not a broadcast
    // semi-join: the probed shard set is ≤ |shards| (metadata-scale —
    // the same contract that broadcasts shardCw; sel is already
    // checkpointed, so this is one result-sized driver read, the
    // sanctioned routing-scale collect). The payoff is physical: over
    // a `partitionBy(shard)` persisted posting layout the filter
    // prunes at FILE LISTING — a 4-of-16 probe reads 1/4 of the
    // bytes, no scan task ever opens an unselected shard's files
    // (BucketingSpec pins the partition filter; at 100 TB this IS the
    // difference between a federated probe and a full-corpus scan).
    val shardSet = sel.select("shard").distinct().collect()
      .map(_.get(0)).toSeq
    val pruned =
      if (shardSet.isEmpty) shardTf.filter(lit(false)) // no queries
      else shardTf.filter(col("shard").isInCollection(shardSet))
    (sel, pruned)
  }
}
