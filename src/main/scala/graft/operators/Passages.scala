package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The PERSISTED passage-index layout + lifecycle — passage-level
  * retrieval (Callan SIGIR'94 / Dai & Callan's MaxP) promoted from an
  * in-gate rebuild to the same ingest-maintained layout family as the
  * word index: a passage index is ~`width/stride`× the corpus volume
  * (q203's width-32/stride-16 shape doubles it, and the segmentation
  * re-tokenizes everything), so at 100 TB it MUST be built once at
  * ingest and maintained incrementally — never re-segmented per probe
  * batch.
  *
  * The layout is four tables, all derivable per micro-batch from the
  * batch's documents alone (every merge is the word-index machinery —
  * [[Retrieval.compactTermIndex]]'s append/delete contract — over
  * PASSAGE ids, which inherit the disjoint-ingest contract from doc
  * ids because `passageId = "<docId>:<idx>"`):
  *
  *   - `tf` — [[Retrieval.termFrequencies]] of the passages (the
  *     `docId` column HOLDS passage ids: the passage collection IS
  *     the corpus, so every word-index operator applies verbatim);
  *     persist `bucketBy(word)` like the document index;
  *   - `dfTab`/`stats` — passage-level df and (n_passages,
  *     total_dl): additive BIGINTs, the compaction cadence of the
  *     index they describe;
  *   - `membership` — `(passageId, docId)`: the MaxP evidence join
  *     key; appends with its documents, deletes with them.
  *
  * Reference behavior: jaccard-mapreduce has no passage retrieval;
  * this extends the repo's own q203 surface with the lifecycle every
  * other layout family already has.
  */
object Passages {

  /** The persisted passage-index layout (see object doc). Pass the
    * four tables MATERIALIZED (parquet/bucketed at ingest,
    * `localCheckpoint` in tests/gates) — every probe consumes `tf`
    * via the one posting join and the others broadcast-sized or
    * membership-sized.
    *
    * The two OPTIONAL pruning tables serve [[maxPassageTopKWand]]
    * (r19 — the score-exact fast path): `forward` is the docId(=
    * passageId)-bucketed copy of `tf` (the [[Retrieval.bm25TopKWand]]
    * two-layout contract; `None` falls back to `tf` itself — correct,
    * just exchange-heavier at ingest scale), `impact` the passage
    * [[Retrieval.impactStats]] table (tighter hot-term ceilings;
    * `None` falls back to the saturation bound). Both carry the SAME
    * lifecycle contract as the word index's: deletion staleness
    * upper-bounds safely, append-staleness does NOT — so
    * [[compactPassageIndex]]/[[compactPassageIndexDeleted]] maintain
    * `impact`/`forward` whenever the persisted layout carries them.
    */
  final case class PassageLayout(tf: DataFrame, dfTab: DataFrame,
                                 stats: DataFrame, membership: DataFrame,
                                 forward: Option[DataFrame] = None,
                                 impact: Option[DataFrame] = None)

  /** Build the layout from scratch — segmentation
    * ([[Chunking.tokenPassages]]) + the word-index aggregates over
    * passage ids. One corpus pass; at ingest this runs per
    * micro-batch through [[compactPassageIndex]], never over the
    * full corpus.
    */
  def passageIndex(docs: DataFrame, idCol: String, textCol: String,
                   width: Int, stride: Int): PassageLayout = {
    val pass = Chunking.tokenPassages(docs, idCol, textCol, width, stride)
    val tf = Retrieval.termFrequencies(pass, "passageId", "text")
    PassageLayout(tf, Retrieval.dfTable(tf), Retrieval.corpusStats(tf),
      pass.select(col("passageId"), col("docId")))
  }

  /** Append-side compaction: merge a micro-batch's documents into a
    * persisted layout WITHOUT re-segmenting the corpus — the batch
    * segments alone, then [[Retrieval.compactTermIndex]] merges the
    * posting/df/stat tables (row-identical to a rebuild over the
    * union under disjoint doc ids — passage ids are then disjoint by
    * construction; PassageIndexSpec pins the parity, q235 gates a
    * probe through the compacted layout against the fresh-build
    * replay) and the membership rows append. `assertDisjoint`
    * enforces the ingest contract in-plan over PASSAGE ids (the
    * [[Retrieval.compactTermIndex]] guard).
    */
  def compactPassageIndex(layout: PassageLayout, batchDocs: DataFrame,
                          idCol: String, textCol: String,
                          width: Int, stride: Int,
                          assertDisjoint: Boolean = false)
      : PassageLayout =
    compactPassageIndex(layout,
      passageIndex(batchDocs, idCol, textCol, width, stride),
      assertDisjoint)

  /** [[compactPassageIndex]] over a PREBUILT batch layout — the form
    * an ingest loop uses when the batch's tables are already
    * materialized (the [[Retrieval.compactTermIndex]] "batchTf
    * consumed 3×, materialize once" rule lifted to the four-table
    * layout: the docs-based overload above derives every batch table
    * from one lazy segmentation chain, which re-runs per consumer).
    */
  def compactPassageIndex(layout: PassageLayout, batch: PassageLayout,
                          assertDisjoint: Boolean)
      : PassageLayout = {
    val (tf, dfTab, stats) = Retrieval.compactTermIndex(layout.tf,
      layout.dfTab, layout.stats, batch.tf, assertDisjoint)
    PassageLayout(tf, dfTab, stats,
      layout.membership.unionByName(batch.membership),
      // pruning tables ride the SAME cadence as the index they bound:
      // an appended tf without the matching impact merge would leave
      // (max_tf, min_dl) UNDER bounds — the one staleness direction
      // the WAND safety proof does not absorb — so a layout carrying
      // them merges them per batch (the batch side derives from
      // batch.tf when the batch was built without them)
      layout.forward.map(f =>
        f.unionByName(batch.forward.getOrElse(batch.tf))),
      layout.impact.map(i => Retrieval.compactImpactStats(i,
        batch.impact.getOrElse(Retrieval.impactStats(batch.tf)))))
  }

  /** Deletion-side compaction: remove `deleteIds` DOCUMENTS from the
    * layout without a corpus pass — the membership table resolves the
    * doc ids to their passage ids (id-width work), then
    * [[Retrieval.compactTermIndexDeleted]] subtracts those passages
    * from the posting/df/stat tables exactly and the membership rows
    * anti-join away. Row-identical to a rebuild over the surviving
    * corpus (PassageIndexSpec pins it; q235 gates through a
    * post-delete layout). Ids absent from the index are no-ops.
    */
  def compactPassageIndexDeleted(layout: PassageLayout,
                                 deleteIds: DataFrame): PassageLayout = {
    // delete ids and their resolved passages are delete-batch-sized
    // by contract — explicit broadcast sides (r20)
    val delPass = layout.membership
      .join(broadcast(deleteIds.select(col("docId"))), Seq("docId"),
        "left_semi")
      .select(col("passageId").as("docId"))
    val (tf, dfTab, stats) = Retrieval.compactTermIndexDeleted(layout.tf,
      layout.dfTab, layout.stats, delPass)
    PassageLayout(tf, dfTab, stats,
      layout.membership.join(broadcast(deleteIds.select(col("docId"))),
        Seq("docId"), "left_anti")
        // the equi-join key floats to the front — re-pin the layout's
        // (passageId, docId) column order so chained compactions'
        // unionByName and persisted schemas stay stable
        .select(col("passageId"), col("docId")),
      // forward rows anti-join away with their passages; the impact
      // table recomputes exactly the affected vocabulary off the
      // PRE-delete tf ([[Retrieval.compactImpactStatsDeleted]]) —
      // deletion staleness would still be SAFE (surviving postings
      // are a subset), this keeps the bounds tight
      layout.forward.map(_.join(broadcast(delPass), Seq("docId"),
        "left_anti")),
      layout.impact.map(i =>
        Retrieval.compactImpactStatsDeleted(i, layout.tf, delPass)))
  }

  /** MaxP document top-k THROUGH the persisted layout — the q203
    * probe with zero index-side aggregates in the plan: passages
    * score as pseudo-docs via [[Retrieval.bm25ScoresPrecomputed]]
    * (bit-identical to the inline-aggregate path — exact-integer
    * stats either way), each document ranks by its best passage
    * ([[Retrieval.maxPassageScores]] over the membership table), top
    * `k` per query. The probe plan is ONE posting join + the
    * result-sized membership join + the map-side-combined max.
    *
    * `maxDocFrequency` is the passage-level stop-term prune
    * ([[Retrieval.bm25ScoresPrecomputed]]'s, over PASSAGE df) — at
    * scale it is load-bearing, not optional: the segmentation
    * multiplies every hot term's posting volume by ~width/stride
    * (the 50k-doc ScaleBench probe measured 186 s unpruned vs 11 s
    * at the df cap the old in-gate arm always carried), so a
    * production passage probe prunes or WANDs, never scans the head.
    */
  def maxPassageTopK(layout: PassageLayout,
                     queries: DataFrame, qidCol: String, qtextCol: String,
                     k: Int, k1: Double = 1.2, b: Double = 0.75,
                     maxDocFrequency: Option[Long] = None): DataFrame =
    Retrieval.bm25TopK(
      Retrieval.maxPassageScores(
        Retrieval.bm25ScoresPrecomputed(layout.tf, layout.dfTab,
          layout.stats, queries, qidCol, qtextCol, k1, b,
          maxDocFrequency),
        layout.membership), k)

  /** SCORE-EXACT pruned MaxP top-k — [[Retrieval.bm25TopKWand]]
    * composed over the passage layout, closing the gap where the fast
    * passage probe was the score-CHANGING `maxDocFrequency` cap
    * ([[maxPassageTopK]]'s stop-term prune drops hot terms from the
    * scores): returns exactly `maxPassageTopK(layout, queries, k)` —
    * same rows, same scores, bitwise (q245 gates it against the
    * unpruned MaxP replay) — while hot-term passage
    * postings are never scanned for safe queries. Passages are
    * pseudo-docs, so the shared [[Retrieval.wandTopK]] applies
    * verbatim with ONE change threaded through `docMap`: candidate
    * passage scores map through [[Retrieval.maxPassageScores]] BEFORE
    * the top-k window, so θ is the kth DOCUMENT-level max (the
    * passage-level kth over-states the cutoff and would route
    * unsafely — the comment at the docMap hook carries the proof).
    *
    * The layout's `forward`/`impact` tables feed the candidate fetch
    * and the hot-term ceilings ([[PassageLayout]] doc); queries with
    * < k candidate DOCS or a reachable bound complete through
    * [[Retrieval.wandTopK]]'s fallback at the PASSAGE level, then one
    * doc-level max — exact either way. At ingest scale this is the
    * load-bearing probe: segmentation multiplies hot posting volume
    * ~width/stride× (186 s unpruned vs 3 s capped at 50k docs — and
    * the cap changes scores; this path is exact AND skips the head).
    */
  def maxPassageTopKWand(layout: PassageLayout,
                         queries: DataFrame, qidCol: String,
                         qtextCol: String,
                         k: Int, hotDf: Long,
                         k1: Double = 1.2, b: Double = 0.75): DataFrame =
    Retrieval.wandTopK(passageScorer(layout, k1, b),
      Retrieval.bm25TermTable(
        Retrieval.unitQueryTerms(queries, qidCol, qtextCol), layout.dfTab,
        layout.stats), k, hotDf, Some(layout.membership))

  /** The MaxP WAND decision table (the q187/q205/q240 convention:
    * gate the PRUNING MATH, not just the final answer) — identical
    * columns and routing predicate as [[Retrieval.bm25WandStats]],
    * the same [[Retrieval.wandStats]] stages as
    * [[maxPassageTopKWand]] so the readout cannot drift from the
    * operator. `n_candidates` counts candidate (query, PASSAGE)
    * pairs (the rare-posting probe's unit); `theta` is the kth
    * DOCUMENT-level max among candidates (the routing cutoff — see
    * [[maxPassageTopKWand]]).
    */
  def maxPassageWandStats(layout: PassageLayout,
                          queries: DataFrame, qidCol: String,
                          qtextCol: String,
                          k: Int, hotDf: Long,
                          k1: Double = 1.2, b: Double = 0.75): DataFrame =
    Retrieval.wandStats(passageScorer(layout, k1, b),
      Retrieval.bm25TermTable(
        Retrieval.unitQueryTerms(queries, qidCol, qtextCol), layout.dfTab,
        layout.stats), k, hotDf, Some(layout.membership))

  /** The BM25 WAND scorer over the passage layout: passages are
    * pseudo-docs, so the word-index scorer applies verbatim.
    */
  private def passageScorer(layout: PassageLayout, k1: Double,
                            b: Double): Retrieval.WandScorer =
    Retrieval.bm25WandScorer(layout.tf, layout.forward.getOrElse(layout.tf),
      k1, b, layout.impact)

  /** ROUTING-AWARE MaxP top-k — the production default (the
    * [[Retrieval.qlTopKWandWeightedRouted]] economics over the
    * passage collection): serve through [[maxPassageTopKWand]] when
    * the PASSAGE count clears `minWandDocs`, through the unpruned
    * [[maxPassageTopK]] otherwise. Both branches are score-exact, so
    * the routing is pure stage-budget economics
    * ([[Retrieval.routedHotDf]] over the passage layout's `stats`).
    * Note the threshold compares PASSAGES, not documents — a
    * width-32/stride-16 segmentation crosses it at roughly half the
    * document count.
    */
  def maxPassageTopKRouted(layout: PassageLayout,
                           queries: DataFrame, qidCol: String,
                           qtextCol: String,
                           k: Int,
                           hotDf: Option[Long] = None,
                           minWandDocs: Long = 20000L,
                           k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    Retrieval.routedHotDf(layout.stats, minWandDocs, hotDf) match {
      case None =>
        maxPassageTopK(layout, queries, qidCol, qtextCol, k, k1, b)
      case Some(hd) =>
        maxPassageTopKWand(layout, queries, qidCol, qtextCol, k, hd, k1,
          b)
    }
  }
}
