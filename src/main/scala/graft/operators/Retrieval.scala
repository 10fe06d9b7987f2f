package graft.operators

import org.apache.spark.sql.{Column, DataFrame, RelationalGroupedDataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.{OrderedFold, TextFunctions}

/** The lexical-retrieval stack — the sparse companion to the ANN
  * operators, and the scorer family behind retrieval-shaped curation
  * jobs (eval-set decontamination by top-k lookup,
  * quality-by-retrievability, hard-negative mining, RAG passage
  * selection):
  *
  *   - SCORERS: Okapi BM25 ([[bm25Scores]] and the indexed/precomputed
  *     forms; Robertson et al. TREC-3, idf in the non-negative
  *     `ln(1 + (N - df + 0.5)/(df + 0.5))` form Lucene ships), fielded
  *     BM25F ([[bm25fScores]]), and query-likelihood with Dirichlet
  *     smoothing ([[qlDirichletScores]]). Each BM25/QL scorer is its
  *     weighted form ([[bm25ScoresWeighted]]/[[qlScoresWeighted]], RM3's
  *     second pass) at unit weight: every query side is ONE
  *     [[bm25TermTable]] or [[qlTermTable]] over [[unitQueryTerms]],
  *     whose docs state the unit-weight contract;
  *   - QUERY MODES: ranked top-k ([[bm25TopK]]), score-exact WAND
  *     pruning ([[bm25TopKWand]], [[qlTopKWand]], [[bm25fTopKWand]],
  *     their weighted and corpus-size-routed forms and gated decision
  *     tables, one [[wandTopK]] plan), boolean-AND
  *     ([[bm25TopKConjunctive]]), boolean-NOT ([[bm25TopKNot]]), exact
  *     phrase ([[phraseMatches]], [[bm25TopKPhrase]]), proximity
  *     ([[proximityMatches]]), RM3 expansion ([[rm3ExpandedTerms]],
  *     [[rm3ExpandedTermsQl]], reusing a materialized [[FirstPass]]),
  *     tiered serving ([[bm25TopKTiered]]), LTR features
  *     ([[ltrFeatures]]), snippets ([[snippetWindows]]), MMR
  *     re-ranking ([[mmrRerank]]), and the rank/score fusers
  *     ([[rrfFuse]]/[[linearFuse]]);
  *   - INDEX LIFECYCLE: build ([[termFrequencies]],
  *     [[positionalPostings]], [[termFrequenciesFielded]] + the
  *     additive stat layouts [[dfTable]]/[[cfTable]]/[[corpusStats]]
  *     and the max/min-mergeable pruning metadata [[impactStats]]),
  *     micro-batch append ([[compactTermIndex]],
  *     [[compactPositionalIndex]], [[compactImpactStats]]), deletion
  *     ([[compactTermIndexDeleted]], [[compactPositionalIndexDeleted]])
  *     — all row-identical to rebuilds, all streaming-ingest-safe
  *     (StreamingSpec drives the loop end to end).
  *
  * Scale shape, shared by everything here: queries score against the
  * corpus THROUGH the inverted posting table, never query × corpus —
  *   - [[termFrequencies]] is ONE corpus pass to `(docId, dl, word,
  *     tf)`; like [[Jaccard.indexPostings]] this is the layout to
  *     persist (`bucketBy(word)`), with a docId-bucketed FORWARD copy
  *     beside it for candidate-restricted scoring, so repeated query
  *     batches re-shuffle nothing on the corpus side;
  *   - document frequencies and the corpus scalars fold into the
  *     query-term table ([[bm25TermTable]]/[[qlTermTable]]) —
  *     query-batch-sized, so
  *     the one posting join carries everything it needs as its
  *     broadcast side;
  *   - per-(query, doc) scores aggregate only over MATCHING postings;
  *     the fold is a word-keyed [[graft.functions.OrderedFold]] (the
  *     DSIR convention) and the DuckDB oracle replays the identical
  *     tree.
  */
object Retrieval {

  /** One corpus pass to the BM25 index: `(docId, dl, word, tf)` — term
    * frequency per (doc, term), `dl` = the document's total token
    * count (NOT deduped — BM25's length normalization wants real
    * length). Empty docs drop via the cheap scan-level rlike (the
    * `Jaccard.tokenized` idiom); the explode is outer + null-filtered
    * so an unmaterialized upstream's tokenizer chain is never
    * re-evaluated in a pushed-down size filter.
    */
  def termFrequencies(docs: DataFrame, idCol: String,
                      textCol: String): DataFrame =
    docs
      .filter(col(idCol).isNotNull && lower(col(textCol)).rlike("[a-z0-9]"))
      .select(col(idCol).as("docId"),
        TextFunctions.normalizedWords(col(textCol)).as("__ws"))
      .select(col("docId"), size(col("__ws")).cast("long").as("dl"),
        explode_outer(col("__ws")).as("word"))
      .filter(col("word").isNotNull)
      .groupBy(col("docId"), col("dl"), col("word"))
      .agg(count(lit(1)).as("tf"))

  /** BM25 scores of every query against every corpus document sharing
    * at least one term: `(queryId, docId, score)`. Builds the index
    * inline; ingest-style callers with a persisted [[termFrequencies]]
    * table use [[bm25ScoresIndexed]].
    */
  def bm25Scores(docs: DataFrame, idCol: String, textCol: String,
                 queries: DataFrame, qidCol: String, qtextCol: String,
                 k1: Double = 1.2, b: Double = 0.75,
                 maxDocFrequency: Option[Long] = None): DataFrame =
    bm25ScoresIndexed(termFrequencies(docs, idCol, textCol),
      queries, qidCol, qtextCol, k1, b, maxDocFrequency)

  /** The `(word, df)` document-frequency table of a [[termFrequencies]]
    * index — `(word, doc)` tf rows are unique by construction, so the
    * row count IS the df. Kept as an exact BIGINT (never pre-folded
    * into idf) so micro-batch merges are lossless additions
    * ([[compactTermIndex]]); at ingest this table persists next to the
    * tf table and probes skip the posting-table aggregate entirely.
    */
  def dfTable(tf: DataFrame): DataFrame =
    tf.groupBy("word").agg(count(lit(1)).as("df"))

  /** The one-row corpus scalar table `(n_docs, total_dl)` of a
    * [[termFrequencies]] index — exact BIGINTs, deliberately NOT the
    * derived `avgdl` double: sums and counts merge additively across
    * micro-batches with zero drift ([[compactTermIndex]]), and the one
    * rounding (the division) happens identically at every probe
    * regardless of how many compactions produced the table.
    */
  def corpusStats(tf: DataFrame): DataFrame =
    tf.groupBy("docId").agg(max(col("dl")).as("dl"))
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_dl"))

  /** Incremental BM25 index compaction: merge a micro-batch's
    * [[termFrequencies]] into a persisted index WITHOUT re-reading the
    * corpus. Returns the merged `(tf, dfTable, corpusStats)` triple,
    * row-identical to a from-scratch rebuild over the union
    * (RetrievalSpec pins the parity; q183 gates probe scores through
    * the compacted tables against the DuckDB full-corpus replay):
    *
    *   - tf rows APPEND — each document's `(docId, dl, word, tf)` rows
    *     depend on that document alone, so disjoint doc ids (the
    *     registry's unique-id ingest contract, as [[Jaccard.compactIndex]])
    *     make the union the rebuild;
    *   - df is ADDITIVE — one vocabulary-sized union + re-aggregate,
    *     never a posting-table pass over the persisted side;
    *   - the scalars are ADDITIVE — `n_docs`/`total_dl` are exact
    *     BIGINT sums, so chained compactions cannot accumulate
    *     rounding (the reason [[corpusStats]] is not a stored avgdl).
    *
    * Unlike the Jaccard side there is NO affected-doc re-rank: the BM25
    * index stores raw counts, not a df-ordered layout, so existing rows
    * are untouched by construction and the whole merge is
    * batch-vocabulary-sized work. `batchTf` =
    * `termFrequencies(batchDocs, ...)` — at ingest, materialize it once
    * (it is consumed 3×: tf append, df delta, scalar delta).
    *
    * `assertDisjoint = true` enforces the disjoint-docId ingest
    * contract IN-PLAN (the [[Dedup]] `maxBlockSize` convention): a
    * batch docId already present in the persisted tf table would
    * silently inflate df/n_docs/total_dl, so the guard fails loudly —
    * a `raise_error` fires when any merged output materializes, naming
    * an offending id. Opt-in debug mode: the check is one semi-join of
    * the batch's id set against the persisted tf (bucket-local under
    * the docId-bucketed forward layout), re-read by each consumer.
    */
  def compactTermIndex(tf: DataFrame, dfTab: DataFrame, stats: DataFrame,
                       batchTf: DataFrame,
                       assertDisjoint: Boolean = false)
      : (DataFrame, DataFrame, DataFrame) = {
    val batch =
      if (!assertDisjoint) batchTf
      else guardedDisjointBatch(tf, batchTf, "compactTermIndex")
    val tfMerged = tf.unionByName(batch)
    val dfMerged = dfTab.unionByName(dfTable(batch))
      .groupBy("word").agg(sum(col("df")).as("df"))
    val statsMerged = stats.unionByName(corpusStats(batch))
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("total_dl")).as("total_dl"))
    (tfMerged, dfMerged, statsMerged)
  }

  /** The batch side of an append compaction, guarded in-plan against
    * docId reuse: the duplicate summary is ONE broadcastable row
    * (count + an example id), cross-joined under every batch row, and
    * the `raise_error` branch only evaluates when a duplicate exists —
    * zero overhead on the happy path beyond the id-set semi-join.
    */
  private def guardedDisjointBatch(existing: DataFrame, batch: DataFrame,
                                   what: String): DataFrame = {
    val dup = batch.select("docId").distinct()
      .join(existing.select("docId"), Seq("docId"), "left_semi")
      .agg(count(lit(1)).as("__dups"),
        min(col("docId")).cast("string").as("__dup_id"))
    batch.crossJoin(broadcast(dup))
      .filter(when(col("__dups") === 0L, lit(true))
        .otherwise(raise_error(concat(
          lit(s"$what: batch reuses "), col("__dups").cast("string"),
          lit(" persisted docId(s), e.g. "), col("__dup_id"),
          lit(" — duplicate tf rows would inflate df/n_docs/total_dl;" +
            " ingest requires disjoint doc ids"))).cast("boolean")))
      .drop("__dups", "__dup_id")
  }

  /** Deletion-side BM25 index compaction — [[compactTermIndex]]'s
    * mirror (as [[Jaccard.compactIndexDeleted]] mirrors
    * [[Jaccard.compactIndex]]): remove `deleteIds` docs from the
    * persisted `(tf, dfTable, corpusStats)` triple without a corpus
    * pass. Returns the triple of the surviving corpus, row-identical
    * to a rebuild (RetrievalSpec pins it; q186 gates probe scores
    * through the deleted triple against the survivor-rebuild replay):
    * tf rows anti-join away; the df delta is SUBTRACTIVE (one
    * deleted-vocabulary-sized merge, zero-df words drop with their
    * last doc); the scalars subtract exactly (BIGINT sums). Ids absent
    * from the index are no-ops. `deleteIds(docId)` is consumed 2×
    * (tf anti-join, delta semi-join) — id-width, materialize at call
    * sites that build it lazily. The deleted docs' tf rows are read
    * once to form the delta — with the tf table persisted
    * `bucketBy(docId)` (the forward layout [[bm25TopKWand]] wants
    * anyway) both the semi- and anti-join are bucket-local.
    */
  def compactTermIndexDeleted(tf: DataFrame, dfTab: DataFrame,
                              stats: DataFrame, deleteIds: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    // the delete batch is id-width by contract — the explicit
    // broadcast side of both index-sized joins (r20, the
    // postingContribs rationale: the index streams, never the other
    // way)
    val del = broadcast(deleteIds.select(col("docId")))
    val deletedTf = tf.join(del, Seq("docId"), "left_semi")
    val tfOut = tf.join(del, Seq("docId"), "left_anti")
    val dfOut = dfTab
      .unionByName(dfTable(deletedTf)
        .select(col("word"), (-col("df")).as("df")))
      .groupBy("word").agg(sum(col("df")).as("df"))
      .filter(col("df") > 0)
    val statsOut = stats
      .unionByName(corpusStats(deletedTf)
        .select((-col("n_docs")).as("n_docs"),
          (-col("total_dl")).as("total_dl")))
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("total_dl")).as("total_dl"))
    (tfOut, dfOut, statsOut)
  }

  /** Per-term IMPACT-BOUND metadata `(word, max_tf, min_dl)` of a
    * [[termFrequencies]] index — the MaxScore / block-max idea (Turtle
    * & Flood'95; Ding & Suel SIGIR'11) reduced to its corpus-global
    * per-term form: the BM25 contribution `idf · tf(k1+1)/(tf + K(dl))`
    * is increasing in `tf` and decreasing in `dl`, so
    * `idf · f(max_tf_w, min_dl_w)` bounds every posting of `w` — a
    * strictly TIGHTER hot-term ceiling than the saturation limit
    * `idf·(k1+1)` (which is the `tf → ∞` endpoint) wherever hot terms
    * have bounded within-doc counts. Feed it to the WAND family's
    * `impact` parameter; q205 gates the tightened decision table and
    * q204 the (unchanged, still score-exact) top-k through it.
    *
    * Lifecycle: one vocabulary-sized aggregate off the posting table;
    * persists beside [[dfTable]] at ingest. APPEND-mergeable
    * ([[compactImpactStats]] — max/min are union-combinable like the
    * additive df), and the merge is a HARD contract, not an
    * optimization: every [[compactTermIndex]] append MUST be paired
    * with its [[compactImpactStats]] merge before the table feeds a
    * WAND probe, because a table stale in the append direction
    * UNDER-bounds words the batch made hotter (larger max_tf or
    * smaller min_dl), and an under-estimated ub can route a query
    * safe while a pruned doc's true score beats θ — a silent wrong
    * top-k, not just weaker pruning. Deletions are the opposite and
    * deliberately do NOT require a rebuild: a stale `(max_tf,
    * min_dl)` after removing the extremal doc is still a valid UPPER
    * bound (the surviving postings are a subset), so the pruning
    * stays score-exact and only its tightness degrades — run
    * [[compactImpactStatsDeleted]] (exactly the affected words
    * recompute) on whatever cadence delete volume warrants.
    */
  def impactStats(tf: DataFrame): DataFrame =
    tf.groupBy("word")
      .agg(max(col("tf")).as("max_tf"), min(col("dl")).as("min_dl"))

  /** Delete-side maintenance of an [[impactStats]] table — the
    * [[compactChampionPostingsDeleted]] shape: recompute EXACTLY the
    * words the deleted docs touched (max/min are not subtractive, so
    * unlike df there is no vocabulary-sized merge — but only the
    * affected words need the posting re-aggregate), keep every other
    * row verbatim. `tf` is the PRE-delete posting table; a word whose
    * postings vanish entirely drops from the output (the df-table
    * `df > 0` convention — no query term can match it anymore).
    * Row-identical to `impactStats(tf minus deleted)` (RetrievalSpec
    * pins the parity), so heavy-delete workloads keep TIGHT bounds
    * instead of the stale-conservative drift the append-only
    * lifecycle left: correctness never depended on this (deletion
    * staleness upper-bounds), pruning rates do.
    *
    * Scale shape: the affected vocabulary is delete-batch-sized; the
    * recompute reads only those words' surviving postings through the
    * word-bucketed layout (two semi-joins, no full-index aggregate).
    */
  def compactImpactStatsDeleted(impact: DataFrame, tf: DataFrame,
                                deleteIds: DataFrame): DataFrame = {
    // delete batch + affected vocabulary are delete-batch-sized by
    // contract — explicit broadcast sides (r20)
    val del = broadcast(deleteIds.select(col("docId")))
    val affected = broadcast(tf.join(del, Seq("docId"), "left_semi")
      .select("word").distinct())
    val untouched = impact.join(affected, Seq("word"), "left_anti")
    val recomputed = impactStats(
      tf.join(affected, Seq("word"), "left_semi")
        .join(del, Seq("docId"), "left_anti"))
    untouched.unionByName(recomputed)
  }

  /** Append-side merge of two [[impactStats]] tables (the persisted
    * index side + a micro-batch's): max/min combine across the union,
    * row-identical to a rebuild over the merged corpus under the
    * disjoint-docId ingest contract (RetrievalSpec pins the parity).
    * Vocabulary-sized work, like the df merge in [[compactTermIndex]].
    */
  def compactImpactStats(impact: DataFrame,
                         batchImpact: DataFrame): DataFrame =
    impact.unionByName(batchImpact)
      .groupBy("word")
      .agg(max(col("max_tf")).as("max_tf"), min(col("min_dl")).as("min_dl"))

  /** One fielded-corpus pass to the BM25F index: `(docId, field, fl,
    * word, tf)` over a `(id, field, text)` input with one row per
    * (doc, field) — term frequency per (doc, field, term), `fl` the
    * field's token length. The fielded mirror of [[termFrequencies]]
    * (same tokenizer, same degenerate-row drops: a doc's empty or
    * non-alphanumeric field simply has no rows and no length). At
    * ingest this is the layout to persist `bucketBy(word)`; its stat
    * aggregates (per-field lengths/counts, document-level df) are all
    * exact-integer ADDITIVE like the unfielded ones.
    */
  def termFrequenciesFielded(docs: DataFrame, idCol: String,
                             fieldCol: String, textCol: String): DataFrame =
    docs
      .filter(col(idCol).isNotNull && col(fieldCol).isNotNull &&
        lower(col(textCol)).rlike("[a-z0-9]"))
      .select(col(idCol).as("docId"), col(fieldCol).as("field"),
        TextFunctions.normalizedWords(col(textCol)).as("__ws"))
      .select(col("docId"), col("field"),
        size(col("__ws")).cast("long").as("fl"),
        explode_outer(col("__ws")).as("word"))
      .filter(col("word").isNotNull)
      .groupBy(col("docId"), col("field"), col("fl"), col("word"))
      .agg(count(lit(1)).as("tf"))

  /** BM25F scoring (Robertson, Zaragoza & Taylor CIKM'04 — the
    * "simple BM25F"): fields combine into ONE pseudo term frequency
    * BEFORE saturation, which is the whole point over naively summing
    * per-field BM25 scores (a term spread across fields must not
    * saturate per field):
    *
    *   `t̃f(w, d) = Σ_f w_f · tf_f(w,d) / B_f(d)`,
    *   `B_f(d) = 1 − b_f + b_f · fl_f(d)/avgfl_f`,
    *   `score(q, d) = Σ_{w ∈ q∩d} idf(w) · t̃f / (k1 + t̃f)`
    *
    * with DOCUMENT-level idf (df counts docs containing the term in
    * ANY field — Lucene's `ln(1 + …)` form as everywhere here).
    * `fieldParams` = `(field, weight, b)` rows; fields of the corpus
    * absent from it are ignored (a caller-side field mask). Returns
    * `(queryId, docId, score)` for docs sharing ≥ 1 query term in a
    * scored field. With ONE field at weight 1.0, BM25F equals
    * BM25 / (k1+1) algebraically (`(tf/B)/(k1 + tf/B) =
    * tf/(k1·B + tf)`) — same ranking, spec-pinned to 1e-12.
    *
    * Scale shape: the field fold is per-(doc, word) and restricted to
    * the QUERY vocabulary before it runs — a probe batch folds only
    * its matched postings, never the whole index (the pseudo-tf
    * depends on the corpus-global `avgfl_f`, so unlike raw counts it
    * is NOT an additive layout — persist `ftf` and the additive
    * stats, never t̃f; the per-field length/N scalars are the one
    * corpus-global read, persisted at ingest like [[corpusStats]]);
    * both Σs fold sorted (field order, then word order), the BM25
    * contract.
    */
  def bm25fScores(ftf: DataFrame,
                  fieldParams: Seq[(String, Double, Double)],
                  queries: DataFrame, qidCol: String, qtextCol: String,
                  k1: Double = 1.2,
                  fStats: Option[(DataFrame, DataFrame, DataFrame)]
                    = None): DataFrame = {
    require(k1 >= 0, s"k1 >= 0: $k1")
    val p = bm25fParts(ftf, fieldParams, queries, qidCol, qtextCol,
      fStats)
    // query-batch-sized build side by contract (the postingContribs
    // broadcast rationale)
    val contrib = foldPtf(p.fContrib)
      .join(broadcast(p.qTermsIdf), Seq("word"))
      .select(col("queryId"), col("docId"), col("word"),
        (col("idf") * col("__tf") / (lit(k1) + col("__tf"))).as("__c"))
    scoreFold(contrib)
  }

  /** The shared upstream of the BM25F family ([[bm25fScores]] and the
    * pruned [[bm25fTopKWand]] — one definition, so the unpruned and
    * WAND scoring trees cannot drift): the param-masked fielded
    * postings restricted to the query vocabulary, the per-row
    * pseudo-tf contributions, and the enriched query terms with
    * DOCUMENT-level df + idf.
    */
  private final case class Bm25fParts(scoredQ: DataFrame,
                                      fContrib: DataFrame,
                                      favg: DataFrame,
                                      params: DataFrame,
                                      qTermsIdf: DataFrame)

  private def bm25fParts(ftf: DataFrame,
                         fieldParams: Seq[(String, Double, Double)],
                         queries: DataFrame, qidCol: String,
                         qtextCol: String,
                         fStats: Option[(DataFrame, DataFrame, DataFrame)]
                           = None): Bm25fParts = {
    require(fieldParams.nonEmpty, "at least one field")
    require(fieldParams.forall(_._2 > 0), s"weights > 0: $fieldParams")
    require(fieldParams.forall(p => p._3 >= 0 && p._3 <= 1),
      s"b in [0,1]: $fieldParams")
    val sp = ftf.sparkSession
    import sp.implicits._
    val params = fieldParams.toDF("field", "__w", "__b")
    val scored = ftf.join(broadcast(params), Seq("field"))
    // the corpus-GLOBAL stats — per-field average lengths, N, and the
    // document-level df: from the PERSISTED fielded stat layout when
    // the caller has it ([[fieldedFieldStats]]/[[fieldedDocStats]]/
    // [[fieldedDfTable]], the compactFieldedStats state — every
    // index-side aggregate vanishes from the probe plan), inline
    // otherwise. Stored values are exact integers, so the derived
    // avgfl/N/idf are bitwise the inline path's (RetrievalSpec pins
    // it); the layout serves the FULL field set — a fieldParams MASK
    // changes what the inline aggregates see (doc membership, df),
    // so maskers use the inline default.
    val favg = fStats.map { case (fs, _, _) =>
      fs.select(col("field"),
        (col("total_fl").cast("double") / col("n_docs_f").cast("double"))
          .as("__avgfl"))
    }.getOrElse {
      scored.groupBy("docId", "field").agg(max(col("fl")).as("fl"))
        .groupBy("field")
        .agg(count(lit(1)).as("__nf"), sum(col("fl")).as("__tfl"))
        .select(col("field"),
          (col("__tfl").cast("double") / col("__nf").cast("double"))
            .as("__avgfl"))
    }
    val nDocs = fStats.map { case (_, ds, _) =>
      ds.select(col("n_docs").cast("double").as("__N"))
    }.getOrElse {
      scored.select("docId").distinct()
        .agg(count(lit(1)).cast("double").as("__N"))
    }
    val qWords = queryTerms(queries, qidCol, qtextCol)
      .select("word").distinct()
    val scoredQ = scored.join(qWords, Seq("word"), "left_semi")
    // document-level df over the matched vocabulary (counts are the
    // full-corpus df — the semi-join only drops words the inner query
    // join below would drop anyway)
    val dfT = fStats.map(_._3).getOrElse(
      scoredQ.select("docId", "word").distinct()
        .groupBy("word").agg(count(lit(1)).as("df")))
    // per-row pseudo-tf contribution (folded per (doc, word) by
    // [[foldPtf]] at whatever doc restriction the caller needs)
    val fContrib = scoredQ.join(broadcast(favg), Seq("field"))
      .select(col("docId"), col("word"), col("field"),
        (col("__w") * col("tf").cast("double") /
          (lit(1.0) - col("__b") +
            col("__b") * col("fl").cast("double") / col("__avgfl")))
          .as("__ptf"))
    val qTermsIdf = queryTerms(queries, qidCol, qtextCol)
      .join(dfT, Seq("word"))
      .crossJoin(broadcast(nDocs))
      .select(col("queryId"), col("word"), col("df"),
        bm25Idf(col("__N")).as("idf"))
    Bm25fParts(scoredQ, fContrib, favg, params, qTermsIdf)
  }

  /** Pseudo term frequency: field-keyed [[OrderedFold.sum]] per
    * (doc, word) of the per-row [[bm25fParts]] contributions.
    */
  private def foldPtf(fContrib: DataFrame): DataFrame =
    fContrib.groupBy(col("docId"), col("word"))
      .agg(OrderedFold.sum(col("__ptf"), col("field")).as("__tf"))

  /** Per-(word, field) IMPACT metadata of a [[termFrequenciesFielded]]
    * index — `(word, field, max_tf, min_fl)`, the fielded mirror of
    * [[impactStats]]: each field's pseudo-tf term
    * `w_f · tf_f / B_f(fl_f)` is increasing in tf and decreasing in
    * fl, so evaluating it at `(max_tf_f, min_fl_f)` dominates every
    * real posting of that (word, field) and the per-field ceilings
    * COMPOSE into a document-level pseudo-tf bound (the
    * [[bm25fTopKWand]] ub). Same lifecycle contract as the unfielded
    * table: append merges MUST pair with the index append (max/min
    * union-combine per (word, field) — [[compactImpactStats]] over
    * the extra key works verbatim on this shape after a rename),
    * deletion staleness upper-bounds safely.
    */
  def impactStatsFielded(ftf: DataFrame): DataFrame =
    ftf.groupBy("word", "field")
      .agg(max(col("tf")).as("max_tf"), min(col("fl")).as("min_fl"))

  /** Append-side merge of two [[impactStatsFielded]] tables — the
    * [[compactImpactStats]] shape over the `(word, field)` key:
    * max/min combine across the union, row-identical to a rebuild
    * over the merged fielded corpus under the disjoint-docId ingest
    * contract (RetrievalSpec pins the parity). Without this merge
    * heavy ingest left the fielded bounds append-STALE — the one
    * staleness direction the WAND safety proof does NOT absorb
    * ([[bm25WandScorer]]'s lifecycle contract) — while every sibling
    * layout compacted. Vocabulary × fields sized.
    */
  def compactImpactStatsFielded(impactF: DataFrame,
                                batchImpactF: DataFrame): DataFrame =
    impactF.unionByName(batchImpactF)
      .groupBy("word", "field")
      .agg(max(col("max_tf")).as("max_tf"), min(col("min_fl")).as("min_fl"))

  /** Delete-side maintenance of an [[impactStatsFielded]] table — the
    * [[compactImpactStatsDeleted]] shape per `(word, field)`:
    * recompute EXACTLY the (word, field) cells the deleted docs
    * touched from the surviving postings, keep every other row
    * verbatim; a cell whose postings vanish entirely drops. `ftf` is
    * the PRE-delete fielded posting table. Row-identical to
    * `impactStatsFielded(ftf minus deleted)` (RetrievalSpec pins the
    * parity; q247 gates the BM25F WAND decision table through a
    * post-delete fielded table against an oracle that recomputes
    * (max_tf, min_fl) from survivors). As with the unfielded table,
    * correctness never depended on this — deletion staleness
    * upper-bounds safely — but heavy-delete workloads keep TIGHT
    * composed ceilings instead of drifting conservative.
    *
    * Scale shape: the affected cell set is delete-batch-sized; the
    * recompute reads only those cells' surviving postings through the
    * word-bucketed fielded layout (two semi-joins, no full-index
    * aggregate).
    */
  def compactImpactStatsFieldedDeleted(impactF: DataFrame, ftf: DataFrame,
                                       deleteIds: DataFrame): DataFrame = {
    // delete batch + affected vocabulary are delete-batch-sized by
    // contract — explicit broadcast sides (r20)
    val del = broadcast(deleteIds.select(col("docId")))
    val affected = broadcast(ftf.join(del, Seq("docId"), "left_semi")
      .select("word", "field").distinct())
    val untouched = impactF.join(affected, Seq("word", "field"),
      "left_anti")
    val recomputed = impactStatsFielded(
      ftf.join(affected, Seq("word", "field"), "left_semi")
        .join(del, Seq("docId"), "left_anti"))
    untouched.unionByName(recomputed)
  }

  /** Per-field `(field, n_docs_f, total_fl)` of a
    * [[termFrequenciesFielded]] index — the fielded corpusStats: the
    * count of docs CARRYING the field and the exact BIGINT sum of
    * their field lengths (avgfl is derived at probe time, never
    * stored — the [[corpusStats]] rounding argument). Additive under
    * disjoint-docId ingest, subtractive under deletes
    * ([[compactFieldedStats]]).
    */
  def fieldedFieldStats(ftf: DataFrame): DataFrame =
    ftf.groupBy("docId", "field").agg(max(col("fl")).as("fl"))
      .groupBy("field")
      .agg(count(lit(1)).as("n_docs_f"), sum(col("fl")).as("total_fl"))

  /** The fielded corpus's `(n_docs)` scalar — distinct documents with
    * ANY field row (the BM25F idf's N). Additive like every count
    * here.
    */
  def fieldedDocStats(ftf: DataFrame): DataFrame =
    ftf.select("docId").distinct().agg(count(lit(1)).as("n_docs"))

  /** DOCUMENT-level `(word, df)` of a fielded index — docs containing
    * the word in ANY field (the BM25F idf's df; a word spread across
    * two fields of one doc counts once). Additive under disjoint
    * ingest.
    */
  def fieldedDfTable(ftf: DataFrame): DataFrame =
    ftf.select("docId", "word").distinct()
      .groupBy("word").agg(count(lit(1)).as("df"))

  /** Incremental compaction of the fielded stat triple
    * `(fieldedFieldStats, fieldedDocStats, fieldedDfTable)` — the
    * [[compactTermIndex]] convention for the BM25F layout: merge a
    * micro-batch's triple in WITHOUT re-reading the fielded corpus
    * (per-field counts/sums, the doc scalar, and the document-level
    * df are all exact-integer ADDITIVE under the disjoint-docId
    * ingest contract — a doc's field rows live in exactly one batch,
    * so distinct-doc counts add). Deletion is the same merge with the
    * deleted docs' triple NEGATED (build it from their ftf rows, the
    * [[compactTermIndexDeleted]] shape); zero-df words and zero-doc
    * fields drop. Row-identical to a rebuild (RetrievalSpec pins
    * append AND delete parity; q243 gates a probe through a compacted
    * triple against the fresh-build replay). The ftf rows themselves
    * append/anti-join exactly like the unfielded tf.
    */
  def compactFieldedStats(fs: DataFrame, ds: DataFrame, dfTab: DataFrame,
                          batchFs: DataFrame, batchDs: DataFrame,
                          batchDf: DataFrame,
                          negate: Boolean = false)
      : (DataFrame, DataFrame, DataFrame) = {
    val sign = if (negate) -1L else 1L
    val fsM = fs.unionByName(batchFs.select(col("field"),
      (lit(sign) * col("n_docs_f")).as("n_docs_f"),
      (lit(sign) * col("total_fl")).as("total_fl")))
      .groupBy("field")
      .agg(sum(col("n_docs_f")).as("n_docs_f"),
        sum(col("total_fl")).as("total_fl"))
      .filter(col("n_docs_f") > 0)
    val dsM = ds.unionByName(batchDs.select(
      (lit(sign) * col("n_docs")).as("n_docs")))
      .agg(sum(col("n_docs")).as("n_docs"))
    val dfM = dfTab.unionByName(batchDf.select(col("word"),
      (lit(sign) * col("df")).as("df")))
      .groupBy("word").agg(sum(col("df")).as("df"))
      .filter(col("df") > 0)
    (fsM, dsM, dfM)
  }

  /** SCORE-EXACT pruned top-k for the FIELDED scorer —
    * [[bm25TopKWand]]'s analog for BM25F, closing the last scorer
    * asymmetry (BM25, weighted BM25, QL, and weighted QL all had
    * WAND; [[bm25fScores]] always ran unpruned). Returns exactly
    * `bm25TopK(bm25fScores(ftf, fieldParams, queries, ...), k)` —
    * same rows, same scores (bitwise; q239 gates it against the
    * unpruned replay over the fielded Zipf fixture, q240 the
    * decision table) — while hot-term (document
    * df > `hotDf`) posting lists are never folded for docs outside
    * the candidate set.
    *
    * Same two-phase plan as the whole family: rare-term fielded
    * postings surface candidates, the candidates' FULL pseudo-tf
    * folds run doc-restricted (the forward-fetch analog — hot words
    * of non-candidate docs never reach [[foldPtf]]), and a per-query
    * hot-only bound routes safe vs exact-fallback. The fielded bound:
    * each hot term's contribution `idf · t̃f/(k1 + t̃f)` is increasing
    * in t̃f and `t̃f(d) = Σ_f w_f·tf_f/B_f(d) ≤
    * Σ_f w_f·max_tf_f/B_f(min_fl_f)` (every field term is maximized
    * at its corpus extremes, [[impactStatsFielded]]), so with the
    * metadata the ceiling is `idf · t̃f_ub/(k1 + t̃f_ub)`; without it
    * (or for a word the table lacks) the saturation sup `t̃f → ∞`
    * gives the corpus-free ceiling `idf` (BM25F contributions divide
    * by `k1 + t̃f`, so the sup is idf itself — there is no (k1+1)
    * factor here). All contributions are non-negative, so the
    * blanket ×(1+1e-9) margin moves the bound the right way
    * (unlike QL's sign-aware split).
    *
    * Queries with < k candidates or a reachable bound complete
    * exactly through [[wandTopK]]'s fallback (the argument is stated
    * there). The corpus-global aggregates (per-field lengths, N,
    * document df) run inline like the unpruned sibling — at ingest persist
    * them beside the ftf layout and the probe plan keeps only the
    * posting joins.
    */
  def bm25fTopKWand(ftf: DataFrame,
                    fieldParams: Seq[(String, Double, Double)],
                    queries: DataFrame, qidCol: String, qtextCol: String,
                    k: Int, hotDf: Long,
                    k1: Double = 1.2,
                    impactF: Option[DataFrame] = None,
                    fStats: Option[(DataFrame, DataFrame, DataFrame)]
                      = None): DataFrame = {
    val p = bm25fParts(ftf, fieldParams, queries, qidCol, qtextCol, fStats)
    wandTopK(bm25fWandScorer(p, k1, impactF), p.qTermsIdf, k,
      hotDf)
  }

  /** The BM25F WAND decision table (the q187/q205/q224 convention:
    * gate the PRUNING MATH, not just the final answer) — identical
    * columns and routing predicate as [[bm25WandStats]], the same
    * [[wandStats]] stages and [[bm25fWandScorer]] as [[bm25fTopKWand]]
    * so the readout cannot drift from the operator. `ub` is the
    * fielded composed-ceiling bound (word-sorted fold ×(1+1e-9)).
    */
  def bm25fWandStats(ftf: DataFrame,
                     fieldParams: Seq[(String, Double, Double)],
                     queries: DataFrame, qidCol: String, qtextCol: String,
                     k: Int, hotDf: Long,
                     k1: Double = 1.2,
                     impactF: Option[DataFrame] = None,
                     fStats: Option[(DataFrame, DataFrame, DataFrame)]
                       = None): DataFrame = {
    val p = bm25fParts(ftf, fieldParams, queries, qidCol, qtextCol, fStats)
    wandStats(bm25fWandScorer(p, k1, impactF), p.qTermsIdf, k,
      hotDf)
  }

  /** The BM25F [[WandScorer]]: [[bm25fParts]]' trees, doc-restricted.
    * Candidates are the docs of the rare fielded postings; their FULL
    * pseudo-tf folds run restricted to candidate docs (the
    * forward-fetch analog — hot words of non-candidate docs never reach
    * [[foldPtf]]), then exactly the unpruned contribution tree on the
    * kept pairs, so candidate scores are bitwise the unpruned
    * pipeline's. The fallback complement folds the pseudo-tf of the
    * hot words over every doc. The bound is the composed fielded
    * ceiling derived at [[bm25fTopKWand]].
    */
  private def bm25fWandScorer(p: Bm25fParts, k1: Double,
                              impactF: Option[DataFrame]): WandScorer = {
    require(k1 >= 0, s"k1 >= 0: $k1")
    def contrib(joined: DataFrame): DataFrame =
      joined.select(col("queryId"), col("docId"), col("word"),
        (col("idf") * col("__tf") / (lit(k1) + col("__tf"))).as("__c"))
    new WandScorer {
      def candidates(enriched: DataFrame, rare: DataFrame,
                     hot: DataFrame): (DataFrame, DataFrame) = {
        val candPairs = p.scoredQ
          .join(rare.select("queryId", "word"), Seq("word"))
          .select("queryId", "docId").distinct()
        val candDocs = candPairs.select("docId").distinct()
        (candPairs, contrib(
          foldPtf(p.fContrib.join(candDocs, Seq("docId"), "left_semi"))
            .join(broadcast(enriched), Seq("word"))
            .join(candPairs, Seq("queryId", "docId"), "left_semi")))
      }
      def hotContribs(hotTerms: DataFrame): DataFrame =
        contrib(foldPtf(p.fContrib.join(hotTerms.select("word").distinct(),
          Seq("word"), "left_semi"))
          .join(broadcast(hotTerms), Seq("word")))
      def fold(contrib: DataFrame, shuffleFirst: Boolean): DataFrame =
        scoreFold(contrib, shuffleFirst)
      def hotUb(hot: DataFrame): DataFrame = {
        // the per-word pseudo-tf ceiling from the fielded metadata:
        // field-keyed OrderedFold of the per-field extremal terms
        val tfub = impactF.map { imp =>
          imp.join(broadcast(p.params), Seq("field"))
            .join(broadcast(p.favg), Seq("field"))
            .select(col("word"), col("field"),
              (col("__w") * col("max_tf").cast("double") /
                (lit(1.0) - col("__b") +
                  col("__b") * col("min_fl").cast("double") /
                    col("__avgfl"))).as("__fub"))
            .groupBy("word")
            .agg(OrderedFold.sum(col("__fub"), col("field")).as("__tfub"))
        }
        val hotCeil = tfub match {
          case None =>
            hot.select(col("queryId"), col("word"), col("idf").as("__hc"))
          case Some(ub) =>
            hot.join(ub, Seq("word"), "left_outer")
              .select(col("queryId"), col("word"),
                when(col("__tfub").isNull, col("idf"))
                  .otherwise(col("idf") * col("__tfub") /
                    (lit(k1) + col("__tfub"))).as("__hc"))
        }
        hotCeil.groupBy("queryId")
          .agg((OrderedFold.sum(col("__hc"), col("word")) *
            lit(1.0 + 1e-9)).as("__ub"))
      }
    }
  }

  /** The `(word, cf)` COLLECTION-frequency table of a
    * [[termFrequencies]] index — total token occurrences per word
    * (`Σ tf`, vs [[dfTable]]'s document count). The background model
    * of the query-likelihood scorer ([[qlDirichletScores]]); exact
    * BIGINTs, additive across micro-batches exactly like df — a
    * [[compactTermIndex]]-style merge is `sum(cf)` with subtractive
    * deletes (RetrievalSpec pins the append/delete parity through the
    * generic merge).
    */
  def cfTable(tf: DataFrame): DataFrame =
    tf.groupBy("word").agg(sum(col("tf")).as("cf"))

  /** Query-likelihood scoring with Dirichlet smoothing (Zhai &
    * Lafferty'04) — the second classical lexical ranker, over the SAME
    * persisted layouts as BM25 (`tf` + the additive stat tables):
    *
    *   `score(q, d) = Σ_{w ∈ q∩d} ln(1 + tf·|C| / (μ·cf(w)))
    *                 + |q|·ln(μ / (dl + μ))`
    *
    * — the rank-equivalent decomposition of the full smoothed
    * log-likelihood: only MATCHING postings enter the sum (the one
    * word-keyed posting join, as BM25), and the length normalizer is
    * a per-doc closed form. Returns `(queryId, docId, score)` for
    * docs sharing ≥ 1 query term (the retrieval convention here as
    * everywhere; scores are negative — closer to 0 is better — and
    * [[bm25TopK]] ranks them unchanged). Query terms are DEDUPED and
    * `|q|` counts the CORPUS-PRESENT distinct terms (an unseen term
    * has no background mass — Dirichlet smoothing is undefined for
    * it, so it drops from the model on both sides of the oracle).
    * The Σ folds term-sorted (the BM25 contract); the length term
    * adds ONCE, after the fold. The unit query is
    * [[qlScoresWeighted]] over [[unitQueryTerms]] (whose docs state
    * the unit-weight contract).
    */
  def qlDirichletScores(tf: DataFrame, cfTab: DataFrame, stats: DataFrame,
                        queries: DataFrame, qidCol: String,
                        qtextCol: String,
                        mu: Double = 2000.0): DataFrame =
    qlScoresWeighted(tf, cfTab, stats,
      unitQueryTerms(queries, qidCol, qtextCol), mu)

  /** QL Dirichlet scoring under a WEIGHTED query-term table
    * `(queryId, word, weight)` (an [[rm3ExpandedTermsQl]] output, or
    * any caller-supplied term weighting) — the LM mirror of
    * [[bm25ScoresWeighted]]: each matching term contributes
    * `weight · ln(1 + tf·|C|/(μ·cf))`, and the length normalizer
    * generalizes to `(Σ_present weight) · ln(μ/(dl + μ))` — each unit
    * of query mass carries one normalizer share (the `__nq` of
    * [[qlTermTable]]; [[unitQueryTerms]] states why unit weights are
    * [[qlDirichletScores]]). Terms absent from the corpus drop via
    * the cf join on BOTH the contribution and normalizer sides. Same
    * one posting join, same [[qlScoreFold]].
    */
  def qlScoresWeighted(tf: DataFrame, cfTab: DataFrame,
                       stats: DataFrame, termWeights: DataFrame,
                       mu: Double = 2000.0): DataFrame =
    qlScoreFold(postingContribs(tf,
      qlTermTable(termWeights, cfTab, stats),
      qlContribCols(mu)), mu)

  /** Collapse QL `(queryId, docId, word, __c, dl, __nq)` matching
    * contributions to scores — the [[scoreFold]] convention for the
    * second scorer, shared by [[qlDirichletScores]] and
    * [[qlWandScorer]] so the pruned candidates are bitwise the
    * unpruned pipeline BY CONSTRUCTION (they cannot drift): the
    * word-sorted fold, dl and |q| carried through the group as
    * constants, and the length normalizer `|q|·ln(μ/(dl+μ))` added
    * ONCE after the fold.
    */
  private[operators] def qlScoreFold(joined: DataFrame, mu: Double,
                          shuffleFirst: Boolean = true): DataFrame =
    scoreGroups(joined, shuffleFirst)
      .agg(OrderedFold.sum(col("__c"), col("word")).as("__s"),
        max(col("dl")).as("__dl"), max(col("__nq")).as("__n"))
      .select(col("queryId"), col("docId"),
        (col("__s") + col("__n").cast("double") *
          log(lit(mu) / (col("__dl").cast("double") + lit(mu))))
          .as("score"))

  /** [[bm25Scores]] over a pre-built (typically persisted,
    * word-bucketed) [[termFrequencies]] table. `tf` is referenced 3×
    * (df aggregate, length/scalar aggregate, posting join) — the
    * consumption contract of every indexed operator here: persisted
    * state at ingest, materialize-first for lazy one-off chains.
    * Ingest callers with persisted [[dfTable]]/[[corpusStats]] tables
    * (the [[compactTermIndex]] layout) use [[bm25ScoresPrecomputed]]
    * and skip both index-side aggregates.
    *
    * Query terms are DEDUPED (`normalizeTokens` — the common BM25
    * practice of unit query-term weight); terms absent from the corpus
    * contribute zero to every score and are dropped by the inner df
    * join before they reach the postings.
    *
    * `maxDocFrequency` drops query terms with corpus df above the cap
    * BEFORE the posting join — classic stop-term pruning. The matched
    * posting volume (the whole probe cost: measured 42 s for a
    * 516-query batch × 50k docs unpruned, dominated by ~90M common-
    * word postings) collapses to the rare-term matches. Opt-in, it
    * changes results: scores equal a query stripped of its hot terms
    * (low-idf contributions, but not zero — RetrievalSpec pins the
    * equivalence), and docs sharing ONLY hot terms with the query
    * leave the result. The filter is query-term-table-sized — free.
    * [[bm25TopKWand]] is the SCORE-EXACT alternative for top-k probes.
    */
  def bm25ScoresIndexed(tf: DataFrame,
                        queries: DataFrame, qidCol: String, qtextCol: String,
                        k1: Double = 1.2, b: Double = 0.75,
                        maxDocFrequency: Option[Long] = None): DataFrame =
    bm25ScoresPrecomputed(tf, dfTable(tf), corpusStats(tf),
      queries, qidCol, qtextCol, k1, b, maxDocFrequency)

  /** [[bm25ScoresIndexed]] consuming PERSISTED `(word, df)` and
    * `(n_docs, total_dl)` tables (the [[compactTermIndex]] layout) —
    * the ingest steady state: both index-side aggregates vanish from
    * the probe plan, leaving the one posting join. Scores are
    * bit-identical to the inline-aggregate path (the df counts and the
    * scalar sums are exact integers either way; the single avgdl
    * division happens here in both). The unit query is
    * [[bm25ScoresWeighted]] over [[unitQueryTerms]].
    */
  def bm25ScoresPrecomputed(tf: DataFrame, dfTab: DataFrame,
                            stats: DataFrame,
                            queries: DataFrame, qidCol: String,
                            qtextCol: String,
                            k1: Double = 1.2, b: Double = 0.75,
                            maxDocFrequency: Option[Long] = None)
      : DataFrame =
    bm25ScoresWeighted(tf, dfTab, stats,
      unitQueryTerms(queries, qidCol, qtextCol), k1, b,
      maxDocFrequency)

  /** RM3 pseudo-relevance-feedback query expansion (Lavrenko &
    * Croft'01 relevance models; the Anserini/Lucene RM3 shape): from
    * each query's top-`k` BM25 feedback documents, estimate the
    * feedback term distribution
    * `P(w|R_q) = Σ_d (tf(w,d)/dl(d)) · (score(d)/Σ score)`,
    * keep the top-`m` terms (mass desc, word asc ties), renormalize
    * the truncated distribution, and interpolate with the uniform
    * original query: `weight = λ·1[w ∈ Q]/|Q| + (1−λ)·P̂(w|R_q)`.
    * Returns the expanded WEIGHTED query-term table
    * `(queryId, word, weight)` — feed it to [[bm25ScoresWeighted]]
    * for the second-pass retrieval (q190 gates that composition).
    *
    * Scale shape: the feedback set is result-sized (queries × k), its
    * term pull is ONE docId join against the tf table (the forward
    * layout again), and everything after is feedback-term-table-sized.
    * Every Σ is an [[OrderedFold.sum]] (docId-keyed for the doc sums,
    * word-keyed for the truncated normalizer), and the oracle replays
    * the identical trees.
    * Original-query terms ABSENT from the corpus keep their λ/|Q|
    * mass (they contribute zero downstream, but the weight table is
    * the contract). `tf` is consumed by the first-pass scoring AND
    * the feedback pull — persisted state at ingest, as everywhere.
    *
    * `maxFeedbackDf` caps the corpus df of EXPANSION candidates (the
    * RM3 stoplist convention): on a stopword-heavy corpus the raw
    * feedback distribution concentrates on the df head, and expanding
    * every query with stopwords makes the second pass strictly hotter
    * than the first (measured 2.4× a single unpruned pass at 50k —
    * the canonical RM3 overhead). The cap keeps only informative
    * expansion terms; original query terms are never capped. Opt-in
    * and expansion-changing by design, like `maxDocFrequency`.
    *
    * λ endpoints (spec-pinned; the oracle gates λ=0.5 only): zero
    * weights are filtered — a zero-weight word is not a query term —
    * so λ=1 IS the original uniform query (feedback-only terms drop)
    * and λ=0 is the pure feedback model (original-only terms drop).
    * The one exception is the reference RM3 fallback: a query with NO
    * feedback terms at all (no term matched the corpus, or the
    * `maxFeedbackDf` cap emptied its candidate set) keeps its original
    * uniform `1/|Q|` weights regardless of λ, instead of silently
    * vanishing from the second pass at λ < 1.
    */
  def rm3ExpandedTerms(tf: DataFrame, dfTab: DataFrame, stats: DataFrame,
                       queries: DataFrame, qidCol: String, qtextCol: String,
                       k: Int = 10, m: Int = 10, lambda: Double = 0.5,
                       k1: Double = 1.2, b: Double = 0.75,
                       maxFeedbackDf: Option[Long] = None,
                       firstPassMaxDf: Option[Long] = None,
                       wandHotDf: Option[Long] = None,
                       forward: Option[DataFrame] = None,
                       wandImpact: Option[DataFrame] = None): DataFrame = {
    require(m > 0, s"m > 0: $m")
    require(lambda >= 0 && lambda <= 1, s"lambda in [0,1]: $lambda")
    require(wandHotDf.isEmpty || firstPassMaxDf.isEmpty,
      "wandHotDf (score-exact pruning) and firstPassMaxDf " +
        "(score-changing pruning) are alternative first-pass regimes")
    // feedback set: result-sized, consumed 2× (normalizer + term
    // pull). `firstPassMaxDf` is the first pass's own stop-term prune
    // (`maxDocFrequency` semantics — it selects the FEEDBACK SET
    // through pruned scoring, the way a tuned production first stage
    // runs; at 50k the uncapped first pass alone was ~60% of the
    // whole composition's wall).
    // `wandHotDf` instead routes the first pass through the
    // SCORE-EXACT [[bm25TopKWand]] plan (with `forward` as its
    // candidate-fetch layout): the feedback set — and so every
    // expansion weight — is bit-identical to the unpruned first pass
    // (RetrievalSpec pins it), the fully exact way to shed the head
    // postings the canonical composition pays for twice.
    val topk = (wandHotDf match {
      case Some(hd) =>
        // `wandImpact` passes the impactStats metadata through to the
        // score-exact first pass — tighter routing, identical feedback
        bm25TopKWand(tf, queries, qidCol, qtextCol, k, hd, k1, b,
          forward, Some((dfTab, stats)), wandImpact)
          .select("queryId", "docId", "score")
      case None =>
        bm25TopK(
          bm25ScoresPrecomputed(tf, dfTab, stats, queries, qidCol,
            qtextCol, k1, b, firstPassMaxDf), k)
          .select("queryId", "docId", "score")
    }).localCheckpoint()
    rm3ExpandedTermsFromTopk(topk, tf, dfTab, queries, qidCol,
      qtextCol, m, lambda, maxFeedbackDf)
  }

  /** The [[rm3ExpandedTerms]] tail from a MATERIALIZED first-pass
    * top-k `(queryId, docId, score)` table (r20): callers that
    * already hold the first pass ([[bm25FirstPass]] — the
    * one-checkpoint-per-gate RM3 shape) feed it here instead of
    * paying a second first-pass retrieval inside the expansion. Trees
    * identical to the inline path by construction (this IS that code,
    * extracted).
    */
  def rm3ExpandedTermsFromTopk(topk: DataFrame, tf: DataFrame,
                               dfTab: DataFrame,
                               queries: DataFrame, qidCol: String,
                               qtextCol: String,
                               m: Int = 10, lambda: Double = 0.5,
                               maxFeedbackDf: Option[Long] = None)
      : DataFrame = {
    require(m > 0, s"m > 0: $m")
    require(lambda >= 0 && lambda <= 1, s"lambda in [0,1]: $lambda")
    // per-query score normalizer (docId-keyed OrderedFold)
    val z = topk.groupBy("queryId")
      .agg(OrderedFold.sum(col("score"), col("docId")).as("__z"))
    // feedback term mass: Σ_d (tf/dl)·(score/z), docId-keyed.
    // topk is result-sized by construction — the explicit broadcast
    // side of the forward pull (the postingContribs rationale)
    val fb = broadcast(topk).join(tf, Seq("docId"))
      .join(z, Seq("queryId"))
      .select(col("queryId"), col("word"), col("docId"),
        ((col("tf").cast("double") / col("dl").cast("double")) *
          (col("score") / col("__z"))).as("__p"))
      .groupBy(col("queryId"), col("word"))
      .agg(OrderedFold.sum(col("__p"), col("docId")).as("__pw"))
    // optional expansion-candidate df cap (feedback-vocab-sized
    // semi-join; the truncated renormalization below then spreads the
    // mass over the kept informative terms)
    rm3Tail(fb, dfTab, queries, qidCol, qtextCol, m, lambda,
      maxFeedbackDf)
  }

  /** RM3 pseudo-relevance feedback for the QL DIRICHLET scorer — the
    * LM-NATIVE relevance model (Lavrenko & Croft'01 estimate
    * `P(w|R) ∝ Σ_d P(w|d)·P(q|d)` with P(q|d) the query LIKELIHOOD):
    * where [[rm3ExpandedTerms]] weights feedback docs by their BM25
    * score over the score sum (the Anserini convention for a
    * positive-scored ranker), QL scores are LOG-likelihoods —
    * negative, so score/Σ weighting is meaningless — and the faithful
    * doc weight is the SOFTMAX `exp(s_d − max_s) / Σ exp(s_i − max_s)`
    * (max-subtracted for stability; exactly proportional to the
    * likelihoods P(q|d)). Everything after the doc weighting — the
    * expansion-df cap, top-`m` truncation, renormalization, λ-mix
    * with the uniform original query, and the empty-feedback
    * fallback — is [[rm3Tail]], SHARED with the BM25 operator, so
    * the two RM3s cannot drift in their tail semantics. Feed the
    * output to [[qlScoresWeighted]] for the LM second pass (q233
    * gates the full composition).
    *
    * `wandHotDf` routes the first pass through the score-exact
    * [[qlTopKWand]] (with `forward`/`wandImpact` as its layouts) —
    * identical feedback set, hot posting lists skipped for safe
    * queries, exactly the [[rm3ExpandedTerms]] regime. Scale shape
    * matches the BM25 RM3: the feedback set is result-sized, its
    * term pull one docId join, everything after
    * feedback-vocabulary-sized; the exp/softmax is result-sized
    * arithmetic with docId-keyed [[OrderedFold.sum]]s
    * (oracle-replayable).
    */
  def rm3ExpandedTermsQl(tf: DataFrame, cfTab: DataFrame,
                         stats: DataFrame, dfTab: DataFrame,
                         queries: DataFrame, qidCol: String,
                         qtextCol: String,
                         k: Int = 10, m: Int = 10, lambda: Double = 0.5,
                         mu: Double = 2000.0,
                         maxFeedbackDf: Option[Long] = None,
                         wandHotDf: Option[Long] = None,
                         forward: Option[DataFrame] = None,
                         wandImpact: Option[DataFrame] = None)
      : DataFrame = {
    require(m > 0, s"m > 0: $m")
    require(lambda >= 0 && lambda <= 1, s"lambda in [0,1]: $lambda")
    // feedback set: result-sized, consumed 3x (max, softmax, pull)
    val topk = (wandHotDf match {
      case Some(hd) =>
        qlTopKWand(tf, queries, qidCol, qtextCol, k, hd, mu,
          forward, Some((dfTab, stats)), Some(cfTab), wandImpact)
      case None =>
        bm25TopK(qlDirichletScores(tf, cfTab, stats, queries, qidCol,
          qtextCol, mu), k)
    }).select("queryId", "docId", "score").localCheckpoint()
    rm3ExpandedTermsQlFromTopk(topk, tf, dfTab, queries, qidCol,
      qtextCol, m, lambda, maxFeedbackDf)
  }

  /** The [[rm3ExpandedTermsQl]] tail from a MATERIALIZED first-pass
    * top-k `(queryId, docId, score)` table (r20): callers that
    * already hold the first pass ([[qlFirstPass]] — the
    * one-checkpoint-per-gate RM3 shape) feed it here instead of
    * paying a second first-pass retrieval inside the expansion. Trees
    * identical to the inline path by construction (this IS that code,
    * extracted).
    */
  def rm3ExpandedTermsQlFromTopk(topk: DataFrame, tf: DataFrame,
                                 dfTab: DataFrame,
                                 queries: DataFrame, qidCol: String,
                                 qtextCol: String,
                                 m: Int = 10, lambda: Double = 0.5,
                                 maxFeedbackDf: Option[Long] = None)
      : DataFrame = {
    require(m > 0, s"m > 0: $m")
    require(lambda >= 0 && lambda <= 1, s"lambda in [0,1]: $lambda")
    // stable softmax doc weights; max() is exact order-independent,
    // the normalizer folds docId-sorted
    val mx = topk.groupBy("queryId").agg(max(col("score")).as("__mx"))
    val ex = topk.join(mx, Seq("queryId"))
      .select(col("queryId"), col("docId"),
        exp(col("score") - col("__mx")).as("__e"))
    val z = ex.groupBy("queryId")
      .agg(OrderedFold.sum(col("__e"), col("docId")).as("__z"))
    // ex ⋈ z is result-sized — the explicit broadcast side of the
    // forward pull (the postingContribs rationale)
    val fb = broadcast(ex.join(z, Seq("queryId")))
      .join(tf, Seq("docId"))
      .select(col("queryId"), col("word"), col("docId"),
        ((col("tf").cast("double") / col("dl").cast("double")) *
          (col("__e") / col("__z"))).as("__p"))
      .groupBy(col("queryId"), col("word"))
      .agg(OrderedFold.sum(col("__p"), col("docId")).as("__pw"))
    rm3Tail(fb, dfTab, queries, qidCol, qtextCol, m, lambda,
      maxFeedbackDf)
  }

  /** A MATERIALIZED first retrieval pass, for gates that consume it
    * twice (r20 — VERDICT r19 task 4, the RM3 rescore family):
    * `contribs` is the checkpointed per-(query, doc, word) matched
    * contribution table the posting join produced (BM25: `__c` =
    * [[contribExpr]]; QL: `__c` = [[qlContribExpr]] plus the `dl`,
    * `__nq` riders the QL fold needs), `topk` the checkpointed
    * first-pass top-k `(queryId, docId, score)`, and `qTerms` the lazy
    * original [[unitQueryTerms]] table (the reuse split key). The RM3
    * composition then derives BOTH its stages from the one pass: the
    * expansion consumes `topk`
    * ([[rm3ExpandedTermsFromTopk]]/[[rm3ExpandedTermsQlFromTopk]]) and
    * the weighted rescore reuses `contribs` for every original term
    * ([[bm25ScoresWeightedReusing]]/[[qlScoresWeightedReusing]]),
    * scanning postings only for the NEW expansion words — where the
    * pre-r20 shape re-scanned every original term's posting list a
    * second time inside the rescore.
    */
  final case class FirstPass(contribs: DataFrame, topk: DataFrame,
                             qTerms: DataFrame)

  /** The materialized BM25 first pass (see [[FirstPass]]): trees are
    * [[bm25ScoresPrecomputed]] + [[bm25TopK]] verbatim — the
    * checkpoint only materializes the posting-join output the inline
    * path computed in-flight, so `topk` is bitwise the inline
    * first-pass top-k (RetrievalSpec pins the composition parity).
    */
  def bm25FirstPass(tf: DataFrame, dfTab: DataFrame, stats: DataFrame,
                    queries: DataFrame, qidCol: String, qtextCol: String,
                    k: Int, k1: Double = 1.2, b: Double = 0.75): FirstPass = {
    val qt = unitQueryTerms(queries, qidCol, qtextCol)
    firstPass(qt, postingContribs(tf,
      bm25TermTable(qt, dfTab, stats),
      bm25ContribCols(k1, b)), scoreFold(_), k)
  }

  /** The materialized QL first pass (see [[FirstPass]]): the
    * [[qlDirichletScores]] head with the posting join checkpointed,
    * then the shared fold + top-k. `contribs` carries `dl` and the
    * original corpus-present `|q|` (`__nq`) so the unit fold replays;
    * the weighted reuse swaps in the weighted mass.
    */
  def qlFirstPass(tf: DataFrame, cfTab: DataFrame, stats: DataFrame,
                  queries: DataFrame, qidCol: String, qtextCol: String,
                  k: Int, mu: Double = 2000.0): FirstPass = {
    val qt = unitQueryTerms(queries, qidCol, qtextCol)
    firstPass(qt, postingContribs(tf,
      qlTermTable(qt, cfTab, stats), qlContribCols(mu)),
      qlScoreFold(_, mu), k)
  }

  /** Checkpoint a first pass's contributions and its folded top-k. */
  private def firstPass(qt: DataFrame, contribsLazy: DataFrame,
                        fold: DataFrame => DataFrame, k: Int): FirstPass = {
    require(k > 0, s"k > 0: $k")
    val contribs = contribsLazy.localCheckpoint()
    val topk = bm25TopK(fold(contribs), k)
      .select("queryId", "docId", "score").localCheckpoint()
    FirstPass(contribs, topk, qt)
  }

  /** [[bm25ScoresWeighted]] REUSING a materialized first pass (r20):
    * bitwise the same scores, assembled as
    *
    *   - original corpus-present terms: the checkpointed first-pass
    *     contributions scaled by the term's new weight (the same
    *     one IEEE multiply `weight · contribExpr` the inline path
    *     evaluates — the factor tree is identical, materialized);
    *   - NEW expansion words (absent from the original query): the
    *     one posting join, restricted to exactly those words.
    *
    * The two row sets partition the weighted-query match set (every
    * original term of `termWeights` appears in `fp.contribs`' matched
    * rows or matches nothing), so the word-sorted fold consumes the
    * identical `(word, __c)` multiset and the scores are bitwise
    * [[bm25ScoresWeighted]]'s (RetrievalSpec pins the parity). What
    * it saves: the rescore's posting join no longer re-scans the
    * original terms' posting lists — at 100 TB those are the query's
    * common words, the heaviest lists the first pass already paid for.
    */
  def bm25ScoresWeightedReusing(tf: DataFrame, dfTab: DataFrame,
                                stats: DataFrame, termWeights: DataFrame,
                                fp: FirstPass,
                                k1: Double = 1.2,
                                b: Double = 0.75): DataFrame = {
    val newRows = postingContribs(tf, bm25TermTable(
      termWeights.join(fp.qTerms, Seq("queryId", "word"), "left_anti"),
      dfTab, stats), bm25ContribCols(k1, b))
    val reused = fp.contribs
      .join(broadcast(termWeights.select("queryId", "word", "weight")),
        Seq("queryId", "word"))
      .select(col("queryId"), col("docId"), col("word"),
        (col("weight") * col("__c")).as("__c"))
    scoreFold(reused.unionByName(newRows))
  }

  /** [[qlScoresWeighted]] REUSING a materialized first pass (r20) —
    * the [[bm25ScoresWeightedReusing]] argument under the QL trees:
    * original terms scale the checkpointed `qlContribExpr` values,
    * new expansion words pay the one posting join, and the union of
    * both halves joins the weighted normalizer mass `__nq` of the
    * [[qlTermTable]] once (its [[qlTermParts]], so the term subtree is
    * planned as often as the table itself plans it) — the fold
    * consumes the identical `(word, __c)` multiset with the identical
    * `dl`/`__nq` riders and the scores are bitwise
    * [[qlScoresWeighted]]'s (RetrievalSpec pins the parity).
    */
  def qlScoresWeightedReusing(tf: DataFrame, cfTab: DataFrame,
                              stats: DataFrame, termWeights: DataFrame,
                              fp: FirstPass,
                              mu: Double = 2000.0): DataFrame = {
    val (present, mass) = qlTermParts(termWeights, cfTab, stats)
    // qlContribCols without its trailing `__nq` rider
    val newRows = postingContribs(tf,
      present.join(fp.qTerms, Seq("queryId", "word"), "left_anti"),
      qlContribCols(mu).init)
    val reused = fp.contribs.drop("__nq")
      .join(broadcast(termWeights.select("queryId", "word", "weight")),
        Seq("queryId", "word"))
      .select(col("queryId"), col("docId"), col("word"),
        (col("weight") * col("__c")).as("__c"), col("dl"))
    qlScoreFold(reused.unionByName(newRows)
      .join(broadcast(mass), Seq("queryId")), mu)
  }

  /** The RM3 TAIL shared by [[rm3ExpandedTerms]] (BM25 doc weights)
    * and [[rm3ExpandedTermsQl]] (softmax likelihood weights): the
    * expansion-candidate df cap, top-`m` mass truncation (mass desc,
    * word asc ties), truncated renormalization, λ-interpolation with
    * the uniform original query, and the empty-feedback fallback —
    * one definition, so the two feedback models cannot drift after
    * the doc-weighting step. Input `fb` is the feedback term-mass
    * table `(queryId, word, __pw)`.
    */
  private def rm3Tail(fb: DataFrame, dfTab: DataFrame,
                      queries: DataFrame, qidCol: String,
                      qtextCol: String,
                      m: Int, lambda: Double,
                      maxFeedbackDf: Option[Long]): DataFrame = {
    val fbCapped = maxFeedbackDf match {
      case Some(cap) => fb.join(
        dfTab.filter(col("df") <= cap).select("word"),
        Seq("word"), "left_semi")
      case None => fb
    }
    val wR = Window.partitionBy(col("queryId"))
      .orderBy(col("__pw").desc, col("word").asc)
    val kept = fbCapped.withColumn("__r", row_number().over(wR))
      .filter(col("__r") <= m)
    // truncated renormalization (word-keyed OrderedFold)
    val norm = kept.groupBy("queryId")
      .agg(OrderedFold.sum(col("__pw"), col("word")).as("__s"))
    val fbw = kept.join(norm, Seq("queryId"))
      .select(col("queryId"), col("word"),
        (col("__pw") / col("__s")).as("__fw"))
    // the uniform original query
    val qt = queryTerms(queries, qidCol, qtextCol)
    val qn = qt.groupBy("queryId").agg(count(lit(1)).as("__n"))
    val ow = qt.join(qn, Seq("queryId"))
      .select(col("queryId"), col("word"),
        (lit(1.0) / col("__n").cast("double")).as("__ow"))
    val mixed = ow.join(fbw, Seq("queryId", "word"), "full_outer")
      .select(col("queryId"), col("word"),
        (lit(lambda) * coalesce(col("__ow"), lit(0.0)) +
          lit(1.0 - lambda) * coalesce(col("__fw"), lit(0.0)))
          .as("weight"))
      // λ endpoints zero out one side's exclusive terms — a zero
      // weight is a no-op downstream and not a query term
      .filter(col("weight") > 0.0)
    // the RM3 empty-feedback fallback (see scaladoc): queries with no
    // feedback terms keep the ORIGINAL uniform query at any λ. Both
    // sides of the split are query-/feedback-vocabulary-sized.
    val fbQ = fbw.select("queryId").distinct()
    mixed.join(fbQ, Seq("queryId"), "left_semi")
      .unionByName(
        ow.join(fbQ, Seq("queryId"), "left_anti")
          .select(col("queryId"), col("word"), col("__ow").as("weight")))
  }

  /** BM25 scoring under a WEIGHTED query-term table
    * `(queryId, word, weight)` (an [[rm3ExpandedTerms]] output, or any
    * caller-supplied term weighting): each term's contribution is
    * `weight · bm25(w, d)`. One posting join carrying the
    * query-batch-sized [[bm25TermTable]] and the [[scoreFold]];
    * [[bm25ScoresPrecomputed]] is this at unit weight.
    */
  def bm25ScoresWeighted(tf: DataFrame, dfTab: DataFrame,
                         stats: DataFrame, termWeights: DataFrame,
                         k1: Double = 1.2, b: Double = 0.75,
                         maxDocFrequency: Option[Long] = None)
      : DataFrame = {
    // the opt-in stop-term prune: a weighted query's ORIGINAL hot
    // terms otherwise ride into the second pass at λ weight and keep
    // it as hot as the first
    val kept =
      maxDocFrequency.fold(dfTab)(maxDf => dfTab.filter(col("df") <= maxDf))
    scoreFold(postingContribs(tf,
      bm25TermTable(termWeights, kept, stats),
      bm25ContribCols(k1, b)))
  }

  /** The deduped normalized query-term table `(queryId, word)` — the
    * ONE tokenizer-and-guard definition every scorer's query side
    * shares (null/degenerate queries drop; terms are DISTINCT, the
    * unit-query-term-weight convention). Nobody inlines a copy: a
    * drift here would silently move query semantics between operators.
    */
  private[operators] def queryTerms(queries: DataFrame, qidCol: String,
                                    qtextCol: String): DataFrame =
    queries
      .filter(col(qidCol).isNotNull && lower(col(qtextCol)).rlike("[a-z0-9]"))
      .select(col(qidCol).as("queryId"),
        explode_outer(TextFunctions.normalizeTokens(col(qtextCol)))
          .as("word"))
      .filter(col("word").isNotNull)

  /** [[queryTerms]] at unit weight, `(queryId, word, weight = 1.0)` —
    * how every unit operator enters [[bm25TermTable]] and
    * [[qlTermTable]]. THE unit-weight contract: every weight is 1.0,
    * so each `weight · x` is `x` bit for bit (IEEE), and the
    * word-sorted fold of n ones from 0.0 (`__nq`) is the exact integer
    * n, the value the count `|q|` always had. The unit scorers are
    * therefore their weighted siblings at weight 1.0, bitwise, by
    * construction.
    */
  private[operators] def unitQueryTerms(queries: DataFrame, qidCol: String,
                                        qtextCol: String): DataFrame =
    queryTerms(queries, qidCol, qtextCol).withColumn("weight", lit(1.0))

  /** THE BM25 query-term table: a `(queryId, word, weight)` term table
    * joined with the persisted df layout and the corpus scalars,
    * `(queryId, word, weight, avgdl, idf, df)`. `idf` is Lucene's
    * [[bm25Idf]] over `n_docs`; `avgdl` is the EXACT integer
    * `total_dl / n_docs` division (one rounding, replayable), never an
    * engine-internal `avg()`. Words absent from the corpus drop; they
    * would contribute nothing. It is query-batch-sized, so it is the
    * broadcast side of every probe ([[postingContribs]]). Every BM25
    * operator (plain, first pass, phrase, conjunctive, WAND, MaxP,
    * federated, LTR) builds its query side here, unit queries through
    * [[unitQueryTerms]].
    */
  private[operators] def bm25TermTable(terms: DataFrame, dfTab: DataFrame,
                                       stats: DataFrame): DataFrame =
    terms.join(dfTab, Seq("word"))
      .crossJoin(broadcast(stats.select(
        col("n_docs").cast("double").as("n_docs"),
        (col("total_dl").cast("double") / col("n_docs").cast("double"))
          .as("avgdl"))))
      .select(col("queryId"), col("word"), col("weight"), col("avgdl"),
        bm25Idf(col("n_docs")).as("idf"), col("df"))

  /** THE QL query-term table, the [[bm25TermTable]] mirror: any term
    * table with `(queryId, word, weight)` columns (a raw one, or a
    * [[bm25TermTable]] when a caller needs both scorers' columns)
    * joined with the persisted cf layout, plus the corpus token count
    * `__cTokens` (|C|) and `__nq`, the query mass: an
    * [[OrderedFold.sum]] of `weight` over the query's corpus-present
    * words (those that survive the joins). `__nq` is QL's `|q|`; at
    * unit weight it is the count ([[unitQueryTerms]]).
    */
  private[operators] def qlTermTable(terms: DataFrame, cfTab: DataFrame,
                                     stats: DataFrame): DataFrame = {
    val (present, mass) = qlTermParts(terms, cfTab, stats)
    present.join(mass, Seq("queryId"))
  }

  /** [[qlTermTable]] before its one join: the corpus-present terms
    * (cf, `__cTokens`) and the per-query mass `(queryId, __nq)`, for a
    * caller that joins the mass later ([[qlScoresWeightedReusing]],
    * the [[ltrFeatures]] family).
    */
  private def qlTermParts(terms: DataFrame, cfTab: DataFrame,
                          stats: DataFrame): (DataFrame, DataFrame) = {
    val present = terms.join(cfTab, Seq("word"))
      .crossJoin(broadcast(
        stats.select(col("total_dl").cast("double").as("__cTokens"))))
    (present, present.groupBy("queryId")
      .agg(OrderedFold.sum(col("weight"), col("word")).as("__nq")))
  }

  /** Lucene's non-negative BM25 idf `ln(1 + (N − df + 0.5)/(df + 0.5))`
    * of the row's `df` against the document count `n` — shared by
    * [[bm25TermTable]] and the fielded [[bm25fParts]] (its own df/N).
    */
  private def bm25Idf(n: Column): Column = {
    val dfHalf = col("df").cast("double") + lit(0.5)
    log(lit(1.0) + (n - col("df").cast("double") + lit(0.5)) / dfHalf)
  }

  /** The per-(query, doc, word) QL Dirichlet matching-term
    * contribution `ln(1 + tf·|C| / (μ·cf))` over joined
    * `(tf, __cTokens, cf)` columns — the ONE arithmetic definition
    * shared by [[qlDirichletScores]], [[qlTopKWand]]'s candidate and
    * forward-fetched hot branches, and [[ltrFeatures]]' `ql` column
    * (via the identical tree), so they cannot drift by construction —
    * the [[contribExpr]] convention for the second scorer. Rejects
    * `mu <= 0` when the Column is built, before any job runs.
    */
  private[operators] def qlContribExpr(mu: Double): Column = {
    require(mu > 0, s"mu > 0: $mu")
    log(lit(1.0) +
      col("tf").cast("double") * col("__cTokens") /
        (lit(mu) * col("cf").cast("double")))
  }

  /** The per-(query, doc, word) BM25 contribution over joined
    * `(tf, dl, idf, avgdl)` columns — the ONE arithmetic definition
    * every scoring path shares (unpruned, precomputed, WAND candidate
    * and forward-fetched hot branches), so they cannot drift by
    * construction. Rejects `k1 < 0` and `b ∉ [0,1]` when the Column
    * is built, before any job runs: the WAND bounds need the length
    * factor `k1·(1 − b + b·dl/avgdl)` non-negative for every dl.
    */
  private[operators] def contribExpr(k1: Double, b: Double): Column = {
    require(k1 >= 0 && b >= 0 && b <= 1, s"k1 >= 0, b in [0,1]: $k1, $b")
    col("idf") *
      (col("tf").cast("double") * (lit(k1) + lit(1.0))) /
      (col("tf").cast("double") + lit(k1) *
        (lit(1.0) - lit(b) +
          lit(b) * col("dl").cast("double") / col("avgdl")))
  }

  /** BM25 contribution rows `(queryId, docId, word, __c)` of a posting
    * ⋈ [[bm25TermTable]] row: `weight · ` [[contribExpr]].
    */
  private[operators] def bm25ContribCols(k1: Double, b: Double): Seq[Column] =
    Seq(col("queryId"), col("docId"), col("word"),
      (col("weight") * contribExpr(k1, b)).as("__c"))

  /** QL contribution rows `(queryId, docId, word, __c, dl, __nq)` of a
    * posting ⋈ [[qlTermTable]] row: `weight · ` [[qlContribExpr]]
    * plus the `dl` and `|q|` riders [[qlScoreFold]] needs.
    */
  private[operators] def qlContribCols(mu: Double): Seq[Column] =
    Seq(col("queryId"), col("docId"), col("word"),
      (col("weight") * qlContribExpr(mu)).as("__c"), col("dl"),
      col("__nq"))

  /** Contribution rows (`contribCols`, e.g. [[bm25ContribCols]]) from
    * the posting join of `tf` with a [[bm25TermTable]] or
    * [[qlTermTable]];
    * `probeFilter` lands on the joined rows before the projection (the
    * federated (queryId, shard) semi-join).
    *
    * The term table is query-batch-sized BY CONTRACT, so it is
    * the explicit broadcast side (r20, guide §3.1): the planner's
    * size estimates INVERTED this join at bench scale — it broadcast
    * the checkpointed INDEX and streamed the one-split query scan, so
    * the probe and the partial score fold ran in a single task (6.3
    * of q203's 7.8 s warm wall in the Scratch profile; the shape is
    * also the q203/q235 32-core anti-scaling). Broadcasting the
    * query side is the only shape that exists at 100 TB — an index
    * is never broadcastable — and it lets the posting scan stream at
    * the layout's bucket parallelism at every scale.
    */
  private[operators] def postingContribs(tf: DataFrame, terms: DataFrame,
                                         contribCols: Seq[Column],
                                         probeFilter: DataFrame => DataFrame
                                           = identity): DataFrame =
    probeFilter(tf.join(broadcast(terms), Seq("word")))
      .select(contribCols: _*)

  /** Collapse `(queryId, docId, word, __c)` contributions to scores.
    * Word-keyed [[OrderedFold.sum]] (the q98/DSIR convention): the
    * oracle replays the identical tree.
    */
  private[operators] def scoreFold(contrib: DataFrame,
                                   shuffleFirst: Boolean = true): DataFrame =
    scoreGroups(contrib, shuffleFirst)
      .agg(OrderedFold.sum(col("__c"), col("word")).as("score"))

  /** The `(queryId, docId)` groups of [[scoreFold]] and [[qlScoreFold]].
    * r20: repartition to the GROUP key before the collect — the
    * posting join leaves contributions word-partitioned, so the
    * map-side partial collect_list splits every (query, doc) group
    * across up to every map partition and the fold exchange ships ~4×
    * the rows as list buffers (q203 profile: 2.9M buffer rows, the
    * merge stage 55 s of CPU). With the explicit repartition the
    * exchange ships the RAW narrow rows once and the whole
    * collect+sort+fold runs post-shuffle in one stage. Values are
    * unchanged (the fold is partitioning-invariant by construction).
    * `shuffleFirst = false` opts BACK into the map-side partial shape
    * for CANDIDATE-sized folds (the WAND cores): there the input is
    * already small and pre-compaction wins — the r20 after-bench
    * showed the unconditional repartition costing the WAND stats
    * family +0.6–2.7 s each.
    */
  private def scoreGroups(contrib: DataFrame,
                          shuffleFirst: Boolean): RelationalGroupedDataset =
    (if (shuffleFirst) contrib.repartition(col("queryId"), col("docId"))
    else contrib).groupBy(col("queryId"), col("docId"))

  /** Positional posting layout: one row per token OCCURRENCE —
    * `(docId, pos, word)`, `pos` 0-based over the normalized word
    * sequence (the same tokenizer as [[termFrequencies]], positions
    * over the NON-deduped stream). This is the Lucene positional
    * index re-expressed relationally: persist it `bucketBy(word)`
    * next to the tf table and phrase probes are exchange-free on the
    * index side, exactly like the BM25 posting join.
    */
  def positionalPostings(docs: DataFrame, idCol: String,
                         textCol: String): DataFrame =
    docs
      .filter(col(idCol).isNotNull && lower(col(textCol)).rlike("[a-z0-9]"))
      .select(col(idCol).as("docId"),
        posexplode_outer(TextFunctions.normalizedWords(col(textCol))))
      .filter(col("col").isNotNull)
      .select(col("docId"), col("pos").cast("long").as("pos"),
        col("col").as("word"))

  /** Incremental POSITIONAL index compaction — [[compactTermIndex]]'s
    * mirror on the [[positionalPostings]] layout: a document's
    * `(docId, pos, word)` rows depend on that document alone (positions
    * are doc-local offsets), so under the disjoint-docId ingest
    * contract the merge IS the append — no affected-row re-rank, no
    * df/scalar state to maintain (phrase probes re-derive anchor
    * occurrence counts from the merged table per batch, which is what
    * keeps the anchor choice correct as the corpus grows). Returns the
    * merged table, row-identical to a from-scratch rebuild over the
    * union (RetrievalSpec pins the parity; q193 gates a phrase probe
    * through the compacted layout against the full-corpus DuckDB
    * replay). At ingest the persisted layout is `bucketBy(word)` (the
    * probe side); a batch appended into the bucketed table lands as
    * new per-bucket files, so probes stay exchange-free after any
    * number of compactions. `assertDisjoint` enforces the id contract
    * in-plan, as [[compactTermIndex]].
    */
  def compactPositionalIndex(posts: DataFrame, batchPosts: DataFrame,
                             assertDisjoint: Boolean = false): DataFrame =
    posts.unionByName(
      if (!assertDisjoint) batchPosts
      else guardedDisjointBatch(posts, batchPosts,
        "compactPositionalIndex"))

  /** Deletion-side positional compaction: remove `deleteIds` docs from
    * a persisted [[positionalPostings]] table without a corpus pass —
    * one anti-join (bucket-local if the table is also kept
    * `bucketBy(docId)`, though the word-bucketed probe layout is the
    * one that matters; a deletion rewrite of a word-bucketed table is
    * a bucket-preserving overwrite). Ids absent from the index are
    * no-ops. Row-identical to a survivor rebuild (RetrievalSpec; q194
    * gates the probe against the survivor replay).
    */
  def compactPositionalIndexDeleted(posts: DataFrame,
                                    deleteIds: DataFrame): DataFrame =
    posts.join(deleteIds.select(col("docId")), Seq("docId"), "left_anti")

  /** Exact phrase containment over a [[positionalPostings]] table:
    * `(queryId, docId, n_occurrences)` — the number of positions where
    * the query's FULL normalized word sequence occurs contiguously
    * (overlapping occurrences count; docs with zero occurrences are
    * absent). The query side of eval-set decontamination at exact
    * token granularity, and the `"..."` operator of a retrieval stack.
    *
    * Scale shape — RAREST-TERM ANCHORING (the Lucene conjunction
    * lead-iterator rule, relationally): candidate starts surface ONLY
    * through the posting list of each phrase's least-frequent term
    * (one word-keyed join), then every phrase offset verifies against
    * the positional table with ONE (docId, pos) equi-join — the
    * candidate-offset side is |candidates| × n and broadcasts when
    * small, so the posting table never re-shuffles for rare-anchored
    * phrases. Probe cost is `occ(rarest term) × n`, NOT
    * `Σ_i occ(w_i)`: the first formulation of this operator (an
    * aligned-start aggregate over ALL terms' postings) measured
    * unboundedly worse on stopword-heavy phrases — a 50k-doc Zipf
    * probe whose phrases led with the corpus's hottest token ran
    * minutes vs seconds, every hot term's full occurrence list
    * entering the aggregate. A start hosts the phrase iff all n
    * offsets verify (distinct-`i` count; duplicate words in a phrase
    * need distinct aligned offsets). A phrase term absent from the
    * corpus leaves the anchor choice but verification still demands
    * it, so such phrases correctly match nothing.
    *
    * `maxAnchorOcc > 0` enforces the anchoring premise IN-PLAN (the
    * [[Dedup]] `maxBlockSize` convention): a phrase whose RAREST term
    * still has more than `maxAnchorOcc` corpus occurrences — an
    * all-stopword phrase — would silently drag that term's full
    * posting list through candidate generation (the measured
    * minutes-vs-seconds regime above, now per ANCHOR instead of per
    * term); the guard fails loudly instead, naming the query and its
    * anchor volume. The check rides the anchor table (one row per
    * phrase) the plan computes anyway, so results under the cap are
    * untouched. `<= 0` (default) disables.
    */
  def phraseMatches(posts: DataFrame,
                    phrases: DataFrame, qidCol: String,
                    qtextCol: String,
                    maxAnchorOcc: Long = -1L): DataFrame = {
    val pterms = phraseTermsOf(phrases, qidCol, qtextCol)
    // phrase lengths: query-batch-sized, rides the broadcastable side
    val qn = pterms.groupBy("queryId").agg(count(lit(1)).as("__n"))
    val anchor = anchorOf(posts, pterms, maxAnchorOcc)
    // candidate starts: the anchor term's occurrences, re-aligned.
    // anchor is one row per phrase — the explicit broadcast side
    // (r20, the postingContribs rationale: the positional index
    // streams, the query side never does)
    val cands = posts.join(broadcast(anchor), Seq("word"))
      .select(col("queryId"), col("docId"),
        (col("pos") - col("__ai")).as("__start"))
      .filter(col("__start") >= 0)
    // verification: one (docId, pos) equi-join — posts are UNIQUE on
    // that key, so each offset matches at most one row; the word
    // equality then decides it. The candidate-offset side is
    // |candidates| × n — anchored-sized by the rarest-term premise
    // (`maxAnchorOcc` guards it), so it is the explicit broadcast
    // side: the planner's estimates inverted this join at bench scale
    // and broadcast the INDEX, serializing the probe into one task
    broadcast(cands.join(pterms, Seq("queryId"))
      .select(col("queryId"), col("docId"), col("__start"),
        (col("__start") + col("__i")).as("pos"),
        col("word").as("__w"), col("__i")))
      .join(posts.withColumnRenamed("word", "__pw"), Seq("docId", "pos"))
      .filter(col("__pw") === col("__w"))
      .groupBy(col("queryId"), col("docId"), col("__start"))
      .agg(countDistinct(col("__i")).as("__m"))
      .join(qn, Seq("queryId"))
      .filter(col("__m") === col("__n"))
      .groupBy(col("queryId"), col("docId"))
      .agg(count(lit(1)).as("n_occurrences"))
  }

  /** The normalized `(queryId, __i, word)` phrase-offset table shared
    * by the positional probes — query-batch-sized and consumed
    * several times per probe (lengths, anchor, verification/pull), so
    * eagerly materialized.
    */
  private def phraseTermsOf(phrases: DataFrame, qidCol: String,
                            qtextCol: String): DataFrame =
    phrases
      .filter(col(qidCol).isNotNull &&
        lower(col(qtextCol)).rlike("[a-z0-9]"))
      .select(col(qidCol).as("queryId"),
        posexplode_outer(TextFunctions.normalizedWords(col(qtextCol))))
      .filter(col("col").isNotNull)
      .select(col("queryId"), col("pos").cast("long").as("__i"),
        col("col").as("word"))
      .localCheckpoint()

  /** Per-phrase anchor `(queryId, word, __ai)`: the offset whose term
    * has the FEWEST corpus occurrences (counts from the posting table;
    * word/offset ties break deterministically). The semi-join BEFORE
    * the aggregate keeps the occurrence stats phrase-vocabulary-sized —
    * aggregating the whole positional index first would pay a
    * corpus-sized pass per probe batch that the word filter cannot
    * push below. `maxAnchorOcc > 0` guards the anchoring premise
    * in-plan (see [[phraseMatches]]).
    */
  private def anchorOf(posts: DataFrame, pterms: DataFrame,
                       maxAnchorOcc: Long): DataFrame = {
    val occ = posts
      .join(broadcast(pterms.select("word").distinct()), Seq("word"),
        "left_semi")
      .groupBy("word").agg(count(lit(1)).as("__occ"))
    val aw = Window.partitionBy(col("queryId"))
      .orderBy(col("__occ").asc, col("word").asc, col("__i").asc)
    val anchorRaw = pterms.join(occ, Seq("word"))
      .withColumn("__r", row_number().over(aw))
      .filter(col("__r") === 1)
      .select(col("queryId"), col("word"), col("__i").as("__ai"),
        col("__occ"))
    (if (maxAnchorOcc <= 0L) anchorRaw
     else anchorRaw.filter(
       when(col("__occ") <= maxAnchorOcc, lit(true))
         .otherwise(raise_error(concat(
           lit("phrase probe: query "), col("queryId").cast("string"),
           lit("'s rarest phrase term '"), col("word"),
           lit("' has "), col("__occ").cast("string"),
           lit(s" corpus occurrences > maxAnchorOcc=$maxAnchorOcc — " +
             "an all-stopword phrase; refusing the hot-anchored " +
             "probe"))).cast("boolean")))
      ).drop("__occ")
  }

  /** Proximity (sloppy-phrase) matching over a [[positionalPostings]]
    * table: `(queryId, docId, min_window)` — the documents containing
    * the query's terms IN ORDER within a window of at most
    * `n + slop` positions (Lucene's ordered sloppy-phrase shape), and
    * for each the MINIMAL such window (`n` = phrase length; a window
    * of exactly `n` is contiguous — `slop = 0` degenerates to
    * [[phraseMatches]] containment, spec-pinned). Docs with no
    * qualifying ordered tuple are absent.
    *
    * Algorithm, relationally: for every candidate END position `p`
    * (an occurrence of the LAST phrase term within `W - 1 = n + slop
    * - 1` positions after an anchor-term occurrence), pull the posting
    * rows in the window `[p-W+1, p]` (ONE `(docId, pos)` equi-join
    * over an exploded offset band — never an inequality join against
    * the index) and run the classic GREEDY-LATEST chain as a sorted
    * fold: scanning positions descending, match phrase offsets
    * `n-1, n-2, …, 0`, each at the largest unused position below its
    * successor. Greedy-latest maximizes the chain's start, so
    * `p - start + 1` is the exact minimal window ending at `p`; the
    * band restriction is lossless because any qualifying tuple (and
    * its greedy dominator) lies within `W` of its end. The global
    * `min` over ends is the true minimal window over ALL qualifying
    * tuples (q196 gates it against a DuckDB replay that enumerates
    * tuples from first principles).
    *
    * Scale shape: everything is anchored — candidate ends cost
    * `occ(rarest) × W` rows and the window pull `ends × W`, both
    * through `(docId, pos)` equi-joins (the [[phraseMatches]]
    * contract); the per-end fold is over ≤ `W × maxOffsets(word)`
    * collected elements. `maxAnchorOcc` guards the anchoring premise
    * as in [[phraseMatches]].
    */
  def proximityMatches(posts: DataFrame,
                       phrases: DataFrame, qidCol: String,
                       qtextCol: String, slop: Int,
                       maxAnchorOcc: Long = -1L): DataFrame = {
    require(slop >= 0, s"slop >= 0: $slop")
    val pterms = phraseTermsOf(phrases, qidCol, qtextCol)
    // per-query length and window cap W = n + slop
    val qn = pterms.groupBy("queryId").agg(count(lit(1)).as("__n"))
      .select(col("queryId"), col("__n"),
        (col("__n") + lit(slop.toLong)).as("__W"))
    val anchor = anchorOf(posts, pterms, maxAnchorOcc)
    // the phrase's LAST term — every qualifying tuple ends on one of
    // its occurrences
    val endTerm = pterms.join(qn, Seq("queryId"))
      .filter(col("__i") === col("__n") - lit(1L))
      .select(col("queryId"), col("word").as("__ew"))
    // candidate ends: anchor occurrences fanned W wide, kept where the
    // fanned position really hosts the last term (one (docId, pos)
    // equi-join; a tuple's end sits in [anchor, anchor + W - 1]).
    // Every query-derived side is anchored-/batch-sized by the
    // rarest-term premise — explicit broadcast sides (r20, the
    // phraseMatches verification rationale: the positional index
    // streams, never the other way; the planner inverted BOTH
    // (docId, pos) joins here at bench scale, serializing the probe
    // into two one-task stages of 2.9 s each)
    val ends = broadcast(
      posts.join(broadcast(anchor.select("queryId", "word")), Seq("word"))
        .join(broadcast(qn), Seq("queryId"))
        .select(col("queryId"), col("docId"),
          explode(sequence(lit(0L), col("__W") - lit(1L))).as("__d"),
          col("pos").as("__apos"))
        .select(col("queryId"), col("docId"),
          (col("__apos") + col("__d")).as("pos"))
        .distinct()
        .join(broadcast(endTerm), Seq("queryId")))
      .join(posts.withColumnRenamed("word", "__pw"), Seq("docId", "pos"))
      .filter(col("__pw") === col("__ew"))
      .select(col("queryId"), col("docId"), col("pos").as("__p"))
    // window pull: the posting rows in [p-W+1, p] that carry ANY
    // phrase word, tagged with every offset that word occupies
    val pull = broadcast(ends.join(broadcast(qn), Seq("queryId"))
      .select(col("queryId"), col("docId"), col("__p"),
        explode(sequence(lit(0L), col("__W") - lit(1L))).as("__d2"))
      .select(col("queryId"), col("docId"), col("__p"),
        (col("__p") - col("__d2")).as("pos"))
      .filter(col("pos") >= 0L))
      .join(posts.withColumnRenamed("word", "__pw"), Seq("docId", "pos"))
      .join(broadcast(pterms.select(col("queryId"), col("word").as("__pw"),
        col("__i"))), Seq("queryId", "__pw"))
      .select(col("queryId"), col("docId"), col("__p"), col("pos"),
        col("__i"))
    // greedy-latest chain as a fold over the window's rows, position
    // descending (offset descending within a position, so a
    // duplicate-word phrase matches its largest needed offset first):
    // state (j = next offset to match, e = position of the previous
    // match); matched iff j runs below 0, window = p - e_final + 1
    val folded = pull
      .groupBy(col("queryId"), col("docId"), col("__p"))
      .agg(sort_array(collect_list(struct(col("pos"), col("__i"))),
        asc = false).as("__xs"))
      .join(qn, Seq("queryId"))
      .select(col("queryId"), col("docId"), col("__p"),
        aggregate(col("__xs"),
          struct((col("__n") - lit(1L)).as("j"),
            (col("__p") + lit(1L)).as("e")),
          (acc, x) => when(
            x.getField("pos") < acc.getField("e") &&
              x.getField("__i") === acc.getField("j"),
            struct((acc.getField("j") - lit(1L)).as("j"),
              x.getField("pos").as("e"))).otherwise(acc)).as("__st"))
    folded
      .filter(col("__st").getField("j") === lit(-1L))
      .select(col("queryId"), col("docId"),
        (col("__p") - col("__st").getField("e") + lit(1L)).as("__win"))
      .groupBy(col("queryId"), col("docId"))
      .agg(min(col("__win")).as("min_window"))
  }

  /** Phrase-CONSTRAINED BM25 top-k — the `"exact phrase"` operator of
    * a retrieval stack in ONE plan: rank only the documents CONTAINING
    * the query's full normalized word sequence ([[phraseMatches]]
    * semantics), by their BM25 score for the query's terms
    * ([[bm25ScoresPrecomputed]] semantics). Returns
    * `(queryId, docId, score, rank)`, exactly
    * `bm25TopK(scores semi-joined on phrase containment, k)`
    * (bitwise; RetrievalSpec pins the equivalence, q195 gates the
    * composition against a DuckDB replay of both halves).
    *
    * Scale shape: candidates come from the rarest-term-anchored phrase
    * probe (result-sized), and scoring happens WITHIN candidates
    * through the `forward` layout — the WAND phase-1 trick: each
    * candidate doc's matched query terms fetch doc-wise, so the
    * word-keyed posting table is never scanned for the (usually hot)
    * phrase vocabulary. A phrase query's terms are near-guaranteed to
    * be its own phrase words — the full posting join the semi-join
    * formulation pays would touch exactly the hot lists the anchor
    * strategy exists to avoid. Cost: phrase probe + |candidates| ×
    * doc-length fetch. The two-layout ingest contract as everywhere
    * (word-bucketed `posts`/`tf`, docId-bucketed `forward`);
    * `maxAnchorOcc` passes through to the phrase probe.
    */
  def bm25TopKPhrase(tf: DataFrame, dfTab: DataFrame, stats: DataFrame,
                     posts: DataFrame,
                     queries: DataFrame, qidCol: String, qtextCol: String,
                     k: Int, k1: Double = 1.2, b: Double = 0.75,
                     forward: Option[DataFrame] = None,
                     maxAnchorOcc: Long = -1L): DataFrame = {
    require(k > 0, s"k > 0: $k")
    val cands = phraseMatches(posts, queries, qidCol, qtextCol,
      maxAnchorOcc).select("queryId", "docId")
    scoreWithinCandidates(forward.getOrElse(tf),
      bm25TermTable(unitQueryTerms(queries, qidCol, qtextCol), dfTab,
        stats), cands, k, k1, b)
  }

  /** CONJUNCTIVE (match-ALL-terms) BM25 top-k — the boolean-AND query
    * mode of a retrieval stack: rank only the documents containing
    * EVERY distinct query term, by their full BM25 score. Equals
    * `bm25TopK` over scores semi-joined on the all-terms candidate set
    * (the [[bm25TopKPhrase]] contract; q200 gates it). A query with a
    * corpus-absent term matches nothing — AND semantics, like a
    * phrase with an absent word.
    *
    * Scale shape: candidates fall out of ONE pass over the matched
    * postings (count distinct matched terms == |q|), then scores fetch
    * doc-wise through the `forward` layout — for multi-term queries
    * the candidate set is the posting INTERSECTION, typically far
    * smaller than any term's posting list, so the second phase is
    * result-sized. (The candidate pass could anchor on the rarest
    * term like WAND; it instead reuses the one posting join the
    * scorer needs anyway, keeping the operator a strict two-phase of
    * existing pieces.)
    */
  def bm25TopKConjunctive(tf: DataFrame, dfTab: DataFrame,
                          stats: DataFrame,
                          queries: DataFrame, qidCol: String,
                          qtextCol: String,
                          k: Int, k1: Double = 1.2, b: Double = 0.75,
                          forward: Option[DataFrame] = None): DataFrame = {
    require(k > 0, s"k > 0: $k")
    val enriched = bm25TermTable(unitQueryTerms(queries, qidCol, qtextCol),
      dfTab, stats)
    // |q| over ALL normalized distinct terms (not just corpus-present
    // ones): an absent term must fail the conjunction, so the count
    // comes from the tokenizer, before the term table's df join
    val qn = queryTerms(queries, qidCol, qtextCol)
      .groupBy("queryId").agg(count(lit(1)).as("__nq"))
    val cands = tf.join(enriched.select("queryId", "word"), Seq("word"))
      .groupBy(col("queryId"), col("docId"))
      .agg(countDistinct(col("word")).as("__m"))
      .join(qn, Seq("queryId"))
      .filter(col("__m") === col("__nq"))
      .select("queryId", "docId")
    // the SAME enriched table feeds both phases — the candidate pass
    // and the scoring fetch — so the query enrichment (and, when
    // df/stats are inline aggregates, the index-side passes beneath
    // it) builds once per probe
    scoreWithinCandidates(forward.getOrElse(tf), enriched, cands,
      k, k1, b)
  }

  /** Exact BM25 top-k restricted to a caller-supplied candidate set —
    * the shared second phase of [[bm25TopKPhrase]] and
    * [[bm25TopKConjunctive]]: each candidate doc's matched query terms
    * fetch doc-wise through the forward layout, so the word-keyed
    * posting table is never rescanned for the scoring pass.
    */
  private def scoreWithinCandidates(fwd: DataFrame, enriched: DataFrame,
                                    cands: DataFrame, k: Int,
                                    k1: Double, b: Double): DataFrame = {
    val contrib = cands.join(fwd, Seq("docId"))
      .join(enriched, Seq("queryId", "word"))
      .select(bm25ContribCols(k1, b): _*)
    bm25TopK(scoreFold(contrib), k)
  }

  /** Best-window SNIPPET extraction over a [[positionalPostings]]
    * table — the passage-selection primitive of a RAG stack (retrieve
    * → rank → snippet): for each (query, doc) sharing at least one
    * term, the fixed-width token window covering the MOST DISTINCT
    * query terms — `(queryId, docId, window_start, n_matched_terms)`,
    * ties broken leftmost (smallest start). `window_start` indexes the
    * same 0-based normalized-token stream as the positional layout, so
    * the caller slices the passage with
    * `slice(normalizedWords(text), start + 1, width)`.
    *
    * An optimal window can always be slid right until it BEGINS on a
    * query-term occurrence without losing terms, so candidate starts
    * are exactly the occurrence positions: one word-keyed join
    * (query-vocabulary-sized — the BM25 posting-join shape), then a
    * per-(query, doc) RANGE-frame window over `pos` counting the
    * distinct words within `width` — no self-join, no band explode;
    * the frame contents are a set, so the count is
    * partitioning-invariant and the oracle replays it as a banded
    * first-principles count. `pairs` restricts to given
    * `(queryId, docId)` rows BEFORE the frame — the production form:
    * snippet only the top-k pairs the ranker kept, so the window
    * state is result-sized, not match-sized. `pairs` is consumed
    * TWICE (the docId set and the pair semi-join) — pass a
    * materialized result-sized table (a `localCheckpoint()`ed top-k,
    * as q198 does), never a lazy scoring chain, or the whole chain
    * re-runs per consumer (the measured linearFuse bug class).
    */
  def snippetWindows(posts: DataFrame,
                     queries: DataFrame, qidCol: String, qtextCol: String,
                     width: Int,
                     pairs: Option[DataFrame] = None): DataFrame = {
    require(width >= 1, s"width >= 1: $width")
    val qt = queryTerms(queries, qidCol, qtextCol)
    // with a pairs restriction, the docId semi-join goes BELOW the
    // word join: the kept docs are result-sized (queries × k), so the
    // id set broadcasts and the hot query terms' full occurrence
    // lists never materialize — only the kept docs' positions flow
    // into the frame (the forward-fetch shape on the positional side)
    // query-/result-sized sides broadcast by contract (r20, the
    // postingContribs rationale) — the positional index streams
    val occ = pairs match {
      case Some(p) =>
        val pp = p.select(col("queryId"), col("docId"))
        posts
          .join(broadcast(pp.select("docId").distinct()), Seq("docId"),
            "left_semi")
          .join(broadcast(qt), Seq("word"))
          .join(broadcast(pp), Seq("queryId", "docId"), "left_semi")
          .select(col("queryId"), col("docId"), col("pos"), col("word"))
      case None =>
        posts.join(broadcast(qt), Seq("word"))
          .select(col("queryId"), col("docId"), col("pos"), col("word"))
    }
    val frame = Window.partitionBy(col("queryId"), col("docId"))
      .orderBy(col("pos")).rangeBetween(0L, (width - 1).toLong)
    val best = Window.partitionBy(col("queryId"), col("docId"))
      .orderBy(col("__nt").desc, col("pos").asc)
    occ
      .withColumn("__nt",
        size(array_distinct(collect_list(col("word")).over(frame)))
          .cast("long"))
      .withColumn("__r", row_number().over(best))
      .filter(col("__r") === 1)
      .select(col("queryId"), col("docId"),
        col("pos").as("window_start"),
        col("__nt").as("n_matched_terms"))
  }

  /** Materialize snippet TEXT for a [[snippetWindows]] table — the
    * documented `slice(normalizedWords(text), start + 1, width)`
    * fetch as an operator: `(queryId, docId, window_start,
    * n_matched_terms, snippet)` with `snippet` the window's
    * normalized words re-joined by single spaces (the tokenizer's
    * canonical form — byte-fidelity to the RAW text would need
    * original character offsets the positional layout deliberately
    * does not carry). Windows shorter than `width` at a document's
    * tail just end early (slice past the end truncates in both
    * engines; q230 gates the composition with the slice replayed in
    * SQL).
    *
    * Scale shape: `windows` is a result-sized table (the snippet
    * contract — top-k pairs' best windows), so it BROADCASTS against
    * one corpus scan and the tokenizer runs only for emitted rows
    * (the join filters before the projection) — no shuffle, no
    * corpus-sized exchange anywhere.
    */
  def snippetTexts(docs: DataFrame, idCol: String, textCol: String,
                   windows: DataFrame, width: Int): DataFrame = {
    require(width >= 1, s"width >= 1: $width")
    val w = windows.select(col("queryId"), col("docId"),
      col("window_start"), col("n_matched_terms"))
    docs.select(col(idCol).as("docId"), col(textCol).as("__text"))
      .join(broadcast(w), Seq("docId"))
      .select(col("queryId"), col("docId"), col("window_start"),
        col("n_matched_terms"),
        concat_ws(" ", slice(TextFunctions.normalizedWords(col("__text")),
          (col("window_start") + lit(1L)).cast("int"), lit(width)))
          .as("snippet"))
  }

  /** MaxP passage-evidence aggregation (Callan SIGIR'94 passage
    * evidence; the Dai & Callan'19 "MaxP" convention): a document's
    * score for a query is the MAX of its passages' scores. Input:
    * any `(queryId, docId, score)` table whose docId is a PASSAGE id
    * (score passages as pseudo-docs through the ordinary machinery —
    * [[Chunking.tokenPassages]] segments, [[termFrequencies]] indexes
    * the passages, any scorer here scores them), plus the
    * `(passageId, docId)` membership table. Output:
    * `(queryId, docId, score)`, [[bm25TopK]]-rankable. `max` is
    * order-independent over exact doubles, so the aggregation replays
    * bitwise with no sorted fold needed (q203 gates the whole
    * segmentation → passage-scoring → MaxP → rank composition).
    *
    * Scale shape: result-/match-sized throughout — the membership
    * join keys on the passage id the scores already carry, and the
    * max() is map-side combined. Passage-level dl/df/avgdl come from
    * the PASSAGE index (the passage collection IS the corpus) — the
    * standard passage-retrieval statistics convention.
    */
  def maxPassageScores(passageScores: DataFrame,
                       passageDocs: DataFrame): DataFrame =
    passageScores
      .select(col("queryId"), col("docId").as("passageId"), col("score"))
      .join(passageDocs, Seq("passageId"))
      .groupBy(col("queryId"), col("docId"))
      .agg(max(col("score")).as("score"))

  /** Top-k documents per query from a [[bm25Scores]] table: score
    * descending, docId ascending ties (exact-duplicate docs produce
    * bitwise-equal scores, so the tie-break is deterministic) — the
    * AnnQueries ranking convention: rank on the FULL-precision value,
    * round only what is emitted. (An earlier form ranked on the 6-dp
    * rounded score "for portability"; that moved the one operation
    * whose decimal-string vs float-multiply implementations can
    * disagree across engines INTO the integer rank key — strictly
    * worse than ranking the raw doubles the oracle already replays.)
    */
  def bm25TopK(scores: DataFrame, k: Int): DataFrame = {
    require(k > 0, s"k > 0: $k")
    val w = Window.partitionBy(col("queryId"))
      .orderBy(col("score").desc, col("docId").asc)
    scores.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** SCORE-EXACT pruned top-k: WAND-style per-term upper-bound skipping
    * (Broder et al. CIKM'03), re-expressed as a batch two-phase plan.
    * Returns exactly `bm25TopK(bm25ScoresIndexed(tf, queries, ...), k)`
    * — same rows, same scores (bitwise; q182 gates it against the
    * unpruned DuckDB replay) — while the postings
    * of terms with df above `hotDf` are never scanned through the
    * word index. Where `maxDocFrequency` CHANGES scores by dropping
    * hot terms, this prunes only work, never results.
    *
    * The two phases:
    *   1. CANDIDATES — docs matching ≥ 1 RARE query term (df ≤ hotDf)
    *     surface through the rare posting lists; their hot-term
    *     contributions are then fetched PER CANDIDATE DOC through the
    *     `forward` layout (the doc-keyed forward index — pass the tf
    *     table bucketed by `docId`; defaults to `tf` itself), so each
    *     candidate is scored over ALL its matched query terms and its
    *     score is the exact full score. Matched-posting volume drops
    *     from Σ df(hot terms) to |candidates| × doc length.
    *   2. SAFETY — any doc OUTSIDE the candidate set matches only hot
    *     terms, so its score is < `ub(q) = Σ_hot idf·(k1+1)` (the tf
    *     saturation `tf(k1+1)/(tf+K) < k1+1` for K > 0; a 1e-9
    *     relative margin absorbs double rounding, conservative for
    *     queries up to ~10⁶ terms). A query whose kth candidate score
    *     θ exceeds ub is SAFE: no pruned doc can enter its top k (ties
    *     included — a tying doc would need score ≥ θ > its bound).
    *     Queries with < k candidates or ub ≥ θ FALL BACK to the
    *     unpruned scores restricted to just those queries (assembled
    *     as [[wandTopK]] states), so the result is exact for every
    *     query, and the bound only decides how much work was saved.
    *     Hot-only query batches degrade to exactly the unpruned plan,
    *     never to a wrong answer.
    *
    * At ingest both phases are exchange-free on the index side with the
    * two persisted layouts (word-bucketed postings for the rare probe,
    * docId-bucketed forward table for the candidate fetch) — the same
    * two-layout contract as [[Jaccard.thresholdMatchesPosted]]. `tf` is
    * referenced up to 5× (df, scalars, rare probe, forward default,
    * fallback): persisted state at ingest, materialize-first otherwise.
    */
  def bm25TopKWand(tf: DataFrame,
                   queries: DataFrame, qidCol: String, qtextCol: String,
                   k: Int, hotDf: Long,
                   k1: Double = 1.2, b: Double = 0.75,
                   forward: Option[DataFrame] = None,
                   dfStats: Option[(DataFrame, DataFrame)] = None,
                   impact: Option[DataFrame] = None)
      : DataFrame =
    bm25TopKWandWeighted(tf, unitQueryTerms(queries, qidCol, qtextCol), k,
      hotDf, k1, b, forward, dfStats, impact)

  /** [[bm25TopKWand]] under a WEIGHTED query-term table
    * `(queryId, word, weight)` (an [[rm3ExpandedTerms]] output) —
    * SCORE-EXACT pruned top-k for the RM3 second pass and any other
    * weighted rescoring: returns exactly
    * `bm25TopK(bm25ScoresWeighted(tf, dfTab, stats, termWeights), k)`
    * (bitwise; q191 gates the full RM3 composition against the
    * unpruned DuckDB replay). The unit-weight
    * bound generalizes: a doc outside the rare-candidate set matches
    * only hot terms, so its score is
    * `< ub(q) = Σ_hot weight·idf·(k1+1)` — the tf saturation argument
    * is per-term and weights SCALE each term's ceiling. Correctness of
    * the bound (and so of the pruning) requires STRICTLY POSITIVE
    * weights, which [[rm3ExpandedTerms]] guarantees by construction; a
    * caller feeding negative weights voids the safety proof (zero
    * weights are merely dead rows). Same two-phase plan, same
    * two-layout ingest contract, same exact fallback routing as the
    * unit-weight operator — they share [[bm25WandScorer]], so they cannot
    * drift.
    */
  def bm25TopKWandWeighted(tf: DataFrame, termWeights: DataFrame,
                           k: Int, hotDf: Long,
                           k1: Double = 1.2, b: Double = 0.75,
                           forward: Option[DataFrame] = None,
                           dfStats: Option[(DataFrame, DataFrame)] = None,
                           impact: Option[DataFrame] = None)
      : DataFrame = {
    val (dfTab, stats) = resolvedDfStats(tf, dfStats)
    wandTopK(bm25WandScorer(tf, forward.getOrElse(tf), k1, b,
      impact), bm25TermTable(termWeights, dfTab, stats), k,
      hotDf)
  }

  /** The WAND decision table itself (the q173 convention: gate the
    * PRUNING MATH, not just the final answer): per query —
    * `(queryId, n_rare_terms, n_hot_terms, n_candidates, ub, theta,
    * safe)`. `ub` is the hot-only score bound (null without hot
    * terms), `theta` the kth candidate score (null with < k
    * candidates), `safe = !(has hot terms && (theta missing ||
    * ub >= theta))` — exactly the predicate that routes a query to
    * the pruned path vs the fallback in [[bm25TopKWand]] (shared
    * internals, so the readout cannot drift from the operator). A
    * bound-formula or candidate-set drift fails this gate even when
    * the final top-k happens to survive it.
    */
  def bm25WandStats(tf: DataFrame,
                    queries: DataFrame, qidCol: String, qtextCol: String,
                    k: Int, hotDf: Long,
                    k1: Double = 1.2, b: Double = 0.75,
                    forward: Option[DataFrame] = None,
                    dfStats: Option[(DataFrame, DataFrame)] = None,
                    impact: Option[DataFrame] = None)
      : DataFrame =
    bm25WandWeightedStats(tf, unitQueryTerms(queries, qidCol, qtextCol), k,
      hotDf, k1, b, forward, dfStats, impact)

  /** [[bm25WandStats]] for the WEIGHTED operator — the q192 gate's
    * readout: identical columns, identical routing predicate, shared
    * [[bm25WandScorer]] with [[bm25TopKWandWeighted]] so the table
    * cannot drift from the operator. `ub` here is the weighted bound
    * `Σ_hot weight·idf·(k1+1)·(1+1e-9)` (word-sorted product fold).
    */
  def bm25WandWeightedStats(tf: DataFrame, termWeights: DataFrame,
                            k: Int, hotDf: Long,
                            k1: Double = 1.2, b: Double = 0.75,
                            forward: Option[DataFrame] = None,
                            dfStats: Option[(DataFrame, DataFrame)] = None,
                            impact: Option[DataFrame] = None)
      : DataFrame = {
    val (dfTab, stats) = resolvedDfStats(tf, dfStats)
    wandStats(bm25WandScorer(tf, forward.getOrElse(tf), k1, b,
      impact), bm25TermTable(termWeights, dfTab, stats), k,
      hotDf)
  }

  /** What one scorer supplies to the shared WAND plan ([[wandTopK]],
    * [[wandStats]]); everything else — the enriched checkpoint, the
    * rare/hot split, θ, the routing set and the fallback completion —
    * is written once there. Instances: [[bm25WandScorer]] (unit,
    * weighted, MaxP and, through its probe filter, the federated
    * probe), [[qlWandScorer]], [[bm25fWandScorer]]. Contributions are
    * `(queryId, docId, word, __c, …)` rows, the input of [[fold]].
    */
  private[operators] trait WandScorer {
    /** Phase 1 over the enriched term table and its rare/hot split:
      * `(candPairs, contributions)` — the (queryId, docId) pairs
      * matching ≥ 1 rare term, and EVERY matched contribution of
      * those pairs (rare and hot), so their folds are full scores.
      */
    def candidates(enriched: DataFrame, rare: DataFrame,
                   hot: DataFrame): (DataFrame, DataFrame)
    /** The contributions of every doc matching one of `hotTerms` (a
      * subset of the hot rows) — the fallback complement's input.
      */
    def hotContribs(hotTerms: DataFrame): DataFrame
    /** Contributions → `(queryId, docId, score)`, the unpruned
      * scorer's own collapse ([[scoreFold]]'s `shuffleFirst`).
      */
    def fold(contrib: DataFrame, shuffleFirst: Boolean): DataFrame
    /** Per query with hot terms: `(queryId, __ub)`, an upper bound on
      * the score of any doc matching only hot terms.
      */
    def hotUb(hot: DataFrame): DataFrame
  }

  /** THE routing predicate of the WAND family over a per-query
    * `(__ub, __theta)` row: the query is UNSAFE — it completes
    * through the fallback — when it has < k candidates (θ missing) or
    * a hot-only doc could reach θ (`ub ≥ θ`). A safe query has
    * `ub < θ` strictly, so no pruned doc can enter its top k, ties
    * included (a tying doc would need score ≥ θ > its bound).
    */
  private val wandUnsafe: Column =
    col("__theta").isNull || col("__ub") >= col("__theta")

  /** The stages [[wandTopK]] and [[wandStats]] share. */
  private final case class WandPlan(enriched: DataFrame, hot: DataFrame,
                                    candPairs: DataFrame,
                                    candScores: DataFrame,
                                    topkCand: DataFrame, theta: DataFrame,
                                    hotUb: DataFrame)

  /** The WAND plan up to θ. `eagerCandidates` materializes the
    * candidate scores when the fallback completion will read them a
    * second time.
    */
  private def wandPlan(s: WandScorer, enrichedLazy: DataFrame,
                       k: Int, hotDf: Long, docMap: Option[DataFrame],
                       eagerCandidates: Boolean): WandPlan = {
    require(k > 0, s"k > 0: $k")
    require(hotDf >= 0, s"hotDf >= 0: $hotDf")
    // query-batch-sized, consumed 3× (rare, hot, bound) — eager
    val enriched = enrichedLazy.localCheckpoint()
    val rare = enriched.filter(col("df") <= hotDf)
    val hot = enriched.filter(col("df") > hotDf)
    val (candPairs, contrib) = s.candidates(enriched, rare, hot)
    // candidate-sized — see scoreFold
    val folded = s.fold(contrib, shuffleFirst = false)
    val candScores = if (eagerCandidates) folded.localCheckpoint() else folded
    // MAXP MODE (`docMap` = a (passageId, docId) membership table —
    // [[graft.operators.Passages]]): the index rows are PASSAGES, the
    // ranked unit is the DOCUMENT, score = max passage score. The
    // candidate passage scores above are exact full scores as before;
    // mapping them through [[maxPassageScores]] BEFORE the top-k
    // window makes θ the kth DOC-level max — which is what the safety
    // proof needs here: θ at the PASSAGE level over-states the doc
    // cutoff (doc maxes are a per-doc best subset of passage scores),
    // and routing on it could call a query safe while a pruned
    // passage beats the true doc θ. With θ at the doc level the
    // argument closes: every pruned (hot-only) passage scores
    // < ub < θ, so it can neither lift a top-k doc's max (that max is
    // already ≥ θ) nor lift an outside doc to ≥ θ — ties included,
    // since the exclusion is strict.
    val ranked = docMap.fold(candScores)(maxPassageScores(candScores, _))
    val w = Window.partitionBy(col("queryId"))
      .orderBy(col("score").desc, col("docId").asc)
    // result-sized (≤ queries × k rows), consumed 2× (θ + safe output)
    val topkCand = ranked.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k).localCheckpoint()
    val theta = topkCand.filter(col("rank") === k)
      .select(col("queryId"), col("score").as("__theta"))
    WandPlan(enriched, hot, candPairs, candScores, topkCand, theta,
      s.hotUb(hot))
  }

  /** The score-exact pruned top-k of every WAND operator: the
    * [[wandPlan]] candidates and θ, the routing set ([[wandUnsafe]]),
    * the safe queries' candidate top-k, and the unsafe queries'
    * FALLBACK COMPLETION, all as `(queryId, docId, score, rank)`.
    */
  private[operators] def wandTopK(scorer: WandScorer,
                                  enrichedLazy: DataFrame,
                                  k: Int, hotDf: Long,
                                  docMap: Option[DataFrame] = None)
      : DataFrame = {
    val w = wandPlan(scorer, enrichedLazy, k, hotDf, docMap,
      eagerCandidates = true)
    // Checkpointed: consumed by the safe anti-join and the fallback
    // semi-joins, and the id-width materialization measured FASTER
    // than recomputing the two query-width stages per consumer (5.3
    // vs 6.3 s on the q182 probe — the A/B is in BASELINE round 15)
    val unsafeQ = w.hotUb.join(w.theta, Seq("queryId"), "left_outer")
      .filter(wandUnsafe).select("queryId").localCheckpoint()
    // FALLBACK COMPLETION (r20): the exact scores of the unsafe
    // queries from the phase-1 candidate scores plus the hot-only
    // complement, never a from-scratch rescoring. Why this is bitwise
    // the unpruned scorer restricted to unsafe queries: a matched
    // (query, doc) pair either has ≥ 1 rare matched term — then it IS
    // a candidate and `candScores` already folded ALL its matched
    // contributions — or it matches ONLY hot terms, and its full
    // matched-term set is exactly its hot matches, which the
    // complement folds through the same contribution trees and the
    // same fold. The anti-join removes candidates from the complement,
    // so the two halves partition the matched pairs: the union is the
    // unpruned score table for unsafe queries, row for row and bit for
    // bit. This holds for every scorer: the federated probe filter
    // restricts both halves to the selected (query, shard) pairs;
    // BM25F folds full pseudo-tf trees per (doc, word) on both sides;
    // in MaxP mode both halves are PASSAGE scores and one doc-level
    // max covers their union. The completion scans only the hot
    // postings of unsafe queries — the rare postings and the whole
    // candidate fold come from phase 1.
    val complement = scorer
      .hotContribs(w.hot.join(unsafeQ, Seq("queryId"), "left_semi"))
      .join(w.candPairs, Seq("queryId", "docId"), "left_anti")
    val fbScores = w.candScores.join(unsafeQ, Seq("queryId"), "left_semi")
      .unionByName(scorer.fold(complement, shuffleFirst = true))
    val fallback = bm25TopK(
      docMap.fold(fbScores)(maxPassageScores(fbScores, _)), k)
    w.topkCand.join(unsafeQ, Seq("queryId"), "left_anti")
      .select("queryId", "docId", "score", "rank")
      .unionByName(fallback.select("queryId", "docId", "score", "rank"))
  }

  /** The WAND decision table from the [[wandTopK]] stages: per query
    * `(queryId, n_rare_terms, n_hot_terms, n_candidates, ub, theta,
    * safe)`, `safe` false exactly for the queries [[wandTopK]] routes
    * to the fallback. The routing set itself is never built.
    */
  private[operators] def wandStats(scorer: WandScorer,
                                   enrichedLazy: DataFrame,
                                   k: Int, hotDf: Long,
                                   docMap: Option[DataFrame] = None)
      : DataFrame = {
    val w = wandPlan(scorer, enrichedLazy, k, hotDf, docMap,
      eagerCandidates = false)
    val perQ = w.enriched.groupBy("queryId").agg(
      sum(when(col("df") <= hotDf, 1L).otherwise(0L)).as("n_rare_terms"),
      sum(when(col("df") > hotDf, 1L).otherwise(0L)).as("n_hot_terms"))
    val nCand = w.candPairs.groupBy("queryId")
      .agg(count(lit(1)).as("n_candidates"))
    perQ
      .join(nCand, Seq("queryId"), "left_outer")
      .join(w.hotUb, Seq("queryId"), "left_outer")
      .join(w.theta, Seq("queryId"), "left_outer")
      .select(col("queryId"),
        col("n_rare_terms"), col("n_hot_terms"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        col("__ub").as("ub"), col("__theta").as("theta"),
        (!(col("n_hot_terms") > 0 && wandUnsafe)).as("safe"))
  }

  /** The persisted (dfTable, corpusStats) pair when the caller has it
    * (the compactTermIndex layout): without it, BOTH aggregates run
    * from the posting table per consumer — the enrichment and the
    * fallback each read them, so the inline default pays ~4 extra
    * full-index scans (measured ~2 s of the probe wall at 50k×100).
    */
  private def resolvedDfStats(tf: DataFrame,
                              dfStats: Option[(DataFrame, DataFrame)])
      : (DataFrame, DataFrame) =
    dfStats.getOrElse((dfTable(tf), corpusStats(tf)))

  /** The posting-probe + forward-fetch [[WandScorer]] form shared by
    * BM25, QL and the federated probe: candidates surface through the
    * RARE posting lists, their hot contributions are fetched doc-wise
    * through the `forward` layout (docId-bucketed at ingest), and the
    * fallback complement probes the hot posting lists like the rare
    * ones. `probeFilter` lands on every posting probe before the
    * projection (the federated (queryId, shard) semi-join);
    * `contribCols` projects a posting ⋈ query-term-table row to a
    * contribution row.
    */
  private abstract class PostingWandScorer(postings: DataFrame,
                                           forward: DataFrame,
                                           contribCols: Seq[Column],
                                           probeFilter: DataFrame => DataFrame)
      extends WandScorer {
    private def probe(terms: DataFrame): DataFrame =
      postingContribs(postings, terms, contribCols, probeFilter)
    def candidates(enriched: DataFrame, rare: DataFrame,
                   hot: DataFrame): (DataFrame, DataFrame) = {
      val rareContrib = probe(rare)
      val candPairs = rareContrib.select("queryId", "docId").distinct()
      // the hot term table is query-batch-sized by contract — the
      // explicit broadcast side (the postingContribs rationale)
      val hotContrib = candPairs.join(forward, Seq("docId"))
        .join(broadcast(hot), Seq("queryId", "word"))
        .select(contribCols: _*)
      (candPairs, rareContrib.unionByName(hotContrib))
    }
    def hotContribs(hotTerms: DataFrame): DataFrame = probe(hotTerms)
  }

  /** The BM25 [[WandScorer]] over a [[bm25TermTable]] (unit queries
    * at weight 1.0). Contributions are [[bm25ContribCols]], folded by
    * [[scoreFold]].
    *
    * The bound `Σ_hot weight·idf·(k1+1)` (derived at [[bm25TopKWand]])
    * holds only for `k1 ≥ 0` and `b ∈ [0,1]` (K > 0 for every dl) and
    * strictly positive weights. The fold is word-sorted (the repo's
    * bit-reproducibility convention: the bound drives routing and
    * q187/q192 gate it, so a partitioning-dependent plain sum would
    * make the decision table non-reproducible at ulp-adjacent
    * boundaries), with the per-term product INSIDE the struct so the
    * oracle replays `list(weight * idf ORDER BY word)` verbatim.
    *
    * With an [[impactStats]] table the per-term ceiling TIGHTENS from
    * the saturation limit to the term's corpus-extremal contribution
    * `weight·idf·f(max_tf, min_dl)` (the SAME [[contribExpr]] tree at
    * the extremes — monotone in tf and in −dl, so it dominates every
    * real posting). Tighter ub → more queries route safe → fewer
    * fallbacks (q205 gates the tightened table, q204 the unchanged
    * top-k through it). A hot word MISSING from the metadata falls
    * back to its saturation ceiling in-place, and a table left stale
    * by DELETIONS still upper-bounds the surviving postings (subset)
    * — both degrade pruning, never correctness. The one staleness that
    * is NOT safe is the append direction: tf grown through
    * [[compactTermIndex]] without the matching [[compactImpactStats]]
    * merge leaves (max_tf, min_dl) UNDER bounds for words already
    * present, and an under-bounded ub can route a query safe while a
    * pruned doc beats θ. Appends must go through
    * [[compactImpactStats]] (the StreamingSpec ingest loop).
    */
  private[operators] def bm25WandScorer(postings: DataFrame,
                                        forward: DataFrame,
                                        k1: Double, b: Double,
                                        impact: Option[DataFrame],
                                        probeFilter: DataFrame => DataFrame
                                          = identity): WandScorer =
    new PostingWandScorer(postings, forward, bm25ContribCols(k1, b),
        probeFilter) {
      def fold(contrib: DataFrame, shuffleFirst: Boolean): DataFrame =
        scoreFold(contrib, shuffleFirst)
      def hotUb(hot: DataFrame): DataFrame = impact match {
        case None =>
          hot.groupBy("queryId")
            .agg((OrderedFold.sum(col("weight") * col("idf"), col("word")) *
              lit((k1 + 1.0) * (1.0 + 1e-9))).as("__ub"))
        case Some(imp) =>
          hot
            .join(imp.select(col("word"), col("max_tf").as("tf"),
              col("min_dl").as("dl")), Seq("word"), "left_outer")
            .select(col("queryId"), col("word"),
              when(col("tf").isNull,
                col("weight") * col("idf") * lit(k1 + 1.0))
                .otherwise(col("weight") * contribExpr(k1, b)).as("__wc"))
            .groupBy("queryId")
            .agg((OrderedFold.sum(col("__wc"), col("word")) *
              lit(1.0 + 1e-9)).as("__ub"))
      }
    }

  /** SCORE-EXACT pruned top-k for the QUERY-LIKELIHOOD Dirichlet
    * scorer — [[bm25TopKWand]]'s analog for the second classical
    * ranker, closing the asymmetry where BM25 had WAND/impact pruning
    * and [[qlDirichletScores]] always ran unpruned. Returns exactly
    * `bm25TopK(qlDirichletScores(tf, cf, stats, queries, ...), k)` —
    * same rows, same scores (bitwise; q223 gates it against the
    * unpruned DuckDB replay) — while hot-term
    * (df > `hotDf`) posting lists are never scanned through the word
    * index for safe queries.
    *
    * Same two-phase plan as BM25 WAND: rare-term postings surface
    * candidates, the forward layout fetches their hot contributions
    * (so candidate scores are the exact full scores, normalizer
    * included), and a per-query upper bound on any hot-only doc
    * routes each query safe vs exact-fallback. The QL bound has two
    * parts, both derivable from the SAME [[impactStats]] metadata the
    * BM25 family consumes:
    *
    *   - matching-term mass: each hot term's contribution
    *     `ln(1 + tf·|C|/(μ·cf))` is increasing in tf, so
    *     `ln(1 + max_tf·|C|/(μ·cf))` dominates every posting — and
    *     without metadata `tf ≤ cf` gives the corpus-free ceiling
    *     `ln(1 + |C|/μ)` (a hot word missing from a partial table
    *     falls back to it in-place);
    *   - the length normalizer `|q|·ln(μ/(dl + μ))` is DECREASING in
    *     dl and a hot-only doc contains at least one hot term, so
    *     `dl ≥ min over the query's hot terms of min_dl` bounds it
    *     (without metadata, `dl ≥ 1`).
    *
    * Because QL scores mix a positive matching mass with a negative
    * normalizer, the rounding margin is SIGN-AWARE: the positive fold
    * inflates by (1+1e-9) and the negative normalizer shrinks by
    * (1−1e-9) — both move the bound up, so ulp-level association
    * drift can never flip a safe routing into a dropped true top-k
    * row (a blanket ×(1+1e-9) would move a negative bound the WRONG
    * way). Deletion-stale metadata stays a valid upper bound
    * (surviving postings are a subset and min-dl can only grow);
    * append-stale metadata is invalid — the [[impactStats]]
    * lifecycle contract, identical to the BM25 family.
    *
    * Queries with < k candidates or a reachable bound FALL BACK to
    * the unpruned [[qlDirichletScores]] scores restricted to just
    * those queries ([[wandTopK]]'s completion); hot-only query
    * batches degrade to exactly the unpruned plan, never a wrong
    * answer. `tf` is referenced up to 6× (df, cf, scalars, rare
    * probe, forward default, fallback): persisted state at ingest
    * ([[compactTermIndex]]'s triple + [[cfTable]] + [[impactStats]]),
    * materialize-first otherwise.
    */
  def qlTopKWand(tf: DataFrame,
                 queries: DataFrame, qidCol: String, qtextCol: String,
                 k: Int, hotDf: Long,
                 mu: Double = 2000.0,
                 forward: Option[DataFrame] = None,
                 dfStats: Option[(DataFrame, DataFrame)] = None,
                 cf: Option[DataFrame] = None,
                 impact: Option[DataFrame] = None): DataFrame =
    qlTopKWandWeighted(tf, unitQueryTerms(queries, qidCol, qtextCol), k,
      hotDf, mu, forward, dfStats, cf, impact)

  /** [[qlTopKWand]] under a WEIGHTED query-term table
    * `(queryId, word, weight)` (an [[rm3ExpandedTermsQl]] output) —
    * SCORE-EXACT pruned top-k for the LM second pass, completing the
    * scorer symmetry ([[bm25TopKWandWeighted]] is the BM25 twin):
    * returns exactly `bm25TopK(qlScoresWeighted(tf, cf, stats,
    * termWeights), k)` (bitwise; q234 gates the full LM-RM3
    * composition against q233's unpruned replay).
    * The weighted QL bound scales each hot term's ceiling by its
    * weight and the normalizer bound by the weighted query MASS
    * (`Σ_present weight` replaces `|q|` — a per-query constant on
    * both the bound and every real score, so the dl-floor argument
    * is unchanged); correctness requires STRICTLY POSITIVE weights,
    * which [[rm3ExpandedTermsQl]] guarantees by construction. Same
    * two-phase plan, same sign-aware margins, same exact fallback
    * routing — shared [[qlWandScorer]], so the unit and weighted
    * operators cannot drift.
    */
  def qlTopKWandWeighted(tf: DataFrame, termWeights: DataFrame,
                         k: Int, hotDf: Long,
                         mu: Double = 2000.0,
                         forward: Option[DataFrame] = None,
                         dfStats: Option[(DataFrame, DataFrame)] = None,
                         cf: Option[DataFrame] = None,
                         impact: Option[DataFrame] = None): DataFrame =
    wandTopK(qlWandScorer(tf, forward.getOrElse(tf), mu, impact),
      qlWandTerms(tf, termWeights, dfStats, cf), k, hotDf)

  /** ROUTING-AWARE weighted QL top-k — the production default for the
    * LM-RM3 second pass: serve through [[qlTopKWandWeighted]] when
    * the corpus is large enough for pruning to pay, through the
    * unpruned [[qlScoresWeighted]] pipeline otherwise. Both branches
    * are score-exact (the WAND branch bitwise equals the unpruned
    * one — q234 stays green on either), so the routing is pure
    * ECONOMICS: WAND's two-phase plan costs a near-constant extra
    * stage budget (enrichment checkpoint, rare/hot splits, the
    * forward fetch, θ, the fallback union) and wins by skipping hot
    * posting volume — which scales with the corpus, while the
    * overhead does not. Measured at the r18 shapes: 50k-doc Zipf
    * corpus, WAND wins (18.7 vs 22.8 s ScaleBench); 500-doc documents
    * fixture, WAND loses (15.9 vs 14.3 s, BENCH_r17 — the q234
    * regression this operator closes). The crossover sits well
    * between; `minWandDocs` defaults to 20k (BASELINE.md round-18
    * records the decision).
    *
    * The route is [[routedHotDf]] over the persisted `stats` table.
    * The unpruned branch never evaluates `impact` (plans are lazy),
    * so callers pass the metadata unconditionally.
    */
  def qlTopKWandWeightedRouted(tf: DataFrame, termWeights: DataFrame,
                               k: Int,
                               hotDf: Option[Long] = None,
                               minWandDocs: Long = 20000L,
                               mu: Double = 2000.0,
                               forward: Option[DataFrame] = None,
                               dfStats: Option[(DataFrame, DataFrame)] = None,
                               cf: Option[DataFrame] = None,
                               impact: Option[DataFrame] = None,
                               firstPass: Option[FirstPass] = None)
      : DataFrame = {
    val (dfTab, stats) = resolvedDfStats(tf, dfStats)
    val cfTab = cf.getOrElse(cfTable(tf))
    routedHotDf(stats, minWandDocs, hotDf) match {
      case None =>
        // r20: an RM3 caller holding the materialized first pass
        // ([[FirstPass]]) lets the unpruned branch reuse its original-
        // term contributions — bitwise the same scores, the new
        // expansion words pay the only posting join
        bm25TopK(firstPass match {
          case Some(fp) =>
            qlScoresWeightedReusing(tf, cfTab, stats, termWeights, fp,
              mu)
          case None =>
            qlScoresWeighted(tf, cfTab, stats, termWeights, mu)
        }, k)
      case Some(hd) =>
        qlTopKWandWeighted(tf, termWeights, k, hd, mu, forward,
          Some((dfTab, stats)), Some(cfTab), impact)
    }
  }

  /** The corpus-size route of the WAND family: WAND's two-phase plan
    * costs a near-constant extra stage budget and wins by skipping hot
    * posting volume, which grows with the corpus, so it pays only from
    * `minWandDocs` documents (or passages) on. Returns the `hotDf` to
    * prune with — `hotDf`, else the `|D|/10` convention — when |D|
    * reaches `minWandDocs`, and None when the unpruned plan should
    * serve. |D| is ONE `collect` of the persisted one-row `stats`
    * layout, never a corpus pass.
    */
  private[operators] def routedHotDf(stats: DataFrame, minWandDocs: Long,
                                     hotDf: Option[Long]): Option[Long] = {
    val nDocs = stats.select(col("n_docs").cast("long"))
      .collect()(0).getLong(0)
    if (nDocs < minWandDocs) None else Some(hotDf.getOrElse(nDocs / 10))
  }

  /** The QL WAND decision table (the q187/q205 convention: gate the
    * PRUNING MATH, not just the final answer) — identical columns and
    * routing predicate as [[bm25WandStats]], shared [[qlWandScorer]]
    * internals with [[qlTopKWand]] so the readout cannot drift from
    * the operator. `ub` here is the sign-aware-margined QL bound
    * (positive hot fold ×(1+1e-9) + normalizer bound ×(1−1e-9));
    * q224 replays it from first principles.
    */
  def qlWandStats(tf: DataFrame,
                  queries: DataFrame, qidCol: String, qtextCol: String,
                  k: Int, hotDf: Long,
                  mu: Double = 2000.0,
                  forward: Option[DataFrame] = None,
                  dfStats: Option[(DataFrame, DataFrame)] = None,
                  cf: Option[DataFrame] = None,
                  impact: Option[DataFrame] = None): DataFrame =
    qlWandWeightedStats(tf, unitQueryTerms(queries, qidCol, qtextCol), k,
      hotDf, mu, forward, dfStats, cf, impact)

  /** [[qlWandStats]] for the WEIGHTED operator — identical columns,
    * identical routing predicate, shared [[qlWandScorer]] internals
    * with [[qlTopKWandWeighted]] so the table cannot drift from the
    * operator (the [[bm25WandWeightedStats]] convention).
    */
  def qlWandWeightedStats(tf: DataFrame, termWeights: DataFrame,
                          k: Int, hotDf: Long,
                          mu: Double = 2000.0,
                          forward: Option[DataFrame] = None,
                          dfStats: Option[(DataFrame, DataFrame)] = None,
                          cf: Option[DataFrame] = None,
                          impact: Option[DataFrame] = None): DataFrame =
    wandStats(qlWandScorer(tf, forward.getOrElse(tf), mu, impact),
      qlWandTerms(tf, termWeights, dfStats, cf), k, hotDf)

  /** The QL WAND [[qlTermTable]], with the df for the rare/hot split,
    * the cf/|C|/`__nq` for the contributions and the bound.
    */
  private def qlWandTerms(tf: DataFrame, termWeights: DataFrame,
                          dfStats: Option[(DataFrame, DataFrame)],
                          cf: Option[DataFrame]): DataFrame = {
    val (dfTab, stats) = resolvedDfStats(tf, dfStats)
    qlTermTable(termWeights.join(dfTab, Seq("word")),
      cf.getOrElse(cfTable(tf)), stats)
  }

  /** The QL Dirichlet [[WandScorer]] — the posting-probe form over the
    * QL arithmetic: `weight · ` [[qlContribExpr]] contributions
    * carrying `dl`/`__nq` into [[qlScoreFold]] (the word-sorted fold +
    * the once-added length normalizer, bitwise
    * [[qlDirichletScores]]' tree), and the sign-aware hot-only bound
    * derived at [[qlTopKWand]].
    */
  private def qlWandScorer(tf: DataFrame, forward: DataFrame, mu: Double,
                           impact: Option[DataFrame]): WandScorer =
    new PostingWandScorer(tf, forward, qlContribCols(mu), identity) {
      def fold(contrib: DataFrame, shuffleFirst: Boolean): DataFrame =
        qlScoreFold(contrib, mu, shuffleFirst)
      def hotUb(hot: DataFrame): DataFrame = {
        // per hot term: the contribution ceiling and the dl floor; a
        // word missing from a partial impact table (left_outer miss)
        // falls back to the corpus-free pair (ln(1 + |C|/μ), dl ≥ 1)
        // in-place
        val perTermCeil = impact match {
          case None =>
            hot.select(col("queryId"), col("word"),
              (col("weight") *
                log(lit(1.0) + col("__cTokens") / lit(mu))).as("__ct"),
              lit(1L).as("__mdl"), col("__nq"))
          case Some(imp) =>
            hot
              .join(imp.select(col("word"), col("max_tf"), col("min_dl")),
                Seq("word"), "left_outer")
              .select(col("queryId"), col("word"),
                (col("weight") * when(col("max_tf").isNull,
                  log(lit(1.0) + col("__cTokens") / lit(mu)))
                  .otherwise(log(lit(1.0) +
                    col("max_tf").cast("double") * col("__cTokens") /
                      (lit(mu) * col("cf").cast("double"))))).as("__ct"),
                coalesce(col("min_dl"), lit(1L)).as("__mdl"), col("__nq"))
        }
        // sign-aware margin (see qlTopKWand): positive fold up, negative
        // normalizer magnitude down — both raise the bound
        perTermCeil.groupBy("queryId")
          .agg(OrderedFold.sum(col("__ct"), col("word")).as("__pos"),
            min(col("__mdl")).as("__mdl"), max(col("__nq")).as("__n"))
          .select(col("queryId"),
            (col("__pos") * lit(1.0 + 1e-9) +
              col("__n").cast("double") *
                log(lit(mu) / (col("__mdl").cast("double") + lit(mu))) *
                lit(1.0 - 1e-9)).as("__ub"))
      }
    }

  /** Faceted-search counts — the "facet sidebar" aggregation of a
    * search stack: for each query, the distribution of its MATCHED
    * documents over a metadata dimension, top `topV` values by count —
    * `(queryId, facet, n_docs, rank)`, count descending with facet
    * ascending ties. `matches` is any `(queryId, docId, …)` match or
    * result table (a full [[bm25Scores]] match set for true facet
    * counts, or a top-k for result-page facets); repeated pairs are
    * defensively collapsed (the [[rrfFuse]] convention) so score
    * tables with per-term rows cannot inflate counts. `docMeta` maps
    * `docId` to the facet column and gets the SAME defensive
    * collapse — `(queryId, docId, facet)` rows dedupe AFTER the join
    * (match-sized, so the corpus-sized metadata table never pays a
    * dedup exchange), so a metadata table built from a union cannot
    * inflate `n_docs` (a doc with several DISTINCT facet values is
    * multi-valued by intent and counts once per value). Docs with a
    * NULL facet value are excluded (the
    * unfaceted remainder, countable by the caller as
    * `matches − Σ n_docs` if wanted — keeping engine-divergent NULL
    * ordering out of the ranked table).
    *
    * Scale shape: one docId equi-join of the match set against the
    * metadata table (docId-bucketed at ingest, like the forward
    * layout — exchange-free on the metadata side), then a
    * (query, facet)-grouped count whose cardinality is bounded by
    * queries × |facet values|, and a per-query rank window over that.
    * The corpus itself never enters the plan.
    */
  def facetCounts(matches: DataFrame, docMeta: DataFrame,
                  facetCol: String, topV: Int): DataFrame = {
    require(topV > 0, s"topV > 0: $topV")
    val m = matches.select("queryId", "docId").distinct()
    val w = Window.partitionBy(col("queryId"))
      .orderBy(col("n_docs").desc, col("facet").asc)
    m.join(docMeta.select(col("docId"), col(facetCol).as("facet")),
        Seq("docId"))
      .filter(col("facet").isNotNull)
      .select(col("queryId"), col("docId"), col("facet")).distinct()
      .groupBy(col("queryId"), col("facet"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topV)
  }

  /** CHAMPION-LIST static index pruning (Manning/Raghavan/Schütze
    * IIR §7.1.3; "top docs"): keep only each term's `m` highest-tf
    * postings — the docs that term can score highest for — and serve
    * probes from the pruned table. Unlike [[bm25TopKWand]] (which
    * prunes WORK, score-exactly), this prunes the INDEX: the layout
    * shrinks from Σ df to ≤ `m · |vocab|` rows (the Zipf head
    * collapses from df ~ N to m), trading recall for a bounded,
    * df-independent index — the standard first tier of a tiered
    * index, with the exact fallback tier behind it.
    *
    * Ranking inside each term's list is `(tf desc, dl asc, docId
    * asc)` — highest contribution first at any (k1, b), since the
    * BM25 term score is increasing in tf and decreasing in dl; the
    * docId tie keeps the kept set deterministic (q221 gates the kept
    * table's semantics through a probe). Scoring THROUGH the pruned
    * table with the FULL df/stats tables leaves every surviving
    * POSTING's contribution bitwise unchanged; a (query, doc) pair's
    * score is the sum over its surviving postings — the full score
    * when all its matched postings survive, a partial sum when the
    * doc fell off some term's list (the champion approximation; a
    * pair off every list drops entirely). Serve with
    * [[bm25ScoresPrecomputed]](championTf, fullDf, fullStats);
    * [[Knn.recallAtK]] against the unpruned ranking is the quality
    * readout (the q197 convention).
    */
  def championPostings(tf: DataFrame, m: Int): DataFrame = {
    require(m > 0, s"m > 0: $m")
    val w = Window.partitionBy(col("word"))
      .orderBy(col("tf").desc, col("dl").asc, col("docId").asc)
    tf.withColumn("__r", row_number().over(w))
      .filter(col("__r") <= m)
      .drop("__r")
  }

  /** Append-side champion-list compaction — merge a micro-batch into
    * a persisted [[championPostings]] layout WITHOUT re-reading the
    * full posting table (closing the one persisted layout that was
    * rebuild-only; tf triple: [[compactTermIndex]], positional:
    * [[compactPositionalIndex]], impact: [[compactImpactStats]]).
    * Row-identical to `championPostings(tf ∪ batchTf, m)` under the
    * disjoint-docId ingest contract (RetrievalSpec pins the parity;
    * q225 gates probe scores through a compacted layout against the
    * full-rebuild replay), because top-m is MAX-MERGEABLE: the top-m
    * of a union is contained in the union of the per-side top-m's —
    * any doc outside both side's lists is beaten by ≥ m docs on its
    * own side, which all survive into the union. So the merge is the
    * batch's own champion pass (batch-sized) plus one re-rank window
    * over ≤ 2m rows per word — vocabulary-bounded work, never a
    * full-index pass. The ranking key `(tf desc, dl asc, docId asc)`
    * is total, so the kept set is deterministic on both paths.
    *
    * `assertDisjoint = true` enforces the disjoint-docId ingest
    * contract IN-PLAN (the [[compactTermIndex]] guard, shared
    * machinery): a re-ingested docId would put duplicate
    * `(word, docId)` rows through the re-rank window — both can
    * survive inside the top-m and double-count that doc's
    * contribution in every downstream probe — so the guard fails
    * loudly instead. The semi-join runs against the m-bounded
    * champion table, so it catches exactly the reuses that could
    * double-count through THIS layout (a reused id absent from every
    * champion list is invisible here — but also harmless to this
    * table; full ingest-contract enforcement is the tf-table guard
    * in [[compactTermIndex]], which an ingest loop runs first).
    */
  def compactChampionPostings(champ: DataFrame, batchTf: DataFrame,
                              m: Int,
                              assertDisjoint: Boolean = false)
      : DataFrame = {
    val batch =
      if (!assertDisjoint) batchTf
      else guardedDisjointBatch(champ, batchTf, "compactChampionPostings")
    championPostings(champ.unionByName(championPostings(batch, m)), m)
  }

  /** Deletion-side champion-list compaction — remove docs from a
    * persisted [[championPostings]] layout without a full rebuild.
    * Unlike the subtractive df delta, a champion list losing a member
    * may need refilling from postings that were OUTSIDE the pruned
    * layout, so deletion recomputes EXACTLY the affected terms:
    * words with a deleted doc in their champion list re-rank from the
    * (surviving) posting table; every other word's list is untouched
    * — and provably rebuild-identical, since deleting docs that never
    * made a top-m cannot change that top-m. Row-identical to
    * `championPostings(survivors, m)` (RetrievalSpec pins it; q225's
    * gate routes probes through an append + delete chain).
    *
    * `tf` is the posting table — pre- or post-delete both work (the
    * delete ids anti-join away in-plan, so passing the already-
    * compacted survivor tf from [[compactTermIndexDeleted]] is a
    * no-op filter). Scale shape: the affected-term set is one
    * semi-join of the (m-bounded) champion table against the id set;
    * the recompute reads only the affected terms' postings
    * (bucket-local under the word-bucketed layout) and re-ranks
    * those — deleted-list-sized work, not corpus-sized. `deleteIds`
    * is consumed 3× (affected scan, champion anti-join, tf
    * anti-join) — id-width, materialize at lazy call sites.
    */
  def compactChampionPostingsDeleted(champ: DataFrame, tf: DataFrame,
                                     deleteIds: DataFrame,
                                     m: Int): DataFrame = {
    val del = deleteIds.select(col("docId"))
    val affected = champ.join(del, Seq("docId"), "left_semi")
      .select("word").distinct()
    val untouched = champ.join(affected, Seq("word"), "left_anti")
    val recomputed = championPostings(
      tf.join(affected, Seq("word"), "left_semi")
        .join(del, Seq("docId"), "left_anti"), m)
    untouched.unionByName(recomputed)
  }

  /** TIERED retrieval — the production composition over
    * [[championPostings]]: serve every query from the champion tier,
    * and route the queries whose tier-1 result UNDER-FILLS (< k rows —
    * rare-term queries, or k beyond the champion depth m) to the
    * exact full-index tier, restricted to just those queries (the
    * [[bm25TopKWand]] fallback shape; the routing key is observable —
    * row count — rather than a score bound, the standard tiered-index
    * heuristic: IIR §7.2.1). Returns `(queryId, docId, score, rank,
    * tier)` with `tier` 1 (champion approximation) or 2 (exact) — a
    * filled tier-1 query's rows are EXACTLY the champion probe's, a
    * routed query's exactly the full probe's (q222 gates both
    * branches).
    *
    * Scale shape: phase 1 is the champion probe (matched-posting
    * volume bounded by m per term); the tier-2 set is the
    * under-filled queries only, so the full posting join runs for
    * the residual batch, not everyone — at a head-heavy df shape
    * most queries fill from tier 1 and the expensive tier serves the
    * tail. Both layouts persist word-bucketed; `champTf` and the
    * full `tf` share the df/stats tables (the [[championPostings]]
    * full-stats contract).
    *
    * `hotDf` routes the tier-2 exact pass through [[bm25TopKWand]]
    * (with the optional `forward`/`impact` layouts) instead of the
    * unpruned pipeline — WAND is SCORE-EXACT, so the tiered output is
    * bitwise unchanged (q222 gates through it; RetrievalSpec pins the
    * parity) while the fallback tier inherits the pruning: the
    * routed queries are exactly the rare-term ones whose hot posting
    * lists the unpruned pass would otherwise scan in full.
    */
  def bm25TopKTiered(champTf: DataFrame, tf: DataFrame,
                     dfTab: DataFrame, stats: DataFrame,
                     queries: DataFrame, qidCol: String, qtextCol: String,
                     k: Int, k1: Double = 1.2, b: Double = 0.75,
                     hotDf: Option[Long] = None,
                     forward: Option[DataFrame] = None,
                     impact: Option[DataFrame] = None): DataFrame = {
    require(k > 0, s"k > 0: $k")
    tieredFrom(bm25TopK(
      bm25ScoresPrecomputed(champTf, dfTab, stats, queries, qidCol,
        qtextCol, k1, b), k),
      queries, qidCol, k,
      routed => hotDf match {
        case Some(cut) => bm25TopKWand(tf, routed, qidCol, qtextCol,
          k, cut, k1, b, forward, Some((dfTab, stats)), impact)
        case None => bm25TopK(
          bm25ScoresPrecomputed(tf, dfTab, stats, routed,
            qidCol, qtextCol, k1, b), k)
      })
  }

  /** [[bm25TopKTiered]] for the QL Dirichlet scorer — full
    * second-scorer parity for tiered serving: tier 1 scores through
    * the champion layout with the FULL cf/stats tables (the
    * [[championPostings]] full-stats contract holds for QL too — a
    * surviving posting's contribution is unchanged because cf, |C|
    * and dl are corpus-level), under-filled queries route to the
    * exact tier, and `hotDf` routes that tier through [[qlTopKWand]]
    * (score-exact, so the output is bitwise the unpruned tier 2).
    * Same routing rule, same `(queryId, docId, score, rank, tier)`
    * shape, shared [[tieredFrom]] internals with the BM25 operator —
    * the routing cannot drift between scorers (q231 gates both
    * branches against the first-principles replay).
    */
  def qlTopKTiered(champTf: DataFrame, tf: DataFrame,
                   cfTab: DataFrame, stats: DataFrame,
                   dfTab: DataFrame,
                   queries: DataFrame, qidCol: String, qtextCol: String,
                   k: Int, mu: Double = 2000.0,
                   hotDf: Option[Long] = None,
                   forward: Option[DataFrame] = None,
                   impact: Option[DataFrame] = None): DataFrame = {
    require(k > 0, s"k > 0: $k")
    tieredFrom(bm25TopK(
      qlDirichletScores(champTf, cfTab, stats, queries, qidCol,
        qtextCol, mu), k),
      queries, qidCol, k,
      routed => hotDf match {
        case Some(cut) => qlTopKWand(tf, routed, qidCol, qtextCol,
          k, cut, mu, forward, Some((dfTab, stats)),
          Some(cfTab), impact)
        case None => bm25TopK(
          qlDirichletScores(tf, cfTab, stats, routed,
            qidCol, qtextCol, mu), k)
      })
  }

  /** The tiered-serving routing core shared by [[bm25TopKTiered]] and
    * [[qlTopKTiered]]: materialize the tier-1 run (result-sized,
    * consumed 2× — fill count + output semi-join), compute the FILLED
    * set — not the under-filled one: a query with ZERO champion
    * matches has no tier-1 rows at all (and so no group row), and
    * routing must catch it too, so tier 2 is everyone NOT provably
    * filled — and union the tier-labeled branches.
    */
  private def tieredFrom(tier1Lazy: DataFrame, queries: DataFrame,
                         qidCol: String, k: Int,
                         tier2Of: DataFrame => DataFrame): DataFrame = {
    val tier1 = tier1Lazy.localCheckpoint()
    val filled = tier1.groupBy("queryId")
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") === k)
      .select("queryId")
    val tier2 = tier2Of(
      queries.join(filled.select(col("queryId").as(qidCol)),
        Seq(qidCol), "left_anti"))
    tier1.join(filled, Seq("queryId"), "left_semi")
      .select(col("queryId"), col("docId"), col("score"), col("rank"),
        lit(1L).as("tier"))
      .unionByName(tier2.select(col("queryId"), col("docId"),
        col("score"), col("rank"), lit(2L).as("tier")))
  }

  /** Learning-to-rank FEATURE ASSEMBLY — the composition that turns
    * the scorer stack into ranker training data: for every (query,
    * doc) pair sharing at least one term,
    * `(queryId, docId, bm25, ql, n_matched, coverage, dl, sum_idf)` —
    * the classic lexical LTR feature set (two rankers, match counts,
    * query coverage, length, matched-idf mass; LETOR's core columns).
    * `bm25` and `ql` are BITWISE the standalone
    * [[bm25ScoresPrecomputed]] / [[qlDirichletScores]] values
    * (RetrievalSpec pins it): all features fold off ONE shared posting
    * join and ONE sorted collect per pair, instead of running each
    * scorer's join separately — the whole point of assembling features
    * in the engine rather than gluing operator outputs. `coverage`
    * divides by the query's FULL distinct term count (an OOV term
    * hurts coverage); QL's length normalizer uses its own
    * corpus-PRESENT count, the [[qlDirichletScores]] contract.
    *
    * Scale shape: identical to one scorer pass — the feature columns
    * ride the join that was already being paid, and the fold list
    * carries 3 doubles per matched term. Consumes the four persisted
    * stat layouts ([[dfTable]]/[[cfTable]]/[[corpusStats]] + tf); at
    * training time land the output and join labels/qrels onto it.
    */
  def ltrFeatures(tf: DataFrame, dfTab: DataFrame, cfTab: DataFrame,
                  stats: DataFrame,
                  queries: DataFrame, qidCol: String, qtextCol: String,
                  k1: Double = 1.2, b: Double = 0.75,
                  mu: Double = 2000.0): DataFrame = {
    val qt = unitQueryTerms(queries, qidCol, qtextCol)
    // query-batch-sized build side by contract (the postingContribs
    // broadcast rationale)
    val (present, mass) =
      qlTermParts(bm25TermTable(qt, dfTab, stats), cfTab, stats)
    ltrAssemble(tf.join(broadcast(present), Seq("word")), mass, qt, k1, b,
      mu)
  }

  /** [[ltrFeatures]] restricted to a CANDIDATE pair table — the
    * serving-time cascade shape (candidate generation → feature
    * re-rank): instead of the word-keyed posting join over every
    * matching pair, the candidates' terms fetch doc-wise through the
    * `forward` layout (the docId-bucketed table, the [[bm25TopKWand]]
    * phase-2 trick) and only the kept pairs' feature rows ever
    * materialize. Row- and BITWISE-identical to
    * `ltrFeatures(...).join(pairs, Seq("queryId","docId"),
    * "left_semi")` (q232 gates the full cascade — WAND-shaped
    * candidates → pair features → a pinned linear re-rank;
    * RetrievalSpec pins the semi-join equivalence): a pair matching
    * ZERO query terms has no rows on either path. `pairs` is
    * result-sized (a top-k output) — pass it materialized.
    */
  def ltrFeaturesForPairs(tf: DataFrame, dfTab: DataFrame,
                          cfTab: DataFrame, stats: DataFrame,
                          queries: DataFrame, qidCol: String,
                          qtextCol: String,
                          pairs: DataFrame,
                          k1: Double = 1.2, b: Double = 0.75,
                          mu: Double = 2000.0,
                          forward: Option[DataFrame] = None): DataFrame = {
    val qt = unitQueryTerms(queries, qidCol, qtextCol)
    val (present, mass) =
      qlTermParts(bm25TermTable(qt, dfTab, stats), cfTab, stats)
    // defensive collapse (the rrfFuse/facetCounts convention): a
    // duplicate (queryId, docId) row would fan out through the
    // forward join and double every per-term struct in the fold —
    // result-sized, so the distinct is free
    // pairs is result-sized by contract — explicit broadcast side of
    // the forward fetch (the postingContribs rationale)
    ltrAssemble(
      broadcast(pairs.select(col("queryId"), col("docId")).distinct())
      .join(forward.getOrElse(tf), Seq("docId"))
      .join(broadcast(present), Seq("queryId", "word")), mass, qt, k1, b,
      mu)
  }

  /** The feature fold shared by the [[ltrFeatures]] family over
    * posting ⋈ [[qlTermParts]] rows: one word-sorted collect per
    * (query, doc) carrying all three per-term values, the QL
    * normalizer added once off the query `mass` joined after the fold,
    * coverage off the FULL term count of `qt` — identical trees on
    * both input shapes.
    */
  private def ltrAssemble(joined: DataFrame, mass: DataFrame,
                          qt: DataFrame, k1: Double,
                          b: Double, mu: Double): DataFrame = {
    val nqFull = qt.groupBy("queryId").agg(count(lit(1)).as("__nqf"))
    joined
      .select(col("queryId"), col("docId"), col("word"), col("dl"),
        contribExpr(k1, b).as("__cb"), qlContribExpr(mu).as("__cq"),
        col("idf"))
      // group-key repartition before the collect — the scoreFold r20
      // rationale
      .repartition(col("queryId"), col("docId"))
      .groupBy(col("queryId"), col("docId"))
      .agg(sort_array(collect_list(struct(col("word"), col("__cb"),
        col("__cq"), col("idf")))).as("__xs"),
        max(col("dl")).as("dl"), count(lit(1)).as("n_matched"))
      .select(col("queryId"), col("docId"), col("dl"), col("n_matched"),
        aggregate(col("__xs"), lit(0.0),
          (a, x) => a + x.getField("__cb")).as("bm25"),
        aggregate(col("__xs"), lit(0.0),
          (a, x) => a + x.getField("__cq")).as("__qls"),
        aggregate(col("__xs"), lit(0.0),
          (a, x) => a + x.getField("idf")).as("sum_idf"))
      .join(mass, Seq("queryId"))
      .join(nqFull, Seq("queryId"))
      .select(col("queryId"), col("docId"), col("bm25"),
        (col("__qls") + col("__nq") *
          log(lit(mu) / (col("dl").cast("double") + lit(mu)))).as("ql"),
        col("n_matched"),
        (col("n_matched").cast("double") / col("__nqf").cast("double"))
          .as("coverage"),
        col("dl"), col("sum_idf"))
  }

  /** Term-proximity ranking features over the positional layout —
    * the classic proximity signal for LTR (Tao & Zhai SIGIR'07's
    * MinDist family): for each (query, doc) pair whose matched
    * occurrences interleave at least two DISTINCT query terms,
    * `(queryId, docId, min_dist, avg_dist, n_gaps)` over the
    * CONSECUTIVE different-term occurrence gaps in position order —
    * `min_dist` IS Tao & Zhai's MinDist (the closest different-term
    * pair is always position-adjacent among matched occurrences: any
    * occurrence strictly between two different-term occurrences forms
    * a strictly closer different-term pair with one end), `avg_dist`
    * the mean consecutive-transition gap (a well-defined smoother
    * sibling, NOT the all-pairs AveDist), `n_gaps` the transition
    * count. Pairs matching < 2 distinct terms (or whose occurrences
    * never alternate) have no row — LEFT-join onto
    * [[ltrFeatures]]' output and treat NULL as "no proximity signal"
    * (q229 gates the joined table; the gap arithmetic is exact
    * integers + one division, so it replays bitwise).
    *
    * Scale shape: rides the positional probe already paid — one word
    * join of the query terms against the (word-bucketed, persisted)
    * positional table, one per-pair window pass over MATCHED
    * occurrences only (the hot-term fan is the posting volume the
    * scorer paid anyway), result-sized aggregates after it. For the
    * result-sized form pass `pairs` (a top-k's `(queryId, docId)`
    * table, the [[snippetWindows]] pattern): the docId semi-join goes
    * BELOW the word join and the pair semi-join above it, so hot
    * query terms' full occurrence lists never materialize and the
    * window pass runs over kept pairs only.
    */
  def proximityFeatures(posts: DataFrame, queries: DataFrame,
                        qidCol: String, qtextCol: String,
                        pairs: Option[DataFrame] = None): DataFrame = {
    val qt = queryTerms(queries, qidCol, qtextCol)
    // query-/result-sized sides broadcast by contract (r20, the
    // postingContribs rationale) — the positional index streams
    val occ = pairs match {
      case Some(p) =>
        val pp = p.select(col("queryId"), col("docId"))
        posts
          .join(broadcast(pp.select("docId").distinct()), Seq("docId"),
            "left_semi")
          .join(broadcast(qt), Seq("word"))
          .join(broadcast(pp), Seq("queryId", "docId"), "left_semi")
          .select(col("queryId"), col("docId"), col("pos"), col("word"))
      case None =>
        posts.join(broadcast(qt), Seq("word"))
          .select(col("queryId"), col("docId"), col("pos"), col("word"))
    }
    val w = Window.partitionBy(col("queryId"), col("docId"))
      .orderBy(col("pos"))
    val gaps = occ
      .withColumn("__pw", lag(col("word"), 1).over(w))
      .withColumn("__pp", lag(col("pos"), 1).over(w))
      .filter(col("__pw").isNotNull && col("__pw") =!= col("word"))
      .select(col("queryId"), col("docId"),
        (col("pos") - col("__pp")).as("__g"))
    gaps.groupBy(col("queryId"), col("docId"))
      .agg(min(col("__g")).as("min_dist"),
        (sum(col("__g")).cast("double") / count(lit(1)).cast("double"))
          .as("avg_dist"),
        count(lit(1)).as("n_gaps"))
  }

  /** Boolean-NOT constrained BM25 top-k — the `-term` / `AND NOT`
    * query mode: rank by the POSITIVE text's BM25 score, excluding
    * every document containing ANY of the negative text's terms.
    * Equals `bm25TopK` over scores anti-joined on the negative match
    * set (q217 gates it). A corpus-absent negative term excludes
    * nothing; a query whose positive side matches nothing returns
    * nothing, NOT the un-scored remainder.
    *
    * Scale shape: the exclusion set is the negative terms' posting
    * pull projected to `(queryId, docId)` — exclusion must be
    * COMPLETE, so unlike WAND there is no candidate trick that avoids
    * a hot negative term's posting list; the pull is projection-only
    * (two columns, map-side distinct) and the anti-join is
    * result-bounded. Callers with stop-word-shaped negatives should
    * question the query, not the plan ("NOT the" excludes the
    * corpus).
    */
  def bm25TopKNot(tf: DataFrame, dfTab: DataFrame, stats: DataFrame,
                  queries: DataFrame, qidCol: String, qtextCol: String,
                  negTextCol: String, k: Int,
                  k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k > 0, s"k > 0: $k")
    val scores = bm25ScoresPrecomputed(tf, dfTab, stats, queries,
      qidCol, qtextCol, k1, b)
    val excluded = tf
      .join(queryTerms(queries, qidCol, negTextCol), Seq("word"))
      .select(col("queryId"), col("docId")).distinct()
    bm25TopK(scores.join(excluded, Seq("queryId", "docId"),
      "left_anti"), k)
  }

  /** Maximal-Marginal-Relevance re-ranking (Carbonell & Goldstein
    * SIGIR'98) — result DIVERSIFICATION: greedily select `k` of each
    * query's pooled candidates, each step taking the doc maximizing
    * `λ·score − (1−λ)·max_{s ∈ selected} sim(doc, s)` (step 1 has no
    * selected set, so its marginal is `λ·score`). Returns
    * `(queryId, docId, mmr_score, rank)`, `rank` = selection order —
    * near-duplicate results are pushed down in favor of novel ones,
    * the standard answer to redundant top-k pages and RAG context
    * stuffing.
    *
    * `pool` is the candidate table `(queryId, docId, score)` — ALREADY
    * capped per query (a [[bm25TopK]] output reselected, typically
    * n = 10..50); `sims` the pairwise similarity table over each
    * query's pool, `(queryId, docA, docB, sim)` in ORDERED pairs
    * (build lexical sims with [[poolTokenSims]], or bring embedding
    * cosines). Pairs ABSENT from `sims` count as similarity 0 — the
    * sparse-matrix convention, so an above-threshold ANN pair table
    * works directly and a candidate missing every sim row keeps its
    * full `λ·score` marginal instead of silently dropping; pass the
    * full matrix when "unknown" must not mean "dissimilar".
    * Everything is result-sized — ≤ n² sim rows and
    * k plan steps over queries × n tables — so the greedy loop costs
    * nothing corpus-shaped; both inputs are consumed once per STEP
    * (k times total): pass materialized tables (q216 checkpoints
    * both), the linearFuse rule. Ties break (mmr desc, docId asc);
    * queries with fewer than `k` pooled docs simply run out. The
    * per-step argmax is deterministic, so the whole selection replays
    * exactly (q216 gates the k = 3 unrolled composition).
    */
  def mmrRerank(pool: DataFrame, sims: DataFrame, k: Int,
                lambda: Double): DataFrame = {
    require(k >= 1, s"k >= 1: $k")
    require(lambda >= 0 && lambda <= 1, s"lambda in [0,1]: $lambda")
    val w = Window.partitionBy(col("queryId"))
      .orderBy(col("__mmr").desc, col("docId").asc)
    def pickTop(scored: DataFrame, step: Int): DataFrame =
      scored.withColumn("__r", row_number().over(w))
        .filter(col("__r") === 1)
        .select(col("queryId"), col("docId"),
          col("__mmr").as("mmr_score"), lit(step.toLong).as("rank"))
    var selected = pickTop(
      pool.select(col("queryId"), col("docId"),
        (lit(lambda) * col("score")).as("__mmr")), 1)
      .localCheckpoint() // step outputs are queries-sized
    var remaining = pool.join(selected, Seq("queryId", "docId"),
      "left_anti").localCheckpoint()
    for (step <- 2 to k) {
      // max sim of each remaining doc to the selected set; sim rows
      // are looked up per (remaining, selected) pair and MISSING rows
      // contribute 0 (max ignores the nulls; an all-missing doc
      // coalesces below) — the sparse-sims contract in the scaladoc
      val ms = remaining
        .join(selected.select(col("queryId"), col("docId").as("docB")),
          Seq("queryId"))
        .join(sims.withColumnRenamed("docA", "docId"),
          Seq("queryId", "docId", "docB"), "left_outer")
        .groupBy(col("queryId"), col("docId"))
        .agg(max(col("sim")).as("__ms"))
      val pick = pickTop(
        remaining.join(ms, Seq("queryId", "docId"))
          .select(col("queryId"), col("docId"),
            (lit(lambda) * col("score") -
              lit(1.0 - lambda) * coalesce(col("__ms"), lit(0.0)))
              .as("__mmr")), step)
        .localCheckpoint()
      selected = selected.unionByName(pick).localCheckpoint()
      remaining = remaining.join(pick, Seq("queryId", "docId"),
        "left_anti").localCheckpoint()
    }
    selected.select(col("queryId"), col("docId"), col("mmr_score"),
      col("rank"))
  }

  /** The lexical similarity matrix for [[mmrRerank]]: exact
    * distinct-token Jaccard between every ORDERED pair of a query's
    * pooled docs — `(queryId, docA, docB, sim)`, zero-overlap pairs
    * included (sim 0). One semi-join restricts the tf table to the
    * POOL'S doc ids (result-sized — the corpus never enters), then
    * sizes and pair intersections compute over that slice; with the
    * docId-bucketed forward layout the semi-join is bucket-local.
    * `pool` is consumed 3× and `tf` once — materialize the pool.
    */
  def poolTokenSims(tf: DataFrame, pool: DataFrame): DataFrame = {
    val ids = pool.select(col("docId")).distinct()
    val ptf = tf.join(ids, Seq("docId"), "left_semi")
      .select(col("docId"), col("word"))
    val sz = ptf.groupBy("docId").agg(count(lit(1)).as("__sz"))
    val pairsQ = pool.select(col("queryId"), col("docId").as("docA"))
      .join(pool.select(col("queryId"), col("docId").as("docB")),
        Seq("queryId"))
      .filter(col("docA") =!= col("docB"))
    // intersections compute once per DISTINCT doc pair, then re-attach
    // to query pools: hot docs land in many top-k pools, and carrying
    // queryId through the word joins would redo (and shuffle) the
    // intersection once per pool containing the pair
    val upairs = pairsQ.select(col("docA"), col("docB")).distinct()
    val inter = upairs
      .join(ptf.select(col("docId").as("docA"), col("word")), Seq("docA"))
      .join(ptf.select(col("docId").as("docB"), col("word")),
        Seq("docB", "word"))
      .groupBy(col("docA"), col("docB"))
      .agg(count(lit(1)).as("__i"))
    val pairSims = upairs
      .join(inter, Seq("docA", "docB"), "left_outer")
      .join(sz.select(col("docId").as("docA"), col("__sz").as("__sa")),
        Seq("docA"))
      .join(sz.select(col("docId").as("docB"), col("__sz").as("__sb")),
        Seq("docB"))
      .select(col("docA"), col("docB"),
        (coalesce(col("__i"), lit(0L)).cast("double") /
          (col("__sa") + col("__sb") - coalesce(col("__i"), lit(0L)))
            .cast("double")).as("sim"))
    pairsQ.join(pairSims, Seq("docA", "docB"))
      .select(col("queryId"), col("docA"), col("docB"), col("sim"))
  }

  /** Normalized LINEAR score fusion — [[rrfFuse]]'s score-aware
    * sibling (the interpolation combiner of hybrid-retrieval
    * literature, e.g. convex BM25+dense mixing): each input ranking's
    * scores min-max normalize PER QUERY to [0, 1], then fuse as the
    * weighted sum `Σ w_i · norm_i(q, d)` (absent from a list = zero).
    * Use when the component scores carry meaningful magnitude
    * (calibrated rankers); RRF when they don't.
    *
    * Inputs are `(queryId, docId, score)` tables, each paired with
    * its weight; repeated (queryId, docId) rows within one input are
    * defensively collapsed to `max(score)` before normalization (the
    * [[rrfFuse]] min-rank convention on the score side — identity for
    * well-formed top-k tables, so a raw match table cannot silently
    * inflate the fused sum). A query whose list has a single distinct
    * score normalizes to 1.0 (its min IS its max — every doc ties at
    * the top). Output:
    * `(queryId, docId, fused_score, rank)`, top `k`, score desc with
    * docId ties.
    *
    * Scale shape: result-set-sized throughout — per-list per-query
    * min/max via ONE window pass (order-independent EXACT doubles, so
    * the normalization replays bitwise; a groupBy + join-back would
    * consume each input ranking TWICE, re-running its whole scoring
    * chain when fed lazily — measured 14.9 → 9.9 s warm on q201,
    * which is the two component chains run once each), one
    * union, a source-index-sorted fold (≤ |rankings| elements per
    * pair), one rank window.
    */
  def linearFuse(rankings: Seq[(DataFrame, Double)], k: Int): DataFrame = {
    require(rankings.nonEmpty, "at least one ranking")
    require(k > 0, s"k > 0: $k")
    val perQ = Window.partitionBy(col("queryId"))
    val contribs = rankings.zipWithIndex.map { case ((r, w), i) =>
      r.groupBy(col("queryId"), col("docId"))
        .agg(max(col("score")).as("score"))
        .withColumn("__lo", min(col("score")).over(perQ))
        .withColumn("__hi", max(col("score")).over(perQ))
        .select(col("queryId"), col("docId"), lit(i).as("__src"),
          (lit(w) * when(col("__hi") > col("__lo"),
            (col("score") - col("__lo")) / (col("__hi") - col("__lo")))
            .otherwise(lit(1.0))).as("__f"))
    }.reduce(_ unionByName _)
    val rw = Window.partitionBy(col("queryId"))
      .orderBy(col("fused_score").desc, col("docId").asc)
    contribs.groupBy(col("queryId"), col("docId"))
      .agg(OrderedFold.sum(col("__f"), col("__src")).as("fused_score"))
      .withColumn("rank", row_number().over(rw))
      .filter(col("rank") <= k)
  }

  /** Reciprocal-rank fusion (Cormack et al. SIGIR'09): combine any
    * number of per-query rankings — BM25, an ANN list, a Jaccard
    * neighbor list — into one, scoring each (query, doc) by
    * `Σ 1/(k0 + rank_i)` over the lists it appears in (absent = zero)
    * and re-ranking. RRF needs only RANKS, never the component scores,
    * so it fuses rankings whose score scales are incomparable — the
    * standard hybrid-retrieval combiner and deliberately the simplest.
    *
    * Inputs are `(queryId, docId, rank)` tables ([[bm25TopK]]'s
    * shape). A well-formed ranking has ONE row per (queryId, docId);
    * inputs are defensively collapsed to `min(rank)` per pair before
    * the union (a no-op for well-formed top-k tables — the aggregate
    * is result-set-sized), so a caller passing a raw match table with
    * repeated pairs cannot silently inflate the fused sum.
    * Output: `(queryId, docId, rrf_score, rank)`, top `k` per
    * query, score descending with docId ascending ties.
    *
    * Scale shape: everything is result-set-sized — a union of the
    * (already top-k-bounded) rankings, one (queryId, docId) aggregate,
    * one per-query rank window. The fold is source-index-sorted (at
    * most |rankings| elements per pair), so the double sum is
    * bit-reproducible and exactly replayable: every contribution is
    * `1.0 / (k0 + rank)` — one division on exact integers, no
    * transcendentals, so fused scores agree bitwise across engines.
    */
  def rrfFuse(rankings: Seq[DataFrame], k: Int, k0: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "at least one ranking")
    require(k > 0 && k0 >= 0, s"k > 0, k0 >= 0: $k, $k0")
    val contribs = rankings.zipWithIndex.map { case (r, i) =>
      // min-rank collapse: enforce the one-row-per-(query, doc)
      // precondition instead of documenting it (identity for
      // well-formed top-k inputs, so the fused scores are unchanged)
      r.groupBy(col("queryId"), col("docId"))
        .agg(min(col("rank")).as("__rk"))
        .select(col("queryId"), col("docId"), lit(i).as("__src"),
          (lit(1.0) / (lit(k0).cast("double") + col("__rk").cast("double")))
            .as("__rrf"))
    }.reduce(_ unionByName _)
    val w = Window.partitionBy(col("queryId"))
      .orderBy(col("rrf_score").desc, col("docId").asc)
    contribs.groupBy(col("queryId"), col("docId"))
      .agg(OrderedFold.sum(col("__rrf"), col("__src")).as("rrf_score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }
}
