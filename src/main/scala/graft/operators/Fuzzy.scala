package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Fuzzy (edit-distance-1) term matching against an index vocabulary —
  * the SymSpell formulation (Garbe's symmetric-delete algorithm; the
  * `fuzzy~1` operator of a retrieval stack and the typo-tolerance
  * layer of query understanding), re-expressed as an EQUI-join:
  *
  *   two words are within edit distance 1 iff their DELETION
  *   neighborhoods intersect — `variants(x) = {x} ∪ {x minus one
  *   character}` — because a deletion/insertion meets the other word
  *   itself, and a substitution at position i meets at the shared
  *   `delete_i` (ed-0 trivially intersects at the identity).
  *
  * So fuzzy lookup is: explode both sides into `(word, variant)` rows,
  * equi-join ON VARIANT, verify the survivors with one `levenshtein`
  * call per CANDIDATE pair — never query × vocabulary. The verify
  * keeps the operator exact (the neighborhood join is complete for
  * ed ≤ 1, proven by the case split above, and the filter removes the
  * false positives longer deletes can introduce); q208 gates it
  * against a brute-force cross-join + levenshtein DuckDB replay — two
  * independent formulations of the same semantics.
  *
  * Scale shape: the vocabulary's variant table is `Σ (len+1)` rows —
  * ~7× the vocabulary, corpus-INDEPENDENT — and persists
  * `bucketBy(variant)` at ingest beside the df table, so a query
  * batch's fuzzy probe is one exchange-free equi-join of a
  * query-batch-sized variant table; candidates and the levenshtein
  * verify are candidate-pair-sized. The df ranking reuses the
  * [[Retrieval.dfTable]] layout — no new corpus pass anywhere.
  */
object Fuzzy {

  /** The `(word, variant)` deletion neighborhood at edit distance
    * `maxEdit`: each word paired with itself and with every string
    * reachable by deleting up to `maxEdit` characters (distinct —
    * repeated characters collapse). The SymSpell argument generalizes
    * beyond 1: if `ed(x, y) ≤ d` then aligning the two edit scripts
    * yields deletions `dx, dy ≤ d` with `delete(x, dx) = delete(y,
    * dy)` (each substitution deletes one char from BOTH sides, each
    * insertion/deletion from one), so the ≤ d neighborhoods of two
    * within-distance-d words always intersect — completeness; longer
    * deletes introduce false positives, which the levenshtein verify
    * removes. Build it over an index vocabulary once and persist
    * `bucketBy(variant)`; build it over a query batch's terms per
    * probe (query-batch-sized). Length-1 words contribute the empty
    * variant — that is correct, not an artifact: it is exactly how
    * two length-1 words meet (any pair of single characters is one
    * substitution apart).
    *
    * Size/recall trade, priced by the `fuzzy_variants_ed2` ScaleBench
    * row: level d adds C(len, d) variants per word — ed 1 is ~len+1
    * rows (≈ 7× a typical vocabulary), ed 2 ~len²/2 (≈ 25×). The
    * levels nest, so a layout built at `maxEdit = 2` serves ed-1
    * probes too (the probe filters `dist ≤ 1` after the verify);
    * capped at 3 — beyond that the blow-up outruns any probe saving.
    */
  def deletionVariants(words: DataFrame, maxEdit: Int = 1): DataFrame = {
    require(maxEdit >= 1 && maxEdit <= 3, s"maxEdit in [1,3]: $maxEdit")
    def del1(w: Column): Column =
      transform(sequence(lit(1), length(w)),
        i => concat(w.substr(lit(1), i - lit(1)),
          w.substr(i + lit(1), length(w))))
    val levels = Iterator.iterate(array(col("word")))(prev =>
      array_distinct(flatten(transform(prev, del1(_)))))
      .take(maxEdit + 1).toSeq
    words.select(col("word"))
      .select(col("word"),
        explode(array_distinct(concat(levels: _*))).as("variant"))
      .distinct()
  }

  /** Fuzzy vocabulary match of a `(queryId, word)` term table against
    * a `(word, df)` vocabulary ([[Retrieval.dfTable]]'s layout):
    * `(queryId, word, match, df, dist, rank)` — every vocabulary word
    * within edit distance 1 of each query term, ranked per term by
    * `dist` ascending (an exact hit always ranks first), then df
    * DESCENDING (the SymSpell convention: the most frequent corpus
    * word is the likeliest correction), then word for determinism.
    * Terms with no neighbor are absent. The ranking depends only on
    * the term's spelling, so it is computed once per DISTINCT term
    * and re-attached to query ids.
    *
    * `maxEdit` widens the neighborhood (ed ≤ 2 covers the ~20-30% of
    * real typo traffic that single-edit matching misses; q226 gates
    * it against the brute-force ed-2 replay). A passed-in
    * `vocabVariants` layout must have been built at a `maxEdit` AT
    * LEAST this probe's — a shallower layout silently loses recall
    * (the intersection proof needs both sides at depth d), which is
    * why the persisted-layout convention is to build at the deepest
    * edit distance served.
    */
  def fuzzyMatchTerms(vocab: DataFrame, terms: DataFrame,
                      vocabVariants: Option[DataFrame] = None,
                      maxEdit: Int = 1)
      : DataFrame = {
    // the ingest layout: deletionVariants(vocab) persisted
    // bucketBy(variant) — without it the vocabulary explodes per probe
    val vv = vocabVariants.getOrElse(deletionVariants(vocab, maxEdit))
      .withColumnRenamed("word", "match")
    val qv = deletionVariants(terms.select("word").distinct(), maxEdit)
    val cand = qv.join(vv, Seq("variant"))
      .select(col("word"), col("match")).distinct()
      .withColumn("dist",
        levenshtein(col("word"), col("match")).cast("long"))
      .filter(col("dist") <= maxEdit)
    val w = Window.partitionBy(col("word"))
      .orderBy(col("dist").asc, col("df").desc, col("match").asc)
    val ranked = cand
      .join(vocab.withColumnRenamed("word", "match"), Seq("match"))
      .withColumn("rank", row_number().over(w).cast("long"))
    terms.join(ranked, Seq("word"))
      .select(col("queryId"), col("word"), col("match"), col("df"),
        col("dist"), col("rank"))
  }

  /** Typo-corrected query-term table: the query's tokenizer terms with
    * each OUT-OF-VOCABULARY term replaced by its best fuzzy match
    * (rank 1 of [[fuzzyMatchTerms]] — dist, then df desc), in-vocab
    * terms kept verbatim, the union DEDUPED (a correction may collide
    * with a term the query already has — one unit weight, the
    * [[Retrieval]] distinct-term convention). OOV terms with NO
    * neighbor within `maxEdit` drop, exactly as they would have
    * contributed nothing uncorrected (q227 gates the ed-2 drop
    * semantics). Returns `(queryId, word)` — feed it to
    * [[Retrieval.bm25ScoresWeighted]] at unit weight (q209 gates that
    * composition) or any other term-table consumer.
    */
  def correctedQueryTerms(vocab: DataFrame,
                          queries: DataFrame, qidCol: String,
                          qtextCol: String,
                          vocabVariants: Option[DataFrame] = None,
                          maxEdit: Int = 1)
      : DataFrame = {
    // query-batch-sized, consumed 2× (in-vocab semi, OOV anti)
    val qt = Retrieval.queryTerms(queries, qidCol, qtextCol)
      .localCheckpoint()
    val inVocab = qt.join(vocab.select("word"), Seq("word"), "left_semi")
    val oov = qt.join(vocab.select("word"), Seq("word"), "left_anti")
    val best = fuzzyMatchTerms(vocab, oov, vocabVariants, maxEdit)
      .filter(col("rank") === 1L)
      .select(col("queryId"), col("match").as("word"))
    inVocab.select("queryId", "word").unionByName(best).distinct()
  }

  /** Prefix (wildcard `pre*`) term expansion against an index
    * vocabulary: `(queryId, prefix, word, df, rank)` — every
    * vocabulary word starting with each query prefix, ranked df
    * DESCENDING (word ascending ties) and capped at `maxExpansions`
    * (the Lucene rewrite convention: a hot prefix like `a*` must not
    * explode the query). Prefixes with no expansion are absent.
    *
    * Scale shape: the prefix table is query-batch-sized and
    * BROADCASTS under the `startsWith` theta-join, so the plan is ONE
    * scan of the (corpus-independent, persisted-sorted) vocabulary
    * per probe batch — the vocabulary never shuffles, and the rank
    * window runs over candidate pairs only. The expansion is computed
    * once per DISTINCT prefix and re-attached to query ids, like
    * [[fuzzyMatchTerms]].
    */
  def prefixMatchTerms(vocab: DataFrame, prefixes: DataFrame,
                       maxExpansions: Int = 50): DataFrame = {
    require(maxExpansions > 0, s"maxExpansions > 0: $maxExpansions")
    val ps = prefixes.select("prefix").distinct()
    val w = Window.partitionBy(col("prefix"))
      .orderBy(col("df").desc, col("word").asc)
    val expanded = vocab.select(col("word"), col("df"))
      .join(broadcast(ps), col("word").startsWith(col("prefix")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= maxExpansions)
    prefixes.join(expanded, Seq("prefix"))
      .select(col("queryId"), col("prefix"), col("word"), col("df"),
        col("rank"))
  }

  /** The one scoring tail shared by [[bm25TopKPrefix]] and
    * [[bm25TopKFuzzy]]: a unit-weight expanded term table through the
    * weighted BM25 machinery — UNPRUNED without `wandHotDf`,
    * score-exact weighted WAND with it ([[Retrieval
    * .bm25TopKWandWeighted]] accepts exactly this input shape, and
    * unit weights satisfy its strictly-positive contract trivially),
    * so enabling pruning can never change an answer — only skip hot
    * posting scans for safely-routed queries.
    *
    * ROUTING economics (the [[Retrieval.qlTopKWandWeightedRouted]]
    * rule, measured r18): a query whose expansion's hot-term bound is
    * unreachable routes safe and skips deep posting scans — the ed-2
    * typo batch measured −60% at 50k docs — but a query that routes
    * UNSAFE pays phase 1 AND the exact fallback (~2× unpruned), and
    * small corpora can never amortize the extra stages (the 500-doc
    * fixtures measured 1.7–2×). So `wandHotDf` engages only when |D|
    * reaches `minWandDocs` ([[Retrieval.routedHotDf]]); below it the
    * same answers serve unpruned. The per-batch production readout
    * for the expansion's df SHAPE (the head-prefix adversarial case
    * routes everything unsafe at any scale) is
    * [[Retrieval.bm25WandWeightedStats]].
    */
  private def expandedTopK(tf: DataFrame, dfTab: DataFrame,
                           stats: DataFrame, terms: DataFrame, k: Int,
                           k1: Double, b: Double, bitExact: Boolean,
                           wandHotDf: Option[Long],
                           minWandDocs: Long,
                           forward: Option[DataFrame],
                           impact: Option[DataFrame]): DataFrame =
    wandHotDf.flatMap(hd =>
      Retrieval.routedHotDf(stats, minWandDocs, Some(hd))) match {
      case Some(hd) =>
        // the WAND core consumes the term table twice (the enriched
        // build and the exact-fallback restriction) — the expansion
        // chain behind it (deletion-neighborhood correction / prefix
        // scan) is the expensive part of these queries, so it must
        // materialize once (query-batch-sized), not re-run per branch
        Retrieval.bm25TopKWandWeighted(tf, terms.localCheckpoint(),
          k, hd, k1, b, bitExact, forward, Some((dfTab, stats)), impact)
      case None =>
        Retrieval.bm25TopK(
          Retrieval.bm25ScoresWeighted(tf, dfTab, stats, terms,
            k1, b, bitExact), k)
    }

  /** Prefix-query BM25 top-k: each query's prefixes expand through
    * [[prefixMatchTerms]] into their (capped) vocabulary terms, the
    * per-query expansion set DEDUPES (overlapping prefixes), and the
    * disjunction scores at unit weight through the weighted scorer —
    * plain BM25 of the expanded term set (q212 gates the
    * composition). For constant-score Lucene semantics score the
    * expansion table yourself; this keeps the repo's one scoring
    * convention. `wandHotDf` (+ the optional `forward`/`impact`
    * layouts) routes the scoring through SCORE-EXACT weighted WAND —
    * same rows bitwise, hot posting lists skipped for safe queries
    * (q212 regates through this path; the decision economics are the
    * [[Retrieval.bm25WandWeightedStats]] readout).
    */
  def bm25TopKPrefix(tf: DataFrame, dfTab: DataFrame, stats: DataFrame,
                     prefixes: DataFrame, k: Int,
                     maxExpansions: Int = 50,
                     k1: Double = 1.2, b: Double = 0.75,
                     bitExact: Boolean = true,
                     wandHotDf: Option[Long] = None,
                     minWandDocs: Long = 20000L,
                     forward: Option[DataFrame] = None,
                     impact: Option[DataFrame] = None): DataFrame =
    expandedTopK(tf, dfTab, stats,
      prefixMatchTerms(dfTab, prefixes, maxExpansions)
        .select("queryId", "word").distinct()
        .withColumn("weight", lit(1.0)),
      k, k1, b, bitExact, wandHotDf, minWandDocs, forward, impact)

  /** Typo-tolerant BM25 top-k: [[correctedQueryTerms]] at unit weight
    * through the weighted scorer (scores are bitwise the plain BM25 of
    * the corrected query — the unit-weight contract of
    * [[Retrieval.unitQueryTerms]]). Same persisted
    * layouts, same folds, same ranking as [[Retrieval.bm25TopK]];
    * `wandHotDf` (+ `forward`/`impact`) inherits score-exact weighted
    * WAND exactly like [[bm25TopKPrefix]] (q227 regates through the
    * pruned path).
    */
  def bm25TopKFuzzy(tf: DataFrame, dfTab: DataFrame, stats: DataFrame,
                    queries: DataFrame, qidCol: String, qtextCol: String,
                    k: Int, k1: Double = 1.2, b: Double = 0.75,
                    bitExact: Boolean = true,
                    vocabVariants: Option[DataFrame] = None,
                    maxEdit: Int = 1,
                    wandHotDf: Option[Long] = None,
                    minWandDocs: Long = 20000L,
                    forward: Option[DataFrame] = None,
                    impact: Option[DataFrame] = None): DataFrame =
    expandedTopK(tf, dfTab, stats,
      correctedQueryTerms(dfTab, queries, qidCol, qtextCol,
        vocabVariants, maxEdit)
        .withColumn("weight", lit(1.0)),
      k, k1, b, bitExact, wandHotDf, minWandDocs, forward, impact)
}
