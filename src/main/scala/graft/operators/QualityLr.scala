package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{HashFunctions, OrderedFold, TextFunctions}

/** Quality classifier: logistic regression over hashed bag-of-words
  * features (the hashing trick), trained curated-vs-crawl.
  *
  * This is the published quality-filter shape for LLM corpora: label a
  * curated corpus positive and the raw pool negative, train a cheap
  * linear classifier on token features, keep high-scoring pool docs
  * (GPT-3 appendix A; LLaMA's "wikipedia-reference" CCNet filter;
  * fasttext is the usual implementation). The engine-shaped part is the
  * training loop, which is the classic broadcast-weights /
  * aggregate-gradients split:
  *
  *   - the MODEL is tiny (dim+1 doubles) — it lives on the driver and
  *     rides into each pass as a literal array (a broadcast at cluster
  *     scale);
  *   - each iteration is ONE distributed pass over the feature table:
  *     per-doc sigmoid scores (map-side), then a per-bucket gradient
  *     aggregation whose shuffle carries one row per (doc, bucket) —
  *     bounded by per-doc distinct hashed tokens, never corpus²;
  *   - the corpus is tokenized ONCE: the feature table is
  *     `localCheckpoint`ed up front (at cluster scale: persisted), so
  *     iterations re-scan dim-bounded features, not text.
  *
  * Everything folds in a value-fixed order (features by bucket id,
  * gradients by doc id, DuckDB `list_reduce` seeding = first element) so
  * the trained weights — and therefore the scores — are bit-reproducible
  * across partitionings and engines: the oracle re-derives the whole
  * training chain in SQL and must agree hash-exactly.
  *
  * Reference behavior: jaccard-mapreduce has no classifier; this is part
  * of the demanded training-data-pipeline extension surface.
  */
object QualityLr {

  /** dim weights (bucket-indexed) + intercept. Driver-sized by design. */
  case class LrModel(weights: Array[Double], bias: Double)

  /** Left fold of the [[OrderedFold.values]] seeded with the FIRST
    * element — DuckDB `list_reduce` semantics, so the oracle's fold
    * tree is literally the same (the q91 sum contract).
    */
  private def orderedFold(key: Column, value: Column): Column =
    aggregate(OrderedFold.values(value, key),
      lit(null).cast("double"),
      (acc, x) => when(acc.isNull, x).otherwise(acc + x))

  /** Canonicalize-then-window char n-gram features — the fasttext-style
    * token stream for TRAINED language ID: same-script languages share
    * a lexicon's stopwords but not their character-transition
    * statistics, so hashed char n-grams separate what a stopword
    * lexicon provably cannot (LangIdSpec). The canonical form is the
    * normalized words joined by single spaces (q54's char-shingle
    * contract), windowed by the native `CharNGramsExpr` kernel.
    */
  def charNgramTokens(n: Int): Column => Column = t =>
    graft.functions.GraftFunctions.charNGrams(
      array_join(TextFunctions.normalizedWords(t), " "), n)

  /** Hashed L1-normalized term-frequency features as
    * `(__id, __y, __j, __x)` rows: bucket `__j = md5_60(token) mod dim`,
    * `__x = occurrences(bucket) / len(doc)`. One corpus scan, one
    * tokenizer pass; the shuffle carries one row per (doc, bucket).
    * `tokenize` picks the feature stream — normalized words (the
    * quality-filter default) or [[charNgramTokens]] (language ID).
    * Docs with no alphanumeric character are excluded (no features, so
    * the classifier has nothing to condition on) — the filter runs on
    * the RAW text column so the tokenizer chain stays out of scan
    * filters, and the explode is outer for the same reason (the q23
    * scan-filter trap).
    */
  def hashedFeatures(docs: DataFrame, idCol: String, textCol: String,
                     label: Column, dim: Int,
                     tokenize: Column => Column =
                       TextFunctions.normalizedWords(_)): DataFrame = {
    require(dim >= 2, s"hashedFeatures: dim=$dim must be >= 2")
    // the char-ngram tokenizer resolves through the SQL registry
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val live = docs
      .filter(col(idCol).isNotNull && lower(col(textCol)).rlike("[a-z0-9]"))
      .select(col(idCol).as("__id"), label.cast("double").as("__y"),
        tokenize(col(textCol)).as("__ws"))
    val occ = live
      .select(col("__id"), col("__y"),
        size(col("__ws")).cast("double").as("__n"),
        explode_outer(col("__ws")).as("__w"))
      .filter(col("__w").isNotNull)
      .select(col("__id"), col("__y"), col("__n"),
        (HashFunctions.md5Long(col("__w")) % dim).cast("int").as("__j"))
    occ.groupBy(col("__id"), col("__y"), col("__n"), col("__j"))
      .agg(count(lit(1)).cast("double").as("__c"))
      .select(col("__id"), col("__y"), col("__j"),
        (col("__c") / col("__n")).as("__x"))
  }

  /** Per-doc sigmoid scores under `m` over a feature table:
    * `(__id, __y, __p)`. The model rides in as a literal array — the
    * broadcast side of the parameter-server split; the fold over a
    * doc's buckets is bucket-ordered (bit-reproducible).
    */
  private def scored(feats: DataFrame, m: LrModel): DataFrame = {
    val w = typedlit(m.weights.toSeq)
    feats
      .select(col("__id"), col("__y"),
        col("__j"), (col("__x") * element_at(w, col("__j") + 1)).as("__t"))
      .groupBy(col("__id"), col("__y"))
      .agg(orderedFold(col("__j"), col("__t")).as("__z"))
      .select(col("__id"), col("__y"),
        (lit(1.0) / (lit(1.0) +
          exp(-(col("__z") + lit(m.bias))))).as("__p"))
  }

  /** One gradient pass at `m`: `(j, grad)` with
    * `grad_j = Σ_docs x_dj (p_d − y_d)` folded in doc-id order. The join
    * key is the doc id; the per-doc residual table is corpus-row-sized
    * (two columns), the output is model-sized.
    */
  def gradient(feats: DataFrame, m: LrModel): DataFrame =
    feats
      .join(scored(feats, m)
        .select(col("__id"), (col("__p") - col("__y")).as("__r")),
        Seq("__id"))
      .groupBy(col("__j"))
      .agg(orderedFold(col("__id"), col("__x") * col("__r")).as("grad"))
      .select(col("__j").as("j"), col("grad"))

  /** Batch gradient descent: `iters` full-corpus passes, each reducing
    * to dim+1 gradient doubles on the driver (the allreduce side of the
    * parameter-server split). The feature table materializes once
    * (`localCheckpoint`; persist-to-storage at cluster scale) so
    * iterations never re-tokenize. Update rule `w ← w − lr·g/n` with no
    * regularization — the oracle replays the identical chain.
    */
  def train(docs: DataFrame, idCol: String, textCol: String, label: Column,
            dim: Int, iters: Int, lr: Double,
            tokenize: Column => Column =
              TextFunctions.normalizedWords(_)): LrModel = {
    require(iters >= 1 && lr > 0, s"train: iters=$iters lr=$lr")
    val feats = hashedFeatures(docs, idCol, textCol, label, dim, tokenize)
      .localCheckpoint()
    val n = feats.select(col("__id")).distinct().count().toDouble
    require(n > 0, "train: no live documents")
    var w = Array.fill(dim)(0.0)
    var b = 0.0
    for (_ <- 1 to iters) {
      val m = LrModel(w, b)
      val p = scored(feats, m).localCheckpoint()
      val gj = feats
        .join(p.select(col("__id"), (col("__p") - col("__y")).as("__r")),
          Seq("__id"))
        .groupBy(col("__j"))
        .agg(orderedFold(col("__id"), col("__x") * col("__r")).as("__g"))
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
      val gb = p
        .agg(orderedFold(col("__id"), col("__p") - col("__y")).as("__g"))
        .collect()(0).getDouble(0)
      w = Array.tabulate(dim)(j => w(j) - lr * gj.getOrElse(j, 0.0) / n)
      b = b - lr * gb / n
      p.unpersist()
    }
    feats.unpersist()
    LrModel(w, b)
  }

  /** Score a corpus under a trained model: `(idCol, prob)`. One corpus
    * pass — tokenize, hash, fold against the literal weight array.
    */
  def scores(docs: DataFrame, idCol: String, textCol: String,
             m: LrModel,
             tokenize: Column => Column =
               TextFunctions.normalizedWords(_)): DataFrame =
    scored(hashedFeatures(docs, idCol, textCol, lit(0.0),
      m.weights.length, tokenize), m)
      .select(col("__id").as(idCol), col("__p").as("prob"))
}
