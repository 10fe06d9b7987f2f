package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Text-quality operators for training-data curation: token counting,
  * quality scoring, language ID, fingerprinting. Pure column expressions
  * (codegen'd, portable to the SQL oracle).
  */
object TextAnalysis {

  /** Whitespace token count (duplicates counted — raw length signal). */
  def tokenCount(text: Column): Column =
    size(TextFunctions.normalizedWords(text))

  /** BPE-ish subword count: word-count + one extra token per 4 chars of
    * long words — the standard cheap approximation of subword tokenizers
    * (a word of length L costs ~ceil(L/4) tokens).
    */
  def subwordCountApprox(text: Column): Column =
    aggregate(
      TextFunctions.normalizedWords(text),
      lit(0L),
      (acc, w) => acc + greatest(lit(1L), ceil(length(w) / 4.0).cast("long")))

  /** Quality heuristics: lengths, ratios of alphabetic/digit/punctuation
    * chars, mean word length, stopword ratio, distinct-token ratio. These
    * are the standard cheap filters (C4/Gopher-style) a corpus pipeline
    * applies before anything expensive.
    */
  def qualityStats(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      // words materialize in their OWN projection: five metrics read the
      // array, and codegen subexpression elimination cannot dedupe
      // higher-order-function chains (lambda variables defeat the
      // canonical-subtree match), so inlining the tokenizer would run the
      // regex+split five times per row. A non-cheap alias referenced
      // many times also blocks CollapseProject from merging the two
      // Projects back together — one tokenizer pass, guaranteed.
      .select(col(idCol), col(textCol),
        TextFunctions.normalizedWords(col(textCol)).as("__ws"))
      .select(col(idCol) +:
        qualityColumnsOver(textCol, col("__ws"))
          .map { case (n, c) => c.as(n) }: _*)

  /** The quality metrics as (name, expression) pairs — shared by
    * `qualityStats` (keyed stats frame) and the streaming cascade's
    * inline gate (`CurationPipeline.runStreaming`), so both gate on
    * bit-identical values. This convenience form re-derives the words
    * array inside every metric that needs it; prefer materializing the
    * array once and using [[qualityColumnsOver]] (see `qualityStats`).
    */
  def qualityColumns(textCol: String): Seq[(String, Column)] =
    qualityColumnsOver(textCol, TextFunctions.normalizedWords(col(textCol)))

  /** [[qualityColumns]] over a pre-materialized words column — `words`
    * MUST be `TextFunctions.normalizedWords(col(textCol))` (or an
    * attribute bound to it) for the metrics to mean what their names
    * say.
    */
  def qualityColumnsOver(textCol: String, words: Column): Seq[(String, Column)] = {
    val t = col(textCol)
    val nChars = length(t).cast("long")
    val nWords = size(words).cast("long")
    val alpha = nChars - length(regexp_replace(t, "[a-zA-Z]", ""))
    val digit = nChars - length(regexp_replace(t, "[0-9]", ""))
    val punct = nChars - length(regexp_replace(t, "[^a-zA-Z0-9\\s]", ""))
    val stop = size(filter(words,
      w => w.isin(StopwordsEn.map(lit): _*)))
    Seq(
      "n_chars" -> nChars,
      "n_words" -> nWords,
      "n_unique" -> size(array_distinct(words)).cast("long"),
      "alpha_ratio" ->
        round(alpha.cast("double") / greatest(nChars, lit(1L)), 4),
      "digit_ratio" ->
        round(digit.cast("double") / greatest(nChars, lit(1L)), 4),
      "punct_ratio" ->
        round(punct.cast("double") / greatest(nChars, lit(1L)), 4),
      "stopword_ratio" ->
        round(stop.cast("double") / greatest(nWords, lit(1L)), 4),
      "unique_ratio" -> round(size(array_distinct(words)).cast("double") /
        greatest(nWords, lit(1L)), 4))
  }

  /** Repetition statistics (Gopher-style): for each word n-gram width in
    * `ns`, the fraction of n-gram occurrences claimed by the single most
    * frequent n-gram (`top{n}gram_frac`) and the fraction that are repeat
    * occurrences (`dup{n}gram_frac` = 1 − distinct/total). High values
    * flag boilerplate and degenerate machine-generated text — the
    * standard repetition gate a corpus pipeline applies alongside
    * `qualityStats`.
    *
    * Shape: ONE corpus scan, ONE tokenizer pass, ZERO shuffles — the
    * metrics are doc-local, so no gram ever leaves its row. Each width's
    * grams are windowed off the same materialized words attribute and
    * SORTED in place; total/distinct come from `size`/`array_distinct`
    * and the top count is the longest equal-run in the sorted array (one
    * stateful fold). An earlier formulation exploded a (id, n, gram)
    * stream and aggregated by (id, n, gram) — two corpus-scale shuffles
    * carrying gram TEXT, pure waste for per-doc statistics; the rewrite
    * took the sf0.1 bench entry from 2.4 s to sub-second and at 100 TB
    * removes the dominant cost entirely. Per-doc work is O(len·log len)
    * per width (the in-array sort) vs the old hash-shuffle of the same
    * rows. Docs shorter than `n` words have no width-n grams: their
    * width-n columns are null; docs shorter than `min(ns)` words emit no
    * row (both reproduced by the oracle). The row gate rides the winnow
    * pattern — a constant-predicate `filter` HOF under `explode_outer`
    * with the null filter on the generator OUTPUT — so no predicate ever
    * touches a computed column below the Generate (the q23 scan-filter
    * trap).
    */
  def repetitionStats(docs: DataFrame, idCol: String, textCol: String,
                      ns: Seq[Int] = Seq(2, 3)): DataFrame = {
    require(ns.nonEmpty && ns.forall(_ >= 1), s"invalid n-gram widths: $ns")
    val live = docs
      .filter(col(idCol).isNotNull && lower(col(textCol)).rlike("[a-z0-9]"))
      .select(col(idCol),
        TextFunctions.normalizedWords(col(textCol)).as("__ws"))
    // each width's sorted gram array is its own materialized attribute:
    // referenced 4x by the metrics below, which blocks CollapseProject
    // from inlining (and re-running) the n-gram chain per reference
    val grams = live.select(col(idCol) +: ns.map { n =>
      sort_array(TextFunctions.wordNgramsAllOf(col("__ws"), n))
        .as(s"__g$n")
    }: _*)
    // longest equal-run in a sorted array = the top gram's count
    def maxRun(g: Column): Column = aggregate(
      g,
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (st, x) => {
        val run = when(x === st.getField("prev"),
          st.getField("run") + lit(1L)).otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(st.getField("best"), run).as("best"))
      },
      st => st.getField("best"))
    val metrics = ns.flatMap { n =>
      val g = col(s"__g$n")
      Seq(
        when(size(g) > 0,
          round(maxRun(g).cast("double") / size(g), 4))
          .as(s"top${n}gram_frac"),
        when(size(g) > 0,
          round(lit(1.0) - size(array_distinct(g)).cast("double") / size(g),
            4))
          .as(s"dup${n}gram_frac"))
    }
    grams
      .select(col(idCol),
        explode_outer(filter(array(struct(metrics: _*)),
          _ => size(col(s"__g${ns.min}")) > 0)).as("__m"))
      .filter(col("__m").isNotNull)
      .select(col(idCol) +: ns.flatMap { n =>
        Seq(col(s"__m.top${n}gram_frac"), col(s"__m.dup${n}gram_frac"))
      }: _*)
  }

  /** Tiny per-language stopword lexicons for the n-gram/stopword language
    * heuristic. Deliberately small — language ID here is a cheap routing
    * signal, not a classifier.
    */
  val StopwordsEn = Seq("the", "and", "of", "to", "a", "in", "is", "it", "that", "for")
  val StopwordsFr = Seq("le", "la", "les", "de", "et", "un", "une", "est", "que", "pour")
  val StopwordsEs = Seq("el", "la", "los", "de", "y", "un", "una", "es", "que", "para")
  val StopwordsDe = Seq("der", "die", "das", "und", "ein", "eine", "ist", "nicht", "mit", "von")

  private val lexicons: Seq[(String, Seq[String])] = Seq(
    "en" -> StopwordsEn, "fr" -> StopwordsFr,
    "es" -> StopwordsEs, "de" -> StopwordsDe)

  /** Stopword-hit language scores + argmax language ("und" = undetermined
    * when nothing matches). Ties break lexicographically (deterministic).
    */
  def langId(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      // words in their own projection — one tokenizer pass for all four
      // lexicons (see the qualityStats comment: HOF chains defeat
      // codegen subexpression elimination)
      .select(col(idCol),
        TextFunctions.normalizedWords(col(textCol)).as("__ws"))
      .select(col(idCol) +:
        langHitColumnsOver(col("__ws")).map { case (n, c) => c.as(n) }: _*)
      .withColumn("lang_pred", langPredFromHits)

  /** Per-lexicon stopword-hit counts as (name, expression) pairs; the
    * hits must be materialized as real columns BEFORE `langPredFromHits`
    * references them (the when-chain reads attributes, not re-evaluated
    * tokenizer subtrees). Re-derives the words array per lexicon; prefer
    * materializing it once and using [[langHitColumnsOver]].
    */
  def langHitColumns(textCol: String): Seq[(String, Column)] =
    langHitColumnsOver(TextFunctions.normalizedWords(col(textCol)))

  /** [[langHitColumns]] over a pre-materialized words column (`words`
    * must be the normalized-words array of the scored text).
    */
  def langHitColumnsOver(words: Column): Seq[(String, Column)] =
    lexicons.map { case (lang, lex) =>
      s"hits_$lang" ->
        size(filter(words, w => w.isin(lex.map(lit): _*))).cast("long")
    }

  /** Argmax language over the `hits_*` columns ("und" when nothing
    * matches); ties break lexicographically (deterministic).
    */
  def langPredFromHits: Column = {
    val best = lexicons.map { case (lang, _) => col(s"hits_$lang") }
      .reduce((a, b) => greatest(a, b))
    // first language in lexicographic order reaching the max score
    lexicons.sortBy(_._1).foldRight(lit("und"): Column) {
      case ((lang, _), els) =>
        when(col(s"hits_$lang") === best && best > 0, lit(lang)).otherwise(els)
    }
  }

  /** Major writing-system codepoint ranges, in tie-break precedence
    * order. EXPLICIT ranges, not `\p{script=…}` classes: the `\x{…}`
    * hex syntax and these BMP intervals mean exactly the same thing to
    * Java regex and RE2, while script-property tables track each
    * engine's Unicode version — the same portability discipline as the
    * q99/q148 whitespace classes. Latin covers ASCII letters plus the
    * Latin-1/Extended-A/B accents; CJK covers kana plus unified
    * ideographs (one bucket — the langid layer, not the script layer,
    * separates Japanese from Chinese).
    */
  val ScriptRanges: Seq[(String, String)] = Seq(
    // the Latin-1 accent span excludes U+00D7 (×) and U+00F7 (÷) — the
    // two math symbols embedded in the letter block
    "latin" -> ("[A-Za-z\\x{00C0}-\\x{00D6}\\x{00D8}-\\x{00F6}" +
      "\\x{00F8}-\\x{024F}]"),
    "cyrillic" -> "[\\x{0400}-\\x{04FF}]",
    "greek" -> "[\\x{0370}-\\x{03FF}]",
    "cjk" -> "[\\x{3040}-\\x{30FF}\\x{4E00}-\\x{9FFF}]",
    "arabic" -> "[\\x{0600}-\\x{06FF}]",
    "hangul" -> "[\\x{AC00}-\\x{D7AF}]",
    "devanagari" -> "[\\x{0900}-\\x{097F}]")

  /** Per-document writing-system profile: one `n_<script>` character
    * count per [[ScriptRanges]] entry (count = length minus the length
    * with that class deleted — no explode, no per-char rows),
    * `n_chars`, the `dominant_script` ("none" when no script character
    * occurs; ties go to the EARLIER range in precedence order), and
    * `dominant_ratio` (dominant count / total chars). The script gate
    * a multilingual curation cascade runs BEFORE stopword langid:
    * langid's lexicons can only separate languages it knows, while a
    * script mismatch (Cyrillic text in an "English" source) is
    * detectable from raw codepoints in one scan-bound projection.
    */
  def scriptProfile(docs: DataFrame, idCol: String,
                    textCol: String): DataFrame = {
    val t = col(textCol)
    val counts = ScriptRanges.map { case (name, pat) =>
      name -> (length(t) - length(regexp_replace(t, pat, ""))).cast("long")
    }
    val withCounts = docs
      .filter(col(idCol).isNotNull && t.isNotNull)
      .select(col(idCol) +: (length(t).cast("long").as("n_chars") +:
        counts.map { case (n, c) => c.as(s"n_$n") }): _*)
    val gmax = greatest(ScriptRanges.map { case (n, _) => col(s"n_$n") }: _*)
    // struct argmax: count desc, then NEGATED list index — the earlier
    // range wins ties (indexes are unique, so the name field never
    // decides)
    val dom = greatest(ScriptRanges.zipWithIndex.map { case ((n, _), i) =>
      struct(col(s"n_$n").as("n"), lit(-i).as("p"), lit(n).as("s"))
    }: _*)
    withCounts
      .withColumn("dominant_script",
        when(gmax === 0L, lit("none")).otherwise(dom.getField("s")))
      .withColumn("dominant_ratio",
        when(col("n_chars") === 0L, lit(0.0))
          .otherwise(gmax.cast("double") / col("n_chars").cast("double")))
  }

  /** TF-IDF and BM25 term scores over the corpus inverted index — the
    * classic relevance weights a text engine serves (and the input to
    * keyword extraction / sparse retrieval).
    *
    *   tf-idf = tf · (ln((N+1)/(df+1)) + 1)          (smoothed idf)
    *   bm25   = ln((N−df+0.5)/(df+0.5) + 1) ·
    *            tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    *
    * Shape: ONE tokenizer pass — the (doc, word) tf table is the root,
    * and everything else derives from it: df = per-word row count,
    * doc length = per-doc Σtf (every token of a live doc is in tf), and
    * the single-row N/avgdl scalars come off the length table, joined
    * back via broadcast cross join. No driver-side action, one lazy
    * DAG, and the corpus scan + regex tokenizer run once instead of
    * once per derived table. Shuffle keys are (doc, word), word, and
    * doc; partitions stay balanced under document-length skew.
    */
  /** PMI collocations (Church & Hanks'90) at DOCUMENT co-occurrence
    * granularity: `(word_a, word_b, n_both, df_a, df_b, pmi)` for
    * every unordered distinct-word pair co-occurring in at least
    * `minCount` documents, with
    * `pmi = ln(N · c(a,b) / (df(a) · df(b)))` over document counts —
    * the classic corpus-analytics association table (collocation
    * discovery, synonym/related-term mining for query expansion,
    * boilerplate phrase detection). Positive pmi = the pair co-occurs
    * more than independence predicts.
    *
    * Scale shape: the pair join is per-DOCUMENT quadratic in distinct
    * words, so the df prune comes FIRST and is load-bearing twice
    * over — `c(a,b) ≤ min(df_a, df_b)`, so words with `df < minCount`
    * cannot form a qualifying pair and leave before the self-join
    * (the support prune is exact, not a heuristic), and
    * `maxDocFrequency` drops stop words whose pair rows would
    * dominate the shuffle for pairs that score ≈ 0 pmi anyway
    * (opt-in, result-changing, the [[graft.operators.Retrieval]]
    * convention). Long-document skew beyond that is AQE's split +
    * the caller's length cap ([[graft.operators.Chunking]]).
    * Tokenizer passes: the document count reads the GUARD only (a
    * guarded doc always has ≥ 1 token, so N needs no tokens), and
    * the two pair-join sides are the identical subplan (one
    * ReusedExchange scan) — leaving TWO tokenizer runs, the df
    * aggregate and the join input; callers looping over parameter
    * settings should land the distinct `(docId, word)` table first.
    */
  def pmiCollocations(docs: DataFrame, idCol: String, textCol: String,
                      minCount: Long = 2L,
                      maxDocFrequency: Option[Long] = None): DataFrame = {
    require(minCount >= 1, s"minCount >= 1: $minCount")
    val guarded = docs
      .filter(col(idCol).isNotNull && lower(col(textCol)).rlike("[a-z0-9]"))
    val dw = guarded
      .select(col(idCol).as("docId"),
        explode_outer(TextFunctions.normalizeTokens(col(textCol)))
          .as("word"))
      .filter(col("word").isNotNull)
    // N off the guard alone — every guarded doc has >= 1 token (the
    // rlike guarantees an alphanumeric char), so this branch never
    // pays the tokenizer
    val nDocs = guarded
      .agg(countDistinct(col(idCol)).cast("double").as("n"))
    val dft = dw.groupBy("word").agg(count(lit(1)).as("df"))
    val kept = maxDocFrequency
      .map(cap => dft.filter(col("df") <= cap)).getOrElse(dft)
      .filter(col("df") >= minCount)
    val dwk = dw.join(kept.select("word"), Seq("word"), "left_semi")
    val pairs = dwk.select(col("docId"), col("word").as("word_a"))
      .join(dwk.select(col("docId"), col("word").as("word_b")),
        Seq("docId"))
      .filter(col("word_a") < col("word_b"))
      .groupBy(col("word_a"), col("word_b"))
      .agg(count(lit(1)).as("n_both"))
      .filter(col("n_both") >= minCount)
    pairs
      .join(kept.select(col("word").as("word_a"), col("df").as("df_a")),
        Seq("word_a"))
      .join(kept.select(col("word").as("word_b"), col("df").as("df_b")),
        Seq("word_b"))
      .crossJoin(broadcast(nDocs))
      .select(col("word_a"), col("word_b"), col("n_both"),
        col("df_a"), col("df_b"),
        log(col("n") * col("n_both").cast("double") /
          (col("df_a").cast("double") * col("df_b").cast("double")))
          .as("pmi"))
  }

  /** Windowed co-occurrence accumulation (the GloVe §4.2 corpus pass;
    * word2vec's count matrix): over a positional posting table
    * (`(docId, pos, word)` — [[graft.operators.Retrieval.positionalPostings]]'
    * layout), every occurrence pair within `window` tokens contributes
    * `1/distance` to its unordered word pair — the harmonic distance
    * weighting GloVe trains on. Returns
    * `(word_a, word_b, n_events, cooc)` (`word_a ≤ word_b`;
    * same-word pairs `X_aa` included, the GloVe convention) for pairs
    * with at least `minCount` co-occurrence events.
    *
    * Scale shape: the band self-join is the [[graft.operators.Retrieval.phraseMatches]]
    * trick — occurrences explode `window` offsets and EQUI-join on
    * `(docId, pos + d)`, never an inequality join — so the event
    * stream is `tokens × window` rows with map-side-combinable
    * integer counts. The harmonic Σ folds per pair over the ≤ window
    * PER-DISTANCE counts (a d-keyed [[OrderedFold.sum]]) WITHOUT
    * collecting events:
    * the only collected list is window-sized. `maxOccFrequency` drops
    * stop words (occurrence count above the cap) before the join —
    * the same hot-word shed as [[pmiCollocations]]'s df cap, opt-in
    * and result-changing.
    */
  def windowedCooccurrence(posts: DataFrame, window: Int,
                           minCount: Long = 1L,
                           maxOccFrequency: Option[Long] = None)
      : DataFrame = {
    require(window >= 1, s"window >= 1: $window")
    require(minCount >= 1, s"minCount >= 1: $minCount")
    val p = maxOccFrequency match {
      case Some(cap) => posts.join(
        posts.groupBy("word").agg(count(lit(1)).as("__occ"))
          .filter(col("__occ") <= cap).select("word"),
        Seq("word"), "left_semi")
      case None => posts
    }
    val events = p
      .select(col("docId"), col("word").as("__wa"), col("pos"),
        explode(sequence(lit(1L), lit(window.toLong))).as("__d"))
      .select(col("docId"), col("__wa"), col("__d"),
        (col("pos") + col("__d")).as("pos"))
      .join(p.select(col("docId"), col("pos"), col("word").as("__wb")),
        Seq("docId", "pos"))
    events
      .select(least(col("__wa"), col("__wb")).as("word_a"),
        greatest(col("__wa"), col("__wb")).as("word_b"), col("__d"))
      .groupBy(col("word_a"), col("word_b"), col("__d"))
      .agg(count(lit(1)).as("__n"))
      .groupBy(col("word_a"), col("word_b"))
      .agg(sum(col("__n")).as("n_events"),
        OrderedFold.sum(col("__n").cast("double") / col("__d").cast("double"),
          col("__d"), col("__n")).as("cooc"))
      .filter(col("n_events") >= minCount)
  }

  def termScores(docs: DataFrame, idCol: String, textCol: String,
                 k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    // the id-not-null filter up front keeps every consumer of `tf`
    // looking at the SAME subtree: the final join on idCol injects
    // isnotnull(id) into only its own branch, and that one-filter
    // difference breaks exchange canonicalization — without this, the
    // scan + tokenizer + (doc, word) aggregation run twice
    val live = docs.filter(col(idCol).isNotNull &&
        lower(col(textCol)).rlike("[a-z0-9]"))
      .select(col(idCol), TextFunctions.normalizedWords(col(textCol)).as("__ws"))
    // outer ≡ inner (__ws non-empty after the rlike filter); inner would
    // infer size/isnotnull filters that pushdown expands into a second
    // tokenizer evaluation inside the scan filter
    val posts = live.select(col(idCol), explode_outer(col("__ws")).as("word"))
    val tf = posts.groupBy(col(idCol), col("word"))
      .agg(count(lit(1)).as("tf"))
    val dft = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val dl = tf.groupBy(col(idCol)).agg(sum(col("tf")).as("dl"))
    val scalars = dl.agg(count(lit(1)).cast("double").as("n_docs"),
      avg(col("dl")).as("avgdl"))
    val tfD = col("tf").cast("double")
    val idf = log((col("n_docs") + 1) / (col("df") + 1)) + 1
    val bmIdf = log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1)
    val bmTf = tfD * lit(k1 + 1) /
      (tfD + lit(k1) * (lit(1 - b) + lit(b) * col("dl").cast("double")
        / col("avgdl")))
    tf.join(dft, "word")
      .join(dl, idCol)
      .crossJoin(broadcast(scalars))
      .select(col(idCol), col("word"), col("tf"),
        (tfD * idf).as("tfidf"), (bmIdf * bmTf).as("bm25"))
  }

  /** Content-defined fingerprint row per doc: canonical text md5 plus the
    * order-sensitive rolling hash — the pair used for shift-tolerant
    * near-dup triage.
    */
  def fingerprints(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val canon = concat_ws(" ", TextFunctions.normalizedWords(col(textCol)))
    docs.select(
      col(idCol),
      md5(canon).as("canon_md5"),
      HashFunctions.rollingFingerprint(canon).as("rolling_fp"))
  }

  /** Winnowing fingerprints (Schleimer et al. 2003 — the MOSS scheme):
    * hash every char k-gram of the canonical text, slide a window of
    * `w` consecutive hashes, keep each window's minimum, emit the
    * distinct selections. Any substring match of length ≥ k + w − 1 is
    * guaranteed to share a fingerprint while only ~2/(w+1) of the
    * k-gram hashes are stored — the density/guarantee dial an overlap
    * detector tunes. Fingerprints join like any posting key (equi-join
    * on `fingerprint` = candidate overlap pairs), so the downstream
    * shapes are q35/q46's.
    *
    * Scale shape: entirely row-local array work (sequence → substr →
    * hash → window-min → distinct) in one codegen projection — the only
    * generator is the final fingerprint explode, and there is no
    * shuffle at all; memory is bounded by document length. Docs shorter
    * than w windows emit the minimum of what they have, so every doc
    * with ≥ k canonical chars is represented. The guards are
    * null-absorbing `when`s + `explode_outer` (not filters on computed
    * columns) so constraint inference cannot clone the tokenizer chain
    * into the scan (the q21 trap).
    */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
                         k: Int = 5, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1, s"invalid winnowing params k=$k w=$w")
    GraftFunctions.register(docs.sparkSession)
    val canon = concat_ws(" ", TextFunctions.normalizedWords(col(textCol)))
    docs
      .filter(col(idCol).isNotNull)
      // the kernel returns an EMPTY array for sub-k docs (never null),
      // so outer explode emits exactly one null row per such doc and
      // the filter above the Generate removes it — no predicate ever
      // touches a computed column below the generator
      .select(col(idCol),
        explode_outer(GraftFunctions.winnow(canon, k, w)).as("fingerprint"))
      .filter(col("fingerprint").isNotNull)
  }

  /** Candidate overlap pairs from winnowing fingerprints: documents
    * sharing ≥ `minShared` selected fingerprints — the MOSS detection
    * join. By the winnowing guarantee every shared canonical substring
    * of length ≥ k + w − 1 contributes a shared fingerprint, so real
    * overlaps surface with k-gram selectivity tuned by `k`.
    *
    * Scale shape: the pair generation is a posting-list equi-join on
    * `fingerprint` (the q35 shape — shuffle by fingerprint, never
    * all-pairs), and `maxDocFrequency > 0` prunes stop-gram-like
    * fingerprints first: the HOT table is bounded (≤ n_fps/maxDf rows),
    * materialized once (`localCheckpoint`) and broadcast anti-joined, so
    * the df aggregation runs once, not once per self-join alias, and no
    * boilerplate fingerprint can quadratically inflate a join key.
    * Leaving `maxDocFrequency` at 0 keeps every fingerprint — only safe
    * when the corpus is known boilerplate-free.
    */
  def winnowOverlapPairs(docs: DataFrame, idCol: String, textCol: String,
                         k: Int = 16, w: Int = 8, minShared: Long = 2L,
                         maxDocFrequency: Long = 0L): DataFrame = {
    val fps = winnowFingerprints(docs, idCol, textCol, k, w)
    val pruned =
      if (maxDocFrequency <= 0L) fps
      else {
        val hot = fps.groupBy("fingerprint")
          .agg(count(lit(1)).as("__df"))
          .filter(col("__df") > maxDocFrequency)
          .select("fingerprint")
          .localCheckpoint()
        fps.join(broadcast(hot), Seq("fingerprint"), "left_anti")
      }
    pruned.select(col("fingerprint"), col(idCol).as("id_a"))
      .join(pruned.select(col("fingerprint"), col(idCol).as("id_b")),
        "fingerprint")
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= minShared)
  }

  /** The pure-builtin composition `winnowFingerprints` is bit-equivalent
    * to (spec-pinned); session-independent but interpreted — ~len(doc)
    * md5→hex→conv round-trips and window slices per row.
    */
  private[graft] def winnowFingerprintsComposed(
      docs: DataFrame, idCol: String, textCol: String,
      k: Int = 5, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1, s"invalid winnowing params k=$k w=$w")
    val canon = concat_ws(" ", TextFunctions.normalizedWords(col(textCol)))
    val emptyLongs = array().cast("array<bigint>")
    docs
      .filter(col(idCol).isNotNull)
      .select(col(idCol), canon.as("__c"))
      .select(col(idCol),
        when(length(col("__c")) >= k,
          transform(sequence(lit(0), length(col("__c")) - lit(k)),
            p => HashFunctions.md5Long(
              col("__c").substr(p + lit(1), lit(k)))))
          .otherwise(emptyLongs).as("__h"))
      .select(col(idCol),
        explode_outer(array_distinct(
          when(size(col("__h")) > 0,
            transform(
              sequence(lit(0), greatest(size(col("__h")) - lit(w), lit(0))),
              i => array_min(slice(col("__h"), i + lit(1), lit(w)))))
            .otherwise(emptyLongs))).as("fingerprint"))
      .filter(col("fingerprint").isNotNull)
  }

  /** Corpus-relative quality gate: keep documents whose `metric` (one of
    * the [[qualityColumns]] names) sits at or above the corpus-wide
    * `q`-quantile of that metric. Absolute thresholds drift as sources
    * change; a percentile gate ("drop the worst quartile") tracks the
    * corpus — the usual form of a pretraining quality filter.
    *
    * The threshold is ONE exact interpolated-percentile scalar (the q15
    * convention — deterministic and engine-portable, unlike
    * approx_percentile's sketch), rounded to 6 dp so a last-ulp
    * interpolation difference can never flip a boundary row, and joined
    * back by broadcast: the corpus never shuffles — one stats pass for
    * the quantile, one filtered pass for the verdict. The threshold
    * filter is null-absorbing so constraint inference cannot push an
    * isnotnull(<metric chain>) into the scan (the q23 trap).
    */
  def qualityPercentileGate(docs: DataFrame, idCol: String,
                            textCol: String,
                            metric: String = "alpha_ratio",
                            q: Double = 0.25): DataFrame = {
    require(q > 0.0 && q < 1.0, s"quantile q=$q must be in (0,1)")
    require(qualityColumns(textCol).exists(_._1 == metric),
      s"unknown quality metric '$metric'")
    val stats = qualityStats(docs, idCol, textCol)
      .select(col(idCol), col(metric))
    val thr = stats.agg(
      round(expr(s"percentile($metric, $q)"), 6).as("threshold"))
    stats.crossJoin(broadcast(thr))
      .filter(coalesce(col(metric), lit(Double.NegativeInfinity))
        >= col("threshold"))
  }

  /** Token-budget corpus selection: keep the maximal greedy prefix of
    * documents in (quality DESC, id ASC) order whose cumulative token
    * count stays within `budgetTokens` — the "fill a 10B-token budget
    * with the best documents" step every pretraining data plan runs
    * after scoring. Whole documents only (no partial doc). Output:
    * `(id, quality, n_tokens)` for the kept set.
    *
    * `metric` is a [[qualityColumns]] key (rounded to 4 dp, the q88
    * convention — quantized scores keep the value table small and the
    * boundary engine-portable).
    *
    * Scale shape: NO global window over the corpus (the classic
    * single-partition trap for cumulative sums). Instead: ONE stats
    * pass to `(id, quality, n_tokens)` — materialized via
    * `localCheckpoint`, since three plan branches (the score table,
    * the above-boundary filter, the boundary group) would otherwise
    * each re-scan and re-tokenize the corpus; a VALUE-KEYED aggregation
    * `(quality, sum tokens)` — bounded by distinct quantized scores,
    * model-sized — carries the cumulative sum; the boundary score
    * (first to overflow the budget) comes back as one broadcast
    * scalar; docs strictly above it are kept with no further shuffle,
    * and only the single boundary-score GROUP pays an id-ordered
    * window (partitioned by the score value, so it shuffles one
    * group's rows, never the corpus).
    */
  def tokenBudgetSelect(docs: DataFrame, idCol: String, textCol: String,
                        budgetTokens: Long,
                        metric: String = "alpha_ratio"): DataFrame = {
    require(budgetTokens >= 0, s"budgetTokens=$budgetTokens must be >= 0")
    require(qualityColumns(textCol).exists(_._1 == metric),
      s"unknown quality metric '$metric'")
    import org.apache.spark.sql.expressions.Window
    val scored = qualityStats(docs, idCol, textCol)
      .select(col(idCol), round(col(metric), 4).as("quality"),
        col("n_words").as("n_tokens"))
      // null ids have no deterministic greedy position; null scores
      // have no rank — both out (the oracle filters the same rows)
      .filter(col(idCol).isNotNull && col("quality").isNotNull)
      .localCheckpoint()
    // model-sized (distinct quantized score values): the single-
    // partition window here is over the VALUE table, not the corpus
    val wq = Window.orderBy(col("quality").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val perQ = scored.groupBy(col("quality"))
      .agg(sum(col("n_tokens")).as("__qn"))
      .withColumn("__cum", sum(col("__qn")).over(wq))
    // boundary = highest score whose cumulative total overflows the
    // budget; everything strictly above it is fully kept
    val boundary = perQ
      .agg(
        max(when(col("__cum") > budgetTokens, col("quality"))).as("__bq"),
        sum(when(col("__cum") <= budgetTokens, col("__qn")))
          .as("__kept_above"))
    val b = broadcast(boundary)
    val above = scored.crossJoin(b)
      .filter(col("__bq").isNull || col("quality") > col("__bq"))
      .select(col(idCol), col("quality"), col("n_tokens"))
    // only the boundary group pays an ordered window — partitioned by
    // the score value, so one group's rows shuffle, never the corpus
    val wb = Window.partitionBy(col("quality")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val atBoundary = scored.crossJoin(b)
      .filter(col("__bq").isNotNull && col("quality") === col("__bq"))
      .withColumn("__c", sum(col("n_tokens")).over(wb))
      .filter(col("__c") + coalesce(col("__kept_above"), lit(0L))
        <= budgetTokens)
      .select(col(idCol), col("quality"), col("n_tokens"))
    above.unionAll(atBoundary)
  }

  /** Unigram language-model score (CCNet-style perplexity proxy): train
    * token counts on `model`, score each `docs` row by its add-one-
    * smoothed average token log-probability. Low scores flag documents
    * unlike the reference corpus — the cheap portable stand-in for the
    * KenLM perplexity filter.
    *
    * p(t) = (count(t) + 1) / (N + V) with N = model token occurrences
    * and V = model vocabulary size; smoothing keeps out-of-vocabulary
    * tokens finite when scoring a different corpus than the model was
    * counted on.
    *
    * Scale shape: the model side reduces to one vocabulary-sized count
    * table (shuffled by token); the scored side aggregates to (doc,
    * token) with map-side combine, meets the counts in a token-keyed
    * equi-join, and re-aggregates by doc. The two global scalars ride a
    * broadcast cross join. Per-doc sums are token-keyed
    * [[OrderedFold.sum]]s, reproducible across partitionings AND
    * engines.
    */
  def unigramLogProb(model: DataFrame, docs: DataFrame, idCol: String,
                     textCol: String): DataFrame = {
    val (counts, scalars) = modelCounts(model, textCol, "unigramLogProb")
    val occ = docOcc(docs, idCol, textCol)
    val contrib = occ.join(counts, Seq("word"), "left")
      .crossJoin(broadcast(scalars))
      .select(col(idCol), col("word"), col("__occ"),
        (col("__occ").cast("double") *
          log((coalesce(col("__c"), lit(0L)).cast("double") + lit(1.0)) /
            (col("__n_occ") + col("__n_vocab")))).as("__lp"))
    contrib.groupBy(col(idCol))
      .agg(sum(col("__occ")).as("n_tokens"),
        OrderedFold.sum(col("__lp"), col("word")).as("sum_logprob"))
      .withColumn("avg_logprob",
        col("sum_logprob") / col("n_tokens").cast("double"))
  }

  /** Bigram language-model score with stupid backoff (Brants et al.,
    * "Large Language Models in Machine Translation"): train bigram and
    * unigram counts on `model`, score each `docs` row by its average
    * bigram log-score. Seen bigrams score the conditional MLE
    * `c2(w1,w2) / c1(w1)`; unseen bigrams back off to
    * `backoff * (c1(w2)+1)/(N+V)` — the add-one-smoothed unigram of
    * [[unigramLogProb]] scaled by the (unnormalized) backoff factor,
    * which is exactly why it is "stupid": no discounting mass to
    * renormalize, the published trade for corpus-scale counting.
    *
    * Scale shape: the model reduces to a bigram count table (bounded by
    * distinct ADJACENT pairs actually seen — far under |V|², Zipf
    * again) and the unigram table; the scored side aggregates to
    * (doc, w1, w2) with map-side combine, meets the counts in
    * pair-/token-keyed equi-joins, and re-aggregates by doc. The two
    * smoothing scalars ride a broadcast cross join, and per-doc sums
    * are pair-keyed [[OrderedFold.sum]]s. Documents with fewer than
    * two tokens have no bigrams and are absent from the output.
    */
  def bigramLogProb(model: DataFrame, docs: DataFrame, idCol: String,
                    textCol: String, backoff: Double = 0.4): DataFrame = {
    require(backoff > 0.0, s"backoff=$backoff must be positive")
    val (uni, scalars) = modelCounts(model, textCol, "bigramLogProb")
    val big = model
      .filter(lower(col(textCol)).rlike("[a-z0-9]"))
      .select(TextFunctions.normalizedWords(col(textCol)).as("__ws"))
      .select(explode_outer(adjacentPairs(col("__ws"))).as("__p"))
      .where(col("__p").isNotNull)
      .groupBy(col("__p.w1").as("w1"), col("__p.w2").as("w2"))
      .agg(count(lit(1)).as("__c2"))
    val occ = docs
      .filter(col(idCol).isNotNull && lower(col(textCol)).rlike("[a-z0-9]"))
      .select(col(idCol), TextFunctions.normalizedWords(col(textCol)).as("__ws"))
      .select(col(idCol), explode_outer(adjacentPairs(col("__ws"))).as("__p"))
      .where(col("__p").isNotNull)
      .groupBy(col(idCol), col("__p.w1").as("w1"), col("__p.w2").as("w2"))
      .agg(count(lit(1)).as("__occ"))
    // a seen bigram implies a seen w1, so the MLE branch never divides
    // by null; the backoff branch parenthesizes exactly as the oracle
    // does (ratio first, then the backoff scale) for bit parity
    val contrib = occ
      .join(big, Seq("w1", "w2"), "left")
      .join(uni.select(col("word").as("w1"), col("__c").as("__cp")),
        Seq("w1"), "left")
      .join(uni.select(col("word").as("w2"), col("__c").as("__cc")),
        Seq("w2"), "left")
      .crossJoin(broadcast(scalars))
      .select(col(idCol), col("w1"), col("w2"),
        (col("__occ").cast("double") *
          when(col("__c2").isNotNull,
            log(col("__c2").cast("double") / col("__cp").cast("double")))
            .otherwise(log(lit(backoff) *
              ((coalesce(col("__cc"), lit(0L)).cast("double") + lit(1.0)) /
                (col("__n_occ") + col("__n_vocab")))))).as("__lp"),
        col("__occ"))
    contrib.groupBy(col(idCol))
      .agg(sum(col("__occ")).as("n_bigrams"),
        OrderedFold.sum(col("__lp"), col("w1"), col("w2")).as("sum_logprob"))
      .withColumn("avg_logprob",
        col("sum_logprob") / col("n_bigrams").cast("double"))
  }

  /** Adjacent word pairs of a word-array column as `(w1, w2)` structs —
    * two shifted slices zipped (the [[graft.operators.Bpe.pairStats]]
    * shape). Single-word arrays yield an empty list.
    */
  private def adjacentPairs(ws: Column): Column =
    zip_with(
      slice(ws, lit(1), size(ws) - 1),
      slice(ws, lit(2), size(ws) - 1),
      (l, r) => struct(l.as("w1"), r.as("w2")))

  /** One-pass corpus composition report: documents, tokens, and mean
    * document length by (source × predicted language), with rollup
    * subtotals — the observability table an ingest run over a new
    * corpus prints first, and the input to mixture planning (q47/q86
    * consume per-source weights; this is where those weights come
    * from).
    *
    * Scale shape: ONE narrow projection computes the token count and
    * language hits per document (no shuffle, no second tokenizer
    * pass), then a rollup aggregation whose distinct-group count is
    * bounded by |sources| × |languages| — map-side partial aggregation
    * does nearly all the work and the shuffle carries only group
    * states, never rows.
    */
  def corpusReport(docs: DataFrame, textCol: String,
                   srcCol: String): DataFrame = {
    val perDoc = docs
      // one tokenizer pass feeds the token count and all four lexicons
      // (see the qualityStats comment)
      .select(col(srcCol),
        TextFunctions.normalizedWords(col(textCol)).as("__ws"))
      .select(Seq(col(srcCol), size(col("__ws")).cast("long").as("__n_words")) ++
        langHitColumnsOver(col("__ws")).map { case (n, c) => c.as(n) }: _*)
      .withColumn("lang_pred", langPredFromHits)
    perDoc.rollup(col(srcCol), col("lang_pred"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__n_words")).as("n_tokens"),
        round(avg(col("__n_words")), 4).as("avg_tokens"))
  }

  /** One unigram model: `(word, __c)` counts plus the smoothing scalars
    * `(__n_occ, __n_vocab)` as a one-row frame. Fails fast on a model
    * with zero alphanumeric tokens: otherwise the occurrence sum is
    * null, every downstream score nulls out, and a `score >= floor`
    * gate silently drops the whole corpus. The assert is folded into
    * the scalar value itself (null when it holds) so column pruning
    * cannot discard the check.
    */
  private def modelCounts(model: DataFrame, textCol: String,
                          what: String): (DataFrame, DataFrame) = {
    val counts = model
      .filter(lower(col(textCol)).rlike("[a-z0-9]"))
      .select(TextFunctions.normalizedWords(col(textCol)).as("__ws"))
      // outer ≡ inner after the rlike filter; inner explode would infer
      // size/isnotnull filters that re-run the tokenizer in the scan
      .select(explode_outer(col("__ws")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("__c"))
    val scalars = counts.agg(
        sum(col("__c")).cast("double").as("__s_occ"),
        count(lit(1)).cast("double").as("__n_vocab"))
      .select(
        (coalesce(col("__s_occ"), lit(0.0)) +
          coalesce(
            assert_true(col("__n_vocab") > 0,
              lit(s"$what: model corpus has no alphanumeric tokens"))
              .cast("double"),
            lit(0.0))).as("__n_occ"),
        col("__n_vocab"))
    (counts, scalars)
  }

  /** Per-(doc, token) occurrence counts for the scored corpus — the one
    * tokenizer pass every model-comparison scorer shares.
    */
  private def docOcc(docs: DataFrame, idCol: String,
                     textCol: String): DataFrame =
    docs
      .filter(col(idCol).isNotNull && lower(col(textCol)).rlike("[a-z0-9]"))
      .select(col(idCol), TextFunctions.normalizedWords(col(textCol)).as("__ws"))
      .select(col(idCol), explode_outer(col("__ws")).as("word"))
      .groupBy(col(idCol), col("word")).agg(count(lit(1)).as("__occ"))

  /** CCNet-style perplexity bucketing: score every document with the
    * [[unigramLogProb]] proxy against `model`, then split the corpus
    * into `head` / `middle` / `tail` terciles of average token
    * log-probability (head = most model-like = lowest perplexity — the
    * slice CCNet keeps for LM pretraining; tail = least model-like).
    * The relative split complements the absolute-floor LM gate: it
    * adapts to the corpus instead of needing a calibrated threshold.
    *
    * Scale shape: scoring is [[unigramLogProb]]'s shape, materialized
    * ONCE (`localCheckpoint` — the scored table is one slim row per
    * doc) so the tokenize-join-fold pipeline is not re-evaluated for
    * the threshold pass. The two cut points are ONE exact interpolated-
    * percentile aggregation over that table, rounded to 6 dp (the q88
    * convention — a last-ulp interpolation difference can never flip a
    * boundary row, and the per-doc scores themselves are bit-identical
    * across engines by the ordered-fold contract) and broadcast back as
    * scalars; the corpus never reshuffles.
    */
  def perplexityBuckets(model: DataFrame, docs: DataFrame, idCol: String,
                        textCol: String): DataFrame = {
    val scored = unigramLogProb(model, docs, idCol, textCol)
      .localCheckpoint()
    val third = 1.0 / 3
    val thr = scored.agg(
      round(expr(s"percentile(avg_logprob, ${third})"), 6).as("__t_lo"),
      round(expr(s"percentile(avg_logprob, ${2 * third})"), 6).as("__t_hi"))
    scored.crossJoin(broadcast(thr))
      .withColumn("bucket",
        when(col("avg_logprob") >= col("__t_hi"), lit("head"))
          .when(col("avg_logprob") >= col("__t_lo"), lit("middle"))
          .otherwise(lit("tail")))
      .drop("__t_lo", "__t_hi")
  }

  /** DSIR-style importance weight (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): per-document
    * log-likelihood ratio between a target-domain unigram model and a
    * raw-pool unigram model, both add-one smoothed. Positive = the
    * document reads more like the target than the generic pool;
    * selection is then a deterministic threshold / top-k over
    * `log_weight`. The published method hashes n-gram features into a
    * fixed-width bag; the unigram specialization keeps the oracle
    * portable while the data-flow shape (two count tables + one scored
    * pass) is identical.
    *
    * Scale shape: ONE tokenizer pass over the scored corpus (not one
    * per model) — the (doc, token) table meets BOTH vocabulary-sized
    * count tables in token-keyed left joins, all four smoothing
    * scalars ride one broadcast, and the per-doc sum is a token-keyed
    * [[OrderedFold.sum]] ([[unigramLogProb]]'s convention).
    */
  def dsirWeights(target: DataFrame, raw: DataFrame, docs: DataFrame,
                  idCol: String, textCol: String): DataFrame = {
    val (ct, st) = modelCounts(target, textCol, "dsirWeights(target)")
    val (cr, sr) = modelCounts(raw, textCol, "dsirWeights(raw)")
    val scalars = st
      .select(col("__n_occ").as("__t_occ"), col("__n_vocab").as("__t_vocab"))
      .crossJoin(sr.select(
        col("__n_occ").as("__r_occ"), col("__n_vocab").as("__r_vocab")))
    val contrib = docOcc(docs, idCol, textCol)
      .join(ct.withColumnRenamed("__c", "__ct"), Seq("word"), "left")
      .join(cr.withColumnRenamed("__c", "__cr"), Seq("word"), "left")
      .crossJoin(broadcast(scalars))
      .select(col(idCol), col("word"), col("__occ"),
        (col("__occ").cast("double") *
          (log((coalesce(col("__ct"), lit(0L)).cast("double") + lit(1.0)) /
            (col("__t_occ") + col("__t_vocab"))) -
           log((coalesce(col("__cr"), lit(0L)).cast("double") + lit(1.0)) /
            (col("__r_occ") + col("__r_vocab"))))).as("__lw"))
    contrib.groupBy(col(idCol))
      .agg(sum(col("__occ")).as("n_tokens"),
        OrderedFold.sum(col("__lw"), col("word")).as("log_weight"))
      .withColumn("avg_log_weight",
        col("log_weight") / col("n_tokens").cast("double"))
  }

  /** Numericalization: each document's token-id sequence under `vocab`
    * (a `(token, token_id)` table, e.g. [[buildVocab]]'s output) —
    * the array a trainer or packing stage actually consumes. Tokens
    * absent from the vocabulary map to `oovId`.
    *
    * Scale shape: positions ride a `posexplode`, the id lookup is a
    * token-keyed equi-join (the vocab side is vocabulary-sized —
    * broadcastable when small, an ordinary shuffle join otherwise), and
    * each doc's sequence reassembles position-sorted in one aggregation.
    * Output: `(id, token_ids, n_tokens)`.
    */
  def tokenIds(docs: DataFrame, vocab: DataFrame, idCol: String,
               textCol: String, oovId: Long = 0L): DataFrame = {
    val posts = docs
      .filter(col(idCol).isNotNull && lower(col(textCol)).rlike("[a-z0-9]"))
      .select(col(idCol), TextFunctions.normalizedWords(col(textCol)).as("__ws"))
      .select(col(idCol),
        posexplode_outer(col("__ws")).as(Seq("__pos", "token")))
    posts
      .join(vocab.select(col("token"), col("token_id")), Seq("token"), "left")
      .groupBy(col(idCol))
      .agg(OrderedFold.values(coalesce(col("token_id"), lit(oovId)),
        col("__pos")).as("token_ids"))
      .withColumn("n_tokens", size(col("token_ids")).cast("long"))
  }

  /** Frequency-ranked vocabulary: `(token_id, token, cnt)` with ids
    * assigned by (count desc, token asc), 1-based, restricted to tokens
    * seen at least `minCount` times — the table a tokenizer-training or
    * feature-hashing stage consumes.
    *
    * The ranking is two-level so no corpus-scale data ever funnels into
    * a single-partition window: the global running offset is computed
    * over the DISTINCT-COUNT-VALUES table (tiny — bounded by the number
    * of distinct frequencies, ≪ vocabulary under any Zipf-ish corpus),
    * and the within-frequency rank is an ordinary partitioned window
    * keyed by the count. `offset(cnt) + rank_within(cnt)` equals the
    * global `row_number() OVER (ORDER BY cnt DESC, token)` exactly.
    */
  def buildVocab(docs: DataFrame, textCol: String,
                 minCount: Long = 1L): DataFrame = {
    val counts = docs
      .filter(lower(col(textCol)).rlike("[a-z0-9]"))
      .select(TextFunctions.normalizedWords(col(textCol)).as("__ws"))
      .select(explode_outer(col("__ws")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
    val groups = counts.groupBy(col("cnt")).agg(count(lit(1)).as("__n"))
    val wOff = Window.orderBy(col("cnt").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = groups.select(col("cnt"),
      coalesce(sum(col("__n")).over(wOff), lit(0L)).as("__offset"))
    val wIn = Window.partitionBy(col("cnt")).orderBy(col("token"))
    counts.join(broadcast(offsets), "cnt")
      .select(
        (col("__offset") + row_number().over(wIn)).as("token_id"),
        col("token"), col("cnt"))
  }

  /** Gopher's required-stopword list (Rae et al. 2021 §A1.1): a doc must
    * contain at least two of these to pass `r_stopwords`.
    */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher document-level quality rules (Rae et al. 2021 §A1.1; the
    * RedPajama/Dolma reimplementations use the same set): per-doc
    * boolean verdict per rule plus the conjunction `keep`. One corpus
    * scan, one tokenizer pass, one line-split pass, zero shuffle — the
    * words and lines arrays materialize once each (their own
    * projection, the HOF-CSE playbook) and every rule is a lambda pass
    * over them. The repetition rules (dup/top n-gram fractions) live in
    * [[repetitionStats]] — they need an aggregation, not a projection,
    * so they gate separately (q75).
    *
    * Rules (published defaults): word count in [50, 100 000]; mean word
    * length in [3, 10]; symbol-to-word ratio (# and …) ≤ 0.1; ≤ 90% of
    * lines starting with a bullet; ≤ 30% of lines ending with an
    * ellipsis; ≥ 80% of words containing an alphabetic character; ≥ 2
    * distinct required stopwords present.
    */
  /** Published Gopher §A1.1 thresholds (Rae et al. 2021) — the single
    * source for both rule-expression entry points, so the batch readout
    * and the streaming gate can never drift on a literal.
    */
  private[graft] object GopherDefaults {
    val MinWords = 50L
    val MaxWords = 100000L
    val MinMeanLen = 3.0
    val MaxMeanLen = 10.0
    val MaxSymbolRatio = 0.1
    val MaxBulletFrac = 0.9
    val MaxEllipsisFrac = 0.3
    val MinAlphaFrac = 0.8
    val MinStopwords = 2
  }

  def gopherRules(docs: DataFrame, idCol: String, textCol: String,
                  minWords: Long = GopherDefaults.MinWords,
                  maxWords: Long = GopherDefaults.MaxWords,
                  minMeanLen: Double = GopherDefaults.MinMeanLen,
                  maxMeanLen: Double = GopherDefaults.MaxMeanLen,
                  maxSymbolRatio: Double = GopherDefaults.MaxSymbolRatio,
                  maxBulletFrac: Double = GopherDefaults.MaxBulletFrac,
                  maxEllipsisFrac: Double = GopherDefaults.MaxEllipsisFrac,
                  minAlphaFrac: Double = GopherDefaults.MinAlphaFrac,
                  minStopwords: Int = GopherDefaults.MinStopwords): DataFrame = {
    val t = col(textCol)
    val base = docs.filter(col(idCol).isNotNull)
      .select(col(idCol), t,
        TextFunctions.normalizedWords(t).as("__ws"),
        gopherLines(t).as("__ls"))
    val rules = gopherRuleExprs(t, col("__ws"), col("__ls"),
      minWords, maxWords, minMeanLen, maxMeanLen, maxSymbolRatio,
      maxBulletFrac, maxEllipsisFrac, minAlphaFrac, minStopwords)
    base.select(
      col(idCol) +: size(col("__ws")).cast("long").as("n_words") +:
        (rules.map { case (n, c) => c.as(n) } :+
          rules.map(_._2).reduce(_ && _).as("keep")): _*)
  }

  /** The trimmed non-empty line array the Gopher line rules measure. */
  private[graft] def gopherLines(t: Column): Column =
    filter(transform(split(t, "\n"), l => trim(l)), l => l =!= "")

  /** The seven Gopher §A1.1 rule predicates over (text, words, lines) —
    * the single source both [[gopherRules]] (batch readout) and the
    * streaming gate in `CurationPipeline.runStreaming` evaluate, so a
    * row passes the stream gate iff its batch verdict is `keep`. `ws`
    * and `ls` must be MATERIALIZED attributes (not inline HOF chains) or
    * codegen re-runs the tokenizer per rule.
    */
  private[graft] def gopherRuleExprs(t: Column, ws: Column, ls: Column,
      minWords: Long = GopherDefaults.MinWords,
      maxWords: Long = GopherDefaults.MaxWords,
      minMeanLen: Double = GopherDefaults.MinMeanLen,
      maxMeanLen: Double = GopherDefaults.MaxMeanLen,
      maxSymbolRatio: Double = GopherDefaults.MaxSymbolRatio,
      maxBulletFrac: Double = GopherDefaults.MaxBulletFrac,
      maxEllipsisFrac: Double = GopherDefaults.MaxEllipsisFrac,
      minAlphaFrac: Double = GopherDefaults.MinAlphaFrac,
      minStopwords: Int = GopherDefaults.MinStopwords): Seq[(String, Column)] = {
    val nw = size(ws).cast("long")
    val nwD = greatest(nw, lit(1L)).cast("double")
    val nl = greatest(size(ls), lit(1)).cast("double")
    val sumLen = aggregate(ws, lit(0L),
      (acc, w) => acc + length(w).cast("long"))
    val meanLen = sumLen.cast("double") / nwD
    val hashes = (length(t) - length(regexp_replace(t, "#", "")))
      .cast("long")
    val ellipses =
      (length(t) - length(regexp_replace(t, "\\.\\.\\.", ""))).cast("long")
    val symbolRatio = (hashes + ellipses / lit(3)).cast("double") / nwD
    val bulletFrac = size(filter(ls,
      l => l.substr(1, 1).isin("•", "-", "*"))).cast("double") / nl
    val ellipsisFrac = size(filter(ls,
      l => l.endsWith("...") || l.endsWith("…"))).cast("double") / nl
    val alphaFrac = size(filter(ws,
      w => w.rlike("[a-z]"))).cast("double") / nwD
    val stopHits = GopherStopwords
      .map(sw => when(array_contains(ws, sw), 1).otherwise(0))
      .reduce((a, b) => a + b)
    Seq(
      "r_word_count" -> nw.between(minWords, maxWords),
      "r_mean_word_len" -> (meanLen >= minMeanLen && meanLen <= maxMeanLen),
      "r_symbol_ratio" -> (symbolRatio <= maxSymbolRatio),
      "r_bullet_lines" -> (bulletFrac <= maxBulletFrac),
      "r_ellipsis_lines" -> (ellipsisFrac <= maxEllipsisFrac),
      "r_alpha_words" -> (alphaFrac >= minAlphaFrac),
      "r_stopwords" -> (stopHits >= minStopwords))
  }
}
