package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.functions.{OrderedFold, TextFunctions}

/** All-pairs Jaccard similarity over a document corpus — the reference's
  * entire query surface (`DocumentSimilarityDriver.java:20-94`), re-expressed
  * as composable DataFrame operators forming ONE lazy DAG (no intermediate
  * materialization; Catalyst pipelines what the reference ran as three
  * MapReduce jobs with HDFS barriers).
  *
  * Scale notes (100 TB / 1000-executor design):
  *   - `docSizes` is a narrow projection (`size(tokens)`) — zero shuffle,
  *     unlike the reference's Job 1 which shuffled one record per unique
  *     token (`DocumentSimilarityMapper.java:27-31`).
  *   - `pairIntersections` uses the self-equi-join formulation rather than
  *     `collect_list` posting lists: a hot word's posting list would OOM a
  *     single task, while the join shuffles by word and lets AQE split skewed
  *     partitions. The quadratic blow-up itself is inherent to exact
  *     all-pairs; `maxDocFrequency` exposes the standard posting-list
  *     pruning used by similarity-join engines (opt-in — it changes results).
  *   - the size lookup is an inner equi-join; at test scale AQE broadcasts
  *     it automatically, at 100 TB (billions of docs) it degrades gracefully
  *     to a shuffled join. No hint is hard-coded. Likewise the pair
  *     self-join: AQE broadcasts a small posting table and shuffles both
  *     sides by word at scale.
  *   - a corpus that is ONE file split is hashed by docId after
  *     tokenizing, so the broadcast probe runs on every shuffle partition
  *     and the corpus is tokenized once; split inputs keep the plain plan
  *     (see `allPairs`).
  */
object Jaccard {

  /** docs(docId, text) → (docId, tokens) with empty-token docs dropped —
    * a doc with no tokens emits nothing in the reference
    * (`DocumentSimilarityMapper.java:29-31`) and can never pair.
    *
    * The empty-doc test is `lower(text) RLIKE '[a-z0-9]'`, NOT
    * `size(tokens) > 0`: predicate pushdown substitutes a filter's alias
    * references, so a size() filter over the tokens projection would
    * re-evaluate the whole tokenizer chain inside the scan filter. The
    * rlike form is equivalent (a token exists iff some lowercased char is
    * alphanumeric — checked on lower() so chars that only lowercase INTO
    * a-z, e.g. Kelvin K or Turkish İ, agree) and nearly free.
    */
  def tokenized(docs: DataFrame): DataFrame =
    docs
      .filter(lower(col("text")).rlike("[a-z0-9]"))
      .select(col("docId"), TextFunctions.normalizeTokens(col("text")).as("tokens"))

  /** A1 — |A| per document. Narrow: no shuffle at all. */
  def docSizes(tokenizedDocs: DataFrame): DataFrame =
    tokenizedDocs.select(col("docId"), size(col("tokens")).cast("long").as("size"))

  /** X1 — inverted-index postings `(word, docId)`, one row per unique
    * (doc, word). `Explode` is a Catalyst `Generator` — stays in codegen.
    *
    * OUTER explode, deliberately: `tokenized` guarantees `tokens` is
    * non-null and non-empty (the rlike filter), so outer and inner
    * explode emit identical rows — but a non-outer Generate makes the
    * optimizer infer `size(tokens) > 0 AND isnotnull(tokens)` beneath
    * it, and predicate pushdown substitutes the alias, re-evaluating
    * the whole regex tokenizer chain 2× inside the scan filter (3×
    * per row with the projection). Outer explode infers nothing; the
    * scan filter carries only the cheap rlike guard. Pinned by
    * PlanSpec ("tokenizer chain evaluates once per branch").
    */
  def postings(tokenizedDocs: DataFrame): DataFrame =
    tokenizedDocs.select(explode_outer(col("tokens")).as("word"), col("docId"))

  /** G1 — materialized posting lists `(word, [docId...] sorted)`.
    * Provided for parity with the reference's Job-2 reducer groups
    * (`DocumentSimilarityReducer.java:33-42`); the pair join below does
    * NOT go through this (a hot word's collected list can OOM one task —
    * the join formulation shuffles by word and lets AQE split skew).
    */
  def postingLists(postings: DataFrame): DataFrame =
    postings.groupBy("word")
      .agg(sort_array(collect_set(col("docId"))).as("docIds"))

  /** J2 + A2 — pair generation + intersection count.
    *
    * Self-equi-join the postings on `word` with a `docA < docB` residual
    * (unordered pairs once, byte-lexicographic orientation —
    * `DocumentSimilarityReducer.java:42-47`), then count shared words per
    * pair. Spark's `HashAggregate` does map-side partial aggregation
    * automatically (the combiner the reference declined,
    * `DocumentSimilarityDriver.java:55-56`).
    *
    * @param maxDocFrequency drop words appearing in more than this many
    *   docs before pairing (df-pruning for hot-word skew at scale).
    *   `None` = exact reference semantics.
    *
    *   The prune is an anti-join against the HOT-word table (df >
    *   maxDf), not an inner join against the vocabulary-sized keep
    *   list: hot words are bounded by |postings| / maxDf rows by
    *   construction, so the table is always tiny and broadcastable,
    *   and materializing it once (a small eager job) means the df
    *   aggregation's full pass over the postings runs ONCE — the
    *   keep-list formulation re-computed that aggregate under each
    *   self-join alias.
    */
  def pairIntersections(
      postings: DataFrame,
      maxDocFrequency: Option[Long] = None): DataFrame = {
    val p = hotWordPrune(postings, maxDocFrequency)(postings)
    p.as("a")
      .join(p.as("b"),
        col("a.word") === col("b.word") && col("a.docId") < col("b.docId"))
      .groupBy(col("a.docId").as("docA"), col("b.docId").as("docB"))
      .agg(count(lit(1)).as("inter"))
  }

  /** The `maxDocFrequency` posting prune of [[pairIntersections]] and
    * [[containmentJoin]]: an anti-join against the hot-word table
    * (df > maxDf over `postings`), materialized EAGERLY — a small
    * `localCheckpoint` job at DataFrame-construction time — so the df
    * aggregation's full pass over the postings runs once, not once per
    * self-join alias. Null-word postings (empty docs) survive the
    * anti-join — harmless: a null word never equi-joins in a pair
    * stage. `None` is the identity.
    */
  private def hotWordPrune(postings: => DataFrame,
                           maxDocFrequency: Option[Long])
      : DataFrame => DataFrame =
    maxDocFrequency match {
      case Some(maxDf) =>
        val hot = postings.groupBy("word").agg(count(lit(1)).as("df"))
          .filter(col("df") > maxDf)
          .select("word")
          .localCheckpoint()
        side => side.join(broadcast(hot), Seq("word"), "left_anti")
      case None => identity
    }

  /** P3 — the Jaccard score expression: `inter / (|A| + |B| - inter)`,
    * 0.0 when the union is empty (`DocumentSimilarityReducer.java:103-104`).
    */
  def jaccardScore(inter: Column, sizeA: Column, sizeB: Column): Column = {
    val union = sizeA + sizeB - inter
    when(union > 0, inter.cast("double") / union).otherwise(lit(0.0))
  }

  /** J1 + P3 — join pair counts with the size table (×2, inner: pairs with
    * unknown docs drop, `DocumentSimilarityReducer.java:99-101`) and score.
    * Output: (docA, docB, inter, sizeA, sizeB, similarity).
    */
  def similarities(pairCounts: DataFrame, sizes: DataFrame): DataFrame =
    pairCounts
      .join(sizes.withColumnRenamed("docId", "docA").withColumnRenamed("size", "sizeA"), "docA")
      .join(sizes.withColumnRenamed("docId", "docB").withColumnRenamed("size", "sizeB"), "docB")
      .select(
        col("docA"), col("docB"), col("inter"), col("sizeA"), col("sizeB"),
        jaccardScore(col("inter"), col("sizeA"), col("sizeB")).as("similarity"))

  /** End-to-end: docs(docId, text) → similarity table. One DAG.
    *
    * When `docs` is a scan of ONE file split (the reference's one-file
    * corpus, read by `Corpus.read`), the tokenized docs are hashed by
    * `docId` into the session's shuffle partitions before anything
    * consumes them (pinned: a bare `repartition(cols)` is AQE-coalescible
    * back to one partition). Without it:
    *   - everything downstream of the scan runs in its one task,
    *     including the pair probe against the broadcast postings and its
    *     partial count. Hashed by docId the probe runs in
    *     `spark.sql.shuffle.partitions` tasks, and as its stream side
    *     stays clustered on `docA`, the `(docA, docB)` final count needs
    *     no exchange of its own;
    *   - the postings probe side, the postings build side and the sizes
    *     each plan their own scan and regex tokenizer; with it all three
    *     read ONE exchange (`ReusedExchange`).
    * An input already in several partitions keeps the plain plan. There
    * the exchange buys no tasks, and when the self-join is shuffled by
    * word (as at scale) both sides already read one word exchange, so it
    * would save only the sizes scan and pay a shuffle of every token
    * array. Measured on a 4-core host with the exchange on split
    * inputs: the two-split 1,500-doc `large10.txt` (df ≤ 1000) took
    * 23 % longer at `local[32]` and 8 % more CPU at `local[4]`; the
    * 20,000-doc `range` skew corpus took 54 % longer at `local[32]`.
    *
    * `pairIntersections` takes no such exchange: its word shuffle is the
    * one AQE skew-splits, and a posting table already bucketed by word
    * must not be re-shuffled.
    */
  def allPairs(docs: DataFrame, maxDocFrequency: Option[Long] = None): DataFrame = {
    val n = docs.sparkSession.sessionState.conf.numShufflePartitions
    val toks =
      if (n > 1 && isOneFileSplit(docs)) tokenized(docs).repartition(n, col("docId"))
      else tokenized(docs)
    similarities(pairIntersections(postings(toks), maxDocFrequency), docSizes(toks))
  }

  /** Whether `docs` is a narrow plan over a file scan of one partition,
    * read off the planned scan without running a job. Any other input
    * answers false: an in-memory or `range` source, several leaves, or an
    * exchange, which AQE plans as one adaptive leaf.
    */
  private def isOneFileSplit(docs: DataFrame): Boolean =
    docs.queryExecution.executedPlan.collectLeaves() match {
      case Seq(scan: FileSourceScanExec) => scan.inputRDD.getNumPartitions == 1
      case _ => false
    }

  // ---------------------------------------------------------------------
  // Exact-threshold similarity join via prefix filtering (AllPairs/PPJoin)
  // ---------------------------------------------------------------------

  /** Documents as document-frequency-ordered token sets:
    * `(docId, sz, sorted_tokens)` with tokens ascending by global df
    * (rarest first), ties broken lexicographically.
    *
    * This is the canonical token order for prefix filtering (Chaudhuri
    * et al. ICDE'06; Bayardo et al. WWW'07 §3): a document's prefix under
    * this order holds its RAREST tokens, so prefix-token collisions are
    * maximally selective. The df table is vocabulary-sized (AQE broadcasts
    * it when small; at 100 TB it degrades to a shuffled join — no hint is
    * hard-coded), and the re-sort is one `groupBy(docId)` shuffle whose
    * map-side width is one (df, word) pair per posting.
    */
  def dfOrderedSets(tokenizedDocs: DataFrame): DataFrame = {
    val posts = postings(tokenizedDocs)
    val df = posts.groupBy("word").agg(count(lit(1)).as("df"))
    dfSortedSets(posts.join(df, "word"))
  }

  /** The [[dfOrderedSets]] tail over `(docId, word, df)` rows — shared
    * with the ingest and deletion compactions, so a re-ranked index
    * row is built exactly as a fresh one: each doc's words in
    * ascending `(df, word)` order ([[OrderedFold.values]]).
    */
  private def dfSortedSets(wordDf: DataFrame): DataFrame =
    wordDf.groupBy("docId")
      .agg(OrderedFold.values(col("word"), col("df")).as("sorted_tokens"))
      .select(col("docId"), size(col("sorted_tokens")).cast("long").as("sz"),
        col("sorted_tokens"))

  /** Minimum intersection size for `J(A,B) >= t`:
    * `ceil(t/(1+t) * (|A|+|B|))` (Xiao et al. VLDB'08 eq. 2). The 1e-9
    * slack guards the IEEE-754 edge where `t*(...)` lands an ulp above an
    * exact integer and `ceil` would overshoot by one (dropping a true
    * pair); the slack can only ADMIT a borderline candidate, never lose
    * one, and exact verification removes any admitted extras.
    */
  private def minOverlap(t: Double, szA: Column, szB: Column): Column =
    ceil(lit(t) / (lit(1.0) + lit(t)) * (szA + szB) - lit(1e-9))

  /** `ceil(t·|A|)`, the fewest of A's tokens a partner with J or
    * containment ≥ t shares, with [[minOverlap]]'s 1e-9 slack.
    */
  private def minShared(t: Double, sz: Column): Column =
    ceil(lit(t) * sz - lit(1e-9))

  /** The Bayardo prefix length `|A| - ceil(t·|A|) + 1` (see
    * [[prefixCandidates]]); the slack can only lengthen the prefix — a
    * long prefix is correct (more candidates), a short one can drop
    * true pairs.
    */
  private def prefixLength(t: Double, sz: Column): Column =
    (sz - minShared(t, sz) + lit(1)).cast("int")

  /** Candidate pairs for an exact Jaccard-threshold join, via prefix +
    * length (+ positional) filtering over [[dfOrderedSets]] output.
    * Returns `(docA, docB, sizeA, sizeB)`, `docA < docB`, each pair once.
    *
    * Only the first `|A| - ceil(t*|A|) + 1` df-ordered tokens of each
    * document are indexed (Bayardo et al. WWW'07 §3.1: two sets with
    * `J >= t` MUST share a token within these prefixes), so the pair join
    * shuffles roughly a `(1-t)` fraction of the postings instead of all
    * of them — the pruning that makes an exact threshold join viable at
    * corpus scale, where [[pairIntersections]] would materialize every
    * co-occurring pair. On top of the prefix:
    *   - length filter in the join condition: `min(|A|,|B|) >= t*max` —
    *     sizes ride the prefix postings, no extra join;
    *   - positional filter (Xiao et al. VLDB'08 §3.2, PPJoin): a shared
    *     prefix token at 0-based positions `(i, j)` bounds the overlap by
    *     `1 + min(|A|-i-1, |B|-j-1)`; the EARLIEST shared token gives the
    *     largest bound, so `max(bound) >= minOverlap` after the pair
    *     groupBy is exactly PPJoin's first-common-token filter.
    *
    * The pair groupBy also dedups multi-token collisions, so downstream
    * verification touches each candidate once.
    */
  def prefixCandidates(
      ordered: DataFrame,
      threshold: Double,
      positional: Boolean = true): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, s"threshold in (0,1]: $threshold")
    val pref = ordered.select(
      col("docId"), col("sz"),
      posexplode(slice(col("sorted_tokens"), lit(1),
        prefixLength(threshold, col("sz")))).as(Seq("pos", "word")))
    val cands = pref.as("a")
      .join(pref.as("b"),
        col("a.word") === col("b.word") &&
          col("a.docId") < col("b.docId") &&
          least(col("a.sz"), col("b.sz")) >=
            lit(threshold) * greatest(col("a.sz"), col("b.sz")))
      .groupBy(
        col("a.docId").as("docA"), col("a.sz").as("sizeA"),
        col("b.docId").as("docB"), col("b.sz").as("sizeB"))
      .agg(max(lit(1) +
        least(col("a.sz") - col("a.pos") - 1, col("b.sz") - col("b.pos") - 1))
        .as("ubound"))
    val filtered =
      if (positional)
        cands.filter(col("ubound") >= minOverlap(threshold, col("sizeA"), col("sizeB")))
      else cands
    filtered.select("docA", "docB", "sizeA", "sizeB")
  }

  /** Exact Jaccard-threshold self-join: all pairs with `J(A,B) >= t`,
    * `(docA, docB, inter, sizeA, sizeB, similarity)`, `docA < docB`.
    *
    * The distributed AllPairs/PPJoin shape (Vernica et al. SIGMOD'10):
    * candidates from [[prefixCandidates]], then exact verification by
    * joining each side's full token set back and intersecting in a
    * projection (`array_intersect` — codegen, no further shuffle beyond
    * the two hash joins on docId, each bounded by the candidate set).
    * Results are IDENTICAL to filtering [[allPairs]] at `t` — gated by
    * q172 against the brute-force oracle — at a fraction of the shuffle:
    * brute force materializes every co-occurring pair (~n² on real
    * corpora) where this shuffles prefix postings and candidates only.
    *
    * The tokenized input is referenced three times (postings + both
    * verification sides); callers running over an expensive upstream
    * should materialize it first (the curation-cascade rule,
    * BASELINE.md round-12).
    */
  def thresholdJoin(
      tokenizedDocs: DataFrame,
      threshold: Double,
      positional: Boolean = true): DataFrame = {
    val cands = prefixCandidates(dfOrderedSets(tokenizedDocs), threshold, positional)
    val toksA = tokenizedDocs.select(col("docId").as("docA"), col("tokens").as("toksA"))
    val toksB = tokenizedDocs.select(col("docId").as("docB"), col("tokens").as("toksB"))
    cands.join(toksA, "docA").join(toksB, "docB")
      // generator barrier: keeps the per-row hash-set array_intersect
      // out of the (substituted, pushdown-folded) join residual — it
      // must evaluate once per candidate, not 3× (see thresholdMatches)
      .select(col("docA"), col("docB"), col("sizeA"), col("sizeB"),
        explode_outer(array(
          size(array_intersect(col("toksA"), col("toksB"))).cast("long")))
          .as("inter"))
      .filter(col("inter").cast("double") /
        (col("sizeA") + col("sizeB") - col("inter")) >= lit(threshold))
      .select(
        col("docA"), col("docB"), col("inter"), col("sizeA"), col("sizeB"),
        jaccardScore(col("inter"), col("sizeA"), col("sizeB")).as("similarity"))
  }

  /** Exact containment-threshold join: directed pairs with
    * `|A∩B| / |A| >= t`, `docA != docB` — "A is mostly contained in B",
    * the asymmetric relation behind subset/quotation dedup (a short doc
    * embedded in a longer one has high containment but low Jaccard, so
    * [[thresholdJoin]] misses it by design). Output:
    * `(docA, docB, inter, sizeA, sizeB, containment)`.
    *
    * Prefix filtering adapts asymmetrically (Chaudhuri et al. ICDE'06):
    * `C(A,B) >= t` forces overlap `o >= ceil(t*|A|)`, so A must share a
    * token with B within A's first `|A| - ceil(t*|A|) + 1` df-ordered
    * tokens — but anywhere in B. Hence A-side PREFIX postings join
    * B-side FULL postings (the probe side still shrinks to the ~(1-t)
    * fraction; the index side is the corpus's postings, the same table
    * the inverted index already shuffles). In the join condition:
    *   - size filter `|B| >= ceil(t*|A|)` (B must hold the overlap);
    *   - positional bound `1 + min(|A|-i-1, |B|-j-1) >= ceil(t*|A|)`
    *     via max-over-shared-tokens after the pair groupBy, as in
    *     [[prefixCandidates]] (both sides carry df-order positions).
    * Verification is exact (`array_intersect`), so the filters only
    * ever prune, never decide.
    *
    * Unlike [[prefixCandidates]], the B side here posts its FULL token
    * list — on a stop-word-heavy corpus the hot words the A-prefix
    * avoids are right back in the index side of the join, and a df=n
    * word contributes n candidate rows per probing prefix token.
    * `maxDocFrequency` is the standard posting-list prune for that skew
    * (the [[pairIntersections]] knob's semantics): words with df >
    * maxDf are dropped from BOTH posting streams before the join, so a
    * pair whose shared tokens are ALL hot is never generated — opt-in,
    * it changes results (verification still computes exact containment
    * over the full arrays for every surviving candidate; positions and
    * sizes are untouched, so the positional bound stays valid — with
    * fewer rows per pair it can only prune further, never admit).
    * Setting it also materializes the hot-word table EAGERLY — a small
    * `localCheckpoint` Spark job runs at DataFrame-construction time,
    * before any action on the result (the [[pairIntersections]]
    * precedent: the df aggregation's full postings pass must run once,
    * not once per self-join alias).
    */
  def containmentJoin(
      tokenizedDocs: DataFrame,
      threshold: Double,
      maxDocFrequency: Option[Long] = None): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, s"threshold in (0,1]: $threshold")
    val ordered = dfOrderedSets(tokenizedDocs)
    def posted(side: DataFrame): DataFrame =
      side.select(col("docId"), col("sz"),
        posexplode(col("sorted_tokens")).as(Seq("pos", "word")))
    val prune = hotWordPrune(postings(tokenizedDocs), maxDocFrequency)
    val probe = prune(posted(ordered.select(col("docId"), col("sz"),
      slice(col("sorted_tokens"), lit(1), prefixLength(threshold, col("sz")))
        .as("sorted_tokens"))))
    val index = prune(posted(ordered))
    val needed = minShared(threshold, col("a.sz"))
    val cands = probe.as("a")
      .join(index.as("b"),
        col("a.word") === col("b.word") &&
          col("a.docId") =!= col("b.docId") &&
          col("b.sz") >= needed)
      .groupBy(
        col("a.docId").as("docA"), col("a.sz").as("sizeA"),
        col("b.docId").as("docB"), col("b.sz").as("sizeB"))
      .agg(max(lit(1) +
        least(col("a.sz") - col("a.pos") - 1, col("b.sz") - col("b.pos") - 1))
        .as("ubound"))
      .filter(col("ubound") >= minShared(threshold, col("sizeA")))
    val toksA = tokenizedDocs.select(col("docId").as("docA"), col("tokens").as("toksA"))
    val toksB = tokenizedDocs.select(col("docId").as("docB"), col("tokens").as("toksB"))
    cands.join(toksA, "docA").join(toksB, "docB")
      // generator barrier — see thresholdJoin
      .select(col("docA"), col("docB"), col("sizeA"), col("sizeB"),
        explode_outer(array(
          size(array_intersect(col("toksA"), col("toksB"))).cast("long")))
          .as("inter"))
      .filter(col("inter").cast("double") / col("sizeA") >= lit(threshold))
      .select(col("docA"), col("docB"), col("inter"), col("sizeA"), col("sizeB"),
        (col("inter").cast("double") / col("sizeA")).as("containment"))
  }

  /** Exact-threshold matches of a NEW batch against an indexed corpus
    * ([[dfOrderedSets]] output): `(docId, matchId, inter, size,
    * matchSize, similarity)` for every (arrival, indexed) pair with
    * `J >= t` — the exact-similarity analogue of
    * `Dedup.incrementalLshMatches` (which is probabilistic by bands).
    *
    * The arrival prefix needs NO particular token order for
    * correctness: `J(A,B) >= t` forces `|A∩B| >= t*|A|` (since
    * `|B| >= |A∩B|`), and a prefix of length `|A| - ceil(t*|A|) + 1`
    * leaves a suffix of only `ceil(t*|A|) - 1` tokens — too few to hold
    * all common tokens — so the first `p` tokens of the arrival under
    * ANY fixed per-doc order must share a token with every true match.
    * (The symmetric both-prefixes argument of [[prefixCandidates]] is
    * what needs one global order; one-sided probing doesn't.) For
    * candidate VOLUME the order is everything, so the arrival tokens
    * are re-ranked by the index's document frequencies — derived from
    * the index's own postings, the same table the probe explodes, so a
    * periodically compacted index pays one extra vocabulary-sized
    * aggregate, not a second corpus pass — rarest-first, tokens absent
    * from the index ranking first of all (they generate ZERO candidates:
    * nothing in the postings can equi-join them). Probing rare tokens
    * first is exactly the AllPairs selectivity argument (Bayardo et al.
    * WWW'07 §3.1) applied one-sided.
    *
    * Shape (the q163 periodic-compaction/micro-batch convention): the
    * arrival dedups its tokens row-locally (`array_distinct` — the set
    * contract every |A| and prefix bound assumes; raw repeat-bearing
    * token arrays are accepted), ranks them by the index df (one
    * batch-sized groupBy), explodes the prefix, and equi-joins the
    * index postings on the token with the `t*max <= min` size filter
    * riding the join condition. Candidates then COLLAPSE to one row per
    * (docId, matchId) BEFORE verification — a narrow map-side-partial
    * aggregate on four small columns — so multi-token prefix collisions
    * never multiply the verification joins and no wide-row `distinct`
    * runs after them. The index side never carries its token arrays
    * through the explode (that would square the index bytes); both
    * sides' arrays join back by id, hash joins bounded by the collapsed
    * candidate count. Everything keys on tokens/ids, so a persisted
    * index bucketed by `word` co-locates the probe with no broadcast —
    * [[indexPostings]]/[[thresholdMatchesPosted]] are that layout's
    * entry points, BucketingSpec pins the exchange-free plan.
    *
    * Consumption contract (the curation-cascade rule, BASELINE.md
    * round-12): `index` is referenced 3× (postings, df ranking,
    * verification arrays) and `batch` 2× — callers feeding expensive
    * unmaterialized upstreams (a tokenizer kernel, a fetch chain)
    * should materialize both first; at ingest the compacted index is
    * persisted state anyway (measured in ScaleBench
    * `threshold_matches_10x`: ~22 s → ~12 s warm at 50k docs).
    */
  /** Note: batch and index ids MAY overlap — a doc indexed and probed
    * under the same id matches itself at J = 1 (the similarity-ranking
    * usage, e.g. q181's Jaccard top-k side). Only [[thresholdGate]]'s
    * complement semantics assume the ingest contract's disjoint ids.
    */
  def thresholdMatches(
      batch: DataFrame,
      index: DataFrame,
      threshold: Double): DataFrame =
    thresholdMatchesPosted(batch, indexPostings(index), index, threshold)

  /** Posting layout of a [[dfOrderedSets]] index: `(matchId, matchSize,
    * word)`, one row per (doc, token). This is the layout to PERSIST
    * for an ingest index: written `bucketBy(word)`, the candidate
    * probe's equi-join and the df-ranking aggregate both read
    * co-located buckets with NO index-side exchange (BucketingSpec pins
    * the plan) — at corpus scale the difference between re-shuffling
    * the index per micro-batch and never shuffling it at all.
    */
  def indexPostings(index: DataFrame): DataFrame =
    index.select(col("docId").as("matchId"), col("sz").as("matchSize"),
      explode(col("sorted_tokens")).as("word"))

  /** [[thresholdMatches]] over a pre-materialized posting-form index
    * (`posts` in the [[indexPostings]] layout, typically a persisted
    * word-bucketed table) plus the set-form `index` for verification
    * arrays. The compaction job writes both layouts once; every
    * micro-batch then probes them shuffle-free on the index side.
    */
  def thresholdMatchesPosted(
      batch: DataFrame,
      posts: DataFrame,
      index: DataFrame,
      threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, s"threshold in (0,1]: $threshold")
    // (word, doc) posting rows are unique under the dfOrderedSets set
    // contract, so this count IS the df table dfOrderedSets ranked by
    val dfTab = posts.groupBy("word").agg(count(lit(1)).as("df"))
    val arr = batch.select(col("docId"), array_distinct(col("tokens")).as("tokens"))
    // outer explode + null-word filter (the postings idiom,
    // Jaccard.scala:54-63): a non-outer Generate would infer
    // `size(tokens) > 0` and predicate pushdown would re-evaluate an
    // unmaterialized batch's tokenizer chain inside the scan filter;
    // the filter on the Generate's own output attribute cannot be
    // substituted below it. Empty-token rows drop either way (they
    // can't match anything).
    val ordered = arr
      .select(col("docId"), explode_outer(col("tokens")).as("word"))
      .filter(col("word").isNotNull)
      .join(dfTab, Seq("word"), "left")
      .groupBy("docId")
      .agg(OrderedFold.values(col("word"), coalesce(col("df"), lit(0L)))
        .as("arrToks"))
      .select(col("docId"), size(col("arrToks")).cast("long").as("size"),
        col("arrToks"))
    val prefLen = prefixLength(threshold, col("size"))
    // the probe is batch-sized — tiny — while the candidate join fans
    // out by posting df; without an explicit spread AQE coalesces the
    // micro-batch's shuffle to ONE partition and, every join below
    // being broadcast, serializes the whole probe→verify pipeline into
    // a single task. The partition count must be pinned (session
    // shuffle parallelism): a bare repartition(cols) is itself
    // AQE-coalescible, which put the single task right back. Hashing
    // on (docId, word) spreads the fan-out evenly; at corpus-scale
    // batch sizes the exchange is batch-sized either way.
    val probe = ordered.select(col("docId"), col("size"),
      explode(slice(col("arrToks"), lit(1), prefLen)).as("word"))
      .repartition(batch.sparkSession.sessionState.conf.numShufflePartitions,
        col("docId"), col("word"))
    val cands = probe.join(posts,
      probe("word") === posts("word") &&
        least(col("size"), col("matchSize")) >=
          lit(threshold) * greatest(col("size"), col("matchSize")))
      .groupBy(col("docId"), col("size"), col("matchId"), col("matchSize"))
      .agg(count(lit(1)).as("__prefix_hits"))
      .drop("__prefix_hits")
    // verification arrays come from `arr` (a narrow batch projection),
    // not `ordered` — referencing `ordered` twice would re-run its
    // df join + groupBy chain per consumer (the cascade rule,
    // BASELINE.md round-12); array_intersect is order-indifferent
    cands
      .join(arr.select(col("docId"), col("tokens").as("arrToks")), "docId")
      .join(index.select(col("docId").as("matchId"),
        col("sorted_tokens").as("idxToks")), "matchId")
      // generator barrier (the repo-wide idiom): a plain projection
      // alias would be substituted into the threshold filter — which
      // predicate pushdown then folds into the join condition —
      // re-evaluating the per-row hash-set array_intersect 3× per
      // candidate; Generate output attributes can't be substituted
      .select(col("docId"), col("matchId"), col("size"), col("matchSize"),
        explode_outer(array(
          size(array_intersect(col("arrToks"), col("idxToks"))).cast("long")))
          .as("inter"))
      .filter(col("inter").cast("double") /
        (col("size") + col("matchSize") - col("inter")) >= lit(threshold))
      .select(col("docId"), col("matchId"), col("inter"),
        col("size"), col("matchSize"),
        jaccardScore(col("inter"), col("size"), col("matchSize"))
          .as("similarity"))
  }

  /** Incremental index compaction: merge a micro-batch of new documents
    * into a [[dfOrderedSets]] index WITHOUT rebuilding it from the
    * corpus. Returns the exact [[dfOrderedSets]] layout of the union —
    * `compactIndex(dfOrderedSets(a), b) == dfOrderedSets(a unionAll b)`
    * row for row, including each `sorted_tokens` order (CompactionSpec
    * pins the parity; q178 gates it against the DuckDB rebuild) — so
    * repeated compaction over arriving micro-batches is
    * indistinguishable from a from-scratch rebuild at every step.
    * This is the compaction job the ingest family's "periodically
    * compacted index" convention assumes ([[thresholdMatches]]):
    * per micro-batch, [[thresholdGate]] decides admission; periodically,
    * this operator folds the admitted arrivals in.
    *
    * Doc ids must be disjoint between `index` and `batch` (the
    * registry's unique-id ingest contract, as `Dedup.lshGate`); batch
    * token arrays may carry raw duplicates (`array_distinct` is applied,
    * the [[thresholdMatches]] batch contract), and batch docs with no
    * tokens are dropped, as [[dfOrderedSets]] drops them.
    *
    * Why this beats the full rebuild at scale:
    *   - ZERO re-tokenization: the index side is read from its own
    *     compact persisted layouts (set-form + [[indexPostings]]
    *     posting-form — the compaction job re-writes both), never from
    *     raw corpus text. A `dfOrderedSets` rebuild re-runs the
    *     tokenizer chain over the whole corpus.
    *   - df counts are ADDITIVE: the merged vocabulary table is the
    *     index's posting counts plus the batch's — one
    *     vocabulary-sized aggregate (union + re-aggregate), not a
    *     corpus pass.
    *   - only AFFECTED docs re-rank: a doc none of whose tokens occur
    *     in the batch has every df unchanged, so its (df, word) sort
    *     order is provably identical — those rows ride through
    *     VERBATIM via one anti-join (no re-sort, no posting explode).
    *     The re-rank touches only docs sharing >= 1 token with the
    *     batch (plus the batch itself). Worst case (a batch carrying
    *     the corpus's common words) that is most docs — still bounded
    *     by a posting-layout re-rank, never a re-tokenize; best case
    *     (niche-vocabulary batches) it is a sliver.
    *   - with the posting layout persisted `bucketBy(word)`
    *     (BucketingSpec), the df aggregate, the affected-doc probe,
    *     and the touched-posting semi-join are all exchange-free on
    *     the index side; bucketing the set-form by `docId` likewise
    *     removes the anti/semi-join exchanges.
    *
    * Two small EAGER jobs run at construction time (the
    * [[pairIntersections]] precedent): the batch's df delta
    * (batch-vocabulary-sized, broadcast into the affected-doc probe)
    * and the affected-id set (id-width rows), each consumed by two
    * downstream branches.
    *
    * Consumption contract (the curation-cascade rule, BASELINE.md
    * round-12): the posting form is referenced 3× (df aggregate,
    * affected probe, touched semi-join) and the set form once more
    * (the anti-join); `batch` is referenced 2× (delta, touched
    * postings). At ingest both index layouts are persisted tables and
    * each reference is a bucket-local scan; callers passing a LAZY
    * `dfOrderedSets` chain (or an unmaterialized tokenizer batch) must
    * materialize first or the chain re-executes per reference — q178
    * checkpoints both for exactly this reason.
    */
  def compactIndex(index: DataFrame, batch: DataFrame): DataFrame =
    compactIndexPosted(index, indexPostings(index), batch)

  /** [[compactIndex]] over a pre-materialized posting-form index (the
    * [[indexPostings]] layout, typically the persisted word-bucketed
    * table) — the form the periodic compaction job itself runs.
    */
  def compactIndexPosted(
      index: DataFrame,
      posts: DataFrame,
      batch: DataFrame): DataFrame = {
    val batchSets = batch.select(col("docId"),
      array_distinct(col("tokens")).as("tokens"))
    // outer explode + null-word filter (the postings idiom): empty
    // batch docs drop; an unmaterialized batch's tokenizer chain is
    // not re-evaluated in the scan filter
    def batchPosts: DataFrame = batchSets
      .select(col("docId"), explode_outer(col("tokens")).as("word"))
      .filter(col("word").isNotNull)
    // batch df delta — batch-vocabulary-sized, eager (consumed by the
    // merge and, broadcast, by the affected-doc probe)
    val delta = batchPosts
      .groupBy("word").agg(count(lit(1)).as("df"))
      .localCheckpoint()
    // merged vocabulary: additive counts. (word, doc) posting rows are
    // unique under the set contract, so the posting count IS the df.
    val dfMerged = posts.groupBy("word").agg(count(lit(1)).as("df"))
      .unionByName(delta)
      .groupBy("word").agg(sum(col("df")).as("df"))
    // docs sharing >= 1 token with the batch — the only index rows
    // whose (df, word) order can change. Id-width rows, eager
    // (consumed by the semi- and anti-join below).
    val affected = posts
      .join(broadcast(delta.select("word")), Seq("word"), "left_semi")
      .select(col("matchId").as("docId")).distinct()
      .localCheckpoint()
    val untouched = index.select("docId", "sz", "sorted_tokens")
      .join(affected, Seq("docId"), "left_anti")
    val touchedPosts = posts
      .join(affected.withColumnRenamed("docId", "matchId"),
        Seq("matchId"), "left_semi")
      .select(col("matchId").as("docId"), col("word"))
      .unionByName(batchPosts)
    // the dfOrderedSets tail, over the touched fraction only
    val reranked = dfSortedSets(touchedPosts.join(dfMerged, Seq("word")))
    untouched.unionByName(reranked)
  }

  /** Deletion-side index compaction — the other half of the ingest
    * loop's index maintenance ([[compactIndex]] folds arrivals IN; a
    * dedup pipeline also takes documents OUT: retention expiry,
    * takedowns, quality re-gates). Removes `deleteIds` from a
    * [[dfOrderedSets]] index and returns the exact [[dfOrderedSets]]
    * layout of the surviving corpus —
    * `compactIndexDeleted(dfOrderedSets(c), ids) ==
    * dfOrderedSets(c minus ids)` row for row, including each
    * `sorted_tokens` order (CompactionSpec pins the parity; q184 gates
    * it against the DuckDB rebuild of the survivors).
    *
    * The mirror of the append side, with the df delta SUBTRACTIVE:
    *   - df counts shrink by the deleted docs' posting counts — one
    *     vocabulary-sized union + re-aggregate (words whose df reaches
    *     zero leave the vocabulary with their last doc);
    *   - only AFFECTED survivors re-rank: a doc sharing no token with
    *     any deleted doc has every df unchanged, so its (df, word)
    *     order is provably identical — those rows ride through
    *     VERBATIM via one anti-join;
    *   - ids absent from the index are no-ops (the anti-joins simply
    *     match nothing), so re-deleting is idempotent.
    *
    * ZERO re-tokenization, as the append side: everything reads the
    * index's own persisted layouts. Consumption contract: the posting
    * form is referenced 4× (deleted postings, df aggregate, affected
    * probe, touched semi-join), the set form once (the anti-join),
    * `deleteIds` 3× — at ingest these are persisted/id-width tables;
    * lazy callers materialize first (q184 checkpoints both).
    */
  def compactIndexDeleted(index: DataFrame, deleteIds: DataFrame): DataFrame =
    compactIndexDeletedPosted(index, indexPostings(index), deleteIds)

  /** [[compactIndexDeleted]] over a pre-materialized posting-form index
    * (the [[indexPostings]] layout, typically the persisted
    * word-bucketed table) — the form the periodic compaction job runs.
    */
  def compactIndexDeletedPosted(
      index: DataFrame,
      posts: DataFrame,
      deleteIds: DataFrame): DataFrame = {
    // id-width, eager (consumed by the delta semi-join and two
    // anti-joins below)
    val del = deleteIds.select(col("docId")).distinct().localCheckpoint()
    // the deleted docs' postings: the subtractive df delta's source.
    // Vocabulary-of-the-deleted-sized, eager (consumed by the merge
    // and, broadcast, by the affected-survivor probe).
    val delta = posts
      .join(del.withColumnRenamed("docId", "matchId"),
        Seq("matchId"), "left_semi")
      .groupBy("word").agg(count(lit(1)).as("df"))
      .localCheckpoint()
    // merged vocabulary: subtractive counts; a word whose postings all
    // belonged to deleted docs drops out entirely
    val dfMerged = posts.groupBy("word").agg(count(lit(1)).as("df"))
      .unionByName(delta.select(col("word"), (-col("df")).as("df")))
      .groupBy("word").agg(sum(col("df")).as("df"))
      .filter(col("df") > 0)
    // survivors sharing >= 1 token with a deleted doc — the only rows
    // whose (df, word) order can change
    val affected = posts
      .join(broadcast(delta.select("word")), Seq("word"), "left_semi")
      .select(col("matchId").as("docId")).distinct()
      .join(del, Seq("docId"), "left_anti")
      .localCheckpoint()
    val untouched = index.select("docId", "sz", "sorted_tokens")
      .join(del, Seq("docId"), "left_anti")
      .join(affected, Seq("docId"), "left_anti")
    // the dfOrderedSets tail, over the affected survivors only (their
    // token SETS are unchanged by deletion — only the ranks moved)
    val reranked = dfSortedSets(posts
      .join(affected.withColumnRenamed("docId", "matchId"),
        Seq("matchId"), "left_semi")
      .select(col("matchId").as("docId"), col("word"))
      .join(dfMerged, Seq("word")))
    untouched.unionByName(reranked)
  }

  /** Exact-threshold ingest gate: arrivals that match NO indexed doc at
    * `J >= t` — [[thresholdMatches]]' complement via one left anti-join
    * on the arrival id (the registry's unique-id contract, as
    * `Dedup.lshGate`). Where the LSH gate admits false drops at the
    * band boundary, this gate's decisions are exact; it costs the
    * verification joins in exchange. At ingest run it per micro-batch
    * (`foreachBatch`) against the periodically compacted index — the
    * candidate anti-join is stream-derived on both sides, which rules
    * out the single-pipeline streaming form `streamingLshGate` uses.
    */
  def thresholdGate(
      batch: DataFrame,
      index: DataFrame,
      threshold: Double): DataFrame = {
    val matched = thresholdMatches(
      batch.select(col("docId"), col("tokens")), index, threshold)
      .select(col("docId"))
    batch.join(matched, Seq("docId"), "left_anti")
  }

  /** Top-k most-similar neighbors per document (extension query): both
    * orientations of each unordered pair, ranked per source doc.
    */
  def topKNeighbors(sims: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // both orientations via ONE generator pass over sims — a unionAll of
    // two selects would reference (and re-evaluate) the whole similarity
    // subtree twice
    val directed = sims.select(explode(array(
        struct(col("docA").as("doc"), col("docB").as("neighbor"), col("similarity")),
        struct(col("docB").as("doc"), col("docA").as("neighbor"), col("similarity"))))
        .as("e"))
      .select(col("e.doc").as("doc"), col("e.neighbor").as("neighbor"),
        col("e.similarity").as("similarity"))
    val w = Window.partitionBy(col("doc"))
      .orderBy(col("similarity").desc, col("neighbor").asc)
    directed
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }
}
