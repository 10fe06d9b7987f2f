package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{GraftFunctions, HashFunctions, OrderedFold, TextFunctions}

/** Deduplication operators for large-scale training-data pipelines.
  *
  * Four families, cheapest-first — the order a real pipeline applies them:
  *   1. exact (content-hash groupBy)
  *   2. MinHash + LSH banding (near-dup candidates without all-pairs)
  *   3. SimHash (Hamming-ball near-dups)
  *   4. n-gram Jaccard (exact set-similarity verification of candidates)
  *
  * Scale notes: every operator shuffles by a *hash* key (content hash, LSH
  * band key, SimHash prefix) — never by raw text — so partitions stay
  * balanced regardless of document-length skew. Nothing here does an
  * unbounded all-pairs join: LSH/banding bounds candidate generation, and
  * the exact verifiers are meant to run on candidate pairs only.
  */
object Dedup {

  /** Exact duplicate groups by md5 of the raw text. Returns one row per
    * distinct content: the keeper (min id), copy count, and content hash.
    * At 100 TB this is one hash-partitioned aggregation — the canonical
    * first dedup pass.
    */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(md5(col(textCol)).as("text_hash"), col(idCol))
      .groupBy("text_hash")
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_copies"))

  /** Rows that survive exact dedup (keeper per content group). */
  def exactDeduped(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.join(
      exactGroups(docs, idCol, textCol).select(col("keeper_id").as(idCol)),
      idCol)

  /** Sub-document (chunk-level) duplication statistics — the C4/RefinedWeb
    * "duplicated span" signal. Documents are cut into consecutive
    * `chunkWords`-word windows (last one possibly shorter); chunk
    * occurrences are counted across the WHOLE corpus; each doc reports how
    * many of its chunks also appear elsewhere. `dup_chunk_frac` near 1
    * means the document is assembled from corpus boilerplate even when no
    * whole-document duplicate exists — the gap exact dedup can't see.
    *
    * Scale shape: chunks shuffle as (id, md5(chunk)) — a fixed-width hash,
    * never the chunk text — so shuffle width is independent of
    * `chunkWords`. Global counts are one hash-partitioned aggregation with
    * map-side combine; the count join is an equi-join on the same hash key
    * (the aggregation's exchange is reusable), and a corpus-boilerplate
    * hot chunk skews one key, which AQE skew-join splits — the reason this
    * is a groupBy+join and not a `count over (partition by hash)` window,
    * which would buffer the hot chunk's rows in one task.
    */
  def chunkStats(docs: DataFrame, idCol: String, textCol: String,
                 chunkWords: Int = 8): DataFrame = {
    require(chunkWords >= 1, s"chunkWords must be >= 1: $chunkWords")
    // the rlike guard guarantees ≥1 token, so every live doc has ≥1
    // chunk — no size(__ws)>0 filter (pushdown would substitute the
    // tokenizer chain into the scan filter) and outer ≡ inner explode
    // (no inferred size()>0 on the chunk-building chain either)
    val live = docs
      .filter(col(idCol).isNotNull && lower(col(textCol)).rlike("[a-z0-9]"))
      .select(col(idCol),
        TextFunctions.normalizedWords(col(textCol)).as("__ws"))
    val nChunks = ceil(size(col("__ws")).cast("double") / chunkWords)
      .cast("int")
    // `__ws` is a materialized attribute, so referencing it from the
    // lambda body is an attribute read, not a re-run tokenizer chain
    val chunks = live
      .select(col(idCol), explode_outer(transform(
        sequence(lit(0), nChunks - 1),
        i => concat_ws(" ", slice(col("__ws"), i * chunkWords + 1,
          lit(chunkWords))))).as("__chunk"))
      .select(col(idCol), md5(col("__chunk")).as("__h"))
    val global = chunks.groupBy(col("__h")).agg(count(lit(1)).as("__n"))
    chunks.join(global, "__h")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("__n") > 1, 1L).otherwise(0L)).as("dup_chunks"),
        round(sum(when(col("__n") > 1, 1L).otherwise(0L)).cast("double")
          / count(lit(1)), 4).as("dup_chunk_frac"))
  }

  /** Streaming exact dedup at ingestion: first arrival of each content
    * hash passes, replays/duplicates drop. State = one row per distinct
    * hash within the watermark horizon — `withWatermark` + an event-time
    * column in the dedup key lets the engine expire state instead of
    * holding every hash ever seen (the difference between bounded and
    * unbounded state at 100 TB/day ingest).
    *
    * `tsCol` must be the event-time column the stream watermarks on.
    */
  def streamingExactDedup(docs: DataFrame, textCol: String, tsCol: String,
                          lateness: String = "1 hour"): DataFrame =
    docs
      .withColumn("text_hash", md5(col(textCol)))
      .withWatermark(tsCol, lateness)
      .dropDuplicatesWithinWatermark("text_hash")

  /** Streaming NEAR-dedup at ingestion: first arrival of each SimHash
    * value passes; any later doc whose `bits`-wide SimHash COLLIDES
    * (Hamming distance 0 — same normalized token set, so reorderings
    * and within-doc repeats of near-identical boilerplate) drops. This
    * is the row-local slice of near-dedup an unbounded stream can do
    * against ITSELF: stream-vs-stream banding would need cross-corpus
    * shuffles. Near-dup testing against the ALREADY-LANDED corpus is a
    * different story — [[streamingLshGate]] probes a static banded
    * index with stateless stream-static joins, and the full banded
    * self-dedup remains a periodic batch compaction. A SimHash dup
    * strictly includes every exact dup, so this REPLACES (not chains
    * with) `streamingExactDedup` — one stateful operator either way,
    * state = one row per distinct simhash inside the watermark horizon.
    *
    * The hash is the same expression the batch operators use
    * (`simHashes`), so stream and batch agree on what collides. Unlike
    * `simHashes` this keeps non-alphanumeric docs (they all hash to the
    * empty-set value and dedup together — a quality gate upstream is
    * the right place to drop them, as `CurationPipeline.runStreaming`
    * does).
    */
  def streamingSimHashDedup(docs: DataFrame, textCol: String, tsCol: String,
                            bits: Int = 32,
                            lateness: String = "1 hour"): DataFrame = {
    GraftFunctions.register(docs.sparkSession)
    docs
      .withColumn("simhash",
        GraftFunctions.simHash(
          transform(TextFunctions.normalizeTokens(col(textCol)),
            t => HashFunctions.md5Long(t)), bits))
      .withWatermark(tsCol, lateness)
      .dropDuplicatesWithinWatermark("simhash")
  }

  /** Per-document MinHash signature, exploded to (id, perm, min_hash) rows
    * (exploded form is oracle-friendly and joins cheaply).
    *
    * `tokenize` picks the set the signature sketches. The default is
    * unigram tokens; pass `TextFunctions.wordShingles(_, n)` for corpora
    * with small vocabularies — unigram sets of near-identical docs collide
    * on almost every band, degenerating LSH to an all-pairs join, while
    * n-gram shingles keep the signatures discriminative.
    */
  /** Shingle tokenizer (native n-gram kernel) for `minHashSignatures`'s
    * `tokenize` parameter. Only valid on DataFrames whose session has
    * `GraftFunctions` registered — `minHashSignatures` registers before
    * analyzing.
    */
  def shingleTokenizer(n: Int): Column => Column =
    c => array_distinct(
      GraftFunctions.wordNGrams(TextFunctions.normalizedWords(c), n))

  def minHashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        k: Int,
                        tokenize: Column => Column =
                          TextFunctions.normalizeTokens): DataFrame = {
    GraftFunctions.register(docs.sparkSession)
    docs
      // cheap empty-doc test BEFORE the tokenizer projection — a
      // size(tokens)>0 filter after it would be pushed down with the whole
      // tokenizer chain substituted in, doubling the scan work. Contract:
      // `tokenize` yields non-empty exactly when the lowercased text has
      // an alphanumeric char (true of normalizeTokens and wordShingles).
      .filter(lower(col(textCol)).rlike("[a-z0-9]"))
      .select(col(idCol), tokenize(col(textCol)).as("tokens"))
      // md5 once per token into its own column, then the k permutation
      // minima in one native single-pass kernel (MinHashSigExpr) —
      // bit-identical to k × array_min(transform(...)) but inside
      // whole-stage codegen instead of k interpreted folds
      .select(col(idCol),
        HashFunctions.tokenHashes(col("tokens")).as("hashes"))
      // OUTER posexplode: the signature is always a k-length array here
      // (hashes is non-null after the rlike filter), so outer ≡ inner —
      // but inner Generate infers size(sig)>0 + isnotnull(sig) filters
      // that pushdown substitutes into the scan, re-running the whole
      // tokenize→hash→minhash chain 2× per row in the scan filter
      .select(col(idCol),
        posexplode_outer(GraftFunctions.minHashSig(col("hashes"), k))
          .as(Seq("perm", "min_hash")))
  }

  /** Collision probability of a (bands b × rows r) MinHash-LSH plan at
    * Jaccard similarity `j`: `1 − (1 − j^r)^b` — the S-curve whose knee
    * placement is the whole banding design space (Leskovec et al.,
    * "Mining of Massive Datasets" §3.4.2). Driver-side math, shared by
    * [[lshBandPlan]] and tuning specs.
    */
  def lshCollisionProbability(j: Double, bands: Int, rows: Int): Double = {
    require(j >= 0.0 && j <= 1.0 && bands >= 1 && rows >= 1,
      s"bad inputs j=$j bands=$bands rows=$rows")
    1.0 - math.pow(1.0 - math.pow(j, rows), bands)
  }

  /** Choose (bands, rows) for a k-permutation signature targeting a
    * Jaccard `threshold`: among the divisor pairs b·r = k, pick the one
    * whose S-curve knee `(1/b)^(1/r)` sits closest to the target (MMDS
    * §3.4.3 — the knee approximates the similarity where collision
    * probability crosses ½). Ties prefer MORE rows per band (fewer,
    * more selective bands — cheaper candidate volume at equal knee
    * distance). Driver-side: feed the result straight into
    * [[lshCandidates]]' `bands` parameter.
    */
  def lshBandPlan(threshold: Double, k: Int): (Int, Int) = {
    require(threshold > 0.0 && threshold < 1.0,
      s"threshold=$threshold must be in (0,1)")
    require(k >= 1, s"k=$k must be >= 1")
    val plans = (1 to k).filter(k % _ == 0).map { b =>
      val r = k / b
      (b, r, math.abs(math.pow(1.0 / b, 1.0 / r) - threshold))
    }
    val (b, r, _) = plans.minBy { case (_, r, d) => (d, -r) }
    (b, r)
  }

  /** LSH candidate pairs: band the k-perm signature into `bands` bands of
    * k/bands rows; docs sharing any band key become a candidate pair.
    * The band key is (band#, hash-of-band-rows) — the shuffle key — so no
    * all-pairs join ever happens; hot buckets are bounded by band width.
    * Output: (id_a, id_b, n_shared_bands), id_a < id_b.
    * Pick `bands` from a target similarity with [[lshBandPlan]].
    */
  def lshCandidates(signatures: DataFrame, idCol: String, k: Int,
                    bands: Int): DataFrame = {
    val banded = bandKeys(signatures, idCol, k, bands)
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_key") === col("b.band_key") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .agg(count(lit(1)).as("n_shared_bands"))
  }

  /** Multi-width LSH banding readout from ONE signature pass and ONE
    * band join — the q135 once-then-subset sweep pattern applied to
    * MinHash banding (tuning `bands` is the recall-vs-cost knob of the
    * whole near-dup family, and re-running [[lshCandidates]] per
    * setting would shuffle the corpus signatures N times). A band of
    * `k/bands` rows matches iff ALL of its `max(bandCounts)/bands`
    * aligned finest sub-bands match, so the self-join runs once at the
    * FINEST granularity and every coarser level falls out of the
    * per-pair matched-band set with a flat codegen expression — no
    * second shuffle, no second corpus scan.
    *
    * Output: `(bands, id_a, id_b, n_shared_bands)` — for each
    * requested level, exactly [[lshCandidates]]' rows (spec-pinned).
    * Every band count must divide `k` and the maximum band count
    * (dyadic sets like 1,2,4,8 qualify).
    *
    * Scale note: the finest banding is the most permissive, so the
    * join's candidate volume is the bands = max(bandCounts) volume —
    * the same upper bound an independent run of the widest setting
    * pays; the per-pair aggregation state is one ≤ maxB-element set.
    */
  def lshCandidatesSweep(signatures: DataFrame, idCol: String, k: Int,
                         bandCounts: Seq[Int]): DataFrame = {
    require(bandCounts.nonEmpty, "lshCandidatesSweep: no band counts")
    val maxB = bandCounts.max
    require(maxB >= 1 && k % maxB == 0, s"bands ($maxB) must divide k ($k)")
    bandCounts.foreach(b => require(b >= 1 && maxB % b == 0,
      s"every band count must divide the maximum ($maxB); got $b"))
    val banded = bandKeys(signatures, idCol, k, maxB)
    val matches = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_key") === col("b.band_key") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .agg(collect_set(col("a.band")).as("__fb"))
    // per level: a group of f consecutive finest bands is a matched
    // coarse band iff every member is in the pair's matched set —
    // bandCounts and maxB are plan-time constants, so this unrolls to
    // a flat whole-stage-codegen sum of array_contains terms
    val levels = array(bandCounts.distinct.sorted.map { b =>
      val f = maxB / b
      val shared = (0 until b).map { g =>
        when((g * f until (g + 1) * f)
          .map(j => array_contains(col("__fb"), lit(j)))
          .reduce(_ && _), 1L).otherwise(0L)
      }.reduce(_ + _)
      struct(lit(b).as("bands"), shared.as("n_shared_bands"))
    }: _*)
    matches
      .select(col("id_a"), col("id_b"), explode(levels).as("__l"))
      .select(col("__l.bands").as("bands"), col("id_a"), col("id_b"),
        col("__l.n_shared_bands").as("n_shared_bands"))
      .filter(col("n_shared_bands") >= 1)
  }

  /** Band a k-perm signature table into its LSH band keys: one row per
    * (id, band) with the band's perm-ordered minhash vector as the key.
    * Shared by [[lshCandidates]] (self-join) and
    * [[incrementalLshMatches]] (batch-vs-index join).
    */
  private def bandKeys(signatures: DataFrame, idCol: String, k: Int,
                       bands: Int): DataFrame = {
    require(k % bands == 0, s"bands ($bands) must divide k ($k)")
    val rowsPerBand = k / bands
    signatures
      .withColumn("band", (col("perm") / lit(rowsPerBand)).cast("int"))
      .groupBy(col(idCol), col("band"))
      // perms arrive unordered after the shuffle; re-impose perm order so
      // the band key is deterministic. The key is the minhash array itself
      // (arrays are orderable join keys in Spark) — no serialization
      // format to keep portable.
      .agg(OrderedFold.values(col("min_hash"), col("perm")).as("band_key"))
  }

  /** Incremental near-dup detection: which documents of a NEW batch
    * collide with an already-indexed corpus? Bands both sides' MinHash
    * signatures and joins batch bands against index bands — never
    * batch-vs-batch, never index-vs-index.
    *
    * This is the ingest-time shape of corpus dedup at 100 TB: the index
    * side's banded table is computed once when the corpus is built and
    * persisted (bucketed by its band key); each arriving batch computes
    * only its OWN signatures — typically small enough that AQE
    * broadcasts the batch side, so the indexed corpus is probed in
    * place with no shuffle at all. Contrast [[lshCandidates]], the
    * from-scratch self-join over one corpus.
    *
    * Output: `(batch_id, index_id, n_shared_bands)`.
    */
  /** The persisted-index side of incremental LSH dedup: the corpus's
    * banded signature table `(idCol, band, band_key)` — compute once
    * when the corpus lands, persist (bucketed by band key), probe
    * forever. This is the static frame [[streamingLshGate]] and
    * [[incrementalLshMatches]]-style ingest paths join against.
    */
  def indexBandKeys(corpus: DataFrame, idCol: String, textCol: String,
                    k: Int, bands: Int,
                    tokenize: Column => Column =
                      TextFunctions.normalizeTokens): DataFrame =
    bandKeys(minHashSignatures(corpus, idCol, textCol, k, tokenize),
      idCol, k, bands)

  /** Ingest-time MinHash-LSH near-dedup of a STREAM against a static
    * banded index ([[indexBandKeys]] output): drops every arriving row
    * whose signature shares ≥1 LSH band with any indexed document —
    * the [[incrementalLshMatches]] collision rule, restated in
    * streaming-legal operators. The signature is row-local (the native
    * `MinHashSigExpr` kernel — no aggregation touches the stream), so
    * the only stateful operator in a cascade remains the watermarked
    * dedup downstream.
    *
    * Shape: a doc survives iff ALL its band keys miss the index — an
    * all-quantifier a stateless streaming plan cannot restate as one
    * exploded equi-join (the per-doc re-collapse would be a streaming
    * aggregation). Instead the index collapses ONCE to its distinct
    * `(band, band_key)` set and is BROADCAST ONCE; each of the `bands`
    * per-band probes is a broadcast-hash left join against that same
    * build (one `BroadcastExchange`, `bands−1` `ReusedExchange`s —
    * StreamingSpec pins it), i.e. one index materialization for the
    * stream's lifetime and O(bands) hash probes per row. When the
    * index outgrows broadcast, gate per micro-batch with the shuffled
    * [[lshGate]] instead — its exploded single-join shape buckets on
    * `(band, band_key)` and never broadcasts.
    *
    * Works identically on a batch frame (the parity gate q162 runs it
    * in batch against the q105 oracle's complement); rows whose text
    * has no alphanumeric character carry no signature and cannot
    * collide — the [[minHashSignatures]] contract.
    */
  def streamingLshGate(stream: DataFrame, textCol: String,
                       indexBands: DataFrame, k: Int, bands: Int,
                       tokenize: Column => Column =
                         TextFunctions.normalizeTokens): DataFrame = {
    require(k % bands == 0, s"bands ($bands) must divide k ($k)")
    GraftFunctions.register(stream.sparkSession)
    val rowsPerBand = k / bands
    val sig = when(lower(col(textCol)).rlike("[a-z0-9]"),
      GraftFunctions.minHashSig(
        HashFunctions.tokenHashes(tokenize(col(textCol))), k))
    // one distinct per-(band, band_key) frame for ALL probes — a key
    // shared by many indexed docs must gate, not multiply, the stream
    // row, and the shared subtree broadcasts once (ReusedExchange).
    // The band number folds INTO the array key (prepended element):
    // a separate `band` equi-column would constant-fold against the
    // probe's literal band and push into the build side as a per-band
    // filter, forking the shared broadcast into `bands` builds
    val idx = broadcast(
      indexBands
        .select(concat(array(col("band").cast("long")), col("band_key"))
          .as("bk"))
        .distinct())
    var cur = stream.withColumn("__sig", sig)
    for (b <- 0 until bands) {
      // the signature array is perm-ordered, so band b's key is the
      // b-th k/bands slice — bandKeys' perm-sorted key, row-locally
      val probe = idx.select(col("bk").as(s"__ik$b"),
        lit(true).as(s"__hit$b"))
      cur = cur
        .withColumn(s"__k$b",
          concat(array(lit(b.toLong)),
            slice(col("__sig"), b * rowsPerBand + 1, rowsPerBand)))
        .join(probe, col(s"__k$b") === col(s"__ik$b"), "left")
        .drop(s"__k$b", s"__ik$b")
    }
    cur
      .filter((0 until bands).map(b => col(s"__hit$b").isNull)
        .reduce(_ && _))
      .drop((0 until bands).map(b => s"__hit$b") :+ "__sig": _*)
  }

  /** Batch LSH gate against a persisted banded index: keeps exactly the
    * documents [[streamingLshGate]] keeps — UNDER the registry's
    * document-key contract that `idCol` is unique and non-null (the
    * [[exactGroups]] / near-dedup convention). The drop decision here
    * is ID-keyed (colliding ids anti-join out) where the stream gate's
    * is row-keyed: a null-id row would bypass the anti-join, and rows
    * sharing an id share a fate. Runs in the shape a corpus-scale
    * index needs — the doc's band keys EXPLODE into `(band, band_key)`
    * rows (row-local slicing; the corpus text is never re-shuffled) and
    * probe the index through ONE equi semi-join, then colliding ids
    * anti-join back out. Both joins key on hashes (`band_key`, `idCol`),
    * so bucketing the persisted index by `(band, band_key)` co-locates
    * the probe with no broadcast anywhere — this is the periodic-
    * compaction / micro-batch shape for indexes too big to broadcast.
    *
    * Gate q163 pins it to the same q105-complement oracle as q162.
    */
  def lshGate(docs: DataFrame, idCol: String, textCol: String,
              indexBands: DataFrame, k: Int, bands: Int,
              tokenize: Column => Column =
                TextFunctions.normalizeTokens): DataFrame = {
    require(k % bands == 0, s"bands ($bands) must divide k ($k)")
    GraftFunctions.register(docs.sparkSession)
    val rowsPerBand = k / bands
    val sig = when(lower(col(textCol)).rlike("[a-z0-9]"),
      GraftFunctions.minHashSig(
        HashFunctions.tokenHashes(tokenize(col(textCol))), k))
    val hit = docs
      // single-row generator barrier: the null filter must read a
      // materialized attribute — filtering the projection directly
      // would push isnotnull(<minhash chain>) below it and evaluate
      // the kernel twice per row (a filter on a generator output
      // cannot push below the Generate)
      .select(col(idCol), explode_outer(array(sig)).as("__sig"))
      .filter(col("__sig").isNotNull)
      .select(col(idCol), explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          slice(col("__sig"), b * rowsPerBand + 1, rowsPerBand)
            .as("band_key"))): _*)).as("__bk"))
      .select(col(idCol), col("__bk.band").as("band"),
        col("__bk.band_key").as("band_key"))
      .join(indexBands.select("band", "band_key"),
        Seq("band", "band_key"), "left_semi")
      .select(col(idCol)).distinct()
    docs.join(hit, Seq(idCol), "left_anti")
  }

  def incrementalLshMatches(batch: DataFrame, index: DataFrame,
                            idCol: String, textCol: String, k: Int,
                            bands: Int,
                            tokenize: Column => Column =
                              TextFunctions.normalizeTokens): DataFrame = {
    val bb = bandKeys(
      minHashSignatures(batch, idCol, textCol, k, tokenize),
      idCol, k, bands)
    val ib = bandKeys(
      minHashSignatures(index, idCol, textCol, k, tokenize),
      idCol, k, bands)
    bb.as("a")
      .join(ib.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_key") === col("b.band_key"))
      .groupBy(col(s"a.$idCol").as("batch_id"),
        col(s"b.$idCol").as("index_id"))
      .agg(count(lit(1)).as("n_shared_bands"))
  }

  /** MinHash signatures from EXPLODED postings (id, token) — the form an
    * inverted-index shuffle produces, where a doc's tokens never sit in
    * one row. Uses the typed `MinHashAggregator` UDAF: constant k-long
    * buffer, map-side partial aggregation, shuffle by id. Same output
    * shape and values as `minHashSignatures`.
    */
  def minHashSignaturesFromPostings(postings: DataFrame, idCol: String,
                                    tokenCol: String, k: Int): DataFrame = {
    val sig = udaf(new graft.functions.MinHashAggregator(k))
    postings
      // null tokens would hash to a null 'h' that the typed aggregator's
      // primitive-Long encoder can't represent faithfully — drop them,
      // matching the array path (normalizeTokens never yields nulls)
      .filter(col(tokenCol).isNotNull)
      .select(col(idCol),
        (HashFunctions.md5Long(col(tokenCol))
          % HashFunctions.MinHashPrime).as("h"))
      .groupBy(col(idCol))
      .agg(sig(col("h")).as("signature"))
      // outer ≡ inner (the UDAF always returns a k-length array); avoids
      // the inferred size/isnotnull filter re-checking the agg output
      .select(col(idCol),
        posexplode_outer(col("signature")).as(Seq("perm", "min_hash")))
  }

  /** MinHash-estimated Jaccard for given candidate pairs: fraction of the k
    * permutations on which the two signatures agree.
    */
  def minHashEstimate(candidates: DataFrame, signatures: DataFrame,
                      idCol: String, k: Int): DataFrame =
    candidates
      .join(signatures.select(col(idCol).as("id_a"), col("perm"),
        col("min_hash").as("mh_a")), Seq("id_a"))
      .join(signatures.select(col(idCol).as("id_b"), col("perm"),
        col("min_hash").as("mh_b")), Seq("id_b", "perm"))
      .groupBy("id_a", "id_b")
      .agg((sum(when(col("mh_a") === col("mh_b"), 1).otherwise(0))
        .cast("double") / k).as("est_jaccard"))

  /** Per-document SimHash (bits-wide, from md5-derived token hashes). */
  def simHashes(docs: DataFrame, idCol: String, textCol: String,
                bits: Int = 32): DataFrame = {
    GraftFunctions.register(docs.sparkSession)
    docs
      .filter(lower(col(textCol)).rlike("[a-z0-9]"))
      .select(col(idCol),
        TextFunctions.normalizeTokens(col(textCol)).as("tokens"))
      .withColumn("hashes",
        transform(col("tokens"), t => HashFunctions.md5Long(t)))
      // one native pass over the hashes (SimHashExpr) instead of `bits`
      // interpreted folds — bit-identical votes/threshold
      .select(col(idCol),
        GraftFunctions.simHash(col("hashes"), bits).as("simhash"))
  }

  /** In-plan fail-fast for the exact block-verifiers ([[simHashNearDups]],
    * [[cosineNearDups]]): their all-pairs join is QUADRATIC in block size,
    * so the contract is that `blockCol`'s per-value cardinality must stay
    * bounded as the corpus grows (more blocks, not bigger blocks). A
    * block that scales with the corpus is the plan shape that dies at
    * 100× — the scale-safe siblings ([[simHashNearDupsBanded]],
    * [[cosineNearDupsLsh]], IVF cells in [[semanticKeepers]]) exist for
    * exactly that case.
    *
    * With `maxBlockSize > 0` the bound is enforced inside the plan: a
    * block-keyed count is joined back (cheap — one exchange the pair
    * join needs anyway, sizes table is #blocks rows) and a `raise_error`
    * folded into a guarded filter fails the job BEFORE the quadratic
    * join materializes. `CaseWhen` branches evaluate conditionally, so
    * the error only fires on an oversized block. `maxBlockSize <= 0`
    * (default) skips the guard and leaves the plan untouched.
    */
  private def guardedBlocks(withBlock: DataFrame, maxBlockSize: Long,
                            op: String): DataFrame =
    if (maxBlockSize <= 0L) withBlock
    else {
      val sizes = withBlock.groupBy("block")
        .agg(count(lit(1)).as("__block_n"))
      val msg = concat(
        lit(s"$op: block "), col("block").cast("string"),
        lit(" holds "), col("__block_n").cast("string"),
        lit(s" rows > maxBlockSize=$maxBlockSize — refusing the " +
          "quadratic all-pairs join; use the banded/LSH sibling " +
          "or a finer blocking key"))
      withBlock.join(sizes, "block")
        .filter(when(col("__block_n") <= maxBlockSize, lit(true))
          .otherwise(raise_error(msg).cast("boolean")))
        .drop("__block_n")
    }

  /** SimHash near-dup pairs within a blocking column (e.g. source shard):
    * Hamming distance ≤ maxHamming. Blocking keeps the pair join bounded;
    * at scale, block on SimHash prefix bands instead (same operator, the
    * blocking column being a prefix expression).
    *
    * Contract: `blockCol` cardinality must grow with the corpus (fixed
    * per-block size), or the self-join is quadratic — pass
    * `maxBlockSize` to enforce this in-plan (see [[guardedBlocks]]), or
    * use [[simHashNearDupsBanded]] whose partition bound is the band
    * value, not the block.
    */
  def simHashNearDups(simHashes: DataFrame, idCol: String,
                      blockCol: Column, maxHamming: Int,
                      maxBlockSize: Long = -1L): DataFrame = {
    val withBlock = guardedBlocks(simHashes.withColumn("block", blockCol),
      maxBlockSize, "simHashNearDups")
    withBlock.as("a")
      .join(withBlock.as("b"),
        col("a.block") === col("b.block") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
          .as("hamming"))
      // null-absorbing threshold (nulls still drop; long sentinel so
      // maxHamming = Int.MaxValue cannot wrap): a null-REJECTING filter
      // on a computed column makes constraint inference push
      // isnotnull(<whole simhash kernel chain>) into the scan filter,
      // doubling the kernel per row (PlanSpec pins the clean shape)
      .filter(coalesce(col("hamming").cast("long"),
        lit(maxHamming.toLong + 1)) <= maxHamming)
  }

  /** Scale-safe SimHash near-dups: pigeonhole banding instead of a
    * block-wide all-pairs join. Split the `bits`-wide simhash into
    * `maxHamming + 1` contiguous bands: two hashes within Hamming
    * distance ≤ maxHamming differ in at most maxHamming bands, so they
    * agree EXACTLY on at least one band (pigeonhole). Candidates are
    * therefore pairs sharing any (band#, band bits) — an equi-join whose
    * shuffle key is the band value, never an all-pairs join within
    * `blockCol` — verified with `bit_count(a^b) ≤ maxHamming` on
    * candidates only, then deduped across bands. Same output as
    * `simHashNearDups` (the all-pairs verifier) on the same block column.
    *
    * `blockCol` still scopes pairs (e.g. same source shard); it is part
    * of the join key, NOT the partition bound — partition size is set by
    * band-value cardinality, so a handful of giant sources cannot create
    * quadratic groups. At 100 TB prefer wider hashes (e.g. bits = 64)
    * for finer bands: with bits/(maxHamming+1) band bits per band the
    * candidate collision rate drops 2× per extra band bit.
    */
  def simHashNearDupsBanded(simHashes: DataFrame, idCol: String,
                            blockCol: Column, maxHamming: Int,
                            bits: Int = 32): DataFrame = {
    require(maxHamming >= 0, s"maxHamming ($maxHamming) must be >= 0")
    val nBands = maxHamming + 1
    require(bits >= nBands && bits <= 64,
      s"bits ($bits) must be in [maxHamming+1 ($nBands), 64]")
    // contiguous band boundaries, widths within 1 bit of each other
    val bounds = (0 to nBands).map(i => i * bits / nBands)
    val bandExprs = (0 until nBands).map { i =>
      val lo = bounds(i)
      val width = bounds(i + 1) - lo
      // width can be 64 (maxHamming=0, bits=64: the band IS the hash);
      // (1L << 64) wraps to 1 in JVM shift semantics, so full-width
      // masks must be -1L or the equi-join degenerates to all-pairs
      val mask = if (width >= 64) -1L else (1L << width) - 1L
      shiftright(col("simhash"), lo).bitwiseAND(lit(mask))
    }
    // outer ≡ inner (the band array is a non-empty literal construction);
    // inner would infer a size()>0 filter re-evaluating every band
    // extraction a second time below the Generate
    val banded = simHashes.withColumn("block", blockCol)
      .select(col(idCol), col("block"), col("simhash"),
        posexplode_outer(array(bandExprs: _*)).as(Seq("band", "band_bits")))
    banded.as("a")
      .join(banded.as("b"),
        col("a.block") === col("b.block") &&
          col("a.band") === col("b.band") &&
          col("a.band_bits") === col("b.band_bits") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
          .as("hamming"))
      // null-absorbing threshold — see simHashNearDups for the rationale
      .filter(coalesce(col("hamming").cast("long"),
        lit(maxHamming.toLong + 1)) <= maxHamming)
      // a pair may share several bands — one row per pair (hamming is
      // functionally determined by the pair, so distinct dedups cleanly)
      .distinct()
  }

  /** Exact n-gram (word-shingle) Jaccard for pairs within a blocking
    * column, in the posting-list formulation: explode shingles, equi-join
    * on (block, shingle) to count shared shingles per pair, then join set
    * sizes and score. A pair is only ever materialized if it shares at
    * least one shingle, so the quadratic all-pairs-within-block join (and
    * its per-pair `array_intersect` over full shingle arrays) never runs —
    * the shuffle key is the shingle, partitions stay balanced, and
    * `HashAggregate` does map-side partial counting. Requires
    * `minJaccard > 0` (zero-overlap pairs are unrepresentable by
    * construction, exactly the rows a positive threshold discards anyway).
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        n: Int, blockCol: Column,
                        minJaccard: Double): DataFrame = {
    require(minJaccard > 0.0,
      "posting-list similarity join cannot emit zero-overlap pairs; " +
        "use a positive threshold")
    GraftFunctions.register(docs.sparkSession)
    val sh = docs
      // cheap empty-doc filter (see minHashSignatures for rationale)
      .filter(lower(col(textCol)).rlike("[a-z0-9]"))
      .withColumn("block", blockCol)
      // words materialized in their own projection so the shingle windows
      // reference an attribute, not a re-evaluated tokenizer chain;
      // windows via the native kernel (WordNGramsExpr, codegen'd)
      .select(col(idCol), col("block"),
        TextFunctions.normalizedWords(col(textCol)).as("ws"))
      .select(col(idCol), col("block"),
        array_distinct(GraftFunctions.wordNGrams(col("ws"), n))
          .as("shingles"))
    // Explicit repartition on the join key: both sides of the self-join
    // below become the IDENTICAL exchange, so ReusedExchange evaluates the
    // scan+shingle pipeline once and reads the shuffle twice — the same
    // plan a multi-executor cluster wants (shuffle by shingle, balanced
    // partitions), instead of AQE broadcasting one side and re-computing
    // the whole subtree for it.
    // outer ≡ inner: shingles is non-empty after the rlike filter (the
    // n-gram kernel emits ≥1 window for any non-empty word list); inner
    // would infer filters that pushdown expands into a doubled
    // words→shingles chain inside the scan filter
    val posts = sh.select(col("block"), col(idCol),
      explode_outer(col("shingles")).as("shingle"))
      .repartition(col("block"), col("shingle"))
    // shingles are distinct per doc, so |set| = posting count — derived
    // from `posts` instead of a third scan of the shingle pipeline
    val sizes = posts.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    val pairs = posts.as("a")
      .join(posts.as("b"),
        col("a.block") === col("b.block") &&
          col("a.shingle") === col("b.shingle") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(sizes.select(col(idCol).as("id_a"), col("sz").as("size_a")),
        "id_a")
      .join(sizes.select(col(idCol).as("id_b"), col("sz").as("size_b")),
        "id_b")
      .select(col("id_a"), col("id_b"), col("inter"),
        col("size_a"), col("size_b"))
      .withColumn("jaccard",
        Jaccard.jaccardScore(col("inter"), col("size_a"), col("size_b")))
      .filter(col("jaccard") >= minJaccard)
  }

  /** Connected components over an undirected edge list (near-dup pairs):
    * iterative min-label propagation (hash-min). Output: one row per
    * node, (id, component) with component = the smallest id reachable —
    * the transitive-closure dedup policy (keep one doc per CLUSTER,
    * vs. the per-pair loser policy `CurationPipeline` uses, which
    * correctly keeps two docs that are each similar to a third but not
    * to each other).
    *
    * Each iteration is one shuffle by node id; the driver loop runs
    * O(component diameter) times (near-dup clusters are shallow — single
    * digits in practice) and stops at the fixed point, detected by a
    * row-wise any-label-changed check over the materialized iteration
    * output (works for ANY orderable id type, string doc ids included).
    * `localCheckpoint` truncates the growing lineage so iteration N
    * doesn't replay iterations 1..N-1. At extreme scale you'd add the
    * large-star/small-star contraction; hash-min is the exact, honest
    * baseline.
    */
  def connectedComponents(edges: DataFrame, idA: String = "id_a",
                          idB: String = "id_b",
                          maxIter: Int = 25): DataFrame = {
    // the edge list participates in EVERY iteration's join — materialize
    // it once (whatever pipeline produced `edges` must not re-run per
    // iteration) and iterate over the materialized form. Both directions
    // come from ONE generator pass: a unionAll of two selects would
    // evaluate the producing pipeline twice even inside this single
    // materialization.
    val sym = edges.select(explode(array(
        struct(col(idA).as("s"), col(idB).as("t")),
        struct(col(idB).as("s"), col(idA).as("t")))).as("e"))
      .select(col("e.s").as("s"), col("e.t").as("t"))
      .localCheckpoint()
    var labels = sym.select(col("s").as("id")).distinct()
      .select(col("id"), col("id").as("component"))
      .localCheckpoint()
    // convergence = no label changed this iteration, checked row-wise by
    // carrying the previous label THROUGH the materialized output — a
    // plain filter over the checkpoint, no extra join or shuffle
    var converged = labels.isEmpty // empty graph: nothing to propagate
    var i = 0
    while (!converged && i < maxIter) {
      val neighborMin = sym
        .join(labels.select(col("id").as("t"), col("component").as("nc")), "t")
        .groupBy(col("s").as("id")).agg(min(col("nc")).as("nmin"))
      val next = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"), col("component").as("__prev"),
          least(col("component"), coalesce(col("nmin"), col("component")))
            .as("component"))
        .localCheckpoint()
      converged = next.filter(col("component") =!= col("__prev")).isEmpty
      // the superseded label checkpoint is dead once `next` materialized
      val stale = labels
      labels = next.select(col("id"), col("component"))
      Knn.releaseCheckpoint(stale)
      i += 1
    }
    // a maxIter exit would return a PARTIALLY propagated labeling that is
    // indistinguishable from a correct one — refuse rather than mislead
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter iterations; " +
        "raise maxIter (components deeper than maxIter hops exist)")
    labels
  }

  /** Connected components via alternating large-star/small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond") — the extreme-scale alternative to `connectedComponents`:
    * hash-min needs O(component diameter) rounds (a 10k-link duplicate
    * chain = 10k shuffles), star contraction converges in O(log²)
    * rounds regardless of diameter. Same output contract: one row per
    * node, (id, component) with component = the smallest id reachable.
    *
    *   - large-star (keyed on each node u over its full neighborhood):
    *     link every neighbor v > u to m = min(N(u) ∪ {u})
    *   - small-star (keyed on the larger endpoint of each edge): link
    *     every smaller neighbor (and u itself) to the minimum
    *
    * Each half-step is one shuffle by node id over the current edge
    * set; edges only ever move "downhill" (toward smaller ids), and at
    * the fixed point the edge set is a star forest centered on the
    * component minima. Convergence is an exact set-equality check on
    * the materialized edge set (a single symmetric-difference
    * full-outer-join probe, no probabilistic hashing), and the
    * returned labeling is re-validated against the
    * ORIGINAL edges — both endpoints of every input edge must agree —
    * so a premature fixed point can never return silently.
    */
  def connectedComponentsStar(edges: DataFrame, idA: String = "id_a",
                              idB: String = "id_b",
                              maxIter: Int = 30): DataFrame = {
    // node universe from the ORIGINAL edges, self-loops included: a node
    // whose only edge is (x, x) carries no contraction edge but must
    // still be labeled (hash-min labels it x — same contract here)
    val nodes = edges
      .select(explode(array(col(idA).as("id"), col(idB).as("id"))).as("id"))
      .distinct()
      .localCheckpoint()
    // canonical undirected form: (s < t), self-loops dropped, deduped.
    // Materialized once — the producing pipeline must not re-run per
    // iteration.
    val orig = edges
      .select(least(col(idA), col(idB)).as("s"),
        greatest(col(idA), col(idB)).as("t"))
      .filter(col("s") =!= col("t")).distinct()
      .localCheckpoint()
    var e = orig
    var converged = e.isEmpty
    var i = 0
    while (!converged && i < maxIter) {
      // large-star over the symmetrized neighborhoods: one generator
      // pass (a unionAll of two selects would evaluate the edge frame
      // twice), min per node, link larger neighbors to min(N ∪ {u})
      val sym = e.select(explode(array(
          struct(col("s").as("u"), col("t").as("v")),
          struct(col("t").as("u"), col("s").as("v")))).as("x"))
        .select(col("x.u").as("u"), col("x.v").as("v"))
      val lmin = sym.groupBy("u").agg(min(col("v")).as("nm"))
      val large = sym.join(lmin, "u")
        .select(col("u"), col("v"), least(col("nm"), col("u")).as("m"))
        .filter(col("v") > col("u") && col("v") =!= col("m"))
        .select(col("m").as("s"), col("v").as("t"))
        .distinct()
      // small-star keyed on the larger endpoint (t in canonical form):
      // link every smaller neighbor and t itself to the minimum
      val smin = large.groupBy("t").agg(min(col("s")).as("nm"))
      val next = large.join(smin, "t")
        .select(explode(array(
          struct(col("nm").as("s"), col("s").as("t")),
          struct(col("nm").as("s"), col("t").as("t")))).as("x"))
        .select(col("x.s").as("s"), col("x.t").as("t"))
        .filter(col("s") =!= col("t"))
        .distinct()
        .localCheckpoint()
      // exact fixed-point test on the canonical edge sets, cheapest
      // check first: counts over the two checkpointed frames are
      // shuffle-free (partition sums), so rounds that still shrink the
      // edge set converge on counts alone; only candidate-convergence
      // rounds (equal counts) pay the one exact symmetric-difference
      // probe (full-outer join on the deduped edge key — a surviving
      // row with either side missing ⇒ sets differ)
      converged = next.count() == e.count() &&
        next.select(col("s"), col("t"), lit(1).as("__l"))
          .join(e.select(col("s"), col("t"), lit(1).as("__r")),
            Seq("s", "t"), "full_outer")
          .filter(col("__l").isNull || col("__r").isNull)
          .isEmpty
      // the superseded checkpoint is dead once `next` is materialized
      // and compared — release it (keep `orig` for the final validation)
      val stale = e
      e = next
      if (stale ne orig) Knn.releaseCheckpoint(stale)
      i += 1
    }
    if (!converged && !e.isEmpty) throw new IllegalStateException(
      s"connectedComponentsStar did not converge in $maxIter iterations")
    // star forest → labels: every larger endpoint hangs off its
    // component min; everyone else (the minima, and nodes whose only
    // edges were self-loops) labels itself
    val hanging = e.select(col("t").as("id"), col("s").as("component"))
      .groupBy("id").agg(min(col("component")).as("component"))
    val labels = nodes.join(hanging, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
    // exact validation against the ORIGINAL edges: both endpoints of
    // every input edge must carry the same component
    val la = labels.select(col("id").as("s"), col("component").as("ca"))
    val lb = labels.select(col("id").as("t"), col("component").as("cb"))
    val disagree = orig.join(la, "s").join(lb, "t")
      .filter(col("ca") =!= col("cb"))
    if (!disagree.isEmpty) throw new IllegalStateException(
      "star contraction produced an inconsistent labeling (should be " +
        "impossible after the fixed-point check)")
    labels
  }

  /** Embedding near-dup pairs: cosine ≥ threshold within a blocking column.
    * Exact verification operator — candidate generation at scale is
    * `Knn.lshBuckets`.
    *
    * Contract: `blockCol` cardinality must grow with the corpus (fixed
    * per-block size), or the self-join is quadratic — pass
    * `maxBlockSize` to enforce this in-plan (see [[guardedBlocks]]), or
    * use [[cosineNearDupsLsh]] whose partition bound is the LSH bucket,
    * not the block.
    */
  def cosineNearDups(embs: DataFrame, idCol: String, vecCol: String,
                     blockCol: Column, minCosine: Double,
                     maxBlockSize: Long = -1L): DataFrame = {
    GraftFunctions.register(embs.sparkSession)
    val e = guardedBlocks(
      embs.withColumn("block", blockCol)
        .select(col(idCol), col("block"), col(vecCol).as("vec"),
          Knn.normF32(col(vecCol)).as("nrm")),
      maxBlockSize, "cosineNearDups")
    e.as("a")
      .join(e.as("b"),
        col("a.block") === col("b.block") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        Knn.cosineFromNorms(col("a.vec"), col("b.vec"),
          col("a.nrm"), col("b.nrm")).as("cosine"))
      // null-absorbing threshold (nulls still drop): a null-rejecting
      // filter here makes constraint inference push isnotnull(<norm
      // kernel>) into the embeddings scan, doubling the dot product
      .filter(coalesce(col("cosine"), lit(Double.NegativeInfinity))
        >= minCosine)
  }

  /** Embedding near-dup pairs at scale: sign-random-projection LSH
    * candidate generation (`Knn.lshBuckets`) fronting the exact cosine
    * verifier — the composition `cosineNearDups`'s scaladoc promises.
    * Candidates are pairs sharing any (hash table, bucket); the join is
    * an equi-join on the bucket id, so the block-wide all-pairs join
    * never happens and candidate volume is bounded by bucket sizes
    * (tuned by `planes`; recall tuned by `tables`). Exact cosine ≥
    * `minCosine` is evaluated on candidates only, with norms computed
    * once per vector (not per pair).
    *
    * Approximate by construction: a pair landing in no shared bucket is
    * not emitted even if its cosine crosses the threshold — the standard
    * LSH recall trade, priced in `tables`.
    */
  def cosineNearDupsLsh(embs: DataFrame, idCol: String, vecCol: String,
                        tables: Int, planes: Int, minCosine: Double,
                        dim: Int = -1): DataFrame = {
    GraftFunctions.register(embs.sparkSession)
    val ids = Knn.lshBuckets(embs, idCol, vecCol, tables, planes, dim)
    val cand = ids.as("a")
      .join(ids.as("b"),
        col("a.htable") === col("b.htable") &&
          col("a.bucket") === col("b.bucket") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .distinct()
    val vecs = embs.where(col(vecCol).isNotNull)
      .select(col(idCol), col(vecCol).as("vec"),
        Knn.normF32(col(vecCol)).as("nrm"))
    cand
      .join(vecs.select(col(idCol).as("id_a"), col("vec").as("va"),
        col("nrm").as("na")), "id_a")
      .join(vecs.select(col(idCol).as("id_b"), col("vec").as("vb"),
        col("nrm").as("nb")), "id_b")
      .select(col("id_a"), col("id_b"),
        Knn.cosineFromNorms(col("va"), col("vb"), col("na"), col("nb"))
          .as("cosine"))
      // null-absorbing threshold — see cosineNearDups for the rationale
      .filter(coalesce(col("cosine"), lit(Double.NegativeInfinity))
        >= minCosine)
  }

  /** SemDeDup-style semantic deduplication: IVF cell assignment →
    * within-cell exact cosine near-dup pairs → connected components →
    * keeper corpus (the cluster minimum survives, everything else
    * drops).
    *
    * The within-cell verification is the published SemDeDup shape, and
    * it is NOT the q36-style fixed-block trap: the blocking key is the
    * coarse quantizer's cell, and the number of centroids is a tuning
    * knob scaled with the corpus (k ∝ n/targetCellSize), so cell sizes —
    * and therefore per-cell pair counts — stay bounded by design as the
    * corpus grows. Centroids broadcast in the assignment; the only wide
    * shuffles are the id-keyed cell join and the pair join's cell-keyed
    * exchange. `centroids` is `(cid, cvec)` (seed with
    * [[Knn.ivfSeedCentroids]], refine with [[Knn.ivfRefine]]).
    */
  def semanticKeepers(docs: DataFrame, embs: DataFrame, idCol: String,
                      vecCol: String, centroids: DataFrame,
                      minCosine: Double): DataFrame = {
    val cells = Knn.ivfAssign(embs, idCol, vecCol, centroids)
    val pairs = cosineNearDups(embs.join(cells, Seq(idCol)), idCol, vecCol,
      col("cid"), minCosine)
    nearDupKeepers(docs, idCol,
      connectedComponents(pairs.select("id_a", "id_b"), "id_a", "id_b"))
  }

  /** The keeper corpus after near-dup clustering: every document that is
    * either in no duplicate cluster at all, or is its cluster's
    * representative (the minimum id — exactly the `component` label the
    * components operators assign). This is the step that turns a
    * labeling into a deduplicated corpus.
    *
    * `components` is `(id, component)` from [[connectedComponents]] /
    * [[connectedComponentsStar]] and holds one row per CLUSTERED doc —
    * typically a small fraction of the corpus — so the left join is an
    * ordinary hash join keyed on the id: the corpus streams through
    * once, the only shuffle is the join's, and no pass ever carries the
    * text of a dropped document past the filter.
    */
  def nearDupKeepers(docs: DataFrame, idCol: String,
                     components: DataFrame): DataFrame = {
    val comps = components
      .select(col("id").as(idCol), col("component").as("__component"))
    docs.join(comps, Seq(idCol), "left")
      .filter(col("__component").isNull ||
        col("__component") === col(idCol))
      .drop("__component")
  }

  /** Quality-aware keeper corpus: per near-dup cluster keep the document
    * maximizing `quality` (ties break to the LOWER id — with a constant
    * quality column this degenerates to [[nearDupKeepers]]' min-id rule),
    * plus every unclustered document. This is the FineWeb-style
    * refinement of keeper selection: when near-duplicates differ (one
    * copy is boilerplate-wrapped, one clean), the cluster should
    * contribute its best exemplar, not its lowest id.
    *
    * `quality` must be computable from a `docs` row (a column or an
    * expression over its columns) and cast to double.
    *
    * Scale shape: only a slim `(id, component, quality)` projection of
    * the CLUSTERED docs (components holds one row per clustered doc —
    * a small fraction of the corpus) shuffles by component for the
    * argmax; the winner table (one row per cluster) joins back to the
    * corpus by component alongside the components table itself, so the
    * full-width corpus streams through exactly once and never carries a
    * dropped document's text past the filter.
    */
  def bestKeepers(docs: DataFrame, idCol: String, components: DataFrame,
                  quality: Column): DataFrame = {
    val comps = components
      .select(col("id").as(idCol), col("component").as("__component"))
    // min(struct(isNull, -q, id)) = argmax by quality, ties to the lower
    // id; the leading isNull flag sorts null/unparseable qualities LAST
    // (Spark's ascending struct ordering would otherwise rank a null
    // -q first and crown the scoreless row). The id rides inside the
    // struct so ANY orderable id type works.
    val winners = docs
      .select(col(idCol), quality.cast("double").as("__q"))
      .join(comps, Seq(idCol))
      .groupBy(col("__component"))
      .agg(min(struct(col("__q").isNull.as("nn"),
        (-col("__q")).as("nq"), col(idCol).as("i")))
        .as("__w"))
      .select(col("__component"), col("__w.i").as("__keeper"))
    docs.join(comps, Seq(idCol), "left")
      .join(winners, Seq("__component"), "left")
      .filter(col("__component").isNull ||
        col(idCol) === col("__keeper"))
      .drop("__component", "__keeper")
  }
}
