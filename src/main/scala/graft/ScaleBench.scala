package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Chunking, Dedup, Graph, Jaccard, Knn, Pq, Scrub}

/** Time the flagship paths over the ScaleFixture 10× corpus and report
  * whether AQE skew handling fired — the local stand-in for the 100 TB
  * design review (numbers recorded in BASELINE.md, "Round-8 scale
  * evidence"). Each workload runs twice; read the second (warm) number.
  */
object ScaleBench {
  /** Optional second CLI arg: run only entries whose label contains
    * one of the '|'-separated substrings (fast single-entry loop
    * while iterating; the recorded BASELINE.md numbers come from
    * unfiltered runs).
    */
  private var only: Option[String] = None

  private def matchesOnly(label: String): Boolean =
    only.forall(_.split('|').exists(label.contains))

  /** Value-producing timed entry: `None` when the label filter skips
    * it. The Option is deliberate — a consumer of a skipped sibling's
    * result must handle the skip at the call site (the prior
    * `null.asInstanceOf` form made that an NPE at a distance under
    * filtered runs only).
    */
  private def timeOpt[A](label: String)(f: => A): Option[A] = {
    if (!matchesOnly(label)) None
    else {
      val t0 = System.nanoTime()
      val r = f
      println(f"[scalebench] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      Some(r)
    }
  }

  /** Unit-only timed entry — the common case. Entries whose result
    * feeds a later readout must use [[timeOpt]] and handle the skip.
    */
  private def time(label: String)(f: => Unit): Unit = { timeOpt(label)(f); () }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/scale10")
    only = args.lift(1)
    val spark = SparkEntry.localSession()
    spark.range(1000000L).selectExpr("sum(id)").collect()
    // the native-kernel SQL names (graft_word_ngrams, ...) are normally
    // registered by the Dedup entry points; register up front so
    // label-filtered runs that use the tokenizers directly resolve too
    graft.functions.GraftFunctions.register(spark)

    def docs: DataFrame = spark.read.parquet(s"$dir/documents.parquet")
    def embs: DataFrame = spark.read.parquet(s"$dir/embeddings.parquet")

    for (round <- Seq("cold", "warm")) {
      time(s"curation_counts_10x $round") {
        println("  counts=" + graft.pipeline.CurationPipeline
          .run(docs, "doc_id", "text", languages = Set.empty).counts)
      }
      time(s"lsh_components_10x $round") {
        // star contraction, NOT hash-min: at 50k docs the LSH candidate
        // graph's diameter outgrows hash-min's iteration budget (the
        // first run of this bench proved it — 25 rounds, no
        // convergence), while contraction converges in O(log n) rounds.
        // Exactly the scale split the Dedup scaladocs prescribe.
        val sigs = Dedup.minHashSignatures(docs, "doc_id", "text", k = 8,
          tokenize = Dedup.shingleTokenizer(3))
        val cands = Dedup.lshCandidates(sigs, "doc_id", k = 8, bands = 4)
        val comps = Dedup.connectedComponentsStar(cands, "id_a", "id_b")
        println("  clustered_docs=" + comps.count())
      }
      time(s"ivf_pq_topk_10x $round") {
        val cents = embs.filter(col("vec_id") < 16)
          .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
        val cb = Pq.pqSeedCodebooks(embs, "vec_id", "embedding",
          m = 8, ksub = 16)
        val r = Pq.ivfPqTopK(embs, embs.filter(col("vec_id") < 20), cents,
          cb, "vec_id", "embedding", k = 5, nprobe = 2)
        println("  topk_rows=" + r.count())
      }
      time(s"jaccard_allpairs_df1000_10x $round") {
        val corpus = graft.corpus.Corpus.read(spark, s"$dir/large10.txt")
        val sims = Jaccard.allPairs(corpus, maxDocFrequency = Some(1000L))
        println("  pairs=" + sims.count())
      }
      // Exact J>=0.8 join, prefix-filtered vs brute force, over 3-gram
      // shingles (a realistic token universe — the word fixture's tiny
      // vocabulary can't show prefix selectivity). Same answer both
      // ways (q172's gate); the wall/shuffle gap is the AllPairs/PPJoin
      // pruning story at corpus scale.
      def shingled: DataFrame = docs.select(col("doc_id").as("docId"),
          Dedup.shingleTokenizer(3)(col("text")).as("tokens"))
        .filter(size(col("tokens")) > 0)
      time(s"jaccard_threshold_prefix_10x $round") {
        println("  pairs=" + Jaccard.thresholdJoin(shingled, 0.8).count())
      }
      time(s"jaccard_threshold_brute_10x $round") {
        val sizes = shingled.select(col("docId"),
          size(col("tokens")).cast("long").as("size"))
        val sims = Jaccard.similarities(
          Jaccard.pairIntersections(Jaccard.postings(shingled)), sizes)
        println("  pairs=" + sims.filter(col("similarity") >= 0.8).count())
      }
      // span-removal paths (q120/q126 shapes) — noop write, NOT count():
      // an Aggregate(count) would let Catalyst prune the clean_text
      // reassembly these entries exist to measure
      time(s"drop_dup_spans_10x $round") {
        graft.operators.Chunking.dropDuplicatedSpans(
          docs, "doc_id", "text", width = 8, maxDf = 2L)
          .write.format("noop").mode("overwrite").save()
      }
      time(s"drop_repeated_spans_10x $round") {
        graft.operators.Chunking.dropRepeatedSpans(
          docs, "doc_id", "text", width = 2)
          .write.format("noop").mode("overwrite").save()
      }
    }
    // The PERSISTED exact-threshold ingest index — the layouts the
    // compaction job writes. `threshold_index_write_once` pays the
    // bucketBy(word) posting write + the set-form table ONCE; every
    // per-micro-batch entry below then reads co-located buckets with
    // no index-side exchange (BucketingSpec pins the plan; these
    // entries put 50k-doc numbers on it). Read together:
    //   threshold_matches_10x (above) — in-memory set-form, index
    //     BUILD inside the timer (the cold-start shape);
    //   threshold_matches_posted_10x — bucketed persisted index,
    //     probe-only (the ingest steady state);
    //   threshold_matches_unbucketed_10x — the same persisted posting
    //     table WITHOUT bucketBy: its delta vs posted IS the
    //     index-side shuffle the bucketed layout removes.
    // compact_index_10x vs rebuild_index_10x: folding the 10k-doc
    // arrival slice into the persisted 40k index (additive df merge +
    // affected-only re-rank, zero re-tokenization — reads only the
    // persisted layouts) vs dfOrderedSets from the corpus text (one
    // shingle pass + materialize + rank — the full rebuild compaction
    // replaces). Noop writes, not count(): the collected sorted_tokens
    // projection must not be pruned out of the timing.
    // (section skips or runs AS A UNIT under a label filter: every
    // probe entry depends on the write-once tables, so the setup runs
    // — and is timed — whenever any of the section's labels is
    // selected; the timeOpt refactor's filtered-sibling rule. The
    // match is against the SUFFIXED labels time() would print —
    // "compact_index_10x warm" must select the section exactly like
    // it selects any other entry.)
    val thresholdSectionLabels = (for {
      base <- Seq("threshold_matches_posted_10x",
        "threshold_matches_unbucketed_10x",
        "compact_index_10x", "rebuild_index_10x",
        "compact_deleted_10x", "rebuild_survivors_10x")
      round <- Seq("cold", "warm")
    } yield s"$base $round") :+ "threshold_index_write_once"
    if (only.forall(_.split('|').forall(s =>
      thresholdSectionLabels.exists(_.contains(s))))) {
      def shing(d: DataFrame): DataFrame =
        d.select(col("doc_id").as("docId"),
          Dedup.shingleTokenizer(3)(col("text")).as("tokens"))
          .filter(size(col("tokens")) > 0)
      // the index BUILD is inside the write-once timer: the published
      // number is the whole one-time setup cost (build + all three
      // table writes), not just the writes
      val tW = System.nanoTime()
      val idx = Jaccard.dfOrderedSets(
        shing(docs.filter(col("doc_id") % 5 =!= 0)).localCheckpoint())
        .localCheckpoint()
      for (t <- Seq("sb_idx_posts", "sb_idx_posts_plain", "sb_idx_sets")) {
        spark.sql(s"DROP TABLE IF EXISTS $t")
        // the catalog is per-JVM but the warehouse directory persists
        // across bench sessions — drop the stale location too, or the
        // managed-table write fails with LOCATION_ALREADY_EXISTS
        val p = new org.apache.hadoop.fs.Path(
          spark.conf.get("spark.sql.warehouse.dir"), t)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(p, true)
      }
      Jaccard.indexPostings(idx).write.bucketBy(32, "word")
        .sortBy("word").mode("overwrite").saveAsTable("sb_idx_posts")
      Jaccard.indexPostings(idx).write
        .mode("overwrite").saveAsTable("sb_idx_posts_plain")
      idx.write.mode("overwrite").saveAsTable("sb_idx_sets")
      println(f"[scalebench] threshold_index_write_once: ${
        (System.nanoTime() - tW) / 1e9}%.2f s")
      def arrivalToks: DataFrame =
        shing(docs.filter(col("doc_id") % 5 === 0)).localCheckpoint()
      for (round <- Seq("cold", "warm")) {
        time(s"threshold_matches_posted_10x $round") {
          println("  matches=" + Jaccard.thresholdMatchesPosted(
            arrivalToks, spark.table("sb_idx_posts"),
            spark.table("sb_idx_sets"), 0.9).count())
        }
        time(s"threshold_matches_unbucketed_10x $round") {
          println("  matches=" + Jaccard.thresholdMatchesPosted(
            arrivalToks, spark.table("sb_idx_posts_plain"),
            spark.table("sb_idx_sets"), 0.9).count())
        }
        time(s"compact_index_10x $round") {
          Jaccard.compactIndexPosted(spark.table("sb_idx_sets"),
            spark.table("sb_idx_posts"), arrivalToks)
            .write.format("noop").mode("overwrite").save()
        }
        time(s"rebuild_index_10x $round") {
          Jaccard.dfOrderedSets(shing(docs).localCheckpoint())
            .write.format("noop").mode("overwrite").save()
        }
        // deletion-side compaction vs the survivor rebuild: take every
        // 7th indexed doc OUT of the persisted 40k index (subtractive
        // df merge + affected-survivor re-rank, zero re-tokenization —
        // reads only the persisted layouts) vs dfOrderedSets from the
        // surviving corpus text
        time(s"compact_deleted_10x $round") {
          Jaccard.compactIndexDeletedPosted(spark.table("sb_idx_sets"),
            spark.table("sb_idx_posts"),
            docs.filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 7 === 0)
              .select(col("doc_id").as("docId")))
            .write.format("noop").mode("overwrite").save()
        }
        time(s"rebuild_survivors_10x $round") {
          Jaccard.dfOrderedSets(
            shing(docs.filter(col("doc_id") % 5 =!= 0 &&
              col("doc_id") % 7 =!= 0)).localCheckpoint())
            .write.format("noop").mode("overwrite").save()
        }
      }
    }
    // BM25 retrieval steady state at 50k docs over a ZIPF-shaped
    // synthetic corpus (the pagerank-entry precedent): the documents
    // fixture's 31-word flat vocabulary is degenerate for retrieval
    // (every term is a stopword with df ≈ 0.77·N), so the testbed is
    // closed-form 100-token docs with tokens w⌊20000/(u+1)⌋ for
    // uniform u — ~280 achievable types (2·√20000) with a heavy head
    // (w1 is half of ALL tokens) and a rare tail (df ~ hundreds), the
    // df shape a real corpus hands a retrieval index. Queries are
    // 101 keyword-shaped 6-term rows: 4 Zipf draws (head-biased, as
    // text is) + 2 rare-tail draws (u < 140 → df ≲ 250 — real queries
    // are biased TOWARD informative terms). The termFrequencies
    // posting layout persists bucketBy(word) ONCE (write-once/probe
    // split + run-as-a-unit filter rule, as the threshold section);
    // each round scores the batch and ranks top-5. Wall tracks the
    // MATCHED postings — the exact-scoring cost, dominated by head
    // terms — so the stop-term-pruned arm (maxDf = 10% of the corpus:
    // only the rare tail survives) is the production config and the
    // unpruned arm prices what the prune saves.
    val bm25SectionLabels = (for {
      base <- Seq("bm25_topk_10x", "bm25_topk_pruned_10x",
        "bm25_topk_wand_10x", "bm25_topk_wand_impact_10x",
        "bm25_topk_champion_10x",
        "bm25_tiered_lowfill_10x", "bm25_tiered_lowfill_wand_10x",
        "bm25_compact_index_10x",
        "bm25_rebuild_index_10x", "bm25_compact_deleted_10x",
        "champ_compact_10x", "champ_rebuild_10x",
        "champ_compact_deleted_10x", "champ_rebuild_survivors_10x",
        "bm25_rebuild_survivors_10x", "phrase_matches_10x",
        "proximity_matches_10x", "bm25_phrase_topk_10x",
        "pos_compact_index_10x", "pos_rebuild_index_10x",
        "pos_compact_deleted_10x", "retrieval_ingest_loop_10x",
        "ql_dirichlet_topk_10x", "ql_wand_impact_10x",
        "snippet_windows_10x", "snippet_texts_10x",
        "proximity_features_10x",
        "ltr_cascade_10x", "ltr_rerank_full_10x",
        "bm25_conjunctive_topk_10x", "bm25_fuzzy_topk_10x",
        "bm25_fuzzy_ed2_topk_10x",
        "bm25f_topk_10x", "bm25f_wand_10x", "passage_maxp_topk_10x",
        "passage_index_build_10x", "passage_maxp_probe_10x",
        "passage_maxp_wand_10x", "passage_compact_10x",
        "bm25_fuzzy_ed2_wand_10x", "bm25_prefix_topk_10x",
        "bm25_prefix_wand_10x", "bm25_prefix_tail_topk_10x",
        "bm25_prefix_tail_wand_10x",
        "federated_topk_10x", "federated_wand_10x", "federated_ql_10x",
        "federated_all_shards_10x", "federated_topk_part_10x",
        "ltr_pairwise_train_10x",
        "rm3_rescore_10x", "rm3_rescore_wand_10x",
        "rm3_rescore_wand_impact_10x", "ql_rm3_rescore_10x",
        "ql_rm3_routed_10x",
        "rm3_rescore_capped_10x", "cooccurrence_10x", "cori_route_10x")
      round <- Seq("cold", "warm")
    } yield s"$base $round") :+ "bm25_index_write_once"
    if (only.forall(_.split('|').forall(s =>
      bm25SectionLabels.exists(_.contains(s))))) {
      def zipfTok(j: org.apache.spark.sql.Column, mod: Int) =
        concat(lit("w"), floor(lit(20000) /
          (pmod(hash(col("id"), j), lit(mod)) + lit(1)))
          .cast("long").cast("string"))
      def zipfDocs(start: Long, end: Long, toks: Int): DataFrame =
        spark.range(start, end).select(col("id").as("doc_id"),
          concat_ws(" ", transform(sequence(lit(0), lit(toks - 1)),
            j => zipfTok(j, 20000))).as("text"))
      val tB = System.nanoTime()
      locally {
        for (t <- Seq("sb_bm25_tf", "sb_bm25_fwd", "sb_bm25_df",
          "sb_bm25_stats", "sb_bm25_pos", "sb_bm25_cf",
          "sb_bm25_imp", "sb_bm25_var", "sb_bm25_champ",
          "sb_bm25_champ2", "sb_pass_tf", "sb_pass_df",
          "sb_pass_stats", "sb_pass_mem", "sb_pass_fwd",
          "sb_pass_imp", "sb_fed_tf")) {
          spark.sql(s"DROP TABLE IF EXISTS $t")
          val p = new org.apache.hadoop.fs.Path(
            spark.conf.get("spark.sql.warehouse.dir"), t)
          p.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .delete(p, true)
        }
        // ONE tokenizer pass feeds all four persisted layouts: the
        // word-bucketed posting table (rare probes, df aggregation),
        // the docId-bucketed FORWARD table (WAND's candidate fetch —
        // the Jaccard two-layout contract on the retrieval side), and
        // the additive df/stat tables (compactTermIndex's state, what
        // bm25ScoresPrecomputed probes without index-side aggregates)
        val tf = graft.operators.Retrieval
          .termFrequencies(zipfDocs(0, 50000, 100), "doc_id", "text")
          .localCheckpoint()
        tf.write.bucketBy(32, "word").sortBy("word")
          .mode("overwrite").saveAsTable("sb_bm25_tf")
        tf.write.bucketBy(32, "docId").sortBy("docId")
          .mode("overwrite").saveAsTable("sb_bm25_fwd")
        graft.operators.Retrieval.dfTable(tf)
          .write.mode("overwrite").saveAsTable("sb_bm25_df")
        graft.operators.Retrieval.corpusStats(tf)
          .write.mode("overwrite").saveAsTable("sb_bm25_stats")
        graft.operators.Retrieval.cfTable(tf)
          .write.mode("overwrite").saveAsTable("sb_bm25_cf")
        // the max/min-mergeable impact-bound metadata (vocab-sized,
        // persisted beside the df table — compactImpactStats merges
        // batches in, deletions leave it conservatively valid)
        graft.operators.Retrieval.impactStats(tf)
          .write.mode("overwrite").saveAsTable("sb_bm25_imp")
        // the shard-PARTITIONED federated posting layout: partitioned
        // by shard on disk so selectAndPrune's static shard-set filter
        // prunes at FILE LISTING (BucketingSpec pins the partition
        // filter) — a 4-of-16 probe reads 1/4 of the bytes before any
        // scan task starts; word-bucketed within each shard partition
        spark.range(50000)
          .select(col("id").as("docId"),
            pmod(col("id"), lit(16)).as("shard"))
          .join(tf, Seq("docId"))
          .select(col("shard"), col("docId"), col("dl"), col("word"),
            col("tf"))
          .write.partitionBy("shard").bucketBy(32, "word").sortBy("word")
          .mode("overwrite").saveAsTable("sb_fed_tf")
        // the fuzzy probe's deletion-neighborhood layout (vocab-sized
        // × avg word length, corpus-independent) — variant-bucketed so
        // a query batch's fuzzy equi-join is exchange-free
        graft.operators.Fuzzy.deletionVariants(
          graft.operators.Retrieval.dfTable(tf))
          .write.bucketBy(32, "variant").sortBy("variant")
          .mode("overwrite").saveAsTable("sb_bm25_var")
        // the champion tier (q221's gate): each term's 50 highest-tf
        // postings — the Zipf head collapses from df ~ 25k to 50 rows
        graft.operators.Retrieval.championPostings(tf, m = 50)
          .write.bucketBy(32, "word").sortBy("word")
          .mode("overwrite").saveAsTable("sb_bm25_champ")
        // ...and a SHALLOW (m = 2) tier for the tiered low-fill arm:
        // 6-term queries reach <= 12 champion candidates, so k = 20
        // under-fills and the whole batch routes to tier 2
        graft.operators.Retrieval.championPostings(tf, m = 2)
          .write.bucketBy(32, "word").sortBy("word")
          .mode("overwrite").saveAsTable("sb_bm25_champ2")
        // the positional layout (phrase probes) — its own tokenizer
        // pass: positions come from the occurrence stream, which the
        // per-(doc, word) tf rows no longer carry
        graft.operators.Retrieval
          .positionalPostings(zipfDocs(0, 50000, 100), "doc_id", "text")
          .write.bucketBy(32, "word").sortBy("word")
          .mode("overwrite").saveAsTable("sb_bm25_pos")
        // the PERSISTED passage-index layout (r18 — q203/q235's
        // gates): ~6 width-32/stride-16 windows per 100-token doc, so
        // the passage posting table is ~2x the word index; built ONCE
        // here like every other layout, so the probe arm below reads
        // what serving actually costs with the build amortized to
        // ingest (the pre-r18 passage arm re-segmented per probe)
        val passLayout = graft.operators.Passages.passageIndex(
          zipfDocs(0, 50000, 100), "doc_id", "text",
          width = 32, stride = 16)
        passLayout.tf.write.bucketBy(32, "word").sortBy("word")
          .mode("overwrite").saveAsTable("sb_pass_tf")
        passLayout.dfTab.write.mode("overwrite")
          .saveAsTable("sb_pass_df")
        passLayout.stats.write.mode("overwrite")
          .saveAsTable("sb_pass_stats")
        passLayout.membership.write.bucketBy(32, "docId")
          .sortBy("docId").mode("overwrite").saveAsTable("sb_pass_mem")
        // ...and the r19 pruning tables: the passageId-keyed forward
        // copy (the bm25TopKWand two-layout contract over passage
        // ids) and the passage impact metadata — both maintained by
        // compactPassageIndex* at ingest like the word index's
        passLayout.tf.write.bucketBy(32, "docId").sortBy("docId")
          .mode("overwrite").saveAsTable("sb_pass_fwd")
        graft.operators.Retrieval.impactStats(passLayout.tf)
          .write.mode("overwrite").saveAsTable("sb_pass_imp")
      }
      println(f"[scalebench] bm25_index_write_once: ${
        (System.nanoTime() - tB) / 1e9}%.2f s")
      def bm25Queries: DataFrame = spark.range(50000)
        .filter(col("id") % 499 === 0)
        .select(col("id").as("query_id"),
          concat_ws(" ",
            (0 to 3).map(j => zipfTok(lit(j), 20000)) ++
              (4 to 5).map(j => zipfTok(lit(j), 140)): _*).as("text"))
      for (round <- Seq("cold", "warm")) {
        time(s"bm25_topk_10x $round") {
          println("  topk_rows=" + graft.operators.Retrieval.bm25TopK(
            graft.operators.Retrieval.bm25ScoresIndexed(
              spark.table("sb_bm25_tf"), bm25Queries, "query_id", "text"), 5)
            .count())
        }
        time(s"bm25_topk_pruned_10x $round") {
          println("  topk_rows=" + graft.operators.Retrieval.bm25TopK(
            graft.operators.Retrieval.bm25ScoresIndexed(
              spark.table("sb_bm25_tf"), bm25Queries, "query_id", "text",
              maxDocFrequency = Some(5000L)), 5)
            .count())
        }
        // SCORE-EXACT pruning at the same df cut: same answers as the
        // unpruned arm (q182's gate), hot postings fetched per
        // candidate through the docId-bucketed forward table instead
        // of scanned through the word index — read the wall against
        // both bm25_topk_10x (what exactness used to cost) and
        // bm25_topk_pruned_10x (what score-changing pruning buys)
        time(s"bm25_topk_wand_10x $round") {
          println("  topk_rows=" + graft.operators.Retrieval.bm25TopKWand(
            spark.table("sb_bm25_tf"), bm25Queries, "query_id", "text",
            k = 5, hotDf = 5000L,
            forward = Some(spark.table("sb_bm25_fwd")),
            dfStats = Some((spark.table("sb_bm25_df"),
              spark.table("sb_bm25_stats"))))
            .count())
        }
        // ...and the impact-TIGHTENED arm (q204/q205's gates): per-term
        // ceilings idf·f(max_tf, min_dl) off the persisted metadata
        // table shrink ub, so more queries route safe and skip the
        // exact fallback — same answers, read the wall and the routing
        // delta against bm25_topk_wand_10x
        time(s"bm25_topk_wand_impact_10x $round") {
          println("  topk_rows=" + graft.operators.Retrieval.bm25TopKWand(
            spark.table("sb_bm25_tf"), bm25Queries, "query_id", "text",
            k = 5, hotDf = 5000L,
            forward = Some(spark.table("sb_bm25_fwd")),
            dfStats = Some((spark.table("sb_bm25_df"),
              spark.table("sb_bm25_stats"))),
            impact = Some(spark.table("sb_bm25_imp")))
            .count())
        }
        // the champion TIER (q221's gate): probes ride the m = 50
        // pruned table with the full stats — the matched-posting
        // volume (the whole probe cost) collapses with the Zipf head,
        // at the recall trade the approximation buys; read against
        // bm25_topk_10x (exact), _pruned (score-changing term drop),
        // and _wand (score-exact)
        time(s"bm25_topk_champion_10x $round") {
          println("  topk_rows=" + graft.operators.Retrieval.bm25TopK(
            graft.operators.Retrieval.bm25ScoresPrecomputed(
              spark.table("sb_bm25_champ"), spark.table("sb_bm25_df"),
              spark.table("sb_bm25_stats"), bm25Queries,
              "query_id", "text"), 5)
            .count())
        }
        // TIERED serving on a LOW-FILL batch (q222's gate): the
        // standard 6-term queries at k = 20 against the SHALLOW
        // (m = 2) champion tier — <= 12 champion candidates per
        // query, so the whole batch under-fills and routes to the
        // exact tier 2. The arm pair reads what WAND inheritance
        // buys the routed tier: the plain arm scans the head terms'
        // full posting lists per routed query, the _wand arm
        // fetches hot contributions per candidate through the
        // forward layout (identical rows — score-exact). Note the
        // trade is k-dependent: θ at rank 20 is weaker than the
        // k = 5 arms', so a slice of the batch still falls back
        time(s"bm25_tiered_lowfill_10x $round") {
          println("  tiered_rows=" + graft.operators.Retrieval
            .bm25TopKTiered(spark.table("sb_bm25_champ2"),
              spark.table("sb_bm25_tf"), spark.table("sb_bm25_df"),
              spark.table("sb_bm25_stats"), bm25Queries,
              "query_id", "text", k = 20)
            .count())
        }
        time(s"bm25_tiered_lowfill_wand_10x $round") {
          println("  tiered_rows=" + graft.operators.Retrieval
            .bm25TopKTiered(spark.table("sb_bm25_champ2"),
              spark.table("sb_bm25_tf"), spark.table("sb_bm25_df"),
              spark.table("sb_bm25_stats"), bm25Queries,
              "query_id", "text", k = 20,
              hotDf = Some(5000L),
              forward = Some(spark.table("sb_bm25_fwd")),
              impact = Some(spark.table("sb_bm25_imp")))
            .count())
        }
        // typo-tolerant retrieval (q209's gate): 2 of each query's 6
        // terms are OOV misspellings — the OOV split, the fuzzy
        // correction through the persisted variant layout, and the
        // corrected-term scoring, all in one plan
        time(s"bm25_fuzzy_topk_10x $round") {
          println("  topk_rows=" + graft.operators.Fuzzy.bm25TopKFuzzy(
            spark.table("sb_bm25_tf"), spark.table("sb_bm25_df"),
            spark.table("sb_bm25_stats"),
            spark.range(50000).filter(col("id") % 499 === 0)
              .select(col("id").as("query_id"),
                concat_ws(" ",
                  (0 to 3).map(j => zipfTok(lit(j), 20000)) ++
                    (4 to 5).map(j =>
                      concat(zipfTok(lit(j), 140), lit("x"))): _*)
                  .as("text")),
            "query_id", "text", k = 5,
            vocabVariants = Some(spark.table("sb_bm25_var")))
            .count())
        }
        // the ed-2 layout price + probe (q226/q227's gates): the
        // delete-<=2 neighborhood is ~len²/2 variants per word vs
        // ed-1's ~len — the arm prints both tables' row counts (the
        // documented size/recall trade) and runs the same typo batch
        // with "xy"-suffixed misspellings only ed 2 can correct
        time(s"bm25_fuzzy_ed2_topk_10x $round") {
          val var1 = spark.table("sb_bm25_var").count()
          val var2 = graft.operators.Fuzzy.deletionVariants(
            spark.table("sb_bm25_df"), maxEdit = 2)
            .localCheckpoint()
          println(s"  var_rows_ed1=$var1 var_rows_ed2=${var2.count()}")
          println("  topk_rows=" + graft.operators.Fuzzy.bm25TopKFuzzy(
            spark.table("sb_bm25_tf"), spark.table("sb_bm25_df"),
            spark.table("sb_bm25_stats"),
            spark.range(50000).filter(col("id") % 499 === 0)
              .select(col("id").as("query_id"),
                concat_ws(" ",
                  (0 to 3).map(j => zipfTok(lit(j), 20000)) ++
                    (4 to 5).map(j =>
                      concat(zipfTok(lit(j), 140), lit("xy"))): _*)
                  .as("text")),
            "query_id", "text", k = 5,
            vocabVariants = Some(var2), maxEdit = 2)
            .count())
        }
        // ...the same ed-2 typo batch through SCORE-EXACT weighted
        // WAND (q227's regated path): the corrected disjunction's hot
        // terms fetch per candidate through the forward layout
        // instead of scanning their posting lists — same answers;
        // read against bm25_fuzzy_ed2_topk_10x
        time(s"bm25_fuzzy_ed2_wand_10x $round") {
          val var2 = graft.operators.Fuzzy.deletionVariants(
            spark.table("sb_bm25_df"), maxEdit = 2)
            .localCheckpoint()
          println("  topk_rows=" + graft.operators.Fuzzy.bm25TopKFuzzy(
            spark.table("sb_bm25_tf"), spark.table("sb_bm25_df"),
            spark.table("sb_bm25_stats"),
            spark.range(50000).filter(col("id") % 499 === 0)
              .select(col("id").as("query_id"),
                concat_ws(" ",
                  (0 to 3).map(j => zipfTok(lit(j), 20000)) ++
                    (4 to 5).map(j =>
                      concat(zipfTok(lit(j), 140), lit("xy"))): _*)
                  .as("text")),
            "query_id", "text", k = 5,
            vocabVariants = Some(var2), maxEdit = 2,
            wandHotDf = Some(5000L),
            forward = Some(spark.table("sb_bm25_fwd")),
            impact = Some(spark.table("sb_bm25_imp")))
            .count())
        }
        // prefix (wildcard) retrieval at scale: 2 of 6 query terms
        // are head-word PREFIXES ('w1', 'w2' — the worst case: each
        // expands to up to 50 df-ranked terms), unpruned vs the
        // weighted-WAND path (q212's regated composition)
        time(s"bm25_prefix_topk_10x $round") {
          val qs = spark.range(50000).filter(col("id") % 499 === 0)
            .select(col("id").as("queryId"),
              explode(array(lit("w1"), lit("w2"))).as("prefix"))
          println("  topk_rows=" + graft.operators.Fuzzy.bm25TopKPrefix(
            spark.table("sb_bm25_tf"), spark.table("sb_bm25_df"),
            spark.table("sb_bm25_stats"), qs, k = 5,
            maxExpansions = 50)
            .count())
        }
        time(s"bm25_prefix_wand_10x $round") {
          val qs = spark.range(50000).filter(col("id") % 499 === 0)
            .select(col("id").as("queryId"),
              explode(array(lit("w1"), lit("w2"))).as("prefix"))
          println("  topk_rows=" + graft.operators.Fuzzy.bm25TopKPrefix(
            spark.table("sb_bm25_tf"), spark.table("sb_bm25_df"),
            spark.table("sb_bm25_stats"), qs, k = 5,
            maxExpansions = 50,
            wandHotDf = Some(5000L),
            forward = Some(spark.table("sb_bm25_fwd")),
            impact = Some(spark.table("sb_bm25_imp")))
            .count())
        }
        // ...and the TAIL-prefix pair — the shape selection theory
        // predicts WAND wins: 'w19'/'w23' expand to one moderately-hot
        // term + ~49 rare ones, so candidates exist, θ is a 50-term
        // disjunction score, and the single hot ceiling loses — most
        // queries route safe and skip the hot posting scans. The
        // head-prefix pair above is the adversarial control (every
        // expansion hot ⇒ all queries fall back ⇒ pure overhead): the
        // expansion's df SHAPE, not corpus size, decides the routing —
        // bm25WandWeightedStats is the one-query production readout
        time(s"bm25_prefix_tail_topk_10x $round") {
          val qs = spark.range(50000).filter(col("id") % 499 === 0)
            .select(col("id").as("queryId"),
              explode(array(lit("w19"), lit("w23"))).as("prefix"))
          println("  topk_rows=" + graft.operators.Fuzzy.bm25TopKPrefix(
            spark.table("sb_bm25_tf"), spark.table("sb_bm25_df"),
            spark.table("sb_bm25_stats"), qs, k = 5,
            maxExpansions = 50)
            .count())
        }
        time(s"bm25_prefix_tail_wand_10x $round") {
          val qs = spark.range(50000).filter(col("id") % 499 === 0)
            .select(col("id").as("queryId"),
              explode(array(lit("w19"), lit("w23"))).as("prefix"))
          println("  topk_rows=" + graft.operators.Fuzzy.bm25TopKPrefix(
            spark.table("sb_bm25_tf"), spark.table("sb_bm25_df"),
            spark.table("sb_bm25_stats"), qs, k = 5,
            maxExpansions = 50,
            wandHotDf = Some(5000L),
            forward = Some(spark.table("sb_bm25_fwd")),
            impact = Some(spark.table("sb_bm25_imp")))
            .count())
        }
        // fold a 10k-doc micro-batch into the persisted 50k index
        // (tf append + additive df/scalar merges — re-tokenizes ONLY
        // the batch) vs the from-scratch 60k rebuild (re-tokenizes
        // everything): the steady-state ingest story, q183's gate
        time(s"bm25_compact_index_10x $round") {
          val batchTf = graft.operators.Retrieval
            .termFrequencies(zipfDocs(50000, 60000, 100),
              "doc_id", "text")
            .localCheckpoint() // consumed 3x by the merge
          val (tfM, dfM, stM) = graft.operators.Retrieval.compactTermIndex(
            spark.table("sb_bm25_tf"), spark.table("sb_bm25_df"),
            spark.table("sb_bm25_stats"), batchTf)
          tfM.write.format("noop").mode("overwrite").save()
          dfM.write.format("noop").mode("overwrite").save()
          stM.write.format("noop").mode("overwrite").save()
        }
        time(s"bm25_rebuild_index_10x $round") {
          val tf = graft.operators.Retrieval
            .termFrequencies(zipfDocs(0, 60000, 100), "doc_id", "text")
            .localCheckpoint()
          tf.write.format("noop").mode("overwrite").save()
          graft.operators.Retrieval.dfTable(tf)
            .write.format("noop").mode("overwrite").save()
          graft.operators.Retrieval.corpusStats(tf)
            .write.format("noop").mode("overwrite").save()
        }
        // champion-tier maintenance (q225's gate): a 10k-doc batch
        // max-merges into the persisted m = 50 champion table (batch
        // champion pass + a <= 2m-rows-per-word re-rank) vs
        // re-windowing the full 60k-doc posting volume; the deletion
        // arm recomputes only the affected terms' lists from the
        // posting table vs the survivor re-window — a TARGETED 100-doc
        // delete (the affected-term path's shape; a mass delete
        // touching every term's list is a rebuild by definition and
        // should be run as one). CAVEAT on reading the deletion pair:
        // this fixture's ~280-type vocabulary makes every delete a
        // mass delete (100 docs × ~60 types cover most lists), so the
        // affected-term recompute degenerates to rebuild + overhead
        // here; its win is |affected| << |vocab| — a real corpus's
        // million-type vocabulary, where the survivor re-window is a
        // full posting pass and the recompute touches only the
        // deleted docs' terms. The APPEND pair is shape-independent
        time(s"champ_compact_10x $round") {
          graft.operators.Retrieval.compactChampionPostings(
            spark.table("sb_bm25_champ"),
            graft.operators.Retrieval.termFrequencies(
              zipfDocs(50000, 60000, 100), "doc_id", "text"), m = 50)
            .write.format("noop").mode("overwrite").save()
        }
        time(s"champ_rebuild_10x $round") {
          graft.operators.Retrieval.championPostings(
            graft.operators.Retrieval.termFrequencies(
              zipfDocs(0, 60000, 100), "doc_id", "text"), m = 50)
            .write.format("noop").mode("overwrite").save()
        }
        time(s"champ_compact_deleted_10x $round") {
          graft.operators.Retrieval.compactChampionPostingsDeleted(
            spark.table("sb_bm25_champ"), spark.table("sb_bm25_tf"),
            spark.range(50000).filter(col("id") % 499 === 0)
              .select(col("id").as("docId")).localCheckpoint(), m = 50)
            .write.format("noop").mode("overwrite").save()
        }
        time(s"champ_rebuild_survivors_10x $round") {
          graft.operators.Retrieval.championPostings(
            spark.table("sb_bm25_tf")
              .filter(col("docId") % 499 =!= 0), m = 50)
            .write.format("noop").mode("overwrite").save()
        }
        // the deletion mirror (q186's gate): take every 7th doc OUT of
        // the persisted triple — tf anti-join + deleted-vocabulary-
        // sized subtractive merges — vs re-tokenizing the survivors
        time(s"bm25_compact_deleted_10x $round") {
          val (tfD, dfD, stD) = graft.operators.Retrieval
            .compactTermIndexDeleted(spark.table("sb_bm25_tf"),
              spark.table("sb_bm25_df"), spark.table("sb_bm25_stats"),
              spark.range(50000).filter(col("id") % 7 === 0)
                .select(col("id").as("docId")))
          tfD.write.format("noop").mode("overwrite").save()
          dfD.write.format("noop").mode("overwrite").save()
          stD.write.format("noop").mode("overwrite").save()
        }
        // passage-level MaxP retrieval (q203's gate): width-32
        // stride-16 windows over the same 50k docs — a ~7x-volume
        // passage index built in the timer (one tokenizer pass + the
        // window explode), scored as pseudo-docs under the production
        // stop-term prune (maxDf = 10% of the passages; q203 gates
        // the UNPRUNED exact form), per-doc max. The probe share
        // scales with the PASSAGE posting volume — the price of
        // passage granularity, which is the point of the arm
        time(s"passage_maxp_topk_10x $round") {
          import graft.operators.{Chunking, Retrieval}
          val pass = Chunking.tokenPassages(zipfDocs(0, 50000, 100),
            "doc_id", "text", width = 32, stride = 16)
            .localCheckpoint()
          val tf = Retrieval.termFrequencies(pass, "passageId", "text")
            .localCheckpoint()
          println("  maxp_rows=" + Retrieval.bm25TopK(
            Retrieval.maxPassageScores(
              Retrieval.bm25ScoresIndexed(tf, bm25Queries,
                "query_id", "text",
                maxDocFrequency = Some(35000L)),
              pass.select("passageId", "docId")), 5)
            .count())
        }
        // ...split into the r18 lifecycle shape: the BUILD arm prices
        // what ingest pays once (segmentation + passage tf/df/stats +
        // membership, all to noop)...
        time(s"passage_index_build_10x $round") {
          import graft.operators.Passages
          val l = Passages.passageIndex(zipfDocs(0, 50000, 100),
            "doc_id", "text", width = 32, stride = 16)
          val tf = l.tf.localCheckpoint() // feeds df/stats below
          tf.write.format("noop").mode("overwrite").save()
          graft.operators.Retrieval.dfTable(tf)
            .write.format("noop").mode("overwrite").save()
          graft.operators.Retrieval.corpusStats(tf)
            .write.format("noop").mode("overwrite").save()
          l.membership.write.format("noop").mode("overwrite").save()
        }
        // ...the PROBE arm serves through the persisted layout — zero
        // segmentation, zero index-side aggregates, one posting join +
        // the result-sized membership max (what q203's 100 TB steady
        // state actually pays per query batch)...
        time(s"passage_maxp_probe_10x $round") {
          import graft.operators.Passages
          println("  maxp_rows=" + Passages.maxPassageTopK(
            Passages.PassageLayout(spark.table("sb_pass_tf"),
              spark.table("sb_pass_df"), spark.table("sb_pass_stats"),
              spark.table("sb_pass_mem")),
            bm25Queries, "query_id", "text", k = 5,
            maxDocFrequency = Some(35000L))
            .count())
        }
        // ...the SCORE-EXACT WAND probe (q245's gate, r19): same
        // layout plus the persisted forward/impact tables, hot
        // passage postings (df > 10% of passages) never scanned for
        // safe queries — read against passage_maxp_probe_10x (the
        // score-CHANGING df cap at the same cut) and against
        // passage_maxp_topk_10x's unpruned 186 s history: this path
        // is exact AND skips the head...
        time(s"passage_maxp_wand_10x $round") {
          import graft.operators.Passages
          println("  maxp_rows=" + Passages.maxPassageTopKWand(
            Passages.PassageLayout(spark.table("sb_pass_tf"),
              spark.table("sb_pass_df"), spark.table("sb_pass_stats"),
              spark.table("sb_pass_mem"),
              forward = Some(spark.table("sb_pass_fwd")),
              impact = Some(spark.table("sb_pass_imp"))),
            bm25Queries, "query_id", "text", k = 5, hotDf = 35000L)
            .count())
        }
        // ...and the COMPACT arm folds a 5k-doc micro-batch into the
        // persisted layout (batch-only segmentation + vocabulary-sized
        // merges) — read against passage_index_build_10x, the rebuild
        // it replaces at ingest
        time(s"passage_compact_10x $round") {
          import graft.operators.Passages
          val merged = Passages.compactPassageIndex(
            Passages.PassageLayout(spark.table("sb_pass_tf"),
              spark.table("sb_pass_df"), spark.table("sb_pass_stats"),
              spark.table("sb_pass_mem")),
            zipfDocs(50000, 55000, 100), "doc_id", "text",
            width = 32, stride = 16)
          merged.tf.write.format("noop").mode("overwrite").save()
          merged.dfTab.write.format("noop").mode("overwrite").save()
          merged.stats.write.format("noop").mode("overwrite").save()
          merged.membership.write.format("noop").mode("overwrite").save()
        }
        // BM25F fielded ranking (q202's gate): title/body split of the
        // same 50k docs, pseudo-tf combined BEFORE saturation. The
        // wall INCLUDES the fielded index build (one tokenizer pass +
        // the per-(doc, word) field fold) — the probe-only share is
        // the same one posting join as bm25_topk
        time(s"bm25f_topk_10x $round") {
          import graft.operators.Retrieval
          val base = zipfDocs(0, 50000, 100)
          val fielded = base.select(col("doc_id"),
            lit("title").as("field"),
            substring(col("text"), 1, 40).as("ftext"))
            .unionByName(base.select(col("doc_id"),
              lit("body").as("field"),
              substring(col("text"), 41, 1 << 30).as("ftext")))
          val ftf = Retrieval.termFrequenciesFielded(fielded,
            "doc_id", "field", "ftext").localCheckpoint()
          println("  bm25f_rows=" + Retrieval.bm25TopK(
            Retrieval.bm25fScores(ftf,
              Seq(("title", 2.0, 0.5), ("body", 1.0, 0.75)),
              bm25Queries, "query_id", "text"), 5)
            .count())
        }
        // ...and the SCORE-EXACT pruned fielded path (q239/q240's
        // gates): composed per-field impact ceilings route queries
        // safe, and the candidates' pseudo-tf folds run doc-restricted
        // — hot words of non-candidate docs never fold. Same answers
        // as bm25f_topk_10x; read the wall against it
        time(s"bm25f_wand_10x $round") {
          import graft.operators.Retrieval
          val base = zipfDocs(0, 50000, 100)
          val fielded = base.select(col("doc_id"),
            lit("title").as("field"),
            substring(col("text"), 1, 40).as("ftext"))
            .unionByName(base.select(col("doc_id"),
              lit("body").as("field"),
              substring(col("text"), 41, 1 << 30).as("ftext")))
          val ftf = Retrieval.termFrequenciesFielded(fielded,
            "doc_id", "field", "ftext").localCheckpoint()
          println("  bm25f_rows=" + Retrieval.bm25fTopKWand(ftf,
            Seq(("title", 2.0, 0.5), ("body", 1.0, 0.75)),
            bm25Queries, "query_id", "text", k = 5, hotDf = 5000L,
            impactF = Some(Retrieval.impactStatsFielded(ftf)))
            .count())
        }
        // conjunctive (boolean-AND) ranking (q200's gate): candidates
        // are the posting INTERSECTION — a 6-term query's all-terms
        // doc set is tiny, so phase 2 is a result-sized forward fetch;
        // phase 1 still scans the matched postings once for the count
        time(s"bm25_conjunctive_topk_10x $round") {
          println("  conj_rows=" + graft.operators.Retrieval
            .bm25TopKConjunctive(spark.table("sb_bm25_tf"),
              spark.table("sb_bm25_df"), spark.table("sb_bm25_stats"),
              bm25Queries, "query_id", "text", k = 5,
              forward = Some(spark.table("sb_bm25_fwd")))
            .count())
        }
        // query-likelihood Dirichlet ranking (q199's gate): the second
        // classical scorer over the same persisted layouts — one
        // posting join with IDENTICAL matched volume to bm25_topk_10x.
        // The ~1.7x wall vs BM25 is the per-posting ln(): BM25's only
        // transcendental (idf) folds into the query-term table, while
        // Dirichlet's log depends on tf and must run per matched
        // posting — inherent to the scorer, not the plan (measured
        // equal-volume, narrow-shuffle)
        time(s"ql_dirichlet_topk_10x $round") {
          println("  ql_rows=" + graft.operators.Retrieval.bm25TopK(
            graft.operators.Retrieval.qlDirichletScores(
              spark.table("sb_bm25_tf"), spark.table("sb_bm25_cf"),
              spark.table("sb_bm25_stats"), bm25Queries,
              "query_id", "text"), 5)
            .count())
        }
        // ...and the SCORE-EXACT pruned QL path (q223's gate): the
        // WAND analog for the second scorer — rare-posting candidates
        // + forward fetch + the impact-tightened QL bound (per-term
        // ln(1 + max_tf·|C|/(μ·cf)) ceilings, dl-floor normalizer).
        // Same answers as ql_dirichlet_topk_10x, hot posting lists
        // skipped for safe-routed queries
        time(s"ql_wand_impact_10x $round") {
          println("  qlw_rows=" + graft.operators.Retrieval.qlTopKWand(
            spark.table("sb_bm25_tf"), bm25Queries, "query_id", "text",
            k = 5, hotDf = 5000L,
            forward = Some(spark.table("sb_bm25_fwd")),
            dfStats = Some((spark.table("sb_bm25_df"),
              spark.table("sb_bm25_stats"))),
            cf = Some(spark.table("sb_bm25_cf")),
            impact = Some(spark.table("sb_bm25_imp")))
            .count())
        }
        // snippet extraction over the ranker's output (q198's gate):
        // top-5 pairs via score-changing pruned scoring, then the
        // width-8 best window per pair — the pairs restriction pushes
        // the docId semi-join BELOW the word join, so the wall is the
        // pruned ranking plus a result-sized positional fetch
        time(s"snippet_windows_10x $round") {
          val top5 = graft.operators.Retrieval.bm25TopK(
            graft.operators.Retrieval.bm25ScoresIndexed(
              spark.table("sb_bm25_tf"), bm25Queries, "query_id", "text",
              maxDocFrequency = Some(5000L)), 5)
            .select(col("queryId"), col("docId")).localCheckpoint()
          println("  snippet_rows=" + graft.operators.Retrieval
            .snippetWindows(spark.table("sb_bm25_pos"), bm25Queries,
              "query_id", "text", width = 8, pairs = Some(top5))
            .count())
        }
        // ...and the snippet TEXT fetch (q230's gate): the best
        // windows broadcast back against one corpus scan — the
        // tokenizer runs only for emitted rows, so the delta over
        // snippet_windows_10x prices exactly the result-sized fetch
        time(s"snippet_texts_10x $round") {
          val top5 = graft.operators.Retrieval.bm25TopK(
            graft.operators.Retrieval.bm25ScoresIndexed(
              spark.table("sb_bm25_tf"), bm25Queries, "query_id", "text",
              maxDocFrequency = Some(5000L)), 5)
            .select(col("queryId"), col("docId")).localCheckpoint()
          val wins = graft.operators.Retrieval
            .snippetWindows(spark.table("sb_bm25_pos"), bm25Queries,
              "query_id", "text", width = 8, pairs = Some(top5))
            .localCheckpoint()
          println("  snip_rows=" + graft.operators.Retrieval
            .snippetTexts(zipfDocs(0, 50000, 100), "doc_id", "text",
              wins, width = 8)
            .count())
        }
        // proximity LTR features in the RESULT-SIZED form (q229's
        // gate runs the full match set; production re-ranking wants
        // top-k pairs): the pairs restriction pushes the docId
        // semi-join below the word join, so the lag-window pass runs
        // over kept pairs' occurrences only
        time(s"proximity_features_10x $round") {
          val top5 = graft.operators.Retrieval.bm25TopK(
            graft.operators.Retrieval.bm25ScoresPrecomputed(
              spark.table("sb_bm25_tf"), spark.table("sb_bm25_df"),
              spark.table("sb_bm25_stats"), bm25Queries,
              "query_id", "text",
              maxDocFrequency = Some(5000L)), 5)
            .select(col("queryId"), col("docId")).localCheckpoint()
          println("  prox_rows=" + graft.operators.Retrieval
            .proximityFeatures(spark.table("sb_bm25_pos"), bm25Queries,
              "query_id", "text", pairs = Some(top5))
            .count())
        }
        // the serving CASCADE (q232's gate): score-exact WAND top-20
        // candidates, pair-restricted LTR features doc-fetched
        // through the forward layout, a pinned linear re-rank — vs
        // the full-match feature table (q219's shape) that a naive
        // re-ranker would assemble. The pair form's matched volume is
        // candidates × doc length; the full form's is the entire
        // posting match set
        time(s"ltr_cascade_10x $round") {
          import graft.operators.{Ltr, Retrieval}
          val top20 = Retrieval.bm25TopKWand(
            spark.table("sb_bm25_tf"), bm25Queries, "query_id", "text",
            k = 20, hotDf = 5000L,
            forward = Some(spark.table("sb_bm25_fwd")),
            dfStats = Some((spark.table("sb_bm25_df"),
              spark.table("sb_bm25_stats"))),
            impact = Some(spark.table("sb_bm25_imp")))
            .select(col("queryId"), col("docId")).localCheckpoint()
          val feats = Retrieval.ltrFeaturesForPairs(
            spark.table("sb_bm25_tf"), spark.table("sb_bm25_df"),
            spark.table("sb_bm25_cf"), spark.table("sb_bm25_stats"),
            bm25Queries, "query_id", "text", top20,
            forward = Some(spark.table("sb_bm25_fwd")))
          println("  cascade_rows=" + Ltr.ltrRerank(feats,
            Ltr.LtrModel(Seq("bm25" -> 0.6, "ql" -> 0.05,
              "n_matched" -> 0.3, "coverage" -> 1.5, "dl" -> -0.01,
              "sum_idf" -> 0.2), 0.1), 5).count())
        }
        time(s"ltr_rerank_full_10x $round") {
          import graft.operators.{Ltr, Retrieval}
          println("  full_rows=" + Ltr.ltrRerank(Retrieval.ltrFeatures(
            spark.table("sb_bm25_tf"), spark.table("sb_bm25_df"),
            spark.table("sb_bm25_cf"), spark.table("sb_bm25_stats"),
            bm25Queries, "query_id", "text"),
            Ltr.LtrModel(Seq("bm25" -> 0.6, "ql" -> 0.05,
              "n_matched" -> 0.3, "coverage" -> 1.5, "dl" -> -0.01,
              "sum_idf" -> 0.2), 0.1), 5).count())
        }
        // GloVe co-occurrence pass over the positional layout (q214's
        // gate): 5M tokens × window 4 = 20M banded events; the stop
        // cap sheds the Zipf head before the band join, counts stay
        // map-side-combined integers, the harmonic fold is
        // window-sized per pair
        time(s"cooccurrence_10x $round") {
          println("  cooc_pairs=" + graft.functions.TextAnalysis
            .windowedCooccurrence(spark.table("sb_bm25_pos"),
              window = 4, minCount = 5L, maxOccFrequency = Some(20000L))
            .count())
        }
        // CORI shard routing (q215's gate): rank 16 hash shards per
        // query off shard-level metadata — the metadata aggregates
        // off the persisted tf table, the probe itself never touches
        // a posting list
        time(s"cori_route_10x $round") {
          import graft.operators.Federation
          val shards = spark.range(50000)
            .select(col("id").as("docId"),
              pmod(col("id"), lit(16)).as("shard"))
          val sdf = Federation
            .shardTermStats(spark.table("sb_bm25_tf"), shards)
            .localCheckpoint()
          val scw = Federation
            .shardSizes(spark.table("sb_bm25_tf"), shards)
            .localCheckpoint()
          println("  routed_rows=" + Federation.coriShardScores(
            sdf, scw, bm25Queries, "query_id", "text")
            .filter(col("rank") <= 4).count())
        }
        // federated END TO END (q237's gate): CORI-select 4 of 16
        // shards per query, probe only their posting rows with GLOBAL
        // statistics, merge — vs the all-shards control (nProbe = 16,
        // bitwise the unsharded top-k). The probe-side delta is what
        // selection buys: ~3/4 of each query's matched posting volume
        // never scores
        time(s"federated_topk_10x $round") {
          import graft.operators.Federation
          val shards = spark.range(50000)
            .select(col("id").as("docId"),
              pmod(col("id"), lit(16)).as("shard"))
          val shardTf = spark.table("sb_bm25_tf")
            .join(shards, Seq("docId"))
            .select(col("shard"), col("docId"), col("dl"), col("word"),
              col("tf"))
          val sdf = Federation
            .shardTermStats(spark.table("sb_bm25_tf"), shards)
            .localCheckpoint()
          val scw = Federation
            .shardSizes(spark.table("sb_bm25_tf"), shards)
            .localCheckpoint()
          println("  fed_rows=" + Federation.coriTopK(shardTf, sdf,
            scw, spark.table("sb_bm25_df"), spark.table("sb_bm25_stats"),
            bm25Queries, "query_id", "text", k = 5, nProbe = 4)
            .count())
        }
        // the same probe over the PERSISTED shard-partitioned layout:
        // no in-arm shard join, and the static shard-set filter lands
        // in the scan's PartitionFilters — 12 of 16 shard directories
        // are never listed (BucketingSpec pins the pruned listing).
        // Measured at this fixture: 11.5 s warm vs 8.2 for the in-arm
        // build — the 16-partition × 32-bucket layout is ~512 small
        // files and open/listing overhead beats the pruned bytes at
        // 50k-doc scale. The layout is still the 100 TB answer: bytes
        // dominate there, the pruned listing reads 1/4 of them, and
        // the word-bucketing keeps the probe join exchange-free — the
        // fixture measures the overhead floor, not the asymptote
        time(s"federated_topk_part_10x $round") {
          import graft.operators.Federation
          val shardTf = spark.table("sb_fed_tf")
          val sdf = Federation.shardTermStats(
            spark.table("sb_bm25_tf"),
            spark.range(50000).select(col("id").as("docId"),
              pmod(col("id"), lit(16)).as("shard")))
            .localCheckpoint()
          val scw = Federation.shardSizes(
            spark.table("sb_bm25_tf"),
            spark.range(50000).select(col("id").as("docId"),
              pmod(col("id"), lit(16)).as("shard")))
            .localCheckpoint()
          println("  fed_rows=" + Federation.coriTopK(shardTf, sdf,
            scw, spark.table("sb_bm25_df"), spark.table("sb_bm25_stats"),
            bm25Queries, "query_id", "text", k = 5, nProbe = 4)
            .count())
        }
        // SCORE-EXACT federated WAND (q248's gate): the same 4-of-16
        // probe with the hot postings inside the selected shards never
        // scanned for safe queries — candidates fetch hot terms
        // doc-wise through the persisted forward table, the impact
        // ceilings route off the persisted metadata. Read the delta
        // against federated_topk_10x: selection already sheds 3/4 of
        // the posting volume, WAND sheds the hot share of what's left.
        // Measured at this fixture (101 queries, all routing safe,
        // theta >> ub): 5.8 s cold vs 7.6 unpruned — but warm 5.8 vs
        // 5.0, the candidate/bound stages' fixed cost exceeding the
        // warm hot-posting scan at 50k. The corpus-size routing rule
        // (Retrieval minWandDocs) applies verbatim: below ~20k docs
        // per probed shard-set, serve coriTopK; the win compounds
        // with corpus size while the stage overhead stays flat
        time(s"federated_wand_10x $round") {
          import graft.operators.Federation
          val shards = spark.range(50000)
            .select(col("id").as("docId"),
              pmod(col("id"), lit(16)).as("shard"))
          val shardTf = spark.table("sb_bm25_tf")
            .join(shards, Seq("docId"))
            .select(col("shard"), col("docId"), col("dl"), col("word"),
              col("tf"))
          val sdf = Federation
            .shardTermStats(spark.table("sb_bm25_tf"), shards)
            .localCheckpoint()
          val scw = Federation
            .shardSizes(spark.table("sb_bm25_tf"), shards)
            .localCheckpoint()
          println("  fed_rows=" + Federation.coriTopKWand(shardTf, sdf,
            scw, spark.table("sb_bm25_df"), spark.table("sb_bm25_stats"),
            bm25Queries, "query_id", "text", k = 5, nProbe = 4,
            hotDf = 5000L,
            forward = Some(spark.table("sb_bm25_fwd")),
            impact = Some(spark.table("sb_bm25_imp")))
            .count())
        }
        // ...and the QL federation (q242's gate): same selection, the
        // Dirichlet probe with global cf/|C| — the per-posting ln()
        // premium over the BM25 arm matches the unsharded QL/BM25 gap
        time(s"federated_ql_10x $round") {
          import graft.operators.Federation
          val shards = spark.range(50000)
            .select(col("id").as("docId"),
              pmod(col("id"), lit(16)).as("shard"))
          val shardTf = spark.table("sb_bm25_tf")
            .join(shards, Seq("docId"))
            .select(col("shard"), col("docId"), col("dl"), col("word"),
              col("tf"))
          val sdf = Federation
            .shardTermStats(spark.table("sb_bm25_tf"), shards)
            .localCheckpoint()
          val scw = Federation
            .shardSizes(spark.table("sb_bm25_tf"), shards)
            .localCheckpoint()
          println("  fed_rows=" + Federation.coriTopKQl(shardTf, sdf,
            scw, spark.table("sb_bm25_cf"), spark.table("sb_bm25_stats"),
            bm25Queries, "query_id", "text", k = 5, nProbe = 4)
            .count())
        }
        time(s"federated_all_shards_10x $round") {
          import graft.operators.Federation
          val shards = spark.range(50000)
            .select(col("id").as("docId"),
              pmod(col("id"), lit(16)).as("shard"))
          val shardTf = spark.table("sb_bm25_tf")
            .join(shards, Seq("docId"))
            .select(col("shard"), col("docId"), col("dl"), col("word"),
              col("tf"))
          val sdf = Federation
            .shardTermStats(spark.table("sb_bm25_tf"), shards)
            .localCheckpoint()
          val scw = Federation
            .shardSizes(spark.table("sb_bm25_tf"), shards)
            .localCheckpoint()
          println("  fed_rows=" + Federation.coriTopK(shardTf, sdf,
            scw, spark.table("sb_bm25_df"), spark.table("sb_bm25_stats"),
            bm25Queries, "query_id", "text", k = 5, nProbe = 16)
            .count())
        }
        // the steady-state ingest loop (StreamingSpec's foreachBatch
        // convention, timed): fold three 2k-doc micro-batches into the
        // persisted 50k layouts — BM25 triple + positional table —
        // probing top-5 after every batch and phrases at the end. The
        // wall is N × (batch tokenize + vocabulary-sized merges +
        // probe); a corpus-sized pass anywhere would show up as
        // rebuild-shaped time instead
        time(s"retrieval_ingest_loop_10x $round") {
          import graft.operators.Retrieval
          var tfC: DataFrame = spark.table("sb_bm25_tf")
          var dfC: DataFrame = spark.table("sb_bm25_df")
          var stC: DataFrame = spark.table("sb_bm25_stats")
          var posC: DataFrame = spark.table("sb_bm25_pos")
          var probed = 0L
          for (i <- 0 until 3) {
            val lo = 50000L + i * 2000L
            val batch = zipfDocs(lo, lo + 2000L, 100).localCheckpoint()
            val batchTf = Retrieval
              .termFrequencies(batch, "doc_id", "text").localCheckpoint()
            val (tfM, dfM, stM) =
              Retrieval.compactTermIndex(tfC, dfC, stC, batchTf)
            tfC = tfM
            dfC = dfM.localCheckpoint()
            stC = stM.localCheckpoint()
            posC = Retrieval.compactPositionalIndex(posC,
              Retrieval.positionalPostings(batch, "doc_id", "text"))
            probed += Retrieval.bm25TopK(
              Retrieval.bm25ScoresPrecomputed(tfC, dfC, stC,
                bm25Queries, "query_id", "text"), 5)
              .count()
          }
          val phrases = spark.range(50000).filter(col("id") % 4999 === 0)
            .select(col("id").as("query_id"),
              concat_ws(" ",
                (0 to 2).map(j => zipfTok(lit(j), 20000)): _*).as("text"))
          probed += Retrieval
            .phraseMatches(posC, phrases, "query_id", "text").count()
          println("  ingest_probe_rows=" + probed)
        }
        // positional-index ingest (q193/q194's gates): append a
        // 10k-doc batch's position rows into the persisted 50k table
        // (tokenize ONLY the batch — the merge is the union) vs
        // re-tokenizing all 60k; the deletion mirror is one anti-join
        time(s"pos_compact_index_10x $round") {
          graft.operators.Retrieval.compactPositionalIndex(
            spark.table("sb_bm25_pos"),
            graft.operators.Retrieval.positionalPostings(
              zipfDocs(50000, 60000, 100), "doc_id", "text"))
            .write.format("noop").mode("overwrite").save()
        }
        time(s"pos_rebuild_index_10x $round") {
          graft.operators.Retrieval.positionalPostings(
            zipfDocs(0, 60000, 100), "doc_id", "text")
            .write.format("noop").mode("overwrite").save()
        }
        time(s"pos_compact_deleted_10x $round") {
          graft.operators.Retrieval.compactPositionalIndexDeleted(
            spark.table("sb_bm25_pos"),
            spark.range(50000).filter(col("id") % 7 === 0)
              .select(col("id").as("docId")))
            .write.format("noop").mode("overwrite").save()
        }
        // exact phrase containment at 50k docs: each query's phrase is
        // its own doc's first three tokens (guaranteed self-match; the
        // Zipf mix makes some phrases head-anchored and some
        // rare-anchored). The probe cost is the ANCHOR term's
        // occurrence volume × 3 — the rarest-term anchoring that
        // replaced the aligned-start-over-all-terms formulation, whose
        // hot-leading phrases ran this same fixture for MINUTES
        time(s"phrase_matches_10x $round") {
          val phrases = spark.range(50000).filter(col("id") % 4999 === 0)
            .select(col("id").as("query_id"),
              concat_ws(" ",
                (0 to 2).map(j => zipfTok(lit(j), 20000)): _*).as("text"))
          println("  phrase_rows=" + graft.operators.Retrieval
            .phraseMatches(spark.table("sb_bm25_pos"), phrases,
              "query_id", "text").count())
        }
        // proximity matching (q196's gate): the same 11 phrases,
        // ordered-within-window-5 with minimal windows — candidate
        // ends are anchor occurrences fanned W wide, the chain runs as
        // a per-end fold; the wall should track phrase_matches_10x
        // times ~W, never the posting volume of the hot phrase words
        time(s"proximity_matches_10x $round") {
          val phrases = spark.range(50000).filter(col("id") % 4999 === 0)
            .select(col("id").as("query_id"),
              concat_ws(" ",
                (0 to 2).map(j => zipfTok(lit(j), 20000)): _*).as("text"))
          println("  proximity_rows=" + graft.operators.Retrieval
            .proximityMatches(spark.table("sb_bm25_pos"), phrases,
              "query_id", "text", slop = 2).count())
        }
        // phrase-CONSTRAINED ranking (q195's gate): the same 11
        // phrases as candidates, scored within candidates through the
        // docId-bucketed forward table — the wall should sit at the
        // phrase probe plus a candidate-sized fetch, NOT at a posting
        // join over the (hot) phrase vocabulary
        time(s"bm25_phrase_topk_10x $round") {
          val phrases = spark.range(50000).filter(col("id") % 4999 === 0)
            .select(col("id").as("query_id"),
              concat_ws(" ",
                (0 to 2).map(j => zipfTok(lit(j), 20000)): _*).as("text"))
          println("  phrase_topk_rows=" + graft.operators.Retrieval
            .bm25TopKPhrase(spark.table("sb_bm25_tf"),
              spark.table("sb_bm25_df"), spark.table("sb_bm25_stats"),
              spark.table("sb_bm25_pos"), phrases, "query_id", "text",
              k = 5,
              forward = Some(spark.table("sb_bm25_fwd")))
            .count())
        }
        // the RM3 composition at 50k (score -> feedback -> expand ->
        // weighted rescore), persisted stats
        time(s"rm3_rescore_10x $round") {
          val exp = graft.operators.Retrieval.rm3ExpandedTerms(
            spark.table("sb_bm25_tf"), spark.table("sb_bm25_df"),
            spark.table("sb_bm25_stats"), bm25Queries,
            "query_id", "text", k = 10, m = 10, lambda = 0.5)
            .localCheckpoint()
          println("  rescored=" + graft.operators.Retrieval.bm25TopK(
            graft.operators.Retrieval.bm25ScoresWeighted(
              spark.table("sb_bm25_tf"), spark.table("sb_bm25_df"),
              spark.table("sb_bm25_stats"), exp), 5)
            .count())
        }
        // the SCORE-EXACT pruned composition (q191's gate): both
        // passes routed through the WAND plans — wand first pass for
        // the feedback set, weighted wand for the rescore — same
        // answers as rm3_rescore_10x with the head postings fetched
        // per candidate instead of scanned; read the wall against the
        // canonical entry (what exactness used to cost) and the
        // capped entry (what score-changing pruning buys)
        time(s"rm3_rescore_wand_10x $round") {
          val exp = graft.operators.Retrieval.rm3ExpandedTerms(
            spark.table("sb_bm25_tf"), spark.table("sb_bm25_df"),
            spark.table("sb_bm25_stats"), bm25Queries,
            "query_id", "text", k = 10, m = 10, lambda = 0.5,
            wandHotDf = Some(5000L),
            forward = Some(spark.table("sb_bm25_fwd")))
            .localCheckpoint()
          println("  rescored=" + graft.operators.Retrieval
            .bm25TopKWandWeighted(
              spark.table("sb_bm25_tf"), exp, k = 5, hotDf = 5000L,
              forward = Some(spark.table("sb_bm25_fwd")),
              dfStats = Some((spark.table("sb_bm25_df"),
                spark.table("sb_bm25_stats"))))
            .count())
        }
        // ...and the same exact composition with the impact-bound
        // tightened ceilings at BOTH passes: more queries route safe,
        // fewer exact fallbacks, identical answers
        time(s"rm3_rescore_wand_impact_10x $round") {
          val imp = spark.table("sb_bm25_imp")
          val exp = graft.operators.Retrieval.rm3ExpandedTerms(
            spark.table("sb_bm25_tf"), spark.table("sb_bm25_df"),
            spark.table("sb_bm25_stats"), bm25Queries,
            "query_id", "text", k = 10, m = 10, lambda = 0.5,
            wandHotDf = Some(5000L),
            forward = Some(spark.table("sb_bm25_fwd")),
            wandImpact = Some(imp))
            .localCheckpoint()
          println("  rescored=" + graft.operators.Retrieval
            .bm25TopKWandWeighted(
              spark.table("sb_bm25_tf"), exp, k = 5, hotDf = 5000L,
              forward = Some(spark.table("sb_bm25_fwd")),
              dfStats = Some((spark.table("sb_bm25_df"),
                spark.table("sb_bm25_stats"))),
              impact = Some(imp))
            .count())
        }
        // the LM-NATIVE RM3 (q233's gate): QL first pass through
        // score-exact QL WAND, softmax likelihood doc weights, the
        // shared tail (expansion df cap = the RM3 stoplist, the
        // production config), the weighted QL second pass — the full
        // LM feedback loop over the same persisted layouts, both
        // passes score-exact pruned (q234's gate): the weighted QL
        // WAND second pass skips the hot posting lists the unpruned
        // form paid for twice (measured 22.8 s warm unpruned — the
        // original query's head terms ride at λ/|Q| weight and drag
        // their lists through the per-posting ln())
        time(s"ql_rm3_rescore_10x $round") {
          val imp = spark.table("sb_bm25_imp")
          val exp = graft.operators.Retrieval.rm3ExpandedTermsQl(
            spark.table("sb_bm25_tf"), spark.table("sb_bm25_cf"),
            spark.table("sb_bm25_stats"), spark.table("sb_bm25_df"),
            bm25Queries, "query_id", "text",
            k = 10, m = 10, lambda = 0.5,
            maxFeedbackDf = Some(5000L),
            wandHotDf = Some(5000L),
            forward = Some(spark.table("sb_bm25_fwd")),
            wandImpact = Some(imp))
            .localCheckpoint()
          println("  ql_rescored=" + graft.operators.Retrieval
            .qlTopKWandWeighted(
              spark.table("sb_bm25_tf"), exp, k = 5, hotDf = 5000L,
              forward = Some(spark.table("sb_bm25_fwd")),
              dfStats = Some((spark.table("sb_bm25_df"),
                spark.table("sb_bm25_stats"))),
              cf = Some(spark.table("sb_bm25_cf")),
              impact = Some(imp))
            .count())
        }
        // the ROUTED second pass (q234's regated default): the |D|
        // consult reads one persisted row, 50k >= the 20k crossover
        // routes to weighted QL WAND — this arm is the proof the
        // routed default keeps the 50k win the forced-WAND arm
        // measured, while BENCH's 500-doc documents shape routes
        // unpruned and stops paying the WAND stage overhead
        time(s"ql_rm3_routed_10x $round") {
          val imp = spark.table("sb_bm25_imp")
          val exp = graft.operators.Retrieval.rm3ExpandedTermsQl(
            spark.table("sb_bm25_tf"), spark.table("sb_bm25_cf"),
            spark.table("sb_bm25_stats"), spark.table("sb_bm25_df"),
            bm25Queries, "query_id", "text",
            k = 10, m = 10, lambda = 0.5,
            maxFeedbackDf = Some(5000L),
            wandHotDf = Some(5000L),
            forward = Some(spark.table("sb_bm25_fwd")),
            wandImpact = Some(imp))
            .localCheckpoint()
          println("  ql_rescored=" + graft.operators.Retrieval
            .qlTopKWandWeightedRouted(
              spark.table("sb_bm25_tf"), exp, k = 5,
              hotDf = Some(5000L),
              forward = Some(spark.table("sb_bm25_fwd")),
              dfStats = Some((spark.table("sb_bm25_df"),
                spark.table("sb_bm25_stats"))),
              cf = Some(spark.table("sb_bm25_cf")),
              impact = Some(imp))
            .count())
        }
        // pairwise LTR training at the serving shape (q236's view +
        // the LtrSpec trainer): candidate lists from the WAND top-20,
        // pair-restricted features, the preference self-join, and 10
        // two-level-fold gradient passes — everything after the
        // feature assembly is pairs-sized
        time(s"ltr_pairwise_train_10x $round") {
          import graft.operators.{Ltr, Retrieval}
          val cands = Retrieval.bm25TopKWand(
            spark.table("sb_bm25_tf"), bm25Queries, "query_id", "text",
            k = 20, hotDf = 5000L,
            forward = Some(spark.table("sb_bm25_fwd")),
            dfStats = Some((spark.table("sb_bm25_df"),
              spark.table("sb_bm25_stats"))),
            impact = Some(spark.table("sb_bm25_imp")))
            .select("queryId", "docId", "rank").localCheckpoint()
          val feats = Retrieval.ltrFeaturesForPairs(
            spark.table("sb_bm25_tf"), spark.table("sb_bm25_df"),
            spark.table("sb_bm25_cf"), spark.table("sb_bm25_stats"),
            bm25Queries, "query_id", "text", cands,
            forward = Some(spark.table("sb_bm25_fwd")))
          val labeled = feats.join(
            cands.filter(col("rank") <= 3)
              .select(col("queryId"), col("docId"), lit(1.0).as("label")),
            Seq("queryId", "docId"), "left_outer")
            .na.fill(0.0, Seq("label")).localCheckpoint()
          val m = Ltr.ltrTrainPairwise(labeled,
            Seq("bm25", "ql", "n_matched", "coverage", "dl", "sum_idf"),
            "label", iters = 10, lr = 0.5)
          println(s"  pairwise_w_bm25=${m.weights.toMap.apply("bm25")}")
        }
        // ...the production configuration: stop-term-pruned FIRST pass
        // (the feedback set through pruned scoring) + the expansion
        // df cap (the RM3 stoplist). Expansion-only capping measured
        // 10.5 s — the uncapped first pass was ~60% of the wall
        time(s"rm3_rescore_capped_10x $round") {
          val exp = graft.operators.Retrieval.rm3ExpandedTerms(
            spark.table("sb_bm25_tf"), spark.table("sb_bm25_df"),
            spark.table("sb_bm25_stats"), bm25Queries,
            "query_id", "text", k = 10, m = 10, lambda = 0.5,
            maxFeedbackDf = Some(5000L),
            firstPassMaxDf = Some(5000L))
            .localCheckpoint()
          println("  rescored=" + graft.operators.Retrieval.bm25TopK(
            graft.operators.Retrieval.bm25ScoresWeighted(
              spark.table("sb_bm25_tf"), spark.table("sb_bm25_df"),
              spark.table("sb_bm25_stats"), exp,
              maxDocFrequency = Some(5000L)), 5)
            .count())
        }
        time(s"bm25_rebuild_survivors_10x $round") {
          val tf = graft.operators.Retrieval
            .termFrequencies(
              zipfDocs(0, 50000, 100).filter(col("doc_id") % 7 =!= 0),
              "doc_id", "text")
            .localCheckpoint()
          tf.write.format("noop").mode("overwrite").save()
          graft.operators.Retrieval.dfTable(tf)
            .write.format("noop").mode("overwrite").save()
          graft.operators.Retrieval.corpusStats(tf)
            .write.format("noop").mode("overwrite").save()
        }
      }
    }
    // Long-document linearity probe for the sort-based dropRepeatedSpans:
    // same doc count, 10× the tokens per doc. Each doc is two identical
    // halves (maximal repeat load: every second-half position is a
    // repeat start) over a 50-token vocabulary. ~10× wall at 10× length
    // means no per-row superlinear straggler — the prefix-scan
    // formulation this replaced was O(n²) per row, for which 50k-token
    // docs would be ~100× the 5k wall instead.
    def longDocs(n: Int, toks: Int): DataFrame = {
      val half = transform(sequence(lit(0), lit(toks / 2 - 1)),
        i => concat(lit("w"), pmod(hash(col("id"), i), lit(50))))
      spark.range(n).select(col("id").cast("string").as("doc_id"),
        concat_ws(" ", flatten(array(half, half))).as("text"))
    }
    for (round <- Seq("cold", "warm"); (label, toks) <- Seq("5k" -> 5000, "50k" -> 50000)) {
      time(s"repeated_spans_longdoc_$label $round") {
        graft.operators.Chunking.dropRepeatedSpans(
          longDocs(32, toks), "doc_id", "text", width = 8)
          .write.format("noop").mode("overwrite").save()
      }
    }
    // Long-BOILERPLATE probe for the gap-complement dropDuplicatedSpans
    // reassembly: 50k-token docs, 80% of each covered by a 40k-token
    // boilerplate block IDENTICAL across all 32 docs (every boilerplate
    // shingle has df=32 > maxDf → hot positions ≈ 0.8 × tokens — the
    // adversarial mostly-duplicated web-scrape shape). The per-token
    // exists mask this round replaced is O(tokens × hot-positions) ≈
    // 2×10⁹ lambda evaluations PER ROW here; the gap-complement is
    // O(|hot|) slice copies, so the wall should sit in the same range
    // as the repeated-spans long-doc probe above, not hours.
    def boilerDocs(n: Int, boilerToks: Int, uniqToks: Int): DataFrame = {
      val boiler = transform(sequence(lit(0), lit(boilerToks - 1)),
        i => concat(lit("b"), pmod(i, lit(9973))))
      val uniq = transform(sequence(lit(0), lit(uniqToks - 1)),
        i => concat(lit("u"), col("id"), lit("x"), i))
      spark.range(n).select(col("id").cast("string").as("doc_id"),
        concat_ws(" ", flatten(array(boiler, uniq))).as("text"))
    }
    for (round <- Seq("cold", "warm")) {
      time(s"dup_spans_boilerplate_50k $round") {
        graft.operators.Chunking.dropDuplicatedSpans(
          boilerDocs(32, 40000, 10000), "doc_id", "text",
          width = 8, maxDf = 2L)
          .write.format("noop").mode("overwrite").save()
      }
    }
    // nprobe tuning curve (q135's readout at scale): wall + recall@5
    // against exact-L2 ground truth per probe width, SEED codebooks vs
    // one Lloyd round (`pqRefine(iters = 1)`). Measured findings
    // (BASELINE.md round 9): training lifts recall at EVERY width
    // (+0.03 absolute at 1×), but on the uniform fixture the curve
    // FALLS as probes widen under both codebooks — d=64 uniform
    // vectors distance-concentrate, so ADC's quantization noise swamps
    // the tiny true-distance spread and a wider pool only admits
    // ADC-underestimated imposters; the nearest cell already holds the
    // true neighborhood. At 10× (clone-structured fixture) recall is
    // 1.0 at every width — clones quantize to near-identical codes in
    // the query's own cell. The harness, not the happy curve, is the
    // deliverable: on corpus-shaped (clustered) embeddings the same
    // readout drives the published recall-vs-latency trade.
    // (whole section skipped under a label filter: its intermediate
    // time() results — exactL2, lloydCb — feed later untimed readouts)
    if (only.isEmpty) {
      val queries = embs.filter(col("vec_id") < 20)
      val exactL2 = Knn.bruteForceTopKL2(embs, queries,
        "vec_id", "embedding", k = 5).localCheckpoint()
      val cents = embs.filter(col("vec_id") < 16)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      val seedCb = Pq.pqSeedCodebooks(embs, "vec_id", "embedding",
        m = 8, ksub = 16)
      val lloydCb = timeOpt("pq_refine_1round") {
        Pq.pqRefine(embs, "vec_id", "embedding", seedCb, iters = 1)
      }.getOrElse(sys.error(
        "pq_refine_1round cannot be label-filtered: its result feeds " +
          "the nprobe sweep (the whole section is only.isEmpty-guarded)"))
      for (round <- Seq("cold", "warm");
           (cbl, cb) <- Seq("seed" -> seedCb, "lloyd1" -> lloydCb);
           p <- Seq(1, 2, 4, 8)) {
        // the timer covers the SEARCH only (materialized through the
        // lazy checkpoint's first action) so the wall is apples-to-
        // apples with ivfadc_sweep_4widths below; the recall readout
        // REUSES the checkpointed result instead of re-running the
        // whole search untimed
        val approx = Pq.ivfPqTopK(embs, queries, cents, cb,
          "vec_id", "embedding", k = 5, nprobe = p)
          .localCheckpoint(eager = false)
        time(s"ivfadc_nprobe_${cbl}_$p $round") {
          approx.write.format("noop").mode("overwrite").save()
        }
        val r = Knn.recallAtK(approx, exactL2)
          .agg(sum("n_hit").cast("double") / sum("n_exact"))
          .head().getDouble(0)
        println(f"  recall_l2@5=$r%.3f")
        Knn.releaseCheckpoint(approx)
      }
      Knn.releaseCheckpoint(exactL2)
      Knn.releaseCheckpoint(lloydCb)
    }
    // the 4-width sweep as ONE pass (Pq.ivfPqTopKSweep) — compare its
    // wall against the SUM of the four independent ivfadc_nprobe_*
    // entries above: the sweep probes/encodes/ADC-scores once and only
    // the rank windows multiply
    for (round <- Seq("cold", "warm")) {
      time(s"ivfadc_sweep_4widths $round") {
        val cents = embs.filter(col("vec_id") < 16)
          .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
        val cb = Pq.pqSeedCodebooks(embs, "vec_id", "embedding",
          m = 8, ksub = 16)
        Pq.ivfPqTopKSweep(embs, embs.filter(col("vec_id") < 20), cents,
          cb, "vec_id", "embedding", k = 5, nprobes = Seq(1, 2, 4, 8))
          .write.format("noop").mode("overwrite").save()
      }
    }
    // the RESIDUAL sweep (Jégou §III-A): same widths over codebooks
    // trained on x − centroid(cell); the wall delta vs the raw sweep
    // above is the residual path's cost (one extra assignment join at
    // encode, an nprobe×-larger broadcast distance table) — the recall
    // side of the trade is recorded by the gated q135
    for (round <- Seq("cold", "warm")) {
      time(s"ivfadc_residual_sweep_4widths $round") {
        val cents = embs.filter(col("vec_id") < 16)
          .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
        val cb = Pq.pqSeedCodebooks(
          Pq.residuals(embs, "vec_id", "embedding", cents)
            .filter(col("vec_id") >= 16),
          "vec_id", "rvec", m = 8, ksub = 16)
        Pq.ivfPqTopKSweepResidual(embs, embs.filter(col("vec_id") < 20),
          cents, cb, "vec_id", "embedding", k = 5,
          nprobes = Seq(1, 2, 4, 8))
          .write.format("noop").mode("overwrite").save()
      }
    }
    // BPE merge training at 10× (lifting q104's sf0.01 scope pin —
    // round-9 task): the one corpus-scale pass is wordCounts; each of
    // the 8 merge rounds is a VOCABULARY-sized argmax + rewrite, so
    // per-round wall should be corpus-independent after round 0.
    // Per-merge walls print via verbose — the irreducible sequential
    // dependency (merge i+1's counts need merge i applied) is the
    // single-row argmax collect, not a corpus operation.
    for (round <- Seq("cold", "warm")) {
      time(s"bpe_learn_8merges_10x $round") {
        graft.operators.Bpe.learnMerges(docs, "text", numMerges = 8,
          verbose = true).collect()
        ()
      }
    }
    // multi-width banding sweep vs four independent runs (the q143
    // readout at scale): the sweep shares one signature pass and one
    // finest-granularity band join; the independent loop re-shuffles
    // the signatures per band count. Compare the walls; per-level
    // candidate counts printed for the recall-vs-cost record.
    for (round <- Seq("cold", "warm")) {
      time(s"lsh_band_sweep_4levels $round") {
        val sigs = Dedup.minHashSignatures(docs, "doc_id", "text", k = 8,
          tokenize = Dedup.shingleTokenizer(3))
        val sweep = Dedup.lshCandidatesSweep(sigs, "doc_id", k = 8,
          bandCounts = Seq(1, 2, 4, 8))
        val counts = sweep.groupBy("bands").count()
          .orderBy("bands").collect()
          .map(r => s"${r.get(0)}->${r.get(1)}").mkString(", ")
        println(s"  level_candidates: $counts")
      }
      // recall-vs-cost readout (the q143 curve at 10×, untimed — the
      // deliverable is the numbers): truth = est-Jaccard ≥ 0.5 within
      // the widest level, recall per level = truth pairs recovered
      if (round == "warm" && only.isEmpty) {
        val sigs = Dedup.minHashSignatures(docs, "doc_id", "text", k = 8,
          tokenize = Dedup.shingleTokenizer(3)).localCheckpoint()
        val sweep = Dedup.lshCandidatesSweep(sigs, "doc_id", k = 8,
          bandCounts = Seq(1, 2, 4, 8)).localCheckpoint()
        val truth = Dedup.minHashEstimate(
          sweep.filter(col("bands") === 8).select("id_a", "id_b"),
          sigs, "doc_id", k = 8)
          .filter(col("est_jaccard") >= 0.5).select("id_a", "id_b")
          .localCheckpoint()
        val nTrue = truth.count()
        val found = sweep.join(truth, Seq("id_a", "id_b"), "left_semi")
          .groupBy("bands").count().orderBy("bands").collect()
          .map(r => f"${r.get(0)}->${r.getLong(1)}(${
            r.getLong(1).toDouble / nTrue}%.3f)").mkString(", ")
        println(s"  level_recall (n_true=$nTrue): $found")
        Knn.releaseCheckpoint(truth)
        Knn.releaseCheckpoint(sweep)
        Knn.releaseCheckpoint(sigs)
      }
      time(s"lsh_band_independent_4levels $round") {
        for (b <- Seq(1, 2, 4, 8)) {
          val sigs = Dedup.minHashSignatures(docs, "doc_id", "text", k = 8,
            tokenize = Dedup.shingleTokenizer(3))
          Dedup.lshCandidates(sigs, "doc_id", k = 8, bands = b)
            .write.format("noop").mode("overwrite").save()
        }
      }
    }
    // z-order layout at scale: ONE percentile pass for ALL dimensions
    // (equiDepthCutsAll; model-sized cuts) + one range shuffle on the
    // Morton value — the cost profile of a table-optimize run; wall
    // should track the corpus, dominated by the shuffle
    for (round <- Seq("cold", "warm")) {
      time(s"zorder_layout $round") {
        graft.operators.Layout.zorderRepartition(
          docs.select(col("doc_id").cast("double").as("doc_id"),
            col("n_chars").cast("double").as("n_chars"), col("text")),
          Seq("doc_id", "n_chars"), bits = 4, numPartitions = 32)
          .write.format("noop").mode("overwrite").save()
      }
    }
    // classification at scale: the centroid model is one corpus pass +
    // a literal-projection classify (the claimed cheapest-shape path),
    // and the vote rides the LSH index — both should scale ~with the
    // corpus, not with |queries|·|corpus|
    for (round <- Seq("cold", "warm")) {
      time(s"centroid_classify_lit $round") {
        val cents = graft.operators.Classify.labelCentroids(
          embs, "vec_id", "embedding", "label")
        graft.operators.Classify.centroidTopLabelLit(
          embs, "vec_id", "embedding", cents, "label")
          .write.format("noop").mode("overwrite").save()
      }
      time(s"knn_vote_lsh $round") {
        val topk = Knn.lshTopK(embs, "vec_id", "embedding", k = 5,
          tables = 2, planes = 8, dim = 64)
        graft.operators.Classify.classifyByVote(topk, embs,
          "vec_id", "label")
          .write.format("noop").mode("overwrite").save()
      }
    }
    // web layer at 10×: html extraction is a pure projection (wall
    // should track the scan); line dedup adds the line-hash df agg +
    // broadcast hot set + id-keyed reassembly (wall should track the
    // corpus, not the hot-line count — the q149 shape over 50k docs
    // with ~515-doc footer groups)
    def webDocs: DataFrame = docs.where(col("doc_id").isNotNull)
      .select(col("doc_id"), concat_ws("\n",
        lit("site navigation home about contact"),
        col("text"),
        concat(lit("footer group "), (col("doc_id") % 97).cast("string")),
        concat(lit("doc signature "),
          col("doc_id").cast("string"))).as("text"))
    for (round <- Seq("cold", "warm")) {
      time(s"html_to_text_10x $round") {
        docs.where(col("doc_id").isNotNull)
          .select(col("doc_id"), Scrub.htmlToText(concat(
            lit("<html><body><div>Home | About | Contact</div><p>"),
            col("text"),
            lit("</p><script>var x = 1;</script><!-- footer --></body>" +
              "</html>"))).as("t"))
          .write.format("noop").mode("overwrite").save()
      }
      time(s"drop_dup_lines_10x $round") {
        Chunking.dropDuplicatedLines(webDocs, "doc_id", "text",
          maxDf = 48L)
          .write.format("noop").mode("overwrite").save()
      }
      // host-graph PageRank on a closed-form 1M-edge / 100k-host graph
      // (≈ the host-count scale of a national webcrawl): 10 damped
      // rounds, each two edge-keyed joins + one agg — wall should be
      // ~linear in rounds × edges, storage constant via the per-round
      // checkpoint release
      time(s"pagerank_1m_edges_10iter $round") {
        val edges = spark.range(1000000L).select(
          (col("id") % 100000L).as("src"),
          pmod(hash(col("id")), lit(100000)).cast("long").as("dst"))
        Graph.pageRank(edges, "src", "dst", iterations = 10)
          .write.format("noop").mode("overwrite").save()
      }
      // WARC ingestion throughput: 50k synthetic segments (~150k
      // records) through the byte-level Content-Length walk — the
      // per-segment flatMap seam a crawl reader drives; fixture
      // synthesis is in-loop like the multimodal entries, so read the
      // delta against a synthesis-only baseline as the parse cost
      time(s"warc_parse_10x $round") {
        import spark.implicits._
        val segs = docs.where(col("doc_id").isNotNull)
          .select(col("doc_id")).as[Long]
          .map(id => (id, graft.corpus.Warc.syntheticWarc(id)))
          .toDF("id", "content")
        graft.corpus.Warc.records(segs)
          .write.format("noop").mode("overwrite").save()
      }
      // the same walk over the .warc.gz wire format (a gzip member per
      // record): the delta against warc_parse_10x is the inflate cost,
      // which at a real crawl is the price of reading Common Crawl at all
      time(s"warc_gz_parse_10x $round") {
        import spark.implicits._
        val segs = docs.where(col("doc_id").isNotNull)
          .select(col("doc_id")).as[Long]
          .map(id => (id, graft.corpus.Warc.syntheticWarcGz(id)))
          .toDF("id", "content")
        graft.corpus.Warc.records(segs)
          .write.format("noop").mode("overwrite").save()
      }
      // robots gate over a 50k-URL frontier against 7 hosts' rules —
      // WILDCARD-heavy policy (RFC 9309 `*`/`$` rules force the
      // segment-walking matcher, not the prefix fast path, on every
      // (path, rule) probe): broadcast rules arrays + per-row
      // higher-order longest-match — the wall should stay scan-sized
      // (no shuffle, no aggregation)
      time(s"robots_gate_10x $round") {
        import spark.implicits._
        val robots = (0 until 7).map(h => (s"site$h.example.com",
          "User-agent: *\nDisallow: /private\nAllow: /private/ok\n" +
            "Disallow: /*.tmp$\nDisallow: /*?sid=\nAllow: /p*ok\n" +
            "Disallow: /cgi*bin/*.cgi$\n"))
          .toDF("host", "txt")
        val rules = graft.operators.Robots
          .rules(robots, "host", "txt", "bot").toDF()
        val urls = docs.where(col("doc_id").isNotNull)
          .select(col("doc_id"),
            concat(lit("site"), (col("doc_id") % 7).cast("string"),
              lit(".example.com")).as("host"),
            concat(when(col("doc_id") % 5 === 0, lit("/private/"))
              .when(col("doc_id") % 5 === 1, lit("/private/ok/"))
              .when(col("doc_id") % 5 === 2, lit("/cache/x.tmp?v="))
              .when(col("doc_id") % 5 === 3, lit("/page?sid="))
              .otherwise(lit("/p/")),
              col("doc_id").cast("string")).as("path"))
        graft.operators.Robots.gate(urls, rules, "host", "path")
          .write.format("noop").mode("overwrite").save()
      }
      // ingest LSH gate at 10×: 10k arrivals (src0-style slice) probed
      // against the banded index of the other 40k docs — the q163
      // shuffle shape (explode → semi-join → anti-join); the wall is
      // dominated by signature computation, never an all-pairs join
      time(s"lsh_gate_10x $round") {
        val arrivals = docs.filter(col("doc_id") % 5 === 0)
        val landed = docs.filter(col("doc_id") % 5 =!= 0)
        val idx = Dedup.indexBandKeys(landed, "doc_id", "text",
          k = 8, bands = 4, tokenize = Dedup.shingleTokenizer(3))
        val kept = Dedup.lshGate(arrivals, "doc_id", "text", idx,
          k = 8, bands = 4, tokenize = Dedup.shingleTokenizer(3))
        println("  gate_kept=" + kept.count())
      }
      // the EXACT-threshold ingest probe over the same 10k-vs-40k split
      // (q177's shape at 10×, 3-gram shingles for a real token
      // universe): arrival df-ordered prefix → index postings join →
      // pair collapse → exact verification. Unlike lsh_gate there are
      // no false band drops; the wall buys exact J >= 0.9 decisions
      time(s"threshold_matches_10x $round") {
        def shing(d: DataFrame): DataFrame =
          d.select(col("doc_id").as("docId"),
            Dedup.shingleTokenizer(3)(col("text")).as("tokens"))
            .filter(size(col("tokens")) > 0)
        // the operator consumes the index 3× (postings, df ranking,
        // verification arrays) — at ingest the compacted index is
        // persisted state, so materialize the build once (the landing-
        // table rule; unmaterialized it re-runs per consumer: measured
        // 19.4 s vs 10.5 s warm at this scale)
        // materialize BOTH tokenized sides once (the landing-table
        // rule): dfOrderedSets consumes its input twice and
        // thresholdMatches consumes the index 3× and the batch 2× —
        // unmaterialized, the 4.4 s/pass shingle kernel re-runs per
        // consumer (measured 22 s vs ~12 s warm at this scale). At
        // ingest the compacted index is persisted state anyway.
        val landedToks = shing(docs.filter(col("doc_id") % 5 =!= 0))
          .localCheckpoint()
        val arrivalToks = shing(docs.filter(col("doc_id") % 5 === 0))
          .localCheckpoint()
        val idx = Jaccard.dfOrderedSets(landedToks).localCheckpoint()
        println("  matches=" +
          Jaccard.thresholdMatches(arrivalToks, idx, 0.9).count())
      }
      // substring screening at 10×: ~190 patterns over 50k docs in ONE
      // Aho–Corasick walk per doc — the wall should be scan-shaped and
      // insensitive to pattern-list size (vs K contains/regex passes)
      time(s"substring_screen_10x $round") {
        val vocab = Seq("agg", "batch", "big", "column", "customer",
          "data", "fast", "filter", "group", "hash", "join", "key",
          "line", "merge", "order", "part", "query", "row", "scan",
          "slow", "small", "sort", "spark", "stream", "table", "value",
          "vector", "window")
        val terms = (vocab ++ vocab.map(_.drop(1)) ++ vocab.map(_ + " ")
          ++ vocab.flatMap(w => vocab.take(3).map(v => s"$w $v"))
          ++ vocab.map(w => w.take(math.max(2, w.length - 1))))
          .distinct.filter(_.length >= 2)
        val gated = graft.operators.Scrub.substringBlocklistStats(
          docs, "doc_id", "text", terms, maxHits = 1000)
        println(s"  screen_terms=${terms.size} kept=" +
          gated.filter(col("keep")).count())
      }
      // the q165 chain at 10× in its PRODUCTION shape (supersedes r12's
      // crawl_chain_10x, 48.9 s): gzipped WARC → HTTP → declared-
      // charset decode → robots gate → landing write WITH markup
      // extraction (CurationPipeline.landExtracted — html is gone
      // before the landing table materializes) → html=false curation
      // cascade (template-line dedup + quality + exact/LSH near-dedup).
      // Every stage shape is the one its own 10× entry certifies
      // (inflate ≈ warc_gz_parse, gate ≈ robots_gate, cascade ≈
      // curation_counts)
      time(s"crawl_chain_landed_10x $round") {
        import spark.implicits._
        val segs = docs.where(col("doc_id").isNotNull)
          .select(col("doc_id"), col("text")).as[(Long, String)]
          .map { case (id, tx) =>
            (id, graft.corpus.Warc.syntheticCrawlWarc(id, tx)) }
          .toDF("id", "content")
        val fetched = graft.corpus.Warc.records(segs).toDF()
          .filter(col("warc_type") === "response")
          .select(col("id"), col("target_uri"), col("payload"))
          .as[(Long, String, Array[Byte])]
          .map { case (id, uri, p) =>
            (id, uri, graft.corpus.Warc.decodeHttpBody(p)) }
          .toDF("id", "uri", "html")
        val robots = (0 until 7)
          .map(i => (s"site$i.example.com",
            "User-agent: *\nDisallow: /private\n"))
          .toDF("host", "txt")
        val allowed = graft.operators.Robots.gate(
          fetched
            .withColumn("host", graft.operators.Urls.host(col("uri")))
            .withColumn("path",
              regexp_extract(col("uri"), "://[^/]*(/.*)$", 1)),
          graft.operators.Robots.rules(robots, "host", "txt", "bot")
            .toDF(),
          "host", "path")
          .filter(col("allowed"))
          .select(col("id"), col("html").as("text"))
        // the LANDING TABLE, with markup extraction IN the landing
        // write: the cascade consumes its input from several subtrees,
        // so both an unmaterialized fetch front end (gunzip + HTTP
        // split + charset decode; measured +13 s at 50k pages, r12)
        // and an html=true in-cascade extraction (re-projected per
        // consumer) re-execute per consumer. At cluster scale this is
        // the landed-corpus parquet write; locally the checkpoint
        // inside landExtracted stands in.
        val landed = graft.pipeline.CurationPipeline
          .landExtracted(allowed, "id", "text")
        // ONE lazy DAG downstream of the landing table (no stageCounts
        // — that shape materializes every stage and is q165's report
        // job, not the throughput path)
        println("  counts=" + graft.pipeline.CurationPipeline
          .run(landed, "id", "text", languages = Set.empty,
            spanDedup = Some((4, 2L)),
            spanMode = graft.pipeline.CurationPipeline.SpanLines,
            html = false).counts)
      }
    }
    // multimodal decode throughput at 50k assets: full frame decode vs
    // every-4th sampling (the bounded-decode-cost knob) — fixture
    // synthesis cost is identical in both arms, so the delta is the
    // skipped pixel loops; embed = real decode + histogram over 50k
    // BMPs feeding the ANN seam
    {
      import spark.implicits._
      def vids = docs.where(col("doc_id").isNotNull)
        .select(col("doc_id")).as[Long]
        .map(id => (id, "video", graft.multimodal.Multimodal.syntheticAvi(id)))
        .toDF("id", "modality", "content")
      def imgs = docs.where(col("doc_id").isNotNull)
        .select(col("doc_id")).as[Long]
        .map(id => (id, "image", graft.multimodal.Multimodal.syntheticBmp(
          id, (id % 13 + 1).toInt, (id % 7 + 1).toInt)))
        .toDF("id", "modality", "content")
      for (round <- Seq("cold", "warm")) {
        time(s"mm_frames_full_50k $round") {
          graft.multimodal.Multimodal.frameGraySums(vids)
            .write.format("noop").mode("overwrite").save()
        }
        time(s"mm_frames_every4_50k $round") {
          graft.multimodal.Multimodal.frameGraySums(vids, everyNth = 4)
            .write.format("noop").mode("overwrite").save()
        }
        time(s"mm_embed_hist_50k $round") {
          graft.multimodal.Multimodal.embedPartitions(imgs, dim = 16)
            .write.format("noop").mode("overwrite").save()
        }
        // MJPEG decode throughput: same frame counts as the DIB arm,
        // but every frame pays a real ImageIO JPEG decode — the delta
        // vs mm_frames_full_50k is the codec cost per 50k assets
        time(s"mm_mjpeg_50k $round") {
          def mjpegs = docs.where(col("doc_id").isNotNull)
            .select(col("doc_id")).as[Long]
            .map(id => (id, "video",
              graft.multimodal.Multimodal.syntheticMjpegAvi(id)))
            .toDF("id", "modality", "content")
          graft.multimodal.Multimodal.frameGraySums(mjpegs)
            .write.format("noop").mode("overwrite").save()
        }
      }
    }
    // AQE skew-split evidence: re-run the biggest shuffle path and grep
    // its final adaptive plan for skew markers
    if (only.isEmpty) {
      val sigs = Dedup.minHashSignatures(docs, "doc_id", "text", k = 8,
        tokenize = Dedup.shingleTokenizer(3))
      val cands = Dedup.lshCandidates(sigs, "doc_id", k = 8, bands = 4)
      cands.collect()
      val plan = cands.queryExecution.executedPlan.toString
      println("[scalebench] lshCandidates plan skew markers: " +
        (if (plan.contains("skew=true")) "AQE skew-split ACTIVE"
         else "none (no partition crossed the skew threshold)"))
    }
    spark.stop()
  }
}
