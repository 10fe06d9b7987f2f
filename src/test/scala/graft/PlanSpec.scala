package graft

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.DataFrame

import graft.corpus.Corpus
import graft.operators.Jaccard
import org.apache.spark.sql.functions._

/** Physical-plan assertions: the shapes that matter at scale must not
  * silently regress (a broadcast that becomes a shuffle, a pushed filter
  * that stops pushing, an exchange that stops being reused).
  */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** Final (post-AQE) physical plan string: AQE re-plans at runtime, so
    * execute first, then inspect.
    */
  private def finalPlan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  private def q(name: String): DataFrame = SparkEntry.queries(name)(spark, sf)

  test("explicit broadcast join plans as BroadcastHashJoin") {
    assert(finalPlan(q("q04_broadcast_join")).contains("BroadcastHashJoin"))
  }

  test("filters and column pruning reach the parquet scan") {
    val plan = finalPlan(q("q02_filter_project"))
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      s"expected pushed filters in:\n$plan")
    // projection pruning: the scan must not read all 16 lineitem columns
    val readSchema = plan.linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_partkey"),
      s"scan should prune unused columns: $readSchema")
  }

  test("Jaccard size lookup broadcasts (J1 = map-side join) at small scale") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id").as("docId"), col("text"))
    val plan = finalPlan(Jaccard.allPairs(docs))
    assert(plan.contains("BroadcastHashJoin"),
      s"size join should broadcast under AQE:\n${plan.take(2000)}")
  }

  test("allPairs scans and tokenizes a one-file corpus once, through one docId exchange") {
    val file = Files.createTempFile("graft-plan-corpus", ".txt")
    file.toFile.deleteOnExit()
    Files.write(file, Datagen.generateAll()("small").getBytes(StandardCharsets.UTF_8))
    val plan = finalPlan(Jaccard.allPairs(Corpus.read(spark, file.toString)))
      .split("== Initial Plan ==")(0)
    // the postings probe side, the postings broadcast side and the sizes
    // all read the docId exchange: one scan, one tokenizer chain
    assert("FileScan text".r.findAllIn(plan).size == 1,
      s"corpus must be scanned once:\n$plan")
    assert("regexp_replace".r.findAllIn(plan).size == 1,
      s"corpus must be tokenized once:\n$plan")
    val parts = spark.sessionState.conf.numShufflePartitions
    val docIdExchange = s"hashpartitioning\\(docId#\\d+, $parts\\)".r
    val lines = plan.linesIterator.toSeq
    assert(lines.count(l => l.contains("Exchange") && !l.contains("ReusedExchange") &&
      docIdExchange.findFirstIn(l).isDefined) == 1,
      s"one docId exchange expected:\n$plan")
    assert(lines.exists(l => l.contains("ReusedExchange") &&
      docIdExchange.findFirstIn(l).isDefined),
      s"the docId exchange must be read through ReusedExchange:\n$plan")
  }

  test("allPairs over a corpus of several file splits takes no docId exchange") {
    // the other side of allPairs' choice: a split input already runs in
    // several tasks, so the plain plan (no docId exchange) is kept
    val dir = Files.createTempDirectory("graft-plan-split")
    dir.toFile.deleteOnExit()
    val text = Datagen.generateAll()("small").linesIterator.toSeq
    for ((half, i) <- text.grouped((text.size + 1) / 2).zipWithIndex) {
      val f = dir.resolve(s"part-$i.txt")
      Files.write(f, half.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      f.toFile.deleteOnExit()
    }
    val docs = Corpus.read(spark, dir.toString)
    assert(docs.rdd.getNumPartitions == 2)
    val plan = finalPlan(Jaccard.allPairs(docs)).split("== Initial Plan ==")(0)
    val parts = spark.sessionState.conf.numShufflePartitions
    assert(s"hashpartitioning\\(docId#\\d+, $parts\\)".r.findFirstIn(plan).isEmpty,
      s"a split corpus must not be hashed by docId:\n$plan")
  }

  test("n-gram posting self-join reuses one exchange for both sides") {
    assert(finalPlan(q("q35_ngram_neardups")).contains("ReusedExchange"))
  }

  test("range joins read ONE exchange through both join roles") {
    // the union-tag formulation: a single scan of events must feed both
    // sides of the self-join via ReusedExchange (q63) and both inputs of
    // the two-frame join via the shared union exchange (q64)
    for (name <- Seq("q63_range_join", "q64_interval_join")) {
      val plan = finalPlan(q(name))
      assert(plan.contains("ReusedExchange"),
        s"$name must reuse the tagged-union exchange:\n${plan.take(2000)}")
    }
  }

  test("q94 probe filter pushes below the rank window into the scan") {
    // q94 filters lshTopK's output to the 20 probe queries and relies on
    // Catalyst pushing that predicate through the rank window's
    // partition key (so only probe partitions rank). A regression would
    // surface as a post-window `Filter (query_id < 20)`; the healthy
    // plan pushes it all the way into the embeddings parquet scan.
    val plan = finalPlan(q("q94_ann_recall")).split("== Initial Plan ==")(0)
    val postWindowFilter = plan.linesIterator.exists(l =>
      l.contains("Filter") && l.contains("query_id"))
    assert(!postWindowFilter,
      s"probe predicate stuck above the rank window:\n${plan.take(2000)}")
    assert(plan.contains("LessThan(vec_id,20)"),
      s"probe predicate should reach the parquet scan:\n${plan.take(2000)}")
  }

  test("curation cascade evaluates the MinHash signature pipeline once") {
    // `sigs` feeds banding; `candidates` feeds BOTH candIds and the
    // verification semi-join — the cascade's scaladoc claims all of it
    // rides shared exchanges rather than re-running the kernel per
    // consumer. Pin that: exactly one graft_minhash evaluation in the
    // executed final plan, with ReusedExchange covering the repeats.
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val curated = graft.pipeline.CurationPipeline
      .run(docs, "doc_id", "text", languages = Set.empty).curated
    val plan = finalPlan(curated).split("== Initial Plan ==")(0)
    val nKernel = "graft_minhash".r.findAllIn(plan).size
    assert(nKernel == 1,
      s"MinHash kernel evaluated $nKernel times (expected 1):\n${plan.take(2000)}")
    assert(plan.contains("ReusedExchange"),
      s"cascade must reuse exchanges across consumers:\n${plan.take(2000)}")
  }

  test("LSH bucket projection is one codegen'd kernel, not interpreted folds") {
    val plan = finalPlan(q("q41_lsh_buckets"))
    assert(plan.contains("graft_srp_bucket"),
      s"expected the native SRP kernel in:\n${plan.take(2000)}")
    // the interpreted higher-order-function path would show zip_with /
    // aggregate lambdas in the projection
    assert(!plan.contains("zip_with") && !plan.contains("lambdafunction"),
      s"bucket projection regressed to interpreted HOFs:\n${plan.take(2000)}")
  }

  test("IVF assignment aggregates map-side; scored cross join never shuffles") {
    val embs = spark.read.parquet(s"$sf/embeddings.parquet")
    val cents = graft.operators.Knn.ivfSeedCentroids(embs, "vec_id", "embedding", 4)
    val df = graft.operators.Knn.ivfAssign(embs, "vec_id", "embedding", cents)
    val plan = finalPlan(df)
    assert(plan.contains("partial_max"),
      s"assignment must partial-aggregate before the shuffle:\n${plan.take(2000)}")
    assert(!plan.contains("Window"),
      s"assignment must not use a window (shuffles |E|x|C| rows):\n${plan.take(2000)}")
  }

  test("IVF probe broadcasts centroids; its rank window ranks nprobe cells") {
    val embs = spark.read.parquet(s"$sf/embeddings.parquet")
    val cents = graft.operators.Knn.ivfSeedCentroids(embs, "vec_id", "embedding", 4)
    val probe = graft.operators.Knn.probeCells(
      embs.filter(col("vec_id") < 10), cents, "vec_id", "embedding", nprobe = 2)
    val plan = finalPlan(probe)
    // the centroid side must arrive by broadcast (model-sized), never a
    // shuffled join or a cartesian product of exchanges
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"probe must broadcast centroids:\n${plan.take(2000)}")
    assert(!plan.contains("CartesianProduct"),
      s"probe must never plan a cartesian product:\n${plan.take(2000)}")
    // exactly ONE rank window operator (query-keyed) in the final plan:
    // the |Q|x|C| scored rows are cut to nprobe immediately, nothing
    // downstream re-ranks them — and the rank filter plans the
    // WindowGroupLimit pushdown so the sort never materializes all cells
    val finalSection = plan.split("== Initial Plan ==").head
    assert("Window \\[row_number".r.findAllIn(finalSection).length == 1,
      s"probe should carry exactly one rank window:\n${plan.take(2000)}")
    assert(finalSection.contains("WindowGroupLimit"),
      s"rank filter should push a group limit below the window:\n${plan.take(2000)}")
  }

  test("span removal: hot set broadcasts; hot-position join converts to BHJ") {
    val plan = finalPlan(q("q120_drop_dup_spans"))
    val finalSection = plan.split("== Initial Plan ==").head
    // the hot-shingle membership test is an explicit broadcast — the
    // corpus chunks never shuffle by content for it
    assert("BroadcastHashJoin \\[__h".r.findFirstIn(finalSection).isDefined,
      s"hot-set join should broadcast on the hash:\n${plan.take(2000)}")
    // the per-doc hot-position table is a small corpus fraction: AQE
    // must convert its id-keyed left join to a broadcast join at
    // runtime (statically it plans SMJ — stats are unknown), so the
    // reassembly pass streams the corpus instead of sort-merging it
    assert("BroadcastHashJoin \\[doc_id".r.findFirstIn(finalSection).isDefined
      && !finalSection.contains("SortMergeJoin"),
      s"hot-position join should AQE-convert to broadcast:\n${plan.take(2000)}")
  }

  test("top-k aggregate runs map-side partial, never a window sort") {
    val plan = finalPlan(q("q27_topk_agg"))
    assert(plan.contains("partial_topkagg") ||
      """ObjectHashAggregate.*partial""".r.findFirstIn(plan).isDefined,
      s"top-k must partial-aggregate before the shuffle:\n${plan.take(2000)}")
    assert(!plan.contains("Window"),
      s"top-k must not shuffle every row into a window sort:\n${plan.take(2000)}")
  }

  test("aggregation pipeline runs inside whole-stage codegen") {
    // codegen'd operators render with a "*(stageId)" prefix in plan strings
    assert(finalPlan(q("q01_pricing_summary")).contains("*("))
  }

  test("partition pruning: a filter on the partition column prunes the scan") {
    import spark.implicits._
    val dir = s"/tmp/graft-parts-${ProcessHandle.current().pid()}"
    Seq((1L, "s1", "x"), (2L, "s2", "y"), (3L, "s1", "z"))
      .toDF("id", "source", "text")
      .write.mode("overwrite").partitionBy("source").parquet(dir)
    val df = spark.read.parquet(dir).filter(col("source") === "s1")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(source"),
      s"partition filter must prune at the scan:\n$plan")
  }

  test("multi-metric text queries run ONE tokenizer pass (words materialized)") {
    // qualityColumns/langHitColumns read a materialized __ws attribute:
    // HOF chains defeat codegen subexpression elimination, so inlining
    // normalizedWords into each metric would re-run the regex+split per
    // metric per row (5x for quality, 4x for langid). The two-projection
    // shape must survive CollapseProject.
    for (name <- Seq("q51_quality", "q52_langid", "q100_corpus_report",
        "q75_repetition_stats")) {
      val plan = finalPlan(q(name)).split("== Initial Plan ==")(0)
      val n = "regexp_replace\\(lower\\(".r.findAllIn(plan).size
      assert(n == 1, s"$name should tokenize once, found $n:\n${plan.take(3000)}")
    }
  }

  test("q75 repetition stats shuffle nothing but the display sort") {
    // per-doc repetition metrics are doc-local: the sorted-run
    // formulation must keep the plan free of hash exchanges — a
    // regression to the exploded (id, n, gram) aggregation would put
    // two corpus-scale shuffles of gram text back
    val plan = finalPlan(q("q75_repetition_stats"))
      .split("== Initial Plan ==")(0)
    assert(!plan.contains("Exchange hashpartitioning"),
      s"q75 must not hash-shuffle:\n${plan.take(3000)}")
  }

  test("tokenizer chain evaluates once per branch, never in a filter or scan") {
    // a non-outer explode over the tokens projection makes the optimizer
    // infer size(tokens)>0 + isnotnull(tokens), which pushdown expands
    // into the scan filter — the regex chain then runs ~3x per row on
    // every postings scan. Jaccard.postings uses explode_outer (outer ≡
    // inner under the rlike guard) precisely so this cannot happen.
    // the executedPlan string appends the pre-AQE "Initial Plan" — slice
    // it off; only the final plan's branches execute
    val plan = finalPlan(q("q23_jac_sim")).split("== Initial Plan ==")(0)
    plan.linesIterator.filter(l => l.contains("Filter") || l.contains("FileScan"))
      .foreach { l =>
        assert(!l.contains("regexp_replace"),
          s"tokenizer chain leaked into a filter/scan:\n$l")
      }
    // exactly once: q23's documents are one parquet split, so allPairs
    // hashes the tokenized docs by docId, and the postings probe side,
    // the postings broadcast side and the sizes all read that one
    // exchange (ReusedExchange). Losing the exchange shows
    // as 3 (once per branch); a non-outer explode, as 3 more per branch
    // (the chain duplicated into each scan filter).
    val n = "regexp_replace".r.findAllIn(plan).size
    assert(n == 1, s"tokenizer chain evaluated $n times (expected once)")

    // the same shape holds across the tokenizer and kernel families:
    // scan- or filter-adjacent nodes must never carry the regex chain or
    // a native kernel (RLIKE guards are fine — they are the cheap
    // pre-filter; the coalesce-threshold filters in Dedup exist exactly
    // to keep inferred isnotnull(<kernel>) out of the scans)
    for (name <- Seq("q21_jac_word_df", "q31_minhash_sig",
        "q34_simhash_neardups", "q35_ngram_neardups", "q36_cosine_neardups",
        "q37_hll_registers", "q58_term_scores",
        "q65_simhash_neardups_banded", "q66_cosine_neardups_lsh",
        "q75_repetition_stats", "q76_chunk_stats", "q77_cms_registers",
        "q78_cms_heavy_hitters", "q80_bloom_bits",
        "q81_bloom_decontaminate", "q82_token_packing",
        "q83_pack_digests", "q84_blocklist", "q88_quality_gate",
        "q89_token_chunks", "q90_semantic_keepers", "q91_unigram_logprob",
        "q92_vocab", "q93_token_ids",
        "q162_streaming_lsh_gate", "q163_lsh_gate_batch",
        "q168_unigram_segment", "q170_substring_blocklist")) {
      val p = finalPlan(q(name)).split("== Initial Plan ==")(0)
      p.linesIterator
        .filter(l => l.contains("Filter") || l.contains("FileScan"))
        .foreach { l =>
          assert(!l.contains("regexp_replace") && !l.contains("graft_"),
            s"$name: expensive chain leaked into a filter/scan:\n$l")
        }
    }
  }

  test("screening stays narrow: blocklist never shuffles, temperature mix broadcasts rates") {
    // q84: screening is a pure projection — the ONLY exchange in the
    // whole plan is the presentation sort's range partitioning (no
    // broadcast, no aggregation, no join anywhere)
    val p84 = finalPlan(q("q84_blocklist")).split("== Initial Plan ==")(0)
    val exchanges = "Exchange".r.findAllIn(p84).size
    assert(exchanges <= 1,
      s"blocklist screening shuffled ($exchanges exchanges):\n$p84")
    // q86: the corpus joins its data-derived rate table by broadcast —
    // the corpus side must never sort-merge-shuffle for it
    val p86 = finalPlan(q("q86_temperature_mix")).split("== Initial Plan ==")(0)
    assert(p86.contains("BroadcastHashJoin"),
      s"temperature-mix rate join is not broadcast:\n$p86")
    assert(!p86.contains("SortMergeJoin"),
      s"temperature-mix shuffled the corpus for the rate join:\n$p86")
  }

  test("vocab ranking funnels only the distinct-count table into one partition") {
    // buildVocab's global running offset may single-partition ONLY the
    // distinct-count-values aggregate (tiny by construction); the
    // corpus-scale ranking must stay partitioned. Pinned: exactly one
    // SinglePartition exchange, the offset joins back by broadcast, the
    // row_number window is hash-partitioned (by cnt), and the
    // distinct-count branch reuses the token-count exchange instead of
    // running the tokenizer twice
    val p = finalPlan(q("q92_vocab")).split("== Initial Plan ==")(0)
    assert("Exchange SinglePartition".r.findAllIn(p).size == 1,
      s"expected exactly one single-partition funnel (the tiny counts table):\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"offset table must broadcast back onto the vocab:\n$p")
    assert(p.contains("ReusedExchange"),
      s"distinct-count branch must reuse the token-count exchange:\n$p")
    val partitionedRowNumber = p.linesIterator.exists(l =>
      l.contains("row_number()") && l.contains("], [cnt"))
    assert(partitionedRowNumber,
      s"within-count rank must be a PARTITIONED window:\n$p")
  }

  test("SRP bucket kernels never leak into a filter or scan") {
    // same inference trap as the tokenizer chain: a non-outer posexplode
    // over the per-table bucket array would re-run every SRP kernel in
    // the scan filter
    val plan = finalPlan(q("q41_lsh_buckets"))
    plan.linesIterator.filter(l => l.contains("Filter") || l.contains("FileScan"))
      .foreach { l =>
        assert(!l.contains("graft_srp_bucket"),
          s"SRP kernel leaked into a filter/scan:\n$l")
      }
  }

  test("bigram LM probes one unigram-count exchange through both join roles") {
    // counts feed the w1 (MLE denominator) and w2 (backoff numerator)
    // joins; the second probe must be a ReusedExchange, not a recount
    assert(finalPlan(q("q107_bigram_logprob")).contains("ReusedExchange"))
  }

  test("KMV pair stage joins sketches only, reusing the sketch exchange") {
    val plan = finalPlan(q("q108_kmv_overlap"))
    // |groups|² pair join over the tiny sketch table: nested-loop over a
    // broadcast, never a shuffle join of anything corpus-sized
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"pair stage should broadcast one sketch side:\n${plan.take(2000)}")
    assert(plan.contains("ReusedExchange"),
      s"both pair roles must read ONE sketch build:\n${plan.take(2000)}")
  }

  test("BPE corpus mapping broadcasts the encoded vocabulary") {
    // the merge-fold table is vocabulary-sized; the corpus occurrence
    // stream must meet it in a broadcast join, not shuffle by word
    val plan = finalPlan(q("q109_bpe_token_counts"))
    assert(plan.contains("BroadcastHashJoin"),
      s"vocabulary join should broadcast under AQE:\n${plan.take(2000)}")
  }

  test("literal-model centroid classification plans NO join") {
    // the model rides as literals inside one greatest() projection —
    // any Join in this plan means the streaming-legal pure-map
    // contract broke
    val plan = finalPlan(q("q138_centroid_classify_lit"))
    assert(!plan.contains("Join"),
      s"q138 must be join-free (pure projection):\n${plan.take(2000)}")
  }

  test("label vote joins broadcast (result-set-sized sides)") {
    val plan = finalPlan(q("q136_knn_label_vote"))
    assert(plan.contains("BroadcastHashJoin"),
      s"vote/label joins should broadcast under AQE:\n${plan.take(2000)}")
    assert(!plan.contains("SortMergeJoin"),
      s"no side of the vote is big enough to justify a sort-merge:\n${plan.take(2000)}")
  }

  test("nprobe sweep shares one index pass across widths") {
    // Pq.ivfPqTopKSweep computes candidates + ADC once; the recall
    // readout's per-ground-truth branches must REUSE those exchanges,
    // not rebuild four searches
    val plan = finalPlan(q("q135_nprobe_recall_curve"))
    assert(plan.contains("ReusedExchange"),
      s"sweep subtree should be shared via ReusedExchange:\n${plan.take(2000)}")
  }

  test("banding sweep plans ONE band join over a reused exchange") {
    // lshCandidatesSweep derives every level from the finest banding:
    // the physical plan must contain exactly one join (the finest band
    // self-join, both sides through ReusedExchange) — a per-level
    // re-join would be the N-shuffle shape the sweep exists to avoid
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val sigs = graft.operators.Dedup.minHashSignatures(docs, "doc_id",
      "text", k = 8, tokenize = graft.operators.Dedup.shingleTokenizer(3))
    // count nodes in the FINAL adaptive section only (the plan string
    // repeats the tree under "== Initial Plan ==")
    val plan = finalPlan(graft.operators.Dedup.lshCandidatesSweep(
      sigs, "doc_id", k = 8, bandCounts = Seq(1, 2, 4, 8)))
      .split("== Initial Plan ==").head
    val joins = "(?i)(sortmergejoin|shuffledhashjoin|broadcasthashjoin)".r
      .findAllIn(plan).length
    assert(joins == 1, s"sweep must plan exactly one band join, got $joins:\n${plan.take(2000)}")
    assert(plan.contains("ReusedExchange"),
      s"banded side must be reused, not recomputed:\n${plan.take(2000)}")
  }

  test("optimizeTable plans one range shuffle with a partition-local sort") {
    val grid = spark.range(1024).select(
      (col("id") % 32).cast("double").as("x"),
      (col("id") / 32).cast("double").as("y"))
    val plan = finalPlan(graft.operators.Layout.optimizeTable(
      grid, Seq("x", "y"), bits = 4, sizeExpr = lit(16L),
      targetBytes = 4096L))
      .split("== Initial Plan ==").head
    assert(plan.toLowerCase.contains("rangepartitioning"),
      s"z layout must range-partition on the z-value:\n${plan.take(2000)}")
    // the within-file sort must be LOCAL (global=false) — a global sort
    // would add a second exchange
    assert(plan.contains("Sort ") && plan.contains("], false, 0"),
      s"expected a partition-local sort:\n${plan.take(2000)}")
    val exchanges = "Exchange ".r.findAllIn(plan).length
    assert(exchanges == 1,
      s"optimizeTable must shuffle exactly once, got $exchanges:\n${plan.take(2000)}")
  }

  test("HTML and URL extraction plan as pure projections") {
    // the web pre-steps must stay scan-bound: no join, no aggregation,
    // no shuffle beyond the display sort's range exchange
    for (name <- Seq("q148_html_to_text", "q150_url_normalize",
        "q152_link_extract")) {
      val plan = finalPlan(q(name))
      assert(!plan.contains("Join"), s"$name must not join:\n${plan.take(2000)}")
      assert(!plan.contains("HashAggregate"),
        s"$name must not aggregate:\n${plan.take(2000)}")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"$name must not shuffle beyond the sort:\n${plan.take(2000)}")
    }
  }

  test("robots gate joins broadcast and never shuffles the corpus") {
    // the per-host rules arrays must reach the URL side as broadcasts;
    // the only exchange allowed is the display sort's range partition
    val plan = finalPlan(q("q157_robots_gate"))
    assert(plan.contains("BroadcastHashJoin"),
      s"rules must broadcast:\n${plan.take(2000)}")
    assert(!plan.contains("SortMergeJoin") &&
      !plan.contains("ShuffledHashJoin"),
      s"gate must not shuffle-join:\n${plan.take(2000)}")
  }

  test("line dedup broadcasts the hot-line set") {
    // the df-bounded hot table must reach the corpus-side join as a
    // broadcast — a shuffled membership join re-keys the whole corpus
    // by content
    val plan = finalPlan(q("q149_drop_dup_lines"))
    assert(plan.contains("BroadcastHashJoin"),
      s"hot-line join should broadcast:\n${plan.take(2000)}")
  }

  test("streaming LSH gate builds the index broadcast once and reuses it") {
    // the gate's per-band probes must all read ONE BroadcastExchange of
    // the distinct (band, band_key) index — a per-band filter pushed
    // into the build side would fork it into `bands` builds and
    // distinct-scans (the shape this replaced)
    val plan = finalPlan(q("q162_streaming_lsh_gate"))
      .split("== Initial Plan ==")(0)
    // a ReusedExchange line repeats the reused node's description, so
    // count BUILD lines (BroadcastExchange without the Reused marker)
    val builds = plan.linesIterator.count(l =>
      l.contains("BroadcastExchange") && !l.contains("ReusedExchange"))
    val reuses = plan.linesIterator.count(_.contains("ReusedExchange"))
    assert(builds == 1, s"expected ONE index broadcast build, got $builds:\n" +
      plan.take(3000))
    assert(reuses >= 3, s"expected the other 3 band probes to reuse it, " +
      s"got $reuses ReusedExchange:\n${plan.take(3000)}")
  }

  test("batch LSH gate probes the index with one semi-join, no broadcast of it") {
    // corpus-scale shape: the exploded (band, band_key) probe keys on
    // hashes, so it must stay shuffle/bucket-joinable — at real index
    // sizes nothing here can require a broadcast of the index. (At this
    // SF AQE may still choose broadcasts for the tiny sides; assert the
    // semi+anti composition instead of exchange kinds.)
    val plan = finalPlan(q("q163_lsh_gate_batch"))
    assert(plan.contains("LeftSemi"), s"index probe must be a semi-join:\n" +
      plan.take(2000))
    assert(plan.contains("LeftAnti"), s"colliding ids must anti-join out:\n" +
      plan.take(2000))
  }

  test("threshold join: in-join length filter, projection verification") {
    val plan = q("q172_jac_threshold_join").queryExecution.sparkPlan.toString
    // exact verification is an array_intersect in a Project, never a
    // third shuffle
    assert(plan.contains("array_intersect"),
      s"verification must intersect token arrays in a projection:\n" +
        plan.take(2000))
    // the length filter rides the prefix join condition (a post-join
    // Filter would materialize size-incompatible pairs first)
    val joinLines = plan.linesIterator.filter(l =>
      l.contains("Join") && l.contains("word")).toSeq
    assert(joinLines.exists(l => l.contains("least") && l.contains("greatest")),
      s"length filter must live in the prefix join condition:\n" +
        joinLines.mkString("\n"))
  }

  test("no query plans a cartesian product") {
    SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      val plan = q(name).queryExecution.sparkPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name plans a CartesianProduct")
    }
  }
}
