package jbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._

import graft.corpus.Corpus
import graft.format.ReferenceOutput
import graft.operators.{Jaccard, Retrieval}
import graft.pipeline.JaccardPipeline

/** Wraps a call into a layer in a span when the run is traced. */
trait Spans {
  def apply[A](name: String)(body: => A): A
}

object Spans {
  val off: Spans = new Spans { def apply[A](name: String)(body: => A): A = body }
  def of(t: Tracer): Spans = new Spans {
    def apply[A](name: String)(body: => A): A = t.span(name)(body)
  }
}

/** One benchmark workload. `build` makes the inputs and any persisted
  * index, replacing what an earlier call built; `prepareCheck` computes the
  * expected outputs once, outside every timed region; `iterate` is one
  * timed iteration through the engine's public entry points, spanned per
  * layer call when traced; `check` compares the last iteration's output
  * with the expected one; `countLayers` attaches per-layer counts to the spans of
  * a traced iteration, after it has ended.
  */
trait Workload {
  def build(sp: Spans): Unit
  def prepareCheck(): Unit
  def iterate(sp: Spans): Unit
  def check(): Boolean
  def countLayers(t: Tracer): Unit
  def outputDir: Option[File] = None
}

object Workload {
  def docsFrame(spark: SparkSession, docs: Seq[Gen.Doc],
                idCol: String = "docId"): DataFrame =
    spark.createDataFrame(docs.map(d => (d.id, d.text))).toDF(idCol, "text")

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteRecursively)
    f.delete()
  }

  /** Rows the join nodes of an executed query produced, from their SQL
    * metrics.
    */
  def joinOutputRows(df: DataFrame): Long = {
    object Plans extends AdaptiveSparkPlanHelper
    Plans.collect(df.queryExecution.executedPlan) { case j: BaseJoinExec =>
      j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.sum
  }

  /** Line count and md5 of the part files of a text output directory. */
  def textOutput(dir: File): (Long, String, Long) = {
    val parts = Option(dir.listFiles).toSeq.flatten
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    val md5 = MessageDigest.getInstance("MD5")
    var lines = 0L
    var bytes = 0L
    parts.foreach { p =>
      val b = Files.readAllBytes(p.toPath)
      md5.update(b)
      bytes += b.length
      lines += b.count(_ == '\n')
    }
    (lines, Replay.hex(md5.digest()), bytes)
  }
}

/** The paper's query: corpus file → `JaccardPipeline.run` →
  * `ReferenceOutput.write` of the sorted single-file layout. Untraced, the
  * pipeline runs as the one DAG a user gets; traced, each layer's output is
  * materialized before the next layer runs, grouped under `job` spans
  * named after the reference's MapReduce jobs when those are given.
  */
final class AllPairs(spark: SparkSession, work: File, name: String,
                     corpus: () => String,
                     jobs: Option[(String, String, String)] = None)
    extends Workload {
  private val input = new File(work, s"$name-corpus.txt")
  private val out = new File(work, s"$name-out")
  private var text: String = _
  private var expected: (Long, String) = _
  private var last: Option[(DataFrame, DataFrame, DataFrame, DataFrame)] = None

  override def outputDir: Option[File] = Some(out)

  def build(sp: Spans): Unit = {
    text = corpus()
    Files.write(input.toPath, text.getBytes(StandardCharsets.UTF_8))
  }

  def prepareCheck(): Unit = expected = Replay.allPairs(text)

  def expectedLines: Long = expected._1

  def iterate(sp: Spans): Unit =
    if (sp eq Spans.off)
      ReferenceOutput.write(JaccardPipeline.run(spark, input.getPath), out.getPath)
    else {
      val (j1, j2, j3) = jobs.getOrElse(("", "", ""))
      def job[A](n: String)(body: => A): A = if (n.isEmpty) body else sp(n)(body)
      val (toks, sizes) = job(j1) {
        val toks = sp("corpus.tokenize") {
          Jaccard.tokenized(Corpus.read(spark, input.getPath)).localCheckpoint()
        }
        (toks, sp("jaccard.doc_sizes") { Jaccard.docSizes(toks).localCheckpoint() })
      }
      val (posts, pairQuery, pairs) = job(j2) {
        val posts = sp("jaccard.postings") { Jaccard.postings(toks).localCheckpoint() }
        val pairQuery = Jaccard.pairIntersections(posts)
        (posts, pairQuery, sp("jaccard.pair_intersections") { pairQuery.localCheckpoint() })
      }
      job(j3) {
        val sims = sp("jaccard.similarities") {
          Jaccard.similarities(pairs, sizes).localCheckpoint()
        }
        sp("format.write") { ReferenceOutput.write(sims, out.getPath) }
      }
      last = Some((toks, posts, pairQuery, pairs))
    }

  def check(): Boolean = {
    val (lines, md5, _) = Workload.textOutput(out)
    (lines, md5) == expected
  }

  /** Counts of the traced iteration; `join_rows` is the pair self-join's
    * own output-row metric from its executed plan.
    */
  def countLayers(t: Tracer): Unit = last.foreach { case (toks, posts, pairQuery, pairs) =>
    val tok = toks.agg(count(lit(1)), sum(size(col("tokens")))).head()
    t.attr("corpus.tokenize", "corpus.docs", tok.getLong(0).toDouble)
    t.attr("corpus.tokenize", "corpus.tokens", tok.getLong(1).toDouble)
    t.attr("jaccard.postings", "jaccard.postings_rows", posts.count().toDouble)
    t.attr("jaccard.pair_intersections", "jaccard.join_rows",
      Workload.joinOutputRows(pairQuery).toDouble)
    t.attr("jaccard.pair_intersections", "jaccard.pairs", pairs.count().toDouble)
    t.attr("format.write", "format.bytes", Workload.textOutput(out)._3.toDouble)
  }
}

/** Zipf documents of 30..90 tokens (s = 1) over a 20k-word vocabulary. */
object DocShape {
  val MinLen = 30
  val MaxLen = 90
  val Vocab = 20000
  val ZipfS = 1.0
}

/** Near-duplicate ingest: a persisted `dfOrderedSets` index and its
  * word-partitioned posting layout; each iteration probes one arrival batch,
  * half of it planted near duplicates with 5 % token edits, with
  * `thresholdMatchesPosted` and folds it in with `compactIndexPosted`. The
  * compacted index is not carried forward, so every iteration sees the same
  * inputs. The traced run's ingest probe.
  */
final class NearDup(spark: SparkSession, seed: Long, indexDocs: Int,
                    batchDocs: Int) extends Workload {
  import DocShape._
  private val threshold = 0.8
  private val parts = spark.sessionState.conf.numShufflePartitions
  private var docs: Seq[Gen.Doc] = _
  private var batch: Seq[Gen.Doc] = _
  private var batchToks, index, posts: DataFrame = _
  private var expectedMatches: Set[(String, String, Long)] = _
  private var expectedIndex: Map[String, Seq[String]] = _
  private var matches: Array[Row] = _
  private var compacted: DataFrame = _

  def build(sp: Spans): Unit = {
    docs = Gen.zipfDocs(seed, indexDocs, MinLen, MaxLen, Vocab, ZipfS, "d")
    batch = Gen.nearDupBatch(seed + 1, docs.toIndexedSeq, batchDocs, MinLen, MaxLen,
      Vocab, ZipfS, 0.05)._1
    val idxToks = sp("corpus.tokenize") {
      batchToks = Jaccard.tokenized(Workload.docsFrame(spark, batch)).localCheckpoint()
      Jaccard.tokenized(Workload.docsFrame(spark, docs)).localCheckpoint()
    }
    sp("jaccard.index_build") {
      index = Jaccard.dfOrderedSets(idxToks).repartition(parts, col("docId")).localCheckpoint()
      posts = Jaccard.indexPostings(index).repartition(parts, col("word")).localCheckpoint()
    }
  }

  def prepareCheck(): Unit = {
    def sets(ds: Seq[Gen.Doc]) = ds.map(d => d.id -> d.tokens)
    expectedMatches = Replay.thresholdMatches(sets(batch), sets(docs), threshold)
    expectedIndex = Replay.dfOrderedSets(sets(docs) ++ sets(batch))
  }

  def iterate(sp: Spans): Unit = {
    matches = sp("jaccard.threshold_matches") {
      Jaccard.thresholdMatchesPosted(batchToks, posts, index, threshold)
        .select("docId", "matchId", "inter").collect()
    }
    compacted = sp("jaccard.compact") {
      Jaccard.compactIndexPosted(index, posts, batchToks).localCheckpoint()
    }
  }

  def check(): Boolean = {
    val got = matches.map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val rows = compacted.select("docId", "sz", "sorted_tokens").collect()
    val idx = rows.map(r => r.getString(0) -> r.getSeq[String](2)).toMap
    got.length == expectedMatches.size && got.toSet == expectedMatches &&
      rows.length == expectedIndex.size && idx == expectedIndex &&
      rows.forall(r => r.getLong(1) == r.getSeq[String](2).length)
  }

  def countLayers(t: Tracer): Unit = {
    t.attr("jaccard.threshold_matches", "jaccard.matches", matches.length.toDouble)
    t.attr("jaccard.compact", "jaccard.index_rows", compacted.count().toDouble)
  }
}

/** Top-k retrieval over a persisted BM25 index: one query batch through
  * `bm25TopKWand` and `qlTopKWand`, checked bitwise against the unpruned
  * rankers over the same index.
  */
final class Bm25Wand(spark: SparkSession, seed: Long, nDocs: Int,
                     nQueries: Int, hotDf: Long) extends Workload {
  import DocShape._
  private val k = 10
  private val parts = spark.sessionState.conf.numShufflePartitions
  private var queries, tf, fwd, dfTab, stats, cf, impact: DataFrame = _
  private var expectedBm25, expectedQl: Set[(String, String, Int, Long)] = _
  private var bm25, ql: Array[Row] = _

  def build(sp: Spans): Unit = {
    val docs = Gen.zipfDocs(seed, nDocs, MinLen, MaxLen, Vocab, ZipfS, "d")
    queries = Workload.docsFrame(spark,
      Gen.zipfQueries(seed + 1, nQueries, 2, 5, Vocab, ZipfS), "queryId").localCheckpoint()
    sp("retrieval.index_build") {
      tf = Retrieval.termFrequencies(Workload.docsFrame(spark, docs), "docId", "text")
        .repartition(parts, col("word")).localCheckpoint()
      fwd = tf.repartition(parts, col("docId")).localCheckpoint()
      dfTab = Retrieval.dfTable(tf).localCheckpoint()
      stats = Retrieval.corpusStats(tf).localCheckpoint()
      cf = Retrieval.cfTable(tf).localCheckpoint()
      impact = Retrieval.impactStats(tf).localCheckpoint()
    }
  }

  private def rows(df: DataFrame): Array[Row] =
    df.select("queryId", "docId", "rank", "score").collect()

  private def keyed(rs: Array[Row]): Set[(String, String, Int, Long)] =
    rs.map(r => (r.getString(0), r.getString(1), r.getInt(2),
      java.lang.Double.doubleToRawLongBits(r.getDouble(3)))).toSet

  def prepareCheck(): Unit = {
    expectedBm25 = keyed(rows(Retrieval.bm25TopK(
      Retrieval.bm25ScoresIndexed(tf, queries, "queryId", "text"), k)))
    expectedQl = keyed(rows(Retrieval.bm25TopK(
      Retrieval.qlDirichletScores(tf, cf, stats, queries, "queryId", "text"), k)))
  }

  def iterate(sp: Spans): Unit = {
    bm25 = sp("retrieval.bm25_wand") {
      rows(Retrieval.bm25TopKWand(tf, queries, "queryId", "text", k, hotDf,
        forward = Some(fwd), dfStats = Some((dfTab, stats)), impact = Some(impact)))
    }
    ql = sp("retrieval.ql_wand") {
      rows(Retrieval.qlTopKWand(tf, queries, "queryId", "text", k, hotDf,
        forward = Some(fwd), dfStats = Some((dfTab, stats)), cf = Some(cf),
        impact = Some(impact)))
    }
  }

  def check(): Boolean =
    bm25.length == expectedBm25.size && keyed(bm25) == expectedBm25 &&
      ql.length == expectedQl.size && keyed(ql) == expectedQl

  /** WAND routing from the stats readouts, which share the operators'
    * internals: queries routed safe, queries sent to the fallback, and
    * rare-term candidates.
    */
  def countLayers(t: Tracer): Unit = {
    def route(span: String, stats: DataFrame): Unit = {
      val r = stats.agg(
        sum(when(col("safe"), 1L).otherwise(0L)),
        sum(when(col("safe"), 0L).otherwise(1L)),
        sum(coalesce(col("n_candidates"), lit(0L)))).head()
      t.attr(span, "retrieval.safe_queries", r.getLong(0).toDouble)
      t.attr(span, "retrieval.fallback_queries", r.getLong(1).toDouble)
      t.attr(span, "retrieval.candidates", r.getLong(2).toDouble)
    }
    route("retrieval.bm25_wand", Retrieval.bm25WandStats(tf, queries, "queryId", "text",
      k, hotDf, forward = Some(fwd), dfStats = Some((dfTab, stats)), impact = Some(impact)))
    route("retrieval.ql_wand", Retrieval.qlWandStats(tf, queries, "queryId", "text",
      k, hotDf, forward = Some(fwd), dfStats = Some((dfTab, stats)), cf = Some(cf),
      impact = Some(impact)))
  }
}
