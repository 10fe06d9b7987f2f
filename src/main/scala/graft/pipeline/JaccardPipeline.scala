package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.corpus.Corpus
import graft.format.ReferenceOutput
import graft.operators.Jaccard

/** D1 — the end-to-end composition. The reference chains three MapReduce
  * jobs through HDFS text files (`DocumentSimilarityDriver.java:20-94`);
  * here the whole thing is one lazy DataFrame DAG, and no intermediate
  * ever hits storage unless explicitly requested. A one-file corpus (the
  * reference's layout) is read and tokenized ONCE (the reference
  * reads+tokenizes it twice, Jobs 1 & 2): `Jaccard.allPairs` hashes it by
  * docId, postings and sizes both read that exchange, so the plan holds
  * one scan and one tokenizer (PlanSpec pins this), and the pair stage
  * runs one task per shuffle partition. A corpus of several file splits
  * keeps the plain plan, in which postings and sizes each scan it.
  */
object JaccardPipeline {

  /** corpus text file → similarity table (docA, docB, inter, sizeA, sizeB,
    * similarity).
    */
  def run(spark: SparkSession, inputPath: String,
          maxDocFrequency: Option[Long] = None): DataFrame =
    Jaccard.allPairs(Corpus.read(spark, inputPath), maxDocFrequency)

  /** Reference-formatted output lines for golden-file comparison. */
  def goldenLines(spark: SparkSession, inputPath: String): Array[String] =
    ReferenceOutput.collectSorted(run(spark, inputPath))

  /** CLI mirroring the reference driver's 4-arg contract
    * (`DocumentSimilarityDriver.java:15-24`):
    * `<in> <outDocSizes> <outPairCounts> <outJaccard>`.
    * The two intermediate outputs are materialized only because the
    * contract asks for them; the Jaccard output is computed from the same
    * single DAG.
    */
  def main(args: Array[String]): Unit = {
    require(args.length == 4,
      "usage: JaccardPipeline <in> <outDocSizes> <outPairCounts> <outJaccard>")
    val Array(in, outSizes, outPairs, outJaccard) = args
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("graft-jaccard")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val toks = Jaccard.tokenized(Corpus.read(spark, in)).cache()
      val sizes = Jaccard.docSizes(toks)
      sizes
        .orderBy("docId")
        .select(format_string("%s\t%d", col("docId"), col("size")))
        .coalesce(1).write.mode("overwrite").text(outSizes)
      val pairs = Jaccard.pairIntersections(Jaccard.postings(toks))
      pairs
        .orderBy("docA", "docB")
        .select(format_string("%s,%s\t%d", col("docA"), col("docB"), col("inter")))
        .coalesce(1).write.mode("overwrite").text(outPairs)
      ReferenceOutput.write(Jaccard.similarities(pairs, sizes), outJaccard)
    } finally spark.stop()
  }
}
