package graft

import org.apache.spark.sql.functions._

/** Generate the 10× scale-evidence fixture (sf1.0-equivalent) under
  * `/tmp/scale10` — the closest a local[32] box gets to reviewing the
  * 100 TB design claims with real wall-clock numbers (see BASELINE.md,
  * "Round-8 scale evidence").
  *
  * `documents` / `embeddings`: ten copies of the sf0.1 tables with
  * disjoint id ranges. Each document copy PERMUTES the normalized word
  * order by sorting on a (word, copy, doc) hash key — same
  * length/vocabulary statistics, but the 3-word shingles (the
  * near-dup/minhash unit) are re-drawn essentially at random, so copies
  * are NOT near-duplicates of each other and the dedup workloads scale
  * in corpus size rather than collapsing into 10-way duplicate cliques.
  * (A mere rotation does NOT work: cyclic shifts preserve all but the
  * boundary shingles, making every copy a true near-duplicate — the
  * first fixture attempt measured exactly that explosion.) Embedding
  * copies perturb one copy-dependent dimension, keeping cosine
  * structure realistic without exact collisions.
  *
  * `large10.txt`: ten copies of the reference `large.txt` corpus (by
  * default regenerated by [[Datagen]]; a path may be given instead) with
  * suffixed doc ids and the same word rotation — 1,500 docs / vocab
  * 3,000 for the quadratic Jaccard path, whose pair volume scales ~100×
  * (quadratic operator, expected) and is then df-pruned.
  */
object ScaleFixture {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/scale10")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    // the corpus feeding large10.txt (arg 4): a given path must exist;
    // by default Datagen's `large` corpus (the reference large.txt,
    // byte for byte) is written to a temp file, as Bench does for its
    // sentinels
    val refCorpus = args.lift(3) match {
      case Some(p) =>
        require(new java.io.File(p).isFile, s"corpus $p not found")
        p
      case None =>
        val f = java.nio.file.Files.createTempFile("graft-large", ".txt")
        f.toFile.deleteOnExit()
        java.nio.file.Files.write(f,
          Datagen.generateAll()("large").getBytes("UTF-8"))
        f.toString
    }
    val spark = SparkEntry.localSession()

    // ten copies via one generator: copy 0 keeps the original text; the
    // others re-order the words by a (word, position, copy, doc) hash —
    // a deterministic random permutation
    def scrambled(ws: org.apache.spark.sql.Column,
                  copy: org.apache.spark.sql.Column,
                  id: org.apache.spark.sql.Column) =
      transform(
        array_sort(transform(ws, (w, i) => struct(
          md5(concat_ws(":", w, i.cast("string"), copy.cast("string"),
            id.cast("string"))).as("h"),
          w.as("w")))),
        s => s.getField("w"))
    val docs = spark.read.parquet(s"$src/documents.parquet")
    docs
      .select(explode(sequence(lit(0), lit(copies - 1))).as("copy"),
        col("doc_id"), col("text"), col("lang"), col("source"))
      .withColumn("__ws",
        graft.functions.TextFunctions.normalizedWords(col("text")))
      .select(
        (col("doc_id") + col("copy").cast("long") * 10000000L).as("doc_id"),
        when(col("copy") === 0, col("text"))
          .otherwise(concat_ws(" ",
            scrambled(col("__ws"), col("copy"), col("doc_id")))).as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    val embs = spark.read.parquet(s"$src/embeddings.parquet")
    val dim = 64
    embs
      .select(explode(sequence(lit(0), lit(copies - 1))).as("copy"),
        col("vec_id"), col("embedding"), col("label"))
      .select(
        (col("vec_id") + col("copy").cast("long") * 10000000L).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          when(i === col("copy") % dim,
            x + (col("copy").cast("float") / lit(1000.0f))).otherwise(x)
            .cast("float"))
          .as("embedding"),
        col("label"))
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    // 10x the reference large corpus for the quadratic Jaccard path
    graft.corpus.Corpus.read(spark, refCorpus)
      .select(explode(sequence(lit(0), lit(copies - 1))).as("copy"),
        col("docId"), col("text"))
      .withColumn("__ws", filter(split(col("text"), " "), w => w =!= ""))
      .select(concat_ws(" ",
        concat(col("docId"), lit("c"), col("copy")),
        when(col("copy") === 0, col("text")).otherwise(concat_ws(" ",
          scrambled(col("__ws"), col("copy"), hash(col("docId")))))
        ).as("value"))
      .coalesce(1)
      .write.mode("overwrite").text(s"$out/large10.txt")

    println(s"[scalefixture] wrote $out")
    spark.stop()
  }
}
