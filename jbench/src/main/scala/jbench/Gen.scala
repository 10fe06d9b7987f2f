package jbench

import java.util.SplittableRandom

/** Seeded input generators. Every generator draws from its own
  * `SplittableRandom(seed)`, so the same seed gives the same bytes in any
  * JVM, and the engine under test only ever sees the generated inputs.
  */
object Gen {

  final case class Doc(id: String, tokens: Array[String]) {
    def text: String = tokens.mkString(" ")
  }

  /** The reference `datagen.py` shape: `docs` documents of `tokensPerDoc`
    * tokens over a `vocab`-word vocabulary split into 8 topics; each
    * document takes 70 % of its tokens from one topic and 30 % from the
    * whole vocabulary, shuffled. Lines read `Document<i> tok tok ...`.
    */
  def datagenCorpus(seed: Long, docs: Int, tokensPerDoc: Int,
                    vocab: Int): Seq[Doc] = {
    val rng = new SplittableRandom(seed)
    val width = vocab.toString.length
    val words = Array.tabulate(vocab)(i => "w" + ("%0" + width + "d").format(i + 1))
    val chunk = math.ceil(vocab / 8.0).toInt
    val topics = (0 until 8).map(t =>
      words.slice(t * chunk, math.min((t + 1) * chunk, vocab)))
    (1 to docs).map { i =>
      val topic = topics(rng.nextInt(topics.length))
      val nTopic = (tokensPerDoc * 0.7).toInt
      val toks = Array.tabulate(tokensPerDoc) { k =>
        if (k < nTopic) topic(rng.nextInt(topic.length))
        else words(rng.nextInt(vocab))
      }
      shuffle(toks, rng)
      Doc(s"Document$i", toks)
    }
  }

  private def shuffle(a: Array[String], rng: SplittableRandom): Unit = {
    var i = a.length - 1
    while (i >= 1) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
  }

  /** Zipf(s) sampler over ranks 1..n, by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x / total; acc }
    }
    def rank(rng: SplittableRandom): Int = {
      val u = rng.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  private def word(rank: Int): String = f"t$rank%05d"

  private def zipfTokens(rng: SplittableRandom, z: Zipf,
                         minLen: Int, maxLen: Int): Array[String] =
    Array.fill(minLen + rng.nextInt(maxLen - minLen + 1))(word(z.rank(rng)))

  /** `n` documents of `minLen..maxLen` Zipf(s) tokens over `vocab` words. */
  def zipfDocs(seed: Long, n: Int, minLen: Int, maxLen: Int, vocab: Int,
               s: Double, idPrefix: String): Seq[Doc] = {
    val rng = new SplittableRandom(seed)
    val z = new Zipf(vocab, s)
    (0 until n).map(i => Doc(f"$idPrefix$i%06d", zipfTokens(rng, z, minLen, maxLen)))
  }

  /** An arrival batch for an index: every even position is a planted near
    * duplicate (an index document with `editShare` of its token positions,
    * at least one, replaced by fresh Zipf words), every odd position a
    * fresh document. Returns the batch and which positions are planted.
    */
  def nearDupBatch(seed: Long, index: IndexedSeq[Doc], n: Int, minLen: Int,
                   maxLen: Int, vocab: Int, s: Double,
                   editShare: Double): (Seq[Doc], Seq[Boolean]) = {
    val rng = new SplittableRandom(seed)
    val z = new Zipf(vocab, s)
    val docs = (0 until n).map { i =>
      val id = f"b$i%06d"
      if (i % 2 == 0) {
        val toks = index(rng.nextInt(index.length)).tokens.clone()
        val edits = math.max(1, math.round(toks.length * editShare).toInt)
        for (_ <- 0 until edits) toks(rng.nextInt(toks.length)) = word(z.rank(rng))
        (Doc(id, toks), true)
      } else (Doc(id, zipfTokens(rng, z, minLen, maxLen)), false)
    }
    (docs.map(_._1), docs.map(_._2))
  }

  /** `n` queries of `minTerms..maxTerms` Zipf(s) terms. */
  def zipfQueries(seed: Long, n: Int, minTerms: Int, maxTerms: Int,
                  vocab: Int, s: Double): Seq[Doc] = {
    val rng = new SplittableRandom(seed)
    val z = new Zipf(vocab, s)
    (0 until n).map(i => Doc(f"q$i%05d", zipfTokens(rng, z, minTerms, maxTerms)))
  }
}
