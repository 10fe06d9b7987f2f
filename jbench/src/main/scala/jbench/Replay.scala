package jbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.Locale

/** Plain-Scala replays that the engine's outputs are checked against. They
  * share no code with the engine: each one restates the reference
  * semantics directly over the generated inputs.
  */
object Replay {

  /** The reference tokenizer: lowercase, anything outside `[a-z0-9\s]`
    * becomes a space, split on whitespace, drop empties, keep the first
    * occurrence of each token.
    */
  def tokens(text: String): Array[String] =
    text.toLowerCase(Locale.ROOT).replaceAll("[^a-z0-9\\s]", " ")
      .split("\\s+").filter(_.nonEmpty).distinct

  /** The reference line format `<docId> <text>` after a trim, split at the
    * first space; lines without one are dropped.
    */
  def parseCorpus(corpus: String): Seq[(String, Array[String])] =
    corpus.split("\n").toSeq.map(_.trim).filter(_.nonEmpty).flatMap { line =>
      val sp = line.indexOf(' ')
      if (sp <= 0) None else Some(line.substring(0, sp).trim -> tokens(line.substring(sp + 1)))
    }

  /** The all-pairs output file: every unordered pair sharing a token, as
    * `"a, b\tSimilarity: %.2f"` (java.util.Formatter, so HALF_UP), sorted on
    * the concatenated `"a,b"` key. Returns (line count, md5 of the file).
    */
  def allPairs(corpus: String): (Long, String) = {
    val docs = parseCorpus(corpus).filter(_._2.nonEmpty).toArray
    val vocab = docs.iterator.flatMap(_._2).distinct.zipWithIndex.toMap
    val bits = docs.map { case (_, toks) =>
      val b = new java.util.BitSet(vocab.size)
      toks.foreach(t => b.set(vocab(t)))
      b
    }
    val lines = Array.newBuilder[(String, String)]
    for (i <- docs.indices; j <- docs.indices if docs(i)._1 < docs(j)._1) {
      val inter = bits(i).clone().asInstanceOf[java.util.BitSet]
      inter.and(bits(j))
      val n = inter.cardinality().toLong
      if (n > 0) {
        val (a, b) = (docs(i)._1, docs(j)._1)
        val union = bits(i).cardinality().toLong + bits(j).cardinality() - n
        val sim = n.toDouble / union
        lines += (s"$a,$b" -> String.format(Locale.US, "%s, %s\tSimilarity: %.2f",
          a, b, Double.box(sim)))
      }
    }
    val sorted = lines.result().sortBy(_._1).map(_._2)
    val md5 = MessageDigest.getInstance("MD5")
    sorted.foreach(l => md5.update((l + "\n").getBytes(StandardCharsets.UTF_8)))
    (sorted.length.toLong, hex(md5.digest()))
  }

  def hex(bytes: Array[Byte]): String = bytes.map(b => f"${b & 0xff}%02x").mkString

  /** Every (batch doc, index doc) pair with `|A∩B| / |A∪B| >= t`, as
    * (batch id, index id, |A∩B|).
    */
  def thresholdMatches(batch: Seq[(String, Array[String])],
                       index: Seq[(String, Array[String])],
                       t: Double): Set[(String, String, Long)] = {
    val vocab = (batch ++ index).iterator.flatMap(_._2).distinct.zipWithIndex.toMap
    def ids(toks: Array[String]) = toks.map(vocab).distinct.sorted
    val idx = index.map { case (id, toks) => (id, ids(toks)) }.filter(_._2.nonEmpty)
    batch.flatMap { case (bid, btoks) =>
      val a = ids(btoks)
      idx.iterator.flatMap { case (mid, b) =>
        val (lo, hi) = (math.min(a.length, b.length), math.max(a.length, b.length))
        // J <= |small| / |large|, so pairs below t there cannot match
        if (a.isEmpty || lo.toDouble / hi < t - 1e-9) None
        else {
          val n = intersectSorted(a, b).toLong
          if (n > 0 && n.toDouble / (a.length + b.length - n) >= t) Some((bid, mid, n))
          else None
        }
      }
    }.toSet
  }

  private def intersectSorted(a: Array[Int], b: Array[Int]): Int = {
    var i = 0; var j = 0; var n = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { n += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    n
  }

  /** The df-ordered set layout of a corpus: per document its distinct
    * tokens sorted by (document frequency, token), rarest first.
    */
  def dfOrderedSets(docs: Seq[(String, Array[String])]): Map[String, Seq[String]] = {
    val sets = docs.map { case (id, toks) => id -> toks.distinct }.filter(_._2.nonEmpty)
    val df = sets.iterator.flatMap(_._2).toSeq.groupMapReduce(identity)(_ => 1L)(_ + _)
    sets.map { case (id, toks) => id -> toks.toSeq.sortBy(w => (df(w), w)) }.toMap
  }
}
