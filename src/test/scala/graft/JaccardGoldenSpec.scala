package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import scala.jdk.CollectionConverters._

import graft.pipeline.JaccardPipeline

/** Primary oracle: byte-for-byte parity with the reference's golden
  * outputs, on the reference's own corpora as regenerated by `Datagen`
  * (byte parity pinned by DatagenSpec).
  *
  * The expected line counts and md5s (over the output file bytes, each
  * line `\n`-terminated) come from the benchmark's engine-independent
  * replay, `jbench.Replay.allPairs` (`jbench/src/main/scala/jbench/
  * Replay.scala`), run on the same Datagen corpora: set Jaccard over the
  * reference tokenizer, `java.util.Formatter`'s HALF_UP `%.2f`, sorted on
  * the concatenated `"a,b"` key. Its line counts are pinned on their own
  * by jbench's BenchSpec. The three corpora hold 8, 1 and 5 lines whose
  * `%.2f` is a HALF_UP tie, so a half-even formatter fails the md5.
  *
  * When the reference checkout is present, the lines are also diffed
  * directly against its committed `results-1dn` goldens (1-DN and 3-DN
  * outputs are identical per the reference README).
  */
class JaccardGoldenSpec extends SparkSpec {

  private val ref = "/root/reference"

  private lazy val corpusDir = {
    val dir = Files.createTempDirectory("graft-golden")
    dir.toFile.deleteOnExit()
    for ((name, text) <- Datagen.generateAll()) {
      val f = dir.resolve(s"$name.txt")
      Files.write(f, text.getBytes(StandardCharsets.UTF_8))
      f.toFile.deleteOnExit()
    }
    dir
  }

  private def md5(lines: Seq[String]): String = {
    val d = MessageDigest.getInstance("MD5")
    lines.foreach(l => d.update((l + "\n").getBytes(StandardCharsets.UTF_8)))
    d.digest().map("%02x".format(_)).mkString
  }

  private def check(name: String, rows: Int, wantMd5: String): Unit = {
    val got = JaccardPipeline.goldenLines(
      spark, corpusDir.resolve(s"$name.txt").toString).toVector
    assert(got.length == rows, s"$name: row count ${got.length} != $rows")
    assert(md5(got) == wantMd5, s"$name: md5 of the sorted lines")
    val golden = Paths.get(s"$ref/results-1dn/$name/output_jaccard/part-r-00000")
    if (Files.isRegularFile(golden)) {
      val want = Files.readAllLines(golden).asScala.toVector
      assert(got.length == want.length,
        s"$name: row count ${got.length} != golden ${want.length}")
      val firstDiff = got.zip(want).indexWhere { case (g, w) => g != w }
      assert(firstDiff == -1,
        s"$name: first diff at line ${firstDiff + 1}: got='${got.lift(firstDiff)}' want='${want.lift(firstDiff)}'")
    }
  }

  test("small corpus matches golden output byte-for-byte")(
    check("small", 1225, "0438e49b8ac0cc52aebc950f1d6f6aed"))
  test("medium corpus matches golden output byte-for-byte")(
    check("medium", 4950, "fc668bdf667281252700e2215669859c"))
  test("large corpus matches golden output byte-for-byte")(
    check("large", 11175, "8ab0598afce96c842c23d0ae743f7914"))
}
