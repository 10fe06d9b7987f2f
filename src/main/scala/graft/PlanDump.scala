package graft
import java.nio.file.{Files, Paths}

/** Builder-local tool (not part of the driver contract): dump
  * `.explain("formatted")` of selected SparkEntry queries to files —
  * `runMain graft.PlanDump <sfDir> <outDir> <tag> <p1> <p2> ...`
  * writes `<outDir>/<name>_<tag>.txt` for each query whose name starts
  * with one of the prefixes (`q182` or the full `q182_bm25_wand_topk`);
  * a prefix that matches nothing is logged and skipped. Constructing a
  * gate's DataFrame executes its eager fixture builds, so the dump
  * reflects exactly the plan a bench sample executes.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, tag) = args.take(3)
    val names = args.drop(3)
    val spark = SparkEntry.localSession()
    Files.createDirectories(Paths.get(outDir))
    val selected = SparkEntry.selectEach(names.toSeq,
      p => System.err.println(s"[plandump] no query matches $p"))
    selected.foreach { case (n, fn) =>
      try {
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/${n}_$tag.txt"), plan)
        System.err.println(s"[plandump] wrote ${n}_$tag.txt")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $n FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
