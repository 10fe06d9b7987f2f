package graft.format

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** P4 + O1 + S2 — the reference's text output layout.
  *
  * Line format (`DocumentSimilarityReducer.java:105-107` + Hadoop
  * `TextOutputFormat`): `"<a>, <b>\tSimilarity: <%.2f>"`, globally sorted
  * byte-lexicographically by the pair key (single-reducer artifact the
  * golden files depend on).
  *
  * `format_string` delegates to `java.util.Formatter` — the same HALF_UP
  * `%.2f` rounding as the reference's `String.format`. (`format_number`
  * would be wrong: DecimalFormat rounds HALF_EVEN.)
  */
object ReferenceOutput {

  /** similarities(docA, docB, similarity, ...) → the output line. */
  private def line =
    format_string("%s, %s\tSimilarity: %.2f",
      col("docA"), col("docB"), col("similarity")).as("value")

  /** The reference's single reducer sorts its input key, the CONCATENATED
    * `"docA,docB"` Text (`DocumentSimilarityReducer.java:45`), not the two
    * ids as separate fields — the orders diverge when one docId is a
    * proper prefix of another whose next byte sorts below ','.
    */
  private def pairKey = concat(col("docA"), lit(","), col("docB"))

  /** Formatted lines in pair-key order, in ONE partition: the
    * reference's single reducer, and the golden files' one part file.
    * The line is projected together with its key BEFORE the sort, so
    * `java.util.Formatter` runs in the parallel stage rather than in the
    * sort's task; the key is dropped after it. A one-partition
    * `sortWithinPartitions`, not `orderBy` (the q177 idiom): a global
    * sort first runs a sampling job over its child for the range bounds,
    * and that job re-executes every stage-local operator below it — over
    * `Jaccard.allPairs` the whole pair probe would run twice.
    */
  private def sortedLines(sims: DataFrame): DataFrame =
    sims.select(line, pairKey.as("__key"))
      .repartition(1).sortWithinPartitions("__key")
      .drop("__key")

  /** Globally sorted lines, as a driver-side array (tests / small outputs). */
  def collectSorted(sims: DataFrame): Array[String] =
    sortedLines(sims).collect().map(_.getString(0))

  /** Write the golden-file layout: sorted, one part file like the
    * reference's single reducer.
    */
  def write(sims: DataFrame, path: String): Unit =
    sortedLines(sims).write.mode("overwrite").text(path)
}
