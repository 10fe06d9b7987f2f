package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.QShared.docsAsCorpus
import graft.operators.Jaccard

/** Driver contract — the engine's query surface over the driver's parquet
  * fixtures, with a DuckDB-runnable oracle per query.
  *
  * Conventions keeping the Spark result and the DuckDB oracle hash-equal:
  *   - integer outputs are always BIGINT (Spark `long`);
  *   - money/ratio aggregates sum exact DECIMAL then cast to DOUBLE (sum
  *     order independence), or are pure double arithmetic on identical
  *     inputs (bit-identical in both engines);
  *   - every query ends in a total ORDER BY (deterministic row order);
  *   - hashes are md5-derived (portable), never Spark-internal murmur3.
  */
object SparkEntry {

  def entry(spark: SparkSession): DataFrame =
    Jaccard.allPairs(docsAsCorpus(spark, "/root/testdata/sf0.001"))

  // ---------------------------------------------------------------- queries

  /** The full registry, composed from the per-domain slices (each
    * under ~1,500 lines; the shared fixture/oracle fragments live in
    * [[QShared]]). Composition CHECKS key disjointness — `Map ++`
    * silently shadows duplicates, so a re-used key in a later slice
    * would otherwise make a query vanish with no error.
    */
  private def composed[T](slices: Seq[Map[String, T]],
                          what: String): Map[String, T] = {
    val m = slices.reduce(_ ++ _)
    require(slices.map(_.size).sum == m.size,
      s"duplicate $what key across registry slices: " +
        slices.flatMap(_.keys).groupBy(identity).collect {
          case (k, vs) if vs.size > 1 => k
        }.mkString(", "))
    m
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    composed(Seq(RelationalQueries.queries, JaccardQueries.queries,
      DedupQueries.queries, AnnQueries.queries, TextQueries.queries,
      MmQueries.queries, WebQueries.queries), "query")

  /** The registry entries whose name starts with one of `prefixes` —
    * every entry when `prefixes` is empty. An unmatched prefix selects
    * nothing; it is not an error.
    */
  def select(prefixes: Seq[String])
      : Map[String, (SparkSession, String) => DataFrame] =
    queries.filter { case (name, _) =>
      prefixes.isEmpty || prefixes.exists(name.startsWith)
    }

  /** The entries each prefix selects, in prefix order (names sorted within
    * one prefix), each entry once even when several prefixes match it.
    * A prefix that matches nothing is passed to `unmatched` and skipped.
    */
  def selectEach(prefixes: Seq[String], unmatched: String => Unit)
      : Seq[(String, (SparkSession, String) => DataFrame)] =
    prefixes.flatMap { p =>
      val hits = select(Seq(p)).toSeq.sortBy(_._1)
      if (hits.isEmpty) unmatched(p)
      hits
    }.distinctBy(_._1)

  /** The one entry `name` selects: the registry name itself, else the
    * only entry it prefixes (`q219` for `q219_ltr_features`). A name
    * that selects nothing or several entries fails, listing them.
    */
  def selectOne(name: String): (SparkSession, String) => DataFrame =
    queries.getOrElse(name, select(Seq(name)).toSeq.sortBy(_._1) match {
      case Seq((_, fn)) => fn
      case hits => throw new IllegalArgumentException(
        s"$name selects ${hits.size} queries, not one: " +
          hits.map(_._1).mkString("[", ", ", "]"))
    })

  /** The `local[n]` session the command-line mains run on (Verify,
    * Bench, PlanDump, Scratch, ScaleBench, ScaleFixture): `n` cores and
    * `n` shuffle partitions with `n = SPARK_GRAFT_CPUS` (default 32),
    * UTC session time, parquet nanos read as long, no UI, WARN logs.
    */
  def localSession(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def oracleSql: Map[String, String] =
    composed(Seq(RelationalQueries.oracles, JaccardQueries.oracles,
      DedupQueries.oracles, AnnQueries.oracles, TextQueries.oracles,
      MmQueries.oracles, WebQueries.oracles), "oracle")
}
