package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Ad-hoc profiling entry point (not part of the driver contract):
  * `runMain graft.Scratch q20_jac_doc_sizes [sfDir]` times one fixture
  * query (a registry name, or a prefix that selects one) cold + warm
  * through the same noop sink Bench uses and prints its final adaptive
  * plan.
  */
object Scratch {
  def time[A](label: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    println(f"[scratch] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    r
  }

  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q20_jac_doc_sizes")
    val dir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    // r20: cores/partitions from SPARK_GRAFT_CPUS (default 32) so the
    // c8-vs-c32 scaling fixes can be A/B'd isolated, same as Bench
    val spark = SparkEntry.localSession()
    // per-job wall breakdown (SPARK_GRAFT_SCRATCH_JOBS=1): which eager
    // materialization / sampling / final job a gate's wall goes to
    if (sys.env.get("SPARK_GRAFT_SCRATCH_JOBS").contains("1")) {
      val t0s = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(
              j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
            t0s.put(j.jobId, System.nanoTime()); ()
          }
          override def onJobEnd(
              j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
            val t0 = t0s.remove(j.jobId)
            println(f"[scratch-job] job=${j.jobId}%3d " +
              f"wall=${(System.nanoTime() - t0) / 1e9}%7.3f s")
          }
          override def onStageCompleted(
              e: org.apache.spark.scheduler.SparkListenerStageCompleted)
              : Unit = {
            val si = e.stageInfo
            val m = si.taskMetrics
            println(f"[scratch-stage] stage=${si.stageId}%4d " +
              f"tasks=${si.numTasks}%3d " +
              f"run=${m.executorRunTime / 1e3}%7.2f gc=${m.jvmGCTime / 1e3}%6.2f " +
              f"cpu=${m.executorCpuTime / 1e9}%7.2f " +
              f"srows=${m.shuffleReadMetrics.recordsRead}%9d " +
              si.name.take(60))
          }
        })
    }
    spark.range(1000000L).selectExpr("sum(id)").collect()
    def exec(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    // "skew" replays the Bench jaccard_skew_hotword workload (not a
    // SparkEntry query) so its plan can be dumped and timed here too
    val q: (SparkSession, String) => DataFrame =
      if (name == "skew") { (s, _) =>
        val docs = s.range(20000).select(
          col("id").cast("string").as("docId"),
          concat_ws(" ", lit("hotzz"),
            concat(lit("a"), col("id")), concat(lit("b"), col("id")),
            concat(lit("c"), col("id")), concat(lit("d"), col("id"))).as("text"))
        graft.operators.Jaccard.allPairs(docs, maxDocFrequency = Some(1000L))
      }
      else if (name == "curation") { (s, d) =>
        val docs = s.read.parquet(s"$d/documents.parquet")
        graft.pipeline.CurationPipeline
          .run(docs, "doc_id", "text", languages = Set.empty).curated
      }
      // "ltr_pin" regenerates q244's pinned pairwise weights: trains
      // on the SF-independent fixture and prints each weight's exact
      // toString (paste into the q244 oracle as CAST('w' AS DOUBLE))
      else if (name == "ltr_pin") { (s, d) =>
        val (m, feats) = TextQueries.ltrPairwiseFixture(s, d)
        println(s"[scratch] ltr_pin bias: ${m.bias}")
        m.weights.foreach { case (f, w) =>
          println(s"[scratch] ltr_pin weight: $f -> $w")
        }
        graft.operators.Ltr.ltrRerank(feats, m, 5)
      }
      else SparkEntry.selectOne(name)
    val warmRuns = args.lift(2).map(_.toInt).getOrElse(1)
    time(s"$name cold")(exec(q(spark, dir)))
    // bare 'warm' for the default single run — the r01+ baseline
    // protocol lines in BASELINE.md grep for it; index only multi-run
    for (i <- 1 to warmRuns)
      time(if (warmRuns == 1) s"$name warm" else s"$name warm$i")(
        exec(q(spark, dir)))
    // execute THIS QueryExecution (a write would plan its own) so the
    // printed adaptive plan is the one that actually ran
    val df = q(spark, dir)
    df.queryExecution.toRdd.count()
    println(df.queryExecution.executedPlan.toString.take(60000))
    spark.stop()
  }
}
