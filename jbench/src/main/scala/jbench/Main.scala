package jbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark process: one workload, one seed, one JVM at
  * `local[<cores>]` with as many shuffle partitions as cores.
  *
  * `--trace 0` prints the end-to-end metrics: `setup_s` (JVM start to the
  * start of the first timed iteration: session, input build, expected
  * outputs and warm-up iterations), and the median `iter_s` wall and
  * `cpu_s` process CPU of the timed iterations, which run until `--seconds`
  * have passed, and `heap_mb` once the last iteration's own persisted data
  * is released and the heap collected. `--trace 1` times a few untraced
  * iterations, then one traced iteration and the reference section, and
  * prints the per-layer metrics.
  *
  * Usage: `Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir> --record <file>`
  */
object Main {

  /** Per-workload sizes, chosen so one iteration takes a few seconds on
    * four cores (see `jbench/README.md`).
    */
  object Sizes {
    val AllPairsDocs = 330
    val AllPairsTokens = 400
    val AllPairsVocab = 3000
    val Bm25Docs = 2000
    val Bm25Queries = 60
    val Bm25HotDf = 40L
  }

  val Warmups = 5
  val MinTimed = 3
  val TracedUntimed = 2
  val RefSeed = 6190L

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: File, record: File)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", new File(need("work")), new File(need("record")))
  }

  def workload(name: String, spark: SparkSession, seed: Long, work: File): Workload =
    name match {
      case "allpairs" =>
        new AllPairs(spark, work, "allpairs", () =>
          Gen.datagenCorpus(seed, Sizes.AllPairsDocs, Sizes.AllPairsTokens, Sizes.AllPairsVocab)
            .map(d => s"${d.id} ${d.text}\n").mkString)
      case "bm25_wand" =>
        new Bm25Wand(spark, seed, Sizes.Bm25Docs, Sizes.Bm25Queries, Sizes.Bm25HotDf)
      case other => sys.error(s"unknown workload: $other")
    }

  def session(work: File): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("jbench")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  final case class Iter(phase: String, wallS: Double, cpuS: Double, ok: Boolean)

  private val cpuBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Runs iterations with the isolation every timed one gets: the RDDs the
    * previous iteration persisted are released, its output is deleted and
    * the heap is collected before the clock starts.
    */
  final class Runner(spark: SparkSession, w: Workload) {
    private var baseline: Set[Int] = Set.empty
    val series = mutable.ArrayBuffer.empty[Iter]

    def pinBaseline(): Unit = baseline = spark.sparkContext.getPersistentRDDs.keySet.toSet

    def isolate(): Unit = {
      spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!baseline(id)) rdd.unpersist(blocking = true)
      }
      w.outputDir.foreach(Workload.deleteRecursively)
      System.gc()
    }

    /** One iteration; a traced one runs inside a `root` span. */
    def run(phase: String, sp: Spans = Spans.off, root: String = ""): Iter = {
      isolate()
      val c0 = cpuBean.getProcessCpuTime
      val t0 = System.nanoTime()
      val done = try {
        if (root.isEmpty) w.iterate(sp) else sp(root)(w.iterate(sp))
        true
      } catch {
        case e: Exception => System.err.println(s"[jbench] $phase iteration failed: $e"); false
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (cpuBean.getProcessCpuTime - c0) / 1e9
      val ok = done && (try w.check() catch { case _: Exception => false })
      val it = Iter(phase, wall, cpu, ok)
      series += it
      println(f"[jbench] $phase%-8s wall=$wall%.3f s cpu=$cpu%.3f s ok=$ok")
      it
    }
  }

  /** Heap in use once the last iteration's own persisted RDDs are released:
    * the persisted inputs plus whatever the engine itself still holds. The
    * pause lets Spark's cleaner drop the blocks of objects the first
    * collection found unreachable before the second one is measured.
    */
  def heapMb(r: Runner): Double = {
    r.isolate()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    a.work.mkdirs()
    val spark = session(a.work)
    val result = try {
      if (a.trace) traced(a, spark) else untraced(a, spark)
    } finally spark.stop()
    println(result)
  }

  private def resultLine(correct: Boolean, series: Seq[Iter],
                         metrics: Seq[(String, Double, String)]): String =
    Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> Json.num(series.length),
      "failed" -> Json.num(series.count(!_.ok)),
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })))

  private def seriesJson(series: Seq[Iter]): String =
    Json.arr(series.map(i => Json.obj(Seq("phase" -> Json.str(i.phase),
      "wall_s" -> Json.num(i.wallS), "cpu_s" -> Json.num(i.cpuS),
      "ok" -> i.ok.toString))))

  /** Median and quartiles of a timed series, for the run record. */
  private def spreadJson(xs: Seq[Double]): String =
    if (xs.length < 2) Json.obj(Seq("median" -> Json.num(Stats.median(xs))))
    else {
      val (q1, q2, q3) = Stats.quartiles(xs)
      Json.obj(Seq("q1" -> Json.num(q1), "median" -> Json.num(q2), "q3" -> Json.num(q3)))
    }

  private def write(f: File, s: String): Unit = {
    f.getParentFile.mkdirs()
    Files.write(f.toPath, s.getBytes(StandardCharsets.UTF_8))
  }

  /** Seconds since the JVM started. */
  private def sinceJvmStart(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  def untraced(a: Args, spark: SparkSession): String = {
    val bootS = sinceJvmStart()
    val w = workload(a.workload, spark, a.seed, a.work)
    val r = new Runner(spark, w)
    val b0 = System.nanoTime()
    w.build(Spans.off)
    val buildS = (System.nanoTime() - b0) / 1e9
    r.pinBaseline()
    w.prepareCheck()
    val w0 = System.nanoTime()
    (1 to Warmups).foreach(_ => r.run("warmup"))
    val warmS = (System.nanoTime() - w0) / 1e9
    val setupS = sinceJvmStart()
    // Timed iterations until another one as long as the last would end
    // past `--seconds`.
    val t0 = System.nanoTime()
    var timed = 0
    var last = 0.0
    while (timed < MinTimed || (System.nanoTime() - t0) / 1e9 + last <= a.seconds) {
      last = r.run("timed").wallS; timed += 1
    }
    val heap = heapMb(r)
    val timedSeries = r.series.filter(_.phase == "timed").toSeq
    val metrics = Seq(
      ("setup_s", setupS, "s"),
      ("iter_s", Stats.median(timedSeries.map(_.wallS)), "s"),
      ("cpu_s", Stats.median(timedSeries.map(_.cpuS)), "s"),
      ("heap_mb", heap, "MB"))
    write(a.record, Json.obj(Seq(
      "workload" -> Json.str(a.workload), "seed" -> Json.num(a.seed),
      "boot_s" -> Json.num(bootS), "build_s" -> Json.num(buildS),
      "warmup_s" -> Json.num(warmS), "setup_s" -> Json.num(setupS),
      "timed_wall_s" -> spreadJson(timedSeries.map(_.wallS)),
      "timed_cpu_s" -> spreadJson(timedSeries.map(_.cpuS)),
      "iterations" -> seriesJson(r.series.toSeq))))
    resultLine(r.series.forall(_.ok), r.series.toSeq, metrics)
  }

  /** Layers whose self time is reported, and the count attributes. */
  val TimedLayers: Seq[String] = Seq("corpus.tokenize", "jaccard.pair_intersections",
    "jaccard.similarities", "format.write", "jaccard.threshold_matches",
    "jaccard.compact", "retrieval.index_build", "retrieval.bm25_wand",
    "retrieval.ql_wand")
  val Counts: Seq[String] = Seq("corpus.docs", "corpus.tokens",
    "jaccard.postings_rows", "jaccard.join_rows", "jaccard.pairs", "format.bytes",
    "jaccard.matches", "jaccard.index_rows", "retrieval.safe_queries",
    "retrieval.fallback_queries", "retrieval.candidates")
  val RefJobs: (String, String, String) =
    ("ref.job1_doc_sizes", "ref.job2_pair_intersections", "ref.job3_jaccard")

  def traced(a: Args, spark: SparkSession): String = {
    val t = new Tracer(s"${a.workload}-${a.seed}", spark.sparkContext)
    val sp = Spans.of(t)
    val w = workload(a.workload, spark, a.seed, a.work)
    val r = new Runner(spark, w)
    t.span("setup")(w.build(sp))
    r.pinBaseline()
    w.prepareCheck()
    (1 to Warmups).foreach(_ => r.run("warmup"))
    val untracedIter = Stats.median((1 to TracedUntimed).map(_ => r.run("timed").wallS))
    r.run("traced", sp, "iteration")
    val iterSpan = t.all.filter(_.name == "iteration").last
    w.countLayers(t)

    // The reference section runs in every traced run, so that each layer
    // is measured on each workload: the paper's pipeline on the reference
    // `large` corpus, split into the three MapReduce jobs, plus small fixed
    // probes of the ingest and retrieval layers.
    val ref = new AllPairs(spark, a.work, "ref", () => graft.Datagen.generateAll()("large"),
      Some(RefJobs))
    val probes: Seq[(String, Workload)] = Seq(
      "ref.allpairs" -> ref,
      "ref.ingest" -> new NearDup(spark, RefSeed, 2000, 200),
      "ref.retrieval" -> new Bm25Wand(spark, RefSeed, 1000, 20, 40L))
    val refOk = probes.map { case (name, p) =>
      val pr = new Runner(spark, p)
      t.span(name) {
        p.build(sp)
        pr.pinBaseline()
        p.prepareCheck()
        pr.run("ref", sp)
      }
      p.countLayers(t)
      r.series ++= pr.series
      pr.series.forall(_.ok)
    }.forall(identity) && ref.expectedLines == 11175L
    t.finish()

    val spans = t.all
    def named(n: String) = spans.filter(_.name == n)
    val inRef = probes.flatMap { case (n, _) => named(n).flatMap(t.subtree) }.map(_.id).toSet
    // A layer's figures come from the workload's own spans (set-up and the
    // traced iteration) when it has any there, else from the reference section.
    def ownFirst(ss: Seq[Span]): Seq[Span] = {
      val (ref, own) = ss.partition(s => inRef(s.id))
      if (own.nonEmpty) own else ref
    }
    val iterSubtree = t.subtree(iterSpan)
    val iterS = iterSpan.durationNanos / 1e9
    val metrics =
      TimedLayers.map(l => (s"${l}_s", ownFirst(named(l)).map(t.selfNanos).sum / 1e9, "s")) ++
      Counts.map(c => (c, ownFirst(spans.filter(_.attrs.contains(c))).map(_.attrs(c)).sum,
        if (c.endsWith("bytes")) "B" else "count")) ++
      Span.sparkCounters.map { c =>
        (s"spark.$c", iterSubtree.flatMap(_.spark.get(c)).sum,
          if (c.endsWith("_mb")) "MB" else if (c.endsWith("_s")) "s" else "count")
      } ++
      Seq(RefJobs._1, RefJobs._2, RefJobs._3).map(j =>
        (s"${j}_s", named(j).map(_.durationNanos).sum / 1e9, "s")) ++
      Seq(("trace.iter_s", iterS, "s"),
        ("trace.overhead_s", iterS - untracedIter, "s"),
        ("trace.coverage", 1.0 - t.selfNanos(iterSpan) / iterSpan.durationNanos.toDouble,
          "ratio"))
    write(a.record, Json.obj(Seq(
      "workload" -> Json.str(a.workload), "seed" -> Json.num(a.seed),
      "iterations" -> seriesJson(r.series.toSeq), "trace" -> t.toJson)))
    resultLine(r.series.forall(_.ok) && refOk, r.series.toSeq, metrics)
  }
}
