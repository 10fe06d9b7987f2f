package jbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed region around a call into a layer. Times are `System.nanoTime`
  * readings; `parent` is -1 for a top-level span. `attrs` holds counts taken
  * for the span (named by the per-layer metric they feed) and `spark` the
  * engine counters of the jobs the span submitted.
  */
final class Span(val id: Int, val name: String, val parent: Int,
                 val start: Long) {
  var end: Long = -1L
  val attrs: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  val spark: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  def durationNanos: Long = end - start
}

object Span {

  /** A span's self time: its duration minus the part of its interval that
    * its children cover. Children are clipped to the parent's interval and
    * overlapping children are counted once.
    */
  def selfNanos(start: Long, end: Long, children: Seq[(Long, Long)]): Long = {
    val clipped = children
      .map { case (s, e) => (math.max(s, start), math.min(e, end)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0L
    var curS = 0L
    var curE = Long.MinValue
    for ((s, e) <- clipped) {
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    (end - start) - covered
  }

  val sparkCounters: Seq[String] = Seq("jobs", "stages", "tasks",
    "shuffle_records", "shuffle_write_mb", "spill_mb", "gc_s", "task_cpu_s")
}

/** Spans kept in memory for one traced run and written out when it ends.
  * Jobs a span submits carry its id as a local property, so the listener
  * attributes engine counters to the span that was open when the job
  * started, whatever thread delivers the event.
  */
final class Tracer(val runId: String, sc: SparkContext) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private val origin = System.nanoTime()
  private val Prop = "jbench.span"

  private val jobSpan = mutable.Map.empty[Int, Int]
  private val stageSpan = mutable.Map.empty[Int, Int]

  private def add(spanId: Int, counter: String, v: Double): Unit =
    spans.synchronized {
      if (spanId >= 0 && spanId < spans.length) {
        val m = spans(spanId).spark
        m(counter) = m.getOrElse(counter, 0.0) + v
      }
    }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val id = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
        .map(_.toInt).getOrElse(-1)
      spans.synchronized {
        jobSpan(e.jobId) = id
        e.stageIds.foreach(s => stageSpan(s) = id)
      }
      add(id, "jobs", 1)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add(spans.synchronized(stageSpan.getOrElse(e.stageInfo.stageId, -1)),
        "stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val id = spans.synchronized(stageSpan.getOrElse(e.stageId, -1))
      add(id, "tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add(id, "shuffle_records", m.shuffleWriteMetrics.recordsWritten.toDouble)
        add(id, "shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
        add(id, "spill_mb", m.diskBytesSpilled / 1048576.0)
        add(id, "gc_s", m.jvmGCTime / 1e3)
        add(id, "task_cpu_s", m.executorCpuTime / 1e9)
      }
    }
  }
  sc.addSparkListener(listener)

  def span[A](name: String)(body: => A): A = {
    val s = spans.synchronized {
      val s = new Span(spans.length, name, open.headOption.map(_.id).getOrElse(-1),
        System.nanoTime())
      spans += s
      s
    }
    open = s :: open
    sc.setLocalProperty(Prop, s.id.toString)
    try body
    finally {
      s.end = System.nanoTime()
      open = open.tail
      sc.setLocalProperty(Prop, open.headOption.map(_.id.toString).orNull)
    }
  }

  /** Attach a count to the most recent span with this name. */
  def attr(spanName: String, metric: String, v: Double): Unit =
    spans.synchronized {
      spans.reverseIterator.find(_.name == spanName).foreach(_.attrs(metric) = v)
    }

  /** Waits for every queued listener event, then stops listening. */
  def finish(): Unit = {
    org.apache.spark.JbenchBus.drain(sc)
    sc.removeSparkListener(listener)
  }

  def all: Seq[Span] = spans.synchronized(spans.toList)

  def children(s: Span): Seq[Span] = all.filter(_.parent == s.id)

  def selfNanos(s: Span): Long =
    Span.selfNanos(s.start, s.end, children(s).map(c => (c.start, c.end)))

  /** `s` and every span below it. */
  def subtree(s: Span): Seq[Span] = s +: children(s).flatMap(subtree)

  def toJson: String = {
    def sec(t: Long) = (t - origin) / 1e9
    val items = all.map { s =>
      Json.obj(Seq(
        "id" -> Json.num(s.id), "name" -> Json.str(s.name),
        "parent" -> Json.num(s.parent), "run_id" -> Json.str(runId),
        "start_s" -> Json.num(sec(s.start)), "end_s" -> Json.num(sec(s.end)),
        "self_s" -> Json.num(selfNanos(s) / 1e9),
        "attrs" -> Json.obj(s.attrs.toSeq.map { case (k, v) => k -> Json.num(v) }),
        "spark" -> Json.obj(s.spark.toSeq.map { case (k, v) => k -> Json.num(v) })))
    }
    Json.obj(Seq("run_id" -> Json.str(runId), "spans" -> items.mkString("[", ",", "]")))
  }
}

/** Just enough JSON writing for the result line and the side records. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"not a JSON number: $v")
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString
  }
  def num(v: Long): String = v.toString
  def num(v: Int): String = v.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}
