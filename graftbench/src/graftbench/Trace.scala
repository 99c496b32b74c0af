package graftbench

import java.util.Properties

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval at a layer boundary. Times are nanoseconds since
  * the tracer's origin; `parent` is -1 for a root span. */
final case class Span(id: Int, name: String, start: Long, end: Long, parent: Int, op: Int) {
  def layer: String = name.takeWhile(_ != '.')
  def dur: Long = end - start
}

/** Spans recorded from the benchmark's side of each layer boundary, kept
  * in memory and written out when the run ends. The benchmark loop is single
  * threaded, so the open-span stack needs no locking; Spark jobs join the
  * tree through the `graftbench.span` local property, which Spark copies
  * into every job submitted while the span is open. */
final class Tracer(sc: SparkContext) {
  private val originMs = System.currentTimeMillis()
  private val originNs = System.nanoTime()
  private var nextId = 0
  private var stack: List[Int] = Nil
  private val buf = mutable.ArrayBuffer.empty[Span]
  @volatile var enabled = false

  def now: Long = System.nanoTime() - originNs
  def fromEpochMs(ms: Long): Long = (ms - originMs) * 1000000L

  def spans: Seq[Span] = buf.synchronized(buf.toList)
  def clear(): Unit = buf.synchronized(buf.clear())

  def add(s: Span): Unit = buf.synchronized(buf += s)
  def newId(): Int = synchronized { nextId += 1; nextId }

  /** Runs `body` inside a span named `<layer>.<what>`. */
  def span[T](name: String, op: Int = -1)(body: => T): T =
    if (!enabled) body
    else {
      val id = newId()
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      sc.setLocalProperty(Tracer.SpanKey, id.toString)
      sc.setLocalProperty(Tracer.OpKey, op.toString)
      val t0 = now
      try body
      finally {
        add(Span(id, name, t0, now, parent, op))
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanKey, stack.headOption.map(_.toString).orNull)
      }
    }
}

object Tracer {
  val SpanKey = "graftbench.span"
  val OpKey = "graftbench.op"

  /** Self time per layer: the time covered by the layer's spans minus the
    * part of it covered by their children in other layers. Intervals are
    * merged first, so concurrent spans (such as Spark jobs that run side by
    * side) are not counted twice. */
  def selfTimes(spans: Seq[Span]): Map[String, Long] = {
    val byId = spans.map(s => s.id -> s).toMap
    spans.groupBy(_.layer).map { case (layer, own) =>
      val kids = spans.filter(k => k.layer != layer && byId.get(k.parent).exists(_.layer == layer))
      val ownIv = merge(own.map(s => (s.start, s.end)))
      val kidIv = merge(kids.map(k => (k.start, k.end)))
      layer -> (length(ownIv) - length(intersect(ownIv, kidIv)))
    }
  }

  private def merge(iv: Seq[(Long, Long)]): List[(Long, Long)] =
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((pa, pb) :: rest, (a, b)) if a <= pb => (pa, math.max(pb, b)) :: rest
      case (acc, x) => x :: acc
    }.reverse

  private def length(iv: Seq[(Long, Long)]): Long = iv.map { case (a, b) => b - a }.sum

  /** Intersection of two merged, sorted interval lists. */
  private def intersect(x: List[(Long, Long)], y: List[(Long, Long)]): List[(Long, Long)] =
    (x, y) match {
      case ((a1, b1) :: xs, (a2, b2) :: ys) =>
        val lo = math.max(a1, a2); val hi = math.min(b1, b2)
        val rest = if (b1 < b2) intersect(xs, y) else intersect(x, ys)
        if (hi > lo) (lo, hi) :: rest else rest
      case _ => Nil
    }
}

/** Counters of one Spark job, filled by [[JobListener]]. */
final class JobStat(val jobId: Int, val span: Int, val op: Int, val callSite: String,
                    val startMs: Long) {
  var endMs: Long = -1L
  var stages = 0
  var tasks = 0
  var failedTasks = 0
  var runMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var recordsRead = 0L

  /** Build-side materializations: `localCheckpoint at …` / `checkpoint at …`. */
  def isCheckpoint: Boolean = callSite.startsWith("localCheckpoint") || callSite.startsWith("checkpoint")
}

/** Attributes each job, stage and task to the span that submitted it. */
final class JobListener extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobStat]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  private def prop(p: Properties, k: String): Int =
    Option(p).flatMap(x => Option(x.getProperty(k))).flatMap(_.toIntOption).getOrElse(-1)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val site = Option(e.properties).flatMap(p => Option(p.getProperty("callSite.short")))
      .orElse(e.stageInfos.sortBy(-_.stageId).headOption.map(_.name))
      .getOrElse("")
    jobs(e.jobId) = new JobStat(e.jobId, prop(e.properties, Tracer.SpanKey),
      prop(e.properties, Tracer.OpKey), site, e.time)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.tasks += 1
      if (e.reason != org.apache.spark.Success) j.failedTasks += 1
      Option(e.taskMetrics).foreach { m =>
        j.runMs += m.executorRunTime
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.diskBytesSpilled
        j.recordsRead += m.inputMetrics.recordsRead
      }
    }
  }

  def drain(): Seq[JobStat] = synchronized {
    val out = jobs.values.toList
    jobs.clear(); stageJob.clear()
    out
  }
}
