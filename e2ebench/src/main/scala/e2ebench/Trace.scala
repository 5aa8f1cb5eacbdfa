package e2ebench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** One timed region around a call into a layer. `parent` is -1 for a
  * pass root. Times are wall-clock milliseconds with a nanosecond
  * duration beside them, so task intervals (reported by Spark in
  * milliseconds) can be clipped to the span.
  */
final case class Span(id: Int, name: String, parent: Int, pass: Int,
    startMs: Long, var endMs: Long, startNs: Long, var endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark work attributed to one span: the jobs submitted while it was
  * the innermost open span, their completed stages and their tasks.
  */
final class SpanWork {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var recordsRead = 0L
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  def add(o: SpanWork): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleReadBytes += o.shuffleReadBytes
    shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; recordsRead += o.recordsRead
    taskIntervals ++= o.taskIntervals
  }
}

/** Span recorder plus a SparkListener that attributes jobs, stages and
  * tasks to the innermost open span through a job-local property. Spans
  * and counts stay in memory until [[Tracer.dump]].
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Span]
  private val work = mutable.HashMap.empty[Int, SpanWork]
  private val stageSpan = mutable.HashMap.empty[Int, Int]

  sc.addSparkListener(this)

  def detach(): Unit = sc.removeSparkListener(this)

  def span[T](name: String, pass: Int)(body: => T): T = {
    val s = Span(spans.size, name, open.headOption.fold(-1)(_.id), pass,
      System.currentTimeMillis(), 0L, System.nanoTime(), 0L)
    spans += s
    open = s :: open
    sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      open = open.tail
      sc.setLocalProperty(Tracer.SpanKey,
        open.headOption.map(_.id.toString).orNull)
    }
  }

  /** Runs `body` in a new span and returns the closed span. */
  def region(name: String, pass: Int)(body: => Unit): Span = {
    val id = spans.size
    span(name, pass)(body)
    spans(id)
  }

  private def workOf(id: Int): SpanWork = work.getOrElseUpdate(id, new SpanWork)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .foreach { id =>
        workOf(id.toInt).jobs += 1
        e.stageIds.foreach(st => stageSpan(st) = id.toInt)
      }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageSpan.get(e.stageInfo.stageId).foreach(workOf(_).stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (id <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
      val w = workOf(id)
      w.tasks += 1
      w.cpuNs += m.executorCpuTime
      w.gcMs += m.jvmGCTime
      w.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      w.spillBytes += m.diskBytesSpilled
      w.recordsRead += m.inputMetrics.recordsRead
      w.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    }
  }

  /** Waits until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.e2ebenchglue.ListenerBus.drain(sc)

  def all: Seq[Span] = spans.toSeq

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  /** The span's duration minus the part its children cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - children(s).map(_.seconds).sum

  /** Work of the span and all its descendants. */
  def subtree(s: Span): SpanWork = synchronized {
    val acc = new SpanWork
    def go(x: Span): Unit = {
      work.get(x.id).foreach(acc.add)
      children(x).foreach(go)
    }
    go(s)
    acc
  }

  /** Work of the given spans' subtrees, summed. */
  def work(ss: Seq[Span]): SpanWork = {
    val acc = new SpanWork
    ss.foreach(s => acc.add(subtree(s)))
    acc
  }

  /** Spans named `name` under the pass root `root`. */
  def named(root: Span, name: String): Seq[Span] = {
    def go(x: Span): Seq[Span] =
      (if (x.name == name) Seq(x) else Nil) ++ children(x).flatMap(go)
    go(root)
  }

  /** Seconds of `root` during which no task of its subtree ran. */
  def driverGapSeconds(root: Span): Double = {
    val iv = subtree(root).taskIntervals
      .map { case (a, b) => (math.max(a, root.startMs), math.min(b, root.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { busy += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    busy += curB - curA
    math.max(0.0, root.seconds - busy / 1000.0)
  }

  /** Spans as JSON lines: name, start, end, parent, pass id, self time. */
  def dump(out: java.io.File): Unit = {
    val w = new java.io.PrintWriter(out, "UTF-8")
    try spans.foreach { s =>
      w.println(Json.obj(Seq(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "pass" -> s.pass, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "seconds" -> s.seconds, "self_seconds" -> selfSeconds(s),
        "jobs" -> work.get(s.id).fold(0)(_.jobs),
        "tasks" -> work.get(s.id).fold(0)(_.tasks))))
    } finally w.close()
  }
}

object Tracer {
  val SpanKey = "e2ebench.span"
}
