package perfbench

import scala.collection.mutable

import org.apache.spark.{Success, SparkContext}
import org.apache.spark.scheduler._

/** Spans and Spark job metrics for the traced run, kept in memory and
  * written when the run ends.
  *
  * A span is opened around each call into a layer of the program. The
  * span id travels to Spark as a local property, so every job the call
  * submits (on this thread, or on threads it starts) is attributed to the
  * innermost open span. Task metrics roll up job -> span. */
final class Recorder(sc: SparkContext) extends SparkListener {
  import Recorder._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = new ThreadLocal[List[Int]] { override def initialValue() = Nil }
  private val jobSpan = mutable.Map.empty[Int, Int]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val perSpan = mutable.Map.empty[Int, Counters]

  sc.addSparkListener(this)

  /** Run `body` inside a span named `name`; returns its result. */
  def span[T](name: String)(body: => T): T = {
    val parent = open.get.headOption.getOrElse(-1)
    val s = synchronized {
      val s = Span(spans.size, name, parent, System.nanoTime(), 0L,
        System.currentTimeMillis(), 0L)
      spans += s
      s
    }
    val prevProp = sc.getLocalProperty(SpanProperty)
    val prevDesc = sc.getLocalProperty("spark.job.description")
    open.set(s.id :: open.get)
    sc.setLocalProperty(SpanProperty, s.id.toString)
    sc.setJobDescription(s"perfbench:$name")
    try body
    finally {
      s.end = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      open.set(open.get.tail)
      sc.setLocalProperty(SpanProperty, prevProp)
      sc.setJobDescription(prevDesc)
    }
  }

  /** Spans and their counters, after every pending listener event landed. */
  def finish(): Seq[(Span, Counters)] = {
    org.apache.spark.PerfbenchBridge.drainListeners(sc)
    sc.removeSparkListener(this)
    synchronized {
      spans.toSeq.map(s => s -> perSpan.getOrElse(s.id, new Counters))
    }
  }

  private def counters(span: Int): Counters = perSpan.getOrElseUpdate(span, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty)))
      .map(_.toInt).getOrElse(-1)
    jobSpan(e.jobId) = span
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(stageSpan(_) = span)
    counters(span).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val span = jobSpan.getOrElse(e.jobId, -1)
    jobStart.remove(e.jobId).foreach(t0 => counters(span).jobIntervals += ((t0, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    counters(stageSpan.getOrElse(e.stageInfo.stageId, -1)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counters(stageSpan.getOrElse(e.stageId, -1))
    c.tasks += 1
    if (e.reason != Success) c.taskFailures += 1
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null) {
      c.executorRunMs += m.executorRunTime
      c.executorCpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.outputBytes += m.outputMetrics.bytesWritten
      if (info != null && info.finishTime > 0) {
        val busy = m.executorRunTime + m.executorDeserializeTime +
          m.resultSerializationTime + info.gettingResultTime
        c.schedulerDelayMs += math.max(0L, info.duration - busy)
      }
    }
  }
}

object Recorder {
  val SpanProperty = "perfbench.span"

  /** `start`/`end` are monotonic nanos for durations; `startMs`/`endMs`
    * are wall-clock millis, the clock of Spark's job events. */
  final case class Span(id: Int, name: String, parent: Int,
                        start: Long, var end: Long,
                        startMs: Long, var endMs: Long) {
    def seconds: Double = (end - start) / 1e9
  }

  final class Counters {
    var jobs, stages, tasks, taskFailures = 0L
    var executorRunMs, executorCpuNs, gcMs, schedulerDelayMs = 0L
    var shuffleReadBytes, shuffleWriteBytes, spillBytes, outputBytes = 0L
    val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

    def add(o: Counters): Unit = {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks
      taskFailures += o.taskFailures
      executorRunMs += o.executorRunMs; executorCpuNs += o.executorCpuNs
      gcMs += o.gcMs; schedulerDelayMs += o.schedulerDelayMs
      shuffleReadBytes += o.shuffleReadBytes
      shuffleWriteBytes += o.shuffleWriteBytes
      spillBytes += o.spillBytes; outputBytes += o.outputBytes
      jobIntervals ++= o.jobIntervals
    }
  }

  /** Length of the union of [start, end) intervals, in the intervals' unit. */
  def covered(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Per-span views over a finished recording. */
final class Trace(recorded: Seq[(Recorder.Span, Recorder.Counters)]) {
  import Recorder._

  private val byId = recorded.map { case (s, c) => s.id -> ((s, c)) }.toMap
  private val children = recorded.map(_._1).groupBy(_.parent)

  def spans: Seq[Span] = recorded.map(_._1)

  def counters(s: Span): Counters = byId(s.id)._2

  /** Span wall time minus the part of it its child spans cover. */
  def selfSeconds(s: Span): Double = {
    val kids = children.getOrElse(s.id, Nil).map(k => (k.start, k.end))
    (s.end - s.start - covered(kids)) / 1e9
  }

  /** Counters of `s` and all spans below it. */
  def subtree(s: Span): Counters = {
    val total = new Counters
    def walk(x: Span): Unit = {
      total.add(counters(x))
      children.getOrElse(x.id, Nil).foreach(walk)
    }
    walk(s)
    total
  }

  /** Span wall time during which no Spark job of the span (or below) ran:
    * driver-side planning, collection and scheduling between jobs. */
  def driverGapSeconds(s: Span): Double = {
    val ms = covered(subtree(s).jobIntervals.toSeq
      .map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter { case (a, b) => b > a })
    math.max(0.0, s.seconds - ms / 1000.0)
  }
}
