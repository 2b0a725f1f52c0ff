package perfbench

import scala.collection.concurrent.TrieMap
import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One clock for spans and Spark listener events: milliseconds since the
  * epoch with sub-millisecond resolution (listener events carry epoch ms). */
object Clock {
  private val anchorMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6
}

/** A recorded span: `parent` is -1 at the root; spans of one invocation or
  * request share `inv`. */
final case class Span(id: Int, parent: Int, name: String, inv: Int, startMs: Double, endMs: Double) {
  def wallMs: Double = endMs - startMs
}

/** Length of the union of intervals, each clipped to [lo, hi]. */
object Intervals {
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN; var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN) { curA = a; curB = b }
      else if (a <= curB) curB = math.max(curB, b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** A span's self time: its duration minus the part its children cover. */
  def selfMs(span: Span, children: Seq[Span]): Double =
    span.wallMs - covered(children.map(c => (c.startMs, c.endMs)), span.startMs, span.endMs)
}

/** In-memory span recorder. Disabled, `span` just runs its body. Enabled, it
  * also tags every Spark job the body submits (from this thread or from
  * threads it starts) with the span id through a local property, which the
  * [[JobListener]] reads back. */
final class Recorder(@volatile var enabled: Boolean) {
  private val spans = mutable.ArrayBuffer[Span]()
  private val current = new ThreadLocal[Integer] { override def initialValue(): Integer = -1 }
  private var nextId = 0

  def span[A](name: String, inv: Int)(body: => A): A =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent: Int = current.get
      val sc = SparkSession.getDefaultSession.map(_.sparkContext)
      val prevProp = sc.map(_.getLocalProperty(Recorder.Prop))
      sc.foreach(_.setLocalProperty(Recorder.Prop, id.toString))
      current.set(id)
      val start = Clock.nowMs
      try body
      finally {
        val end = Clock.nowMs
        current.set(parent)
        sc.foreach(_.setLocalProperty(Recorder.Prop, prevProp.orNull))
        synchronized { spans += Span(id, parent, name, inv, start, end) }
      }
    }

  def all: Seq[Span] = synchronized(spans.toList)
}

object Recorder { val Prop = "perfbench.span" }

/** Per-job Spark metrics, attributed to the span that submitted the job. */
final class JobStats(val jobId: Int, val span: Int, val startMs: Double) {
  @volatile var endMs: Double = Double.NaN
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var writtenBytes = 0L
  var writtenRows = 0L
}

/** The one SparkListener: keeps every job's metrics in memory until the
  * benchmark reports. */
final class JobListener extends SparkListener {
  private val jobs = TrieMap[Int, JobStats]()
  private val stageJob = TrieMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Recorder.Prop)))
      .map(_.toInt).getOrElse(-1)
    jobs.put(e.jobId, new JobStats(e.jobId, span, e.time.toDouble))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.get(e.jobId).foreach(_.endMs = e.time.toDouble)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.synchronized {
        j.tasks += 1
        if (m != null) {
          j.runMs += m.executorRunTime
          j.cpuNs += m.executorCpuTime
          j.gcMs += m.jvmGCTime
          j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead
          j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          j.writtenBytes += m.outputMetrics.bytesWritten
          j.writtenRows += m.outputMetrics.recordsWritten
        }
      }
    }
  }

  def all: Seq[JobStats] = jobs.values.toSeq.sortBy(_.jobId)
}
