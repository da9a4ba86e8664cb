package perfbench

import org.apache.spark.scheduler._

import scala.collection.mutable

/** One timed call into a layer. `parent` is the span that was open on the
  * calling thread (-1 for none); spans of one request share `request`. */
final case class Span(id: Int, name: String, parent: Int, request: Int,
    startNs: Long, var endNs: Long = -1L)

/** Work Spark did on behalf of spans with one name. */
final case class LayerCounts(var jobs: Int = 0, var stages: Int = 0, var tasks: Long = 0,
    var shuffleReadBytes: Long = 0, var shuffleWriteBytes: Long = 0, var spillBytes: Long = 0,
    var resultBytes: Long = 0, var peakExecMemBytes: Long = 0, var recordsRead: Long = 0,
    var busyMs: Long = 0)

/** Per-layer totals over all spans with one name. `selfS` is each span's
  * duration minus the part of it its child spans cover. */
final case class LayerStats(name: String, spans: Int, wallS: Double, selfS: Double,
    counts: LayerCounts) {
  def gapS: Double = math.max(0.0, wallS - counts.busyMs / 1e3)
}

/** Spans recorded around the benchmark's own calls into each layer, plus a
  * SparkListener that charges every Spark job, and its stages' tasks, to
  * the span open on the thread that submitted it. The span id travels as a
  * Spark local property; Spark copies local properties into threads that a
  * span's thread starts, so jobs from the program's worker pools keep
  * their attribution. Jobs submitted outside any span are charged to
  * "unattributed".
  *
  * `setLocalProperty` is the current SparkContext's setter; tests feed
  * listener events directly and pass a no-op. */
final class Tracer(setLocalProperty: (String, String) => Unit) extends SparkListener {
  import Tracer._

  private final class JobRec(val span: Int, val startMs: Long) { var endMs: Long = -1L }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val stageTasks = mutable.HashMap.empty[Int, LayerCounts]
  private val open = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }

  def span[A](name: String, request: Int, parent: Option[Int] = None)(body: => A): A = {
    val p = parent.getOrElse(open.get.headOption.getOrElse(-1))
    val s = synchronized {
      val s = Span(spans.size, name, p, request, System.nanoTime())
      spans += s
      s
    }
    val saved = open.get
    open.set(s.id :: saved)
    setLocalProperty(SpanKey, s.id.toString)
    try body
    finally {
      synchronized { s.endNs = System.nanoTime() }
      open.set(saved)
      setLocalProperty(SpanKey, saved.headOption.map(_.toString).orNull)
    }
  }

  /** The innermost span open on this thread, for handing to worker threads. */
  def current: Option[Int] = open.get.headOption

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      .map(_.toInt).getOrElse(-1)
    jobs(e.jobId) = new JobRec(span, e.time)
    e.stageIds.foreach(stageSpan(_) = span)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageTasks.getOrElseUpdate(e.stageInfo.stageId, LayerCounts()).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = stageTasks.getOrElseUpdate(e.stageId, LayerCounts())
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.resultBytes += m.resultSize
      c.peakExecMemBytes = math.max(c.peakExecMemBytes, m.peakExecutionMemory)
      c.recordsRead += m.inputMetrics.recordsRead
    }
  }

  /** Jobs that started but never received an end event. */
  def unfinishedJobs: Int = synchronized(jobs.values.count(_.endMs < 0))

  def jobCount: Int = synchronized(jobs.size)

  def allSpans: Seq[Span] = synchronized(spans.toList)

  /** Totals per span name; jobs outside any span appear as "unattributed". */
  def layers: Seq[LayerStats] = synchronized {
    val names = spans.map(s => s.id -> s.name).toMap.withDefaultValue(Unattributed)
    val children = spans.groupBy(_.parent)
    def durNs(s: Span) = (if (s.endNs < 0) System.nanoTime() else s.endNs) - s.startNs
    val counts = mutable.LinkedHashMap.empty[String, LayerCounts]
    def countsOf(name: String) = counts.getOrElseUpdate(name, LayerCounts())
    for ((_, j) <- jobs) countsOf(names(j.span)).jobs += 1
    for ((stage, t) <- stageTasks) {
      val c = countsOf(names(stageSpan.getOrElse(stage, -1)))
      c.stages += t.stages
      c.tasks += t.tasks
      c.shuffleReadBytes += t.shuffleReadBytes
      c.shuffleWriteBytes += t.shuffleWriteBytes
      c.spillBytes += t.spillBytes
      c.resultBytes += t.resultBytes
      c.peakExecMemBytes = math.max(c.peakExecMemBytes, t.peakExecMemBytes)
      c.recordsRead += t.recordsRead
    }
    jobs.values.groupBy(j => names(j.span)).foreach { case (name, js) =>
      countsOf(name).busyMs = Stats.mergedLength(js.toSeq.filter(_.endMs >= 0).map(j => (j.startMs, j.endMs)))
    }
    val byName = spans.groupBy(_.name)
    (byName.keys ++ counts.keys).toSeq.distinct.sorted.map { name =>
      val ss = byName.getOrElse(name, Seq.empty)
      val wall = ss.map(durNs).sum[Long]
      val self = ss.map { s =>
        val end = s.startNs + durNs(s)
        val covered = Stats.mergedLength(children.getOrElse(s.id, Seq.empty).toSeq
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.startNs + durNs(c), end))))
        durNs(s) - covered
      }.sum[Long]
      LayerStats(name, ss.size, wall / 1e9, self / 1e9, countsOf(name))
    }
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  val Unattributed = "unattributed"
}
