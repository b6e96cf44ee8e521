package perfbench

import scala.collection.mutable

import org.apache.spark.SparkConf
import org.apache.spark.scheduler._

/** In-memory span and scheduler record for one traced benchmark run.
  *
  * Spans are opened by the harness around each `main` call (and the pass
  * that contains them); [[TraceListener]] attributes every job and task
  * to the span open when the event arrives. Each `main` stops its own
  * session, which drains the listener bus, so no event of one call can
  * land in the next call's span.
  */
object Trace {

  final case class Span(id: Int, parent: Int, name: String, startNs: Long, var endNs: Long = 0L)

  final case class Job(span: Int, startMs: Long, endMs: Long, ok: Boolean)

  final case class Task(span: Int, ms: Long, waitMs: Long, runMs: Long, cpuNs: Long,
      gcMs: Long, shuffleReadB: Long, shuffleWriteB: Long, spillB: Long, ok: Boolean)

  val spans = mutable.ArrayBuffer.empty[Span]
  val jobs = mutable.ArrayBuffer.empty[Job]
  val tasks = mutable.ArrayBuffer.empty[Task]
  var stages = 0
  @volatile private var open: List[Span] = Nil

  def current: Int = open.headOption.map(_.id).getOrElse(-1)

  def span[T](name: String)(body: => T): T = {
    val s = synchronized {
      val s = Span(spans.length, current, name, System.nanoTime())
      spans += s; open = s :: open; s
    }
    try body finally synchronized { s.endNs = System.nanoTime(); open = open.tail }
  }

  def clear(): Unit = synchronized { spans.clear(); jobs.clear(); tasks.clear(); stages = 0 }
}

/** Registered through `spark.extraListeners`, so every session a `main`
  * builds gets one without the program knowing.
  */
class TraceListener(conf: SparkConf) extends SparkListener {

  private val jobStart = mutable.Map.empty[Int, (Int, Long)]
  private val stageSubmit = mutable.Map.empty[Int, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobStart(e.jobId) = (Trace.current, e.time)

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobStart.remove(e.jobId).foreach { case (span, t0) =>
      val ok = e.jobResult == JobSucceeded
      Trace.synchronized { Trace.jobs += Trace.Job(span, t0, e.time, ok) }
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSubmit(e.stageInfo.stageId) =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Trace.synchronized { Trace.stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = Option(e.taskMetrics)
    val submitted = stageSubmit.getOrElse(e.stageId, i.launchTime)
    val t = Trace.Task(
      span = Trace.current,
      ms = i.finishTime - i.launchTime,
      waitMs = math.max(0L, i.launchTime - submitted),
      runMs = m.map(_.executorRunTime).getOrElse(0L),
      cpuNs = m.map(_.executorCpuTime).getOrElse(0L),
      gcMs = m.map(_.jvmGCTime).getOrElse(0L),
      shuffleReadB = m.map(x => x.shuffleReadMetrics.remoteBytesRead +
        x.shuffleReadMetrics.localBytesRead).getOrElse(0L),
      shuffleWriteB = m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      spillB = m.map(x => x.memoryBytesSpilled + x.diskBytesSpilled).getOrElse(0L),
      ok = i.successful)
    Trace.synchronized { Trace.tasks += t }
  }
}
