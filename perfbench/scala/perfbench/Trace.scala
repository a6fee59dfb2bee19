package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._

/** One timed interval of driver wall time. Spans nest: an operation span
  * holds a `build` span (the transform call, with one child per pipeline
  * `Stage`) and an `exec` span (the write of the returned plan). Test-kit
  * operations are cut into consecutive segments instead (see [[Tracer.segment]]).
  */
final class Span(val id: Int, val parent: Int, val name: String,
                 val startNs: Long, val segment: Boolean) {
  var endNs: Long = -1L
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Disabled, it runs the body and records nothing,
  * so an untraced operation pays no tracing cost.
  */
final class Tracer {
  var enabled = false
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  private def open(name: String, segment: Boolean): Span = {
    val s = new Span(spans.size, stack.headOption.fold(-1)(_.id), name,
      System.nanoTime(), segment)
    spans += s
    stack = s :: stack
    s
  }

  private def closeSegments(): Unit =
    while (stack.nonEmpty && stack.head.segment) {
      stack.head.endNs = System.nanoTime()
      stack = stack.tail
    }

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = open(name, segment = false)
      try body
      finally {
        closeSegments()
        s.endNs = System.nanoTime()
        stack = stack.tail
      }
    }

  /** End the open segment of the current span, if any, and start the next
    * one. Used where the benchmark only sees the boundaries of a call
    * sequence it does not own (the phases inside `DataTestCase.test`).
    */
  def segment(name: String): Unit =
    if (enabled) { closeSegments(); open(name, segment = true) }

  def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq

  def subtree(id: Int): Seq[Span] = {
    val kids = children(id)
    spans(id) +: kids.flatMap(k => subtree(k.id))
  }

  def selfSeconds(s: Span): Double = s.seconds - children(s.id).map(_.seconds).sum
}

final case class JobRec(id: Int, startMs: Long, var endMs: Long)
final case class StageRec(submitMs: Long, tasks: Int)
final case class TaskRec(launchMs: Long, durationMs: Long, runMs: Long,
                         cpuNs: Long, gcMs: Long, shuffleWrite: Long,
                         inputBytes: Long, spill: Long)

/** Spark listener that keeps raw job/stage/task events in memory. Events
  * are attributed to spans afterwards by time interval: operations run one
  * at a time, so the span open at an event's time is the one that caused it.
  */
final class Recorder extends SparkListener {
  val jobs = ArrayBuffer.empty[JobRec]
  val stages = ArrayBuffer.empty[StageRec]
  val tasks = ArrayBuffer.empty[TaskRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += JobRec(e.jobId, e.time, -1L)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      stages += StageRec(i.submissionTime.getOrElse(-1L), i.numTasks)
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null) tasks += TaskRec(info.launchTime, info.duration,
      m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.bytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  def clear(): Unit = synchronized { jobs.clear(); stages.clear(); tasks.clear() }
}

/** Per-span counters after attributing the recorder's events. */
final class Counters {
  var jobs = 0; var stages = 0; var tasks = 0
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var overheadMs = 0L
  var shuffleWrite = 0L; var input = 0L; var spill = 0L
  val jobIntervals = ArrayBuffer.empty[(Long, Long)]

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    overheadMs += o.overheadMs; shuffleWrite += o.shuffleWrite
    input += o.input; spill += o.spill; jobIntervals ++= o.jobIntervals
  }

  /** Milliseconds covered by at least one running job. */
  def jobBusyMs: Long = {
    var busy = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    jobIntervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { busy += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    busy + (curE - curS)
  }
}

object Attribution {

  /** Attribute every event to the latest-starting span whose interval holds
    * the event time; returns counters per span id plus the number of events
    * no span held. `baseNs`/`baseMs` pair the span clock (nanoTime) with the
    * listener clock (epoch milliseconds).
    */
  def attribute(tr: Tracer, spanIds: Seq[Int], rec: Recorder,
                baseNs: Long, baseMs: Long): (Map[Int, Counters], Int) = {
    def ms(ns: Long): Double = baseMs + (ns - baseNs) / 1e6
    val windows = spanIds.map(tr.spans(_))
      .map(s => (s.id, math.floor(ms(s.startNs)), math.ceil(ms(s.endNs))))
      .sortBy(_._2)
    val out = spanIds.map(_ -> new Counters).toMap
    var lost = 0
    def owner(t: Long): Option[Counters] = {
      val hit = windows.filter { case (_, s, e) => s <= t && t <= e }
      if (hit.isEmpty) { lost += 1; None } else Some(out(hit.maxBy(_._2)._1))
    }
    rec.synchronized {
      rec.jobs.foreach { j =>
        owner(j.startMs).foreach { c =>
          c.jobs += 1
          c.jobIntervals += ((j.startMs, math.max(j.endMs, j.startMs)))
        }
      }
      rec.stages.foreach(s => owner(s.submitMs).foreach(_.stages += 1))
      rec.tasks.foreach { t =>
        owner(t.launchMs).foreach { c =>
          c.tasks += 1; c.runMs += t.runMs; c.cpuNs += t.cpuNs
          c.gcMs += t.gcMs; c.overheadMs += math.max(0L, t.durationMs - t.runMs)
          c.shuffleWrite += t.shuffleWrite; c.input += t.inputBytes
          c.spill += t.spill
        }
      }
    }
    (out, lost)
  }
}
