package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Per-job and per-task execution statistics, collected by a listener
  * the benchmark registers on its own session. Jobs are attributed
  * afterwards to the span open when they started: one client thread
  * issues requests, so a job that starts inside a request's interval
  * belongs to it, including jobs launched from `CacheScope.pool`
  * threads. Events are recorded only while `on` is set. */
class Probe extends SparkListener {
  import Probe.Job

  @volatile var on = false

  /** One stage's tasks: durations (ms) and summed metrics. */
  final class StageStats {
    val durations = mutable.ArrayBuffer.empty[Long]
    var runMs, cpuNs, gcMs, resultBytes, shuffleWrite, shuffleRead, spill,
      inputBytes, inputRows = 0L
  }

  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val byId = mutable.Map.empty[Int, Job]
  private val stageStats = mutable.Map.empty[Int, StageStats]

  override def onJobStart(e: SparkListenerJobStart): Unit = if (on) synchronized {
    val j = Job(e.jobId, e.time, e.stageIds)
    jobs += j; byId(e.jobId) = j
    e.stageIds.foreach(s => stageStats.getOrElseUpdate(s, new StageStats))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    byId.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageStats.get(e.stageId).foreach { s =>
      s.durations += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.resultBytes += m.resultSize
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.inputBytes += m.inputMetrics.bytesRead
        s.inputRows += m.inputMetrics.recordsRead
      }
    }
  }

  /** Jobs that started in [from, to] (epoch ms), oldest first. */
  def jobsIn(from: Long, to: Long): Seq[Job] = synchronized {
    jobs.filter(j => j.start >= from && j.start <= to).toSeq
  }

  def stats(stage: Int): Option[StageStats] = synchronized(stageStats.get(stage))

  /** Forget everything recorded so far. */
  def clear(): Unit = synchronized { jobs.clear(); byId.clear(); stageStats.clear() }
}

object Probe {
  /** A job's start and end (epoch ms; end is -1 while running). */
  final case class Job(id: Int, start: Long, stages: Seq[Int]) { var end: Long = -1 }
}

/** A timed interval of one request; `parent` is -1 for the request
  * root. Times are epoch milliseconds, the clock Spark stamps job
  * events with. */
final case class Span(id: Int, parent: Int, request: Int, name: String,
                      start: Long, end: Long) {
  def dur: Long = end - start
}

/** In-memory span log, written out when the run ends. */
final class Trace {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var next = 0

  def add(parent: Int, request: Int, name: String, start: Long, end: Long): Span = {
    val s = Span(next, parent, request, name, start, end)
    next += 1; spans += s; s
  }

  /** A span's duration minus the part its children cover. */
  def selfTime(s: Span): Long =
    s.dur - Stats.coveredWithin(
      spans.filter(_.parent == s.id).map(c => (c.start, c.end)).toSeq, s.start, s.end)

  def writeJson(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.foreach { s =>
      sb ++= s"""{"id":${s.id},"parent":${s.parent},"request":${s.request},""" +
        s""""name":"${s.name}","start_ms":${s.start},"end_ms":${s.end}}""" + "\n"
    }
    java.nio.file.Files.writeString(path, sb.toString)
  }
}
