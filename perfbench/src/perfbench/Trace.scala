package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** One timed call into a layer: `parent` is the id of the span that was
  * open when it started (-1 at the top). */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder for the benchmark's own calls into each
  * layer. Disabled, it only runs the body, so untraced runs pay nothing.
  * Spans are kept until the run ends and then written out in one go. */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var next = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = synchronized { next += 1; open = next :: open; next }
      val parent = synchronized(open.tail.headOption.getOrElse(-1))
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        synchronized {
          spans += Span(id, name, parent, t0, t1)
          open = open.filterNot(_ == id)
        }
      }
    }

  def all: Seq[Span] = synchronized(spans.toList)
  def seconds(name: String): Seq[Double] = all.filter(_.name == name).map(_.seconds)
  def total(name: String): Double = seconds(name).sum

  /** Self time: the span's duration minus the part its children cover. */
  def selfSeconds(s: Span): Double = {
    val kids = all.filter(_.parent == s.id).map(_.seconds).sum
    s.seconds - kids
  }

  def toRows: Seq[Map[String, Any]] = all.sortBy(_.startNs).map { s =>
    Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs, "self_s" -> selfSeconds(s))
  }
}

/** Engine counts per job. Stages map to jobs exactly through
  * `SparkListenerJobStart.stageInfos` (the first job that lists a stage
  * owns it), so tasks of two jobs that overlap in time, e.g. jobs
  * submitted from two threads at once, are never mixed up. */
final class EngineListener extends SparkListener {
  final class Job(val id: Int, val startMs: Long, val group: String) {
    var endMs: Long = -1L
    var stages = 0
    var tasks = 0
    var failedTasks = 0
    var busyMs = 0L
    var inputBytes = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var outputBytes = 0L
    var peakTaskMem = 0L
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageOwner = mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobs(e.jobId) = new Job(e.jobId, e.time, group.getOrElse(""))
    e.stageInfos.foreach(s => stageOwner.getOrElseUpdate(s.stageId, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    owner(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    owner(e.stageId).foreach { j =>
      j.tasks += 1
      if (!e.taskInfo.successful) j.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.busyMs += m.executorRunTime
        j.inputBytes += m.inputMetrics.bytesRead
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.outputBytes += m.outputMetrics.bytesWritten
        j.peakTaskMem = math.max(j.peakTaskMem, m.peakExecutionMemory)
      }
    }
  }

  private def owner(stageId: Int): Option[Job] = stageOwner.get(stageId).flatMap(jobs.get)

  def snapshot: Seq[Job] = synchronized(jobs.values.toList)
}

object EngineListener {
  /** Wall milliseconds inside [fromMs, toMs] during which no job ran. */
  def idleMs(jobs: Seq[EngineListener#Job], fromMs: Long, toMs: Long): Long = {
    val spans = jobs.map(j => (math.max(j.startMs, fromMs),
      math.min(if (j.endMs < 0) toMs else j.endMs, toMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    spans.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    (toMs - fromMs) - covered
  }
}
