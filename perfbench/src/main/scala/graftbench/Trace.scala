package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** One timed interval. Times are epoch microseconds so benchmark-side spans
  * and Spark listener events (epoch milliseconds) share one clock.
  */
final case class Span(op: String, id: Int, parent: Int, name: String, startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
}

/** Epoch-microsecond clock with nanoTime resolution. */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}

/** In-memory span recorder for the traced mode. */
final class Tracer {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var next = 0

  def newId(): Int = { next += 1; next }

  def add(id: Int, op: String, parent: Int, name: String, startUs: Long, endUs: Long): Unit =
    spans += Span(op, id, parent, name, startUs, endUs)

  /** Run `body` and record it as a child span of `parent`. */
  def time[T](op: String, parent: Int, name: String)(body: => T): T = {
    val id = newId()
    val s = Clock.nowUs
    try body finally add(id, op, parent, name, s, Clock.nowUs)
  }
}

final case class TaskRec(stage: Int, launchMs: Long, finishMs: Long, runMs: Long, cpuNs: Long,
                         inBytes: Long, inRecords: Long, shReadBytes: Long, shReadRecords: Long,
                         shWriteBytes: Long, spillBytes: Long, gcMs: Long)

final case class StageRec(id: Int, attempt: Int, job: Int, submitMs: Long, var doneMs: Long)

final case class JobRec(id: Int, startMs: Long, var endMs: Long)

/** Per-op Spark events. The op is read from a local property the harness
  * sets on the driver thread before each op; Spark copies local properties
  * to the jobs it starts, including broadcast and subquery jobs started
  * from its own threads. Stages and tasks inherit the op of their job.
  */
final class OpListener(key: String) extends SparkListener {
  val jobs = mutable.HashMap.empty[String, mutable.ArrayBuffer[JobRec]]
  val stages = mutable.HashMap.empty[String, mutable.ArrayBuffer[StageRec]]
  val tasks = mutable.HashMap.empty[String, mutable.ArrayBuffer[TaskRec]]
  private val stageOp = mutable.HashMap.empty[Int, (String, Int)]
  private val jobById = mutable.HashMap.empty[Int, JobRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(key))).foreach { op =>
      val j = JobRec(e.jobId, e.time, -1L)
      jobById(e.jobId) = j
      jobs.getOrElseUpdate(op, mutable.ArrayBuffer.empty) += j
      e.stageIds.foreach(s => if (!stageOp.contains(s)) stageOp(s) = (op, e.jobId))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobById.remove(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    stageOp.get(i.stageId).foreach { case (op, job) =>
      stages.getOrElseUpdate(op, mutable.ArrayBuffer.empty) +=
        StageRec(i.stageId, i.attemptNumber(), job, i.submissionTime.getOrElse(System.currentTimeMillis()), -1L)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stageOp.get(i.stageId).foreach { case (op, _) =>
      stages.get(op).foreach(_.find(s => s.id == i.stageId && s.attempt == i.attemptNumber())
        .foreach(_.doneMs = i.completionTime.getOrElse(System.currentTimeMillis())))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOp.get(e.stageId).foreach { case (op, _) =>
      val m = e.taskMetrics
      val info = e.taskInfo
      val rec = if (m == null)
        TaskRec(e.stageId, info.launchTime, info.finishTime, 0, 0, 0, 0, 0, 0, 0, 0, 0)
      else TaskRec(e.stageId, info.launchTime, info.finishTime, m.executorRunTime, m.executorCpuTime,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.recordsRead,
        m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled, m.jvmGCTime)
      tasks.getOrElseUpdate(op, mutable.ArrayBuffer.empty) += rec
    }
  }
}

object Intervals {

  /** Total length of the union of [start, end) intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- iv.sortBy(_._1)) {
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s
        curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
