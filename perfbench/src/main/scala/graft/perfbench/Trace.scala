package graft.perfbench

import org.apache.spark.scheduler._
import scala.collection.mutable

/** One timed interval of one operation. `parent` is the id of the span
  * that caused it (-1 for the operation's root span); times are
  * `System.nanoTime`. */
final case class Span(op: Int, id: Int, parent: Int, name: String,
    startNs: Long, endNs: Long) {
  def json: String =
    s"""{"op":$op,"id":$id,"parent":$parent,"name":"$name","start_ns":$startNs,"end_ns":$endNs}"""
}

object Span {
  /** Self time of each span: its duration minus the part of it that its
    * child spans cover (children clipped to the parent, overlaps merged). */
  def selfTimes(spans: Seq[Span]): Seq[(Span, Long)] = {
    val children = spans.groupBy(s => (s.op, s.parent))
    spans.map { s =>
      val covered = union(children.getOrElse((s.op, s.id), Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
      s -> math.max(0L, (s.endNs - s.startNs) - covered)
    }
  }

  /** Total length of the union of closed intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) {
        if (curE > curS) total += curE - curS
        curS = a; curE = b
      } else if (b > curE) curE = b
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Spark-side work of one operation, summed from listener events. */
final class ExecCounts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var taskCpuMs = 0.0
  var taskWaitMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  /** (start, end) of each job, epoch milliseconds. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Collects job, stage and task events into the current operation's
  * [[ExecCounts]]. Events arrive on Spark's listener thread; the client
  * drains the bus before reading, so an operation sees all of its own
  * events and none of the next one's. */
final class ExecListener extends SparkListener {
  @volatile private var cur = new ExecCounts
  private val jobStart = mutable.Map.empty[Int, Long]
  private val stageSubmit = mutable.Map.empty[Int, Long]

  def reset(): Unit = synchronized { cur = new ExecCounts }
  def counts: ExecCounts = cur

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
    cur.jobs += 1
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => cur.jobIntervals += ((s, e.time)))
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    cur.stages += 1
    stageSubmit(e.stageInfo.stageId) =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageSubmit.remove(e.stageInfo.stageId)
  }
  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    stageSubmit.get(e.stageId).foreach(s =>
      cur.taskWaitMs += math.max(0L, e.taskInfo.launchTime - s))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    cur.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      cur.taskRunMs += m.executorRunTime
      cur.taskCpuMs += m.executorCpuTime / 1e6
      cur.gcMs += m.jvmGCTime
      cur.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      cur.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      cur.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
}
