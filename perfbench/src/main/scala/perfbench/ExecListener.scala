package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.PerfbenchAccess
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Spark execution totals for one span of one statement. */
final class SpanTotals {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskCpuNs = 0L
  var taskRunMs = 0L
  var shuffleReadB = 0L
  var shuffleWriteB = 0L
  var spillB = 0L
  var gcMs = 0L
  var taskWaitMs = 0L
  /** (start, end) epoch millis of every job, for gap accounting. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  /** Catalyst phase times of every SQL execution that ran a job. */
  val phasesMs = mutable.Map.empty[String, Long]
}

/** Collects job, stage and task events and files them under the span
  * key (`ExecListener.KeyProp`) the submitting thread had set when the
  * job started. Registered only in traced passes. */
final class ExecListener extends SparkListener {
  private val totals = new ConcurrentHashMap[String, SpanTotals]()
  private val stageKey = new ConcurrentHashMap[Int, String]()
  private val stageSubmitted = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobKey = new ConcurrentHashMap[Int, (String, Long)]()
  private val executionKey = new ConcurrentHashMap[Long, String]()

  private def of(key: String): SpanTotals =
    totals.computeIfAbsent(key, _ => new SpanTotals)

  def get(key: String): Option[SpanTotals] = Option(totals.get(key))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val key = Option(e.properties)
      .flatMap(p => Option(p.getProperty(ExecListener.KeyProp)))
      .getOrElse("untracked")
    jobKey.put(e.jobId, (key, e.time))
    Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(id => executionKey.put(id.toLong, key))
    e.stageIds.foreach(stageKey.put(_, key))
    of(key).synchronized { of(key).jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobKey.remove(e.jobId)).foreach { case (key, t0) =>
      val s = of(key)
      s.synchronized { s.jobIntervals += ((t0, e.time)) }
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val id = e.stageInfo.stageId
    e.stageInfo.submissionTime.foreach(t => stageSubmitted.put(id, t))
    Option(stageKey.get(id)).foreach { key =>
      val s = of(key)
      s.synchronized { s.stages += 1 }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd =>
      for (qe <- PerfbenchAccess.queryExecution(end);
           key <- Option(executionKey.remove(end.executionId))) {
        val s = of(key)
        val phases = qe.tracker.phases
        s.synchronized {
          phases.foreach { case (k, v) =>
            s.phasesMs(k) = s.phasesMs.getOrElse(k, 0L) + v.durationMs }
        }
      }
    case _ =>
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageKey.get(e.stageId)).foreach { key =>
      val s = of(key)
      val m = Option(e.taskMetrics)
      val submitted = Option(stageSubmitted.get(e.stageId)).map(_.longValue)
      s.synchronized {
        s.tasks += 1
        m.foreach { m =>
          s.taskCpuNs += m.executorCpuTime
          s.taskRunMs += m.executorRunTime
          s.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
          s.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
          s.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
          s.gcMs += m.jvmGCTime
        }
        submitted.foreach(t =>
          s.taskWaitMs += math.max(0L, e.taskInfo.launchTime - t))
      }
    }
}

object ExecListener {
  val KeyProp = "perfbench.span"

  /** Length of the part of [lo, hi] that the intervals cover. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0L
    var curA = -1L
    var curB = -1L
    for ((a, b) <- clipped) {
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}
