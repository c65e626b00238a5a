package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import scala.collection.mutable

/** Task counters summed over a set of tasks. */
final class TaskStats {
  var tasks = 0L
  var failedTasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var shuffleReadBytes = 0L
  var shuffleReadRecords = 0L
  var spillBytes = 0L
  var schedDelayMs = 0L
  // launch time minus stage submission time: how long a task waited for a core
  var slotWaitMs = 0L
  var peakExecMem = 0L
  val durationsMs = mutable.ArrayBuffer.empty[Long]

  /** Longest task over the median task (0 without tasks). */
  def skew: Double =
    if (durationsMs.isEmpty) 0.0
    else {
      val s = durationsMs.sorted
      s.last.toDouble / math.max(s(s.size / 2), 1L)
    }

  def gcShare: Double = if (runMs > 0) gcMs.toDouble / runMs else 0.0
}

/** SparkListener that sums task metrics twice: per job group (the benchmark
  * sets the group to the span name before each traced span) and over the whole
  * run, which also feeds the untraced end-to-end metrics.
  */
final class Collector extends SparkListener {
  private val stageGroup = mutable.Map.empty[(Int, Int), String]
  private val stageSubmitted = mutable.Map.empty[(Int, Int), Long]
  private val groups = mutable.Map.empty[String, TaskStats]
  private var total = new TaskStats

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val key = (e.stageInfo.stageId, e.stageInfo.attemptNumber())
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    group.foreach(g => stageGroup(key) = g)
    stageSubmitted(key) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val key = (e.stageId, e.stageAttemptId)
    val targets = total +: stageGroup.get(key).map(g => groups.getOrElseUpdate(g, new TaskStats)).toSeq
    val info = e.taskInfo
    val m = Option(e.taskMetrics)
    targets.foreach { t =>
      t.tasks += 1
      if (info.failed || info.killed) t.failedTasks += 1
      t.durationsMs += info.duration
      stageSubmitted.get(key).foreach(s => t.slotWaitMs += math.max(0L, info.launchTime - s))
      m.foreach { tm =>
        t.runMs += tm.executorRunTime
        t.cpuNs += tm.executorCpuTime
        t.gcMs += tm.jvmGCTime
        t.shuffleWriteBytes += tm.shuffleWriteMetrics.bytesWritten
        t.shuffleWriteRecords += tm.shuffleWriteMetrics.recordsWritten
        t.shuffleReadBytes += tm.shuffleReadMetrics.totalBytesRead
        t.shuffleReadRecords += tm.shuffleReadMetrics.recordsRead
        t.spillBytes += tm.memoryBytesSpilled + tm.diskBytesSpilled
        t.schedDelayMs += math.max(0L, info.duration - tm.executorRunTime -
          tm.executorDeserializeTime - tm.resultSerializationTime -
          (if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L))
        t.peakExecMem = math.max(t.peakExecMem, tm.peakExecutionMemory)
      }
    }
  }

  // callers read between runs, when no stage is in flight
  private def forgetStages(): Unit = {
    stageGroup.clear()
    stageSubmitted.clear()
  }

  /** Drains the listener bus, then returns and resets the run-level total. */
  def takeTotal(sc: SparkContext): TaskStats = {
    org.apache.spark.perfbench.ListenerBus.drain(sc)
    synchronized {
      val t = total
      total = new TaskStats
      forgetStages()
      t
    }
  }

  /** Drains the listener bus, then returns and forgets every group's stats. */
  def takeGroups(sc: SparkContext): Map[String, TaskStats] = {
    org.apache.spark.perfbench.ListenerBus.drain(sc)
    synchronized {
      val g = groups.toMap
      groups.clear()
      forgetStages()
      g
    }
  }
}
