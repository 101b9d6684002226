package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Spark-side half of the traced run: every job, stage and task event
  * is attributed to the job group the harness set around the phase that
  * started it (`op-<seq>-<phase>`); jobs outside such a group are
  * ignored. Attribution goes by group, not by time, because the
  * listener bus delivers events late. The harness detaches this
  * listener during untraced passes. */
final class Trace extends SparkListener {
  /** Per-group totals, in the units Spark reports them. */
  final class Totals {
    var stages = 0L
    var tasks = 0L
    var taskRunMs = 0L
    var taskCpuNs = 0L
    var schedDelayMs = 0L
    var shuffleWriteBytes = 0L
    var shuffleReadBytes = 0L
    var spillBytes = 0L
    var inputBytes = 0L
    var inputRecords = 0L
    var outputBytes = 0L
    var outputRecords = 0L
  }

  case class Job(group: String, id: Int, startMs: Long, var endMs: Long)

  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val totals = mutable.HashMap.empty[String, Totals]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private def totalsFor(group: String) = totals.getOrElseUpdate(group, new Totals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("op-")).foreach { g =>
        jobs(e.jobId) = Job(g, e.jobId, e.time, -1L)
        e.stageIds.foreach(s => stageGroup.getOrElseUpdate(s, g))
      }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageGroup.get(e.stageInfo.stageId).foreach(totalsFor(_).stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    for (g <- stageGroup.get(e.stageId) if m != null) {
      val t = totalsFor(g)
      val info = e.taskInfo
      t.tasks += 1
      t.taskRunMs += m.executorRunTime
      t.taskCpuNs += m.executorCpuTime
      // the UI's scheduler delay: task duration not spent deserializing,
      // running, serializing or shipping the result
      val gettingResult =
        if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime
        else 0L
      t.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
      t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      t.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      t.inputBytes += m.inputMetrics.bytesRead
      t.inputRecords += m.inputMetrics.recordsRead
      t.outputBytes += m.outputMetrics.bytesWritten
      t.outputRecords += m.outputMetrics.recordsWritten
    }
  }
}
