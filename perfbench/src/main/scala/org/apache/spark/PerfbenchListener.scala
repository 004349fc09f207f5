package org.apache.spark

import scala.collection.mutable
import org.apache.spark.scheduler._
import perfbench.JobStats

/** Collects per-job task metrics. Lives in the `org.apache.spark` package
  * only to reach `listenerBus.waitUntilEmpty`, which is how the harness
  * knows every event of a finished call has been counted.
  */
final class PerfbenchListener extends SparkListener {
  private val jobStart = mutable.HashMap.empty[Int, (Long, Option[Int])]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val perJob = mutable.HashMap.empty[Int, JobStats]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(PerfbenchListener.SpanKey)))
      .map(_.toInt).filter(_ >= 0)
    jobStart(e.jobId) = (e.time, tag)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
    perJob(e.jobId) = JobStats(jobs = 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).foreach { j =>
      perJob(j) = perJob(j) + JobStats(stages = 1)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageJob.get(e.stageId).foreach { j =>
      perJob(j) = perJob(j) + JobStats(
        tasks = 1,
        cpuNs = m.executorCpuTime,
        gcMs = m.jvmGCTime,
        inputBytes = m.inputMetrics.bytesRead,
        outputBytes = m.outputMetrics.bytesWritten,
        shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
        shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead,
        spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** (submission time in epoch ms, span tag, work) of every job so far. */
  def jobs(sc: SparkContext): Seq[(Long, Option[Int], JobStats)] = {
    sc.listenerBus.waitUntilEmpty()
    synchronized {
      perJob.toSeq.sortBy(_._1).map { case (j, st) =>
        val (t, tag) = jobStart(j)
        (t, tag, st)
      }
    }
  }
}

object PerfbenchListener {
  val SpanKey = "perfbench.span"
}
