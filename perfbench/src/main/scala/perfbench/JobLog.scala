package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._

/** The traced run's SparkListener: one record per Spark job, keyed by the
  * job group the harness gives each query execution, with the metrics of
  * its stages and tasks summed in. Everything stays in memory until the
  * run ends. */
final class JobLog extends SparkListener {
  final class Job(val id: Int, val group: String, val startMs: Long) {
    var endMs: Long = -1L
    var stages = 0
    var tasks = 0
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var inputBytes = 0L
    var outputBytes = 0L
    var shuffleWriteBytes = 0L
    var shuffleReadBytes = 0L
    var spillBytes = 0L
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val jobOfStage = mutable.HashMap.empty[Int, Job]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val job = new Job(e.jobId, group, e.time)
    jobs(e.jobId) = job
    e.stageIds.foreach(s => if (!jobOfStage.contains(s)) jobOfStage(s) = job)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    jobOfStage.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    jobOfStage.get(e.stageId).foreach { j =>
      j.tasks += 1
      if (m != null) {
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.inputBytes += m.inputMetrics.bytesRead
        j.outputBytes += m.outputMetrics.bytesWritten
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def byGroup: Map[String, Seq[Job]] = synchronized(jobs.values.toSeq.groupBy(_.group))
}
