package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** What the listener saw of one Spark job. `group` is the job group the
  * harness set when the job was submitted ("" when none). The counters
  * beyond task CPU, and the task intervals, are kept only when traced. */
final class JobRecord(val id: Int, val group: String, val startMs: Long) {
  var endMs: Long = -1L
  var succeeded: Boolean = true
  var tasks: Long = 0L
  var cpuNs: Long = 0L
  var shuffleWriteBytes: Long = 0L
  var shuffleReadBytes: Long = 0L
  var spillBytes: Long = 0L
  var gcMs: Long = 0L
  /** Flattened (launch ms, finish ms) pairs of the job's tasks. */
  val taskIntervals: ArrayBuffer[Long] = ArrayBuffer.empty
}

/** Credits every Spark job, and every task of its stages, to the job
  * group it was submitted under. Untraced runs keep per job only its
  * group, start time and task CPU; traced runs keep the full record. */
final class Recorder(traced: Boolean) extends SparkListener {
  private val jobsById = new ConcurrentHashMap[Int, JobRecord]()
  private val jobOfStage = new ConcurrentHashMap[Int, JobRecord]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val rec = new JobRecord(e.jobId, group, e.time)
    jobsById.put(e.jobId, rec)
    // a stage belongs to the first job that lists it; later jobs that
    // list it again skip it and run none of its tasks
    e.stageIds.foreach(s => jobOfStage.putIfAbsent(s, rec))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobsById.get(e.jobId)).foreach { rec =>
      rec.endMs = e.time
      rec.succeeded = e.jobResult == JobSucceeded
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val rec = jobOfStage.get(e.stageId)
    val m = e.taskMetrics
    if (rec != null && m != null) {
      rec.cpuNs += m.executorCpuTime
      if (traced) {
        rec.tasks += 1
        rec.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        rec.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        rec.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        rec.gcMs += m.jvmGCTime
        if (e.taskInfo != null)
          rec.taskIntervals ++= Seq(e.taskInfo.launchTime, e.taskInfo.finishTime)
      }
    }
  }

  /** Every job seen so far, by id. Call after draining the listener bus. */
  def jobs: Seq[JobRecord] = jobsById.values.asScala.toSeq.sortBy(_.id)
}
