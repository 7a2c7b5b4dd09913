package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Records every Spark job of a traced run: its interval and, summed over
  * the tasks of the stages it launched, task count, shuffle bytes written,
  * bytes spilled and the task durations (for the skew ratio). Operations and
  * spans are matched to jobs by time afterwards, since the benchmark is a
  * single closed-loop client.
  */
final class JobListener extends SparkListener {
  final class Job(val id: Int, val start: Long, val stages: Seq[Int]) {
    var end: Long = -1L
  }
  final class StageAgg {
    var tasks = 0L
    var shuffleWrite = 0L
    var spill = 0L
    val durations = mutable.ArrayBuffer.empty[Long]
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stages = mutable.HashMap.empty[Int, StageAgg]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = new Job(e.jobId, e.time, e.stageIds)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
    a.tasks += 1
    a.durations += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def toSeq: Seq[Map[String, Any]] = synchronized {
    jobs.values.toSeq.map { j =>
      val own = j.stages.filter(s => stageJob.get(s).contains(j.id)).flatMap(stages.get)
      Map("id" -> j.id, "start" -> j.start, "end" -> (if (j.end < 0) j.start else j.end),
        "tasks" -> own.map(_.tasks).sum, "shuffle_write" -> own.map(_.shuffleWrite).sum,
        "spill" -> own.map(_.spill).sum, "task_ms" -> own.flatMap(_.durations))
    }
  }
}
