package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Totals of Spark work over a window of time. */
final case class SparkWork(jobs: Long, stages: Long, tasks: Long,
    taskRunMs: Long, taskCpuMs: Long, shuffleWriteBytes: Long)

/** A listener that records every job with its submission time and the
  * metrics of its completed stages. Work is attributed to a time window by
  * job submission time, which is exact while a single client drives the
  * program. */
final class SparkCounters(sc: SparkContext) extends SparkListener {
  import SparkCounters.StageWork
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobStages = mutable.Map.empty[Int, Seq[Int]]
  private val stages = mutable.Map.empty[Int, StageWork]

  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
    jobStages(e.jobId) = e.stageIds
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      val m = i.taskMetrics
      stages(i.stageId) = if (m == null) StageWork(i.numTasks, 0, 0, 0)
        else StageWork(i.numTasks, m.executorRunTime,
          m.executorCpuTime / 1000000L, m.shuffleWriteMetrics.bytesWritten)
    }

  /** Wall-clock milliseconds, the clock job events carry. */
  def now(): Long = System.currentTimeMillis()

  /** Wait until every posted event has reached this listener. Call before
    * reading counts. */
  def drain(): Unit = org.apache.spark.ListenerBusDrain(sc)

  /** Work of the jobs submitted in [fromMs, toMs]. Only stages that ran
    * count; a stage shared by several jobs counts once. */
  def between(fromMs: Long, toMs: Long): SparkWork =
    synchronized {
      val jobs = jobStart.collect {
        case (j, t) if t >= fromMs && t <= toMs => j
      }.toSeq
      val ran = jobs.flatMap(jobStages.getOrElse(_, Nil)).distinct
        .flatMap(stages.get)
      SparkWork(jobs.size, ran.size, ran.map(_.tasks).sum,
        ran.map(_.runMs).sum, ran.map(_.cpuMs).sum,
        ran.map(_.shuffleBytes).sum)
    }

  /** Jobs submitted in [fromMs, toMs]. */
  def jobsBetween(fromMs: Long, toMs: Long): Long = synchronized {
    jobStart.valuesIterator.count(t => t >= fromMs && t <= toMs).toLong
  }

  def close(): Unit = sc.removeSparkListener(this)
}

object SparkCounters {
  private final case class StageWork(tasks: Long, runMs: Long, cpuMs: Long,
      shuffleBytes: Long)
}
