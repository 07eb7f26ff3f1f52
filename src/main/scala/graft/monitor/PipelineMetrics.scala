package graft.monitor

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftglue.ListenerBus

/** Execution monitoring (reference: the per-node monitor thread + queue
  * gauges, node.py `thread_monitor`). Spark already emits everything the
  * reference polls for — this listener folds task metrics into a snapshot
  * the way the reference's monitor summarizes queue depth / liveness.
  * Backpressure itself needs no code here: bounded queues ≙
  * `maxFilesPerTrigger` + AQE.
  *
  * One listener, two views: [[snapshot]] sums every task that ended since
  * attach; [[jobs]] splits the same span per job (graft.Prof's report —
  * job spans plus the driver gap between them). Both reads drain the
  * listener bus first, so a read right after an action sees all of that
  * action's tasks.
  */
final class PipelineMetrics private (spark: SparkSession) {
  import PipelineMetrics.JobRow

  private val tasks = new LongAdder
  private val failedTasks = new LongAdder
  private val recordsRead = new LongAdder
  private val bytesRead = new LongAdder
  private val shuffleBytesWritten = new LongAdder
  private val shuffleBytesRead = new LongAdder
  private val cpuTimeNs = new LongAdder

  private val jobRows = new ConcurrentHashMap[Int, JobRow]()
  // stageId → jobId, built at onJobStart: stages are charged to the job
  // that REGISTERED them, not to the most recently started job —
  // concurrent jobs (streaming drains overlap) would otherwise be
  // misattributed. A stage whose job started before attach has no entry:
  // it is skipped rather than given a guessed owner.
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  private val listener = new SparkListener {
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.increment()
      if (e.taskInfo != null && !e.taskInfo.successful) failedTasks.increment()
      val m = e.taskMetrics
      if (m != null) {
        recordsRead.add(m.inputMetrics.recordsRead)
        bytesRead.add(m.inputMetrics.bytesRead)
        shuffleBytesWritten.add(m.shuffleWriteMetrics.bytesWritten)
        shuffleBytesRead.add(m.shuffleReadMetrics.totalBytesRead)
        cpuTimeNs.add(m.executorCpuTime)
      }
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val desc = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse("")
      jobRows.put(e.jobId, JobRow(e.jobId, e.time, desc = desc))
      e.stageIds.foreach(sid => stageJob.put(sid, e.jobId))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobRows.computeIfPresent(e.jobId, (_, j) => j.copy(end = e.time))

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = si.taskMetrics
      jobRows.computeIfPresent(stageJob.getOrDefault(si.stageId, -1),
        (_, j) => j.copy(
          tasks = j.tasks + si.numTasks,
          taskMs = j.taskMs + m.executorRunTime,
          inputBytes = j.inputBytes + m.inputMetrics.bytesRead,
          shuffleRead = j.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
          shuffleWrite = j.shuffleWrite + m.shuffleWriteMetrics.bytesWritten))
    }
  }
  spark.sparkContext.addSparkListener(listener)

  def snapshot: Map[String, Long] = {
    ListenerBus.drain(spark.sparkContext)
    Map(
      "tasks" -> tasks.sum, "failed_tasks" -> failedTasks.sum,
      "records_read" -> recordsRead.sum, "bytes_read" -> bytesRead.sum,
      "shuffle_bytes_written" -> shuffleBytesWritten.sum,
      "shuffle_bytes_read" -> shuffleBytesRead.sum,
      "executor_cpu_ns" -> cpuTimeNs.sum)
  }

  /** One row per job started since attach, in submission order; a job
    * still running has `end == 0`.
    */
  def jobs: Seq[JobRow] = {
    ListenerBus.drain(spark.sparkContext)
    jobRows.values.asScala.toSeq.sortBy(_.id)
  }

  def detach(): Unit = spark.sparkContext.removeSparkListener(listener)
}

object PipelineMetrics {
  /** One job's wall span (epoch ms) and the summed metrics of its
    * completed stages: task count, executor run time, input and shuffle
    * bytes, plus its `spark.job.description` (see [[graft.Jobs.labeled]]).
    */
  final case class JobRow(id: Int, start: Long, end: Long = 0L,
                          tasks: Int = 0, taskMs: Long = 0L,
                          inputBytes: Long = 0L, shuffleRead: Long = 0L,
                          shuffleWrite: Long = 0L, desc: String)

  /** Attach a fresh metrics listener to the session. */
  def attach(spark: SparkSession): PipelineMetrics = new PipelineMetrics(spark)
}
