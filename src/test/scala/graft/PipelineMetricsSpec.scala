package graft

import java.util.concurrent.CountDownLatch

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

import graft.monitor.PipelineMetrics

/** Gates for the job that must start before `attach`: its tasks report
  * in, then block until the test releases them. Tasks run in the driver
  * JVM under local[N], so they reach these through the static object.
  */
object PipelineMetricsGate {
  @volatile var started: CountDownLatch = _
  @volatile var release: CountDownLatch = _
}

/** The one listener's two views — the `snapshot` counters and the per-job
  * rows graft.Prof reports — and their completeness under an async bus.
  */
class PipelineMetricsSpec extends SparkSpec {

  test("snapshot right after an action counts every task of it, even " +
       "when a slow listener holds back the shared queue") {
    val slow = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Thread.sleep(100)
    }
    spark.sparkContext.addSparkListener(slow)
    val m = PipelineMetrics.attach(spark)
    try {
      assert(spark.sparkContext.parallelize(1 to 64, 8).count() == 64L)
      assert(m.snapshot("tasks") == 8L)
    } finally {
      m.detach()
      spark.sparkContext.removeSparkListener(slow)
    }
  }

  test("a two-stage job is one row whose task count sums its stages") {
    val m = PipelineMetrics.attach(spark)
    try {
      spark.sparkContext.setJobDescription("two-stage")
      val groups = try spark.sparkContext.parallelize(1 to 100, 6)
          .map(x => (x % 3, 1)).reduceByKey(_ + _, 2).count()
        finally spark.sparkContext.setJobDescription(null)
      assert(groups == 3L)
      val rows = m.jobs
      assert(rows.size == 1, s"expected one job, got $rows")
      val j = rows.head
      assert(j.tasks == 6 + 2)
      assert(j.shuffleWrite > 0L && j.shuffleRead > 0L)
      assert(j.end >= j.start && j.start > 0L)
      assert(j.desc == "two-stage")
    } finally m.detach()
  }

  test("a stage of a job started before attach is charged to no job") {
    val sc = spark.sparkContext
    PipelineMetricsGate.started = new CountDownLatch(2)
    PipelineMetricsGate.release = new CountDownLatch(1)
    val early = sc.parallelize(1 to 2, 2).map { x =>
      PipelineMetricsGate.started.countDown()
      PipelineMetricsGate.release.await()
      x
    }.countAsync()
    PipelineMetricsGate.started.await()
    // the early job's start event must reach the bus's listeners before
    // attach, or the new listener would see it
    org.apache.spark.sql.graftglue.ListenerBus.drain(sc)
    val m = PipelineMetrics.attach(spark)
    try {
      // the later job's tasks release the early ones, so the early stage
      // completes while the later job is the most recently started one
      val later = sc.parallelize(1 to 3, 3).map { x =>
        PipelineMetricsGate.release.countDown(); x
      }.count()
      assert(later == 3L)
      assert(early.get() == 2L)
      val rows = m.jobs
      assert(rows.size == 1, s"expected only the later job, got $rows")
      assert(rows.head.tasks == 3)
    } finally {
      PipelineMetricsGate.release.countDown()
      m.detach()
    }
  }
}
