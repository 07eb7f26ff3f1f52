package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch nanoseconds with nanoTime resolution. */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowNs: Long = baseMs * 1000000L + (System.nanoTime() - baseNs)
  def msToNs(ms: Long): Long = ms * 1000000L
}

/** One span: a call into one layer. Spans of one pipeline run, micro-batch
  * or probe share `trace`; `parent` is 0 for a root span.
  */
final case class Span(id: Long, trace: String, name: String, parent: Long,
                      startNs: Long, var endNs: Long = 0L) {
  def group: String = s"perfbench-$id"
  def wall: Double = (endNs - startNs) / 1e9
}

/** Counters of one Spark job, summed over its completed stages. */
final class JobRec(val id: Int, val group: String, val startMs: Long) {
  @volatile var endMs: Long = 0L
  var tasks = 0L; var cpuNs = 0L; var gcMs = 0L; var shuffleW = 0L
  var spill = 0L; var inBytes = 0L; var inRecs = 0L; var outBytes = 0L; var outRecs = 0L
}

/** Counters of one span (or a sum of spans): wall and self time, its own
  * jobs' counters, and the driver gap (self time with none of its jobs
  * running).
  */
final case class SpanStats(wall: Double, self: Double, jobs: Int, tasks: Long,
                           cpu: Double, gc: Double, gap: Double, shuffleMb: Double,
                           spillMb: Double, inMb: Double, outMb: Double,
                           inRecs: Long, outRecs: Long) {
  def +(o: SpanStats): SpanStats = SpanStats(wall + o.wall, self + o.self,
    jobs + o.jobs, tasks + o.tasks, cpu + o.cpu, gc + o.gc, gap + o.gap,
    shuffleMb + o.shuffleMb, spillMb + o.spillMb, inMb + o.inMb, outMb + o.outMb,
    inRecs + o.inRecs, outRecs + o.outRecs)
}
object SpanStats {
  val zero: SpanStats = SpanStats(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
}

/** Span recorder plus the Spark listeners that attribute job counters to
  * spans (through the job group each span sets) and query-planning time.
  * When disabled, `span` just runs its body. Spans and counters stay in
  * memory until [[Tracer.write]].
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[Span]()
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  /** (start ns, duration ns) of every analysis/optimization/planning phase. */
  val planPhases = new ConcurrentLinkedQueue[(Long, Long)]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("")
      jobs.put(e.jobId, new JobRec(e.jobId, g, e.time))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      Option(jobs.get(stageJob.getOrDefault(si.stageId, -1))).foreach { j =>
        val m = si.taskMetrics
        j.synchronized {
          j.tasks += si.numTasks
          if (m != null) {
            j.cpuNs += m.executorCpuTime; j.gcMs += m.jvmGCTime
            j.shuffleW += m.shuffleWriteMetrics.bytesWritten
            j.spill += m.diskBytesSpilled + m.memoryBytesSpilled
            j.inBytes += m.inputMetrics.bytesRead; j.inRecs += m.inputMetrics.recordsRead
            j.outBytes += m.outputMetrics.bytesWritten; j.outRecs += m.outputMetrics.recordsWritten
          }
        }
      }
    }
  }
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
      qe.tracker.phases.foreach { case (_, p) =>
        planPhases.add((Clock.msToNs(p.startTimeMs), Clock.msToNs(p.durationMs)))
      }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }
  if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Run `body` as a span named `name` in trace `trace` (the enclosing
    * span on this thread is the parent). Jobs it starts carry the span's
    * job group, so their counters attribute to it.
    */
  def span[T](trace: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = current.get()
      val s = Span(ids.incrementAndGet(), trace, name,
        if (parent == null) 0L else parent.id, Clock.nowNs)
      val sc = spark.sparkContext
      val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
      sc.setLocalProperty("spark.jobGroup.id", s.group)
      current.set(s)
      try body
      finally {
        s.endNs = Clock.nowNs
        spans.add(s)
        current.set(parent)
        sc.setLocalProperty("spark.jobGroup.id", prevGroup)
      }
    }

  /** The innermost open span on this thread, or null. */
  def currentSpan: Span = current.get()

  /** Run `body` on this thread with `parent` as its enclosing span, for work
    * a span hands to another thread (a stream's micro-batches, a prober).
    */
  def under[T](parent: Span)(body: => T): T = {
    val prev = current.get()
    current.set(parent)
    try body finally current.set(prev)
  }

  /** Block until the listener bus has delivered every event posted so far. */
  def settle(): Unit = if (enabled) org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  def detach(): Unit = if (enabled) {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  // ------------------------------------------------------------ aggregation

  private lazy val jobsByGroup: Map[String, Seq[JobRec]] =
    jobs.values().asScala.toSeq.groupBy(_.group)

  def jobsOf(s: Span): Seq[JobRec] = jobsByGroup.getOrElse(s.group, Nil)

  def allSpans: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  def children(s: Span): Seq[Span] = allSpans.filter(_.parent == s.id)

  /** Length of the union of `[start, end)` intervals, in seconds. */
  def covered(iv: Seq[(Long, Long)]): Double = {
    var total = 0L; var cs = Long.MinValue; var ce = Long.MinValue
    for ((s, e) <- iv.sortBy(_._1)) {
      if (s > ce) { if (ce > cs) total += ce - cs; cs = s; ce = e }
      else if (e > ce) ce = e
    }
    if (ce > cs) total += ce - cs
    total / 1e9
  }

  private def jobIv(j: JobRec): (Long, Long) =
    (Clock.msToNs(j.startMs), Clock.msToNs(math.max(j.endMs, j.startMs)))

  def stats(s: Span): SpanStats = {
    val js = jobsOf(s)
    val kids = children(s)
    val self = s.wall - covered(kids.map(k => (k.startNs, k.endNs)))
    // the driver gap is self time during which none of the span's own jobs ran
    val gap = self - covered(js.map(jobIv))
    val mb = 1024.0 * 1024.0
    SpanStats(s.wall, self, js.size, js.map(_.tasks).sum, js.map(_.cpuNs).sum / 1e9,
      js.map(_.gcMs).sum / 1e3, math.max(0.0, gap), js.map(_.shuffleW).sum / mb,
      js.map(_.spill).sum / mb, js.map(_.inBytes).sum / mb, js.map(_.outBytes).sum / mb,
      js.map(_.inRecs).sum, js.map(_.outRecs).sum)
  }

  /** Sum of [[stats]] over a span and all its descendants (gap: self gaps). */
  def subtree(s: Span): SpanStats =
    children(s).map(subtree).foldLeft(stats(s))(_ + _).copy(wall = s.wall)

  /** Planning time (analysis + optimization + planning) that started
    * inside the span's interval.
    */
  def planSeconds(s: Span): Double =
    planPhases.asScala.filter { case (st, _) => st >= s.startNs && st <= s.endNs }
      .map(_._2).sum / 1e9

  /** Spans as JSON lines, with each span's own attributed counters. */
  def write(file: java.io.File): Int = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val lines = allSpans.map { s =>
      val st = stats(s)
      om.writeValueAsString(Map[String, Any](
        "trace" -> s.trace, "span" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "self_s" -> st.self,
        "jobs" -> st.jobs, "tasks" -> st.tasks, "cpu_s" -> st.cpu, "gc_s" -> st.gc,
        "driver_gap_s" -> st.gap, "shuffle_mb" -> st.shuffleMb, "spill_mb" -> st.spillMb,
        "input_mb" -> st.inMb, "output_mb" -> st.outMb).asJava)
    }
    Inputs.writeLines(file, lines.iterator)
    lines.size
  }
}
