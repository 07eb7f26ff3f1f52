package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** A metric as printed: value and unit. */
final case class Metric(value: Double, unit: String)

/** What a workload reports after its timed phase and checks. */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  val checks = ArrayBuffer.empty[(String, Boolean, String)]
  val endToEnd = scala.collection.mutable.LinkedHashMap.empty[String, Metric]
  val perLayer = scala.collection.mutable.LinkedHashMap.empty[String, Metric]
  val info = scala.collection.mutable.LinkedHashMap.empty[String, Any]
  val errors = ArrayBuffer.empty[String]

  def check(name: String, ok: Boolean, detail: String = ""): Unit = {
    checks += ((name, ok, detail))
    attempted += 1
    if (!ok) failed += 1
  }
  def fail(what: String, e: Throwable): Unit = {
    failed += 1
    errors += s"$what: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
  }
}

/** One benchmark workload. `generate` writes the inputs before any session
  * exists; `prepare` converts them once the session is up. Both count as
  * input generation and stay out of set-up time. `setup` registers the
  * inputs (and bootstraps any index), `warmup` makes one untimed pass,
  * `measure` runs the timed phase and `verify` checks the outputs
  * afterwards.
  */
trait Workload {
  def cores(nproc: Int): Int
  def generate(inputDir: File, info: scala.collection.mutable.Map[String, Any]): Unit
  def prepare(spark: SparkSession): Unit = ()
  def setup(spark: SparkSession, dir: File): Unit
  /** One untimed pass of the timed operation, so timing starts warm. */
  def warmup(spark: SparkSession): Unit
  def measure(spark: SparkSession, tracer: Tracer, seconds: Double, out: Outcome): Unit
  def verify(spark: SparkSession, out: Outcome): Unit
}

/** A fixed unit of plain Spark SQL work (an aggregate, a parquet write and
  * a read) that calls no graft operator, timed `iterations` times. Each
  * timed run is divided by the median unit time of the anchors around it,
  * which cancels machine-wide slowdowns on a shared host; the median keeps
  * one disturbed unit from moving the ratio.
  */
object Anchor {
  val iterations = 3

  /** Wall time of each unit, in seconds. */
  def run(spark: SparkSession, dir: File): Seq[Double] = {
    val path = new File(dir, "anchor").getPath
    (0 until iterations).map { k =>
      val t0 = Stats.now
      val df = spark.range(0, 200000, 1, 4)
        .selectExpr(s"id % ${97 + k} AS g", "sha2(CAST(id AS STRING), 256) AS s")
      df.groupBy("g").agg(org.apache.spark.sql.functions.max("s")).collect()
      df.write.mode("overwrite").parquet(path)
      spark.read.parquet(path).filter("g = 3").count()
      Stats.now - t0
    }
  }
}

object Stats {
  /** Linear-interpolated quantile (q in [0, 1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else quantile(xs, 0.5)

  /** Old-generation occupancy after a full collection, in MB. */
  def oldGenAfterGcMb(): Double = {
    // Spark's ContextCleaner releases shuffle and broadcast state only after
    // a GC clears their references; collect again once it has run
    System.gc(); Thread.sleep(200); System.gc()
    import java.lang.management.ManagementFactory
    import scala.jdk.CollectionConverters._
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
    val old = pools.find(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
    val used = old.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).filter(_ > 0)
      .getOrElse(ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
    used / (1024.0 * 1024.0)
  }

  def now: Double = System.nanoTime() / 1e9
}

/** Closed-loop driver shared by the batch workloads: one client runs the
  * pipeline back to back until the time is up, and at least `minRuns`
  * times, so the checks that compare runs can fail. An anchor runs before
  * the first run and after every second run, and each run is divided by
  * the median anchor unit of the two anchors around its pair. In a traced
  * measurement, even runs are traced and odd runs are not, so the trace
  * overhead is measured under the same conditions.
  */
abstract class BatchWorkload extends Workload {
  protected var work: File = _
  protected val runWalls = ArrayBuffer.empty[(Int, Boolean, Double)]
  protected val heapMb = ArrayBuffer.empty[Double]
  protected val anchorUnits = ArrayBuffer.empty[Double]
  protected val outputs = ArrayBuffer.empty[File]
  protected val runRoots = ArrayBuffer.empty[Span]

  def inputDocs: Long
  /** One pipeline run into `outDir`; `trace` non-null when traced. */
  def runOnce(spark: SparkSession, outDir: File, run: Int, trace: Option[(Tracer, String)]): Unit

  def cores(nproc: Int): Int = math.max(1, math.min(nproc, 4))

  /** Register the input: read it and count its rows. */
  def load(spark: SparkSession): Long

  def setup(spark: SparkSession, dir: File): Unit = {
    work = dir
    require(load(spark) == inputDocs, "input row count differs from the generated rows")
  }

  def warmup(spark: SparkSession): Unit = {
    runOnce(spark, new File(work, "warmup"), -1, None)
    Anchor.run(spark, work)
  }

  val minRuns = 2

  def measure(spark: SparkSession, tracer: Tracer, seconds: Double, out: Outcome): Unit = {
    val deadline = Stats.now + seconds
    var i = 0
    var before = Anchor.run(spark, work)
    val pair = ArrayBuffer.empty[((Int, Boolean, Double), File)]
    def closePair(): Unit = {
      val after = Anchor.run(spark, work)
      pair.foreach { case (r, dir) =>
        runWalls += r; anchorUnits += Stats.median(before ++ after); outputs += dir
      }
      pair.clear(); before = after
    }
    while (Stats.now < deadline || i < minRuns) {
      val traced = tracer.enabled && i % 2 == 0
      val dir = new File(work, s"out/run-$i")
      out.attempted += 1
      val t0 = Stats.now
      try {
        if (traced) {
          val id = s"run-$i"
          tracer.span(id, "run")(runOnce(spark, dir, i, Some((tracer, id))))
        } else runOnce(spark, dir, i, None)
        pair += (((i, traced, Stats.now - t0), dir))
      } catch { case e: Exception => out.fail(s"run $i", e) }
      heapMb += Stats.oldGenAfterGcMb()
      i += 1
      if (i % 2 == 0) closePair()
    }
    if (i % 2 == 1) closePair()
    tracer.settle()
    runRoots ++= tracer.allSpans.filter(s => s.parent == 0 && s.name == "run")
    val plainRuns = runWalls.zip(anchorUnits).filterNot(_._1._2)
    val timed = if (plainRuns.nonEmpty) plainRuns else runWalls.zip(anchorUnits)
    val walls = timed.map(_._1._3).toSeq
    out.endToEnd ++= Seq(
      "batch_p50_s" -> Metric(Stats.median(walls), "s"),
      "batch_p50_rel" -> Metric(Stats.median(timed.map { case (r, a) => r._3 / a }.toSeq), "ratio"),
      "docs_per_s" -> Metric(inputDocs * walls.size / walls.sum, "docs/s"),
      "heap_peak_mb" -> Metric(heapMb.max, "MB"))
    val plain = plainRuns.map(_._1._3).toSeq
    out.info ++= Seq("runs" -> runWalls.size, "untraced_runs" -> plain.size,
      "run_walls_s" -> runWalls.map(r => f"${r._3}%.3f").mkString(","),
      "anchor_unit_s" -> anchorUnits.map(a => f"$a%.3f").mkString(","))
    if (tracer.enabled) {
      val tr = runWalls.filter(_._2).map(_._3).toSeq
      if (tr.nonEmpty && plain.nonEmpty)
        out.perLayer("trace.overhead_frac") =
          Metric(Stats.median(tr) / Stats.median(plain) - 1.0, "ratio")
      layerMetrics(tracer, out)
    }
  }

  /** Per-run median of `f` over the traced runs. */
  protected def perRun(f: Span => Double): Double = Stats.median(runRoots.map(f).toSeq)

  /** Per-layer metrics common to the batch workloads (traced runs only). */
  protected def layerMetrics(t: Tracer, out: Outcome): Unit = {
    def layer(root: Span, names: Set[String]): SpanStats =
      t.allSpans.filter(s => s.trace == root.trace && names(s.name))
        .map(t.stats).foldLeft(SpanStats.zero)(_ + _)
    val all = (r: Span) => t.subtree(r)
    out.perLayer ++= Seq(
      "spark.jobs" -> Metric(perRun(all(_).jobs), "count"),
      "spark.tasks" -> Metric(perRun(all(_).tasks.toDouble), "count"),
      "spark.cpu_s" -> Metric(perRun(all(_).cpu), "s"),
      "spark.gc_s" -> Metric(perRun(all(_).gc), "s"),
      "spark.driver_gap_s" -> Metric(perRun(all(_).gap), "s"),
      "spark.shuffle_mb" -> Metric(perRun(all(_).shuffleMb), "MB"),
      "spark.spill_mb" -> Metric(perRun(all(_).spillMb), "MB"),
      "spark.input_mb" -> Metric(perRun(all(_).inMb), "MB"),
      "spark.output_mb" -> Metric(perRun(all(_).outMb), "MB"),
      "pipeline.plan_s" -> Metric(perRun(t.planSeconds), "s"),
      "operators.write_s" -> Metric(perRun(layer(_, Set("operators.write")).wall), "s"),
      "operators.output_mb" -> Metric(perRun(layer(_, Set("operators.write")).outMb), "MB"))
    workloadLayers(t, out, layer)
  }

  protected def workloadLayers(t: Tracer, out: Outcome,
                               layer: (Span, Set[String]) => SpanStats): Unit
}
