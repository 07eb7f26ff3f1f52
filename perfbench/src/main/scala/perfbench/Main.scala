package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import graft.GraftSession

/** Benchmark entry point. Runs one workload in this JVM and writes the
  * result as one JSON object to `--result`:
  *
  * {{{
  * perfbench.Main --workload curate|kb_extract --seed N --seconds S
  *   --trace 0|1 --work DIR --result FILE [--trace-file FILE]
  * }}}
  *
  * `setup_s` runs from JVM start to the first timed operation: session
  * start, input registration, index bootstrap and one warm-up pass. It
  * leaves out input generation and conversion. A cold start happens once
  * per process, so each run yields one sample.
  */
object Main {
  def main(args: Array[String]): Unit =
    // Spark's non-daemon threads would keep a failed JVM alive
    try run(args)
    catch { case e: Throwable => e.printStackTrace(); System.exit(1) }

  private def run(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload"); val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble; val traced = opts("trace") == "1"
    val work = new File(opts("work")); work.mkdirs()
    val nproc = Runtime.getRuntime.availableProcessors
    val wl: Workload = name match {
      case "curate" => new Curate(seed)
      case "kb_extract" => new KbExtract(seed)
      case other => sys.error(s"unknown workload '$other'")
    }
    val out = new Outcome
    val info = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime / 1e3
    val g0 = Stats.now
    wl.generate(new File(work, "input"), info)
    val genS = Stats.now - g0
    val cores = wl.cores(nproc)
    val s0 = Stats.now
    val spark = GraftSession.local(cores)
    spark.sparkContext.setLogLevel("ERROR")
    info("session_start_s") = Stats.now - s0
    val p0 = Stats.now
    wl.prepare(spark)
    val prepS = Stats.now - p0
    val r0 = Stats.now
    wl.setup(spark, new File(work, "run"))
    info("input_registration_s") = Stats.now - r0
    val w0 = Stats.now
    wl.warmup(spark)
    val warmS = Stats.now - w0
    out.endToEnd("setup_s") =
      Metric(System.currentTimeMillis() / 1e3 - jvmStart - genS - prepS, "s")

    val tracer = new Tracer(spark, traced)
    wl.measure(spark, tracer, seconds, out)
    tracer.settle()
    val v0 = Stats.now
    try wl.verify(spark, out)
    catch { case e: Exception => out.check("output checks ran", ok = false, e.toString.take(300)) }
    opts.get("trace-file").filter(_ => traced).foreach { f =>
      info("trace_spans") = tracer.write(new File(f))
      info("trace_file") = f
    }
    tracer.detach()
    info("verify_s") = Stats.now - v0

    info ++= Seq("workload" -> name, "seed" -> seed, "seconds" -> seconds,
      "traced" -> traced, "cores" -> cores, "nproc" -> nproc,
      "master" -> spark.sparkContext.master, "spark_version" -> spark.version,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "input_generation_s" -> genS, "input_conversion_s" -> prepS, "warmup_s" -> warmS)
    val e0 = Stats.now
    spark.stop()
    info("stop_s") = Stats.now - e0
    info("jvm_s") = System.currentTimeMillis() / 1e3 - jvmStart

    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    def metrics(m: scala.collection.Map[String, Metric]) = m.map { case (k, v) =>
      k -> Map("value" -> v.value, "unit" -> v.unit).asJava }.asJava
    val result = Map[String, Any](
      "correct" -> (out.failed == 0 && out.checks.forall(_._2)),
      "attempted" -> math.max(1L, out.attempted),
      "failed" -> out.failed,
      "end_to_end" -> metrics(out.endToEnd),
      "per_layer" -> metrics(out.perLayer),
      "info" -> (info ++ out.info).asJava,
      "checks" -> out.checks.map { case (n, ok, d) =>
        Map("name" -> n, "ok" -> ok, "detail" -> d).asJava }.asJava,
      "errors" -> out.errors.asJava)
    om.writeValue(new File(opts("result")), result.asJava)
    System.exit(0)
  }
}
