package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.monitor.PipelineMetrics

/** Per-query profiling harness for the optimization rounds (guide §1:
  * measure first). Runs in [[Bench]]'s environment — its session, warm-up,
  * split fixture, SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS defaults and
  * `toRdd.count()` materialization — then, for each named query, reports
  * where the wall time went, from a [[PipelineMetrics]] attached around
  * the LAST run:
  *
  *   - per-JOB wall spans (job id, duration, #tasks, summed task time,
  *     input and shuffle read/write bytes, job description) in submission
  *     order, so iterative operators show their round structure;
  *   - the DRIVER GAP: wall time not covered by any running job —
  *     planning, collect-side work, file listing, checkpoint bookkeeping.
  *
  * Usage: `SPARK_GRAFT_ONLY=q_a,q_b sbt "runMain graft.Prof"` (the
  * allowlist is required; SPARK_GRAFT_PROF_RUNS overrides the 2-run
  * default — the report is from the LAST run, warm like Bench's min-of-2).
  * Output goes to stderr (human-readable), nothing to stdout.
  */
object Prof {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_PROF_RUNS", "2").toInt
    val only = Bench.onlyQueries
      .getOrElse(sys.error("set SPARK_GRAFT_ONLY to the queries to profile"))
    val spark = Bench.session()
    Bench.warmUp(spark, sfDir)
    val splitDir = Bench.splitFixture(spark, sfDir, Bench.cpus)

    def timedRun(fn: (SparkSession, String) => DataFrame): Double = {
      val t0 = System.nanoTime()
      fn(spark, splitDir).queryExecution.toRdd.count()
      graft.Caching.drain()
      (System.nanoTime() - t0) / 1e9
    }
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1) if only(name)) {
      for (_ <- 1 until runs) timedRun(fn)
      val metrics = PipelineMetrics.attach(spark)
      val (wall, rows) =
        try (timedRun(fn), metrics.jobs.filter(_.end > 0))
        finally metrics.detach()
      // merge job spans into covered wall time (jobs can overlap under
      // concurrent streams; union of intervals)
      val spans = rows.map(j => (j.start, j.end)).sortBy(_._1)
      var covered = 0L; var curS = Long.MinValue; var curE = Long.MinValue
      for ((s0, e0) <- spans) {
        if (s0 > curE) { covered += curE - curS max 0; curS = s0; curE = e0 }
        else if (e0 > curE) curE = e0
      }
      covered += (curE - curS) max 0
      System.err.println(f"%n== $name  wall=${wall}%.3fs  jobs=${rows.size}" +
        f"  job-covered=${covered / 1e3}%.3fs  driver-gap=${wall - covered / 1e3}%.3fs")
      for (j <- rows)
        System.err.println(f"  job ${j.id}%4d ${(j.end - j.start) / 1e3}%7.3fs" +
          f" tasks=${j.tasks}%4d taskTime=${j.taskMs / 1e3}%8.3fs" +
          f" in=${j.inputBytes / 1048576.0}%7.1fMB shufR=${j.shuffleRead / 1048576.0}%6.1fMB" +
          f" shufW=${j.shuffleWrite / 1048576.0}%6.1fMB  ${j.desc.take(80)}")
    }
    spark.stop()
  }
}
