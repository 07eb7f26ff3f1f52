package graft

import java.nio.file.{Files, Paths}

/** Writes the audited shuffle-exchange count of EVERY SparkEntry query to
  * `src/test/resources/exchange_budgets.tsv` — the committed data behind
  * PlanBudgetSpec's regression gate (r13). plans/PLANS.md records the
  * full plans for human audit; this file is the machine-checked budget:
  * a plan change that adds (or silently drops) an exchange on ANY
  * SparkEntry query fails `sbt test` instead of waiting for the next round's
  * bench read (the r12 CodegenFallback incident was caught by a human
  * reading PLANS.md — this closes that gap for exchanges).
  *
  * The session is [[GraftSession.budget]], the one TestSession builds, at
  * sf0.001, so the spec's recount reproduces these numbers exactly; the
  * counter is [[countExchanges]] (Broadcast/Reused exchanges are not
  * shuffles). Regenerate after any INTENDED plan change:
  * `sbt "runMain graft.PlanBudgets"`, review the diff, commit.
  */
object PlanBudgets {
  /** The shared counter — one spelling for generator, spec and PlanAudit.
    * It counts shuffle exchanges in the plan TREE only ("Exchange (n)"
    * with the operator id): a bare "Exchange" regex also matches each
    * node's detail section below the tree and double-counts.
    */
  def countExchanges(plan: String): Int =
    "(?<!Broadcast|Reused)Exchange \\(\\d+\\)".r.findAllIn(plan).size

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = if (args.length > 1) args(1)
      else "src/test/resources/exchange_budgets.tsv"
    val spark = GraftSession.budget()
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val plan = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        sb.append(s"$name\t${countExchanges(plan)}\n")
      } catch {
        case e: Throwable =>
          System.err.println(s"[budgets] $name FAILED: ${e.getMessage.take(200)}")
          sb.append(s"$name\tFAILED\n")
      }
      graft.Caching.drain()
    }
    Files.createDirectories(Paths.get(out).getParent)
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}
