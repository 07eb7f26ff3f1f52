package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Writes the audited WHOLE-STAGE-CODEGEN fusion state of EVERY
  * SparkEntry query to `src/test/resources/fusion_budgets.tsv` — the
  * committed data behind FusionBudgetSpec's regression gate (r16, the
  * third plan gate beside exchange_budgets.tsv and PLANS.md).
  *
  * The de-fusion failure class is SILENT: one CodegenFallback
  * expression drops an entire projection chain out of codegen and
  * nothing fails — the query just runs interpreted (+112% on the
  * q_json_schema bench row when the r12 items check first shipped as a
  * HOF, plans/FUSION.md). graft.FusionAudit found that class
  * out-of-band in r15; this pins its findings so `sbt test` fails on
  * any newly-unfused Project / Filter / HashAggregate in a
  * previously-fused query instead of waiting for a human to re-read the
  * audit next round.
  *
  * Unlike the exchange budgets, fusion markers exist only on the
  * EXECUTED plan (AQE finalizes stages during execution), so both this
  * generator and the spec run every query to completion (the Bench
  * materialization shape, `toRdd.count`) — the slow lane of the plan
  * gates, ~3 minutes at sf0.001. The session is [[GraftSession.budget]],
  * the one TestSession builds, so the spec reproduces these numbers
  * exactly. Regenerate after any INTENDED plan change:
  * `sbt "runMain graft.FusionBudgets"`, review the diff (a row's
  * unfused count DROPPING is a win worth keeping; one RISING needs the
  * FUSION.md triage), commit.
  */
object FusionBudgets {

  private val rowNode = """(?:\*\s)?(?:Project|Filter|HashAggregate) \(\d+\)""".r
  private val fusedNode = """\*\s(?:Project|Filter|HashAggregate) \(\d+\)""".r

  /** (unfused, total, unfused-op histogram) over a FormattedMode plan
    * string — FINAL tree only: AQE's formatted output appends the
    * "== Initial Plan ==" tree (never starred — it predates execution)
    * and then the node details; both would inflate the unfused count.
    * One spelling for the generator, the spec, and graft.FusionAudit.
    */
  def unfusedCounts(plan: String): (Int, Int, String) = {
    val tree = plan.linesIterator
      .takeWhile(l => !l.startsWith("(1)") &&
        !l.contains("== Initial Plan ==")).mkString("\n")
    val total = rowNode.findAllIn(tree).size
    val fusedN = fusedNode.findAllIn(tree).size
    val ops = rowNode.findAllIn(tree).toSeq
      .filterNot(_.startsWith("*")).map(_.takeWhile(_ != ' '))
      .groupBy(identity).toSeq.sortBy(_._1)
      .map { case (k, v) => s"$k:${v.size}" }.mkString(",")
    (total - fusedN, total, ops)
  }

  /** execute the frame (AQE-final) and audit its plan. */
  def auditExecuted(df: DataFrame): (Int, Int, String) = {
    df.queryExecution.toRdd.count()
    unfusedCounts(df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = if (args.length > 1) args(1)
      else "src/test/resources/fusion_budgets.tsv"
    val spark = GraftSession.budget()
    spark.sparkContext.setLogLevel("ERROR")
    val rows = auditRows(spark, sfDir, SparkEntry.queries.toSeq.sortBy(_._1))
    Files.createDirectories(Paths.get(out).getParent)
    Files.writeString(Paths.get(out), rows)
    println(s"wrote $out")
    spark.stop()
  }

  /** One `name, unfused, total, ops` TSV row per query, run in order with
    * a cache drain after each; a query that throws gets a FAILED row
    * instead of ending the sweep. The generator and graft.FusionAudit
    * both write these rows.
    */
  def auditRows(spark: SparkSession, sfDir: String,
                queries: Seq[(String, (SparkSession, String) => DataFrame)]): String = {
    val sb = new StringBuilder
    queries.foreach { case (name, fn) =>
      try {
        val (unfused, total, ops) = auditExecuted(fn(spark, sfDir))
        sb.append(s"$name\t$unfused\t$total\t$ops\n")
      } catch {
        case e: Throwable =>
          System.err.println(
            s"[fusionbudgets] $name FAILED: ${e.getMessage.take(200)}")
          sb.append(s"$name\tFAILED\tFAILED\t${e.getClass.getSimpleName}\n")
      } finally Caching.drain()
    }
    sb.toString
  }
}
