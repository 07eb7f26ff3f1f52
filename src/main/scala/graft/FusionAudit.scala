package graft

import java.nio.file.{Files, Paths}

/** Whole-stage-codegen audit over the EXECUTED plans (r15).
  *
  * plans/PLANS.md renders each query's plan BEFORE execution, and under
  * AQE the formatted pre-execution plan carries no codegen markers at
  * all — so it can pin exchange budgets but not fusion. This main runs
  * every `SparkEntry.queries` entry to completion (the Bench
  * materialization shape, `toRdd.count`), renders the FINAL plan, and
  * counts row-processing nodes (Project / Filter / HashAggregate) that
  * sit OUTSIDE a WholeStageCodegen span — the `* ` prefix in formatted
  * mode. The JsonSchemaSpec fusion pin is this check for one query;
  * this sweeps all of them.
  *
  * Unfused nodes are not automatically bugs: object pipelines
  * (Dataset lambdas, TypedImperativeAggregates planned as
  * ObjectHashAggregate/SortAggregate), stream drains, and
  * columnar-boundary Projects legitimately run outside codegen. The
  * output is a ranking for HUMAN triage — read it next to the bench's
  * slowest rows and chase only hot queries whose BATCH core is unfused
  * (the FUSION.md r6/r12 lesson: one CodegenFallback expression can
  * silently de-fuse an entire projection chain).
  */
object FusionAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.lift(1).getOrElse("/tmp/fusion_audit.tsv")
    val only = args.lift(2).map(_.split(",").map(_.trim).toSet)
    val spark = GraftSession.local(8)
    spark.sparkContext.setLogLevel("ERROR")
    // the sweep (final tree only, shared spelling) lives in FusionBudgets
    // — the r16 committed-budget gate this audit seeded; this main stays
    // the ad-hoc triage CLI, in an extension-carrying session, over any
    // query subset
    val rows = FusionBudgets.auditRows(spark, sfDir,
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (n, _) => only.forall(_.contains(n)) })
    Files.writeString(Paths.get(out),
      "query\tunfused\ttotal\tunfused_ops\n" + rows)
    println(s"[fusionaudit] wrote $out")
  }
}
