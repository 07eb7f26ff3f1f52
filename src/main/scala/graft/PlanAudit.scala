package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Writes the formatted physical plan of every SparkEntry query to
  * plans/PLANS.md — the per-query audit trail for the scale review
  * (SURVEY §5): check pushdown (`PushedFilters`/`ReadSchema`), join
  * strategies (broadcast vs sort-merge), and shuffle (`Exchange`) counts.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = if (args.length > 1) args(1) else "plans/PLANS.md"
    val spark = GraftSession.local(8)
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb.append(s"# Physical plans (sf dir: $sfDir)\n\n")
    sb.append("Audit points per SURVEY §5: filters/projections pushed to the ")
    sb.append("parquet scan, dimension joins broadcast, shuffles only where ")
    sb.append("semantics require, partial aggregation before exchanges.\n")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val shuffles = PlanBudgets.countExchanges(plan)
        sb.append(s"\n## $name  (shuffle exchanges: $shuffles)\n\n```\n")
        sb.append(plan.take(8000))
        sb.append("\n```\n")
      } catch {
        case e: Throwable =>
          sb.append(s"\n## $name\n\nPLAN FAILED: ${e.getMessage.take(200)}\n")
      }
    }
    Files.createDirectories(Paths.get(out).getParent)
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}
