package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session keeps the test
  * run fast; suites must not mutate session state destructively). It is
  * the budget session, so PlanBudgetSpec / FusionBudgetSpec recount in the
  * session the committed budgets were generated in.
  */
object TestSession {
  lazy val spark: SparkSession = {
    val s = GraftSession.budget()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  val sfDir = "/root/testdata/sf0.001"

  /** The formatted physical plan as a string — the shared substrate for
    * plan-shape assertions (one home; suites must not keep private
    * copies that could drift).
    */
  protected def planString(df: org.apache.spark.sql.DataFrame): String = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) { df.explain("formatted") }
    out.toString
  }

  /** AQE-aware shuffle-exchange count over the executed plan TREE
    * (children only — subquery plans are pinned separately where a spec
    * cares; BroadcastExchange is not a shuffle).
    */
  protected def countShufflesExec(
      plan: org.apache.spark.sql.execution.SparkPlan): Int = plan match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      countShufflesExec(a.executedPlan)
    case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
      1 + s.children.map(countShufflesExec).sum
    case other => other.children.map(countShufflesExec).sum
  }
}
