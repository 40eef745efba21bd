package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (JVM-wide — getOrCreate). */
object SparkTestBase {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .withExtensions(new GraftExtensions)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

/** Physical-plan node counts that see through adaptive execution (its
  * query stages and the plan it starts from) and into subqueries. */
object PlanNodes
    extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  /** The `Generate explode` operators of `plan`. */
  def explodes(plan: org.apache.spark.sql.execution.SparkPlan): Int =
    collectWithSubqueries(plan) {
      case g: org.apache.spark.sql.execution.GenerateExec
          if g.generator.isInstanceOf[
            org.apache.spark.sql.catalyst.expressions.Explode] => g
    }.size
}
