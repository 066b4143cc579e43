package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Shared AQE-aware plan traversal for the plan-pinning specs: materialized
  * stages hide behind QueryStageExec (a leaf to `collect`) and the final
  * plan behind AdaptiveSparkPlanExec, so a naive `plan.collect` cannot see
  * the join inside a shuffle stage. One copy here instead of one per spec —
  * a Spark upgrade that changes stage nesting is fixed once. */
object PlanTestUtils {
  def flatten(p: SparkPlan): Seq[SparkPlan] =
    p +: (p.children.flatMap(flatten) ++ (p match {
      case q: QueryStageExec => flatten(q.plan)
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
      case _ => Nil
    }))

  /** Run `body` with the session conf `key` set to `value`, restoring the
    * previous setting after. */
  def withConf[A](spark: SparkSession, key: String, value: String)(body: => A): A = {
    val old = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
