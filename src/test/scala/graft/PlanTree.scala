package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

/** Walks a physical plan the way its plan string prints it, crossing the
  * boundaries `collect` treats as leaves: AQE wrappers and cached
  * (InMemoryRelation) plans. */
object PlanTree {

  /** One level down: an AQE wrapper's current plan, a cache scan's cached
    * plan, else the node's children. */
  def expand(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case c: InMemoryTableScanExec => Seq(c.relation.cachedPlan)
    case other                    => other.children
  }

  /** `p` and every node beneath it, pre-order. */
  def flatten(p: SparkPlan): Seq[SparkPlan] = p +: expand(p).flatMap(flatten)
}
