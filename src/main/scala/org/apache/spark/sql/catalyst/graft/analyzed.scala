package org.apache.spark.sql.catalyst.graft

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into Catalyst's `private[catalyst]` analysed mark, which the
  * analyzer checks first and then returns the plan as it is. Only for a
  * plan that is resolved as built.
  */
object analyzed {
  def apply[P <: LogicalPlan](plan: P): P = { plan.setAnalyzed(); plan }
}
