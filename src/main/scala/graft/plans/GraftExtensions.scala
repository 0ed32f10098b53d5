package graft.plans

import org.apache.spark.sql.SparkSessionExtensions

/** SparkSessionExtensions entry point (SURVEY §7.4 custom-surface tier):
  * injects [[RangeJoinStrategy]], which plans the [[RangeJoinPlan]] that
  * `RangeJoin.aggregateWithin` builds as the sort-merge interval exec.
  * Activate with `.config("spark.sql.extensions", "graft.plans.GraftExtensions")`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    ext.injectPlannerStrategy(_ => RangeJoinStrategy)
}
