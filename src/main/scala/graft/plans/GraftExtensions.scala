package graft.plans

import org.apache.spark.sql.SparkSessionExtensions

/** SparkSessionExtensions entry point (SURVEY §7.4 custom-surface tier):
  * plans banded interval joins as [[RangeJoinPlan]] and executes them
  * with the sort-merge interval exec. Activate with
  * `.config("spark.sql.extensions", "graft.plans.GraftExtensions")`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => RangeJoinRewrite)
    ext.injectPlannerStrategy(_ => RangeJoinStrategy)
  }
}
