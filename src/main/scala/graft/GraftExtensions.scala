package graft

import org.apache.spark.sql.SparkSessionExtensions

/** Session-extension entry point: makes the [[Graft]] table of custom
  * expressions and plan extensions available to ANY session (including
  * pure-SQL users) via
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *
  * — the supported public mechanism for shipping engine extensions.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    Graft.functions.foreach(ext.injectFunction)
    Graft.optimizerRules.foreach(r => ext.injectOptimizerRule(_ => r))
    Graft.strategies.foreach(s => ext.injectPlannerStrategy(_ => s))
  }
}
