package graft

import org.apache.spark.sql.SparkSessionExtensions

/** SparkSessionExtensions entry point: installs the [[Functions]] table
  * and the range-join rewrite for sessions built with
  * `spark.sql.extensions=graft.GraftExtensions`. Sessions the engine does
  * not construct call [[Functions.ensure]] instead; both read the one
  * table.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    Functions.all.foreach(f => ext.injectFunction((f.id, f.info, f.builder)))
    // pure time-range inner joins → bucketed equi joins (no nested loop)
    ext.injectOptimizerRule(_ => graft.plans.RangeJoinBucketing)
  }
}
