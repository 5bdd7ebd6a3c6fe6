package graft

import org.apache.spark.sql.SparkSession

/** graft's session plan rules: [[plans.EventTimeDayPruning]] (an
  * optimizer rule) and [[plans.SmallSortPlanning]] (a planner strategy).
  * A cluster deployment gets both from `GraftExtensions`; a session
  * built without it gets them from [[install]], which every lane entry
  * (`SparkEntry.queries`) and every events-layout read runs.
  */
package object plans {

  /** Registers graft's plan rules in `spark` once; idempotent. */
  def install(spark: SparkSession): Unit = synchronized {
    val exp = spark.experimental
    if (!exp.extraOptimizations.contains(EventTimeDayPruning))
      exp.extraOptimizations = exp.extraOptimizations :+ EventTimeDayPruning
    if (!exp.extraStrategies.contains(SmallSortPlanning))
      exp.extraStrategies = exp.extraStrategies :+ SmallSortPlanning
  }
}
