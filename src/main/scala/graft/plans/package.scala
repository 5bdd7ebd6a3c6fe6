package graft

import org.apache.spark.sql.SparkSession

/** graft's session plan rules: [[plans.EventTimeDayPruning]] (an
  * optimizer rule) and [[plans.SmallSortPlanning]] (a planner strategy).
  * The strategy plans a global sort of at most one AQE partition in one
  * partition, in one of two forms picked from the plan: `Sort <-
  * Coalesce 1` inside the stage that holds an input already one
  * partition wide (materialized AQE stages that AQE reads as one
  * partition, or a one-split file scan), and `Sort <- Exchange
  * SinglePartition` for a small input spread over several splits.
  * A cluster deployment gets both, and graft's native SQL functions,
  * from `GraftExtensions`; a session built without it gets them from
  * [[install]], which every lane entry (`SparkEntry.queries`) and every
  * events-layout read runs.
  */
package object plans {

  /** Registers graft's plan rules and the [[graft.functions.Native]]
    * catalog in `spark` once; idempotent.
    */
  def install(spark: SparkSession): Unit = synchronized {
    val exp = spark.experimental
    if (!exp.extraOptimizations.contains(EventTimeDayPruning))
      exp.extraOptimizations = exp.extraOptimizations :+ EventTimeDayPruning
    if (!exp.extraStrategies.contains(SmallSortPlanning))
      exp.extraStrategies = exp.extraStrategies :+ SmallSortPlanning
    graft.functions.Native.register(spark)
  }
}
