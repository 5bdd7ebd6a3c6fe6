package graft.plans

import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.{SortExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.adaptive.LogicalQueryStage
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.internal.SQLConf

/** Sampling-free small global sorts.
  *
  * Spark plans every global `ORDER BY` over a range exchange, and a
  * range exchange first runs a job of its own: RangePartitioner samples
  * the WHOLE sort input to pick its boundaries, re-executing everything
  * below the sort since the last exchange (a text kernel, a decode, a
  * scan). When the input is small AQE then coalesces the sorted output
  * into one partition anyway, so the sampling job bought nothing.
  *
  * This strategy plans such a sort as `SortExec(global) <- Exchange
  * SinglePartition` instead: one shuffle, no sampling job, the same
  * rows in the same order. "Small" is exactly the size below which
  * AQE's own coalescing collapses a shuffle into one partition
  * ([[onePartitionBytes]]); with AQE or coalescing off it never fires,
  * and no conf of its own exists.
  *
  * It trusts a size estimate only through operators that cannot
  * multiply rows ([[measured]]): a `Generate`, a Dataset `flatMap` /
  * `mapPartitions` (or any operator not listed there) below the sort
  * makes it decline, and so does a leaf whose size is not measured —
  * the `LogicalRDD` a `localCheckpoint` leaves carries only the old
  * plan's estimate. A materialized AQE stage is measured: when an
  * aggregate stage finishes, AQE re-plans the sort above it with the
  * stage's runtime size, and that is where aggregate→sort queries get
  * the one-partition exchange. Scan→project→sort queries get it at the
  * first plan, from file sizes.
  *
  * `ORDER BY … LIMIT n` never reaches here: SpecialLimits plans it as
  * TakeOrderedAndProject at the Limit node, above the Sort.
  */
object SmallSortPlanning extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Sort(order, true, child, _) if fitsOnePartition(child) =>
      SortExec(order, global = true,
        ShuffleExchangeExec(SinglePartition, planLater(child))) :: Nil
    case _ => Nil
  }

  /** The shuffle size AQE's CoalesceShufflePartitions collapses into one
    * partition: `minPartitionSize` when it maximizes parallelism (the
    * target is then max(total / parallelism, minPartitionSize)),
    * otherwise the advisory partition size. None when AQE or its
    * coalescing is off.
    */
  private[graft] def onePartitionBytes(conf: SQLConf): Option[Long] =
    if (!conf.adaptiveExecutionEnabled || !conf.coalesceShufflePartitionsEnabled) None
    else if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
      Some(conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE))
    else Some(conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))

  private def fitsOnePartition(child: LogicalPlan): Boolean =
    !child.isStreaming && !alreadyOnePartition(child) && measured(child) &&
      onePartitionBytes(SQLConf.get).exists(child.stats.sizeInBytes <= _)

  /** Whether every path from `p` down to its leaves keeps the size
    * estimate an upper bound on the rows that flow: each operator is one
    * that cannot emit more rows than its input (or, for Join and Expand,
    * one whose estimate already multiplies), and each leaf is sized from
    * data — files, local rows, a range, or a materialized stage.
    */
  private def measured(p: LogicalPlan): Boolean = p match {
    case q: LogicalQueryStage => q.isMaterialized || measured(q.logicalPlan)
    case _: LogicalRelation | _: LocalRelation | _: Range | _: OneRowRelation => true
    case _: Project | _: Filter | _: Aggregate | _: Window | _: WindowGroupLimit |
         _: Sort | _: Join | _: Union | _: Expand | _: GlobalLimit | _: LocalLimit |
         _: Sample | _: Deduplicate | _: RepartitionOperation | _: RebalancePartitions |
         _: SerializeFromObject | _: DeserializeToObject | _: MapElements |
         _: TypedFilter => p.children.forall(measured)
    case _ => false
  }

  /** Inputs whose physical plan already yields one partition (AllTuples
    * operators, a one-partition stage): the global sort needs no
    * exchange at all there, so adding one would add a stage.
    */
  private def alreadyOnePartition(p: LogicalPlan): Boolean = p match {
    case q: LogicalQueryStage => q.physicalPlan.outputPartitioning.numPartitions == 1
    case Project(_, c) => alreadyOnePartition(c)
    case Filter(_, c) => alreadyOnePartition(c)
    case a: Aggregate => a.groupingExpressions.isEmpty
    case w: Window => w.partitionSpec.isEmpty
    case _: GlobalLimit => true
    case _ => false
  }
}
