package graft.plans

import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.{CoalesceExec, SortExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.adaptive.{BroadcastQueryStageExec, LogicalQueryStage,
  ShuffleQueryStageExec}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation,
  PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS,
  REBALANCE_PARTITIONS_BY_COL, REBALANCE_PARTITIONS_BY_NONE, REPARTITION_BY_COL,
  ShuffleExchangeExec, ShuffleOrigin}
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
  * This strategy plans such a sort in one partition instead, with no
  * sampling job and the same rows in the same order. "Small" is exactly
  * the size below which AQE's own coalescing collapses a shuffle into
  * one partition ([[onePartitionBytes]]); with AQE or coalescing off it
  * never fires, and no conf of its own exists. The plan picks one of
  * two forms:
  *
  *  - `SortExec(global) <- CoalesceExec(1)` when the input is already
  *    one partition wide ([[oneStagePartition]], [[oneSplit]]): every
  *    leaf is a materialized AQE stage that AQE reads as one partition,
  *    or the only leaf is a one-file scan or a local relation under
  *    operators that keep partitions. The sort then runs in the task
  *    that computes its input (the final aggregate above the stage, or
  *    the per-row kernel above the scan), with no stage of its own.
  *  - `SortExec(global) <- Exchange SinglePartition` otherwise: a small
  *    input spread over several splits or partitions keeps its
  *    parallelism below one shuffle.
  *
  * It trusts a size estimate only through operators that cannot
  * multiply rows ([[measured]]): a `Generate`, a Dataset `flatMap` /
  * `mapPartitions` (or any operator not listed there) below the sort
  * makes it decline, and so does a leaf whose size is not measured —
  * the `LogicalRDD` a [[graft.Materialize]] boundary leaves carries
  * only the old plan's estimate. A materialized AQE stage is measured: when an
  * aggregate stage finishes, AQE re-plans the sort above it with the
  * stage's runtime size, and that is where aggregate→sort queries get
  * the one-stage form. Scan→project→sort queries get their form at the
  * first plan, from file sizes.
  *
  * `ORDER BY … LIMIT n` never reaches here: SpecialLimits plans it as
  * TakeOrderedAndProject at the Limit node, above the Sort.
  */
object SmallSortPlanning extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Sort(order, true, child, _)
        if !child.isStreaming && !alreadyOnePartition(child) && measured(child) =>
      val conf = SQLConf.get
      onePartitionBytes(conf).filter(child.stats.sizeInBytes <= _).map { bytes =>
        val input = planLater(child)
        SortExec(order, global = true,
          if (oneStagePartition(child, bytes) || oneSplit(child, conf)) CoalesceExec(1, input)
          else ShuffleExchangeExec(SinglePartition, input))
      }.toSeq
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

  /** The shuffle origins AQE's CoalesceShufflePartitions coalesces. */
  private val coalescedOrigins: Set[ShuffleOrigin] =
    Set(ENSURE_REQUIREMENTS, REPARTITION_BY_COL, REBALANCE_PARTITIONS_BY_NONE,
      REBALANCE_PARTITIONS_BY_COL)

  /** Whether AQE reads all of `p`'s input as one partition: every leaf is
    * a materialized AQE stage (a `LogicalQueryStage` holds the physical
    * operators above its stages too, such as a final aggregate), each
    * stage is a broadcast or a shuffle AQE coalesces, and the shuffles
    * together measure at most `bytes`. AQE coalesces the shuffles under
    * one stage only when all of that stage's leaves are stages, which is
    * why no other leaf may appear.
    */
  private def oneStagePartition(p: LogicalPlan, bytes: Long): Boolean = {
    val leaves = p.collectLeaves()
    val stages = leaves.flatMap {
      case q: LogicalQueryStage => q.physicalPlan.collectLeaves()
      case _ => Nil
    }
    leaves.forall(_.isInstanceOf[LogicalQueryStage]) && stages.forall {
      case s: ShuffleQueryStageExec => s.isMaterialized && coalescedOrigins(s.shuffle.shuffleOrigin)
      case b: BroadcastQueryStageExec => b.isMaterialized
      case _ => false
    } && stages.collect { case s: ShuffleQueryStageExec => s.getRuntimeStatistics.sizeInBytes }
      .sum <= bytes
  }

  /** Whether `p` is operators that keep partitions over one leaf that a
    * single task reads whole:
    *  - one unbucketed file no longer than both `maxPartitionBytes` and
    *    `openCostInBytes`. Spark never splits such a file (its split size
    *    is at least the smaller of the two), so the scan is one task.
    *    Several small files are several splits at the default open cost,
    *    which fills a split per file.
    *  - a `LocalRelation`. Its rows are on the driver and the caller has
    *    measured them at or below the one-partition size, so reading
    *    them in one task costs nothing a spread over several would save.
    */
  private def oneSplit(p: LogicalPlan, conf: SQLConf): Boolean = p match {
    case _: Project | _: Filter | _: SerializeFromObject | _: DeserializeToObject |
         _: MapElements | _: TypedFilter => oneSplit(p.children.head, conf)
    case _: LocalRelation => true
    case l: LogicalRelation => l.relation match {
      case HadoopFsRelation(files: PartitioningAwareFileIndex, _, _, None, _, _) =>
        files.allFiles() match {
          case Seq(f) =>
            f.getLen <= math.min(conf.filesMaxPartitionBytes, conf.filesOpenCostInBytes)
          case _ => false
        }
      case _ => false
    }
    case _ => false
  }
}
