package graft

import org.apache.spark.sql.DataFrame

/** graft's one materialization point: `Materialize(df)`, or
  * `df.transform(Materialize)`, makes `df` a stage boundary whose rows
  * are computed once, in the first action that reads them, and re-read
  * by every later consumer. Each call site names its consumers; the
  * reasons are these. Catalyst shares no common subtrees, so a frame
  * several branches consume re-runs its upstream once per branch; a
  * frame a loop re-references each round grows a plan that doubles per
  * round; and a global sort whose input has no size estimate (a Dataset
  * `flatMap`, an `explode`) keeps Spark's range exchange, whose
  * sampling job would run the upstream a second time.
  *
  * The boundary is lazy (a library operator runs no job when it builds
  * a DataFrame), and its `LogicalRDD` leaf carries the old plan's size
  * estimate, which [[graft.plans.SmallSortPlanning]] does not trust.
  *
  * How the rows are kept is the deployment's choice, made once by the
  * SparkContext's checkpoint directory (`spark.checkpoint.dir`), never
  * by an operator; replication is the cluster's concern (HDFS, S3):
  *  - no directory, as in every graft main, spec and benchmark run: a
  *    local checkpoint. The rows live on the executor that computed
  *    them and lineage stops at the boundary, so an executor lost
  *    between the action that builds them and the last one that reads
  *    them fails that action instead of recomputing the upstream;
  *  - a directory: a reliable checkpoint. After the first action that
  *    computes the frame, Spark computes it once more to write it there,
  *    and the written rows survive executor loss.
  */
object Materialize extends (DataFrame => DataFrame) {
  def apply(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(eager = false)
    else df.localCheckpoint(eager = false)
}
