package org.apache.spark.graftspec

import org.apache.spark.SparkContext
import org.apache.spark.rdd.{LocalRDDCheckpointData, RDD}

/** A spec that sets the context's checkpoint directory puts the prior
  * one back, so no later spec in the JVM runs with it. The setter only
  * resolves a new directory, so the restore writes the `private[spark]`
  * field, hence this package.
  */
object Checkpoints {
  def withDir[T](sc: SparkContext, dir: String)(body: => T): T = {
    val prior = sc.checkpointDir
    sc.setCheckpointDir(dir)
    try body finally sc.checkpointDir = prior
  }

  def isLocal(rdd: RDD[_]): Boolean =
    rdd.checkpointData.exists(_.isInstanceOf[LocalRDDCheckpointData[_]])
}
