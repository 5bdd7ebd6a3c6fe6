package org.apache.spark.sql.graftshim

import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.classic.Dataset

/** The session internals a stream start needs, for the same reason
  * [[ColumnBridge]] exists: a frame over a rewritten logical plan
  * (`classic.Dataset.ofRows` is `private[sql]`), and whether a session
  * holds artifacts of its own.
  */
object SessionBridge {

  /** A DataFrame over `plan`, analyzed in `s`. */
  def ofRows(s: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(castToImpl(s), plan)

  /** Whether `s` holds session-scoped artifacts: added classes, jars,
    * files, archives or Python includes. Its tasks find them only
    * through the executor classloader and file root that artifact
    * isolation gives each session. The artifact manager keeps this
    * bookkeeping in members that are `protected` in Scala but public in
    * bytecode, so they are read through their JVM accessors.
    */
  def holdsArtifacts(s: SparkSession): Boolean = {
    val am = castToImpl(s).artifactManager
    def member[T](name: String): T = am.getClass.getMethod(name).invoke(am).asInstanceOf[T]
    // classes and jars set the flag; jars, files and archives are
    // recorded as SparkContext resources
    member[AtomicBoolean]("sessionArtifactAdded").get ||
      !member[java.util.Collection[_]]("sparkContextRelativePaths").isEmpty ||
      am.getPythonIncludes.nonEmpty
  }
}
