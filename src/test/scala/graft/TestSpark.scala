package graft

import org.apache.spark.sql.SparkSession

/** The specs' sessions, all built by [[graft.Session]]. */
object TestSpark {
  val Sf = "/root/testdata/sf0.001"
  val Cpus = 4

  /** The one session the specs share. No spec stops it. */
  lazy val shared: SparkSession = Session.local(Sf, Cpus)

  /** A new session over the shared context, optionally built with
    * GraftExtensions, left neither default nor active for later specs.
    */
  def isolated(extensions: Boolean): SparkSession = {
    val (prevDefault, prevActive) = (SparkSession.getDefaultSession, SparkSession.getActiveSession)
    val b = Session.builder(Cpus, Sf)
    try (if (extensions) b.withExtensions(new GraftExtensions()(_)) else b).create()
    finally {
      SparkSession.clearDefaultSession()
      SparkSession.clearActiveSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }
}

/** Mixes the shared session into a spec as `spark`. */
trait TestSpark {
  lazy val spark: SparkSession = TestSpark.shared
}
