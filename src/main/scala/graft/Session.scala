package graft

import org.apache.spark.sql.SparkSession

/** graft's local session, the one place its confs are spelled: every
  * main and every spec builds its SparkSession here.
  *
  * A session over the lake `sfDir` runs on `local[cpus]`, reads INT64
  * nanosecond timestamps as longs (`nanosAsLong`), shuffles at the width
  * [[Sizing.shufflePartitions]] derives from the lake's parquet bytes,
  * keeps time in UTC and starts no UI. These are the confs perfbench's
  * `Harness` sets, so the plan the oracle checks is the plan that is
  * benched.
  */
object Session {

  /** Cores of the local master: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt)

  /** The lake a main runs over when it takes none as an argument:
    * `SPARK_GRAFT_SF_DIR`, default sf0.1. */
  def envLake: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  def confs(cpus: Int, sfDir: String): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.shuffle.partitions" -> Sizing.shufflePartitions(sfDir, cpus).toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  /** A builder carrying [[confs]]; `create()` on it gives a new session
    * over the JVM's context. */
  def builder(cpus: Int, sfDir: String): SparkSession.Builder =
    SparkSession.builder().config(confs(cpus, sfDir).toMap)

  /** The JVM's default session, created with [[confs]] if there is none. */
  def local(sfDir: String, cpus: Int = Session.cpus): SparkSession =
    builder(cpus, sfDir).getOrCreate()
}
