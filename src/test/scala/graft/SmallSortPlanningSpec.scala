package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.SmallSortPlanning

/** Pins [[graft.plans.SmallSortPlanning]]: a global sort whose measured
  * input fits the size AQE would coalesce into one partition runs no
  * range-sampling job. An input already one partition wide (a one-file
  * scan, or materialized stages AQE reads as one partition) is sorted
  * under `Coalesce 1` in the stage that holds it; a small input over
  * several splits keeps one SinglePartition exchange; anything it cannot
  * measure, or a larger input, keeps Spark's range exchange.
  */
class SmallSortPlanningSpec extends AnyFunSuite with TestSpark {

  /** A fresh session over the shared context, with graft's plan rules
    * installed or not. */
  private def session(installed: Boolean): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "4")
    s.conf.set("spark.sql.session.timeZone", "UTC")
    if (installed) plans.install(s)
    assert(s.sessionState.planner.strategies.contains(SmallSortPlanning) == installed)
    s
  }

  /** 2,000 rows of (id, k, s) in one small parquet file: a measured leaf. */
  private lazy val smallParquet: String = {
    val dir = Files.createTempDirectory("graft_small_sort").resolve("t").toString
    spark.range(0, 2000).selectExpr("id", "(id * 7919) % 2000 AS k", "concat('r', id) AS s")
      .coalesce(1).write.parquet(dir)
    dir
  }

  private def initialPlan(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.initialPlan
    case p => p
  }

  private def finalPlan(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.finalPhysicalPlan
    case p => p
  }

  /** A plan's text without the ids that differ between sessions. */
  private def shape(p: SparkPlan): String =
    p.toString.replaceAll("#\\d+", "#").replaceAll("plan_id=\\d+", "plan_id=")

  /** Sorted under `Coalesce 1`, in the stage that computes its input. */
  private def oneStageSort(p: SparkPlan): Boolean = {
    val t = p.toString
    t.contains("Coalesce 1") && !t.contains("SinglePartition") && !t.contains("rangepartitioning")
  }

  /** Sorted behind one SinglePartition exchange of its own. */
  private def exchangeSort(p: SparkPlan): Boolean = {
    val t = p.toString
    t.contains("Exchange SinglePartition") && !t.contains("Coalesce 1") &&
      !t.contains("rangepartitioning")
  }

  /** The same 2,000 rows as [[smallParquet]], in three files. */
  private lazy val threeFileParquet: String = {
    val dir = Files.createTempDirectory("graft_small_sort3").resolve("t").toString
    spark.read.parquet(smallParquet).repartition(3).write.parquet(dir)
    dir
  }

  private def rangeSort(p: SparkPlan): Boolean =
    p.toString.contains("rangepartitioning") && !p.toString.contains("Exchange SinglePartition")

  /** Runs `df.collect()` and returns its rows with the jobs it started. */
  private def collectCountingJobs(df: DataFrame): (Seq[Row], Int) =
    org.apache.spark.graftspec.Bus.countingJobs(df.sparkSession.sparkContext)(df.collect().toSeq)

  test("a one-file scan→ORDER BY sorts in the scan's task, in one job") {
    def q(s: SparkSession) = s.read.parquet(smallParquet)
      .select(col("k"), (col("id") * 3).as("x"), col("s"))
      .orderBy(col("k"), col("x"))
    val (plain, installed) = (q(session(installed = false)), q(session(installed = true)))
    assert(rangeSort(initialPlan(plain)), initialPlan(plain).toString)
    assert(oneStageSort(initialPlan(installed)), initialPlan(installed).toString)
    assert(!initialPlan(installed).toString.contains("Exchange"), initialPlan(installed).toString)
    val (rowsPlain, jobsPlain) = collectCountingJobs(plain)
    val (rowsInstalled, jobsInstalled) = collectCountingJobs(installed)
    assert(rowsInstalled.size == 2000 && rowsInstalled == rowsPlain,
      "same rows in the same order with and without the strategy")
    assert(jobsInstalled == 1 && jobsPlain == 3,
      s"one job, where the range sort runs a sampler, a map stage and a result: " +
        s"$jobsPlain -> $jobsInstalled")
  }

  test("a local relation→ORDER BY sorts in one task, in one job") {
    // the rows are on the driver and measured below the one-partition
    // size, so no SinglePartition exchange stage is planned for them
    def q(s: SparkSession) = {
      import s.implicits._
      (0 until 500).map(i => ((i * 7919) % 500, s"r$i")).toDF("k", "s").orderBy("k")
    }
    val (plain, installed) = (q(session(installed = false)), q(session(installed = true)))
    assert(rangeSort(initialPlan(plain)), initialPlan(plain).toString)
    assert(initialPlan(installed).toString.contains("LocalTableScan"), initialPlan(installed).toString)
    assert(oneStageSort(initialPlan(installed)), initialPlan(installed).toString)
    assert(!initialPlan(installed).toString.contains("Exchange"), initialPlan(installed).toString)
    val (rowsPlain, jobsPlain) = collectCountingJobs(plain)
    val (rowsInstalled, jobsInstalled) = collectCountingJobs(installed)
    assert(rowsInstalled.size == 500 && rowsInstalled == rowsPlain,
      "same rows in the same order with and without the strategy")
    assert(jobsInstalled == 1 && jobsPlain == 3,
      s"one job, where the range sort runs a sampler, a map stage and a result: " +
        s"$jobsPlain -> $jobsInstalled")
  }

  test("an aggregate→ORDER BY sorts in the final aggregate's stage at re-plan") {
    // 200,000 range rows estimate 1.6 MB before the aggregate runs — above
    // the 1 MB one-partition size — so the first plan keeps the range
    // exchange; the aggregate stage then measures a few hundred bytes
    def q(s: SparkSession) =
      s.range(0, 200000).groupBy((col("id") % 7).as("g")).count().orderBy(col("g"))
    val (plain, installed) = (q(session(installed = false)), q(session(installed = true)))
    assert(rangeSort(initialPlan(installed)), initialPlan(installed).toString)
    val (rowsPlain, jobsPlain) = collectCountingJobs(plain)
    val (rowsInstalled, jobsInstalled) = collectCountingJobs(installed)
    assert(rowsInstalled.map(_.getLong(0)) == (0L until 7L) && rowsInstalled == rowsPlain)
    val p = finalPlan(installed).toString
    assert(oneStageSort(finalPlan(installed)), p)
    assert("Exchange".r.findAllIn(p).size == 1, s"only the aggregate's own exchange:\n$p")
    assert(jobsInstalled == jobsPlain - 2,
      s"no sampler and no sort stage: $jobsPlain -> $jobsInstalled")
  }

  test("a small input over several splits keeps Exchange SinglePartition") {
    // three small files are three splits (each file's open cost fills a
    // split), and a repartition(3) stage is three partitions AQE does not
    // coalesce: sorting either under Coalesce 1 would run its input in one
    // task, so both keep one SinglePartition exchange
    def files(s: SparkSession) =
      s.read.parquet(threeFileParquet).select("k", "id", "s").orderBy("k")
    def repartitioned(s: SparkSession) =
      s.read.parquet(smallParquet).repartition(3).select("k", "id", "s").orderBy("k")
    val s = session(installed = true)
    assert(s.read.parquet(threeFileParquet).inputFiles.length == 3)
    for ((name, q) <- Seq("three files" -> files _, "repartition(3)" -> repartitioned _)) {
      val (plain, installed) = (q(session(installed = false)), q(s))
      assert(exchangeSort(initialPlan(installed)), s"$name:\n${initialPlan(installed)}")
      val (rowsPlain, jobsPlain) = collectCountingJobs(plain)
      val (rowsInstalled, jobsInstalled) = collectCountingJobs(installed)
      assert(exchangeSort(finalPlan(installed)), s"$name:\n${finalPlan(installed)}")
      assert(rowsInstalled.size == 2000 && rowsInstalled == rowsPlain, name)
      assert(jobsInstalled == jobsPlain - 1,
        s"$name: only the sampler is saved: $jobsPlain -> $jobsInstalled")
    }
  }

  test("the one-partition size follows AQE's coalescing confs; a larger input keeps rangepartitioning") {
    val s = session(installed = true)
    def q = s.range(0, 200000).select(col("id"), (-col("id")).as("neg")).orderBy(col("neg"))
    assert(SmallSortPlanning.onePartitionBytes(s.sessionState.conf).contains(1L << 20))
    assert(rangeSort(initialPlan(q)), "1.6 MB estimate over the 1 MB minPartitionSize")
    // without parallelismFirst AQE coalesces up to the advisory size
    s.conf.set("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
    assert(SmallSortPlanning.onePartitionBytes(s.sessionState.conf).contains(64L << 20))
    assert(exchangeSort(initialPlan(q)), initialPlan(q).toString)
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    assert(SmallSortPlanning.onePartitionBytes(s.sessionState.conf).isEmpty)
    assert(rangeSort(initialPlan(q)), "no coalescing, no one-partition plan")
  }

  test("with AQE off the plan is unchanged") {
    def q(s: SparkSession) = {
      s.conf.set("spark.sql.adaptive.enabled", "false")
      s.read.parquet(smallParquet).select("k", "id").orderBy("k")
    }
    val (plain, installed) = (q(session(installed = false)), q(session(installed = true)))
    assert(rangeSort(installed.queryExecution.executedPlan))
    assert(shape(installed.queryExecution.executedPlan) == shape(plain.queryExecution.executedPlan))
  }

  test("an explode, a Dataset flatMap or a localCheckpoint leaf below the sort makes it decline") {
    val s = session(installed = true)
    import s.implicits._
    val base = s.read.parquet(smallParquet)
    assert(oneStageSort(initialPlan(base.select("k", "s").orderBy("k"))), "control")
    val exploded = base.select(col("k"), explode(array(col("s"), col("s"))).as("e")).orderBy("k")
    val flatMapped = base.select("s").as[String].flatMap(x => Seq(x, x)).toDF("s").orderBy("s")
    val checkpointed = base.select("k", "s").localCheckpoint(false).orderBy("k")
    for ((name, df) <- Seq("explode" -> exploded, "flatMap" -> flatMapped,
        "localCheckpoint" -> checkpointed))
      assert(rangeSort(initialPlan(df)), s"$name:\n${initialPlan(df)}")
    assert(exploded.count() == 4000 && flatMapped.count() == 4000)
  }

  test("an input that is already one partition gets no second exchange") {
    val s = session(installed = true)
    val base = s.read.parquet(smallParquet)
    // a window without PARTITION BY and a global LIMIT both end in one
    // partition; the global sort above them needs no exchange at all
    val windowed = base.withColumn("r",
      row_number().over(org.apache.spark.sql.expressions.Window.orderBy("id"))).orderBy("k")
    val limited = base.limit(100).orderBy("k")
    for ((name, df) <- Seq("window" -> windowed, "limit" -> limited)) {
      val p = initialPlan(df).toString
      assert("Exchange".r.findAllIn(p).size == 1 && !p.contains("rangepartitioning") &&
        !p.contains("Coalesce 1"), s"$name:\n$p")
    }
    assert(windowed.collect().map(_.getLong(1)).toSeq == (0L until 2000L))
  }

  test("ORDER BY … LIMIT n still plans TakeOrderedAndProject") {
    val s = session(installed = true)
    val df = s.read.parquet(smallParquet).select("k", "id").orderBy("k").limit(5)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject") && !p.contains("Exchange SinglePartition"), p)
    assert(df.collect().map(_.getLong(0)).toSeq == (0L until 5L))
  }

  test("a GraftExtensions session and an install-only session plan a small ORDER BY the same way") {
    val viaExtensions = TestSpark.isolated(extensions = true)
    assert(!viaExtensions.experimental.extraStrategies.contains(SmallSortPlanning),
      "the extension session must get the strategy from GraftExtensions alone")
    def plan(s: SparkSession) =
      initialPlan(s.read.parquet(smallParquet).select("k", "id").orderBy("k"))
    val viaInstall = session(installed = true)
    assert(oneStageSort(plan(viaExtensions)), plan(viaExtensions).toString)
    assert(shape(plan(viaExtensions)) == shape(plan(viaInstall)))
    // install is idempotent, also on a session that has the extensions
    plans.install(viaInstall); plans.install(viaInstall)
    assert(viaInstall.experimental.extraStrategies.count(_ eq SmallSortPlanning) == 1)
    assert(viaInstall.experimental.extraOptimizations
      .count(_ eq plans.EventTimeDayPruning) == 1)
  }
}
