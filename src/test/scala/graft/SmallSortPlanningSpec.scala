package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.SmallSortPlanning

/** Pins [[graft.plans.SmallSortPlanning]]: a global sort whose measured
  * input fits the size AQE would coalesce into one partition plans one
  * SinglePartition exchange and no range-sampling job; anything it
  * cannot measure, or a larger input, keeps Spark's range exchange.
  */
class SmallSortPlanningSpec extends AnyFunSuite {

  /** A session without graft's strategy. The default session may carry
    * GraftExtensions (which newSession() inherits), so this one is
    * created, not reused; a context started with spark.sql.extensions
    * hands them to every session, so such a context is replaced. */
  private lazy val spark: SparkSession = {
    def create() = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .create()
    val s = create()
    if (!s.sessionState.planner.strategies.contains(SmallSortPlanning)) s
    else { s.stop(); create() }
  }

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

  private def onePartitionSort(p: SparkPlan): Boolean =
    p.toString.contains("Exchange SinglePartition") && !p.toString.contains("rangepartitioning")

  private def rangeSort(p: SparkPlan): Boolean =
    p.toString.contains("rangepartitioning") && !p.toString.contains("Exchange SinglePartition")

  /** Runs `df.collect()` and returns its rows with the jobs it started,
    * counted by a SparkListener on a job group of its own. */
  private def collectCountingJobs(df: DataFrame): (Seq[Row], Int) = {
    val sc = df.sparkSession.sparkContext
    val group = s"small-sort-${System.nanoTime()}"
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "SmallSortPlanningSpec")
      val rows = try df.collect().toSeq finally sc.clearJobGroup()
      org.apache.spark.graftspec.Bus.drain(sc)
      (rows, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  test("a small scan→project→ORDER BY plans Exchange SinglePartition and runs one job fewer") {
    def q(s: SparkSession) = s.read.parquet(smallParquet)
      .select(col("k"), (col("id") * 3).as("x"), col("s"))
      .orderBy(col("k"), col("x"))
    val (plain, installed) = (q(session(installed = false)), q(session(installed = true)))
    assert(rangeSort(initialPlan(plain)), initialPlan(plain).toString)
    assert(onePartitionSort(initialPlan(installed)), initialPlan(installed).toString)
    val (rowsPlain, jobsPlain) = collectCountingJobs(plain)
    val (rowsInstalled, jobsInstalled) = collectCountingJobs(installed)
    assert(rowsInstalled.size == 2000 && rowsInstalled == rowsPlain,
      "same rows in the same order with and without the strategy")
    assert(jobsInstalled == jobsPlain - 1,
      s"the range-sampling job should be the only job saved: $jobsPlain -> $jobsInstalled")
  }

  test("an aggregate→ORDER BY gets the one-partition exchange when AQE re-plans") {
    // 200,000 range rows estimate 1.6 MB before the aggregate runs — above
    // the 1 MB one-partition size — so the first plan keeps the range
    // exchange; the aggregate stage then measures a few hundred bytes
    val s = session(installed = true)
    val df = s.range(0, 200000).groupBy((col("id") % 7).as("g")).count().orderBy(col("g"))
    assert(rangeSort(initialPlan(df)), initialPlan(df).toString)
    val (rows, _) = collectCountingJobs(df)
    assert(rows.map(_.getLong(0)) == (0L until 7L))
    assert(onePartitionSort(finalPlan(df)), finalPlan(df).toString)
  }

  test("the one-partition size follows AQE's coalescing confs; a larger input keeps rangepartitioning") {
    val s = session(installed = true)
    def q = s.range(0, 200000).select(col("id"), (-col("id")).as("neg")).orderBy(col("neg"))
    assert(SmallSortPlanning.onePartitionBytes(s.sessionState.conf).contains(1L << 20))
    assert(rangeSort(initialPlan(q)), "1.6 MB estimate over the 1 MB minPartitionSize")
    // without parallelismFirst AQE coalesces up to the advisory size
    s.conf.set("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
    assert(SmallSortPlanning.onePartitionBytes(s.sessionState.conf).contains(64L << 20))
    assert(onePartitionSort(initialPlan(q)), initialPlan(q).toString)
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
    assert(onePartitionSort(initialPlan(base.select("k", "s").orderBy("k"))), "control")
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
      assert("Exchange".r.findAllIn(p).size == 1 && !p.contains("rangepartitioning"), s"$name:\n$p")
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
    val (prevDefault, prevActive) = (SparkSession.getDefaultSession, SparkSession.getActiveSession)
    val viaExtensions = try {
      SparkSession.builder()
        .config("spark.sql.extensions", "graft.GraftExtensions")
        .withExtensions(new GraftExtensions()(_))
        .create()
    } finally {
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
    viaExtensions.conf.set("spark.sql.shuffle.partitions", "4")
    assert(!viaExtensions.experimental.extraStrategies.contains(SmallSortPlanning),
      "the extension session must get the strategy from GraftExtensions alone")
    def plan(s: SparkSession) =
      initialPlan(s.read.parquet(smallParquet).select("k", "id").orderBy("k"))
    val viaInstall = session(installed = true)
    assert(onePartitionSort(plan(viaExtensions)), plan(viaExtensions).toString)
    assert(shape(plan(viaExtensions)) == shape(plan(viaInstall)))
    // install is idempotent, also on a session that has the extensions
    plans.install(viaInstall); plans.install(viaInstall)
    assert(viaInstall.experimental.extraStrategies.count(_ eq SmallSortPlanning) == 1)
    assert(viaInstall.experimental.extraOptimizations
      .count(_ eq plans.EventTimeDayPruning) == 1)
  }
}
