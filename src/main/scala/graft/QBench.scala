package graft

import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd,
  SparkListenerJobStart}
import org.apache.spark.sql.execution.{SQLExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Single-query bench/explain harness for iterating:
  * `runMain graft.QBench <queryName>[,name2,...] [explain] [jobs] [triggers] [runs=N]`
  * over SPARK_GRAFT_SF_DIR (default sf0.1). Times N runs (default 2,
  * warm JVM). For the LAST run, `jobs` prints a per-Spark-job time
  * breakdown (job description → wall seconds), the local stand-in for
  * the Spark UI's Jobs page (guide §1.1/§1.5) on a UI-less box, and
  * `triggers` prints each stream trigger's `durationMs` phases and
  * state-operator metrics, the stand-in for its Structured Streaming tab.
  */
object QBench {
  private val RunTag = "graft.qbench.run"
  private val Usage =
    "usage: graft.QBench <queryName>[,name2,...] [explain] [jobs] [triggers] [runs=N]"
  private val RunsArg = """runs=(\d+)""".r

  def main(args: Array[String]): Unit = {
    val flags = args.drop(1)
    val names = args.headOption.toSeq.flatMap(_.split(',')).filter(_.nonEmpty)
    val unknown = names.filterNot(SparkEntry.queries.contains) ++ flags.filter {
      case "explain" | "jobs" | "triggers" | RunsArg(_) => false
      case _ => true
    }
    if (names.isEmpty || unknown.nonEmpty) {
      System.err.println(if (unknown.isEmpty) Usage else s"$Usage (unknown: ${unknown.mkString(", ")})")
      sys.exit(2)
    }
    val runs = flags.collectFirst { case RunsArg(n) => n.toInt }.getOrElse(2)
    val sfDir = Session.envLake
    val spark = Session.local(sfDir)
    spark.sparkContext.setLogLevel("WARN")
    // A run's jobs and stream queries are the ones carrying its tag, not
    // the ones that ended while it ran: the listener buses deliver events
    // late. The tag is a local property of its own, which threads the run
    // starts (a stream replay's) inherit and no job group overrides.
    def runTag = Option(spark.sparkContext.getLocalProperty(RunTag)).getOrElse("")
    // (jobId, run tag, description, wall ms)
    val jobLog = new ConcurrentLinkedQueue[(Int, String, String, Long)]()
    val starts = new ConcurrentHashMap[Int, (Long, String, String)]()
    // SQL execution id → the root operator of its plan; the bus delivers
    // an execution's start before the start of any job it runs
    val planRoots = new ConcurrentHashMap[Long, String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart => planRoots.put(x.executionId, planRoot(x.sparkPlanInfo))
        case _ =>
      }
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(js.properties).flatMap(p => Option(p.getProperty(k)))
        // a final stage built by an RDD method (`mapPartitionsInternal`)
        // names no operator; its SQL execution's plan does
        def byPlan(op: String) = if (!op.head.isLower) op else
          prop(SQLExecution.EXECUTION_ID_KEY).flatMap(id => Option(planRoots.get(id.toLong)))
            .getOrElse(op)
        val desc = prop("spark.job.description").filter(_.nonEmpty).map(oneLine)
          .orElse(js.stageInfos.sortBy(_.stageId).lastOption.map(operator).map(byPlan))
          .getOrElse("?")
        starts.put(js.jobId, (js.time, prop(RunTag).getOrElse(""), desc))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        Option(starts.remove(je.jobId)).foreach { case (t0, tag, desc) =>
          jobLog.add((je.jobId, tag, desc, je.time - t0))
        }
    })
    // stream runId → the tag of the run that started it. onQueryStarted
    // runs on the query's own thread, which inherited the tag.
    val queryRuns = new ConcurrentHashMap[UUID, String]()
    val ended = ConcurrentHashMap.newKeySet[UUID]()
    val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        queryRuns.put(e.runId, runTag)
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(e.progress)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        ended.add(e.runId)
    })
    def waitFor(done: => Boolean): Unit = {
      val deadline = System.nanoTime() + 5000000000L
      while (!done && System.nanoTime() < deadline) Thread.sleep(10)
    }
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      if (flags.contains("explain")) fn(spark, sfDir).explain("formatted")
      (1 to runs).foreach { i =>
        spark.sparkContext.setLocalProperty(RunTag, s"$name run$i")
        val t0 = System.nanoTime()
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        finally spark.sparkContext.setLocalProperty(RunTag, null)
        println(f"[qbench] $name run$i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
      val last = s"$name run$runs"
      if (flags.contains("jobs")) {
        // a fence job: the bus delivers events in order, so once the
        // fence's end has arrived so has every event of the runs before it
        spark.sparkContext.setLocalProperty(RunTag, "fence")
        try spark.sparkContext.parallelize(Seq(1), 1).count()
        finally spark.sparkContext.setLocalProperty(RunTag, null)
        waitFor(jobLog.asScala.exists(_._2 == "fence"))
        jobLog.removeIf(_._2 == "fence")
        val js = jobLog.asScala.toSeq.filter(_._2 == last).sortBy(_._1)
        println(s"[qbench] $name last-run jobs: ${js.size}, " +
          f"sum ${js.map(_._4).sum / 1e3}%.2f s")
        js.foreach { case (id, _, desc, ms) =>
          println(f"[qbench]   job $id%4d ${ms / 1e3}%7.3f s  ${desc.take(110)}")
        }
      }
      if (flags.contains("triggers")) {
        // a query's progress events all precede its termination event
        val ids = queryRuns.asScala.collect { case (id, t) if t == last => id }.toSet
        waitFor(ids.forall(ended.contains))
        val ps = progress.asScala.toSeq.filter(p => ids.contains(p.runId))
        println(s"[qbench] $name last-run triggers: ${ps.size} in ${ids.size} queries")
        ps.sortBy(p => (p.runId.toString, p.batchId)).foreach { p =>
          println(s"[qbench]   batch ${p.batchId} rows=${p.numInputRows} " +
            s"durations=${p.durationMs}")
          p.stateOperators.foreach { so =>
            println(s"[qbench]     state op=${so.operatorName} " +
              s"rowsTotal=${so.numRowsTotal} updated=${so.numRowsUpdated} " +
              s"commitMs=${so.commitTimeMs} mem=${so.memoryUsedBytes}")
          }
        }
      }
    }
    spark.stop()
  }

  /** A job without a description is named by the operator whose scope
    * built its final stage's RDD, e.g. `Exchange` or
    * `WholeStageCodegen (3)`; the call site names only the pool thread
    * that AQE ran the action on. A scope that is an RDD method gives
    * way to the root operator of the job's SQL execution ([[planRoot]]).
    */
  private def operator(stage: org.apache.spark.scheduler.StageInfo): String =
    stage.rddInfos.flatMap(_.scope).headOption.map(_.name).getOrElse(stage.name)

  /** The root operator of a SQL execution's plan, below the
    * `AdaptiveSparkPlan` wrapper, e.g. `Execute InsertIntoHadoopFsRelationCommand`.
    */
  private def planRoot(plan: SparkPlanInfo): String =
    if (plan.nodeName == "AdaptiveSparkPlan") plan.children.headOption.fold(plan.nodeName)(planRoot)
    else plan.nodeName

  /** A micro-batch job's description is Spark's multi-line
    * `<name>\nid = …\nrunId = …\nbatch = N`; it prints as
    * `stream batch N`. Any other description prints with its line
    * breaks folded.
    */
  private val MicroBatch = """(?s).*\nrunId = [^\n]*\nbatch = (\S+).*""".r
  private def oneLine(desc: String): String = desc match {
    case MicroBatch(batch) => s"stream batch $batch"
    case _ => desc.trim.replaceAll("\\s*\n\\s*", " / ")
  }
}
