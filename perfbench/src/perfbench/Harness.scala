package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Runs one workload's lanes in a closed loop inside one JVM and writes
  * every measurement as JSON lines; `perfbench/run.py` turns them into
  * metrics and checks the answers.
  *
  * Phases: the session; the set-up rounds, each over its own copy of
  * the lake (first-call staging of the events layout, then one untimed
  * pass whose lanes stage their own layouts; the last round also writes
  * each lane's answer); the heap after a full GC; timed passes until the
  * time budget is spent; and in traced runs the single-layer
  * measurements.
  *
  * Each lane execution is timed at three public boundaries: the lane
  * builder call, `executedPlan`, and the noop write action.
  */
object Harness {

  final case class Conf(lakes: Seq[String], lanes: Seq[String], seconds: Double,
                        trace: Boolean, out: String, checkDir: String, cores: Int)


  private def parse(args: Array[String]): Conf = {
    val kv = args.map { a =>
      val i = a.indexOf('=')
      require(i > 0, s"expected key=value, got '$a'")
      a.substring(0, i) -> a.substring(i + 1)
    }.toMap
    Conf(kv("lakes").split(',').toSeq, kv("lanes").split(',').toSeq.filter(_.nonEmpty), kv("seconds").toDouble,
      kv("trace") == "1", kv("out"), kv("check"), kv("cores").toInt)
  }

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)
  private val records = mutable.ArrayBuffer.empty[String]
  private def emit(kind: String, fields: (String, Any)*): Unit =
    records += json.writeValueAsString(ListMap(("kind" -> kind) +: fields: _*))

  final case class Exec(buildS: Double, planS: Double, actionS: Double, error: Option[String]) {
    def wallS: Double = buildS + planS + actionS
  }

  /** One lane execution, timed at the builder, plan and action boundaries.
    * With an answer directory the action writes the answer as parquet
    * instead of to the noop sink. A failed execution is charged whole to
    * the builder; failures are left out of the timing metrics.
    */
  private def execute(spark: SparkSession, lake: String,
                      fn: (SparkSession, String) => DataFrame,
                      answerDir: Option[String]): Exec = {
    val t0 = System.nanoTime()
    try {
      val df = fn(spark, lake)
      val t1 = System.nanoTime()
      df.queryExecution.executedPlan
      val t2 = System.nanoTime()
      answerDir match {
        case None => df.write.format("noop").mode("overwrite").save()
        case Some(dir) => df.coalesce(1).write.mode("overwrite").parquet(dir)
      }
      val t3 = System.nanoTime()
      Exec((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9, None)
    } catch {
      case NonFatal(e) =>
        val msg = (e.getClass.getName + ": " + Option(e.getMessage).getOrElse("")).take(300)
        Exec((System.nanoTime() - t0) / 1e9, 0, 0, Some(msg))
    }
  }

  def main(args: Array[String]): Unit = {
    val c = parse(args)
    val queries = graft.SparkEntry.queries
    val missing = c.lanes.filterNot(queries.contains)
    require(missing.isEmpty, s"unknown lanes: ${missing.mkString(",")}")
    val lanes = c.lanes.map(n => n -> queries(n))
    val lake = c.lakes.last // the timed passes' lake, the one the answers come from

    val spark = SparkSession.builder()
      .master(s"local[${c.cores}]")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.shuffle.partitions",
        graft.Sizing.shufflePartitions(lake, c.cores).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    emit("session", "at_ms" -> System.currentTimeMillis())

    val tracer = if (c.trace) Some(new Tracer(spark)) else None
    if (c.trace && !Codegen.installSummingReservoir())
      System.err.println("perfbench: codegen compile time is not available; it reads 0")

    val oracles = graft.SparkEntry.oracleSql
    def pass(phase: String, index: Int, lake: String, traced: Boolean,
             answers: Boolean = false): Double = {
      if (traced) tracer.foreach(_.attach())
      val w0 = Witness.now()
      val p0 = System.nanoTime()
      lanes.foreach { case (name, fn) =>
        val cg0 = Codegen.compiles
        val cs0 = Codegen.compileSeconds
        val e = execute(spark, lake, fn, Some(s"${c.checkDir}/$name").filter(_ => answers))
        if (answers)
          emit("answer", "lane" -> name, "error" -> e.error.orNull,
            "oracle" -> oracles.get(name).orNull)
        val laneFields = Seq[(String, Any)]("phase" -> phase, "pass" -> index,
          "traced" -> traced, "lane" -> name, "build_s" -> e.buildS, "plan_s" -> e.planS,
          "action_s" -> e.actionS, "wall_s" -> e.wallS, "error" -> e.error.orNull,
          "codegen_compiles" -> (Codegen.compiles - cg0))
        val traceFields: Seq[(String, Any)] = if (!traced) Nil else tracer.map(_.take()).map { t =>
          Seq("codegen_compile_s" -> (Codegen.compileSeconds - cs0), "jobs" -> t.jobs,
            "tasks" -> t.tasks, "exec_s" -> t.jobWallS, "task_cpu_s" -> t.taskCpuS,
            "task_run_s" -> t.taskRunS, "shuffle_write_bytes" -> t.shuffleWriteBytes,
            "spill_bytes" -> t.spillBytes, "bytes_written" -> t.outputBytes,
            "triggers" -> t.triggers, "trigger_ms" -> t.triggerMs,
            "add_batch_ms" -> t.addBatchMs, "wal_commit_ms" -> t.walCommitMs,
            "state_commit_ms" -> t.stateCommitMs, "state_rows" -> t.stateRows)
        }.getOrElse(Nil)
        emit("lane", laneFields ++ traceFields: _*)
      }
      val wall = (System.nanoTime() - p0) / 1e9
      val w = Witness.now() - w0
      if (traced) tracer.foreach(_.detach())
      emit("pass", "phase" -> phase, "pass" -> index, "traced" -> traced, "wall_s" -> wall,
        "jit_s" -> w.jitS, "gc_s" -> w.gcS, "steal_s" -> w.stealS,
        "codegen_compiles" -> w.compiles)
      wall
    }

    // Set-up, once per lake copy: a fresh lake path misses every staged
    // layout and memo, so each round does the whole first-call work again
    // (the events layout, then each lane's own layouts inside its first
    // execution), in a JVM that is warmer each time. The rounds are also
    // the warm-up of the timed passes; the JIT time of each is in the
    // pass records. The last round writes the lanes' answers for the
    // check, so each checked answer comes from a JVM that already ran
    // every lane.
    c.lakes.zipWithIndex.foreach { case (roundLake, k) =>
      val r0 = System.nanoTime()
      graft.Tables.eventsLakeRoot(spark, roundLake)
      val stageS = (System.nanoTime() - r0) / 1e9
      val passS = pass("setup", k, roundLake, traced = false, answers = roundLake == lake)
      emit("setup_round", "round" -> k, "stage_s" -> stageS, "pass_s" -> passS,
        "wall_s" -> (System.nanoTime() - r0) / 1e9)
    }

    // The heap the lanes keep alive, read after the set-up: the same work
    // in every run. At the end of the timed region it would also count
    // however many passes the machine's speed allowed, and a lane that
    // retains memory per execution would turn speed into heap. Spark
    // keeps the last query's state reachable, so a fixed query runs last
    // and the last lane's state is not counted.
    spark.range(1).write.format("noop").mode("overwrite").save()
    System.gc()
    Thread.sleep(200) // let Spark's cleaner drop what the first collection freed
    System.gc()
    emit("heap", "live_heap_mb" ->
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6)

    // timed passes: start another only if a typical one still fits;
    // traced runs need four (see below)
    val minPasses = if (c.trace) 4 else 2
    emit("timed_start", "at_ms" -> System.currentTimeMillis())
    val t0 = System.nanoTime()
    val walls = mutable.ArrayBuffer.empty[Double]
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (walls.length < minPasses ||
      elapsed + walls.sorted.apply(walls.length / 2) <= c.seconds) {
      // traced runs go untraced, traced, traced, untraced, ... so that a
      // steady drift across passes cancels out of the tracing overhead
      walls += pass("timed", walls.length, lake, traced = c.trace && Set(1, 2)(walls.length % 4))
    }
    emit("timed_end", "timed_s" -> elapsed)

    if (c.trace)
      Layers.all(spark, lake).foreach { case (n, v) => emit("layer", "name" -> n, "value" -> v) }
    Files.write(Paths.get(c.out), (records.mkString("\n") + "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
