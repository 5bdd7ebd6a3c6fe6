package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.codahale.metrics.{Histogram, Reservoir, Snapshot}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Counters one traced lane execution leaves behind, read from Spark's
  * listener buses. Times are seconds unless the name says otherwise.
  */
final case class LaneTrace(
    jobs: Long, tasks: Long, jobWallS: Double, taskCpuS: Double, taskRunS: Double,
    shuffleWriteBytes: Long, spillBytes: Long, outputBytes: Long,
    triggers: Long, triggerMs: Seq[Long], addBatchMs: Long, walCommitMs: Long,
    stateCommitMs: Long, stateRows: Long)

/** One SparkListener and one StreamingQueryListener feeding a shared
  * accumulator. Attached only for traced passes; `take()` returns what
  * accumulated since the previous `take()` and resets.
  */
final class Tracer(spark: SparkSession) {
  private var jobs, tasks, shuffleWrite, spill, output = 0L
  private var taskCpuNs, taskRunMs = 0L
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  private var triggers, addBatch, walCommit, stateCommit = 0L
  private val triggerMs = mutable.ArrayBuffer.empty[Long]
  private val stateRowsByQuery = mutable.Map.empty[java.util.UUID, Long]

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      jobs += 1; jobStart(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStart.remove(e.jobId).foreach(s => jobSpans += ((s, e.time)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        taskCpuNs += m.executorCpuTime
        taskRunMs += m.executorRunTime
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        spill += m.memoryBytesSpilled + m.diskBytesSpilled
        output += m.outputMetrics.bytesWritten
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val p = e.progress
        val d = p.durationMs.asScala
        def ms(k: String): Long = d.get(k).map(_.longValue).getOrElse(0L)
        triggers += 1
        triggerMs += ms("triggerExecution")
        addBatch += ms("addBatch")
        walCommit += ms("walCommit")
        stateCommit += p.stateOperators.map(_.commitTimeMs).sum
        stateRowsByQuery(p.id) = p.stateOperators.map(_.numRowsTotal).sum
      }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(jobListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(jobListener)
    spark.streams.removeListener(streamListener)
  }

  /** Drain the bus, then return and reset the counters. */
  def take(): LaneTrace = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    synchronized {
      val t = LaneTrace(jobs, tasks, Tracer.unionSeconds(jobSpans.toSeq), taskCpuNs / 1e9,
        taskRunMs / 1e3, shuffleWrite, spill, output, triggers, triggerMs.toList, addBatch,
        walCommit, stateCommit, stateRowsByQuery.values.sum)
      jobs = 0; tasks = 0; shuffleWrite = 0; spill = 0; output = 0
      taskCpuNs = 0; taskRunMs = 0; jobSpans.clear()
      triggers = 0; addBatch = 0; walCommit = 0; stateCommit = 0
      triggerMs.clear(); stateRowsByQuery.clear()
      t
    }
  }
}

object Tracer {
  /** Wall seconds covered by the union of [start, end] millisecond spans. */
  def unionSeconds(spans: Seq[(Long, Long)]): Double = {
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    spans.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    covered / 1e3
  }
}

/** Spark's whole-stage codegen counters. The compile count is exact;
  * the compile-time histogram keeps only a sample, so traced runs wrap
  * its reservoir to also sum every update.
  */
object Codegen {
  private val compileMsSum = new LongAdder

  def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def compileSeconds: Double = compileMsSum.sum / 1e3

  /** Returns false if the histogram's layout is not the expected one;
    * compile time then reads 0 and the count stays exact.
    */
  def installSummingReservoir(): Boolean =
    try {
      val f = classOf[Histogram].getDeclaredField("reservoir")
      f.setAccessible(true)
      val hist = CodegenMetrics.METRIC_COMPILATION_TIME
      val inner = f.get(hist).asInstanceOf[Reservoir]
      f.set(hist, new Reservoir {
        override def size(): Int = inner.size()
        override def update(value: Long): Unit = { compileMsSum.add(value); inner.update(value) }
        override def getSnapshot: Snapshot = inner.getSnapshot
      })
      true
    } catch { case _: ReflectiveOperationException | _: RuntimeException => false }
}

/** Process-wide clocks that explain a noisy pass: JIT compile time,
  * GC time, and hypervisor steal from /proc/stat.
  */
final case class Witness(jitS: Double, gcS: Double, stealS: Double, compiles: Long) {
  def -(o: Witness): Witness =
    Witness(jitS - o.jitS, gcS - o.gcS, stealS - o.stealS, compiles - o.compiles)
}

object Witness {
  private val jit = ManagementFactory.getCompilationMXBean
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  /** Aggregate steal in seconds (field 8 of the `cpu` line, USER_HZ=100);
    * 0 where /proc/stat is unreadable.
    */
  def stealSeconds(): Double =
    try {
      val f = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat"))
        .get(0).trim.split("\\s+")
      if (f.length > 8) f(8).toLong / 100.0 else 0.0
    } catch { case _: java.io.IOException | _: NumberFormatException => 0.0 }

  def now(): Witness = Witness(
    jit.getTotalCompilationTime / 1e3,
    gcs.map(_.getCollectionTime).filter(_ >= 0).sum / 1e3,
    stealSeconds(),
    Codegen.compiles)
}
