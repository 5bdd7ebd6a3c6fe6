package org.apache.spark.graftspec

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The listener bus delivers events asynchronously; a spec that counts
  * jobs reads its counter only after every event its action caused has
  * been delivered. `waitUntilEmpty` is `private[spark]`, hence this
  * package.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Runs `body` and returns its result with the number of Spark jobs it
    * started, counted by a SparkListener on a job group of its own. */
  def countingJobs[T](sc: SparkContext)(body: => T): (T, Int) = {
    val group = s"graftspec-jobs-${System.nanoTime()}"
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "graftspec job count")
      val result = try body finally sc.clearJobGroup()
      drain(sc)
      (result, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
