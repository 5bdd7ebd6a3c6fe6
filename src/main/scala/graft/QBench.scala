package graft

import org.apache.spark.sql.SparkSession

/** Single-query bench/explain harness for iterating:
  * `runMain graft.QBench <queryName>[,name2,...] [explain] [jobs] [runs=N]`
  * over SPARK_GRAFT_SF_DIR (default sf0.1). Times N runs (default 2,
  * warm JVM). `jobs` prints a per-Spark-job time breakdown of the LAST
  * run (job description → wall seconds), the local stand-in for the
  * Spark UI's Jobs page (guide §1.1/§1.5) on a UI-less box.
  */
object QBench {
  private val RunTag = "graft.qbench.run"

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // same input-derived shuffle width as Bench (SURVEY §5 rule)
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE",
      Sizing.shufflePartitions(sfDir, cpus.toInt).toString)
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.shuffle.partitions", shuffle)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    // A/B hook for config probes (guide §1): "k=v;k=v" extra confs.
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach(_.split(';').filter(_.nonEmpty)
      .foreach { kv => val Array(k, v) = kv.split("=", 2); builder.config(k, v) })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val wantJobs = args.contains("jobs")
    val runs = args.collectFirst { case a if a.startsWith("runs=") => a.drop(5).toInt }
      .getOrElse(2)
    // (jobId, run tag, description|result-stage callsite, wall ms). The
    // listener bus delivers events late, so a run's jobs are the ones
    // carrying its tag, not the ones that ended while it ran. The tag is
    // a local property of its own, which threads the run starts (a stream
    // replay's) inherit and no job group overrides.
    val jobLog = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, String, Long)]()
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, String)]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val props = Option(js.properties)
        val desc = props.flatMap(p => Option(p.getProperty("spark.job.description")))
          .filter(_.nonEmpty).map(oneLine)
          .orElse(props.flatMap(p => Option(p.getProperty("callSite.short"))))
          .orElse(js.stageInfos.sortBy(_.stageId).lastOption.map(_.name))
          .getOrElse("?")
        val tag = props.flatMap(p => Option(p.getProperty(RunTag))).getOrElse("")
        starts.put(js.jobId, (js.time, tag, desc))
      }
      override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        Option(starts.remove(je.jobId)).foreach { case (t0, tag, desc) =>
          jobLog.add((je.jobId, tag, desc, je.time - t0))
        }
      }
    })
    args(0).split(',').foreach { name =>
      val fn = SparkEntry.queries(name)
      if (args.contains("explain")) fn(spark, sfDir).explain("formatted")
      (1 to runs).foreach { i =>
        spark.sparkContext.setLocalProperty(RunTag, s"$name run$i")
        val t0 = System.nanoTime()
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        finally spark.sparkContext.setLocalProperty(RunTag, null)
        println(f"[qbench] $name run$i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
      if (wantJobs) {
        import scala.jdk.CollectionConverters._
        // a fence job: the bus delivers events in order, so once the
        // fence's end has arrived so has every event of the runs before it
        spark.sparkContext.setLocalProperty(RunTag, "fence")
        try spark.sparkContext.parallelize(Seq(1), 1).count()
        finally spark.sparkContext.setLocalProperty(RunTag, null)
        val deadline = System.nanoTime() + 5000000000L
        while (!jobLog.asScala.exists(_._2 == "fence") && System.nanoTime() < deadline)
          Thread.sleep(10)
        jobLog.removeIf(_._2 == "fence")
        val last = s"$name run$runs"
        val js = jobLog.asScala.toSeq.filter(_._2 == last).sortBy(_._1)
        println(s"[qbench] $name last-run jobs: ${js.size}, " +
          f"sum ${js.map(_._4).sum / 1e3}%.2f s")
        js.foreach { case (id, _, desc, ms) =>
          println(f"[qbench]   job $id%4d ${ms / 1e3}%7.3f s  ${desc.take(110)}")
        }
      }
    }
    spark.stop()
  }

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
