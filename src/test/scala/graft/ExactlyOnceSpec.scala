package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Executable form of the SURVEY §2.5 claim that exactly-once sink
  * semantics across a crash/restart are "Spark machinery already
  * exercised by the checkpointed file-source replays": a checkpointed
  * file-source stream is STOPPED mid-run (after ≥1 but before all
  * micro-batches; q.stop() interrupts the stream thread, so an
  * in-flight batch may die with sink part-files already on disk —
  * exactly the crash window the parquet sink's `_spark_metadata`
  * manifest exists for), then restarted against the SAME checkpoint
  * and sink. The restarted query must resume from the recorded offset
  * (not batch 0) and the committed sink must contain every input row
  * exactly once — no duplicates from any re-attempted batch, no holes.
  */
class ExactlyOnceSpec extends AnyFunSuite with TestSpark {

  private val NioManager = classOf[graft.streaming.LocalCheckpointFileManager].getName

  /** Runs `body` with the session's checkpoint file manager set to `cls`
    * (None: Spark's default), unset again afterwards.
    */
  private def withManager[T](cls: Option[String])(body: => T): T = {
    val key = graft.queries.StreamQueries.CheckpointManagerConf
    cls.foreach(spark.conf.set(key, _))
    try body finally spark.conf.unset(key)
  }

  test("checkpointed file-source stream restarted mid-run delivers exactly once") {
    restartDeliversExactlyOnce(run1 = None, run2 = None)
  }

  test("the restart delivers exactly once under the java.nio checkpoint writer") {
    restartDeliversExactlyOnce(run1 = Some(NioManager), run2 = Some(NioManager))
  }

  test("a checkpoint begun by Spark's default manager resumes exactly once under the java.nio writer") {
    restartDeliversExactlyOnce(run1 = None, run2 = Some(NioManager))
  }

  private def restartDeliversExactlyOnce(run1: Option[String], run2: Option[String]): Unit = {
    val root = Files.createTempDirectory("graft_exactly_once").toString
    val src = s"$root/src"
    val sink = s"$root/sink"
    val ckpt = s"$root/ckpt"

    // 4 range-partitioned source files, one per micro-batch, mtimes
    // pinned to range order (the StreamQueries staging pattern); rows
    // big enough that a batch takes measurable time to process.
    val n = 400000L
    spark.range(n).select(col("id"), (col("id") % 97).as("v"))
      .repartitionByRange(4, col("id"))
      .write.mode("overwrite").parquet(src)
    val parts = Files.list(Paths.get(src)).iterator()
    val sorted = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
    while (parts.hasNext) {
      val p = parts.next()
      if (p.getFileName.toString.startsWith("part-")) sorted += p
    }
    val base = System.currentTimeMillis()
    sorted.sortBy(_.getFileName.toString).zipWithIndex.foreach { case (p, i) =>
      Files.setLastModifiedTime(p, FileTime.fromMillis(base + i * 1000L))
    }
    val schema = spark.read.parquet(src).schema

    def stream() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(src)
      .select(col("id"), (col("v") * 2).as("v2"))
      .writeStream.format("parquet")
      .option("path", sink).option("checkpointLocation", ckpt)
      .outputMode("append")

    // Run 1: stop as soon as at least one batch committed — before the
    // 4-file backlog drains (ProcessingTime keeps it running so the
    // stop lands mid-stream, possibly mid-batch).
    val lastCommitted = withManager(run1) {
      val q1 = stream().trigger(Trigger.ProcessingTime("10 milliseconds")).start()
      val deadline = System.currentTimeMillis() + 60000
      while (Option(q1.lastProgress).forall(_.batchId < 1) &&
             System.currentTimeMillis() < deadline) Thread.sleep(20)
      val last = Option(q1.lastProgress).map(_.batchId).getOrElse(-1L)
      q1.stop()
      q1.awaitTermination()
      last
    }
    assert(lastCommitted >= 1, "run 1 never committed a batch")

    val committedAfterStop =
      spark.read.parquet(sink).count() // manifest-filtered read
    assert(committedAfterStop < n,
      s"run 1 drained the whole backlog ($committedAfterStop rows) — " +
        "nothing left to prove about the restart")

    // Run 2: same checkpoint + sink, drain the rest.
    val q2 = withManager(run2) {
      val q = stream().trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      q
    }
    val resumedFrom = q2.recentProgress.headOption.map(_.batchId).getOrElse(-1L)
    assert(resumedFrom > 0,
      s"restart began at batch $resumedFrom — it re-ran from scratch " +
        "instead of resuming the checkpoint")

    // Exactly once: every input row present, none twice — even though
    // the interrupted attempt may have left orphan part-files the
    // manifest must hide.
    val out = spark.read.parquet(sink)
    assert(out.count() === n, "sink row count != input row count")
    assert(out.select("id").distinct().count() === n, "duplicate ids in sink")
    assert(out.agg(sum(when(col("v2") =!= (col("id") % 97) * 2, 1L)
      .otherwise(0L))).head.getLong(0) === 0L, "transformed values wrong")

    // The crash window was real iff orphan files exist on disk that the
    // manifest-filtered read excluded; either way the counts above hold.
    val rawFiles = Files.walk(Paths.get(sink)).iterator()
    var raw = 0
    while (rawFiles.hasNext) {
      val p = rawFiles.next()
      if (p.getFileName.toString.startsWith("part-")) raw += 1
    }
    info(s"sink part-files on disk: $raw (manifest-committed rows: $n, " +
      s"run-1 committed $committedAfterStop rows through batch $lastCommitted)")

    // The chosen manager really wrote the checkpoint: Hadoop's local
    // writes leave a hidden .<name>.crc beside each file, java.nio none.
    val ckptFiles = Files.walk(Paths.get(ckpt)).iterator()
    var crcs = 0
    while (ckptFiles.hasNext) {
      val name = ckptFiles.next().getFileName.toString
      if (name.startsWith(".") && name.endsWith(".crc")) crcs += 1
    }
    if (run1.isEmpty) assert(crcs > 0, "Spark's default manager wrote no .crc files")
    else assert(crcs == 0, s"the java.nio writer left $crcs .crc files")
  }
}
