package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation}
import org.scalatest.funsuite.AnyFunSuite

/** The lake memo, [[Memo]]: the day-partitioned events layout is one
  * relation per lake (so a lane that filters on `day` lists and infers
  * it once per JVM); a lake regenerated at the same path is served fresh
  * by every value derived from it, and a rewritten path holds one entry;
  * the stream replays take their width from the stream they start; and
  * no other memo or thread-local carries lake state in `src/main`.
  */
class DayLayoutMemoSpec extends AnyFunSuite with TestSpark {

  private val sf = "/root/testdata/sf0.001"

  private def fileIndexOf(df: DataFrame): FileIndex =
    df.queryExecution.analyzed.collectFirst {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) => fs.location
    }.get

  private def scanOf(df: DataFrame): FileSourceScanExec =
    (df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }).collectLeaves().collectFirst { case f: FileSourceScanExec => f }.get

  test("ts_partition_prune reads the memoized day layout and scans 1 of N day partitions") {
    val memo = fileIndexOf(Tables.eventsDayLake(spark, sf))
    val q = queries.LakeContract.queries("ts_partition_prune")(spark, sf)
    val days = Tables.eventsLakeDays(spark, sf)
    val (scanned, _) = queries.LakeContract.scannedPartitions(q)
    assert(days.size > 1 && scanned == 1, s"scanned $scanned of ${days.size} days")
    assert(scanOf(q).relation.location eq memo, "the lane must scan the memoized relation")
    assert(fileIndexOf(Tables.eventsDayLake(spark, sf)) eq memo)
    assert(Tables.eventsDayLake(spark, sf).schema.last.name == "day")
    assert(Tables.eventsNanos(spark, sf).schema ==
      org.apache.spark.sql.types.StructType(Tables.eventsDayLake(spark, sf).schema.init))
  }

  test("a lake regenerated at the same path gets a new staged root and a fresh relation") {
    val dir = Files.createTempDirectory("graft_regen_lake").toString
    val src = spark.read.parquet(s"$sf/events.parquet").orderBy("event_id")
    val total = src.count()
    def regenerate(rows: Long): Unit =
      src.limit(rows.toInt).coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    regenerate(total)
    val (root1, index1) = (Tables.eventsLakeRoot(spark, dir),
      fileIndexOf(Tables.eventsDayLake(spark, dir)))
    assert(Tables.eventsDayLake(spark, dir).count() == total)
    regenerate(total / 2)
    val root2 = Tables.eventsLakeRoot(spark, dir)
    assert(root2 != root1, "a regenerated source must restage")
    assert(!(fileIndexOf(Tables.eventsDayLake(spark, dir)) eq index1))
    assert(Tables.eventsDayLake(spark, dir).count() == total / 2)
  }

  test("Tables.read serves a table regenerated at the same path, not a stale FileIndex") {
    val dir = Files.createTempDirectory("graft_regen_table").toString
    def regenerate(rows: Long): Unit =
      spark.range(rows).write.mode("overwrite").parquet(s"$dir/t.parquet")
    regenerate(10)
    assert(Tables(spark, dir, "t").count() == 10)
    regenerate(25)
    assert(Tables(spark, dir, "t").count() == 25)
  }

  test("a lake regenerated at the same path is served fresh by every lake memo") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.LongType
    val dir = Files.createTempDirectory("graft_regen_memo").toString
    val events = spark.read.parquet(s"$sf/events.parquet").orderBy("ts", "event_id")
    val total = events.count()
    def regenerate(df: DataFrame): Unit = {
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
      df.select("event_id").coalesce(1).write.mode("overwrite").parquet(s"$dir/t.parquet")
    }
    def rawMaxUs: Long = {
      val raw = spark.read.parquet(s"$dir/events.parquet")
      val ts = if (raw.schema("ts").dataType == LongType) expr("ts div 1000")
               else unix_micros(col("ts").cast("timestamp"))
      raw.agg(max(ts)).head.getLong(0)
    }
    def stagedSchema = queries.StreamQueries.staged(spark, Tables.eventsNanos(spark, dir),
      "ts", dir, "memo_spec").schema
    def unique = scala.util.Try(queries.StreamQueries.requireUniqueSeriesTs(spark, dir))

    // the first half of the lake in time, with unique series keys
    regenerate(events.limit((total / 2).toInt))
    assert(Tables(spark, dir, "t").count() == total / 2)
    assert(Tables.eventsDayLake(spark, dir).count() == total / 2)
    assert(!stagedSchema.fieldNames.contains("flag"))
    assert(queries.StreamQueries.globalMaxUs(spark, dir) == rawMaxUs)
    assert(unique.isSuccess)

    // the whole lake, one row twice (a duplicate (event_type, ts_us)
    // key) and a new column, at the same path
    val dup = events.limit(1)
    regenerate(events.union(dup).withColumn("flag", lit(1)))
    assert(Tables(spark, dir, "t").count() == total + 1)
    assert(Tables.eventsDayLake(spark, dir).count() == total + 1)
    assert(stagedSchema.fieldNames.contains("flag"))
    assert(queries.StreamQueries.globalMaxUs(spark, dir) == rawMaxUs)
    assert(unique.failed.toOption.exists(_.getMessage.contains("1 duplicate")),
      "the precondition must see the regenerated lake's duplicate key")
  }

  test("a path rewritten 3 times holds one memo entry per derived value") {
    val dir = Files.createTempDirectory("graft_rewritten").toString
    val src = spark.read.parquet(s"$sf/events.parquet").orderBy("ts", "event_id")
    for (i <- 1 to 3) {
      src.limit(10 * i).coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
      spark.range(i).write.mode("overwrite").parquet(s"$dir/t.parquet")
      assert(Tables(spark, dir, "t").count() == i)
      assert(Tables.eventsDayLake(spark, dir).count() == 10 * i)
      assert(Memo.entriesFor("table", Seq(s"$dir/t.parquet")) == 1)
      for (what <- Seq("table", "events day lake", s"staged|day_lake_v4|$dir"))
        assert(Memo.entriesFor(what, Seq(s"$dir/events.parquet")) == 1, s"$what after $i writes")
    }
  }

  test("every stream lane replays at the width the staged-bytes rule gives") {
    import queries.StreamQueries
    // The rule as it stood: ceil(bytes one trigger carries / 8 MB),
    // floor 1, over a staged root's bytes ÷ 4 part files, or the lake's
    // parquet bytes ÷ 4 for a lane that stages nothing. Taken over every
    // staged root and the lake, it bounds each lane's old width; at 1,
    // every lane's old width was 1.
    def oldRule(perTrigger: Long): Int =
      math.min(8192, math.max(1, math.ceil(perTrigger.toDouble / (8L << 20)).toInt))
    val widths = StreamQueries.queries.keys.toSeq.sorted.map { lane =>
      StreamQueries.replayWidths.clear()
      StreamQueries.queries(lane)(spark, sf)
      val ran = StreamQueries.replayWidths.values.toSeq
      assert(ran.size == 1, s"$lane recorded ${ran.size} replays")
      lane -> ran.head
    }
    assert(widths.size == 21)
    // the staged roots the lanes read, looked up through the memo
    val srcs = Seq(s"$sf/events.parquet", s"$sf/documents.parquet")
      .filter(p => Files.exists(java.nio.file.Paths.get(p)))
    val roots = Seq("events_by_ts_ns", "events_by_bucket_ns", "lp_text_by_ts",
      "prom_wire_bodies_by_ts", "dedup_by_tstamp", "docs_by_id").map { stage =>
      Lake.staged(s"stream|$sf/$stage|4", srcs)(_ => fail(s"$stage was not staged"))
    }
    val old = (roots.map(r => Sizing.fileBytes(r) / 4) :+
      Sizing.parquetBytes(sf) / 4).map(oldRule).max
    assert(old == 1)
    assert(widths.forall(_._2 == old), widths.mkString(", "))
  }

  test("a stream over 8 MB per trigger derives a width over 1; no file source takes the lake rule") {
    import queries.StreamQueries
    val lake = Files.createTempDirectory("graft_wide_lake")
    def sparse(p: java.nio.file.Path, bytes: Long): Unit = {
      val f = new java.io.RandomAccessFile(p.toFile, "rw")
      try f.setLength(bytes) finally f.close()
    }
    sparse(lake.resolve("events.parquet"), 4 * (20L << 20))
    // four 20 MB part files, one per trigger: 20 MB per trigger → 3
    val root = Files.createTempDirectory("graft_wide_stage")
    (0 until 4).foreach(i => sparse(root.resolve(s"part-0000$i.parquet"), 20L << 20))
    val parquet = spark.readStream.schema("x BIGINT").option("maxFilesPerTrigger", "1")
      .parquet(root.toString)
    val text = spark.readStream.option("maxFilesPerTrigger", "1").text(root.toString)
    for (s <- Seq(parquet, text, parquet.unionByName(parquet)))
      assert(StreamQueries.replayWidth(s, lake.toString) == 3)
    // the rate source is no file source: the lake's 80 MB ÷ 4 → 3
    val rate = spark.readStream.format("rate").load()
    assert(StreamQueries.replayWidth(rate, lake.toString) == 3)
    assert(StreamQueries.replayWidth(rate, sf) == 1)
  }

  private def sources(dir: String): Seq[java.nio.file.Path] =
    Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq

  test("Memo is the one lake memo: no ThreadLocal and no other lake-value map in src/main") {
    val main = sources("src/main/scala").map(p => p -> Files.readString(p))
    assert(main.size > 50)
    assert(main.collect { case (p, src) if src.contains("ThreadLocal") => p }.isEmpty)
    // the validity rule: only Memo asks for a lake's fingerprint
    assert(main.collect { case (p, src) if src.contains("Lake.fingerprint") => p.toString }.toSet ==
      Set("src/main/scala/graft/Memo.scala"))
    // every map src/main declares, by file and name: a new one must be
    // the memo or say here why it holds no value derived from a lake
    val Decl = """val\s+(\w+)\s*(?::[^=\n]*)?=\s*(?:new\s+)?(?:[\w.]+\.)?(?:TrieMap|ConcurrentHashMap|WeakHashMap|synchronizedMap|mutable\.Map)\b""".r
    val maps = main.flatMap { case (p, src) =>
      Decl.findAllMatchIn(src).map(m => s"${p.getFileName}:${m.group(1)}")
    }.toSet
    assert(maps == Set(
      "Memo.scala:entries",              // the lake memo
      "Lake.scala:jvmLocks",             // per-key staging monitors
      "StreamQueries.scala:replayBatches", // the last replay of each sink, for specs
      "StreamQueries.scala:replayWidths",
      "KafkaMiniBroker.scala:log",       // the broker's partition logs
      "GraftKafka.scala:partCounts",     // a reader's topic partition counts
      "AdminDcl.scala:engines",          // per-session admin state
      "AdminDcl.scala:loadedPaths",
      "WireHttp.scala:bytesIn",          // usage counters
      "WireHttp.scala:writes",
      "QBench.scala:starts",             // one run's listener bookkeeping
      "QBench.scala:planRoots",
      "QBench.scala:queryRuns",
      "QBench.scala:ended"), maps.toSeq.sorted.mkString(", "))
  }
}
