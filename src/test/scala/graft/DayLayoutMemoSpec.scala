package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation}
import org.scalatest.funsuite.AnyFunSuite

/** The memoized relations in [[Tables]]: the day-partitioned events
  * layout is one relation per staged root (so a lane that filters on
  * `day` lists and infers it once per JVM), and a lake regenerated at
  * the same path is never served from a stale FileIndex.
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
}
