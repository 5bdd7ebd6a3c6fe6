package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Flat-cost witness for the day-partitioned lake (VERDICT r10 #1's
  * bench half): times ONE one-day time-range aggregate two ways over
  * `SPARK_GRAFT_SF_DIR` —
  *
  *   - `pruned`: through the primary day-partitioned layout
  *     ([[Tables.events]]), where [[plans.EventTimeDayPruning]] turns
  *     the time predicate into a partition filter, so the scan lists
  *     and reads O(day);
  *   - `flat`: the same predicate over the RAW unpartitioned
  *     events.parquet (normalized inline, no staged layout), which must
  *     list and open the whole lake.
  *
  * Run against span-scaled lakes (tools/make_span.py — day count grows,
  * per-day volume constant) the pruned number should stay FLAT across
  * lake decades while the flat number grows with the lake; the emitted
  * JSON line carries both warm times plus the listing arithmetic
  * (scanned vs total day partitions) so BENCH_SCALING rows are
  * self-evidencing.
  */
object PruneBench {
  def main(args: Array[String]): Unit = {
    val sfDir = Session.envLake
    val spark = Session.local(sfDir)
    spark.sparkContext.setLogLevel("ERROR")

    val days = Tables.eventsLakeDays(spark, sfDir)
    require(days.size > 1, s"lake spans ${days.size} day(s)")
    val d1 = java.time.LocalDate.parse(days(1))
    def oneDay(df: DataFrame): DataFrame = df
      .filter(col("ts") >= expr(s"TIMESTAMP '$d1 00:00:00'") &&
        col("ts") < expr(s"TIMESTAMP '${d1.plusDays(1)} 00:00:00'"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        (sum(round(col("value") * 100).cast("long")).cast("double") / 100.0)
          .as("sum_value"))

    // raw flat view, normalized inline — never touches the staged layout
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
    def normalize(df: DataFrame) = df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => df.withColumn("ts", col("ts").cast("timestamp"))
    }
    val flatView = normalize(raw)
    // flat-SHUFFLED control: the same rows with ingest order decoupled
    // from event time (md5 order) — the general lake shape, where the
    // flat scan cannot ride parquet ts min/max stats the way a
    // replica-concatenated (ts-sorted) file accidentally does
    val shufRoot = Lake.staged(s"prune_flat_shuffled|$sfDir",
      Seq(s"$sfDir/events.parquet")) { p =>
      raw.orderBy(md5(col("event_id").cast("string")))
        .write.mode("overwrite").parquet(p.toString)
    }
    val shuffledView = normalize(spark.read.parquet(shufRoot))

    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def run(df: => DataFrame): Double = {
      time(df.write.format("noop").mode("overwrite").save()) // warm
      time(df.write.format("noop").mode("overwrite").save())
    }
    val pruned = run(oneDay(Tables.events(spark, sfDir)))
    val flat = run(oneDay(flatView))
    val shuffled = run(oneDay(shuffledView))
    val (scanned, files) = queries.LakeContract.scannedPartitions(
      oneDay(Tables.events(spark, sfDir)))
    // rows EMITTED by each scan — wall times converge at toy scale
    // (a 157 MB full scan costs ~0.3 s warm), but rows/bytes read is
    // the quantity that scales to 100 TB, so the artifact carries both
    val prunedRows = queries.LakeContract.scanOutputRows(spark,
      oneDay(Tables.events(spark, sfDir)).select("event_type"),
      requirePushed = false)
    val shuffledRows = queries.LakeContract.scanOutputRows(spark,
      oneDay(shuffledView).select("event_type"), requirePushed = false)
    // multi-day windows (VERDICT r11 #7): a K-day range query must list
    // exactly as many partitions as the window actually covers and read
    // rows ∝ the covered days — "a range query costs its range", the
    // contract a time-series user actually relies on. K is NOT clamped:
    // `expected` counts the days genuinely inside the window, so on the
    // 30-day driver lake K=30 saturates at the lake's tail (29 days
    // from the second day) and still asserts exactly.
    def kDay(df: DataFrame, k: Int): DataFrame = df
      .filter(col("ts") >= expr(s"TIMESTAMP '$d1 00:00:00'") &&
        col("ts") < expr(s"TIMESTAMP '${d1.plusDays(k)} 00:00:00'"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        (sum(round(col("value") * 100).cast("long")).cast("double") / 100.0)
          .as("sum_value"))
    val kWindows = Seq(1, 7, 30).map { k =>
      val expected = days.count(d => d >= d1.toString && d < d1.plusDays(k).toString)
      val (kScanned, kFiles) = queries.LakeContract.scannedPartitions(
        kDay(Tables.events(spark, sfDir), k))
      require(kScanned == expected,
        s"K=$k window scanned $kScanned partitions, expected $expected")
      val kRows = queries.LakeContract.scanOutputRows(spark,
        kDay(Tables.events(spark, sfDir), k).select("event_type"),
        requirePushed = false)
      val kSec = run(kDay(Tables.events(spark, sfDir), k))
      (k, kScanned, kFiles, kRows, kSec)
    }
    def fmt(v: Double) = BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP)
    val kJson = kWindows.map { case (k, ks, kf, kr, sec) =>
      s"""{"k":$k,"scanned_partitions":$ks,"scanned_files":$kf,""" +
        s""""scan_rows":$kr,"warm_sec":${fmt(sec)}}"""
    }.mkString("[", ",", "]")
    println(s"""{"lake":"$sfDir","days":${days.size},"scanned_partitions":$scanned,""" +
      s""""scanned_files":$files,"pruned_warm_sec":${fmt(pruned)},""" +
      s""""flat_tssorted_warm_sec":${fmt(flat)},""" +
      s""""flat_shuffled_warm_sec":${fmt(shuffled)},""" +
      s""""pruned_scan_rows":$prunedRows,"flat_shuffled_scan_rows":$shuffledRows,""" +
      s""""k_windows":$kJson}""")
    spark.stop()
  }
}
