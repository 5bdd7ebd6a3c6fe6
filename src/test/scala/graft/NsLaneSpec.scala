package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the nanosecond time lane (reference dql/time_datatype.slt — the
  * reference's native time type is TIMESTAMP(NANOSECOND); Spark's
  * TimestampType is µs). Tables.events exposes both views of the time
  * column — `ts` (µs timestamp) and `ts_ns` (BIGINT nanos) — whatever
  * the lake's physical encoding.
  *
  * The ns-precision contract is pinned against a SPEC-STAGED nanos
  * fixture (ts as raw INT64 nanos with guaranteed sub-µs digits), not
  * the driver lake: the driver re-provisioned its lake from INT64 nanos
  * to timestamp[us] in round 6, which made lake-based sub-µs assertions
  * vacuous. The driver lake is still covered — by the truncation
  * contract (whatever the encoding, ts must be exactly ts_ns div 1000)
  * and by the dual-encoding equivalence test.
  */
class NsLaneSpec extends AnyFunSuite with TestSpark {

  private val dir = "/root/testdata/sf0.001"

  /** events-shaped fixture with ts as plain INT64 nanos, every row
    * carrying nonzero sub-µs digits (the encoding the reference's
    * TIMESTAMP(NANOSECOND) maps to under nanosAsLong). Staged once.
    */
  private lazy val nsDir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_ns_fixture").toString
    spark.range(2000)
      .selectExpr(
        "id AS event_id",
        "CAST(id % 40 AS INT) AS user_id",
        "concat('t', id % 5) AS event_type",
        "CAST(id % 997 AS DOUBLE) / 100.0 AS value",
        // constant 789 ns tail → sub-µs digits on every row
        "1704067200000000000 + id * 1234567000 + 789 AS ts")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/events.parquet")
    d
  }

  test("staged nanos fixture: sub-µs digits survive into ts_ns (non-vacuous)") {
    val ev = Tables.events(spark, nsDir)
    assert(ev.schema("ts_ns").dataType.typeName == "long")
    val n = ev.count()
    val subUs = ev.filter(expr("ts_ns % 1000 != 0")).count()
    assert(subUs == n, s"only $subUs of $n fixture rows carry sub-µs digits")
  }

  test("staged nanos fixture: ns round-trips exactly through the (µs, remainder) split") {
    val bad = Tables.events(spark, nsDir)
      .withColumn("rt",
        expr("unix_micros(timestamp_micros(ts_ns div 1000)) * 1000 + ts_ns % 1000"))
      .filter(col("rt") =!= col("ts_ns")).count()
    assert(bad == 0, s"$bad rows fail the ns round-trip")
  }

  test("µs timestamp is exactly the truncation of ts_ns on every row (driver lake)") {
    val bad = Tables.events(spark, dir)
      .filter(expr("unix_micros(ts) != ts_ns div 1000")).count()
    assert(bad == 0, s"$bad rows where ts != truncation of ts_ns")
  }

  test("both lake encodings load to one logical view (µs lane == nanos lane at µs)") {
    // Rewrite the nanos fixture as a timestamp[us] lake; after
    // Tables.events both must agree on every µs-visible column.
    val usDir = java.nio.file.Files.createTempDirectory("graft_us_fixture").toString
    Tables.eventsNanos(spark, nsDir)
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      .coalesce(1).write.mode("overwrite").parquet(s"$usDir/events.parquet")
    val fromNs = Tables.events(spark, nsDir)
      .selectExpr("event_id", "unix_micros(ts) AS us", "ts_ns div 1000 AS ns_us")
    val fromUs = Tables.events(spark, usDir)
      .selectExpr("event_id", "unix_micros(ts) AS us", "ts_ns div 1000 AS ns_us")
    assert(fromNs.exceptAll(fromUs).isEmpty && fromUs.exceptAll(fromNs).isEmpty,
      "µs-visible views diverge between the nanos and timestamp[us] encodings")
  }

  test("eventsNanos normalizes the driver lake to BIGINT nanos") {
    val ev = Tables.eventsNanos(spark, dir)
    assert(ev.schema("ts").dataType.typeName == "long")
    val bad = Tables.events(spark, dir).select("event_id", "ts_ns")
      .join(ev.selectExpr("event_id", "ts AS raw_ns"), "event_id")
      .filter(col("ts_ns") =!= col("raw_ns")).count()
    assert(bad == 0, s"$bad rows where eventsNanos disagrees with events.ts_ns")
  }
}
