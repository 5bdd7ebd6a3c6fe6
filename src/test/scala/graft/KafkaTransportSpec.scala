package graft

import org.scalatest.funsuite.AnyFunSuite

/** Honesty gate for the Kafka-transport descope (SURVEY §2.5, VERDICT
  * r6 #7): the claim "swapping the file/memory source for Kafka is
  * configuration, not code" is exercised here wherever a
  * spark-sql-kafka connector jar is on the classpath. THIS build box
  * ships none and has zero egress to fetch one, so the smoke CANCELS
  * (visibly, as a canceled test — not a silent pass): the claim is
  * recorded as untested in this environment, and becomes tested the
  * moment the suite runs on a deployment with the connector.
  *
  * The smoke is analysis-time only — `format("kafka").load()` validates
  * options and produces the fixed Kafka schema without a broker; the
  * parse → transform chain then proves the graft streaming operators
  * accept a Kafka-shaped frame unchanged (reference stream tables are
  * Kafka-like: query_server/query/src/stream/, ddl/create_stream_table.slt).
  */
class KafkaTransportSpec extends AnyFunSuite with TestSpark {

  private def connectorPresent: Boolean =
    try {
      Class.forName("org.apache.spark.sql.kafka010.KafkaSourceProvider"); true
    } catch { case _: ClassNotFoundException => false }

  test("kafka source swaps in as configuration feeding the same transforms") {
    assume(connectorPresent,
      "no spark-sql-kafka connector jar on the classpath (zero-egress box) — " +
        "smoke cancels here, runs wherever a connector ships")
    import org.apache.spark.sql.functions._
    val raw = spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", "localhost:9092")
      .option("subscribe", "events")
      .load() // no broker contact at analysis time
    assert(raw.isStreaming)
    // the exact configuration swap SURVEY §2.5 describes: bytes → line
    // protocol → the source-agnostic windowed-agg transform
    import spark.implicits._
    val lines = raw.selectExpr("CAST(value AS STRING) AS line").as[String]
    val events = graft.sources.LineProtocol.parseWithField(lines, "value")
      .withColumn("tstamp", timestamp_micros(expr("ts_ns div 1000")))
    val agg = graft.streaming.StreamIngest.windowedStats(
      events, "tstamp", "measurement", "1 hour", "0 seconds")
    assert(agg.isStreaming && agg.columns.contains("n"))
  }
}
