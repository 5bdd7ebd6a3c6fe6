package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.LineProtocol
import graft.streaming.StreamIngest

class IngestSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  test("parseLine handles tags, typed fields, and timestamp") {
    val l = LineProtocol.parseLine(
      """cpu,host=h1,region=us-east usage=0.64,idle=99i,name="core \"0\"",up=t 1700000000000000000""").get
    assert(l.measurement == "cpu")
    assert(l.tags == Map("host" -> "h1", "region" -> "us-east"))
    assert(l.ts == 1700000000000000000L)
    assert(LineProtocol.fieldDouble(l.fields("usage")).contains(0.64))
    assert(LineProtocol.fieldDouble(l.fields("idle")).contains(99.0))
    assert(LineProtocol.fieldString(l.fields("name")).contains("core \"0\""))
    assert(LineProtocol.fieldDouble(l.fields("up")).isEmpty)
  }

  test("parseLine honors escape rules in measurement/tag keys and values") {
    val l = LineProtocol.parseLine("""my\ db,ta\,g=va\=lue v=1 5""").get
    assert(l.measurement == "my db")
    assert(l.tags == Map("ta,g" -> "va=lue"))
    assert(l.ts == 5L)
  }

  test("parseLine rejects blank, comment, and malformed lines") {
    assert(LineProtocol.parseLine("").isEmpty)
    assert(LineProtocol.parseLine("# comment").isEmpty)
    assert(LineProtocol.parseLine("nofields").isEmpty)
    assert(LineProtocol.parseLine("m, v=").nonEmpty == false || true) // permissive: just must not throw
  }

  test("parse on a Dataset[String] drops bad rows and keeps good ones") {
    import spark.implicits._
    val lines = Seq(
      "m,t=a v=1.5 10",
      "",
      "# skip me",
      "m,t=b v=2.5,w=3i 20",
      "garbage-without-fields"
    ).toDS()
    val df = LineProtocol.parse(lines).orderBy("ts")
    assert(df.count() == 2)
    val rows = df.collect()
    assert(rows(0).getAs[Map[String, String]]("tags") == Map("t" -> "a"))
    assert(rows(1).getAs[Map[String, String]]("fields")("w") == "3i")
  }

  test("windowedStats on batch events matches a direct groupBy") {
    val events = Tables.events(spark, sf)
    val got = StreamIngest.windowedStats(events, "ts", "event_type", "1 hour", "1 minute")
    val expected = events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("event_type"), col("w.start").as("w_start"), col("n"))
    assert(got.count() == expected.count())
    assert(got.select("event_type", "w_start", "n")
      .exceptAll(expected).isEmpty)
  }

  test("streaming windowed ingest over a file stream produces finalized windows") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    val schema = Tables.events(spark, sf).schema
    // land the batch data as the first stream file
    Tables.events(spark, sf).coalesce(1).write.mode("overwrite").parquet(dir)
    val stream = StreamIngest.readEventsStream(spark, dir, "*.parquet", schema)
    val q = StreamIngest.startWindowedIngest(stream, "ts", "event_type",
      "1 hour", "0 seconds", "ingest_test")
    try {
      q.processAllAvailable()
      // Append-mode emits only watermark-closed windows; all but the final
      // window per key must be present after the full batch is consumed.
      val expected = StreamIngest.windowedStats(Tables.events(spark, sf),
        "ts", "event_type", "1 hour", "0 seconds")
      val maxStart = expected.agg(max("w_start")).as[java.sql.Timestamp].head()
      val closed = expected.filter(col("w_start") < lit(maxStart)).count()
      val got = spark.table("ingest_test").count()
      assert(got >= closed, s"expected at least $closed closed windows, got $got")
    } finally q.stop()
  }

  test("sessionStats merges gap-bounded runs, matches reference session semantics") {
    import spark.implicits._
    val ev = Seq(
      (1L, "2024-01-01 00:00:00", 1.0),
      (1L, "2024-01-01 00:00:30", 2.0), // same session (gap 1 min)
      (1L, "2024-01-01 00:05:00", 3.0), // new session
      (2L, "2024-01-01 00:00:00", 9.0)
    ).toDF("user_id", "s", "value")
      .select(col("user_id"), col("s").cast("timestamp").as("ts"), col("value"))
    val out = StreamIngest.sessionStats(ev, "ts", "user_id", "1 minute", "0 seconds")
      .orderBy("user_id", "w_start").collect()
    assert(out.length == 3)
    assert(out(0).getAs[Long]("n") == 2 && out(0).getAs[Double]("sum_value") == 3.0)
    assert(out(1).getAs[Long]("n") == 1)
  }

  test("streamingIncrease applies prometheus reset semantics across micro-batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[StreamIngest.CounterPoint]
    val q = StreamIngest.streamingIncrease(mem.toDS())
      .writeStream.outputMode("append").format("memory").queryName("inc_test").start()
    try {
      // batch 1: rises 1→4; batch 2: reset to 1, rises to 3 (increase +=1, +=2)
      mem.addData(StreamIngest.CounterPoint(7L, 1L, 1.0), StreamIngest.CounterPoint(7L, 2L, 4.0))
      q.processAllAvailable()
      mem.addData(StreamIngest.CounterPoint(7L, 3L, 1.0), StreamIngest.CounterPoint(7L, 4L, 3.0))
      q.processAllAvailable()
      val rows = spark.table("inc_test").orderBy("ts_us")
        .collect().map(r => (r.getAs[Long]("ts_us"), r.getAs[Double]("increase")))
      // 1..8→7-style running totals: 0 (first), 3, 3+1(reset adds value), +2
      assert(rows.toSeq == Seq((1L, 0.0), (2L, 3.0), (3L, 4.0), (4L, 6.0)))
    } finally q.stop()
  }

  test("streamingEwma carries smoothing state across micro-batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[StreamIngest.EwmaPoint]
    val q = StreamIngest.streamingEwma(mem.toDS())
      .writeStream.outputMode("append").format("memory").queryName("ewma_test").start()
    try {
      // batch 1: seed 100, then floor((200+300)/4)=125
      mem.addData(StreamIngest.EwmaPoint(7L, 1L, 1L, 100L),
        StreamIngest.EwmaPoint(7L, 2L, 2L, 200L))
      q.processAllAvailable()
      // batch 2 continues FROM 125: floor((400+375)/4)=193 — a fresh
      // state would instead seed at 400; a late duplicate is dropped
      mem.addData(StreamIngest.EwmaPoint(7L, 3L, 3L, 400L),
        StreamIngest.EwmaPoint(7L, 1L, 1L, 999L))
      q.processAllAvailable()
      val rows = spark.table("ewma_test").orderBy("event_id")
        .collect().map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("ewma_q")))
      assert(rows.toSeq == Seq((1L, 100L), (2L, 125L), (3L, 193L)))
    } finally q.stop()
  }

  test("streamingGapfillLocf fills gaps across micro-batch boundaries") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[StreamIngest.GaugePoint]
    val q = StreamIngest.streamingGapfillLocf(mem.toDS(), bucketUs = 10L)
      .writeStream.outputMode("append").format("memory").queryName("gapfill_test").start()
    try {
      // batch 1: buckets 0 and 20 (gap at 10); batch 2: bucket 50 —
      // gaps 30, 40 must be filled with batch 1's last value (2.0),
      // i.e. the state crossed the micro-batch boundary
      mem.addData(StreamIngest.GaugePoint(1L, 0L, 1.0), StreamIngest.GaugePoint(1L, 25L, 2.0))
      q.processAllAvailable()
      mem.addData(StreamIngest.GaugePoint(1L, 55L, 9.0))
      q.processAllAvailable()
      val rows = spark.table("gapfill_test").orderBy("bucket_us")
        .collect().map(r => (r.getAs[Long]("bucket_us"), r.getAs[Double]("value"),
          r.getAs[Boolean]("filled")))
      assert(rows.toSeq == Seq(
        (0L, 1.0, false), (10L, 1.0, true), (20L, 2.0, false),
        (30L, 2.0, true), (40L, 2.0, true), (50L, 9.0, false)))
    } finally q.stop()
  }

  test("streamingGapfillInterpolate defers gaps until the closing sample, across batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[StreamIngest.GaugePoint]
    val q = StreamIngest.streamingGapfillInterpolate(mem.toDS(), bucketUs = 10L)
      .writeStream.outputMode("append").format("memory").queryName("interp_test").start()
    try {
      // batch 1 ends at bucket 20 (value 2.0); batch 2's sample at
      // bucket 50 (value 8.0) CLOSES the 30/40 gap — interior buckets
      // interpolate toward it: 30 → 4.0, 40 → 6.0 (exact thirds of a
      // span of 6.0 over 3 buckets), proving the left endpoint crossed
      // the micro-batch boundary in state
      mem.addData(StreamIngest.GaugePoint(1L, 0L, 1.0), StreamIngest.GaugePoint(1L, 25L, 2.0))
      q.processAllAvailable()
      mem.addData(StreamIngest.GaugePoint(1L, 55L, 8.0))
      q.processAllAvailable()
      val rows = spark.table("interp_test").orderBy("bucket_us")
        .collect().map(r => (r.getAs[Long]("bucket_us"), r.getAs[Double]("value"),
          r.getAs[Boolean]("filled")))
      assert(rows.toSeq == Seq(
        (0L, 1.0, false), (10L, 1.5, true), (20L, 2.0, false),
        (30L, 4.0, true), (40L, 6.0, true), (50L, 8.0, false)))
    } finally q.stop()
  }

  test("windowed OHLC candlestick runs unchanged on a watermarked stream") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, Double)]
    val pts = mem.toDF().toDF("t_us", "value")
      .withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(col("t_us")))
      .withColumn("rid", col("t_us"))
      .withWatermark("ts", "0 seconds")
    // same operator as the batch ts_candlestick entry, grouped on the
    // event-time window instead of a derived bucket column
    val q = graft.functions.TimeSeries.candlestick(pts, Seq.empty,
        org.apache.spark.sql.functions.window(col("ts"), "1 minute"), Seq("t_us", "rid"), "value")
      .writeStream.outputMode("append").format("memory").queryName("cs_test").start()
    try {
      val base = 60L * 1000000
      mem.addData((base + 1, 5.0), (base + 2, 9.0), (base + 3, 1.0), (base + 4, 7.0))
      q.processAllAvailable()
      // advance the watermark past the window so append emits it
      mem.addData((base + 200000000L, 0.0))
      q.processAllAvailable()
      val rows = spark.table("cs_test").orderBy("bucket").collect()
      assert(rows.nonEmpty, "window must close and emit")
      val r = rows.head
      assert(r.getAs[Double]("open") == 5.0 && r.getAs[Double]("close") == 7.0)
      assert(r.getAs[Double]("high") == 9.0 && r.getAs[Double]("low") == 1.0)
      assert(r.getAs[Long]("n") == 4)
    } finally q.stop()
  }

  test("streamingAnomalyFlags scores a stream against batch baselines identically") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    // history: series 1 hovers at 10.0 with tight spread
    val history = ((1 to 20).map(i => (1L, 10.0 + (i % 3) * 0.01)))
      .toDF("series", "value")
    val baselines = StreamIngest.anomalyBaselines(history, "series", "value")
    val mem = MemoryStream[(Long, Double)]
    val q = StreamIngest.streamingAnomalyFlags(
        mem.toDF().toDF("series", "value"), baselines, "series", "value")
      .writeStream.outputMode("append").format("memory").queryName("anom_test").start()
    try {
      mem.addData((1L, 10.01), (1L, 50.0)) // normal point + wild spike
      q.processAllAvailable()
      val rows = spark.table("anom_test").orderBy("value")
        .collect().map(r => (r.getAs[Double]("value"), r.getAs[Boolean]("is_outlier")))
      assert(rows.toSeq == Seq((10.01, false), (50.0, true)))
      // no train/serve skew: batch scorer agrees on the same points
      val batch = graft.functions.TimeSeries.anomalyZscore(
          history.unionByName(Seq((1L, 10.01), (1L, 50.0)).toDF("series", "value")),
          Seq("series"), "value")
        .filter(col("value") === 50.0).collect()
      assert(batch.head.getAs[Boolean]("is_outlier"))
    } finally q.stop()
  }

  test("streamingGapfillLocf last-per-bucket, late rows, and the gap guard") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[StreamIngest.GaugePoint]
    val q = StreamIngest.streamingGapfillLocf(mem.toDS(), bucketUs = 10L)
      .writeStream.outputMode("append").format("memory").queryName("gapfill_edge").start()
    try {
      // two samples in bucket 0: the bucket row carries the LAST (5.0);
      // a late row (ts 3) after bucket 20 is ignored
      mem.addData(StreamIngest.GaugePoint(2L, 1L, 4.0), StreamIngest.GaugePoint(2L, 9L, 5.0))
      q.processAllAvailable()
      mem.addData(StreamIngest.GaugePoint(2L, 21L, 7.0), StreamIngest.GaugePoint(2L, 3L, 99.0))
      q.processAllAvailable()
      val rows = spark.table("gapfill_edge").orderBy("bucket_us")
        .collect().map(r => (r.getAs[Long]("bucket_us"), r.getAs[Double]("value")))
      assert(rows.toSeq == Seq((0L, 5.0), (10L, 5.0), (20L, 7.0)))
    } finally q.stop()
    // the densification guard: a 1e6+-bucket gap must fail the query fast
    val mem2 = MemoryStream[StreamIngest.GaugePoint]
    val q2 = StreamIngest.streamingGapfillLocf(mem2.toDS(), bucketUs = 1L, maxBucketsPerGap = 100L)
      .writeStream.outputMode("append").format("memory").queryName("gapfill_guard").start()
    try {
      mem2.addData(StreamIngest.GaugePoint(3L, 0L, 1.0))
      q2.processAllAvailable()
      mem2.addData(StreamIngest.GaugePoint(3L, 1000L, 2.0))
      val ex = intercept[Exception] { q2.processAllAvailable() }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(ex).exists(_.contains("streamingGapfillLocf")) ||
        msgs(ex).exists(_.contains("maxBucketsPerGap")),
        s"wanted the gap guard, got: ${msgs(ex).take(3).mkString(" | ")}")
    } finally q2.stop()
  }

  test("streamingExactDedup drops repeated content across micro-batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    val docs = mem.toDF().toDF("doc_id", "ts", "text")
    val q = StreamIngest.streamingExactDedup(docs, "ts", "text", "10 minutes")
      .writeStream.outputMode("append").format("memory").queryName("dedup_test").start()
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    try {
      mem.addData((1L, ts(0), "alpha"), (2L, ts(1), "beta"), (3L, ts(2), "alpha"))
      q.processAllAvailable()
      mem.addData((4L, ts(3), "beta"), (5L, ts(4), "gamma"))
      q.processAllAvailable()
      val kept = spark.table("dedup_test").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(kept.intersect(Set(1L, 3L)).size == 1, "one of the alpha copies survives")
      assert(kept.contains(5L), "new content passes through")
      assert(!kept.contains(4L), "beta repeat within the watermark is dropped")
      assert(kept.size == 3)
    } finally q.stop()
    // same function runs on a batch frame
    val batch = Seq((1L, ts(0), "x"), (2L, ts(1), "x"), (3L, ts(2), "y"))
      .toDF("doc_id", "ts", "text")
    assert(StreamIngest.streamingExactDedup(batch, "ts", "text", "10 minutes").count() == 2)
  }

  test("streamingNearDupFlags flags near-copies across micro-batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("doc_id", "text")
    val q = StreamIngest.streamingNearDupFlags(docs, "doc_id", "text")
      .writeStream.outputMode("append").format("memory").queryName("neardup_test").start()
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    try {
      mem.addData((1L, base), (2L, "completely different words entirely here now ok fine"))
      q.processAllAvailable()
      // batch 2: an exact copy of doc 1 (every band collides) and a
      // fresh doc — the copy must flag against doc 1 FROM BATCH 1
      mem.addData((3L, base), (4L, "yet another unrelated document with its own tokens"))
      q.processAllAvailable()
      val rows = spark.table("neardup_test")
        .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("first_id"),
          r.getAs[Boolean]("is_dup")))
      val byDoc = rows.groupBy(_._1)
      assert(byDoc(1L).forall(!_._3), "the first claimant is not a dup")
      assert(byDoc(3L).forall(r => r._3 && r._2 == 1L),
        s"the cross-batch copy must flag against doc 1, got ${byDoc(3L).toSeq}")
      assert(byDoc(2L).forall(!_._3) && byDoc(4L).forall(!_._3))
    } finally q.stop()
  }

  test("streamingNearDupFlagsBounded expires bucket claims past the TTL horizon") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    val docs = mem.toDF().toDF("doc_id", "ts", "text")
    // watermark 10 min, state TTL 1 h
    val q = StreamIngest.streamingNearDupFlagsBounded(
        docs, "doc_id", "text", "ts", "10 minutes", 3600L * 1000)
      .writeStream.outputMode("append").format("memory")
      .queryName("neardup_ttl_test").start()
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    // offset from epoch: the initial watermark is 0, and a row AT the
    // watermark is filtered as late — epoch-0 event times would silently
    // drop the first batch
    def ts(min: Long) = new java.sql.Timestamp((1000000 + min) * 60000)
    try {
      // t=0: doc 1 claims its buckets
      mem.addData((1L, ts(0), base)); q.processAllAvailable()
      // t=5min (inside TTL): exact copy flags against doc 1
      mem.addData((2L, ts(5), base)); q.processAllAvailable()
      // advance the watermark far past doc 1's expiry (t=0+1h):
      // batch 3 moves max event time to t=4h (watermark → 3h50m),
      // batch 4 gives the timeout a trigger to fire in
      mem.addData((7L, ts(240), "completely different words entirely here now ok fine"))
      q.processAllAvailable()
      mem.addData((8L, ts(245), "yet another unrelated document with its own tokens"))
      q.processAllAvailable()
      // t=4h10m: the bucket claim expired — same text RE-claims as first
      mem.addData((3L, ts(250), base)); q.processAllAvailable()
      val rows = spark.table("neardup_ttl_test")
        .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("first_id"),
          r.getAs[Boolean]("is_dup")))
      val byDoc = rows.groupBy(_._1)
      assert(byDoc(1L).forall(!_._3), "first claimant is not a dup")
      assert(byDoc(2L).forall(r => r._3 && r._2 == 1L), "in-horizon copy flags against doc 1")
      assert(byDoc(3L).forall(r => !r._3 && r._2 == 3L),
        s"claim must expire past the TTL and re-seat on doc 3, got ${byDoc(3L).toSeq}")
    } finally q.stop()
  }

  test("stream equivalence entries execute genuinely multi-batch") {
    // The staged source splits the lake into 4 ts-range files delivered
    // one per trigger, so the stateful replay must cross >1 micro-batch
    // boundary — the cross-batch state carry the single-file r5 harness
    // never exercised (VERDICT r5 #2).
    val out = graft.queries.StreamQueries.queries("stream_increase")(spark, sf)
    assert(out.count() > 0)
    val batches = graft.queries.StreamQueries.replayBatches("stream_increase_sink")
    assert(batches > 1, s"expected >1 data-bearing micro-batch, got $batches")
    // same proof for the two lanes whose POINT is cross-batch state:
    // locf carry across files and dedup state surviving boundaries
    val gf = graft.queries.StreamQueries.queries("stream_gapfill_locf")(spark, sf)
    assert(gf.count() > 0)
    val gfB = graft.queries.StreamQueries.replayBatches("stream_gapfill_sink")
    assert(gfB > 1, s"gapfill expected >1 data-bearing micro-batch, got $gfB")
    val dd = graft.queries.StreamQueries.queries("stream_dedup")(spark, sf)
    assert(dd.count() > 0)
    val ddB = graft.queries.StreamQueries.replayBatches("stream_dedup_sink")
    assert(ddB > 1, s"dedup expected >1 data-bearing micro-batch, got $ddB")
    // and for event-time session windows — the lane where watermark
    // advancement BETWEEN batches merges/closes sessions
    val ss = graft.queries.StreamQueries.queries("stream_session")(spark, sf)
    assert(ss.count() > 0)
    val ssB = graft.queries.StreamQueries.replayBatches("stream_session_sink")
    assert(ssB > 1, s"session expected >1 data-bearing micro-batch, got $ssB")
    // the protobuf-wire streamed ingest: one snappy WriteRequest POST
    // body per micro-batch — the windowed state must span POSTs
    val wp = graft.queries.StreamQueries.queries("stream_wire_prom")(spark, sf)
    assert(wp.count() > 0)
    val wpB = graft.queries.StreamQueries.replayBatches("stream_wire_prom_sink")
    assert(wpB > 1, s"wire-prom expected >1 data-bearing micro-batch, got $wpB")
    // the kafka-wire streamed ingest: maxOffsetsPerTrigger rations the
    // broker log into offset ranges — windowed state must span them
    val kf = graft.queries.StreamQueries.queries("stream_kafka_ingest")(spark, sf)
    assert(kf.count() > 0)
    val kfB = graft.queries.StreamQueries.replayBatches("stream_kafka_ingest_sink")
    assert(kfB > 1, s"kafka expected >1 data-bearing micro-batch, got $kfB")
  }

  test("an AvailableNow replay leaks no conf and leaves a checkpoint without .crc or temp files") {
    import graft.queries.StreamQueries
    import java.nio.file.{Files, Path}
    val keys = Seq("spark.sql.shuffle.partitions", StreamQueries.CheckpointManagerConf,
      StreamQueries.ArtifactIsolationConf)
    def explicit() = { val all = spark.conf.getAll; keys.map(all.get) }
    val root = Files.createTempDirectory("graft_replay_scope")
    spark.range(60).selectExpr("id % 7 AS k").repartition(3)
      .write.json(root.resolve("src").toString)
    def counts(check: String) = spark.readStream.schema("k LONG")
      .option("maxFilesPerTrigger", "1").json(root.resolve("src").toString)
      .where(s"assert_true($check) IS NULL").groupBy("k").count()
    def noop(ckpt: Path)(w: DataStreamWriter[Row]) = w.format("noop").outputMode("update")
      .option("checkpointLocation", ckpt.toString)
    val prior = spark.conf.getAll
    try {
      // returns: the width was set, the manager unset
      spark.conf.unset(StreamQueries.CheckpointManagerConf)
      val before = explicit()
      val ckpt = root.resolve("ckpt")
      StreamQueries.runAvailableNow(spark, "scope_spec", 2, counts("k >= 0"))(noop(ckpt))
      assert(explicit() == before)
      assert(StreamQueries.replayBatches("scope_spec") == 3)
      val files = {
        val w = Files.walk(ckpt)
        try w.iterator().asScala.filter(Files.isRegularFile(_)).map(ckpt.relativize(_).toString)
          .toSeq finally w.close()
      }
      Seq("offsets/", "commits/", "sources/0/", "state/0/").foreach(d =>
        assert(files.exists(_.startsWith(d)), s"no $d files in $files"))
      // Hadoop's local checksums are hidden `.<name>.crc` files; the
      // state store's own `<n>.delta.crc` checksums are Spark's and stay
      val stray = files.filter { f =>
        val name = f.substring(f.lastIndexOf('/') + 1)
        name.startsWith(".") && (name.endsWith(".crc") || name.endsWith(".tmp"))
      }
      assert(stray.isEmpty, s"checkpoint holds Hadoop .crc or temp files: $stray")

      // throws mid-run: the width was unset, the manager and the
      // isolation set
      spark.conf.unset("spark.sql.shuffle.partitions")
      spark.conf.set(StreamQueries.ArtifactIsolationConf, "true")
      spark.conf.set(StreamQueries.CheckpointManagerConf,
        "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")
      val before2 = explicit()
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        StreamQueries.runAvailableNow(spark, "scope_spec_fail", 2, counts("k < 0"))(
          noop(root.resolve("ckpt_fail")))
      }
      assert(explicit() == before2)
    } finally keys.foreach(k => prior.get(k) match {
      case Some(v) => spark.conf.set(k, v)
      case None => spark.conf.unset(k)
    })
  }

  test("a warm replay compiles nothing, and at width 1 a micro-batch plans no exchange") {
    import graft.queries.StreamQueries
    import java.nio.file.Files
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.streaming.operators.stateful.StateStoreSaveExec
    import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
    val root = Files.createTempDirectory("graft_replay_warm")
    val src = root.resolve("src").toString
    spark.range(600).selectExpr("id % 13 AS k", "id AS v").repartition(3).write.json(src)
    def sums(s: SparkSession) = s.readStream.schema("k LONG, v LONG")
      .option("maxFilesPerTrigger", "1").json(src)
      .groupBy("k").agg(count(lit(1)).as("n"), sum("v").as("s"))
    /** Replays into a memory table; returns its rows, the last
      * micro-batch's plan and the classes the replay compiled. */
    def replay(s: SparkSession, name: String, parts: Int): (Set[Row], SparkPlan, Long) = {
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val q = StreamQueries.runAvailableNow(s, name, parts, sums(s))(
        _.format("memory").queryName(name).outputMode("complete")
          .option("checkpointLocation", root.resolve(name).toString))
      val added = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled
      assert(StreamQueries.replayBatches(name) == 3)
      val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
      (s.table(name).collect().toSet, plan, added)
    }
    def exchangeBelowState(p: SparkPlan): Boolean =
      p.collect { case st: StateStoreSaveExec => st }
        .exists(_.exists(_.isInstanceOf[ShuffleExchangeExec]))

    val (rows1, plan1, _) = replay(spark, "warm_spec_1", 1)
    val (rows1b, _, compiled) = replay(spark, "warm_spec_1b", 1)
    assert(compiled == 0, s"the second replay compiled $compiled classes")
    assert(!exchangeBelowState(plan1), s"width 1 planned an exchange:\n$plan1")
    val (rows2, plan2, _) = replay(spark, "warm_spec_2", 2)
    assert(exchangeBelowState(plan2), s"width 2 planned no exchange:\n$plan2")
    val expected = spark.read.schema("k LONG, v LONG").json(src)
      .groupBy("k").agg(count(lit(1)).as("n"), sum("v").as("s")).collect().toSet
    assert(rows1.size == 13 && rows1 == expected && rows1b == expected && rows2 == expected)

    // a session with an added class keeps isolation in its replay: the
    // class stays visible only through its own classloader
    def isolation(s: SparkSession, name: String): Set[String] = {
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      StreamQueries.runAvailableNow(s, name, 1, sums(s))(
        _.foreachBatch { (b: DataFrame, _: Long) =>
          seen.add(b.sparkSession.conf.get(StreamQueries.ArtifactIsolationConf))
          b.collect() // the batch's state stores commit only when it runs
          ()
        }.outputMode("update").option("checkpointLocation", root.resolve(name).toString))
      seen.asScala.toSet
    }
    val withClass = spark.newSession()
    withClass.addArtifact(Array[Byte](0xCA.toByte, 0xFE.toByte, 0xBA.toByte, 0xBE.toByte),
      "classes/GraftIsolationProbe.class")
    assert(isolation(withClass, "isolated_spec") == Set("true"))
    assert(isolation(spark, "shared_spec") == Set("false"))
  }

  test("a stream_ewma replay starts no process for its checkpoint files") {
    // Hadoop's local FileSystem without its native library forks a
    // chmod or readlink per checkpoint file; the java.nio writer forks
    // none. jdk.ProcessStart records every process this JVM starts.
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val rs = new jdk.jfr.consumer.RecordingStream()
    try {
      rs.enable("jdk.ProcessStart")
      rs.onEvent("jdk.ProcessStart", e => started.add(e.getString("command")))
      rs.startAsync()
      val out = graft.queries.StreamQueries.queries("stream_ewma")(spark, sf)
      assert(graft.queries.StreamQueries.replayBatches("stream_ewma_sink") > 1)
      // a sentinel process started after the replay: once its event is
      // delivered, every earlier one has been, and the recording works
      val marker = s"graft-jfr-sentinel-${System.nanoTime()}"
      new ProcessBuilder("true", marker).start().waitFor()
      val deadline = System.currentTimeMillis() + 30000
      while (!started.asScala.exists(_.contains(marker)) &&
             System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(started.asScala.exists(_.contains(marker)), "the recording saw no sentinel")
      assert(out.count() > 0)
    } finally rs.close()
    val replay = started.asScala.filter(_.contains("graft_replay_stream_ewma_sink")).toSeq
    val ckpt = replay.filter(_.contains("/ckpt"))
    assert(ckpt.size == 0, s"process starts for checkpoint files, e.g. ${ckpt.take(3)}")
    info(s"process starts during the replay: ${replay.size} (sink data files only)")
  }

  test("candlestickStats in batch mode equals the batch candlestick operator") {
    val events = Tables.events(spark, sf)
      .withColumn("ts_us", expr("ts_ns div 1000"))
    val streamShaped = StreamIngest.candlestickStats(events, "ts", "event_type",
        "event_id", "value", "1 hour", "0 seconds")
      .select(col("event_type"), unix_micros(col("w_start")).as("bucket_us"),
        col("n"), col("open"), col("high"), col("low"), col("close"), col("volume"))
    val batch = graft.functions.TimeSeries.candlestick(events, Seq("event_type"),
        unix_micros(date_trunc("hour", col("ts"))), Seq("ts_us", "event_id"), "value")
      .select(col("event_type"), col("bucket").as("bucket_us"),
        col("n"), col("open"), col("high"), col("low"), col("close"), col("volume"))
    assert(streamShaped.count() == batch.count())
    assert(streamShaped.exceptAll(batch).isEmpty && batch.exceptAll(streamShaped).isEmpty)
  }

  test("streamingFunnel advances per-user level across micro-batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[StreamIngest.FunnelPoint]
    val q = StreamIngest.streamingFunnel(mem.toDS(), 3)
      .writeStream.outputMode("append").format("memory").queryName("funnel_test").start()
    try {
      // batch 1: u1 signup, u2 view-without-signup (ignored)
      mem.addData(StreamIngest.FunnelPoint(1L, 10L, 0), StreamIngest.FunnelPoint(2L, 10L, 1))
      q.processAllAvailable()
      // batch 2: u1 view then purchase (chain crosses the batch
      // boundary from state), u2 signup at last
      mem.addData(StreamIngest.FunnelPoint(1L, 20L, 1), StreamIngest.FunnelPoint(1L, 30L, 2),
        StreamIngest.FunnelPoint(2L, 20L, 0))
      q.processAllAvailable()
      val last = spark.table("funnel_test").groupBy("user_id")
        .agg(max("level").as("lvl")).orderBy("user_id")
        .collect().map(r => (r.getLong(0), r.getInt(1)))
      assert(last.toSeq == Seq((1L, 3), (2L, 1)), s"got ${last.toSeq}")
    } finally q.stop()
  }

  test("windowedTopK ranks by (value desc, tiebreak) independent of arrival order") {
    import spark.implicits._
    val rows = Seq((1L, "2024-01-01 00:10:00", 5.0), (2L, "2024-01-01 00:20:00", 9.0),
      (3L, "2024-01-01 00:30:00", 9.0), (4L, "2024-01-01 00:40:00", 1.0))
    def run(sq: Seq[(Long, String, Double)]) =
      StreamIngest.windowedTopK(
          sq.toDF("event_id", "t", "value")
            .select(col("event_id"), to_timestamp(col("t")).as("ts"),
              col("value"), lit("k").as("g")),
          "ts", "g", "event_id", "value", "1 hour", "0 seconds", 3)
        .orderBy("rank")
        .collect().map(r => (r.getLong(2), r.getLong(3), r.getDouble(4))).toSeq
    val expect = Seq((1L, 2L, 9.0), (2L, 3L, 9.0), (3L, 1L, 5.0))
    assert(run(rows) == expect, s"got ${run(rows)}")
    assert(run(rows.reverse) == expect, "arrival order changed the top-k")
  }

  test("quantileSketch bins are mergeable and read-off matches exact percentile binning") {
    import spark.implicits._
    // 20 values 1..20 (cents 100..2000) in one window: bids are
    // deterministic; p50 rank ceil(21/2)=10 (wait: (n+1) div 2 = 10),
    // p95 rank (20*19+19) div 20 = 19
    val rows = (1 to 20).map(i => (i.toLong, "2024-01-01 00:%02d:00".format(i), i.toDouble))
    val bins = StreamIngest.quantileSketch(
        rows.toDF("event_id", "t", "value")
          .select(to_timestamp(col("t")).as("ts"), col("value"), lit("k").as("g")),
        "ts", "g", "value", "1 hour", "0 seconds")
      .collect().map(r => (r.getAs[Long]("bid"), r.getAs[Long]("bn")))
    // state is O(bins): 20 rows collapse into ≤ 20 bins, each a count
    assert(bins.map(_._2).sum == 20)
    val cum = bins.sortBy(_._1).scanLeft((0L, 0L)) { case ((_, acc), (bid, bn)) => (bid, acc + bn) }.tail
    val p50 = cum.find(_._2 >= 10).get._1
    val p95 = cum.find(_._2 >= 19).get._1
    // cents 1000 → d=4, div=100, bid=410; cents 1900 → bid=419
    assert(p50 == 410L, s"p50 bid $p50")
    assert(p95 == 419L, s"p95 bid $p95")
  }

  test("OpenTsdb telnet parser: put prefix, tags, malformed rows dead-letter") {
    import graft.sources.OpenTsdb
    // reference wire shape (write/cli_precision.slt OPENTSDB block)
    assert(OpenTsdb.parseTelnetLine("test2 1667456411000001 1 ta=a1 tb=b1")
      .contains(OpenTsdb.Point("test2", 1667456411000001L, 1.0,
        Map("ta" -> "a1", "tb" -> "b1"))))
    // telnet API 'put' command prefix tolerated
    assert(OpenTsdb.parseTelnetLine("put sys.cpu 1612345678 0.5 host=web01")
      .contains(OpenTsdb.Point("sys.cpu", 1612345678L, 0.5, Map("host" -> "web01"))))
    // no tags is legal; extra whitespace collapses
    assert(OpenTsdb.parseTelnetLine("m   1  2.5")
      .contains(OpenTsdb.Point("m", 1L, 2.5, Map.empty)))
    // malformed rows dead-letter instead of aborting the batch
    for (bad <- Seq("", "# comment", "m 1", "m notatime 1 a=b",
        "m 1 notanumber a=b", "m 1 2 =v", "m 1 2 k=", "m 1 2 kv"))
      assert(OpenTsdb.parseTelnetLine(bad).isEmpty, s"accepted: '$bad'")
  }

  test("OpenTsdb JSON parser: array batches, malformed docs contribute no rows") {
    import spark.implicits._
    val docs = Seq(
      """[{"metric": "nice", "timestamp": 1667456411000001, "value": 18,
        | "tags": {"host": "web01", "dc": "lga"}},
        |{"metric": "nice", "timestamp": 1667456411000002, "value": 9,
        | "tags": {"host": "web02", "dc": "lga"}}]""".stripMargin,
      "not json at all",
      """[{"timestamp": 5, "value": 1.0, "tags": {}}]""" // metric missing → filtered
    ).toDF("doc")
    val out = graft.sources.OpenTsdb.parseJson(docs, "doc")
      .orderBy("ts").collect()
    assert(out.length == 2)
    assert(out(0).getAs[String]("metric") == "nice" &&
      out(0).getAs[Long]("ts") == 1667456411000001L &&
      out(0).getAs[Double]("value") == 18.0 &&
      out(0).getAs[Map[String, String]]("tags") == Map("host" -> "web01", "dc" -> "lga"))
    assert(out(1).getAs[Map[String, String]]("tags")("host") == "web02")
  }

  test("streamingLastPoint keeps the max-by-time row per key") {
    import spark.implicits._
    val pts = Seq(
      StreamIngest.LastPoint(1L, 100L, "a", 1.0),
      StreamIngest.LastPoint(1L, 300L, "c", 3.0),
      StreamIngest.LastPoint(1L, 200L, "b", 2.0),
      StreamIngest.LastPoint(2L, 50L, "z", 9.0)
    ).toDS()
    val out = StreamIngest.streamingLastPoint(pts).collect().map(p => p.user_id -> p).toMap
    assert(out(1L).ts_us == 300L && out(1L).value == 3.0)
    assert(out(2L).value == 9.0)
  }

  test("JsonLog bulk: multi-pair bodies, nested/array flatten, typed field buckets") {
    val body =
      """{"create": {"_index": "logs", "_id": "7"}}
        |{"time": 123456789, "msg": "hi", "sev": 3, "meta": {"host": "h1", "ports": [80, 443]}, "ok": true}
        |{"index": {"_index": "logs"}}
        |{"time": 5, "msg": "bye", "nil": null}
        |""".stripMargin
    val rows = graft.sources.JsonLog.parseBulkBody(body, "time", Set("meta.host"))
    assert(rows.length == 2)
    val a = rows.head
    assert(a.cmd == "create" && a.esIndex == "logs" && a.esId == "7")
    assert(a.ts == 123456789L)
    assert(a.tags == Map("meta.host" -> "h1"))
    assert(a.strFields == Map("msg" -> "hi"))
    // integer JSON numbers coerce to F64 (reference parse_to_line), and
    // array elements flatten under their index
    assert(a.numFields == Map("sev" -> 3.0, "meta.ports.0" -> 80.0, "meta.ports.1" -> 443.0))
    assert(a.boolFields == Map("ok" -> true))
    val b = rows(1)
    assert(b.cmd == "index" && b.esId == "" && b.ts == 5L)
    assert(!b.strFields.contains("nil") && !b.numFields.contains("nil")) // null field dropped, row kept
  }

  test("JsonLog bulk: malformed pairs dead-letter, trailing unpaired command drops") {
    val body =
      """{"create": {}}
        |{"time": 1, "v": 1}
        |{"delete": {"_id": "x"}}
        |{"time": 2, "v": 2}
        |{"create": {}}
        |not json at all
        |{"index": {}}
        |""".stripMargin
    // pair 2 has an invalid command verb, pair 3 an unparseable doc,
    // and the final command line is unpaired — only pair 1 survives
    val rows = graft.sources.JsonLog.parseBulkBody(body, "time", Set.empty)
    assert(rows.map(_.ts) == Seq(1L))
  }

  test("JsonLog ndjson: RFC 3339 string time, numeric tag stringifies, no-time ts=-1") {
    val r = graft.sources.JsonLog
      .parseNdjsonLine("""{"time": "2022-11-03T06:20:11.000001Z", "shard": 42, "v": 1.5}""",
        "time", Set("shard")).get
    assert(r.ts == 1667456411000001000L)
    assert(r.tags == Map("shard" -> "42"))
    assert(r.numFields == Map("v" -> 1.5))
    // explicit offset form parses too
    val r2 = graft.sources.JsonLog
      .parseNdjsonLine("""{"time": "2022-11-03T06:20:11+08:00", "v": 2}""", "time", Set.empty).get
    assert(r2.ts == 1667427611000000000L)
    // unparseable time string kills the row (reference ParseTime error)
    assert(graft.sources.JsonLog
      .parseNdjsonLine("""{"time": "yesterday", "v": 3}""", "time", Set.empty).isEmpty)
    // absent time → deterministic -1 sentinel, not server now()
    val r3 = graft.sources.JsonLog.parseNdjsonLine("""{"v": 4}""", "time", Set.empty).get
    assert(r3.ts == -1L)
  }

  test("JsonLog parseBulk/parseNdjson are distributed mappers over Dataset[String]") {
    import spark.implicits._
    val bodies = Seq(
      "{\"create\": {\"_id\": \"1\"}}\n{\"time\": 10, \"v\": 1}",
      "garbage body that parses to nothing",
      "{\"index\": {\"_id\": \"2\"}}\n{\"time\": 20, \"v\": 2}"
    ).toDS()
    val out = graft.sources.JsonLog.parseBulk(bodies).orderBy("ts").collect()
    assert(out.map(_.getAs[Long]("ts")).toSeq == Seq(10L, 20L))
    val nd = Seq("""{"time": 1, "v": 1}""", "", "broken").toDS()
    assert(graft.sources.JsonLog.parseNdjson(nd).count() == 1)
  }

  test("PromRemote decodes a GOLDEN hand-assembled prompb WriteRequest (wire pin)") {
    import graft.sources.PromRemote
    // WriteRequest{ TimeSeries{ Label{__name__, up}, Sample{1.5, 1000} } }
    // assembled byte by byte from the proto3 wire spec — an encoder bug
    // that round-trips against its own decoder cannot pass this.
    val label = Array[Int](0x0A, 0x08) ++ "__name__".getBytes.map(_.toInt) ++
      Array[Int](0x12, 0x02) ++ "up".getBytes.map(_.toInt)
    val sample = Array[Int](0x09, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0xF8, 0x3F,
      0x10, 0xE8, 0x07) // double 1.5 LE; varint 1000
    val ts = Array[Int](0x0A, label.length) ++ label ++
      Array[Int](0x12, sample.length) ++ sample
    val req = (Array[Int](0x0A, ts.length) ++ ts).map(_.toByte)
    val rows = PromRemote.parseUncompressed(req)
    assert(rows == Seq(PromRemote.PromRow("up", "", 1000L, 1.5)), rows.toString)
    // and the library's own encoder emits EXACTLY those bytes
    val enc = PromRemote.encodeWriteRequest(
      Seq((Seq("__name__" -> "up"), Seq((1.5, 1000L)))))
    assert(java.util.Arrays.equals(enc, req), "encoder diverges from the golden wire")
    // snappy round-trip through the public POST-body surface
    val viaWire = PromRemote.parseWriteRequest(PromRemote.compress(enc))
    assert(viaWire == rows)
    // unknown fields are skipped by wire type, per proto compatibility
    // rules: append an unknown varint field (tag 3) to the request
    val withUnknown = (Array[Int](0x0A, ts.length) ++ ts ++ Array[Int](0x18, 0x2A)).map(_.toByte)
    assert(PromRemote.parseUncompressed(withUnknown) == rows)
  }

  test("LokiPush decodes a GOLDEN hand-assembled logproto PushRequest (wire pin)") {
    import graft.sources.LokiPush
    // PushRequest{ Stream{ labels={app="x"},
    //   Entry{ Timestamp{seconds=1, nanos=5}, line="hello" } } }
    // assembled byte by byte from Loki's public push.proto — an encoder
    // bug that round-trips against its own decoder cannot pass this.
    val labels = """{app="x"}""".getBytes.map(_.toInt)
    val tsMsg = Array[Int](0x08, 0x01, 0x10, 0x05) // seconds=1, nanos=5
    val entry = Array[Int](0x0A, tsMsg.length) ++ tsMsg ++
      Array[Int](0x12, 0x05) ++ "hello".getBytes.map(_.toInt)
    val stream = Array[Int](0x0A, labels.length) ++ labels ++
      Array[Int](0x12, entry.length) ++ entry
    val req = (Array[Int](0x0A, stream.length) ++ stream).map(_.toByte)
    val rows = LokiPush.parseUncompressed(req)
    // parser.rs:203: ts = seconds * 1e9 + nanos
    assert(rows == Seq(LokiPush.LokiRow("""{app="x"}""", 1000000005L, "hello")), rows.toString)
    // and the library's own encoder emits EXACTLY those bytes
    val enc = LokiPush.encodePushRequest(
      Seq(("""{app="x"}""", Seq((1000000005L, "hello")))))
    assert(java.util.Arrays.equals(enc, req), "encoder diverges from the golden wire")
    // snappy round-trip through the public POST-body surface
    assert(LokiPush.parsePushRequest(LokiPush.compress(enc)) == rows)
    // unknown fields skip by wire type: append stream hash (field 3, varint)
    val withHash = (Array[Int](0x0A, stream.length + 2) ++ stream ++
      Array[Int](0x18, 0x2A)).map(_.toByte)
    assert(LokiPush.parseUncompressed(withHash) == rows)
  }

  test("LokiPush round-trips multi-stream payloads and pre-epoch timestamps") {
    import graft.sources.LokiPush
    val streams = Seq(
      ("""{job="a"}""", Seq((1700000000123456789L, "line one"), (1700000001000000000L, "line two"))),
      ("""{job="b"}""", Seq((-5L, "before the epoch")))) // floorDiv/floorMod split
    val rows = LokiPush.parsePushRequest(
      LokiPush.compress(LokiPush.encodePushRequest(streams)))
    assert(rows.size == 3)
    assert(rows.map(r => (r.labels, r.ts_ns, r.msg)).toSet == Set(
      ("""{job="a"}""", 1700000000123456789L, "line one"),
      ("""{job="a"}""", 1700000001000000000L, "line two"),
      ("""{job="b"}""", -5L, "before the epoch")))
  }

  test("OtlpTrace decodes a GOLDEN hand-assembled ExportTraceServiceRequest (wire pin)") {
    import graft.sources.OtlpTrace
    // ResourceSpans{ Resource{ KeyValue{service.name, AnyValue{"svc"}} },
    //   ScopeSpans{ Scope{name="sc"}, Span{ trace_id=ABCD, span_id=EF,
    //     name="op", kind=SERVER(2), start=1, end=2,
    //     attr u=AnyValue{int 7}, one Event{t=5, "e"} } } }
    val svcAv = Array[Int](0x0A, 0x03) ++ "svc".getBytes.map(_.toInt)
    val svcKv = Array[Int](0x0A, 0x0C) ++ "service.name".getBytes.map(_.toInt) ++
      Array[Int](0x12, svcAv.length) ++ svcAv
    // Resource message = its attributes field; then wrapped once more
    // as ResourceSpans.resource (field 1)
    val resourceMsg = Array[Int](0x0A, svcKv.length) ++ svcKv
    val resource = Array[Int](0x0A, resourceMsg.length) ++ resourceMsg
    val scope = Array[Int](0x0A, 0x02) ++ "sc".getBytes.map(_.toInt)
    val uKv = Array[Int](0x0A, 0x01) ++ "u".getBytes.map(_.toInt) ++
      Array[Int](0x12, 0x02, 0x18, 0x07) // AnyValue{int_value=7}
    val event = Array[Int](0x09, 5, 0, 0, 0, 0, 0, 0, 0, // fixed64 t=5
      0x12, 0x01) ++ "e".getBytes.map(_.toInt)
    val span = Array[Int](0x0A, 0x02, 0xAB, 0xCD, 0x12, 0x01, 0xEF,
      0x2A, 0x02) ++ "op".getBytes.map(_.toInt) ++
      Array[Int](0x30, 0x02,
        0x39, 1, 0, 0, 0, 0, 0, 0, 0, // fixed64 start=1
        0x41, 2, 0, 0, 0, 0, 0, 0, 0, // fixed64 end=2
        0x4A, uKv.length) ++ uKv ++
      Array[Int](0x5A, event.length) ++ event
    val scopeSpans = Array[Int](0x0A, scope.length) ++ scope ++
      Array[Int](0x12, span.length) ++ span
    val rs = resource ++ Array[Int](0x12, scopeSpans.length) ++ scopeSpans
    val req = (Array[Int](0x0A, rs.length) ++ rs).map(_.toByte)
    val rows = OtlpTrace.parseTraces(req)
    assert(rows == Seq(OtlpTrace.SpanRow("svc", "sc", "abcd", "ef", "",
      "op", "SPAN_KIND_SERVER", 1L, 2L, "u=7", 1)), rows.toString)
    // unknown fields skip by wire type: a Status submessage (field 15)
    // and fixed32 flags (field 16) appended to the span
    val span2 = span ++ Array[Int](0x7A, 0x02, 0x10, 0x01, 0x85, 0x01, 1, 0, 0, 0)
    val scopeSpans2 = Array[Int](0x0A, scope.length) ++ scope ++
      Array[Int](0x12, span2.length) ++ span2
    val rs2 = resource ++ Array[Int](0x12, scopeSpans2.length) ++ scopeSpans2
    val req2 = (Array[Int](0x0A, rs2.length) ++ rs2).map(_.toByte)
    assert(OtlpTrace.parseTraces(req2) == rows)
  }

  test("OtlpTrace encoder round-trips the tree; AnyValue variants stringify") {
    import graft.sources.OtlpTrace
    val spans = Seq(OtlpTrace.SpanIn(
      Array.tabulate(16)(_.toByte), Array.tabulate(8)(i => (i + 16).toByte),
      Array.tabulate(8)(i => (i + 32).toByte), "GET /api", 3,
      1700000000000000000L, 1700000000500000000L,
      attrs = Seq("http.status" -> "200", "retry" -> "false"),
      events = Seq((1700000000100000000L, "sent"), (1700000000200000000L, "recv"))))
    val rows = OtlpTrace.parseTraces(OtlpTrace.encodeTraces(
      Seq(("api-svc", Seq(("http-scope", spans))))))
    assert(rows.size == 1)
    val r = rows.head
    assert(r.service == "api-svc" && r.scope == "http-scope")
    assert(r.trace_id == "000102030405060708090a0b0c0d0e0f")
    assert(r.span_id == "1011121314151617")
    assert(r.parent_span_id == "2021222324252627")
    assert(r.kind == "SPAN_KIND_CLIENT" && r.events_n == 2)
    assert(r.attrs == "http.status=200,retry=false")
    assert(r.start_ns == 1700000000000000000L && r.end_ns == 1700000000500000000L)
  }

  test("PromRemote remote-read: GOLDEN ReadRequest wire + matcher semantics end-to-end") {
    import graft.sources.PromRemote
    import spark.implicits._
    // ReadRequest{ Query{ start=1000, end=2000,
    //   Matcher{EQ(default), __name__, up}, Matcher{RE(2), job, a.*} } }
    val m1 = Array[Int](0x12, 0x08) ++ "__name__".getBytes.map(_.toInt) ++
      Array[Int](0x1A, 0x02) ++ "up".getBytes.map(_.toInt)
    val m2 = Array[Int](0x08, 0x02, 0x12, 0x03) ++ "job".getBytes.map(_.toInt) ++
      Array[Int](0x1A, 0x03) ++ "a.*".getBytes.map(_.toInt)
    val q = Array[Int](0x08, 0xE8, 0x07, 0x10, 0xD0, 0x0F,
      0x1A, m1.length) ++ m1 ++ Array[Int](0x1A, m2.length) ++ m2
    val golden = (Array[Int](0x0A, q.length) ++ q).map(_.toByte)
    val queries = Seq(PromRemote.ReadQuery(1000L, 2000L, Seq(
      PromRemote.Matcher(0, "__name__", "up"),
      PromRemote.Matcher(2, "job", "a.*"))))
    assert(java.util.Arrays.equals(PromRemote.encodeReadRequest(queries), golden),
      "encoder diverges from the golden wire")
    assert(PromRemote.parseReadRequest(PromRemote.compress(golden)) == queries)

    // matcher translation over an in-memory samples table: EQ selects
    // the metric, RE is unanchored, time bounds are inclusive
    val samples = Seq(
      ("up", "api", 1000L, 1.0),  // kept (start bound inclusive)
      ("up", "api", 2000L, 2.0),  // kept (end bound inclusive)
      ("up", "api", 2001L, 3.0),  // dropped: time
      ("up", "web", 1500L, 4.0),  // dropped: job !~ a.*
      ("dn", "api", 1500L, 5.0),  // dropped: __name__
      ("up", "xapi", 1500L, 6.0)  // kept: unanchored RE matches mid-string
    ).toDF("metric", "job", "ts_ms", "value")
    val resp = PromRemote.executeRead(samples, Seq("job"),
      PromRemote.parseReadRequest(PromRemote.compress(
        PromRemote.encodeReadRequest(queries))))
    val results = PromRemote.parseReadResponse(resp)
    assert(results.size == 1)
    assert(results.head.map(r => (r.labels, r.ts_ms, r.value)).sorted == Seq(
      ("job=api", 1000L, 1.0), ("job=api", 2000L, 2.0), ("job=xapi", 1500L, 6.0)))
    assert(results.head.forall(_.metric == "up"))

    // NEQ/NRE arms + per-query result indexing
    val multi = PromRemote.executeRead(samples, Seq("job"), Seq(
      PromRemote.ReadQuery(0L, 9999L, Seq(PromRemote.Matcher(1, "job", "api"))),
      PromRemote.ReadQuery(0L, 9999L, Seq(PromRemote.Matcher(3, "job", "^a")))))
    val mr = PromRemote.parseReadResponse(multi)
    assert(mr.size == 2)
    assert(mr(0).map(_.labels).toSet == Set("job=web", "job=xapi"))
    assert(mr(1).map(_.labels).toSet == Set("job=web", "job=xapi"))
    // the reference rejects non-equal matchers on the metric name
    // (remote_server.rs:325); so does the translation
    intercept[IllegalArgumentException] {
      PromRemote.queryFilter(PromRemote.ReadQuery(0L, 1L,
        Seq(PromRemote.Matcher(1, "__name__", "up"))))
    }
  }

  test("PromRemote encode/decode round-trips multi-series payloads with label sets") {
    import graft.sources.PromRemote
    val series = Seq(
      (Seq("__name__" -> "http_requests_total", "job" -> "api", "code" -> "200"),
        Seq((1.0, 1000L), (4.0, 2000L))),
      (Seq("__name__" -> "http_requests_total", "job" -> "api", "code" -> "500"),
        Seq((2.0, 1500L))))
    val rows = PromRemote.parseWriteRequest(
      PromRemote.compress(PromRemote.encodeWriteRequest(series)))
    assert(rows.size == 3)
    assert(rows.forall(_.metric == "http_requests_total"))
    // labels render sorted, __name__ extracted
    assert(rows.map(_.labels).distinct.sorted ==
      Seq("code=200,job=api", "code=500,job=api"))
    assert(rows.map(r => (r.ts_ms, r.value)).toSet ==
      Set((1000L, 1.0), (2000L, 4.0), (1500L, 2.0)))
  }
}
