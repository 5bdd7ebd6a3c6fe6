package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TimeSeries

/** Degenerate-input semantics for the time-series operators, pulled
  * from the reference slt edge rows: empty inputs, single-sample
  * series, null values, all-equal timestamps.
  */
class TimeSeriesEdgeSpec extends AnyFunSuite with TestSpark {

  import spark.implicits._

  private def series(rows: (Long, Long, java.lang.Double)*) =
    rows.toDF("sid", "ts_s", "v")
      .select(col("sid"), timestamp_seconds(col("ts_s")).as("ts"), col("v"))

  test("increase on an empty frame yields no groups") {
    val empty = series().filter(lit(false))
    assert(TimeSeries.increase(empty, Seq(col("ts")), col("v"), Seq("sid")).count() == 0)
  }

  test("increase on a single sample is 0 (reference increase.slt single-row case)") {
    val out = TimeSeries.increase(series((1L, 10L, 5.0)), Seq(col("ts")), col("v"), Seq("sid"))
      .collect()
    assert(out.length == 1 && out.head.getDouble(1) == 0.0)
  }

  test("increase matches reference vectors 1..8→7 and reset 1,2,3,4,1,2,3,4→7") {
    val mono = series((1 to 8).map(i => (1L, i.toLong, i.toDouble: java.lang.Double)): _*)
    assert(TimeSeries.increase(mono, Seq(col("ts")), col("v"), Seq("sid"))
      .head().getDouble(1) == 7.0)
    val reset = series((1 to 8).map(i =>
      (1L, i.toLong, (((i - 1) % 4) + 1).toDouble: java.lang.Double)): _*)
    assert(TimeSeries.increase(reset, Seq(col("ts")), col("v"), Seq("sid"))
      .head().getDouble(1) == 7.0)
  }

  test("gaugeAgg on a single sample: delta 0, rate null") {
    val out = TimeSeries.gaugeAgg(series((1L, 10L, 5.0)).withColumn("tb", lit(0)),
      "ts", "tb", "v", Seq("sid")).head()
    assert(out.getAs[Double]("delta") == 0.0)
    assert(out.isNullAt(out.fieldIndex("rate"))) // zero time_delta → no rate
  }

  test("durationIn ignores the last sample and handles single-sample series") {
    val one = TimeSeries.durationIn(series((1L, 10L, 1.0)), col("ts"), col("v"), Seq("sid"))
    assert(one.count() == 0) // no successor → no bounded interval
    val two = TimeSeries.durationIn(series((1L, 10L, 1.0), (1L, 25L, 2.0)),
      col("ts"), col("v"), Seq("sid")).collect()
    assert(two.length == 1 && two.head.getAs[Double]("duration_s") == 15.0)
  }

  test("topk with k larger than the group returns the whole group") {
    val out = TimeSeries.topk(series((1L, 1L, 1.0), (1L, 2L, 2.0)),
      col("v"), col("ts"), 10, Seq("sid"))
    assert(out.count() == 2)
  }

  test("modeOf breaks frequency ties toward the smaller value") {
    val df = Seq((1L, "b"), (1L, "a"), (1L, "b"), (1L, "a")).toDF("sid", "s")
    assert(TimeSeries.modeOf(df, Seq("sid"), "s").head().getString(1) == "a")
  }

  test("gapfill on a group with one bucket emits just that bucket") {
    val bucketed = series((1L, 0L, 2.0)).withColumnRenamed("ts", "bucket")
      .select(col("sid"), col("bucket"), col("v"))
    val out = TimeSeries.gapfill(bucketed, Seq("sid"), "bucket", "v", 60L).collect()
    assert(out.length == 1)
    assert(out.head.getAs[Double]("locf") == 2.0)
    assert(out.head.getAs[Double]("interpolated") == 2.0)
  }

  test("gapfill interpolates across a null-valued middle bucket but not past the ends") {
    val bucketed = Seq((1L, 0L, Some(1.0)), (1L, 120L, None: Option[Double]))
      .toDF("sid", "b_s", "v")
      .select(col("sid"), timestamp_seconds(col("b_s")).as("bucket"), col("v"))
    val out = TimeSeries.gapfill(bucketed, Seq("sid"), "bucket", "v", 60L)
      .orderBy("bucket").collect()
    assert(out.length == 3)
    assert(out.map(_.getAs[Double]("locf")).toSeq == Seq(1.0, 1.0, 1.0)) // carried forward
    assert(out(1).isNullAt(out(1).fieldIndex("interpolated"))) // no right neighbor → null
  }

  test("gapfill fails fast past maxBucketsPerGroup instead of densifying") {
    // 10-year span at 1-second buckets ≈ 3.15e8 buckets — far past the
    // 1e6 default cap; the guard must error before the explode OOMs.
    val bucketed = Seq((1L, 0L, 1.0), (1L, 315360000L, 2.0)).toDF("sid", "b_s", "v")
      .select(col("sid"), timestamp_seconds(col("b_s")).as("bucket"), col("v"))
    val e = intercept[Exception] {
      TimeSeries.gapfill(bucketed, Seq("sid"), "bucket", "v", 1L).count()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("gapfill")), s"wanted the guard message, got $e")
    // same span clears a raised cap
    val ok = TimeSeries.gapfill(bucketed, Seq("sid"), "bucket", "v", 31536000L)
    assert(ok.count() == 11)
  }

  test("sampleReservoir is seed-deterministic, uniform-ish, and bounded") {
    val df = (1 to 1000).map(i => (i.toLong, i.toDouble)).toDF("id", "v")
    val s1 = TimeSeries.sampleReservoir(df, 200, seed = 7L).collect().map(_.getLong(0)).toSet
    val s2 = TimeSeries.sampleReservoir(df, 200, seed = 7L).collect().map(_.getLong(0)).toSet
    assert(s1 == s2, "same seed must give the same sample")
    assert(s1.size == 200)
    val s3 = TimeSeries.sampleReservoir(df, 200, seed = 8L).collect().map(_.getLong(0)).toSet
    assert(s1 != s3, "different seeds should give different samples")
    // uniformity: each half of the keyspace gets 50% ± 15pp of the draw
    val lowHalf = s1.count(_ <= 500)
    assert(lowHalf >= 70 && lowHalf <= 130, s"lopsided sample: $lowHalf/200 from the low half")
    // n >= input size returns everything
    assert(TimeSeries.sampleReservoir(df, 5000).count() == 1000)
  }

  test("asofJoin matches latest-at-or-before, honors tolerance, nulls when none") {
    def mk(rows: (Long, Long, Double)*) = rows.toDF("k", "ts_s", "v")
      .select(col("k"), timestamp_seconds(col("ts_s")).as("ts"), col("v"))
    val left = mk((1L, 100L, 10.0), (1L, 200L, 20.0), (1L, 50L, 5.0), (2L, 100L, 1.0))
    val right = mk((1L, 100L, 0.7), (1L, 180L, 0.9)) // key 2 has no right rows
      .withColumnRenamed("v", "rv")
    val out = TimeSeries.asofJoin(left, right, "ts", Seq("k"), Seq("v"), Seq("rv"))
      .orderBy("k", "ts").collect()
    // left@50 precedes all right rows → null; left@100 matches right@100
    // (equal ts inclusive); left@200 matches right@180
    assert(out(0).isNullAt(out(0).fieldIndex("asof_rv")))
    assert(out(1).getAs[Double]("asof_rv") == 0.7)
    assert(out(2).getAs[Double]("asof_rv") == 0.9)
    assert(out(3).isNullAt(out(3).fieldIndex("asof_rv"))) // key 2: no match
    // tolerance: the 100→180 gap survives 30s only for the equal-ts match
    val tol = TimeSeries.asofJoin(left, right, "ts", Seq("k"), Seq("v"), Seq("rv"),
      toleranceSeconds = Some(10L)).orderBy("k", "ts").collect()
    assert(tol(1).getAs[Double]("asof_rv") == 0.7)  // 0s old
    assert(tol(2).isNullAt(tol(2).fieldIndex("asof_rv"))) // 20s old > 10s
  }

  test("rangeJoinBinned matches containment exactly and guards long intervals") {
    val ev = Seq((1L, 100L, 1.0), (1L, 199L, 2.0), (1L, 200L, 3.0), (2L, 150L, 9.0))
      .toDF("k", "ts_s", "v")
      .select(col("k"), timestamp_seconds(col("ts_s")).as("ts"), col("v"))
    val wins = Seq((1L, 100L, 200L), (2L, 0L, 100L)).toDF("k", "s_s", "e_s")
      .select(col("k"), timestamp_seconds(col("s_s")).as("w_start"),
        timestamp_seconds(col("e_s")).as("w_end"))
    val out = TimeSeries.rangeJoinBinned(ev, "ts", wins, "w_start", "w_end",
      Seq("k"), binSeconds = 60L).orderBy("ts").collect()
    // [100, 200): rows at 100 and 199 match; 200 excluded; key 2's row
    // at 150 is outside its [0, 100) window
    assert(out.map(_.getAs[Double]("v")).toSeq == Seq(1.0, 2.0))
    // an interval covering > maxBinsPerInterval bins fails fast
    val huge = Seq((1L, 0L, 10000000L)).toDF("k", "s_s", "e_s")
      .select(col("k"), timestamp_seconds(col("s_s")).as("w_start"),
        timestamp_seconds(col("e_s")).as("w_end"))
    val e = intercept[Exception] {
      TimeSeries.rangeJoinBinned(ev, "ts", huge, "w_start", "w_end",
        Seq("k"), binSeconds = 1L, maxBinsPerInterval = 1000L).count()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("rangeJoinBinned")), s"wanted guard message, got $e")
  }

  test("lttbSelect keeps endpoints, preserves spikes, and passes short series through") {
    val n = 100
    val ts = Array.tabulate(n)(_.toLong)
    val vs = Array.tabulate(n)(i => if (i == 57) 100.0 else math.sin(i / 5.0))
    val idx = TimeSeries.lttbSelect(ts, vs, 12)
    assert(idx.length == 12)
    assert(idx.head == 0 && idx.last == n - 1, "endpoints must survive")
    assert(idx.contains(57), "the spike must survive visual downsampling")
    assert(idx.sorted.sameElements(idx), "selection must be time-ordered")
    // short series pass through untouched
    assert(TimeSeries.lttbSelect(ts.take(5), vs.take(5), 12).sameElements(Array(0, 1, 2, 3, 4)))
  }

  test("lttb DataFrame operator downsamples per series") {
    val df = series((1 to 200).map(i =>
      (1L, i.toLong, (if (i == 77) 50.0 else 1.0): java.lang.Double)) ++
      (1 to 10).map(i => (2L, i.toLong, 2.0: java.lang.Double)): _*)
    val out = TimeSeries.lttb(df, Seq("sid"), expr("unix_micros(ts)"), col("v"), 20)
      .collect()
    val s1 = out.filter(_.getLong(0) == 1L)
    assert(s1.length == 20)
    assert(s1.exists(_.getDouble(2) == 50.0), "spike survives")
    assert(out.count(_.getLong(0) == 2L) == 10, "short series passes through")
  }

  test("lastPoint with equal timestamps resolves via the tiebreak") {
    val df = Seq((1L, 10L, 1, "x"), (1L, 10L, 2, "y")).toDF("sid", "ts_s", "tb", "payload")
      .select(col("sid"), timestamp_seconds(col("ts_s")).as("ts"), col("tb"), col("payload"))
    val out = TimeSeries.lastPoint(df, col("ts"), col("tb"), Seq("sid"), Seq("payload")).head()
    assert(out.getString(2) == "y")
  }

  test("histogramOf emits a dense equi-width shape with clamp-at-max") {
    val df = Seq(("a", 0.0), ("a", 5.0), ("a", 10.0), ("b", 3.0), ("b", 3.0))
      .toDF("g", "value")
    val out = TimeSeries.histogramOf(df, Seq("g"), "value", 10)
      .orderBy("g", "bin").collect()
    assert(out.length == 20, "dense shape: 10 bins per group")
    val a = out.filter(_.getString(0) == "a")
    assert(a.map(_.getAs[Long]("n")).toSeq ==
      Seq(1L, 0L, 0L, 0L, 0L, 1L, 0L, 0L, 0L, 1L), "max clamps into the last bin")
    assert(a(0).getAs[Double]("bin_lo") == 0.0 && a(9).getAs[Double]("bin_hi") == 10.0)
    val b = out.filter(_.getString(0) == "b")
    assert(b.map(_.getAs[Long]("n")).toSeq.sum == 2 &&
      b(0).getAs[Long]("n") == 2, "constant series lands in bucket 0")
  }

  test("candlestick: OHLC with deterministic tie-break on duplicated timestamps") {
    val df = Seq(
      ("a", 100L, 1L, 5.0), ("a", 100L, 2L, 9.0), // same ts: open = row id 1
      ("a", 200L, 3L, 1.0), ("a", 300L, 4L, 7.0),
      ("a", 300L, 5L, 3.0) // same ts at the end: close = row id 5
    ).toDF("g", "t", "rid", "value")
    val out = TimeSeries.candlestick(df, Seq("g"), lit(0).as("b"),
      Seq("t", "rid"), "value").collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Double]("open") == 5.0 && r.getAs[Double]("close") == 3.0)
    assert(r.getAs[Double]("high") == 9.0 && r.getAs[Double]("low") == 1.0)
    assert(r.getAs[Long]("n") == 5 && r.getAs[Double]("volume") == 25.0)
  }

  test("linearTrend recovers an exact line and NULLs degenerate groups") {
    val line = (0 to 10).map(x => ("l", x.toLong, 2.0 * x + 1.0))
    val flatX = Seq(("fx", 5L, 1.0), ("fx", 5L, 9.0))  // constant x → no slope
    val flatY = (0 to 4).map(x => ("fy", x.toLong, 3.0)) // constant y → r2 NULL
    val df = (line ++ flatX ++ flatY).toDF("g", "x", "y")
    val out = TimeSeries.linearTrend(df, Seq("g"), col("x"), col("y"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("l").getAs[Double]("slope") == 2.0)
    assert(out("l").getAs[Double]("intercept") == 1.0)
    assert(out("l").getAs[Double]("r2") == math.floor(1.0 * 1e6) / 1e6 ||
      out("l").getAs[Double]("r2") == 1.0)
    assert(out("fx").isNullAt(out("fx").fieldIndex("slope")))
    assert(out("fy").getAs[Double]("slope") == 0.0)
    assert(out("fy").isNullAt(out("fy").fieldIndex("r2")), "zero y-variance → NULL r2")
  }

  test("anomalyZscore flags the spike and only the spike, exactly") {
    // 10 points at 10.0 and one at 100.0: μ≈18.2, σ≈25.9 → z(100)≈3.16
    val df = ((1 to 10).map(i => ("s", i.toLong, 10.0)) :+ ("s", 11L, 100.0))
      .toDF("g", "id", "value")
    val out = TimeSeries.anomalyZscore(df, Seq("g"), "value")
      .orderBy("id").collect()
    assert(out.count(_.getAs[Boolean]("is_outlier")) == 1)
    assert(out.last.getAs[Boolean]("is_outlier"), "the spike is the outlier")
    assert(out.last.getAs[Double]("z") > 3.0)
    // constant series: zero variance → no flags, z = 0
    val flat = Seq(("f", 1L, 5.0), ("f", 2L, 5.0)).toDF("g", "id", "value")
    val fo = TimeSeries.anomalyZscore(flat, Seq("g"), "value").collect()
    assert(fo.forall(r => !r.getAs[Boolean]("is_outlier") && r.getAs[Double]("z") == 0.0))
  }

  test("cusum flags a mean shift and stays quiet on a flat series") {
    val shifted = (1 to 20).map(i => ("s", i.toLong, 0.0)) ++
      (21 to 40).map(i => ("s", i.toLong, 10.0))
    val flat = (1 to 40).map(i => ("f", i.toLong, 5.0))
    val out = TimeSeries.cusum((shifted ++ flat).toDF("g", "t", "value"),
      Seq("g"), Seq("t"), "value").collect()
    val sRows = out.filter(_.getString(0) == "s")
    assert(sRows.exists(_.getAs[Boolean]("is_shift")), "the shift must flag")
    // the strongest point of a single mean shift is the boundary
    val best = sRows.maxBy(r => math.abs(r.getAs[Double]("cusum_z")))
    assert(best.getLong(1) == 20L, s"peak |z| at the shift boundary, got row $best")
    assert(out.filter(_.getString(0) == "f").forall(r => !r.getAs[Boolean]("is_shift")),
      "zero-variance series: no flags")
  }

  test("m4 keeps exactly the first/last/min/max points per bucket, deduped") {
    val df = Seq(
      ("a", 0L, 10L, 1L, 5.0), ("a", 0L, 20L, 2L, 1.0), ("a", 0L, 30L, 3L, 9.0),
      ("a", 0L, 40L, 4L, 4.0), ("a", 0L, 50L, 5L, 6.0), // first=10, min=20, max=30, last=50
      ("a", 1L, 60L, 6L, 2.0) // single point: all four roles collapse to one row
    ).toDF("g", "b", "t", "rid", "value")
    val out = TimeSeries.m4(df, Seq("g"), col("b"), "t", "rid", "value")
      .orderBy("bucket", "t").collect()
    val b0 = out.filter(_.getLong(1) == 0L).map(_.getLong(2)).toSeq
    assert(b0 == Seq(10L, 20L, 30L, 50L), s"kept points: $b0")
    assert(out.count(_.getLong(1) == 1L) == 1, "degenerate bucket emits ONE row")
  }

  test("acf: alternating series is anti-correlated at lag 1, correlated at lag 2") {
    val df = Seq(("s", 1L, 1.0), ("s", 2L, -1.0), ("s", 3L, 1.0), ("s", 4L, -1.0))
      .toDF("g", "t", "value")
    val a1 = TimeSeries.acf(df, Seq("g"), Seq("t"), "value", lag = 1).collect().head
    assert(a1.getAs[Double]("acf_1") == -0.75) // exact finite-n estimator value
    val a2 = TimeSeries.acf(df, Seq("g"), Seq("t"), "value", lag = 2).collect().head
    assert(a2.getAs[Double]("acf_2") == 0.5)
    // n <= lag and zero-variance series → NULL
    val short = Seq(("x", 1L, 3.0)).toDF("g", "t", "value")
    assert(TimeSeries.acf(short, Seq("g"), Seq("t"), "value", 1)
      .collect().head.isNullAt(2))
  }

  test("movingAverage uses a centered deterministic ROWS frame") {
    val df = (1 to 5).map(i => ("s", i.toLong, i.toDouble)).toDF("g", "t", "value")
    val out = TimeSeries.movingAverage(df, Seq("g"), Seq("t"), "value", halfWindow = 1)
      .orderBy("t").collect()
    // frames: [1,2] [1,2,3] [2,3,4] [3,4,5] [4,5]
    assert(out.map(_.getAs[Double]("ma")).toSeq ==
      Seq(1.5, 2.0, 3.0, 4.0, 4.5))
  }

  test("holtSmooth: integer level/trend recursion matches hand computation") {
    val df = Seq(("s", 1L, 10L, 1.0), ("s", 2L, 11L, 2.0), ("s", 3L, 12L, 3.0))
      .toDF("g", "t", "id", "value")
    val out = graft.functions.TimeSeries.holtSmooth(df, Seq("g"), "t", "id", "value")
      .orderBy("id").collect()
      .map(r => (r.getAs[Long]("level_q"), r.getAs[Long]("trend_q"),
        r.getAs[Long]("forecast_q")))
    // cents 100,200,300: l=[100,125,173], b=[0,6,16] (floored each step)
    assert(out.toSeq == Seq((100L, 0L, 100L), (125L, 6L, 131L), (173L, 16L, 189L)))
  }

  test("whole-series operators fail fast past maxSeriesLength with a readable error") {
    import graft.functions.SeriesGuard
    val df = (1L to 20L).map(i => ("s", i, i, i.toDouble))
      .toDF("g", "t", "id", "value")
    val prev = SeriesGuard.capForTest
    try {
      SeriesGuard.capForTest = 10
      for ((name, run) <- Seq[(String, () => Unit)](
        ("holt_smooth", () => graft.functions.TimeSeries
          .holtSmooth(df, Seq("g"), "t", "id", "value").collect()),
        ("lttb", () => graft.functions.TimeSeries
          .lttb(df, Seq("g"), col("t"), col("value"), 5).collect()),
        ("value_fill", () => graft.functions.Repair
          .valueFill(df, col("t"), col("value"), Seq("g"), "previous").collect()),
        ("value_repair", () => graft.functions.Repair
          .valueRepair(df, col("t"), col("value"), Seq("g")).collect()),
        ("timestamp_repair", () => graft.functions.Repair
          .timestampRepairDf(df, col("t"), col("value"), Seq("g")).collect()))) {
        val e = intercept[Exception](run())
        def msgs(t: Throwable): Seq[String] =
          if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
        assert(msgs(e).exists(m => m.contains("maxSeriesLength") && m.contains(name)),
          s"$name did not raise the series-length guard: ${msgs(e).mkString(" | ")}")
      }
      // under the cap everything still runs
      SeriesGuard.capForTest = 20
      assert(graft.functions.TimeSeries
        .holtSmooth(df, Seq("g"), "t", "id", "value").count() == 20)
    } finally SeriesGuard.capForTest = prev
  }

  test("quantileRollup: exact integer ranks on a known distribution; partition-invariant") {
    import org.apache.spark.sql.functions.{col, timestamp_micros}
    // 100 values 1.00..100.00 across 4 hours of one day → cents 100..10000
    val rows = (1 to 100).map(i =>
      ("s", 1704067200000000L + (i % 4) * 3600000000L + i * 1000000L, i.toDouble))
    val df = rows.toDF("g", "us", "value").withColumn("ts", timestamp_micros(col("us")))
    val out = TimeSeries.quantileRollup(df, Seq("g"), "ts", "value").collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("n") == 100)
    // rank 50 → 50.00 → bin lower bound exactly 5000 cents; rank 95 → 9500
    assert(r.getAs[Long]("p50_lo_cents") == 5000L)
    assert(r.getAs[Long]("p95_lo_cents") == 9500L)
    val shuffled = TimeSeries.quantileRollup(
      df.repartition(7, col("value")), Seq("g"), "ts", "value").collect().head
    assert(shuffled.getAs[Long]("p50_bid") == r.getAs[Long]("p50_bid") &&
      shuffled.getAs[Long]("p95_bid") == r.getAs[Long]("p95_bid"),
      "merged quantiles moved under a different input partitioning")
    // zero bins below every positive bid; negative values must raise
    val zero = Seq(("s", 1704067200000000L, 0.0), ("s", 1704067201000000L, 1.0))
      .toDF("g", "us", "value").withColumn("ts", timestamp_micros(col("us")))
    val zr = TimeSeries.quantileRollup(zero, Seq("g"), "ts", "value").collect().head
    assert(zr.getAs[Long]("p50_bid") == 100L && zr.getAs[Long]("p50_lo_cents") == 0L)
    val bad = Seq(("s", 1704067200000000L, -1.0)).toDF("g", "us", "value")
      .withColumn("ts", timestamp_micros(col("us")))
    intercept[Exception] {
      TimeSeries.quantileRollup(bad, Seq("g"), "ts", "value").collect()
    }
  }

  test("twa is the trapezoidal time-weighted mean, not the sample mean") {
    // series a: hold 1.0 for 10s, then 2.0 for 20s →
    //   integral = 10*(1+2)/2 + 20*(2+2)/2 = 55, span 30 → twa 1.8333…
    //   (the SAMPLE mean is (1+2+2)/3 = 1.6667 — must differ)
    // series b: single point → its own value
    val df = Seq(("a", 0L, 1.0), ("a", 10L, 2.0), ("a", 30L, 2.0),
      ("b", 5L, 7.5)).toDF("g", "t", "value")
    val out = TimeSeries.twa(df, Seq("g"), "t", "value")
      .orderBy("g").collect()
    val a = out(0)
    assert(a.getAs[Long]("n") == 3 && a.getAs[Long]("span") == 30)
    assert(math.abs(a.getAs[Double]("twa") - 1.833333) < 1e-9)
    val b = out(1)
    assert(b.getAs[Long]("span") == 0)
    assert(b.getAs[Double]("twa") == 7.5)
  }

  test("counterAgg composes first/last, resets and corrected increase") {
    // 1→4 (delta 3), reset to 1 (delta 1), →3 (delta 2): increase 6,
    // 1 reset, span 3 s → rate 2/s
    val df = Seq((1L, 0L, 1.0), (2L, 1000000L, 4.0), (3L, 2000000L, 1.0),
        (4L, 3000000L, 3.0))
      .toDF("event_id", "ts_us", "value").withColumn("g", lit("a"))
    val out = TimeSeries.counterAgg(df, Seq("g"), Seq("ts_us", "event_id"),
      "ts_us", "value").head()
    assert(out.getAs[Long]("n") == 4 && out.getAs[Long]("num_resets") == 1)
    assert(out.getAs[Double]("first_val") == 1.0 && out.getAs[Double]("last_val") == 3.0)
    assert(out.getAs[Double]("increase") == 6.0 && out.getAs[Double]("rate_q") == 2.0)
  }

  test("irate uses only the last two samples, reset-aware") {
    // series a: ..., 7.00@t=2_000_000, 3.00@t=4_000_000 (reset) →
    //   delta 3.00 over 2 s → 1.5/s; earlier samples must not matter.
    // series b: single sample → no row.
    val df = Seq((1L, 0L, "a", 1.0), (2L, 2000000L, "a", 7.0), (3L, 4000000L, "a", 3.0),
        (4L, 0L, "b", 9.0))
      .toDF("event_id", "ts_us", "g", "value")
    val out = TimeSeries.irate(df, "ts_us", col("event_id"), col("value"), Seq("g"))
      .collect()
    assert(out.length == 1)
    assert(out(0).getString(0) == "a" && out(0).getDouble(1) == 3.0
      && out(0).getLong(2) == 2000000L && out(0).getDouble(3) == 1.5,
      s"got ${out.toSeq}")
  }

  test("rateBucketed attributes reset-aware deltas to the current bucket") {
    // bucket 10 µs; series: ts 1,5 in b0, 11,15 in b1, values 1,3,2,6:
    // deltas: null, 2.00, 2.00 (reset: drop 3→2 contributes 2), 4.00
    // → b0 inc 2.00 (null delta skipped), b1 inc 6.00
    val df = Seq((1L, 1L, 1.0), (2L, 5L, 3.0), (3L, 11L, 2.0), (4L, 15L, 6.0))
      .toDF("event_id", "ts_us", "value").withColumn("g", lit("a"))
    val out = TimeSeries.rateBucketed(df, Seq("g"), Seq("ts_us", "event_id"),
        "ts_us", "value", bucketUs = 10L)
      .orderBy("bucket_us")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq == Seq((0L, 2L, 2.0), (10L, 2L, 6.0)), s"got ${out.toSeq}")
  }

  test("sax words bin bucket means equi-width over the series range") {
    // bucket 10 µs: paa cents 200, 900, 500 → range [200,900] width 701
    // → symbols 0,3,1 → "adb"; constant series degenerates to all-'a'.
    val df = Seq(("a", 1L, 1.0), ("a", 2L, 3.0), ("a", 11L, 9.0), ("a", 21L, 5.0),
        ("k", 1L, 2.0), ("k", 15L, 2.0))
      .toDF("g", "ts_us", "value")
    val out = TimeSeries.sax(df, Seq("g"), "ts_us", "value", bucketUs = 10L, nsym = 4)
      .orderBy("g")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    assert(out.toSeq == Seq(("a", 3L, "adb"), ("k", 2L, "aa")), s"got ${out.toSeq}")
  }

  test("retention buckets users by first-seen day and offset activity") {
    val day = 86400L
    val df = Seq((1L, 0L), (1L, day), (1L, 7 * day),   // u1: d0, d1, d7
        (2L, 10L),                                      // u2: d0 only
        (3L, day), (3L, 4 * day))                       // u3: first d1, back d3
      .toDF("user_id", "ts_s")
      .select(col("user_id"), timestamp_seconds(col("ts_s")).as("ts"))
    val out = graft.operators.EventAnalytics.retention(df, "user_id", "ts", Seq(1, 3, 7))
      .orderBy("cohort_day")
      .collect().map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(out.toSeq == Seq(
      ("1970-01-01", 2L, 1L, 0L, 1L),
      ("1970-01-02", 1L, 0L, 1L, 0L)), s"got ${out.toSeq}")
  }

  test("funnel counts strictly-ordered step chains per user") {
    val df = Seq(
      (1L, 1L, "signup"), (1L, 2L, "view"), (1L, 3L, "purchase"), // full chain
      (2L, 5L, "signup"), (2L, 4L, "view"),                       // view BEFORE signup
      (3L, 1L, "view"), (3L, 2L, "purchase"),                     // never signed up
      (4L, 1L, "signup"), (4L, 2L, "view"), (4L, 2L, "purchase")  // purchase ties view
    ).toDF("user_id", "ts_s", "event_type")
      .select(col("user_id"), timestamp_seconds(col("ts_s")).as("ts"), col("event_type"))
    val out = graft.operators.EventAnalytics.funnel(df, "user_id", "ts", "event_type",
        Seq("signup", "view", "purchase"))
      .orderBy("step")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, "signup", 3L), (2L, "view", 2L),
      (3L, "purchase", 1L)), s"got ${out.toSeq}")
  }

  test("seasonalDecompose splits hod offset from residual exactly") {
    // hod 0 holds {1.00, 3.00} (mean 2), hod 1 holds {5.00}; series
    // mean 3 → seasonal -1 / +2, residuals -1, +1, 0.
    val df = Seq((1L, 0L, 1.0: java.lang.Double), (2L, 120L, 3.0: java.lang.Double),
        (3L, 3600L, 5.0: java.lang.Double))
      .toDF("event_id", "ts_s", "v")
      .select(col("event_id"), lit("a").as("g"),
        timestamp_seconds(col("ts_s")).as("ts"), col("v"))
    val out = TimeSeries.seasonalDecompose(df, Seq("g"), "ts", "v")
      .orderBy("event_id")
      .select("event_id", "hod", "seasonal_q", "residual_q")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(out.toSeq == Seq((1L, 0L, -1.0, -1.0), (2L, 0L, -1.0, 1.0),
      (3L, 1L, 2.0, 0.0)), s"got ${out.toSeq}")
  }

  test("heartbeatAgg merges overlapping liveness and counts gaps exactly") {
    // L = 10 µs. series a beats at 0,5,8,30,35: gaps 5,3,22,5 →
    //   intervals: [0..18],[30..45] → live = 5+3+10 + 5+10 = 33,
    //   dead = 22-10 = 12, n_intervals 2, n_gaps 1.
    // series b: single beat → live L, 1 interval, 0 gaps.
    // series c: duplicate timestamps (gap 0) must not split intervals.
    val df = Seq(("a", 0L), ("a", 5L), ("a", 8L), ("a", 30L), ("a", 35L),
      ("b", 100L), ("c", 7L), ("c", 7L), ("c", 9L)).toDF("g", "ts_us")
    val out = TimeSeries.heartbeatAgg(df, Seq("g"), "ts_us", livenessUs = 10L)
      .orderBy("g").collect()
    val a = out(0)
    assert(a.getAs[Long]("n_heartbeats") == 5 && a.getAs[Long]("n_intervals") == 2)
    assert(a.getAs[Long]("live_us") == 33 && a.getAs[Long]("dead_us") == 12)
    assert(a.getAs[Long]("n_gaps") == 1)
    val b = out(1)
    assert(b.getAs[Long]("n_intervals") == 1 && b.getAs[Long]("live_us") == 10)
    assert(b.getAs[Long]("dead_us") == 0 && b.getAs[Long]("n_gaps") == 0)
    val c = out(2)
    assert(c.getAs[Long]("n_intervals") == 1 && c.getAs[Long]("live_us") == 12)
  }

  test("bollingerBands: constant series collapses to mid, hand-computed bands otherwise") {
    val df = Seq(("c", 1L, 5.0), ("c", 2L, 5.0), ("c", 3L, 5.0),
        ("v", 1L, 1.0), ("v", 2L, 3.0))
      .toDF("sid", "t", "value")
    val out = TimeSeries.bollingerBands(df, Seq("sid"), Seq("t"), "value", lookback = 19, k = 2)
      .orderBy("sid", "t").collect()
    // constant series: σ = 0 → all three bands equal the value
    out.take(3).foreach { r =>
      assert(r.getAs[Double]("mid") == 5.0)
      assert(r.getAs[Double]("upper") == 5.0)
      assert(r.getAs[Double]("lower") == 5.0)
    }
    // v series row 2: cents 100,300 → n=2 S=400 Q=100000; nQ−S²=40000, √=200
    val r = out(4)
    assert(r.getAs[Double]("mid") == 2.0)
    assert(r.getAs[Double]("upper") == math.floor((400 + 2.0 * 200) / 2 / 100.0 * 1e6) / 1e6)
    assert(r.getAs[Double]("lower") == math.floor((400 - 2.0 * 200) / 2 / 100.0 * 1e6) / 1e6)
  }

  test("histogramQuantile: interpolation inside the chosen bucket and the +Inf fallback") {
    // 20 rows, values 1..20 cents·100 → cents 100..2000 with les 500/1000/2000:
    // p95 target 95·20=1900; cum(500)=5·100<1900, cum(1000)=10·100<1900,
    // cum(2000)=20·100≥1900 → bucket (1000,2000], cp=10, cb=10
    val rows = (1 to 20).map(i => ("a", i.toLong, i.toDouble))
    val df = rows.toDF("sid", "t", "value")
      .select(col("sid"), timestamp_seconds(col("t")).as("ts"), col("value"))
    val out = TimeSeries.histogramQuantile(df, Seq("sid"),
        unix_micros(date_trunc("day", col("ts"))), "value", Seq(500L, 1000L, 2000L), 95)
      .collect()
    assert(out.length == 1)
    val want = math.floor((1000 * 1.0 + (2000 - 1000) * (95 * 20 - 100 * 10) / (100.0 * 10))
      / 100.0 * 1e6) / 1e6
    assert(out(0).getAs[Double]("quantile") == want)
    // all mass above the last le: PromQL's +Inf rule returns the last
    // finite upper bound
    val high = Seq(("a", 1L, 100.0)).toDF("sid", "t", "value")
      .select(col("sid"), timestamp_seconds(col("t")).as("ts"), col("value"))
    val out2 = TimeSeries.histogramQuantile(high, Seq("sid"),
        unix_micros(date_trunc("day", col("ts"))), "value", Seq(500L, 1000L), 95)
      .collect()
    assert(out2(0).getAs[Double]("quantile") == 10.0) // le=1000 cents
  }

  // ---- per-field merge semantics (sqlancer/repeat_write.slt) ---------

  test("max_by with a null ordering key skips null field writes (field-merge invariant)") {
    // ts_upsert_field_merge rests on this: a LATER write that omits a
    // field (null) must NOT beat an earlier value — both Spark's
    // max_by and DuckDB's arg_max skip rows whose ordering is null
    val w = Seq[(java.lang.Double, Long)]((1.0, 0L), (null, 3L), (2.0, 1L))
      .toDF("f", "seq")
    val got = w.agg(
      expr("max_by(f, CASE WHEN f IS NOT NULL THEN seq END)")).head.getDouble(0)
    assert(got == 2.0, s"later null write must lose: got $got")
    // all writes null → the merged field is null
    val allNull = Seq[(java.lang.Double, Long)]((null, 1L), (null, 2L)).toDF("f", "seq")
    assert(allNull.agg(
      expr("max_by(f, CASE WHEN f IS NOT NULL THEN seq END)")).head.isNullAt(0))
  }

  test("field merge reproduces repeat_write.slt's ts=2/ts=3 rows") {
    // the slt's write log at one series: ts 2 gets (f0=1,f1=true) then
    // (f0=2); ts 3 gets f0=1, f0=2, f1=false, f1=true — reads back
    // (2.0,true) and (2.0,true) (repeat_write.slt:28-46)
    val w = Seq[(Long, Long, java.lang.Double, java.lang.Boolean)](
      (2L, 0L, 1.0, true), (2L, 1L, 2.0, null),
      (3L, 2L, 1.0, null), (3L, 3L, 2.0, null),
      (3L, 4L, null, false), (3L, 5L, null, true)
    ).toDF("time", "seq", "f0", "f1")
    val got = w.groupBy("time").agg(
        expr("max_by(f0, CASE WHEN f0 IS NOT NULL THEN seq END)").as("f0"),
        expr("max_by(f1, CASE WHEN f1 IS NOT NULL THEN seq END)").as("f1"))
      .orderBy("time").collect().map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2)))
    assert(got.toSeq == Seq((2L, 2.0, true), (3L, 2.0, true)))
  }

  test("ts_upsert_field_merge single-scan posexplode equals the two-scan union form (r15)") {
    // the r15 rewrite emits both write generations from ONE events scan;
    // this pins it against the original self-union spelling on the real
    // sf0.001 lake (same rows, same merge, same order)
    val dir = "/root/testdata/sf0.001"
    val e = Tables.events(spark, dir).withColumn("ts_us", expr("ts_ns div 1000"))
    val minute = expr("ts_us div 60000000").as("minute")
    val w1 = e.select(col("user_id"), col("event_type"), minute,
      (col("event_id") * 2).as("seq"), col("value").as("f_value"),
      lit(null).cast("long").as("f_flag"))
    val w2 = e.filter(col("event_id") % 3 === 0)
      .select(col("user_id"), col("event_type"), minute,
        (col("event_id") * 2 + 1).as("seq"),
        (col("value") * 2).as("f_value"), col("event_id").as("f_flag"))
    val unionForm = w1.unionByName(w2)
      .groupBy("user_id", "event_type", "minute")
      .agg(
        expr("max_by(f_value, CASE WHEN f_value IS NOT NULL THEN seq END)").as("f_value"),
        expr("max_by(f_flag, CASE WHEN f_flag IS NOT NULL THEN seq END)").as("f_flag"),
        max(col("seq")).as("last_seq"))
      .orderBy("user_id", "event_type", "minute")
    val laneForm = SparkEntry.queries("ts_upsert_field_merge")(spark, dir)
    assert(laneForm.schema == unionForm.schema,
      s"schema drift: ${laneForm.schema} vs ${unionForm.schema}")
    assert(laneForm.exceptAll(unionForm).isEmpty &&
      unionForm.exceptAll(laneForm).isEmpty,
      "posexplode form diverges from the union form")
  }
}
