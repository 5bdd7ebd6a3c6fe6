package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Materialize, Tables}
import graft.functions.TimeSeries
import graft.functions.Native

/** Driver-facing query entries for the time-series operator wave
  * (SURVEY.md §2.2). Every DuckDB oracle starts from the same
  * micro-truncated view of `events` that Tables.events exposes to Spark
  * (`cast(ts AS TIMESTAMP)` drops the parquet nanos the same way).
  */
object TimeSeriesQueries {

  private val E = "(SELECT event_id, user_id, event_type, value, cast(ts AS TIMESTAMP) AS ts FROM events)"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ts_window_tumbling" -> ((s, dir) => {
      TimeSeries.timeWindow(col("ts"), "1 hour") match { case w =>
        Tables.events(s, dir)
          .groupBy(w.as("w"), col("event_type"))
          // avg over order-dependent double sums drifts by ulps between
          // engines and the 2-decimal source data lands averages ON
          // rounding boundaries: sum exact integer cents instead, then
          // floor-quantize — floor of bitwise-identical doubles cannot
          // diverge (round() implementations do, on half values).
          .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"),
            (floor(sum(round(col("value") * 100).cast("long")) / 100.0 / count(lit(1))
              * 1000000.0) / 1000000.0).as("avg_value"))
          .select(col("event_type"), col("w.start").as("w_start"),
            col("n"), col("sum_value"), col("avg_value"))
          .orderBy("event_type", "w_start")
      }
    }),

    "ts_window_sliding" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(TimeSeries.timeWindow(col("ts"), "2 hours", Some("1 hour")).as("w"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
        .select(col("event_type"), col("w.start").as("w_start"), col("n"), col("sum_value"))
        .orderBy("event_type", "w_start")
    }),

    // 4-arg time_window: origin-aligned buckets (reference
    // time_window.rs:101-126 start_time) — hourly windows aligned to
    // :30 instead of the epoch default.
    "ts_window_origin" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(TimeSeries.timeWindow(col("ts"), "1 hour", None, Some("30 minutes")).as("w"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
        .select(col("event_type"), col("w.start").as("w_start"), col("n"), col("sum_value"))
        .orderBy("event_type", "w_start")
    }),

    "ts_session_window" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
        .select(col("user_id"), col("sw.start").as("session_start"), col("n"), col("sum_value"))
        .orderBy("user_id", "session_start")
    }),

    "ts_first_last" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(
          min(struct(col("ts"), col("event_id"), col("value"))).as("__f"),
          max(struct(col("ts"), col("event_id"), col("value"))).as("__l"))
        .select(col("event_type"),
          col("__f.ts").as("first_time"), col("__f.value").as("first_val"),
          col("__l.ts").as("last_time"), col("__l.value").as("last_val"))
        .orderBy("event_type")
    }),

    "ts_mode" -> ((s, dir) =>
      TimeSeries.modeOf(Tables.events(s, dir), Seq("user_id"), "event_type", "mode_event")
        .filter(col("user_id") < 50)
        .orderBy("user_id")),

    "ts_increase" -> ((s, dir) =>
      TimeSeries.increase(Tables.events(s, dir),
        Seq(col("ts"), col("event_id")), col("value"), Seq("event_type"))
        .select(col("event_type"), round(col("increase"), 4).as("increase"))
        .orderBy("event_type")),

    "ts_topk" -> ((s, dir) =>
      TimeSeries.topk(Tables.events(s, dir).select("event_type", "event_id", "value"),
        col("value"), col("event_id"), 5, Seq("event_type"))
        .orderBy("event_type", "event_id")),

    "ts_bottom" -> ((s, dir) =>
      TimeSeries.bottom(Tables.events(s, dir).select("event_type", "event_id", "value"),
        col("value"), col("event_id"), 5, Seq("event_type"))
        .orderBy("event_type", "event_id")),

    "ts_gauge_agg" -> ((s, dir) =>
      TimeSeries.gaugeAgg(Tables.events(s, dir), "ts", "event_id", "value", Seq("event_type"))
        .select(col("event_type"), col("first_time"), round(col("first_val"), 4).as("first_val"),
          col("last_time"), round(col("last_val"), 4).as("last_val"),
          round(col("delta"), 4).as("delta"),
          round(col("time_delta_s"), 6).as("time_delta_s"),
          round(col("rate"), 8).as("rate"))
        .orderBy("event_type")),

    "ts_idelta" -> ((s, dir) =>
      TimeSeries.idelta(Tables.events(s, dir), col("ts"), col("event_id"), col("value"),
        Seq("event_type"))
        .select(col("event_type"), round(col("idelta_left"), 4).as("idelta_left"),
          round(col("idelta_right"), 4).as("idelta_right"))
        .orderBy("event_type")),

    "ts_duration_in" -> ((s, dir) =>
      TimeSeries.durationIn(Tables.events(s, dir).filter(col("user_id") < 30),
        col("ts"), col("event_type"), Seq("user_id"))
        .select(col("user_id"), col("state"), round(col("duration_s"), 6).as("duration_s"))
        .orderBy("user_id", "state")),

    "ts_state_at" -> ((s, dir) =>
      TimeSeries.stateAt(Tables.events(s, dir), col("ts"), col("event_id"), col("event_type"),
        lit("2024-01-15 00:00:00").cast("timestamp"), Seq("user_id"))
        .orderBy("user_id")),

    "ts_last_point" -> ((s, dir) =>
      TimeSeries.lastPoint(Tables.events(s, dir), col("ts"), col("event_id"),
        Seq("user_id"), Seq("event_type", "value"))
        .orderBy("user_id")),

    "ts_gapfill_locf" -> ((s, dir) => {
      val ev = Tables.events(s, dir).filter(col("user_id") < 30)
      val bucketed = ev
        .groupBy(col("event_type"), TimeSeries.timeWindow(col("ts"), "1 hour").getField("start").as("bucket"))
        .agg((floor(sum(round(col("value") * 100).cast("long")) / 100.0 / count(lit(1))
          * 1000000.0) / 1000000.0).as("v"))
      TimeSeries.gapfill(bucketed, Seq("event_type"), "bucket", "v", 3600L)
        .select(col("event_type"), col("bucket"), round(col("locf"), 6).as("locf_value"))
        .orderBy("event_type", "bucket")
    }),

    "ts_gapfill_interpolate" -> ((s, dir) => {
      val ev = Tables.events(s, dir).filter(col("user_id") < 30)
      val bucketed = ev
        .groupBy(col("event_type"), TimeSeries.timeWindow(col("ts"), "1 hour").getField("start").as("bucket"))
        .agg((floor(sum(round(col("value") * 100).cast("long")) / 100.0 / count(lit(1))
          * 1000000.0) / 1000000.0).as("v"))
      TimeSeries.gapfill(bucketed, Seq("event_type"), "bucket", "v", 3600L)
        .select(col("event_type"), col("bucket"), (floor(col("interpolated") * 1000000.0) / 1000000.0).as("interp_value"))
        .orderBy("event_type", "bucket")
    }),

    // As-of join: each click aligned to the user's latest view at or
    // before it. Right side pre-aggregated to unique (user, ts) so the
    // match is deterministic; DuckDB's native ASOF LEFT JOIN is the
    // oracle.
    "ts_asof_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select("user_id", "ts", "event_id", "value")
        .withColumnRenamed("value", "click_value")
      val views = ev.filter(col("event_type") === "view")
        .groupBy("user_id", "ts").agg(max("value").as("view_value"))
      TimeSeries.asofJoin(clicks, views, "ts", Seq("user_id"),
        Seq("event_id", "click_value"), Seq("view_value"))
        // NOT checkpointed before the sort: the range sample does
        // re-execute the asof window segment (two equal 0.31 s jobs),
        // but a position-controlled A/B measured materializing the
        // window's WIDE output a wash vs recomputing it — the wire-lane
        // checkpoint fix pays only when the re-executed segment is an
        // expensive codec, not a sort+last() pass (r15 negative result).
        .orderBy("user_id", "event_id")
    }),

    // Binned range join: events against synthetic 2-hour maintenance
    // windows every 7 hours per type; the oracle is DuckDB's plain
    // inequality join over the same construction.
    "ts_range_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val wins = ev.groupBy("event_type")
        .agg(date_trunc("hour", min(col("ts"))).as("t0"))
        .select(col("event_type"), col("t0"), explode(sequence(lit(0), lit(19))).as("k"))
        .select(col("event_type"),
          expr("t0 + k * INTERVAL '7' HOUR").as("w_start"))
        .withColumn("w_end", expr("w_start + INTERVAL '2' HOUR"))
      TimeSeries.rangeJoinBinned(ev.select("event_type", "ts", "value"), "ts",
        wins, "w_start", "w_end", Seq("event_type"), binSeconds = 3600L)
        .groupBy("event_type", "w_start")
        .agg(count(lit(1)).as("n_events"), round(sum("value"), 4).as("sum_value"))
        .orderBy("event_type", "w_start")
    }),

    // SHOW SERIES emits the full series key — measurement + every tag
    // pair, tags sorted by name (reference dql/show_series.slt:
    // "test,t0=a,t1=b,t2=c"). events' tag columns are event_type and
    // user_id; the key is assembled in the scan projection so the only
    // exchange is the tag-set DISTINCT.
    "ts_show_series" -> ((s, dir) =>
      Tables.events(s, dir)
        .select(col("event_type"), col("user_id")).distinct()
        // coalesce: Spark's concat null-propagates while DuckDB's skips
        // NULL args — empty-string both so a NULL tag can't diverge
        .select(concat(lit("events,event_type="), coalesce(col("event_type"), lit("")),
          lit(",user_id="), coalesce(col("user_id").cast("string"), lit(""))).as("key"))
        .orderBy("key")),

    "ts_show_tag_values" -> ((s, dir) =>
      Tables.events(s, dir).select("user_id").distinct().orderBy("user_id")),

    "ts_sample" -> ((s, dir) =>
      TimeSeries.sample(Tables.events(s, dir).select("event_id", "event_type", "value"),
        col("event_id"), 100)),

    // TSBS-style two-level date_bin rollup (tsbench/
    // avg_daily_driving_duration.slt): 10-min activity buckets per user,
    // re-binned to days → active hours. Both windows derive
    // deterministically from ts, so the only shuffle key is user_id —
    // the day rollup reuses the partial-agg output of the first.
    // Time-weighted average (TimescaleDB-toolkit time_weight surface):
    // trapezoidal integral over the timestamps / observed span, per
    // event_type × day. Exact-integer trapezoid sums (DECIMAL(38,0) of
    // cents × µs) keep the oracle engine-stable; µs (not ns) because
    // DuckDB truncates parquet ns→µs at read — the shared-precision
    // contract the ns lane pins.
    "ts_twa" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .withColumn("ts_us", expr("ts_ns div 1000"))
        .withColumn("day", expr("ts_ns div 1000 div 86400000000"))
      TimeSeries.twa(e, Seq("event_type", "day"), "ts_us", "value")
        .orderBy("event_type", "day")
    }),

    // Equi-width histogram per series (TimescaleDB histogram() surface):
    // 10 buckets over each series' [min, max], dense shape with empty
    // bins, clamp-at-max semantics.
    "ts_histogram" -> ((s, dir) =>
      TimeSeries.histogramOf(Tables.events(s, dir), Seq("event_type"), "value", 10)
        .orderBy("event_type", "bin")),

    // OHLC candlestick per (series, hour) — open/close tie-break on
    // (ts_ns, event_id) so duplicated timestamps stay deterministic.
    "ts_candlestick" -> ((s, dir) =>
      TimeSeries.candlestick(
          Tables.events(s, dir).withColumn("ts_us", expr("ts_ns div 1000")),
          Seq("event_type"),
          unix_micros(date_trunc("hour", col("ts"))), Seq("ts_us", "event_id"), "value")
        .withColumnRenamed("bucket", "bucket_us")
        .orderBy("event_type", "bucket_us")),

    // PromQL instant-vector lookup: value of each (event_type, user)
    // series AT a fixed evaluation time — the last sample ≤ T within
    // the 1 h staleness horizon; stale series drop out (PromQL rule).
    // Filter pushes to the scan; the pick is a partial-aggregable
    // max(struct) — no window, no shuffle beyond one hash aggregate.
    "ts_value_at" -> ((s, dir) => {
      val tUs = java.time.Instant.parse("2024-01-15T12:00:00Z").toEpochMilli * 1000L
      Tables.events(s, dir)
        .withColumn("ts_us", expr("ts_ns div 1000"))
        .filter(col("ts_us") <= tUs && col("ts_us") > tUs - 3600000000L)
        .withColumn("c", round(col("value") * 100).cast("long"))
        .groupBy("event_type", "user_id")
        .agg(max(struct(col("ts_us"), col("event_id"), col("c"))).as("m"))
        .select(col("event_type"), col("user_id"),
          col("m.ts_us").as("sample_us"), col("m.c").as("cents"))
        .orderBy("event_type", "user_id")
    }),

    // Per-series PROFILE (the "describe series" ops surface a fleet
    // dashboard lists): row count, exact-µs span, mean sample interval,
    // exact-cents value stats, distinct days — ONE partial-aggregable
    // hash aggregate, NO window (the adjacent-interval sum telescopes
    // to last−first, so mean interval = span/(n−1) exactly); every
    // number exact-integer-derived.
    "ts_series_profile" -> ((s, dir) =>
      Tables.events(s, dir)
        .withColumn("ts_us", expr("ts_ns div 1000"))
        .withColumn("c", round(col("value") * 100).cast("long"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          min("ts_us").as("first_us"), max("ts_us").as("last_us"),
          countDistinct(date_trunc("day", col("ts"))).as("n_days"),
          min("c").as("min_cents"), max("c").as("max_cents"),
          sum("c").as("sum_cents"))
        .withColumn("span_us", col("last_us") - col("first_us"))
        .withColumn("mean_interval_us",
          when(col("n") > 1, expr("span_us div (n - 1)")))
        .orderBy("event_type")),

    // Gap-detection report (the missing-data ops surface: where did a
    // series go silent?): adjacent-sample deltas over the per-series
    // sort, gaps > 10 min emitted with exact-µs bounds and duration.
    // One sort exchange per series — the standard lag-window shape.
    "ts_gap_report" -> ((s, dir) => {
      val w = Window.partitionBy("event_type").orderBy(col("ts_us"), col("event_id"))
      Tables.events(s, dir)
        .withColumn("ts_us", expr("ts_ns div 1000"))
        .withColumn("prev_us", lag(col("ts_us"), 1).over(w))
        .filter(col("prev_us").isNotNull &&
          col("ts_us") - col("prev_us") > 600000000L)
        .select(col("event_type"), col("prev_us").as("gap_start_us"),
          col("ts_us").as("gap_end_us"),
          (col("ts_us") - col("prev_us")).as("gap_us"))
        .orderBy("event_type", "gap_start_us")
    }),

    // Cascading rollup chain (the materialized-rollup pattern every
    // metrics lake runs: 10min partials → hour → day, raw rows touched
    // ONCE at the bottom level): (n, Σcents, min, max) merge
    // associatively up the chain, and the oracle aggregates the RAW
    // table directly at day level — hash equality proves the cascade's
    // merges are lossless, the property that lets a 100 TB lake serve
    // day queries from hour partials without rescans.
    "ts_rollup_cascade" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .withColumn("c", round(col("value") * 100).cast("long"))
      val l0 = e.groupBy(col("event_type"), window(col("ts"), "10 minutes").as("w"))
        .agg(count(lit(1)).as("n"), sum("c").as("sc"),
          min("c").as("mn"), max("c").as("mx"))
        .select(col("event_type"), col("w.start").as("t10"),
          col("n"), col("sc"), col("mn"), col("mx"))
      val l1 = l0.groupBy(col("event_type"), date_trunc("hour", col("t10")).as("th"))
        .agg(sum("n").as("n"), sum("sc").as("sc"),
          min("mn").as("mn"), max("mx").as("mx"))
      val l2 = l1.groupBy(col("event_type"), date_trunc("day", col("th")).as("td"))
        .agg(sum("n").as("n"), sum("sc").as("sc"),
          min("mn").as("mn"), max("mx").as("mx"))
      l2.select(col("event_type"), unix_micros(col("td")).as("day_us"),
          col("n"), (col("sc").cast("double") / 100.0).as("volume"),
          (col("mn").cast("double") / 100.0).as("min_v"),
          (col("mx").cast("double") / 100.0).as("max_v"))
        .orderBy("event_type", "day_us")
    }),

    // Bollinger bands per series (trailing 20-row frame): exact-integer
    // frame sums (S, Q, n), each band ONE mirrored float expression
    // (S ± 2·√(nQ−S²))/n — the TA volatility envelope, engine-stable.
    "ts_bollinger" -> ((s, dir) =>
      TimeSeries.bollingerBands(
          Tables.events(s, dir).withColumn("ts_us", expr("ts_ns div 1000")),
          Seq("event_type"), Seq("ts_us", "event_id"), "value")
        .select("event_id", "event_type", "mid", "upper", "lower")
        .orderBy("event_id").limit(10000)),

    // PromQL histogram_quantile(0.95) per (event_type, day) over fixed
    // le buckets in cents: ONE conditional-sum hash aggregate (no
    // explode/window), exact-integer bucket choice, mirrored
    // interpolation.
    "ts_histogram_quantile" -> ((s, dir) =>
      TimeSeries.histogramQuantile(Tables.events(s, dir), Seq("event_type"),
          unix_micros(date_trunc("day", col("ts"))),
          "value", Seq(1000L, 2000L, 4000L, 8000L, 16000L, 32000L, 64000L), 95)
        .withColumnRenamed("bucket", "bucket_us")
        .orderBy("event_type", "bucket_us")),

    // Least-squares trend per series over (seconds-since-epoch, value):
    // slope / intercept / r² from exact decimal sums (stats_agg 2-D
    // regression surface).
    "ts_linreg" -> ((s, dir) =>
      TimeSeries.linearTrend(Tables.events(s, dir), Seq("event_type"),
          expr("ts_ns div 1000000000") - lit(1704067200L), col("value"))
        .orderBy("event_type")),

    // PromQL predict_linear: the per-series trend line evaluated 1 hour
    // past each series' last sample; extrapolates from the published
    // (1e-6-floored) slope/intercept so both engines evaluate one
    // identical double expression.
    "ts_predict_linear" -> ((s, dir) =>
      TimeSeries.predictLinear(Tables.events(s, dir), Seq("event_type"),
          expr("ts_ns div 1000000000") - lit(1704067200L), col("value"), 3600L)
        .orderBy("event_type")),

    // Per-point 3σ anomaly flags; the boolean test is cleared to exact
    // integer arithmetic so it cannot flip on a float boundary.
    "ts_anomaly_zscore" -> ((s, dir) =>
      TimeSeries.anomalyZscore(Tables.events(s, dir), Seq("event_type"), "value")
        .select("event_id", "event_type", "value", "is_outlier", "z")
        .orderBy("event_id").limit(10000)),

    // CUSUM change-point screening: exact Brownian-bridge test per
    // point, flags + standardized statistic.
    "ts_cusum" -> ((s, dir) =>
      TimeSeries.cusum(
          Tables.events(s, dir).withColumn("ts_us", expr("ts_ns div 1000")),
          Seq("event_type"), Seq("ts_us", "event_id"), "value")
        .select("event_id", "event_type", "is_shift", "cusum_z")
        .orderBy("event_id").limit(10000)),

    // Batch keep-first dedup per (user, event_type, minute) — the batch
    // analogue of streaming exact dedup. The survivor is min(ts, id),
    // selected via a PACKED integer min (ts_us·1e7 + id in
    // DECIMAL(38,0)) so the aggregate stays hash-aggregable — no window
    // sort, no struct buffer.
    "ts_dedup" -> ((s, dir) =>
      Tables.events(s, dir)
        .withColumn("ts_us", expr("ts_ns div 1000"))
        .withColumn("__pack",
          col("ts_us").cast("decimal(38,0)") * lit(10000000L) + col("event_id"))
        .groupBy(col("user_id"), col("event_type"),
          expr("ts_us div 60000000").as("minute"))
        .agg(min(col("__pack")).as("__p"))
        .select(col("user_id"), col("event_type"), col("minute"),
          (col("__p") % 10000000).cast("long").as("event_id"))
        // materialized: the sort's range exchange re-runs the decimal
        // final aggregate without it. QBench ts_dedup runs=5 (4 cores, 2
        // JVMs a side) without it: 4 jobs either way, warm median 0.73 →
        // 0.93 s at sf0.1 and 2.47 → 2.93 s at sf1 (make_sfN ×10).
        .transform(Materialize)
        .orderBy("user_id", "event_type", "minute")),

    // M4 downsampling: first/last/min/max POINTS per (series, hour) —
    // the error-free pixel-exact downsampler, ≤ 4 rows per bucket.
    "ts_m4" -> ((s, dir) =>
      TimeSeries.m4(
          Tables.events(s, dir).withColumn("ts_us", expr("ts_ns div 1000")),
          Seq("event_type"),
          unix_micros(date_trunc("hour", col("ts"))), "ts_us", "event_id", "value")
        .withColumnRenamed("bucket", "bucket_us")
        .orderBy("event_type", "bucket_us", "ts_us", "event_id")),

    // Lag-10 autocorrelation per series: exact-integer estimator, one
    // sort shuffle for lead() + aggregate.
    "ts_acf" -> ((s, dir) =>
      TimeSeries.acf(
          Tables.events(s, dir).withColumn("ts_us", expr("ts_ns div 1000")),
          Seq("event_type"), Seq("ts_us", "event_id"), "value", lag = 10)
        .orderBy("event_type")),

    // PromQL `resets` + `changes` counter inspection per series —
    // adjacent-sample comparisons on exact cents (no float equality),
    // one lag window + one aggregate.
    "ts_resets_changes" -> ((s, dir) =>
      TimeSeries.resetsChanges(
          Tables.events(s, dir).withColumn("ts_us", expr("ts_ns div 1000")),
          Seq("event_type"), Seq("ts_us", "event_id"), "value")
        .orderBy("event_type")),

    // TimescaleDB counter_agg composite: first/last, resets, corrected
    // increase and mean rate in one per-series pass.
    "ts_counter_agg" -> ((s, dir) =>
      TimeSeries.counterAgg(
          Tables.events(s, dir).withColumn("ts_us", expr("ts_ns div 1000")),
          Seq("event_type"), Seq("ts_us", "event_id"), "ts_us", "value")
        .orderBy("event_type")),

    // PromQL irate(): per-second rate from each series' last two
    // samples, reset-aware; exact cents over the exact µs gap.
    "ts_irate" -> ((s, dir) =>
      TimeSeries.irate(
          Tables.events(s, dir).withColumn("ts_us", expr("ts_ns div 1000")),
          "ts_us", col("event_id"), col("value"), Seq("event_type"))
        .orderBy("event_type")),

    // PromQL bucketed rate(): reset-aware deltas per (series, hour)
    // plus per-second rate — exact cents until one mirrored float.
    "ts_rate_bucket" -> ((s, dir) =>
      TimeSeries.rateBucketed(
          Tables.events(s, dir).withColumn("ts_us", expr("ts_ns div 1000")),
          Seq("event_type"), Seq("ts_us", "event_id"), "ts_us", "value",
          bucketUs = 3600000000L)
        .orderBy("event_type", "bucket_us")),

    // SAX symbolization: hourly PAA + 4-symbol equi-width binning per
    // series, concatenated into one motif word — all exact integers.
    "ts_sax" -> ((s, dir) =>
      TimeSeries.sax(
          Tables.events(s, dir).withColumn("ts_us", expr("ts_ns div 1000")),
          Seq("event_type"), "ts_us", "value", bucketUs = 3600000000L, nsym = 4)
        .orderBy("event_type")),

    // Cohort retention matrix (ClickHouse retention() surface): users
    // by first-seen day × came-back-at-offset counts, exact integers.
    "ts_retention" -> ((s, dir) =>
      graft.operators.EventAnalytics.retention(
          Tables.events(s, dir), "user_id", "ts", Seq(1, 3, 7))
        .orderBy("cohort_day")),

    // Ordered funnel (ClickHouse windowFunnel greedy rule, unbounded
    // window): users performing signup → view → purchase in strict
    // timestamp order; one min-agg + user equijoin per step.
    "ts_funnel" -> ((s, dir) =>
      graft.operators.EventAnalytics.funnel(
          Tables.events(s, dir), "user_id", "ts", "event_type",
          Seq("signup", "view", "purchase"))
        .orderBy("step")),

    // Seasonal-naive hour-of-day decomposition: per point, the series'
    // hod-mean offset (seasonal) and the deviation from it (residual),
    // exact cross-products until one mirrored float expression.
    "ts_seasonal" -> ((s, dir) =>
      TimeSeries.seasonalDecompose(Tables.events(s, dir), Seq("event_type"), "ts", "value")
        .select("event_id", "event_type", "hod", "seasonal_q", "residual_q")
        .orderBy("event_id").limit(10000)),

    // heartbeat_agg liveness rollup: each event asserts 30 min of
    // liveness; merged covered intervals, exact-integer µs uptime.
    "ts_heartbeat" -> ((s, dir) =>
      TimeSeries.heartbeatAgg(
          Tables.events(s, dir).withColumn("ts_us", expr("ts_ns div 1000")),
          Seq("event_type"), "ts_us", livenessUs = 1800000000L)
        .orderBy("event_type")),

    // Holt double-exponential smoothing (level+trend, α=β=1/4) —
    // integer-floored two-variable recursion, recursive-CTE oracle.
    "ts_holt_winters" -> ((s, dir) =>
      TimeSeries.holtSmooth(
          Tables.events(s, dir).withColumn("ts_us", expr("ts_ns div 1000")),
          Seq("event_type"), "ts_us", "event_id", "value")
        .select("event_id", "event_type", "level_q", "trend_q", "forecast_q")
        .orderBy("event_id").limit(10000)),

    // Truncated EWMA smoothing per series (decay 3/4 over the last 4
    // samples, integer-weight renormalization at the series head) —
    // exact-integer num/den, one mirrored float expression.
    "ts_ewma" -> ((s, dir) =>
      TimeSeries.ewma(
          Tables.events(s, dir).withColumn("ts_us", expr("ts_ns div 1000")),
          Seq("event_type"), Seq("ts_us", "event_id"), "value")
        .select("event_id", "event_type", "ewma")
        .orderBy("event_id").limit(10000)),

    // Centered ±3-row moving average per series (deterministic frame
    // order on the unique (ts_ns, event_id) key).
    "ts_moving_avg" -> ((s, dir) =>
      TimeSeries.movingAverage(
          Tables.events(s, dir).withColumn("ts_us", expr("ts_ns div 1000")),
          Seq("event_type"), Seq("ts_us", "event_id"), "value")
        .select("event_id", "event_type", "ma")
        .orderBy("event_id").limit(10000)),

    "ts_date_bin" -> ((s, dir) => {
      val inner = Tables.events(s, dir)
        .groupBy(window(col("ts"), "10 minutes").as("w"), col("user_id"))
        .agg(avg("value").as("mv"))
        .select(col("w.start").as("w10"), col("user_id"))
      inner
        .groupBy(window(col("w10"), "1 day").as("d"), col("user_id"))
        .agg(round(count(lit(1)) / 6.0, 6).as("hours_active"))
        .select(col("user_id"), col("d.start").as("day"), col("hours_active"))
        .orderBy("user_id", "day")
    }),

    // ns-precision time lane (reference dql/time_datatype.slt — the
    // native time type is TIMESTAMP(NANOSECOND); Spark timestamps are
    // µs). Tables.events carries the raw parquet nanos as ts_ns BIGINT
    // beside the µs ts. Hash-green claims: (a) ts_us — Spark's
    // ts_ns div 1000 vs DuckDB's epoch_us(ts) over REAL data (DuckDB
    // truncates parquet ns→µs at read, so µs agreement is the strongest
    // oracle-visible property of the physical column); (b) us_agree —
    // the µs timestamp column is exactly the truncation of ts_ns
    // (computed on the Spark side, constant true in the oracle, so a
    // contract break hash-mismatches); (c) the full ns round-trip —
    // split into (µs timestamp, sub-µs remainder), reconstructed
    // exactly — over a sub-µs-rich ns column both engines construct
    // identically. NsLaneSpec pins that the real parquet ts_ns itself
    // has nonzero sub-µs digits (non-vacuous lane).
    "ts_ns_roundtrip" -> ((s, dir) => {
      Tables.events(s, dir)
        .withColumn("ts_us", expr("ts_ns div 1000"))
        .withColumn("us_agree", expr("unix_micros(ts) = ts_ns div 1000"))
        .withColumn("ns", lit(1704067200000000000L) + col("event_id") * lit(1234567891L))
        .withColumn("sub_us", expr("ns % 1000"))
        .withColumn("ns_rt",
          expr("unix_micros(timestamp_micros(ns div 1000)) * 1000 + ns % 1000"))
        .withColumn("rt_exact", col("ns_rt") === col("ns"))
        .withColumn("bucket_10ms", expr("ns div 10000000"))
        .select("event_id", "ts_us", "us_agree", "ns", "sub_us", "ns_rt",
          "rt_exact", "bucket_10ms")
        .orderBy("event_id").limit(2000)
    }),

    // Z-order lake-layout key (native codegen'd bit interleave — the
    // clustering trick behind Delta/Iceberg Z-ORDER): sorting by it
    // co-locates rows close in BOTH dimensions so min/max zone pruning
    // works for 2-D predicates. Inputs masked to 16 bits so the DuckDB
    // oracle's bit arithmetic stays overflow-free; the full 32-bit lane
    // is spec-pinned.
    "ts_zorder_key" -> ((s, dir) => {
      Tables.events(s, dir)
        .select(col("event_id"),
          Native.call("zorder_key",
            pmod(col("user_id"), lit(65536)).cast("long"),
            pmod(col("event_id"), lit(65536)).cast("long")).as("zkey"))
        .orderBy("event_id").limit(5000)
    }),

    // LTTB visual downsample: ≤50 spike-preserving points per user
    // series. The sequential selection IS SQL-expressible as a
    // recursive CTE stepping one bucket per row, and it hash-checks
    // because the lane is integer-exact: timestamps enter as small µs
    // OFFSETS (base 2024-01-01) and values as cent integers, so every
    // bucket-average partial sum is an exact integer and the remaining
    // double ops (avg division, triangle areas) are the same IEEE
    // operation sequence on identical operands in both engines — argmax
    // can never flip on a ulp. Emitted ts/value are reconstructed
    // identically on both sides.
    "ts_lttb" -> ((s, dir) =>
      TimeSeries.lttb(
          Tables.events(s, dir)
            .withColumn("t_off", expr("unix_micros(ts) - 1704067200000000"))
            .withColumn("v_cents", expr("CAST(round(value * 100) AS DOUBLE)")),
          Seq("user_id"), col("t_off"), col("v_cents"), 50)
        .select(col("user_id"),
          (col("ts_us") + 1704067200000000L).as("ts_us"),
          (col("value") / 100.0).as("value"))
        .orderBy("user_id", "ts_us", "value")),

    // Mergeable-sketch rollup — THE 100 TB distinct-counting pattern:
    // hour-level HLL sketches (Datasketches, partial-aggregated
    // map-side) UNION into day level without touching raw rows again.
    // At scale the hourly sketch table is materialized once and every
    // coarser rollup (day/week/ad-hoc ranges) unions sketches instead
    // of rescanning the lake. Sketch VALUES are engine-specific, but
    // |sketch − exact|/exact ≤ 0.05 is an engine-stable boolean each
    // side checks against its OWN exact distinct → hash-green (the
    // exact counts are hashed exactly); ApproxAggSpec still pins merge
    // accuracy.
    "ts_sketch_rollup" -> ((s, dir) => {
      val hourly = Tables.events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
        .agg(expr("hll_sketch_agg(user_id)").as("sk"))
      val daily = hourly
        .groupBy(date_trunc("day", col("h")).as("day"), col("event_type"))
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"),
          count(lit(1)).as("hours_covered"))
      val exact = Tables.events(s, dir)
        .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
        .agg(countDistinct(col("user_id")).as("exact_users"))
      daily.join(exact, Seq("day", "event_type"))
        .select(col("day"), col("event_type"), col("hours_covered"),
          col("exact_users"),
          (abs(col("est") - col("exact_users")) <= col("exact_users") * 0.05)
            .as("sketch_ok"))
        .orderBy("event_type", "day")
    }),

    // Mergeable quantile rollup (percentile_agg/UddSketch surface):
    // hour bins merge to day, p50/p95 read off the merged histogram —
    // all integer arithmetic, fully hash-checked (unlike HLL no
    // tolerance boolean is needed: the sketch itself is deterministic).
    "ts_quantile_rollup" -> ((s, dir) =>
      TimeSeries.quantileRollup(Tables.events(s, dir), Seq("event_type"), "ts", "value")
        .orderBy("event_type", "day_us")),

    // Pins the shared-truncation contract between Tables.events (Spark:
    // parquet nanos → ts_ns, ts = timestamp_micros(ts_ns div 1000)) and
    // the oracle view E (DuckDB: cast(ts AS TIMESTAMP)) over REAL rows.
    // The oracle below IS the E text, so any drift between the two
    // views hash-mismatches here before it can green-wash the other TS
    // oracles (they all start from E). LIMIT keeps the driver's
    // row-sort compare bounded at larger scale factors.
    "ts_events_view" -> ((s, dir) =>
      Tables.events(s, dir)
        .select("event_id", "user_id", "event_type", "value", "ts")
        .orderBy("event_id").limit(10000)),

    // Tag/time-only projection shapes: the reference pins that
    // projecting (time), (time, tag) and (tag, field) subsets of a
    // series table reads straight without losing duplicate rows
    // (sqllogicaltests/cases/dql/only_time_col.slt:33-55,
    // only_tag_col.slt:43-102). Spark analogue: project the tag
    // columns (user_id, event_type) + time + one field from events;
    // column pruning reaches the parquet scan.
    "ts_only_cols_scan" -> ((s, dir) =>
      Tables.events(s, dir)
        .withColumn("ts_us", expr("ts_ns div 1000"))
        .select("ts_us", "event_type", "user_id", "value")
        .orderBy("ts_us", "event_type", "user_id", "value")),

    // Last-write-wins upsert read: the reference resolves duplicate
    // (tags, time) keys by keeping the LAST write, stable across
    // compaction (sqllogicaltests/cases/dql/file_query.slt:46-62 —
    // inserting 1,1,1 then 2,2,2 at one key reads back 2.0 before AND
    // after `compact database`). Spark analogue over events, keyed per
    // (user, event_type, minute) with event_id as the write sequence:
    // max_by keeps the newest write's value in one hash aggregate —
    // the keep-LAST mirror of ts_dedup's keep-first.
    "ts_upsert_lww" -> ((s, dir) =>
      Tables.events(s, dir)
        .withColumn("ts_us", expr("ts_ns div 1000"))
        .groupBy(col("user_id"), col("event_type"),
          expr("ts_us div 60000000").as("minute"))
        .agg(expr("max_by(value, event_id)").as("value"),
          max(col("event_id")).as("last_write"))
        .orderBy("user_id", "event_type", "minute")),

    // Per-FIELD merge on duplicate (series, time) keys: the reference
    // merges repeated writes field-by-field — each field independently
    // keeps its LAST NON-NULL write, so `f0=1,f1=true` then `f0=2` at
    // one timestamp reads back (2.0, true)
    // (sqlancer/repeat_write.slt:28-46 — four LP writes at ts 2 and 3
    // collapse to per-field last-write-wins; tskv's row merge). The
    // whole-row mirror is ts_upsert_lww. Spark shape: the write log is
    // a union of PARTIAL writes (each carrying a subset of fields as
    // nulls-elsewhere rows), merged in ONE hash aggregate — max_by
    // with a null ordering key for null field writes, which both
    // engines skip, so a later null never beats an earlier value.
    "ts_upsert_field_merge" -> ((s, dir) => {
      val e = Tables.events(s, dir).withColumn("ts_us", expr("ts_ns div 1000"))
      val minute = expr("ts_us div 60000000").as("minute")
      // write 1 (seq 2k): f_value only; write 2 (seq 2k+1, every 3rd
      // event): OVERRIDES f_value and FILLS f_flag — merged keys must
      // read w2's f_value where present and w1's elsewhere. Both writes
      // are emitted from ONE events scan via posexplode (guide §1.2 —
      // the r14 self-union form scanned the fact table twice); pos=1
      // survives the filter only for every 3rd event, reproducing the
      // old w2 branch's predicate exactly.
      e.select(col("user_id"), col("event_type"), minute,
          col("event_id"),
          posexplode(array(
            struct((col("event_id") * 2).as("seq"),
              col("value").as("f_value"),
              lit(null).cast("long").as("f_flag")),
            struct((col("event_id") * 2 + 1).as("seq"),
              (col("value") * 2).as("f_value"),
              col("event_id").as("f_flag")))))
        .filter(col("pos") === 0 || col("event_id") % 3 === 0)
        .select(col("user_id"), col("event_type"), col("minute"),
          col("col.seq").as("seq"), col("col.f_value").as("f_value"),
          col("col.f_flag").as("f_flag"))
        .groupBy("user_id", "event_type", "minute")
        .agg(
          expr("max_by(f_value, CASE WHEN f_value IS NOT NULL THEN seq END)").as("f_value"),
          expr("max_by(f_flag, CASE WHEN f_flag IS NOT NULL THEN seq END)").as("f_flag"),
          max(col("seq")).as("last_seq"))
        .orderBy("user_id", "event_type", "minute")
    })
  )

  def oracleSql: Map[String, String] = Map(
    "ts_window_tumbling" ->
      s"""SELECT event_type,
         |  epoch_ms(cast(floor(epoch(ts) / 3600) * 3600000 AS BIGINT)) AS w_start,
         |  count(*) AS n, round(sum(value), 4) AS sum_value,
         |  floor(sum(cast(round(value * 100) AS BIGINT)) / 100.0 / count(*)
         |    * 1000000.0) / 1000000.0 AS avg_value
         |FROM $E
         |GROUP BY event_type, w_start
         |ORDER BY event_type, w_start""".stripMargin,
    "ts_window_sliding" ->
      s"""SELECT event_type, w_start, count(*) AS n, round(sum(value), 4) AS sum_value
         |FROM (
         |  SELECT event_type, value,
         |    unnest([b, b - INTERVAL 1 HOUR]) AS w_start
         |  FROM (SELECT event_type, value,
         |    epoch_ms(cast(floor(epoch(ts) / 3600) * 3600000 AS BIGINT)) AS b
         |    FROM $E))
         |GROUP BY event_type, w_start
         |ORDER BY event_type, w_start""".stripMargin,
    "ts_window_origin" ->
      s"""SELECT event_type,
         |  epoch_ms((floor((epoch(ts) - 1800) / 3600) * 3600 + 1800)::BIGINT * 1000) AS w_start,
         |  count(*) AS n, round(sum(value), 4) AS sum_value
         |FROM $E
         |GROUP BY event_type, w_start
         |ORDER BY event_type, w_start""".stripMargin,
    "ts_session_window" ->
      s"""WITH d AS (
         |  SELECT user_id, ts, value,
         |    CASE WHEN lag(ts) OVER w IS NULL
         |           OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
         |         THEN 1 ELSE 0 END AS new_s
         |  FROM $E
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |s AS (SELECT user_id, ts, value,
         |  sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
         |  FROM d)
         |SELECT user_id, min(ts) AS session_start, count(*) AS n,
         |  round(sum(value), 4) AS sum_value
         |FROM s GROUP BY user_id, sid
         |ORDER BY user_id, session_start""".stripMargin,
    "ts_first_last" ->
      s"""WITH r AS (
         |  SELECT event_type, ts, value,
         |    row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn_a,
         |    row_number() OVER (PARTITION BY event_type ORDER BY ts DESC, event_id DESC) AS rn_d
         |  FROM $E)
         |SELECT event_type,
         |  min(ts) AS first_time, max(ts) AS last_time,
         |  max(CASE WHEN rn_a = 1 THEN value END) AS first_val,
         |  max(CASE WHEN rn_d = 1 THEN value END) AS last_val
         |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin,
    "ts_mode" ->
      s"""WITH c AS (
         |  SELECT user_id, event_type, count(*) AS cnt FROM $E GROUP BY 1, 2),
         |r AS (SELECT user_id, event_type,
         |  row_number() OVER (PARTITION BY user_id ORDER BY cnt DESC, event_type) AS rn
         |  FROM c)
         |SELECT user_id, event_type AS mode_event FROM r
         |WHERE rn = 1 AND user_id < 50 ORDER BY user_id""".stripMargin,
    "ts_increase" ->
      s"""WITH d AS (
         |  SELECT event_type, value,
         |    lag(value) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS prev
         |  FROM $E)
         |SELECT event_type, round(sum(
         |  CASE WHEN prev IS NULL THEN 0
         |       WHEN value >= prev THEN value - prev
         |       ELSE value END), 4) AS increase
         |FROM d GROUP BY event_type ORDER BY event_type""".stripMargin,
    "ts_topk" ->
      s"""SELECT event_type, event_id, value FROM (
         |  SELECT event_type, event_id, value,
         |    row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS rn
         |  FROM $E)
         |WHERE rn <= 5 ORDER BY event_type, event_id""".stripMargin,
    "ts_bottom" ->
      s"""SELECT event_type, event_id, value FROM (
         |  SELECT event_type, event_id, value,
         |    row_number() OVER (PARTITION BY event_type ORDER BY value ASC, event_id) AS rn
         |  FROM $E)
         |WHERE rn <= 5 ORDER BY event_type, event_id""".stripMargin,
    "ts_gauge_agg" ->
      s"""WITH r AS (
         |  SELECT event_type, ts, value,
         |    row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn_a,
         |    row_number() OVER (PARTITION BY event_type ORDER BY ts DESC, event_id DESC) AS rn_d
         |  FROM $E),
         |g AS (SELECT event_type,
         |  min(ts) AS first_time, max(ts) AS last_time,
         |  max(CASE WHEN rn_a = 1 THEN value END) AS first_val,
         |  max(CASE WHEN rn_d = 1 THEN value END) AS last_val
         |  FROM r GROUP BY event_type)
         |SELECT event_type, first_time, round(first_val, 4) AS first_val,
         |  last_time, round(last_val, 4) AS last_val,
         |  round(last_val - first_val, 4) AS delta,
         |  round(epoch(last_time) - epoch(first_time), 6) AS time_delta_s,
         |  CASE WHEN last_time <> first_time THEN
         |    round((last_val - first_val) / (epoch(last_time) - epoch(first_time)), 8)
         |  END AS rate
         |FROM g ORDER BY event_type""".stripMargin,
    "ts_idelta" ->
      s"""WITH r AS (
         |  SELECT event_type, value,
         |    row_number() OVER w AS rn,
         |    count(*) OVER (PARTITION BY event_type) AS cnt,
         |    lead(value) OVER w AS nxt,
         |    lag(value) OVER w AS prv
         |  FROM $E
         |  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id))
         |SELECT event_type,
         |  round(max(CASE WHEN rn = 1 THEN nxt - value END), 4) AS idelta_left,
         |  round(max(CASE WHEN rn = cnt THEN value - prv END), 4) AS idelta_right
         |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin,
    "ts_duration_in" ->
      s"""WITH d AS (
         |  SELECT user_id, event_type AS state, ts,
         |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts) AS next_ts
         |  FROM $E WHERE user_id < 30)
         |SELECT user_id, state,
         |  round(sum(epoch(next_ts) - epoch(ts)), 6) AS duration_s
         |FROM d WHERE next_ts IS NOT NULL
         |GROUP BY user_id, state ORDER BY user_id, state""".stripMargin,
    "ts_state_at" ->
      s"""SELECT user_id, event_type AS state_at FROM (
         |  SELECT user_id, event_type,
         |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
         |  FROM $E
         |  WHERE ts <= TIMESTAMP '2024-01-15 00:00:00')
         |WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "ts_last_point" ->
      s"""SELECT user_id, ts AS last_ts, event_type, value FROM (
         |  SELECT user_id, ts, event_type, value,
         |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
         |  FROM $E)
         |WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "ts_gapfill_locf" ->
      s"""WITH b AS (
         |  SELECT event_type,
         |    epoch_ms(cast(floor(epoch(ts) / 3600) * 3600000 AS BIGINT)) AS bucket,
         |    floor(sum(cast(round(value * 100) AS BIGINT)) / 100.0 / count(*)
         |      * 1000000.0) / 1000000.0 AS v
         |  FROM $E WHERE user_id < 30 GROUP BY 1, 2),
         |spine AS (
         |  SELECT event_type, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
         |  FROM (SELECT event_type, min(bucket) AS lo, max(bucket) AS hi FROM b GROUP BY 1)),
         |j AS (
         |  SELECT s.event_type, s.bucket, b.v
         |  FROM spine s LEFT JOIN b ON s.event_type = b.event_type AND s.bucket = b.bucket)
         |SELECT event_type, bucket,
         |  round(last_value(v IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY bucket
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS locf_value
         |FROM j ORDER BY event_type, bucket""".stripMargin,
    "ts_gapfill_interpolate" ->
      s"""WITH b AS (
         |  SELECT event_type,
         |    epoch_ms(cast(floor(epoch(ts) / 3600) * 3600000 AS BIGINT)) AS bucket,
         |    floor(sum(cast(round(value * 100) AS BIGINT)) / 100.0 / count(*)
         |      * 1000000.0) / 1000000.0 AS v
         |  FROM $E WHERE user_id < 30 GROUP BY 1, 2),
         |spine AS (
         |  SELECT event_type, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
         |  FROM (SELECT event_type, min(bucket) AS lo, max(bucket) AS hi FROM b GROUP BY 1)),
         |j AS (
         |  SELECT s.event_type, s.bucket, b.v
         |  FROM spine s LEFT JOIN b ON s.event_type = b.event_type AND s.bucket = b.bucket),
         |f AS (
         |  SELECT event_type, bucket, v,
         |    last_value(CASE WHEN v IS NOT NULL THEN bucket END IGNORE NULLS)
         |      OVER pw AS pt,
         |    last_value(v IGNORE NULLS) OVER pw AS pv,
         |    first_value(CASE WHEN v IS NOT NULL THEN bucket END IGNORE NULLS)
         |      OVER nw AS nt,
         |    first_value(v IGNORE NULLS) OVER nw AS nv
         |  FROM j
         |  WINDOW pw AS (PARTITION BY event_type ORDER BY bucket
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |  nw AS (PARTITION BY event_type ORDER BY bucket
         |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
         |SELECT event_type, bucket,
         |  floor((CASE WHEN v IS NOT NULL THEN v
         |    WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
         |      pv + (nv - pv) * (epoch(bucket) - epoch(pt)) / (epoch(nt) - epoch(pt))
         |  END) * 1000000.0) / 1000000.0 AS interp_value
         |FROM f ORDER BY event_type, bucket""".stripMargin,
    "ts_range_join" ->
      s"""WITH base AS (
         |  SELECT event_type, date_trunc('hour', min(ts)) AS t0 FROM $E GROUP BY 1),
         |w AS (
         |  SELECT event_type,
         |    t0 + (k * INTERVAL 7 HOUR) AS w_start,
         |    t0 + (k * INTERVAL 7 HOUR) + INTERVAL 2 HOUR AS w_end
         |  FROM base, LATERAL (SELECT unnest(generate_series(0, 19)) AS k) u)
         |SELECT w.event_type AS event_type, w.w_start AS w_start,
         |  count(*) AS n_events, round(sum(e.value), 4) AS sum_value
         |FROM w JOIN $E e
         |  ON e.event_type = w.event_type AND e.ts >= w.w_start AND e.ts < w.w_end
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "ts_asof_join" ->
      s"""WITH l AS (
         |  SELECT user_id, ts, event_id, value AS click_value
         |  FROM $E WHERE event_type = 'click'),
         |r AS (
         |  SELECT user_id, ts, max(value) AS view_value
         |  FROM $E WHERE event_type = 'view' GROUP BY user_id, ts)
         |SELECT l.user_id AS user_id, l.ts AS ts, l.event_id AS event_id, l.click_value,
         |  r.ts AS asof_ts, r.view_value AS asof_view_value
         |FROM l ASOF LEFT JOIN r
         |  ON l.user_id = r.user_id AND l.ts >= r.ts
         |ORDER BY l.user_id, l.event_id""".stripMargin,
    "ts_show_series" ->
      """SELECT concat('events,event_type=', event_type,
        |  ',user_id=', CAST(user_id AS VARCHAR)) AS key
        |FROM (SELECT DISTINCT event_type, user_id FROM events)
        |ORDER BY key""".stripMargin,
    "ts_show_tag_values" ->
      "SELECT DISTINCT user_id FROM events ORDER BY user_id",
    "ts_sample" ->
      """SELECT event_id, event_type, value FROM events
        |ORDER BY md5(cast(event_id AS VARCHAR)) LIMIT 100""".stripMargin,
    "ts_histogram" ->
      """WITH b AS (
        |  SELECT event_type, min(value) AS lo, max(value) AS hi
        |  FROM events GROUP BY event_type),
        |x AS (
        |  SELECT e.event_type,
        |    CASE WHEN hi = lo THEN 0
        |      ELSE least(CAST(floor((value - lo) / (hi - lo) * 10) AS INT), 9) END AS bin
        |  FROM events e JOIN b USING (event_type)),
        |c AS (SELECT event_type, bin, count(*) AS n FROM x GROUP BY event_type, bin),
        |d AS (
        |  SELECT b.event_type, u.bin, lo, hi
        |  FROM b, LATERAL (SELECT unnest(generate_series(0, 9)) AS bin) u)
        |SELECT d.event_type, d.bin,
        |  floor((lo + (hi - lo) / 10 * d.bin) * 1000000.0) / 1000000.0 AS bin_lo,
        |  floor((lo + (hi - lo) / 10 * (d.bin + 1)) * 1000000.0) / 1000000.0 AS bin_hi,
        |  coalesce(c.n, 0) AS n
        |FROM d LEFT JOIN c ON d.event_type = c.event_type AND d.bin = c.bin
        |ORDER BY d.event_type, d.bin""".stripMargin,
    "ts_anomaly_zscore" ->
      """WITH s AS (
        |  SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
        |    sum(CAST(round(value * 100) AS BIGINT)) AS sc,
        |    sum(CAST(round(value * 100) AS BIGINT)
        |      * CAST(round(value * 100) AS BIGINT)) AS qc
        |  FROM events GROUP BY event_type),
        |j AS (
        |  SELECT e.event_id, e.event_type, e.value,
        |    CAST(round(e.value * 100) AS HUGEINT) * n - sc AS num,
        |    n * qc - sc * sc AS varnum
        |  FROM events e JOIN s USING (event_type))
        |SELECT event_id, event_type, value,
        |  CASE WHEN varnum > 0 THEN num * num > 9 * varnum ELSE FALSE END AS is_outlier,
        |  CASE WHEN varnum > 0 THEN
        |    floor(CAST(num AS DOUBLE) / sqrt(CAST(varnum AS DOUBLE)) * 1000000.0)
        |      / 1000000.0 ELSE 0.0 END AS z
        |FROM j ORDER BY event_id LIMIT 10000""".stripMargin,
    "ts_cusum" ->
      """WITH e AS (
        |  SELECT event_id, event_type,
        |    epoch_us(cast(ts AS TIMESTAMP)) AS ts_us,
        |    CAST(round(value * 100) AS BIGINT) AS c
        |  FROM events),
        |s AS (
        |  SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
        |    CAST(sum(c) AS HUGEINT) AS sc,
        |    CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS qc
        |  FROM e GROUP BY event_type),
        |p AS (
        |  SELECT event_id, event_type,
        |    CAST(sum(c) OVER (PARTITION BY event_type ORDER BY ts_us, event_id
        |      ROWS UNBOUNDED PRECEDING) AS HUGEINT) AS pf,
        |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY ts_us, event_id)
        |      AS HUGEINT) AS i
        |  FROM e),
        |j AS (
        |  SELECT p.event_id, p.event_type,
        |    n * pf - i * sc AS d,
        |    i * (n - i) * (n * qc - sc * sc) AS bridge,
        |    n
        |  FROM p JOIN s USING (event_type))
        |SELECT event_id, event_type,
        |  CASE WHEN bridge > 0 THEN d * d * n > 9 * bridge ELSE FALSE END AS is_shift,
        |  CASE WHEN bridge > 0 THEN
        |    floor(CAST(d AS DOUBLE) / sqrt(CAST(bridge AS DOUBLE) / CAST(n AS DOUBLE))
        |      * 1000000.0) / 1000000.0 ELSE 0.0 END AS cusum_z
        |FROM j ORDER BY event_id LIMIT 10000""".stripMargin,
    "ts_dedup" ->
      """SELECT user_id, event_type,
        |  epoch_us(cast(ts AS TIMESTAMP)) // 60000000 AS minute,
        |  CAST(min(CAST(epoch_us(cast(ts AS TIMESTAMP)) AS HUGEINT) * 10000000
        |    + event_id) % 10000000 AS BIGINT) AS event_id
        |FROM events GROUP BY user_id, event_type, minute
        |ORDER BY user_id, event_type, minute""".stripMargin,
    "ts_m4" ->
      """WITH e AS (
        |  SELECT event_type,
        |    epoch_us(date_trunc('hour', cast(ts AS TIMESTAMP))) AS bucket_us,
        |    epoch_us(cast(ts AS TIMESTAMP)) AS ts_us, event_id, value
        |  FROM events),
        |r AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY event_type, bucket_us
        |      ORDER BY ts_us, event_id) AS rf,
        |    row_number() OVER (PARTITION BY event_type, bucket_us
        |      ORDER BY ts_us DESC, event_id DESC) AS rl,
        |    row_number() OVER (PARTITION BY event_type, bucket_us
        |      ORDER BY value, ts_us, event_id) AS rmin,
        |    row_number() OVER (PARTITION BY event_type, bucket_us
        |      ORDER BY value DESC, ts_us DESC, event_id DESC) AS rmax
        |  FROM e)
        |SELECT DISTINCT event_type, bucket_us, ts_us, event_id, value
        |FROM r WHERE rf = 1 OR rl = 1 OR rmin = 1 OR rmax = 1
        |ORDER BY event_type, bucket_us, ts_us, event_id""".stripMargin,
    "ts_acf" ->
      """WITH l AS (
        |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c,
        |    lead(CAST(round(value * 100) AS BIGINT), 10) OVER
        |      (PARTITION BY event_type
        |       ORDER BY epoch_us(cast(ts AS TIMESTAMP)), event_id) AS cl
        |  FROM events),
        |a AS (
        |  SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
        |    CAST(sum(c) AS HUGEINT) AS s,
        |    CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS q,
        |    CAST(sum(CASE WHEN cl IS NOT NULL
        |      THEN CAST(c AS HUGEINT) * cl ELSE 0 END) AS HUGEINT) AS p,
        |    CAST(sum(CASE WHEN cl IS NOT NULL THEN c ELSE 0 END) AS HUGEINT) AS aa,
        |    CAST(sum(CASE WHEN cl IS NOT NULL THEN cl ELSE 0 END) AS HUGEINT) AS bb
        |  FROM l GROUP BY event_type)
        |SELECT event_type, CAST(n AS BIGINT) AS n,
        |  CASE WHEN n > 10 AND n * (n * q - s * s) > 0 THEN
        |    floor(CAST(n * n * p - n * s * (aa + bb) + (n - 10) * s * s AS DOUBLE)
        |      / CAST(n * (n * q - s * s) AS DOUBLE) * 1000000.0) / 1000000.0
        |  END AS acf_10
        |FROM a ORDER BY event_type""".stripMargin,
    "ts_resets_changes" ->
      s"""WITH d AS (
         |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c,
         |    lag(CAST(round(value * 100) AS BIGINT)) OVER (PARTITION BY event_type
         |      ORDER BY epoch_us(cast(ts AS TIMESTAMP)), event_id) AS p
         |  FROM events)
         |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(CASE WHEN p IS NOT NULL AND c < p THEN 1 ELSE 0 END) AS BIGINT)
         |    AS resets,
         |  CAST(sum(CASE WHEN p IS NOT NULL AND c <> p THEN 1 ELSE 0 END) AS BIGINT)
         |    AS changes
         |FROM d GROUP BY event_type ORDER BY event_type""".stripMargin,
    "ts_counter_agg" ->
      s"""WITH d AS (
         |  SELECT event_type, event_id, epoch_us(cast(ts AS TIMESTAMP)) AS ts_us,
         |    CAST(round(value * 100) AS BIGINT) AS c,
         |    lag(CAST(round(value * 100) AS BIGINT)) OVER (PARTITION BY event_type
         |      ORDER BY epoch_us(cast(ts AS TIMESTAMP)), event_id) AS p
         |  FROM events)
         |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         |  min(ts_us) AS first_time_us,
         |  CAST(arg_min(c, ts_us) AS DOUBLE) / 100.0 AS first_val,
         |  max(ts_us) AS last_time_us,
         |  CAST(arg_max(c, ts_us) AS DOUBLE) / 100.0 AS last_val,
         |  CAST(sum(CASE WHEN p IS NOT NULL AND c < p THEN 1 ELSE 0 END) AS BIGINT)
         |    AS num_resets,
         |  CAST(sum(CASE WHEN p IS NULL THEN 0
         |    WHEN c >= p THEN c - p ELSE c END) AS DOUBLE) / 100.0 AS increase,
         |  CASE WHEN max(ts_us) > min(ts_us) THEN
         |    floor(CAST(sum(CASE WHEN p IS NULL THEN 0
         |      WHEN c >= p THEN c - p ELSE c END) AS DOUBLE) / 100.0
         |      / (CAST(max(ts_us) - min(ts_us) AS DOUBLE) / 1000000.0)
         |      * 1000000.0) / 1000000.0
         |  END AS rate_q
         |FROM d GROUP BY event_type ORDER BY event_type""".stripMargin,
    "ts_irate" ->
      s"""WITH d AS (
         |  SELECT event_type, event_id, epoch_us(cast(ts AS TIMESTAMP)) AS ts_us,
         |    CAST(round(value * 100) AS BIGINT) AS c,
         |    row_number() OVER w AS rn, count(*) OVER (PARTITION BY event_type) AS cnt,
         |    lag(CAST(round(value * 100) AS BIGINT)) OVER w AS pc,
         |    lag(epoch_us(cast(ts AS TIMESTAMP))) OVER w AS pt
         |  FROM events
         |  WINDOW w AS (PARTITION BY event_type
         |    ORDER BY epoch_us(cast(ts AS TIMESTAMP)), event_id))
         |SELECT event_type,
         |  CAST(CASE WHEN c >= pc THEN c - pc ELSE c END AS DOUBLE) / 100.0
         |    AS idelta,
         |  ts_us - pt AS dt_us,
         |  CASE WHEN ts_us - pt > 0 THEN
         |    floor(CAST(CASE WHEN c >= pc THEN c - pc ELSE c END AS DOUBLE) / 100.0
         |      / (CAST(ts_us - pt AS DOUBLE) / 1000000.0) * 1000000.0) / 1000000.0
         |  END AS irate_q
         |FROM d WHERE rn = cnt AND cnt >= 2
         |ORDER BY event_type""".stripMargin,
    "ts_rate_bucket" ->
      s"""WITH d AS (
         |  SELECT event_type, event_id, epoch_us(cast(ts AS TIMESTAMP)) AS ts_us,
         |    CAST(round(value * 100) AS BIGINT) AS c,
         |    lag(CAST(round(value * 100) AS BIGINT)) OVER (PARTITION BY event_type
         |      ORDER BY epoch_us(cast(ts AS TIMESTAMP)), event_id) AS p
         |  FROM events),
         |x AS (
         |  SELECT event_type, (ts_us // 3600000000) * 3600000000 AS bucket_us,
         |    CASE WHEN p IS NULL THEN NULL
         |         WHEN c >= p THEN c - p ELSE c END AS dd
         |  FROM d)
         |SELECT event_type, bucket_us, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(dd) AS DOUBLE) / 100.0 AS inc,
         |  floor(CAST(sum(dd) AS DOUBLE) / 100.0 / 3600.0 * 1000000.0) / 1000000.0
         |    AS rate_q
         |FROM x GROUP BY event_type, bucket_us
         |ORDER BY event_type, bucket_us""".stripMargin,
    "ts_sax" ->
      s"""WITH p AS (
         |  SELECT event_type,
         |    epoch_us(cast(ts AS TIMESTAMP)) // 3600000000 AS b,
         |    CAST(round(value * 100) AS BIGINT) AS c
         |  FROM events),
         |paa AS (
         |  SELECT event_type, b, CAST(sum(c) AS BIGINT) // count(*) AS paa
         |  FROM p GROUP BY event_type, b),
         |st AS (
         |  SELECT event_type, min(paa) AS mn, max(paa) AS mx
         |  FROM paa GROUP BY event_type)
         |SELECT paa.event_type, CAST(count(*) AS BIGINT) AS n_buckets,
         |  string_agg(chr(CAST(97 + (paa.paa - st.mn) * 4 // (st.mx - st.mn + 1)
         |    AS INT)), '' ORDER BY paa.b) AS sax_word
         |FROM paa JOIN st USING (event_type)
         |GROUP BY paa.event_type ORDER BY paa.event_type""".stripMargin,
    "ts_retention" ->
      s"""WITH days AS (
         |  SELECT DISTINCT user_id, CAST(cast(ts AS TIMESTAMP) AS DATE) AS day
         |  FROM events),
         |f AS (SELECT user_id, min(day) AS cohort_day FROM days GROUP BY user_id),
         |o AS (
         |  SELECT d.user_id, f.cohort_day, d.day - f.cohort_day AS off
         |  FROM days d JOIN f ON f.user_id = d.user_id)
         |SELECT cohort_day, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
         |  CAST(count(DISTINCT CASE WHEN off = 1 THEN user_id END) AS BIGINT) AS d1,
         |  CAST(count(DISTINCT CASE WHEN off = 3 THEN user_id END) AS BIGINT) AS d3,
         |  CAST(count(DISTINCT CASE WHEN off = 7 THEN user_id END) AS BIGINT) AS d7
         |FROM o GROUP BY cohort_day ORDER BY cohort_day""".stripMargin,
    "ts_funnel" ->
      s"""WITH s1 AS (
         |  SELECT user_id, min(ts) AS t FROM events
         |  WHERE event_type = 'signup' GROUP BY user_id),
         |s2 AS (
         |  SELECT e.user_id, min(e.ts) AS t FROM events e
         |  JOIN s1 ON s1.user_id = e.user_id
         |  WHERE e.event_type = 'view' AND e.ts > s1.t GROUP BY e.user_id),
         |s3 AS (
         |  SELECT e.user_id, min(e.ts) AS t FROM events e
         |  JOIN s2 ON s2.user_id = e.user_id
         |  WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY e.user_id)
         |SELECT * FROM (
         |  SELECT CAST(1 AS BIGINT) AS step, 'signup' AS event_type,
         |    CAST(count(*) AS BIGINT) AS n_users FROM s1
         |  UNION ALL SELECT CAST(2 AS BIGINT), 'view',
         |    CAST(count(*) AS BIGINT) FROM s2
         |  UNION ALL SELECT CAST(3 AS BIGINT), 'purchase',
         |    CAST(count(*) AS BIGINT) FROM s3)
         |ORDER BY step""".stripMargin,
    "ts_seasonal" ->
      s"""WITH e AS (
         |  SELECT event_id, event_type, CAST(round(value * 100) AS BIGINT) AS c,
         |    CAST(extract(hour FROM cast(ts AS TIMESTAMP)) AS BIGINT) AS hod
         |  FROM events),
         |h AS (
         |  SELECT event_type, hod, CAST(count(*) AS HUGEINT) AS nh,
         |    CAST(sum(c) AS HUGEINT) AS sh
         |  FROM e GROUP BY event_type, hod),
         |s AS (
         |  SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
         |    CAST(sum(c) AS HUGEINT) AS sc
         |  FROM e GROUP BY event_type)
         |SELECT e.event_id, e.event_type, e.hod,
         |  floor(CAST(h.sh * s.n - s.sc * h.nh AS DOUBLE)
         |    / CAST(h.nh * s.n AS DOUBLE) / 100.0 * 1000000.0) / 1000000.0
         |    AS seasonal_q,
         |  floor(CAST(CAST(e.c AS HUGEINT) * h.nh - h.sh AS DOUBLE)
         |    / CAST(h.nh AS DOUBLE) / 100.0 * 1000000.0) / 1000000.0
         |    AS residual_q
         |FROM e
         |JOIN h ON h.event_type = e.event_type AND h.hod = e.hod
         |JOIN s ON s.event_type = e.event_type
         |ORDER BY event_id LIMIT 10000""".stripMargin,
    "ts_heartbeat" ->
      s"""WITH p AS (
         |  SELECT event_type, epoch_us(cast(ts AS TIMESTAMP)) AS ts_us FROM events),
         |w AS (
         |  SELECT event_type, ts_us,
         |    lead(ts_us) OVER (PARTITION BY event_type ORDER BY ts_us) - ts_us AS gap
         |  FROM p)
         |SELECT event_type,
         |  CAST(count(*) AS BIGINT) AS n_heartbeats,
         |  CAST(sum(CASE WHEN gap > 1800000000 THEN 1 ELSE 0 END) + 1 AS BIGINT)
         |    AS n_intervals,
         |  CAST(sum(CASE WHEN gap IS NOT NULL THEN least(gap, 1800000000)
         |    ELSE 0 END) + 1800000000 AS BIGINT) AS live_us,
         |  CAST(sum(CASE WHEN gap > 1800000000 THEN gap - 1800000000
         |    ELSE 0 END) AS BIGINT) AS dead_us,
         |  CAST(sum(CASE WHEN gap > 1800000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps
         |FROM w GROUP BY event_type ORDER BY event_type""".stripMargin,
    "ts_holt_winters" ->
      s"""WITH RECURSIVE
         |p AS MATERIALIZED (
         |  SELECT event_type, event_id, CAST(round(value * 100) AS BIGINT) AS c,
         |    row_number() OVER (PARTITION BY event_type
         |      ORDER BY epoch_us(cast(ts AS TIMESTAMP)), event_id) AS i
         |  FROM events),
         |r AS (
         |  SELECT event_type, event_id, i, c AS l, CAST(0 AS BIGINT) AS b
         |  FROM p WHERE i = 1
         |  UNION ALL
         |  SELECT p.event_type, p.event_id, p.i,
         |    (p.c + 3 * (r.l + r.b)) // 4,
         |    ((p.c + 3 * (r.l + r.b)) // 4 - r.l + 3 * r.b) // 4
         |  FROM r JOIN p ON p.event_type = r.event_type AND p.i = r.i + 1)
         |SELECT event_id, event_type, l AS level_q, b AS trend_q,
         |  l + b AS forecast_q
         |FROM r ORDER BY event_id LIMIT 10000""".stripMargin,
    "ts_ewma" ->
      """SELECT event_id, event_type,
        |  floor(CAST(64 * c
        |      + CASE WHEN lag(c, 1) OVER w IS NULL THEN 0 ELSE 48 * lag(c, 1) OVER w END
        |      + CASE WHEN lag(c, 2) OVER w IS NULL THEN 0 ELSE 36 * lag(c, 2) OVER w END
        |      + CASE WHEN lag(c, 3) OVER w IS NULL THEN 0 ELSE 27 * lag(c, 3) OVER w END
        |      AS DOUBLE)
        |    / CAST(64
        |      + CASE WHEN lag(c, 1) OVER w IS NULL THEN 0 ELSE 48 END
        |      + CASE WHEN lag(c, 2) OVER w IS NULL THEN 0 ELSE 36 END
        |      + CASE WHEN lag(c, 3) OVER w IS NULL THEN 0 ELSE 27 END AS DOUBLE)
        |    / 100.0 * 1000000.0) / 1000000.0 AS ewma
        |FROM (SELECT event_id, event_type, CAST(round(value * 100) AS BIGINT) AS c,
        |  epoch_us(cast(ts AS TIMESTAMP)) AS ts_us FROM events)
        |WINDOW w AS (PARTITION BY event_type ORDER BY ts_us, event_id)
        |ORDER BY event_id LIMIT 10000""".stripMargin,
    "ts_moving_avg" ->
      """SELECT event_id, event_type,
        |  floor(CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER w AS DOUBLE)
        |    / (count(*) OVER w) / 100.0 * 1000000.0) / 1000000.0 AS ma
        |FROM events
        |WINDOW w AS (PARTITION BY event_type
        |  ORDER BY epoch_us(cast(ts AS TIMESTAMP)), event_id
        |  ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
        |ORDER BY event_id LIMIT 10000""".stripMargin,
    "ts_value_at" ->
      s"""WITH f AS (
         |  SELECT event_type, user_id, epoch_us(ts) AS ts_us, event_id,
         |    CAST(round(value * 100) AS BIGINT) AS c
         |  FROM $E
         |  WHERE epoch_us(ts) <= 1705320000000000
         |    AND epoch_us(ts) > 1705320000000000 - 3600000000)
         |SELECT event_type, user_id, ts_us AS sample_us, c AS cents
         |FROM f
         |QUALIFY row_number() OVER (PARTITION BY event_type, user_id
         |  ORDER BY ts_us DESC, event_id DESC) = 1
         |ORDER BY event_type, user_id""".stripMargin,
    "ts_series_profile" ->
      s"""SELECT event_type,
         |  CAST(count(*) AS BIGINT) AS n,
         |  min(epoch_us(ts)) AS first_us,
         |  max(epoch_us(ts)) AS last_us,
         |  CAST(count(DISTINCT date_trunc('day', ts)) AS BIGINT) AS n_days,
         |  min(CAST(round(value * 100) AS BIGINT)) AS min_cents,
         |  max(CAST(round(value * 100) AS BIGINT)) AS max_cents,
         |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
         |  max(epoch_us(ts)) - min(epoch_us(ts)) AS span_us,
         |  CASE WHEN count(*) > 1
         |    THEN (max(epoch_us(ts)) - min(epoch_us(ts))) // (count(*) - 1)
         |    END AS mean_interval_us
         |FROM $E GROUP BY event_type ORDER BY event_type""".stripMargin,
    "ts_gap_report" ->
      s"""WITH d AS (
         |  SELECT event_type, epoch_us(ts) AS ts_us,
         |    lag(epoch_us(ts)) OVER (PARTITION BY event_type
         |      ORDER BY epoch_us(ts), event_id) AS prev_us
         |  FROM $E)
         |SELECT event_type, prev_us AS gap_start_us, ts_us AS gap_end_us,
         |  ts_us - prev_us AS gap_us
         |FROM d
         |WHERE prev_us IS NOT NULL AND ts_us - prev_us > 600000000
         |ORDER BY event_type, gap_start_us""".stripMargin,
    "ts_rollup_cascade" ->
      s"""SELECT event_type,
         |  epoch_us(date_trunc('day', ts)) AS day_us,
         |  CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS volume,
         |  CAST(min(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS min_v,
         |  CAST(max(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS max_v
         |FROM $E GROUP BY event_type, day_us
         |ORDER BY event_type, day_us""".stripMargin,
    "ts_bollinger" ->
      """WITH e AS (
        |  SELECT event_id, event_type, CAST(round(value * 100) AS BIGINT) AS c,
        |    epoch_us(cast(ts AS TIMESTAMP)) AS ts_us FROM events),
        |w AS (
        |  SELECT event_id, event_type,
        |    CAST(count(*) OVER w AS BIGINT) AS n,
        |    CAST(sum(c) OVER w AS BIGINT) AS s,
        |    CAST(sum(c * c) OVER w AS BIGINT) AS q
        |  FROM e
        |  WINDOW w AS (PARTITION BY event_type ORDER BY ts_us, event_id
        |    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
        |SELECT event_id, event_type,
        |  floor(CAST(s AS DOUBLE) / n / 100.0 * 1000000.0) / 1000000.0 AS mid,
        |  floor((s + 2 * sqrt(CAST(n * q - s * s AS DOUBLE))) / n
        |    / 100.0 * 1000000.0) / 1000000.0 AS upper,
        |  floor((s - 2 * sqrt(CAST(n * q - s * s AS DOUBLE))) / n
        |    / 100.0 * 1000000.0) / 1000000.0 AS lower
        |FROM w ORDER BY event_id LIMIT 10000""".stripMargin,
    "ts_histogram_quantile" ->
      """WITH e AS (
        |  SELECT event_type,
        |    epoch_us(date_trunc('day', cast(ts AS TIMESTAMP))) AS bucket_us,
        |    CAST(round(value * 100) AS BIGINT) AS c
        |  FROM events),
        |a AS (
        |  SELECT event_type, bucket_us,
        |    CAST(sum(CASE WHEN c <= 1000 THEN 1 ELSE 0 END) AS BIGINT) AS cum0,
        |    CAST(sum(CASE WHEN c <= 2000 THEN 1 ELSE 0 END) AS BIGINT) AS cum1,
        |    CAST(sum(CASE WHEN c <= 4000 THEN 1 ELSE 0 END) AS BIGINT) AS cum2,
        |    CAST(sum(CASE WHEN c <= 8000 THEN 1 ELSE 0 END) AS BIGINT) AS cum3,
        |    CAST(sum(CASE WHEN c <= 16000 THEN 1 ELSE 0 END) AS BIGINT) AS cum4,
        |    CAST(sum(CASE WHEN c <= 32000 THEN 1 ELSE 0 END) AS BIGINT) AS cum5,
        |    CAST(sum(CASE WHEN c <= 64000 THEN 1 ELSE 0 END) AS BIGINT) AS cum6,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM e GROUP BY 1, 2),
        |b AS (
        |  SELECT *,
        |    CASE WHEN cum0 * 100 >= 95 * n THEN 0
        |         WHEN cum1 * 100 >= 95 * n THEN 1000
        |         WHEN cum2 * 100 >= 95 * n THEN 2000
        |         WHEN cum3 * 100 >= 95 * n THEN 4000
        |         WHEN cum4 * 100 >= 95 * n THEN 8000
        |         WHEN cum5 * 100 >= 95 * n THEN 16000
        |         WHEN cum6 * 100 >= 95 * n THEN 32000
        |         ELSE 64000 END AS lo,
        |    CASE WHEN cum0 * 100 >= 95 * n THEN 1000
        |         WHEN cum1 * 100 >= 95 * n THEN 2000
        |         WHEN cum2 * 100 >= 95 * n THEN 4000
        |         WHEN cum3 * 100 >= 95 * n THEN 8000
        |         WHEN cum4 * 100 >= 95 * n THEN 16000
        |         WHEN cum5 * 100 >= 95 * n THEN 32000
        |         WHEN cum6 * 100 >= 95 * n THEN 64000
        |         ELSE 64000 END AS hi,
        |    CASE WHEN cum0 * 100 >= 95 * n THEN 0
        |         WHEN cum1 * 100 >= 95 * n THEN cum0
        |         WHEN cum2 * 100 >= 95 * n THEN cum1
        |         WHEN cum3 * 100 >= 95 * n THEN cum2
        |         WHEN cum4 * 100 >= 95 * n THEN cum3
        |         WHEN cum5 * 100 >= 95 * n THEN cum4
        |         WHEN cum6 * 100 >= 95 * n THEN cum5
        |         ELSE cum6 END AS cp,
        |    CASE WHEN cum0 * 100 >= 95 * n THEN cum0
        |         WHEN cum1 * 100 >= 95 * n THEN cum1 - cum0
        |         WHEN cum2 * 100 >= 95 * n THEN cum2 - cum1
        |         WHEN cum3 * 100 >= 95 * n THEN cum3 - cum2
        |         WHEN cum4 * 100 >= 95 * n THEN cum4 - cum3
        |         WHEN cum5 * 100 >= 95 * n THEN cum5 - cum4
        |         WHEN cum6 * 100 >= 95 * n THEN cum6 - cum5
        |         ELSE 1 END AS cb
        |  FROM a)
        |SELECT event_type, bucket_us, n,
        |  floor((lo * 1.0 + (hi - lo) * (95 * n - 100 * cp) / (100.0 * cb))
        |    / 100.0 * 1000000.0) / 1000000.0 AS quantile
        |FROM b ORDER BY event_type, bucket_us""".stripMargin,
    "ts_candlestick" ->
      """WITH e AS (
        |  SELECT event_type,
        |    epoch_us(date_trunc('hour', cast(ts AS TIMESTAMP))) AS bucket_us,
        |    value, CAST(round(value * 100) AS BIGINT) AS cents,
        |    epoch_us(cast(ts AS TIMESTAMP)) AS tns, event_id
        |  FROM events),
        |w AS (
        |  SELECT *,
        |    first_value(value) OVER (PARTITION BY event_type, bucket_us
        |      ORDER BY tns, event_id) AS o,
        |    first_value(value) OVER (PARTITION BY event_type, bucket_us
        |      ORDER BY tns DESC, event_id DESC) AS c
        |  FROM e)
        |SELECT event_type, bucket_us, CAST(count(*) AS BIGINT) AS n,
        |  min(o) AS open, max(value) AS high, min(value) AS low,
        |  min(c) AS close, CAST(sum(cents) AS DOUBLE) / 100.0 AS volume
        |FROM w GROUP BY event_type, bucket_us
        |ORDER BY event_type, bucket_us""".stripMargin,
    "ts_linreg" ->
      """WITH p AS (
        |  SELECT event_type,
        |    epoch_ns(ts) // 1000000000 - 1704067200 AS x,
        |    CAST(round(value * 100) AS BIGINT) AS y
        |  FROM events),
        |a AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
        |    CAST(sum(x * x) AS DOUBLE) AS sxx, CAST(sum(y * y) AS DOUBLE) AS syy,
        |    CAST(sum(x * y) AS DOUBLE) AS sxy
        |  FROM p GROUP BY event_type)
        |SELECT event_type, n,
        |  CASE WHEN n * sxx - sx * sx > 0 THEN
        |    floor((n * sxy - sx * sy) / (n * sxx - sx * sx) / 100.0 * 1000000.0)
        |      / 1000000.0 END AS slope,
        |  CASE WHEN n * sxx - sx * sx > 0 THEN
        |    floor((sy / n - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * (sx / n))
        |      / 100.0 * 1000000.0) / 1000000.0 END AS intercept,
        |  CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 THEN
        |    floor((n * sxy - sx * sy) * (n * sxy - sx * sy)
        |      / ((n * sxx - sx * sx) * (n * syy - sy * sy)) * 1000000.0) / 1000000.0
        |    END AS r2
        |FROM a ORDER BY event_type""".stripMargin,
    // same sums as ts_linreg + max(x); predicted re-uses the FLOORED
    // slope/intercept so the extrapolation is one identical double
    // expression in both engines
    "ts_predict_linear" ->
      """WITH p AS (
        |  SELECT event_type,
        |    epoch_ns(ts) // 1000000000 - 1704067200 AS x,
        |    CAST(round(value * 100) AS BIGINT) AS y
        |  FROM events),
        |a AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
        |    CAST(sum(x * x) AS DOUBLE) AS sxx, CAST(sum(y * y) AS DOUBLE) AS syy,
        |    CAST(sum(x * y) AS DOUBLE) AS sxy,
        |    CAST(max(x) AS BIGINT) AS mx
        |  FROM p GROUP BY event_type),
        |s AS (
        |  SELECT event_type, n, mx,
        |    CASE WHEN n * sxx - sx * sx > 0 THEN
        |      floor((n * sxy - sx * sy) / (n * sxx - sx * sx) / 100.0 * 1000000.0)
        |        / 1000000.0 END AS slope,
        |    CASE WHEN n * sxx - sx * sx > 0 THEN
        |      floor((sy / n - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * (sx / n))
        |        / 100.0 * 1000000.0) / 1000000.0 END AS intercept
        |  FROM a)
        |SELECT event_type, n, slope, intercept, mx + 3600 AS x_pred,
        |  CASE WHEN slope IS NOT NULL THEN
        |    floor((intercept + slope * CAST(mx + 3600 AS DOUBLE)) * 1000000.0)
        |      / 1000000.0 END AS predicted
        |FROM s ORDER BY event_type""".stripMargin,
    "ts_twa" ->
      """WITH e AS (
        |  SELECT event_type, epoch_us(ts) AS ts_us,
        |    CAST(round(value * 100) AS BIGINT) AS vc,
        |    epoch_us(ts) // 86400000000 AS day
        |  FROM events),
        |l AS (
        |  SELECT event_type, day, ts_us, vc,
        |    lead(ts_us) OVER (PARTITION BY event_type, day ORDER BY ts_us) AS t2,
        |    lead(vc) OVER (PARTITION BY event_type, day ORDER BY ts_us) AS vc2
        |  FROM e),
        |g AS (
        |  SELECT event_type, day, count(*) AS n,
        |    max(ts_us) - min(ts_us) AS span,
        |    sum(CASE WHEN t2 IS NOT NULL
        |      THEN (t2 - ts_us)::HUGEINT * (vc + vc2)::HUGEINT
        |      ELSE 0 END) AS integ2,
        |    min(vc) AS vc0
        |  FROM l GROUP BY 1, 2)
        |SELECT event_type, day, n, span,
        |  CASE WHEN span > 0
        |    THEN floor(integ2::DOUBLE / 2.0 / span::DOUBLE / 100.0 * 1000000.0)
        |      / 1000000.0
        |    ELSE floor(vc0::DOUBLE / 100.0 * 1000000.0) / 1000000.0 END AS twa
        |FROM g ORDER BY event_type, day""".stripMargin,
    "ts_date_bin" ->
      s"""WITH i AS (
         |  SELECT epoch_ms(cast(floor(epoch(ts) / 600) * 600000 AS BIGINT)) AS w10,
         |    user_id, avg(value) AS mv
         |  FROM $E GROUP BY 1, 2)
         |SELECT user_id,
         |  epoch_ms(cast(floor(epoch(w10) / 86400) * 86400000 AS BIGINT)) AS day,
         |  round(count(*) / 6.0, 6) AS hours_active
         |FROM i GROUP BY user_id, day
         |ORDER BY user_id, day""".stripMargin,
    "ts_ns_roundtrip" ->
      """WITH n AS (
        |  SELECT event_id, epoch_us(ts) AS ts_us,
        |    1704067200000000000 + event_id * 1234567891 AS ns
        |  FROM events)
        |SELECT event_id, ts_us, (ts_us = ts_us) AS us_agree, ns,
        |  ns % 1000 AS sub_us,
        |  epoch_us(make_timestamp(ns // 1000)) * 1000 + ns % 1000 AS ns_rt,
        |  (epoch_us(make_timestamp(ns // 1000)) * 1000 + ns % 1000 = ns) AS rt_exact,
        |  ns // 10000000 AS bucket_10ms
        |FROM n ORDER BY event_id LIMIT 2000""".stripMargin,
    "ts_events_view" ->
      s"SELECT event_id, user_id, event_type, value, ts FROM $E ORDER BY event_id LIMIT 10000",
    "ts_only_cols_scan" ->
      s"""SELECT epoch_us(ts) AS ts_us, event_type, user_id, value
         |FROM $E
         |ORDER BY ts_us, event_type, user_id, value""".stripMargin,
    "ts_upsert_lww" ->
      s"""SELECT user_id, event_type, epoch_us(ts) // 60000000 AS minute,
         |  arg_max(value, event_id) AS value, max(event_id) AS last_write
         |FROM $E
         |GROUP BY user_id, event_type, minute
         |ORDER BY user_id, event_type, minute""".stripMargin,
    "ts_upsert_field_merge" ->
      s"""WITH writes AS (
         |  SELECT user_id, event_type, epoch_us(ts) // 60000000 AS minute,
         |    2 * event_id AS seq, value AS f_value, CAST(NULL AS BIGINT) AS f_flag
         |  FROM $E
         |  UNION ALL
         |  SELECT user_id, event_type, epoch_us(ts) // 60000000 AS minute,
         |    2 * event_id + 1, value * 2, event_id
         |  FROM $E WHERE event_id % 3 = 0)
         |SELECT user_id, event_type, minute,
         |  arg_max(f_value, CASE WHEN f_value IS NOT NULL THEN seq END) AS f_value,
         |  arg_max(f_flag, CASE WHEN f_flag IS NOT NULL THEN seq END) AS f_flag,
         |  max(seq) AS last_seq
         |FROM writes
         |GROUP BY user_id, event_type, minute
         |ORDER BY user_id, event_type, minute""".stripMargin,
    "ts_zorder_key" ->
      """SELECT event_id,
        |  CAST(sum((((user_id % 65536) >> b.i) & 1)::BIGINT << (2 * b.i)) +
        |       sum((((event_id % 65536) >> b.i) & 1)::BIGINT << (2 * b.i + 1)) AS BIGINT)
        |    AS zkey
        |FROM events, (SELECT unnest(generate_series(0, 15)) AS i) b
        |GROUP BY event_id ORDER BY event_id LIMIT 5000""".stripMargin,
    // LTTB replayed as a LIST-INDEX recursive CTE (VERDICT r11 #5): the
    // r11 spelling's recursive member ran a correlated subquery scanning
    // the whole point set per (series, step) — killed at 104 CPU-min at
    // sf1. Here each series' points are pre-aggregated into ordered
    // lists ONCE; the 48-step recursion joins the 1-row-per-series list
    // table and computes the bucket argmax with list_transform over the
    // bucket slice (list_position of the max = lowest-index tie-break,
    // mirroring the scalar core's strict `>`). Bucket boundaries/
    // averages precompute outside the recursion from list slices (1-
    // based INCLUSIVE in DuckDB). Identical exact-integer operands and
    // IEEE op sequence — validated row-for-row against the r11 oracle's
    // output at sf0.01/sf0.1; sf1 runs in ~5 s.
    "ts_lttb" ->
      s"""WITH RECURSIVE
         |pts AS (
         |  SELECT user_id, epoch_us(ts) - 1704067200000000 AS t,
         |         CAST(round(value * 100) AS DOUBLE) AS v
         |  FROM $E),
         |p AS (
         |  SELECT user_id, t, v,
         |    row_number() OVER (PARTITION BY user_id ORDER BY t, v) - 1 AS idx,
         |    count(*) OVER (PARTITION BY user_id) AS n
         |  FROM pts),
         |big AS (SELECT * FROM p WHERE n > 50),
         |l AS MATERIALIZED (
         |  SELECT user_id, CAST(max(n) AS BIGINT) AS n, (max(n) - 2) / 48.0 AS every,
         |    list(t ORDER BY idx) AS ts_l, list(v ORDER BY idx) AS vs_l
         |  FROM big GROUP BY user_id),
         |bkt AS (
         |  SELECT l.user_id, g.i, l.n,
         |    CAST(floor((g.i + 1) * l.every) AS BIGINT) + 1 AS lo,
         |    least(CAST(floor((g.i + 2) * l.every) AS BIGINT) + 1, l.n) AS hi
         |  FROM l, (SELECT unnest(generate_series(0, 47)) AS i) g),
         |bavg AS MATERIALIZED (
         |  SELECT k.user_id, k.i,
         |    CASE WHEN k.hi <= k.lo THEN CAST(l.ts_l[l.n] AS DOUBLE)
         |         ELSE CAST(list_aggregate(l.ts_l[k.lo + 1 : k.hi], 'sum') AS DOUBLE)
         |              / (k.hi - k.lo) END AS ax,
         |    CASE WHEN k.hi <= k.lo THEN l.vs_l[l.n]
         |         ELSE list_aggregate(l.vs_l[k.lo + 1 : k.hi], 'sum') / (k.hi - k.lo) END AS ay
         |  FROM bkt k JOIN l ON l.user_id = k.user_id),
         |ba AS MATERIALIZED (
         |  SELECT user_id, list(ax ORDER BY i) AS ax_l, list(ay ORDER BY i) AS ay_l
         |  FROM bavg GROUP BY user_id),
         |sel AS (
         |  SELECT user_id, 0 AS i, CAST(0 AS BIGINT) AS a FROM l
         |  UNION ALL
         |  SELECT user_id, i,
         |    lo - 1 + CAST(list_position(areas, list_aggregate(areas, 'max')) AS BIGINT) AS a
         |  FROM (
         |    SELECT s.user_id, s.i + 1 AS i,
         |      CAST(floor(s.i * l.every) AS BIGINT) + 1 AS lo,
         |      list_transform(
         |        range(CAST(floor(s.i * l.every) AS BIGINT) + 2,
         |              least(CAST(floor((s.i + 1) * l.every) AS BIGINT) + 1, l.n) + 1),
         |        j -> abs((CAST(l.ts_l[s.a + 1] AS DOUBLE) - x.ax_l[s.i + 1])
         |                   * (l.vs_l[j] - l.vs_l[s.a + 1])
         |               - (CAST(l.ts_l[s.a + 1] AS DOUBLE) - CAST(l.ts_l[j] AS DOUBLE))
         |                   * (x.ay_l[s.i + 1] - l.vs_l[s.a + 1]))) AS areas
         |    FROM sel s
         |    JOIN l ON l.user_id = s.user_id
         |    JOIN ba x ON x.user_id = s.user_id
         |    WHERE s.i < 48)),
         |kept AS (
         |  SELECT user_id, a AS idx FROM sel
         |  UNION ALL SELECT user_id, n - 1 FROM l
         |  UNION ALL SELECT user_id, idx FROM p WHERE n <= 50)
         |SELECT b.user_id, b.t + 1704067200000000 AS ts_us, b.v / 100.0 AS value
         |FROM kept k JOIN p b ON b.user_id = k.user_id AND b.idx = k.idx
         |ORDER BY b.user_id, ts_us, value""".stripMargin,
    "ts_quantile_rollup" ->
      s"""WITH b AS (
         |  SELECT event_type,
         |    epoch_us(date_trunc('day', ts)) AS day_us,
         |    epoch_us(date_trunc('hour', ts)) AS hour_us,
         |    length(CAST(c AS VARCHAR)) * 100
         |      + c // CAST(power(10, GREATEST(length(CAST(c AS VARCHAR)) - 2, 0))
         |          AS BIGINT) AS bid
         |  FROM (SELECT event_type, ts, CAST(round(value * 100) AS BIGINT) AS c
         |        FROM $E)),
         |h AS (
         |  SELECT event_type, day_us, hour_us, bid, count(*) AS hn
         |  FROM b GROUP BY event_type, day_us, hour_us, bid),
         |d AS (
         |  SELECT event_type, day_us, bid, CAST(sum(hn) AS BIGINT) AS bn
         |  FROM h GROUP BY event_type, day_us, bid),
         |cumt AS (
         |  SELECT event_type, day_us, bid, bn,
         |    CAST(sum(bn) OVER (PARTITION BY event_type, day_us ORDER BY bid)
         |      AS BIGINT) AS cum,
         |    CAST(sum(bn) OVER (PARTITION BY event_type, day_us) AS BIGINT) AS n
         |  FROM d)
         |SELECT event_type, day_us, CAST(min(n) AS BIGINT) AS n,
         |  min(CASE WHEN cum >= (n + 1) // 2 THEN bid END) AS p50_bid,
         |  min(CASE WHEN cum >= (n * 19 + 19) // 20 THEN bid END) AS p95_bid,
         |  (min(CASE WHEN cum >= (n + 1) // 2 THEN bid END) % 100)
         |    * CAST(power(10, GREATEST(min(CASE WHEN cum >= (n + 1) // 2 THEN bid END)
         |        // 100 - 2, 0)) AS BIGINT) AS p50_lo_cents,
         |  (min(CASE WHEN cum >= (n * 19 + 19) // 20 THEN bid END) % 100)
         |    * CAST(power(10, GREATEST(min(CASE WHEN cum >= (n * 19 + 19) // 20
         |        THEN bid END) // 100 - 2, 0)) AS BIGINT) AS p95_lo_cents
         |FROM cumt GROUP BY event_type, day_us
         |ORDER BY event_type, day_us""".stripMargin,
    // Sketch bytes are engine-specific; each engine hashes its OWN
    // |approx − exact|/exact ≤ 0.05 boolean + the exact distincts.
    "ts_sketch_rollup" ->
      s"""SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
         |  CAST(count(DISTINCT date_trunc('hour', ts)) AS BIGINT) AS hours_covered,
         |  CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
         |  abs(approx_count_distinct(user_id) - count(DISTINCT user_id))
         |    <= count(DISTINCT user_id) * 0.05 AS sketch_ok
         |FROM $E GROUP BY day, event_type
         |ORDER BY event_type, day""".stripMargin
  )
}
