package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType

import graft.functions.Native

/** Structured-Streaming ingestion — cnosdb's stream tables / continuous
  * queries re-expressed (reference: the stream .slt suites and
  * query_server/query/src/stream).
  *
  * The transforms are written against plain DataFrames so the SAME
  * function runs in batch (driver correctness checks) and with
  * readStream (production): Spark's unified API replaces cnosdb's
  * separate stream-table machinery.
  */
object StreamIngest {

  /** Watermarked tumbling-window aggregation per key — the canonical
    * continuous ingest query (downsampling). Works on batch or
    * streaming frames alike.
    */
  def windowedStats(events: DataFrame, tsCol: String, keyCol: String,
                    window: String, watermark: String): DataFrame = {
    val wm = if (events.isStreaming) events.withWatermark(tsCol, watermark) else events
    wm.groupBy(org.apache.spark.sql.functions.window(col(tsCol), window).as("w"), col(keyCol))
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"),
        round(avg("value"), 6).as("avg_value"))
      .select(col(keyCol), col("w.start").as("w_start"), col("n"),
        col("sum_value"), col("avg_value"))
  }

  /** Watermarked windowed Misra-Gries heavy hitters per key — the
    * continuous "top values right now" query (trending items, hot
    * tenants) with per-window state bounded at k map entries whatever
    * the value cardinality, merged across micro-batches by Spark's
    * streaming aggregation through the Aggregator's mergeable-summary
    * merge (graft.functions.HeavyHitters). At k ≥ the value domain the
    * summary provably equals the exact count map independent of
    * micro-batch slicing, which is what the replay oracle checks; the
    * lossy regime trades exactly the n/(k+1) error the batch form
    * does. Works on batch or streaming frames alike.
    */
  def windowedHeavyHitters(events: DataFrame, tsCol: String, keyCol: String,
                           valueCol: String, k: Int,
                           window: String, watermark: String): DataFrame = {
    val mg = udaf(new graft.functions.HeavyHitters.MisraGriesAgg(k))
    val wm = if (events.isStreaming) events.withWatermark(tsCol, watermark) else events
    wm.groupBy(org.apache.spark.sql.functions.window(col(tsCol), window).as("w"),
        col(keyCol))
      .agg(mg(col(valueCol)).as("__hh"))
      .select(col(keyCol), col("w.start").as("w_start"),
        explode(col("__hh")).as(Seq("value", "est_n")))
  }

  /** Streaming OHLC candlestick per (key, window) — the continuous
    * market-data/metrics rollup, the streaming half of the batch
    * `TimeSeries.candlestick`. Deterministic open/close come from
    * min/max over a (ts, tiebreak, value) struct — the same
    * partial-aggregable min_by/max_by shape the batch operator uses, so
    * the two sides agree row-for-row; volume sums exact cents. Works on
    * batch or streaming frames alike (the equivalence oracle runs the
    * identical code in batch mode).
    */
  def candlestickStats(events: DataFrame, tsCol: String, keyCol: String,
                       tiebreakCol: String, valueCol: String,
                       win: String, watermark: String): DataFrame = {
    val wm = if (events.isStreaming) events.withWatermark(tsCol, watermark) else events
    wm.withColumn("__cents", round(col(valueCol) * 100).cast("long"))
      .groupBy(window(col(tsCol), win).as("w"), col(keyCol))
      .agg(count(lit(1)).as("n"),
        min(struct(col(tsCol), col(tiebreakCol), col(valueCol)))
          .getField(valueCol).as("open"),
        max(col(valueCol)).as("high"), min(col(valueCol)).as("low"),
        max(struct(col(tsCol), col(tiebreakCol), col(valueCol)))
          .getField(valueCol).as("close"),
        (sum(col("__cents")).cast("double") / 100.0).as("volume"))
      .select(col(keyCol), col("w.start").as("w_start"), col("n"),
        col("open"), col("high"), col("low"), col("close"), col("volume"))
  }

  /** Streaming windowed TOP-K: the per-window heavy hitters (largest
    * values with deterministic (value DESC, tiebreak ASC) order) as an
    * append-mode windowed aggregate — top-k selection is expressed as
    * sort+slice over a collected (−cents, tiebreak) struct list, so the
    * result is a pure function of the window's row SET (arrival order
    * and batch boundaries cannot change it). One row per (key, window,
    * rank). Works on batch or streaming frames alike.
    *
    * State per open window is the full value list, bounded by window
    * row count — the exact-top-k cost; a quantile-sketch variant would
    * trade exactness for O(k) state.
    */
  def windowedTopK(events: DataFrame, tsCol: String, keyCol: String,
                   tiebreakCol: String, valueCol: String,
                   win: String, watermark: String, k: Int): DataFrame = {
    val wm = if (events.isStreaming) events.withWatermark(tsCol, watermark) else events
    wm.withColumn("__neg", -round(col(valueCol) * 100).cast("long"))
      .groupBy(window(col(tsCol), win).as("w"), col(keyCol))
      .agg(slice(array_sort(collect_list(
        struct(col("__neg"), col(tiebreakCol).as("__tb")))), 1, k).as("__top"))
      .select(col(keyCol), col("w.start").as("w_start"),
        posexplode(col("__top")).as(Seq("__i", "__e")))
      .select(col(keyCol), col("w_start"), (col("__i") + 1).cast("long").as("rank"),
        col("__e.__tb").as(tiebreakCol),
        (-col("__e.__neg").cast("double") / 100.0).as(valueCol))
  }

  /** Streaming windowed QUANTILE SKETCH per (key, window): each closed
    * window emits its deterministic log-histogram bins ((bid, count)
    * rows — the same two-significant-digit binning as the batch
    * `TimeSeries.quantileRollup`, ≤90 bins/decade, ≲5% relative error,
    * no log() so both engines bin identically). The streaming state per
    * open window is the bin histogram — O(bins), not O(rows) (the
    * sketch-tradeoff windowedTopK documents: exact top-k holds the
    * row list, a quantile sketch holds a bounded histogram), and the
    * emitted partials are MERGEABLE: a downstream consumer unions bins
    * and reads any quantile off the cumulative counts without touching
    * raw rows — the continuous percentile-dashboard shape at 100 TB.
    * Works on batch or streaming frames alike. Requires non-negative
    * values (raises on negative, like the batch rollup).
    */
  def quantileSketch(events: DataFrame, tsCol: String, keyCol: String,
                     valueCol: String, win: String, watermark: String): DataFrame = {
    val wm = if (events.isStreaming) events.withWatermark(tsCol, watermark) else events
    wm.withColumn("__c0", round(col(valueCol) * 100).cast("long"))
      .withColumn("__c", when(col("__c0") >= 0, col("__c0")).otherwise(expr(
        "CAST(raise_error('quantileSketch: needs non-negative values; " +
          "shift or split the series') AS BIGINT)")))
      .withColumn("__d", length(col("__c").cast("string")).cast("long"))
      .withColumn("__div",
        pow(lit(10.0), greatest(col("__d") - 2, lit(0L)).cast("double")).cast("long"))
      .withColumn("bid", col("__d") * 100 + expr("__c div __div"))
      .groupBy(window(col(tsCol), win).as("w"), col(keyCol), col("bid"))
      .agg(count(lit(1)).as("bn"))
      .select(col(keyCol), col("w.start").as("w_start"), col("bid"), col("bn"))
  }

  /** Streaming ROLLUP PARTIALS per (key, window): exact-integer
    * (n, Σcents, min, max) — the mergeable bottom level of a
    * materialized-rollup chain (the streaming half of
    * `ts_rollup_cascade`): a downstream batch query merges closed
    * windows to hour/day without ever rescanning raw rows, and because
    * the merge is associative the result is bit-equal to aggregating
    * the raw table directly. Works on batch or streaming frames alike.
    */
  def rollupPartials(events: DataFrame, tsCol: String, keyCol: String,
                     valueCol: String, win: String, watermark: String): DataFrame = {
    val wm = if (events.isStreaming) events.withWatermark(tsCol, watermark) else events
    wm.withColumn("__c", round(col(valueCol) * 100).cast("long"))
      .groupBy(window(col(tsCol), win).as("w"), col(keyCol))
      .agg(count(lit(1)).as("n"), sum("__c").as("sc"),
        min("__c").as("mn"), max("__c").as("mx"))
      .select(col(keyCol), col("w.start").as("w_start"),
        col("n"), col("sc"), col("mn"), col("mx"))
  }

  /** File-source streaming reader over a parquet directory (the lake's
    * landing zone at scale; a single file locally via pathGlobFilter).
    */
  def readEventsStream(spark: SparkSession, dir: String, glob: String,
                       schema: StructType): DataFrame =
    spark.readStream
      .schema(schema)
      .option("pathGlobFilter", glob)
      .parquet(dir)

  final case class LastPoint(user_id: Long, ts_us: Long, event_type: String, value: Double)

  /** Stateful latest-point cache per series — cnosdb's "last cache"
    * (get_last_data.slt) as mapGroupsWithState: state is one row per
    * key, updates are monotone max-by-time.
    */
  def streamingLastPoint(events: Dataset[LastPoint]): Dataset[LastPoint] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[LastPoint, LastPoint](GroupStateTimeout.NoTimeout) {
        (_, rows, state: GroupState[LastPoint]) =>
          val ord = Ordering[(Long, String)]
          val incoming = rows.maxBy(p => (p.ts_us, p.event_type))(ord)
          val best = state.getOption match {
            case Some(prev) if ord.gteq((prev.ts_us, prev.event_type),
              (incoming.ts_us, incoming.event_type)) => prev
            case _ => incoming
          }
          state.update(best)
          best
      }
  }

  /** Session-window aggregation per key (reference session_function;
    * Spark's native session_window works on batch AND streaming frames,
    * merging gap-bounded event runs into one window).
    */
  def sessionStats(events: DataFrame, tsCol: String, keyCol: String,
                   gap: String, watermark: String): DataFrame = {
    val wm = if (events.isStreaming) events.withWatermark(tsCol, watermark) else events
    wm.groupBy(session_window(col(tsCol), gap).as("w"), col(keyCol))
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
      .select(col(keyCol), col("w.start").as("w_start"), col("w.end").as("w_end"),
        col("n"), col("sum_value"))
  }

  final case class EwmaPoint(series: Long, ts_us: Long, event_id: Long, cents: Long)
  final case class EwmaState(lastTs: Long, lastId: Long, ewmaQ: Long, seeded: Boolean)
  final case class EwmaOut(series: Long, event_id: Long, ewma_q: Long)

  /** Streaming UNTRUNCATED exponential smoothing (α = 1/4) — the full
    * per-series recursion eₜ = (cₜ + 3·eₜ₋₁) quot 4 over exact integer
    * cents, seeded with the first sample. The quantization at each step keeps
    * the state a single integer, so the recursion is deterministic and
    * a SQL oracle replays it exactly with a recursive CTE — and state
    * crossing micro-batch boundaries is precisely what the batch lag
    * window (`TimeSeries.ewma`, truncated by design) cannot express:
    * this is the streaming half of the EWMA pair. O(series) state; late
    * rows at or before the held (ts, id) are dropped, matching the
    * other stateful lanes' watermark analogue.
    */
  def streamingEwma(points: Dataset[EwmaPoint]): Dataset[EwmaOut] = {
    import points.sparkSession.implicits._
    points.groupByKey(_.series)
      .flatMapGroupsWithState[EwmaState, EwmaOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (series, rows, state: GroupState[EwmaState]) =>
          var st = state.getOption.getOrElse(
            EwmaState(Long.MinValue, Long.MinValue, 0L, seeded = false))
          val out = rows.toSeq.sortBy(p => (p.ts_us, p.event_id)).flatMap { p =>
            val late = p.ts_us < st.lastTs ||
              (p.ts_us == st.lastTs && p.event_id <= st.lastId)
            if (late) None
            else {
              // truncating division (Java `/`), matching the oracle's
              // DuckDB `//` (which truncates toward zero on negatives)
              val e = if (!st.seeded) p.cents
                else (p.cents + 3 * st.ewmaQ) / 4L
              st = EwmaState(p.ts_us, p.event_id, e, seeded = true)
              Some(EwmaOut(series, p.event_id, e))
            }
          }
          state.update(st)
          out.iterator
      }
  }

  final case class CounterPoint(series: Long, ts_us: Long, value: Double)
  final case class IncreaseState(lastTs: Long, lastVal: Double, total: Double)
  final case class IncreaseOut(series: Long, ts_us: Long, increase: Double)

  /** Streaming counter `increase` with prometheus reset semantics
    * (reference increase.rs; function/common/increase.slt): per series,
    * each event emits the running increase — delta when the counter
    * rose, the raw value after a reset (counter dropped). State is one
    * (lastTs, lastVal, total) triple per series, so memory is O(series
    * cardinality) regardless of throughput; late rows older than the
    * held timestamp are ignored rather than corrupting the total.
    */
  def streamingIncrease(points: Dataset[CounterPoint]): Dataset[IncreaseOut] = {
    import points.sparkSession.implicits._
    points.groupByKey(_.series)
      .flatMapGroupsWithState[IncreaseState, IncreaseOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (series, rows, state: GroupState[IncreaseState]) =>
          var st = state.getOption.getOrElse(IncreaseState(Long.MinValue, Double.NaN, 0.0))
          val out = rows.toSeq.sortBy(_.ts_us).flatMap { p =>
            if (p.ts_us <= st.lastTs) None
            else {
              val delta =
                if (st.lastVal.isNaN) 0.0
                else if (p.value >= st.lastVal) p.value - st.lastVal
                else p.value // reset: counter restarted below the last sample
              st = IncreaseState(p.ts_us, p.value, st.total + delta)
              Some(IncreaseOut(series, p.ts_us, st.total))
            }
          }
          state.update(st)
          out.iterator
      }
  }

  final case class FunnelPoint(user_id: Long, ts_us: Long, step: Int)
  final case class FunnelState(level: Int, t: Long)
  final case class FunnelLevel(user_id: Long, level: Int)

  /** REAL-TIME ordered funnel — the streaming half of
    * [[graft.operators.EventAnalytics.funnel]]: per user, O(1) state
    * (current level + the earliest time it was reached); an event for
    * the NEXT step strictly after that time advances the level. Greedy
    * processing in event-time order computes exactly the batch
    * earliest-chain rule, and level is monotone, so the sink's max per
    * user equals the batch funnel whenever each user's events arrive in
    * ts order across batches (the staged replay's range-partition
    * guarantee; same-ts ties are immune — strict `>` rejects them in
    * any order). Emits the user's level each batch it changes state.
    */
  def streamingFunnel(points: Dataset[FunnelPoint], numSteps: Int): Dataset[FunnelLevel] = {
    import points.sparkSession.implicits._
    points.groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelLevel](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user, rows, state: GroupState[FunnelState]) =>
          var st = state.getOption.getOrElse(FunnelState(0, Long.MinValue))
          rows.toSeq.sortBy(p => (p.ts_us, p.step)).foreach { p =>
            if (st.level < numSteps && p.step == st.level
                && (st.level == 0 || p.ts_us > st.t))
              st = FunnelState(st.level + 1, p.ts_us)
          }
          state.update(st)
          Iterator.single(FunnelLevel(user, st.level))
      }
  }

  final case class GaugePoint(series: Long, ts_us: Long, value: Double)
  final case class GapfillState(lastBucket: Long, lastTs: Long, lastVal: Double)
  final case class FilledBucket(series: Long, bucket_us: Long, value: Double, filled: Boolean)

  /** Continuous downsampling WITH gap fill — the reference's stream
    * gapfill/locf pattern (stream/basic.slt continuous downsample +
    * gapfill.slt locf) as flatMapGroupsWithState: per series the state
    * carries (last emitted bucket, last observed value), so a gap that
    * spans micro-batch boundaries is filled with the value last seen in
    * an EARLIER batch — exactly what a stateless per-batch gapfill
    * cannot do. Memory is O(series), independent of throughput.
    *
    * Emission: one row per `bucketUs` bucket; observed buckets carry the
    * last sample in the bucket (`filled = false`), interior gap buckets
    * carry the carried-forward value (`filled = true`). Append mode
    * cannot retract, so when a later micro-batch lands in an
    * already-emitted bucket the row stands and only the locf state
    * advances; rows at or before the last observed ts are ignored (the
    * watermark analogue). `maxBucketsPerGap` is the same fail-fast
    * densification guard as batch gapfill — a sensor returning after a
    * year at 1 s buckets must error, not emit 3e7 rows.
    */
  def streamingGapfillLocf(points: Dataset[GaugePoint], bucketUs: Long,
                           maxBucketsPerGap: Long = 1000000L): Dataset[FilledBucket] = {
    import points.sparkSession.implicits._
    points.groupByKey(_.series)
      .flatMapGroupsWithState[GapfillState, FilledBucket](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (series, rows, state: GroupState[GapfillState]) =>
          val out = Vector.newBuilder[FilledBucket]
          var st = state.getOption.orNull
          // drop rows at or before the last observed ts (the watermark
          // analogue), then keep the LAST sample per bucket — collapse
          // is safe because the survivors are in strict ts order
          val perBucket = rows.toSeq.sortBy(_.ts_us)
            .filter(p => st == null || p.ts_us > st.lastTs)
            .map(p => (Math.floorDiv(p.ts_us, bucketUs) * bucketUs, p.ts_us, p.value))
            .foldLeft(Vector.empty[(Long, Long, Double)]) { case (acc, r) =>
              if (acc.nonEmpty && acc.last._1 == r._1) acc.init :+ r else acc :+ r
            }
          perBucket.foreach { case (b, ts, v) =>
            if (st == null) {
              out += FilledBucket(series, b, v, filled = false)
            } else if (b > st.lastBucket) {
              val gaps = (b - st.lastBucket) / bucketUs - 1
              if (gaps > maxBucketsPerGap)
                throw new IllegalStateException(
                  s"streamingGapfillLocf: series $series gap of $gaps buckets exceeds " +
                    s"maxBucketsPerGap=$maxBucketsPerGap — widen the bucket or raise the cap")
              var g = st.lastBucket + bucketUs
              while (g < b) { out += FilledBucket(series, g, st.lastVal, filled = true); g += bucketUs }
              out += FilledBucket(series, b, v, filled = false)
            } // b == lastBucket (later batch): row already emitted, locf advances
            st = GapfillState(b, ts, v)
          }
          if (st != null) state.update(st)
          out.result().iterator
      }
  }

  final case class InterpBucket(series: Long, bucket_us: Long, value: Double, filled: Boolean)

  /** Continuous downsample with LINEAR interpolation — the streaming
    * counterpart of `time_window_gapfill + interpolate()` (reference
    * gapfill.rs/interpolate.rs), completing the locf/interpolate pair
    * on the stream side. Interpolation needs a gap's RIGHT endpoint, so
    * gap rows are deferred until the sample that closes the gap arrives
    * — possibly micro-batches later; the per-series state is the same
    * O(1) (lastBucket, lastTs, lastVal) tuple as locf, and a gap
    * spanning K batch boundaries emits all its interior buckets in the
    * batch that closes it. Interpolated values are `vp + (vn-vp)·frac`
    * with frac a quotient of exact bucket longs — one fixed IEEE op
    * order, so a SQL replay reproduces them bit-for-bit. Same
    * `maxBucketsPerGap` fail-fast densification guard as locf.
    */
  def streamingGapfillInterpolate(points: Dataset[GaugePoint], bucketUs: Long,
                                  maxBucketsPerGap: Long = 1000000L): Dataset[InterpBucket] = {
    import points.sparkSession.implicits._
    points.groupByKey(_.series)
      .flatMapGroupsWithState[GapfillState, InterpBucket](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (series, rows, state: GroupState[GapfillState]) =>
          val out = Vector.newBuilder[InterpBucket]
          var st = state.getOption.orNull
          val perBucket = rows.toSeq.sortBy(_.ts_us)
            .filter(p => st == null || p.ts_us > st.lastTs)
            .map(p => (Math.floorDiv(p.ts_us, bucketUs) * bucketUs, p.ts_us, p.value))
            .foldLeft(Vector.empty[(Long, Long, Double)]) { case (acc, r) =>
              if (acc.nonEmpty && acc.last._1 == r._1) acc.init :+ r else acc :+ r
            }
          perBucket.foreach { case (b, ts, v) =>
            if (st == null) {
              out += InterpBucket(series, b, v, filled = false)
            } else if (b > st.lastBucket) {
              val gaps = (b - st.lastBucket) / bucketUs - 1
              if (gaps > maxBucketsPerGap)
                throw new IllegalStateException(
                  s"streamingGapfillInterpolate: series $series gap of $gaps buckets " +
                    s"exceeds maxBucketsPerGap=$maxBucketsPerGap — widen the bucket or " +
                    "raise the cap")
              var g = st.lastBucket + bucketUs
              while (g < b) {
                val frac = (g - st.lastBucket).toDouble / (b - st.lastBucket).toDouble
                out += InterpBucket(series, g,
                  st.lastVal + (v - st.lastVal) * frac, filled = true)
                g += bucketUs
              }
              out += InterpBucket(series, b, v, filled = false)
            }
            st = GapfillState(b, ts, v)
          }
          if (st != null) state.update(st)
          out.result().iterator
      }
  }

  /** Streaming exact dedup for a document ingest lane: first occurrence
    * of each content hash survives; `dropDuplicatesWithinWatermark`
    * bounds the dedup state by the watermark horizon, so memory is
    * O(docs-per-horizon), not O(corpus) — the streaming analogue of the
    * batch md5-groupBy exact dedup (Dedup.exactDupGroups). The same
    * call runs on batch frames via plain dropDuplicates.
    */
  def streamingExactDedup(docs: DataFrame, tsCol: String, textCol: String,
                          watermark: String): DataFrame = {
    val hashed = docs.withColumn("__h", md5(col(textCol)))
    val deduped =
      if (hashed.isStreaming)
        hashed.withWatermark(tsCol, watermark).dropDuplicatesWithinWatermark("__h")
      else hashed.dropDuplicates("__h")
    deduped.drop("__h")
  }

  final case class BandCollision(doc_id: Long, band: Int, first_id: Long, is_dup: Boolean)

  /** Streaming NEAR-dup detection for a document ingest lane — the
    * streaming analogue of MinHash+LSH banding (batch:
    * Dedup.minHashNearDups): each doc's minhash signature is a pure
    * mapper (native `minhash_sig` kernel works on streaming frames —
    * it is just a projection), band hashes explode from it, and a
    * stateful pass per (band, band_hash) bucket remembers the FIRST
    * doc that claimed the bucket. A later doc colliding in any band
    * emits `is_dup = true` with the original's id — the LSH candidate
    * semantics, continuously. Downstream either drops flagged docs
    * (aggressive) or routes them to a batch confirm join (exact
    * jaccard), mirroring the batch confirm stage.
    *
    * State is one (first doc id) per DISTINCT bucket seen, with NO
    * timeout — correct for a bounded replay (never silently forgets
    * within the run), unbounded growth on a production stream. For the
    * latter use [[streamingNearDupFlagsBounded]], which expires each
    * bucket's claim a TTL past its newest claim via event-time
    * timeout.
    */
  def streamingNearDupFlags(docs: DataFrame, idCol: String, textCol: String,
                            numHashes: Int = 8, bands: Int = 2): Dataset[BandCollision] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sig = graft.operators.Dedup.minhashSignature(
      docs.select(col(idCol), col(textCol)), idCol, textCol, numHashes)
    val bandHashes = graft.operators.Dedup.lshBandHashes(sig, idCol, numHashes, bands)
      .select(col(idCol).cast("long").as("doc_id"), col("band").cast("int").as("band"),
        col("band_hash"))
      .as[(Long, Int, String)]
    bandHashes.groupByKey { case (_, band, h) => (band, h) }
      .flatMapGroupsWithState[Long, BandCollision](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case ((band, _), rows, state: GroupState[Long]) =>
          val sorted = rows.map(_._1).toSeq.sorted
          val first = state.getOption.getOrElse(sorted.head)
          if (!state.exists) state.update(first)
          sorted.iterator.map(id => BandCollision(id, band, first, id != first))
      }
  }

  /** Watermark-bounded [[streamingNearDupFlags]] — the production
    * default for an UNBOUNDED ingest stream, where the timeout-free
    * overload's one-state-entry-per-distinct-bucket grows without
    * limit. Each bucket's claim expires `stateTtlMs` after its newest
    * claim's event time (event-time timeout against the `watermark`ed
    * `tsCol`), so live state is O(buckets touched within the horizon):
    * the sliding dedup-horizon semantics real pipelines want, since
    * near-dups are overwhelmingly temporally clustered (scrapes,
    * reposts, boilerplate bursts). A doc colliding with an EXPIRED
    * bucket re-claims it as first — by design, dedup "forgets" content
    * older than the horizon. Keep the timeout-free overload for
    * bounded replays where never-forget-within-the-run is the
    * contract.
    */
  def streamingNearDupFlagsBounded(docs: DataFrame, idCol: String, textCol: String,
                                   tsCol: String, watermark: String,
                                   stateTtlMs: Long,
                                   numHashes: Int = 8, bands: Int = 2): Dataset[BandCollision] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val rows = numHashes / bands
    // the signature + band hashes inline (same kernels as the batch
    // Dedup pipeline) so the watermarked event-time column rides along
    val sig = docs
      .select(col(idCol).cast("long").as("doc_id"),
        col(tsCol).cast("timestamp").as("__ts"), col(textCol).as("__text"))
      .withWatermark("__ts", watermark)
      // pre-filter on the kernel's exact null condition (< 3 tokens)
      // instead of its output: the pushed output-null filter evaluated
      // the kernel twice per row (the minhashSignature lesson)
      .filter(col("__text").isNotNull &&
        size(split(col("__text"), " ", -1)) >= 3)
      .withColumn("__sig", Native.call("minhash_sig", col("__text"), lit(numHashes)))
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        md5(concat_ws("|",
          (0 until rows).map(i => element_at(col("__sig"), b * rows + i + 1)): _*))
          .as("band_hash"))
    }
    val bh = sig.select(col("doc_id"), col("__ts"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("__ts"), col("bb.band").as("band"),
        col("bb.band_hash").as("band_hash"))
      .as[(Long, java.sql.Timestamp, Int, String)]
    // state = (first claimant id, expiry epoch-ms); expiry only moves
    // FORWARD (max with the stored value) so a timer already set is
    // never pulled behind the current watermark
    bh.groupByKey { case (_, _, band, h) => (band, h) }
      .flatMapGroupsWithState[(Long, Long), BandCollision](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case ((band, _), rows, state: GroupState[(Long, Long)]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val rs = rows.toSeq
            val sorted = rs.map(_._1).sorted
            val newest = rs.map(_._2.getTime).max
            val (first, prevExpire) = state.getOption.getOrElse((sorted.head, 0L))
            val expire = math.max(prevExpire, newest + stateTtlMs)
            state.update((first, expire))
            state.setTimeoutTimestamp(expire)
            sorted.iterator.map(id => BandCollision(id, band, first, id != first))
          }
      }
  }

  /** Streaming anomaly flags: incoming points scored against STATIC
    * per-series baselines (n, Σcents, Σcents² from a batch pass over
    * the lake — the production pattern: train on history, score the
    * stream). The static side joins as a broadcast into every
    * micro-batch, so scoring is stateless and mapper-only; the flag
    * uses the same division-free exact-integer test as the batch
    * `TimeSeries.anomalyZscore`, so a point flags identically online
    * and offline (no train/serve skew).
    */
  def streamingAnomalyFlags(points: DataFrame, baselines: DataFrame,
                            keyCol: String, valueCol: String,
                            k: Int = 3): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val cents = round(col(valueCol) * 100).cast("long")
    val num = dec(cents) * dec(col("__n")) - col("__s")
    val varNum = dec(col("__n")) * col("__q") - col("__s") * col("__s")
    points.join(broadcast(baselines), keyCol)
      .withColumn("is_outlier",
        when(varNum > 0, num * num > lit(k * k) * varNum).otherwise(lit(false)))
      .drop("__n", "__s", "__q")
  }

  /** The batch side of [[streamingAnomalyFlags]]: per-series (n, S, Q)
    * baselines from the historical lake.
    */
  def anomalyBaselines(history: DataFrame, keyCol: String,
                       valueCol: String): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val cents = round(col(valueCol) * 100).cast("long")
    history.groupBy(col(keyCol))
      .agg(count(lit(1)).as("__n"), sum(dec(cents)).as("__s"),
        sum(dec(cents) * dec(cents)).as("__q"))
  }

  /** Continuous ingest pipeline: stream → windowed stats → sink.
    * `memory` sink + processAllAvailable in tests; `parquet` +
    * checkpointLocation in production.
    */
  def startWindowedIngest(stream: DataFrame, tsCol: String, keyCol: String,
                          window: String, watermark: String,
                          queryName: String): org.apache.spark.sql.streaming.StreamingQuery =
    windowedStats(stream, tsCol, keyCol, window, watermark)
      .writeStream
      .outputMode(OutputMode.Append)
      .format("memory")
      .queryName(queryName)
      .start()
}
