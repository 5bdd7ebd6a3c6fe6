package graft.functions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Materialize

/** IoTDB-style data-quality metrics — completeness, consistency,
  * timeliness, validity — over a (time, value) series, matching cnosdb's
  * data_quality UDAFs (reference
  * query_server/query/src/extension/expr/aggregate_function/data_quality/
  * common.rs:40-215; validated against
  * sqllogicaltests/cases/function/data_quality.slt).
  *
  * The algorithm needs the whole (sorted) series — median/MAD outlier
  * counts and a windowed timestamp-anomaly scan — so it cannot be a
  * streaming aggregate. Distributed shape: one `collect_list` per series
  * group (a series fits an executor by definition in the reference too,
  * whose accumulator gathers the same arrays), then a scalar pass.
  */
object DataQuality {

  final case class Metrics(completeness: Double, consistency: Double,
                           timeliness: Double, validity: Double)

  private def median(xs: Seq[Double]): Double = {
    if (xs.length == 1) return xs.head
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 0) (s(n / 2 - 1) + s(n / 2)) / 2.0 else s(n / 2)
  }

  private def mad(xs: Seq[Double]): Double = {
    val mid = median(xs)
    1.4826 * median(xs.map(v => math.abs(v - mid)))
  }

  private def outliers(xs: Seq[Double], k: Double): Int = {
    if (xs.isEmpty) return 0
    val mid = median(xs)
    val sigma = mad(xs)
    xs.count(v => math.abs(v - mid) > k * sigma)
  }

  /** Returns None when fewer than two finite values exist (the reference
    * raises "At least two non-NaN values are needed").
    */
  def compute(times: Array[Double], values0: Array[Double]): Option[Metrics] = {
    val n = times.length
    if (n == 0) return None
    val values = new Array[Double](n)
    var specialcnt = 0
    var i = 0
    while (i < n) {
      if (java.lang.Double.isFinite(values0(i))) values(i) = values0(i)
      else { values(i) = Double.NaN; specialcnt += 1 }
      i += 1
    }

    // NaN repair: linear interpolation between finite neighbours,
    // extrapolation from the last finite pair at the edges.
    var index1 = 0
    while (index1 < n && values(index1).isNaN) index1 += 1
    var index2 = index1 + 1
    while (index2 < n && values(index2).isNaN) index2 += 1
    if (index2 >= n) return None
    def interp(i: Int, a: Int, b: Int): Double =
      values(a) + (values(b) - values(a)) * ((times(i) - times(a)) / (times(b) - times(a)))
    i = 0
    while (i < index2) { values(i) = interp(i, index1, index2); i += 1 }
    i = index2 + 1
    while (i < n) {
      if (!values(i).isNaN) {
        index1 = index2; index2 = i
        var j = index1 + 1
        while (j < index2) { values(j) = interp(j, index1, index2); j += 1 }
      }
      i += 1
    }
    i = index2 + 1
    while (i < n) { values(i) = interp(i, index1, index2); i += 1 }

    // Timestamp anomaly scan (miss / late / redundancy) over a sliding
    // 10-wide window against the median interval.
    val WindowSize = 10
    var misscnt = 0; var latecnt = 0; var redundancycnt = 0
    if (n >= 2) {
      val intervals = Array.tabulate(n - 1)(k => times(k + 1) - times(k))
      val base = median(intervals.toIndexedSeq)
      val window = ArrayBuffer.empty[Double]
      var next = 0
      while (next < math.min(WindowSize, n)) { window += times(next); next += 1 }
      while (window.length > 1) {
        val ratio = (window(1) - window(0)) / base
        if (ratio <= 0.5) {
          window.remove(1)
          redundancycnt += 1
        } else if (ratio >= 2.0 && ratio <= 9.0) {
          var temp = 0
          var j = 2
          var break = false
          while (!break && j < window.length) {
            val ratio2 = (window(j) - window(j - 1)) / base
            if (ratio2 >= 2.0) break = true
            else {
              if (ratio2 <= 0.5) {
                temp += 1
                window.remove(j)
                j -= 1
                if (temp == math.round(ratio - 1.0).toInt) break = true
              }
              j += 1
            }
          }
          latecnt += temp
          misscnt += math.round(ratio - 1.0).toInt - temp
        }
        window.remove(0)
        while (window.length < WindowSize && next < n) { window += times(next); next += 1 }
      }
    }

    // Value anomaly counts: k=3 median/MAD outliers on values, first
    // differences, speeds and speed changes.
    val k = 3.0
    val valuecnt = outliers(values.toIndexedSeq, k)
    val variation = Array.tabulate(n - 1)(j => values(j + 1) - values(j))
    val variationcnt = outliers(variation.toIndexedSeq, k)
    val speed = Array.tabulate(n - 1)(j => (values(j + 1) - values(j)) / (times(j + 1) - times(j)))
    val speedcnt = outliers(speed.toIndexedSeq, k)
    val speedchange =
      if (speed.length > 1) Array.tabulate(speed.length - 1)(j => speed(j + 1) - speed(j))
      else Array.empty[Double]
    val speedchangecnt = outliers(speedchange.toIndexedSeq, k)

    val cnt = n
    Some(Metrics(
      completeness = 1.0 - (misscnt + specialcnt).toDouble / (cnt + misscnt),
      consistency = 1.0 - redundancycnt.toDouble / cnt,
      timeliness = 1.0 - latecnt.toDouble / cnt,
      validity = 1.0 - 0.25 * (valuecnt + variationcnt + speedcnt + speedchangecnt) / cnt))
  }

  private val metricsUdf = udf { series: Seq[org.apache.spark.sql.Row] =>
    SeriesGuard.check(series.length, "data_quality")
    val times = series.map(_.getDouble(0)).toArray
    val values = series.map(_.getDouble(1)).toArray
    compute(times, values).map(m => (m.completeness, m.consistency, m.timeliness, m.validity))
  }

  /** DataFrame form: one row per group with the four quality metrics. */
  /** Distributed median/MAD outlier detection per series — the
    * data-quality validity kernel (median ± k·1.4826·MAD, reference
    * common.rs outlier counting) as a standalone queryable operator,
    * but FULLY distributed: two partial-aggregable percentile passes
    * (median, then median absolute deviation) joined back broadcast —
    * no per-series collect, so one giant series cannot OOM an executor
    * the way the whole-series metrics aggregate could.
    *
    * Engine-exact across oracles: values are quantized to integer
    * cents first, so every median (exact .5-grid interpolation on
    * integers) and deviation is a small dyadic rational — bit-identical
    * in any IEEE engine regardless of the engine's interpolation
    * spelling.
    */
  def madOutliers(df: DataFrame, groupCols: Seq[String], valueCol: String,
                  k: Double = 3.0): DataFrame = {
    val vc = round(col(valueCol) * 100).cast("long")
    val base = df.select(groupCols.map(col) :+ vc.as("__vc"): _*)
    val med = base.groupBy(groupCols.map(col): _*)
      .agg(expr("percentile(__vc, 0.5)").as("__mc"))
    val dev = base.join(broadcast(med), groupCols)
      .withColumn("__dev", abs(col("__vc") - col("__mc")))
    val madDf = dev.groupBy(groupCols.map(col): _*)
      .agg(expr("percentile(__dev, 0.5)").as("__madc"))
    dev.join(broadcast(madDf), groupCols)
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        count(when(col("__dev") > lit(k) * lit(1.4826) * col("__madc"), 1))
          .as("n_outliers"),
        (first(col("__mc")) / 100.0).as("median_v"),
        (first(col("__madc")) / 100.0).as("mad_v"))
  }

  /** Weighted median with Spark/DuckDB `percentile`/`median`
    * interpolation semantics (linear at rank 0.5·(n−1)) over a
    * VALUE-SORTED histogram — every input here is integer cents, so
    * the result is a dyadic rational, bit-identical across engines.
    */
  private def histMedian(sorted: IndexedSeq[(Double, Long)]): Double = {
    val n = sorted.iterator.map(_._2).sum
    val pos = 0.5 * (n - 1)
    val lo = pos.toLong
    def at(rank: Long): Double = {
      var c = 0L
      var i = 0
      while (i < sorted.length) { c += sorted(i)._2; if (rank < c) return sorted(i)._1; i += 1 }
      sorted.last._1
    }
    val a = at(lo)
    if (pos == lo) a else { val b = at(lo + 1); a + (b - a) * 0.5 }
  }

  private val madHistUdf = udf { (hist: Seq[org.apache.spark.sql.Row], k: Double) =>
    val h = hist.map(r => (r.getLong(0).toDouble, r.getLong(1))).toIndexedSeq
    val n = h.iterator.map(_._2).sum
    val med = histMedian(h)
    val devH = h.map { case (v, c) => (math.abs(v - med), c) }
      .groupBy(_._1).map { case (d, xs) => (d, xs.iterator.map(_._2).sum) }
      .toIndexedSeq.sortBy(_._1)
    val mad = histMedian(devH)
    val out = devH.iterator.filter(_._1 > k * 1.4826 * mad).map(_._2).sum
    (n, out, med / 100.0, mad / 100.0)
  }

  /** [[madOutliers]] in ONE raw scan: because values are quantized to
    * integer cents, the per-group value HISTOGRAM (≤ one row per
    * distinct cent value) is a sufficient statistic for the median,
    * the MAD, and the outlier count — so the raw table is read once
    * and aggregated once, vs the three scan+join passes of the
    * streaming-friendly variant (at 100 TB: a 3× IO reduction). The
    * histogram rows are bounded by the value DOMAIN, not the row
    * count; for genuinely unbounded-cardinality values use
    * [[madOutliers]]. Results are identical (equality spec-pinned).
    */
  def madOutliersCompact(df: DataFrame, groupCols: Seq[String], valueCol: String,
                         k: Double = 3.0): DataFrame = {
    val g = groupCols.map(col)
    val vc = round(col(valueCol) * 100).cast("long")
    df.select(g :+ vc.as("__vc"): _*)
      .groupBy(g :+ col("__vc"): _*).agg(count(lit(1)).as("__cnt"))
      .groupBy(g: _*)
      .agg(sort_array(collect_list(struct(col("__vc"), col("__cnt")))).as("__h"))
      .withColumn("__r", madHistUdf(col("__h"), lit(k)))
      .select(g ++ Seq(col("__r._1").as("n"), col("__r._2").as("n_outliers"),
        col("__r._3").as("median_v"), col("__r._4").as("mad_v")): _*)
  }

  /** The VALIDITY half of [[dataQuality]] as a fully distributed
    * pipeline — no per-series collect, so one giant series cannot OOM an
    * executor the way the whole-series metrics aggregate could. Exactly
    * the reference's value-anomaly semantics (common.rs: NaN linear
    * repair on TIME with edge extrapolation from the first/last finite
    * pair, then k=3 median/MAD outlier counts over the repaired values,
    * their first differences, speeds, and speed changes;
    * validity = 1 − 0.25·Σcounts/n).
    *
    * Engine-exact by construction: every median is POSITIONAL (avg of
    * the one-or-two middle order statistics — never an engine's
    * quantile interpolation), interpolations are deterministic per-row
    * arithmetic, and the MAD product keeps the reference's association
    * (sigma = 1.4826·med first, then k·sigma) — so a DuckDB oracle
    * reproduces every double bit-for-bit, which the driver lane
    * (`ts_validity`) exploits. Equality with the sequential
    * [[dataQuality]] aggregate is spec-pinned.
    *
    * 100 TB shape: the four anomaly series go through ONE shared
    * outlier kernel as a tall (group, kind, x) frame — two positional-
    * median rounds (each: one sort-window + one tiny grouped avg joined
    * back broadcast-style) and a final count; all shuffles key on
    * (group, kind).
    */
  def validityStats(df: DataFrame, tsCol: Column, valueCol: Column,
                    groupCols: Seq[String], k: Double = 3.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = groupCols.map(col)
    val gn = groupCols
    val w = Window.partitionBy(g: _*).orderBy(col("__t"))
    val wPrev = w.rowsBetween(Window.unboundedPreceding, -1)
    val wNext = w.rowsBetween(1, Window.unboundedFollowing)
    val wAll = Window.partitionBy(g: _*)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)

    val base = df.select(g ++ Seq(tsCol.cast("double").as("__t"),
      valueCol.cast("double").as("__v0")): _*)
      .withColumn("__v", when(col("__v0").isNaN || col("__v0") === Double.PositiveInfinity
        || col("__v0") === Double.NegativeInfinity, lit(null)).otherwise(col("__v0")))

    // prev/next finite neighbour plus the series' first/last finite PAIR
    // (edge rows interpolate/extrapolate from the pair, mid rows from
    // their neighbours) — reference common.rs NaN repair.
    val fin = when(col("__v").isNotNull, struct(col("__t"), col("__v")))
    val n1 = base
      .withColumn("__p", last(fin, ignoreNulls = true).over(wPrev))
      .withColumn("__x", first(fin, ignoreNulls = true).over(wNext))
      // materialized: both the per-group endpoint aggregate and the
      // repair join below consume this windowed frame
      .transform(Materialize)
    // first two / last two finite samples as per-group scalars
    val firsts = n1.filter(col("__v").isNotNull)
      .withColumn("__r", row_number().over(w))
      .withColumn("__rn", count(lit(1)).over(wAll))
      .filter(col("__r") <= 2 || col("__r") >= col("__rn") - 1)
      .groupBy(g: _*)
      .agg(
        min(when(col("__r") === 1, struct(col("__t"), col("__v")))).as("__f1"),
        min(when(col("__r") === 2, struct(col("__t"), col("__v")))).as("__f2"),
        min(when(col("__r") === col("__rn") - 1, struct(col("__t"), col("__v")))).as("__l1"),
        min(when(col("__r") === col("__rn"), struct(col("__t"), col("__v")))).as("__l2"))
    def interp(t: Column, a: Column, b: Column): Column =
      a("__v") + (b("__v") - a("__v")) * ((t - a("__t")) / (b("__t") - a("__t")))
    val repaired = n1.join(firsts, gn)
      .withColumn("__rv",
        when(col("__v").isNotNull, col("__v"))
          .when(col("__p").isNull, interp(col("__t"), col("__f1"), col("__f2")))
          .when(col("__x").isNull, interp(col("__t"), col("__l1"), col("__l2")))
          .otherwise(interp(col("__t"), col("__p"), col("__x"))))
      .select(g ++ Seq(col("__t"), col("__rv")): _*)

    // tall (group, kind, x) frame: repaired values, first differences,
    // speeds, speed changes — one shared outlier kernel for all four.
    // Built as ONE projection + explode, NOT four unions: Spark clones
    // a re-referenced subplan per reference (SURVEY §5 r9 rule), so the
    // union form executed the whole repair chain (two whole-series
    // windows + the first/last-pair aggregate + join) four times, and
    // the median/MAD consumers below re-cloned that ×3 again. The
    // explode emits the same rows from a single chain (null filters
    // mirror the per-kind filters: val rows always kept, the derived
    // kinds exactly when their lag-difference exists), and the
    // 4-rows-per-sample frame is materialized so the three
    // median/deviation consumers re-read it instead of re-deriving it.
    // 5.0 → 1.2 s warm at sf0.1 in the full-suite bench (the residual is
    // the two whole-series windows + four per-kind median sorts, all
    // genuinely needed).
    val lagV = lag(col("__rv"), 1).over(w)
    val lagT = lag(col("__t"), 1).over(w)
    val tall = repaired
      .withColumn("__d", col("__rv") - lagV)
      .withColumn("__s", (col("__rv") - lagV) / (col("__t") - lagT))
      .withColumn("__sc", col("__s") - lag(col("__s"), 1).over(w))
      .select(g ++ Seq(explode(array(
        struct(lit("val").as("k"), col("__rv").as("x")),
        struct(lit("var").as("k"), col("__d").as("x")),
        struct(lit("spd").as("k"), col("__s").as("x")),
        struct(lit("sch").as("k"), col("__sc").as("x")))).as("__e")): _*)
      .filter(col("__e.k") === "val" || col("__e.x").isNotNull)
      .select(g ++ Seq(col("__e.k").as("__kind"), col("__e.x").as("__x")): _*)
      .transform(Materialize)

    // positional median per (group, kind): avg of the middle one or two
    // order statistics — the Scala med() spelling, engine-portable.
    val gk = g :+ col("__kind")
    val gkn = gn :+ "__kind"
    def medOf(frame: DataFrame, xCol: String, out: String): DataFrame = {
      val wx = Window.partitionBy(gk: _*).orderBy(col(xCol))
      frame
        .withColumn("__rx", row_number().over(wx))
        .withColumn("__cnt", count(lit(1)).over(Window.partitionBy(gk: _*)))
        // integer middle ranks: Spark's `/` on longs is double division
        .filter(col("__rx") === floor((col("__cnt") + 1) / 2)
          || col("__rx") === floor((col("__cnt") + 2) / 2))
        .groupBy(gk: _*).agg(avg(col(xCol)).as(out))
    }
    val med1 = medOf(tall, "__x", "__med")
    val dev = tall.join(med1, gkn)
      .withColumn("__dev", abs(col("__x") - col("__med")))
    val mad = medOf(dev, "__dev", "__meddev")
      .withColumn("__sigma", lit(1.4826) * col("__meddev"))
    val counts = dev.join(mad, gkn)
      .groupBy(gk: _*)
      .agg(count(when(col("__dev") > lit(k) * col("__sigma"), 1)).as("__out"))
      .groupBy(g: _*)
      .pivot("__kind", Seq("val", "var", "spd", "sch"))
      .agg(first(col("__out")))
    val n = base.groupBy(g: _*).agg(count(lit(1)).as("n"))
    val cVal = coalesce(col("val"), lit(0L))
    val cVar = coalesce(col("var"), lit(0L))
    val cSpd = coalesce(col("spd"), lit(0L))
    val cSch = coalesce(col("sch"), lit(0L))
    n.join(counts, gn)
      .select(g ++ Seq(col("n"),
        cVal.as("n_value_outliers"),
        cVar.as("n_variation_outliers"),
        cSpd.as("n_speed_outliers"),
        cSch.as("n_speedchange_outliers"),
        round(lit(1.0) - lit(0.25) * (cVal + cVar + cSpd + cSch)
          / col("n"), 8).as("validity")): _*)
  }

  def dataQuality(df: DataFrame, tsCol: Column, valueCol: Column,
                  groupCols: Seq[String]): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(sort_array(collect_list(struct(tsCol.cast("double").as("t"),
        valueCol.cast("double").as("v")))).as("__series"))
      .withColumn("__m", metricsUdf(col("__series")))
      .select(groupCols.map(col) ++ Seq(
        round(col("__m._1"), 8).as("completeness"),
        round(col("__m._2"), 8).as("consistency"),
        round(col("__m._3"), 8).as("timeliness"),
        round(col("__m._4"), 8).as("validity")): _*)
}
