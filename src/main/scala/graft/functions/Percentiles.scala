package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Weighted percentile — the reference's
  * `approx_percentile_cont_with_weight` surface (tested in
  * query_server/sqllogicaltests/cases/function/common/approx_agg/
  * approx_percentile_cont_with_weight.slt).
  *
  * This is the EXACT formulation (cumulative weight threshold over the
  * (value, tiebreak) order), so it ships with a DuckDB oracle; the
  * reference's t-digest sketch is an approximation of exactly this
  * quantity.
  *
  * r15: the cumulative sum is a DISTRIBUTED prefix sum (the
  * tokenBudgetMix shape, Sampling.scala): the r14 form ran one window
  * per GROUP, so a 3-key grouping sorted the whole fact table in 3
  * tasks whatever the cluster size — the one group-count-bounded plan
  * left in the suite. Rows now range-shard on the value within each
  * group (equal values share a shard, so per-shard (value, tiebreak)
  * order + shard order IS the global order), a tiny (groups × shards)
  * aggregate turns into exclusive shard offsets, and the in-order
  * cumsum runs per (group, shard) with the broadcast offset added
  * back — parallelism groups × shards instead of groups, at the cost
  * of one extra cheap pass for the per-group value range. Exactness:
  * bit-identical to the single-window form whenever weights are
  * integer-valued (every partial sum is an integer below 2^53 — the
  * lineitem quantity weights of the bench lane, the slt's weights);
  * fractional weights may differ by float-association ulps in the
  * THRESHOLD comparison only (the reported value is always an actual
  * data value, never interpolated) — the shard-invariance spec pins
  * the fixture cases.
  */
object Percentiles {

  /** For each group, the smallest value whose cumulative weight reaches
    * q·Σweight, for every requested (label, q). Deterministic via the
    * tiebreak column; rows with null value or weight are excluded
    * (matching SQL aggregate null-skipping).
    */
  def weightedPercentile(df: DataFrame, groupCols: Seq[String], valueCol: Column,
                         weightCol: Column, tiebreak: Column,
                         qs: Seq[(String, Double)],
                         shards: Int = 256): DataFrame = {
    require(qs.nonEmpty && qs.forall { case (_, q) => q > 0 && q <= 1 },
      s"quantiles must be in (0, 1], got ${qs.map(_._2)}")
    require(shards > 0 && shards <= 65536, s"shards must be in [1, 65536], got $shards")
    val g = groupCols.map(col)
    val base = df
      .filter(valueCol.isNotNull && weightCol.isNotNull)
      .select(g ++ Seq(valueCol.as("__v"), weightCol.cast("double").as("__w"),
        tiebreak.as("__tb")): _*)
    // per-group value range: one map-side-combined aggregate, groups
    // rows — broadcast back so the shard id is a pure projection
    val rng = base.groupBy(g: _*).agg(min("__v").as("__lo"), max("__v").as("__hi"))
    // ⌊(v-lo)·shards/(hi-lo)⌋ clamped to [0, shards): contiguous and
    // monotone in v (equal values share a shard). Degenerate range
    // (hi == lo, single row, all-equal group) and NaN (sorts HIGH in
    // Spark's ordering) pin to the last shard.
    // NOTE: the sharded frame feeds BOTH the offsets aggregate and the
    // final cumsum join, and Catalyst clones the subplan per branch —
    // the fact table is scanned 4× (2 branches × (base + range)). A
    // tokenBudgetMix-style Materialize boundary here measured SLOWER
    // at sf0.1 AND sf1 (1.5→1.7 s / 3.2→4.0 s warm): materializing the
    // full-width sharded rows costs more than re-running cheap columnar
    // scans + a map-side-combined min/max. Scans are the cheap, fully
    // parallel part; the r15 win is removing the group-count-bounded
    // sort (r15 negative result, kept unmaterialized).
    val sharded = base.join(broadcast(rng), groupCols)
      .withColumn("__shard",
        when(col("__hi") <= col("__lo") || isnan(col("__v")), lit(shards - 1))
          .otherwise(least(greatest(
            floor((col("__v") - col("__lo")) / (col("__hi") - col("__lo"))
              * shards).cast("int"), lit(0)), lit(shards - 1))))
    // exclusive per-shard offsets + the group total, windowed over the
    // tiny (groups × shards) aggregate only
    val wOff = Window.partitionBy(g: _*).orderBy(col("__shard"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = sharded.groupBy((g :+ col("__shard")): _*)
      .agg(sum("__w").as("__sm"))
      .withColumn("__off", coalesce(sum("__sm").over(wOff), lit(0.0)))
      .withColumn("__tot", sum("__sm").over(Window.partitionBy(g: _*)))
      .select(g ++ Seq(col("__shard"), col("__off"), col("__tot")): _*)
    val wIn = Window.partitionBy((g :+ col("__shard")): _*)
      .orderBy(col("__v"), col("__tb"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = sharded.join(broadcast(offsets), groupCols :+ "__shard")
      .withColumn("__cum", sum("__w").over(wIn) + col("__off"))
    val aggs = qs.map { case (label, q) =>
      min(when(col("__cum") >= lit(q) * col("__tot"), col("__v"))).as(label)
    }
    cum.groupBy(g: _*).agg(aggs.head, aggs.tail: _*)
  }
}
