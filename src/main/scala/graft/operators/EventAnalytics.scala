package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Materialize

/** Product/event-analytics rollups over the time-series event stream —
  * the ClickHouse `retention`/`windowFunnel` class of operators a
  * metrics engine grows once events carry user ids (the reference's
  * events schema: cf. tskv tag columns). All counts are exact integers;
  * no floats anywhere, so lanes hash-check with no quantization.
  */
object EventAnalytics {

  /** Cohort retention: users grouped by their FIRST-seen day; for each
    * cohort, how many came back exactly `offsets` days later. Output:
    * one row per cohort day with n_users + one count per offset.
    *
    * 100 TB shape: the (user, day) activity set is ONE distinct
    * aggregate (shuffle keyed on user+day, partial-aggregable); first-
    * seen is a min over it keyed on user; the offset matrix is a single
    * conditional-count aggregate over the joined activity — user-keyed
    * equijoin, no window, no cross product. Cohort cardinality = days,
    * so the result is tiny however large the corpus.
    */
  def retention(df: DataFrame, userCol: String, tsCol: String,
                offsets: Seq[Int]): DataFrame = {
    val days = df.select(col(userCol), to_date(col(tsCol)).as("__day")).distinct()
    // first-seen as a window min in the user-keyed exchange the offset
    // computation consumes, instead of groupBy(user) + join-back: the
    // join form executed the (user, day) distinct aggregate twice (once
    // per subplan reference — Catalyst shares no common subtrees) and
    // paid an extra exchange for the join (guide §2.4: operations keyed
    // the same way share one exchange).
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(userCol))
    val offs = days
      .withColumn("cohort_day", min(col("__day")).over(w))
      .withColumn("__off", datediff(col("__day"), col("cohort_day")))
    val offCounts = offsets.map(o =>
      count_distinct(when(col("__off") === o, col(userCol))).as(s"d$o"))
    offs.groupBy(col("cohort_day"))
      .agg(count_distinct(col(userCol)).as("n_users"), offCounts: _*)
  }

  /** Ordered funnel: how many users performed `steps` in strict
    * timestamp order (each step strictly after the previous one's
    * EARLIEST qualifying time — the standard windowFunnel greedy rule,
    * unbounded window). Output: one row per step with the user count
    * reaching it (monotone non-increasing).
    *
    * 100 TB shape: one min-aggregate + one user-keyed equijoin per
    * step — each a partial-aggregable rollup over only that step's
    * events (filter pushed to the scan), state one row per user. No
    * window sort, no per-user event lists.
    */
  def funnel(df: DataFrame, userCol: String, tsCol: String,
             typeCol: String, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty)
    // reached(i) = users whose earliest chain through steps 0..i exists.
    // Each step manifest is materialized ONCE: step i's frame is
    // referenced both by step i+1's join AND by its own count branch
    // below, and the count branches nest — without the boundary the
    // union re-executed step 0's scan+aggregate K times and step i's
    // join chain K-i times (r15 measured 10 Spark jobs for a 3-step
    // funnel). The manifests are one (user, ts) row per reaching user.
    val reached = steps.tail.scanLeft(
      df.filter(col(typeCol) === steps.head)
        .groupBy(col(userCol)).agg(min(col(tsCol)).as("__t"))
        .transform(Materialize)) { (prev, step) =>
      df.filter(col(typeCol) === step)
        .join(prev.select(col(userCol), col("__t").as("__prev")), userCol)
        .filter(col(tsCol) > col("__prev"))
        .groupBy(col(userCol)).agg(min(col(tsCol)).as("__t"))
        .transform(Materialize)
    }
    // one lazy plan: a counts branch per step, unioned — no driver-side
    // actions; each branch is a 1-row aggregate
    reached.zipWithIndex.map { case (r, i) =>
      r.agg(count(lit(1)).as("n_users"))
        .select(lit(i + 1).cast("long").as("step"),
          lit(steps(i)).as("event_type"), col("n_users"))
    }.reduce(_ unionByName _)
  }
}
