package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Core SQL/OLAP surface (cnosdb inherits this from DataFusion; see
  * reference query_server/sqllogicaltests/cases/tpch.slt, dql/,
  * function/common/).
  *
  * Scale notes: aggregations are partial-aggregable (map-side combine);
  * dimension joins are explicitly broadcast; the deterministic ORDER BY
  * each query carries is a cheap post-aggregation step on the (small)
  * result, never on the fact table.
  */
object CoreSql {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables(spark, dir, name)

  /** TPC-H Q1 analogue — pricing summary on lineitem. Filter pushed to
    * the scan; group-by cardinality is tiny so the post-partial-agg
    * shuffle is negligible at any scale.
    */
  def q01PricingSummary(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 4).as("sum_qty"),
        round(sum("l_extendedprice"), 4).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4).as("sum_disc_price"),
        round(avg("l_quantity"), 6).as("avg_qty"),
        round(avg("l_discount"), 6).as("avg_disc"),
        count(lit(1)).as("count_order")
      )
      .orderBy("l_returnflag", "l_linestatus")

  /** TPC-H Q3 analogue — revenue of unshipped orders for one segment.
    * customer is a dimension → broadcast; orders⋈lineitem shuffles on
    * the order key (its natural co-partitioning key at scale).
    */
  def q03ShippingPriority(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val ord = t(spark, dir, "orders")
      .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    val li = t(spark, dir, "lineitem")
      .filter(col("l_shipdate") > lit("1997-06-01").cast("timestamp"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy("l_orderkey", "o_orderdate")
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(20)
  }

  /** TPC-H Q5 analogue — revenue by nation where supplier and customer
    * share the nation. All dims broadcast; single fact shuffle.
    */
  def q05LocalSupplier(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    val ord = t(spark, dir, "orders")
    val cust = t(spark, dir, "customer")
    val supp = t(spark, dir, "supplier")
    val nat = t(spark, dir, "nation")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** Top customers by lifetime spend — classic driving-table pattern. */
  def qTopCustomers(spark: SparkSession, dir: String): DataFrame = {
    val ord = t(spark, dir, "orders")
    val cust = t(spark, dir, "customer")
    ord.groupBy("o_custkey")
      .agg(round(sum("o_totalprice"), 4).as("total_spent"), count(lit(1)).as("n_orders"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("total_spent"), col("n_orders"))
      .orderBy(col("total_spent").desc, col("c_custkey"))
      .limit(10)
  }

  /** Semi/anti join (EXISTS / NOT EXISTS). */
  def qSemiAnti(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir, "customer")
    val orderCust = t(spark, dir, "orders").select("o_custkey")
    val withOrders = cust.join(orderCust, col("c_custkey") === col("o_custkey"), "left_semi")
      .agg(count(lit(1)).as("n_with_orders"))
    val withoutOrders = cust.join(orderCust, col("c_custkey") === col("o_custkey"), "left_anti")
      .agg(count(lit(1)).as("n_without_orders"))
    withOrders.crossJoin(withoutOrders)
  }

  /** Statistical aggregates (function/common/statistical_agg/). */
  def qStatsAgg(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        round(stddev_samp(col("l_extendedprice")), 4).as("stddev_price"),
        round(stddev_pop(col("l_extendedprice")), 4).as("stddev_pop_price"),
        round(var_samp(col("l_quantity")), 6).as("var_qty"),
        round(var_pop(col("l_quantity")), 6).as("var_pop_qty"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 8).as("corr_qty_price"),
        round(covar_samp(col("l_quantity"), col("l_extendedprice")), 4).as("covar_qty_price"),
        round(covar_pop(col("l_quantity"), col("l_extendedprice")), 4).as("covar_pop_qty_price")
      )
      .orderBy("l_returnflag")

  /** Ranking window functions (function/window_func/). */
  def qWindowRank(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "orders").createOrReplaceTempView("orders")
    spark.sql(
      """SELECT o_orderkey, o_orderpriority,
        |  cast(row_number() OVER w AS BIGINT) AS rn,
        |  cast(rank()       OVER w AS BIGINT) AS rnk,
        |  cast(dense_rank() OVER w AS BIGINT) AS drnk,
        |  round(percent_rank() OVER w, 8) AS prnk,
        |  round(cume_dist()    OVER w, 8) AS cdist
        |FROM orders
        |WHERE o_totalprice > 400000
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey)
        |ORDER BY o_orderpriority, rn""".stripMargin)
  }

  /** Offset/value window functions over the time-series table. */
  def qWindowOffset(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "events").createOrReplaceTempView("events")
    spark.sql(
      """SELECT event_id, user_id,
        |  lag(value)  OVER w AS prev_value,
        |  lead(value) OVER w AS next_value,
        |  first_value(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_val,
        |  last_value(value)  OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_val,
        |  nth_value(value, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_val
        |FROM (SELECT event_id, user_id, value, cast(ts AS TIMESTAMP) AS ts FROM events)
        |WHERE user_id < 20
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, event_id""".stripMargin)
  }

  /** Scalar string-function zoo (function/string_func/). */
  def qStringFuncs(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "part").createOrReplaceTempView("part")
    spark.sql(
      """SELECT p_partkey,
        |  upper(p_name) AS s_upper, lower(p_brand) AS s_lower,
        |  substr(p_name, 3, 8) AS s_substr, cast(length(p_name) AS BIGINT) AS s_len,
        |  concat(p_brand, ':', p_type) AS s_concat,
        |  concat_ws('-', p_brand, p_type) AS s_concat_ws,
        |  replace(p_type, ' ', '_') AS s_replace,
        |  split_part(p_type, ' ', 1) AS s_split_part,
        |  lpad(p_brand, 12, '*') AS s_lpad, rpad(p_brand, 12, '*') AS s_rpad,
        |  trim('B' FROM p_brand) AS s_trim,
        |  ltrim(p_name) AS s_ltrim, rtrim(p_name) AS s_rtrim,
        |  reverse(p_name) AS s_reverse,
        |  left(p_name, 4) AS s_left, right(p_name, 4) AS s_right,
        |  cast(ascii(p_name) AS BIGINT) AS s_ascii, chr(65 + p_partkey % 26) AS s_chr,
        |  md5(p_name) AS s_md5,
        |  cast(instr(p_name, 'a') AS BIGINT) AS s_strpos,
        |  translate(p_brand, 'Bad', 'Xyz') AS s_translate,
        |  repeat(p_brand, 2) AS s_repeat,
        |  startswith(p_type, 'STANDARD') AS s_starts,
        |  hex(p_partkey) AS s_to_hex,
        |  cast(octet_length(p_name) AS BIGINT) AS s_octet,
        |  cast(bit_length(p_name) AS BIGINT) AS s_bit,
        |  initcap(p_name) AS s_initcap,
        |  btrim(p_brand, 'B#') AS s_btrim
        |FROM part ORDER BY p_partkey""".stripMargin)
  }

  /** Scalar math-function zoo (function/common/math_function/), incl.
    * gcd/lcm via the native NumGcd/NumLcm expressions (Spark has no
    * builtin) and inverse hyperbolics.
    */
  def qMathFuncs(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "part").createOrReplaceTempView("part")
    spark.sql(
      """SELECT p_partkey,
        |  abs(-p_retailprice) AS m_abs,
        |  cast(ceil(p_retailprice) AS BIGINT) AS m_ceil, cast(floor(p_retailprice) AS BIGINT) AS m_floor,
        |  round(p_retailprice, 1) AS m_round,
        |  round(sqrt(p_retailprice), 8) AS m_sqrt,
        |  round(cbrt(p_retailprice), 8) AS m_cbrt,
        |  round(exp(p_retailprice / 1000.0), 8) AS m_exp,
        |  round(ln(p_retailprice), 8) AS m_ln,
        |  round(log10(p_retailprice), 8) AS m_log10,
        |  round(log2(p_retailprice), 8) AS m_log2,
        |  round(sin(p_retailprice), 8) AS m_sin,
        |  round(cos(p_retailprice), 8) AS m_cos,
        |  round(tan(p_size), 8) AS m_tan,
        |  round(atan2(p_size, 7), 8) AS m_atan2,
        |  round(asin(p_size / 100.0), 8) AS m_asin,
        |  round(acos(p_size / 100.0), 8) AS m_acos,
        |  round(atan(p_size), 8) AS m_atan,
        |  round(sinh(p_size / 10.0), 8) AS m_sinh,
        |  round(cosh(p_size / 10.0), 8) AS m_cosh,
        |  round(tanh(p_size / 10.0), 8) AS m_tanh,
        |  cast(sign(p_retailprice - 1000) AS DOUBLE) AS m_sign,
        |  round(pi(), 8) AS m_pi,
        |  round(radians(p_size), 8) AS m_radians,
        |  round(degrees(p_size / 10.0), 8) AS m_degrees,
        |  pmod(p_partkey, 7) AS m_mod,
        |  power(p_size, 2) AS m_power,
        |  num_gcd(p_partkey, cast(p_size AS BIGINT)) AS m_gcd,
        |  num_lcm(pmod(p_partkey, 12), cast(pmod(p_size, 8) AS BIGINT)) AS m_lcm,
        |  round(asinh(p_size / 10.0), 8) AS m_asinh,
        |  round(acosh(1.0 + p_size / 10.0), 8) AS m_acosh,
        |  round(atanh(p_size / 100.0), 8) AS m_atanh,
        |  round(log(2.0, cast(p_size AS DOUBLE)), 8) AS m_log_base
        |FROM part ORDER BY p_partkey""".stripMargin)
  }

  /** Time scalar functions (function/common/time_functions/). */
  def qTimeFuncs(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "orders").createOrReplaceTempView("orders")
    spark.sql(
      """SELECT o_orderkey,
        |  date_trunc('month', o_orderdate) AS t_month,
        |  date_trunc('day', o_orderdate) AS t_day,
        |  date_trunc('week', o_orderdate) AS t_week,
        |  year(o_orderdate) AS t_year, month(o_orderdate) AS t_mon,
        |  day(o_orderdate) AS t_dom, dayofyear(o_orderdate) AS t_doy,
        |  dayofweek(o_orderdate) - 1 AS t_dow,
        |  quarter(o_orderdate) AS t_quarter,
        |  hour(o_orderdate) AS t_hour, minute(o_orderdate) AS t_min,
        |  second(o_orderdate) AS t_sec,
        |  cast(unix_timestamp(o_orderdate) AS BIGINT) AS t_epoch,
        |  to_timestamp(cast(unix_timestamp(o_orderdate) AS BIGINT)) AS t_from_unix,
        |  o_orderdate + INTERVAL 3 DAY AS t_plus3d,
        |  o_orderdate - INTERVAL 2 HOUR AS t_minus2h,
        |  cast(date_part('doy', o_orderdate) AS BIGINT) AS t_date_part_doy,
        |  cast(extract(WEEK FROM o_orderdate) AS BIGINT) AS t_extract_week,
        |  timestamp_seconds(o_orderkey * 86400) AS t_from_sec,
        |  timestamp_millis(o_orderkey * 86400000) AS t_from_ms,
        |  timestamp_micros(o_orderkey * 86400000000) AS t_from_us
        |FROM orders WHERE o_orderkey < 500 ORDER BY o_orderkey""".stripMargin)
  }

  /** Conditional functions: case / coalesce / nullif (conditional_function/). */
  def qConditional(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "orders").createOrReplaceTempView("orders")
    spark.sql(
      """SELECT o_orderkey,
        |  CASE WHEN o_totalprice > 300000 THEN 'high'
        |       WHEN o_totalprice > 100000 THEN 'mid'
        |       ELSE 'low' END AS price_band,
        |  coalesce(nullif(o_orderstatus, 'P'), 'PENDING') AS status_norm,
        |  nullif(o_orderpriority, '5-LOW') AS prio_or_null,
        |  CASE o_orderstatus WHEN 'F' THEN 1 WHEN 'O' THEN 2 ELSE 0 END AS status_code
        |FROM orders WHERE o_orderkey < 1000 ORDER BY o_orderkey""".stripMargin)
  }

  /** DISTINCT + ORDER BY + LIMIT basics (dql/). */
  def qSqlBasic(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .select("o_orderstatus", "o_orderpriority")
      .distinct()
      .orderBy("o_orderstatus", "o_orderpriority")

  /** exact_count — cnosdb's exact distinct-count UDAF
    * (aggregate_function/exact_count_agg.rs).
    */
  def qExactCount(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).as("exact_count_parts"),
        countDistinct(col("l_suppkey")).as("exact_count_supps"))
      .orderBy("l_returnflag")

  /** Approximate aggregates (function/common/approx_agg/). Sketch
    * VALUES differ across engines, but |approx − exact| / exact ≤ 0.05
    * is an engine-stable BOOLEAN both sides can compute and hash — each
    * engine checks its own sketch against its own exact aggregate, so
    * the entry is hash-green instead of rows-only while still failing
    * if either engine's approximation drifts. exact_parts is hashed
    * exactly (integers).
    */
  def qApproxAgg(spark: SparkSession, dir: String): DataFrame = {
    // Approx and exact lanes aggregate SEPARATELY and meet in a 3-row
    // join: folding countDistinct + exact percentile + the sketches
    // into one agg makes Spark plan an Expand-based multi-distinct
    // (one input duplicate per distinct group — a full extra scan's
    // worth of shuffle per aggregate at 100 TB, and 20× slower in the
    // bench). The exact lane is itself TWO branches: countDistinct
    // beside percentile in one agg triggers the distinct rewrite,
    // which keys the partial aggregate on (flag, partkey) and carries
    // a percentile hash-map buffer PER PARTKEY GROUP — ~600k live
    // OpenHashMaps at sf1 (100 s of GC in the bench JVM; unbounded at
    // 100 TB). Split, the percentile partial keys on 3 flags (maps
    // bounded by the price domain) and the distinct-count is the
    // standard two-level rewrite — each branch one clean
    // partial-aggregable pass, 9.7 s → ~7 s at sf1 and memory-flat.
    val li = t(spark, dir, "lineitem")
    // sketches AND exact percentiles share ONE pass: none of these five
    // is a DISTINCT aggregate, so folding them costs no Expand rewrite
    // (the hazard the split avoids is countDistinct specifically) — one
    // lineitem scan + one ObjectHashAggregate instead of two (guide
    // §1.2: the r14 profile showed three full-table aggregate passes
    // where two suffice; 3 scans → 2)
    // array-form percentiles: ONE sketch / ONE value-count buffer per
    // group serving both quantiles, instead of two identical buffers
    // built side by side — the read-off against a shared state is
    // value-identical to two copies of that state
    val approx = li.groupBy("l_returnflag")
      .agg(
        approx_count_distinct(col("l_partkey")).as("ap"),
        percentile_approx(col("l_extendedprice"),
          array(lit(0.5), lit(0.9)), lit(10000)).as("apx"),
        expr("percentile(l_extendedprice, array(0.5, 0.9))").as("ex"))
      .select(col("l_returnflag"), col("ap"),
        element_at(col("apx"), 1).as("am"), element_at(col("apx"), 2).as("a90"),
        element_at(col("ex"), 1).as("em"), element_at(col("ex"), 2).as("e90"))
    val exactCd = li.groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).as("exact_parts"))
    approx.join(exactCd, "l_returnflag")
      .select(col("l_returnflag"), col("exact_parts"),
        (abs(col("ap") - col("exact_parts")) <= col("exact_parts") * 0.05).as("parts_ok"),
        (abs(col("am") - col("em")) <= col("em") * 0.05).as("median_ok"),
        (abs(col("a90") - col("e90")) <= col("e90") * 0.05).as("p90_ok"))
      .orderBy("l_returnflag")
  }

  /** Weighted percentile (function/common/approx_agg/
    * approx_percentile_cont_with_weight.slt) — exact cumulative-weight
    * formulation so it oracle-checks; see graft.functions.Percentiles.
    */
  def qWeightedPercentile(spark: SparkSession, dir: String): DataFrame =
    graft.functions.Percentiles.weightedPercentile(
      t(spark, dir, "lineitem"), Seq("l_returnflag"),
      col("l_extendedprice"), col("l_quantity"),
      struct(col("l_orderkey"), col("l_linenumber")),
      Seq("wp25" -> 0.25, "wp50" -> 0.5, "wp90" -> 0.9))
      .select(col("l_returnflag"),
        round(col("wp25"), 4).as("wp25"),
        round(col("wp50"), 4).as("wp50"),
        round(col("wp90"), 4).as("wp90"))
      .orderBy("l_returnflag")

  /** array_agg(x ORDER BY t) (function/common/array_agg.slt) — ordered
    * collection per group, emitted as a joined string so the oracle hash
    * is array-layout-independent. collect_list is partial-aggregable;
    * the sort happens per (small) group after the shuffle.
    */
  def qArrayAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(col("user_id") < 20)
      .groupBy("user_id")
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("ts_ns"), col("event_id"), col("event_type")))),
          x => x.getField("event_type")), ",").as("type_seq"),
        count(lit(1)).as("n"))
      .orderBy("user_id")

  /** Skew-salted two-stage aggregation (Skew.saltedStats) over the
    * most skew-shaped grouping the lake offers: 3 returnflag keys ×
    * the full lineitem row mass. count/sum/min/max merge losslessly
    * across the salt sub-groups (exact integer cents), so the oracle
    * is the PLAIN direct GROUP BY — proof the two-stage rewrite is
    * invisible to results, which is the property that licenses it at
    * 100 TB where a hot key would otherwise pin one reduce task.
    */
  def qSaltedAgg(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Skew.saltedStats(
        Tables(spark, dir, "lineitem"),
        keyCols = Seq("l_returnflag"),
        rowKeyCols = Seq("l_orderkey", "l_linenumber"),
        valueCol = "l_extendedprice")
      .orderBy("l_returnflag")

  /** Misra-Gries heavy hitters per user cohort (functions.HeavyHitters
    * — a real partial-aggregable Aggregator whose buffer is ≤ k
    * entries per partition whatever the input cardinality). Run at
    * k = 16 ≥ the event-type domain, where the sketch provably
    * degenerates to exact counting independent of merge order — so
    * the oracle is the exact GROUP BY count and the sketch MACHINERY
    * (reduce/merge/finish across real shuffles) is what the hash
    * checks. The lossy k < domain regime is order-dependent by
    * nature; its n/(k+1) guarantees are spec-pinned on fixed streams.
    */
  def qHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val mg = udaf(new graft.functions.HeavyHitters.MisraGriesAgg(16))
    Tables.events(spark, dir)
      .groupBy((col("user_id") % 10).as("cohort"))
      .agg(mg(col("event_type")).as("__hh"))
      .select(col("cohort"), explode(col("__hh")).as(Seq("event_type", "est_n")))
      .orderBy("cohort", "event_type")
  }

  /** Misra-Gries in the LOSSY regime (k = 3 < the 5-value event-type
    * domain) — the regime that is the operator's whole value at 100 TB,
    * where eviction and merge-compression fire on every partition. The
    * sketch's content is merge-order-dependent there, so the lane
    * hashes the sketch's GUARANTEES instead (the q_approx_agg
    * tolerance-boolean discipline): per cohort, the engine checks its
    * own sketch against its own exact GROUP BY —
    *   size_ok:  ≤ k survivors (bounded memory);
    *   under_ok: every estimate ≤ its exact count (MG only loses);
    *   bound_ok: every value's estimate ≥ exact − n/(k+1) (absent ⇒ 0);
    *   heavy_ok: any value with exact count > n/(k+1) survives.
    * All four are theorems of the algorithm (Misra-Gries 1982; merge
    * per Agarwal et al. PODS'12), so they are deterministically true
    * for ANY partitioning/merge order, and the DuckDB oracle replays
    * the exact cohort sizes + literal trues. A sketch bug flips a
    * boolean and the row hash-fails.
    */
  def qHeavyHittersLossy(spark: SparkSession, dir: String): DataFrame = {
    val k = 3
    val mg = udaf(new graft.functions.HeavyHitters.MisraGriesAgg(k))
    val ev = Tables.events(spark, dir)
      .select((col("user_id") % 10).as("cohort"), col("event_type"))
    // ONE sketch pass; n and the survivor count are derived from the
    // EXACT side of the left join (n = Σ per-type counts, survivors =
    // count(est)), never from the exploded sketch rows — MG can
    // legitimately end with an EMPTY summary (a final arrival that
    // decrements every counter to zero, or a merge whose (k+1)-th
    // largest count ties the maximum drops every key), and an empty
    // sketch explodes to zero rows, so anything ridden on them would
    // come back NULL and hash-fail on correct algorithm behavior
    // (ADVICE r9). The guarantee checks are post-aggregation scalar
    // comparisons — max deficit vs n/(k+1) instead of a per-row
    // predicate needing n — so the plan runs the UDAF once and scans
    // events twice, not thrice (r9 plan audit: the first cut
    // re-referenced the sketch frame and Spark duplicated the whole
    // aggregation subplan).
    val flat = ev.groupBy("cohort")
      .agg(mg(col("event_type")).as("hh"))
      .select(col("cohort"), explode(col("hh")).as(Seq("event_type", "est")))
    val exact = ev.groupBy("cohort", "event_type").agg(count(lit(1)).as("c"))
    exact.join(flat, Seq("cohort", "event_type"), "left")
      .groupBy("cohort")
      .agg(
        sum(col("c")).as("n"),
        count(lit(1)).as("n_types"),
        count(col("est")).as("__ns"),
        expr("bool_and(est IS NULL OR est <= c)").as("under_ok"),
        max(col("c") - coalesce(col("est"), lit(0L))).as("__max_deficit"),
        max(when(col("est").isNull, col("c")).otherwise(lit(0L))).as("__max_absent"))
      .select(col("cohort"), col("n"), col("n_types"),
        (col("__ns") <= k).as("size_ok"), col("under_ok"),
        (col("__max_deficit") <= col("n") / lit((k + 1).toDouble)).as("bound_ok"),
        (col("__max_absent") <= col("n") / lit((k + 1).toDouble)).as("heavy_ok"))
      .orderBy("cohort")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_heavy_hitters" -> qHeavyHitters,
    "q_heavy_hitters_lossy" -> qHeavyHittersLossy,
    "q_salted_agg" -> qSaltedAgg,
    "q01_pricing_summary" -> q01PricingSummary,
    "q03_shipping_priority" -> q03ShippingPriority,
    "q05_local_supplier" -> q05LocalSupplier,
    "q_top_customers" -> qTopCustomers,
    "q_semi_anti" -> qSemiAnti,
    "q_stats_agg" -> qStatsAgg,
    "q_window_rank" -> qWindowRank,
    "q_window_offset" -> qWindowOffset,
    "q_string_funcs" -> qStringFuncs,
    "q_math_funcs" -> qMathFuncs,
    "q_time_funcs" -> qTimeFuncs,
    "q_conditional" -> qConditional,
    "q_sql_basic" -> qSqlBasic,
    "q_exact_count" -> qExactCount,
    "q_approx_agg" -> qApproxAgg,
    "q_weighted_percentile" -> qWeightedPercentile,
    "q_array_agg" -> qArrayAgg
  )

  def oracleSql: Map[String, String] = Map(
    "q_heavy_hitters" ->
      """SELECT user_id % 10 AS cohort, event_type,
        |  CAST(count(*) AS BIGINT) AS est_n
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_heavy_hitters_lossy" ->
      """SELECT user_id % 10 AS cohort, CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
        |  true AS size_ok, true AS under_ok, true AS bound_ok,
        |  true AS heavy_ok
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_salted_agg" ->
      """WITH c AS (
        |  SELECT l_returnflag,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        |  FROM lineitem)
        |SELECT l_returnflag,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(cents) AS DOUBLE) / 100.0 AS sum_value,
        |  CAST(min(cents) AS DOUBLE) / 100.0 AS min_value,
        |  CAST(max(cents) AS DOUBLE) / 100.0 AS max_value,
        |  floor(CAST(sum(cents) AS DOUBLE) / 100.0 / count(*) * 1000000.0)
        |    / 1000000.0 AS avg_value
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 4) AS sum_qty,
        |  round(sum(l_extendedprice), 4) AS sum_base_price,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS sum_disc_price,
        |  round(avg(l_quantity), 6) AS avg_qty,
        |  round(avg(l_discount), 6) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q03_shipping_priority" ->
      """SELECT l_orderkey, o_orderdate,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > TIMESTAMP '1997-06-01'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey LIMIT 20""".stripMargin,
    "q05_local_supplier" ->
      """SELECT n_name,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin,
    "q_top_customers" ->
      """SELECT c_custkey, c_name,
        |  round(sum(o_totalprice), 4) AS total_spent,
        |  count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_custkey, c_name
        |ORDER BY total_spent DESC, c_custkey LIMIT 10""".stripMargin,
    "q_semi_anti" ->
      """SELECT
        |  (SELECT count(*) FROM customer WHERE EXISTS
        |    (SELECT 1 FROM orders WHERE o_custkey = c_custkey)) AS n_with_orders,
        |  (SELECT count(*) FROM customer WHERE NOT EXISTS
        |    (SELECT 1 FROM orders WHERE o_custkey = c_custkey)) AS n_without_orders""".stripMargin,
    "q_stats_agg" ->
      """SELECT l_returnflag,
        |  round(stddev_samp(l_extendedprice), 4) AS stddev_price,
        |  round(stddev_pop(l_extendedprice), 4) AS stddev_pop_price,
        |  round(var_samp(l_quantity), 6) AS var_qty,
        |  round(var_pop(l_quantity), 6) AS var_pop_qty,
        |  round(corr(l_quantity, l_extendedprice), 8) AS corr_qty_price,
        |  round(covar_samp(l_quantity, l_extendedprice), 4) AS covar_qty_price,
        |  round(covar_pop(l_quantity, l_extendedprice), 4) AS covar_pop_qty_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_window_rank" ->
      """SELECT o_orderkey, o_orderpriority,
        |  cast(row_number() OVER w AS BIGINT) AS rn,
        |  cast(rank()       OVER w AS BIGINT) AS rnk,
        |  cast(dense_rank() OVER w AS BIGINT) AS drnk,
        |  round(percent_rank() OVER w, 8) AS prnk,
        |  round(cume_dist()    OVER w, 8) AS cdist
        |FROM orders
        |WHERE o_totalprice > 400000
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey)
        |ORDER BY o_orderpriority, rn""".stripMargin,
    "q_window_offset" ->
      """SELECT event_id, user_id,
        |  lag(value)  OVER w AS prev_value,
        |  lead(value) OVER w AS next_value,
        |  first_value(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_val,
        |  last_value(value)  OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_val,
        |  nth_value(value, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_val
        |FROM (SELECT event_id, user_id, value, cast(ts AS TIMESTAMP) AS ts FROM events)
        |WHERE user_id < 20
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, event_id""".stripMargin,
    "q_string_funcs" ->
      """SELECT p_partkey,
        |  upper(p_name) AS s_upper, lower(p_brand) AS s_lower,
        |  substr(p_name, 3, 8) AS s_substr, cast(length(p_name) AS BIGINT) AS s_len,
        |  concat(p_brand, ':', p_type) AS s_concat,
        |  concat_ws('-', p_brand, p_type) AS s_concat_ws,
        |  replace(p_type, ' ', '_') AS s_replace,
        |  split_part(p_type, ' ', 1) AS s_split_part,
        |  lpad(p_brand, 12, '*') AS s_lpad, rpad(p_brand, 12, '*') AS s_rpad,
        |  trim('B' FROM p_brand) AS s_trim,
        |  ltrim(p_name) AS s_ltrim, rtrim(p_name) AS s_rtrim,
        |  reverse(p_name) AS s_reverse,
        |  left(p_name, 4) AS s_left, right(p_name, 4) AS s_right,
        |  cast(ascii(p_name) AS BIGINT) AS s_ascii,
        |  chr(cast(65 + p_partkey % 26 AS INTEGER)) AS s_chr,
        |  md5(p_name) AS s_md5,
        |  strpos(p_name, 'a') AS s_strpos,
        |  translate(p_brand, 'Bad', 'Xyz') AS s_translate,
        |  repeat(p_brand, 2) AS s_repeat,
        |  starts_with(p_type, 'STANDARD') AS s_starts,
        |  to_hex(p_partkey) AS s_to_hex,
        |  strlen(p_name) AS s_octet, 8 * strlen(p_name) AS s_bit,
        |  array_to_string(list_transform(string_split(p_name, ' '),
        |    w -> upper(w[1]) || lower(w[2:])), ' ') AS s_initcap,
        |  trim(p_brand, 'B#') AS s_btrim
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q_math_funcs" ->
      """SELECT p_partkey,
        |  abs(-p_retailprice) AS m_abs,
        |  cast(ceil(p_retailprice) AS BIGINT) AS m_ceil, cast(floor(p_retailprice) AS BIGINT) AS m_floor,
        |  round(p_retailprice, 1) AS m_round,
        |  round(sqrt(p_retailprice), 8) AS m_sqrt,
        |  round(cbrt(p_retailprice), 8) AS m_cbrt,
        |  round(exp(p_retailprice / 1000.0), 8) AS m_exp,
        |  round(ln(p_retailprice), 8) AS m_ln,
        |  round(log10(p_retailprice), 8) AS m_log10,
        |  round(log2(p_retailprice), 8) AS m_log2,
        |  round(sin(p_retailprice), 8) AS m_sin,
        |  round(cos(p_retailprice), 8) AS m_cos,
        |  round(tan(p_size), 8) AS m_tan,
        |  round(atan2(p_size, 7), 8) AS m_atan2,
        |  round(asin(p_size / 100.0), 8) AS m_asin,
        |  round(acos(p_size / 100.0), 8) AS m_acos,
        |  round(atan(p_size), 8) AS m_atan,
        |  round((exp(p_size / 10.0) - exp(-(p_size / 10.0))) / 2, 8) AS m_sinh,
        |  round((exp(p_size / 10.0) + exp(-(p_size / 10.0))) / 2, 8) AS m_cosh,
        |  round((exp(p_size / 10.0) - exp(-(p_size / 10.0))) / (exp(p_size / 10.0) + exp(-(p_size / 10.0))), 8) AS m_tanh,
        |  cast(sign(p_retailprice - 1000) AS DOUBLE) AS m_sign,
        |  round(pi(), 8) AS m_pi,
        |  round(radians(p_size), 8) AS m_radians,
        |  round(degrees(p_size / 10.0), 8) AS m_degrees,
        |  p_partkey % 7 AS m_mod,
        |  power(p_size, 2) AS m_power,
        |  gcd(p_partkey, p_size) AS m_gcd,
        |  lcm(p_partkey % 12, p_size % 8) AS m_lcm,
        |  round(ln(p_size / 10.0 + sqrt((p_size / 10.0) * (p_size / 10.0) + 1.0)), 8) AS m_asinh,
        |  round(ln(1.0 + p_size / 10.0
        |    + sqrt((1.0 + p_size / 10.0) * (1.0 + p_size / 10.0) - 1.0)), 8) AS m_acosh,
        |  round(0.5 * ln((1.0 + p_size / 100.0) / (1.0 - p_size / 100.0)), 8) AS m_atanh,
        |  round(log(2.0, cast(p_size AS DOUBLE)), 8) AS m_log_base
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q_time_funcs" ->
      """SELECT o_orderkey,
        |  cast(date_trunc('month', o_orderdate) AS TIMESTAMP) AS t_month,
        |  cast(date_trunc('day', o_orderdate) AS TIMESTAMP) AS t_day,
        |  cast(date_trunc('week', o_orderdate) AS TIMESTAMP) AS t_week,
        |  year(o_orderdate) AS t_year, month(o_orderdate) AS t_mon,
        |  day(o_orderdate) AS t_dom, dayofyear(o_orderdate) AS t_doy,
        |  dayofweek(o_orderdate) AS t_dow,
        |  quarter(o_orderdate) AS t_quarter,
        |  hour(o_orderdate) AS t_hour, minute(o_orderdate) AS t_min,
        |  cast(second(o_orderdate) AS BIGINT) AS t_sec,
        |  cast(epoch(o_orderdate) AS BIGINT) AS t_epoch,
        |  epoch_ms(cast(epoch(o_orderdate) AS BIGINT) * 1000) AS t_from_unix,
        |  o_orderdate + INTERVAL 3 DAY AS t_plus3d,
        |  o_orderdate - INTERVAL 2 HOUR AS t_minus2h,
        |  cast(date_part('doy', o_orderdate) AS BIGINT) AS t_date_part_doy,
        |  cast(extract(week FROM o_orderdate) AS BIGINT) AS t_extract_week,
        |  to_timestamp(o_orderkey * 86400)::TIMESTAMP AS t_from_sec,
        |  epoch_ms(o_orderkey * 86400000) AS t_from_ms,
        |  make_timestamp(o_orderkey * 86400000000) AS t_from_us
        |FROM orders WHERE o_orderkey < 500 ORDER BY o_orderkey""".stripMargin,
    "q_conditional" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_totalprice > 300000 THEN 'high'
        |       WHEN o_totalprice > 100000 THEN 'mid'
        |       ELSE 'low' END AS price_band,
        |  coalesce(nullif(o_orderstatus, 'P'), 'PENDING') AS status_norm,
        |  nullif(o_orderpriority, '5-LOW') AS prio_or_null,
        |  CASE o_orderstatus WHEN 'F' THEN 1 WHEN 'O' THEN 2 ELSE 0 END AS status_code
        |FROM orders WHERE o_orderkey < 1000 ORDER BY o_orderkey""".stripMargin,
    "q_sql_basic" ->
      """SELECT DISTINCT o_orderstatus, o_orderpriority
        |FROM orders ORDER BY o_orderstatus, o_orderpriority""".stripMargin,
    "q_exact_count" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS exact_count_parts,
        |  count(DISTINCT l_suppkey) AS exact_count_supps
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_weighted_percentile" ->
      """WITH c AS (
        |  SELECT l_returnflag, l_extendedprice AS v,
        |    sum(l_quantity) OVER (PARTITION BY l_returnflag
        |      ORDER BY l_extendedprice, l_orderkey, l_linenumber
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    sum(l_quantity) OVER (PARTITION BY l_returnflag) AS total
        |  FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL)
        |SELECT l_returnflag,
        |  round(min(CASE WHEN cum >= 0.25 * total THEN v END), 4) AS wp25,
        |  round(min(CASE WHEN cum >= 0.5  * total THEN v END), 4) AS wp50,
        |  round(min(CASE WHEN cum >= 0.9  * total THEN v END), 4) AS wp90
        |FROM c GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_array_agg" ->
      """SELECT user_id,
        |  string_agg(event_type, ',' ORDER BY ts, event_id) AS type_seq,
        |  count(*) AS n
        |FROM events WHERE user_id < 20
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    // Sketch values are engine-specific; each engine hashes its OWN
    // |approx − exact|/exact ≤ 0.05 boolean plus the exact counts.
    "q_approx_agg" ->
      """SELECT l_returnflag,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
        |  abs(approx_count_distinct(l_partkey) - count(DISTINCT l_partkey))
        |    <= count(DISTINCT l_partkey) * 0.05 AS parts_ok,
        |  abs(approx_quantile(l_extendedprice, 0.5)
        |      - quantile_cont(l_extendedprice, 0.5))
        |    <= quantile_cont(l_extendedprice, 0.5) * 0.05 AS median_ok,
        |  abs(approx_quantile(l_extendedprice, 0.9)
        |      - quantile_cont(l_extendedprice, 0.9))
        |    <= quantile_cont(l_extendedprice, 0.9) * 0.05 AS p90_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
  )
}
