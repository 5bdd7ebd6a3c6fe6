package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Dml

/** Edge-case SQL semantics the reference pins in slt tests:
  * type coercion (data_type/type_conversion/, dql/int_float_compare),
  * null ordering (dql/order_by.slt), empty-input aggregates
  * (dql/empty_table.slt), and DML-as-rewrite (dml/, data_ttl.slt).
  */
object EdgeSql {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables(spark, dir, name)

  /** Cast/coercion zoo: int↔float comparison promotes to double;
    * string→timestamp/number casts; double→int truncation; boolean
    * from comparisons; BETWEEN over mixed numeric types.
    */
  def qTypeCast(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "part").createOrReplaceTempView("part")
    spark.sql(
      """SELECT p_partkey,
        |  cast(p_retailprice AS BIGINT) AS c_to_int,
        |  cast(p_size AS DOUBLE) AS c_to_double,
        |  cast(p_partkey AS STRING) AS c_to_str,
        |  cast(cast(p_retailprice AS STRING) AS DOUBLE) AS c_str_roundtrip,
        |  cast('2021-03-04 05:06:07' AS TIMESTAMP) AS c_str_ts,
        |  p_size = cast(p_size AS DOUBLE) AS c_int_eq_float,
        |  p_size < p_retailprice AS c_int_lt_float,
        |  p_retailprice BETWEEN p_size AND p_size * 100 AS c_between_mixed,
        |  cast(p_size >= 25 AS INT) AS c_bool_to_int,
        |  cast(1 AS BOOLEAN) AS c_int_to_bool
        |FROM part WHERE p_partkey < 300 ORDER BY p_partkey""".stripMargin)
  }

  /** ORDER BY with explicit NULLS FIRST / NULLS LAST on a derived
    * nullable column (dql/order_by.slt pins both directions).
    */
  def qOrderByNulls(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "orders").createOrReplaceTempView("orders")
    spark.sql(
      """SELECT o_orderkey, nullif(o_orderpriority, '3-MEDIUM') AS prio
        |FROM orders WHERE o_orderkey < 200
        |ORDER BY prio ASC NULLS FIRST, o_orderkey""".stripMargin)
  }

  /** Aggregates over an empty input: COUNT → 0 row with 0, SUM/AVG/
    * MIN/MAX → NULL (dql/empty_table.slt semantics).
    */
  def qEmptyTableAgg(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .filter(lit(false))
      .agg(count(lit(1)).as("n"), sum("o_totalprice").as("s"),
        round(avg("o_totalprice"), 4).as("a"), max("o_orderdate").as("mx"))

  /** DML pipeline as one oracle-checked query: DELETE low-value events,
    * UPDATE a tag value, apply a TTL cut, then aggregate the survivors.
    * Oracle expresses the same rewrite with WHERE + CASE.
    */
  /** PIVOT: days × event-type columns (Spark's relational pivot; the
    * oracle spells the identical CASE-aggregation semantics). Values
    * are exact cents sums floated only by the final /100 — one hash
    * aggregate, the pivot itself adds no shuffle.
    */
  def qPivot(spark: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    Tables.events(spark, dir)
      .withColumn("day", unix_micros(date_trunc("DAY", col("ts"))))
      .withColumn("cents", round(col("value") * 100).cast("long"))
      .groupBy("day")
      .pivot("event_type", types)
      .agg((sum("cents").cast("double") / 100.0).as("v"))
      .orderBy("day")
  }

  /** MERGE/upsert semantics: matched keys take the source row, both
    * sides' extras survive (cnosdb INSERT-replaces-series semantics as
    * one full-outer equijoin).
    */
  def qMergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val target = ev.filter(col("event_id") < 5000).select("event_id", "value")
    val source = ev.filter(col("event_id") % 3 === 0 && col("event_id") < 6000)
      .select(col("event_id"), (col("value") + 1).as("value"))
    Dml.upsert(target, source, Seq("event_id")).orderBy("event_id")
  }

  def qDmlRewrite(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val afterDelete = Dml.delete(ev, col("value") < 0.05)
    val afterUpdate = Dml.update(afterDelete, col("event_type") === "view",
      "event_type", lit("page_view"))
    val afterTtl = Dml.applyTtl(afterUpdate, "ts",
      lit("2024-03-01 00:00:00").cast("timestamp"), expr("INTERVAL 45 DAY"))
    afterTtl.groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
      .orderBy("event_type")
  }

  /** NULL propagation through aggregates (sqlancer-class semantics):
    * count(*) counts rows, count(col) skips nulls, sum/avg/min/max
    * ignore nulls and return NULL for all-null groups, count(DISTINCT)
    * excludes NULL.
    */
  def qNullAggSemantics(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "orders").createOrReplaceTempView("orders")
    spark.sql(
      """SELECT o_orderstatus,
        |  count(*) AS n_rows,
        |  count(nullif(o_orderpriority, '5-LOW')) AS n_nonnull,
        |  count(DISTINCT nullif(o_orderpriority, '5-LOW')) AS n_distinct,
        |  round(sum(CASE WHEN o_orderpriority = '5-LOW' THEN NULL
        |                 ELSE o_totalprice END), 4) AS sum_nonlow,
        |  round(avg(CASE WHEN o_orderpriority = '5-LOW' THEN NULL
        |                 ELSE o_totalprice END), 4) AS avg_nonlow,
        |  max(CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_orderpriority END)
        |    AS max_or_null
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  }

  /** LIMIT with OFFSET under a deterministic total order (dql/limit.slt). */
  def qLimitOffset(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "orders").createOrReplaceTempView("orders")
    spark.sql(
      """SELECT o_orderkey, o_totalprice
        |FROM orders ORDER BY o_orderkey LIMIT 25 OFFSET 100""".stripMargin)
  }

  /** Set operations: UNION (dedup), UNION ALL, INTERSECT, EXCEPT —
    * all shuffle-on-full-row ops whose semantics sqlancer probes hard.
    */
  def qSetOps(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "orders").createOrReplaceTempView("orders")
    spark.sql(
      """SELECT 'union' AS op, count(*) AS n FROM (
        |  SELECT o_orderstatus, o_orderpriority FROM orders WHERE o_orderkey < 2000
        |  UNION
        |  SELECT o_orderstatus, o_orderpriority FROM orders WHERE o_orderkey >= 1000 AND o_orderkey < 3000)
        |UNION ALL
        |SELECT 'union_all', count(*) FROM (
        |  SELECT o_orderkey FROM orders WHERE o_orderkey < 2000
        |  UNION ALL
        |  SELECT o_orderkey FROM orders WHERE o_orderkey >= 1000 AND o_orderkey < 3000)
        |UNION ALL
        |SELECT 'intersect', count(*) FROM (
        |  SELECT o_orderkey FROM orders WHERE o_orderkey < 2000
        |  INTERSECT
        |  SELECT o_orderkey FROM orders WHERE o_orderkey >= 1000 AND o_orderkey < 3000)
        |UNION ALL
        |SELECT 'except', count(*) FROM (
        |  SELECT o_orderkey FROM orders WHERE o_orderkey < 2000
        |  EXCEPT
        |  SELECT o_orderkey FROM orders WHERE o_orderkey >= 1000 AND o_orderkey < 3000)
        |ORDER BY op""".stripMargin)
  }

  /** ROLLUP: hierarchical subtotals + grand total, grouping() markers
    * (DataFusion GROUP BY ROLLUP surface cnosdb inherits).
    */
  def qRollup(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "orders").createOrReplaceTempView("orders")
    spark.sql(
      """SELECT
        |  CASE WHEN grouping(o_orderstatus) = 1 THEN '<all>' ELSE o_orderstatus END AS status,
        |  CASE WHEN grouping(o_orderpriority) = 1 THEN '<all>' ELSE o_orderpriority END AS prio,
        |  cast(grouping(o_orderstatus) AS BIGINT) AS g_status,
        |  cast(grouping(o_orderpriority) AS BIGINT) AS g_prio,
        |  count(*) AS n, round(sum(o_totalprice), 4) AS total
        |FROM orders
        |GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
        |ORDER BY g_status, g_prio, status, prio""".stripMargin)
  }

  /** CUBE: all grouping combinations. */
  def qCube(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "orders").createOrReplaceTempView("orders")
    spark.sql(
      """SELECT
        |  CASE WHEN grouping(o_orderstatus) = 1 THEN '<all>' ELSE o_orderstatus END AS status,
        |  CASE WHEN grouping(o_orderpriority) = 1 THEN '<all>' ELSE o_orderpriority END AS prio,
        |  count(*) AS n, round(sum(o_totalprice), 4) AS total
        |FROM orders
        |GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY status, prio""".stripMargin)
  }

  /** Explicit GROUPING SETS incl. the empty set (grand total). */
  def qGroupingSets(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "orders").createOrReplaceTempView("orders")
    spark.sql(
      """SELECT
        |  CASE WHEN grouping(o_orderstatus) = 1 THEN '<all>' ELSE o_orderstatus END AS status,
        |  CASE WHEN grouping(o_orderpriority) = 1 THEN '<all>' ELSE o_orderpriority END AS prio,
        |  count(*) AS n, round(sum(o_totalprice), 4) AS total
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY status, prio""".stripMargin)
  }

  /** Window frame zoo: bounded ROWS frames (moving/centered), running
    * RANGE, and a value-RANGE frame over a numeric order key.
    */
  def qWindowFrames(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "orders").createOrReplaceTempView("orders")
    spark.sql(
      """SELECT o_orderkey,
        |  round(sum(o_totalprice) OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey
        |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 4) AS moving_sum,
        |  round(avg(o_totalprice) OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey
        |    ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING), 4) AS centered_avg,
        |  round(sum(o_totalprice) OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey
        |    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_sum,
        |  count(*) OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice
        |    RANGE BETWEEN 1000 PRECEDING AND 1000 FOLLOWING) AS near_price_n
        |FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey""".stripMargin)
  }

  /** Regex function surface: like / extract-group / global replace /
    * count / first-match substr (DataFusion regexp_* slt coverage).
    * Patterns stay in the POSIX-class subset where Java and RE2 agree.
    */
  def qRegexpFuncs(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "part").createOrReplaceTempView("part")
    spark.sql(
      """SELECT p_partkey,
        |  regexp_like(p_name, '[aeiou][aeiou]') AS has_vowel_pair,
        |  regexp_extract(p_name, '([a-z]+) ([a-z]+)', 2) AS second_word,
        |  regexp_replace(p_name, '[aeiou]', '_') AS vowels_masked,
        |  cast(regexp_count(p_name, '[a-z]+') AS BIGINT) AS n_words,
        |  regexp_substr(p_name, '[a-z]+') AS first_match
        |FROM part WHERE p_partkey < 500 ORDER BY p_partkey""".stripMargin)
  }

  /** Ternary-logic partitioning (the reference's sqlancer suite): for a
    * nullable predicate p, the three-way split WHERE p / WHERE NOT p /
    * WHERE p IS NULL must cover the table exactly, and IS DISTINCT FROM
    * is the null-safe comparison.
    */
  def qTlpPartition(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "orders").createOrReplaceTempView("orders")
    spark.sql(
      """WITH p AS (
        |  SELECT o_orderkey, nullif(o_orderpriority, '3-MEDIUM') AS prio
        |  FROM orders)
        |SELECT 'a_true' AS part, count(*) AS n FROM p WHERE prio > '2'
        |UNION ALL SELECT 'b_false', count(*) FROM p WHERE NOT (prio > '2')
        |UNION ALL SELECT 'c_null', count(*) FROM p WHERE (prio > '2') IS NULL
        |UNION ALL SELECT 'd_total', count(*) FROM p
        |UNION ALL SELECT 'e_isdistinct', count(*) FROM p
        |  WHERE prio IS DISTINCT FROM '5-LOW'
        |UNION ALL SELECT 'f_notdistinct', count(*) FROM p
        |  WHERE prio IS NOT DISTINCT FROM NULL
        |ORDER BY part""".stripMargin)
  }

  /** Bit / boolean aggregates (sqlancer exercises BIT_AND; DataFusion
    * surface: bit_and/or/xor, bool_and/bool_or).
    */
  def qBitBoolAgg(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "orders").createOrReplaceTempView("orders")
    spark.sql(
      """SELECT o_orderstatus,
        |  bit_and(o_orderkey % 256) AS b_and,
        |  bit_or(o_orderkey % 256) AS b_or,
        |  bit_xor(o_orderkey % 256) AS b_xor,
        |  bool_and(o_totalprice > 1000) AS all_gt_1000,
        |  bool_or(o_orderpriority = '1-URGENT') AS any_urgent
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  }

  /** JSON field extraction over the events.props payload column —
    * get_json_object path extraction + cast, aggregated per series.
    * A pure mapper feeding a partial-aggregable group-by: the JSON
    * parse never leaves the scan stage at 100 TB.
    */
  def qJsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
        count(when(col("k") > 50, 1)).as("n_high"),
        min("k").as("min_k"), max("k").as("max_k"))
      .orderBy("event_type")

  /** Array-function zoo over ordered per-user value arrays — the
    * DataFusion array surface beyond array_agg (element access incl.
    * negative index, contains, sort+slice, distinct, fold-sum,
    * reverse). Arrays hold exact integer cents so every derived value
    * is engine-stable; the sorted-slice is serialized to CSV for the
    * compare (array-typed columns don't survive the driver's row-sort
    * hasher — the emb_quantize precedent). One hash aggregate builds
    * each user's array; everything after is a pure projection.
    */
  def qArrayFuncs(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .filter(col("user_id") < 40)
      .withColumn("c", round(col("value") * 100).cast("long"))
      .withColumn("ts_us", expr("ts_ns div 1000"))
    val arr = e.groupBy("user_id")
      .agg(sort_array(collect_list(struct(col("ts_us"), col("event_id"), col("c"))))
        .as("rows"))
      .withColumn("a", transform(col("rows"), r => r.getField("c")))
    arr.select(
        col("user_id"),
        size(col("a")).cast("long").as("n"),
        element_at(col("a"), 1).as("first_c"),
        element_at(col("a"), -1).as("last_c"),
        array_contains(col("a"), 100L).as("has_100"),
        concat_ws(",", transform(slice(sort_array(col("a"), asc = false), 1, 3),
          x => x.cast("string"))).as("top3"),
        size(array_distinct(col("a"))).cast("long").as("n_distinct"),
        aggregate(col("a"), lit(0L), (acc, x) => acc + x).as("sum_c"),
        when(size(col("a")) >= 2, element_at(reverse(col("a")), 2))
          .as("second_last_c"))
      .orderBy("user_id")
  }

  /** Table-function / LATERAL surface (DataFusion unnest): posexplode
    * of a derived array vs UNNEST WITH ORDINALITY — each user's ordered
    * cent array re-exploded with positions, then filtered on the
    * ordinal so the lateral correlation is observable. The explode is
    * map-side (no shuffle beyond the building aggregate).
    */
  def qUnnest(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .filter(col("user_id") < 15)
      .withColumn("c", round(col("value") * 100).cast("long"))
      .withColumn("ts_us", expr("ts_ns div 1000"))
    e.groupBy("user_id")
      .agg(sort_array(collect_list(struct(col("ts_us"), col("event_id"), col("c"))))
        .as("rows"))
      .withColumn("a", transform(col("rows"), r => r.getField("c")))
      .select(col("user_id"), posexplode(col("a")).as(Seq("i0", "c")))
      .withColumn("ordinal", (col("i0") + 1).cast("long"))
      .filter(col("ordinal") <= 5)
      .select("user_id", "ordinal", "c")
      .orderBy("user_id", "ordinal")
  }

  /** ntile window bucketing (the one rank-family function q_window_rank
    * leaves out): quartile assignment over a unique deterministic
    * order key, exercising the uneven-bucket rule (first n % 4 tiles
    * get the extra row).
    */
  def qNtile(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("event_type")
      .orderBy(col("ts_us"), col("event_id"))
    Tables.events(spark, dir)
      .withColumn("ts_us", expr("ts_ns div 1000"))
      .withColumn("tile", ntile(4).over(w).cast("long"))
      .groupBy("event_type", "tile")
      .agg(count(lit(1)).as("n"), min("event_id").as("first_id"),
        max("event_id").as("last_id"))
      .orderBy("event_type", "tile")
  }

  /** Date/interval arithmetic zoo (DataFusion time_functions surface
    * beyond q_time_funcs' extraction set): day/month offsets with
    * month-end clamping, month boundaries, day diffs, calendar fields,
    * ISO week truncation — ops with bit-identical cross-engine
    * semantics (Spark's Sunday=1 dayofweek is shifted to DuckDB's
    * Sunday=0). Pure projection.
    */
  def qTimeArith(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(col("user_id") < 30)
      .withColumn("d", to_date(col("ts")))
      .select(
        col("event_id"),
        col("d"),
        date_add(col("d"), 7).as("plus7"),
        add_months(col("d"), 2).as("plus2m"),
        last_day(col("d")).as("month_end"),
        datediff(col("d"), lit(java.sql.Date.valueOf("1995-01-01")))
          .cast("long").as("days_since"),
        (dayofweek(col("d")) - 1).cast("long").as("dow_sun0"),
        quarter(col("d")).cast("long").as("q"),
        date_trunc("week", col("ts")).as("week_start"),
        hour(col("ts")).cast("long").as("hh"),
        minute(col("ts")).cast("long").as("mi"))
      .orderBy("event_id")

  /** Session-info functions (reference session_function/ + session.slt:
    * current_tenant/current_role constants captured from the session
    * context; current_user/current_database are Spark built-ins graft
    * does not shadow). The lane snapshots the DEFAULT state (tenant
    * `cnosdb`, role NULL — session.slt's first block) and the ASSIGNED
    * state after `SET spark.graft.tenant/role` (the `--#TENANT=t1` /
    * role-grant block), proving resolution happens per query at
    * analysis time; confs restored after the plans are built.
    */
  private def qSessionFuncs(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    def snap(state: String) =
      s.sql("SELECT current_tenant() AS tenant, current_role() AS role")
        .select(lit(state).as("state"), col("tenant"), col("role"))
    val dflt = snap("default") // sql() analyzes eagerly: values bake here
    val (tk, rk) = (graft.functions.SessionFunctions.TenantKey,
      graft.functions.SessionFunctions.RoleKey)
    val (pt, pr) = (s.conf.getOption(tk), s.conf.getOption(rk))
    val assigned = try {
      s.conf.set(tk, "t1"); s.conf.set(rk, "r1")
      snap("assigned")
    } finally {
      pt.fold(s.conf.unset(tk))(s.conf.set(tk, _))
      pr.fold(s.conf.unset(rk))(s.conf.set(rk, _))
    }
    dflt.unionByName(assigned).orderBy("state")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_session_funcs" -> qSessionFuncs,
    "q_time_arith" -> qTimeArith,
    "q_unnest" -> qUnnest,
    "q_ntile" -> qNtile,
    "q_array_funcs" -> qArrayFuncs,
    "q_json_extract" -> qJsonExtract,
    "q_tlp_partition" -> qTlpPartition,
    "q_bit_bool_agg" -> qBitBoolAgg,
    "q_rollup" -> qRollup,
    "q_cube" -> qCube,
    "q_grouping_sets" -> qGroupingSets,
    "q_window_frames" -> qWindowFrames,
    "q_regexp_funcs" -> qRegexpFuncs,
    "q_null_agg_semantics" -> qNullAggSemantics,
    "q_limit_offset" -> qLimitOffset,
    "q_set_ops" -> qSetOps,
    "q_type_cast" -> qTypeCast,
    "q_order_by_nulls" -> qOrderByNulls,
    "q_empty_table_agg" -> qEmptyTableAgg,
    "q_pivot" -> qPivot,
    "q_merge_upsert" -> qMergeUpsert,
    "q_dml_rewrite" -> qDmlRewrite
  )

  def oracleSql: Map[String, String] = Map(
    // session.slt's two states as literals: default (cnosdb / NULL
    // role) and assigned (t1 / r1) — hash-green ⟺ the conf-resolved
    // builders produced exactly the reference's session constants
    "q_session_funcs" ->
      """SELECT * FROM (VALUES
        |  ('assigned', 't1', 'r1'),
        |  ('default', 'cnosdb', NULL)) AS t(state, tenant, role)
        |ORDER BY state""".stripMargin,
    "q_time_arith" ->
      """SELECT event_id, CAST(ts AS DATE) AS d,
        |  CAST(ts AS DATE) + 7 AS plus7,
        |  CAST(CAST(ts AS DATE) + INTERVAL 2 MONTH AS DATE) AS plus2m,
        |  last_day(CAST(ts AS DATE)) AS month_end,
        |  CAST(date_diff('day', DATE '1995-01-01', CAST(ts AS DATE))
        |    AS BIGINT) AS days_since,
        |  CAST(dayofweek(CAST(ts AS DATE)) AS BIGINT) AS dow_sun0,
        |  CAST(quarter(CAST(ts AS DATE)) AS BIGINT) AS q,
        |  CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS week_start,
        |  CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS hh,
        |  CAST(minute(CAST(ts AS TIMESTAMP)) AS BIGINT) AS mi
        |FROM events WHERE user_id < 30 ORDER BY event_id""".stripMargin,
    "q_unnest" ->
      """WITH e AS (
        |  SELECT user_id, event_id, CAST(round(value * 100) AS BIGINT) AS c,
        |    epoch_us(cast(ts AS TIMESTAMP)) AS ts_us
        |  FROM events WHERE user_id < 15),
        |a AS (
        |  SELECT user_id, array_agg(c ORDER BY ts_us, event_id) AS a
        |  FROM e GROUP BY user_id)
        |SELECT user_id, CAST(u.ord AS BIGINT) AS ordinal, u.c AS c
        |FROM a, LATERAL (
        |  SELECT unnest(a) AS c,
        |    generate_subscripts(a, 1) AS ord) u
        |WHERE u.ord <= 5
        |ORDER BY user_id, ordinal""".stripMargin,
    "q_ntile" ->
      """WITH t AS (
        |  SELECT event_type, event_id,
        |    ntile(4) OVER (PARTITION BY event_type
        |      ORDER BY epoch_us(cast(ts AS TIMESTAMP)), event_id) AS tile
        |  FROM events)
        |SELECT event_type, CAST(tile AS BIGINT) AS tile, count(*) AS n,
        |  min(event_id) AS first_id, max(event_id) AS last_id
        |FROM t GROUP BY event_type, tile
        |ORDER BY event_type, tile""".stripMargin,
    "q_array_funcs" ->
      """WITH e AS (
        |  SELECT user_id, event_id, CAST(round(value * 100) AS BIGINT) AS c,
        |    epoch_us(cast(ts AS TIMESTAMP)) AS ts_us
        |  FROM events WHERE user_id < 40),
        |a AS (
        |  SELECT user_id, array_agg(c ORDER BY ts_us, event_id) AS a
        |  FROM e GROUP BY user_id)
        |SELECT user_id,
        |  CAST(len(a) AS BIGINT) AS n,
        |  a[1] AS first_c,
        |  a[-1] AS last_c,
        |  list_contains(a, 100) AS has_100,
        |  array_to_string(list_sort(a, 'DESC')[1:3], ',') AS top3,
        |  CAST(len(list_distinct(a)) AS BIGINT) AS n_distinct,
        |  CAST(list_sum(a) AS BIGINT) AS sum_c,
        |  CASE WHEN len(a) >= 2 THEN list_reverse(a)[2] END AS second_last_c
        |FROM a ORDER BY user_id""".stripMargin,
    "q_json_extract" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(k) AS BIGINT) AS sum_k,
        |  count(CASE WHEN k > 50 THEN 1 END) AS n_high,
        |  min(k) AS min_k, max(k) AS max_k
        |FROM (SELECT event_type,
        |        CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |      FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_tlp_partition" ->
      """WITH p AS (
        |  SELECT o_orderkey, nullif(o_orderpriority, '3-MEDIUM') AS prio
        |  FROM orders)
        |SELECT 'a_true' AS part, count(*) AS n FROM p WHERE prio > '2'
        |UNION ALL SELECT 'b_false', count(*) FROM p WHERE NOT (prio > '2')
        |UNION ALL SELECT 'c_null', count(*) FROM p WHERE (prio > '2') IS NULL
        |UNION ALL SELECT 'd_total', count(*) FROM p
        |UNION ALL SELECT 'e_isdistinct', count(*) FROM p
        |  WHERE prio IS DISTINCT FROM '5-LOW'
        |UNION ALL SELECT 'f_notdistinct', count(*) FROM p
        |  WHERE prio IS NOT DISTINCT FROM NULL
        |ORDER BY part""".stripMargin,
    "q_bit_bool_agg" ->
      """SELECT o_orderstatus,
        |  bit_and(o_orderkey % 256) AS b_and,
        |  bit_or(o_orderkey % 256) AS b_or,
        |  bit_xor(o_orderkey % 256) AS b_xor,
        |  bool_and(o_totalprice > 1000) AS all_gt_1000,
        |  bool_or(o_orderpriority = '1-URGENT') AS any_urgent
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q_rollup" ->
      """SELECT
        |  CASE WHEN grouping(o_orderstatus) = 1 THEN '<all>' ELSE o_orderstatus END AS status,
        |  CASE WHEN grouping(o_orderpriority) = 1 THEN '<all>' ELSE o_orderpriority END AS prio,
        |  cast(grouping(o_orderstatus) AS BIGINT) AS g_status,
        |  cast(grouping(o_orderpriority) AS BIGINT) AS g_prio,
        |  count(*) AS n, round(sum(o_totalprice), 4) AS total
        |FROM orders
        |GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
        |ORDER BY g_status, g_prio, status, prio""".stripMargin,
    "q_cube" ->
      """SELECT
        |  CASE WHEN grouping(o_orderstatus) = 1 THEN '<all>' ELSE o_orderstatus END AS status,
        |  CASE WHEN grouping(o_orderpriority) = 1 THEN '<all>' ELSE o_orderpriority END AS prio,
        |  count(*) AS n, round(sum(o_totalprice), 4) AS total
        |FROM orders
        |GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY status, prio""".stripMargin,
    "q_grouping_sets" ->
      """SELECT
        |  CASE WHEN grouping(o_orderstatus) = 1 THEN '<all>' ELSE o_orderstatus END AS status,
        |  CASE WHEN grouping(o_orderpriority) = 1 THEN '<all>' ELSE o_orderpriority END AS prio,
        |  count(*) AS n, round(sum(o_totalprice), 4) AS total
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY status, prio""".stripMargin,
    "q_window_frames" ->
      """SELECT o_orderkey,
        |  round(sum(o_totalprice) OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey
        |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 4) AS moving_sum,
        |  round(avg(o_totalprice) OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey
        |    ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING), 4) AS centered_avg,
        |  round(sum(o_totalprice) OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey
        |    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_sum,
        |  count(*) OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice
        |    RANGE BETWEEN 1000 PRECEDING AND 1000 FOLLOWING) AS near_price_n
        |FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey""".stripMargin,
    "q_regexp_funcs" ->
      """SELECT p_partkey,
        |  regexp_matches(p_name, '[aeiou][aeiou]') AS has_vowel_pair,
        |  regexp_extract(p_name, '([a-z]+) ([a-z]+)', 2) AS second_word,
        |  regexp_replace(p_name, '[aeiou]', '_', 'g') AS vowels_masked,
        |  cast(len(regexp_extract_all(p_name, '[a-z]+')) AS BIGINT) AS n_words,
        |  regexp_extract(p_name, '[a-z]+') AS first_match
        |FROM part WHERE p_partkey < 500 ORDER BY p_partkey""".stripMargin,
    "q_null_agg_semantics" ->
      """SELECT o_orderstatus,
        |  count(*) AS n_rows,
        |  count(nullif(o_orderpriority, '5-LOW')) AS n_nonnull,
        |  count(DISTINCT nullif(o_orderpriority, '5-LOW')) AS n_distinct,
        |  round(sum(CASE WHEN o_orderpriority = '5-LOW' THEN NULL
        |                 ELSE o_totalprice END), 4) AS sum_nonlow,
        |  round(avg(CASE WHEN o_orderpriority = '5-LOW' THEN NULL
        |                 ELSE o_totalprice END), 4) AS avg_nonlow,
        |  max(CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_orderpriority END)
        |    AS max_or_null
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q_limit_offset" ->
      """SELECT o_orderkey, o_totalprice
        |FROM orders ORDER BY o_orderkey LIMIT 25 OFFSET 100""".stripMargin,
    "q_set_ops" ->
      """SELECT 'union' AS op, count(*) AS n FROM (
        |  SELECT o_orderstatus, o_orderpriority FROM orders WHERE o_orderkey < 2000
        |  UNION
        |  SELECT o_orderstatus, o_orderpriority FROM orders WHERE o_orderkey >= 1000 AND o_orderkey < 3000)
        |UNION ALL
        |SELECT 'union_all', count(*) FROM (
        |  SELECT o_orderkey FROM orders WHERE o_orderkey < 2000
        |  UNION ALL
        |  SELECT o_orderkey FROM orders WHERE o_orderkey >= 1000 AND o_orderkey < 3000)
        |UNION ALL
        |SELECT 'intersect', count(*) FROM (
        |  SELECT o_orderkey FROM orders WHERE o_orderkey < 2000
        |  INTERSECT
        |  SELECT o_orderkey FROM orders WHERE o_orderkey >= 1000 AND o_orderkey < 3000)
        |UNION ALL
        |SELECT 'except', count(*) FROM (
        |  SELECT o_orderkey FROM orders WHERE o_orderkey < 2000
        |  EXCEPT
        |  SELECT o_orderkey FROM orders WHERE o_orderkey >= 1000 AND o_orderkey < 3000)
        |ORDER BY op""".stripMargin,
    "q_type_cast" ->
      """SELECT p_partkey,
        |  cast(trunc(p_retailprice) AS BIGINT) AS c_to_int,
        |  cast(p_size AS DOUBLE) AS c_to_double,
        |  cast(p_partkey AS VARCHAR) AS c_to_str,
        |  cast(cast(p_retailprice AS VARCHAR) AS DOUBLE) AS c_str_roundtrip,
        |  TIMESTAMP '2021-03-04 05:06:07' AS c_str_ts,
        |  p_size = cast(p_size AS DOUBLE) AS c_int_eq_float,
        |  p_size < p_retailprice AS c_int_lt_float,
        |  p_retailprice BETWEEN p_size AND p_size * 100 AS c_between_mixed,
        |  cast(p_size >= 25 AS INT) AS c_bool_to_int,
        |  cast(1 AS BOOLEAN) AS c_int_to_bool
        |FROM part WHERE p_partkey < 300 ORDER BY p_partkey""".stripMargin,
    "q_order_by_nulls" ->
      """SELECT o_orderkey, nullif(o_orderpriority, '3-MEDIUM') AS prio
        |FROM orders WHERE o_orderkey < 200
        |ORDER BY prio ASC NULLS FIRST, o_orderkey""".stripMargin,
    "q_empty_table_agg" ->
      """SELECT count(*) AS n, sum(o_totalprice) AS s,
        |  round(avg(o_totalprice), 4) AS a, max(o_orderdate) AS mx
        |FROM orders WHERE false""".stripMargin,
    "q_pivot" ->
      """WITH e AS (
        |  SELECT epoch_us(date_trunc('day', cast(ts AS TIMESTAMP))) AS day,
        |    event_type, CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events)
        |SELECT day,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN cents END) AS DOUBLE) / 100.0 AS click,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN cents END) AS DOUBLE) / 100.0 AS error,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN cents END) AS DOUBLE) / 100.0 AS purchase,
        |  CAST(sum(CASE WHEN event_type = 'signup' THEN cents END) AS DOUBLE) / 100.0 AS signup,
        |  CAST(sum(CASE WHEN event_type = 'view' THEN cents END) AS DOUBLE) / 100.0 AS view
        |FROM e GROUP BY day ORDER BY day""".stripMargin,
    "q_merge_upsert" ->
      """WITH t AS (SELECT event_id, value FROM events WHERE event_id < 5000),
        |s AS (SELECT event_id, value + 1 AS value FROM events
        |      WHERE event_id % 3 = 0 AND event_id < 6000)
        |SELECT coalesce(s.event_id, t.event_id) AS event_id,
        |  CASE WHEN s.event_id IS NOT NULL THEN s.value ELSE t.value END AS value
        |FROM t FULL OUTER JOIN s ON t.event_id = s.event_id
        |ORDER BY event_id""".stripMargin,
    "q_dml_rewrite" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 4) AS sum_value FROM (
        |  SELECT CASE WHEN event_type = 'view' THEN 'page_view' ELSE event_type END AS event_type,
        |         value, cast(ts AS TIMESTAMP) AS tsx
        |  FROM events WHERE NOT coalesce(value < 0.05, false))
        |WHERE tsx >= TIMESTAMP '2024-03-01 00:00:00' - INTERVAL 45 DAY
        |GROUP BY event_type ORDER BY event_type""".stripMargin
  )
}
