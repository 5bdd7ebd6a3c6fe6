package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.types._

import graft.{Lake, Tables}
import graft.functions.Native

/** Lake schema contract, checked as a first-class driver entry.
  *
  * Round-6 failure mode: the driver re-provisioned `events.ts` from
  * INT64 nanos to `timestamp[us]` and 63 queries died at analysis time
  * with the same opaque `DATATYPE_MISMATCH` — nothing in the artifact
  * named the drifted column. `q_lake_contract` turns that class of env
  * change into ONE clear error: it projects every table's columns
  * against the expected contract and throws a readable message naming
  * each drifted/missing column before any operator lane has to crash.
  *
  * Canonicalization keeps the contract meaningful without over-pinning:
  * integer widths collapse to `integral` (benign width drift tolerated;
  * every operator lane coerces), timestamp and timestamp_ntz collapse
  * to `timestamp` (the lake writes TZ-less parquet; sessions run UTC),
  * everything else must match `simpleString` exactly. `events` is
  * checked through [[Tables.events]] — i.e. the contract validates the
  * NORMALIZED view (µs `ts` + BIGINT `ts_ns`) that both physical time
  * encodings must load to, and Tables.events itself throws readably on
  * an encoding it cannot normalize.
  */
object LakeContract {

  /** table → required (column → canonical type); extra columns in the
    * lake are additive evolution and pass.
    */
  private[graft] val expected: Seq[(String, Seq[(String, String)])] = Seq(
    "region" -> Seq("r_regionkey" -> "integral", "r_name" -> "string"),
    "nation" -> Seq("n_nationkey" -> "integral", "n_name" -> "string",
      "n_regionkey" -> "integral"),
    "customer" -> Seq("c_custkey" -> "integral", "c_name" -> "string",
      "c_nationkey" -> "integral", "c_acctbal" -> "double",
      "c_mktsegment" -> "string"),
    "supplier" -> Seq("s_suppkey" -> "integral", "s_name" -> "string",
      "s_nationkey" -> "integral", "s_acctbal" -> "double"),
    "part" -> Seq("p_partkey" -> "integral", "p_name" -> "string",
      "p_brand" -> "string", "p_type" -> "string", "p_size" -> "integral",
      "p_retailprice" -> "double"),
    "orders" -> Seq("o_orderkey" -> "integral", "o_custkey" -> "integral",
      "o_orderstatus" -> "string", "o_totalprice" -> "double",
      "o_orderdate" -> "timestamp", "o_orderpriority" -> "string"),
    "lineitem" -> Seq("l_orderkey" -> "integral", "l_partkey" -> "integral",
      "l_suppkey" -> "integral", "l_linenumber" -> "integral",
      "l_quantity" -> "double", "l_extendedprice" -> "double",
      "l_discount" -> "double", "l_tax" -> "double",
      "l_returnflag" -> "string", "l_linestatus" -> "string",
      "l_shipdate" -> "timestamp"),
    "events" -> Seq("event_id" -> "integral", "ts" -> "timestamp",
      "user_id" -> "integral", "event_type" -> "string",
      "value" -> "double", "props" -> "string", "ts_ns" -> "integral"),
    "documents" -> Seq("doc_id" -> "integral", "text" -> "string",
      "lang" -> "string", "source" -> "string", "n_chars" -> "integral"),
    "embeddings" -> Seq("vec_id" -> "integral",
      "embedding" -> "array<float>", "label" -> "integral")
  )

  private[graft] def canon(dt: DataType): String = dt match {
    case ByteType | ShortType | IntegerType | LongType => "integral"
    case TimestampType | TimestampNTZType              => "timestamp"
    case t                                             => t.simpleString
  }

  /** Violations for one table's frame vs its contract — empty = ok. */
  private[graft] def tableViolations(table: String, df: DataFrame): Seq[String] = {
    val cols = expected.find(_._1 == table).getOrElse(
      throw new IllegalArgumentException(s"no contract for table $table"))._2
    val actual = df.schema.fields.map(f => f.name -> canon(f.dataType)).toMap
    cols.flatMap { case (name, want) =>
      actual.get(name) match {
        case None => Some(s"$table.$name: MISSING (expected $want)")
        case Some(got) if got != want =>
          Some(s"$table.$name: expected $want, lake has $got")
        case _ => None
      }
    }
  }

  /** Partitions listed by the first FileSourceScan of a query's
    * executed plan. AQE wraps the whole plan in a leaf
    * AdaptiveSparkPlanExec; inspect its initial physical plan —
    * partition pruning is static, decided at file-listing time, before
    * any adaptive re-plan.
    */
  private[graft] def scannedPartitions(df: DataFrame): (Int, Long) = {
    val phys = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.initialPlan
      case p => p
    }
    val scan = phys.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.getOrElse(throw new IllegalStateException(
      "no FileSourceScan in the executed plan"))
    (scan.selectedPartitions.partitionCount,
      scan.selectedPartitions.totalNumberOfFiles)
  }

  /** Rows the first parquet scan actually EMITTED (post row-group /
    * page skipping, pre any re-applied Filter), by executing the frame
    * with AQE off so the physical plan and its metrics are directly
    * inspectable. The difference between this and the lake's row count
    * is storage-level skipping — min/max zone pruning inside files,
    * which partition pruning (directory granularity) cannot see.
    */
  private[graft] def scanOutputRows(s: SparkSession, df: DataFrame,
                                    requirePushed: Boolean = true): Long = {
    val prev = s.conf.get("spark.sql.adaptive.enabled")
    try {
      s.conf.set("spark.sql.adaptive.enabled", "false")
      // execute THIS frame's own physical plan (collect()/count() would
      // build and execute a different QueryExecution whose metrics we
      // could not read); toRdd materializes executedPlan, foreach runs
      // it on the executors without returning rows to the driver
      df.queryExecution.toRdd.foreach(_ => ())
      val scan = df.queryExecution.executedPlan.collectLeaves().collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.getOrElse(throw new IllegalStateException("no FileSourceScan"))
      if (requirePushed)
        require(scan.metadata.get("PushedFilters").exists(_.length > 2),
          s"zone-skip probe has no pushed parquet filters: ${scan.metadata.get("PushedFilters")}")
      scan.metrics("numOutputRows").value
    } finally s.conf.set("spark.sql.adaptive.enabled", prev)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Row-group ZONE skipping, proven with scan metrics the way
    // ts_partition_prune proves directory pruning (VERDICT r10 #2):
    // `zorder_key` is hash-checked as an expression (ts_zorder_key), but
    // the claim that sorting a lake by it lets parquet min/max stats
    // skip row groups for 2-D box predicates needs its own executable
    // witness. The lane stages the SAME rows twice — once z-order
    // clustered, once in natural (insertion) order — with small row
    // groups, runs one 2-D box predicate (quarter-span on user_id ×
    // quarter-span on cents) against both, and throws unless the
    // clustered scan EMITTED at most half the lake's rows while the
    // unclustered control emitted (almost) all of them: the clustered
    // layout is what lets the reader's row-group/page statistics prune,
    // the control proves the pruning came from clustering, not the
    // predicate. The box aggregate itself is oracle-checked against the
    // raw lake, so the skipping scan provably loses no rows.
    "ts_zone_skip" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      def cols(df: DataFrame) = df.select(col("event_id"), col("user_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      val blockOpts = Map("parquet.block.size" -> "16384")
      val zRoot = graft.Lake.staged(s"zorder_lake|$dir", Seq(s"$dir/events.parquet")) { p =>
        cols(Tables.eventsNanos(s, dir))
          .withColumn("zkey", Native.call("zorder_key",
            pmod(col("user_id"), lit(65536)).cast("long"),
            pmod(col("cents"), lit(65536)).cast("long")))
          .repartitionByRange(4, col("zkey")).sortWithinPartitions("zkey")
          .drop("zkey")
          .write.options(blockOpts).mode("overwrite").parquet(p.toString)
      }
      val cRoot = graft.Lake.staged(s"natural_lake|$dir", Seq(s"$dir/events.parquet")) { p =>
        cols(Tables.eventsNanos(s, dir))
          .repartitionByRange(4, col("event_id"))
          .write.options(blockOpts).mode("overwrite").parquet(p.toString)
      }
      val z = s.read.parquet(zRoot)
      // quarter-span box on both dimensions, bounds derived from the
      // data with pure integer arithmetic both engines replay
      val b = z.agg(min("user_id").as("umin"), max("user_id").as("umax"),
        min("cents").as("cmin"), max("cents").as("cmax")).head
      val (ulo, uhi) = (b.getLong(0) + (b.getLong(1) - b.getLong(0)) / 4,
        b.getLong(0) + (b.getLong(1) - b.getLong(0)) / 2)
      val (clo, chi) = (b.getLong(2) + (b.getLong(3) - b.getLong(2)) / 4,
        b.getLong(2) + (b.getLong(3) - b.getLong(2)) / 2)
      def box(df: DataFrame) = df.filter(col("user_id").between(ulo, uhi) &&
        col("cents").between(clo, chi))
      val agg = box(z).agg(count(lit(1)).as("n"),
        (sum(col("cents")).cast("double") / 100.0).as("sum_value"))
      val total = z.count()
      val zRows = scanOutputRows(s, box(z).select("event_id"))
      val cRows = scanOutputRows(s, box(s.read.parquet(cRoot)).select("event_id"))
      // The clustered scan must emit at most half the lake AND at most
      // half of what the natural-order control emitted. The control is
      // deliberately NOT required to read everything: a replicated
      // bench lake (make_sfN shifts user_id by k·1e8 per replica)
      // segregates the box dimension by replica, so even insertion
      // order lets row-group stats skip — the executable claim is that
      // z-order clustering skips materially MORE, on any lake shape.
      require(zRows * 2 <= total && zRows * 2 <= cRows,
        s"zone skipping failed: clustered scan emitted $zRows of $total rows, " +
          s"natural-order control emitted $cRows — want clustered <= half of both")
      agg
    }),

    // Partition pruning, PROVEN at plan time, not claimed: a one-day
    // predicate against the day-partitioned PRIMARY events lake
    // ([[Tables.eventsLakeRoot]] — every events read uses this layout as
    // of r11) must touch exactly one partition directory — the Spark
    // replacement for the reference's TSM time-level pruning (tskv
    // arranges files in time-range levels so a bounded query never opens
    // cold files; here Catalyst's PartitionFilters skip every other
    // day's files at FILE LISTING time, before any IO). The lane
    // inspects its own executed plan's FileSourceScan listing and throws
    // unless (pruned partitions == 1) < (total days in the lake), so the
    // green row IS the executable claim; the data answer (per-type
    // count + cents-exact sum for the lake's first day) is
    // oracle-checked against the same predicate over the raw lake.
    "ts_partition_prune" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val days = Tables.eventsLakeDays(s, dir) // O(days) directory listing
      val day0 = days.head
      val q = Tables.eventsDayLake(s, dir).filter(col("day") === day0)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          (sum(round(col("value") * 100).cast("long")).cast("double") / 100.0)
            .as("sum_value"))
        .withColumn("day", lit(day0))
        .select("day", "event_type", "n", "sum_value")
        .orderBy("event_type")
      val (scanned, files) = scannedPartitions(q)
      require(days.size > 1 && scanned == 1,
        s"partition pruning failed: one-day predicate scanned $scanned of " +
          s"${days.size} day partitions ($files files)")
      q
    }),

    // HIDDEN partition pruning, proven the same way (VERDICT r10 #1's
    // "promote pruning to the lake design" completed): this lane never
    // mentions the partition column — it filters the NORMALIZED events
    // view on a µs-timestamp range, exactly as every user query would,
    // and [[graft.plans.EventTimeDayPruning]] derives the day-partition
    // bound from the time predicate (the plain-parquet form of Iceberg
    // hidden partitioning). The lane throws unless its own executed
    // plan's file listing pruned to exactly 1 of N day partitions, so
    // the green row proves time-bounded queries are O(day), not
    // O(lake), through the ordinary read path. Negative control (rule
    // removed → all days listed) is spec-pinned in ContractSpec.
    "ts_prune_hidden" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val days = Tables.eventsLakeDays(s, dir)
      require(days.size > 1, s"lake at $dir spans ${days.size} day(s); " +
        "the hidden-pruning lane needs at least 2")
      val d1 = java.time.LocalDate.parse(days(1)) // the lake's SECOND day
      val q = Tables.events(s, dir)
        .filter(col("ts") >= expr(s"TIMESTAMP '$d1 00:00:00'") &&
          col("ts") < expr(s"TIMESTAMP '${d1.plusDays(1)} 00:00:00'"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          (sum(round(col("value") * 100).cast("long")).cast("double") / 100.0)
            .as("sum_value"))
        .withColumn("day", lit(d1.toString))
        .select("day", "event_type", "n", "sum_value")
        .orderBy("event_type")
      val (scanned, files) = scannedPartitions(q)
      require(scanned == 1,
        s"hidden partition pruning failed: one-day time predicate scanned " +
          s"$scanned of ${days.size} day partitions ($files files)")
      q
    }),

    // The reference's date_bin/TSBS dashboard idiom (tsbench/
    // avg_daily_driving_duration.slt): the day is named through
    // `date_trunc('day', ts)`, not a raw range — r11's rule full-scanned
    // this shape silently (VERDICT r11 #1). The lane throws unless the
    // derived day bound pruned the listing to exactly 1 of N partitions.
    "ts_prune_date_trunc" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val days = Tables.eventsLakeDays(s, dir)
      require(days.size > 2, s"lake spans ${days.size} day(s); need at least 3")
      val d2 = days(2)
      val q = Tables.events(s, dir)
        .filter(expr(s"date_trunc('day', ts) = TIMESTAMP '$d2 00:00:00'"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          (sum(round(col("value") * 100).cast("long")).cast("double") / 100.0)
            .as("sum_value"))
        .withColumn("day", lit(d2))
        .select("day", "event_type", "n", "sum_value")
        .orderBy("event_type")
      val (scanned, files) = scannedPartitions(q)
      require(scanned == 1,
        s"date_trunc pruning failed: one-day predicate scanned $scanned of " +
          s"${days.size} day partitions ($files files)")
      q
    }),

    // Disjunctive hidden pruning end-to-end (VERDICT r11 #8): a
    // `date_trunc('day', ts) IN (…)` day list — resolved by the rule
    // into `day IN (…)` — must list exactly list-size partitions.
    "ts_prune_inlist" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val days = Tables.eventsLakeDays(s, dir)
      require(days.size > 3, s"lake spans ${days.size} day(s); need at least 4")
      val (da, db) = (days(1), days(3))
      val q = Tables.events(s, dir)
        .filter(expr(s"date_trunc('day', ts) IN " +
          s"(TIMESTAMP '$da 00:00:00', TIMESTAMP '$db 00:00:00')"))
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          (sum(round(col("value") * 100).cast("long")).cast("double") / 100.0)
            .as("sum_value"))
        .orderBy("day", "event_type")
      val (scanned, files) = scannedPartitions(q)
      require(scanned == 2,
        s"IN-list pruning failed: two-day list scanned $scanned of " +
          s"${days.size} day partitions ($files files)")
      q
    }),

    // OR'd time ranges (two disjoint days expressed as µs-timestamp
    // ranges, the union-of-dashboards shape): per-disjunct day ranges
    // are unioned, so the listing must hold exactly the 2 named days.
    "ts_prune_or_ranges" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val days = Tables.eventsLakeDays(s, dir)
      require(days.size > 4, s"lake spans ${days.size} day(s); need at least 5")
      val (da, db) = (java.time.LocalDate.parse(days.head),
        java.time.LocalDate.parse(days(4)))
      def dayRange(d: java.time.LocalDate) =
        col("ts") >= expr(s"TIMESTAMP '$d 00:00:00'") &&
          col("ts") < expr(s"TIMESTAMP '${d.plusDays(1)} 00:00:00'")
      val q = Tables.events(s, dir)
        .filter(dayRange(da) || dayRange(db))
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          (sum(round(col("value") * 100).cast("long")).cast("double") / 100.0)
            .as("sum_value"))
        .orderBy("day", "event_type")
      val (scanned, files) = scannedPartitions(q)
      require(scanned == 2,
        s"OR-range pruning failed: two disjoint day ranges scanned $scanned " +
          s"of ${days.size} day partitions ($files files)")
      q
    }),

    // The date_format STRING-equality dashboard idiom (VERDICT r12
    // #5b): `date_format(ts, 'yyyy-MM-dd') = '<day>'` names one day
    // through a string render — r12's rule full-scanned this shape.
    // Throws unless the derived day bound pruned to exactly 1 of N.
    "ts_prune_date_format" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val days = Tables.eventsLakeDays(s, dir)
      require(days.size > 3, s"lake spans ${days.size} day(s); need at least 4")
      val d3 = days(3)
      val q = Tables.events(s, dir)
        .filter(expr(s"date_format(ts, 'yyyy-MM-dd') = '$d3'"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          (sum(round(col("value") * 100).cast("long")).cast("double") / 100.0)
            .as("sum_value"))
        .withColumn("day", lit(d3))
        .select("day", "event_type", "n", "sum_value")
        .orderBy("event_type")
      val (scanned, files) = scannedPartitions(q)
      require(scanned == 1,
        s"date_format pruning failed: one-day string equality scanned " +
          s"$scanned of ${days.size} day partitions ($files files)")
      q
    }),

    // Hidden pruning under a NON-UTC fixed-offset session (VERDICT r12
    // #5a): a '+08:00' dashboard asking for one LOCAL day — via
    // date_trunc in local wall time — covers a UTC window straddling
    // two day directories; r12's rule refused non-UTC sessions and
    // full-scanned. The lane flips the session offset, throws unless
    // the shifted derived bound listed exactly the 2 straddled dirs of
    // N, and oracle-checks the answer against the equivalent UTC window
    // [d2 - 8h, d2 + 16h) over the raw lake.
    "ts_prune_offset_session" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val days = Tables.eventsLakeDays(s, dir)
      require(days.size > 2, s"lake spans ${days.size} day(s); need at least 3")
      val d2 = days(2)
      val tzKey = "spark.sql.session.timeZone"
      val savedTz = s.conf.get(tzKey)
      try {
        s.conf.set(tzKey, "+08:00")
        val q = Tables.events(s, dir)
          .filter(expr(s"date_trunc('day', ts) = TIMESTAMP '$d2 00:00:00'"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            (sum(round(col("value") * 100).cast("long")).cast("double") / 100.0)
              .as("sum_value"))
          .withColumn("day", lit(d2))
          .select("day", "event_type", "n", "sum_value")
          .orderBy("event_type")
        val (scanned, files) = scannedPartitions(q)
        require(scanned == 2,
          s"offset-session pruning failed: one +08:00 local day scanned " +
            s"$scanned of ${days.size} day partitions ($files files) — " +
            "want exactly the 2 straddled UTC days")
        // materialize under the flipped offset so the restored conf
        // cannot re-parse the literal at execution time
        val out = q.collect()
        s.createDataFrame(s.sparkContext.parallelize(out.toSeq, 1), q.schema)
      } finally s.conf.set(tzKey, savedTz)
    }),

    // Pruning must survive a JOIN (VERDICT r12 #6): the classic
    // dashboard shape — events joined to a small dimension, the time
    // filter written against the JOINED result — relies on Catalyst
    // pushing the filter below the join before the day bound can be
    // derived; a plan-shape regression here would be a silent full scan
    // under every enriched query. The lane joins events to a broadcast
    // category dim, filters a two-day window on the join OUTPUT, and
    // throws unless (a) the events scan listed exactly 2 of N day
    // partitions and (b) the join is a broadcast (no shuffled join for
    // a 5-row dim). The per-category aggregate is oracle-checked via
    // the same VALUES dim in DuckDB.
    "ts_prune_join" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      import s.implicits._
      val days = Tables.eventsLakeDays(s, dir)
      require(days.size > 2, s"lake spans ${days.size} day(s); need at least 3")
      val (da, db) = (java.time.LocalDate.parse(days(1)),
        java.time.LocalDate.parse(days(2)))
      val dim = Seq(
        "click" -> "engagement", "view" -> "engagement",
        "purchase" -> "revenue", "signup" -> "growth",
        "error" -> "reliability").toDF("event_type", "category")
      val q = Tables.events(s, dir)
        .join(dim, "event_type")
        .filter(col("ts") >= expr(s"TIMESTAMP '$da 00:00:00'") &&
          col("ts") < expr(s"TIMESTAMP '${db.plusDays(1)} 00:00:00'"))
        .groupBy("category")
        .agg(count(lit(1)).as("n"),
          (sum(round(col("value") * 100).cast("long")).cast("double") / 100.0)
            .as("sum_value"))
        .orderBy("category")
      val (scanned, files) = scannedPartitions(q)
      require(scanned == 2,
        s"pruning under a join failed: two-day window scanned $scanned of " +
          s"${days.size} day partitions ($files files)")
      require(q.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
        "the 5-row dim must join as a broadcast, never a shuffle")
      q
    }),

    // Tag-dimension zone skipping (VERDICT r11 #3): the primary lake
    // sorts each day file by (event_type, ts) — tskv's series-key order
    // — so at production row-group sizes a one-tag dashboard query reads
    // only the tag's share of each day's row groups. A toy-scale (day,
    // tag) slice (~67 rows at sf0.01) is SMALLER than parquet's minimum
    // row group, so the witness is a scale model of ONE day directory's
    // INSIDE: the whole lake staged as one type-major file (exactly the
    // ordering the primary rule writes within each day dir) with ~100-
    // row groups, versus the same rows in time-only order as control.
    // The lane throws unless the one-tag scan over the series-clustered
    // copy EMITTED at most 2× the tag's true row share (the factor
    // covers boundary row-group quantization), at most half the lake,
    // and never more than the control — with parquet filters pushed,
    // asserted from the scan's own numOutputRows metric. The per-day aggregate of the tag
    // is oracle-checked against the raw lake, so skipping provably
    // loses no rows.
    "ts_tag_zone_skip" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val fineOpts = Map("parquet.block.size" -> "1024")
      def cols(df: DataFrame) = df.select(col("ts").as("ts_ns"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      val zRoot = graft.Lake.staged(s"tag_zone_lake_v2|$dir", Seq(s"$dir/events.parquet")) { p =>
        cols(Tables.eventsNanos(s, dir))
          .repartitionByRange(4, col("event_type"), col("ts_ns"))
          .sortWithinPartitions("event_type", "ts_ns")
          .write.options(fineOpts).mode("overwrite").parquet(p.toString)
      }
      val cRoot = graft.Lake.staged(s"tag_zone_control_v2|$dir", Seq(s"$dir/events.parquet")) { p =>
        cols(Tables.eventsNanos(s, dir))
          .repartitionByRange(4, col("ts_ns")).sortWithinPartitions("ts_ns")
          .write.options(fineOpts).mode("overwrite").parquet(p.toString)
      }
      val z = s.read.parquet(zRoot)
      val types = z.select("event_type").distinct().orderBy("event_type")
        .collect().map(_.getString(0))
      val t = types(types.length / 2) // deterministic middle tag
      def oneTag(df: DataFrame) = df.filter(col("event_type") === t)
      val zRows = scanOutputRows(s, oneTag(z).select("cents"))
      val cRows = scanOutputRows(s, oneTag(s.read.parquet(cRoot)).select("cents"))
      val tagRows = z.filter(col("event_type") === t).count()
      val total = z.count()
      // The clustered scan must emit (close to) ONLY the tag — within 2×
      // of its true row share (boundary-group quantization) — while
      // staying at most half the lake and never worse than the control.
      // The control is deliberately NOT required to read everything:
      // replicated bench lakes (make_sfN) give even insertion order
      // partial tag locality (at sf10 the ts-ordered control skipped 68%
      // on its own), exactly the ts_zone_skip r11 lesson — the claim is
      // that series-key clustering reaches the tag's SHARE, which
      // time-only ordering never does.
      require(zRows <= 2 * tagRows && zRows * 2 <= total && zRows <= cRows,
        s"tag zone skipping failed: series-clustered scan emitted $zRows rows " +
          s"for one tag of $tagRows rows (lake $total, time-only control " +
          s"emitted $cRows) — want clustered <= 2x the tag's share, <= half " +
          s"the lake, and never worse than the control")
      oneTag(z)
        .groupBy(date_format(timestamp_micros(expr("ts_ns div 1000")),
          "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n"),
          (sum(col("cents")).cast("double") / 100.0).as("sum_value"))
        .withColumn("event_type", lit(t))
        .select("day", "event_type", "n", "sum_value")
        .orderBy("day")
    }),

    // TTL as day-directory lifecycle (VERDICT r11 #6): retention on the
    // day layout is a metadata DROP of whole expired directories plus
    // ONE boundary-day rewrite — the actual 100 TB mechanism behind the
    // reference's data_ttl.slt semantics (tskv drops whole time-level
    // files). The lane copies the primary lake, expires everything
    // before the middle day's NOON, and throws unless (a) every expired
    // day directory is GONE from the listing, (b) exactly the expected
    // count was dropped with the boundary rewritten, and (c) the
    // remaining lake's full-scan answer — no residual filter; the
    // layout itself now IS the retention predicate — matches the raw
    // lake's `ts >= cutoff` aggregate in the oracle.
    "ts_ttl_expire" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val src = java.nio.file.Paths.get(Tables.eventsLakeRoot(s, dir))
      val root = java.nio.file.Files.createTempDirectory("graft_ttl_lake")
      copyTree(src, root)
      val days = Tables.eventsLakeDays(s, dir)
      require(days.size > 2, s"lake spans ${days.size} day(s); need at least 3")
      val mid = days(days.size / 2)
      val cutoffNs = java.time.LocalDate.parse(mid).toEpochDay * Tables.NsPerDay +
        Tables.NsPerDay / 2
      // the copy has the primary layout's schema: every read of it below
      // takes that schema instead of inferring it in a job of its own
      // (`day` is in the directory names, not in the files)
      val lakeSchema = Tables.eventsDayLake(s, dir).schema
      val stats = graft.operators.Dml.expireDays(s, root.toString, cutoffNs,
        fileSchema = Some(Tables.eventsNanos(s, dir).schema))
      val remaining = Option(root.toFile.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("day="))
        .map(_.getName.stripPrefix("day=")).sorted.toSeq
      require(remaining == days.filter(_ >= mid),
        s"TTL listing wrong: expected days >= $mid, lake has ${remaining.mkString(",")}")
      require(stats.droppedDays == days.count(_ < mid) && stats.boundaryRewritten,
        s"TTL stats wrong: $stats for cutoff $mid+12h over ${days.size} days")
      s.read.schema(lakeSchema).parquet(root.toString)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          (sum(round(col("value") * 100).cast("long")).cast("double") / 100.0)
            .as("sum_value"))
        .orderBy("event_type")
    }),

    // Compaction on the PRIMARY day layout — the remaining lifecycle
    // op composed end-to-end (streaming ingest writes a file per
    // trigger per partition; a year of 1-minute triggers is half a
    // million tiny files): the lane copies the primary lake, FRAGMENTS
    // one day directory into 16 tiny files (what a day of micro-batch
    // appends leaves behind), runs Dml.compact on that one directory
    // with the primary's (event_type, ts) series-key sort — restoring
    // both file count and zone-map clustering — and throws unless (a)
    // the fragmentation really happened, (b) compaction leveled the
    // directory to its size-derived file count (1 at toy scale), and
    // (c) a one-day query over the compacted lake still prunes to
    // exactly that directory. The answer is oracle-checked against the
    // raw lake (ts_prune_hidden's SQL verbatim — the compacted layout
    // must answer identically to the never-fragmented one).
    "ts_compact_daylake" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val src = java.nio.file.Paths.get(Tables.eventsLakeRoot(s, dir))
      val root = java.nio.file.Files.createTempDirectory("graft_compact_lake")
      copyTree(src, root)
      val days = Tables.eventsLakeDays(s, dir)
      require(days.size > 1, s"lake spans ${days.size} day(s)")
      val d1 = days(1)
      val dayDir = root.resolve(s"day=$d1")
      def partFiles() = Option(dayDir.toFile.listFiles()).getOrElse(Array.empty)
        .count(_.getName.startsWith("part-"))
      // every read of the copy takes the primary layout's known schema
      // (`day` is in the directory names, not in the files)
      val lakeSchema = Tables.eventsDayLake(s, dir).schema
      val fileSchema = Tables.eventsNanos(s, dir).schema
      // fragment: one day re-written as 16 micro-batch-sized files,
      // written beside the dir (a dir cannot be overwritten from a scan
      // of itself) and swapped in
      val frag = java.nio.file.Files.createTempDirectory("graft_compact_frag")
      s.read.schema(fileSchema).parquet(dayDir.toString).repartition(16)
        .write.mode("overwrite").parquet(frag.toString)
      swapFilesIn(frag, dayDir)
      val fragmented = partFiles()
      require(fragmented >= 16, s"fragmentation failed: $fragmented part files")
      // compact THAT directory back, series-key sorted
      val out = java.nio.file.Files.createTempDirectory("graft_compact_out")
      val target = graft.operators.Dml.compact(s, dayDir.toString, out.toString,
        sortCols = Seq("event_type", "ts"), fileSchema = Some(fileSchema))
      swapFilesIn(out, dayDir)
      val after = partFiles()
      require(after == target && after < fragmented,
        s"compaction did not level the day: $fragmented -> $after files (target $target)")
      // the compacted lake must still answer and prune like the primary
      val q = s.read.schema(lakeSchema).parquet(root.toString)
        .filter(col("day") === d1)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          (sum(round(col("value") * 100).cast("long")).cast("double") / 100.0)
            .as("sum_value"))
        .withColumn("day", lit(d1))
        .select("day", "event_type", "n", "sum_value")
        .orderBy("event_type")
      val (scanned, files) = scannedPartitions(q)
      require(scanned == 1 && files == target,
        s"pruning over the compacted lake failed: scanned $scanned partitions, " +
          s"$files files (want 1 partition, $target files)")
      q
    }),

    // The "bucketed by tag" half of SURVEY §5's events layout rule, now
    // proven on the UNIFIED catalog table (VERDICT r12 #2 — previously a
    // separate single-purpose bucketed table; also closes ADVICE r12's
    // staging leak: the unified layout is Lake.staged once per (lake,
    // fingerprint), not re-written per invocation): per-series
    // aggregation over the day-partitioned + event_type-bucketed +
    // (event_type, ts)-sorted table must run WITHOUT a shuffle — the
    // bucketed scan's hash distribution already satisfies the group-by
    // across ALL day partitions (bucket ids are file-name metadata, so
    // files of one bucket from every day land in one task). The lane
    // throws if any hash exchange appears; the aggregate is
    // oracle-checked against the raw lake.
    "ts_bucketed_series_agg" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val tbl = Tables.eventsUnifiedTable(s, dir)
      val q = s.table(tbl)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          (sum(round(col("value") * 100).cast("long")).cast("double") / 100.0)
            .as("sum_value"),
          min("ts").as("first_ns"), max("ts").as("last_ns"))
        .orderBy("event_type")
      val plan = q.queryExecution.executedPlan.toString
      require(!plan.contains("Exchange hashpartitioning"),
        "per-series aggregation over the tag-bucketed unified table must " +
          "not shuffle — the bucketed scan already satisfies the distribution")
      q
    }),

    // Hidden day pruning on the SAME unified catalog table (the other
    // half of VERDICT r12 #2): a two-day µs-timestamp window — the
    // ordinary dashboard shape, never naming the partition column —
    // must prune the catalog table's file listing to exactly 2 of N day
    // partitions, with N cross-checked against the catalog's own
    // partition inventory (SHOW PARTITIONS). Proves the optimizer rule
    // fires on catalog-backed relations exactly as on path reads.
    "ts_unified_prune" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val tbl = Tables.eventsUnifiedTable(s, dir)
      val days = s.sql(s"SHOW PARTITIONS $tbl").collect()
        .map(_.getString(0).stripPrefix("day=")).sorted.toSeq
      require(days.size > 2, s"unified table holds ${days.size} day(s); need 3+")
      val (da, db) = (java.time.LocalDate.parse(days(1)),
        java.time.LocalDate.parse(days(1)).plusDays(1))
      val q = s.table(tbl)
        .withColumn("tstamp", timestamp_micros(expr("ts div 1000")))
        .filter(col("tstamp") >= expr(s"TIMESTAMP '$da 00:00:00'") &&
          col("tstamp") < expr(s"TIMESTAMP '${db.plusDays(1)} 00:00:00'"))
        .groupBy(date_format(col("tstamp"), "yyyy-MM-dd").as("day"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          (sum(round(col("value") * 100).cast("long")).cast("double") / 100.0)
            .as("sum_value"))
        .orderBy("day", "event_type")
      val (scanned, files) = scannedPartitions(q)
      require(scanned == 2,
        s"unified-table hidden pruning failed: two-day window scanned " +
          s"$scanned of ${days.size} catalog partitions ($files files)")
      q
    }),

    // BOTH layout properties in ONE query on the one table — the
    // composed production shape SURVEY §5 promises: a one-day per-series
    // dashboard aggregate must simultaneously (a) prune the listing to
    // exactly 1 of N day partitions via the derived time bound and (b)
    // aggregate shuffle-free off the bucketed scan. Answer
    // oracle-checked with ts_prune_hidden's SQL verbatim — every layout
    // (path day lake, compacted lake, unified catalog table) must answer
    // the second day identically.
    "ts_unified_layout" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val tbl = Tables.eventsUnifiedTable(s, dir)
      val days = s.sql(s"SHOW PARTITIONS $tbl").collect()
        .map(_.getString(0).stripPrefix("day=")).sorted.toSeq
      require(days.size > 1, s"unified table holds ${days.size} day(s)")
      val d1 = java.time.LocalDate.parse(days(1))
      val q = s.table(tbl)
        .withColumn("tstamp", timestamp_micros(expr("ts div 1000")))
        .filter(col("tstamp") >= expr(s"TIMESTAMP '$d1 00:00:00'") &&
          col("tstamp") < expr(s"TIMESTAMP '${d1.plusDays(1)} 00:00:00'"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          (sum(round(col("value") * 100).cast("long")).cast("double") / 100.0)
            .as("sum_value"))
        .withColumn("day", lit(d1.toString))
        .select("day", "event_type", "n", "sum_value")
        .orderBy("event_type")
      val (scanned, files) = scannedPartitions(q)
      require(scanned == 1,
        s"unified-layout pruning failed: one-day window scanned $scanned " +
          s"of ${days.size} catalog partitions ($files files)")
      val plan = q.queryExecution.executedPlan.toString
      require(!plan.contains("Exchange hashpartitioning"),
        "one-day per-series aggregate over the unified table must not shuffle")
      q
    }),

    // Multi-tag series keys (VERDICT r12 stretch): cnosdb series keys
    // are tag SETS — the witness generalizes both layout claims to a
    // two-tag tuple on one catalog table bucketed by (event_type,
    // region) and sorted (event_type, region, ts): (a) per-series
    // aggregation over the FULL tuple runs with zero hash exchanges
    // (the tuple-bucketed scan already satisfies the distribution), and
    // (b) a one-series scan — both tags pinned — emits at most 2× the
    // pair's true row share and at most half the lake (sort-order
    // row-group skipping on the composite key). The 15-series aggregate
    // is oracle-checked with the same derived second tag in DuckDB.
    "ts_multitag_series" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val tbl = Tables.eventsMultiTagTable(s, dir)
      val q = s.table(tbl)
        .groupBy("event_type", "region")
        .agg(count(lit(1)).as("n"),
          (sum(col("cents")).cast("double") / 100.0).as("sum_value"),
          min("ts").as("first_ns"), max("ts").as("last_ns"))
        .orderBy("event_type", "region")
      val plan = q.queryExecution.executedPlan.toString
      require(!plan.contains("Exchange hashpartitioning"),
        "two-tag per-series aggregation over the tuple-bucketed layout " +
          "must not shuffle")
      // clustered-scan witness: pin one (tag1, tag2) series
      val t = s.table(tbl)
      val pair = t.select("event_type", "region").distinct()
        .orderBy("event_type", "region").collect()
      val (pt, pr) = (pair(pair.length / 2).getString(0),
        pair(pair.length / 2).getString(1))
      def one(df: DataFrame) = df.filter(col("event_type") === pt &&
        col("region") === pr)
      val emitted = scanOutputRows(s, one(t).select("cents"))
      val share = one(t).count()
      val total = t.count()
      // Physical floor of the strict 2×share bound: sort-order skipping
      // reads whole row groups, so a one-series scan cannot emit fewer
      // rows than the groups its series straddles. With the 4 KB block
      // target the staging write sets, groups are ~100-200 rows — a
      // series under ~512 rows (the sf0.001 smoke lake's 64-row series)
      // sits inside a couple of groups and the honest bound is one
      // bucket's occupancy (bucket PRUNING still proven: ≤ 1/buckets of
      // the lake). The strict bound applies unchanged everywhere it has
      // ever held (every sf ≥ 0.01, where series ≥ 640 rows). This was
      // a latent r13 defect surfaced by the first full sf0.001 verify
      // (r15); the lane's ANSWER was always oracle-checked at every sf.
      val buckets = s.sql(s"DESCRIBE TABLE EXTENDED $tbl").collect()
        .find(r => r.getString(0).trim == "Num Buckets")
        .map(_.getString(1).trim.toInt)
        .getOrElse(sys.error(s"no bucket spec found on $tbl"))
      val limit =
        if (share >= 512) 2 * share
        else math.max(2 * share, (total + buckets - 1) / buckets)
      require(emitted <= limit && emitted * 2 <= total,
        s"two-tag series clustering failed: one-series scan emitted $emitted " +
          s"rows for a series of $share (lake $total, $buckets buckets, " +
          s"limit $limit) — want <= 2x the series share (or <= one bucket's " +
          "occupancy below row-group granularity) and <= half the lake")
      q
    }),

    // Multi-tag series keys COMPOSED with time partitioning (new r13 —
    // the tskv shape for a multi-tag schema, time levels × multi-tag
    // series files, on ONE catalog table): a one-day per-tuple-series
    // dashboard aggregate over the day-partitioned + (event_type,
    // region)-tuple-bucketed + tuple-sorted table must simultaneously
    // (a) prune the catalog listing to exactly 1 of N day partitions
    // via the derived time bound (never naming the partition column)
    // and (b) aggregate shuffle-free off the tuple-bucketed scan — the
    // two-tag generalization of ts_unified_layout. Answer oracle-checked
    // in DuckDB with the same derived second tag.
    "ts_multitag_day" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val tbl = Tables.eventsMultiTagDayTable(s, dir)
      val days = s.sql(s"SHOW PARTITIONS $tbl").collect()
        .map(_.getString(0).stripPrefix("day=")).sorted.toSeq
      require(days.size > 1, s"multi-tag day table holds ${days.size} day(s)")
      val d1 = java.time.LocalDate.parse(days(1))
      val q = s.table(tbl)
        .withColumn("tstamp", timestamp_micros(expr("ts div 1000")))
        .filter(col("tstamp") >= expr(s"TIMESTAMP '$d1 00:00:00'") &&
          col("tstamp") < expr(s"TIMESTAMP '${d1.plusDays(1)} 00:00:00'"))
        .groupBy("event_type", "region")
        .agg(count(lit(1)).as("n"),
          (sum(col("cents")).cast("double") / 100.0).as("sum_value"))
        .withColumn("day", lit(d1.toString))
        .select("day", "event_type", "region", "n", "sum_value")
        .orderBy("event_type", "region")
      val (scanned, _) = scannedPartitions(q)
      require(scanned == 1,
        s"multi-tag day pruning failed: one-day window scanned $scanned " +
          s"of ${days.size} catalog partitions")
      require(!q.queryExecution.executedPlan.toString
          .contains("Exchange hashpartitioning"),
        "one-day per-tuple-series aggregate over the multi-tag day table " +
          "must not shuffle")
      q
    }),

    // TTL lifecycle ON the unified catalog table (new r13 — composing
    // r12's two headline pieces: the day+bucket+sort layout and the
    // day-directory retention mechanism must survive each other).
    // Dml.expireDaysUnified drops fully-expired days from the CATALOG
    // (ALTER TABLE DROP PARTITION — O(dropped) metadata, then the dir)
    // and rewrites the one straddling day THROUGH the table (INSERT
    // OVERWRITE that partition), so the replacement keeps the bucket-id
    // file naming and in-file series sort. The lane copies the staged
    // unified root, registers a private table over it, expires before
    // the middle day's noon, and throws unless (a) the catalog listing
    // is exactly the surviving days, (b) the drop/rewrite stats are
    // exact, (c) the rewritten boundary directory still holds
    // bucket-named parquet files, and (d) BOTH layout witnesses hold on
    // the post-TTL table — a one-day window prunes the catalog listing
    // to 1 partition AND the per-series aggregate plans zero hash
    // exchanges. The answer is the expired table's UNFILTERED per-series
    // aggregate vs the raw lake's `ts >= cutoff` oracle (ts_ttl_expire's
    // SQL verbatim — both lifecycles must implement the same predicate).
    "ts_ttl_unified" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val (tbl, root) = privateUnifiedCopy(s, dir, "graft_ttl_unified")
      def partitions(): Seq[String] = s.sql(s"SHOW PARTITIONS $tbl").collect()
        .map(_.getString(0).stripPrefix("day=")).sorted.toSeq
      val days = partitions()
      require(days.size > 2, s"unified table spans ${days.size} day(s); need 3+")
      val mid = days(days.size / 2)
      val cutoffNs = java.time.LocalDate.parse(mid).toEpochDay * Tables.NsPerDay +
        Tables.NsPerDay / 2
      val stats = graft.operators.Dml.expireDaysUnified(s, tbl, cutoffNs)
      val remaining = partitions()
      require(remaining == days.filter(_ >= mid),
        s"unified TTL catalog listing wrong: expected days >= $mid, " +
          s"table lists ${remaining.mkString(",")}")
      require(stats.droppedDays == days.count(_ < mid) && stats.boundaryRewritten,
        s"unified TTL stats wrong: $stats for cutoff $mid+12h over ${days.size} days")
      // the INSERT OVERWRITE path preserved the bucketed layout: every
      // parquet file in the rewritten boundary dir carries a bucket id
      val bFiles = Option(new java.io.File(root.toFile, s"day=$mid").listFiles())
        .getOrElse(Array.empty).map(_.getName).filter(_.endsWith(".parquet"))
      require(bFiles.nonEmpty && bFiles.forall(_.matches(".*_\\d{5}\\..*parquet")),
        s"boundary rewrite lost the bucket file layout: ${bFiles.mkString(",")}")
      // both layout witnesses still hold AFTER retention
      val d1 = java.time.LocalDate.parse(remaining(1))
      val probe = s.table(tbl)
        .withColumn("tstamp", timestamp_micros(expr("ts div 1000")))
        .filter(col("tstamp") >= expr(s"TIMESTAMP '$d1 00:00:00'") &&
          col("tstamp") < expr(s"TIMESTAMP '${d1.plusDays(1)} 00:00:00'"))
        .groupBy("event_type").agg(count(lit(1)).as("n"))
      val (scanned, _) = scannedPartitions(probe)
      require(scanned == 1,
        s"post-TTL pruning failed: one-day window scanned $scanned of " +
          s"${remaining.size} partitions")
      val q = s.table(tbl)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          (sum(round(col("value") * 100).cast("long")).cast("double") / 100.0)
            .as("sum_value"))
        .orderBy("event_type")
      require(!q.queryExecution.executedPlan.toString
          .contains("Exchange hashpartitioning"),
        "post-TTL per-series aggregate over the unified table must not shuffle")
      q
    }),

    // Compaction ON the unified catalog table (new r13 — the other
    // lifecycle op composed with the layout): every micro-batch INSERT
    // INTO appends a fresh bucket-file set per task, so a day of K
    // triggers holds ~K× the files. The lane fragments one day of a
    // private copy exactly that way (4 single-task re-inserts of its own
    // rows), then Dml.compactUnified re-levels the partition THROUGH the
    // table — aside + INSERT OVERWRITE with the frame repartitioned on
    // the bucket columns, so each task owns one bucket — and throws
    // unless (a) fragmentation really happened, (b) compaction leveled
    // to ≤ one file per bucket, all bucket-named, and (c) BOTH layout
    // witnesses still hold (the compacted day prunes to 1 catalog
    // partition; the per-series aggregate plans zero hash exchanges).
    // Answer = the compacted day's per-series aggregate vs
    // ts_prune_hidden's oracle SQL verbatim: the fragmented-then-
    // compacted table must answer identically to the never-touched lake.
    "ts_compact_unified" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val (tbl, root) = privateUnifiedCopy(s, dir, "graft_compact_unified")
      val days = s.sql(s"SHOW PARTITIONS $tbl").collect()
        .map(_.getString(0).stripPrefix("day=")).sorted.toSeq
      require(days.size > 1, s"unified table holds ${days.size} day(s)")
      val d1 = days(1)
      val buckets = tableBuckets(s, tbl)
      val dataCols = s.table(tbl).columns.filterNot(_ == "day")
      // materialize the day's rows BEFORE overwriting it (never a
      // self-read), then land them back as `buckets` single-task
      // inserts — the file state that many micro-batch triggers leave
      val frag = java.nio.file.Files.createTempDirectory("graft_compact_uni_frag")
      s.table(tbl).filter(col("day") === to_date(lit(d1)))
        .select(dataCols.map(col): _*)
        .write.mode("overwrite").parquet(frag.toString)
      (0 until buckets).foreach { k =>
        val v = s"graft_uni_frag_${k}_${System.nanoTime()}"
        s.read.parquet(frag.toString)
          .filter(pmod(col("event_id"), lit(buckets)) === k)
          .repartition(1).createOrReplaceTempView(v)
        val verb = if (k == 0) "OVERWRITE TABLE" else "INTO"
        s.sql(s"INSERT $verb $tbl PARTITION (day='$d1') " +
          s"SELECT ${dataCols.mkString(", ")} FROM $v")
        s.catalog.dropTempView(v)
      }
      Lake.deleteRecursively(frag)
      def dayFiles(): Array[String] =
        Option(new java.io.File(root.toFile, s"day=$d1").listFiles())
          .getOrElse(Array.empty).map(_.getName).filter(_.endsWith(".parquet"))
      val fragged = dayFiles().length
      require(fragged > buckets,
        s"fragmentation failed: day=$d1 holds $fragged file(s), want > $buckets")
      val (before, after) =
        graft.operators.Dml.compactUnified(s, tbl, d1, buckets, Seq("event_type"))
      require(before == fragged && after <= buckets && after < before,
        s"unified compaction failed: $before files -> $after (want <= $buckets)")
      require(dayFiles().forall(_.matches(".*_\\d{5}\\..*parquet")),
        s"compaction lost bucket naming: ${dayFiles().mkString(",")}")
      // both layout witnesses still hold on the compacted table
      val day1 = java.time.LocalDate.parse(d1)
      val q = s.table(tbl)
        .withColumn("tstamp", timestamp_micros(expr("ts div 1000")))
        .filter(col("tstamp") >= expr(s"TIMESTAMP '$day1 00:00:00'") &&
          col("tstamp") < expr(s"TIMESTAMP '${day1.plusDays(1)} 00:00:00'"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          (sum(round(col("value") * 100).cast("long")).cast("double") / 100.0)
            .as("sum_value"))
        .withColumn("day", lit(d1))
        .select("day", "event_type", "n", "sum_value")
        .orderBy("event_type")
      val (scanned, _) = scannedPartitions(q)
      require(scanned == 1,
        s"post-compaction pruning failed: scanned $scanned of ${days.size}")
      require(!q.queryExecution.executedPlan.toString
          .contains("Exchange hashpartitioning"),
        "post-compaction per-series aggregate must not shuffle")
      q
    }),

    "q_lake_contract" -> ((s, dir) => {
      val bad = expected.flatMap { case (table, _) =>
        val df = Tables(s, dir, table) // events → normalized view (or its readable error)
        tableViolations(table, df)
      }
      if (bad.nonEmpty) throw new IllegalStateException(
        s"lake contract violated at $dir — ${bad.size} drifted column(s):\n  " +
          bad.mkString("\n  "))
      import s.implicits._
      expected.flatMap { case (t, cols) => cols.map { case (c, ty) => (t, c, ty) } }
        .toDF("table_name", "column_name", "lake_type")
        .orderBy("table_name", "column_name")
    })
  )

  /** A catalog table's bucket count, from its metadata — the layout is
    * input-derived (Sizing.bucketCount), so every consumer reads it
    * rather than assuming a constant. */
  private def tableBuckets(s: SparkSession, tbl: String): Int = {
    val ident = s.sessionState.sqlParser.parseTableIdentifier(tbl)
    s.sessionState.catalog.getTableMetadata(ident).bucketSpec
      .map(_.numBuckets)
      .getOrElse(sys.error(s"table $tbl carries no bucket spec"))
  }

  /** A catalog table's local root directory. */
  private def tableRoot(s: SparkSession, ident: TableIdentifier): java.nio.file.Path =
    java.nio.file.Paths.get(s.sessionState.catalog.getTableMetadata(ident).location.getPath)

  /** A PRIVATE copy of the staged unified catalog table, registered
    * under a fresh name — the lifecycle lanes (TTL, compaction) mutate
    * this copy, never the shared layout. Returns (table name, local
    * root). The copy and its catalog entry live until the next call
    * with the same `prefix`, which drops the table and deletes its root
    * first, so the catalog holds at most one copy per lane.
    */
  private def privateUnifiedCopy(s: SparkSession, dir: String,
                                 prefix: String): (String, java.nio.file.Path) = {
    val cat = s.sessionState.catalog
    cat.listTables(cat.getCurrentDatabase, s"${prefix}_*").filterNot(cat.isTempView)
      .foreach { old =>
        val oldRoot = tableRoot(s, old)
        s.sql(s"DROP TABLE ${old.quotedString}")
        Lake.deleteRecursively(oldRoot)
      }
    val shared = Tables.eventsUnifiedTable(s, dir)
    val buckets = tableBuckets(s, shared)
    val root = java.nio.file.Files.createTempDirectory(prefix)
    copyTree(tableRoot(s, s.sessionState.sqlParser.parseTableIdentifier(shared)), root)
    val tbl = s"${prefix}_${System.nanoTime()}"
    s.sql(
      s"""CREATE TABLE $tbl (
         |  event_id BIGINT, ts BIGINT, user_id BIGINT,
         |  event_type STRING, value DOUBLE, props STRING, day DATE)
         |USING parquet
         |PARTITIONED BY (day)
         |CLUSTERED BY (event_type) SORTED BY (event_type, ts) INTO $buckets BUCKETS
         |LOCATION '$root'""".stripMargin)
    s.sql(s"MSCK REPAIR TABLE $tbl")
    (tbl, root)
  }

  /** Recursive file-tree copy — the TTL lane mutates a private copy of
    * the staged primary lake, never the shared layout itself.
    */
  private[queries] def copyTree(src: java.nio.file.Path, dst: java.nio.file.Path): Unit = {
    import java.nio.file._
    val walk = Files.walk(src)
    try walk.iterator().forEachRemaining { p =>
      val q = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q, StandardCopyOption.REPLACE_EXISTING)
    } finally walk.close()
  }

  /** Replace the files of the flat directory `dst` with those of `src`,
    * moving them (a rename within one file system) and removing `src`.
    */
  private def swapFilesIn(src: java.nio.file.Path, dst: java.nio.file.Path): Unit = {
    Option(dst.toFile.listFiles()).getOrElse(Array.empty).foreach(_.delete())
    Option(src.toFile.listFiles()).getOrElse(Array.empty)
      .foreach(f => java.nio.file.Files.move(f.toPath, dst.resolve(f.getName)))
    java.nio.file.Files.delete(src)
  }

  /** Everything at or after the middle day's noon over the RAW lake —
    * shared by ts_ttl_expire (path-lake lifecycle) and ts_ttl_unified
    * (catalog-table lifecycle): both mechanisms must implement exactly
    * `ts >= cutoff`.
    */
  private[queries] val oracleSqlTtl: String =
    """WITH e AS (
      |  SELECT event_type, CAST(ts AS TIMESTAMP) AS tstamp,
      |    strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
      |    CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |m AS (SELECT day AS mid FROM (
      |        SELECT day, row_number() OVER (ORDER BY day) AS rn,
      |               count(*) OVER () AS cnt
      |        FROM (SELECT DISTINCT day FROM e))
      |      WHERE rn = cnt // 2 + 1)
      |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(cents) AS DOUBLE) / 100.0 AS sum_value
      |FROM e, m WHERE e.tstamp >= CAST(mid AS TIMESTAMP) + INTERVAL 12 HOUR
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** The second day's per-type aggregate over the RAW lake — shared by
    * ts_prune_hidden and ts_compact_daylake (the compacted layout must
    * answer exactly like the never-fragmented one).
    */
  private val oracleSqlPruneHidden: String =
    """WITH e AS (
      |  SELECT event_type,
      |    strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
      |    CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |d AS (SELECT day AS d1 FROM (
      |        SELECT DISTINCT day FROM e ORDER BY day OFFSET 1 LIMIT 1))
      |SELECT d1 AS day, event_type, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(cents) AS DOUBLE) / 100.0 AS sum_value
      |FROM e, d WHERE e.day = d.d1
      |GROUP BY d1, event_type ORDER BY event_type""".stripMargin

  /** The validated contract as constants: hash-green ⟺ the Spark side
    * validated every table without throwing.
    */
  def oracleSql: Map[String, String] = {
    val rows = expected.flatMap { case (t, cols) =>
      cols.map { case (c, ty) => s"('$t', '$c', '$ty')" }
    }.mkString(", ")
    Map(
      "q_lake_contract" ->
        s"""SELECT * FROM (VALUES $rows)
           |  AS t(table_name, column_name, lake_type)
           |ORDER BY table_name, column_name""".stripMargin,
      // the same quarter-span 2-D box aggregate over the RAW lake: the
      // Spark side read it through the zone-skipping clustered scan, so
      // matching hashes prove row-group skipping loses no rows. Bounds
      // arithmetic is non-negative-integer division, identical in both
      // engines.
      "ts_zone_skip" ->
        """WITH e AS (
          |  SELECT user_id, CAST(round(value * 100) AS BIGINT) AS cents
          |  FROM events),
          |b AS (SELECT
          |    min(user_id) + (max(user_id) - min(user_id)) // 4 AS ulo,
          |    min(user_id) + (max(user_id) - min(user_id)) // 2 AS uhi,
          |    min(cents) + (max(cents) - min(cents)) // 4 AS clo,
          |    min(cents) + (max(cents) - min(cents)) // 2 AS chi
          |  FROM e)
          |SELECT CAST(count(*) AS BIGINT) AS n,
          |  CAST(sum(e.cents) AS DOUBLE) / 100.0 AS sum_value
          |FROM e, b
          |WHERE e.user_id BETWEEN b.ulo AND b.uhi
          |  AND e.cents BETWEEN b.clo AND b.chi""".stripMargin,
      // the SECOND day's aggregate over the RAW lake: the Spark side
      // reads only the one directory its derived partition filter kept,
      // so matching hashes prove the hidden-pruned scan loses no rows
      "ts_prune_hidden" -> oracleSqlPruneHidden,
      // third day's aggregate over the RAW lake — the Spark side named
      // the day through date_trunc and read only the derived partition
      "ts_prune_date_trunc" ->
        """WITH e AS (
          |  SELECT event_type,
          |    strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
          |    CAST(round(value * 100) AS BIGINT) AS cents
          |  FROM events),
          |d AS (SELECT day AS d2 FROM (
          |        SELECT DISTINCT day FROM e ORDER BY day OFFSET 2 LIMIT 1))
          |SELECT d2 AS day, event_type, CAST(count(*) AS BIGINT) AS n,
          |  CAST(sum(cents) AS DOUBLE) / 100.0 AS sum_value
          |FROM e, d WHERE e.day = d.d2
          |GROUP BY d2, event_type ORDER BY event_type""".stripMargin,
      // the 2nd and 4th days' aggregates — the Spark side's IN-list
      // pruned the listing to exactly those two directories
      "ts_prune_inlist" ->
        """WITH e AS (
          |  SELECT event_type,
          |    strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
          |    CAST(round(value * 100) AS BIGINT) AS cents
          |  FROM events),
          |d AS (SELECT day FROM (
          |        SELECT DISTINCT day FROM e ORDER BY day OFFSET 1 LIMIT 1)
          |      UNION ALL
          |      SELECT day FROM (
          |        SELECT DISTINCT day FROM e ORDER BY day OFFSET 3 LIMIT 1))
          |SELECT e.day, event_type, CAST(count(*) AS BIGINT) AS n,
          |  CAST(sum(cents) AS DOUBLE) / 100.0 AS sum_value
          |FROM e JOIN d ON e.day = d.day
          |GROUP BY e.day, event_type ORDER BY e.day, event_type""".stripMargin,
      // the 1st and 5th days' aggregates — the Spark side's OR'd ranges
      // pruned the listing to exactly those two directories
      "ts_prune_or_ranges" ->
        """WITH e AS (
          |  SELECT event_type,
          |    strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
          |    CAST(round(value * 100) AS BIGINT) AS cents
          |  FROM events),
          |d AS (SELECT day FROM (
          |        SELECT DISTINCT day FROM e ORDER BY day LIMIT 1)
          |      UNION ALL
          |      SELECT day FROM (
          |        SELECT DISTINCT day FROM e ORDER BY day OFFSET 4 LIMIT 1))
          |SELECT e.day, event_type, CAST(count(*) AS BIGINT) AS n,
          |  CAST(sum(cents) AS DOUBLE) / 100.0 AS sum_value
          |FROM e JOIN d ON e.day = d.day
          |GROUP BY e.day, event_type ORDER BY e.day, event_type""".stripMargin,
      // one tag's per-day aggregates over the RAW lake: the Spark side
      // read it through the series-clustered fine-granule scan, so
      // matching hashes prove tag zone skipping loses no rows
      "ts_tag_zone_skip" ->
        """WITH e AS (
          |  SELECT event_type,
          |    strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
          |    CAST(round(value * 100) AS BIGINT) AS cents
          |  FROM events),
          |t AS (SELECT event_type AS t2 FROM (
          |        SELECT event_type, row_number() OVER (ORDER BY event_type) AS rn,
          |               count(*) OVER () AS cnt
          |        FROM (SELECT DISTINCT event_type FROM e))
          |      WHERE rn = cnt // 2 + 1)
          |SELECT day, event_type, CAST(count(*) AS BIGINT) AS n,
          |  CAST(sum(cents) AS DOUBLE) / 100.0 AS sum_value
          |FROM e, t WHERE e.event_type = t.t2
          |GROUP BY day, event_type ORDER BY day""".stripMargin,
      // everything at or after the middle day's noon, over the RAW
      // lake: the Spark side FULL-SCANS its expired copy with no
      // residual filter — matching hashes prove the directory-drop +
      // boundary-rewrite lifecycle implements exactly `ts >= cutoff`
      "ts_ttl_expire" -> oracleSqlTtl,
      // the SAME oracle verbatim for the catalog-table lifecycle: the
      // path-lake expireDays and the catalog expireDaysUnified must
      // implement the identical retention predicate
      "ts_ttl_unified" -> oracleSqlTtl,
      // the second day over the RAW lake, verbatim ts_prune_hidden SQL:
      // the fragmented-then-compacted layout must answer identically to
      // the never-fragmented one
      "ts_compact_daylake" -> oracleSqlPruneHidden,
      // same SQL again for the catalog-table compaction: the
      // fragmented-then-compacted unified table must answer the second
      // day identically to the never-touched lake
      "ts_compact_unified" -> oracleSqlPruneHidden,
      // the 4th day's aggregate over the RAW lake — the Spark side named
      // the day through a date_format STRING equality and read only the
      // derived partition
      "ts_prune_date_format" ->
        """WITH e AS (
          |  SELECT event_type,
          |    strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
          |    CAST(round(value * 100) AS BIGINT) AS cents
          |  FROM events),
          |d AS (SELECT day AS d3 FROM (
          |        SELECT DISTINCT day FROM e ORDER BY day OFFSET 3 LIMIT 1))
          |SELECT d3 AS day, event_type, CAST(count(*) AS BIGINT) AS n,
          |  CAST(sum(cents) AS DOUBLE) / 100.0 AS sum_value
          |FROM e, d WHERE e.day = d.d3
          |GROUP BY d3, event_type ORDER BY event_type""".stripMargin,
      // one +08:00 LOCAL day = the UTC window [d2 - 8h, d2 + 16h) over
      // the RAW lake: the Spark side listed exactly the two straddled
      // UTC day directories
      "ts_prune_offset_session" ->
        """WITH e AS (
          |  SELECT event_type, CAST(ts AS TIMESTAMP) AS tstamp,
          |    strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
          |    CAST(round(value * 100) AS BIGINT) AS cents
          |  FROM events),
          |d AS (SELECT day AS d2 FROM (
          |        SELECT DISTINCT day FROM e ORDER BY day OFFSET 2 LIMIT 1))
          |SELECT d2 AS day, event_type, CAST(count(*) AS BIGINT) AS n,
          |  CAST(sum(cents) AS DOUBLE) / 100.0 AS sum_value
          |FROM e, d
          |WHERE e.tstamp >= CAST(d2 AS TIMESTAMP) - INTERVAL 8 HOUR
          |  AND e.tstamp <  CAST(d2 AS TIMESTAMP) + INTERVAL 16 HOUR
          |GROUP BY d2, event_type ORDER BY event_type""".stripMargin,
      // the 2nd+3rd days per CATEGORY over the RAW lake with the same
      // VALUES dim: the Spark side filtered the join OUTPUT and its
      // events scan still listed exactly those two day directories
      "ts_prune_join" ->
        """WITH e AS (
          |  SELECT event_type,
          |    strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
          |    CAST(round(value * 100) AS BIGINT) AS cents
          |  FROM events),
          |d AS (SELECT day FROM (
          |        SELECT DISTINCT day FROM e ORDER BY day OFFSET 1 LIMIT 2)),
          |dim(event_type, category) AS (VALUES
          |  ('click', 'engagement'), ('view', 'engagement'),
          |  ('purchase', 'revenue'), ('signup', 'growth'),
          |  ('error', 'reliability'))
          |SELECT category, CAST(count(*) AS BIGINT) AS n,
          |  CAST(sum(cents) AS DOUBLE) / 100.0 AS sum_value
          |FROM e JOIN d ON e.day = d.day JOIN dim USING (event_type)
          |GROUP BY category ORDER BY category""".stripMargin,
      // the 2nd and 3rd days over the RAW lake: the Spark side's µs
      // window pruned the unified catalog table's listing to those two
      // partitions
      "ts_unified_prune" ->
        """WITH e AS (
          |  SELECT event_type,
          |    strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
          |    CAST(round(value * 100) AS BIGINT) AS cents
          |  FROM events),
          |d AS (SELECT day FROM (
          |        SELECT DISTINCT day FROM e ORDER BY day OFFSET 1 LIMIT 2))
          |SELECT e.day, event_type, CAST(count(*) AS BIGINT) AS n,
          |  CAST(sum(cents) AS DOUBLE) / 100.0 AS sum_value
          |FROM e JOIN d ON e.day = d.day
          |GROUP BY e.day, event_type ORDER BY e.day, event_type""".stripMargin,
      // the second day over the RAW lake, verbatim ts_prune_hidden SQL:
      // the unified catalog table must answer exactly like the path day
      // lake — while its plan both pruned to 1 partition and aggregated
      // shuffle-free
      "ts_unified_layout" -> oracleSqlPruneHidden,
      // the 15 two-tag series' lifetime aggregates over the RAW lake
      // with the same derived region tag: the Spark side computed them
      // shuffle-free off the tuple-bucketed layout and proved one
      // series' scan stays near its row share
      "ts_multitag_series" ->
        """SELECT event_type, 'r' || CAST(user_id % 3 AS VARCHAR) AS region,
          |  CAST(count(*) AS BIGINT) AS n,
          |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0
          |    AS sum_value,
          |  min(epoch_ns(ts)) AS first_ns, max(epoch_ns(ts)) AS last_ns
          |FROM events GROUP BY event_type, region
          |ORDER BY event_type, region""".stripMargin,
      // the second day's per-(type, region) aggregates over the RAW
      // lake with the same derived region: the Spark side listed exactly
      // 1 of N catalog partitions AND aggregated shuffle-free off the
      // tuple-bucketed scan
      "ts_multitag_day" ->
        """WITH e AS (
          |  SELECT event_type, 'r' || CAST(user_id % 3 AS VARCHAR) AS region,
          |    strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
          |    CAST(round(value * 100) AS BIGINT) AS cents
          |  FROM events),
          |d AS (SELECT day AS d1 FROM (
          |        SELECT DISTINCT day FROM e ORDER BY day OFFSET 1 LIMIT 1))
          |SELECT d1 AS day, event_type, region, CAST(count(*) AS BIGINT) AS n,
          |  CAST(sum(cents) AS DOUBLE) / 100.0 AS sum_value
          |FROM e, d WHERE e.day = d.d1
          |GROUP BY d1, event_type, region
          |ORDER BY event_type, region""".stripMargin,
      // per-series lifetime aggregate over the RAW lake: the Spark side
      // computed it shuffle-free off the tag-bucketed unified table
      "ts_bucketed_series_agg" ->
        """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
          |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0
          |    AS sum_value,
          |  min(epoch_ns(ts)) AS first_ns, max(epoch_ns(ts)) AS last_ns
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
      // same one-day predicate over the RAW lake: the Spark side reads
      // only the pruned day directory, so matching hashes prove the
      // pruned scan loses no rows
      "ts_partition_prune" ->
        """WITH e AS (
          |  SELECT event_type,
          |    strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
          |    CAST(round(value * 100) AS BIGINT) AS cents
          |  FROM events),
          |d AS (SELECT min(day) AS d0 FROM e)
          |SELECT d0 AS day, event_type, CAST(count(*) AS BIGINT) AS n,
          |  CAST(sum(cents) AS DOUBLE) / 100.0 AS sum_value
          |FROM e, d WHERE day = d0
          |GROUP BY d0, event_type ORDER BY event_type""".stripMargin)
  }
}
