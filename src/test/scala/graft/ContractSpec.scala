package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the driver contract and the plan shapes the 100 TB design
  * claims rest on — so a refactor that quietly adds a shuffle to a
  * mapper-only pass, or orphans an oracle key, fails here instead of
  * in the next round's correctness report.
  */
class ContractSpec extends AnyFunSuite with TestSpark {

  private val sf = "/root/testdata/sf0.001"

  test("every oracle key has a query, and the rows-only set is exactly the declared one") {
    val orphaned = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphaned.isEmpty, s"oracle SQL without a query: $orphaned")
    // SURVEY §6: non-SQL-expressible by design — sketches, iterative
    // algorithms, Spark-side quantizer training. Anything else missing
    // an oracle is a gap, not a declaration.
    // r4: emb_ivf_ann (exact integer-grid quantizer retrained in SQL),
    // q_approx_agg and ts_sketch_rollup (tolerance-boolean oracles),
    // and ts_lttb (recursive-CTE replay of the sequential selection on
    // an integer-exact lane) graduated to hash-green.
    // r6: ts_value_repair (SCREEN replayed with positional medians + a
    // clamp-chain recursion) and ts_value_fill_ar (integer-cent lane:
    // exact fit sums + sequential-chain recursions) graduated too; what
    // remains is the windowed data-quality state machine and the DP
    // timestamp alignment — inner loops with data-dependent removals and
    // a backtracked cost matrix.
    // r9: ts_data_quality graduated too — the windowed state machine is
    // replayed by a recursive CTE running one machine transition per
    // recursion step (window removals as list slices) — and then the
    // timestamp-repair DP followed (grid-row-per-step forward pass with
    // a segmented-prefix-min row scan, stored cost rows, backtrack as a
    // second recursion). The rows-only set is EMPTY: every lane in the
    // suite has a full DuckDB oracle.
    val declaredRowsOnly = Set.empty[String]
    val actual = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(actual == declaredRowsOnly,
      s"rows-only drift: +${actual -- declaredRowsOnly} -${declaredRowsOnly -- actual}")
  }

  private def executedPlan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("signature passes are mapper-only: no exchange in the plan") {
    val docs = Tables(spark, sf, "documents")
    val sig = operators.Dedup.minhashSignature(docs, "doc_id", "text", 8)
    assert(!executedPlan(sig).contains("Exchange"),
      "minhash signature must not shuffle the corpus")
    val sh = operators.Dedup.simhash(docs, "doc_id", "text")
    assert(!executedPlan(sh).contains("Exchange"), "simhash must not shuffle")
    val emb = Tables(spark, sf, "embeddings")
    val buckets = operators.Similarity.lshBucket(emb, "vec_id", "embedding", 4, 64, 2)
    assert(!executedPlan(buckets).contains("Exchange"), "LSH bucketing must not shuffle")
  }

  test("piiRedact and trainTestSplit are single-pass mappers") {
    val docs = Tables(spark, sf, "documents")
    assert(!executedPlan(operators.TextAnalysis.piiRedact(docs, "doc_id", "text"))
      .contains("Exchange"))
    assert(!executedPlan(operators.Sampling.trainTestSplit(docs, "doc_id", 0.25))
      .contains("Exchange"))
  }

  test("repetitionStats, quantizeInt8, and fingerprintOf are single-pass mappers") {
    val docs = Tables(spark, sf, "documents")
    assert(!executedPlan(operators.TextAnalysis.repetitionStats(docs, "doc_id", "text"))
      .contains("Exchange"))
    assert(!executedPlan(operators.TextAnalysis.fingerprintOf(docs, "doc_id", "text"))
      .contains("Exchange"))
    val emb = Tables(spark, sf, "embeddings")
    assert(!executedPlan(operators.Similarity.quantizeInt8(emb, "vec_id", "embedding"))
      .contains("Exchange"))
  }

  test("twa runs window and aggregation off ONE group-key exchange") {
    val e = Tables.events(spark, sf)
      .withColumn("ts_us", expr("ts_ns div 1000"))
      .withColumn("day", expr("ts_ns div 1000 div 86400000000"))
    val plan = executedPlan(
      functions.TimeSeries.twa(e, Seq("event_type", "day"), "ts_us", "value"))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"twa should shuffle once on the group key, got $exchanges:\n$plan")
  }

  test("decontamination broadcasts the benchmark side, never shuffles the corpus") {
    val docs = Tables(spark, sf, "documents")
    val bench = docs.filter(col("doc_id") < 20)
    val plan = executedPlan(
      operators.TextAnalysis.flagContaminated(docs, "doc_id", "text", bench))
    assert(plan.contains("BroadcastHashJoin"), "benchmark shingles must broadcast")
  }

  test("stratifiedSample shuffles once, on the stratum key") {
    val docs = Tables(spark, sf, "documents")
    val plan = executedPlan(operators.Sampling.stratifiedSample(docs, "doc_id", "lang", 5))
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected exactly one exchange (stratum partition), got $exchanges")
  }

  test("packSequences plans one data exchange: the shard shuffle feeds window and agg") {
    val docs = Tables(spark, sf, "documents")
    val plan = executedPlan(
      operators.TextAnalysis.packSequences(docs, "doc_id", "text", 512, 16))
    // hashpartitioning(shard) satisfies the downstream (shard, seq_id)
    // grouping, so the window's shuffle must be the ONLY one.
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1,
      s"expected exactly one hash exchange (the shard shuffle), got $exchanges\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"))
  }

  test("lineDedup claimant is a single hash-partitioned pass: one mapper, no global sort") {
    val docs = Tables(spark, sf, "documents")
    val plan = executedPlan(operators.TextAnalysis.lineDedup(docs, "doc_id", "text", " "))
    // r14: the claimant moved from groupBy + join-back (which executed
    // the line-hash mapper twice and exchanged its rows twice) to a
    // min(struct) window over the hash partitioning — the narrow
    // (id, ln, hash) rows are exchanged ONCE and the per-hash sort is
    // partition-local, never corpus-global. Pin all three properties.
    assert("Window".r.findAllIn(plan).nonEmpty,
      s"claimant should be a hash-partitioned window min\n$plan")
    // every Sort in the plan must be partition-local ("], false, 0"),
    // never a corpus-global sort — the hazard class the old pin guarded
    assert(!plan.contains("], true, 0"),
      s"a global sort crept into the claimant pass\n$plan")
    // the line explode + md5 mapper feeds exactly one claimant pass: it
    // appears once, not once per branch
    val explodes = "Generate posexplode".r.findAllIn(plan).length
    assert(explodes <= 2, // one for the claimant pass, one for the n_lines side
      s"line-hash mapper duplicated across branches ($explodes explodes)\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("bucketed lake tables co-locate the join: no exchange on either side") {
    // SURVEY §5: big fact-fact joins co-locate via bucketing. Write both
    // sides bucketed by the join key, then join with broadcast off — the
    // sort-merge join must read bucket-aligned scans with ZERO exchanges.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val orders = Tables(spark, sf, "orders").select("o_orderkey", "o_custkey")
      val lineitem = Tables(spark, sf, "lineitem").select("l_orderkey", "l_quantity")
      orders.write.mode("overwrite").bucketBy(4, "o_orderkey")
        .sortBy("o_orderkey").saveAsTable("bkt_orders")
      lineitem.write.mode("overwrite").bucketBy(4, "l_orderkey")
        .sortBy("l_orderkey").saveAsTable("bkt_lineitem")
      val joined = spark.table("bkt_lineitem")
        .join(spark.table("bkt_orders"),
          col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle either side:\n${plan.take(2000)}")
      assert(joined.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS bkt_orders")
      spark.sql("DROP TABLE IF EXISTS bkt_lineitem")
    }
  }

  test("anomalyZscore broadcasts the stats side and plans no window sort") {
    val ev = Tables.events(spark, sf)
    val plan = executedPlan(
      functions.TimeSeries.anomalyZscore(ev, Seq("event_type"), "value"))
    assert(plan.contains("BroadcastHashJoin"), "per-series stats must broadcast")
    assert(!plan.contains("Window"), "the z-score is a join, not a window")
  }

  test("candlestick is one partial-aggregated exchange; linearTrend hash-aggregates") {
    val ev = Tables.events(spark, sf)
    val cs = executedPlan(functions.TimeSeries.candlestick(ev, Seq("event_type"),
      unix_micros(date_trunc("hour", col("ts"))), Seq("ts_ns", "event_id"), "value"))
    // struct-ordered min_by/max_by needs a sort-based aggregate buffer,
    // but it must still be partial (map-side) around a SINGLE exchange
    assert(cs.linesIterator.count(_.trim.startsWith("+- Exchange")) == 1, cs)
    assert(cs.contains("partial_min_by") && !cs.contains("Window"), cs)
    val lr = executedPlan(functions.TimeSeries.linearTrend(ev, Seq("event_type"),
      expr("ts_ns div 1000000000"), col("value")))
    assert(lr.contains("HashAggregate") && !lr.contains("Window") && !lr.contains("Sort"),
      "linearTrend must hash-aggregate without sorting")
  }

  test("clusterStats cross-joins broadcast references, no window") {
    val emb = Tables(spark, sf, "embeddings")
    val plan = executedPlan(
      operators.Similarity.clusterStats(emb, "vec_id", "embedding", 4))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      "references must broadcast")
    assert(!plan.contains("Window"), "argmax is max(struct), not a window rank")
  }

  test("chunkBoilerplate plans no cartesian product and one corpus-side shape") {
    val docs = Tables(spark, sf, "documents")
    val plan = executedPlan(
      operators.TextAnalysis.chunkBoilerplate(docs, "doc_id", "text"))
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"),
      "boilerplate scoring must stay equijoin-only")
  }

  test("events scan prunes to selected columns") {
    val pruned = Tables.events(spark, sf).select("event_id", "value")
    val scan = pruned.queryExecution.executedPlan.toString
    // ReadSchema in the parquet scan must not include the unused
    // event_type/user_id/props columns
    val readSchema = scan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("props") && !readSchema.contains("event_type"),
      s"column pruning failed: $readSchema")
  }

  test("predictLinear is one scan — max(x) rides the regression aggregate") {
    val plan = executedPlan(functions.TimeSeries.predictLinear(
      Tables.events(spark, sf), Seq("event_type"),
      expr("ts_ns div 1000000000"), col("value"), 3600L))
    val scans = plan.sliding("Scan parquet".length).count(_ == "Scan parquet")
    assert(scans == 1, s"expected a single events scan, plan had $scans")
  }

  test("q_lake_contract passes on the driver lake and matches its oracle rows") {
    val df = queries.LakeContract.queries("q_lake_contract")(spark, sf)
    val n = queries.LakeContract.expected.map(_._2.size).sum
    assert(df.count() == n)
  }

  test("partition pruning: one-day predicate lists exactly 1 day dir, unfiltered lists all") {
    // the lane's own require() already throws unless pruned == 1 < days;
    // this pins the exact file arithmetic both ways — the pruned scan
    // lists ONE file (one day dir × one file per dir) and the
    // unfiltered scan lists every day's file, so a regression that
    // silently widens either listing fails here with the counts
    def scanOf(df: org.apache.spark.sql.DataFrame) = {
      val phys = df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.initialPlan
        case p => p
      }
      phys.collectLeaves().collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.get
    }
    val pruned = queries.LakeContract.queries("ts_partition_prune")(spark, sf)
    val prunedScan = scanOf(pruned)
    assert(prunedScan.selectedPartitions.partitionCount == 1)
    // partition filter must be in the scan node (pruning at LISTING
    // time), not a post-scan Filter
    assert(prunedScan.partitionFilters.nonEmpty, "day predicate must be a PartitionFilter")
    // negative control: same lake, no predicate → every day listed
    val root = prunedScan.relation.location.rootPaths.head.toString
    val all = spark.read.parquet(root).groupBy("event_type").count()
    val allScan = scanOf(all)
    val nDays = spark.read.parquet(root).select("day").distinct().count()
    assert(nDays > 1 && allScan.selectedPartitions.partitionCount == nDays,
      s"unfiltered scan must list all $nDays days, listed " +
        s"${allScan.selectedPartitions.partitionCount}")
    // One day's files must be a small share of the lake's, bounded by
    // the per-day average plus range-boundary slack — NOT a hard-coded
    // 1–2 (ADVICE r11): repartitionByRange(width, day, ts) deliberately
    // lets a large day span many range partitions, so on a wider box a
    // healthy layout legitimately writes more files per day.
    val nFiles = prunedScan.selectedPartitions.totalNumberOfFiles
    val totalFiles = allScan.selectedPartitions.totalNumberOfFiles
    assert(nFiles >= 1L && nFiles <= totalFiles / nDays + 2,
      s"one day listed $nFiles of $totalFiles files across $nDays days")
  }

  test("hidden pruning: ts predicates derive day filters; removing the rule restores the full listing") {
    def scanOf(df: org.apache.spark.sql.DataFrame) = {
      val phys = df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.initialPlan
        case p => p
      }
      phys.collectLeaves().collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.get
    }
    val days = Tables.eventsLakeDays(spark, sf)
    assert(days.size > 1)
    val d0 = java.time.LocalDate.parse(days.head)
    val loNs = d0.toEpochDay * Tables.NsPerDay
    // BIGINT-nanos pattern, two-day window with a STRICT upper bound at
    // the exact day boundary — must list exactly the days present in
    // [d0, d0+2), never the boundary day itself
    val expected = days.count(d => d >= d0.toString && d < d0.plusDays(2).toString)
    val q = Tables.events(spark, sf)
      .filter(col("ts_ns") >= lit(loNs) && col("ts_ns") < lit(loNs + 2 * Tables.NsPerDay))
      .groupBy("event_type").count()
    val scan = scanOf(q)
    assert(scan.selectedPartitions.partitionCount == expected,
      s"expected $expected of ${days.size} days listed, got " +
        s"${scan.selectedPartitions.partitionCount}")
    assert(scan.partitionFilters.nonEmpty,
      "derived day predicate must be a PartitionFilter, not a post-scan Filter")
    // negative control: same query with the rule EXCLUDED lists every
    // day again. excludedRules covers both injection paths
    // (extraOptimizations and a GraftExtensions-injected copy, which
    // stripping extraOptimizations alone would not disable); optimization
    // is lazy, so flipping the conf before first plan access is enough.
    val q2 = Tables.events(spark, sf)
      .filter(col("ts_ns") >= lit(loNs) && col("ts_ns") < lit(loNs + 2 * Tables.NsPerDay))
      .groupBy("event_type").count()
    val excludedKey = "spark.sql.optimizer.excludedRules"
    val savedExcluded = spark.conf.getOption(excludedKey)
    val savedExtra = spark.experimental.extraOptimizations
    try {
      spark.experimental.extraOptimizations =
        savedExtra.filterNot(_ eq plans.EventTimeDayPruning)
      spark.conf.set(excludedKey,
        (savedExcluded.toSeq :+ plans.EventTimeDayPruning.ruleName).mkString(","))
      val all = scanOf(q2)
      assert(all.selectedPartitions.partitionCount == days.size,
        s"rule-less scan must list all ${days.size} days, listed " +
          s"${all.selectedPartitions.partitionCount}")
    } finally {
      spark.experimental.extraOptimizations = savedExtra
      savedExcluded.fold(spark.conf.unset(excludedKey))(v => spark.conf.set(excludedKey, v))
    }
    // the driver lane's µs-TIMESTAMP pattern end to end (its own
    // require throws unless pruned == 1)
    val lane = queries.LakeContract.queries("ts_prune_hidden")(spark, sf)
    assert(lane.count() > 0)
  }

  test("unified catalog table: pruning comes from the rule; bucketing satisfies the agg") {
    // the lanes assert pruned==K and no-exchange in-run; this pins the
    // NEGATIVE control on the catalog relation — with the rule
    // excluded, the same µs window lists every catalog partition again
    // (i.e. the pruning is OUR derived filter, not catalog magic) —
    // and that the no-shuffle agg really reads a bucketed scan.
    val tbl = Tables.eventsUnifiedTable(spark, sf)
    val days = spark.sql(s"SHOW PARTITIONS $tbl").collect()
      .map(_.getString(0).stripPrefix("day=")).sorted.toSeq
    assert(days.size == Tables.eventsLakeDays(spark, sf).size,
      "catalog partition inventory must equal the path lake's day set")
    val d1 = java.time.LocalDate.parse(days(1))
    def window() = spark.table(tbl)
      .withColumn("tstamp", timestamp_micros(expr("ts div 1000")))
      .filter(col("tstamp") >= expr(s"TIMESTAMP '$d1 00:00:00'") &&
        col("tstamp") < expr(s"TIMESTAMP '${d1.plusDays(1)} 00:00:00'"))
      .groupBy("event_type").count()
    assert(scanOfPlan(window()).selectedPartitions.partitionCount == 1)
    val excludedKey = "spark.sql.optimizer.excludedRules"
    val savedExcluded = spark.conf.getOption(excludedKey)
    val savedExtra = spark.experimental.extraOptimizations
    try {
      spark.experimental.extraOptimizations =
        savedExtra.filterNot(_ eq plans.EventTimeDayPruning)
      spark.conf.set(excludedKey,
        (savedExcluded.toSeq :+ plans.EventTimeDayPruning.ruleName).mkString(","))
      assert(scanOfPlan(window()).selectedPartitions.partitionCount == days.size,
        "rule-less catalog scan must list every partition")
    } finally {
      spark.experimental.extraOptimizations = savedExtra
      savedExcluded.fold(spark.conf.unset(excludedKey))(v => spark.conf.set(excludedKey, v))
    }
    // the shuffle-free agg witness reads a bucketed scan (4 buckets,
    // SelectedBucketsCount absent = all), not an accidental 1-partition
    // degenerate plan
    val agg = spark.table(tbl).groupBy("event_type").count()
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"), plan.take(2000))
    assert(plan.contains("Bucketed: true"),
      s"agg must read a bucketed scan:\n${plan.take(2000)}")
    // both driver lanes end to end (their own requires throw on failure)
    assert(queries.LakeContract.queries("ts_unified_layout")(spark, sf).count() > 0)
    assert(queries.LakeContract.queries("ts_prune_join")(spark, sf).count() > 0)
  }

  test("the unified lifecycle lanes keep at most one private table copy each") {
    val cat = spark.sessionState.catalog
    def copies(prefix: String) =
      cat.listTables(cat.getCurrentDatabase, s"${prefix}_*").filterNot(cat.isTempView)
    for ((lane, prefix) <- Seq("ts_ttl_unified" -> "graft_ttl_unified",
                               "ts_compact_unified" -> "graft_compact_unified")) {
      // every table a run left, with its root, as seen right after the run
      val seen = (1 to 3).flatMap { _ =>
        assert(queries.LakeContract.queries(lane)(spark, sf).count() > 0)
        copies(prefix).map(t => t -> java.nio.file.Paths.get(cat.getTableMetadata(t).location.getPath))
      }.toMap
      val left = copies(prefix)
      assert(left.size <= 1, s"$lane left ${left.size} tables after 3 runs: ${left.mkString(", ")}")
      assert(seen.size == 3, "each run copies the layout afresh")
      val dropped = (seen -- left).values
      assert(dropped.forall(r => !java.nio.file.Files.exists(r)),
        s"$lane left earlier copies on disk: ${dropped.mkString(", ")}")
    }
  }

  test("unified table witnesses hold at a SECOND derived bucket count") {
    // the bucket count is a derived capacity knob (Sizing.bucketCount),
    // not a constant: shrink the per-file target so the SAME lake
    // derives a different power-of-two, restage (the target rides the
    // staging key), and re-prove both layout witnesses plus row parity
    // with the default-target table
    val defaultTbl = Tables.eventsUnifiedTable(spark, sf)
    val days = Tables.eventsLakeDays(spark, sf).size
    val perDay = Sizing.parquetBytes(s"$sf/events.parquet").toDouble / math.max(1, days)
    System.setProperty("graft.bucket.target.bytes",
      math.max(1L, (perDay / 5).toLong).toString) // raw 5–6 → pow2 8
    try {
      val tbl = Tables.eventsUnifiedTable(spark, sf)
      assert(tbl != defaultTbl, "a new target must stage a new table")
      def buckets(t: String): Int = spark.sessionState.catalog
        .getTableMetadata(spark.sessionState.sqlParser.parseTableIdentifier(t))
        .bucketSpec.get.numBuckets
      assert(buckets(defaultTbl) == 4 && buckets(tbl) == 8,
        s"derived ${buckets(defaultTbl)} then ${buckets(tbl)}")
      // witness 1: a one-day µs window still prunes the catalog listing
      val d1 = java.time.LocalDate.parse(spark.sql(s"SHOW PARTITIONS $tbl")
        .collect().map(_.getString(0).stripPrefix("day=")).sorted.apply(1))
      val window = spark.table(tbl)
        .withColumn("tstamp", timestamp_micros(expr("ts div 1000")))
        .filter(col("tstamp") >= expr(s"TIMESTAMP '$d1 00:00:00'") &&
          col("tstamp") < expr(s"TIMESTAMP '${d1.plusDays(1)} 00:00:00'"))
        .groupBy("event_type").count()
      assert(scanOfPlan(window).selectedPartitions.partitionCount == 1)
      // witness 2: the per-series agg still plans ZERO hash exchanges
      // over a bucketed scan at the new count
      val agg = spark.table(tbl).groupBy("event_type").count()
      val plan = agg.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"), plan.take(2000))
      assert(plan.contains("Bucketed: true"), plan.take(2000))
      // row parity: both layouts answer identically
      val a = spark.table(defaultTbl).groupBy("event_type").count()
        .orderBy("event_type").collect().toSeq
      val b = agg.orderBy("event_type").collect().toSeq
      assert(a == b, "bucket-count change altered answers")
    } finally System.clearProperty("graft.bucket.target.bytes")
  }

  private def scanOfPlan(df: org.apache.spark.sql.DataFrame) = {
    val phys = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.initialPlan
      case p => p
    }
    phys.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
  }

  /** Partitions listed + rule-on/rule-off row-count agreement: the
    * derived day bound must prune the listing to `wantParts` AND lose
    * zero rows vs the same filter with the rule excluded.
    */
  private def assertPrunes(mk: => org.apache.spark.sql.DataFrame,
                           wantParts: Int, clue: String): Unit = {
    val scan = scanOfPlan(mk)
    assert(scan.selectedPartitions.partitionCount == wantParts,
      s"$clue: listed ${scan.selectedPartitions.partitionCount}, want $wantParts")
    assert(scan.partitionFilters.nonEmpty,
      s"$clue: derived bound must be a PartitionFilter")
    val withRule = mk.count()
    val excludedKey = "spark.sql.optimizer.excludedRules"
    val savedExcluded = spark.conf.getOption(excludedKey)
    val savedExtra = spark.experimental.extraOptimizations
    val withoutRule = try {
      spark.experimental.extraOptimizations =
        savedExtra.filterNot(_ eq plans.EventTimeDayPruning)
      spark.conf.set(excludedKey,
        (savedExcluded.toSeq :+ plans.EventTimeDayPruning.ruleName).mkString(","))
      mk.count()
    } finally {
      spark.experimental.extraOptimizations = savedExtra
      savedExcluded.fold(spark.conf.unset(excludedKey))(v => spark.conf.set(excludedKey, v))
    }
    assert(withRule == withoutRule,
      s"$clue: pruning changed the answer — $withRule rows with rule, $withoutRule without")
  }

  test("hidden pruning handles dashboard shapes: date_trunc, cast-to-date, IN-lists, OR ranges") {
    val days = Tables.eventsLakeDays(spark, sf)
    assert(days.size > 3)
    val (d1, d3) = (days(1), days(3))
    // date_trunc('day', ts) = TIMESTAMP — the reference's date_bin/TSBS
    // dashboard idiom (tsbench/avg_daily_driving_duration.slt)
    assertPrunes(
      Tables.events(spark, sf)
        .filter(expr(s"date_trunc('day', ts) = TIMESTAMP '$d1 00:00:00'"))
        .groupBy("event_type").count(),
      1, "date_trunc equality")
    // CAST(ts AS DATE) = DATE
    assertPrunes(
      Tables.events(spark, sf)
        .filter(expr(s"CAST(ts AS DATE) = DATE '$d3'"))
        .groupBy("event_type").count(),
      1, "cast-to-date equality")
    // IN-list of day-aligned date_trunc literals → day IN (…)
    assertPrunes(
      Tables.events(spark, sf)
        .filter(expr(
          s"date_trunc('day', ts) IN (TIMESTAMP '$d1 00:00:00', TIMESTAMP '$d3 00:00:00')"))
        .groupBy("event_type").count(),
      2, "date_trunc IN-list")
    // OR of two disjoint ns ranges → union of day ranges
    val lo1 = java.time.LocalDate.parse(d1).toEpochDay * Tables.NsPerDay
    val lo3 = java.time.LocalDate.parse(d3).toEpochDay * Tables.NsPerDay
    assertPrunes(
      Tables.events(spark, sf)
        .filter((col("ts_ns") >= lo1 && col("ts_ns") < lo1 + Tables.NsPerDay) ||
          (col("ts_ns") >= lo3 && col("ts_ns") < lo3 + Tables.NsPerDay))
        .groupBy("event_type").count(),
      2, "OR'd ns ranges")
    // date_trunc bounds (range, not equality)
    assertPrunes(
      Tables.events(spark, sf)
        .filter(expr(s"date_trunc('day', ts) >= TIMESTAMP '$d1 00:00:00' AND " +
          s"date_trunc('day', ts) <= TIMESTAMP '$d3 00:00:00'"))
        .groupBy("event_type").count(),
      3, "date_trunc range")
    // UNALIGNED literal safety: trunc(v) <= 'd1 12:00' keeps all of d1
    // (every row on d1 truncates to d1 00:00 <= d1 12:00); the derived
    // bound must widen to the day end, never clip at noon
    assertPrunes(
      Tables.events(spark, sf)
        .filter(expr(s"date_trunc('day', ts) <= TIMESTAMP '$d1 12:00:00' AND " +
          s"date_trunc('day', ts) >= TIMESTAMP '$d1 00:00:00'"))
        .groupBy("event_type").count(),
      1, "unaligned upper bound")
    // raw epoch-second arithmetic on the ns column — `ts_ns div 1e9`
    // is a truncating-division view with granule 1e9
    val d1sec = java.time.LocalDate.parse(d1).toEpochDay * 86400L
    assertPrunes(
      Tables.events(spark, sf)
        .filter(expr(s"ts_ns div 1000000000 >= $d1sec AND " +
          s"ts_ns div 1000000000 < ${d1sec + 86400L}"))
        .groupBy("event_type").count(),
      1, "epoch-second div view")
    // the same bounds through unix_seconds(ts) — the floor-granule
    // epoch view over the normalized timestamp
    assertPrunes(
      Tables.events(spark, sf)
        .filter(expr(s"unix_seconds(ts) >= $d1sec AND " +
          s"unix_seconds(ts) < ${d1sec + 86400L}"))
        .groupBy("event_type").count(),
      1, "unix_seconds epoch view")
    // and unix_millis with an equality at day grain via range
    assertPrunes(
      Tables.events(spark, sf)
        .filter(expr(s"unix_millis(ts) >= ${d1sec * 1000} AND " +
          s"unix_millis(ts) < ${(d1sec + 86400L) * 1000}"))
        .groupBy("event_type").count(),
      1, "unix_millis epoch view")
    // Long.MinValue literals: math.abs(Long.MinValue) is NEGATIVE, so a
    // naive abs-guard lets the granule multiplication wrap and derive a
    // bound that DROPS rows (code-review r12 finding). These must
    // derive NOTHING and keep every row.
    Seq(s"ts_ns div 1000000000 >= ${Long.MinValue}L",
      s"unix_seconds(ts) >= ${Long.MinValue}L",
      s"ts > timestamp_micros(${Long.MinValue}L)").foreach { pred =>
      val got = Tables.events(spark, sf).filter(expr(pred)).count()
      val all = Tables.events(spark, sf).count()
      assert(got == all, s"MinValue literal lost rows: $got of $all under $pred")
    }
    // a non-time disjunct defeats pruning (the safe refusal): no derived
    // filter, every day listed
    val q = Tables.events(spark, sf)
      .filter(expr(s"date_trunc('day', ts) = TIMESTAMP '$d1 00:00:00'") ||
        col("event_type") === "click")
      .groupBy("event_type").count()
    assert(scanOfPlan(q).selectedPartitions.partitionCount == days.size,
      "an OR with a non-time disjunct must not prune")
  }

  test("pre-epoch timestamps: writer and rule agree on floor-day semantics") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_preepoch").toString
    val N = Tables.NsPerDay
    // straddle the epoch: days 1969-12-30, 1969-12-31, 1970-01-01, 1970-01-02
    val rows = Seq(-N - 1L, -N, -1L, 0L, 1L, N, N + 5L).zipWithIndex.map {
      case (ts, i) => (i.toLong, ts, i.toLong % 3, s"t${i % 2}", 1.0 + i, "{}")
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .repartition(1).write.mode("overwrite").parquet(s"$d/events.parquet")
    // writer: FLOOR day — ts=-1ns lands in day=1969-12-31, ts=-N-1 in
    // 1969-12-30 (truncating div would put them in 1970-01-01 and
    // 1969-12-31 and the rule's floor bounds would prune them away —
    // the ADVICE r11 row-loss scenario)
    val lakeDays = Tables.eventsLakeDays(spark, d)
    assert(lakeDays == Seq("1969-12-30", "1969-12-31", "1970-01-01", "1970-01-02"),
      lakeDays.mkString(","))
    // ns bounds across the epoch: 3 pre-epoch rows, listed from 2 days
    assertPrunes(Tables.events(spark, d).filter(col("ts_ns") <= -1L)
      .groupBy("event_type").count(), 2, "pre-epoch ns upper bound")
    assert(Tables.events(spark, d).filter(col("ts_ns") <= -1L).count() == 3)
    // the exact ADVICE case: ts_ns <= -NsPerDay-1 must keep its row
    assert(Tables.events(spark, d).filter(col("ts_ns") <= -N - 1).count() == 1)
    assertPrunes(Tables.events(spark, d).filter(col("ts_ns") <= -N - 1)
      .groupBy("event_type").count(), 1, "pre-epoch single-day bound")
    // µs-view: ts=-1ns renders AT the epoch (truncation toward zero), so
    // a strict pre-epoch bound matches only the two full-day-old rows
    assert(Tables.events(spark, d)
      .filter(col("ts") < expr("TIMESTAMP '1970-01-01 00:00:00'")).count() == 2)
    assertPrunes(Tables.events(spark, d)
      .filter(col("ts") < expr("TIMESTAMP '1970-01-01 00:00:00'"))
      .groupBy("event_type").count(), 2, "pre-epoch µs-view bound")
  }

  test("pruning algebra differential: 80 random predicate trees lose zero rows") {
    // The ADVICE r11 bug class — a derived bound silently excluding a
    // partition that holds matching rows — caught generically: random
    // conjunctions/disjunctions of every recognized shape (ns bounds,
    // µs-view bounds, date_trunc day/hour/month, cast-to-date, IN-lists,
    // granule division), evaluated rule-on vs rule-off over a lake that
    // STRADDLES the epoch (the floor-vs-truncate domain) with sub-day,
    // sub-µs-offset timestamps at day boundaries. Counts must agree on
    // every predicate; the seed makes a failure reproducible.
    import spark.implicits._
    val N = Tables.NsPerDay
    val d = java.nio.file.Files.createTempDirectory("graft_prunefuzz").toString
    // 10 days straddling the epoch, rows at boundary-adjacent instants
    val rows = for {
      day <- -5L to 4L
      off <- Seq(0L, 1L, 999L, 1000L, N / 2, N - 1000L, N - 999L, N - 1L)
    } yield (day * 8 + (off % 8), day * N + off, day.toLong, s"t${(off % 3)}", 1.0, "{}")
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .repartition(1).write.mode("overwrite").parquet(s"$d/events.parquet")
    val rnd = new scala.util.Random(42)
    val loNs = -6L * N
    val spanNs = 12L * N
    def randNs(): Long = loNs + (rnd.nextDouble() * spanNs).toLong
    def randLeaf(): String = {
      val v = randNs()
      rnd.nextInt(9) match {
        case 0 => s"ts_ns ${Seq(">=", ">", "<=", "<", "=")(rnd.nextInt(5))} ${v}L"
        case 1 =>
          val tsLit = s"timestamp_micros(${v / 1000})"
          s"ts ${Seq(">=", ">", "<=", "<")(rnd.nextInt(4))} $tsLit"
        case 2 =>
          val unit = Seq("day", "hour", "month")(rnd.nextInt(3))
          s"date_trunc('$unit', ts) ${Seq(">=", "<=", "=")(rnd.nextInt(3))} " +
            s"timestamp_micros(${v / 1000})"
        case 3 =>
          val ed = Math.floorDiv(v, N)
          s"CAST(ts AS DATE) ${Seq(">=", "<=", "=")(rnd.nextInt(3))} " +
            s"date_add(DATE '1970-01-01', ${ed.toInt})"
        case 4 =>
          val ds = Seq.fill(2 + rnd.nextInt(3))(Math.floorDiv(randNs(), N))
          s"CAST(ts AS DATE) IN (${ds.map(x => s"date_add(DATE '1970-01-01', ${x.toInt})").mkString(", ")})"
        case 5 =>
          val g = Seq(1000L, 1000000L, 1000000000L)(rnd.nextInt(3))
          s"ts_ns div $g ${Seq(">=", ">", "<=", "<")(rnd.nextInt(4))} ${v / g}L"
        case 6 =>
          val (fn, g) = Seq(("unix_seconds", 1000000000L), ("unix_millis", 1000000L),
            ("unix_micros", 1000L))(rnd.nextInt(3))
          s"$fn(ts) ${Seq(">=", ">", "<=", "<", "=")(rnd.nextInt(5))} ${v / g}L"
        case 7 => // string-equality idiom (r13) — valid ISO days near the
          // lake, plus occasionally a non-parsing literal (derives
          // nothing; must still lose zero rows)
          val d = java.time.LocalDate.ofEpochDay(Math.floorDiv(v, N))
          val lit = rnd.nextInt(4) match {
            case 0 => d.toString
            case 1 => d.plusDays(1).toString
            case 2 => s"${d.getYear}-13-45" // regex-passing, parse-failing
            case _ => "not-a-date"
          }
          s"date_format(ts, 'yyyy-MM-dd') ${Seq(">=", "<=", "=", "<", ">")(rnd.nextInt(5))} '$lit'"
        case _ => s"ts_ns IN (${Seq.fill(3)(randNs()).mkString("L, ")}L)"
      }
    }
    def randPred(depth: Int): String =
      if (depth == 0 || rnd.nextInt(3) == 0) randLeaf()
      else {
        val op = if (rnd.nextBoolean()) "AND" else "OR"
        s"(${randPred(depth - 1)} $op ${randPred(depth - 1)})"
      }
    val excludedKey = "spark.sql.optimizer.excludedRules"
    (1 to 80).foreach { i =>
      val pred = randPred(2)
      val withRule = Tables.events(spark, d).filter(expr(pred)).count()
      val savedExtra = spark.experimental.extraOptimizations
      val savedExcluded = spark.conf.getOption(excludedKey)
      val withoutRule = try {
        spark.experimental.extraOptimizations =
          savedExtra.filterNot(_ eq plans.EventTimeDayPruning)
        spark.conf.set(excludedKey,
          (savedExcluded.toSeq :+ plans.EventTimeDayPruning.ruleName).mkString(","))
        Tables.events(spark, d).filter(expr(pred)).count()
      } finally {
        spark.experimental.extraOptimizations = savedExtra
        savedExcluded.fold(spark.conf.unset(excludedKey))(v => spark.conf.set(excludedKey, v))
      }
      assert(withRule == withoutRule,
        s"predicate #$i loses rows under pruning: $withRule with rule, " +
          s"$withoutRule without — $pred")
    }
  }

  test("pruning algebra effectiveness: 40 random conjunctive windows list ~only their days") {
    // The differential fuzz proves safety (no rows lost) but would pass
    // silently if the rule stopped MATCHING and every query full-scanned
    // — this is the other half: for random conjunctive time windows of
    // every recognized shape, the listing must stay within matched-days
    // + 2 (one day of conservative widening per bound), never the whole
    // lake when the window is narrow.
    import spark.implicits._
    val N = Tables.NsPerDay
    val d = java.nio.file.Files.createTempDirectory("graft_prunefx").toString
    val rows = for {
      day <- 0L to 19L
      off <- Seq(1L, N / 2, N - 1L)
    } yield (day * 3 + off % 3, day * N + off, day, s"t${off % 2}", 1.0, "{}")
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .repartition(1).write.mode("overwrite").parquet(s"$d/events.parquet")
    val days = Tables.eventsLakeDays(spark, d)
    assert(days.size == 20)
    val rnd = new scala.util.Random(7)
    def scanParts(df: org.apache.spark.sql.DataFrame): Int = {
      val phys = df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
        case p => p
      }
      phys.collectLeaves().collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.get.selectedPartitions.partitionCount
    }
    (1 to 40).foreach { i =>
      // a window [loNs, hiNs) through a random recognized lower/upper shape
      val loDay = rnd.nextInt(18).toLong
      val width = 1L + rnd.nextInt(4)
      val (loNs, hiNs) = (loDay * N + rnd.nextInt(1000), (loDay + width) * N)
      val loPred = rnd.nextInt(4) match {
        case 0 => s"ts_ns >= ${loNs}L"
        case 1 => s"ts >= timestamp_micros(${loNs / 1000})"
        case 2 => s"unix_seconds(ts) >= ${loNs / 1000000000L}L"
        case _ => s"ts_ns div 1000000 >= ${loNs / 1000000L}L"
      }
      val hiPred = rnd.nextInt(4) match {
        case 0 => s"ts_ns < ${hiNs}L"
        case 1 => s"ts < timestamp_micros(${hiNs / 1000})"
        case 2 => s"date_trunc('day', ts) < timestamp_micros(${hiNs / 1000})"
        case _ => s"ts_ns div 1000 < ${hiNs / 1000L}L"
      }
      val q = Tables.events(spark, d).filter(expr(s"$loPred AND $hiPred"))
      val matchedDays = q.select(expr("ts_ns div " + N).as("dd")).distinct().count()
      val scanned = scanParts(q.groupBy("event_type").count())
      assert(scanned <= matchedDays + 2 && scanned < days.size,
        s"predicate #$i did not prune: scanned $scanned of ${days.size} days " +
          s"for a $matchedDays-day match — $loPred AND $hiPred")
    }
  }

  test("fixed-offset sessions: calendar shapes shift, lose zero rows, and still prune") {
    // r12 refused every non-UTC session; r13 derives SHIFTED day bounds
    // for fixed offsets (VERDICT r12 #5a). Differential + effectiveness
    // over the epoch-straddling mini-lake under three offsets, incl.
    // half-hour and 45-minute zones (day boundaries land mid-UTC-day).
    import spark.implicits._
    val N = Tables.NsPerDay
    val d = java.nio.file.Files.createTempDirectory("graft_offsetfuzz").toString
    val rows = for {
      day <- -3L to 3L
      off <- Seq(0L, 1L, N / 3, N / 2, 2 * N / 3, N - 1L)
    } yield (day * 6 + off % 6, day * N + off, day, s"t${off % 2}", 1.0, "{}")
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .repartition(1).write.mode("overwrite").parquet(s"$d/events.parquet")
    val days = Tables.eventsLakeDays(spark, d)
    val tzKey = "spark.sql.session.timeZone"
    val savedTz = spark.conf.get(tzKey)
    val excludedKey = "spark.sql.optimizer.excludedRules"
    val rnd = new scala.util.Random(13)
    try {
      Seq("+08:00", "-05:30", "+13:45").foreach { tz =>
        spark.conf.set(tzKey, tz)
        val preds = (1 to 12).map { _ =>
          val v = (-3L + rnd.nextInt(7)) * N + (rnd.nextDouble() * N).toLong
          rnd.nextInt(3) match {
            case 0 =>
              val unit = Seq("day", "hour", "month")(rnd.nextInt(3))
              s"date_trunc('$unit', ts) ${Seq(">=", "<=", "=")(rnd.nextInt(3))} " +
                s"timestamp_micros(${v / 1000})"
            case 1 =>
              s"CAST(ts AS DATE) ${Seq(">=", "<=", "=")(rnd.nextInt(3))} " +
                s"date_add(DATE '1970-01-01', ${Math.floorDiv(v, N).toInt})"
            case _ =>
              val ld = java.time.LocalDate.ofEpochDay(Math.floorDiv(v, N))
              s"date_format(ts, 'yyyy-MM-dd') ${Seq(">=", "<=", "=")(rnd.nextInt(3))} '$ld'"
          }
        }
        preds.foreach { pred =>
          val withRule = Tables.events(spark, d).filter(expr(pred)).count()
          val savedExtra = spark.experimental.extraOptimizations
          val withoutRule = try {
            spark.experimental.extraOptimizations =
              savedExtra.filterNot(_ eq plans.EventTimeDayPruning)
            spark.conf.set(excludedKey, plans.EventTimeDayPruning.ruleName)
            Tables.events(spark, d).filter(expr(pred)).count()
          } finally {
            spark.experimental.extraOptimizations = savedExtra
            spark.conf.unset(excludedKey)
          }
          assert(withRule == withoutRule,
            s"offset $tz loses rows: $withRule with rule, $withoutRule without — $pred")
        }
        // effectiveness: one LOCAL day straddles at most two UTC day
        // dirs — the derived shifted bound must list ≤ 2, never all
        val q = Tables.events(spark, d)
          .filter(expr("date_format(ts, 'yyyy-MM-dd') = '1970-01-02'"))
          .groupBy("event_type").count()
        val scanned = scanOfPlan(q).selectedPartitions.partitionCount
        assert(scanned <= 2 && scanned < days.size,
          s"offset $tz did not prune: $scanned of ${days.size} days listed")
      }
    } finally spark.conf.set(tzKey, savedTz)
  }

  test("lake contract names the drifted column with expected vs found types") {
    import spark.implicits._
    // documents with n_chars retyped string and text missing — the
    // wrong-typed fixture the r6 postmortem asked for
    val broken = Seq((1L, "en", "web", "42")).toDF("doc_id", "lang", "source", "n_chars")
    val v = queries.LakeContract.tableViolations("documents", broken)
    assert(v.exists(m => m.contains("documents.n_chars") &&
      m.contains("expected integral") && m.contains("string")), v.mkString("; "))
    assert(v.exists(m => m.contains("documents.text") && m.contains("MISSING")),
      v.mkString("; "))
  }

  test("Tables.events throws a readable error on an un-normalizable ts encoding") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_badlake").toString
    Seq((1L, "not-a-time", 1L, "t0", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    val e = intercept[IllegalStateException](Tables.events(spark, d))
    assert(e.getMessage.contains("events.ts") &&
      e.getMessage.toLowerCase.contains("string"), e.getMessage)
  }
}
