package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dml

/** DML-as-rewrite semantics (reference dml/delete.slt,
  * dml/update_field.slt, data_tests/data_ttl.slt): NULL predicates
  * neither delete nor update a row, TTL keeps the boundary row.
  */
class DmlSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def df = {
    import spark.implicits._
    Seq[(Long, String, java.lang.Double)](
      (1L, "a", 1.0), (2L, "b", null), (3L, "a", 3.0), (4L, "c", 10.0)
    ).toDF("id", "tag", "v")
  }

  test("delete drops matching rows; NULL predicate keeps the row") {
    val out = Dml.delete(df, col("v") < 5.0).select("id").as[Long](spark.implicits.newLongEncoder).collect().sorted
    assert(out.toSeq == Seq(2L, 4L)) // id=2 has NULL v → not deleted
  }

  test("update rewrites only matching rows; NULL predicate leaves value") {
    val out = Dml.update(df, col("v") >= 3.0, "tag", lit("hot"))
      .orderBy("id").select("tag").collect().map(_.getString(0)).toSeq
    assert(out == Seq("a", "b", "hot", "hot"))
  }

  test("upsert: source wins on match (even with NULL fields), both sides' extras survive") {
    import spark.implicits._
    val target = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("id", "tag", "v")
    val source = Seq((2L, "B", Double.NaN), (4L, "d", 40.0))
      .toDF("id", "tag", "v")
      .withColumn("v", org.apache.spark.sql.functions.when(col("id") === 2L,
        org.apache.spark.sql.functions.lit(null).cast("double")).otherwise(col("v")))
    val out = Dml.upsert(target, source, Seq("id")).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), if (r.isNullAt(2)) null else r.getDouble(2)))
    assert(out.toSeq == Seq((1L, "a", 10.0), (2L, "B", null), (3L, "c", 30.0), (4L, "d", 40.0)))
  }

  test("compact levels a many-small-files directory and preserves rows + clustering") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_compact").toString
    val in = s"$tmp/in"
    val out = s"$tmp/out"
    // 64 tiny files out of order — the streaming-sink pathology
    (1 to 2048).map(i => (i.toLong * 2654435761L % 4096, s"payload_$i"))
      .toDF("k", "payload").repartition(64).write.parquet(in)
    val inFiles = new java.io.File(in).listFiles.count(_.getName.endsWith(".parquet"))
    assert(inFiles == 64)
    val n = Dml.compact(spark, in, out, targetBytesPerFile = 1L << 20,
      sortCols = Seq("k"))
    val outFiles = new java.io.File(out).listFiles
      .filter(_.getName.endsWith(".parquet"))
    assert(outFiles.length == n && n < 8, s"64 tiny files → $n leveled files")
    val readBack = spark.read.parquet(out)
    assert(readBack.count() == 2048, "no rows lost")
    // range-partition + sort restored zone-map clustering: per-file
    // [min,max] of k must not overlap across files
    val ranges = outFiles.map { f =>
      val d = spark.read.parquet(f.getAbsolutePath).agg(min("k"), max("k")).head
      (d.getLong(0), d.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo2, _)) => assert(hi <= lo2, "files must not overlap in k")
      case _ =>
    }
  }

  test("applyTtl keeps rows at exactly now - ttl") {
    import spark.implicits._
    val ts = Seq("2024-01-01 00:00:00", "2024-01-10 00:00:00", "2024-01-20 00:00:00")
      .toDF("s").select(col("s").cast("timestamp").as("ts"))
    val kept = Dml.applyTtl(ts, "ts", lit("2024-01-20 00:00:00").cast("timestamp"),
      expr("INTERVAL 10 DAY")).count()
    assert(kept == 2) // 01-10 is exactly the boundary → kept
  }

  test("expireDays drops whole expired day dirs, rewrites only the straddling day") {
    import spark.implicits._
    val N = graft.Tables.NsPerDay
    // 4 days × 3 rows at 06:00/12:00/18:00
    def mkLake(): String = {
      val root = java.nio.file.Files.createTempDirectory("graft_ttl_spec").toString
      (0L until 4L).flatMap(d => Seq(6L, 12L, 18L).map(h => (d, d * N + h * 3600L * 1000000000L)))
        .toDF("d", "ts")
        .withColumn("day", expr(graft.Tables.dayOfNsSql("ts"))).drop("d")
        .repartition(1)
        .write.partitionBy("day").mode("overwrite").parquet(root)
      root
    }
    def days(root: String) = Option(new java.io.File(root).listFiles())
      .getOrElse(Array.empty).filter(_.getName.startsWith("day=")).map(_.getName).sorted.toSeq

    // mid-day cutoff: day 1 noon → day 0 dropped whole, day 1 rewritten
    // keeping 12:00 (>= boundary) and 18:00, days 2-3 untouched
    val lake1 = mkLake()
    val s1 = Dml.expireDays(spark, lake1, N + 12L * 3600L * 1000000000L)
    assert(s1 == Dml.ExpireStats(1, true, 2L), s1.toString)
    assert(days(lake1) == Seq("day=1970-01-02", "day=1970-01-03", "day=1970-01-04"))
    assert(spark.read.parquet(lake1).count() == 8) // 2 boundary + 2×3 later days

    // day-aligned cutoff: pure directory drops, NO rewrite at all
    val lake2 = mkLake()
    val s2 = Dml.expireDays(spark, lake2, 2L * N)
    assert(s2 == Dml.ExpireStats(2, false, 0L), s2.toString)
    assert(days(lake2) == Seq("day=1970-01-03", "day=1970-01-04"))
    assert(spark.read.parquet(lake2).count() == 6)

    // cutoff before the lake: nothing dropped, nothing rewritten
    val lake3 = mkLake()
    val s3 = Dml.expireDays(spark, lake3, -5L * N)
    assert(s3 == Dml.ExpireStats(0, false, 0L), s3.toString)
    assert(spark.read.parquet(lake3).count() == 12)

    // explicit file: URI — the whole lifecycle must run through the
    // Hadoop FileSystem API with no java.io.File assumptions (VERDICT
    // r12 #1: an HDFS/S3 lake root takes exactly this code path)
    val lake4 = mkLake()
    val s4 = Dml.expireDays(spark, s"file://$lake4", N + 12L * 3600L * 1000000000L)
    assert(s4 == Dml.ExpireStats(1, true, 2L), s4.toString)
    assert(days(lake4) == Seq("day=1970-01-02", "day=1970-01-03", "day=1970-01-04"))
    assert(spark.read.parquet(lake4).count() == 8)
  }

  test("expireDays boundaryRowsKept equals the rows in the rewritten day, across files") {
    import spark.implicits._
    val N = graft.Tables.NsPerDay
    val minute = 60L * 1000000000L
    // day 1 holds 1,000 rows one minute apart (00:00 to 16:39) in 4
    // files, so the kept rows are counted across several write tasks
    def mkLake(): String = {
      val root = java.nio.file.Files.createTempDirectory("graft_ttl_kept").toString
      (0L until 1000L).map(i => N + i * minute).toDF("ts")
        .withColumn("day", expr(graft.Tables.dayOfNsSql("ts")))
        .repartition(4)
        .write.partitionBy("day").mode("overwrite").parquet(root)
      root
    }
    def dayRows(root: String) = spark.read.parquet(s"$root/day=1970-01-02").count()

    val lake1 = mkLake()
    val s1 = Dml.expireDays(spark, lake1, N + 600L * minute)
    assert(s1 == Dml.ExpireStats(0, true, 400L), s1.toString)
    assert(dayRows(lake1) == s1.boundaryRowsKept)

    // a cutoff past the day's last row still rewrites the day, keeping 0
    val lake2 = mkLake()
    val s2 = Dml.expireDays(spark, lake2, N + 23L * 60L * minute)
    assert(s2 == Dml.ExpireStats(0, true, 0L), s2.toString)
    assert(dayRows(lake2) == 0L)
  }

  test("expireDays self-heals a swap interrupted at either crash point (ADVICE r12)") {
    import spark.implicits._
    val N = graft.Tables.NsPerDay
    def mkLake(): String = {
      val root = java.nio.file.Files.createTempDirectory("graft_ttl_heal").toString
      (0L until 3L).flatMap(d => Seq(6L, 18L).map(h => (d, d * N + h * 3600L * 1000000000L)))
        .toDF("d", "ts")
        .withColumn("day", expr(graft.Tables.dayOfNsSql("ts"))).drop("d")
        .repartition(1)
        .write.partitionBy("day").mode("overwrite").parquet(root)
      root
    }
    def mv(a: String, b: String): Unit =
      java.nio.file.Files.move(java.nio.file.Paths.get(a), java.nio.file.Paths.get(b))

    // crash point 1: between the two renames — day= gone, original in
    // .ttl-old-*, rewrite stranded in .ttl-tmp-*. Without healing, every
    // read and every later expireDays silently excludes that day.
    val lake1 = mkLake()
    mv(s"$lake1/day=1970-01-02", s"$lake1/.ttl-old-1970-01-02")
    spark.read.parquet(s"$lake1/.ttl-old-1970-01-02").filter(col("ts") >= N + 1)
      .write.parquet(s"$lake1/.ttl-tmp-1970-01-02")
    // heal-only call (cutoff touches nothing): day restored with its
    // ORIGINAL rows, leftovers gone
    val h1 = Dml.expireDays(spark, lake1, -5L * N)
    assert(h1 == Dml.ExpireStats(0, false, 0L, healedDays = 1), h1.toString)
    assert(spark.read.parquet(lake1).count() == 6, "restored lake must hold all rows")
    assert(!new java.io.File(s"$lake1/.ttl-tmp-1970-01-02").exists())
    assert(!new java.io.File(s"$lake1/.ttl-old-1970-01-02").exists())

    // crash point 2: after the second rename, before the aside delete —
    // day= holds the REWRITE, .ttl-old-* still holds the expired
    // original. Healing must NOT move the aside back (that would
    // resurrect expired rows) — just delete it.
    val lake2 = mkLake()
    val c2 = N + 12L * 3600L * 1000000000L // day-1 noon
    Dml.expireDays(spark, lake2, c2) // complete a real run first...
    val rewritten = spark.read.parquet(lake2).count()
    // ...then fake the crash state: a stale aside full of expired rows
    spark.read.parquet(s"$lake2/day=1970-01-03")
      .write.parquet(s"$lake2/.ttl-old-1970-01-02")
    val h2 = Dml.expireDays(spark, lake2, -5L * N)
    assert(h2 == Dml.ExpireStats(0, false, 0L, healedDays = 0), h2.toString)
    assert(!new java.io.File(s"$lake2/.ttl-old-1970-01-02").exists())
    assert(spark.read.parquet(lake2).count() == rewritten,
      "healing a completed swap must not change the lake")

    // heal-then-process in ONE call: the restored day is immediately
    // re-expired by the same invocation's cutoff
    val lake3 = mkLake()
    mv(s"$lake3/day=1970-01-01", s"$lake3/.ttl-old-1970-01-01")
    val h3 = Dml.expireDays(spark, lake3, 2L * N)
    assert(h3 == Dml.ExpireStats(2, false, 0L, healedDays = 1), h3.toString)
    assert(spark.read.parquet(lake3).count() == 2)
  }

  test("expireDaysUnified: catalog partition drops + bucket-preserving boundary rewrite (r13)") {
    import spark.implicits._
    val N = graft.Tables.NsPerDay
    // a tiny day-partitioned + tag-bucketed catalog table, the unified
    // layout's shape: 4 days × 3 rows (06:00/12:00/18:00), 2 tag buckets
    def mkTable(): (String, String) = {
      val root = java.nio.file.Files.createTempDirectory("graft_ttl_uni").toString
      val tbl = s"graft_ttl_uni_${System.nanoTime()}"
      val stage = tbl + "_stage"
      (0L until 4L).flatMap(d => Seq(6L, 12L, 18L).map(h =>
          (d * 100 + h, d * N + h * 3600L * 1000000000L, s"t${h % 2}")))
        .toDF("id", "ts", "tag")
        .withColumn("day", expr(graft.Tables.dayOfNsSql("ts")))
        .repartition(1)
        .write.partitionBy("day").bucketBy(2, "tag").sortBy("tag", "ts")
        .option("path", root).saveAsTable(stage)
      spark.sql(s"DROP TABLE $stage")
      spark.sql(
        s"""CREATE TABLE $tbl (id BIGINT, ts BIGINT, tag STRING, day DATE)
           |USING parquet PARTITIONED BY (day)
           |CLUSTERED BY (tag) SORTED BY (tag, ts) INTO 2 BUCKETS
           |LOCATION '$root'""".stripMargin)
      spark.sql(s"MSCK REPAIR TABLE $tbl")
      (tbl, root)
    }
    def parts(tbl: String) = spark.sql(s"SHOW PARTITIONS $tbl").collect()
      .map(_.getString(0)).sorted.toSeq

    // mid-day cutoff: day 0 dropped from catalog AND disk; day 1
    // rewritten THROUGH the table keeping 12:00 + 18:00
    val (t1, r1) = mkTable()
    val s1 = Dml.expireDaysUnified(spark, t1, N + 12L * 3600L * 1000000000L)
    assert(s1 == Dml.ExpireStats(1, true, 2L), s1.toString)
    assert(parts(t1) == Seq("day=1970-01-02", "day=1970-01-03", "day=1970-01-04"))
    assert(!new java.io.File(s"$r1/day=1970-01-01").exists(), "expired dir must be gone")
    assert(spark.table(t1).count() == 8)
    // the rewritten boundary partition kept the bucket-id file naming...
    val bFiles = new java.io.File(s"$r1/day=1970-01-02").listFiles()
      .map(_.getName).filter(_.endsWith(".parquet"))
    assert(bFiles.nonEmpty && bFiles.forall(_.matches(".*_\\d{5}\\..*parquet")),
      s"boundary rewrite lost bucket naming: ${bFiles.mkString(",")}")
    // ...so the per-tag aggregate still plans WITHOUT a shuffle
    val agg = spark.table(t1).groupBy("tag").count()
    assert(!agg.queryExecution.executedPlan.toString.contains("Exchange hashpartitioning"),
      "post-TTL bucketed aggregate must not shuffle")
    assert(agg.collect().map(_.getLong(1)).sum == 8L)

    // day-aligned cutoff: pure catalog + directory drops, no rewrite
    val (t2, _) = mkTable()
    val s2 = Dml.expireDaysUnified(spark, t2, 2L * N)
    assert(s2 == Dml.ExpireStats(2, false, 0L), s2.toString)
    assert(parts(t2) == Seq("day=1970-01-03", "day=1970-01-04"))
    assert(spark.table(t2).count() == 6)

    // cutoff before the table: a no-op
    val (t3, _) = mkTable()
    val s3 = Dml.expireDaysUnified(spark, t3, -5L * N)
    assert(s3 == Dml.ExpireStats(0, false, 0L), s3.toString)
    assert(spark.table(t3).count() == 12)

    // compactUnified: fragment day 2 of t3 by re-inserting its own rows
    // as 3 single-task appends (what 3 micro-batch triggers leave), then
    // re-level through the table — bucket naming and content preserved
    val (t4, r4) = mkTable()
    val day = "1970-01-02"
    def dayFiles() = new java.io.File(s"$r4/day=$day").listFiles()
      .map(_.getName).filter(_.endsWith(".parquet"))
    val frag = java.nio.file.Files.createTempDirectory("graft_compact_uni_frag").toString
    spark.table(t4).filter(col("day") === to_date(lit(day)))
      .select("id", "ts", "tag").write.mode("overwrite").parquet(frag)
    Seq(6L, 12L, 18L).zipWithIndex.foreach { case (h, k) =>
      val v = s"uni_frag_spec_$k"
      spark.read.parquet(frag).filter(col("id") % 100 === h)
        .repartition(1).createOrReplaceTempView(v)
      val verb = if (k == 0) "OVERWRITE TABLE" else "INTO"
      spark.sql(s"INSERT $verb $t4 PARTITION (day='$day') SELECT id, ts, tag FROM $v")
      spark.catalog.dropTempView(v)
    }
    val fragged = dayFiles().length
    assert(fragged > 2, s"fragmentation wrote $fragged file(s)")
    val (before, after) = Dml.compactUnified(spark, t4, day, 2, Seq("tag"))
    assert(before == fragged && after <= 2 && after < before, s"$before -> $after")
    assert(dayFiles().forall(_.matches(".*_\\d{5}\\..*parquet")), "bucket naming lost")
    assert(spark.table(t4).filter(col("day") === to_date(lit(day))).count() == 3,
      "compaction must preserve the day's rows")
    val agg4 = spark.table(t4).groupBy("tag").count()
    assert(!agg4.queryExecution.executedPlan.toString.contains("Exchange hashpartitioning"),
      "post-compaction bucketed aggregate must not shuffle")
  }
}
