package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Quantifies the "approximate" in q_approx_agg (driver entry is
  * rows-only because sketches are engine-specific): HLL distinct counts
  * and quantile sketches are asserted against the EXACT values with
  * explicit error bounds, on the same lineitem slice the driver query
  * reads.
  */
class ApproxAggSpec extends AnyFunSuite with TestSpark {

  private val sf = "/root/testdata/sf0.001"

  test("approx_count_distinct is within its configured rsd of the exact count") {
    val li = Tables(spark, sf, "lineitem")
    val rows = li.groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).as("exact"),
        approx_count_distinct(col("l_partkey"), rsd = 0.02).as("approx"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val exact = r.getAs[Long]("exact").toDouble
      val approx = r.getAs[Long]("approx").toDouble
      val relErr = math.abs(approx - exact) / exact
      // rsd=0.02 is one standard deviation; 5 sigma is a safe hard bound
      assert(relErr <= 0.10,
        s"flag ${r.get(0)}: HLL err $relErr (exact=$exact approx=$approx) > 10%")
    }
  }

  test("percentile_approx at high accuracy brackets the exact percentile") {
    val li = Tables(spark, sf, "lineitem")
    val r = li.agg(
      expr("percentile(l_extendedprice, 0.5)").as("exact_p50"),
      percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000)).as("approx_p50"),
      expr("percentile(l_extendedprice, 0.9)").as("exact_p90"),
      percentile_approx(col("l_extendedprice"), lit(0.9), lit(10000)).as("approx_p90"),
      min("l_extendedprice").as("lo"), max("l_extendedprice").as("hi")).head()
    val span = r.getAs[Double]("hi") - r.getAs[Double]("lo")
    def check(tag: String): Unit = {
      val exact = r.getAs[Double](s"exact_$tag")
      val approx = r.getAs[Double](s"approx_$tag")
      // accuracy=10000 ⇒ rank error ≤ 1/10000; 1% of the value span is a
      // generous hard bound over this distribution
      assert(math.abs(approx - exact) <= 0.01 * span,
        s"$tag: |$approx - $exact| > 1% of span $span")
    }
    check("p50"); check("p90")
  }

  test("hll sketch rollup: hourly-sketch union matches exact daily distincts within 5%") {
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    val rolled = graft.queries.TimeSeriesQueries.queries("ts_sketch_rollup")(
      spark, "/root/testdata/sf0.001")
    val exact = ev.groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
      .agg(countDistinct("user_id").as("independent_exact"))
    val joined = rolled.join(exact, Seq("day", "event_type")).collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      // the entry now carries its own exact lane + the tolerance boolean
      assert(r.getAs[Long]("exact_users") == r.getAs[Long]("independent_exact"),
        s"${r.getAs[Any]("day")}/${r.getAs[String]("event_type")}: exact lanes disagree")
      assert(r.getAs[Boolean]("sketch_ok"),
        s"${r.getAs[Any]("day")}/${r.getAs[String]("event_type")}: sketch outside 5%")
    }
  }

  test("q_approx_agg plans no percentile buffer keyed on the distinct column") {
    // Regression guard for the r5 scale fix: countDistinct + exact
    // percentile in ONE aggregate makes Spark's distinct rewrite key the
    // partial aggregate on (l_returnflag, l_partkey), carrying a
    // percentile hash-map buffer per PARTKEY group — ~600k live maps at
    // sf1 (106 s warm, memory ∝ corpus distinct count). The entry keeps
    // the lanes in separate branches; this pins that no aggregate node
    // ever groups on l_partkey while computing a percentile.
    val df = graft.queries.CoreSql.queries("q_approx_agg")(spark, sf)
    val offenders = df.queryExecution.executedPlan.collect {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
          if a.groupingExpressions.exists(_.toString.contains("l_partkey")) &&
            a.aggregateExpressions.exists(_.toString.toLowerCase.contains("percentile")) => a
    }
    assert(offenders.isEmpty,
      s"percentile carried through the distinct keyspace:\n${offenders.mkString("\n")}")
  }

  test("weightedPercentile matches a hand-computed fixture") {
    import spark.implicits._
    // values 10,20,30,40 with weights 1,1,6,2 (total 10):
    // cum: 1,2,8,10 → p25→30 (first cum ≥ 2.5), p50→30, p90→40
    val df = Seq((1, 10.0, 1.0), (2, 20.0, 1.0), (3, 30.0, 6.0), (4, 40.0, 2.0))
      .toDF("id", "v", "w")
    val out = graft.functions.Percentiles.weightedPercentile(
      df.withColumn("g", lit(1)), Seq("g"), col("v"), col("w"), col("id"),
      Seq("p25" -> 0.25, "p50" -> 0.5, "p90" -> 0.9)).head()
    assert(out.getAs[Double]("p25") == 30.0)
    assert(out.getAs[Double]("p50") == 30.0)
    assert(out.getAs[Double]("p90") == 40.0)
  }

  test("weightedPercentile sharded prefix sum is shard-count invariant and equals the window form (r15)") {
    import spark.implicits._
    // deterministic pseudo-random fixture with duplicate values, ties,
    // negative values, and integer-valued weights across 3 groups —
    // the regime where the distributed prefix sum must be BIT-identical
    // to the r14 single-window spelling
    val df = (1 to 500).map { i =>
      (i.toLong, i % 3, ((i * 2654435761L) % 97 - 20).toDouble,
        ((i * 40503L) % 7 + 1).toDouble)
    }.toDF("id", "g", "v", "w")
    val qs = Seq("p10" -> 0.1, "p50" -> 0.5, "p99" -> 0.99)
    // the r14 single-window reference, inlined
    val cumW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("v"), col("id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val totW = org.apache.spark.sql.expressions.Window.partitionBy(col("g"))
    val ref = df.withColumn("__cum", sum(col("w")).over(cumW))
      .withColumn("__tot", sum(col("w")).over(totW))
      .groupBy("g")
      .agg(qs.map { case (l, q) =>
        min(when(col("__cum") >= lit(q) * col("__tot"), col("v"))).as(l)
      }.head, qs.map { case (l, q) =>
        min(when(col("__cum") >= lit(q) * col("__tot"), col("v"))).as(l)
      }.tail: _*)
      .orderBy("g").collect().toSeq
    for (shards <- Seq(1, 7, 256)) {
      val got = graft.functions.Percentiles.weightedPercentile(
        df, Seq("g"), col("v"), col("w"), col("id"), qs, shards = shards)
        .orderBy("g").collect().toSeq
      assert(got == ref, s"shards=$shards diverged:\n got $got\n ref $ref")
    }
  }
}
