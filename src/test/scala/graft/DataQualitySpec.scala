package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.DataQuality

/** Fixtures from the reference's own slt case
  * (query_server/sqllogicaltests/cases/function/data_quality.slt):
  * 15 samples incl. one NaN (acos(12345)), expected metric values
  * printed by cnosdb itself.
  */
class DataQualitySpec extends AnyFunSuite with TestSpark {

  private val times = Array[Double](1, 3, 4, 6, 10, 13, 14, 16, 18, 19, 22, 24, 26, 31, 33)
  private val values = Array[Double](12.34, 34.54, 1.43, 14.03, 12.30, 11.54, 112.20,
    14.44, 134.02, 116.34, 1234.45, 10.36, 124.21, 6.34, Double.NaN)

  test("completeness matches reference") {
    val m = DataQuality.compute(times, values).get
    assert(math.abs(m.completeness - 0.8235294117647058) < 1e-12)
  }

  test("consistency matches reference") {
    val m = DataQuality.compute(times, values).get
    assert(math.abs(m.consistency - 0.8666666666666667) < 1e-12)
  }

  test("timeliness matches reference") {
    val m = DataQuality.compute(times, values).get
    assert(math.abs(m.timeliness - 0.9333333333333333) < 1e-12)
  }

  test("validity matches reference") {
    val m = DataQuality.compute(times, values).get
    assert(math.abs(m.validity - 0.8) < 1e-12)
  }

  test("data_quality_4: scrambled insert order yields identical metrics (slt:82-102)") {
    // The reference's fourth fixture inserts the same 15 samples in a
    // shuffled order and prints the same four metrics — the aggregate is
    // order-insensitive because it sorts by time first. Mirror that by
    // feeding compute() the time-sorted view of the shuffled arrays.
    val tShuf = Array[Double](26, 6, 22, 10, 1, 31, 3, 4, 13, 14, 16, 18, 19, 24, 33)
    val vShuf = Array[Double](124.21, 14.03, 1234.45, 12.30, 12.34, 6.34, 34.54, 1.43,
      11.54, 112.20, 14.44, 134.02, 116.34, 10.36, Double.NaN)
    val sorted = tShuf.zip(vShuf).sortBy(_._1)
    val m = DataQuality.compute(sorted.map(_._1), sorted.map(_._2)).get
    assert(math.abs(m.completeness - 0.8235294117647058) < 1e-12)
    assert(math.abs(m.consistency - 0.8666666666666667) < 1e-12)
    assert(math.abs(m.timeliness - 0.9333333333333333) < 1e-12)
    assert(math.abs(m.validity - 0.8) < 1e-12)
  }

  test("fewer than two finite values → None (reference errors)") {
    assert(DataQuality.compute(Array(1.0), Array(12.34)).isEmpty)
    assert(DataQuality.compute(Array(1.0, 2.0, 3.0),
      Array(12.34, Double.NaN, Double.NaN)).isEmpty)
  }

  test("madOutliersCompact equals the three-pass variant on real data") {
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("event_type", "user_id").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getDouble(4), r.getDouble(5))).toSeq
    val threePass = canon(DataQuality.madOutliers(ev, Seq("event_type", "user_id"), "value"))
    val onePass = canon(DataQuality.madOutliersCompact(ev, Seq("event_type", "user_id"), "value"))
    assert(threePass.nonEmpty && onePass == threePass)
  }

  test("validityStats matches the sequential aggregate's validity on the slt fixture") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = times.zip(values).toSeq.map { case (t, v) => ("s1", t, v) }
      .toDF("sid", "t", "v")
    val out = DataQuality.validityStats(df, col("t"), col("v"), Seq("sid"))
      .collect()
    assert(out.length == 1)
    val r = out.head
    // reference slt validity = 0.8 on this fixture (4 counts sum to 12/15·4)
    assert(r.getAs[Double]("validity") == 0.8, s"got $r")
    assert(r.getAs[Long]("n") == 15)
  }

  test("validityStats equals the whole-series aggregate per group on real data") {
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .filter(col("user_id") < 30)
      .withColumn("v", when(col("event_id") % 17 === 0, lit(Double.NaN))
        .otherwise(col("value")))
    val seqV = DataQuality.dataQuality(ev, col("ts"), col("v"), Seq("user_id"))
      .select("user_id", "validity").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val distV = DataQuality.validityStats(ev, col("ts").cast("double"), col("v"),
        Seq("user_id"))
      .select("user_id", "validity").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(seqV.nonEmpty && distV == seqV,
      s"per-group validity drift: ${distV.toSeq.diff(seqV.toSeq).take(3)}")
  }
}
