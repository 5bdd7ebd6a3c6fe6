package graft

import org.scalatest.funsuite.AnyFunSuite

/** ANSI-mode smoke (VERDICT r8 #8 asked which lanes survive strict
  * mode). Finding: Spark 4 defaults `spark.sql.ansi.enabled=true`, so
  * EVERY suite run and every driver correctness/bench round already
  * executes under strict ANSI — invalid casts, overflow, and
  * out-of-bounds element_at would have thrown in eight rounds of green
  * gates. This spec pins that fact (the shared session really is
  * ANSI-on) and additionally re-runs representative scalar-heavy lanes
  * on a `newSession()` with ANSI OFF (session-scoped SQLConf — shared
  * context untouched), asserting identical results: the lanes rely on
  * no mode-dependent coercion semantics in either direction, so a
  * cluster pinned to legacy mode gets the same answers.
  */
class AnsiModeSpec extends AnyFunSuite with TestSpark {

  private val sf = "/root/testdata/sf0.001"

  private val lanes = Seq(
    "q01_pricing_summary", "q_math_funcs", "q_string_funcs",
    "q_time_funcs", "q_conditional", "q_type_cast", "ts_date_bin",
    "doc_quality_score", "ts_rate_bucket")

  test("the default session IS strict ANSI, and lanes agree with legacy mode") {
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true",
      "Spark 4 default posture changed — every green round so far ran ANSI-on; " +
        "re-validate the suite under the new default")
    val legacy = spark.newSession()
    legacy.conf.set("spark.sql.ansi.enabled", "false")
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true",
      "newSession conf must not leak into the shared session")
    lanes.foreach { name =>
      val fn = SparkEntry.queries(name)
      val want = fn(spark, sf).collect()
      val got =
        try fn(legacy, sf).collect()
        catch {
          case e: Throwable =>
            fail(s"$name threw under legacy mode: ${e.getMessage.take(300)}")
        }
      assert(got.length == want.length && want.nonEmpty,
        s"$name: row count drift across ANSI modes (${got.length} vs ${want.length})")
      assert(got.map(_.toString).sorted.sameElements(want.map(_.toString).sorted),
        s"$name: values drift across ANSI modes")
    }
  }
}
