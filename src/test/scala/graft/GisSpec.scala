package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Gis
import graft.functions.Gis._

class GisSpec extends AnyFunSuite with TestSpark {

  test("WKT point round-trips through WKB") {
    val g = parseWkt("POINT(1.5 -2.25)")
    assert(fromWkb(toWkb(g)) == g)
  }

  test("WKT polygon round-trips through WKB") {
    val g = parseWkt("POLYGON((0 0, 4 0, 4 4, 0 4, 0 0))")
    assert(fromWkb(toWkb(g)) == g)
  }

  test("distance point-point") {
    assert(math.abs(distance(Pt(0, 0), Pt(3, 4)) - 5.0) < 1e-12)
  }

  test("distance point-polygon is zero inside, positive outside") {
    val box = parseWkt("POLYGON((0 0, 4 0, 4 4, 0 4, 0 0))").asInstanceOf[Poly]
    assert(distance(Pt(2, 2), box) == 0.0)
    assert(math.abs(distance(Pt(6, 2), box) - 2.0) < 1e-12)
  }

  test("area via shoelace") {
    val tri = parseWkt("POLYGON((0 0, 4 0, 0 3, 0 0))")
    assert(math.abs(area(tri) - 6.0) < 1e-12)
  }

  test("predicates: within / intersects / disjoint") {
    val a = parseWkt("POLYGON((0 0, 5 0, 5 5, 0 5, 0 0))").asInstanceOf[Poly]
    val b = parseWkt("POLYGON((3 3, 8 3, 8 8, 3 8, 3 3))").asInstanceOf[Poly]
    val c = parseWkt("POLYGON((6 6, 9 6, 9 9, 6 9, 6 6))").asInstanceOf[Poly]
    assert(Gis.intersects(a, b))
    assert(!Gis.intersects(a, c))
    assert(Gis.within(Pt(1, 1), a))
    assert(!Gis.within(Pt(6, 6), a))
    assert(Gis.within(parseWkt("POLYGON((1 1, 2 1, 2 2, 1 2, 1 1))"), a))
  }

  test("polygon holes: parse, WKB round-trip, area, containment, distance") {
    val donut = parseWkt("POLYGON((0 0, 10 0, 10 10, 0 10, 0 0),(4 4, 6 4, 6 6, 4 6, 4 4))")
      .asInstanceOf[Poly]
    assert(donut.holes.length == 1)
    assert(fromWkb(toWkb(donut)) == donut)
    assert(parseWkt(toWkt(donut)) == donut)
    assert(math.abs(area(donut) - (100.0 - 4.0)) < 1e-12)
    assert(Gis.contains(donut, Pt(2, 2)))        // in the ring of dough
    assert(!Gis.contains(donut, Pt(5, 5)))       // in the hole: outside
    assert(!Gis.contains(donut, Pt(4, 5)))       // on the hole ring: boundary
    assert(Gis.intersects(donut, Pt(4, 5)))      // ...but intersects
    assert(math.abs(distance(Pt(5, 5), donut) - 1.0) < 1e-12) // to the hole ring
    // a polygon wholly inside the hole neither intersects nor is within
    val inHole = parseWkt("POLYGON((4.5 4.5, 5.5 4.5, 5.5 5.5, 4.5 5.5, 4.5 4.5))")
      .asInstanceOf[Poly]
    assert(!Gis.intersects(donut, inHole))
    assert(!Gis.within(inHole, donut))
    // one straddling the hole's edge intersects but is not within
    val straddle = parseWkt("POLYGON((3 4.5, 5 4.5, 5 5.5, 3 5.5, 3 4.5))")
      .asInstanceOf[Poly]
    assert(Gis.intersects(donut, straddle))
    assert(!Gis.within(straddle, donut))
    // a CONCAVE inner hugging the hole: its vertex AVERAGE lands inside
    // the hole, but its actual interior never touches it — within must
    // hold (a vertex-average "interior" point misclassified this)
    val ushape = parseWkt(
      "POLYGON((3 3, 7 3, 7 7, 6.5 7, 6.5 3.5, 3.5 3.5, 3.5 7, 3 7, 3 3))")
      .asInstanceOf[Poly]
    val avg = Pt(ushape.ring.dropRight(1).map(_.x).sum / 8,
      ushape.ring.dropRight(1).map(_.y).sum / 8)
    assert(rayCast_isInHole(donut, avg), "fixture: the vertex average must fall in the hole")
    assert(Gis.within(ushape, donut))
  }

  // test-only probe: is the point inside the donut's (single) hole ring?
  private def rayCast_isInHole(donut: Poly, p: Pt): Boolean =
    Gis.contains(Poly(donut.holes.head), p) ||
      Gis.intersects(Poly(donut.holes.head), p)

  test("multi-geometries: parse, WKB round-trip, measures and predicates distribute") {
    val mp = parseWkt("MULTIPOINT((0 0),(5 5))")
    val ml = parseWkt("MULTILINESTRING((0 0, 1 0),(10 10, 11 10))")
    val mpoly = parseWkt("MULTIPOLYGON(((0 0, 2 0, 2 2, 0 2, 0 0)),((10 10, 12 10, 12 12, 10 12, 10 10)))")
    Seq(mp, ml, mpoly).foreach { g =>
      assert(fromWkb(toWkb(g)) == g, s"WKB round-trip failed for $g")
      assert(parseWkt(toWkt(g)) == g, s"WKT round-trip failed for $g")
    }
    assert(math.abs(area(mpoly) - 8.0) < 1e-12)
    val box = parseWkt("POLYGON((-1 -1, 3 -1, 3 3, -1 3, -1 1))").asInstanceOf[Poly]
    assert(Gis.intersects(mpoly, box))           // first member overlaps
    assert(!Gis.within(mpoly, box))              // second member escapes
    assert(math.abs(distance(mp, Pt(6, 5)) - 1.0) < 1e-12) // min over members
    assert(math.abs(distance(ml, Pt(0, 2)) - 2.0) < 1e-12)
    // bare-coordinates MULTIPOINT form parses too
    assert(parseWkt("MULTIPOINT(0 0, 5 5)") == mp)
  }

  test("boundary semantics: contains is interior-only, intersects includes the ring") {
    val box = parseWkt("POLYGON((0 0, 4 0, 4 4, 0 4, 0 0))").asInstanceOf[Poly]
    // every edge class the strict ray cast used to classify inconsistently
    val boundary = Seq(Pt(0, 2), Pt(4, 2), Pt(2, 0), Pt(2, 4), Pt(0, 0), Pt(4, 4))
    boundary.foreach { p =>
      assert(!Gis.contains(box, p), s"$p is on the ring: contains must be false")
      assert(!Gis.within(p, box), s"$p is on the ring: within must be false")
      assert(Gis.intersects(box, p), s"$p is on the ring: intersects must be true")
      assert(Gis.intersects(p, box), s"$p is on the ring: intersects must be true")
      assert(distance(p, box) == 0.0, s"$p is on the ring: distance must be 0")
    }
    assert(Gis.contains(box, Pt(2, 2)))
    assert(!Gis.intersects(box, Pt(5, 2)))
    // a polygon may touch the container's boundary and still be within
    assert(Gis.within(parseWkt("POLYGON((0 0, 2 0, 2 2, 0 2, 0 0))"), box))
  }

  test("all 10 st_* functions resolve at the SQL level (reference gis/mod.rs surface)") {
    graft.plans.install(spark)
    import spark.implicits._
    Seq(("POINT(2 2)", "POLYGON((0 0, 4 0, 4 4, 0 4, 0 0))", "POLYGON((10 10, 11 10, 11 11, 10 11, 10 10))"))
      .toDF("pt", "box", "far").createOrReplaceTempView("gis_sql_probe")
    val r = spark.sql(
      """SELECT
        |  st_distance(pt, far) AS d,
        |  st_area(box) AS ar,
        |  st_intersects(pt, box) AS ix,
        |  st_within(pt, box) AS wi,
        |  st_contains(box, pt) AS co,
        |  st_disjoint(box, far) AS dj,
        |  st_equals(pt, pt) AS eq,
        |  st_geomfromwkt(pt) AS gw,
        |  st_geomfromwkb(st_asbinary(pt)) AS rt
        |FROM gis_sql_probe""".stripMargin).head
    assert(math.abs(r.getDouble(0) - math.sqrt(128.0)) < 1e-12)
    assert(r.getDouble(1) == 16.0)
    assert(r.getBoolean(2) && r.getBoolean(3) && r.getBoolean(4) &&
      r.getBoolean(5) && r.getBoolean(6))
    assert(r.getString(7) == "POINT(2.0 2.0)")
    assert(r.getString(8) == "POINT(2.0 2.0)")
    // st_asbinary makes it 10 distinct SQL names exercised above

    // wrong arity surfaces the standard WRONG_NUM_ARGS analysis error,
    // not an IndexOutOfBoundsException from inside the builder
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT st_contains(pt) FROM gis_sql_probe").head
    }
    assert(e.getCondition != null && e.getCondition.startsWith("WRONG_NUM_ARGS"),
      s"wanted WRONG_NUM_ARGS, got ${e.getCondition}: ${e.getMessage}")
    val e1 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT st_area(pt, box) FROM gis_sql_probe").head
    }
    assert(e1.getCondition != null && e1.getCondition.startsWith("WRONG_NUM_ARGS"))
  }

  test("st_* Columns build without any active SparkSession (no registry side effect)") {
    // direct Catalyst construction via the graftshim bridge: Column
    // creation must not depend on which session is active on this
    // thread (the old call_function lane silently fell back to UDFs)
    import org.apache.spark.sql.functions.col
    val c = Gis.stDistance(col("a"), col("b"))
    val c2 = Gis.stContains(col("a"), col("b"))
    val c3 = Gis.stGeomFromWkt(col("a"))
    assert(c.toString.toLowerCase.contains("st_distance"))
    assert(c2.toString.toLowerCase.contains("st_within")) // contains = within flipped
    assert(c3.toString.toLowerCase.contains("st_geomfromwkt"))
  }

  test("st_* column lane runs as codegen'd kernels, no ScalaUDF in the plan") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = Seq(
      ("POINT(2 2)", "POLYGON((0 0, 4 0, 4 4, 0 4, 0 0))", "LINESTRING(0 0, 3 4)"),
      ("POINT(6 2)", "POLYGON((0 0, 4 0, 4 4, 0 4, 0 0))", "MULTIPOINT((1 1),(9 9))")
    ).toDF("wa", "wb", "wl")
    val out = df.select(
      Gis.stDistance(col("wa"), col("wb")).as("d"),
      Gis.stArea(col("wb")).as("ar"),
      Gis.stIntersects(col("wa"), col("wb")).as("ix"),
      Gis.stWithin(col("wa"), col("wb")).as("wi"),
      Gis.stEquals(col("wa"), col("wa")).as("eq"),
      Gis.stGeomFromWkb(Gis.stAsBinary(col("wa"))).as("rt"),
      // line/multi geometries ride the binary kernels end-to-end
      Gis.stGeomFromWkb(Gis.stAsBinary(col("wl"))).as("rt2"))
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"),
      s"st_* must run as native kernels, plan still has a UDF:\n$plan")
    val rows = out.collect()
    // kernel values == the scalar core (which the UDF fallback wraps)
    val expected = Seq(
      (0.0, 16.0, true, true, true, "POINT(2.0 2.0)", "LINESTRING(0.0 0.0,3.0 4.0)"),
      (2.0, 16.0, false, false, true, "POINT(6.0 2.0)", "MULTIPOINT((1.0 1.0),(9.0 9.0))"))
    expected.zip(rows).foreach { case ((d, ar, ix, wi, eq, rt, rt2), r) =>
      assert(math.abs(r.getDouble(0) - d) < 1e-12)
      assert(math.abs(r.getDouble(1) - ar) < 1e-12)
      assert(r.getBoolean(2) == ix && r.getBoolean(3) == wi && r.getBoolean(4) == eq)
      assert(r.getString(5) == rt)
      assert(r.getString(6) == rt2)
    }
  }
}
