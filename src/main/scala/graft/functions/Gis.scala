package graft.functions

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.Column

/** Minimal planar GIS support — cnosdb's st_* surface (reference
  * query_server/query/src/extension/expr/scalar_function/gis/:
  * st_geomfromwkb, st_asbinary, st_distance, st_area and the binary
  * predicates intersects/contains/within/equals/disjoint, tested in
  * sqllogicaltests/cases/function/gis/).
  *
  * Geometries: POINT, LINESTRING, POLYGON (planar, Euclidean, like the
  * reference's geo-crate usage). Parsing/predicates run as native
  * Catalyst expressions (GisExpressions) inside whole-stage codegen —
  * matching the text/vector kernels — built directly into Columns by
  * [[Native.call]] (no registry side effect, no active-session
  * dependency). Null WKT yields null, per nullSafeEval.
  */
object Gis {

  sealed trait Geom
  final case class Pt(x: Double, y: Double) extends Geom
  final case class Line(pts: Vector[Pt]) extends Geom
  /** Closed outer ring + optional interior hole rings. */
  final case class Poly(ring: Vector[Pt],
                        holes: Vector[Vector[Pt]] = Vector.empty) extends Geom
  /** MULTIPOINT / MULTILINESTRING / MULTIPOLYGON / GEOMETRYCOLLECTION. */
  final case class Multi(geoms: Vector[Geom]) extends Geom

  // ---- WKT ----

  private def stripParens(s: String): String = {
    val t = s.trim
    require(t.startsWith("(") && t.endsWith(")"), s"bad WKT group: $s")
    t.substring(1, t.length - 1)
  }

  /** Split at commas on the current nesting level only. */
  private def splitTop(s: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    val sb = new StringBuilder
    var depth = 0
    s.foreach {
      case '(' => depth += 1; sb += '('
      case ')' => depth -= 1; sb += ')'
      case ',' if depth == 0 => out += sb.result().trim; sb.clear()
      case c => sb += c
    }
    out += sb.result().trim
    out.result()
  }

  private def pt(s: String): Pt = {
    val xs = s.trim.split("\\s+")
    Pt(xs(0).toDouble, xs(1).toDouble)
  }

  private def ring(s: String): Vector[Pt] = splitTop(stripParens(s)).map(pt)

  def parseWkt(wkt: String): Geom = {
    val s = wkt.trim
    val open = s.indexOf('(')
    require(open > 0, s"bad WKT: $wkt")
    val tag = s.substring(0, open).trim.toUpperCase
    val body = s.substring(open, s.length)
    def poly(b: String): Poly = {
      val rings = splitTop(stripParens(b)).map(ring)
      Poly(rings.head, rings.tail)
    }
    tag match {
      case "POINT" => pt(stripParens(body))
      case "LINESTRING" => Line(ring(body))
      case "POLYGON" => poly(body)
      case "MULTIPOINT" => Multi(splitTop(stripParens(body)).map { m =>
        // both MULTIPOINT(1 2, 3 4) and MULTIPOINT((1 2),(3 4)) are legal
        if (m.startsWith("(")) pt(stripParens(m)) else pt(m)
      })
      case "MULTILINESTRING" =>
        Multi(splitTop(stripParens(body)).map(l => Line(ring(l))))
      case "MULTIPOLYGON" =>
        Multi(splitTop(stripParens(body)).map(poly))
      case other => throw new IllegalArgumentException(s"unsupported WKT type: $other")
    }
  }

  private def ringWkt(ps: Vector[Pt]): String =
    ps.map(p => s"${p.x} ${p.y}").mkString("(", ",", ")")

  def toWkt(g: Geom): String = g match {
    case Pt(x, y) => s"POINT($x $y)"
    case Line(ps) => ps.map(p => s"${p.x} ${p.y}").mkString("LINESTRING(", ",", ")")
    case Poly(outer, holes) =>
      (outer +: holes).map(ringWkt).mkString("POLYGON(", ",", ")")
    case Multi(gs) if gs.forall(_.isInstanceOf[Pt]) =>
      gs.map { case Pt(x, y) => s"($x $y)" }.mkString("MULTIPOINT(", ",", ")")
    case Multi(gs) if gs.forall(_.isInstanceOf[Line]) =>
      gs.map { case Line(ps) => ringWkt(ps) }.mkString("MULTILINESTRING(", ",", ")")
    case Multi(gs) if gs.forall(_.isInstanceOf[Poly]) =>
      gs.map { case Poly(o, hs) => (o +: hs).map(ringWkt).mkString("(", ",", ")") }
        .mkString("MULTIPOLYGON(", ",", ")")
    case Multi(gs) =>
      gs.map(toWkt).mkString("GEOMETRYCOLLECTION(", ",", ")")
  }

  // ---- WKB (little-endian, 2D) ----

  private def wkbType(g: Geom): Int = g match {
    case _: Pt => 1
    case _: Line => 2
    case _: Poly => 3
    case Multi(gs) if gs.forall(_.isInstanceOf[Pt]) => 4
    case Multi(gs) if gs.forall(_.isInstanceOf[Line]) => 5
    case Multi(gs) if gs.forall(_.isInstanceOf[Poly]) => 6
    case _: Multi => 7 // GeometryCollection
  }

  def toWkb(g: Geom): Array[Byte] = {
    def size(g: Geom): Int = g match {
      case _: Pt => 21
      case Line(ps) => 9 + 16 * ps.length
      case Poly(o, hs) => 9 + (o +: hs).map(r => 4 + 16 * r.length).sum
      case Multi(gs) => 9 + gs.map(size).sum
    }
    val b = ByteBuffer.allocate(size(g)).order(ByteOrder.LITTLE_ENDIAN)
    def write(g: Geom): Unit = {
      b.put(1.toByte) // little endian marker
      b.putInt(wkbType(g))
      g match {
        case Pt(x, y) => b.putDouble(x); b.putDouble(y)
        case Line(ps) =>
          b.putInt(ps.length)
          ps.foreach { p => b.putDouble(p.x); b.putDouble(p.y) }
        case Poly(o, hs) =>
          val rings = o +: hs
          b.putInt(rings.length)
          rings.foreach { r =>
            b.putInt(r.length)
            r.foreach { p => b.putDouble(p.x); b.putDouble(p.y) }
          }
        case Multi(gs) =>
          b.putInt(gs.length)
          gs.foreach(write)
      }
    }
    write(g)
    b.array()
  }

  def fromWkb(bytes: Array[Byte]): Geom = {
    val b = ByteBuffer.wrap(bytes)
    def read(): Geom = {
      b.order(if (b.get() == 1) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN)
      b.getInt match {
        case 1 => Pt(b.getDouble, b.getDouble)
        case 2 =>
          val n = b.getInt
          Line(Vector.fill(n)(Pt(b.getDouble, b.getDouble)))
        case 3 =>
          val nRings = b.getInt
          require(nRings >= 1, "empty polygon")
          val rings = Vector.fill(nRings) {
            val n = b.getInt
            Vector.fill(n)(Pt(b.getDouble, b.getDouble))
          }
          Poly(rings.head, rings.tail)
        case t if t >= 4 && t <= 7 =>
          val n = b.getInt
          Multi(Vector.fill(n)(read()))
        case t => throw new IllegalArgumentException(s"unsupported WKB type: $t")
      }
    }
    read()
  }

  // ---- measures ----

  private def segDist(p: Pt, a: Pt, b: Pt): Double = {
    val (dx, dy) = (b.x - a.x, b.y - a.y)
    val len2 = dx * dx + dy * dy
    val t = if (len2 == 0) 0.0
      else math.max(0.0, math.min(1.0, ((p.x - a.x) * dx + (p.y - a.y) * dy) / len2))
    math.hypot(p.x - (a.x + t * dx), p.y - (a.y + t * dy))
  }

  private def ptDist(a: Pt, b: Pt): Double = math.hypot(a.x - b.x, a.y - b.y)

  private def ringEdges(ps: Vector[Pt]): Iterator[(Pt, Pt)] =
    ps.iterator.zip(ps.iterator.drop(1))

  private def allRings(poly: Poly): Vector[Vector[Pt]] = poly.ring +: poly.holes

  /** Point exactly on any ring edge, outer or hole (collinear + within
    * the segment's bounding box). Makes boundary behavior deterministic
    * — the strict ray cast below otherwise classifies vertices and
    * right-hand / horizontal edges differently from left-hand ones.
    */
  private def onBoundary(poly: Poly, p: Pt): Boolean =
    allRings(poly).exists(r => ringEdges(r).exists { case (a, b) =>
      (b.x - a.x) * (p.y - a.y) == (b.y - a.y) * (p.x - a.x) &&
        p.x >= math.min(a.x, b.x) && p.x <= math.max(a.x, b.x) &&
        p.y >= math.min(a.y, b.y) && p.y <= math.max(a.y, b.y)
    })

  private def rayCast(ring: Vector[Pt], p: Pt): Boolean = {
    var inside = false
    ringEdges(ring).foreach { case (a, b) =>
      if ((a.y > p.y) != (b.y > p.y)) {
        val xint = a.x + (p.y - a.y) * (b.x - a.x) / (b.y - a.y)
        if (p.x < xint) inside = !inside
      }
    }
    inside
  }

  /** Interior-only containment — geo-crate `Contains` semantics (the
    * reference's gis functions delegate to geo): a boundary point is NOT
    * contained, and a point inside an interior hole is outside.
    * `intersects` is the boundary-inclusive predicate. Pinned in GisSpec.
    */
  def contains(poly: Poly, p: Pt): Boolean =
    !onBoundary(poly, p) && rayCast(poly.ring, p) &&
      !poly.holes.exists(h => rayCast(h, p))

  def distance(g1: Geom, g2: Geom): Double = (g1, g2) match {
    case (Multi(gs), other) => gs.map(distance(_, other)).min
    case (other, Multi(gs)) => gs.map(distance(other, _)).min
    case (a: Pt, b: Pt) => ptDist(a, b)
    case (p: Pt, Line(ps)) => ringEdges(ps).map { case (a, b) => segDist(p, a, b) }.min
    case (l: Line, p: Pt) => distance(p, l)
    case (p: Pt, poly: Poly) =>
      // a point inside a hole is outside the polygon: its distance is
      // to the hole's ring, which allRings includes
      if (contains(poly, p)) 0.0
      else allRings(poly).iterator
        .flatMap(r => ringEdges(r).map { case (a, b) => segDist(p, a, b) }).min
    case (poly: Poly, p: Pt) => distance(p, poly)
    case (Line(ps1), Line(ps2)) =>
      val crossing = ringEdges(ps1).exists { case (a, b) =>
        ringEdges(ps2).exists { case (c, d) => segsIntersect(a, b, c, d) } }
      if (crossing) 0.0
      else (ps1.iterator.flatMap(p => ringEdges(ps2).map { case (a, b) => segDist(p, a, b) }) ++
        ps2.iterator.flatMap(p => ringEdges(ps1).map { case (a, b) => segDist(p, a, b) })).min
    case (a: Poly, b: Poly) =>
      if (intersects(a, b)) 0.0
      else (allRings(a).flatten.map(p => distance(p, b)) ++
        allRings(b).flatten.map(p => distance(p, a))).min
    case _ => throw new IllegalArgumentException("unsupported distance pair")
  }

  private def shoelace(ps: Vector[Pt]): Double =
    math.abs(ringEdges(ps).map { case (a, b) => a.x * b.y - b.x * a.y }.sum) / 2.0

  def area(g: Geom): Double = g match {
    case Poly(outer, holes) => shoelace(outer) - holes.map(shoelace).sum
    case Multi(gs) => gs.map(area).sum
    case _ => 0.0
  }

  private def segsIntersect(p1: Pt, p2: Pt, p3: Pt, p4: Pt): Boolean = {
    def ccw(a: Pt, b: Pt, c: Pt): Double = (b.x - a.x) * (c.y - a.y) - (b.y - a.y) * (c.x - a.x)
    val (d1, d2) = (ccw(p3, p4, p1), ccw(p3, p4, p2))
    val (d3, d4) = (ccw(p1, p2, p3), ccw(p1, p2, p4))
    ((d1 > 0 && d2 < 0) || (d1 < 0 && d2 > 0)) && ((d3 > 0 && d4 < 0) || (d3 < 0 && d4 > 0))
  }

  def intersects(a: Geom, b: Geom): Boolean = (a, b) match {
    case (Multi(gs), other) => gs.exists(intersects(_, other))
    case (other, Multi(gs)) => gs.exists(intersects(other, _))
    case (p: Pt, q: Pt) => p == q
    // boundary-inclusive (geo Intersects): a point ON the ring intersects
    case (p: Pt, poly: Poly) => contains(poly, p) || onBoundary(poly, p)
    case (poly: Poly, p: Pt) => contains(poly, p) || onBoundary(poly, p)
    case (pa: Poly, pb: Poly) =>
      // hole-aware contains means a polygon fully inside the other's
      // hole correctly reports NO intersection
      allRings(pa).flatten.exists(p => contains(pb, p) || onBoundary(pb, p)) ||
        allRings(pb).flatten.exists(p => contains(pa, p) || onBoundary(pa, p)) ||
        allRings(pa).exists(ra => allRings(pb).exists(rb =>
          ringEdges(ra).exists { case (s1, s2) =>
            ringEdges(rb).exists { case (t1, t2) => segsIntersect(s1, s2, t1, t2) } }))
    case _ => throw new IllegalArgumentException("unsupported intersects pair")
  }

  def within(inner: Geom, outer: Geom): Boolean = (inner, outer) match {
    case (Multi(gs), o) => gs.forall(within(_, o))
    case (g, Multi(gs)) => gs.exists(within(g, _))
    // point-in-polygon: interior only (geo Within of a point mirrors
    // Contains); a polygon may touch the outer boundary (A ∩ B = A).
    case (p: Pt, poly: Poly) => contains(poly, p)
    case (pa: Poly, pb: Poly) =>
      allRings(pa).flatten.forall(p => contains(pb, p) || onBoundary(pb, p)) &&
        // no inner edge may properly cross the container's rings (a
        // hole biting into pa between its vertices), and pa must not
        // sit wholly inside a hole with its vertices on the hole ring
        !allRings(pb).exists(rb => ringEdges(pa.ring).exists { case (s1, s2) =>
          ringEdges(rb).exists { case (t1, t2) => segsIntersect(s1, s2, t1, t2) } }) &&
        !pb.holes.exists(h => rayCast(h, interiorPoint(pa)))
    case _ => throw new IllegalArgumentException("unsupported within pair")
  }

  /** A GUARANTEED interior point of the outer ring — used to reject
    * "within" when the container's hole swallows the inner polygon
    * while all its vertices sit on the hole's ring. A vertex average is
    * NOT interior for concave rings (a U-shaped inner hugging the hole
    * averages into the hole and was misclassified), so this uses the
    * classic construction: at the leftmost-lowest vertex v (strictly
    * convex), take triangle (a, v, b) with v's neighbors; if no other
    * ring vertex lies in that triangle its centroid is interior,
    * otherwise the midpoint of v and the contained vertex farthest
    * from diagonal (a, b) is.
    */
  private def interiorPoint(p: Poly): Pt = {
    val ps = p.ring.dropRight(1)
    if (ps.length < 3) return Pt(ps.map(_.x).sum / ps.length, ps.map(_.y).sum / ps.length)
    def cross(o: Pt, u: Pt, w: Pt): Double =
      (u.x - o.x) * (w.y - o.y) - (u.y - o.y) * (w.x - o.x)
    val vi = ps.indices.minBy(i => (ps(i).x, ps(i).y))
    val v = ps(vi)
    val a = ps((vi + ps.length - 1) % ps.length)
    val b = ps((vi + 1) % ps.length)
    def inTri(q: Pt): Boolean = {
      val d1 = cross(a, v, q); val d2 = cross(v, b, q); val d3 = cross(b, a, q)
      !((d1 < 0 || d2 < 0 || d3 < 0) && (d1 > 0 || d2 > 0 || d3 > 0))
    }
    val blockers = ps.filter(q => q != v && q != a && q != b && inTri(q))
    if (blockers.isEmpty) Pt((a.x + v.x + b.x) / 3, (a.y + v.y + b.y) / 3)
    else {
      val q = blockers.maxBy(q => math.abs(cross(a, b, q)))
      Pt((v.x + q.x) / 2, (v.y + q.y) / 2)
    }
  }

  // ---- Column API (st_* functions) ----
  // Native Catalyst expressions (GisExpressions — codegen'd static
  // calls, same geometry semantics) built through the Native catalog,
  // straight from the expression tree: no function-registry side
  // effect and no dependence on which SparkSession is active on the
  // constructing thread.

  val stDistance: (Column, Column) => Column = Native.call("st_distance", _, _)
  val stArea: Column => Column = Native.call("st_area", _)
  val stIntersects: (Column, Column) => Column = Native.call("st_intersects", _, _)
  val stDisjoint: (Column, Column) => Column = Native.call("st_disjoint", _, _)
  val stWithin: (Column, Column) => Column = Native.call("st_within", _, _)
  val stContains: (Column, Column) => Column = Native.call("st_contains", _, _)
  val stEquals: (Column, Column) => Column = Native.call("st_equals", _, _)
  val stAsBinary: Column => Column = Native.call("st_asbinary", _)
  val stGeomFromWkb: Column => Column = Native.call("st_geomfromwkb", _)
  val stGeomFromWkt: Column => Column = Native.call("st_geomfromwkt", _)
}
