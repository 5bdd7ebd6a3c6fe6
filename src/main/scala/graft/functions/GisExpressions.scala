package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** JVM bridge the generated Java calls directly (Scala objects compile
  * with static forwarders, so codegen references
  * `graft.functions.GisKernels.<m>(...)` like any static method). All
  * geometry semantics live in [[Gis]]; these adapters only convert
  * UTF8String ↔ String at the codegen boundary.
  */
object GisKernels {
  def distanceWkt(a: UTF8String, b: UTF8String): Double =
    Gis.distance(Gis.parseWkt(a.toString), Gis.parseWkt(b.toString))
  def areaWkt(a: UTF8String): Double = Gis.area(Gis.parseWkt(a.toString))
  def intersectsWkt(a: UTF8String, b: UTF8String): Boolean =
    Gis.intersects(Gis.parseWkt(a.toString), Gis.parseWkt(b.toString))
  def withinWkt(a: UTF8String, b: UTF8String): Boolean =
    Gis.within(Gis.parseWkt(a.toString), Gis.parseWkt(b.toString))
  def equalsWkt(a: UTF8String, b: UTF8String): Boolean =
    Gis.parseWkt(a.toString) == Gis.parseWkt(b.toString)
  def wktToWkb(a: UTF8String): Array[Byte] = Gis.toWkb(Gis.parseWkt(a.toString))
  def wkbToWkt(b: Array[Byte]): UTF8String = UTF8String.fromString(Gis.toWkt(Gis.fromWkb(b)))
  def wktNormalize(a: UTF8String): UTF8String =
    UTF8String.fromString(Gis.toWkt(Gis.parseWkt(a.toString)))
}

/** The GIS scalar lane as native Catalyst expressions (reference
  * query_server/query/src/extension/expr/scalar_function/gis/ — the
  * st_* surface). The geometry math is identical to the former Scala
  * UDF lane; the win is plumbing: a direct static call inside
  * whole-stage codegen instead of ScalaUDF's converter/closure
  * indirection, with tight null handling — matching the text/vector
  * kernels so `.explain` shows one fused WholeStageCodegen span over
  * st_* projections.
  */
private[functions] trait GisStringBinary extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two string (WKT) arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
}

case class StDistance(left: Expression, right: Expression) extends GisStringBinary {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    GisKernels.distanceWkt(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.GisKernels.distanceWkt($a, $b);")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "st_distance"
}

case class StIntersects(left: Expression, right: Expression) extends GisStringBinary {
  override def dataType: DataType = BooleanType
  override def nullSafeEval(a: Any, b: Any): Any =
    GisKernels.intersectsWkt(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.GisKernels.intersectsWkt($a, $b);")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "st_intersects"
}

case class StWithin(left: Expression, right: Expression) extends GisStringBinary {
  override def dataType: DataType = BooleanType
  override def nullSafeEval(a: Any, b: Any): Any =
    GisKernels.withinWkt(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.GisKernels.withinWkt($a, $b);")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "st_within"
}

case class StEquals(left: Expression, right: Expression) extends GisStringBinary {
  override def dataType: DataType = BooleanType
  override def nullSafeEval(a: Any, b: Any): Any =
    GisKernels.equalsWkt(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.GisKernels.equalsWkt($a, $b);")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "st_equals"
}

case class StArea(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"st_area requires a string (WKT) argument, got ${child.dataType.simpleString}")
  override def nullSafeEval(a: Any): Any = GisKernels.areaWkt(a.asInstanceOf[UTF8String])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.GisKernels.areaWkt($a)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "st_area"
}

case class StAsBinary(child: Expression) extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"st_asbinary requires a string (WKT) argument, got ${child.dataType.simpleString}")
  override def nullSafeEval(a: Any): Any = GisKernels.wktToWkb(a.asInstanceOf[UTF8String])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.GisKernels.wktToWkb($a)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "st_asbinary"
}

/** Parse-and-canonicalize WKT (reference gis/mod.rs `st_GeomFromWKT`):
  * validates the text and returns the engine's canonical serialization,
  * so malformed geometry fails at ingest instead of deep inside a
  * predicate.
  */
case class StGeomFromWkt(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"st_geomfromwkt requires a string (WKT) argument, got ${child.dataType.simpleString}")
  override def nullSafeEval(a: Any): Any = GisKernels.wktNormalize(a.asInstanceOf[UTF8String])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.GisKernels.wktNormalize($a)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "st_geomfromwkt"
}

case class StGeomFromWkb(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"st_geomfromwkb requires a binary (WKB) argument, got ${child.dataType.simpleString}")
  override def nullSafeEval(a: Any): Any = GisKernels.wkbToWkt(a.asInstanceOf[Array[Byte]])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.GisKernels.wkbToWkt($a)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "st_geomfromwkb"
}
