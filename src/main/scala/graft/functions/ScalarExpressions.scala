package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}

/** Scalar functions the reference exposes (DataFusion gcd.slt /
  * lcm.slt) that Spark SQL lacks — implemented as native Catalyst
  * expressions with codegen, per the extension preference order
  * (Expression > UDF).
  */
private[functions] trait LongBinaryMath { self: BinaryExpression =>
  override def dataType: DataType = LongType
  def checkLongInputs(name: String): TypeCheckResult =
    if (left.dataType == LongType && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name requires two bigint arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
}

/** Euclid's gcd, gcd(0,0)=0, always non-negative (DataFusion
  * semantics: math_function/gcd.slt).
  */
case class NumGcd(left: Expression, right: Expression)
  extends BinaryExpression with LongBinaryMath {

  override def checkInputDataTypes(): TypeCheckResult = checkLongInputs("num_gcd")

  // Euclid on the RAW signed values (Java % keeps gcd magnitude), abs
  // only after the Long.MinValue overflow check — abs(MinValue) stays
  // negative, so gcd(−2⁶³, 0) must error like DataFusion instead of
  // returning a negative "non-negative" gcd.
  override def nullSafeEval(a: Any, b: Any): Any = {
    var x = a.asInstanceOf[Long]
    var y = b.asInstanceOf[Long]
    while (y != 0) { val t = x % y; x = y; y = t }
    if (x == Long.MinValue)
      throw new ArithmeticException("num_gcd: result 2^63 out of bigint range")
    math.abs(x)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val t = ctx.freshName("t")
      s"""
         |long $x = $a;
         |long $y = $b;
         |while ($y != 0) { long $t = $x % $y; $x = $y; $y = $t; }
         |if ($x == Long.MIN_VALUE) {
         |  throw new ArithmeticException("num_gcd: result 2^63 out of bigint range");
         |}
         |${ev.value} = java.lang.Math.abs($x);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "num_gcd"
}

/** lcm(a,b) = |a / gcd(a,b) * b|; lcm(0,_)=0 (math_function/lcm.slt). */
case class NumLcm(left: Expression, right: Expression)
  extends BinaryExpression with LongBinaryMath {

  override def checkInputDataTypes(): TypeCheckResult = checkLongInputs("num_lcm")

  // (a/g)·b via multiplyExact so lcm(2⁶², 3) errors like DataFusion
  // instead of silently wrapping; the MinValue check catches the one
  // product multiplyExact can't (−2⁶³ is representable but |−2⁶³| isn't).
  override def nullSafeEval(a: Any, b: Any): Any = {
    val av = a.asInstanceOf[Long]
    val bv = b.asInstanceOf[Long]
    if (av == 0L || bv == 0L) 0L
    else {
      var x = av
      var y = bv
      while (y != 0) { val t = x % y; x = y; y = t }
      val m = Math.multiplyExact(av / x, bv) // x = ±gcd; throws on overflow
      if (m == Long.MinValue)
        throw new ArithmeticException("num_lcm: result 2^63 out of bigint range")
      math.abs(m)
    }
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val t = ctx.freshName("t")
      val m = ctx.freshName("m")
      s"""
         |if ($a == 0L || $b == 0L) { ${ev.value} = 0L; } else {
         |  long $x = $a;
         |  long $y = $b;
         |  while ($y != 0) { long $t = $x % $y; $x = $y; $y = $t; }
         |  long $m = java.lang.Math.multiplyExact($a / $x, $b);
         |  if ($m == Long.MIN_VALUE) {
         |    throw new ArithmeticException("num_lcm: result 2^63 out of bigint range");
         |  }
         |  ${ev.value} = java.lang.Math.abs($m);
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "num_lcm"
}

/** 32-bit Morton (Z-order) interleave of two bigint columns' low 32
  * bits: bit i of x lands at position 2i, bit i of y at 2i+1. Sorting
  * or range-partitioning a lake by this key clusters rows that are
  * close in BOTH dimensions, so min/max zone pruning cuts scans for
  * 2-D predicates (time × device, lat × lon) — the layout trick behind
  * Delta/Iceberg Z-ORDER, here as a first-class codegen'd expression.
  * Pure bit arithmetic: the DuckDB oracle recomputes it exactly.
  */
case class ZorderKey(left: Expression, right: Expression)
  extends BinaryExpression with LongBinaryMath {

  override def checkInputDataTypes(): TypeCheckResult = checkLongInputs("zorder_key")

  // classic bit-spreading: x | x<<16 … masked, then interleave
  private def spread(v: Long): Long = {
    var x = v & 0xffffffffL
    x = (x | (x << 16)) & 0x0000ffff0000ffffL
    x = (x | (x << 8)) & 0x00ff00ff00ff00ffL
    x = (x | (x << 4)) & 0x0f0f0f0f0f0f0f0fL
    x = (x | (x << 2)) & 0x3333333333333333L
    x = (x | (x << 1)) & 0x5555555555555555L
    x
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    spread(a.asInstanceOf[Long]) | (spread(b.asInstanceOf[Long]) << 1)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val sp = ctx.freshName("spread")
      ctx.addNewFunction(sp,
        s"""
           |private long $sp(long v) {
           |  long x = v & 0xffffffffL;
           |  x = (x | (x << 16)) & 0x0000ffff0000ffffL;
           |  x = (x | (x << 8)) & 0x00ff00ff00ff00ffL;
           |  x = (x | (x << 4)) & 0x0f0f0f0f0f0f0f0fL;
           |  x = (x | (x << 2)) & 0x3333333333333333L;
           |  x = (x | (x << 1)) & 0x5555555555555555L;
           |  return x;
           |}
         """.stripMargin)
      s"${ev.value} = $sp($a) | ($sp($b) << 1);"
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "zorder_key"
}
