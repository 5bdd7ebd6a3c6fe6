package graft.functions

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.catalyst.expressions.Expression

/** Arity validation for SQL function builders. A builder that indexes
  * `c(1)` unconditionally turns a one-argument call into an
  * IndexOutOfBoundsException thrown from inside the analyzer; wrapping
  * the builder here surfaces Spark's standard WRONG_NUM_ARGS
  * AnalysisException (errorClass + sqlState 42605) with the expected
  * argument count instead.
  */
object Arity {
  private def wrongArgs(name: String, expected: Int, actual: Int): AnalysisException =
    new AnalysisException(
      "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
      Map(
        "functionName" -> s"`$name`",
        "expectedNum" -> expected.toString,
        "actualNum" -> actual.toString,
        "docroot" -> "https://spark.apache.org/docs/latest"),
      None)

  /** `unary(f)(name)`: the builder of the one-argument function `name`. */
  def unary(f: Expression => Expression): String => Seq[Expression] => Expression =
    name => {
      case Seq(a) => f(a)
      case other  => throw wrongArgs(name, 1, other.length)
    }

  /** `binary(f)(name)`: the builder of the two-argument function `name`. */
  def binary(f: (Expression, Expression) => Expression): String => Seq[Expression] => Expression =
    name => {
      case Seq(a, b) => f(a, b)
      case other     => throw wrongArgs(name, 2, other.length)
    }
}
