package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SparkSessionExtensions hook: add
  * `spark.sql.extensions=graft.functions.GraftExtensions` to any
  * cluster config and the graft SQL functions exist in every session
  * — the deployment path for clusters where sessions are built by a
  * platform, not by user code. (In-process callers can use
  * [[VectorExpressions.register]] on a live session instead; both
  * paths read the one `VectorExpressions.functions` table.)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    VectorExpressions.functions.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name), builder))
    }
}

object GraftExtensions {
  /** Kernel shape parameters (shingle width, permutation count) must
    * be plan-time constants — reject column arguments up front.
    */
  private[functions] def intLiteral(e: org.apache.spark.sql.catalyst.expressions.Expression,
                                    name: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$name must be an integer literal, got $other")
  }

  private[functions] def doubleLiteral(e: org.apache.spark.sql.catalyst.expressions.Expression,
                                       name: String): Double = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Double, _) => v
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v.toDouble
    case org.apache.spark.sql.catalyst.expressions.Literal(v: org.apache.spark.sql.types.Decimal, _) => v.toDouble
    case other => throw new IllegalArgumentException(
      s"$name must be a numeric literal, got $other")
  }
}
