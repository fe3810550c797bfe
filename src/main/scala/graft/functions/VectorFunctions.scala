package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `array` columns — codegen'd builtins only
  * (zip_with + left-fold aggregate), no UDFs.
  *
  * Determinism contract: elements are cast to double first, products
  * are IEEE-754 double multiplies, and the sum is a sequential left
  * fold — bit-identical in any engine that evaluates the same fold
  * (the DuckDB oracles use list_reduce with the same order).
  */
object VectorFunctions {

  /** float[] → double[] (parity + precision). */
  def toDoubleVec(v: Column): Column = transform(v, x => x.cast("double"))

  /** Sequential-left-fold dot product — a native codegen'd Catalyst
    * expression (see [[DotProductExpr]]); same fold order as the
    * zip_with+aggregate form and the DuckDB list_reduce oracles, so
    * results are bit-identical, ~10× faster (HOF lambdas evaluate
    * interpreted). */
  def dot(a: Column, b: Column): Column = GraftExpressions.dotProduct(a, b)

  /** The builtin-composed fold (kept for cross-checking the custom
    * expression in specs). */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2Norm(a) * l2Norm(b))
}
