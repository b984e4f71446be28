package graft.expressions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** Codegen'd float-vector dot product accumulating in DOUBLE, strict index
  * order.
  *
  * This is the one hot numeric kernel where Spark's built-ins fall short:
  * `aggregate(zip_with(...))` is a HigherOrderFunction — interpreted, one
  * closure dispatch per element — which measured ~20× slower on the
  * all-pairs similarity join. A native Expression with `doGenCode` keeps the
  * whole similarity pipeline inside whole-stage codegen (SURVEY guidance:
  * native Expression > UDF > anything else).
  *
  * Numeric contract: identical results to the interpreted
  * `aggregate(zip_with(a,b,(x,y)=>double(x)*double(y)), 0.0, +)` fold and to
  * DuckDB's sequential `list_sum(list_transform(...))` — same IEEE ops in
  * the same order — so oracle comparisons stay bit-exact. Ragged inputs
  * return NULL, matching the fold (zip_with null-pads, a null product
  * poisons the sum): `dot_f` is a registered SQL function, so the parity
  * holds for arbitrary user vectors, not just the equal-length embedding
  * columns the similarity paths feed it.
  */
case class DotF(left: Expression, right: Expression)
    extends VectorFold[Double](FloatType, FloatType, DoubleType) {

  protected def term(a: ArrayData, b: ArrayData, i: Int): Double =
    a.getFloat(i).toDouble * b.getFloat(i).toDouble

  protected def javaStep(ctx: CodegenContext, s: String, a: String, b: String, i: String): String =
    s"$s += (double) $a.getFloat($i) * (double) $b.getFloat($i);"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotF = copy(newLeft, newRight)
}
