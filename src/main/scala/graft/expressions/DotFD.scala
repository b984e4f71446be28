package graft.expressions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** Codegen'd float×double dot product accumulating in DOUBLE, strict index
  * order — the mixed-precision sibling of [[DotF]] for projecting a float
  * vector onto DOUBLE-literal hyperplanes (Similarity.lshBuckets: 16 plane
  * projections per row ran as interpreted `aggregate(zip_with(...))`
  * HigherOrderFunctions, one closure dispatch per element — the same ~20×
  * penalty DotF was built to remove).
  *
  * Numeric contract: identical to
  * `aggregate(zip_with(cast(a as array<double>), b, (x,y)=>x*y), 0.0, +)` —
  * float→double widening is exact, the products and the index-ordered sum
  * are the same IEEE ops in the same order — so every LSH bucket id (and
  * everything downstream that the DuckDB oracle replicates term by term)
  * is bit-identical to the HOF formulation it replaces. Ragged inputs
  * return NULL (zip_with parity).
  *
  * PRECONDITION (narrower than full zip_with parity, ADVICE r14): array
  * ELEMENTS must be non-null — element slots are read without isNullAt
  * checks (the [[DotF]] precedent), so a null element contributes a
  * garbage 0 where zip_with would return NULL. Holds for every caller
  * (embeddings/hyperplane/q8 arrays are built element-non-null); a new
  * caller with nullable elements must null-filter first.
  */
case class DotFD(left: Expression, right: Expression)
    extends VectorFold[Double](FloatType, DoubleType, DoubleType) {

  protected def term(a: ArrayData, b: ArrayData, i: Int): Double =
    a.getFloat(i).toDouble * b.getDouble(i)

  protected def javaStep(ctx: CodegenContext, s: String, a: String, b: String, i: String): String =
    s"$s += (double) $a.getFloat($i) * $b.getDouble($i);"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotFD = copy(newLeft, newRight)
}
