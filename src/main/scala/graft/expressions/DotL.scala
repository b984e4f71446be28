package graft.expressions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.LongType

/** Codegen'd exact BIGINT dot product, strict index order — the integer
  * sibling of [[DotF]] for the int8-quantized approximate scoring pass
  * (Similarity.int8TopK): the per-candidate
  * `aggregate(zip_with(qa, qb, _*_), 0L, _+_)` ran as an interpreted
  * HigherOrderFunction over EVERY bucket-local candidate pair — the
  * hottest integer loop in the ANN surface.
  *
  * Numeric contract: identical to the fold — 64-bit multiply and add are
  * exact for the int8 codes this path feeds (|q| ≤ 127, so |Σ| ≤ n·2¹⁴;
  * overflow is unreachable) — and ragged inputs return NULL (zip_with
  * parity), so the quantized scores and everything the oracle replicates
  * are unchanged.
  */
case class DotL(left: Expression, right: Expression)
    extends VectorFold[Long](LongType, LongType, LongType) {

  protected def term(a: ArrayData, b: ArrayData, i: Int): Long =
    a.getLong(i) * b.getLong(i)

  protected def javaStep(ctx: CodegenContext, s: String, a: String, b: String, i: String): String =
    s"$s += $a.getLong($i) * $b.getLong($i);"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotL = copy(newLeft, newRight)
}
