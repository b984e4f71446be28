package graft.expressions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** Codegen'd squared-L2 distance between two float vectors — the PQ/Lloyd
  * assignment kernel, sibling of [[DotF]].
  *
  * Numeric contract (bit-for-bit): identical to the interpreted
  * `aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), 0.0, _ + _)`
  * fold this replaces — per element the difference and the square are
  * FLOAT ops (float arrays make the lambda's arithmetic float-typed, so
  * the square is rounded to float before accumulating), the accumulator
  * is DOUBLE, strict index order. Ragged inputs return NULL, again
  * matching the fold (zip_with null-pads the shorter side; a null square
  * poisons the aggregate) — `l2_f` is a registered SQL function, so the
  * parity must hold for arbitrary user inputs, not just the equal-length
  * subvectors the PQ path feeds it. Keeping the rounding identical is
  * what lets the swap into pqCodebooks/ivfPqTopK change nothing
  * downstream: every Lloyd assignment, min_by tie, and recall gate sees
  * the same distances to the last bit.
  */
case class L2F(left: Expression, right: Expression)
    extends VectorFold[Double](FloatType, FloatType, DoubleType) {

  protected def term(a: ArrayData, b: ArrayData, i: Int): Double = {
    val d = a.getFloat(i) - b.getFloat(i)
    (d * d).toDouble
  }

  protected def javaStep(ctx: CodegenContext, s: String, a: String, b: String, i: String): String = {
    val d = ctx.freshName("d")
    s"""float $d = $a.getFloat($i) - $b.getFloat($i);
       |    $s += (double) ($d * $d);""".stripMargin
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): L2F = copy(newLeft, newRight)
}
