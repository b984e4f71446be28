package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.BinaryExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Index-ordered fold of two equal-length arrays into one accumulator — the
  * shared body of the codegen'd vector kernels ([[DotF]], [[DotFD]],
  * [[DotL]], [[L2F]]). A kernel supplies only its element types, its
  * accumulator type (`dataType`, held in Scala as `T`) and its
  * per-element term in Scala (`term`) and Java (`javaStep`); this class
  * owns the input type check, ragged-input → NULL, and both evaluation
  * loops, so the interpreted and generated paths share one definition of
  * "strict index order, accumulate term by term".
  *
  * Ragged inputs return NULL on both paths, matching the interpreted
  * `aggregate(zip_with(...))` folds the kernels replace (zip_with
  * null-pads the shorter side, a null term poisons the sum). Element slots
  * are read without isNullAt checks: callers feed element-non-null arrays
  * (see [[DotFD]]'s precondition).
  *
  * Declared Serializable itself: kernels ship to executors inside the
  * plan, and Java deserialization needs every non-serializable superclass
  * to have a no-arg constructor, which this one does not.
  */
abstract class VectorFold[T](leftElem: DataType, rightElem: DataType,
                             override val dataType: DataType)(implicit num: Numeric[T])
    extends BinaryExpression with Serializable {

  /** The per-element term at index `i`, added to the accumulator. */
  protected def term(a: ArrayData, b: ArrayData, i: Int): T

  /** Java statements adding element `i`'s term to accumulator `s`. */
  protected def javaStep(ctx: CodegenContext, s: String, a: String, b: String, i: String): String

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(l, _), ArrayType(r, _)) if l == leftElem && r == rightElem =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) =>
      val want = if (leftElem == rightElem) s"two array<${leftElem.simpleString}>"
        else s"(array<${leftElem.simpleString}>, array<${rightElem.simpleString}>)"
      TypeCheckResult.TypeCheckFailure(
        s"${getClass.getSimpleName} requires $want inputs, got $l and $r")
  }

  // null on ragged inputs (zip_with parity), not only on null children
  override def nullable: Boolean = true

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    if (a.numElements() != b.numElements()) return null
    var s = num.zero
    var i = 0
    while (i < a.numElements()) {
      s = num.plus(s, term(a, b, i))
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  ${CodeGenerator.javaType(dataType)} $s = ${if (dataType == LongType) "0L" else "0.0"};
         |  for (int $i = 0; $i < $n; $i++) {
         |    ${javaStep(ctx, s, a, b, i)}
         |  }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })
}
