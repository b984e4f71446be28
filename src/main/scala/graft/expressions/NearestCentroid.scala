package graft.expressions

import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

import NearestCentroid._

/** Codegen'd nearest-centroid kernel: scores a float vector — or its
  * `[off, off+len)` slice — against a small codebook and returns the best
  * centroid id (`n = 0`, INT) or the `n` best ids in rank order (`n > 0`,
  * `array<int>`). The IVF assignment, the IVF probe lists and the PQ
  * encode all run through it, so each is one narrow projection over a
  * broadcast one-row codebook instead of a cross join plus an
  * argmin/argmax aggregate.
  *
  * `codebook` is `array<struct<cid: int, c: array<float>, cn: double>>`
  * (`cn` = the centroid's L2 norm, read by [[Cosine]] only). Entries and
  * their vectors are non-null, like the inputs of [[VectorFold]].
  *
  * Numeric contract: the score is the expression the kernel replaced, to
  * the bit.
  *  - [[Cosine]]: `dot / (vn * cn)` with [[DotF]]'s dot, `vn =
  *    sqrt(dot(v, v))`, and Spark's `Divide` rule for a zero divisor
  *    (ANSI: DIVIDE_BY_ZERO, else a NULL score), captured at construction
  *    like `Divide`'s eval mode.
  *  - [[L2]]: [[L2F]]'s squared distance.
  *  A NULL vector, a slice past its end or a ragged centroid scores NULL.
  *
  * Order: the kernel has none of its own; `order` names the one the call
  * site ranked by before. Keys compare as Spark orders a double field of a
  * struct (`SQLOrderingUtil.compareDoubles`: NaN above every number,
  * −0.0 == 0.0; NULL below everything), and equal keys go to the lower
  * cid — so the result does not depend on the codebook's entry order.
  */
case class NearestCentroid(vec: Expression, codebook: Expression,
                           metric: Metric, order: Order,
                           n: Int = 0, off: Int = 0, len: Int = -1,
                           failOnError: Boolean = SQLConf.get.ansiEnabled)
    extends BinaryExpression {

  require(n >= 0 && off >= 0, s"n=$n and off=$off must be >= 0")

  override def left: Expression = vec
  override def right: Expression = codebook
  override def prettyName: String = "nearest_centroid"

  override def checkInputDataTypes(): TypeCheckResult = {
    val entryOk = codebook.dataType match {
      case ArrayType(StructType(fs), _) if fs.length >= 2 =>
        fs(0).dataType == IntegerType &&
          (fs(1).dataType match { case ArrayType(FloatType, _) => true; case _ => false }) &&
          (metric == L2 || (fs.length >= 3 && fs(2).dataType == DoubleType))
      case _ => false
    }
    val vecOk = vec.dataType match { case ArrayType(FloatType, _) => true; case _ => false }
    if (vecOk && entryOk) TypeCheckResult.TypeCheckSuccess
    else {
      val cn = if (metric == Cosine) ", cn: double" else ""
      TypeCheckResult.TypeCheckFailure(
        s"NearestCentroid requires (array<float>, array<struct<cid: int, c: array<float>$cn>>) " +
          s"inputs, got ${vec.dataType.simpleString} and ${codebook.dataType.simpleString}")
    }
  }

  override def dataType: DataType =
    if (n == 0) IntegerType else ArrayType(IntegerType, containsNull = false)

  // n = 0 over an empty codebook has no best cid
  override def nullable: Boolean = n == 0 || codebook.nullable

  private def fields: Int = codebook.dataType.asInstanceOf[ArrayType]
    .elementType.asInstanceOf[StructType].length

  /** True when key a (with cid aId) ranks strictly before key b. */
  private def better(aNull: Boolean, a: Double, aId: Int,
                     bNull: Boolean, b: Double, bId: Int): Boolean = {
    val c = if (aNull) (if (bNull) 0 else -1) else if (bNull) 1
      else SQLOrderingUtil.compareDoubles(a, b)
    (if (order.descending) c > 0 else c < 0) || (c == 0 && aId < bId)
  }

  /** The ranked cids, at most max(n, 1) of them. */
  private def rank(v: ArrayData, cb: ArrayData): Array[Int] = {
    val size = math.max(n, 1)
    val kNull = new Array[Boolean](size)
    val keys = new Array[Double](size)
    val ids = new Array[Int](size)
    var cnt = 0
    val l = if (v == null) 0 else if (len >= 0) len else v.numElements() - off
    val inRange = v != null && l >= 0 && off + l <= v.numElements()
    var vn = 0.0
    if (inRange && metric == Cosine) {
      var i = 0
      while (i < l) { val x = v.getFloat(off + i).toDouble; vn += x * x; i += 1 }
      vn = math.sqrt(vn)
    }
    val nf = fields
    var e = 0
    while (e < cb.numElements()) {
      val ent = cb.getStruct(e, nf)
      val cid = ent.getInt(0)
      val c = ent.getArray(1)
      var isNull = !inRange
      var k = 0.0
      if (!isNull) metric match {
        case Cosine =>
          val den = vn * ent.getDouble(2)
          if (den == 0) {
            if (failOnError) throw GraftSqlBridge.divideByZero()
            isNull = true
          } else if (c.numElements() != l) isNull = true
          else {
            var s = 0.0
            var i = 0
            while (i < l) { s += v.getFloat(off + i).toDouble * c.getFloat(i).toDouble; i += 1 }
            k = s / den
          }
        case L2 =>
          if (c.numElements() != l) isNull = true
          else {
            var s = 0.0
            var i = 0
            while (i < l) { val d = v.getFloat(off + i) - c.getFloat(i); s += (d * d).toDouble; i += 1 }
            k = s
          }
      }
      if (order.negate) k = -k
      var p = cnt
      while (p > 0 && better(isNull, k, cid, kNull(p - 1), keys(p - 1), ids(p - 1))) p -= 1
      if (p < size) {
        var q = math.min(cnt, size - 1)
        while (q > p) { kNull(q) = kNull(q - 1); keys(q) = keys(q - 1); ids(q) = ids(q - 1); q -= 1 }
        kNull(p) = isNull; keys(p) = k; ids(p) = cid
        if (cnt < size) cnt += 1
      }
      e += 1
    }
    java.util.Arrays.copyOf(ids, cnt)
  }

  override def eval(input: InternalRow): Any = {
    val cb = codebook.eval(input).asInstanceOf[ArrayData]
    if (cb == null) return null
    val ids = rank(vec.eval(input).asInstanceOf[ArrayData], cb)
    if (n > 0) UnsafeArrayData.fromPrimitiveArray(ids)
    else if (ids.isEmpty) null
    else ids(0)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val v = vec.genCode(ctx)
    val cb = codebook.genCode(ctx)
    val size = math.max(n, 1)
    val cmp = if (order.descending) "r > 0" else "r < 0"
    val score = metric match {
      case Cosine =>
        s"""double den = vn * ent.getDouble(2);
           |if (den == 0) {
           |  if ($failOnError) throw org.apache.spark.sql.GraftSqlBridge.divideByZero();
           |  isNull = true;
           |} else if (c.numElements() != l) {
           |  isNull = true;
           |} else {
           |  double s = 0.0;
           |  for (int i = 0; i < l; i++) s += (double) v.getFloat($off + i) * (double) c.getFloat(i);
           |  k = s / den;
           |}""".stripMargin
      case L2 =>
        s"""if (c.numElements() != l) {
           |  isNull = true;
           |} else {
           |  double s = 0.0;
           |  for (int i = 0; i < l; i++) {
           |    float d = v.getFloat($off + i) - c.getFloat(i);
           |    s += (double) (d * d);
           |  }
           |  k = s;
           |}""".stripMargin
    }
    val name = ctx.freshName("nearestCentroid")
    val fn = ctx.addNewFunction(name,
      s"""private int[] $name(ArrayData v, ArrayData cb) {
         |  boolean[] kNull = new boolean[$size];
         |  double[] keys = new double[$size];
         |  int[] ids = new int[$size];
         |  int cnt = 0;
         |  int l = v == null ? 0 : ($len >= 0 ? $len : v.numElements() - $off);
         |  boolean inRange = v != null && l >= 0 && $off + l <= v.numElements();
         |  double vn = 0.0;
         |  if (inRange && ${metric == Cosine}) {
         |    for (int i = 0; i < l; i++) { double x = (double) v.getFloat($off + i); vn += x * x; }
         |    vn = java.lang.Math.sqrt(vn);
         |  }
         |  for (int e = 0; e < cb.numElements(); e++) {
         |    InternalRow ent = cb.getStruct(e, $fields);
         |    int cid = ent.getInt(0);
         |    ArrayData c = ent.getArray(1);
         |    boolean isNull = !inRange;
         |    double k = 0.0;
         |    if (!isNull) {
         |      ${score.replace("\n", "\n      ")}
         |    }
         |    if (${order.negate}) k = -k;
         |    int p = cnt;
         |    while (p > 0) {
         |      int r = isNull ? (kNull[p - 1] ? 0 : -1) : kNull[p - 1] ? 1
         |        : org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles(k, keys[p - 1]);
         |      if (!($cmp || (r == 0 && cid < ids[p - 1]))) break;
         |      p--;
         |    }
         |    if (p < $size) {
         |      for (int q = java.lang.Math.min(cnt, ${size - 1}); q > p; q--) {
         |        kNull[q] = kNull[q - 1]; keys[q] = keys[q - 1]; ids[q] = ids[q - 1];
         |      }
         |      kNull[p] = isNull; keys[p] = k; ids[p] = cid;
         |      if (cnt < $size) cnt++;
         |    }
         |  }
         |  return java.util.Arrays.copyOf(ids, cnt);
         |}""".stripMargin)
    val ids = ctx.freshName("ids")
    val result =
      if (n > 0) s"${ev.value} = UnsafeArrayData.fromPrimitiveArray($ids);"
      else s"if ($ids.length == 0) { ${ev.isNull} = true; } else { ${ev.value} = $ids[0]; }"
    ev.copy(code = code"""
      ${cb.code}
      boolean ${ev.isNull} = ${cb.isNull};
      ${CodeGenerator.javaType(dataType)} ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
      if (!${ev.isNull}) {
        ${v.code}
        int[] $ids = $fn(${v.isNull} ? null : ${v.value}, ${cb.value});
        $result
      }""")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NearestCentroid =
    copy(vec = newLeft, codebook = newRight)
}

object NearestCentroid {
  sealed abstract class Metric
  /** `dot / (vn * cn)`, the IVF score */
  case object Cosine extends Metric
  /** squared L2 distance, the PQ score */
  case object L2 extends Metric

  /** How a call site ranks keys: `negate` ranks by −key; `descending`
    * puts the largest key first. Equal keys go to the lower cid. */
  sealed abstract class Order(val negate: Boolean, val descending: Boolean)
  /** max (score, −cid): the IVF assignment (NaN best, NULL last) */
  case object MaxScore extends Order(negate = false, descending = true)
  /** ascending (−score, cid): the IVF probe lists (NULL first, NaN last) */
  case object AscNegScore extends Order(negate = true, descending = false)
  /** min (d2, cid): the PQ codes (NULL first, NaN last) */
  case object MinDist extends Order(negate = false, descending = false)
}
