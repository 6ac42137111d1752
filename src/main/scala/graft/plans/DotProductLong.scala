package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native Catalyst expression: dot product of two long arrays — the
  * integer twin of [[DotProduct]], for the SQ8 quantized-code scoring path
  * (guide §4: the HOF formulation `aggregate(zip_with(qp,qn,(a,b)=>a*b),
  * 0L, (acc,el)=>acc+el)` interprets one lambda per element with boxing;
  * this compiles into the whole-stage-codegen loop). Long addition is
  * exact and order-independent, so equivalence with the HOF left fold
  * holds for EQUAL-LENGTH, NON-NULL-ELEMENT arrays (the SQ8 call sites:
  * uniform-length quantized codes) whose products and sums fit a long.
  * On overflow the two DIVERGE: this kernel wraps (Java long arithmetic),
  * while the HOF's `*` and `+` throw `ARITHMETIC_OVERFLOW` under ANSI
  * mode (Spark's default) and wrap only with ANSI off. SQ8 codes are
  * bytes, so a 64-element product sum stays far below the long range.
  *
  * PRECONDITION (same caveat as [[DotProduct]]): on unequal lengths this
  * truncates to the shorter array, where `zip_with` null-pads and the HOF
  * fold yields NULL; a null ELEMENT reads an undefined slot value here and
  * NULL-propagates there. Do not reach for this expression from a call
  * site that relies on the HOF's NULL semantics.
  */
case class DotProductLong(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_dot_long"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L
    var i = 0
    while (i < n) { s += x.getLong(i) * y.getLong(i); i += 1 }
    s
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a.getLong($i) * $b.getLong($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductLong =
    copy(left = newLeft, right = newRight)
}

object DotProductLong {
  /** Column-API entry point. */
  def dot(a: Column, b: Column): Column =
    Bridge.column(DotProductLong(Bridge.expression(a), Bridge.expression(b)))
}
