package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}
import org.apache.spark.unsafe.bitset.BitSetMethods

/** graft's native array kernels — the codegen rung of the extension ladder
  * (SURVEY.md, "custom operators" (b)). Their higher-order-function
  * formulations (`aggregate(zip_with(...))`, `transform`) are
  * CodegenFallback: one boxed lambda call per element, and their presence
  * breaks the surrounding projection out of whole-stage codegen. A kernel
  * compiles into the whole-stage loop instead: one `for` over the array
  * data, no boxing.
  *
  * One expression serves every kernel; an [[ArrayKernel.Op]] states only
  * its SQL name, its types and its per-element term, once in Scala (the
  * interpreted path) and once in Java (the generated code), with the HOF's
  * IEEE operations in the HOF's order, so results are bit-identical. The
  * result type picks the shape:
  *   - a number: the left-to-right sum of the terms (`acc += term`);
  *   - an array: one term per element.
  *
  * A pairwise kernel (right operand an array) runs over the shorter of
  * the two arrays, where `zip_with` NULL-pads; they agree on equal
  * lengths, which every call site has (fixed-dimension vectors). A null
  * element, which the HOF would NULL-propagate, fails the kernel with its
  * name on both paths ([[ArrayKernel.requireNoNull]], once per operand
  * before the loop); the check is compiled out of an operand whose type
  * holds no nulls.
  */
case class ArrayKernel(op: ArrayKernel.Op, left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(ArrayType(op.in), op.rhs)
  override def dataType: DataType = op.out
  override def prettyName: String = op.name
  // printed as `graft_dot(a, b)`: the name already says which op
  override protected def stringArgs: Iterator[Any] = Iterator(left, right)

  private def pairwise: Boolean = op.rhs.isInstanceOf[ArrayType]
  private def mayHoldNull(e: Expression): Boolean = e.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => false
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = if (pairwise) b.asInstanceOf[ArrayData] else null
    val n = if (pairwise) math.min(x.numElements(), y.numElements()) else x.numElements()
    ArrayKernel.requireNoNull(op.name, x, n)
    if (pairwise) ArrayKernel.requireNoNull(op.name, y, n)
    val terms = Array.tabulate[Any](n)(op.term(x, b, _))
    op.out match {
      case DoubleType => terms.foldLeft(0.0)(_ + _.asInstanceOf[Double])
      case LongType => terms.foldLeft(0L)(_ + _.asInstanceOf[Long])
      case ArrayType(DoubleType, _) =>
        UnsafeArrayData.fromPrimitiveArray(terms.map(_.asInstanceOf[Double]))
      case _ => UnsafeArrayData.fromPrimitiveArray(terms.map(_.asInstanceOf[Long]))
    }
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val len =
        if (pairwise) s"java.lang.Math.min($a.numElements(), $b.numElements())"
        else s"$a.numElements()"
      val checks = Seq(a -> left, b -> right).collect {
        case (v, e) if mayHoldNull(e) =>
          s"""graft.plans.ArrayKernel.requireNoNull("${op.name}", $v, $n);"""
      }
      val term = op.termJava(a, b, i)
      val (init, step, result) = op.out match {
        case ArrayType(elem, _) =>
          val t = CodeGenerator.javaType(elem)
          (s"$t[] $acc = new $t[$n];", s"$acc[$i] = $term;",
            s"org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($acc)")
        case elem =>
          (s"${CodeGenerator.javaType(elem)} $acc = 0;", s"$acc += $term;", acc)
      }
      s"""
         |int $n = $len;
         |${checks.mkString("\n")}
         |$init
         |for (int $i = 0; $i < $n; $i++) {
         |  $step
         |}
         |${ev.value} = $result;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArrayKernel =
    copy(left = newLeft, right = newRight)
}

object ArrayKernel {
  /** One kernel: SQL name, left element type, right operand type, result
    * type, and the term for element `i`, in Scala over (left array, right
    * operand, i) and in Java over the generated names of the same three.
    */
  sealed abstract class Op(val name: String, val in: DataType, val rhs: DataType,
                           val out: DataType) extends Serializable {
    def term(x: ArrayData, y: Any, i: Int): Any
    def termJava(x: String, y: String, i: String): String

    /** Column-API entry point. */
    def apply(a: Column, b: Column): Column =
      Bridge.column(ArrayKernel(this, Bridge.expression(a), Bridge.expression(b)))
  }

  /** Dot product of two double arrays; the HOF is [[graft.queries.Dedup.dotSeq]]. */
  case object Dot extends Op("graft_dot", DoubleType, ArrayType(DoubleType), DoubleType) {
    def term(x: ArrayData, y: Any, i: Int): Any =
      x.getDouble(i) * y.asInstanceOf[ArrayData].getDouble(i)
    def termJava(x: String, y: String, i: String): String = s"$x.getDouble($i) * $y.getDouble($i)"
  }

  /** Dot product of two long arrays (SQ8 codes):
    * `aggregate(zip_with(a, b, (x, y) -> x * y), 0L, (acc, el) -> acc + el)`.
    * Long arithmetic wraps on overflow where the ANSI HOF throws
    * `ARITHMETIC_OVERFLOW`; SQ8 codes are bytes, far below the long range.
    */
  case object DotLong extends Op("graft_dot_long", LongType, ArrayType(LongType), LongType) {
    def term(x: ArrayData, y: Any, i: Int): Any =
      x.getLong(i) * y.asInstanceOf[ArrayData].getLong(i)
    def termJava(x: String, y: String, i: String): String = s"$x.getLong($i) * $y.getLong($i)"
  }

  /** Element-wise difference: `zip_with(a, b, (x, y) -> x - y)`. */
  case object Sub extends Op("graft_array_sub", DoubleType, ArrayType(DoubleType),
      ArrayType(DoubleType, containsNull = false)) {
    def term(x: ArrayData, y: Any, i: Int): Any =
      x.getDouble(i) - y.asInstanceOf[ArrayData].getDouble(i)
    def termJava(x: String, y: String, i: String): String = s"$x.getDouble($i) - $y.getDouble($i)"
  }

  /** Element-wise scale: `transform(v, x -> x * f)`. */
  case object Scale extends Op("graft_array_scale", DoubleType, DoubleType,
      ArrayType(DoubleType, containsNull = false)) {
    def term(x: ArrayData, y: Any, i: Int): Any = x.getDouble(i) * y.asInstanceOf[Double]
    def termJava(x: String, y: String, i: String): String = s"$x.getDouble($i) * $y"
  }

  /** The SQ8 symmetric quantizer:
    * `transform(v, x -> if (mx = 0) 0L else floor(x * 127 / mx + 0.5))`,
    * with the long conversion Spark's `floor` performs.
    */
  case object QuantizeSq8 extends Op("graft_array_quantize_sq8", DoubleType, DoubleType,
      ArrayType(LongType, containsNull = false)) {
    def term(x: ArrayData, y: Any, i: Int): Any = {
      val mx = y.asInstanceOf[Double]
      if (mx == 0.0) 0L else java.lang.Math.floor(x.getDouble(i) * 127.0 / mx + 0.5).toLong
    }
    def termJava(x: String, y: String, i: String): String =
      s"($y == 0.0) ? 0L : (long) java.lang.Math.floor($x.getDouble($i) * 127.0 / $y + 0.5)"
  }

  /** Every kernel, as [[GraftExtensions.functions]] registers them. */
  val Ops: Seq[Op] = Seq(Dot, DotLong, Sub, Scale, QuantizeSq8)

  /** Fails kernel `name` when one of the first `n` elements of `a` is null
    * (called from generated code too). An `UnsafeArrayData` (an array read
    * from an unsafe row) answers from its null bitset, one word per 64
    * elements after the 8-byte length; any other array is scanned element
    * by element.
    */
  def requireNoNull(name: String, a: ArrayData, n: Int): Unit = {
    val first = a match {
      case u: UnsafeArrayData =>
        BitSetMethods.nextSetBit(u.getBaseObject, u.getBaseOffset + 8, 0, (u.numElements() + 63) / 64)
      case _ =>
        var i = 0
        while (i < n && !a.isNullAt(i)) i += 1
        i
    }
    if (first >= 0 && first < n) throw new IllegalArgumentException(
      s"$name: input array holds a null element at index $first; the kernel takes non-null elements")
  }
}
