package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native integer squared Euclidean distance over two `array<long>`
  * columns: `Σ (a_i − b_i)²` as a strict left fold in 64-bit integer
  * arithmetic.
  *
  * The twoNN kernels previously spelled this as
  * `aggregate(zip_with(a, b, (x,y) => (x−y)*(x−y)), 0L, _+_)` — both
  * HOFs extend `CodegenFallback`, so every candidate PAIR paid an
  * interpreted per-element lambda walk (the quadratic hot loop of the
  * twonn family). This expression is the [[ArrayDotProduct]] treatment
  * for the integer kernel: a primitive loop inside whole-stage codegen.
  *
  * Integer addition is associative and order-independent, and overflow
  * wraps identically in both forms, so results are bit-for-bit
  * unchanged (the callers' quantization guard bounds |x| ≤ 1e8 over
  * ≤ 230 dims, keeping the exact sum < 2⁶³).
  * Contract: array elements are non-null (quantized embeddings), and
  * both arrays have the same length: a ragged pair raises an error naming
  * both lengths, in interpreted and generated code alike, instead of
  * folding over the shorter one.
  */
case class ArraySqDistLong(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  // covariant refinement: AbstractDataType itself is private[sql]
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_array_sqdist_long"

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements())
      throw ArraySqDistLong.raggedInput(n, b.numElements())
    var s = 0L
    var i = 0
    while (i < n) {
      val d = a.getLong(i) - b.getLong(i)
      s += d * d
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val d = ctx.freshName("d")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  throw graft.plans.ArraySqDistLong.raggedInput($n, $b.numElements());
         |}
         |${ev.value} = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  long $d = $a.getLong($i) - $b.getLong($i);
         |  ${ev.value} += $d * $d;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object ArraySqDistLong {
  /** The error a ragged pair raises, from both evaluation paths. */
  def raggedInput(left: Int, right: Int): IllegalArgumentException =
    new IllegalArgumentException(
      s"graft_array_sqdist_long: arrays of different lengths " +
        s"($left and $right)")
}
