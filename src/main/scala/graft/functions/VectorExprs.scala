package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native dot product (SURVEY.md §4.3 custom-`Expression` tier).
  *
  * Bit-compatible with the built-ins-composed
  * `aggregate(zip_with(a, b, (x,y) => x.double * y.double), 0.0, +)`
  * — a strict left-to-right double fold — but runs as one codegen'd
  * static call per row instead of re-entering the HOF interpreter per
  * element. Every similarity operator (brute-force kNN, SRP-LSH, IVF,
  * embedding near-dup) sits on this loop, so it is THE hot path of
  * the vector surface.
  */
object VectorExprs {

  /** Strict sequential Σ aᵢ·bᵢ in double. Mismatched lengths or a
    * null element yield null, matching the zip_with/aggregate
    * composition (zip_with pads with null, null poisons the fold). */
  def dot(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      acc += x * y
      i += 1
    }
    acc
  }

  def dot_product(a: Column, b: Column): Column = DotProductExpr.column(a, b)
}

/** array<float|double> × array<float|double> → double. The kernel
  * returns a boxed null for mismatched lengths or a null element, so
  * the generated code unboxes it itself; each side's element type is
  * passed to the kernel as a flag. */
case class DotProductExpr(left: Expression, right: Expression)
    extends BinaryKernel(DotProductExpr) {

  override def nullable: Boolean = true

  private def isFloat(dt: DataType): Boolean =
    dt.asInstanceOf[ArrayType].elementType == FloatType
  private lazy val aFloat = isFloat(left.dataType)
  private lazy val bFloat = isFloat(right.dataType)
  override protected def literals: Seq[Any] = Seq(aFloat, bFloat)

  protected override def nullSafeEval(a: Any, b: Any): Any =
    VectorExprs.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      aFloat, bFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val tmp = ctx.freshName("dotRes")
      s"""
         |java.lang.Double $tmp = ${call(a, b)};
         |if ($tmp == null) { ${ev.isNull} = true; } else { ${ev.value} = $tmp; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductExpr =
    copy(left = newLeft, right = newRight)
}

object DotProductExpr extends Kernel("dot_product",
    Seq.fill(2)(Kernel.arrayOf(FloatType, DoubleType)), Nil, DoubleType,
    "graft.functions.VectorExprs.dot") {
  protected def make(c: Seq[Expression], ints: Seq[Int]): Expression =
    DotProductExpr(c(0), c(1))
}
