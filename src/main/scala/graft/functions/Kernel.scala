package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.{TypeCheckFailure, TypeCheckSuccess}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}

/** The declaration of one native kernel (SURVEY.md §4.3
  * custom-`Expression` tier): a static JVM method that whole-stage
  * codegen calls once per row. It names the SQL function, the type
  * each child must have, the integer literal parameters that follow
  * the children, the output type and the method generated code calls.
  *
  * Everything else is derived here: the expression's `prettyName`,
  * type check and generated call ([[UnaryKernel]], [[BinaryKernel]]),
  * the SQL builder `GraftExtensions` registers and the Column wrapper.
  * Each kernel's case class keeps its own `nullSafeEval`, one direct
  * Scala call to the same method, which Catalyst runs in constant
  * folding and inside higher-order-function lambdas. The declaration
  * is the case class's companion object.
  */
private[graft] abstract class Kernel(
    val name: String,
    val inputs: Seq[Kernel.Input],
    val intParams: Seq[String],
    val output: DataType,
    val entry: String) extends Serializable {

  /** The expression over the children and the integer parameters. */
  protected def make(children: Seq[Expression], ints: Seq[Int]): Expression

  def usage: String = s"$name(${(inputs.map(_.sql) ++ intParams).mkString(", ")})"

  /** SQL builder: the children, then one integer literal per
    * parameter, resolved at plan time. */
  def build(args: Seq[Expression]): Expression = {
    if (args.length != inputs.length + intParams.length)
      throw new IllegalArgumentException(
        s"$name takes ${inputs.length + intParams.length} arguments, " +
          s"got ${args.length}: $usage")
    val (children, lits) = args.splitAt(inputs.length)
    make(children, lits.zip(intParams).map {
      case (Literal(v: Int, IntegerType), _) => v
      case (other, what) => throw new IllegalArgumentException(
        s"$name: $what must be an integer literal, got $other")
    })
  }

  /** Column wrapper, for a kernel without integer parameters. */
  def column(children: Column*): Column = column(children, Nil)

  /** Column wrapper, for a unary kernel with one integer parameter. */
  def column(child: Column, param: Int): Column = column(Seq(child), Seq(param))

  private def column(children: Seq[Column], ints: Seq[Int]): Column = {
    require(children.length == inputs.length && ints.length == intParams.length,
      s"$name: $usage")
    ColumnBridge.column(make(children.map(ColumnBridge.expression), ints))
  }

  def checkInputs(children: Seq[Expression]): TypeCheckResult =
    children.zip(inputs).collectFirst {
      case (c, in) if !in.accepts(c.dataType) => TypeCheckFailure(
        s"$name requires ${in.sql}, got ${c.dataType.catalogString}")
    }.getOrElse(TypeCheckSuccess)
}

private[graft] object Kernel {

  /** The type one child must have, as named in messages. */
  final case class Input(sql: String, accepts: DataType => Boolean)

  val string: Input = Input("string", _ == StringType)

  /** An array whose element type is one of `elems`. */
  def arrayOf(elems: DataType*): Input =
    Input(elems.map(_.catalogString).mkString("array<", "|", ">"), {
      case ArrayType(e, _) => elems.contains(e)
      case _ => false
    })
}

/** What a kernel's Catalyst node derives from its declaration.
  * `Serializable` because the nodes below carry their declaration as
  * a constructor field: Java serialization (which ships an interpreted
  * kernel, e.g. inside a higher-order-function lambda, to its tasks)
  * needs the first non-serializable superclass to take no arguments,
  * which is then `UnaryExpression`/`BinaryExpression` as before. */
private[graft] trait KernelExpression extends Expression with Serializable {
  def kernel: Kernel

  /** Values the generated call passes after the children: the
    * integer parameters (`DotProductExpr`: its per-side float flags). */
  protected def literals: Seq[Any] = Nil

  protected def call(args: String*): String =
    s"${kernel.entry}(${(args ++ literals).mkString(", ")})"

  override def dataType: DataType = kernel.output
  override def checkInputDataTypes(): TypeCheckResult = kernel.checkInputs(children)
  override def prettyName: String = kernel.name
}

private[graft] abstract class UnaryKernel(val kernel: Kernel)
    extends UnaryExpression with KernelExpression {
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, call(_))
}

private[graft] abstract class BinaryKernel(val kernel: Kernel)
    extends BinaryExpression with KernelExpression {
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, call(_, _))
}
