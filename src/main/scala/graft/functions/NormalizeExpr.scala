package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: Unicode NFC normalization (UAX#15
  * canonical composition) — the text-hygiene primitive Spark lacks as
  * a built-in. Web-crawl corpora mix precomposed ("é") and decomposed
  * ("e" + U+0301) forms; exact/MinHash dedup and tokenization treat
  * them as different bytes unless the pipeline canonicalizes first,
  * so NFC belongs at the bronze→silver boundary next to PII scrub.
  *
  * Bit-compatible with DuckDB's `nfc_normalize` (both implement
  * UAX#15; verified by q158's hash gate). Custom-`Expression` tier
  * (SURVEY.md §4.3): one static call per row inside whole-stage
  * codegen — no UDF serialization.
  */
case class NfcNormalizeExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"nfc_normalize requires a string input, got ${child.dataType}")

  protected override def nullSafeEval(v: Any): Any =
    NfcNormalizeExpr.nfc(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NfcNormalizeExpr.nfc($c)")

  override protected def withNewChildInternal(
      newChild: Expression): NfcNormalizeExpr = copy(child = newChild)

  override def prettyName: String = "nfc_normalize"
}

object NfcNormalizeExpr {

  /** Static entry point shared by interpreted eval and generated code.
    * Fast path: `Normalizer.isNormalized` is O(n) with no allocation
    * for the (overwhelmingly common) already-NFC case. */
  def nfc(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }

  /** Column wrapper. */
  def nfc_normalize(c: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(NfcNormalizeExpr(
      org.apache.spark.sql.graft.ColumnBridge.expression(c)))
}
