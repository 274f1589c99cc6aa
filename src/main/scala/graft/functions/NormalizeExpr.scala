package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.StringType
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
case class NfcNormalizeExpr(child: Expression) extends UnaryKernel(NfcNormalizeExpr) {
  protected override def nullSafeEval(v: Any): Any =
    NfcNormalizeExpr.nfc(v.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(
      newChild: Expression): NfcNormalizeExpr = copy(child = newChild)
}

object NfcNormalizeExpr extends Kernel("nfc_normalize", Seq(Kernel.string), Nil,
    StringType, "graft.functions.NfcNormalizeExpr.nfc") {
  protected def make(c: Seq[Expression], ints: Seq[Int]): Expression = NfcNormalizeExpr(c.head)

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
  def nfc_normalize(c: Column): Column = column(c)
}
