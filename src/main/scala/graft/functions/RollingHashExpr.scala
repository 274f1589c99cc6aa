package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.LongType
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: polynomial rolling hash (Horner, base
  * 31, mod 1e9+7) over a string's UTF-8 bytes.
  *
  * This is the custom-`Expression` tier of the extension surface
  * (SURVEY.md §4.3): a document fingerprint that runs inside
  * whole-stage codegen as a single static-method call per row — one
  * pass over the bytes, no intermediate array (unlike the
  * built-ins-composed [[TextFunctions.rollingFingerprint]], which
  * materializes a char array first). For pure-ASCII input the two
  * produce identical values (byte == code point), which the oracle
  * exploits.
  */
case class RollingHashExpr(child: Expression) extends UnaryKernel(RollingHashExpr) {
  protected override def nullSafeEval(input: Any): Any =
    RollingHashExpr.hash(input.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression): RollingHashExpr =
    copy(child = newChild)
}

object RollingHashExpr extends Kernel("rolling_hash", Seq(Kernel.string), Nil,
    LongType, "graft.functions.RollingHashExpr.hash") {
  protected def make(c: Seq[Expression], ints: Seq[Int]): Expression = RollingHashExpr(c.head)

  /** Modulus 1e9+7: acc < 2^30, so acc*31 + 255 < 2^35 — no overflow
    * headroom games needed on 64-bit longs. */
  private final val P = 1000000007L

  /** Static entry point shared by interpreted eval and generated code. */
  def hash(s: UTF8String): Long = {
    val bytes = s.getBytes
    var acc = 0L
    var i = 0
    while (i < bytes.length) {
      acc = (acc * 31 + (bytes(i) & 0xff)) % P
      i += 1
    }
    acc
  }

  /** Column wrapper. */
  def rolling_hash(c: Column): Column = column(c)
}
