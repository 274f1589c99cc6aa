package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the MinHash pipeline (SURVEY.md
  * §4.3 custom-`Expression` tier).
  *
  * The built-ins-composed formulation in [[graft.operators.Dedup]]
  * runs `transform`/`array_min` higher-order functions, which are
  * interpreted (CodegenFallback): one md5+conv per shingle plus
  * numHashes modmul passes per document re-enter the interpreter per
  * element. These two expressions do the same math as single
  * static-method calls inside whole-stage codegen — one pass over the
  * shingle array for the base hashes, one fused pass for all hash
  * families — and are bit-compatible with the built-in versions (the
  * DuckDB oracle exercises that equivalence end to end).
  */
object MinhashExprs {

  /** Field modulus shared by the whole minhash pipeline: keeps every
    * intermediate below 2^60 so 64-bit arithmetic is exact on any
    * engine (h%P < 2^30, A < 2^30). */
  val P: Long = 1000000007L

  /** Universal-hash family constants (Knuth multiplicative mixers). */
  def familyA(i: Int): Long = {
    val a = (2654435761L * (i + 1)) % P
    if (a == 0) 1L else a
  }
  def familyB(i: Int): Long = (1779033703L * (i + 13)) % P

  private val md5Local = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest =
      MessageDigest.getInstance("MD5")
  }

  /** First 60 bits of md5(s) as a non-negative long, mod P — the
    * native twin of `conv(substring(md5(s),1,15),16,10) % P` (15 hex
    * digits = 60 bits = 7 bytes + 1 nibble of the digest). */
  def hash60(s: UTF8String): Long = {
    val d = md5Local.get()
    d.reset()
    val digest = d.digest(s.getBytes)
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (digest(i) & 0xffL); i += 1 }
    v = (v << 4) | ((digest(7) & 0xffL) >>> 4)
    v % P
  }

  /** array<string> shingles → array<long> base hashes (one hash60
    * per element, single codegen call per row). Null elements map to
    * null hashes, matching the built-ins twin (`md5(null)` → null). */
  def baseHashes(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) out(i) = hash60(arr.getUTF8String(i))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** array<long> base hashes → array<long> minhash signature: entry j
    * is min over non-null elements of (h·A(j)+B(j)) mod P. Null
    * elements are skipped and an empty / all-null input yields
    * all-null entries — matching `array_min(transform(…))`, which
    * ignores nulls and returns null on an empty array. */
  def signature(hs: ArrayData, numHashes: Int): ArrayData = {
    val n = hs.numElements()
    val as = new Array[Long](numHashes)
    val bs = new Array[Long](numHashes)
    var j = 0
    while (j < numHashes) { as(j) = familyA(j); bs(j) = familyB(j); j += 1 }
    val out = new Array[Long](numHashes)
    java.util.Arrays.fill(out, Long.MaxValue)
    var any = false
    var i = 0
    while (i < n) {
      if (!hs.isNullAt(i)) {
        any = true
        val h = hs.getLong(i)
        j = 0
        while (j < numHashes) {
          val v = (h * as(j) + bs(j)) % P
          if (v < out(j)) out(j) = v
          j += 1
        }
      }
      i += 1
    }
    if (!any) return new GenericArrayData(new Array[Any](numHashes))
    new GenericArrayData(out)
  }

  def minhash_base_hashes(c: Column): Column = MinhashBaseHashExpr.column(c)

  def minhash_signature(c: Column, numHashes: Int): Column =
    MinhashSigExpr.column(c, numHashes)
}

/** array<string> → array<long>: md5-60-bit base hash per element. */
case class MinhashBaseHashExpr(child: Expression) extends UnaryKernel(MinhashBaseHashExpr) {

  // null elements propagate (md5(null) → null), so the output can
  // hold nulls exactly when the input can
  override def dataType: DataType = ArrayType(LongType,
    containsNull = child.dataType match {
      case ArrayType(_, cn) => cn
      case _ => true
    })

  protected override def nullSafeEval(input: Any): Any =
    MinhashExprs.baseHashes(input.asInstanceOf[ArrayData])
  override protected def withNewChildInternal(newChild: Expression): MinhashBaseHashExpr =
    copy(child = newChild)
}

object MinhashBaseHashExpr extends Kernel("minhash_base_hashes",
    Seq(Kernel.arrayOf(StringType)), Nil, ArrayType(LongType),
    "graft.functions.MinhashExprs.baseHashes") {
  protected def make(c: Seq[Expression], ints: Seq[Int]): Expression =
    MinhashBaseHashExpr(c.head)
}

/** array<long> → array<long>: fused all-families minhash signature. */
case class MinhashSigExpr(child: Expression, numHashes: Int)
    extends UnaryKernel(MinhashSigExpr) {

  require(numHashes > 0, "numHashes must be positive")

  override protected def literals: Seq[Any] = Seq(numHashes)
  protected override def nullSafeEval(input: Any): Any =
    MinhashExprs.signature(input.asInstanceOf[ArrayData], numHashes)
  override protected def withNewChildInternal(newChild: Expression): MinhashSigExpr =
    copy(child = newChild)
}

object MinhashSigExpr extends Kernel("minhash_signature",
    Seq(Kernel.arrayOf(LongType)), Seq("numHashes"),
    ArrayType(LongType, containsNull = true), "graft.functions.MinhashExprs.signature") {
  protected def make(c: Seq[Expression], ints: Seq[Int]): Expression =
    MinhashSigExpr(c.head, ints.head)
}
