package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native word-shingling (SURVEY.md §4.3 custom-`Expression` tier).
  *
  * Bit-compatible with the built-ins-composed
  * [[TextFunctions.wordShinglesOf]] (`transform(sequence(...),
  * i => concat_ws(" ", slice(t, i, n)))`), whose higher-order
  * functions run interpreted — one slice + concat interpreter
  * round-trip per shingle position. This expression emits all
  * shingles in a single codegen'd static call per row.
  */
object TextExprs {

  private val Space = UTF8String.fromString(" ")

  /** Sliding n-token shingles; fewer than n tokens collapse to one
    * whole-array shingle (matches `wordShinglesOf`'s `otherwise`
    * branch, including the empty-array → [""] case). */
  def shingles(arr: ArrayData, n: Int): ArrayData = {
    val len = arr.numElements()
    // null tokens → null parts, which concatWs skips — same as the
    // twin's concat_ws (and avoids undefined reads on UnsafeArrayData)
    def part(i: Int): UTF8String =
      if (arr.isNullAt(i)) null else arr.getUTF8String(i)
    if (len < n) {
      val parts = new Array[UTF8String](len)
      var i = 0
      while (i < len) { parts(i) = part(i); i += 1 }
      new GenericArrayData(Array[Any](UTF8String.concatWs(Space, parts: _*)))
    } else {
      val out = new Array[Any](len - n + 1)
      var i = 0
      while (i <= len - n) {
        val parts = new Array[UTF8String](n)
        var j = 0
        while (j < n) { parts(j) = part(i + j); j += 1 }
        out(i) = UTF8String.concatWs(Space, parts: _*)
        i += 1
      }
      new GenericArrayData(out)
    }
  }

  def word_shingles(c: Column, n: Int): Column = WordShinglesExpr.column(c, n)

  private val simhashMd5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** 32-bit SimHash over a token array — native twin of
    * [[graft.operators.Dedup.simhash32Of]]: bit b is the majority
    * vote of md5-hex-digit-b's top bit over all tokens (ties and the
    * empty array set the bit, matching `2*ones >= n`). One md5 per
    * token total, vs one md5 per token PER BIT interpreted. */
  def simhash32(arr: ArrayData): Long = {
    val n = arr.numElements()
    val counts = new Array[Int](32)
    val d = simhashMd5.get()
    var i = 0
    while (i < n) {
      // null tokens cast no vote but still count toward n — the twin's
      // `filter` drops them (null predicate) while `size(toks)` keeps them
      if (arr.isNullAt(i)) { i += 1 }
      else {
      d.reset()
      val digest = d.digest(arr.getUTF8String(i).getBytes)
      var b = 0
      while (b < 32) {
        val byte = digest(b >> 1) & 0xff
        val nibble = if ((b & 1) == 0) byte >>> 4 else byte & 0xf
        if (nibble >= 8) counts(b) += 1
        b += 1
      }
      i += 1
      }
    }
    var sig = 0L
    var b = 0
    while (b < 32) {
      if (2 * counts(b) >= n) sig |= (1L << b)
      b += 1
    }
    sig
  }

  def simhash_32(c: Column): Column = Simhash32Expr.column(c)

  /** Per-string character histogram VALUES (one count per distinct
    * code point, identity dropped — entropy and other distributional
    * stats only need the multiset of counts). One pass per row,
    * replacing an explode of every character into a row: the explode
    * form materializes total-char-mass rows (~55M at bench sf0.1)
    * and shuffles their partial aggregates; this is zero-shuffle.
    * Code points are counted, matching `length()`/`substring(_, i, 1)`
    * semantics on UTF8String (both operate on code points). */
  def charCounts(s: UTF8String): ArrayData = {
    val str = s.toString
    val n = str.length
    val ascii = new Array[Long](128)
    var other: java.util.HashMap[Integer, Array[Long]] = null
    var i = 0
    while (i < n) {
      val cp = str.codePointAt(i)
      if (cp < 128) ascii(cp) += 1L
      else {
        if (other == null) other = new java.util.HashMap[Integer, Array[Long]]()
        val box = other.get(cp)
        if (box == null) other.put(cp, Array(1L)) else box(0) += 1L
      }
      i += Character.charCount(cp)
    }
    val out = new java.util.ArrayList[Any]()
    var c = 0
    while (c < 128) { if (ascii(c) > 0L) out.add(ascii(c)); c += 1 }
    if (other != null) {
      val it = other.values().iterator()
      while (it.hasNext) out.add(it.next()(0))
    }
    new GenericArrayData(out.toArray)
  }

  def char_counts(c: Column): Column = CharCountsExpr.column(c)

  /** Number of DISTINCT k-code-point character shingles, matching
    * `size(array_distinct(charShingles(text, k)))` — including the
    * fewer-than-k collapse to one whole-string shingle. One pass, no
    * array materialization: for BMP-only text the k≤4 window packs
    * collision-free into a Long (4 × 16 bits); a supplementary code
    * point anywhere falls back to exact string windows. */
  def distinctCharShingles(s: UTF8String, k: Int): Long = {
    val str = s.toString
    val cps = str.codePoints().toArray
    val m = cps.length
    if (m < k) return 1L
    var bmp = true
    var i = 0
    while (i < m && bmp) { if (cps(i) > 0xFFFF) bmp = false; i += 1 }
    if (bmp && k <= 4) {
      val set = new java.util.HashSet[java.lang.Long](2 * (m - k + 1))
      var p = 0
      while (p <= m - k) {
        var key = 0L // k<=4 fixed-width 16-bit packs are collision-free
        var j = 0
        while (j < k) { key = (key << 16) | cps(p + j).toLong; j += 1 }
        set.add(key)
        p += 1
      }
      set.size().toLong
    } else {
      val set = new java.util.HashSet[String](2 * (m - k + 1))
      var p = 0
      while (p <= m - k) {
        val sb = new java.lang.StringBuilder
        var j = 0
        while (j < k) { sb.appendCodePoint(cps(p + j)); j += 1 }
        set.add(sb.toString)
        p += 1
      }
      set.size().toLong
    }
  }

  def distinct_char_shingles(c: Column, k: Int): Column =
    DistinctCharShinglesExpr.column(c, k)
}

/** array<string> tokens → long 32-bit simhash signature. */
case class Simhash32Expr(child: Expression) extends UnaryKernel(Simhash32Expr) {
  protected override def nullSafeEval(input: Any): Any =
    TextExprs.simhash32(input.asInstanceOf[ArrayData])
  override protected def withNewChildInternal(newChild: Expression): Simhash32Expr =
    copy(child = newChild)
}

object Simhash32Expr extends Kernel("simhash_32", Seq(Kernel.arrayOf(StringType)),
    Nil, LongType, "graft.functions.TextExprs.simhash32") {
  protected def make(c: Seq[Expression], ints: Seq[Int]): Expression = Simhash32Expr(c.head)
}

/** string → array<long> character-histogram counts (identities dropped). */
case class CharCountsExpr(child: Expression) extends UnaryKernel(CharCountsExpr) {
  protected override def nullSafeEval(input: Any): Any =
    TextExprs.charCounts(input.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression): CharCountsExpr =
    copy(child = newChild)
}

object CharCountsExpr extends Kernel("char_counts", Seq(Kernel.string), Nil,
    ArrayType(LongType, containsNull = false), "graft.functions.TextExprs.charCounts") {
  protected def make(c: Seq[Expression], ints: Seq[Int]): Expression = CharCountsExpr(c.head)
}

/** string → bigint distinct k-char-shingle count. */
case class DistinctCharShinglesExpr(child: Expression, k: Int)
    extends UnaryKernel(DistinctCharShinglesExpr) {

  require(k > 0, "shingle size must be positive")

  override protected def literals: Seq[Any] = Seq(k)
  protected override def nullSafeEval(input: Any): Any =
    TextExprs.distinctCharShingles(input.asInstanceOf[UTF8String], k)
  override protected def withNewChildInternal(
      newChild: Expression): DistinctCharShinglesExpr =
    copy(child = newChild)
}

object DistinctCharShinglesExpr extends Kernel("distinct_char_shingles",
    Seq(Kernel.string), Seq("shingle size"), LongType,
    "graft.functions.TextExprs.distinctCharShingles") {
  protected def make(c: Seq[Expression], ints: Seq[Int]): Expression =
    DistinctCharShinglesExpr(c.head, ints.head)
}

/** array<string> tokens → array<string> sliding n-gram shingles. */
case class WordShinglesExpr(child: Expression, n: Int)
    extends UnaryKernel(WordShinglesExpr) {

  require(n > 0, "shingle size must be positive")

  override protected def literals: Seq[Any] = Seq(n)
  protected override def nullSafeEval(input: Any): Any =
    TextExprs.shingles(input.asInstanceOf[ArrayData], n)
  override protected def withNewChildInternal(newChild: Expression): WordShinglesExpr =
    copy(child = newChild)
}

object WordShinglesExpr extends Kernel("word_shingles",
    Seq(Kernel.arrayOf(StringType)), Seq("shingle size"),
    ArrayType(StringType, containsNull = false), "graft.functions.TextExprs.shingles") {
  protected def make(c: Seq[Expression], ints: Seq[Int]): Expression =
    WordShinglesExpr(c.head, ints.head)
}
