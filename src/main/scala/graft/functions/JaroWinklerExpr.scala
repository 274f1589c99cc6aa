package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.DoubleType
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: Jaro–Winkler similarity (Winkler 1990)
  * — the record-linkage scorer Spark lacks as a built-in (it ships
  * only `levenshtein`). Classic definition, bit-compatible with
  * DuckDB's `jaro_winkler_similarity` (verified empirically): Jaro
  * with the standard match window max(|a|,|b|)/2 − 1 and half-count
  * transpositions, Winkler prefix boost (≤ 4 chars, p = 0.1) applied
  * only when jaro > 0.7.
  *
  * Custom-`Expression` tier (SURVEY.md §4.3): one static call per row
  * inside whole-stage codegen — no UDF serialization, no boxing.
  */
case class JaroWinklerExpr(left: Expression, right: Expression)
    extends BinaryKernel(JaroWinklerExpr) {
  protected override def nullSafeEval(l: Any, r: Any): Any =
    JaroWinklerExpr.sim(l.asInstanceOf[UTF8String], r.asInstanceOf[UTF8String])
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaroWinklerExpr =
    copy(left = newLeft, right = newRight)
}

object JaroWinklerExpr extends Kernel("jaro_winkler", Seq.fill(2)(Kernel.string),
    Nil, DoubleType, "graft.functions.JaroWinklerExpr.sim") {
  protected def make(c: Seq[Expression], ints: Seq[Int]): Expression =
    JaroWinklerExpr(c(0), c(1))

  /** Static entry point shared by interpreted eval and generated code. */
  def sim(a: UTF8String, b: UTF8String): Double = {
    val s1 = a.toString
    val s2 = b.toString
    if (s1 == s2) return 1.0
    val l1 = s1.length
    val l2 = s2.length
    if (l1 == 0 || l2 == 0) return 0.0
    val window = math.max(math.max(l1, l2) / 2 - 1, 0)
    val m1 = new Array[Boolean](l1)
    val m2 = new Array[Boolean](l2)
    var matches = 0
    var i = 0
    while (i < l1) {
      var j = math.max(0, i - window)
      val hi = math.min(l2, i + window + 1)
      var done = false
      while (j < hi && !done) {
        if (!m2(j) && s1.charAt(i) == s2.charAt(j)) {
          m1(i) = true; m2(j) = true; matches += 1; done = true
        }
        j += 1
      }
      i += 1
    }
    if (matches == 0) return 0.0
    // transpositions: matched chars out of order, half-counted
    var t = 0
    var k = 0
    i = 0
    while (i < l1) {
      if (m1(i)) {
        while (!m2(k)) k += 1
        if (s1.charAt(i) != s2.charAt(k)) t += 1
        k += 1
      }
      i += 1
    }
    val tr = t / 2
    val m = matches.toDouble
    val jaro = (m / l1 + m / l2 + (m - tr) / m) / 3.0
    if (jaro <= 0.7) return jaro
    var prefix = 0
    val pmax = math.min(4, math.min(l1, l2))
    while (prefix < pmax && s1.charAt(prefix) == s2.charAt(prefix)) prefix += 1
    jaro + prefix * 0.1 * (1.0 - jaro)
  }

  /** Column wrapper. */
  def jaro_winkler(a: Column, b: Column): Column = column(a, b)
}
