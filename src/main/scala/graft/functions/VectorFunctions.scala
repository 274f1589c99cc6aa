package graft.functions

import java.security.MessageDigest
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector math over `array<float>` embedding columns, built on
  * codegen'd higher-order functions (`zip_with`/`aggregate`) — no
  * UDFs, no per-row serialization.
  *
  * All accumulation is done in double with a strict left-to-right
  * fold, which makes results bit-identical to a sequential C loop
  * (and to the DuckDB oracle's `list_dot_product` over `DOUBLE[]`).
  */
object VectorFunctions {

  /** Σ aᵢ·bᵢ in double precision (native codegen'd fold — see
    * [[VectorExprs]]; [[dotComposed]] is the built-ins twin kept for
    * the parity spec). */
  def dot(a: Column, b: Column): Column = VectorExprs.dot_product(a, b)

  /** Built-ins-composed dot product (interpreted HOFs) — the
    * bit-compatibility reference for the native expression. */
  def dotComposed(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** ‖a‖₂ in double precision. */
  def norm2(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity dot/(‖a‖·‖b‖); 0 for zero vectors. */
  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val n = norm2(a) * norm2(b)
    when(n === 0.0, lit(0.0)).otherwise(d / n)
  }

  /** Deterministic pseudo-random hyperplane `h` for `dim`-dimensional
    * signed random projection: component d is derived from
    * md5("h-d")'s first 4 hex chars, shifted to [-32768, 32767].
    * Computed once at plan build time and embedded as an array
    * literal — reproducible on any engine (the DuckDB oracle inlines
    * the same numbers), zero per-row hashing cost, broadcast-free.
    */
  def hyperplane(h: Int, dim: Int): Seq[Double] = {
    val md = MessageDigest.getInstance("MD5")
    (0 until dim).map { d =>
      val hex = md.digest(s"$h-$d".getBytes("UTF-8"))
        .take(2).map("%02x".format(_)).mkString
      java.lang.Integer.parseInt(hex, 16) - 32768.0
    }
  }

  /** SRP sign bit: 1 when ⟨v, hyperplane⟩ ≥ 0. */
  def srpBit(v: Column, plane: Seq[Double]): Column =
    (dot(v, typedLit(plane)) >= 0.0).cast("long")

  /** nBits-bit LSH bucket id from signed random projections. */
  def srpBucket(v: Column, nBits: Int, dim: Int): Column =
    (0 until nBits).map(h => srpBit(v, hyperplane(h, dim)) * (1L << h))
      .reduce(_ + _)
}
