package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType
import graft.functions._

/** `SparkSessionExtensions` injector (SURVEY.md §4.3): registers every
  * native graft expression as a SQL function, so the SQL entry point
  * (SURVEY.md §3.3) reaches the same codegen'd kernels as the
  * DataFrame API:
  *
  * {{{
  * // --conf spark.sql.extensions=graft.GraftExtensions (the same key
  * // as a -D reaches GraftSession), or on a running session:
  * GraftExtensions.register(spark)
  * spark.sql("SELECT simhash_32(word_shingles(split(text,' '), 1)) ...")
  * }}}
  *
  * Int-parameterized expressions (shingle size, signature width) take
  * the parameter as an integer literal argument, resolved at plan
  * time.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.builders.foreach { case (name, builder) =>
      ext.injectFunction(
        (FunctionIdentifier(name), new ExpressionInfo("graft", name), builder))
    }
}

object GraftExtensions {

  private def litInt(e: Expression, what: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  /** name → expression builder, shared by the session-extension
    * injector and the post-hoc registrar. */
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "rolling_hash" -> {
      case Seq(c) => RollingHashExpr(c)
      case _ => throw new IllegalArgumentException("rolling_hash(str)")
    },
    "minhash_base_hashes" -> {
      case Seq(c) => MinhashBaseHashExpr(c)
      case _ => throw new IllegalArgumentException(
        "minhash_base_hashes(array<string>)")
    },
    "minhash_signature" -> ((es: Seq[Expression]) => es match {
      case Seq(c, k) => MinhashSigExpr(c, litInt(k, "numHashes"))
      case _ => throw new IllegalArgumentException(
        "minhash_signature(array<long>, numHashes)")
    }),
    "word_shingles" -> ((es: Seq[Expression]) => es match {
      case Seq(c, n) => WordShinglesExpr(c, litInt(n, "shingle size"))
      case _ => throw new IllegalArgumentException(
        "word_shingles(array<string>, n)")
    }),
    "simhash_32" -> {
      case Seq(c) => Simhash32Expr(c)
      case _ => throw new IllegalArgumentException("simhash_32(array<string>)")
    },
    "dot_product" -> {
      case Seq(a, b) => DotProductExpr(a, b)
      case _ => throw new IllegalArgumentException("dot_product(arr, arr)")
    },
    "char_counts" -> {
      case Seq(c) => CharCountsExpr(c)
      case _ => throw new IllegalArgumentException("char_counts(str)")
    },
    "distinct_char_shingles" -> ((es: Seq[Expression]) => es match {
      case Seq(c, k) => DistinctCharShinglesExpr(c, litInt(k, "shingle size"))
      case _ => throw new IllegalArgumentException(
        "distinct_char_shingles(str, k)")
    }),
    "jaro_winkler" -> {
      case Seq(a, b) => JaroWinklerExpr(a, b)
      case _ => throw new IllegalArgumentException("jaro_winkler(str, str)")
    },
    "nfc_normalize" -> {
      case Seq(c) => NfcNormalizeExpr(c)
      case _ => throw new IllegalArgumentException("nfc_normalize(str)")
    })

  /** Post-hoc registration on an already-built session (tests,
    * notebooks) — same builders as the injector. */
  def register(spark: SparkSession): Unit =
    builders.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }
}
