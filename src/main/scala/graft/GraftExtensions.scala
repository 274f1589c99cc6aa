package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
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

  /** name → expression builder for every native kernel, shared by the
    * session-extension injector and the post-hoc registrar. */
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq[Kernel](
    RollingHashExpr, MinhashBaseHashExpr, MinhashSigExpr, WordShinglesExpr,
    Simhash32Expr, DotProductExpr, CharCountsExpr, DistinctCharShinglesExpr,
    JaroWinklerExpr, NfcNormalizeExpr).map(k => k.name -> k.build _)

  /** Post-hoc registration on an already-built session (tests,
    * notebooks) — same builders as the injector. */
  def register(spark: SparkSession): Unit =
    builders.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }
}
