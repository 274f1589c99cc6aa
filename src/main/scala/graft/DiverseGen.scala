package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Diverse-vocabulary documents generator:
  * `runMain graft.DiverseGen <sf> <outDir>` writes ONLY a documents
  * table (fixture schema), with the property the fixture corpus
  * lacks: the vocabulary GROWS with the corpus (size N/2, Zipf-ish
  * skew, words are md5-derived tokens), so distinct-shingle count
  * grows ~linearly with N instead of saturating at 30³.
  *
  * Purpose: SCALING.md attributes q33/q67's exponent drift at
  * sf2-sf4 to the fixture's 30-word vocabulary saturating the
  * 3-shingle space (within-block df then grows ∝N and exact
  * inverted-index verification is inherently superlinear). This
  * corpus is the control: same dup-injection structure, same doc
  * lengths, diversity like real text — if the attribution is right,
  * the same uncapped queries stay ~linear here.
  *
  * Same determinism discipline as [[ScaleGen]]: every value is a pure
  * function of the row id via xxhash64.
  */
object DiverseGen {

  private val M = 1L << 40

  private def h(salt: String, cols: Column*): Column =
    xxhash64((lit(salt) +: cols): _*)

  private def u(salt: String, cols: Column*): Column =
    pmod(h(salt, cols: _*), lit(M)).cast("double") / M.toDouble

  def main(args: Array[String]): Unit = {
    val Array(sfStr, outDir) = args.take(2)
    val sf = sfStr.toDouble
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
    documentsDf(spark, math.max(1L, math.round(50000 * sf)))
      .coalesce(4).write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    println(s"[diversegen] wrote documents at sf $sf")
    spark.stop()
  }

  def documentsDf(spark: SparkSession, nDocs: Long): DataFrame = {
    val vocab = math.max(100L, nDocs / 2) // vocabulary grows with the corpus
    val docs0 = spark.range(nDocs).select(
      col("id").as("doc_id"),
      (u("d_dup", col("id")) < 0.05 && col("id") > 0).as("is_dup"))
    val docs1 = docs0.withColumn("base_id",
      when(col("is_dup"), pmod(h("d_base", col("doc_id")), col("doc_id")))
        .otherwise(col("doc_id")))
    val nWords = (pmod(h("d_n", col("base_id")), lit(91L)) + 10).cast("int")
    // Zipf-ish skew: squaring a uniform concentrates mass on low ranks
    // (P(rank < r) = sqrt(r/V)), so common words exist without the
    // vocabulary collapsing to a fixed head
    def wordAt(idCol: Column, i: Column, salt: String): Column = {
      val z = (pmod(h(salt, idCol, i), lit(M)).cast("double") / M.toDouble)
      val rank = floor(z * z * vocab.toDouble).cast(LongType)
      substring(md5(rank.cast("string")), 1, 8)
    }
    val baseWords = transform(sequence(lit(0), nWords - 1),
      i => wordAt(col("base_id"), i, "d_w"))
    val mutated = transform(baseWords, (w, i) =>
      when(!col("is_dup"), w)
        .when(pmod(h("d_mut", col("doc_id"), i), lit(100L)) < 8,
          wordAt(col("doc_id"), i, "d_rw"))
        .when(i === pmod(h("d_pos", col("doc_id")), size(baseWords).cast(LongType)).cast("int"),
          lit("dupmark"))
        .otherwise(w))
    docs1.select(
      col("doc_id"),
      array_join(mutated, " ").as("text"),
      lit("en").as("lang"),
      concat(lit("src"), pmod(h("d_src", col("doc_id")), lit(20L))).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }
}
