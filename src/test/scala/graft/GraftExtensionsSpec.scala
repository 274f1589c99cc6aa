package graft

import graft.functions.{RollingHashExpr, TextExprs}
import org.apache.spark.unsafe.types.UTF8String

/** The SQL surface of the native expressions: every graft function is
  * callable from `spark.sql` after extension registration and agrees
  * with the DataFrame/static paths. */
class GraftExtensionsSpec extends SparkSpec {
  import spark.implicits._

  GraftExtensions.register(spark)

  test("rolling_hash is SQL-callable and matches the static kernel") {
    val got = spark.sql("SELECT rolling_hash('hello world') AS h")
      .as[Long].head()
    assert(got == RollingHashExpr.hash(UTF8String.fromString("hello world")))
  }

  test("word_shingles and simhash_32 from SQL") {
    val sh = spark.sql(
      "SELECT word_shingles(array('a','b','c'), 2) AS sh").as[Seq[String]].head()
    assert(sh == Seq("a b", "b c"))
    val empty = spark.sql(
      "SELECT simhash_32(CAST(array() AS ARRAY<STRING>)) AS s").as[Long].head()
    assert(empty == 0xffffffffL)
  }

  test("minhash pipeline from SQL matches the DataFrame path") {
    val viaSql = spark.sql(
      """SELECT minhash_signature(minhash_base_hashes(array('x y z', 'y z w')), 4)
           AS sig""").as[Seq[Long]].head()
    val viaDf = Seq(Seq("x y z", "y z w")).toDF("sh")
      .select(graft.functions.MinhashExprs.minhash_signature(
        graft.functions.MinhashExprs.minhash_base_hashes($"sh"), 4).as("sig"))
      .as[Seq[Long]].head()
    assert(viaSql == viaDf)
  }

  test("dot_product from SQL; non-literal width is rejected") {
    val d = spark.sql(
      "SELECT dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .as[Double].head()
    assert(d == 11.0)
    val err = intercept[Exception] {
      spark.sql("SELECT minhash_signature(array(1L), CAST(rand()*4 AS INT))")
        .collect()
    }
    assert(err.getMessage.toLowerCase.contains("literal"))
  }

  test("char_counts and distinct_char_shingles from SQL match the static kernels") {
    val cc = spark.sql("SELECT char_counts('aab') AS c").as[Seq[Long]].head()
    assert(cc == Seq(2L, 1L))
    val k = spark.sql("SELECT distinct_char_shingles('abab', 2) AS k")
      .as[Long].head()
    assert(k == TextExprs.distinctCharShingles(UTF8String.fromString("abab"), 2))
    assert(k == 2L)
  }

  test("jaro_winkler and nfc_normalize from SQL") {
    val j = spark.sql("SELECT jaro_winkler('martha', 'marhta') AS j")
      .as[Double].head()
    assert(math.abs(j - 0.9611111111111111) < 1e-12)
    Seq("cafe\u0301").toDF("s").createOrReplaceTempView("nfc_in")
    val n = spark.sql("SELECT nfc_normalize(s) AS n FROM nfc_in").as[String].head()
    assert(n == "caf\u00e9")
  }

  test("injector exposes the same builder table") {
    // the class-based injector must construct cleanly (driver passes it
    // via spark.sql.extensions) and cover every registered name
    val ext = new GraftExtensions
    assert(GraftExtensions.builders.map(_._1).toSet ==
      Set("rolling_hash", "minhash_base_hashes", "minhash_signature",
        "word_shingles", "simhash_32", "dot_product", "char_counts",
        "distinct_char_shingles", "jaro_winkler", "nfc_normalize"))
    val _ = ext
  }
}
