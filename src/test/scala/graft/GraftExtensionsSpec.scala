package graft

import graft.functions._
import org.apache.spark.serializer.JavaSerializer
import org.apache.spark.sql.catalyst.CatalystTypeConverters.convertToScala
import org.apache.spark.sql.catalyst.expressions.{Alias, BindReferences, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.execution.debug.codegenString
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

  test("every kernel: eval matches generated code, whole-stage calls it, " +
      "it serializes, its builder rejects bad calls") {
    // one column per input type, each with a NULL row; range-based so
    // the projection stays a whole-stage stage (a local relation would
    // be folded away at optimization)
    def col(name: String, values: String*): String =
      s"element_at(array(${values.mkString(", ")}), CAST(id AS INT) + 1) AS $name"
    spark.sql("SELECT id, " + Seq(
      col("s", "NULL", "''", "'martha'", "'cafe\u0301 ab'", "'abab'"),
      col("s2", "'marhta'", "'x'", "NULL", "'martha'", "'abba'"),
      col("toks", "array('a', 'b', 'c')", "NULL", "array('x', NULL, 'y z')",
        "CAST(array() AS ARRAY<STRING>)", "array('a')"),
      col("hs", "array(1L, 2L)", "array(3L, NULL)", "NULL",
        "CAST(array() AS ARRAY<BIGINT>)", "array(5L)"),
      col("fv", "array(1.5F, 2F)", "array(1F)", "array(1F, NULL)", "NULL",
        "array(0.25F, 4F)"),
      col("dv", "array(3D, 4D)", "array(1D, 2D)", "array(1D, 2D)", "array(1D)",
        "NULL")).mkString(", ") + " FROM range(5)")
      .createOrReplaceTempView("kernel_in")
    val rows = spark.table("kernel_in").queryExecution.toRdd.map(_.copy()).collect()
    val calls: Seq[(Kernel, Seq[String])] = Seq(
      RollingHashExpr -> Seq("s"),
      MinhashBaseHashExpr -> Seq("toks"),
      MinhashSigExpr -> Seq("hs", "4"),
      WordShinglesExpr -> Seq("toks", "2"),
      Simhash32Expr -> Seq("toks"),
      DotProductExpr -> Seq("fv", "dv"),
      DotProductExpr -> Seq("dv", "fv"),
      CharCountsExpr -> Seq("s"),
      DistinctCharShinglesExpr -> Seq("s", "2"),
      JaroWinklerExpr -> Seq("s", "s2"),
      NfcNormalizeExpr -> Seq("s"))
    assert(calls.map(_._1.name).toSet == GraftExtensions.builders.map(_._1).toSet)

    def sql(k: Kernel, args: Seq[String]) =
      spark.sql(s"SELECT ${k.name}(${args.mkString(", ")}) AS r FROM kernel_in")
    def rejected(k: Kernel, args: Seq[String]): String =
      intercept[Exception](sql(k, args).collect()).getMessage
    val ser = new JavaSerializer(spark.sparkContext.getConf).newInstance()

    calls.foreach { case (k, args) =>
      val df = sql(k, args)
      val p = df.queryExecution.analyzed.asInstanceOf[Project]
      val e = BindReferences.bindReference(
        p.projectList.head.asInstanceOf[Alias].child, p.child.output)
      val generated = GenerateUnsafeProjection.generate(Seq(e))
      val results = rows.toSeq.map { row =>
        val viaEval = convertToScala(e.eval(row), e.dataType)
        assert(convertToScala(generated(row).get(0, e.dataType), e.dataType) ==
          viaEval, s"${k.name} on $row")
        viaEval
      }
      assert(results.contains(null) && results.exists(_ != null), k.name)
      // interpreted operators ship the expression to their tasks
      assert(ser.deserialize[Expression](ser.serialize(e)) == e, k.name)
      assert(codegenString(df.queryExecution.executedPlan).contains(s"${k.entry}("),
        k.name)

      val arity = rejected(k, args :+ "s")
      assert(arity.contains(k.name) && arity.contains(k.usage), arity)
      k.intParams.indices.foreach { i =>
        val j = k.inputs.length + i
        val err = rejected(k, args.updated(j, "CAST(id AS INT)"))
        assert(err.contains(k.name) && err.contains("integer literal"), err)
      }
      k.inputs.indices.foreach { i =>
        val err = rejected(k, args.updated(i, "id"))
        assert(err.contains(k.name) && err.contains(k.inputs(i).sql) &&
          err.contains("bigint"), err)
      }
    }
  }
}
