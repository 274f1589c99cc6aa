package graft

import org.apache.spark.sql.functions._
import graft.functions.{RollingHashExpr, TextFunctions}
import graft.functions.TextFunctions._

/** Text analysis: tokenization/shingling edges, language ID true
  * positives, quality bounds, fingerprints (incl. the native
  * rolling-hash expression vs the built-ins-composed variant). */
class TextFunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("tokens drop empties and lowercase") {
    val t = Seq("The  Quick  Fox").toDF("text")
      .select(tokens($"text")).as[Seq[String]].collect().head
    assert(t == Seq("the", "quick", "fox"))
  }

  test("word shingles: 3-grams, short-doc collapse") {
    val sh = Seq("a b c d").toDF("text")
      .select(wordShingles($"text", 3)).as[Seq[String]].collect().head
    assert(sh == Seq("a b c", "b c d"))
    val short = Seq("a b").toDF("text")
      .select(wordShingles($"text", 3)).as[Seq[String]].collect().head
    assert(short == Seq("a b"))
  }

  test("char shingles with short-text collapse") {
    val sh = Seq("abcdef").toDF("text")
      .select(charShingles($"text", 5)).as[Seq[String]].collect().head
    assert(sh == Seq("abcde", "bcdef"))
    val short = Seq("ab").toDF("text")
      .select(charShingles($"text", 5)).as[Seq[String]].collect().head
    assert(short == Seq("ab"))
  }

  test("langId detects each language's stopwords; und for none") {
    val cases = Seq(
      "the cat sat on the mat and it is fine" -> "en",
      "el perro y la casa de los niños" -> "es",
      "der hund und die katze ist nicht hier" -> "de",
      "le chien et les chats pour une maison" -> "fr",
      "我 的 朋友 是 好 人" -> "zh",
      "zzz qqq xxx" -> "und")
    cases.foreach { case (txt, want) =>
      val got = Seq(txt).toDF("text").select(langId($"text")).as[String].collect().head
      assert(got == want, s"'$txt' → $got, want $want")
    }
  }

  test("quality score stays in [0,1] and rewards clean prose") {
    val q = Seq(
      "the quick brown fox jumps over the lazy dog and that is that for now",
      "!!!???...;;;",
      "").toDF("text")
      .select(qualityScore($"text")).as[Double].collect()
    assert(q.forall(v => v >= 0.0 && v <= 1.0))
    assert(q(0) > q(1))
  }

  test("fingerprints: md5 of canonical form; rolling variants agree on ASCII") {
    val df = Seq("  The   Quick\tFox  ", "the quick fox").toDF("text")
    val fps = df.select(md5Fingerprint($"text")).as[String].collect()
    assert(fps(0) == fps(1)) // canonicalization collapses
    val both = df.select(
      TextFunctions.rollingFingerprint($"text"),
      RollingHashExpr.rolling_hash(normalized($"text"))).as[(Long, Long)].collect()
    both.foreach { case (builtin, native) => assert(builtin == native) }
  }

  test("rolling_hash native expression: eval, codegen, and SQL registration") {
    // direct static check
    val expect = "abc".getBytes("UTF-8").foldLeft(0L)((a, b) => (a * 31 + b) % 1000000007L)
    assert(RollingHashExpr.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString("abc")) == expect)
    // through a DataFrame (codegen path)
    val viaDf = Seq("abc").toDF("t")
      .select(RollingHashExpr.rolling_hash($"t")).as[Long].collect().head
    assert(viaDf == expect)
    // null propagation
    val viaNull = Seq[Option[String]](None).toDF("t")
      .select(RollingHashExpr.rolling_hash($"t")).as[Option[Long]].collect().head
    assert(viaNull.isEmpty)
    // SQL surface
    GraftExtensions.register(spark)
    val viaSql = spark.sql("SELECT rolling_hash('abc') AS h").as[Long].collect().head
    assert(viaSql == expect)
  }

  test("jaro_winkler native expression: classic known answers, codegen, null") {
    import graft.functions.JaroWinklerExpr
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u}
    def s(a: String, b: String) = JaroWinklerExpr.sim(u(a), u(b))
    // classic published values (Winkler 1990 / record-linkage lit)
    assert(math.abs(s("martha", "marhta") - 0.9611111111111111) < 1e-12)
    assert(math.abs(s("dixon", "dicksonx") - 0.8133333333333332) < 1e-12)
    assert(math.abs(s("dwayne", "duane") - 0.84) < 1e-12)
    // boost threshold: jaro ≤ 0.7 gets NO prefix bonus (DuckDB parity)
    assert(math.abs(s("aby", "abxxxxxxxxxxxx") - 0.6031746031746031) < 1e-12)
    assert(s("abc", "abc") == 1.0)
    assert(s("", "abc") == 0.0)
    assert(s("ab", "ba") == 0.0) // window 0: no matches
    // symmetry
    assert(s("jellyfish", "smellyfish") == s("smellyfish", "jellyfish"))
    // codegen path + null propagation + SQL surface
    val viaDf = Seq(("martha", "marhta")).toDF("a", "b")
      .select(JaroWinklerExpr.jaro_winkler($"a", $"b")).as[Double].collect().head
    assert(math.abs(viaDf - 0.9611111111111111) < 1e-12)
    val viaNull = Seq[(Option[String], Option[String])]((None, Some("x")))
      .toDF("a", "b")
      .select(JaroWinklerExpr.jaro_winkler($"a", $"b"))
      .as[Option[Double]].collect().head
    assert(viaNull.isEmpty)
    GraftExtensions.register(spark)
    val viaSql = spark.sql("SELECT jaro_winkler('dixon', 'dicksonx') AS j")
      .as[Double].collect().head
    assert(math.abs(viaSql - 0.8133333333333332) < 1e-12)
  }

  test("nfc_normalize composes decomposed sequences, identity on NFC text") {
    import graft.functions.NfcNormalizeExpr
    // decomposed e + U+0301 composes to U+00E9; NFC input is untouched
    val rows = Seq("café", "café", "plain ascii")
      .toDF("s")
      .select(NfcNormalizeExpr.nfc_normalize($"s").as("n"),
        org.apache.spark.sql.functions.length($"s").as("lr"),
        org.apache.spark.sql.functions
          .length(NfcNormalizeExpr.nfc_normalize($"s")).as("ln"))
      .as[(String, Int, Int)].collect()
    assert(rows(0) == ("café", 5, 4)) // composition shortens
    assert(rows(1) == ("café", 4, 4))
    assert(rows(2) == ("plain ascii", 11, 11))
    // null propagation + SQL registration surface
    val viaNull = Seq[Option[String]](None).toDF("s")
      .select(NfcNormalizeExpr.nfc_normalize($"s"))
      .as[Option[String]].collect().head
    assert(viaNull.isEmpty)
    GraftExtensions.register(spark)
    val viaSql = spark.sql("SELECT nfc_normalize('ü') AS n")
      .as[String].collect().head
    assert(viaSql == "ü")
  }

  test("char_counts histogram: counts sum to length, entropy matches the explode form") {
    import graft.functions.TextExprs
    val texts = Seq("aab", "", "héllo héllo", "xyzzy plugh 😀😀a",
      "aaaaaaaaaa", "the quick brown fox jumps over the lazy dog")
    val df = texts.toDF("text").withColumn("doc_id",
      monotonically_increasing_id())
    // counts partition the code-point length
    val chk = df.select(length($"text").cast("long").as("n"),
      TextExprs.char_counts($"text").as("cc"))
      .select($"n", expr("aggregate(cc, 0L, (a, c) -> a + c)").as("s"),
        size($"cc").as("k"))
      .as[(Long, Long, Int)].collect()
    chk.foreach { case (n, s, k) =>
      assert(s == n); assert(k <= s || (n == 0 && k == 0)) }
    // the zero-shuffle charEntropy equals the explode + two-level
    // hash-aggregate formulation it replaced, bit for bit
    val fast = graft.operators.TextAnalysis.charEntropy(df)
      .orderBy($"doc_id")
      .select($"entropy_bits").as[Double].collect()
    val dec = org.apache.spark.sql.types.DecimalType(28, 9)
    val chars = df.filter(length($"text") > 0)
      .select($"doc_id", length($"text").cast("long").as("n"),
        explode(expr(
          "transform(sequence(1, length(text)), i -> substring(text, i, 1))"))
          .as("ch"))
    val agg = chars.groupBy($"doc_id", $"n", $"ch")
      .agg(count(lit(1)).as("c"))
      .select($"doc_id", round(($"c".cast("double") / $"n") *
        log2($"n".cast("double") / $"c"), 9).cast(dec).as("term"))
      .groupBy($"doc_id").agg(sum($"term").cast("double").as("e"))
    val slow = df.join(agg, Seq("doc_id"), "left")
      .orderBy($"doc_id")
      .select(coalesce($"e", lit(0.0))).as[Double].collect()
    assert(fast.toSeq == slow.toSeq)
  }

  test("distinct_char_shingles equals size(array_distinct(charShingles)) on edges") {
    import graft.functions.TextExprs
    val texts = Seq("", "ab", "abcd", "abcdabcd", "aaaaaaa",
      "héllo wörld héllo", "😀😀😀😀😀", "x😀y😀x😀y😀",
      "the quick brown fox the quick brown fox")
    val both = texts.toDF("text").select(
      TextExprs.distinct_char_shingles($"text", 4).as("fast"),
      size(array_distinct(TextFunctions.charShingles($"text", 4))).as("slow")
        .cast("long"))
      .as[(Long, Long)].collect()
    both.zip(texts).foreach { case ((fast, slow), t) =>
      assert(fast == slow, s"mismatch on '$t': $fast vs $slow") }
  }

  test("simhash32 is within 32 bits and deterministic") {
    val sigs = Seq("a b c", "a b c").toDF("text")
      .select(graft.operators.Dedup.simhash32($"text")).as[Long].collect()
    assert(sigs(0) == sigs(1))
    assert(sigs(0) >= 0L && sigs(0) < (1L << 32))
  }
}
