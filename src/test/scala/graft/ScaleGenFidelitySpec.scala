package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Pins the premise of SCALING.md: the scale curves measured on
  * `graft.ScaleGen` data transfer to the driver fixture only if the
  * generator is distribution-matched. This spec generates sf0.1 into
  * a temp dir and asserts, against `/root/testdata/sf0.1`:
  * per-table row counts (exact — both sides round the same sf1
  * cardinalities), schemas (field names and types), and the
  * distribution stats the heavy-tier conclusions actually lean on —
  * token-length quantiles, injected-dup rate, vocabulary size,
  * shingle document-frequency (the dedup pair-mass driver), basket
  * size (the join fan-out driver), event value moments, and
  * embedding dimension/norm.
  */
class ScaleGenFidelitySpec extends SparkSpec {

  private val fixDir = "/root/testdata/sf0.1"
  private lazy val genDir: String = {
    val d = tempDir("scalegen-fid")
    ScaleGen.generate(spark, 0.1, d)
    d
  }

  private def tbl(dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  private def within(a: Double, b: Double, tol: Double, what: String): Unit =
    assert(math.abs(a - b) <= tol * math.max(math.abs(b), 1e-9),
      f"$what: generated $a%.4f vs fixture $b%.4f (tol ${tol * 100}%.0f%%)")

  test("row counts and schemas match the fixture exactly") {
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    for (t <- tables) {
      val (g, f) = (tbl(genDir, t), tbl(fixDir, t))
      assert(g.count() == f.count(), s"$t row count")
      val gs = g.schema.fields.map(fd => (fd.name, fd.dataType)).sortBy(_._1)
      val fs = f.schema.fields.map(fd => (fd.name, fd.dataType)).sortBy(_._1)
      assert(gs.sameElements(fs),
        s"$t schema: ${gs.mkString(",")} vs ${fs.mkString(",")}")
    }
  }

  test("document text distributions match: lengths, vocab, dup rate, sources") {
    def stats(dir: String) = {
      val toks = tbl(dir, "documents")
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("t"),
          col("source"))
      val q = toks.select(size(col("t")).cast("double").as("n"))
        .stat.approxQuantile("n", Array(0.25, 0.5, 0.75, 0.95), 0.001)
      val nSrc = toks.select(countDistinct(col("source"))).head().getLong(0)
      val vocab = toks.select(explode(col("t")).as("tok"))
        .select(countDistinct(col("tok"))).head().getLong(0)
      val dupRate = toks
        .select(avg(array_contains(col("t"), "dup").cast("double"))).head().getDouble(0)
      (q, nSrc, vocab, dupRate)
    }
    val (gq, gSrc, gVoc, gDup) = stats(genDir)
    val (fq, fSrc, fVoc, fDup) = stats(fixDir)
    for (i <- gq.indices)
      within(gq(i), fq(i), 0.05, s"token-length quantile #$i")
    assert(gSrc == fSrc, s"source cardinality $gSrc vs $fSrc")
    assert(gVoc == fVoc, s"vocabulary size $gVoc vs $fVoc")
    within(gDup, fDup, 0.15, "injected-dup rate")
  }

  test("shingle document frequency matches: the dedup pair-mass driver") {
    import graft.functions.TextExprs
    def dfStats(dir: String) = {
      val df = tbl(dir, "documents")
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("t"))
        .select(col("doc_id"),
          explode(TextExprs.word_shingles(col("t"), 3)).as("sh"))
        .groupBy(col("sh")).agg(countDistinct(col("doc_id")).as("df"))
      val n = df.count()
      val mean = df.select(avg(col("df"))).head().getDouble(0)
      val p99 = df.select(col("df").cast("double").as("d"))
        .stat.approxQuantile("d", Array(0.99), 0.001).head
      (n, mean, p99)
    }
    val (gn, gMean, gP99) = dfStats(genDir)
    val (fn, fMean, fP99) = dfStats(fixDir)
    within(gn.toDouble, fn.toDouble, 0.05, "distinct shingles")
    within(gMean, fMean, 0.05, "mean shingle df")
    within(gP99, fP99, 0.15, "p99 shingle df")
  }

  test("DiverseGen control corpus: doc lengths and dup-injection rate match " +
    "the fixture; vocabulary actually diversifies") {
    // the control's evidentiary weight in SCALING.md rests on exactly
    // two invariants — same doc-length distribution, same dup
    // structure — plus the one deliberate difference (vocab ∝ N)
    val div = DiverseGen.documentsDf(spark, 5000)
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("t"))
    val fix = tbl(fixDir, "documents")
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("t"))
    def lenQ(df: DataFrame) = df.select(size(col("t")).cast("double").as("n"))
      .stat.approxQuantile("n", Array(0.25, 0.5, 0.75, 0.95), 0.001)
    val (dq, fq) = (lenQ(div), lenQ(fix))
    for (i <- dq.indices)
      within(dq(i), fq(i), 0.05, s"control token-length quantile #$i")
    // dup-injection rate via each corpus's marker token; the control's
    // marker can be clobbered by the 8% word mutation (~8% relative
    // undercount), inside the 15% tolerance
    def dupRate(df: DataFrame, marker: String) = df
      .select(avg(array_contains(col("t"), marker).cast("double")))
      .head().getDouble(0)
    within(dupRate(div, "dupmark"), dupRate(fix, "dup"), 0.15,
      "control dup-injection rate")
    // and the point of the control: vocabulary grows with the corpus
    // instead of the fixture's fixed 31 words
    val vocab = div.select(explode(col("t")).as("tok"))
      .select(countDistinct(col("tok"))).head().getLong(0)
    assert(vocab > 1000, s"control vocabulary must diversify, got $vocab")
  }

  test("basket size, event values, and embedding geometry match") {
    def basket(dir: String) = tbl(dir, "lineitem")
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("c"))
      .select(avg(col("c"))).head().getDouble(0)
    within(basket(genDir), basket(fixDir), 0.02, "mean basket size")

    def ev(dir: String) = tbl(dir, "events")
      .select(avg(col("value")), max(col("value")),
        countDistinct(col("event_type")).cast("double")).head()
    val (ge, fe) = (ev(genDir), ev(fixDir))
    within(ge.getDouble(0), fe.getDouble(0), 0.02, "mean event value")
    within(ge.getDouble(1), fe.getDouble(1), 0.02, "max event value")
    assert(ge.getDouble(2) == fe.getDouble(2), "event type cardinality")

    def emb(dir: String) = tbl(dir, "embeddings")
      .select(size(col("embedding")).as("d"),
        sqrt(aggregate(col("embedding"),
          lit(0.0), (a, x) => a + x.cast("double") * x.cast("double"))).as("nrm"))
      .agg(min(col("d")), max(col("d")),
        max(abs(col("nrm") - 1.0))).head()
    for (dir <- Seq(genDir, fixDir)) {
      val r = emb(dir)
      assert(r.getInt(0) == 64 && r.getInt(1) == 64, s"embedding dim in $dir")
      assert(r.getDouble(2) < 1e-3, s"embedding norms in $dir")
    }
  }
}
