package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Dedup family: exact, MinHash+LSH recall on known near-dups,
  * SimHash hamming pairs, embedding near-dup. */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val base = Seq(
    (1L, "the quick brown fox jumps over the lazy dog and runs far away home", "s0"),
    (2L, "the quick brown fox jumps over the lazy dog and runs far away home", "s0"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy dog and runs far away house", "s0"), // near dup of 1
    (4L, "completely different content about spark query engines and columnar formats", "s0"),
    (5L, "another unrelated document mentioning joins aggregates and shuffles only", "s1")
  ).toDF("doc_id", "text", "source")

  test("exact dedup groups identical normalized text, keeps min id") {
    val winners = Dedup.exact(base).orderBy("keep_id").collect()
    assert(winners.length == 4)
    val dupGroup = winners.find(_.getAs[Long]("n_copies") == 2).get
    assert(dupGroup.getAs[Long]("keep_id") == 1L)
    val survivors = Dedup.exactSurvivors(base).select("doc_id").as[Long].collect().sorted
    assert(survivors.toSeq == Seq(1L, 3L, 4L, 5L))
    // whitespace/case variants collapse
    val fuzz = Seq((10L, "A  B\tC", "s"), (11L, "a b c", "s")).toDF("doc_id", "text", "source")
    assert(Dedup.exact(fuzz).count() == 1)
  }

  test("minhash LSH finds the near-dup pair and skips unrelated docs") {
    val pairs = Dedup.minhashLsh(base, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))  // identical
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L))) // one-word diff
    assert(!pairs.exists { case (a, b) => Set(a, b).contains(4L) && Set(a, b).contains(5L) })
  }

  test("minhash signature is stable and has numHashes entries") {
    val sigs = base
      .select(graft.functions.TextFunctions.wordShingles($"text", 3).as("sh"))
      .select(transform($"sh", s => Dedup.hexHash(s) % Dedup.MinhashP).as("hs"))
      .select(Dedup.minhashSignature($"hs", 16).as("sig"))
      .cache()
    assert(sigs.select(size($"sig")).as[Int].collect().forall(_ == 16))
    // identical docs (1,2) share the full signature
    val arr = sigs.select($"sig").as[Seq[Long]].collect()
    assert(arr(0) == arr(1))
    // values stay inside the field
    assert(arr.flatten.forall(v => v >= 0 && v < Dedup.MinhashP))
  }

  test("native word shingles match the built-ins-composed form") {
    import graft.functions.{TextExprs, TextFunctions}
    val texts = Seq("the quick brown fox jumps", "a b", "one", "", "  x  ")
      .toDF("text")
      .select(TextFunctions.tokens($"text").as("toks"))
    for (n <- Seq(1, 2, 3, 5)) {
      val builtin = texts.select(
        TextFunctions.wordShinglesOf($"toks", n).as("sh")).as[Seq[String]].collect()
      val native = texts.select(
        TextExprs.word_shingles($"toks", n).as("sh")).as[Seq[String]].collect()
      assert(native.toSeq == builtin.toSeq, s"n=$n")
    }
  }

  test("native minhash expressions match the built-ins-composed forms") {
    import graft.functions.MinhashExprs
    val sh = base
      .select(graft.functions.TextFunctions.wordShingles($"text", 3).as("sh"))
    // base hashes: native md5-60bit == conv(substring(md5,1,15),16,10) % P
    val viaBuiltin = sh.select(
      transform($"sh", s => Dedup.hexHash(s) % Dedup.MinhashP).as("hs"))
    val viaNative = sh.select(MinhashExprs.minhash_base_hashes($"sh").as("hs"))
    assert(viaNative.as[Seq[Long]].collect().toSeq ==
      viaBuiltin.as[Seq[Long]].collect().toSeq)
    // signature: native fused pass == per-family transform+array_min
    val hs = viaBuiltin
    val sigBuiltin = hs.select(array((0 until 16).map { i =>
      array_min(transform($"hs",
        h => (h * Dedup.minhashA(i) + Dedup.minhashB(i)) % Dedup.MinhashP))
    }: _*).as("sig"))
    val sigNative = hs.select(MinhashExprs.minhash_signature($"hs", 16).as("sig"))
    assert(sigNative.as[Seq[Long]].collect().toSeq ==
      sigBuiltin.as[Seq[Long]].collect().toSeq)
    // empty shingle set → all-null signature on both paths
    val empty = Seq(Seq.empty[Long]).toDF("hs")
    val nat = empty.select(MinhashExprs.minhash_signature($"hs", 4).as("sig"))
      .as[Seq[Option[Long]]].head()
    assert(nat == Seq(None, None, None, None))
  }

  test("native simhash matches the built-ins-composed form") {
    val toks = base.select(graft.functions.TextFunctions.tokens($"text").as("toks"))
    val builtin = toks.select(Dedup.simhash32Of($"toks").as("sig")).as[Long].collect()
    val native = toks.select(
      graft.functions.TextExprs.simhash_32($"toks").as("sig")).as[Long].collect()
    assert(native.toSeq == builtin.toSeq)
    // empty token array: every majority vote ties → all 32 bits set
    val empty = Seq(Seq.empty[String]).toDF("toks")
    val e = empty.select(graft.functions.TextExprs.simhash_32($"toks")).as[Long].head()
    val eb = empty.select(Dedup.simhash32Of($"toks")).as[Long].head()
    assert(e == eb && e == 0xffffffffL)
  }

  test("native expressions match built-ins on null array elements") {
    // ADVICE r02: nulls inside the array must not crash the native
    // kernels, and must produce exactly the built-ins' results
    import graft.functions.{MinhashExprs, TextExprs, TextFunctions}
    val withNulls = Seq(
      Seq(Some("a"), None, Some("b c")),
      Seq(None, None),
      Seq(Some("x"))
    ).toDF("sh")
    // base hashes: md5(null) → null element on both paths
    val hb = withNulls.select(
      transform($"sh", s => Dedup.hexHash(s) % Dedup.MinhashP).as("hs"))
      .as[Seq[Option[Long]]].collect().toSeq
    val hn = withNulls.select(MinhashExprs.minhash_base_hashes($"sh").as("hs"))
      .as[Seq[Option[Long]]].collect().toSeq
    assert(hn == hb)
    // signature over null-bearing hashes: array_min skips nulls
    val hs = withNulls.select(
      transform($"sh", s => Dedup.hexHash(s) % Dedup.MinhashP).as("hs"))
    val sb = hs.select(array((0 until 4).map { i =>
      array_min(transform($"hs",
        h => (h * Dedup.minhashA(i) + Dedup.minhashB(i)) % Dedup.MinhashP))
    }: _*).as("sig")).as[Seq[Option[Long]]].collect().toSeq
    val sn = hs.select(MinhashExprs.minhash_signature($"hs", 4).as("sig"))
      .as[Seq[Option[Long]]].collect().toSeq
    assert(sn == sb)
    // all-null hashes → all-null signature (not Long.MaxValue garbage)
    assert(sn(1).forall(_.isEmpty))
    // simhash: null tokens vote nothing but count toward n
    val simB = withNulls.select(Dedup.simhash32Of($"sh").as("s")).as[Long].collect().toSeq
    val simN = withNulls.select(TextExprs.simhash_32($"sh").as("s")).as[Long].collect().toSeq
    assert(simN == simB)
    // shingles: concat_ws skips null parts on both paths
    for (n <- Seq(1, 2, 3)) {
      val shB = withNulls.select(TextFunctions.wordShinglesOf($"sh", n).as("w"))
        .as[Seq[String]].collect().toSeq
      val shN = withNulls.select(TextExprs.word_shingles($"sh", n).as("w"))
        .as[Seq[String]].collect().toSeq
      assert(shN == shB, s"n=$n")
    }
    // and the SQL surface no longer crashes on array('a', NULL)
    GraftExtensions.register(spark)
    val sql = spark.sql(
      "SELECT minhash_base_hashes(array('a', CAST(NULL AS STRING))) AS h")
      .as[Seq[Option[Long]]].head()
    assert(sql.length == 2 && sql(1).isEmpty)
  }

  test("prefix-filter join equals brute-force all-pairs jaccard (no false negatives)") {
    // random corpora over a tiny vocab: lots of shared shingles, the
    // regime where a buggy prefix bound would silently drop pairs
    val rnd = new scala.util.Random(23)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val docs = (1L to 40L).map { id =>
      val len = 4 + rnd.nextInt(8)
      (id, (1 to len).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
    for (t <- Seq(0.3, 0.5, 0.8)) {
      val got = Dedup.prefixFilterJoin(docs, threshold = t)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      // brute force over the same shingle definition
      val sh = docs.select($"doc_id",
          array_distinct(graft.functions.TextExprs.word_shingles(
            graft.functions.TextFunctions.tokens($"text"), 3)).as("shs"))
        .as[(Long, Seq[String])].collect().toMap
      val want = (for {
        a <- sh.keys; b <- sh.keys if a < b
        inter = sh(a).toSet.intersect(sh(b).toSet).size
        uni = sh(a).size + sh(b).size - inter
        if uni > 0 && inter.toDouble / uni >= t
      } yield (a, b)).toSet
      assert(got == want, s"t=$t: missing=${want -- got} extra=${got -- want}")
    }
  }

  test("connected components closes pair chains into clusters") {
    // chain 1-2-3-4 (no direct 1-4 pair), pair 10-11, singleton edges only
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("id_a", "id_b")
    val comps = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
    // a DEEP chain converges within maxIter thanks to pointer jumping
    // (plain neighbor propagation would need 499 rounds)
    val chain = (1L until 500L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val c2 = Dedup.connectedComponents(chain).as[(Long, Long)].collect()
    assert(c2.forall(_._2 == 1L) && c2.length == 500)
  }

  test("simhash: identical docs share sig; near-dups within small hamming") {
    val pairs = Dedup.simhashPairs(base, maxHamming = 8)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Long)].collect()
    val m = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(m((1L, 2L)) == 0L)       // identical text → identical sig
    assert(m.get((1L, 3L)).exists(_ <= 8L))
  }

  test("quality checks: not-null, pk uniqueness, fk orphans") {
    import graft.operators.Quality
    val dim = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val fact = Seq(
      (10L, Some(1L)), (11L, Some(2L)), (12L, Some(9L)), // 9 = orphan
      (13L, None), (13L, Some(1L))                       // null FK + dup PK
    ).toDF("id", "fk")
    val rep = Quality.report(Seq(
      Quality.notNull(fact, Seq("fk")),
      Quality.unique(fact, Seq("id")),
      Quality.foreignKey(fact, "fk", dim, "k")))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rep("not_null(fk)") == ((5L, 1L)))
    assert(rep("unique(id)") == ((5L, 1L)))
    assert(rep("fk(fk->k)") == ((5L, 2L)))       // orphan + null
  }

  test("deterministic sampling: stable, stratified, and split-disjoint") {
    import graft.operators.Sampling
    val ids = (1L to 2000L).map(i => (i, if (i % 2 == 0) "a" else "b"))
      .toDF("id", "src")
    val s20 = Sampling.deterministicSample(ids, "id", 20)
    val n = s20.count()
    assert(n > 300 && n < 500, s"~20% expected, got $n")  // md5 buckets ≈ uniform
    // rerun identical (purely id-derived, no RNG state)
    assert(Sampling.deterministicSample(ids, "id", 20)
      .exceptAll(s20).count() == 0)
    // smaller rate is a subset of larger rate (nested by construction)
    val s10 = Sampling.deterministicSample(ids, "id", 10)
    assert(s10.exceptAll(s20).count() == 0)
    // stratified: stratum b kept at 0 by default
    val strat = Sampling.stratifiedSample(ids, "id", "src", Map("a" -> 50))
    assert(strat.filter($"src" === "b").count() == 0)
    assert(strat.filter($"src" === "a").count() > 0)
    // train/eval partition the corpus disjointly
    val (train, eval) = Sampling.trainEvalSplit(ids, "id", 10)
    assert(train.count() + eval.count() == 2000L)
    assert(train.join(eval, Seq("id"), "left_semi").count() == 0)
  }

  test("embedding near-dup finds scaled copies via cosine") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.5f), 0),
      (2L, Array(1.01f, 0.0f, 0.505f), 0),  // scaled copy of 1 → cos 1.0
      (3L, Array(-1.0f, 2.0f, 0.0f), 0),
      (4L, Array(1.0f, 0.0f, 0.5f), 1)      // same direction, other block
    ).toDF("vec_id", "embedding", "label")
    val pairs = Dedup.embeddingNearDup(vecs, threshold = 0.999)
      .as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))  // 4 blocked away, 3 dissimilar
  }

  test("ngram jaccard blocks by source and scores exactly") {
    val pairs = Dedup.ngramJaccard(base, threshold = 0.3)
      .select($"id_a", $"id_b", $"jaccard").collect()
    // 1,2,3 share source+length bucket; (1,2) jaccard 1.0
    val j12 = pairs.find(r => r.getLong(0) == 1L && r.getLong(1) == 2L)
    assert(j12.exists(_.getDouble(2) == 1.0))
  }

  test("ngram jaccard posting cap drops hot shingles, biases jaccard down") {
    // doc 6/7: near-dups; every doc shares the hot shingle "x x x"
    val hot = Seq(
      (6L, "x x x alpha beta gamma delta", "s0"),
      (7L, "x x x alpha beta gamma epsilon", "s0"),
      (8L, "x x x totally different words here", "s0")
    ).toDF("doc_id", "text", "source")
    val exact = Dedup.ngramJaccard(hot, threshold = 0.1)
      .select($"id_a", $"id_b", $"jaccard").as[(Long, Long, Double)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    // cap=2 drops the "x x x"-area postings shared by all 3 docs
    val capped = Dedup.ngramJaccard(hot, threshold = 0.1, maxPostings = Some(2))
      .select($"id_a", $"id_b", $"jaccard").as[(Long, Long, Double)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    // the near-dup pair survives capping, scored no higher than exact
    assert(capped.contains((6L, 7L)))
    assert(capped((6L, 7L)) <= exact((6L, 7L)))
    // pairs held together ONLY by the hot shingles disappear
    assert(exact.contains((6L, 8L)) || exact.contains((7L, 8L)))
    assert(capped.keySet.subsetOf(exact.keySet))
  }

  test("containment catches an embedded doc that Jaccard misses") {
    val short = "alpha beta gamma delta epsilon zeta"
    val long = short + " " + (1 to 60).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, short, "s"),   // fully contained in 2
      (2L, long, "s"),
      (3L, "totally different words here now", "s"))
      .toDF("doc_id", "text", "source")
    val cont = Dedup.containmentPairs(docs, threshold = 0.9)
      .select($"id_a", $"id_b", $"containment")
      .as[(Long, Long, Double)].collect()
    assert(cont.map(p => (p._1, p._2)).toSet == Set((1L, 2L)))
    assert(cont.head._3 == 1.0) // every short-doc shingle is in the long doc
    // symmetric Jaccard on the same pair is diluted by the long doc's
    // union and misses it at any usable threshold — even with the
    // length-bucket blocking removed it would score |A|/|B| ≈ 0.06
    val jac = Dedup.ngramJaccard(docs, threshold = 0.3)
    assert(jac.count() == 0)
  }

  test("sorted neighborhood emits exactly the pairs within the rank window") {
    // sort key = text itself; ranks follow (text, id) lexicographic order
    val docs = Seq(
      (10L, "aaa", "s"), (11L, "aab", "s"), (12L, "aac", "s"),
      (13L, "zzz", "s"), (14L, "aaa", "s")) // ties with 10 on key, id breaks
      .toDF("doc_id", "text", "source")
    val got = Dedup.sortedNeighborhoodPairs(docs, col("text"), window = 2)
      .select($"a_id", $"b_id", $"rank_gap")
      .as[(Long, Long, Long)].collect().toSet
    // rank order: 10(aaa), 14(aaa), 11(aab), 12(aac), 13(zzz)
    val expected = Set(
      (10L, 14L, 1L), (10L, 11L, 2L), (14L, 11L, 1L), (14L, 12L, 2L),
      (11L, 12L, 1L), (11L, 13L, 2L), (12L, 13L, 1L))
    assert(got == expected)
    // window=1 is adjacent-only: n-1 pairs
    assert(Dedup.sortedNeighborhoodPairs(docs, col("text"), window = 1)
      .count() == 4)
  }
}
