package graft

import graft.operators.TextAnalysis

/** BPE vocabulary induction: the distributed trainer must reproduce
  * the classic sequential algorithm exactly (greedy leftmost merges,
  * most-frequent pair per round, lexicographic tie-break). */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  /** Sequential reference implementation (the textbook algorithm). */
  private def referenceBpe(words: Map[String, Long], nMerges: Int,
                           minFreq: Long): Seq[(String, String, Long)] = {
    var vocab: Map[Vector[String], Long] =
      words.map { case (w, f) => w.map(_.toString).toVector -> f }
    val out = scala.collection.mutable.ListBuffer.empty[(String, String, Long)]
    var continue = true
    while (out.size < nMerges && continue) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (syms, f) =>
        syms.sliding(2).foreach {
          case Vector(a, b) => counts((a, b)) = counts.getOrElse((a, b), 0L) + f
          case _ => ()
        }
      }
      val best = counts.toSeq
        .sortBy { case ((a, b), c) => (-c, a, b) }.headOption
      best match {
        case Some(((a, b), c)) if c >= minFreq =>
          out += ((a, b, c))
          vocab = vocab.map { case (syms, f) =>
            val merged = scala.collection.mutable.ArrayBuffer.empty[String]
            var i = 0
            while (i < syms.length) {
              if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
                merged += a + b; i += 2
              } else { merged += syms(i); i += 1 }
            }
            merged.toVector -> f
          }.groupMapReduce(_._1)(_._2)(_ + _)
        case _ => continue = false
      }
    }
    out.toSeq
  }

  test("classic corpus: merges match the textbook sequence") {
    // the canonical BPE example: {low:5, lower:2, newest:6, widest:3}
    val docs = Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")
    val df = docs.map(w => (w)).toDF("text")
    val got = TextAnalysis.bpeTrain(df, nMerges = 6, minPairFreq = 2)
      .orderBy("rank")
      .as[(Long, String, String, String, Long)].collect().toSeq
      .map(r => (r._2, r._3, r._5))
    val want = referenceBpe(
      Map("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L),
      nMerges = 6, minFreq = 2)
    assert(got == want, s"got $got\nwant $want")
    // the famous first merges: (e,s) 9 then (es,t) 9
    assert(got.take(2) == Seq(("e", "s", 9L), ("es", "t", 9L)))
  }

  test("fixture corpus: distributed == sequential reference") {
    val docs = graft.queries.QueryDef
      .table(spark, "/root/testdata/sf0.001", "documents")
    val got = TextAnalysis.bpeTrain(docs, nMerges = 8)
      .orderBy("rank")
      .as[(Long, String, String, String, Long)].collect().toSeq
      .map(r => (r._2, r._3, r._5))
    val wordFreq = docs
      .selectExpr("explode(filter(split(lower(text), ' '), x -> x <> '')) AS w")
      .groupBy("w").count()
      .as[(String, Long)].collect().toMap
    val want = referenceBpe(wordFreq, nMerges = 8, minFreq = 2)
    assert(got == want, s"got $got\nwant $want")
    assert(got.size == 8)
  }

  test("encode: subword counts match sequential application of the rules") {
    val docs = graft.queries.QueryDef
      .table(spark, "/root/testdata/sf0.001", "documents").limit(100)
    val rules = TextAnalysis.bpeTrain(docs, nMerges = 6)
      .orderBy("rank").select("pair_a", "pair_b")
      .as[(String, String)].collect().toSeq
    val got = TextAnalysis.bpeEncode(docs, rules)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap

    def encodeWord(w: String): Int = {
      var syms = w.map(_.toString).toVector
      rules.foreach { case (a, b) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
            out += a + b; i += 2
          } else { out += syms(i); i += 1 }
        }
        syms = out.toVector
      }
      syms.length
    }
    val raw = docs.selectExpr("doc_id",
        "filter(split(lower(text), ' '), x -> x <> '') AS t")
      .as[(Long, Seq[String])].collect()
    raw.foreach { case (id, toks) =>
      val want = (toks.size.toLong,
        toks.map(encodeWord).map(_.toLong).sum,
        toks.map(_.length.toLong).sum)
      assert(got(id) == want, s"doc $id: got ${got(id)}, want $want")
    }
    // merges actually compress: strictly fewer subwords than chars
    assert(got.values.forall { case (_, sub, chars) => sub < chars })
  }

  test("random corpora: distributed trainer equals the reference (seeded)") {
    val rnd = new scala.util.Random(11)
    for (_ <- 1 to 4) {
      val alphabet = "abcd"
      val nWords = 5 + rnd.nextInt(10)
      val words = (1 to nWords).map { _ =>
        val len = 2 + rnd.nextInt(5)
        (1 to len).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
      }
      val freqs = words.map(w => w -> (1L + rnd.nextInt(8))).toMap
      val corpus = freqs.toSeq.flatMap { case (w, f) => Seq.fill(f.toInt)(w) }
      val df = corpus.map(w => (w)).toDF("text")
      val got = TextAnalysis.bpeTrain(df, nMerges = 5, minPairFreq = 1)
        .orderBy("rank")
        .as[(Long, String, String, String, Long)].collect().toSeq
        .map(r => (r._2, r._3, r._5))
      val want = referenceBpe(freqs, nMerges = 5, minFreq = 1)
      assert(got == want, s"corpus $freqs:\ngot $got\nwant $want")
    }
  }

  test("vocab-scale: 1000 merges equal the reference in far fewer rounds") {
    // spread word frequencies so pair counts rarely tie — the realistic
    // regime where the disjoint-prefix batching pays off
    val rnd = new scala.util.Random(7)
    val alphabet = "abcdefghijklmnopqrstuvwxyz"
    val words = (1 to 2500).map { _ =>
      val len = 3 + rnd.nextInt(7)
      (1 to len).map(_ => alphabet(rnd.nextInt(26))).mkString
    }.distinct
    val freqs = words.zipWithIndex
      .map { case (w, i) => w -> (1L + (i.toLong * 7919) % 997) }.toMap
    // one row per word with the word repeated freq times — the same
    // corpus as freq-many one-word rows, far fewer DataFrame rows
    val df = freqs.toSeq.sortBy(_._1)
      .map { case (w, f) => (w + " ") * f.toInt }.toDF("text")
    val got = TextAnalysis.bpeTrain(df, nMerges = 1000, minPairFreq = 1)
      .orderBy("rank")
      .as[(Long, String, String, String, Long)].collect().toSeq
      .map(r => (r._2, r._3, r._5))
    val want = referenceBpe(freqs, nMerges = 1000, minFreq = 1)
    assert(got.size == 1000)
    assert(got == want,
      s"first divergence at ${got.zip(want).indexWhere(p => p._1 != p._2)}")
    // the sequential path would be exactly 1000 driver round-trips;
    // provably-exact batching must still collapse that substantially
    // (the strict-prefix rule caps what exactness allows)
    assert(TextAnalysis.lastTrainRounds <= 500,
      s"rounds=${TextAnalysis.lastTrainRounds}")
  }

  test("encode: token-less documents appear with zero counts") {
    val docs = Seq((1L, "aa ab"), (2L, ""), (3L, "   "))
      .toDF("doc_id", "text")
    val got = TextAnalysis.bpeEncode(docs, Seq(("a", "a")))
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got.keySet == Set(1L, 2L, 3L))
    assert(got(2L) == ((0L, 0L, 0L)))
    assert(got(3L) == ((0L, 0L, 0L)))
    // "aa" merges to one subword, "ab" stays two
    assert(got(1L) == ((2L, 3L, 4L)))
  }

  test("merge rewrite is greedy leftmost and non-overlapping") {
    // "aaa" with merge (a,a): leftmost pair merges, third 'a' survives
    val df = Seq("aaa aaa aaa").toDF("text")
    val got = TextAnalysis.bpeTrain(df, nMerges = 1, minPairFreq = 1)
      .as[(Long, String, String, String, Long)].collect().toSeq
    // two adjacent (a,a) pairs per word, counted per occurrence slot
    assert(got.map(r => (r._2, r._3)) == Seq(("a", "a")))
  }
}
