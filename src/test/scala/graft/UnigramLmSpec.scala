package graft

import graft.operators.UnigramLm

/** Unigram-LM tokenizer: the in-plan Viterbi fold must reproduce a
  * sequential textbook DP exactly (fixed-point integer scores, ties
  * to the longest piece / earliest split), and the hard-EM recount
  * must equal recounting the reference segments. */
class UnigramLmSpec extends SparkSpec {
  import spark.implicits._

  private val maxWordLen = 8
  private val maxPieceLen = 4
  private val vocabCap = 12

  private val docs = Seq(
    "the cat sat on the mat",
    "the cats sat on the mats",
    "catalog of the cat mat",
    "a catalog catalog the the the").toDF("text")

  /** Sequential reference: seed-vocab scores. */
  private def refVocab(words: Map[String, Long]): Map[String, Long] = {
    val cnts = scala.collection.mutable.Map.empty[String, Long]
    words.foreach { case (w, f) =>
      for (i <- 0 until w.length;
           l <- 1 to math.min(maxPieceLen, w.length - i)) {
        val p = w.substring(i, i + l)
        cnts(p) = cnts.getOrElse(p, 0L) + f
      }
    }
    val singles = cnts.filter(_._1.length == 1).toSeq
    val multis = cnts.filter(_._1.length >= 2).toSeq
      .sortBy { case (p, c) => (-c, p) }.take(vocabCap)
    val kept = singles ++ multis
    val tot = kept.map(_._2).sum
    kept.map { case (p, c) =>
      p -> math.round(math.log(c.toDouble / tot.toDouble) * 1000000.0)
    }.toMap
  }

  /** Sequential reference: exact Viterbi, ties to smallest split i. */
  private def refSegment(w: String, vocab: Map[String, Long])
      : (Long, Int, String) = {
    val unreachable = Long.MinValue / 2
    val best = Array.fill(w.length + 1)((unreachable, 0, ""))
    best(0) = (0L, 0, "")
    for (j <- 1 to w.length) {
      for (i <- math.max(0, j - maxPieceLen) until j) {
        vocab.get(w.substring(i, j)).foreach { s =>
          val (ps, pn, pg) = best(i)
          val cand = (ps + s, pn + 1,
            if (pn == 0) w.substring(i, j) else pg + " " + w.substring(i, j))
          if (cand._1 > best(j)._1) best(j) = cand
        }
      }
    }
    best(w.length)
  }

  private def refWords: Map[String, Long] =
    docs.collect().map(_.getString(0)).flatMap(_.toLowerCase.split(" "))
      .filter(w => w.nonEmpty && w.length <= maxWordLen)
      .groupBy(identity).map { case (w, g) => w -> g.length.toLong }

  test("seedVocab matches the sequential reference scores") {
    val words = UnigramLm.wordTable(docs, maxWordLen = maxWordLen)
    val got = UnigramLm.seedVocab(words, maxPieceLen, vocabCap)
      .select("piece", "s").as[(String, Long)].collect().toMap
    assert(got === refVocab(refWords))
  }

  test("viterbiSegment equals the sequential DP on every word") {
    val words = UnigramLm.wordTable(docs, maxWordLen = maxWordLen)
    val vocab = UnigramLm.seedVocab(words, maxPieceLen, vocabCap)
    val got = UnigramLm.viterbiSegment(words, vocab, maxPieceLen)
      .select("word", "score", "n_pieces", "seg")
      .as[(String, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val rv = refVocab(refWords)
    val want = refWords.keys.map { w =>
      val (s, n, g) = refSegment(w, rv)
      w -> ((s, n.toLong, g))
    }.toMap
    assert(got === want)
    // Invariants: pieces rebuild the word; score = sum of piece scores.
    got.foreach { case (w, (s, _, g)) =>
      assert(g.replace(" ", "") === w)
      assert(g.split(" ").map(rv).sum === s)
    }
  }

  test("encode equals per-doc recount of reference segments, keeps token-less docs") {
    val docsId = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "catalog of the cat"),
      (3L, ""), // token-less: must appear with zero counts
      (4L, "a catalog the the")).toDF("doc_id", "text")
    val words = UnigramLm.wordTable(docsId, maxWordLen = maxWordLen)
    val vocab = UnigramLm.seedVocab(words, maxPieceLen, vocabCap)
    val got = UnigramLm.encode(docsId, vocab,
        maxWordLen = maxWordLen, maxPieceLen = maxPieceLen)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    val wf = docsId.collect().map(_.getString(1))
      .flatMap(_.toLowerCase.split(" "))
      .filter(w => w.nonEmpty && w.length <= maxWordLen)
      .groupBy(identity).map { case (w, g) => w -> g.length.toLong }
    val rv = refVocab(wf)
    val want = docsId.collect().map { r =>
      val toks = r.getString(1).toLowerCase.split(" ")
        .filter(w => w.nonEmpty && w.length <= maxWordLen)
      val segs = toks.map(w => refSegment(w, rv))
      r.getLong(0) -> ((toks.length.toLong,
        segs.map(_._2.toLong).sum,
        toks.map(_.length.toLong).sum,
        segs.map(_._1).sum))
    }.toMap
    assert(got === want)
    assert(got(3L) === ((0L, 0L, 0L, 0L)))
  }

  test("emRecount equals recounting the reference segments") {
    val words = UnigramLm.wordTable(docs, maxWordLen = maxWordLen)
    val vocab = UnigramLm.seedVocab(words, maxPieceLen, vocabCap)
    val got = UnigramLm.emRecount(
        UnigramLm.viterbiSegment(words, vocab, maxPieceLen))
      .select("piece", "cnt", "s").as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val rv = refVocab(refWords)
    val cnts = scala.collection.mutable.Map.empty[String, Long]
    refWords.foreach { case (w, f) =>
      refSegment(w, rv)._3.split(" ").foreach(p =>
        cnts(p) = cnts.getOrElse(p, 0L) + f)
    }
    val tot = cnts.values.sum
    val want = cnts.map { case (p, c) =>
      p -> ((c, math.round(math.log(c.toDouble / tot.toDouble) * 1000000.0)))
    }.toMap
    assert(got === want)
  }
}
