package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis combinators for the training-data pipeline surface
  * (SURVEY.md §7.5): tokenization, shingling, language ID, quality
  * scoring, fingerprinting. All built from codegen'd
  * `org.apache.spark.sql.functions` higher-order array functions — no
  * UDFs, so they vectorize inside whole-stage codegen and never
  * serialize row-by-row through Scala closures.
  */
object TextFunctions {

  /** Lowercased single-space tokens, empties dropped (portable to the
    * DuckDB oracle's `string_split(lower(x), ' ')`). */
  def tokens(c: Column): Column =
    filter(split(lower(c), " "), t => t =!= "")

  def tokenCount(c: Column): Column = size(tokens(c))

  /** BPE-style pre-tokenization pattern (the word/number/punct split
    * GPT-2-family tokenizers apply before merges): letter runs, digit
    * runs, and single non-alphanumeric marks. Kept to portable regex
    * constructs so the DuckDB oracle matches byte-for-byte. */
  val BpePattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  /** Subword-ish tokens under [[BpePattern]] ("don't" → don, ', t —
    * closer to a real tokenizer's unit count than whitespace words).
    */
  def bpeTokens(c: Column): Column =
    regexp_extract_all(c, lit(BpePattern), lit(0))

  def bpeTokenCount(c: Column): Column = size(bpeTokens(c))

  /** Character k-shingles; texts shorter than k collapse to one
    * whole-text shingle (guards `sequence`'s descending-step trap). */
  def charShingles(c: Column, k: Int): Column =
    when(length(c) >= k,
      transform(sequence(lit(1), length(c) - (k - 1)),
        i => c.substr(i, lit(k))))
      .otherwise(array(c))

  /** Word n-gram shingles from an ALREADY-tokenized array column.
    * Callers should stage the token array as its own projection
    * (`.select(..., tokens($"text").as("toks"))`) — expressions that
    * reference `toks` many times then read the materialized array
    * instead of re-splitting the text per reference (CollapseProject
    * keeps multiply-referenced non-trivial aliases staged). */
  def wordShinglesOf(t: Column, n: Int): Column =
    when(size(t) >= n,
      transform(sequence(lit(1), size(t) - (n - 1)),
        i => concat_ws(" ", slice(t, i, lit(n)))))
      .otherwise(array(array_join(t, " ")))

  /** Word n-gram shingles from raw text (tokenizes inline — prefer
    * [[wordShinglesOf]] on a staged token column in hot paths). */
  def wordShingles(c: Column, n: Int): Column = wordShinglesOf(tokens(c), n)

  /** Tiny per-language stopword lists for the n-gram language-ID
    * heuristic (public common-word lists). */
  val StopwordsByLang: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is", "it", "that", "for"),
    "es" -> Seq("el", "la", "los", "las", "de", "que", "y", "en", "un", "por"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "zu"),
    "fr" -> Seq("le", "la", "les", "et", "des", "un", "une", "est", "que", "pour"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "和", "不", "这", "人"))

  /** Count of tokens (pre-tokenized column) appearing in `words`. */
  def stopwordHitsOf(t: Column, words: Seq[String]): Column =
    size(filter(t, x => array_contains(typedLit(words), x)))

  /** Language-ID over a staged token column: argmax of per-language
    * stopword hits, first-listed language wins ties, zero hits
    * everywhere → "und" (undetermined). */
  def langIdOf(t: Column): Column = {
    val hits = StopwordsByLang.map { case (lang, ws) => lang -> stopwordHitsOf(t, ws) }
    val maxHits = greatest(hits.map(_._2): _*)
    hits.foldRight(lit("und")) { case ((lang, h), acc) =>
      when(h > 0 && h === maxHits, lit(lang)).otherwise(acc)
    }
  }

  def langId(c: Column): Column = langIdOf(tokens(c))

  /** Ratio of punctuation characters (deterministic double). */
  def punctRatio(c: Column): Column =
    when(length(c) === 0, lit(0.0)).otherwise(
      (length(c) - length(regexp_replace(c, "[.,;:!?'\"()-]", "")))
        .cast("double") / length(c).cast("double"))

  /** Mean token length over a staged token column (0 for empty docs). */
  def meanTokenLenOf(t: Column): Column = {
    val total = aggregate(t, lit(0L), (acc, x) => acc + length(x).cast("long"))
    when(size(t) === 0, lit(0.0))
      .otherwise(total.cast("double") / size(t).cast("double"))
  }

  /** Heuristic quality score in [0,1] from raw text + staged tokens:
    * length saturation, stopword presence, low punctuation, sane word
    * lengths. Pure double arithmetic on integer counts —
    * bit-identical across engines. */
  def qualityScoreOf(c: Column, t: Column): Column = {
    val lenScore  = least(length(c).cast("double") / 500.0, lit(1.0))
    val stopRatio = when(size(t) === 0, lit(0.0))
      .otherwise(stopwordHitsOf(t, StopwordsByLang.head._2).cast("double") /
        size(t).cast("double"))
    val stopScore = least(stopRatio * 5.0, lit(1.0))
    val punctScore = lit(1.0) - least(punctRatio(c) * 4.0, lit(1.0))
    val mtl = meanTokenLenOf(t)
    val wordScore = when(mtl >= 3.0 && mtl <= 10.0, lit(1.0)).otherwise(lit(0.5))
    lenScore * 0.3 + stopScore * 0.3 + punctScore * 0.2 + wordScore * 0.2
  }

  def qualityScore(c: Column): Column = qualityScoreOf(c, tokens(c))

  /** Canonical text form for fingerprinting: trimmed, lowercased,
    * whitespace collapsed. */
  def normalized(c: Column): Column =
    regexp_replace(trim(lower(c)), "\\s+", " ")

  /** MD5 content fingerprint over the canonical form. */
  def md5Fingerprint(c: Column): Column = md5(normalized(c))

  /** Polynomial rolling hash (Horner, base 31, mod 1e9+7) over the
    * canonical form — built-ins only variant; see [[RollingHashExpr]]
    * for the native codegen'd expression. */
  def rollingFingerprint(c: Column): Column = {
    val codes = transform(
      sequence(lit(1), greatest(length(normalized(c)), lit(1))),
      i => ascii(normalized(c).substr(i, lit(1))).cast("long"))
    aggregate(codes, lit(0L), (acc, x) => (acc * 31 + x) % 1000000007L)
  }
}
