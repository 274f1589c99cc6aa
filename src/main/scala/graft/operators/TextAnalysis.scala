package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.functions.TextFunctions._
import graft.functions.RollingHashExpr

/** Text-analysis operator suite over a `documents`-shaped table
  * (doc_id, text, …) — the language-ID / quality / token-count /
  * fingerprint stages of a training-data pipeline (SURVEY.md §7.5).
  *
  * Everything is a narrow per-row projection: no shuffle, scales
  * embarrassingly with input splits; the only wide stages are the
  * optional corpus-level aggregations the caller adds on top.
  */
object TextAnalysis {

  /** Per-document profile: counts, language guess, quality score,
    * fingerprints. Tokens are staged once; every downstream metric
    * reads the materialized array. */
  def profile(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    docs
      .withColumn("_toks", tokens(t))
      .withColumn("n_chars_measured", length(t).cast(LongType))
      .withColumn("n_tokens", size(col("_toks")).cast(LongType))
      .withColumn("mean_token_len", meanTokenLenOf(col("_toks")))
      .withColumn("punct_ratio", punctRatio(t))
      .withColumn("lang_pred", langIdOf(col("_toks")))
      .withColumn("quality", qualityScoreOf(t, col("_toks")))
      .withColumn("fingerprint_md5", md5Fingerprint(t))
      .withColumn("fingerprint_roll", RollingHashExpr.rolling_hash(normalized(t)))
      .drop("_toks")
  }

  /** Corpus language histogram with mean quality per language. */
  def langHistogram(docs: DataFrame, textCol: String = "text"): DataFrame =
    profile(docs, textCol)
      .groupBy(col("lang_pred"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"))

  // ------------------------------------------------------- PII scrubbing

  /** Conservative, engine-portable PII patterns (plain character
    * classes only — identical semantics under Java regex and RE2, so
    * the DuckDB oracle replays them verbatim). */
  val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val UrlRe = "https?://[a-z0-9./_-]+"
  val PhoneRe = "\\b555-[0-9]{4}\\b"

  /** Redact emails/URLs/phone-like tokens and count each class —
    * the PII-scrub stage of a training-data pipeline. Narrow per-row
    * projection: no shuffle, scales with input splits. Counting uses
    * `regexp_extract_all` BEFORE replacement so overlapping classes
    * (an email inside a URL never matches both patterns here) are
    * counted on the original text. */
  def scrubPii(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    docs
      .withColumn("n_emails",
        size(regexp_extract_all(t, lit(EmailRe), lit(0))).cast(LongType))
      .withColumn("n_urls",
        size(regexp_extract_all(t, lit(UrlRe), lit(0))).cast(LongType))
      .withColumn("n_phones",
        size(regexp_extract_all(t, lit(PhoneRe), lit(0))).cast(LongType))
      .withColumn("clean_text",
        regexp_replace(
          regexp_replace(
            regexp_replace(t, EmailRe, "<EMAIL>"),
            UrlRe, "<URL>"),
          PhoneRe, "<PHONE>"))
  }

  // ----------------------------------------- boilerplate line removal

  /** C4/RefinedWeb-style boilerplate removal: a line that appears (as
    * an exact trimmed match) in at least `minDocFreq` DISTINCT
    * documents is boilerplate (headers, footers, nav chrome) and is
    * dropped from every document; document line order is preserved.
    *
    * Shape: posexplode (narrow) → distinct(line, doc) + count per
    * line (one shuffle on the line hash) → broadcast-or-shuffle join
    * back → groupBy doc to reassemble (one shuffle on doc id). Line
    * frequency counting shuffles 8-byte xxhash64 line keys, not line
    * text. At 100 TB the hot lines are exactly the frequent ones, so
    * the count aggregation map-side-combines to almost nothing.
    *
    * @return (idCol, clean_text, n_lines_kept, n_lines_dropped)
    */
  def stripBoilerplate(docs: DataFrame, idCol: String = "doc_id",
                       textCol: String = "text",
                       minDocFreq: Int = 5): DataFrame = {
    val lines = docs
      .select(col(idCol).as("_id"),
        posexplode(split(col(textCol), "\n")).as(Seq("_pos", "_line")))
      .withColumn("_line", trim(col("_line")))
      .withColumn("_lh", xxhash64(col("_line")))
    // document frequency per line (distinct doc per line, hashed key)
    val boiler = lines.select(col("_lh"), col("_id")).distinct()
      .groupBy(col("_lh"))
      .agg(count(lit(1)).as("_df"))
      .filter(col("_df") >= minDocFreq)
      .select(col("_lh"), lit(true).as("_isBoiler"))
    lines
      .join(boiler, Seq("_lh"), "left")
      .withColumn("_keep", col("_isBoiler").isNull)
      .groupBy(col("_id"))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(
              when(col("_keep"), struct(col("_pos"), col("_line"))))),
            s => s.getField("_line")),
          "\n").as("clean_text"),
        sum(when(col("_keep"), 1L).otherwise(0L)).as("n_lines_kept"),
        sum(when(col("_keep"), 0L).otherwise(1L)).as("n_lines_dropped"))
      .withColumnRenamed("_id", idCol)
  }

  // ------------------------------------------------------------- TF-IDF

  /** Top-`k` corpus terms per group (e.g. per source) by summed
    * TF-IDF: tf(term, doc) · ln(N / df(term)), N = corpus size,
    * df = documents containing the term.
    *
    * Shape: tokenize+explode (narrow) → (doc, term) counts (shuffle
    * 1) → term document frequencies (shuffle 2, map-side combined) →
    * broadcast N → per-group ranked top-k (shuffle 3 on group).
    * Scores are rounded to 6 decimals so the cross-engine `ln` is
    * hash-stable in the oracle gate.
    */
  def tfIdfTopTerms(docs: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text", groupCol: String = "source",
                    k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val terms = docs
      .select(col(idCol).as("_id"), col(groupCol).as("_grp"),
        explode(tokens(col(textCol))).as("term"))
    val tf = terms.groupBy(col("_id"), col("_grp"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
    // corpus size: docs are one row per document (id unique by
    // contract), so a metadata-only parquet count suffices — no
    // distinct shuffle
    val n = docs.count()
    // ln(N/df) is constant per term, so aggregate the integer tf sum
    // first and multiply once: no float-summation order dependence,
    // bit-stable across partitionings and engines.
    val scored = tf.join(df, "term")
      .groupBy(col("_grp"), col("term"), col("df"))
      .agg(sum(col("tf")).as("tf_sum"))
      .withColumn("score",
        round(col("tf_sum") * log(lit(n.toDouble) / col("df")), 6))
    val w = Window.partitionBy(col("_grp"))
      .orderBy(col("score").desc, col("term"))
    scored
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("_grp").as(groupCol), col("rk").cast(LongType).as("rk"),
        col("term"), col("score"))
  }

  // ------------------------------------------- duplicate-span removal

  /** 1-based start positions of `window`-token windows whose exact
    * text occurs more than once corpus-wide (any document, including
    * repeats within one), computed with the shuffle discipline the
    * span-dedup operators need at 100 TB: the corpus-wide occurrence
    * count groups 64-bit `xxhash64` window keys (8 bytes per window
    * on the wire), and only hash-repeat CANDIDATES are
    * re-materialized as strings and re-counted exactly. A hash
    * collision can nominate a candidate, never mark a window, so the
    * result is bit-identical to grouping the full window text — while
    * NON-candidate window strings (~window× the corpus bytes at
    * stride 1, the overwhelming mass on a deduplicated corpus) are
    * built and discarded inside a row without shuffling; only the
    * hash-repeat candidate strings shuffle, for the exact re-count.
    * Candidate
    * positions ride back to their document as one packed array
    * (bounded by doc length), so the verify pass re-slices only the
    * documents that own a candidate.
    *
    * Input contract: `toks` is (_id: long, t: array<string>).
    * `crossDocOnly` switches the repeat criterion from "occurs > 1
    * time anywhere" to "occurs in > 1 distinct documents" (the q130
    * signal); `stride` spaces the window starts.
    * @return (_id, i) — i the 1-based window start. */
  def repeatedWindowStarts(toks: DataFrame, window: Int,
                           stride: Int = 1,
                           crossDocOnly: Boolean = false): DataFrame = {
    val W = window
    def repeated(frame: DataFrame, key: String): DataFrame = {
      val g = frame.groupBy(col(key))
      val agg =
        if (crossDocOnly) g.agg(countDistinct(col("_id")).as("c"))
        else g.agg(count(lit(1)).as("c"))
      agg.filter(col("c") > 1).select(col(key))
    }
    // the hashed-window frame feeds BOTH the repeat aggregate and the
    // candidate semi-join; truncate so the window transform + explode
    // over the corpus runs once, not once per consumer (round-14 —
    // the second full pass was ~40% of q130/q134's steady state)
    //
    // scale-adaptive wide materialization of the token frame
    // (round-15, guide §2.5): the two CPU-dense per-row passes — the
    // window transform + xxhash64 explode feeding the checkpoint, and
    // the candidate re-slice verify — both fuse into the token frame's
    // scan stage, which on a single-split fixture is 1–2 tasks no
    // matter the core count (q134's job log: 0.62 s of its 1.78 s job
    // total inside a 2-task checkpoint materialization). When the
    // incoming frame is narrower than the machine, round-robin it
    // wide and CHECKPOINT it (two consumers — an un-materialized
    // spread re-runs the exchange per consumer, the q142/q154
    // multi-consumer tax). On a real tier the scan already carries
    // ≥ cores partitions and the frame flows through untouched — the
    // spreadTable contract. Callers that pass an already-wide frame
    // (dropDuplicateSpans' own checkpoint) hit the no-op path too.
    val toksW = {
      val wide = Spread.wide(toks)
      if (wide eq toks) toks else Checkpoints.truncate(wide)
    }
    val winsH = Checkpoints.truncate(windowHashes(toksW, W, stride))
    val candByDoc = winsH.join(repeated(winsH, "h"), Seq("h"), "left_semi")
      .groupBy(col("_id")).agg(collect_list(col("i")).as("cis"))
    val candWins = toksW.join(candByDoc, Seq("_id"))
      .select(col("_id"), explode(expr(
        s"transform(cis, i -> struct(i AS i, array_join(slice(t, i, $W), ' ') AS k))"))
        .as("w"))
      .select(col("_id"), col("w.i").as("i"), col("w.k").as("k"))
    candWins.join(repeated(candWins, "k"), Seq("k"), "left_semi")
      .select(col("_id"), col("i"))
  }

  /** The hashed-window frame of [[repeatedWindowStarts]], BEFORE its
    * lineage truncation: one (doc, start, xxhash64-of-window) row per
    * window — hashes shuffle, never the window strings. Exposed so
    * the plan-shape spec (ScaleSpec) can pin the prefilter design on
    * the exact subtree the operator checkpoints, which the final
    * query plan no longer shows (a checkpoint is an opaque scan). */
  private[graft] def windowHashes(toks: DataFrame, window: Int,
                                  stride: Int): DataFrame = {
    val W = window
    toks.filter(size(col("t")) >= W)
      .select(col("_id"), posexplode(expr(
        s"transform(sequence(1, size(t) - $W + 1, $stride), i -> xxhash64(array_join(slice(t, i, $W), ' ')))"))
        .as(Seq("p0", "h")))
      .select(col("_id"), (col("p0") * lit(stride) + 1).as("i"), col("h"))
  }

  /** Remove duplicated token spans from every document — the REMOVAL
    * half of exact-substring dedup (Lee et al. 2022, arXiv
    * 2107.06499): every `window`-token span whose text occurs more
    * than once in the corpus (any document, including repeats within
    * one) is cut from ALL its occurrences; overlapping marked windows
    * merge into maximal spans first, so a long duplicated passage
    * disappears as one piece. Documents with nothing duplicated pass
    * through with their tokens rejoined unchanged.
    *
    * Policy note: removing EVERY occurrence (rather than keeping one
    * canonical copy) is the conservative curation stance — a span
    * frequent enough to repeat is boilerplate; deterministic and
    * order-free, which is what makes the operator exactly
    * reproducible cross-engine.
    *
    * Shape: duplicate windows come from [[repeatedWindowStarts]]
    * (hashes shuffle, strings verify candidates only); marked starts
    * merge into spans with the sort-free islands pattern (running max
    * over one per-doc window); then the cut happens IN-ROW — each
    * document joins its (few, disjoint, sorted) spans as one packed
    * array and rebuilds `clean_text` by slicing the kept segments out
    * of its token array. No per-token rows exist anywhere: the old
    * plan's position explode (one row per corpus token, shuffled
    * through a semi-join, an anti-join, and a collect_list rebuild)
    * is gone, so the only corpus-mass shuffles left are the 8-byte
    * hash count and the doc-keyed span join.
    *
    * @return (idCol, n_tokens, n_dropped, clean_text) */
  def dropDuplicateSpans(docs: DataFrame, idCol: String = "doc_id",
                         textCol: String = "text",
                         window: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val W = window
    // tokens(NULL) is NULL: coalesce to an empty array so a null-text
    // document keeps the oracle contract (n_tokens=0, n_dropped=0,
    // clean_text='') instead of propagating NULL through size() and
    // array_join() — q134's DuckDB twin COALESCEs the same way.
    val toks0 = docs.select(col(idCol).cast(LongType).as("_id"),
      coalesce(tokens(col(textCol)), array().cast("array<string>")).as("t"))
    // scale-adaptive spread at the operator top (round-15, guide §2.5,
    // same contract as the repeatedWindowStarts-internal spread): the
    // token frame feeds three CPU-dense consumers — the window-hash
    // checkpoint, the candidate re-slice verify, and the final
    // kept-segment rebuild (zip_with/slice/array_join over every doc)
    // — all of which fuse into the scan stage and ran 2-task on the
    // single-split fixture. The spread frame is CHECKPOINTED so the
    // exchange materializes once (measured: without it each consumer
    // re-ran its own copy of the round-robin exchange as a separate
    // 2-task job — the q142/q154 multi-consumer spread tax); no-op
    // when the scan already carries ≥ cores partitions (real tiers),
    // where toks flows through untouched exactly as before.
    val toks = {
      val wide = Spread.wide(toks0)
      if (wide eq toks0) toks0 else Checkpoints.truncate(wide)
    }
    val marked = repeatedWindowStarts(toks, W)
      .select(col("_id"), col("i"), (col("i") + W - 1).as("e"))
    // merge overlapping windows into maximal spans (islands by
    // running max of span ends)
    val byDoc = Window.partitionBy(col("_id")).orderBy(col("i"))
    val spans = marked
      .withColumn("prevMax",
        max(col("e")).over(byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("isNew",
        when(col("prevMax").isNull || col("i") > col("prevMax") + 1, 1L)
          .otherwise(0L))
      .withColumn("island",
        sum(col("isNew")).over(byDoc.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("_id"), col("island"))
      .agg(min(col("i")).as("s"), max(col("e")).as("e"))
    // one packed span array per affected doc; spans are disjoint and
    // separated by >= 1 kept token by construction, so n_dropped is
    // the plain sum of span widths and the kept text is the ordered
    // concatenation of the between-span segments
    val spanList = spans.groupBy(col("_id"))
      .agg(array_sort(collect_list(struct(col("s"), col("e")))).as("sp"))
    toks.join(spanList, Seq("_id"), "left")
      .select(col("_id").as(idCol),
        size(col("t")).cast(LongType).as("n_tokens"),
        coalesce(expr(
          "aggregate(sp, 0L, (acc, x) -> acc + CAST(x.e - x.s + 1 AS BIGINT))"),
          lit(0L)).as("n_dropped"),
        when(col("sp").isNull, array_join(col("t"), " "))
          .otherwise(expr(
            """array_join(
                 flatten(
                   zip_with(
                     concat(array(1), transform(sp, x -> x.e + 1)),
                     concat(transform(sp, x -> x.s - 1), array(size(t))),
                     (a, b) -> slice(t, a, greatest(0, b - a + 1)))),
                 ' ')"""))
          .as("clean_text"))
  }

  /** Greedy leftmost-first merge of adjacent symbol pair (a, b) in a
    * symbol array — the BPE rewrite step, as a pure fold (no UDF):
    * state carries (output, held symbol); a held `a` followed by `b`
    * emits the merged token, anything else flushes the held symbol. */
  /** Apply a whole INTERFERENCE-FREE merge batch in one greedy
    * left-to-right fold: `(carry, next) ∈ rules` → emit the merged
    * token, else emit the carry. Correctness requires what
    * [[bpeTrain]]'s taboo set enforces — no two rules in the batch
    * share a symbol and no rule's side equals another's merged
    * output — under which disjoint rules commute and one scan equals
    * chained single-rule application in any order. Rules ride as a
    * literal MAP keyed by `"a b"` (space-joined; symbols come from
    * whitespace tokenization so cannot contain a space) (one hash probe per adjacency,
    * vs one nested fold per rule before). */
  private def mergeBatch(syms: org.apache.spark.sql.Column,
                         rules: Seq[(String, String)]): org.apache.spark.sql.Column = {
    val sep = " "
    val m = map(rules.flatMap { case (a, b) =>
      Seq(lit(a + sep + b), lit(a + b))
    }: _*)
    aggregate(
      syms,
      struct(array().cast("array<string>").as("out"),
        lit(null).cast("string").as("carry")),
      (acc, x) => {
        val carry = acc.getField("carry")
        val out = acc.getField("out")
        val merged = element_at(m, concat(carry, lit(sep), x))
        when(carry.isNull, struct(out.as("out"), x.as("carry")))
          .when(merged.isNotNull,
            struct(concat(out, array(merged)).as("out"),
              lit(null).cast("string").as("carry")))
          .otherwise(
            struct(concat(out, array(carry)).as("out"), x.as("carry")))
      },
      acc => when(acc.getField("carry").isNull, acc.getField("out"))
        .otherwise(concat(acc.getField("out"), array(acc.getField("carry")))))
  }

  private def mergePair(syms: org.apache.spark.sql.Column, a: String,
                        b: String): org.apache.spark.sql.Column = {
    val (qa, qb) = (lit(a), lit(b))
    aggregate(
      syms,
      struct(array().cast("array<string>").as("out"),
        lit(null).cast("string").as("carry")),
      (acc, x) =>
        when(acc.getField("carry").isNull,
          struct(acc.getField("out").as("out"), x.as("carry")))
          .when(acc.getField("carry") === qa && x === qb,
            struct(concat(acc.getField("out"), array(concat(qa, qb))).as("out"),
              lit(null).cast("string").as("carry")))
          .otherwise(
            struct(concat(acc.getField("out"), array(acc.getField("carry"))).as("out"),
              x.as("carry"))),
      acc => when(acc.getField("carry").isNull, acc.getField("out"))
        .otherwise(concat(acc.getField("out"), array(acc.getField("carry")))))
  }

  /** Distributed BPE vocabulary induction (the tokenizer-training
    * core of an LLM data pipeline): words become character-symbol
    * sequences weighted by corpus frequency; rounds count adjacent
    * symbol pairs corpus-wide, merge the most frequent pairs (ties
    * broken lexicographically — fully deterministic), and rewrite the
    * word table. Returns the learned merge rules
    * `(rank, pair_a, pair_b, merged, weight)` in merge order —
    * EXACTLY the sequence the textbook one-merge-at-a-time algorithm
    * would learn (BpeSpec proves the equivalence property).
    *
    * Batched rounds (the vocab-scale trick): instead of one driver
    * round-trip per merge, each round counts pairs ONCE and applies
    * up to `maxBatch` merges from that one count table. The batch is
    * chosen so it is provably identical to running the merges
    * sequentially:
    *
    *  1. sort pairs by (count desc, a, b) and take the longest PREFIX
    *     whose pairs are mutually non-interfering — no symbol of a
    *     later pair equals a symbol OR the merged token of an earlier
    *     pair. Interference-free means applying the earlier merges
    *     cannot change a later pair's count, so the stale count table
    *     is still exact for every accepted pair.
    *  2. truncate the prefix until its last count STRICTLY exceeds
    *     the first non-accepted count. Any pair a sequential run
    *     could newly prefer mid-batch (a pair touching an accepted
    *     symbol, or a pair created by an accepted merge — each
    *     occurrence of a created pair consumes an occurrence of a
    *     touching pair, so its count is bounded by one) sorts at or
    *     after that boundary, so the strict gap guarantees every
    *     accepted pair beats it, ties included.
    *  3. a batch that truncates to nothing falls back to the single
    *     top pair — one merge IS the sequential step.
    *
    * Round count drops well below the merge count (large batches
    * whenever the count distribution spreads) while staying
    * bit-identical to sequential BPE — BpeSpec proves equality for a
    * full 1000-merge vocabulary.
    *
    * Scale shape: all per-round work runs on the DISTINCT-WORD table
    * (bounded by vocabulary, not corpus bytes — the corpus is scanned
    * exactly once to build it); each round is one pair-explode
    * aggregate plus chained fold rewrites over that table, truncated
    * via [[Checkpoints]] so the plan stays O(1) in rounds. Only
    * `maxBatch+1` argmax rows come to the driver per round — the same
    * bounded-collect discipline as [[Clustering.kmeans]]'s centroid
    * refresh. Stops early when no pair reaches `minPairFreq`. */
  /** Pair-count rounds (= driver round-trips) taken by the most
    * recent [[bpeTrain]] call on this JVM — the observability seam
    * BpeSpec's bounded-rounds property reads. Test-only. */
  @volatile private[graft] var lastTrainRounds: Int = 0

  /** DSIR-style importance weights (Xie et al. 2023, arXiv
    * 2302.03169 — data selection via importance resampling): score
    * every document by how much more likely its hashed n-gram bag is
    * under the TARGET distribution than under the raw-corpus
    * distribution, w(d) = Σ_f n_f·log(p̂_t(f)/p̂_r(f)) with add-one
    * smoothing over `buckets` hashed unigram+bigram features.
    * High-weight documents "look like" the target domain — the
    * standard pretraining-mixture selection signal.
    *
    * Scale shape: features hash to `buckets` ids (md5-derived, so
    * the bucketing is engine-portable), the two distribution tables
    * are ≤ `buckets` rows (broadcast), totals are 1-row scalar
    * frames, and the per-doc aggregate is one hash shuffle of
    * (doc, bucket) partial counts. Log-ratio terms round to 6
    * decimals before an exact DECIMAL sum, so the weight is
    * partitioning-independent; zero-token documents keep a row
    * (weight 0).
    *
    * Output: (idCol, n_feats, weight). */
  def dsirWeights(docs: DataFrame, isTarget: Column, buckets: Int = 512,
                  idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val toks = docs.select(col(idCol), isTarget.as("is_t"),
      tokens(col(textCol)).as("t"))
    val bigrams = when(size(col("t")) >= 2,
      transform(sequence(lit(1), size(col("t")) - 1), i =>
        concat_ws(" ", element_at(col("t"), i), element_at(col("t"), i + 1))))
      .otherwise(array().cast("array<string>"))
    // the hashed-feature frame feeds FOUR consumers (per-doc counts,
    // raw and target bucket tables, the corpus totals) — materialize
    // the explode+hash once instead of replaying it per consumer.
    // (round-15: Spread.wide on this checkpoint input was A/B'd and
    // reverted — min 2.08 → 2.30 s; the query's cost is the four
    // consumer aggregates over the checkpoint, not the
    // materialization stage, the third spread revert on q142.)
    val feats = Checkpoints.truncate(toks
      .select(col(idCol), col("is_t"),
        explode(concat(col("t"), bigrams)).as("f"))
      .withColumn("b",
        conv(substring(md5(col("f")), 1, 15), 16, 10).cast(LongType)
          % buckets)
      .select(col(idCol), col("is_t"), col("b")))
    val perDoc = feats.groupBy(col(idCol), col("b"))
      .agg(count(lit(1)).as("n"))
    val raw = feats.groupBy(col("b")).agg(count(lit(1)).as("cr"))
    val tgt = feats.filter(col("is_t")).groupBy(col("b"))
      .agg(count(lit(1)).as("ct"))
    val tot = feats.agg(count(lit(1)).as("tr"),
      count(when(col("is_t"), lit(1))).as("tt"))
    val terms = perDoc
      .join(broadcast(raw), Seq("b"))
      .join(broadcast(tgt), Seq("b"), "left")
      .crossJoin(broadcast(tot))
      .withColumn("term", round(col("n").cast(DoubleType) * log(
        ((coalesce(col("ct"), lit(0L)) + 1L) * (col("tr") + buckets))
          .cast(DoubleType) /
          ((col("cr") + 1L) * (col("tt") + buckets)).cast(DoubleType)), 6)
        .cast(DecimalType(28, 6)))
    val agg = terms.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_feats"), sum(col("term")).as("s"))
    docs.select(col(idCol))
      .join(agg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        coalesce(col("s").cast(DoubleType), lit(0.0)).as("weight"))
  }

  /** Per-document character-distribution Shannon entropy (bits per
    * character) — the classic gibberish / boilerplate / encoding-
    * damage signal: natural prose sits ~4–4.5 bits, base64 blobs and
    * key-mash near 6, repeated filler near 0. Exact cross-engine:
    * per-character counts are integers and each term
    * (c/n)·log2(n/c) is rounded to DECIMAL before an order-
    * independent exact sum (one double cast at the end).
    *
    * Zero-shuffle (round 7): the per-document histogram comes from
    * the native codegen'd [[graft.functions.TextExprs.char_counts]]
    * in one pass per row, and the term sum is an in-row `aggregate`
    * fold over the ~dozens of distinct-char counts, carried as exact
    * e9-scaled BIGINTs: each term is Spark's own round(·, 9), whose
    * ≤9-decimal value is recovered as an integer exactly (the ×1e9
    * product sits within 3e-7 of the integer, far inside the final
    * round-to-0), summed without decimal-promotion drift, and divided
    * back by 1e9 in one IEEE double op — the same nearest-double of
    * the same exact sum the previous DECIMAL(28,9) plan produced.
    * That plan exploded every character into a row (~55M at bench
    * sf0.1) and shuffled two levels of hash-aggregate partials; this
    * one shuffles nothing. Empty documents fold over an empty array
    * straight to 0.0. */
  def charEntropy(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    docs.select(col(idCol),
      length(col(textCol)).cast(LongType).as("n_text_chars"),
      graft.functions.TextExprs.char_counts(col(textCol)).as("_cc"))
      .select(col(idCol), col("n_text_chars"),
        (expr("""aggregate(_cc, 0L, (acc, c) -> acc + CAST(round(round(
                  (CAST(c AS DOUBLE) / n_text_chars) *
                  log2(CAST(n_text_chars AS DOUBLE) / CAST(c AS DOUBLE)), 9)
                  * 1000000000D, 0) AS BIGINT))""").cast("double")
          / lit(1e9)).as("entropy_bits"))
  }

  /** Per-source Zipf rank–frequency slope: OLS fit of ln(freq) on
    * ln(rank) over each source's top-`topK` terms. Natural language
    * tracks slope ≈ −1 (Zipf's law); template/boilerplate-heavy or
    * synthetic sources drift off it — a corpus-naturalness audit
    * beside q132's KL drift. Exact cross-engine: ranks are
    * deterministic (freq desc, term asc), the four OLS moments are
    * rounded-to-DECIMAL exact sums (the q133 Pearson pattern), and
    * the slope is one final double expression. */
  def zipfSlope(docs: DataFrame, sourceCol: String = "source",
                textCol: String = "text", topK: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = org.apache.spark.sql.types.DecimalType(28, 9)
    val freqs = docs
      .select(col(sourceCol), explode(tokens(col(textCol))).as("w"))
      .groupBy(col(sourceCol), col("w")).agg(count(lit(1)).as("f"))
    val x = log(col("rank").cast("double"))
    val y = log(col("f").cast("double"))
    val ranked = freqs
      .withColumn("rank", row_number().over(
        Window.partitionBy(col(sourceCol))
          .orderBy(col("f").desc, col("w"))))
      .filter(col("rank") <= topK)
      .select(col(sourceCol),
        round(x, 9).cast(dec).as("tx"), round(y, 9).cast(dec).as("ty"),
        round(x * y, 9).cast(dec).as("txy"),
        round(x * x, 9).cast(dec).as("txx"))
    ranked
      .groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("tx")).as("sx"), sum(col("ty")).as("sy"),
        sum(col("txy")).as("sxy"), sum(col("txx")).as("sxx"))
      .select(col(sourceCol), col("n_terms"), {
        // exact DECIMAL sums → doubles, then one IEEE expression: the
        // same bits on any engine/partitioning
        val n = col("n_terms").cast("double")
        val sx = col("sx").cast("double"); val sy = col("sy").cast("double")
        val sxy = col("sxy").cast("double"); val sxx = col("sxx").cast("double")
        round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6).as("zipf_slope")
      })
  }

  def bpeTrain(docs: DataFrame, textCol: String = "text",
               nMerges: Int = 10, minPairFreq: Long = 2L,
               maxBatch: Int = 256): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    var words = Checkpoints.truncate(docs
      .select(explode(tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .select(col("freq"),
        expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")
          .as("syms")))
    val merges = scala.collection.mutable.ListBuffer.empty[(Long, String, String, Long)]
    var exhausted = false
    var rounds = 0
    while (merges.size < nMerges && !exhausted) {
      rounds += 1
      val capacity = math.min(maxBatch, nMerges - merges.size)
      val top = words
        .filter(size(col("syms")) >= 2)
        .select(col("freq"), explode(expr(
          """transform(sequence(1, size(syms) - 1),
             i -> struct(syms[i - 1] AS a, syms[i] AS b))""")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("c"))
        .filter(col("c") >= minPairFreq)
        .orderBy(col("c").desc, col("a"), col("b"))
        .limit(maxBatch + 1)
        .as[(String, String, Long)]
        .collect()
      if (top.isEmpty) exhausted = true
      else {
        // interference-free pairs in sort order (taboo = accepted
        // symbols and their merged tokens), stopping at the first
        // conflict
        val taboo = scala.collection.mutable.Set.empty[String]
        val prefix = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
        var k = 0
        while (k < top.length && prefix.size < maxBatch &&
               !taboo(top(k)._1) && !taboo(top(k)._2)) {
          val (a, b, c) = top(k)
          prefix += ((a, b, c)); taboo ++= Seq(a, b, a + b); k += 1
        }
        // the first non-accepted count in sort order, if any pair was
        // left behind (conflict, capacity, or the limit+1 sentinel)
        val nextCount: Option[Long] =
          if (k < top.length) Some(top(k)._3) else None
        var batch = prefix.take(capacity)
        val boundary = if (batch.size < prefix.size) Some(prefix(batch.size)._3)
          else nextCount
        boundary.foreach { nc =>
          while (batch.size > 1 && batch.last._3 == nc) batch = batch.dropRight(1)
        }
        if (batch.isEmpty) batch = prefix.take(1)
        batch.foreach { case (a, b, c) =>
          merges += ((merges.size + 1L, a, b, c))
        }
        // one-scan batch rewrite — identical to applying the merges
        // one at a time BECAUSE the batch is interference-free: the
        // taboo set guarantees no two accepted rules share a symbol
        // and no rule consumes another's merged output, so
        // disjoint-symbol rules commute and a single greedy
        // left-to-right pass with a map lookup equals any chained
        // order (BpeSpec re-proves batched ≡ sequential end-to-end).
        // Previously this chained 8-rule folds with a checkpoint per
        // chunk — 32 sequential materializations of the words table
        // per 256-merge round, which priced an 8192-merge run at
        // hours; one pass + one truncation per round removes that.
        words = Checkpoints.truncate(
          words.select(col("freq"),
            mergeBatch(col("syms"), batch.map(r => (r._1, r._2)).toSeq)
              .as("syms")))
      }
    }
    lastTrainRounds = rounds
    merges.toSeq
      .toDF("rank", "pair_a", "pair_b", "weight")
      .select(col("rank"), col("pair_a"), col("pair_b"),
        concat(col("pair_a"), col("pair_b")).as("merged"), col("weight"))
  }

  /** Apply learned BPE merge rules (in rank order) to tokenize the
    * corpus — the encode half of the tokenizer: each document gets
    * its whitespace-word count, its subword count under the rules,
    * and its character mass. Encoding runs on the DISTINCT-WORD
    * table (|rules| chained fold rewrites over vocabulary rows, one
    * per rule — rank order is the BPE contract), then joins back to
    * the corpus on the word key: the per-document cost is one
    * explode + one broadcastable join, never per-document merge
    * loops. */
  def bpeEncode(docs: DataFrame, rules: Seq[(String, String)],
                idCol: String = "doc_id",
                textCol: String = "text"): DataFrame = {
    val words = docs
      .select(explode(tokens(col(textCol))).as("w")).distinct()
      .select(col("w"),
        expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")
          .as("syms"))
    val encoded = rules.zipWithIndex.foldLeft(words) {
      case (acc, ((a, b), i)) =>
        val step = acc.select(col("w"), mergePair(col("syms"), a, b).as("syms"))
        // checkpoint every few rules so the nested-fold plan (and its
        // codegen) stays bounded in |rules|
        if ((i + 1) % 4 == 0) Checkpoints.truncate(step) else step
    }
    val perWord = encoded
      .select(col("w"), size(col("syms")).cast("long").as("n_subwords"),
        length(col("w")).cast("long").as("n_chars"))
    val stats = docs
      .select(col(idCol), explode(tokens(col(textCol))).as("w"))
      .join(perWord, "w")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("_nw"),
        sum(col("n_subwords")).as("_ns"),
        sum(col("n_chars")).as("_nc"))
    // a document whose text tokenizes to nothing produces no exploded
    // rows — join the stats back onto the full doc list so it still
    // appears, with zero counts, instead of silently vanishing
    docs.select(col(idCol))
      .join(stats, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("_nw"), lit(0L)).as("n_words"),
        coalesce(col("_ns"), lit(0L)).as("n_subwords"),
        coalesce(col("_nc"), lit(0L)).as("n_chars"))
  }
}
