package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions

/** Deduplication operator family for a 100 TB document corpus
  * (SURVEY.md §7.5): exact, MinHash+LSH, SimHash, n-gram Jaccard,
  * and embedding-cosine near-dup.
  *
  * Scale design notes:
  *  - every per-document signature (minhash, simhash, fingerprint) is
  *    computed with higher-order array expressions INSIDE the row —
  *    zero shuffle until the banding groupBy, whose cardinality is
  *    #docs × #bands, shuffled by band hash (uniformly distributed);
  *  - candidate generation never materializes the O(n²) pair space:
  *    LSH bands (minhash) or blocking keys (jaccard) bound each
  *    bucket, and pair expansion happens per-bucket;
  *  - verification (exact jaccard / cosine) runs only on candidates.
  */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** Exact dedup: canonical winner (min id) per identical normalized
    * text. One hash-partitioned aggregate — the map-side partial
    * `min` makes the shuffle tiny. */
  def exact(docs: DataFrame, idCol: String = "doc_id",
            textCol: String = "text"): DataFrame =
    docs
      .groupBy(md5Fingerprint(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Exact-dedup survivors (the kept rows). */
  def exactSurvivors(docs: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    val winners = exact(docs, idCol, textCol).select(col("keep_id").as(idCol))
    docs.join(winners, Seq(idCol), "left_semi")
  }

  /** Incremental exact dedup for continuous ingestion: drop new-batch
    * documents whose fingerprint already exists in the historical
    * corpus (anti-join against the history's DISTINCT fingerprints),
    * then keep one winner (min id) per fingerprint within the batch.
    * Only 16-byte fingerprints shuffle — history text never moves,
    * and at 100 TB the history side is typically a pre-materialized
    * fingerprint table, which this accepts unchanged (any frame with
    * `textCol`). */
  def incrementalSurvivors(batch: DataFrame, history: DataFrame,
                           idCol: String = "doc_id",
                           textCol: String = "text"): DataFrame = {
    val seen = history.select(md5Fingerprint(col(textCol)).as("fp")).distinct()
    val fresh = batch.withColumn("fp", md5Fingerprint(col(textCol)))
      .join(seen, Seq("fp"), "left_anti")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("fp")).orderBy(col(idCol))
    fresh.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn", "fp")
  }

  // -------------------------------------------------------------- minhash

  /** Universal-hash family constants for minhash: family i maps a
    * base hash h to (A(i)·h + B(i)) mod P. P = 1e9+7 keeps every
    * intermediate below 2^60 (h%P < 2^30, A < 2^30 → product < 2^60),
    * so plain 64-bit arithmetic is exact on any engine. The DuckDB
    * oracle inlines the same constants (single source:
    * [[graft.functions.MinhashExprs]]). */
  val MinhashP: Long = graft.functions.MinhashExprs.P
  def minhashA(i: Int): Long = graft.functions.MinhashExprs.familyA(i)
  def minhashB(i: Int): Long = graft.functions.MinhashExprs.familyB(i)

  /** Portable 60-bit numeric string hash: md5 hex prefix → BIGINT
    * (DuckDB twin: `CAST('0x'||substr(md5(s),1,15) AS BIGINT)`).
    * Built-ins-composed reference form; the hot path uses the
    * bit-compatible native [[graft.functions.MinhashExprs]]. */
  def hexHash(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast(LongType)

  /** MinHash signature from a STAGED array of base hashes (one
    * `hexHash % P` per distinct shingle). Native fused expression:
    * all `numHashes` families in one codegen'd pass over the array
    * (the HOF formulation re-enters the interpreter per family per
    * element). */
  def minhashSignature(baseHashes: Column, numHashes: Int): Column =
    graft.functions.MinhashExprs.minhash_signature(baseHashes, numHashes)

  /** LSH band keys: signature split into `numBands` rows of
    * `numHashes/numBands`, each band hashed to one bucket key. */
  def bandKeys(sig: Column, numHashes: Int, numBands: Int): Column = {
    val rowsPerBand = numHashes / numBands
    array((0 until numBands).map { b =>
      md5(concat_ws(",",
        lit(b) +: (0 until rowsPerBand).map(r =>
          element_at(sig, b * rowsPerBand + r + 1)): _*))
    }: _*)
  }

  /** MinHash+LSH candidate pairs (id_a < id_b), deduplicated across
    * bands, with exact shingle-Jaccard verification ≥ `threshold`.
    *
    * Pipeline: per-row signature → explode bands (×numBands) →
    * self-join within band buckets (shuffle on band hash) → distinct
    * pairs → jaccard verify on the two shingle sets.
    */
  def minhashLsh(docs: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text", numHashes: Int = 16,
                 numBands: Int = 4, shingleSize: Int = 3,
                 threshold: Double = 0.5): DataFrame = {
    // the shingle-set frame feeds the signature pipeline AND both
    // verification joins — truncate so tokenize+shingle runs once,
    // not three times (round-14; admitBatch already checkpoints its
    // own band frame the same way)
    val shingled = Checkpoints.truncate(
      shingleSets(docs, idCol, textCol, shingleSize))
    val candidates = lshCandidatePairs(
      minhashSignatures(shingled, numHashes), numHashes, numBands)
    verifyJaccard(candidates, shingled, threshold)
  }

  /** Stage 1 of the LSH pipeline: (id, sh) — the distinct word-shingle
    * set per document. tokens → shingles as separate projections so
    * each stage's array materializes once per row, not once per
    * downstream reference. */
  private[graft] def shingleSets(docs: DataFrame, idCol: String,
                                 textCol: String,
                                 shingleSize: Int): DataFrame =
    docs
      .select(col(idCol).cast(LongType).as("id"), tokens(col(textCol)).as("toks"))
      .select(col("id"), array_distinct(
        graft.functions.TextExprs.word_shingles(col("toks"), shingleSize)).as("sh"))

  /** Stage 2: (id, sig) minhash signatures from staged shingle sets.
    * (16 hash families over a staged base-hash array — the unstaged
    * form would re-derive the shingle stage per family, quadratic in
    * doc length.) */
  private[graft] def minhashSignatures(shingled: DataFrame,
                                       numHashes: Int): DataFrame =
    shingled
      .select(col("id"), col("sh"),
        graft.functions.MinhashExprs.minhash_base_hashes(col("sh")).as("hs"))
      .select(col("id"), minhashSignature(col("hs"), numHashes).as("sig"))

  /** Stage 3: candidate pairs (id_a < id_b) from signatures, distinct
    * across bands. Pairs within each band bucket via groupBy +
    * collect_list instead of a self-join: the signature pipeline (the
    * expensive part) runs ONCE, not once per join side; singleton
    * buckets — the vast majority — are pruned before any pair is
    * generated. Bucket sizes are bounded by LSH design (docs sharing
    * a band prefix). */
  private[graft] def lshCandidatePairs(sigs: DataFrame, numHashes: Int,
                                       numBands: Int): DataFrame =
    bandedIds(sigs, numHashes, numBands)
      .groupBy(col("band"))
      .agg(collect_list(col("id")).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"), explode(col("ids")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .distinct()

  /** (id, band) rows — one per LSH band bucket membership. Shared by
    * the batch self-bucketing in [[lshCandidatePairs]] and the
    * streaming state join in `StreamingOps.nearDupAdmit` (identical
    * band keys on both paths is what makes the streaming candidates
    * a superset-free match of the batch candidates). */
  private[graft] def bandedIds(sigs: DataFrame, numHashes: Int,
                               numBands: Int): DataFrame =
    sigs.select(col("id"),
      explode(bandKeys(col("sig"), numHashes, numBands)).as("band"))

  /** Stage 4: exact shingle-Jaccard verification of candidate pairs
    * against the staged (id, sh) sets, keeping pairs ≥ `threshold`. */
  private[graft] def verifyJaccard(candidates: DataFrame,
                                   shingled: DataFrame,
                                   threshold: Double): DataFrame = {
    val withSets = candidates
      .join(shingled.withColumnRenamed("sh", "sh_a"), col("id_a") === col("id"))
      .drop("id")
      .join(shingled.withColumnRenamed("sh", "sh_b"), col("id_b") === col("id"))
      .drop("id")
    withSets
      .withColumn("n_inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast(LongType))
      .withColumn("n_union", size(array_union(col("sh_a"), col("sh_b"))).cast(LongType))
      .withColumn("jaccard", col("n_inter").cast("double") / col("n_union").cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("n_inter"), col("n_union"), col("jaccard"))
  }

  // -------------------------------------------------------------- simhash

  /** 32-bit SimHash over a STAGED token column: bit b is the sign of
    * the token-count vote where token t votes +1 if hex digit b of
    * md5(t) has its top bit set, else −1. Single-row computation, no
    * shuffle. Tokens must be staged — 32 bit-expressions reference
    * the array. Built-ins-composed reference form (32 interpreted
    * md5 passes per token); the hot path uses the bit-compatible
    * native [[graft.functions.TextExprs.simhash_32]]. */
  def simhash32Of(toks: Column): Column = {
    val highHex = typedLit(Seq("8", "9", "a", "b", "c", "d", "e", "f"))
    val bits = (0 until 32).map { b =>
      val ones = size(filter(toks,
        t => array_contains(highHex, substring(md5(t), b + 1, 1))))
      // sign(2*ones - n) >= 0 → bit set
      when(ones * 2 >= size(toks), lit(1L << b)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  def simhash32(text: Column): Column = simhash32Of(tokens(text))

  /** Per-doc staged SimHash signatures from an arbitrary staged token
    * expression — word tokens for text, hex-byte shingles for binary
    * media ([[Multimodal.binaryNearDup]]), any array<string> works. */
  def simhashSigsOf(docs: DataFrame, idCol: String, toks: Column): DataFrame =
    docs.select(col(idCol).cast(LongType).as("id"), toks.as("toks"))
      .select(col("id"), graft.functions.TextExprs.simhash_32(col("toks")).as("sig"))

  /** Per-doc staged SimHash signatures (native single-pass md5). */
  def simhashSigs(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame =
    simhashSigsOf(docs, idCol, tokens(col(textCol)))

  /** SimHash near-dup pairs: candidates share at least one of four
    * 8-bit sub-bands (pigeonhole: hamming ≤ 3 ⇒ some band equal),
    * verified by exact hamming distance ≤ `maxHamming`. Pairs come
    * from band posting lists (groupBy + collect_list), so the
    * signature pipeline runs once — not once per self-join side. */
  def simhashPairs(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text", maxHamming: Int = 3): DataFrame =
    simhashPairsFromSigs(simhashSigs(docs, idCol, textCol), maxHamming)

  /** Band-block + hamming-verify over precomputed (id, sig) rows. */
  def simhashPairsFromSigs(sigs: DataFrame, maxHamming: Int = 3): DataFrame = {
    val banded = sigs.select(col("id"), col("sig"),
      explode(array((0 until 4).map(k =>
        concat_ws(":", lit(k), shiftright(col("sig"), k * 8) % 256)): _*)).as("band"))
    banded.groupBy(col("band"))
      .agg(collect_list(struct(col("id"), col("sig"))).as("ms"))
      .filter(size(col("ms")) > 1)
      .select(explode(col("ms")).as("a"), col("ms"))
      .select(col("a"), explode(col("ms")).as("b"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast(LongType))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  // ------------------------------------------------------ n-gram jaccard

  /** Blocked n-gram Jaccard: candidate pairs share a cheap blocking
    * key (source + length bucket), then exact word-shingle Jaccard.
    * Jaccard is a ratio of ints — engine-exact.
    *
    * Realized as a shingle-inverted-index join rather than a blocked
    * pair join: explode distinct shingles to (block, shingle) rows,
    * self-join on that key, count shared shingles per pair, and derive
    * |A∪B| = |A|+|B|−|A∩B| from staged set sizes. Pairs sharing zero
    * shingles (jaccard 0) never materialize, and the whole plan is
    * codegen'd hash joins/aggregates — no interpreted
    * `array_intersect` over every candidate pair. At 100 TB the one
    * scale hazard is a degenerate ultra-frequent shingle inside one
    * block (quadratic posting list); `maxPostings` drops such
    * stopword-gram postings before pair generation (document-frequency
    * cap). The default (None) is exact; with a cap, a pair's
    * `n_inter` misses only its capped shingles, biasing jaccard DOWN
    * — near-dup pairs sharing mostly-rare shingles still surface
    * (standard prefix-filter-style approximation; the oracle query
    * runs uncapped, so capped mode is spec-verified instead). */
  def ngramJaccard(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text", blockCol: String = "source",
                   shingleSize: Int = 3, threshold: Double = 0.3,
                   maxPostings: Option[Int] = None): DataFrame =
    pairStats(docs,
        concat_ws("#", col(blockCol), (length(col(textCol)) / 64).cast(LongType)),
        idCol, textCol, shingleSize, maxPostings)
      .select(col("id_a"), col("id_b"), col("n_inter"),
        (col("n_a") + col("n_b") - col("n_inter")).as("n_union"))
      .withColumn("jaccard", col("n_inter").cast("double") / col("n_union").cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("n_inter"), col("n_union"), col("jaccard"))

  /** Containment near-dup pairs: `|A∩B| / min(|A|,|B|) ≥ threshold` —
    * catches a document EMBEDDED in a longer one (prefix/quote
    * inclusion), which symmetric Jaccard misses because the union is
    * dominated by the longer side. Blocks by `blockCol` alone (no
    * length bucket — containment pairs differ in length by nature).
    * Same inverted-index plan as [[ngramJaccard]]: one shuffle on
    * (block, shingle-hash), pairs only where sets actually overlap. */
  def containmentPairs(docs: DataFrame, idCol: String = "doc_id",
                       textCol: String = "text", blockCol: String = "source",
                       shingleSize: Int = 3, threshold: Double = 0.9,
                       maxPostings: Option[Int] = None): DataFrame =
    pairStats(docs, col(blockCol).cast(org.apache.spark.sql.types.StringType),
        idCol, textCol, shingleSize, maxPostings)
      .select(col("id_a"), col("id_b"), col("n_inter"),
        least(col("n_a"), col("n_b")).as("n_min"))
      .withColumn("containment",
        col("n_inter").cast("double") / col("n_min").cast("double"))
      .filter(col("containment") >= threshold)

  /** Prefix-filtered set-similarity join (the PPJoin-family trick):
    * EXACT Jaccard ≥ `threshold` pairs with NO blocking column and
    * without indexing every shingle. Each document's distinct
    * shingles are ordered by GLOBAL rarity (document frequency asc,
    * hash tiebreak); a pair with `J ≥ t` must share at least one of
    * each side's first `p = n − ⌈t·n⌉ + 1` shingles — if the whole
    * prefix misses, the overlap fits inside the `⌈t·n⌉ − 1` suffix,
    * which is below the `t·n` minimum any qualifying pair needs. So
    * only PREFIXES enter the inverted index, and rare-first ordering
    * makes exactly the hottest shingles the least likely to be
    * indexed — inverting the hot-posting hazard [[ngramJaccard]]'s
    * `maxPostings` papers over, with zero false negatives. Survivors
    * pass the length filter `t·n_a ≤ n_b ≤ n_a/t` and verify with an
    * exact intersection count.
    *
    * Scale shape: df is one map-side-combined aggregate; prefix
    * selection is one per-doc window (shuffle on id); the candidate
    * join touches prefix postings only (~(1−t)·shingle mass); exact
    * verification runs once per surviving candidate. */
  def prefixFilterJoin(docs: DataFrame, idCol: String = "doc_id",
                       textCol: String = "text", shingleSize: Int = 3,
                       threshold: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the hashed shingle table feeds four subtrees (df, prefix, both
    // verification joins) — truncate so the tokenize + shingle
    // pipeline computes once, not once per consumer; shingles travel
    // as 64-bit hashes everywhere (same collision tolerance as
    // [[ngramJaccard]], checked end-to-end by the q129 oracle)
    val ex = Checkpoints.truncate(
      docs.select(col(idCol).cast(LongType).as("id"),
          array_distinct(graft.functions.TextExprs.word_shingles(
            tokens(col(textCol)), shingleSize)).as("shs"))
        .select(col("id"), size(col("shs")).cast(LongType).as("n"),
          explode(col("shs")).as("s0"))
        .select(col("id"), col("n"), xxhash64(col("s0")).as("s")))
    val dfreq = ex.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("id")).orderBy(col("df"), col("s"))
    val prefix = Checkpoints.truncate(ex.join(dfreq, "s")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= col("n") - ceil(col("n") * threshold) + 1)
      .select(col("id"), col("n"), col("rk"), col("s")))
    // pairs from prefix POSTING LISTS (shingle pipeline evaluated
    // once, singleton postings die in the aggregate), pruned by the
    // PPJoin positional filter: a match at prefix ranks (rk_a, rk_b)
    // can contribute at most 1 + min(n−rk) total overlap, and a
    // qualifying pair needs |x∩y| ≥ t(n_a+n_b)/(1+t). The FIRST
    // shared prefix shingle of any qualifying pair always passes
    // (everything it might still share lies at or after that rank on
    // both sides), so the filter is lossless through the distinct.
    val postings = prefix.groupBy(col("s"))
      .agg(collect_list(struct(col("id"), col("n"), col("rk"))).as("ms"))
      .filter(size(col("ms")) > 1)
    val cand = postings
      .select(explode(col("ms")).as("a"), col("ms"))
      .select(col("a"), explode(col("ms")).as("b"))
      .filter(col("a.id") < col("b.id") &&
        col("a.n") * threshold <= col("b.n") &&
        col("b.n") * threshold <= col("a.n") &&
        (lit(1) + least(col("a.n") - col("a.rk"), col("b.n") - col("b.rk"))) >=
          ceil((col("a.n") + col("b.n")) * lit(threshold) / lit(1.0 + threshold)))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    // exact verification against per-document hash ARRAYS, not the
    // exploded table: candidate × exploded-side joins multiply the
    // join mass by shingles-per-doc (~50× — measured 750M rows and
    // 158 s at gen-sf1 before this rewrite, SCALING.md), whereas two
    // equi joins onto the doc-array table move ONE ~400 B array per
    // candidate, and `array_intersect` over sorted int64 hashes is a
    // codegen'd exact intersection count. Join strategies are HINTED
    // because the checkpointed `ex` reports no reliable stats:
    // Catalyst's static estimate put the WHOLE doc→hash-array table
    // under the broadcast threshold and tried to broadcast it — fine
    // at bench scale, driver-OOM at gen-sf2 (~100 MB of arrays; the
    // round-9 sweep's find), and structurally wrong at 100 TB where
    // neither side is broadcastable. The strategy that survives every
    // scale tier is: SHUFFLED-HASH JOIN, BUILDING ON THE DOC-ARRAY
    // SIDE, STREAMING THE CANDIDATES. The asymmetry is the whole
    // point — docsH is LINEAR in the corpus (one ~400 B row per doc;
    // per-task build = docBytes / shuffle partitions, which a cluster
    // keeps small by scaling partitions with data), while the
    // candidate list is SUPERLINEAR BY DESIGN (~×4 per corpus
    // doubling on the saturated fixture — this is the deliberately
    // exhaustive exactness audit). Round 9 hash-built the candidate
    // side ("16 B/row — the smallest relation in the query") and the
    // round-10 gen-sf4 sweep killed it: "Can't acquire 536870912
    // bytes memory to build hash relation" — a per-task hash build
    // over a superlinear relation just moves the OOM a doubling out.
    // The first round-10 refix tried sort-merge on both joins, which
    // has no memory cliff but SORTS the join-2 input — the candidate
    // rows now carrying hs_a — so the superlinear array mass hits
    // disk twice (shuffle write + sorter spill): ~45 GB and a
    // no-space-left abort at gen-sf4 on the test box. Streaming that
    // mass through a hash probe materializes it exactly once, with
    // no sorter: the one unavoidable disk pass.
    val docsH = ex.groupBy(col("id"))
      .agg(first(col("n")).as("nn"), collect_list(col("s")).as("hs"))
    val verified = cand
      .join(docsH.select(col("id").as("id_a"), col("nn").as("n_a"),
        col("hs").as("hs_a")).hint("shuffle_hash"), "id_a")
      .join(docsH.select(col("id").as("id_b"), col("nn").as("n_b"),
        col("hs").as("hs_b")).hint("shuffle_hash"), "id_b")
      .withColumn("n_inter",
        size(array_intersect(col("hs_a"), col("hs_b"))).cast(LongType))
      .select(col("id_a"), col("id_b"), col("n_inter"),
        (col("n_a") + col("n_b") - col("n_inter")).as("n_union"))
      .withColumn("jaccard",
        col("n_inter").cast("double") / col("n_union").cast("double"))
    verified.filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("n_inter"), col("n_union"),
        col("jaccard"))
  }

  /** Shared candidate-pair machinery: inverted-index self-pairing
    * within a blocking key, returning per-pair distinct-shingle
    * overlap counts `(id_a, id_b, n_a, n_b, n_inter)`. */
  private def pairStats(docs: DataFrame, blk: Column, idCol: String,
                        textCol: String, shingleSize: Int,
                        maxPostings: Option[Int]): DataFrame = {
    val exploded = docs.select(
        col(idCol).cast(LongType).as("id"),
        blk.as("blk"),
        tokens(col(textCol)).as("toks"))
      .select(col("id"), col("blk"),
        array_distinct(
          graft.functions.TextExprs.word_shingles(col("toks"), shingleSize)).as("sh"))
      .select(col("id"), col("blk"), size(col("sh")).cast(LongType).as("n"),
        explode(col("sh")).as("s0"))
      // shingles shuffle as 64-bit hashes, not strings: ~2-4× less
      // shuffle volume and fixed-width grouping keys. Intersection
      // counts are over distinct shingles per doc, so a (within-
      // block) xxhash64 collision is the only error source —
      // vanishingly unlikely and caught by the oracle gate.
      .select(col("id"), col("blk"), col("n"), xxhash64(col("s0")).as("s"))
    // one shuffle on (block, shingle-hash); pairs generated inside
    // each posting list (a self-join would recompute the shingle
    // pipeline per side — and with AQE, broadcast the full exploded
    // relation). Singleton postings (the vast majority of distinct
    // shingles) are pruned before any pair exists.
    val postings = exploded.groupBy(col("blk"), col("s"))
      .agg(collect_list(struct(col("id"), col("n"))).as("ms"))
      .filter(size(col("ms")) > 1)
    val capped = maxPostings.fold(postings)(cap =>
      postings.filter(size(col("ms")) <= cap))
    capped
      .select(explode(col("ms")).as("a"), col("ms"))
      .select(col("a"), explode(col("ms")).as("b"))
      .filter(col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.n").as("n_a"), col("b.n").as("n_b"))
      .agg(count(lit(1)).as("n_inter"))
  }

  // --------------------------------------------- duplicate clustering

  /** Connected components over an undirected near-dup pair list —
    * the transitive-closure step that turns pairwise matches into
    * dedup CLUSTERS (A~B and B~C must land A,C in one cluster even if
    * the A–C pair was never emitted). Returns (id, component) with
    * `component` = the minimum id reachable from `id`.
    *
    * Algorithm: min-label propagation to direct neighbors PLUS
    * pointer jumping (each round also adopts the label of one's
    * current label), which halves remaining chain depth per round —
    * O(log diameter) rounds total, the property that makes the
    * operator viable on deep accidental chains at 100 TB, not just on
    * the shallow clusters near-dup data produces. Each round is two
    * shuffle joins + one aggregate; labels and the edge list are
    * lineage-truncated via [[Checkpoints]] (localCheckpoint locally,
    * reliable checkpoint on a cluster) so the plan does not grow with
    * rounds. (The
    * large-star/small-star formulation — Kiveris et al., "Connected
    * Components in MapReduce and Beyond" — is the same primitives
    * with edge rewriting; unnecessary here.)
    */
  def connectedComponents(pairs: DataFrame, aCol: String = "id_a",
                          bCol: String = "id_b",
                          maxIter: Int = 25): DataFrame = {
    val fwd = pairs.select(col(aCol).cast(LongType).as("src"),
      col(bCol).cast(LongType).as("dst"))
    val edges = Checkpoints.truncate(fwd
      .unionByName(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .distinct())
    // seed with one propagation folded in: lbl₀ = min(id, direct
    // neighbors) — the same aggregation that extracts the vertex set,
    // one fewer iteration for free
    var labels = Checkpoints.truncate(edges.groupBy(col("src"))
      .agg(min(col("dst")).as("_m"))
      .select(col("src").as("id"), least(col("src"), col("_m")).as("lbl")))
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val nbrMin = edges
        .join(labels.select(col("id").as("src"), col("lbl").as("slbl")), "src")
        .groupBy(col("dst").as("id"))
        .agg(min(col("slbl")).as("nlbl"))
      // pointer jump: the label of my label (labels is small after the
      // first rounds; AQE broadcasts the lookup side)
      val jump = labels.select(col("lbl").as("jid"), col("id"))
        .join(labels.select(col("id").as("jid"), col("lbl").as("jlbl")), "jid")
        .select(col("id"), col("jlbl"))
      // fold the convergence flag into the checkpointed pass: the
      // probe then scans cached blocks instead of re-joining old vs
      // new labels (one fewer job per round)
      val next = Checkpoints.truncate(labels
        .join(nbrMin, Seq("id"), "left")
        .join(jump, Seq("id"), "left")
        .select(col("id"), col("lbl").as("old"),
          least(col("lbl"),
            least(coalesce(col("nlbl"), col("lbl")),
              coalesce(col("jlbl"), col("lbl")))).as("lbl"))
        .select(col("id"), col("lbl"), (col("lbl") =!= col("old")).as("chg")))
      converged = next.filter(col("chg")).isEmpty
      labels = next.select(col("id"), col("lbl"))
      i += 1
    }
    require(converged, s"label propagation did not converge in $maxIter rounds")
    labels.select(col("id"), col("lbl").as("component"))
  }

  // ------------------------------------------- greedy arrival admission

  /** Greedy arrival-order admission over a verified near-dup pair
    * graph: scan documents in ascending id (= arrival order) and
    * ADMIT each unless it is a verified near-dup of an already-
    * ADMITTED document — the online policy a continuous-ingestion
    * dedup gate applies, and graph-theoretically the unique kernel
    * (lexicographically-first maximal independent set) of the DAG of
    * pairs oriented small→large id.
    *
    * Input `pairs` must carry (aCol < bCol) verified edges (e.g.
    * [[minhashLsh]] output); `docIds` the full vertex set (isolated
    * docs are admitted). Returns one row per doc:
    * (id, status 'A'|'R', dup_of) where dup_of = the SMALLEST admitted
    * neighbor for rejected docs (deterministic witness), null for
    * admitted ones.
    *
    * Fixpoint, not a sequential scan: each round (a) docs with NO
    * remaining in-edge are admitted (all their in-neighbors have been
    * rejected — or never existed), (b) dsts of edges out of newly
    * admitted docs are rejected, (c) edges touching resolved docs are
    * dropped. Rounds = kernel depth = the longest alternating
    * admit/reject chain in id order; near-dup clusters are near-
    * cliques, which resolve in one or two rounds, so depth stays O(1)
    * while each round is frontier-sized shuffles only — the same
    * frontier discipline as [[connectedComponents]]. Lineage is
    * truncated per round via [[Checkpoints]]. */
  def kernelAdmit(docIds: DataFrame, pairs: DataFrame,
                  idCol: String = "id", aCol: String = "id_a",
                  bCol: String = "id_b", maxIter: Int = 40): DataFrame = {
    val allPairs = Checkpoints.truncate(pairs
      .select(col(aCol).cast(LongType).as("src"), col(bCol).cast(LongType).as("dst"))
      .filter(col("src") < col("dst"))
      .distinct())
    var edges = allPairs
    var frontier = Checkpoints.truncate(
      docIds.select(col(idCol).cast(LongType).as("id")).distinct())
    val spark = docIds.sparkSession
    import spark.implicits._
    var admitted = spark.emptyDataset[Long].toDF("id")
    var i = 0
    var done = frontier.isEmpty
    while (!done && i < maxIter) {
      // (a) no remaining in-edge → all in-neighbors rejected → admit
      val newA = frontier.join(
        edges.select(col("dst").as("id")).distinct(), Seq("id"), "left_anti")
      // (b) an edge from a newly admitted doc rejects its dst
      val newR = edges.join(newA.select(col("id").as("src")), Seq("src"))
        .select(col("dst").as("id")).distinct()
      // newA's lineage is two anti-joins over the CHECKPOINTED frontier
      // and edge frames, so the admitted union accumulates shallow
      // terms — no per-round materialization job needed; truncate every
      // 8th round only to bound the union width on adversarially deep
      // kernels (round-14: one fewer job per round)
      admitted = admitted.unionByName(newA)
      if (i % 8 == 7) admitted = Checkpoints.truncate(admitted)
      frontier = Checkpoints.truncate(
        frontier.join(newA, Seq("id"), "left_anti")
          .join(newR, Seq("id"), "left_anti"))
      // (c) keep only edges between still-unresolved docs: admitted
      // srcs have fired, rejected srcs impose no constraint, resolved
      // dsts need no more evidence
      edges = Checkpoints.truncate(edges
        .join(frontier.select(col("id").as("src")), Seq("src"))
        .join(frontier.select(col("id").as("dst")), Seq("dst")))
      done = frontier.isEmpty
      i += 1
    }
    require(done, s"kernel admission did not converge in $maxIter rounds")
    // witness: smallest ADMITTED in-neighbor of each rejected doc
    val witness = allPairs
      .join(admitted.select(col("id").as("src")), Seq("src"))
      .groupBy(col("dst").as("id")).agg(min(col("src")).as("dup_of"))
    docIds.select(col(idCol).cast(LongType).as("id")).distinct()
      .join(admitted.withColumn("_a", lit(true)), Seq("id"), "left")
      .join(witness, Seq("id"), "left")
      .select(col("id"),
        when(col("_a").isNotNull, lit("A")).otherwise(lit("R")).as("status"),
        when(col("_a").isNotNull, lit(null).cast(LongType))
          .otherwise(col("dup_of")).as("dup_of"))
  }

  /** [[kernelAdmit]] over [[minhashLsh]]'s verified near-dup pairs:
    * the batch form of a continuous-ingestion near-dup gate (its
    * streaming twin is `graft.streaming.StreamingOps.nearDupAdmit`,
    * proven batch-equivalent in NearDupAdmitSpec). Returns
    * (doc_id, status, dup_of) for every input doc. */
  def greedyAdmit(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text", numHashes: Int = 16,
                  numBands: Int = 4, shingleSize: Int = 3,
                  threshold: Double = 0.5): DataFrame =
    kernelAdmit(docs.select(col(idCol)),
      minhashLsh(docs, idCol, textCol, numHashes, numBands, shingleSize,
        threshold), idCol = idCol)
      .withColumnRenamed("id", "doc_id")

  /** Cross-release admission — the batch analogue of ONE
    * `StreamingOps.admitBatch` micro-batch with `prior` as the
    * accumulated state, expressed purely (no state I/O) so a
    * release-over-release novelty audit can run it as a query: every
    * `incoming` doc is admitted unless (a) a verified near-dup (LSH
    * candidates, exact Jaccard ≥ threshold) of a PRIOR-release doc —
    * witness = smallest such prior doc — or (b) rejected by the
    * greedy kernel over within-release verified pairs, where edges
    * touching a prior-rejected doc are dropped (a rejected doc
    * imposes no constraint — the admitBatch rule). Ids of the two
    * releases must be disjoint (the caller's release-numbering
    * contract, same as admitBatch's state).
    *
    * Id-order asymmetry vs the streaming twin: RELEASE order wins
    * here, not id order. admitBatch filters state candidates with
    * `id_a < id_b` because its state ids are guaranteed smaller than
    * the batch's (ids only grow in arrival order); admitAgainst
    * deliberately drops that filter and rejects an incoming doc
    * against ANY prior near-dup, smaller id or not — a prior release
    * is already shipped, so it wins regardless of numbering (q228's
    * interleaved %5 split relies on exactly this). The two functions
    * therefore coincide only when every prior id is below every
    * incoming id — the regime NearDupAdmitSpec proves — and diverge
    * by design when releases interleave in id space.
    *
    * Scale shape: prior never self-joins — its bands meet incoming's
    * bands in one hash join keyed by the 16-byte band digest, so the
    * cross-candidate mass is LSH-bucket-bounded exactly like the
    * streaming state join; the within-release kernel is frontier-
    * sized rounds over the (small) incoming release only.
    *
    * @return (id, status 'A'|'R', dup_of) for every incoming doc. */
  def admitAgainst(prior: DataFrame, incoming: DataFrame,
                   idCol: String = "doc_id", textCol: String = "text",
                   numHashes: Int = 16, numBands: Int = 4,
                   shingleSize: Int = 3,
                   threshold: Double = 0.5): DataFrame = {
    // prior shingles feed (bands, verify-union); incoming shingles
    // feed (bands, verify-union, survivors, inner verify) — truncate
    // both so each corpus tokenize+shingle pass runs once (round-14)
    val shP = Checkpoints.truncate(
      shingleSets(prior, idCol, textCol, shingleSize))
    val shI = Checkpoints.truncate(
      shingleSets(incoming, idCol, textCol, shingleSize))
    val sigsI = minhashSignatures(shI, numHashes)
    val crossCands = bandedIds(minhashSignatures(shP, numHashes),
        numHashes, numBands)
      .select(col("band"), col("id").as("id_a"))
      .join(bandedIds(sigsI, numHashes, numBands)
        .select(col("band"), col("id").as("id_b")), Seq("band"))
      .select(col("id_a"), col("id_b")).distinct()
    val priorRejected = verifyJaccard(crossCands,
        shP.unionByName(shI), threshold)
      .groupBy(col("id_b").as("id")).agg(min(col("id_a")).as("dup_of"))
    val survivors = shI.select(col("id"))
      .join(priorRejected.select(col("id")), Seq("id"), "left_anti")
    val innerPairs = verifyJaccard(
      lshCandidatePairs(sigsI, numHashes, numBands)
        .join(survivors.select(col("id").as("id_a")), Seq("id_a"))
        .join(survivors.select(col("id").as("id_b")), Seq("id_b")),
      shI, threshold)
    kernelAdmit(survivors, innerPairs)
      .unionByName(priorRejected.select(col("id"),
        lit("R").as("status"), col("dup_of")))
  }

  // ------------------------------------------------- embedding near-dup

  /** Embedding-cosine near-dup within a blocking column (e.g. a
    * cluster/label id — at scale, an SRP-LSH bucket from
    * [[graft.functions.VectorFunctions.srpBucket]]): pairs with
    * cosine ≥ `threshold`. */
  def embeddingNearDup(embs: DataFrame, idCol: String = "vec_id",
                       vecCol: String = "embedding", blockCol: String = "label",
                       threshold: Double = 0.95,
                       maxIdGap: Option[Long] = None): DataFrame = {
    val prepped = embs.select(col(idCol).cast(LongType).as("id"),
      col(blockCol).as("blk"), col(vecCol).as("v"))
    // pre-partition the probe side by block: pair generation is the
    // CPU-heavy stage (per-bucket cosine mass never shuffles), and
    // under a broadcast join its parallelism would otherwise be the
    // INPUT FILE COUNT — a 2-file table probes on 2 cores no matter
    // how many the cluster has. Hash-distributing on blk restores
    // full-width parallelism; when both sides are big and Spark
    // plans a sort-merge join instead, this exchange is the one the
    // join needs anyway, so it costs nothing extra.
    // AQE-coalescing note (the q140 hazard, see sortedNeighborhoodPairs):
    // a keyed repartition lets AQE pick the width by BYTES, which
    // single-threaded q140's byte-light (3 longs/row) pair list. Here the
    // relation carries the full embedding vectors, so byte mass is
    // proportional to the downstream cosine work and AQE's byte-based
    // sizing is the right proxy — no explicit width pin needed. Verified
    // wide in the diverse-sf8 rung (q34/q75 linear, CORRECTNESS_SCALE.json).
    val a = prepped.repartition(col("blk")).as("a"); val b = prepped.as("b")
    val gapCond = maxIdGap
      .map(g => col("b.id") - col("a.id") <= g)
      .getOrElse(lit(true))
    a.join(b, col("a.blk") === col("b.blk") && col("a.id") < col("b.id") && gapCond)
      .withColumn("cos", VectorFunctions.cosine(col("a.v"), col("b.v")))
      .filter(col("cos") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
  }

  // ------------------------------------------------ sorted neighborhood

  /** Sorted-neighborhood candidate pairs (Hernández & Stolfo's
    * merge/purge method): globally order records by `sortKey` (ties
    * broken by id for determinism), then emit every pair whose ranks
    * differ by at most `window`. The classic blocking alternative to
    * LSH — one sort instead of signature computation, and the
    * candidate count is exactly n·window by construction.
    *
    * Scale shape: the global rank comes from [[Ids.addContiguousIds]]
    * (range exchange + driver-side partition offsets — no
    * single-partition window),
    * and the windowed self-join never compares ranks pairwise:
    * rows land in rank-blocks of size `window`, each left row probes
    * its own block and the next one (two equi-join keys), so any pair
    * within `window` ranks meets in exactly one bucket. Shuffles are
    * all on uniformly distributed block ids.
    *
    * Output: (a_id, b_id, rank_gap) with a_id ranked before b_id,
    * plus `a_<name>`/`b_<name>` for every `carry` column.
    * Verification (edit distance, Jaccard, …) is the caller's second
    * stage, run only on these n·window candidates.
    *
    * `carry` (round-14 optimization): the comparator features each
    * caller needs per pair (capped substrings, token sets) ride
    * THROUGH the rank/block machinery instead of being joined back
    * onto the skinny pair list afterwards. The old shape evaluated
    * the corpus three times (rank side + both feature-join sides)
    * and paid two extra joins per consumer; carrying the features
    * evaluates the corpus once (the rank checkpoint materializes
    * them) and the block join moves the same bytes those joins would
    * have shuffled anyway. */
  def sortedNeighborhoodPairs(docs: DataFrame, sortKey: Column, window: Int,
                              idCol: String = "doc_id",
                              carry: Seq[(String, Column)] = Nil): DataFrame = {
    require(window >= 1, "window must be >= 1")
    val keyed = docs.select(Seq(col(idCol).cast(LongType).as("id"),
      sortKey.as("snm_key")) ++ carry.map { case (n, c) => c.as(n) }: _*)
    val ranked = Ids
      .addContiguousIds(keyed, Seq(col("snm_key"), col("id")), "rank")
      .select(col("id") +: col("rank") +: carry.map(c => col(c._1)): _*)
    val blk = floor(col("rank") / window).cast(LongType)
    val left = ranked.select(col("id").as("a_id") +: col("rank").as("a_rank") +:
      explode(array(blk, blk + 1L)).as("probe") +:
      carry.map(c => col(c._1).as(s"a_${c._1}")): _*)
    val right = ranked.select(col("id").as("b_id") +: col("rank").as("b_rank") +:
      blk.as("probe") +: carry.map(c => col(c._1).as(s"b_${c._1}")): _*)
    left.join(right, Seq("probe"))
      .filter((col("b_rank") - col("a_rank")).between(lit(1), lit(window)))
      .select(col("a_id") +: col("b_id") +:
        (col("b_rank") - col("a_rank")).as("rank_gap") +:
        carry.flatMap(c => Seq(col(s"a_${c._1}"), col(s"b_${c._1}"))): _*)
      // The pair list is skinny (3 longs/row) but every consumer runs
      // a CPU-dense comparator over it (edit distance, Jaro–Winkler,
      // token Jaccard). AQE coalesces shuffle output by BYTES, so the
      // few-MB candidate list collapses to ~1 partition and the DP
      // runs single-threaded — measured 4.3 s → 1.0 s on q140 at
      // sf0.1 when the comparator stage is kept wide. An explicit
      // numPartitions repartition is exempt from AQE coalescing and
      // scales with the cluster (defaultParallelism = total cores);
      // the re-shuffled bytes are negligible by construction.
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
  }
}
