package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}
import graft.functions.TextFunctions
import graft.queries.ExtensionQueries.{cosSql, toksSql}
import graft.queries.QueryDef.{eventsTable, table}
import graft.functions.DecimalExprs.dec2

/** Round-4 continuation: the retrieval-fusion / model-scoring tier —
  * reciprocal-rank fusion of lexical (BM25) and semantic (embedding
  * cosine) rankings, a Naive Bayes language classifier with a proper
  * train/score split (the "fastText-style quality classifier" slot of
  * an LLM curation pipeline), and exact integer EWMA smoothing.
  *
  * Bit-stability conventions follow [[QueryDef]]: rank fusion and
  * EWMA are pure BIGINT arithmetic; classifier log-likelihoods use
  * the q139/q150 pattern (per-term round-then-exact-DECIMAL-sum, one
  * final double cast) so sum order can never matter.
  */
object RetrievalQueries {

  /** q153 — reciprocal-rank-fusion hybrid retrieval (Cormack et al.
    * 2009): fuse the integer-exact BM25 ranking (q101's formulation,
    * unlimited) with the embedding-cosine ranking for query vector
    * vec_id = 0 (`embeddings.vec_id` is 1:1 with `documents.doc_id`).
    * Each list contributes 10⁹ div (60 + rank); absent docs
    * contribute 0 (RRF over the union of lists). All-integer fusion
    * means the hybrid ranking is bit-identical in any engine.
    *
    * Plan shape: the lexical side shuffles only matching postings
    * (token filter BEFORE explode); the semantic side is one
    * broadcast-query corpus pass (q35's shape). Both rankings need
    * EXACT global ranks (the fused output reports them), so neither
    * can be top-k-truncated without changing the query — instead each
    * rank comes from [[graft.operators.Ids.addContiguousIds]] (range-
    * partitioned sort + driver-side partition offsets), never a
    * global `row_number`
    * window: for a high-df term the lexical match set — and always
    * the semantic corpus pass — is corpus-proportional, and the
    * window form would serialize it through one task. Oracles stay in
    * window form and hash-match; the no-Window/no-SinglePartition
    * plan shape is asserted by [[graft.ScaleSpec]]'s
    * "q106/q156/q153" plan test. */
  private val hybridTerms = Seq("spark", "vector", "stream")

  private val q153 = QueryDef(
    "q153_rrf_hybrid",
    (s, dir) => {
      val lexScore = ServingQueries.bm25TermScores(table(s, dir, "documents"), hybridTerms)
        .groupBy(col("doc_id")).agg(sum(col("term_score")).as("score"))
      // the two rank branches are independent — build them
      // concurrently (guide §2.6, the q156/q219 pattern) so the
      // semantic side's eager Ids materialization overlaps the
      // lexical side's instead of queuing behind it (round-15)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val lexF = Future(graft.operators.Ids
        .addContiguousIds(lexScore, Seq(col("score").desc, col("doc_id")), "lex_rank")
        .select(col("doc_id"), col("lex_rank")))
      // single query ⇒ bruteForceTopK's per-query window would hold
      // the whole corpus in one partition; score inline and rank with
      // the same range-partitioned discipline as the lexical side
      val e = table(s, dir, "embeddings")
      val qv = broadcast(e.filter(col("vec_id") === 0)
        .select(col("vec_id").cast(LongType).as("q_id"), col("embedding").as("q_v")))
      val semScored = e
        .select(col("vec_id").cast(LongType).as("n_id"), col("embedding").as("n_v"))
        .join(qv, col("q_id") =!= col("n_id"))
        .select(col("n_id"),
          graft.functions.VectorFunctions.cosine(col("q_v"), col("n_v")).as("cos"))
      val semF = Future(graft.operators.Ids
        .addContiguousIds(semScored, Seq(col("cos").desc, col("n_id")), "sem_rank")
        .select(col("n_id").as("doc_id"), col("sem_rank")))
      val Seq(lex, sem) =
        Await.result(Future.sequence(Seq(lexF, semF)), Duration.Inf)
      lex.join(sem, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          coalesce(col("lex_rank"), lit(0L)).as("lex_rank"),
          coalesce(col("sem_rank"), lit(0L)).as("sem_rank"),
          (coalesce(expr("1000000000L div (60L + lex_rank)"), lit(0L)) +
            coalesce(expr("1000000000L div (60L + sem_rank)"), lit(0L)))
            .as("rrf"))
        .orderBy(col("rrf").desc, col("doc_id"))
        .limit(15)
    },
    Some(s"""
      WITH ${ServingQueries.bm25Sql(hybridTerms)},
      lexs AS (SELECT doc_id, SUM(term_score) AS score FROM sc GROUP BY 1),
      lex AS (SELECT doc_id,
                     CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS lex_rank
              FROM lexs),
      q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings WHERE vec_id = 0),
      c2 AS (SELECT vec_id AS n_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      sem AS (
        SELECT n_id AS doc_id,
               CAST(ROW_NUMBER() OVER (ORDER BY cos DESC, n_id) AS BIGINT) AS sem_rank
        FROM (SELECT n_id, $cosSql AS cos
              FROM q a JOIN c2 b ON q_id <> n_id)),
      fused AS (
        SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id,
               COALESCE(lex_rank, 0) AS lex_rank,
               COALESCE(sem_rank, 0) AS sem_rank,
               (CASE WHEN lex_rank IS NULL THEN 0
                     ELSE 1000000000 // (60 + lex_rank) END
                + CASE WHEN sem_rank IS NULL THEN 0
                       ELSE 1000000000 // (60 + sem_rank) END) AS rrf
        FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id)
      SELECT doc_id, lex_rank, sem_rank, CAST(rrf AS BIGINT) AS rrf
      FROM fused ORDER BY rrf DESC, doc_id LIMIT 15"""))

  /** q154 — Naive Bayes language classifier with a train/score split
    * (the trainable-classifier slot — fastText-style quality/language
    * filters — of an LLM curation pipeline): multinomial NB with
    * add-one smoothing trained on even doc_ids, scored over EVERY
    * document. Per-token terms are
    * -ln((count(w,c)+1)/(tokens_c + V)), rounded to DECIMAL(28,6)
    * before the per-(doc,class) sum (q150's pattern — add order can't
    * matter), plus the smoothed log-prior; the predicted class is the
    * (nll, lang) minimum, so ties break deterministically.
    *
    * Plan shape: class-conditional counts are one token-explode
    * shuffle; scoring joins each token against the broadcast-sized
    * (class × vocab) count table and sums per (doc, class) — classes
    * are a constant factor, so the corpus is exploded once and
    * shuffled on doc_id only. Token-less docs are kept (prior-only
    * score) via the q150 left-join-back. */
  private val q154 = QueryDef(
    "q154_nb_lang_classifier",
    (s, dir) => {
      // round-15 note: two rewrites of the token passes were A/B'd and
      // BOTH reverted — (a) checkpointing the per-(doc, word) count
      // table and deriving cwc from it (one explode total) measured
      // 2.0 → 3.5 s (corpus-wide checkpoint + extra doc_id reshuffle
      // cost more than the explode saved); (b) a wide-checkpointed raw
      // doc frame measured a wash in isolation but ×1.06–1.09 across
      // two full 3-pass benches. q154's cost is not the scan stage;
      // the round-14 shape ships unchanged.
      val docs = table(s, dir, "documents")
      val toks = docs.select(col("doc_id"),
        explode(TextFunctions.tokens(col("text"))).as("w"))
      val train = toks.filter(col("doc_id") % 2 === 0)
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      // round-14: ctot and vocab are derivable from the (class, word)
      // count table — tot = Σ_w c per class, V = distinct w — so
      // materialize cwc once and aggregate the tiny cached frame
      // instead of re-running the corpus explode+join for each of the
      // three broadcast model tables (three full token passes → one)
      val cwc = graft.operators.Checkpoints.truncate(
        train.groupBy(col("lang").as("lang_c"), col("w"))
          .agg(count(lit(1)).as("c")))
      val ctot = cwc.groupBy(col("lang_c")).agg(sum(col("c")).as("tot"))
      val vocab = cwc.agg(countDistinct(col("w")).as("v"))
      val trainDocs = docs.filter(col("doc_id") % 2 === 0)
      val priors = trainDocs.groupBy(col("lang").as("lang_c"))
        .agg(count(lit(1)).as("dc"))
        .crossJoin(broadcast(
          trainDocs.agg(count(lit(1)).as("nd"), countDistinct(col("lang")).as("nc"))))
        .select(col("lang_c"),
          round(-log((col("dc") + lit(1)).cast(DoubleType) / (col("nd") + col("nc"))), 6)
            .cast(DecimalType(28, 6)).as("prior"))
      val classes = priors.select(col("lang_c"))
      // collapse to per-(doc, word) counts BEFORE the class cross, so
      // the ×|classes| blowup applies to distinct words, not every
      // token occurrence; cnt · round(term, 6) is exact decimal, so
      // the scores are identical to summing per-occurrence terms
      val tokCnt = toks.groupBy(col("doc_id"), col("w"))
        .agg(count(lit(1)).as("tcnt"))
      val terms = tokCnt.crossJoin(broadcast(classes))
        .join(broadcast(cwc), Seq("lang_c", "w"), "left")
        .join(broadcast(ctot), Seq("lang_c"))
        .crossJoin(broadcast(vocab))
        .select(col("doc_id"), col("lang_c"), col("tcnt"),
          (col("tcnt") *
            round(-log((coalesce(col("c"), lit(0L)) + lit(1)).cast(DoubleType)
              / (col("tot") + col("v"))), 6).cast(DecimalType(28, 6)))
            .cast(DecimalType(28, 6)).as("term"))
      val scored = terms.groupBy(col("doc_id"), col("lang_c"))
        .agg(sum(col("term")).as("ts"), sum(col("tcnt")).as("n_tokens"))
      val full = docs.select(col("doc_id"), col("lang"))
        .crossJoin(broadcast(classes))
        .join(scored, Seq("doc_id", "lang_c"), "left")
        .join(broadcast(priors), Seq("lang_c"))
        .select(col("doc_id"), col("lang"), col("lang_c"),
          (coalesce(col("ts"), lit(0).cast(DecimalType(28, 6))) + col("prior"))
            .as("nll"),
          coalesce(col("n_tokens"), lit(0L)).as("n_tokens"))
      val best = Window.partitionBy(col("doc_id"))
        .orderBy(col("nll"), col("lang_c"))
      full.withColumn("rn", row_number().over(best))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("lang"), col("lang_c").as("pred"),
          (col("lang") === col("lang_c")).as("correct"),
          col("nll").cast(DoubleType).as("pred_nll"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH toks AS (
        SELECT doc_id, unnest($toksSql) AS w FROM documents),
      train AS (
        SELECT t.doc_id, t.w, d.lang
        FROM toks t JOIN documents d USING (doc_id)
        WHERE t.doc_id % 2 = 0),
      cwc AS (SELECT lang AS lang_c, w, COUNT(*) AS c FROM train GROUP BY 1, 2),
      ctot AS (SELECT lang AS lang_c, COUNT(*) AS tot FROM train GROUP BY 1),
      vocab AS (SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS v FROM train),
      td AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
      tds AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd,
                     CAST(COUNT(DISTINCT lang) AS BIGINT) AS nc FROM td),
      priors AS (
        SELECT lang AS lang_c,
               CAST(ROUND(-ln(CAST(COUNT(*) + 1 AS DOUBLE) / (nd + nc)), 6)
                 AS DECIMAL(28, 6)) AS prior
        FROM td, tds GROUP BY lang, nd, nc),
      classes AS (SELECT lang_c FROM priors),
      tokcnt AS (
        SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tcnt
        FROM toks GROUP BY 1, 2),
      terms AS (
        SELECT t.doc_id, cl.lang_c, t.tcnt,
               CAST(t.tcnt *
                 CAST(ROUND(-ln(CAST(COALESCE(cwc.c, 0) + 1 AS DOUBLE)
                   / (ctot.tot + vocab.v)), 6) AS DECIMAL(28, 6))
                 AS DECIMAL(28, 6)) AS term
        FROM tokcnt t
        CROSS JOIN classes cl
        LEFT JOIN cwc ON cwc.lang_c = cl.lang_c AND cwc.w = t.w
        JOIN ctot ON ctot.lang_c = cl.lang_c
        CROSS JOIN vocab),
      scored AS (
        SELECT doc_id, lang_c, SUM(term) AS ts, SUM(tcnt) AS n_tokens
        FROM terms GROUP BY 1, 2),
      full_s AS (
        SELECT d.doc_id, d.lang, cl.lang_c,
               COALESCE(s.ts, CAST(0 AS DECIMAL(28, 6))) + p.prior AS nll
        FROM documents d
        CROSS JOIN classes cl
        LEFT JOIN scored s ON s.doc_id = d.doc_id AND s.lang_c = cl.lang_c
        JOIN priors p ON p.lang_c = cl.lang_c),
      best AS (
        SELECT doc_id, lang, lang_c, nll,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY nll, lang_c) AS rn
        FROM full_s)
      SELECT doc_id, lang, lang_c AS pred, lang = lang_c AS correct,
             CAST(nll AS DOUBLE) AS pred_nll
      FROM best WHERE rn = 1 ORDER BY doc_id"""))

  /** q155 — exact integer EWMA smoothing (α = 1/2) per user over the
    * event stream: s₀ = v₀, sᵢ = ⌊(sᵢ₋₁ + vᵢ) / 2⌋ over the user's
    * events in (ts, event_id) order, values in exact cents. Integer
    * floor recursion makes the sequential fold bit-identical in any
    * engine — the usual αˣ float-power EWMA can't be hash-checked.
    *
    * Plan shape: one shuffle on user_id; the ordered fold runs as a
    * per-row higher-order `aggregate` over the user's collected
    * series — per-user state is the user's own history (the same
    * bound any order-sensitive per-key recursion needs), never a
    * corpus-wide window. */
  private val q155 = QueryDef(
    "q155_ewma_smoothing",
    (s, dir) => {
      eventsTable(s, dir)
        .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("ts_ms"),
          dec2(col("value")).as("v"))
        .withColumn("cents", (col("v") * 100).cast(LongType))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sort_array(collect_list(struct(col("ts_ms"), col("event_id"),
            col("cents")))).as("series"))
        .withColumn("vs", expr("transform(series, p -> p.cents)"))
        .withColumn("ewma_cents",
          expr("aggregate(slice(vs, 2, size(vs) - 1), vs[0], (acc, x) -> (acc + x) div 2)"))
        .select(col("user_id"), col("n_events"), col("ewma_cents"))
        .orderBy(col("user_id"))
    },
    Some("""
      WITH e AS (
        SELECT user_id, event_id,
               epoch_ms(CAST(ts AS TIMESTAMP)) AS ts_ms,
               CAST(CAST(value AS DECIMAL(18, 2)) * 100 AS BIGINT) AS cents
        FROM events),
      s AS (
        SELECT user_id, COUNT(*) AS n_events,
               list(cents ORDER BY ts_ms, event_id) AS vs
        FROM e GROUP BY 1)
      SELECT user_id, n_events,
             CAST(list_reduce(vs, (acc, x) -> (acc + x) // 2) AS BIGINT) AS ewma_cents
      FROM s ORDER BY user_id"""))

  val all: Seq[QueryDef] = Seq(q153, q154, q155)
}
