package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.{RollingHashExpr, TextFunctions, VectorFunctions}
import graft.functions.TextFunctions._
import graft.operators.{Dedup, EventWindows, Similarity, TextAnalysis}
import QueryDef.{eventsTable, spreadTable, table}
import graft.functions.DecimalExprs.dec2

/** Extension query set — the LLM-training-data-pipeline operators
  * (SURVEY.md §7.5): event windowing, dedup family, similarity
  * search, text analysis, multimodal plumbing. Each DuckDB oracle is
  * generated from the same constants as the Spark implementation so
  * the two can't drift.
  *
  * The corpus has no natural duplicates, so dedup queries union in
  * deterministic mutated copies (id+1,000,000) — identical synthesis
  * on both engines — to guarantee real match work at every scale
  * factor.
  */
object ExtensionQueries {

  // ------------------------------------------------------------- events

  private val q20 = QueryDef(
    "q20_tumbling_window",
    (s, dir) => EventWindows.tumbling(eventsTable(s, dir))
      .orderBy(col("window_start_ms"), col("event_type")),
    Some("""
      SELECT epoch_ms(time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP))) AS window_start_ms,
             event_type, COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
             COUNT(DISTINCT user_id) AS n_users
      FROM events GROUP BY 1, 2 ORDER BY 1, 2"""))

  private val q21 = QueryDef(
    "q21_sliding_window",
    (s, dir) => EventWindows.sliding(eventsTable(s, dir))
      .orderBy(col("window_start_ms"), col("event_type")),
    Some("""
      WITH w AS (
        SELECT time_bucket(INTERVAL '15 minutes', CAST(ts AS TIMESTAMP))
                 - k * INTERVAL '15 minutes' AS ws,
               event_type, value
        FROM events, generate_series(0, 3) g(k))
      SELECT epoch_ms(ws) AS window_start_ms, event_type, COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM w GROUP BY 1, 2 ORDER BY 1, 2"""))

  private val q22 = QueryDef(
    "q22_sessionize",
    (s, dir) => EventWindows.sessionize(eventsTable(s, dir))
      .select(col("user_id"), col("session_seq").cast(LongType).as("session_seq"),
        col("n_events"), col("session_start_ms"), col("session_end_ms"),
        col("sum_value"))
      .orderBy(col("user_id"), col("session_seq")),
    Some("""
      WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
      f AS (
        SELECT *, CASE WHEN prev IS NULL
                       OR epoch_ms(ts) - epoch_ms(prev) > 1800000
                  THEN 1 ELSE 0 END AS is_new
        FROM (SELECT *, LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM e)),
      s AS (
        SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_seq
        FROM f)
      SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
             COUNT(*) AS n_events, epoch_ms(MIN(ts)) AS session_start_ms,
             epoch_ms(MAX(ts)) AS session_end_ms,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM s GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** q23 — as-of join: each purchase event enriched with the user's
    * nearest prior click (at-or-before semantics). */
  private val q23 = QueryDef(
    "q23_asof_join",
    (s, dir) => {
      val e = eventsTable(s, dir)
      val clicks = e.filter(col("event_type") === "click")
      val purchases = e.filter(col("event_type") === "purchase")
      EventWindows.asOfJoin(clicks, purchases)
        .select(col("user_id"), col("right_id").as("purchase_id"),
          unix_millis(col("ts")).as("purchase_ts_ms"),
          col("asof_left_id").as("prior_click_id"))
        .orderBy(col("purchase_id"))
    },
    Some("""
      WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events),
      tagged AS (
        SELECT user_id, ts, event_id AS pay, 0 AS side, NULL AS rid
        FROM e WHERE event_type = 'click'
        UNION ALL
        SELECT user_id, ts, NULL, 1, event_id FROM e WHERE event_type = 'purchase'),
      scanned AS (
        SELECT *, LAST_VALUE(pay IGNORE NULLS) OVER (
            PARTITION BY user_id ORDER BY ts, side
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prior_click
        FROM tagged)
      SELECT user_id, rid AS purchase_id, epoch_ms(ts) AS purchase_ts_ms,
             prior_click AS prior_click_id
      FROM scanned WHERE side = 1 ORDER BY purchase_id"""))

  /** q53 — forward as-of join with tolerance: each click enriched
    * with the user's NEXT purchase within 2 hours (conversion
    * attribution — the directional/tolerance half of the as-of
    * surface q23 opens). */
  private val q53 = QueryDef(
    "q53_asof_forward",
    (s, dir) => {
      val e = eventsTable(s, dir)
      val clicks = e.filter(col("event_type") === "click")
      val purchases = e.filter(col("event_type") === "purchase")
      EventWindows.asOfJoin(purchases, clicks,
          direction = "forward", toleranceMs = Some(2L * 3600 * 1000))
        .select(col("user_id"), col("right_id").as("click_id"),
          unix_millis(col("ts")).as("click_ts_ms"),
          col("asof_left_id").as("next_purchase_id"))
        .orderBy(col("click_id"))
    },
    Some("""
      WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events),
      tagged AS (
        SELECT user_id, ts, event_id AS pay, 1 AS side, NULL AS rid
        FROM e WHERE event_type = 'purchase'
        UNION ALL
        SELECT user_id, ts, NULL, 0, event_id FROM e WHERE event_type = 'click'),
      scanned AS (
        SELECT *,
          FIRST_VALUE(pay IGNORE NULLS) OVER (
            PARTITION BY user_id ORDER BY ts, side
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nxt,
          FIRST_VALUE(CASE WHEN side = 1 THEN epoch_ms(ts) END IGNORE NULLS) OVER (
            PARTITION BY user_id ORDER BY ts, side
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nxt_ts
        FROM tagged)
      SELECT user_id, rid AS click_id, epoch_ms(ts) AS click_ts_ms,
             CASE WHEN nxt_ts - epoch_ms(ts) <= 7200000 THEN nxt END AS next_purchase_id
      FROM scanned WHERE rid IS NOT NULL ORDER BY click_id"""))

  /** q49 — gap sessionization via Spark's BUILT-IN `session_window`
    * operator (the Spark-first twin of q22's manual lag+cumsum
    * formulation; same shuffle shape, one groupBy on user_id). Window
    * end is exclusive: last event + gap — and that exclusivity is a
    * REAL boundary semantic: an event arriving at EXACTLY
    * previous + gap starts a NEW session here, while q22's manual
    * `Δ > gap` predicate merges it. The two formulations agree on
    * every non-boundary gap and deliberately differ on the exact-gap
    * tie; the oracle mirrors each one's own rule (`>=` here, `>` in
    * q22). Found by the round-6 full-registry sweep at gen-sf0.5 —
    * the first corpus with an exact 30:00.000 inter-event gap (one
    * session in 477k). */
  private val q49 = QueryDef(
    "q49_session_window",
    (s, dir) => eventsTable(s, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"),
        sum(dec2(col("value")))
          .cast(DoubleType).as("sum_value"))
      .select(col("user_id"),
        unix_millis(col("w.start")).as("session_start_ms"),
        unix_millis(col("w.end")).as("session_end_gap_ms"),
        col("n_events"), col("sum_value"))
      .orderBy(col("user_id"), col("session_start_ms")),
    Some("""
      WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
      f AS (
        SELECT *, CASE WHEN prev IS NULL
                       OR epoch_ms(ts) - epoch_ms(prev) >= 1800000
                  THEN 1 ELSE 0 END AS is_new
        FROM (SELECT *, LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM e)),
      s AS (
        SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS seq
        FROM f)
      SELECT user_id, epoch_ms(MIN(ts)) AS session_start_ms,
             epoch_ms(MAX(ts)) + 1800000 AS session_end_gap_ms,
             COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM s GROUP BY user_id, seq ORDER BY user_id, session_start_ms"""))

  /** q24 — approximate distinct (HLL sketch) per event type. The
    * sketch estimate itself is engine-specific, so it is hashed as a
    * WITHIN-BOUND FLAG instead of a value: the output carries the
    * exact distinct count (which DuckDB recomputes independently) and
    * `approx_ok` = |approx − exact| ≤ 5%·exact, which the oracle
    * asserts by emitting literal TRUE — a cross-engine bound check,
    * not a rows-only wave-through. EventWindowsSpec asserts the raw
    * estimate quality besides. */
  private val q24 = QueryDef(
    "q24_approx_distinct",
    (s, dir) => eventsTable(s, dir)
      .groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), 0.02).as("approx_users"),
        countDistinct(col("user_id")).as("exact_users"),
        count(lit(1)).as("n_events"))
      .select(col("event_type"), col("exact_users"), col("n_events"),
        (abs(col("approx_users") - col("exact_users")) <=
          greatest(lit(1L), expr("(exact_users * 5) div 100")))
          .as("approx_ok"))
      .orderBy(col("event_type")),
    Some("""
      SELECT event_type,
             COUNT(DISTINCT user_id) AS exact_users,
             COUNT(*) AS n_events,
             TRUE AS approx_ok
      FROM events GROUP BY 1 ORDER BY 1"""))

  /** q25 — JSON property extraction from the events `props` column
    * (semi-structured surface: get_json_object path queries). */
  private val q25 = QueryDef(
    "q25_json_props",
    (s, dir) => eventsTable(s, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast(LongType))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("k")).as("sum_k"),
        max(col("k")).as("max_k"),
        count(when(col("k").isNull, 1)).as("n_null_k"))
      .orderBy(col("event_type")),
    Some("""
      SELECT event_type, COUNT(*) AS n_events,
             CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
             MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
             COUNT(*) FILTER (WHERE json_extract_string(props, '$.k') IS NULL) AS n_null_k
      FROM events GROUP BY event_type ORDER BY event_type"""))

  // -------------------------------------------------------------- dedup

  /** Data-derived mutant-id offset for the augmented-corpus
    * conventions: the smallest multiple of 1,000,000 STRICTLY greater
    * than max(id). Equals exactly 1,000,000 on every corpus under 1M
    * ids (all driver fixtures and every tier through diverse-sf16,
    * 800k docs — so those hashes are unchanged by the re-key) and
    * steps to 2,000,000 at diverse-sf32's 1.6M docs: mutant ids stay
    * disjoint from base ids at ANY corpus size, and a base id is
    * always recoverable as `id % offset`. This removes the fixture
    * constant that used to partition the keyspace (the r12 q05/q48
    * lesson, applied here before the sf32 rung instead of after a
    * ladder defect). Cost: one 1-row max aggregate per query build —
    * a single-column parquet scan, bounded collect, negligible beside
    * the dedup joins the convention feeds. The SQL twins compute the
    * SAME integer expression as a scalar subquery
    * ([[mutantOffsetSql]]), so both engines derive one value from one
    * definition. */
  private[graft] def mutantOffset(df: org.apache.spark.sql.DataFrame,
                                    idCol: String): Long = {
    val maxId = df.agg(coalesce(max(col(idCol)), lit(0L))).head().getLong(0)
    (maxId / 1000000L + 1L) * 1000000L
  }

  /** DuckDB twin of [[mutantOffset]] — same integer arithmetic, as a
    * scalar subquery over the same table. */
  private[queries] def mutantOffsetSql(tableName: String, idCol: String): String =
    s"(SELECT (COALESCE(MAX($idCol), 0) // 1000000 + 1) * 1000000 FROM $tableName)"

  /** documents ∪ near-dup mutants: every 7th doc re-appears with one
    * appended token and its id shifted by [[mutantOffset]] (exactly
    * 1,000,000 on every corpus under 1M docs; data-derived past
    * that, so mutant ids never collide with real ids — see the
    * offset contract on [[mutantOffset]]). */
  private[graft] def augmentedDocs(s: SparkSession, dir: String,
                                   spread: Boolean = false): DataFrame = {
    // `spread = true` → scale-adaptive scan spread (QueryDef.spreadTable
    // rationale) for consumers whose per-row pipeline over the corpus
    // dominates one re-shuffle of the text; the default stays narrow for
    // the iterative-kernel consumers where extra stage width taxes every
    // tiny round (measured both ways in OPTIMIZATION_r14.md)
    val d0 = if (spread) spreadTable(s, dir, "documents") else table(s, dir, "documents")
    val d = d0.select(col("doc_id"), col("text"), col("source"))
    val off = mutantOffset(d, "doc_id")
    d.unionByName(d.filter(col("doc_id") % 7 === 0).select(
      (col("doc_id") + off).as("doc_id"),
      concat(col("text"), lit(" spark")).as("text"),
      col("source")))
  }

  private[queries] val augmentedDocsSql =
    s"""aug AS (
        SELECT doc_id, text, source FROM documents
        UNION ALL
        SELECT doc_id + ${mutantOffsetSql("documents", "doc_id")},
               text || ' spark', source
        FROM documents WHERE doc_id % 7 = 0)"""

  private[queries] val toksSql = "list_filter(string_split(lower(text), ' '), x -> x <> '')"

  /** Unrolled connected-components closure over a `pairs(id_a, id_b)`
    * CTE, producing `comp(id, component)` = every edge-touching node
    * with its component's minimum id — the q157/q225 unroll
    * discipline applied to the near-dup closure oracles (q67, q97,
    * q98, q137). Their previous `WITH RECURSIVE reach` transitive
    * closure made DuckDB re-evaluate the edge chain (and with it the
    * blocked all-pairs Jaccard in `pairs`) on every recursion
    * iteration even with MATERIALIZED on the chain — ~20 min per
    * oracle at gen-sf1 and ~75 min at gen-sf2, times four queries.
    * Here every round is a plain MATERIALIZED CTE, so `pairs` is paid
    * exactly once and each of the `rounds` min-label-propagation
    * steps is one tiny hash join over the edge list. lbl_k(v) =
    * min id within k hops of v, so `rounds` bounds the supported
    * distance from a component's minimum to its farthest member; the
    * sentinel makes under-unroll LOUD: if any label is still moving
    * at the end, every component id degrades to -1, which no engine
    * result contains, so the driver's hash gate fails instead of
    * silently passing a truncated closure. The unroll actually emits
    * `rounds + 1` steps and compares the LAST TWO: a closure whose
    * final label change lands exactly on step `rounds` is converged
    * (step rounds+1 is a pure verification pass that moves nothing),
    * so the full advertised hop distance is supported rather than
    * `rounds - 1` with a false -1 failure at the boundary. */
  private[queries] def closureUnrollSql(rounds: Int = 10): String = {
    val steps = (1 to (rounds + 1)).map { k =>
      s"""lbl$k AS MATERIALIZED (
        SELECT n.id, LEAST(n.lbl, COALESCE(MIN(x.lbl), n.lbl)) AS lbl
        FROM lbl${k - 1} n
        LEFT JOIN edges e ON e.dst = n.id
        LEFT JOIN lbl${k - 1} x ON x.id = e.src
        GROUP BY n.id, n.lbl)"""
    }.mkString(",\n      ")
    s"""edges AS MATERIALIZED (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION
        SELECT id_b, id_a FROM pairs),
      lbl0 AS MATERIALIZED (
        SELECT DISTINCT src AS id, src AS lbl FROM edges),
      $steps,
      unconverged AS (
        SELECT COUNT(*) AS n FROM lbl${rounds + 1} a
        JOIN lbl$rounds b ON a.id = b.id AND a.lbl <> b.lbl),
      comp AS (
        SELECT id,
               CASE WHEN (SELECT n FROM unconverged) = 0 THEN lbl
                    ELSE -1 END AS component
        FROM lbl${rounds + 1})"""
  }

  /** Word-3-gram shingles (SQL twin of TextFunctions.wordShingles). */
  private[queries] val shinglesSql =
    s"""CASE WHEN len(t) >= 3
         THEN list_transform(generate_series(1, len(t) - 2),
                             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
         ELSE [array_to_string(t, ' ')] END"""

  /** The near-dup cluster oracle of q67, q97, q98 and q137: the
    * augmented docs `aug`, their `toks`, the length-blocked word-3-
    * shingle Jaccard ≥ 0.3 `pairs`, closed into `comp(id, component)`
    * by [[closureUnrollSql]]. */
  private[queries] val jaccardClustersSql = s"""$augmentedDocsSql,
      toks AS (SELECT doc_id, source, text, $toksSql AS t FROM aug),
      prepped AS MATERIALIZED (
        SELECT doc_id AS id,
               source || '#' || CAST(length(text) // 64 AS VARCHAR) AS blk,
               list_distinct($shinglesSql) AS sh
        FROM toks),
      ex AS MATERIALIZED (
        SELECT id, blk, len(sh) AS n, unnest(sh) AS s FROM prepped),
      pairs AS MATERIALIZED (
        SELECT a.id AS id_a, b.id AS id_b
        FROM ex a JOIN ex b ON a.blk = b.blk AND a.s = b.s AND a.id < b.id
        GROUP BY a.id, b.id, a.n, b.n
        HAVING CAST(COUNT(*) AS DOUBLE) / (a.n + b.n - COUNT(*)) >= 0.3),
      ${closureUnrollSql()}"""

  private val q30 = QueryDef(
    "q30_dedup_exact",
    (s, dir) => Dedup.exact(augmentedDocs(s, dir)).orderBy(col("fp")),
    Some(s"""
      WITH $augmentedDocsSql
      SELECT md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp,
             MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
      FROM aug GROUP BY 1 ORDER BY fp"""))

  private val minhashSigSql: String =
    (0 until 16).map { i =>
      val a = Dedup.minhashA(i); val b = Dedup.minhashB(i)
      s"list_aggregate(list_transform(hs, h -> (h*$a + $b) % ${Dedup.MinhashP}), 'min') AS h$i"
    }.mkString(",\n               ")

  private val minhashBandsSql: String =
    (0 until 4).map { b =>
      val hs = (0 until 4).map(r => s"CAST(h${b * 4 + r} AS VARCHAR)")
        .mkString(" || ',' || ")
      s"SELECT doc_id, md5('$b,' || $hs) AS band FROM sig"
    }.mkString("\n        UNION ALL ")

  /** MinHash signatures of a `toks(doc_id, t)` CTE: distinct word
    * 3-shingles `shing(doc_id, sh)`, their hashes, and
    * `sig(doc_id, h0..h15)` — the oracle side of [[Dedup.minhashLsh]]
    * (q31, q225, q228). */
  private val minhashSigsSql: String = s"""shing AS (SELECT doc_id, list_distinct($shinglesSql) AS sh FROM toks),
      hashed AS (SELECT doc_id,
        list_transform(sh, s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)
                                  % ${Dedup.MinhashP}) AS hs
        FROM shing),
      sig AS (SELECT doc_id,
               $minhashSigSql
              FROM hashed)"""

  private val q31 = QueryDef(
    "q31_dedup_minhash_lsh",
    (s, dir) => Dedup.minhashLsh(augmentedDocs(s, dir))
      .orderBy(col("id_a"), col("id_b")),
    Some(s"""
      WITH $augmentedDocsSql,
      toks AS (SELECT doc_id, $toksSql AS t FROM aug),
      $minhashSigsSql,
      bands AS (
        $minhashBandsSql),
      cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id),
      sets AS (SELECT doc_id, sh FROM shing)
      SELECT id_a, id_b,
             CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS n_inter,
             CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS BIGINT) AS n_union,
             CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
               / len(list_distinct(list_concat(sa.sh, sb.sh))) AS jaccard
      FROM cand JOIN sets sa ON id_a = sa.doc_id JOIN sets sb ON id_b = sb.doc_id
      WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
               / len(list_distinct(list_concat(sa.sh, sb.sh))) >= 0.5
      ORDER BY id_a, id_b"""))

  /** q225 oracle: greedy arrival-order admission = the unique kernel
    * of the verified-pair DAG (edges oriented small→large doc_id),
    * computed by Kleene iteration unrolled to `KernelUnroll` rounds.
    * Round rule per doc (depends ONLY on in-neighbor statuses — the
    * update is inflationary on the information order U < A/R, so
    * recomputing every doc from the previous round's statuses is the
    * standard monotone fixpoint): any admitted in-neighbor → 'R';
    * all in-neighbors rejected (or none) → 'A'; else still 'U'.
    * Unrolling depth bounds the resolvable alternating-chain depth;
    * near-dup clusters are near-cliques (depth 1-2). If a corpus ever
    * produced a deeper chain, 'U' rows would survive to the output
    * and fail the hash gate LOUDLY rather than silently mis-admit. */
  private val KernelUnroll = 10

  private val kernelRoundsSql: String =
    (1 to KernelUnroll).map { k =>
      s"""st$k AS MATERIALIZED (
        SELECT d.id,
               CASE WHEN COALESCE(bool_or(p.s = 'A'), FALSE) THEN 'R'
                    WHEN COALESCE(bool_and(p.s = 'R'), TRUE) THEN 'A'
                    ELSE 'U' END AS s
        FROM ids d LEFT JOIN (
          SELECT e.dst, st.s FROM vp e JOIN st${k - 1} st ON st.id = e.src) p
          ON p.dst = d.id
        GROUP BY d.id)"""
    }.mkString(",\n      ")

  private val q225 = QueryDef(
    "q225_greedy_admission",
    (s, dir) => Dedup.greedyAdmit(augmentedDocs(s, dir))
      .orderBy(col("doc_id")),
    Some(s"""
      WITH $augmentedDocsSql,
      toks AS (SELECT doc_id, $toksSql AS t FROM aug),
      $minhashSigsSql,
      bands AS MATERIALIZED (
        $minhashBandsSql),
      cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id),
      sets AS MATERIALIZED (SELECT doc_id, sh FROM shing),
      vp AS MATERIALIZED (
        SELECT id_a AS src, id_b AS dst
        FROM cand JOIN sets sa ON id_a = sa.doc_id JOIN sets sb ON id_b = sb.doc_id
        WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                / len(list_distinct(list_concat(sa.sh, sb.sh))) >= 0.5),
      ids AS MATERIALIZED (SELECT doc_id AS id FROM aug),
      st0 AS (SELECT id, 'U' AS s FROM ids),
      $kernelRoundsSql,
      fin AS MATERIALIZED (SELECT * FROM st$KernelUnroll),
      wit AS (
        SELECT e.dst AS id, MIN(e.src) AS dup_of
        FROM vp e JOIN fin f ON f.id = e.src AND f.s = 'A'
        GROUP BY e.dst)
      SELECT i.id AS doc_id, f.s AS status,
             CASE WHEN f.s = 'R' THEN w.dup_of END AS dup_of
      FROM ids i JOIN fin f ON f.id = i.id LEFT JOIN wit w ON w.id = i.id
      ORDER BY doc_id"""))

  private val simhashBitsSql: String =
    (0 until 32).map { b =>
      s"""(CASE WHEN 2 * len(list_filter(t, tok -> substr(md5(tok), ${b + 1}, 1)
            IN ('8','9','a','b','c','d','e','f'))) >= len(t)
          THEN CAST(${1L << b} AS BIGINT) ELSE 0 END)"""
    }.mkString(" +\n        ")

  private val q32 = QueryDef(
    "q32_dedup_simhash",
    (s, dir) => Dedup.simhashSigs(table(s, dir, "documents"))
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id")),
    Some(s"""
      WITH toks AS (SELECT doc_id, $toksSql AS t FROM documents)
      SELECT doc_id, CAST($simhashBitsSql AS BIGINT) AS sig
      FROM toks ORDER BY doc_id"""))

  /** q33 — n-gram Jaccard over length-blocked ALL-PAIRS.
    *
    * INDEPENDENCE ANCHOR — do not "optimize" this oracle. Since the
    * round-9 closure-oracle rewrite, the q67/q97/q98/q137 oracles
    * generate candidate pairs through the same posting-list-join +
    * intersection-count shape the engine's Dedup path uses, which
    * erodes their independence: a shared conceptual bug in the
    * pair/Jaccard logic could pass the hash gate on both sides. q33's
    * oracle is the designated counterweight: it keeps the naive
    * blocked all-pairs formulation (`prepped a JOIN prepped b ON
    * a.blk = b.blk AND a.id < b.id` with list_intersect/list_distinct
    * set algebra) PERMANENTLY, so at least one Jaccard oracle derives
    * every pair and every intersection size by a construction the
    * engine never executes. The independence argument is recorded in
    * docs/PLANS.md (round 10, "oracle independence"). If this oracle
    * ever becomes too slow at a sweep tier, shrink the tier cell —
    * never adopt the posting-list shape here. */
  private val q33 = QueryDef(
    "q33_dedup_ngram_jaccard",
    // spread = true (round-15, guide §2.5): like q100, a straight
    // pairStats chain with no kernel downstream — the shingle pipeline
    // fuses into the 2-task union-scan stage without it
    (s, dir) => Dedup.ngramJaccard(augmentedDocs(s, dir, spread = true),
        threshold = 0.3)
      .orderBy(col("id_a"), col("id_b")),
    Some(s"""
      WITH $augmentedDocsSql,
      toks AS (SELECT doc_id, source, text, $toksSql AS t FROM aug),
      prepped AS (
        SELECT doc_id AS id,
               source || '#' || CAST(length(text) // 64 AS VARCHAR) AS blk,
               list_distinct($shinglesSql) AS sh
        FROM toks)
      SELECT a.id AS id_a, b.id AS id_b,
             CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS n_inter,
             CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS BIGINT) AS n_union,
             CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
               / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
      FROM prepped a JOIN prepped b ON a.blk = b.blk AND a.id < b.id
      WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
               / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.3
      ORDER BY id_a, id_b"""))

  // -------------------------------------------- embeddings / similarity

  /** embeddings ∪ scaled near-dup mutants (×1.01, cosine 1.0); ids
    * shifted by [[mutantOffset]] (same contract as [[augmentedDocs]]). */
  private[queries] def augmentedEmbs(s: SparkSession, dir: String): DataFrame = {
    val e = table(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), col("label"))
    val off = mutantOffset(e, "vec_id")
    e.unionByName(e.filter(col("vec_id") % 5 === 0).select(
      (col("vec_id") + off).as("vec_id"),
      transform(col("embedding"), x => x.cast("double") * 1.01).as("embedding"),
      col("label")))
  }

  private[queries] val augmentedEmbsSql =
    s"""aug AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        UNION ALL
        SELECT vec_id + ${mutantOffsetSql("embeddings", "vec_id")},
               list_transform(CAST(embedding AS DOUBLE[]), x -> x * 1.01)
        FROM embeddings WHERE vec_id % 5 = 0)"""

  private def planeSql(h: Int): String =
    "[" + VectorFunctions.hyperplane(h, 64)
      .map(d => f"$d%.1f").mkString(",") + "]::DOUBLE[]"

  private val srpBucketSql: String =
    (0 until 8).map { h =>
      s"(CASE WHEN list_dot_product(v, ${planeSql(h)}) >= 0 THEN CAST(${1L << h} AS BIGINT) ELSE 0 END)"
    }.mkString(" +\n          ")

  private[queries] val cosSql =
    """list_dot_product(a.v, b.v)
        / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))"""

  private val q34 = QueryDef(
    "q34_dedup_embedding",
    (s, dir) => {
      val aug = augmentedEmbs(s, dir)
        .withColumn("bucket", VectorFunctions.srpBucket(col("embedding"), 8, 64))
      Dedup.embeddingNearDup(aug, blockCol = "bucket", threshold = 0.95)
        .orderBy(col("id_a"), col("id_b"))
    },
    Some(s"""
      WITH $augmentedEmbsSql,
      bk AS (
        SELECT vec_id AS id, v,
          $srpBucketSql AS bkt
        FROM aug)
      SELECT a.id AS id_a, b.id AS id_b
      FROM bk a JOIN bk b ON a.bkt = b.bkt AND a.id < b.id
      WHERE $cosSql >= 0.95
      ORDER BY id_a, id_b"""))

  /** Oracle tail of the ANN queries q35-q37: each query's top 5 of a
    * `scored(q_id, n_id, cos)` CTE by (cos desc, n_id) — the SQL side
    * of `Similarity`'s top-k ranking. */
  private val cosTop5Sql = """ranked AS (
        SELECT q_id, n_id, cos,
               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rn
        FROM scored)
      SELECT q_id, CAST(rn AS BIGINT) AS rank, n_id, cos
      FROM ranked WHERE rn <= 5 ORDER BY q_id, rank"""

  private val q35 = QueryDef(
    "q35_knn_bruteforce",
    (s, dir) => {
      val e = table(s, dir, "embeddings")
      Similarity.bruteForceTopK(e, QueryDef.annWorkload(e), k = 5)
        .orderBy(col("q_id"), col("rank"))
    },
    Some(s"""
      WITH q AS (
        SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings WHERE vec_id % 200 = 0 AND vec_id < 2000),
      c AS (SELECT vec_id AS n_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      scored AS (
        SELECT q_id, n_id, $cosSql AS cos
        FROM q a JOIN c b ON q_id <> n_id),
      $cosTop5Sql"""))

  /** Per-table SRP bucket in DuckDB SQL: table `t` folds hyperplanes
    * [t·nBits, (t+1)·nBits) exactly like `Similarity.srpTopK`, with
    * the same `t << 32` disambiguator — the hyperplanes are
    * md5-derived constants, so the oracle inlines the identical
    * numbers and the sign bits agree bit-for-bit. */
  private def srpTableBucketSql(t: Int, nBits: Int): String =
    (0 until nBits).map { b =>
      s"(CASE WHEN list_dot_product(v, ${planeSql(t * nBits + b)}) >= 0 " +
        s"THEN CAST(${1L << b} AS BIGINT) ELSE 0 END)"
    }.mkString(" + ") + s" + CAST(${t.toLong << 32} AS BIGINT)"

  /** ANN scale path (multi-table SRP-LSH). The deterministic
    * hyperplanes make even the LSH path SQL-oracle-checkable:
    * identical buckets, identical candidate union, identical cosine
    * ranking. Recall quality is additionally evaluated against the
    * exact baseline in SimilaritySpec. */
  private val q36 = QueryDef(
    "q36_knn_srp_lsh",
    (s, dir) => {
      val e = table(s, dir, "embeddings")
      Similarity.srpTopK(e, QueryDef.annWorkload(e), k = 5, nBits = 4)
        .orderBy(col("q_id"), col("rank"))
    },
    Some(s"""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      bl AS (
        SELECT vec_id, u.bkt
        FROM (SELECT vec_id, v,
                     [${(0 until 4).map(t => srpTableBucketSql(t, 4)).mkString(",\n                      ")}] AS bkts
              FROM e),
             UNNEST(bkts) AS u(bkt)),
      q AS (SELECT vec_id AS q_id, bkt FROM bl WHERE vec_id % 200 = 0 AND vec_id < 2000),
      cand AS (
        SELECT DISTINCT q.q_id, c.vec_id AS n_id
        FROM q JOIN bl c ON q.bkt = c.bkt AND q.q_id <> c.vec_id),
      scored AS (
        SELECT cand.q_id, cand.n_id, $cosSql AS cos
        FROM cand
        JOIN e a ON a.vec_id = cand.q_id
        JOIN e b ON b.vec_id = cand.n_id),
      $cosTop5Sql"""))

  /** q37 — IVF cell-probe ANN (deterministic coarse quantizer, so the
    * full index build + probe is SQL-oracle-checkable, unlike q36's
    * recall-tested SRP path). */
  private val q37 = QueryDef(
    "q37_knn_ivf",
    (s, dir) => {
      val e = spreadTable(s, dir, "embeddings")
      Similarity.ivfTopK(e, QueryDef.annWorkload(e), k = 5,
          centroidEvery = 50, nProbe = 2)
        .orderBy(col("q_id"), col("rank"))
    },
    Some(s"""
      WITH corp AS (SELECT vec_id AS n_id, CAST(embedding AS DOUBLE[]) AS v
                    FROM embeddings),
      cents AS (SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS cv
                FROM embeddings WHERE vec_id % 50 = 0 AND vec_id < 2000),
      assign AS (
        SELECT n_id, v, c_id AS cell FROM (
          SELECT n_id, v, c_id,
                 ROW_NUMBER() OVER (PARTITION BY n_id ORDER BY cosc DESC, c_id) AS rn
          FROM (SELECT n_id, v, c_id,
                  list_dot_product(v, cv)
                    / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv))) AS cosc
                FROM corp, cents))
        WHERE rn = 1),
      qs AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
             FROM embeddings WHERE vec_id % 200 = 0 AND vec_id < 2000),
      probes AS (
        SELECT q_id, qv, c_id AS cell FROM (
          SELECT q_id, qv, c_id,
                 ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosc DESC, c_id) AS rn
          FROM (SELECT q_id, qv, c_id,
                  list_dot_product(qv, cv)
                    / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cosc
                FROM qs, cents))
        WHERE rn <= 2),
      scored AS (
        SELECT q_id, n_id,
               list_dot_product(qv, v)
                 / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))) AS cos
        FROM probes JOIN assign USING (cell)
        WHERE q_id <> n_id),
      $cosTop5Sql"""))

  /** q38 — vector norm statistics per label (order-independent
    * min/max over per-row double norms — exercises the native dot
    * product in an aggregation context). */
  private val q38 = QueryDef(
    "q38_vector_norm_stats",
    (s, dir) => table(s, dir, "embeddings")
      .select(col("label").cast(LongType).as("label"),
        VectorFunctions.norm2(col("embedding")).as("nrm"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        min(col("nrm")).as("min_norm"),
        max(col("nrm")).as("max_norm"))
      .orderBy(col("label")),
    Some("""
      SELECT CAST(label AS BIGINT) AS label, COUNT(*) AS n_vecs,
             MIN(sqrt(list_dot_product(v, v))) AS min_norm,
             MAX(sqrt(list_dot_product(v, v))) AS max_norm
      FROM (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
      GROUP BY 1 ORDER BY label"""))

  // ---------------------------------------------------------------- text

  private def langCaseSql: String = {
    val hits = TextFunctions.StopwordsByLang.map { case (lang, ws) =>
      val lst = ws.map(w => s"'$w'").mkString(",")
      lang -> s"len(list_filter(t, x -> x IN ($lst)))"
    }
    val mx = "greatest(" + hits.map(_._2).mkString(", ") + ")"
    val whens = hits.map { case (lang, h) =>
      s"WHEN $h > 0 AND $h = $mx THEN '$lang'"
    }.mkString("\n             ")
    s"CASE $whens ELSE 'und' END"
  }

  private val enListSql =
    TextFunctions.StopwordsByLang.head._2.map(w => s"'$w'").mkString(",")

  private val normSql = "regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')"

  private val rollSql =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(generate_series(1, length($normSql)),
            i -> CAST(ascii(substr($normSql, CAST(i AS INT), 1)) AS BIGINT))),
          (acc, x) -> (acc * 31 + x) % 1000000007)"""

  private val punctSql =
    """CASE WHEN length(text) = 0 THEN 0.0
         ELSE CAST(length(text) - length(regexp_replace(text, '[.,;:!?''"()-]', '', 'g')) AS DOUBLE)
              / length(text) END"""

  private val mtlSql =
    """CASE WHEN len(t) = 0 THEN 0.0
         ELSE CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE) / len(t) END"""

  private[queries] val qualitySql =
    s"""least(length(text) / 500.0, 1.0) * 0.3
       + least((CASE WHEN len(t) = 0 THEN 0.0
                ELSE CAST(len(list_filter(t, x -> x IN ($enListSql))) AS DOUBLE) / len(t) END) * 5.0, 1.0) * 0.3
       + (1.0 - least(($punctSql) * 4.0, 1.0)) * 0.2
       + (CASE WHEN ($mtlSql) >= 3.0 AND ($mtlSql) <= 10.0 THEN 1.0 ELSE 0.5 END) * 0.2"""

  private val q40 = QueryDef(
    "q40_text_profile",
    (s, dir) => TextAnalysis.profile(spreadTable(s, dir, "documents"))
      .select(col("doc_id"),
        col("n_chars_measured"),
        col("n_tokens"),
        col("mean_token_len"),
        col("punct_ratio"),
        col("lang_pred"),
        col("quality"),
        col("fingerprint_md5"),
        col("fingerprint_roll"))
      .orderBy(col("doc_id")),
    Some(s"""
      WITH toks AS (SELECT doc_id, text, $toksSql AS t FROM documents)
      SELECT doc_id,
             CAST(length(text) AS BIGINT) AS n_chars_measured,
             CAST(len(t) AS BIGINT) AS n_tokens,
             $mtlSql AS mean_token_len,
             $punctSql AS punct_ratio,
             $langCaseSql AS lang_pred,
             $qualitySql AS quality,
             md5($normSql) AS fingerprint_md5,
             $rollSql AS fingerprint_roll
      FROM toks ORDER BY doc_id"""))

  private val q41 = QueryDef(
    "q41_lang_histogram",
    (s, dir) => TextAnalysis.langHistogram(table(s, dir, "documents"))
      .orderBy(col("lang_pred")),
    Some(s"""
      WITH toks AS (SELECT doc_id, text, $toksSql AS t FROM documents)
      SELECT $langCaseSql AS lang_pred, COUNT(*) AS n_docs,
             CAST(SUM(len(t)) AS BIGINT) AS total_tokens
      FROM toks GROUP BY 1 ORDER BY lang_pred"""))

  private val q42 = QueryDef(
    "q42_source_token_stats",
    (s, dir) => {
      val d = table(s, dir, "documents")
      d.select(col("source"), tokenCount(col("text")).cast(LongType).as("n_tok"),
          length(col("text")).cast(LongType).as("n_chars"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("total_tokens"),
          min(col("n_tok")).as("min_tokens"),
          max(col("n_tok")).as("max_tokens"),
          sum(col("n_chars")).as("total_chars"))
        .withColumn("mean_tokens",
          col("total_tokens").cast(DoubleType) / col("n_docs").cast(DoubleType))
        .orderBy(col("source"))
    },
    Some(s"""
      WITH toks AS (SELECT source, length(text) AS n_chars, len($toksSql) AS n_tok
                    FROM documents)
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
             CAST(MIN(n_tok) AS BIGINT) AS min_tokens,
             CAST(MAX(n_tok) AS BIGINT) AS max_tokens,
             CAST(SUM(n_chars) AS BIGINT) AS total_chars,
             CAST(SUM(n_tok) AS DOUBLE) / COUNT(*) AS mean_tokens
      FROM toks GROUP BY source ORDER BY source"""))

  /** q43 — duplicate groups by the native rolling-hash fingerprint
    * ([[RollingHashExpr]] inside an aggregation key): exact-dup
    * mutants (doc_id%11, verbatim copy at id+2,000,000) synthesized
    * identically on both engines. */
  private val q43 = QueryDef(
    "q43_fingerprint_dedup",
    (s, dir) => {
      val d = table(s, dir, "documents").select(col("doc_id"), col("text"))
      val aug = d.unionByName(d.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
      aug.groupBy(RollingHashExpr.rolling_hash(
          TextFunctions.normalized(col("text"))).as("fp_roll"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .filter(col("n_copies") > 1)
        .orderBy(col("fp_roll"))
    },
    Some(s"""
      WITH aug AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 11 = 0)
      SELECT $rollSql AS fp_roll, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
      FROM aug GROUP BY 1 HAVING COUNT(*) > 1 ORDER BY fp_roll"""))

  /** q44 — quality-score decile histogram: the quality filter of a
    * training-data pipeline as a derived-metric aggregation. */
  private val q44 = QueryDef(
    "q44_quality_histogram",
    (s, dir) => table(s, dir, "documents")
      .select(col("text"), tokens(col("text")).as("toks"))
      .select(least(floor(qualityScoreOf(col("text"), col("toks")) * 10), lit(9))
          .cast(LongType).as("decile"),
        size(col("toks")).cast(LongType).as("n_tok"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("total_tokens"))
      .orderBy(col("decile")),
    Some(s"""
      WITH toks AS (SELECT text, $toksSql AS t FROM documents)
      SELECT CAST(least(floor(($qualitySql) * 10), 9) AS BIGINT) AS decile,
             COUNT(*) AS n_docs, CAST(SUM(len(t)) AS BIGINT) AS total_tokens
      FROM toks GROUP BY 1 ORDER BY decile"""))

  /** q46 — corpus-wide top-20 word bigrams (native shingles feeding a
    * groupBy + top-k; ties broken lexicographically). */
  private val q46 = QueryDef(
    "q46_top_bigrams",
    (s, dir) => table(s, dir, "documents")
      .select(tokens(col("text")).as("toks"))
      .select(explode(
        graft.functions.TextExprs.word_shingles(col("toks"), 2)).as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(20),
    Some(s"""
      WITH toks AS (SELECT $toksSql AS t FROM documents),
      sh AS (SELECT unnest(CASE WHEN len(t) >= 2
               THEN list_transform(generate_series(1, len(t) - 1),
                                   i -> t[i] || ' ' || t[i+1])
               ELSE [array_to_string(t, ' ')] END) AS bigram
             FROM toks)
      SELECT bigram, COUNT(*) AS n FROM sh
      GROUP BY 1 ORDER BY n DESC, bigram LIMIT 20"""))

  /** q47 — BPE-style token statistics vs whitespace tokens per
    * source: the tokenizer-aware counting a training-data budget is
    * planned against. */
  private val q47 = QueryDef(
    "q47_bpe_token_stats",
    (s, dir) => table(s, dir, "documents")
      .select(col("source"),
        bpeTokenCount(col("text")).cast(LongType).as("n_bpe"),
        tokenCount(col("text")).cast(LongType).as("n_ws"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_bpe")).as("total_bpe_tokens"),
        sum(col("n_ws")).as("total_ws_tokens"),
        max(col("n_bpe")).as("max_bpe_tokens"))
      .orderBy(col("source")),
    Some(s"""
      WITH t AS (
        SELECT source,
               len(regexp_extract_all(text, '${TextFunctions.BpePattern}')) AS n_bpe,
               len($toksSql) AS n_ws
        FROM documents)
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(n_bpe) AS BIGINT) AS total_bpe_tokens,
             CAST(SUM(n_ws) AS BIGINT) AS total_ws_tokens,
             CAST(MAX(n_bpe) AS BIGINT) AS max_bpe_tokens
      FROM t GROUP BY source ORDER BY source"""))

  /** q54 — character-shingle profile over a bounded 512-char prefix
    * (prefix cap keeps per-row cost constant at any document size):
    * distinct char-4-grams per source, the character-level analog of
    * the word-shingle surface. Only the distinct COUNT survives the
    * aggregation, so the native codegen'd
    * [[graft.functions.TextExprs.distinct_char_shingles]] computes it
    * in one pass per row (packed-long window keys) instead of
    * materializing + deduplicating a ~509-element string array
    * through interpreted higher-order functions — same value as
    * `size(array_distinct(charShingles(...)))`, ~5× cheaper. */
  private val q54 = QueryDef(
    "q54_char_shingles",
    (s, dir) => table(s, dir, "documents")
      .select(col("source"),
        graft.functions.TextExprs.distinct_char_shingles(
          substring(col("text"), 1, 512), 4).as("n_sh"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_sh")).cast(LongType).as("total_distinct_shingles"),
        max(col("n_sh")).cast(LongType).as("max_distinct_shingles"))
      .orderBy(col("source")),
    Some("""
      WITH p AS (SELECT source, substr(text, 1, 512) AS t FROM documents),
      sh AS (
        SELECT source,
               len(list_distinct(CASE WHEN length(t) >= 4
                 THEN list_transform(generate_series(1, length(t) - 3),
                                     i -> substr(t, CAST(i AS INT), 4))
                 ELSE [t] END)) AS n
        FROM p)
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(n) AS BIGINT) AS total_distinct_shingles,
             CAST(MAX(n) AS BIGINT) AS max_distinct_shingles
      FROM sh GROUP BY source ORDER BY source"""))

  // ----------------------------------------------------------- multimodal

  /** Binary-column plumbing: text → utf-8 blob + typed metadata.
    * (Feature extraction over the bytes lives in
    * graft.operators.Multimodal, ScalaTest-verified.) */
  private val q50 = QueryDef(
    "q50_multimodal_binary",
    (s, dir) => table(s, dir, "documents")
      .select(col("doc_id"),
        encode(col("text"), "UTF-8").as("media"))
      .select(col("doc_id"),
        length(col("media")).cast(LongType).as("media_bytes"),
        md5(col("media")).as("media_md5"))
      .orderBy(col("doc_id")),
    Some("""
      SELECT doc_id,
             CAST(octet_length(encode(text)) AS BIGINT) AS media_bytes,
             md5(text) AS media_md5
      FROM documents ORDER BY doc_id"""))

  /** q51 — declarative data-quality report: the reference's PK/FK/
    * NOT NULL serving-side constraints (`fact_sales.sql:43-47`)
    * verified as lake-native checks (SURVEY §1.4). The orphan-FK case
    * is synthesized identically on both engines (every 13th order's
    * custkey shifted out of range). */
  private val q51 = QueryDef(
    "q51_dq_report",
    (s, dir) => {
      val customer = table(s, dir, "customer")
      val orders0 = table(s, dir, "orders")
      val orders = orders0.withColumn("o_custkey",
        when(col("o_orderkey") % 13 === 0, col("o_custkey") + 10000000L)
          .otherwise(col("o_custkey")))
      graft.operators.Quality.report(Seq(
        graft.operators.Quality.notNull(orders,
          Seq("o_orderkey", "o_custkey", "o_orderdate"), "fact_not_null"),
        graft.operators.Quality.unique(orders, Seq("o_orderkey"), "fact_pk"),
        graft.operators.Quality.foreignKey(orders, "o_custkey",
          customer, "c_custkey", name = "fact_fk_customer")))
        .orderBy(col("check_name"))
    },
    Some("""
      WITH o AS (
        SELECT o_orderkey, o_orderdate,
               CASE WHEN o_orderkey % 13 = 0 THEN o_custkey + 10000000
                    ELSE o_custkey END AS o_custkey
        FROM orders)
      SELECT 'fact_not_null' AS check_name, COUNT(*) AS n_checked,
             COUNT(*) FILTER (WHERE o_orderkey IS NULL OR o_custkey IS NULL
                              OR o_orderdate IS NULL) AS n_violations
      FROM o
      UNION ALL
      SELECT 'fact_pk', COUNT(*), COUNT(*) - COUNT(DISTINCT o_orderkey) FROM o
      UNION ALL
      SELECT 'fact_fk_customer', COUNT(*),
             COUNT(*) FILTER (WHERE NOT EXISTS
               (SELECT 1 FROM customer WHERE c_custkey = o.o_custkey))
      FROM o
      ORDER BY check_name"""))

  /** q52 — deterministic hash-bucket sampling: a reproducible 20%
    * sample (plus a disjoint 10% eval slice) summarized per source —
    * membership is a pure function of doc_id, so any engine computes
    * the same split. */
  private val q52 = QueryDef(
    "q52_hash_sample",
    (s, dir) => {
      val d = table(s, dir, "documents")
      val sampled = graft.operators.Sampling
        .deterministicSample(d, "doc_id", 20)
        .withColumn("slice", lit("sample20"))
      val (_, eval) = graft.operators.Sampling.trainEvalSplit(d, "doc_id", 10)
      sampled.unionByName(eval.withColumn("slice", lit("eval10")))
        .groupBy(col("slice"), col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
        .orderBy(col("slice"), col("source"))
    },
    Some("""
      WITH b AS (
        SELECT *, CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 AS bkt
        FROM documents),
      sliced AS (
        SELECT 'sample20' AS slice, source, n_chars FROM b WHERE bkt < 20
        UNION ALL
        SELECT 'eval10', source, n_chars FROM b WHERE bkt < 10)
      SELECT slice, source, COUNT(*) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS total_chars
      FROM sliced GROUP BY 1, 2 ORDER BY slice, source"""))

  /** q228 — incremental-crawl novelty audit: the release-over-release
    * decision report ("how much of the new crawl is actually new, per
    * source — is it worth paying to process?"). Prior release = docs
    * with doc_id % 5 ≠ 0 (already deduplicated by assumption);
    * incoming release = the % 5 = 0 slice plus the ' spark'-suffixed
    * near-dup mutants of every % 7 = 0 doc (the [[augmentedDocs]]
    * convention, id + 1e6) — so the incoming mix contains genuinely
    * novel docs, near-dups of the prior release, and within-release
    * dups whose base is itself incoming. Decisions come from
    * [[graft.operators.Dedup.admitAgainst]] (the pure batch form of
    * one streaming admitBatch micro-batch: LSH bands of prior × bands
    * of incoming in ONE hash join — prior never self-joins — then the
    * within-release greedy kernel over survivors). A rejection is
    * classified dup-of-prior vs dup-within by whether its witness id
    * belongs to the prior release (release id spaces are disjoint BY
    * CONSTRUCTION: the [[mutantOffset]] shift exceeds max(doc_id) at
    * any corpus size, so mutant ids can never land inside the prior
    * release's id space — the fixed-1e6 form of this convention held
    * only below 1M docs).
    * Output: per-source incoming/novel/dup-prior/dup-within counts and
    * integer novelty ppm — 20 rows at any corpus size. Oracle unrolls
    * the kernel to the same [[KernelUnroll]] rounds as q225 (an
    * under-unrolled corpus surfaces 'U' rows and fails the hash gate
    * loudly). */
  private val q228 = QueryDef(
    "q228_crawl_novelty",
    (s, dir) => {
      val base = table(s, dir, "documents")
      val off = mutantOffset(base, "doc_id")
      val prior = base.filter(col("doc_id") % 5 =!= 0)
        .select(col("doc_id"), col("text"))
      val incoming = base.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), col("text"), col("source"))
        .unionByName(base.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + off).as("doc_id"),
            concat(col("text"), lit(" spark")).as("text"), col("source")))
      val dec = Dedup.admitAgainst(prior,
        incoming.select(col("doc_id"), col("text")))
      val priorIds = prior
        .select(col("doc_id").as("dup_of"), lit(true).as("_p"))
      incoming.select(col("doc_id").as("id"), col("source"))
        .join(dec, Seq("id"))
        .join(priorIds, Seq("dup_of"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_incoming"),
          sum((col("status") === "A").cast(LongType)).as("n_novel"),
          sum((col("status") === "R" && col("_p").isNotNull).cast(LongType))
            .as("n_dup_prior"),
          sum((col("status") === "R" && col("_p").isNull).cast(LongType))
            .as("n_dup_within"))
        .select(col("source"), col("n_incoming"), col("n_novel"),
          col("n_dup_prior"), col("n_dup_within"),
          expr("(n_novel * 1000000L) div n_incoming").as("novelty_ppm"))
        .orderBy(col("source"))
    },
    Some(s"""
      WITH prior AS MATERIALIZED (
        SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),
      inc AS MATERIALIZED (
        SELECT doc_id, text, source FROM documents WHERE doc_id % 5 = 0
        UNION ALL
        SELECT doc_id + ${mutantOffsetSql("documents", "doc_id")},
               text || ' spark', source
        FROM documents WHERE doc_id % 7 = 0),
      alld AS (SELECT doc_id, text FROM prior
               UNION ALL SELECT doc_id, text FROM inc),
      toks AS (SELECT doc_id, $toksSql AS t FROM alld),
      $minhashSigsSql,
      bands AS MATERIALIZED (
        $minhashBandsSql),
      sets AS MATERIALIZED (SELECT doc_id, sh FROM shing),
      pb AS (SELECT bands.doc_id, band FROM bands JOIN prior USING (doc_id)),
      ib AS MATERIALIZED (
        SELECT bands.doc_id, band FROM bands JOIN inc USING (doc_id)),
      crossc AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM pb a JOIN ib b ON a.band = b.band),
      priorrej AS MATERIALIZED (
        SELECT id_b AS id, MIN(id_a) AS dup_of
        FROM crossc JOIN sets sa ON id_a = sa.doc_id
                    JOIN sets sb ON id_b = sb.doc_id
        WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                / len(list_distinct(list_concat(sa.sh, sb.sh))) >= 0.5
        GROUP BY 1),
      ids AS MATERIALIZED (
        SELECT doc_id AS id FROM inc
        WHERE doc_id NOT IN (SELECT id FROM priorrej)),
      icand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM ib a JOIN ib b ON a.band = b.band AND a.doc_id < b.doc_id),
      vp AS MATERIALIZED (
        SELECT id_a AS src, id_b AS dst
        FROM icand JOIN ids s1 ON id_a = s1.id JOIN ids s2 ON id_b = s2.id
                   JOIN sets sa ON id_a = sa.doc_id
                   JOIN sets sb ON id_b = sb.doc_id
        WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                / len(list_distinct(list_concat(sa.sh, sb.sh))) >= 0.5),
      st0 AS (SELECT id, 'U' AS s FROM ids),
      $kernelRoundsSql,
      fin AS MATERIALIZED (SELECT * FROM st$KernelUnroll),
      dec AS (
        SELECT i.doc_id, i.source,
               CASE WHEN p.id IS NOT NULL THEN 'RP'
                    WHEN f.s = 'A' THEN 'A' ELSE 'RW' END AS st
        FROM inc i LEFT JOIN priorrej p ON p.id = i.doc_id
                   LEFT JOIN fin f ON f.id = i.doc_id)
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_incoming,
             CAST(SUM(CASE WHEN st = 'A' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_novel,
             CAST(SUM(CASE WHEN st = 'RP' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_prior,
             CAST(SUM(CASE WHEN st = 'RW' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_within,
             CAST((SUM(CASE WHEN st = 'A' THEN 1 ELSE 0 END) * 1000000)
               // COUNT(*) AS BIGINT) AS novelty_ppm
      FROM dec GROUP BY source ORDER BY source"""))

  val all: Seq[QueryDef] =
    Seq(q20, q21, q22, q23, q24, q25, q30, q31, q32, q33, q34, q35, q36,
      q37, q38, q40, q41, q42, q43, q44, q46, q47, q49, q50, q51, q52, q53,
      q54, q225, q228)
}
