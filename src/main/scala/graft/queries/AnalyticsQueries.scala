package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}
import graft.functions.TextFunctions
import graft.queries.ExtensionQueries.toksSql
import graft.queries.QueryDef.{eventsTable, table}
import graft.functions.DecimalExprs.dec2

/** Round-3 third widening: corpus-governance analytics — rule-based
  * quality gating (Gopher-style), calendar gap-fill, bigram
  * association scoring, token-budget corpus mixing, histogramming,
  * per-group deterministic reservoirs, percentile winsorization,
  * ordered list serving aggregates, column profiling, and
  * order-independent table checksums for migration validation. Every
  * query is DuckDB-oracle-checked; doubles appear only as final
  * divisions of exact integers/decimals so hashes are bit-stable.
  */
object AnalyticsQueries {

  /** DuckDB twin of [[TextFunctions.punctRatio]]. */
  private val punctRatioSql =
    """CASE WHEN len(text) = 0 THEN 0.0
           ELSE CAST(len(text) - len(regexp_replace(text, '[.,;:!?''"()-]', '', 'g')) AS DOUBLE)
                / CAST(len(text) AS DOUBLE) END"""

  /** q80 — Gopher-style rule-based quality gate: per-source counts of
    * documents passing ALL of (token count in [10,200], mean token
    * length in [3,10], ≥1 English stopword, punctuation ratio ≤ 0.1).
    * Booleans from integer counts; the only double is the final pass
    * rate — the rule report a curation pipeline runs before training.
    */
  private val q80 = QueryDef(
    "q80_gopher_rules",
    (s, dir) => {
      val t = col("t")
      val mtl = TextFunctions.meanTokenLenOf(t)
      val pass = (size(t) >= 10 && size(t) <= 200) &&
        (mtl >= 3.0 && mtl <= 10.0) &&
        (TextFunctions.stopwordHitsOf(t, TextFunctions.StopwordsByLang.head._2) >= 1) &&
        (TextFunctions.punctRatio(col("text")) <= 0.1)
      table(s, dir, "documents")
        .select(col("source"), col("text"), TextFunctions.tokens(col("text")).as("t"))
        .select(col("source"), pass.cast(LongType).as("pass"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("pass")).as("n_pass"))
        .withColumn("pass_rate",
          col("n_pass").cast(DoubleType) / col("n_docs").cast(DoubleType))
        .orderBy(col("source"))
    },
    Some(s"""
      WITH d AS (SELECT source, text, $toksSql AS t FROM documents),
      r AS (
        SELECT source,
               CASE WHEN len(t) BETWEEN 10 AND 200
                     AND (CASE WHEN len(t) = 0 THEN 0.0
                               ELSE CAST(list_sum(list_transform(t, x -> len(x))) AS DOUBLE)
                                    / CAST(len(t) AS DOUBLE) END) BETWEEN 3.0 AND 10.0
                     AND len(list_filter(t, x -> list_contains(
                           ['the','a','and','of','to','in','is','it','that','for'], x))) >= 1
                     AND $punctRatioSql <= 0.1
                    THEN 1 ELSE 0 END AS pass
        FROM d)
      SELECT source, COUNT(*) AS n_docs, CAST(SUM(pass) AS BIGINT) AS n_pass,
             CAST(SUM(pass) AS DOUBLE) / COUNT(*) AS pass_rate
      FROM r GROUP BY 1 ORDER BY source"""))

  /** q81's zero-filled calendar grid: one row per (day, event_type)
    * over the observed day range, `n_events` 0 where none occurred.
    * The spine and the types are tiny and broadcast. Shared with q99. */
  private def dailyGrid(s: org.apache.spark.sql.SparkSession, dir: String)
  : org.apache.spark.sql.DataFrame = {
    val e = eventsTable(s, dir)
      .select(to_date(col("ts")).as("day"), col("event_type"))
    val days = e.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"))).as("day"))
    val types = e.select(col("event_type")).distinct()
    val daily = e.groupBy(col("day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    broadcast(days).crossJoin(broadcast(types))
      .join(daily, Seq("day", "event_type"), "left")
      .select(col("day"), col("event_type"),
        coalesce(col("n"), lit(0L)).as("n_events"))
  }

  /** DuckDB CTEs of [[dailyGrid]]'s inputs: events `e(day,
    * event_type)`, the day spine `days` and the types `t`. */
  private val daySpineSql = """e AS (
        SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, event_type FROM events),
      b AS (SELECT min(day) AS lo, max(day) AS hi FROM e),
      days AS (
        SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
        FROM b),
      t AS (SELECT DISTINCT event_type FROM e)"""

  /** q81 — calendar-spine gap fill: daily event counts per type with
    * EVERY day of the observed range present (missing days zero-
    * filled via a generated date spine × distinct-types cross join —
    * the dense matrix a dashboard or forecasting job needs; the spine
    * is tiny and broadcast, so the fill adds no shuffle at scale). */
  private val q81 = QueryDef(
    "q81_daily_gap_fill",
    (s, dir) => dailyGrid(s, dir).orderBy(col("day"), col("event_type")),
    Some(s"""
      WITH $daySpineSql,
      d AS (SELECT day, event_type, COUNT(*) AS n FROM e GROUP BY 1, 2)
      SELECT days.day, t.event_type,
             COALESCE(n, CAST(0 AS BIGINT)) AS n_events
      FROM days CROSS JOIN t
      LEFT JOIN d ON d.day = days.day AND d.event_type = t.event_type
      ORDER BY 1, 2"""))

  /** q82 — bigram association strength: for each adjacent token pair,
    * the PMI *ratio* `P(xy)/(P(x)·P(y)) = c_xy·N / (c_x·c_y)` (the
    * log is monotone, so ranking by the ratio ranks by PMI while
    * keeping the score a single exact-integer division — bit-stable
    * across engines). Top 20 collocations with support ≥ 5. */
  private val q82 = QueryDef(
    "q82_bigram_pmi",
    (s, dir) => {
      val toks = table(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("t"))
      val uni = toks.select(explode(col("t")).as("w"))
      val cx = uni.groupBy(col("w")).agg(count(lit(1)).as("c"))
      val n = uni.agg(count(lit(1)).as("n_total"))
      val big = toks.filter(size(col("t")) >= 2)
        .select(explode(graft.functions.TextExprs.word_shingles(col("t"), 2)).as("bigram"))
        .groupBy(col("bigram")).agg(count(lit(1)).as("c_xy"))
        .filter(col("c_xy") >= 5)
        .withColumn("w1", substring_index(col("bigram"), " ", 1))
        .withColumn("w2", substring_index(col("bigram"), " ", -1))
      big
        .join(cx.select(col("w").as("w1"), col("c").as("c_x")), Seq("w1"))
        .join(cx.select(col("w").as("w2"), col("c").as("c_y")), Seq("w2"))
        .crossJoin(broadcast(n))
        .withColumn("pmi_ratio",
          (col("c_xy") * col("n_total")).cast(DoubleType) /
            (col("c_x") * col("c_y")).cast(DoubleType))
        .select(col("bigram"), col("c_xy"), col("pmi_ratio"))
        .orderBy(col("pmi_ratio").desc, col("bigram"))
        .limit(20)
    },
    Some(s"""
      WITH toks AS (SELECT doc_id, $toksSql AS t FROM documents),
      uni AS (SELECT unnest(t) AS w FROM toks),
      cx AS (SELECT w, COUNT(*) AS c FROM uni GROUP BY 1),
      n AS (SELECT COUNT(*) AS n_total FROM uni),
      big AS (
        SELECT unnest(list_transform(range(1, len(t)),
                 i -> t[i] || ' ' || t[i+1])) AS bigram
        FROM toks WHERE len(t) >= 2),
      bc AS (
        SELECT bigram, COUNT(*) AS c_xy,
               string_split(bigram, ' ')[1] AS w1,
               string_split(bigram, ' ')[2] AS w2
        FROM big GROUP BY 1 HAVING COUNT(*) >= 5)
      SELECT bigram, c_xy,
             CAST(c_xy * n_total AS DOUBLE) / CAST(a.c * b.c AS DOUBLE) AS pmi_ratio
      FROM bc JOIN cx a ON bc.w1 = a.w JOIN cx b ON bc.w2 = b.w, n
      ORDER BY pmi_ratio DESC, bigram LIMIT 20"""))

  /** Token mass per language, `(lang, lang_tokens)` — the input of
    * the q83 and q96 mixing weights. */
  private def langTokens(s: org.apache.spark.sql.SparkSession, dir: String)
  : org.apache.spark.sql.DataFrame =
    table(s, dir, "documents")
      .select(col("lang"),
        TextFunctions.tokenCount(col("text")).cast(LongType).as("n_tok"))
      .groupBy(col("lang")).agg(sum(col("n_tok")).as("lang_tokens"))

  /** q83 — token-budget corpus mixing: per-language token mass, its
    * share of the corpus, and the deterministic sampling rate that
    * levels every language to an equal token budget
    * (`rate = min(1, (total/n_langs)/lang_tokens)`) — how a
    * pretraining mix rebalances sources without materializing
    * anything. */
  private val q83 = QueryDef(
    "q83_token_budget_mix",
    (s, dir) => {
      val perLang = langTokens(s, dir)
      val tot = perLang.agg(sum(col("lang_tokens")).as("total_tokens"),
        count(lit(1)).as("n_langs"))
      perLang.crossJoin(broadcast(tot))
        .withColumn("share",
          col("lang_tokens").cast(DoubleType) / col("total_tokens").cast(DoubleType))
        .withColumn("sample_rate",
          least(lit(1.0),
            (col("total_tokens").cast(DoubleType) / col("n_langs").cast(DoubleType))
              / col("lang_tokens").cast(DoubleType)))
        .select(col("lang"), col("lang_tokens"), col("share"), col("sample_rate"))
        .orderBy(col("lang"))
    },
    Some(s"""
      WITH per AS (
        SELECT lang, CAST(SUM(len($toksSql)) AS BIGINT) AS lang_tokens
        FROM documents GROUP BY 1),
      tot AS (SELECT SUM(lang_tokens) AS total_tokens, COUNT(*) AS n_langs FROM per)
      SELECT lang, lang_tokens,
             CAST(lang_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE) AS share,
             least(1.0, (CAST(total_tokens AS DOUBLE) / CAST(n_langs AS DOUBLE))
                          / CAST(lang_tokens AS DOUBLE)) AS sample_rate
      FROM per, tot ORDER BY lang"""))

  /** q84 — fixed-width value histogram: order totals binned into 20
    * equal-width buckets between the observed min/max (top edge
    * clamped into the last bucket). The global bounds are one tiny
    * broadcast row; binning is map-side arithmetic — no extra shuffle
    * beyond the final 20-row aggregate. */
  private val q84 = QueryDef(
    "q84_value_histogram",
    (s, dir) => {
      val o = table(s, dir, "orders")
      val bounds = o.agg(min(col("o_totalprice")).as("lo"),
        max(col("o_totalprice")).as("hi"))
      o.crossJoin(broadcast(bounds))
        .withColumn("bin",
          least(lit(19L),
            floor((col("o_totalprice") - col("lo")) / (col("hi") - col("lo")) * 20)
              .cast(LongType)))
        .groupBy(col("bin"), col("lo"), col("hi"))
        .agg(count(lit(1)).as("n_orders"))
        .withColumn("bin_lo",
          col("bin").cast(DoubleType) * (col("hi") - col("lo")) / 20.0 + col("lo"))
        .select(col("bin"), col("bin_lo"), col("n_orders"))
        .orderBy(col("bin"))
    },
    Some("""
      WITH b AS (SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi FROM orders),
      binned AS (
        SELECT least(CAST(19 AS BIGINT),
                 CAST(floor((o_totalprice - lo) / (hi - lo) * 20) AS BIGINT)) AS bin,
               lo, hi
        FROM orders, b)
      SELECT bin, CAST(bin AS DOUBLE) * (hi - lo) / 20.0 + lo AS bin_lo,
             COUNT(*) AS n_orders
      FROM binned GROUP BY bin, lo, hi ORDER BY bin"""))

  /** q85 — deterministic per-group reservoir: 5 documents per source,
    * chosen by ranking on an md5 of the key — a seeded, rerun-stable
    * "random" sample (same property as [[graft.operators.Sampling]]'s
    * hash gates, but with an exact per-group cardinality contract).
    * The rank window partitions by source, so at scale each group
    * sorts locally after one hash shuffle — no global sort. */
  private val q85 = QueryDef(
    "q85_group_reservoir",
    (s, dir) => {
      val w = Window.partitionBy(col("source"))
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      table(s, dir, "documents")
        .select(col("source"), col("doc_id"))
        .withColumn("rk", row_number().over(w).cast(LongType))
        .filter(col("rk") <= 5)
        .orderBy(col("source"), col("rk"))
    },
    Some("""
      WITH r AS (
        SELECT source, doc_id,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        FROM documents)
      SELECT source, doc_id, CAST(rk AS BIGINT) AS rk
      FROM r WHERE rk <= 5 ORDER BY source, rk"""))

  /** q86 — percentile winsorization: per market segment, clip account
    * balances at the empirical P05/P95 *data values* (sorted-position
    * bounds — integer positions `⌈0.05n⌉`/`⌊0.95n⌋`, no
    * interpolation, so the bounds are actual 2-decimal inputs and the
    * clipped sum stays exact in DECIMAL) and report the winsorized
    * mean — the robust-statistics step before z-scoring features. */
  private val q86 = QueryDef(
    "q86_winsorize",
    (s, dir) => {
      val c = table(s, dir, "customer")
        .select(col("c_mktsegment").as("segment"), col("c_custkey"),
          col("c_acctbal"))
      val w = Window.partitionBy(col("segment"))
        .orderBy(col("c_acctbal"), col("c_custkey"))
      val ranked = c
        .withColumn("rk", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy(col("segment"))))
      val bounds = ranked
        .withColumn("k_lo", greatest(lit(1L), expr("(n * 5 + 99) div 100")))
        .withColumn("k_hi", greatest(lit(1L), expr("(n * 95) div 100")))
        .groupBy(col("segment"))
        .agg(min(when(col("rk") === col("k_lo"), col("c_acctbal"))).as("p05"),
          min(when(col("rk") === col("k_hi"), col("c_acctbal"))).as("p95"))
      c.join(bounds, Seq("segment"))
        .withColumn("clipped",
          least(greatest(col("c_acctbal"), col("p05")), col("p95"))
            .cast(DecimalType(18, 2)))
        .groupBy(col("segment"))
        .agg(count(lit(1)).as("n_cust"),
          min(col("p05")).as("p05"), min(col("p95")).as("p95"),
          (sum(col("clipped")).cast(DoubleType) / count(lit(1))).as("win_mean"))
        .orderBy(col("segment"))
    },
    Some("""
      WITH r AS (
        SELECT c_mktsegment AS segment, c_custkey, c_acctbal,
               ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                  ORDER BY c_acctbal, c_custkey) AS rk,
               COUNT(*) OVER (PARTITION BY c_mktsegment) AS n
        FROM customer),
      bounds AS (
        SELECT segment,
               MIN(CASE WHEN rk = greatest(1, (n * 5 + 99) // 100)
                        THEN c_acctbal END) AS p05,
               MIN(CASE WHEN rk = greatest(1, (n * 95) // 100)
                        THEN c_acctbal END) AS p95
        FROM r GROUP BY 1),
      clipped AS (
        SELECT r.segment,
               CAST(least(greatest(c_acctbal, p05), p95) AS DECIMAL(18,2)) AS v,
               p05, p95
        FROM r JOIN bounds ON r.segment = bounds.segment)
      SELECT segment, COUNT(*) AS n_cust, MIN(p05) AS p05, MIN(p95) AS p95,
             CAST(SUM(v) AS DOUBLE) / COUNT(*) AS win_mean
      FROM clipped GROUP BY 1 ORDER BY segment"""))

  /** q87 — ordered list serving aggregate: each source's top-5 tokens
    * by frequency, materialized as ONE comma-joined string per source
    * (the rank-ordered collect a feature store or API layer serves).
    * Spark side sorts the collected (rank, token) structs so the
    * order is deterministic regardless of partitioning. */
  private val q87 = QueryDef(
    "q87_top_tokens_list",
    (s, dir) => {
      val counts = table(s, dir, "documents")
        .select(col("source"), explode(TextFunctions.tokens(col("text"))).as("token"))
        .groupBy(col("source"), col("token"))
        .agg(count(lit(1)).as("c"))
      val w = Window.partitionBy(col("source"))
        .orderBy(col("c").desc, col("token"))
      counts.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .groupBy(col("source"))
        .agg(array_join(
          transform(sort_array(collect_list(struct(col("rk"), col("token")))),
            x => x.getField("token")), ",").as("top_tokens"))
        .orderBy(col("source"))
    },
    Some(s"""
      WITH toks AS (
        SELECT source, unnest($toksSql) AS token FROM documents),
      c AS (SELECT source, token, COUNT(*) AS c FROM toks GROUP BY 1, 2),
      r AS (
        SELECT source, token, c,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY c DESC, token) AS rk
        FROM c)
      SELECT source, string_agg(token, ',' ORDER BY rk) AS top_tokens
      FROM r WHERE rk <= 5 GROUP BY 1 ORDER BY source"""))

  /** q88 — column profiling (the null/cardinality report a warehouse
    * runs on every new feed): per profiled column of `orders`, row
    * count, null count, and exact distinct count — three narrow
    * single-column scans, each independently prunable to one column
    * of the parquet file. */
  private val q88 = QueryDef(
    "q88_null_profile",
    (s, dir) => {
      val o = table(s, dir, "orders")
      def prof(c: String) = o.agg(
        lit(c).as("col_name"),
        count(lit(1)).as("n_rows"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_null"),
        countDistinct(col(c)).as("n_distinct"))
      prof("o_custkey")
        .unionByName(prof("o_orderpriority"))
        .unionByName(prof("o_orderstatus"))
        .orderBy(col("col_name"))
    },
    Some("""
      SELECT 'o_custkey' AS col_name, COUNT(*) AS n_rows,
             CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
             COUNT(DISTINCT o_custkey) AS n_distinct
      FROM orders
      UNION ALL
      SELECT 'o_orderpriority', COUNT(*),
             CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             COUNT(DISTINCT o_orderpriority)
      FROM orders
      UNION ALL
      SELECT 'o_orderstatus', COUNT(*),
             CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             COUNT(DISTINCT o_orderstatus)
      FROM orders
      ORDER BY col_name"""))

  /** q89 — order-independent table checksum for migration validation
    * (the cheap "did the copy preserve every row" gate beside
    * [[graft.operators.Reconcile.snapshotDiff]]'s full diff): each
    * row hashes to a 60-bit integer (md5 prefix, decimals rendered at
    * fixed scale, timestamps as epoch millis), folded with XOR — an
    * associative/commutative fold, so any partitioning and any row
    * order yields the same checksum, with no overflow.
    */
  private val q89 = QueryDef(
    "q89_table_checksum",
    (s, dir) => {
      def rowHash(payload: org.apache.spark.sql.Column) =
        conv(substring(md5(payload), 1, 15), 16, 10).cast(LongType)
      val o = table(s, dir, "orders").select(
        lit("orders").as("table_name"),
        rowHash(concat_ws("|",
          col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          dec2(col("o_totalprice")),
          unix_millis(col("o_orderdate").cast("timestamp")),
          col("o_orderpriority"))).as("h"))
      val c = table(s, dir, "customer").select(
        lit("customer").as("table_name"),
        rowHash(concat_ws("|",
          col("c_custkey"), col("c_name"), col("c_nationkey"),
          dec2(col("c_acctbal")),
          col("c_mktsegment"))).as("h"))
      o.unionByName(c)
        .groupBy(col("table_name"))
        .agg(count(lit(1)).as("n_rows"), expr("bit_xor(h)").as("checksum"))
        .orderBy(col("table_name"))
    },
    Some("""
      WITH h AS (
        SELECT 'orders' AS table_name,
               CAST('0x' || substr(md5(
                 o_orderkey || '|' || o_custkey || '|' || o_orderstatus || '|' ||
                 CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) || '|' ||
                 epoch_ms(o_orderdate) || '|' || o_orderpriority), 1, 15) AS BIGINT) AS v
        FROM orders
        UNION ALL
        SELECT 'customer',
               CAST('0x' || substr(md5(
                 c_custkey || '|' || c_name || '|' || c_nationkey || '|' ||
                 CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS VARCHAR) || '|' ||
                 c_mktsegment), 1, 15) AS BIGINT)
        FROM customer)
      SELECT table_name, COUNT(*) AS n_rows, bit_xor(v) AS checksum
      FROM h GROUP BY 1 ORDER BY table_name"""))

  /** q90 — incremental dedup for continuous ingestion: a new batch
    * (docs with `doc_id % 3 ≠ 0`) deduped against the historical
    * corpus (the rest) by content fingerprint, then within-batch
    * keep-min — only fingerprints shuffle, never history text
    * ([[graft.operators.Dedup.incrementalSurvivors]]). */
  private val q90 = QueryDef(
    "q90_incremental_dedup",
    (s, dir) => {
      val docs = table(s, dir, "documents")
      graft.operators.Dedup.incrementalSurvivors(
          docs.filter(col("doc_id") % 3 =!= 0),
          docs.filter(col("doc_id") % 3 === 0))
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    },
    Some("""
      WITH fp AS (
        SELECT doc_id, source,
               md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp
        FROM documents),
      hist AS (SELECT DISTINCT fp FROM fp WHERE doc_id % 3 = 0),
      fresh AS (
        SELECT b.* FROM fp b
        WHERE b.doc_id % 3 <> 0
          AND NOT EXISTS (SELECT 1 FROM hist h WHERE h.fp = b.fp)),
      r AS (
        SELECT doc_id, source,
               ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        FROM fresh)
      SELECT doc_id, source FROM r WHERE rn = 1 ORDER BY doc_id"""))

  /** q91 — mergeable HLL sketch columns (Apache DataSketches via
    * Spark's `hll_sketch_agg`/`hll_union_agg`): per-source distinct-
    * token estimates, plus a corpus-level row computed by UNIONING
    * the per-source sketches — the 100 TB pattern where partial
    * sketches persist as binary columns and roll up without touching
    * raw data again. The engine-specific estimates are hashed as
    * WITHIN-BOUND FLAGS next to the exact distinct counts: DuckDB
    * recomputes the exact side independently and asserts the flags by
    * emitting literal TRUE — a cross-engine bound check. The
    * union=direct sketch identity stays in AnalyticsSpec. */
  private val q91 = QueryDef(
    "q91_hll_sketch_union",
    (s, dir) => {
      val toks = table(s, dir, "documents")
        .select(col("source"), explode(TextFunctions.tokens(col("text"))).as("token"))
      val sk = toks
        .groupBy(col("source"))
        .agg(expr("hll_sketch_agg(token)").as("sk"),
          countDistinct(col("token")).as("exact_distinct"))
      val per = sk.select(col("source"), col("exact_distinct"),
        expr("hll_sketch_estimate(sk)").as("est"))
      val corpus = sk.agg(
        expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"))
        .crossJoin(broadcast(
          toks.agg(countDistinct(col("token")).as("exact_distinct"))))
        .select(lit("__corpus__").as("source"), col("exact_distinct"), col("est"))
      per.unionByName(corpus)
        .select(col("source"), col("exact_distinct"),
          (abs(col("est") - col("exact_distinct")) <=
            greatest(lit(1L), expr("(exact_distinct * 5) div 100")))
            .as("sketch_ok"))
        .orderBy(col("source"))
    },
    Some(s"""
      WITH toks AS (
        SELECT source, unnest($toksSql) AS token FROM documents),
      per AS (
        SELECT source, COUNT(DISTINCT token) AS exact_distinct
        FROM toks GROUP BY 1
        UNION ALL
        SELECT '__corpus__', COUNT(DISTINCT token) FROM toks)
      SELECT source, exact_distinct, TRUE AS sketch_ok
      FROM per ORDER BY source"""))

  /** q92 — sketch percentiles (`approx_percentile`, the mergeable
    * quantile-summary path beside q18's exact sort-based
    * percentiles): per-status P50/P90 of order totals. The sketch's
    * rank convention is engine-specific, so the estimates are hashed
    * as WITHIN-BOUND FLAGS next to the exact interpolated percentiles
    * (both engines cast the DECIMAL to DOUBLE and interpolate the
    * same way; rounded to 4 decimals for hash stability): DuckDB
    * recomputes the exact side and asserts the flags by emitting
    * literal TRUE — a cross-engine bound check. */
  private val q92 = QueryDef(
    "q92_approx_percentiles",
    (s, dir) =>
      table(s, dir, "orders")
        .groupBy(col("o_orderstatus").as("status"))
        .agg(expr("approx_percentile(o_totalprice, array(0.5, 0.9), 10000)").as("p"),
          expr("percentile(CAST(o_totalprice AS DOUBLE), array(0.5, 0.9))").as("e"))
        .select(col("status"),
          round(element_at(col("e"), 1), 4).as("p50_exact"),
          round(element_at(col("e"), 2), 4).as("p90_exact"),
          ((abs(element_at(col("p"), 1).cast(DoubleType) - element_at(col("e"), 1)) <=
            element_at(col("e"), 1) * 0.005) &&
           (abs(element_at(col("p"), 2).cast(DoubleType) - element_at(col("e"), 2)) <=
            element_at(col("e"), 2) * 0.005)).as("approx_ok"))
        .orderBy(col("status")),
    Some("""
      SELECT o_orderstatus AS status,
             ROUND(quantile_cont(CAST(o_totalprice AS DOUBLE), 0.5), 4) AS p50_exact,
             ROUND(quantile_cont(CAST(o_totalprice AS DOUBLE), 0.9), 4) AS p90_exact,
             TRUE AS approx_ok
      FROM orders GROUP BY 1 ORDER BY 1"""))

  /** Each user's events in (ts, event_id) order, from the first up
    * to the current row: the carry-forward frame of q93 and q94. */
  private val userRunning = Window.partitionBy(col("user_id"))
    .orderBy(col("ts"), col("event_id"))
    .rowsBetween(Window.unboundedPreceding, Window.currentRow)

  /** q93 — forward-fill imputation (LOCF): per-user event stream with
    * synthetic gaps (every 7th event's value nulled) repaired by
    * carrying the last observed value forward — `last(_, ignoreNulls)`
    * over a running row frame, one hash shuffle on user_id, values
    * pass through unchanged (no arithmetic → bit-stable). */
  private val q93 = QueryDef(
    "q93_locf_impute",
    (s, dir) => {
      eventsTable(s, dir)
        .withColumn("v",
          when(col("event_id") % 7 === 0, lit(null)).otherwise(col("value")))
        .withColumn("filled", last(col("v"), ignoreNulls = true).over(userRunning))
        .select(col("event_id"), col("user_id"),
          unix_millis(col("ts")).as("ts_ms"), col("filled"))
        .orderBy(col("event_id"))
    },
    Some("""
      WITH e AS (
        SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
               CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v
        FROM events)
      SELECT event_id, user_id, epoch_ms(ts) AS ts_ms,
             LAST_VALUE(v IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
      FROM e ORDER BY event_id"""))

  /** q94 — last-touch attribution: each purchase attributes to the
    * user's most recent PRIOR click — a conditional LOCF carry
    * (`last(when(click, …), ignoreNulls)`) down the same per-user
    * ordered stream, then filter to purchases. The single-stream twin
    * of the as-of join (q23): no second relation, one shuffle. */
  private val q94 = QueryDef(
    "q94_attribution",
    (s, dir) => {
      eventsTable(s, dir)
        .withColumn("click_id",
          last(when(col("event_type") === "click", col("event_id")),
            ignoreNulls = true).over(userRunning))
        .withColumn("click_ts",
          last(when(col("event_type") === "click", col("ts")),
            ignoreNulls = true).over(userRunning))
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          unix_millis(col("ts")).as("ts_ms"), col("click_id"),
          unix_millis(col("click_ts")).as("click_ts_ms"))
        .orderBy(col("event_id"))
    },
    Some("""
      WITH e AS (
        SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
        FROM events),
      c AS (
        SELECT event_id, user_id, event_type, ts,
               LAST_VALUE(CASE WHEN event_type = 'click' THEN event_id END
                          IGNORE NULLS) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS click_id,
               LAST_VALUE(CASE WHEN event_type = 'click' THEN ts END
                          IGNORE NULLS) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS click_ts
        FROM e)
      SELECT event_id, user_id, epoch_ms(ts) AS ts_ms, click_id,
             epoch_ms(click_ts) AS click_ts_ms
      FROM c WHERE event_type = 'purchase' ORDER BY event_id"""))

  /** Weighted adjacent-token edge set (q82's bigram counting) from a
    * documents frame — shared by q95 (full corpus) and q229 (the
    * md5-decile stratum twin). */
  private def tokenPrEdges(docs: org.apache.spark.sql.DataFrame)
  : org.apache.spark.sql.DataFrame =
    docs.select(TextFunctions.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
      .select(explode(graft.functions.TextExprs.word_shingles(col("t"), 2)).as("bigram"))
      .groupBy(substring_index(col("bigram"), " ", 1).as("src"),
        substring_index(col("bigram"), " ", -1).as("dst"))
      .agg(count(lit(1)).cast(LongType).as("weight"))

  /** q95 — token PageRank: the adjacency graph of adjacent-token
    * pairs (edge weight = co-occurrence count, from the same bigram
    * counting as q82) ranked by 5 rounds of weighted PageRank in
    * FIXED-POINT INTEGER arithmetic ([[LinkAnalysis.pageRankExact]])
    * — the link-analysis centrality a crawl-curation pipeline
    * computes over domains, made bit-exact so the 5-round iteration
    * unrolls into a DuckDB CTE chain and hash-matches. AnalyticsSpec
    * verifies both variants against an in-memory power iteration. */
  private val q95 = QueryDef(
    "q95_token_pagerank",
    (s, dir) => graft.operators.LinkAnalysis
      .pageRankExact(tokenPrEdges(table(s, dir, "documents")), iters = 5)
      .orderBy(col("rank_scaled").desc, col("node"))
      .limit(20),
    Some(tokenPageRankSql("documents")))

  /** md5-decile document stratum, DuckDB form ([[QueryDef.md5DecileSql]];
    * shared with OpsQueries' q230). Defined BEFORE q229: object vals
    * initialize in declaration order. */
  private[queries] val docStratumSql =
    s"""(SELECT * FROM documents WHERE ${QueryDef.md5DecileSql("doc_id")})"""

  /** q229 — q95's exact PageRank on a deterministic md5-keyed DECILE
    * of documents (the q224 stratum discipline: membership is a pure
    * hash of doc_id, so any engine draws the identical stratum). The
    * graph-tier scale audit: q95's own DuckDB oracle is a global
    * 5-round fixpoint over the FULL bigram graph with no row-local
    * recheck — at diverse-sf8 it outgrows the box's temp disk, the
    * one query whose top-tier status rested on lower-tier evidence.
    * The stratum keeps a same-tier, paid-in-full oracle alive at ANY
    * corpus size: the sub-corpus graph is ~1/10 the edge mass, the
    * identical [[LinkAnalysis.pageRankExact]] path runs on both
    * engines, and a hash-match at sf8+ is direct evidence the
    * fixpoint arithmetic (joins, floor divisions, dangling-mass
    * handling) stays exact at tier scale. Unlike a dedup stratum
    * (q224's pair-split caveat) a sub-corpus PageRank is simply
    * PageRank of the induced corpus — no recall discount to
    * document. */
  private val q229 = QueryDef(
    "q229_pagerank_stratum",
    (s, dir) => graft.operators.LinkAnalysis
      .pageRankExact(
        tokenPrEdges(QueryDef.md5Decile(table(s, dir, "documents"), "doc_id")),
        iters = 5)
      .orderBy(col("rank_scaled").desc, col("node"))
      .limit(20),
    Some(tokenPageRankSql(docStratumSql)))

  /** DuckDB twin of q95/q229's PageRank, parameterized by the
    * documents relation (the full table or [[docStratumSql]]). */
  private def tokenPageRankSql(docsRel: String): String = {
      // the 5 fixed iterations unroll into MATERIALIZED CTEs r1..r5 —
      // every step is integer multiply + floor division, mirroring
      // pageRankExact's update rule exactly. Round 12: the chain is
      // MATERIALIZED and the heavy joins run on DENSE INT node ids
      // (strings decode only in the final projection) — without both,
      // DuckDB inlined each CTE reference and re-derived the full
      // string bigram scan per round, which exceeded the box's temp
      // disk at the diverse-sf8 tier. Values are unchanged: the ranks
      // depend only on graph structure and weights, and the output
      // tie-break stays on the decoded string node.
      val S = 1000000000L
      val iterCtes = (1 to 5).map { k =>
        s"""r$k AS MATERIALIZED (
          SELECT ids.nid AS node,
                 (CAST(15 AS BIGINT) * $S) // (100 * nn.n)
                 + (85 * COALESCE(m.im, 0)) // 100 AS r
          FROM ids CROSS JOIN nn
          LEFT JOIN (
            SELECT p.dst AS node,
                   CAST(SUM((p.w * pr.r) // p.w_out) AS BIGINT) AS im
            FROM p JOIN r${k - 1} pr ON p.src = pr.node
            GROUP BY 1) m
          ON ids.nid = m.node)"""
      }.mkString(",\n")
      s"""
      WITH toks AS MATERIALIZED (
        SELECT $toksSql AS t FROM $docsRel WHERE len($toksSql) >= 2),
      big AS (
        SELECT unnest(list_transform(range(1, len(t)),
                 i -> t[i] || ' ' || t[i+1])) AS bigram
        FROM toks),
      e AS MATERIALIZED (
        SELECT string_split(bigram, ' ')[1] AS src,
               string_split(bigram, ' ')[2] AS dst,
               CAST(COUNT(*) AS BIGINT) AS w
        FROM big GROUP BY 1, 2),
      ids AS MATERIALIZED (
        SELECT node, ROW_NUMBER() OVER (ORDER BY node) AS nid FROM (
          SELECT DISTINCT node FROM
            (SELECT src AS node FROM e UNION ALL SELECT dst FROM e))),
      ei AS MATERIALIZED (
        SELECT si.nid AS src, di.nid AS dst, e.w
        FROM e JOIN ids si ON e.src = si.node
               JOIN ids di ON e.dst = di.node),
      ow AS MATERIALIZED (
        SELECT src, CAST(SUM(w) AS BIGINT) AS w_out FROM ei GROUP BY 1),
      p AS MATERIALIZED (
        SELECT ei.src, ei.dst, ei.w, ow.w_out FROM ei JOIN ow USING (src)),
      nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ids),
      r0 AS MATERIALIZED (
        SELECT nid AS node, $S // nn.n AS r FROM ids CROSS JOIN nn),
      $iterCtes
      SELECT ids.node AS node, CAST(r5.r AS BIGINT) AS rank_scaled
      FROM r5 JOIN ids ON r5.node = ids.nid
      ORDER BY rank_scaled DESC, ids.node LIMIT 20"""
  }

  /** q96 — temperature-scaled corpus mixing (τ = 0.5): languages
    * reweighted by √share instead of share, the standard multilingual
    * rebalancing. √n is a single IEEE operation (bit-exact on every
    * engine) and normalization runs over INTEGERS — each weight is
    * ⌊√n·10⁶⌋, summed exactly — so the final shares are one double
    * division, never an order-sensitive float sum. */
  private val q96 = QueryDef(
    "q96_temperature_mix",
    (s, dir) => {
      val perLang = langTokens(s, dir)
        .withColumn("w_int",
          floor(sqrt(col("lang_tokens").cast(DoubleType)) * 1e6).cast(LongType))
      val tot = perLang.agg(sum(col("lang_tokens")).as("total_tokens"),
        sum(col("w_int")).as("total_w"))
      perLang.crossJoin(broadcast(tot))
        .withColumn("share",
          col("lang_tokens").cast(DoubleType) / col("total_tokens").cast(DoubleType))
        .withColumn("temp_weight",
          col("w_int").cast(DoubleType) / col("total_w").cast(DoubleType))
        .withColumn("boost", col("temp_weight") / col("share"))
        .select(col("lang"), col("lang_tokens"), col("share"),
          col("temp_weight"), col("boost"))
        .orderBy(col("lang"))
    },
    Some(s"""
      WITH per AS (
        SELECT lang, CAST(SUM(len($toksSql)) AS BIGINT) AS lang_tokens
        FROM documents GROUP BY 1),
      w AS (
        SELECT lang, lang_tokens,
               CAST(floor(sqrt(CAST(lang_tokens AS DOUBLE)) * 1e6) AS BIGINT) AS w_int
        FROM per),
      tot AS (SELECT SUM(lang_tokens) AS total_tokens, SUM(w_int) AS total_w FROM w)
      SELECT lang, lang_tokens,
             CAST(lang_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE) AS share,
             CAST(w_int AS DOUBLE) / CAST(total_w AS DOUBLE) AS temp_weight,
             (CAST(w_int AS DOUBLE) / CAST(total_w AS DOUBLE))
               / (CAST(lang_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE)) AS boost
      FROM w, tot ORDER BY lang"""))

  /** q97 — train/eval split-leakage audit: near-dup clusters (q67's
    * Jaccard pairs closed over [[graft.operators.Dedup
    * .connectedComponents]]) that STRADDLE the deterministic 10%
    * eval split — the contamination check a pipeline must run before
    * trusting held-out metrics, because near-duplicates leak signal
    * across the split that exact-match checks miss. */
  private val q97 = QueryDef(
    "q97_split_leakage",
    (s, dir) => {
      // spread = true (round-15): q98's confirmed shape — the shingle
      // pipeline runs once inside the CC edge checkpoint; the second
      // docs consumer (the split projection) is a cheap scan
      val docs = ExtensionQueries.augmentedDocs(s, dir, spread = true)
      val pairs = graft.operators.Dedup.ngramJaccard(docs, threshold = 0.3)
      val comps = graft.operators.Dedup.connectedComponents(pairs)
      val split = docs.select(col("doc_id"),
        when(graft.operators.Sampling.bucket(col("doc_id")) < 10, lit("eval"))
          .otherwise(lit("train")).as("split"))
      comps.join(split, comps("id") === split("doc_id"))
        .groupBy(col("component"))
        .agg(count(lit(1)).as("cluster_size"),
          sum(when(col("split") === "eval", 1L).otherwise(0L)).as("n_eval"),
          sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_train"))
        .filter(col("n_eval") > 0 && col("n_train") > 0)
        .orderBy(col("component"))
    },
    Some(s"""
      WITH ${ExtensionQueries.jaccardClustersSql},
      split AS (
        SELECT doc_id,
               CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                          AS BIGINT) % 100 < 10
                    THEN 'eval' ELSE 'train' END AS split
        FROM aug)
      SELECT component, COUNT(*) AS cluster_size,
             CAST(SUM(CASE WHEN split = 'eval' THEN 1 ELSE 0 END) AS BIGINT) AS n_eval,
             CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train
      FROM comp JOIN split ON comp.id = split.doc_id
      GROUP BY component
      HAVING SUM(CASE WHEN split = 'eval' THEN 1 ELSE 0 END) > 0
         AND SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) > 0
      ORDER BY component"""))

  /** q98 — keep-best dedup survivor policy: within each near-dup
    * cluster keep the HIGHEST-quality document (tiebreak min id)
    * instead of q67's canonical min-id — the curation-grade policy
    * (near-dups differ in quality; keep-min throws the best copy
    * away). Quality is the same pure-double formula both engines
    * compute bit-identically (q40). */
  private val q98 = QueryDef(
    "q98_keep_best_dedup",
    (s, dir) => {
      val docs = ExtensionQueries.augmentedDocs(s, dir, spread = true)
      val pairs = graft.operators.Dedup.ngramJaccard(docs, threshold = 0.3)
      val comps = graft.operators.Dedup.connectedComponents(pairs)
      val scored = docs.select(col("doc_id"),
        TextFunctions.qualityScore(col("text")).as("quality"))
      val w = Window.partitionBy(col("component"))
        .orderBy(col("quality").desc, col("doc_id"))
      comps.join(scored, comps("id") === scored("doc_id"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("component"), col("doc_id").as("kept_id"), col("quality"))
        .orderBy(col("component"))
    },
    Some(s"""
      WITH ${ExtensionQueries.jaccardClustersSql},
      q AS (SELECT doc_id, ${ExtensionQueries.qualitySql} AS quality FROM toks),
      ranked AS (
        SELECT comp.component, comp.id, q.quality,
               ROW_NUMBER() OVER (PARTITION BY comp.component
                                  ORDER BY q.quality DESC, comp.id) AS rk
        FROM comp JOIN q ON comp.id = q.doc_id)
      SELECT component, id AS kept_id, quality
      FROM ranked WHERE rk = 1 ORDER BY component"""))

  /** q99 — event-rate anomaly detection: per event type, daily counts
    * over the ZERO-FILLED calendar spine (q81's grid — missing days
    * are genuine 0-count observations) z-scored against the type's
    * own history with EXACT integer moments (q68's discipline:
    * `var = (n·Σx² − (Σx)²) / n²` from integer sums, one sqrt, one
    * division — bit-stable), flagging |z| > 2 days. */
  private val q99 = QueryDef(
    "q99_rate_anomaly",
    (s, dir) => {
      val daily = dailyGrid(s, dir)
      val stats = daily.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"), sum(col("n_events")).as("s1"),
          sum(col("n_events") * col("n_events")).as("s2"))
        .withColumn("mean", col("s1").cast(DoubleType) / col("n_days").cast(DoubleType))
        .withColumn("std",
          sqrt((col("n_days") * col("s2") - col("s1") * col("s1")).cast(DoubleType)
            / (col("n_days") * col("n_days")).cast(DoubleType)))
      daily.join(stats.select(col("event_type"), col("mean"), col("std")),
          Seq("event_type"))
        .withColumn("z", (col("n_events").cast(DoubleType) - col("mean")) / col("std"))
        .filter(abs(col("z")) > 2.0)
        .select(col("event_type"), col("day"), col("n_events"), col("z"))
        .orderBy(col("event_type"), col("day"))
    },
    Some(s"""
      WITH $daySpineSql,
      raw AS (SELECT day, event_type, COUNT(*) AS n FROM e GROUP BY 1, 2),
      daily AS (
        SELECT days.day, t.event_type,
               COALESCE(n, CAST(0 AS BIGINT)) AS n_events
        FROM days CROSS JOIN t
        LEFT JOIN raw ON raw.day = days.day AND raw.event_type = t.event_type),
      stats AS (
        SELECT event_type, COUNT(*) AS n_days,
               SUM(n_events) AS s1, SUM(n_events * n_events) AS s2
        FROM daily GROUP BY 1),
      z AS (
        SELECT d.event_type, d.day, d.n_events,
               (CAST(d.n_events AS DOUBLE)
                  - CAST(s1 AS DOUBLE) / CAST(n_days AS DOUBLE))
               / sqrt(CAST(n_days * s2 - s1 * s1 AS DOUBLE)
                      / CAST(n_days * n_days AS DOUBLE)) AS z
        FROM daily d JOIN stats s ON d.event_type = s.event_type)
      SELECT event_type, day, n_events, z
      FROM z WHERE abs(z) > 2.0 ORDER BY event_type, day"""))

  /** q100 — containment dedup: documents EMBEDDED in a longer
    * document (`|A∩B|/min(|A|,|B|) ≥ 0.9` over distinct word
    * 3-shingles) — the asymmetric-overlap case symmetric Jaccard
    * misses ([[graft.operators.Dedup.containmentPairs]], same
    * inverted-index single-shuffle plan), with the MOSS-style
    * boilerplate mask: shingles shared by more than 20 documents
    * within a source block are excluded from pairing AND from the
    * intersection count (denominator stays the full shingle-set
    * size). Round 6's gen-sf2 cell measured the uncapped index at
    * shuffle-record exponent 1.8 and climbing — per-(block,shingle)
    * posting length grows with corpus size, so pair mass was
    * genuinely quadratic; with the cap, pair mass per shingle is
    * ≤ C(20,2) and total candidate mass is bounded by distinct
    * (block, shingle) combinations — linear on real corpora where
    * shingle diversity grows with N. The oracle applies the
    * identical mask. */
  private val q100 = QueryDef(
    "q100_containment_dedup",
    (s, dir) =>
      // spread = true (round-15, guide §2.5): q100 is a straight
      // pairStats chain (no iterative-kernel consumer downstream), and
      // its warm job log showed 1.12 s of a 1.17 s job total inside
      // the 2-task union-scan stage where tokenize+shingle+explode
      // fuse into the single-split scan — the same shape as q191's
      // round-14 spread win. No-op at multi-split tiers.
      graft.operators.Dedup.containmentPairs(
          ExtensionQueries.augmentedDocs(s, dir, spread = true),
          threshold = 0.9, maxPostings = Some(20))
        .orderBy(col("id_a"), col("id_b")),
    Some(s"""
      WITH ${ExtensionQueries.augmentedDocsSql},
      toks AS (SELECT doc_id, source, text, $toksSql AS t FROM aug),
      prepped AS MATERIALIZED (
        SELECT doc_id AS id, source AS blk,
               list_distinct(${ExtensionQueries.shinglesSql}) AS sh
        FROM toks),
      ex AS (SELECT id, blk, unnest(sh) AS s FROM prepped),
      dfreq AS (SELECT blk, s, COUNT(*) AS df FROM ex GROUP BY 1, 2),
      keptex AS (
        SELECT ex.id, ex.blk, ex.s FROM ex
        JOIN dfreq ON dfreq.blk = ex.blk AND dfreq.s = ex.s
        WHERE dfreq.df BETWEEN 2 AND 20),
      inter AS (
        SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_inter
        FROM keptex a JOIN keptex b ON a.blk = b.blk AND a.s = b.s
                                   AND a.id < b.id
        GROUP BY 1, 2)
      SELECT i.id_a, i.id_b, CAST(i.n_inter AS BIGINT) AS n_inter,
             CAST(least(len(pa.sh), len(pb.sh)) AS BIGINT) AS n_min,
             CAST(i.n_inter AS DOUBLE)
               / least(len(pa.sh), len(pb.sh)) AS containment
      FROM inter i
      JOIN prepped pa ON pa.id = i.id_a
      JOIN prepped pb ON pb.id = i.id_b
      WHERE CAST(i.n_inter AS DOUBLE)
              / least(len(pa.sh), len(pb.sh)) >= 0.9
      ORDER BY id_a, id_b"""))

  /** q137 — cluster-safe train/val/test split: the FIX for the
    * leakage q97 detects. A per-document hash split lets near-dup
    * clusters straddle train and eval (q97 finds exactly those
    * clusters); here the split key is the near-dup CLUSTER label
    * (singletons cluster as themselves), so every document in a
    * cluster lands in the same slice BY CONSTRUCTION — leakage is
    * structurally zero, not audited after the fact. Split membership
    * stays a pure md5 function of the cluster id (the q52
    * discipline), so any engine reproduces the identical 80/10/10
    * assignment; the oracle recomputes the transitive closure
    * recursively and replays the bucketing. */
  private val q137 = QueryDef(
    "q137_cluster_safe_split",
    (s, dir) => {
      // spread = true (round-15): same rationale as q97/q98
      val docs = ExtensionQueries.augmentedDocs(s, dir, spread = true)
      val pairs = graft.operators.Dedup.ngramJaccard(docs, threshold = 0.3)
      val comps = graft.operators.Dedup.connectedComponents(pairs)
      val assigned = docs.join(comps, docs("doc_id") === comps("id"), "left")
        .select(col("doc_id"), col("source"), col("text"),
          coalesce(col("component"), col("doc_id")).as("cluster"))
      val split = assigned
        .withColumn("b", graft.operators.Sampling.bucket(col("cluster")))
        .withColumn("split",
          when(col("b") < 80, "train").when(col("b") < 90, "val")
            .otherwise("test"))
      split.groupBy(col("split"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("cluster")).as("n_clusters"),
          sum(length(col("text")).cast(LongType)).as("char_mass"))
        .orderBy(col("split"), col("source"))
    },
    Some(s"""
      WITH ${ExtensionQueries.jaccardClustersSql},
      cl AS (
        SELECT a.doc_id, a.source, a.text,
               COALESCE(c.component, a.doc_id) AS cluster
        FROM aug a LEFT JOIN comp c ON a.doc_id = c.id),
      lab AS (
        SELECT source, text, cluster,
               CASE WHEN CAST('0x' || substr(md5(CAST(cluster AS VARCHAR)), 1, 15)
                          AS BIGINT) % 100 < 80 THEN 'train'
                    WHEN CAST('0x' || substr(md5(CAST(cluster AS VARCHAR)), 1, 15)
                          AS BIGINT) % 100 < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM cl)
      SELECT split, source, COUNT(*) AS n_docs,
             CAST(COUNT(DISTINCT cluster) AS BIGINT) AS n_clusters,
             CAST(SUM(length(text)) AS BIGINT) AS char_mass
      FROM lab GROUP BY 1, 2 ORDER BY split, source"""))

  def all: Seq[QueryDef] =
    Seq(q80, q81, q82, q83, q84, q85, q86, q87, q88, q89, q90, q91, q92,
      q93, q94, q95, q96, q97, q98, q99, q100, q137, q229)
}
