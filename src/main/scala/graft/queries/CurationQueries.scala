package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType, StringType}
import graft.operators.{Reconcile, Sampling, TextAnalysis}
import graft.queries.QueryDef.table
import graft.queries.ExtensionQueries.toksSql
import graft.functions.DecimalExprs.dec2

/** Round-3 widening: distribution-window family, PII scrubbing,
  * snapshot reconciliation, boilerplate-line removal, TF-IDF,
  * stratified sampling, and embedding centroids — each oracle-checked
  * against DuckDB on the shared parquet tables. */
object CurationQueries {

  /** q39 — ranking-distribution window family (percent_rank /
    * cume_dist / ntile), the OVER-clause surface q10/q28 don't cover.
    * percent_rank and cume_dist are integer-ratio doubles under a
    * unique ordering, so they hash identically across engines.
    *
    * Scale shape (round 8): the naive form put all four functions in
    * one `OVER (PARTITION BY o_orderpriority ORDER BY …)` window — 5
    * frames of N/5 rows each, un-prunable because pr/cd/nt need the
    * whole frame even though only rk ≤ 3 rows survive. But under the
    * UNIQUE ordering (orderkey tiebreak) every one of them is pure
    * arithmetic in (rk, n): pr = (rk-1)/(n-1), cd = rk/n, nt =
    * [[graft.operators.Ids.ntileFromRank]]. So the window keeps ONLY
    * `row_number` + the rk ≤ 3 filter — which Catalyst's
    * InferWindowGroupLimit rewrites into a map-side top-3-per-priority
    * prune (≤ 15 rows leave each scan task; the final WindowExec sorts
    * 3-row frames, CONSTANT at any corpus size) — and n rides in on a
    * broadcast 5-row count. This beats the q106 range-rank discipline
    * here because q106 needs ranks for EVERY row while q39 only needs
    * the top 3: group-limit pruning at the scan is strictly cheaper
    * than a corpus-wide range sort. ScaleSpec pins the pruned plan and
    * the constant frame. */
  private val q39 = QueryDef(
    "q39_rank_distribution",
    (s, dir) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      val base = table(s, dir, "orders")
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
      val counts = base.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
      base
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
          row_number().over(w).cast(LongType).as("rk"))
        .filter(col("rk") <= 3)
        .join(broadcast(counts), Seq("o_orderpriority"))
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
          col("rk"),
          // SQL defines percent_rank = 0 for a single-row frame (the
          // 0/0 guard); both engines agree
          when(col("n") === 1, lit(0.0))
            .otherwise((col("rk") - 1).cast(DoubleType) /
              (col("n") - 1).cast(DoubleType)).as("pr"),
          (col("rk").cast(DoubleType) / col("n").cast(DoubleType)).as("cd"),
          graft.operators.Ids.ntileFromRank(col("rk"), col("n"), 4).as("nt"))
        .orderBy(col("o_orderpriority"), col("rk"))
    },
    Some("""
      SELECT * FROM (
        SELECT o_orderpriority, o_orderkey, o_totalprice,
               CAST(row_number() OVER w AS BIGINT) AS rk,
               percent_rank() OVER w AS pr,
               cume_dist() OVER w AS cd,
               CAST(ntile(4) OVER w AS BIGINT) AS nt
        FROM orders
        WINDOW w AS (PARTITION BY o_orderpriority
                     ORDER BY o_totalprice DESC, o_orderkey))
      WHERE rk <= 3 ORDER BY o_orderpriority, rk"""))

  /** Documents with deterministic PII injected into every even doc
    * (odd docs stay clean — the scrub must count zero there). */
  private def piiDocs(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")
      .select(col("doc_id"),
        when(col("doc_id") % 2 === 0,
          concat(col("text"),
            lit(" contact user"), (col("doc_id") % 10).cast(StringType),
            lit("@example.com or https://site"),
            (col("doc_id") % 7).cast(StringType),
            lit(".io call 555-"),
            lpad((col("doc_id") % 10000).cast(StringType), 4, "0")))
          .otherwise(col("text")).as("text"))

  private val piiDocsSql =
    """pii AS (
        SELECT doc_id,
               CASE WHEN doc_id % 2 = 0
                    THEN text || ' contact user' || CAST(doc_id % 10 AS VARCHAR)
                         || '@example.com or https://site'
                         || CAST(doc_id % 7 AS VARCHAR) || '.io call 555-'
                         || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                    ELSE text END AS text
        FROM documents)"""

  /** q45 — PII scrub: redact emails/URLs/phones, count each class. */
  private val q45 = QueryDef(
    "q45_pii_scrub",
    (s, dir) => TextAnalysis.scrubPii(piiDocs(s, dir))
      .select(col("doc_id"), col("n_emails"), col("n_urls"), col("n_phones"),
        col("clean_text"))
      .orderBy(col("doc_id")),
    Some(s"""
      WITH $piiDocsSql
      SELECT doc_id,
             CAST(len(regexp_extract_all(text, '${TextAnalysis.EmailRe}')) AS BIGINT) AS n_emails,
             CAST(len(regexp_extract_all(text, '${TextAnalysis.UrlRe}')) AS BIGINT) AS n_urls,
             CAST(len(regexp_extract_all(text, '${TextAnalysis.PhoneRe}')) AS BIGINT) AS n_phones,
             regexp_replace(
               regexp_replace(
                 regexp_replace(text, '${TextAnalysis.EmailRe}', '<EMAIL>', 'g'),
                 '${TextAnalysis.UrlRe}', '<URL>', 'g'),
               '${TextAnalysis.PhoneRe}', '<PHONE>', 'g') AS clean_text
      FROM pii ORDER BY doc_id"""))

  /** q48 — snapshot reconciliation: customer vs a deterministically
    * mutated successor (drops, adds, segment changes); emits only the
    * differing keys with their status and changed-column list. */
  private val q48 = QueryDef(
    "q48_snapshot_diff",
    (s, dir) => {
      val before = table(s, dir, "customer")
      // added-key offset derived from the data (max+1 via a broadcast
      // scalar), not a +1_000_000 literal: the same fixture-boundary
      // collision the round-12 diverse-sf8 sweep caught in q05 — a
      // constant offset stops being disjoint once the customer table
      // outgrows it, and the "added" rows silently become key dups
      val maxKey = before.agg(max(col("c_custkey")).as("_maxk"))
      val after = before
        .filter(col("c_custkey") % 97 =!= 0)
        .withColumn("c_mktsegment",
          when(col("c_custkey") % 7 === 0, lit("REMAPPED"))
            .otherwise(col("c_mktsegment")))
        .unionByName(before.filter(col("c_custkey") % 89 === 0)
          .crossJoin(broadcast(maxKey)).select(
            (col("c_custkey") + col("_maxk") + 1L).as("c_custkey"), col("c_name"),
            col("c_nationkey"), col("c_acctbal"), lit("NEWSEG").as("c_mktsegment")))
      Reconcile.snapshotDiff(before, after, Seq("c_custkey"),
          Seq("c_mktsegment", "c_acctbal"))
        .filter(col("status") =!= "unchanged")
        .select(col("c_custkey"), col("status"), col("changed_cols"),
          col("c_mktsegment_before"), col("c_mktsegment_after"))
        .orderBy(col("c_custkey"))
    },
    Some("""
      WITH a AS (
        SELECT c_custkey,
               CASE WHEN c_custkey % 7 = 0 THEN 'REMAPPED'
                    ELSE c_mktsegment END AS c_mktsegment,
               c_acctbal
        FROM customer WHERE c_custkey % 97 <> 0
        UNION ALL
        SELECT c_custkey + (SELECT MAX(c_custkey)+1 FROM customer),
               'NEWSEG', c_acctbal
        FROM customer WHERE c_custkey % 89 = 0),
      j AS (
        SELECT coalesce(b.c_custkey, a.c_custkey) AS c_custkey,
               b.c_custkey IS NULL AS added, a.c_custkey IS NULL AS removed,
               b.c_mktsegment AS seg_b, a.c_mktsegment AS seg_a,
               b.c_acctbal AS bal_b, a.c_acctbal AS bal_a
        FROM customer b FULL OUTER JOIN a ON b.c_custkey = a.c_custkey),
      d AS (
        SELECT c_custkey,
               CASE WHEN added THEN 'added'
                    WHEN removed THEN 'removed'
                    WHEN NOT (seg_b IS NOT DISTINCT FROM seg_a)
                      OR NOT (bal_b IS NOT DISTINCT FROM bal_a) THEN 'changed'
                    ELSE 'unchanged' END AS status,
               seg_b, seg_a, bal_b, bal_a
        FROM j)
      SELECT c_custkey, status,
             CASE WHEN status = 'changed' THEN concat_ws(',',
               CASE WHEN NOT (seg_b IS NOT DISTINCT FROM seg_a)
                    THEN 'c_mktsegment' END,
               CASE WHEN NOT (bal_b IS NOT DISTINCT FROM bal_a)
                    THEN 'c_acctbal' END)
                  ELSE '' END AS changed_cols,
             seg_b AS c_mktsegment_before, seg_a AS c_mktsegment_after
      FROM d WHERE status <> 'unchanged' ORDER BY c_custkey"""))

  /** Multi-line corpus: shared header class (one of 3), unique-ish
    * body, universal footer — the boilerplate-removal fixture. */
  private def linedDocs(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")
      .select(col("doc_id"),
        concat_ws("\n",
          concat(lit("hdr "), (col("doc_id") % 3).cast(StringType)),
          col("text"),
          lit("common footer")).as("text"))

  private val linedDocsSql =
    """lined AS (
        SELECT doc_id,
               'hdr ' || CAST(doc_id % 3 AS VARCHAR) || chr(10) || text
                 || chr(10) || 'common footer' AS text
        FROM documents)"""

  /** q55 — boilerplate line removal (C4-style): lines present in ≥ 10
    * distinct docs are dropped everywhere; line order preserved. */
  private val q55 = QueryDef(
    "q55_line_boilerplate",
    (s, dir) => TextAnalysis.stripBoilerplate(linedDocs(s, dir), minDocFreq = 10)
      .orderBy(col("doc_id")),
    Some(s"""
      WITH $linedDocsSql,
      lines AS (
        SELECT doc_id,
               generate_subscripts(string_split(text, chr(10)), 1) AS pos,
               trim(unnest(string_split(text, chr(10)))) AS line
        FROM lined),
      freq AS (
        SELECT line, COUNT(DISTINCT doc_id) AS df FROM lines GROUP BY 1)
      SELECT l.doc_id,
             coalesce(string_agg(l.line, chr(10) ORDER BY l.pos)
                        FILTER (WHERE f.df < 10), '') AS clean_text,
             COUNT(*) FILTER (WHERE f.df < 10) AS n_lines_kept,
             COUNT(*) FILTER (WHERE f.df >= 10) AS n_lines_dropped
      FROM lines l JOIN freq f USING (line)
      GROUP BY l.doc_id ORDER BY l.doc_id"""))

  /** q56 — corpus TF-IDF: top-5 terms per source by summed
    * tf·ln(N/df); integer tf sums × one log per term keep the doubles
    * bit-stable (see [[TextAnalysis.tfIdfTopTerms]]). */
  private val q56 = QueryDef(
    "q56_tfidf_terms",
    (s, dir) => TextAnalysis.tfIdfTopTerms(
      table(s, dir, "documents"), k = 5)
      .orderBy(col("source"), col("rk")),
    Some(s"""
      WITH toks AS (
        SELECT doc_id, source, u.term AS term
        FROM documents,
             UNNEST($toksSql) AS u(term)),
      tf AS (
        SELECT doc_id, source, term, COUNT(*) AS tf
        FROM toks GROUP BY 1, 2, 3),
      df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
      n AS (SELECT COUNT(*) AS n FROM documents),
      scored AS (
        SELECT tf.source, tf.term,
               round(SUM(tf.tf) * ln(CAST(n.n AS DOUBLE) / df.df), 6) AS score
        FROM tf JOIN df USING (term) CROSS JOIN n
        GROUP BY tf.source, tf.term, df.df, n.n),
      ranked AS (
        SELECT source,
               CAST(row_number() OVER (PARTITION BY source
                 ORDER BY score DESC, term) AS BIGINT) AS rk,
               term, score
        FROM scored)
      SELECT source, rk, term, score FROM ranked
      WHERE rk <= 5 ORDER BY source, rk"""))

  /** q57 — stratified deterministic hash sampling: per-source keep
    * rates, reproducible in any engine (no RNG stream dependence). */
  private val q57 = QueryDef(
    "q57_stratified_sample",
    (s, dir) => {
      val rates = Map("src0" -> 50, "src1" -> 25, "src2" -> 10)
      Sampling.stratifiedSample(
          table(s, dir, "documents"), "doc_id", "source", rates, defaultPct = 5)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast(LongType).as("total_chars"))
        .orderBy(col("source"))
    },
    Some("""
      WITH b AS (
        SELECT *,
               CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                 % 100 AS bkt,
               CASE source WHEN 'src0' THEN 50 WHEN 'src1' THEN 25
                           WHEN 'src2' THEN 10 ELSE 5 END AS rate
        FROM documents)
      SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
      FROM b WHERE bkt < rate GROUP BY source ORDER BY source"""))

  /** q58 — per-label embedding centroids: elementwise mean over each
    * label's vectors. Elements are cast to DECIMAL(20,7) before the
    * sum so the aggregation is exact (order-independent) and the
    * final double division is bit-identical across engines. */
  private val q58 = QueryDef(
    "q58_vector_centroids",
    (s, dir) => table(s, dir, "embeddings")
      .select(col("label").cast(LongType).as("label"),
        posexplode(col("embedding")).as(Seq("pos0", "x")))
      .select(col("label"), (col("pos0") + 1).cast(LongType).as("pos"),
        col("x").cast(DoubleType).cast(DecimalType(20, 7)).as("xd"))
      .groupBy(col("label"), col("pos"))
      .agg(count(lit(1)).as("n_vecs"),
        (sum(col("xd")).cast(DoubleType) / count(lit(1))).as("centroid"))
      .orderBy(col("label"), col("pos")),
    Some("""
      WITH e AS (
        SELECT CAST(label AS BIGINT) AS label,
               CAST(generate_subscripts(embedding, 1) AS BIGINT) AS pos,
               CAST(CAST(unnest(embedding) AS DOUBLE) AS DECIMAL(20,7)) AS xd
        FROM embeddings)
      SELECT label, pos, COUNT(*) AS n_vecs,
             CAST(SUM(xd) AS DOUBLE) / COUNT(*) AS centroid
      FROM e GROUP BY 1, 2 ORDER BY label, pos"""))

  /** q59 — unpivot/melt (wide → long), the inverse of q17's pivot:
    * three measure columns become (metric, value) rows, then a
    * long-form aggregate. Narrow row-expansion, no shuffle until the
    * final group. */
  private val q59 = QueryDef(
    "q59_unpivot_measures",
    (s, dir) => table(s, dir, "lineitem")
      .unpivot(
        Array(col("l_returnflag")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
        "metric", "value")
      .groupBy(col("l_returnflag"), col("metric"))
      .agg(count(lit(1)).as("n"),
        sum(dec2(col("value"))).cast(DoubleType).as("total"))
      .orderBy(col("l_returnflag"), col("metric")),
    Some("""
      WITH long AS (
        SELECT l_returnflag, 'l_quantity' AS metric, l_quantity AS value FROM lineitem
        UNION ALL
        SELECT l_returnflag, 'l_extendedprice', l_extendedprice FROM lineitem
        UNION ALL
        SELECT l_returnflag, 'l_discount', l_discount FROM lineitem)
      SELECT l_returnflag, metric, COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM long GROUP BY 1, 2 ORDER BY l_returnflag, metric"""))

  /** q60 — incremental-rollup merge: two pre-aggregated partial loads
    * (split by order key parity, as daily batches would be) merged by
    * re-aggregation into the monthly rollup. Verifies the
    * reaggregatable-measure design (counts sum, DECIMAL sums sum) the
    * incremental gold layer depends on: the oracle computes the
    * rollup DIRECTLY, so a pass proves partial-merge ≡ full-agg. */
  private val q60 = QueryDef(
    "q60_rollup_merge",
    (s, dir) => {
      val o = table(s, dir, "orders")
        .withColumn("month", date_format(col("o_orderdate"), "yyyy-MM"))
      def partial(part: DataFrame): DataFrame = part
        .groupBy(col("month"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          sum(dec2(col("o_totalprice"))).as("total"))
      val load1 = partial(o.filter(col("o_orderkey") % 2 === 0))
      val load2 = partial(o.filter(col("o_orderkey") % 2 =!= 0))
      load1.unionByName(load2)
        .groupBy(col("month"), col("o_orderpriority"))
        .agg(sum(col("n_orders")).as("n_orders"),
          sum(col("total")).cast(DoubleType).as("total"))
        .orderBy(col("month"), col("o_orderpriority"))
    },
    Some("""
      SELECT strftime(o_orderdate, '%Y-%m') AS month, o_orderpriority,
             COUNT(*) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM orders GROUP BY 1, 2 ORDER BY month, o_orderpriority"""))

  /** q61 — MapType surface: per-source language histogram built AS A
    * MAP (map_from_entries over collected pairs), filtered and
    * share-scored with map higher-order functions, then exploded back
    * to rows. The oracle sees only the exploded long form, which is
    * engine-neutral. */
  private val q61 = QueryDef(
    "q61_map_histogram",
    (s, dir) => {
      val counts = table(s, dir, "documents")
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n"))
      val asMap = counts
        .groupBy(col("source"))
        .agg(map_from_entries(
          array_sort(collect_list(struct(col("lang"), col("n"))))).as("hist"))
        .withColumn("total",
          aggregate(map_values(col("hist")), lit(0L), (acc, x) => acc + x))
        // map HOFs: drop rare entries, rescale survivors to percent
        .withColumn("hist_pct",
          map_filter(
            transform_values(col("hist"),
              (_, v) => round(v * lit(100.0) / col("total"), 6)),
            (_, pct) => pct >= 1.0))
      asMap
        .select(col("source"), col("total"),
          explode(col("hist_pct")).as(Seq("lang", "pct")))
        .orderBy(col("source"), col("lang"))
    },
    Some("""
      WITH counts AS (
        SELECT source, lang, COUNT(*) AS n
        FROM documents GROUP BY 1, 2),
      tot AS (
        SELECT source, SUM(n) AS total FROM counts GROUP BY 1),
      pct AS (
        SELECT c.source, t.total, c.lang,
               round(c.n * 100.0 / t.total, 6) AS pct
        FROM counts c JOIN tot t USING (source))
      SELECT source, CAST(total AS BIGINT) AS total, lang, pct
      FROM pct WHERE pct >= 1.0 ORDER BY source, lang"""))

  /** q62 — time-range rolling features (the RANGE BETWEEN frame the
    * row-frame queries q10/q28 don't touch): per user, each event's
    * trailing-1-hour event count and value sum. One shuffle on
    * user_id; the range frame is evaluated in a single sorted pass
    * per partition. */
  private val q62 = QueryDef(
    "q62_rolling_range",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ms"))
        .rangeBetween(-3600000L, 0L)
      QueryDef.eventsTable(s, dir)
        .select(col("event_id"), col("user_id"),
          unix_millis(col("ts")).as("ms"),
          dec2(col("value")).as("v"))
        .select(col("event_id"), col("user_id"), col("ms"),
          count(lit(1)).over(w).as("n_trailing_1h"),
          sum(col("v")).over(w).cast(DoubleType).as("sum_trailing_1h"))
        .orderBy(col("event_id"))
    },
    Some("""
      WITH e AS (
        SELECT event_id, user_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS ms,
               CAST(value AS DECIMAL(18,2)) AS v
        FROM events)
      SELECT event_id, user_id, ms,
             COUNT(*) OVER w AS n_trailing_1h,
             CAST(SUM(v) OVER w AS DOUBLE) AS sum_trailing_1h
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY ms
                   RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW)
      ORDER BY event_id"""))

  /** q63 — ordered funnel: click → view → purchase, each stage's
    * first occurrence strictly after the previous stage's. Three
    * conditional-min aggregations over one shuffled pass each; the
    * stage dependencies are expressed as joins back to the events,
    * which AQE broadcasts (per-user firsts are tiny next to events). */
  private val q63 = QueryDef(
    "q63_event_funnel",
    (s, dir) => {
      val e = QueryDef.eventsTable(s, dir)
        .select(col("user_id"), col("event_type"),
          unix_millis(col("ts")).as("ms"))
      val c = e.filter(col("event_type") === "click")
        .groupBy(col("user_id")).agg(min(col("ms")).as("c_ms"))
      val v = e.join(c, "user_id")
        .filter(col("event_type") === "view" && col("ms") > col("c_ms"))
        .groupBy(col("user_id")).agg(min(col("ms")).as("v_ms"))
      val p = e.join(v, "user_id")
        .filter(col("event_type") === "purchase" && col("ms") > col("v_ms"))
        .groupBy(col("user_id")).agg(min(col("ms")).as("p_ms"))
      val stages = Seq(
        ("1_click", c), ("2_view_after_click", v), ("3_purchase_after_view", p))
      stages.map { case (name, df) =>
        df.agg(count(lit(1)).as("n_users")).select(lit(name).as("stage"), col("n_users"))
      }.reduce(_ unionByName _).orderBy(col("stage"))
    },
    Some("""
      WITH e AS (SELECT user_id, event_type,
                        epoch_ms(CAST(ts AS TIMESTAMP)) AS ms FROM events),
      c AS (SELECT user_id, MIN(ms) AS c_ms FROM e
            WHERE event_type = 'click' GROUP BY 1),
      v AS (SELECT e.user_id, MIN(ms) AS v_ms
            FROM e JOIN c USING (user_id)
            WHERE event_type = 'view' AND ms > c_ms GROUP BY 1),
      p AS (SELECT e.user_id, MIN(ms) AS p_ms
            FROM e JOIN v USING (user_id)
            WHERE event_type = 'purchase' AND ms > v_ms GROUP BY 1)
      SELECT '1_click' AS stage, COUNT(*) AS n_users FROM c
      UNION ALL
      SELECT '2_view_after_click', COUNT(*) FROM v
      UNION ALL
      SELECT '3_purchase_after_view', COUNT(*) FROM p
      ORDER BY stage"""))

  /** q64 — retention cohorts: users grouped by first-seen week, the
    * classic (cohort_week, week_offset) → distinct-user matrix. Two
    * shuffles: per-user first week, then the cohort cell counts. */
  private val q64 = QueryDef(
    "q64_retention_cohorts",
    (s, dir) => {
      val e = QueryDef.eventsTable(s, dir)
        .select(col("user_id"), to_date(date_trunc("week", col("ts"))).as("wk"))
        .distinct()
      val first = e.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_wk"))
      e.join(first, "user_id")
        .groupBy(col("cohort_wk"),
          (datediff(col("wk"), col("cohort_wk")) / 7).cast(LongType).as("week_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("cohort_wk"), col("week_offset"))
    },
    Some("""
      WITH e AS (
        SELECT DISTINCT user_id,
               CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS wk
        FROM events),
      first AS (SELECT user_id, MIN(wk) AS cohort_wk FROM e GROUP BY 1)
      SELECT cohort_wk,
             CAST(date_diff('day', cohort_wk, wk) // 7 AS BIGINT) AS week_offset,
             COUNT(DISTINCT user_id) AS n_users
      FROM e JOIN first USING (user_id)
      GROUP BY 1, 2 ORDER BY cohort_wk, week_offset"""))

  /** q65 — generic keyed upsert ([[graft.operators.Upsert]]): a daily
    * batch of changed + new customers merged into the current state;
    * the oracle rebuilds the same state with anti-join + union SQL. */
  private val q65 = QueryDef(
    "q65_upsert",
    (s, dir) => {
      val current = table(s, dir, "customer")
      val updates = current.filter(col("c_custkey") % 11 === 0)
        .withColumn("c_acctbal", round(col("c_acctbal") + 100.0, 2))
        .unionByName(current.filter(col("c_custkey") % 13 === 0).select(
          (col("c_custkey") + 2000000L).as("c_custkey"), col("c_name"),
          col("c_nationkey"), col("c_acctbal"), lit("UPSERTED").as("c_mktsegment")))
      graft.operators.Upsert.merge(current, updates, Seq("c_custkey"))
        .select(col("c_custkey"), col("c_nationkey").cast(LongType).as("c_nationkey"),
          col("c_acctbal"), col("c_mktsegment"))
        .orderBy(col("c_custkey"))
    },
    Some("""
      WITH updates AS (
        SELECT c_custkey, c_name, c_nationkey,
               round(c_acctbal + 100.0, 2) AS c_acctbal, c_mktsegment
        FROM customer WHERE c_custkey % 11 = 0
        UNION ALL
        SELECT c_custkey + 2000000, c_name, c_nationkey, c_acctbal, 'UPSERTED'
        FROM customer WHERE c_custkey % 13 = 0),
      merged AS (
        SELECT * FROM updates
        UNION ALL
        SELECT c.* FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM updates u
                          WHERE u.c_custkey = c.c_custkey))
      SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS c_nationkey,
             c_acctbal, c_mktsegment
      FROM merged ORDER BY c_custkey"""))

  /** q66 — vocabulary coverage: top-100 corpus terms as the vocab,
    * per-source out-of-vocabulary token rate. The vocab is a
    * broadcast-joined posting set; the rate is an integer ratio
    * rounded for cross-engine hash stability. */
  private val q66 = QueryDef(
    "q66_oov_rate",
    (s, dir) => {
      val toks = table(s, dir, "documents")
        .select(col("source"),
          explode(graft.functions.TextFunctions.tokens(col("text"))).as("term"))
      val vocab = toks.groupBy(col("term"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("term"))
        .limit(100)
        .select(col("term"), lit(true).as("in_vocab"))
      toks.join(broadcast(vocab), Seq("term"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
        .withColumn("oov_rate",
          round(col("n_oov").cast(DoubleType) / col("n_tokens"), 6))
        .orderBy(col("source"))
    },
    Some(s"""
      WITH toks AS (
        SELECT source, unnest($toksSql) AS term
        FROM documents),
      vocab AS (
        SELECT term FROM (
          SELECT term, COUNT(*) AS n FROM toks GROUP BY 1
          ORDER BY n DESC, term LIMIT 100)),
      tagged AS (
        SELECT t.source, v.term IS NOT NULL AS in_vocab
        FROM toks t LEFT JOIN vocab v USING (term))
      SELECT source, COUNT(*) AS n_tokens,
             CAST(SUM(CASE WHEN in_vocab THEN 0 ELSE 1 END) AS BIGINT) AS n_oov,
             round(CAST(SUM(CASE WHEN in_vocab THEN 0 ELSE 1 END) AS DOUBLE)
                   / COUNT(*), 6) AS oov_rate
      FROM tagged GROUP BY 1 ORDER BY source"""))

  /** q67 — dedup clusters: n-gram-Jaccard near-dup pairs promoted to
    * transitive clusters via [[graft.operators.Dedup.connectedComponents]]
    * (min-label propagation); the oracle closes the same edge list
    * with a recursive CTE. Output: every clustered doc with its
    * canonical (minimum) id and the cluster size. */
  private val q67 = QueryDef(
    "q67_dedup_clusters",
    (s, dir) => {
      // spread = true (round-15, guide §2.5): the shingle pipeline
      // evaluates once, inside connectedComponents' eager edge
      // checkpoint — a single-consumer materialization, so the spread
      // exchange is paid once (q98's confirmed shape)
      val pairs = graft.operators.Dedup.ngramJaccard(
        ExtensionQueries.augmentedDocs(s, dir, spread = true),
        threshold = 0.3)
      val comps = graft.operators.Dedup.connectedComponents(pairs)
      val sizes = comps.groupBy(col("component"))
        .agg(count(lit(1)).as("cluster_size"))
      comps.join(sizes, "component")
        .select(col("id").as("doc_id"), col("component"), col("cluster_size"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH ${ExtensionQueries.jaccardClustersSql},
      sizes AS (SELECT component, COUNT(*) AS cluster_size
                FROM comp GROUP BY 1)
      SELECT c.id AS doc_id, c.component, s.cluster_size
      FROM comp c JOIN sizes s USING (component)
      ORDER BY doc_id"""))

  /** q68 — z-score standardization with EXACT integer moments: sum
    * and sum-of-squares of n_chars are integer aggregates (order-
    * independent), so mean/std and the |z|>2 outlier test are
    * bit-identical across engines without any rounding slack. */
  private val q68 = QueryDef(
    "q68_zscore_outliers",
    (s, dir) => {
      val d = table(s, dir, "documents")
        .select(col("source"), col("n_chars"))
      val stats = d.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("s1"),
          sum(col("n_chars") * col("n_chars")).as("s2"))
        .withColumn("mean_chars", col("s1").cast(DoubleType) / col("n_docs"))
        .withColumn("std_chars",
          sqrt(col("s2").cast(DoubleType) / col("n_docs")
            - col("mean_chars") * col("mean_chars")))
      d.join(broadcast(stats), "source")
        .withColumn("z",
          (col("n_chars").cast(DoubleType) - col("mean_chars")) / col("std_chars"))
        .groupBy(col("source"), col("n_docs"),
          round(col("mean_chars"), 6).as("mean_chars"),
          round(col("std_chars"), 6).as("std_chars"))
        .agg(sum(when(abs(col("z")) > 2.0, 1L).otherwise(0L)).as("n_outliers"))
        .orderBy(col("source"))
    },
    Some("""
      WITH stats AS (
        SELECT source, COUNT(*) AS n_docs,
               SUM(n_chars) AS s1, SUM(n_chars * n_chars) AS s2
        FROM documents GROUP BY 1),
      m AS (
        SELECT source, n_docs,
               CAST(s1 AS DOUBLE) / n_docs AS mean_chars,
               sqrt(CAST(s2 AS DOUBLE) / n_docs
                    - (CAST(s1 AS DOUBLE) / n_docs) * (CAST(s1 AS DOUBLE) / n_docs))
                 AS std_chars
        FROM stats)
      SELECT d.source, m.n_docs,
             round(m.mean_chars, 6) AS mean_chars,
             round(m.std_chars, 6) AS std_chars,
             CAST(SUM(CASE WHEN abs((CAST(d.n_chars AS DOUBLE) - m.mean_chars)
                                    / m.std_chars) > 2.0
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      FROM documents d JOIN m USING (source)
      GROUP BY 1, 2, 3, 4 ORDER BY d.source"""))

  /** q69 — two-stage salted aggregation ≡ plain aggregation: the
    * skewed-GROUP-BY mitigation ([[graft.operators.Skew.saltedAgg]])
    * must be value-identical to the direct form, which is exactly
    * what the oracle computes. Measures are associative (count→sum,
    * DECIMAL sum→sum, min/max→min/max) so the two-stage split cannot
    * change results. */
  private val q69 = QueryDef(
    "q69_salted_agg",
    (s, dir) => graft.operators.Skew.saltedAgg(
        table(s, dir, "lineitem"), "l_returnflag", saltBuckets = 8,
        partials = Seq(
          count(lit(1)).as("pn"),
          sum(dec2(col("l_quantity"))).as("pq"),
          min(col("l_shipdate")).as("pmin"),
          max(col("l_shipdate")).as("pmax")),
        combine = Seq(
          sum(col("pn")).as("n_rows"),
          sum(col("pq")).cast(DoubleType).as("sum_qty"),
          unix_millis(min(col("pmin"))
            .cast(org.apache.spark.sql.types.TimestampType)).as("first_ship_ms"),
          unix_millis(max(col("pmax"))
            .cast(org.apache.spark.sql.types.TimestampType)).as("last_ship_ms")),
        factSaltCols = Seq("l_orderkey", "l_linenumber"))
      .orderBy(col("l_returnflag")),
    Some("""
      SELECT l_returnflag, COUNT(*) AS n_rows,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             epoch_ms(MIN(l_shipdate)) AS first_ship_ms,
             epoch_ms(MAX(l_shipdate)) AS last_ship_ms
      FROM lineitem GROUP BY 1 ORDER BY l_returnflag"""))

  /** q70 — CDC log compaction ([[graft.operators.Upsert.latestByKey]]):
    * each user's latest event under a TOTAL order (ts, then event_id
    * as the tiebreaker — without it the winner is partition-dependent,
    * which is exactly the dropDuplicates trap the operator exists to
    * avoid). */
  private val q70 = QueryDef(
    "q70_log_compaction",
    (s, dir) => {
      val e = QueryDef.eventsTable(s, dir)
        .select(col("user_id"), col("event_id"),
          unix_millis(col("ts")).as("ms"), col("event_type"))
      graft.operators.Upsert.latestByKey(
          e, Seq("user_id"), Seq(col("ms"), col("event_id")))
        .orderBy(col("user_id"))
    },
    Some("""
      WITH e AS (
        SELECT user_id, event_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS ms,
               event_type,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY epoch_ms(CAST(ts AS TIMESTAMP)) DESC,
                                           event_id DESC) AS rn
        FROM events)
      SELECT user_id, event_id, ms, event_type
      FROM e WHERE rn = 1 ORDER BY user_id"""))

  /** q71 — eval-contamination check: the held-out slice (deterministic
    * hash bucket, same split as q52/q57) scored by the fraction of its
    * 3-gram shingles that appear anywhere in the training slice — the
    * benchmark-overlap scan every LLM data pipeline runs before
    * training. Train shingles form a distinct posting set (one
    * shuffle); containment is a semi join against it. */
  private val q71 = QueryDef(
    "q71_contamination",
    (s, dir) => {
      import graft.functions.{TextExprs, TextFunctions}
      val docs = table(s, dir, "documents")
      val bkt = Sampling.bucket(col("doc_id"))
      val shingled = docs.select(col("doc_id"), bkt.as("bkt"),
        array_distinct(TextExprs.word_shingles(
          TextFunctions.tokens(col("text")), 3)).as("sh"))
      val evalSh = shingled.filter(col("bkt") < 5)
        .select(col("doc_id"), explode(col("sh")).as("s"))
      val trainSh = shingled.filter(col("bkt") >= 5)
        .select(explode(col("sh")).as("s")).distinct()
      val tot = evalSh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
      val hit = evalSh.join(trainSh, Seq("s"), "left_semi")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_contaminated"))
      tot.join(hit, Seq("doc_id"), "left")
        .withColumn("n_contaminated", coalesce(col("n_contaminated"), lit(0L)))
        .withColumn("contamination",
          round(col("n_contaminated").cast(DoubleType) / col("n_shingles"), 6))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH sh AS (
        SELECT doc_id,
               CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                 % 100 AS bkt,
               list_distinct(${ExtensionQueries.shinglesSql}) AS shl
        FROM (SELECT doc_id, $toksSql AS t FROM documents)),
      ev AS (SELECT doc_id, unnest(shl) AS s FROM sh WHERE bkt < 5),
      tr AS (SELECT DISTINCT unnest(shl) AS s FROM sh WHERE bkt >= 5),
      tot AS (SELECT doc_id, COUNT(*) AS n_shingles FROM ev GROUP BY 1),
      hit AS (SELECT ev.doc_id, COUNT(*) AS n_contaminated
              FROM ev JOIN tr USING (s) GROUP BY 1)
      SELECT t.doc_id, t.n_shingles,
             coalesce(h.n_contaminated, 0) AS n_contaminated,
             round(CAST(coalesce(h.n_contaminated, 0) AS DOUBLE)
                   / t.n_shingles, 6) AS contamination
      FROM tot t LEFT JOIN hit h USING (doc_id)
      ORDER BY t.doc_id"""))

  /** q72 — intra-document repetition (Gopher/RefinedWeb-style quality
    * signal): repeated-shingle mass per source. Corpus ratios are
    * integer-sum ratios (order-independent); only the per-doc maximum
    * — itself order-free — floats. */
  private val q72 = QueryDef(
    "q72_repetition",
    (s, dir) => {
      import graft.functions.{TextExprs, TextFunctions}
      val perDoc = table(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          TextExprs.word_shingles(TextFunctions.tokens(col("text")), 3).as("sh"))
        .select(col("doc_id"), col("source"),
          size(col("sh")).cast(LongType).as("n_tot"),
          size(array_distinct(col("sh"))).cast(LongType).as("n_dist"))
      perDoc.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tot")).as("sum_tot"),
          sum(col("n_dist")).as("sum_dist"),
          round(max(lit(1.0) - col("n_dist").cast(DoubleType) / col("n_tot")), 6)
            .as("max_doc_repetition"))
        .withColumn("corpus_repetition",
          round(lit(1.0) - col("sum_dist").cast(DoubleType) / col("sum_tot"), 6))
        .orderBy(col("source"))
    },
    Some(s"""
      WITH sh AS (
        SELECT doc_id, source, ${ExtensionQueries.shinglesSql} AS shl
        FROM (SELECT doc_id, source, $toksSql AS t
              FROM documents)),
      per AS (
        SELECT doc_id, source,
               CAST(len(shl) AS BIGINT) AS n_tot,
               CAST(len(list_distinct(shl)) AS BIGINT) AS n_dist
        FROM sh)
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(n_tot) AS BIGINT) AS sum_tot,
             CAST(SUM(n_dist) AS BIGINT) AS sum_dist,
             round(MAX(1.0 - CAST(n_dist AS DOUBLE) / n_tot), 6)
               AS max_doc_repetition,
             round(1.0 - CAST(CAST(SUM(n_dist) AS BIGINT) AS DOUBLE)
                   / CAST(SUM(n_tot) AS BIGINT), 6) AS corpus_repetition
      FROM per GROUP BY source ORDER BY source"""))

  /** q226 — eval-set decontamination audit (the n-gram-overlap
    * check run before training so benchmark answers don't leak into
    * the training corpus; the practice described in Brown et al. 2020
    * appendix C). A deterministic 1/8 of documents (md5 hex prefix
    * '0'/'1') plays the held-out eval suite; a TRAIN document is
    * contaminated when it shares at least one distinct word-5-gram
    * with ANY eval document. Reported per source: train-doc count,
    * contaminated count, distinct hit n-grams, contamination ppm
    * (exact integer arithmetic).
    *
    * Scale path: the eval n-gram KEY SET is orders of magnitude
    * smaller than the exploded train n-gram mass, so the overlap join
    * goes through [[graft.operators.Pruning.bloomPrunedJoin]] — the
    * in-plan BloomFilterAggregate is built once over eval n-grams and
    * the codegen'd might_contain predicate drops non-matching train
    * n-grams BEFORE the shuffle; the exact equi join after it removes
    * the ≤fpp false positives, so the result equals the plain join
    * (which is what the oracle hashes). At 100 TB pass expectedKeys ≈
    * the eval suite's distinct-n-gram count; the train side never
    * ships un-pruned. */
  private val q226 = QueryDef(
    "q226_eval_contamination",
    (s, dir) => {
      // round-15 (guide §2.4 + §2.5): `base` feeds THREE consumers
      // (eval n-grams, train n-grams, per-source train counts), so the
      // 5-gram shingle pipeline replayed per consumer — fused into the
      // single-split documents scan, i.e. three full corpus shingle
      // passes on ONE task. Checkpoint it once, materialized wide
      // (Spread.wide is a no-op at multi-split tiers).
      val base = graft.operators.Checkpoints.truncate(
        graft.operators.Spread.wide(table(s, dir, "documents")).select(
          col("doc_id"), col("source"),
          substring(md5(col("doc_id").cast(StringType)), 1, 1)
            .isin("0", "1").as("is_eval"),
          array_distinct(graft.functions.TextExprs.word_shingles(
            graft.functions.TextFunctions.tokens(col("text")), 5)).as("sh")))
      val evalNg = base.filter(col("is_eval"))
        .select(explode(col("sh")).as("ng_e")).distinct()
      val trainNg = base.filter(!col("is_eval"))
        .select(col("doc_id"), col("source"), explode(col("sh")).as("ng"))
      val hits = graft.operators.Pruning
        .bloomPrunedJoin(trainNg, evalNg, "ng", "ng_e")
        .select(col("doc_id"), col("source"), col("ng"))
      val tr = base.filter(!col("is_eval"))
        .groupBy(col("source")).agg(count(lit(1)).as("n_train"))
      val c = hits.groupBy(col("source"))
        .agg(countDistinct(col("doc_id")).as("n_contaminated"),
          countDistinct(col("ng")).as("n_hit_ngrams"))
      tr.join(c, Seq("source"), "left")
        .select(col("source"), col("n_train"),
          coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
          coalesce(col("n_hit_ngrams"), lit(0L)).as("n_hit_ngrams"))
        .withColumn("contamination_ppm",
          expr("(1000000L * n_contaminated) div n_train"))
        .orderBy(col("source"))
    },
    Some(s"""
      WITH docs AS (
        SELECT doc_id, source,
               substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0','1')
                 AS is_eval,
               $toksSql AS t
        FROM documents),
      shing AS MATERIALIZED (
        SELECT doc_id, source, is_eval,
               list_distinct(CASE WHEN len(t) >= 5
                 THEN list_transform(generate_series(1, len(t) - 4),
                        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                               || ' ' || t[i+3] || ' ' || t[i+4])
                 ELSE [array_to_string(t, ' ')] END) AS sh
        FROM docs),
      eng AS MATERIALIZED (
        SELECT DISTINCT ng
        FROM (SELECT unnest(sh) AS ng FROM shing WHERE is_eval)),
      tng AS (
        SELECT doc_id, source, unnest(sh) AS ng
        FROM shing WHERE NOT is_eval),
      hits AS MATERIALIZED (
        SELECT t.doc_id, t.source, t.ng FROM tng t JOIN eng e USING (ng)),
      tr AS (SELECT source, COUNT(*) AS n_train
             FROM shing WHERE NOT is_eval GROUP BY source),
      c AS (SELECT source,
                   COUNT(DISTINCT doc_id) AS n_contaminated,
                   COUNT(DISTINCT ng) AS n_hit_ngrams
            FROM hits GROUP BY source)
      SELECT tr.source, tr.n_train,
             COALESCE(c.n_contaminated, 0) AS n_contaminated,
             COALESCE(c.n_hit_ngrams, 0) AS n_hit_ngrams,
             (1000000 * COALESCE(c.n_contaminated, 0)) // tr.n_train
               AS contamination_ppm
      FROM tr LEFT JOIN c USING (source) ORDER BY source"""))

  /** q227 — exact repeated-substring spans (the ExactSubstr dedup of
    * Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better", expressed shuffle-first instead of via a suffix
    * array): every 8-token window that occurs ≥ 2 times anywhere in
    * the corpus (other docs OR a repeat inside the same doc) marks
    * its positions; overlapping/adjacent marked windows merge into
    * maximal per-doc spans (gaps-and-islands over window starts —
    * windows are fixed-width, so a break is simply a start more than
    * k past the previous one). Output: one row per maximal span with
    * 1-based token offsets — the spans a scrubber would cut.
    *
    * Scale: the occurrence count shuffles 64-bit xxhash64 window
    * keys, and only hash-repeat candidates are re-materialized as
    * strings and re-counted exactly ([[graft.operators.TextAnalysis
    * .repeatedWindowStarts]] — a collision can nominate a candidate,
    * never mark a span, so the marks are bit-identical to grouping
    * the window text; non-candidate 8-token strings are built and
    * discarded in-row, and only the candidate strings shuffle, for
    * the exact re-count); the island windows are
    * PARTITIONED BY doc, so every frame is bounded by a document's
    * length. Docs shorter than the window width carry no window and
    * are skipped on both engines. */
  private val q227 = QueryDef(
    "q227_exact_substring_spans",
    (s, dir) => {
      val k = 8
      val toksDf = table(s, dir, "documents")
        .select(col("doc_id").cast(LongType).as("_id"),
          graft.functions.TextFunctions.tokens(col("text")).as("t"))
      val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      graft.operators.TextAnalysis.repeatedWindowStarts(toksDf, k)
        .select(col("_id").as("doc_id"), col("i").cast(LongType).as("pos"))
        .withColumn("brk",
          when(col("pos") > lag(col("pos"), 1).over(byDoc) + k, 1L)
            .otherwise(0L))
        .withColumn("island", sum(col("brk")).over(byDoc))
        .groupBy(col("doc_id"), col("island"))
        .agg(min(col("pos")).as("span_start"),
          (max(col("pos")) + (k - 1)).as("span_end"))
        .select(col("doc_id"), col("span_start"), col("span_end"),
          (col("span_end") - col("span_start") + 1).as("n_tokens"))
        .orderBy(col("doc_id"), col("span_start"))
    },
    Some(s"""
      WITH toks AS (
        SELECT doc_id, $toksSql AS t FROM documents),
      base AS (SELECT doc_id, t FROM toks WHERE len(t) >= 8),
      wins AS MATERIALIZED (
        SELECT doc_id, CAST(pos AS BIGINT) AS pos,
               array_to_string(t[pos:pos+7], ' ') AS w
        FROM base, unnest(generate_series(1, len(t) - 7)) AS u(pos)),
      dup AS (SELECT w FROM wins GROUP BY w HAVING COUNT(*) >= 2),
      brk AS (
        SELECT doc_id, pos,
               CASE WHEN pos > lag(pos)
                      OVER (PARTITION BY doc_id ORDER BY pos) + 8
                    THEN 1 ELSE 0 END AS b
        FROM (SELECT doc_id, pos FROM wins JOIN dup USING (w))),
      isl AS (
        SELECT doc_id, pos,
               SUM(b) OVER (PARTITION BY doc_id ORDER BY pos) AS island
        FROM brk)
      SELECT doc_id, MIN(pos) AS span_start,
             MAX(pos) + 7 AS span_end,
             MAX(pos) + 7 - MIN(pos) + 1 AS n_tokens
      FROM isl GROUP BY doc_id, island ORDER BY doc_id, span_start"""))

  val all: Seq[QueryDef] =
    Seq(q39, q45, q48, q55, q56, q57, q58, q59, q60, q61, q62,
      q63, q64, q65, q66, q67, q68, q69, q70, q71, q72, q226, q227)
}
