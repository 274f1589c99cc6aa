package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}
import graft.functions.TextFunctions
import graft.queries.ExtensionQueries.toksSql
import graft.queries.QueryDef.{eventsTable, table}

/** Round-4 continuation: pipeline-planning analytics — exact integer
  * waterfilling of a token budget across sources (the data-mixing
  * allocator), Kaplan–Meier retention with right-censoring (the
  * survival curve behind cohort charts), and information-gain token
  * ranking (feature selection for classifier-based curation filters).
  *
  * All three follow the repo's exactness conventions: allocation is
  * pure BIGINT arithmetic; survival and entropy use the q150 pattern
  * (per-term round-then-exact-DECIMAL-sum, one final double). */
object PlanningQueries {

  /** q167 — waterfilling token-budget allocation: split a global
    * budget B = 60% of corpus tokens across sources, capped at each
    * source's own token supply, equalizing what every uncapped source
    * receives (max-min fair allocation — the standard data-mixing
    * solve when upsampling is forbidden). Closed form over the
    * cap-sorted frame: a source saturates iff its cap fits under the
    * waterline computed from the budget left after all smaller
    * sources saturate; everyone else gets the integer waterline.
    * The per-source frame is bounded (|sources|), so the sort window
    * is a constant-size post-aggregate step at any corpus size;
    * floor-division undershoot is < |sources| tokens by construction
    * (surfaced by the saturated flags + caps). */
  private val q167 = QueryDef(
    "q167_waterfill_budget",
    (s, dir) => {
      val caps = table(s, dir, "documents")
        .select(col("source"), TextFunctions.tokenCount(col("text"))
          .cast(LongType).as("tc"))
        .groupBy(col("source")).agg(sum(col("tc")).as("cap"))
      val w = Window.orderBy(col("cap"), col("source"))
      val r = caps
        .withColumn("i", row_number().over(w).cast(LongType))
        .withColumn("p", sum(col("cap")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val tot = caps.agg(sum(col("cap")).as("t"),
        count(lit(1)).cast(LongType).as("n"))
        .withColumn("b", expr("(t * 3L) div 5L"))
      // k = deepest rank whose cap fits under its own waterline
      val k = r.crossJoin(broadcast(tot))
        .filter(col("cap") * (col("n") - col("i") + 1) +
          (col("p") - col("cap")) <= col("b"))
        .agg(coalesce(max(col("i")), lit(0L)).as("k"))
      val pk = r.select(col("i").as("ki"), col("p").as("pk"))
      val lvl = broadcast(k.crossJoin(tot)
        .join(pk, col("ki") === col("k"), "left")
        .select(col("k"), col("n"), col("b"),
          coalesce(col("pk"), lit(0L)).as("pk"))
        .withColumn("level",
          when(col("k") < col("n"),
            expr("(b - pk) div (n - k)")).otherwise(lit(0L))))
      r.crossJoin(lvl)
        .select(col("source"), col("cap"),
          when(col("i") <= col("k"), col("cap"))
            .otherwise(least(col("cap"), col("level"))).as("alloc"),
          (col("i") <= col("k")).as("saturated"))
        .orderBy(col("source"))
    },
    Some(s"""
      WITH caps AS (
        SELECT source, SUM(CAST(len($toksSql) AS BIGINT)) AS cap
        FROM documents GROUP BY 1),
      r AS (
        SELECT source, cap,
               CAST(ROW_NUMBER() OVER (ORDER BY cap, source) AS BIGINT) AS i,
               SUM(cap) OVER (ORDER BY cap, source ROWS UNBOUNDED PRECEDING) AS p
        FROM caps),
      tot AS (
        SELECT SUM(cap) AS t, CAST(COUNT(*) AS BIGINT) AS n,
               (SUM(cap) * 3) // 5 AS b
        FROM caps),
      kk AS (
        SELECT COALESCE(MAX(i), 0) AS k FROM r, tot
        WHERE cap * (n - i + 1) + (p - cap) <= b),
      lvl AS (
        SELECT k, n, b,
               CASE WHEN k < n
                    THEN (b - COALESCE((SELECT p FROM r WHERE r.i = kk.k), 0))
                         // (n - k)
                    ELSE 0 END AS level
        FROM kk, tot)
      SELECT source, CAST(cap AS BIGINT) AS cap,
             CAST(CASE WHEN i <= k THEN cap
                       ELSE LEAST(cap, level) END AS BIGINT) AS alloc,
             i <= k AS saturated
      FROM r, lvl ORDER BY source"""))

  /** q168 — Kaplan–Meier time-to-conversion with right-censoring:
    * the event is a user's FIRST purchase, measured in days from
    * their first activity; each user carries a deterministic md5
    * censoring horizon (0–7 days — the audit-harness stand-in for
    * users leaving observation, same md5 device as the q137/q142
    * fixtures), so deaths and censorings genuinely interleave and
    * the product-limit estimate differs from the naive empirical
    * CDF (which would drop or miscount the censored mass). Ties use
    * the standard deaths-before-censorings convention. S(t) is
    * exp(Σ round(ln((n−d)/n), 6)) — decimal-summed log factors, so
    * the curve is bit-identical on any partitioning/engine. The
    * per-user collapse is one shuffle; everything after runs on the
    * bounded distinct-time frame. Times where n = d are excluded to
    * keep the log finite. */
  private val q168 = QueryDef(
    "q168_km_conversion",
    (s, dir) => {
      import org.apache.spark.sql.types.StringType
      val days = eventsTable(s, dir)
        .select(col("user_id"), col("event_type"), to_date(col("ts")).as("day"))
      val first = days.groupBy(col("user_id")).agg(min(col("day")).as("f"))
      val firstPurchase = days.filter(col("event_type") === "purchase")
        .groupBy(col("user_id")).agg(min(col("day")).as("pd"))
      val users = first.join(firstPurchase, Seq("user_id"), "left")
        .select(col("user_id"),
          datediff(col("pd"), col("f")).cast(LongType).as("t"),
          (conv(substring(md5(col("user_id").cast(StringType)), 1, 15), 16, 10)
            .cast(LongType) % 8).as("c"))
        .select(
          coalesce(least(col("t"), col("c")), col("c")).as("obs"),
          (col("t").isNotNull && col("t") <= col("c")).as("death"))
      val byT = users.groupBy(col("obs"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("death").cast(LongType)).as("d"))
      val wDesc = Window.orderBy(col("obs").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAsc = Window.orderBy(col("obs"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      byT
        .withColumn("n_risk", sum(col("cnt")).over(wDesc))
        .filter(col("d") > 0 && col("n_risk") > col("d"))
        .withColumn("term",
          round(log((col("n_risk") - col("d")).cast(DoubleType) /
            col("n_risk")), 6).cast(DecimalType(28, 6)))
        .withColumn("km", exp(sum(col("term")).over(wAsc).cast(DoubleType)))
        .select(col("obs").as("t_days"), col("n_risk"),
          col("d").as("d_events"), col("km"))
        .orderBy(col("t_days"))
    },
    Some("""
      WITH days AS (
        SELECT user_id, event_type,
               CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
        FROM events),
      first_act AS (SELECT user_id, MIN(day) AS f FROM days GROUP BY 1),
      first_p AS (SELECT user_id, MIN(day) AS pd FROM days
                  WHERE event_type = 'purchase' GROUP BY 1),
      users AS (
        SELECT COALESCE(LEAST(CAST(pd - f AS BIGINT),
                 CAST('0x' || substr(md5(CAST(u.user_id AS VARCHAR)), 1, 15)
                   AS BIGINT) % 8),
               CAST('0x' || substr(md5(CAST(u.user_id AS VARCHAR)), 1, 15)
                 AS BIGINT) % 8) AS obs,
               pd IS NOT NULL AND CAST(pd - f AS BIGINT) <=
                 CAST('0x' || substr(md5(CAST(u.user_id AS VARCHAR)), 1, 15)
                   AS BIGINT) % 8 AS death
        FROM first_act u LEFT JOIN first_p USING (user_id)),
      byt AS (
        SELECT obs, COUNT(*) AS cnt,
               SUM(CASE WHEN death THEN 1 ELSE 0 END) AS d
        FROM users GROUP BY 1),
      risk AS (
        SELECT obs, cnt, d,
               SUM(cnt) OVER (ORDER BY obs DESC ROWS UNBOUNDED PRECEDING)
                 AS n_risk
        FROM byt),
      terms AS (
        SELECT obs, n_risk, d,
               CAST(ROUND(ln(CAST(n_risk - d AS DOUBLE) / n_risk), 6)
                 AS DECIMAL(28, 6)) AS term
        FROM risk WHERE d > 0 AND n_risk > d)
      SELECT obs AS t_days, CAST(n_risk AS BIGINT) AS n_risk,
             CAST(d AS BIGINT) AS d_events,
             exp(CAST(SUM(term) OVER (ORDER BY obs ROWS UNBOUNDED PRECEDING)
               AS DOUBLE)) AS km
      FROM terms ORDER BY t_days"""))

  /** q169 — information-gain token ranking (feature selection for
    * classifier-based curation filters like q154): for every token
    * with a non-trivial document-frequency split (50 ≤ df ≤ N−50),
    * IG(w) = H(lang) − H(lang | w present/absent) over the documents
    * table. Entropies are decimal sums of per-cell terms
    * round((x/N)·ln(n_split/x), 6) — the weighted-conditional form
    * that never multiplies two rounded values, so the ranking is
    * engine-exact; ties break by token. One explode for presence
    * sets, aggregates bounded by |candidate vocab| × |classes|. */
  private val q169 = QueryDef(
    "q169_info_gain_tokens",
    (s, dir) => {
      val docs = table(s, dir, "documents")
      val n = docs.agg(count(lit(1)).as("nn"))
      val classTot = docs.groupBy(col("lang")).agg(count(lit(1)).as("nc"))
      val hBase = classTot.crossJoin(broadcast(n))
        .select(round((col("nc").cast(DoubleType) / col("nn")) *
          log(col("nn").cast(DoubleType) / col("nc")), 6)
          .cast(DecimalType(28, 6)).as("term"))
        .agg(sum(col("term")).as("h"))
      val pres = docs
        .select(col("doc_id"), col("lang"),
          explode(array_distinct(TextFunctions.tokens(col("text")))).as("w"))
      val pc = pres.groupBy(col("w"), col("lang")).agg(count(lit(1)).as("x"))
      val dfreq = pc.groupBy(col("w")).agg(sum(col("x")).as("np"))
        .crossJoin(broadcast(n))
        .filter(col("np") >= 50 && col("np") <= col("nn") - 50)
      // absent-side cell counts nc − x (x = 0 cells appear via the
      // class × candidate cross, so zero-presence classes still
      // contribute their absent mass)
      val cells = dfreq.select(col("w"), col("np"), col("nn"))
        .crossJoin(broadcast(classTot))
        .join(pc, Seq("w", "lang"), "left")
        .select(col("w"), col("np"), col("nn"), col("nc"),
          coalesce(col("x"), lit(0L)).as("x"))
      def hterm(x: org.apache.spark.sql.Column, ns: org.apache.spark.sql.Column) =
        when(x > 0, round((x.cast(DoubleType) / col("nn")) *
          log(ns.cast(DoubleType) / x), 6).cast(DecimalType(28, 6)))
          .otherwise(lit(0).cast(DecimalType(28, 6)))
      val hCond = cells
        .select(col("w"), col("np"),
          (hterm(col("x"), col("np")) +
            hterm(col("nc") - col("x"), col("nn") - col("np"))).as("term"))
        .groupBy(col("w"), col("np")).agg(sum(col("term")).as("hc"))
      hCond.crossJoin(broadcast(hBase))
        .select(col("w"), col("np").as("df"), (col("h") - col("hc")).as("ig"))
        .orderBy(col("ig").desc, col("w"))
        .limit(20)
        .select(col("w"), col("df"), col("ig").cast(DoubleType).as("ig"))
    },
    Some(s"""
      WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM documents),
      ct AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS nc
             FROM documents GROUP BY 1),
      hb AS (
        SELECT SUM(CAST(ROUND((CAST(nc AS DOUBLE) / nn) *
          ln(CAST(nn AS DOUBLE) / nc), 6) AS DECIMAL(28, 6))) AS h
        FROM ct, n),
      pres AS (
        SELECT doc_id, lang, unnest(list_distinct($toksSql)) AS w
        FROM documents),
      pc AS (SELECT w, lang, CAST(COUNT(*) AS BIGINT) AS x
             FROM pres GROUP BY 1, 2),
      dfreq AS (
        SELECT w, SUM(x) AS np, nn FROM pc, n GROUP BY 1, 3
        HAVING SUM(x) >= 50 AND SUM(x) <= nn - 50),
      cells AS (
        SELECT d.w, d.np, d.nn, ct.nc, ct.lang,
               COALESCE(pc.x, 0) AS x
        FROM dfreq d CROSS JOIN ct
        LEFT JOIN pc ON pc.w = d.w AND pc.lang = ct.lang),
      hc AS (
        SELECT w, np,
               SUM(CASE WHEN x > 0
                    THEN CAST(ROUND((CAST(x AS DOUBLE) / nn) *
                      ln(CAST(np AS DOUBLE) / x), 6) AS DECIMAL(28, 6))
                    ELSE CAST(0 AS DECIMAL(28, 6)) END
                 + CASE WHEN nc - x > 0
                    THEN CAST(ROUND((CAST(nc - x AS DOUBLE) / nn) *
                      ln(CAST(nn - np AS DOUBLE) / (nc - x)), 6) AS DECIMAL(28, 6))
                    ELSE CAST(0 AS DECIMAL(28, 6)) END) AS hcond
        FROM cells GROUP BY 1, 2)
      SELECT w, CAST(np AS BIGINT) AS df, CAST(h - hcond AS DOUBLE) AS ig
      FROM hc, hb
      ORDER BY h - hcond DESC, w LIMIT 20"""))

  val all: Seq[QueryDef] = Seq(q167, q168, q169)
}
