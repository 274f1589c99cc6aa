package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}
import graft.functions.TextFunctions
import graft.queries.ExtensionQueries.toksSql
import graft.queries.QueryDef.{eventsTable, table}

/** Round-4 capstone tier (q196–q200): the batch twin of the streaming
  * CEP pattern detector, a pseudonymization-soundness audit, weekly
  * fill-rate SLA, DAU/WAU stickiness, and a one-row dataset card that
  * summarizes the corpus the way a data release documents itself. */
object CapstoneQueries {

  /** q196 — batch CEP pair matching (click → purchase within 10
    * minutes, any events in between): for every click, the NEXT
    * purchase strictly after it — found with one reverse-ordered
    * running-min window, no self-join — counts as a match if it lands
    * within 600 s. This is the batch twin of the streaming
    * `patternDetect` operator, and the oracle makes its semantics
    * hash-verified (the streaming side is spec-tested against the
    * same definition). One user_id shuffle. */
  private val q196 = QueryDef(
    "q196_cep_pairs",
    (s, dir) => {
      val e = eventsTable(s, dir)
        .select(col("user_id"), col("event_id"),
          unix_millis(col("ts")).as("ms"), col("event_type"))
      val wDesc = Window.partitionBy(col("user_id"))
        .orderBy(col("ms").desc, col("event_id").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val withNext = e.withColumn("next_purchase_ms",
        min(when(col("event_type") === "purchase", col("ms"))).over(wDesc))
      withNext.filter(col("event_type") === "click")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_clicks"),
          sum((col("next_purchase_ms").isNotNull &&
            col("next_purchase_ms") - col("ms") <= 600000L).cast(LongType))
            .as("n_matched"))
        .withColumn("match_ppm", expr("(n_matched * 1000000L) div n_clicks"))
        .orderBy(col("user_id"))
    },
    Some("""
      WITH e AS (
        SELECT user_id, event_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS ms,
               event_type
        FROM events),
      nx AS (
        SELECT user_id, event_id, ms, event_type,
               MIN(CASE WHEN event_type = 'purchase' THEN ms END)
                 OVER (PARTITION BY user_id ORDER BY ms DESC, event_id DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS next_purchase_ms
        FROM e)
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_clicks,
             CAST(SUM(CASE WHEN next_purchase_ms IS NOT NULL
                            AND next_purchase_ms - ms <= 600000
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
             CAST((SUM(CASE WHEN next_purchase_ms IS NOT NULL
                             AND next_purchase_ms - ms <= 600000
                            THEN 1 ELSE 0 END) * 1000000) // COUNT(*)
               AS BIGINT) AS match_ppm
      FROM nx WHERE event_type = 'click'
      GROUP BY user_id ORDER BY user_id"""))

  /** q197 — pseudonymization soundness audit: user ids are replaced
    * by 64-bit md5 pseudonyms; the audit proves (a) no pseudonym
    * collision (join structure survives anonymization) and (b) the
    * per-key event histogram is IDENTICAL under original and
    * pseudonymous keys (order-independent sum/max equality over both
    * groupings). The release gate beside q186's k-anonymity report:
    * one row, all-integer evidence. */
  private val q197 = QueryDef(
    "q197_pseudonym_audit",
    (s, dir) => {
      val e = eventsTable(s, dir)
        .select(col("user_id"),
          conv(substring(md5(col("user_id").cast(StringType)), 1, 15), 16, 10)
            .cast(LongType).as("pseudo"))
      val byUser = e.groupBy(col("user_id"), col("pseudo"))
        .agg(count(lit(1)).as("n"))
      val coll = byUser.groupBy(col("pseudo"))
        .agg(countDistinct(col("user_id")).as("du"))
      val histEq = byUser.groupBy(col("n")).agg(count(lit(1)).as("users_at_n"))
        .agg(sum(col("n") * col("users_at_n")).as("mass_user"))
        .crossJoin(
          e.groupBy(col("pseudo")).agg(count(lit(1)).as("n"))
            .groupBy(col("n")).agg(count(lit(1)).as("p_at_n"))
            .agg(sum(col("n") * col("p_at_n")).as("mass_pseudo")))
      coll.agg(count(lit(1)).as("n_pseudonyms"),
          max(col("du")).as("max_collision"))
        .crossJoin(byUser.agg(countDistinct(col("user_id")).as("n_users")))
        .crossJoin(histEq)
        .select(col("n_users"), col("n_pseudonyms"), col("max_collision"),
          (col("mass_user") === col("mass_pseudo")).as("histogram_match"))
    },
    Some("""
      WITH e AS (
        SELECT user_id,
               CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
                 AS BIGINT) AS pseudo
        FROM events),
      bu AS (SELECT user_id, pseudo, COUNT(*) AS n FROM e GROUP BY 1, 2),
      coll AS (SELECT pseudo, COUNT(DISTINCT user_id) AS du
               FROM bu GROUP BY 1),
      mu AS (SELECT SUM(n * users_at_n) AS mass_user FROM (
               SELECT n, COUNT(*) AS users_at_n FROM bu GROUP BY 1)),
      mp AS (SELECT SUM(n * p_at_n) AS mass_pseudo FROM (
               SELECT n, COUNT(*) AS p_at_n FROM (
                 SELECT pseudo, COUNT(*) AS n FROM e GROUP BY 1) GROUP BY 1))
      SELECT CAST((SELECT COUNT(DISTINCT user_id) FROM bu) AS BIGINT)
               AS n_users,
             CAST(COUNT(*) AS BIGINT) AS n_pseudonyms,
             CAST(MAX(du) AS BIGINT) AS max_collision,
             (SELECT mass_user FROM mu) = (SELECT mass_pseudo FROM mp)
               AS histogram_match
      FROM coll"""))

  /** q198 — weekly order fill-rate SLA: share of lineitems shipped
    * within 7 days of their order date, per ISO week of the order
    * date, in exact ppm — the operational KPI a migrated warehouse
    * reports daily. Date predicates stay on raw midnight-only
    * timestamp columns (q163's pushdown discipline);
    * `date_trunc('week')` is Monday-anchored on both engines. */
  private val q198 = QueryDef(
    "q198_fill_rate_sla",
    (s, dir) => {
      table(s, dir, "lineitem")
        .join(table(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select(to_date(date_trunc("week", col("o_orderdate"))).as("week"),
          (datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate")))
            <= 7).cast(LongType).as("on_time"))
        .groupBy(col("week"))
        .agg(count(lit(1)).as("n_items"), sum(col("on_time")).as("n_on_time"))
        .withColumn("fill_ppm", expr("(n_on_time * 1000000L) div n_items"))
        .orderBy(col("week"))
    },
    Some("""
      SELECT CAST(date_trunc('week', CAST(o_orderdate AS TIMESTAMP)) AS DATE)
               AS week,
             CAST(COUNT(*) AS BIGINT) AS n_items,
             CAST(SUM(CASE WHEN CAST(CAST(l_shipdate AS TIMESTAMP) AS DATE)
                             - CAST(CAST(o_orderdate AS TIMESTAMP) AS DATE) <= 7
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_on_time,
             CAST((SUM(CASE WHEN CAST(CAST(l_shipdate AS TIMESTAMP) AS DATE)
                              - CAST(CAST(o_orderdate AS TIMESTAMP) AS DATE) <= 7
                            THEN 1 ELSE 0 END) * 1000000) // COUNT(*) AS BIGINT)
               AS fill_ppm
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY 1 ORDER BY 1"""))

  /** q199 — DAU/WAU stickiness per day: daily actives over 7-day
    * window actives, both from the user-day deduplicated activity
    * table — WAU via q176's window-explosion (each user-day covers
    * ≤7 window-end days; ONE distinct aggregate), never a
    * distinct-over-RANGE window. Exact ppm ratio; the
    * engagement-quality curve product teams threshold on. */
  private val q199 = QueryDef(
    "q199_dau_wau_stickiness",
    (s, dir) => {
      val ud = HygieneQueries.userDays(s, dir)
      val dau = ud.groupBy(col("day")).agg(countDistinct(col("user_id")).as("dau"))
      val wau = HygieneQueries.weekWindows(ud, "day")
        .groupBy(col("day")).agg(countDistinct(col("user_id")).as("wau"))
      dau.join(wau, Seq("day"))
        .withColumn("stickiness_ppm", expr("(dau * 1000000L) div wau"))
        .orderBy(col("day"))
    },
    Some(s"""
      WITH ${HygieneQueries.userDaysSql},
      dau AS (SELECT day, COUNT(DISTINCT user_id) AS dau FROM ud GROUP BY 1),
      mem AS (SELECT user_id, day + CAST(off AS INT) AS day
              FROM ud, unnest([0, 1, 2, 3, 4, 5, 6]) AS u(off)),
      wau AS (SELECT day, COUNT(DISTINCT user_id) AS wau
              FROM mem, mx WHERE day <= max_day GROUP BY 1)
      SELECT day, CAST(dau AS BIGINT) AS dau, CAST(wau AS BIGINT) AS wau,
             CAST((dau * 1000000) // wau AS BIGINT) AS stickiness_ppm
      FROM dau JOIN wau USING (day) ORDER BY day"""))

  /** q200 — dataset card: the one-row corpus summary a data release
    * publishes — document/token/vocabulary masses, language and
    * source breadth, English share, exact-duplicate mass (md5
    * fingerprint groups), mean document length, and the embedding
    * sidecar's size. Every figure is an exact integer (shares in
    * ppm); each source table is touched once. */
  private val q200 = QueryDef(
    "q200_dataset_card",
    (s, dir) => {
      val docs = table(s, dir, "documents")
      val toks = docs.select(col("doc_id"),
        explode(TextFunctions.tokens(col("text"))).as("w"))
      val tokStats = toks.agg(count(lit(1)).as("n_tokens"),
        countDistinct(col("w")).as("vocab"))
      val base = docs.agg(count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"),
        sum((col("lang") === "en").cast(LongType)).as("n_en"))
      val dupMass = docs.groupBy(md5(col("text")).as("fp"))
        .agg(count(lit(1)).as("c"))
        .agg(sum(when(col("c") > 1, col("c")).otherwise(lit(0L)))
          .as("dup_docs"))
      val emb = table(s, dir, "embeddings").agg(count(lit(1)).as("n_embeddings"))
      base.crossJoin(broadcast(tokStats))
        .crossJoin(broadcast(dupMass))
        .crossJoin(broadcast(emb))
        .select(col("n_docs"), col("n_tokens"), col("vocab"),
          col("n_langs"), col("n_sources"),
          expr("(n_en * 1000000L) div n_docs").as("en_ppm"),
          expr("(dup_docs * 1000000L) div n_docs").as("dup_ppm"),
          expr("n_tokens div n_docs").as("mean_doc_tokens"),
          col("n_embeddings"))
    },
    Some(s"""
      WITH toks AS (
        SELECT doc_id, unnest($toksSql) AS w FROM documents),
      ts AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tokens,
                    CAST(COUNT(DISTINCT w) AS BIGINT) AS vocab FROM toks),
      base AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
               CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
               CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_en
        FROM documents),
      dup AS (
        SELECT CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT)
                 AS dup_docs
        FROM (SELECT md5(text) AS fp, COUNT(*) AS c
              FROM documents GROUP BY 1)),
      emb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_embeddings FROM embeddings)
      SELECT n_docs, n_tokens, vocab, n_langs, n_sources,
             CAST((n_en * 1000000) // n_docs AS BIGINT) AS en_ppm,
             CAST((dup_docs * 1000000) // n_docs AS BIGINT) AS dup_ppm,
             CAST(n_tokens // n_docs AS BIGINT) AS mean_doc_tokens,
             n_embeddings
      FROM base, ts, dup, emb"""))

  val all: Seq[QueryDef] = Seq(q196, q197, q198, q199, q200)
}
