package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType, StringType}
import graft.queries.QueryDef.{eventsTable, table}

/** Round-4 continuation: deterministic-approximation audit tier.
  * The inherently-randomized sketches (HLL q91, approx-percentile
  * q92, approx-distinct q24) can never be DuckDB-oracle-checked —
  * these are their DETERMINISTIC counterparts, built from md5 buckets
  * and fixed histograms so the whole estimate replays bit-exactly in
  * SQL, with the estimation ERROR surfaced as an output column (the
  * audit a pipeline runs once per corpus before trusting the cheap
  * sketch at 100 TB). Plus the join-skew audit that turns per-key
  * histograms into concrete salting factors (the planning side of
  * the salted join/agg operators q16/q69).
  */
object SketchAuditQueries {

  /** q164 — linear-counting distinct estimate (Whang et al. 1990),
    * deterministic variant: users hash into m = 1024 md5 buckets;
    * the estimate is −m·ln(empty/m) from the occupied-bucket count.
    * Because the "randomness" is md5, the occupancy — and hence the
    * estimate AND its error vs the exact count — replays exactly in
    * any engine. Per event_type: one pass, tiny per-type state (the
    * 100 TB contract a distinct-count sketch must meet); the exact
    * count beside it is the audit column.
    *
    * Saturation contract (round 7 — the gen-sf1 full-registry sweep
    * caught this): −m·ln(V/m) is UNDEFINED at V = 0 empty buckets,
    * and the engines disagreed on undefined (Spark's ln(0) → −∞ →
    * decimal NULL silently; DuckDB ln(0) errors). A saturated
    * bitmap now reports an explicit NULL estimate in both engines —
    * the "resize m or switch sketches" signal linear counting
    * defines at full occupancy — making the audit's answer
    * well-defined at every scale. */
  private val q164 = QueryDef(
    "q164_linear_counting",
    (s, dir) => {
      val m = 1024
      val e = eventsTable(s, dir)
        .select(col("event_type"), col("user_id"),
          (conv(substring(md5(col("user_id").cast(StringType)), 1, 15), 16, 10)
            .cast(LongType) % m).as("bkt"))
      e.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("bkt")).as("occupied"),
          countDistinct(col("user_id")).as("exact_distinct"))
        .withColumn("lc_estimate",
          when(col("occupied") < m,
            round(-lit(m.toDouble) *
              log((lit(m.toDouble) - col("occupied")) / m.toDouble), 6)
              .cast(DecimalType(28, 6)).cast(DoubleType))
            .otherwise(lit(null).cast(DoubleType)))
        .select(col("event_type"), col("n_events"), col("occupied"),
          col("exact_distinct"), col("lc_estimate"))
        .orderBy(col("event_type"))
    },
    Some("""
      WITH e AS (
        SELECT event_type, user_id,
               CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT)
                 % 1024 AS bkt
        FROM events),
      g AS (
        SELECT event_type, COUNT(*) AS n_events,
               CAST(COUNT(DISTINCT bkt) AS BIGINT) AS occupied,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
        FROM e GROUP BY 1)
      SELECT event_type, n_events, occupied, exact_distinct,
             CASE WHEN occupied >= 1024 THEN NULL
                  ELSE CAST(CAST(ROUND(-1024.0 * ln((1024.0 - occupied) / 1024.0), 6)
                    AS DECIMAL(28, 6)) AS DOUBLE) END AS lc_estimate
      FROM g ORDER BY event_type"""))

  /** q165 — fixed-bin histogram percentile estimator + exact-error
    * audit: event values bin at width 2.0; each requested percentile
    * is answered two ways — exactly (order statistic over the
    * value-frequency frame) and from the histogram (linear
    * interpolation within the covering bin) — with the error as an
    * output column. The value-frequency collapse means no global row
    * sort: the cumulative windows run over the ~|distinct values|
    * frame, which is the bounded state a percentile sketch carries at
    * any corpus size. All interpolation arithmetic is exact-integer
    * in, so the doubles are bit-identical across engines. */
  private val q165 = QueryDef(
    "q165_histogram_percentiles",
    (s, dir) => {
      val vals = eventsTable(s, dir).select(col("value"))
      val vc = vals.groupBy(col("value")).agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(
          Window.orderBy(col("value"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val hist = vals
        .select(floor(col("value") / 2.0).cast(LongType).as("bin"))
        .groupBy(col("bin")).agg(count(lit(1)).as("bc"))
        .withColumn("bcum", sum(col("bc")).over(
          Window.orderBy(col("bin"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val n = vals.agg(count(lit(1)).as("n"))
      val ps = n.select(explode(array(lit(50L), lit(90L), lit(95L), lit(99L)))
        .as("p"), col("n"))
        .withColumn("k", expr("(p * n + 99L) div 100L"))
      val exact = ps.join(vc, col("cum") >= col("k"))
        .groupBy(col("p"), col("k"))
        .agg(min(col("value")).as("exact_v"))
      val est = ps.join(hist, col("bcum") >= col("k"))
        .groupBy(col("p").as("p2"), col("k").as("k2"))
        .agg(min(struct(col("bin"), col("bc"), col("bcum"))).as("m"))
        .select(col("p2"), col("k2"),
          (col("m.bin") * 2.0 +
            lit(2.0) * (col("k2") - (col("m.bcum") - col("m.bc"))) / col("m.bc"))
            .as("est_v"))
      exact.join(est, col("p") === col("p2"))
        .select(col("p"), col("k"), col("exact_v"), col("est_v"),
          (col("est_v") - col("exact_v")).as("err"))
        .orderBy(col("p"))
    },
    Some("""
      WITH vals AS (SELECT value FROM events),
      vc AS (
        SELECT value, COUNT(*) AS c FROM vals GROUP BY 1),
      vcc AS (
        SELECT value, SUM(c) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING) AS cum
        FROM vc),
      hist AS (
        SELECT CAST(FLOOR(value / 2.0) AS BIGINT) AS bin, COUNT(*) AS bc
        FROM vals GROUP BY 1),
      histc AS (
        SELECT bin, bc, SUM(bc) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS bcum
        FROM hist),
      nn AS (SELECT COUNT(*) AS n FROM vals),
      ps AS (
        SELECT p, n, (p * n + 99) // 100 AS k
        FROM nn, unnest([50, 90, 95, 99]) AS u(p)),
      exact AS (
        SELECT p, k, MIN(value) AS exact_v
        FROM ps JOIN vcc ON cum >= k GROUP BY 1, 2),
      est AS (
        SELECT p, k, bin, bc, bcum,
               ROW_NUMBER() OVER (PARTITION BY p ORDER BY bin) AS rn
        FROM ps JOIN histc ON bcum >= k),
      estv AS (
        SELECT p, k,
               bin * 2.0 + 2.0 * (k - (bcum - bc)) / bc AS est_v
        FROM est WHERE rn = 1)
      SELECT CAST(e.p AS BIGINT) AS p, CAST(e.k AS BIGINT) AS k, exact_v, est_v,
             est_v - exact_v AS err
      FROM exact e JOIN estv v ON e.p = v.p
      ORDER BY p"""))

  /** q166 — join-skew audit with salting factors: per-key frequency
    * of the lineitem supplier key, each key's load share in exact ppm
    * (integer div), and the concrete salt fan-out `ceil(cnt/target)`
    * a salted join (q16) / salted agg (q69) would apply at 32-way
    * parallelism. This is the AQE-style planning pass made explicit:
    * one map-side-combined count per key, then arithmetic on the tiny
    * key-histogram frame. Top 30 keys by load. */
  private val q166 = QueryDef(
    "q166_skew_audit",
    (s, dir) => {
      val li = table(s, dir, "lineitem")
      val counts = li.groupBy(col("l_suppkey")).agg(count(lit(1)).as("cnt"))
      val total = counts.agg(sum(col("cnt")).as("total"))
      counts.crossJoin(broadcast(total))
        .withColumn("share_ppm", expr("(cnt * 1000000L) div total"))
        .withColumn("target", expr("(total + 31L) div 32L"))
        .withColumn("salt_n", expr("(cnt + target - 1L) div target"))
        .select(col("l_suppkey"), col("cnt"), col("share_ppm"), col("salt_n"))
        .orderBy(col("cnt").desc, col("l_suppkey"))
        .limit(30)
    },
    Some("""
      WITH c AS (
        SELECT l_suppkey, COUNT(*) AS cnt FROM lineitem GROUP BY 1),
      t AS (SELECT SUM(cnt) AS total FROM c)
      SELECT l_suppkey, cnt,
             CAST((cnt * 1000000) // total AS BIGINT) AS share_ppm,
             CAST((cnt + ((total + 31) // 32) - 1) // ((total + 31) // 32)
               AS BIGINT) AS salt_n
      FROM c, t
      ORDER BY cnt DESC, l_suppkey LIMIT 30"""))

  val all: Seq[QueryDef] = Seq(q164, q165, q166)
}
