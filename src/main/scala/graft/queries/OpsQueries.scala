package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType, StringType}
import graft.functions.TextFunctions
import graft.queries.ExtensionQueries.toksSql
import graft.queries.QueryDef.{eventsTable, spreadTable, table}
import graft.functions.DecimalExprs.{dec2, cents2}

/** Round-4 ops/decorrelation tier (q201–q205): the three classic
  * TPC-H correlated-subquery shapes the engine had not yet exercised
  * (Q17 scalar-correlated average, Q21 EXISTS/NOT-EXISTS pair, Q22
  * anti-join + scalar threshold), each re-expressed as the
  * decorrelated one-pass aggregate plan Spark actually wants; plus
  * winnowing document fingerprints (the MOSS positional near-dup
  * scheme, complementing MinHash/SimHash with auditable positions)
  * and a deterministic count-min sketch with an exact overestimate
  * audit. */
object OpsQueries {

  private val Dec = DecimalType(18, 2)

  /** q201 — small-lot revenue (TPC-H Q17 shape): revenue from
    * lineitems whose quantity is below 20% of the part's average
    * quantity, for one brand. The textbook form is a correlated
    * scalar subquery per lineitem (`WHERE l_quantity < (SELECT
    * 0.2*avg(l_quantity) ... WHERE l_partkey = outer)`); the
    * decorrelated Spark plan computes each part's (sum, count) ONCE
    * with a map-side-combined aggregate over the brand-pruned join
    * and broadcasts the tiny per-part frame back — no per-row
    * re-aggregation, no float threshold: `qty < 0.2·avg` is compared
    * as the exact integer cross-product `10·qty·n < 2·sum_qty`
    * (quantities are integral). The brand filter rides the broadcast
    * part dim, so the fact scans prune to one brand's partkeys via
    * the broadcast hash join. */
  private val q201 = QueryDef(
    "q201_small_lot_revenue",
    (s, dir) => {
      val parts = broadcast(table(s, dir, "part")
        .filter(col("p_brand") === "Brand#7")
        .select(col("p_partkey")))
      val li = table(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_quantity").cast(LongType).as("qty"),
          col("l_extendedprice"))
        .join(parts, col("l_partkey") === col("p_partkey"))
      val stats = broadcast(li.groupBy(col("l_partkey").as("sk"))
        .agg(sum(col("qty")).as("sum_qty"), count(lit(1)).as("n")))
      li.join(stats, col("l_partkey") === col("sk"))
        .filter(col("qty") * col("n") * 10 < col("sum_qty") * 2)
        .agg(count(lit(1)).as("n_small_lots"),
          sum(dec2(col("l_extendedprice"))).cast(DoubleType)
            .as("revenue"))
    },
    Some("""
      WITH li AS (
        SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty, l_extendedprice
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_brand = 'Brand#7'),
      stats AS (
        SELECT l_partkey AS sk, SUM(qty) AS sum_qty, COUNT(*) AS n
        FROM li GROUP BY 1)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_small_lots,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               AS revenue
      FROM li JOIN stats ON l_partkey = sk
      WHERE qty * n * 10 < sum_qty * 2"""))

  /** q202 — sole-late-supplier ranking (TPC-H Q21 shape): suppliers
    * who, in a multi-supplier order, were the ONLY one to ship late
    * (> 60 days after the order date). The textbook form is a
    * correlated EXISTS (another supplier on the order) + NOT EXISTS
    * (another LATE supplier) pair — two more passes over lineitem per
    * row. Decorrelated: collapse to one row per (order, supplier)
    * with a late flag, count suppliers and late suppliers per order
    * with two window aggregates over the SAME orderkey partition (one
    * shuffle, no join-back), filter `ns ≥ 2 AND nl = 1 AND late`, and
    * rank suppliers. Supplier names ride a broadcast dim. */
  private val q202 = QueryDef(
    "q202_sole_late_supplier",
    (s, dir) => {
      val li = table(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      val o = table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderdate"))
      val perSupp = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"), col("l_suppkey"))
        .agg(max((datediff(to_date(col("l_shipdate")),
          to_date(col("o_orderdate"))) > 60).cast(LongType)).as("late"))
      val w = Window.partitionBy(col("l_orderkey"))
      val flagged = perSupp
        .withColumn("ns", count(lit(1)).over(w))
        .withColumn("nl", sum(col("late")).over(w))
        .filter(col("late") === 1 && col("ns") >= 2 && col("nl") === 1)
      flagged.groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("numwait"))
        .join(broadcast(table(s, dir, "supplier")
          .select(col("s_suppkey"), col("s_name"))),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_name"), col("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(20)
    },
    Some("""
      WITH ps AS (
        SELECT l_orderkey, l_suppkey,
               MAX(CASE WHEN datediff('day', CAST(o_orderdate AS TIMESTAMP),
                                      CAST(l_shipdate AS TIMESTAMP)) > 60
                        THEN 1 ELSE 0 END) AS late
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1, 2),
      fl AS (
        SELECT l_suppkey, late,
               COUNT(*) OVER (PARTITION BY l_orderkey) AS ns,
               SUM(late) OVER (PARTITION BY l_orderkey) AS nl
        FROM ps)
      SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
      FROM fl JOIN supplier ON l_suppkey = s_suppkey
      WHERE late = 1 AND ns >= 2 AND nl = 1
      GROUP BY s_name
      ORDER BY numwait DESC, s_name LIMIT 20"""))

  /** q203 — dormant high-balance customers (TPC-H Q22 shape): per
    * nation, customers whose balance exceeds the average POSITIVE
    * balance and who have never placed an URGENT order. The textbook
    * form is a scalar subquery threshold + correlated NOT EXISTS;
    * decorrelated: the threshold is one broadcast scalar frame, the
    * NOT EXISTS is a left-anti join on the priority-pruned orders
    * scan. The float hazard in `acctbal > avg(...)` is removed by
    * comparing the exact DECIMAL cross-product `bal·cnt > sum` —
    * no division, engine-exact on both sides. */
  private val q203 = QueryDef(
    "q203_dormant_capital",
    (s, dir) => {
      val cust = table(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"),
          dec2(col("c_acctbal")).as("bal"))
      val thr = broadcast(cust.filter(col("bal") > 0)
        .agg(sum(col("bal")).as("sum_bal"), count(lit(1)).as("cnt")))
      val urgent = table(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey"))
      val dormant = cust.crossJoin(thr)
        .filter(col("bal") * col("cnt") > col("sum_bal"))
        .join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
      dormant
        .join(broadcast(table(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name"))),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_cust"),
          sum(col("bal")).cast(DoubleType).as("total_bal"))
        .orderBy(col("n_name"))
    },
    Some("""
      WITH c AS (
        SELECT c_custkey, c_nationkey,
               CAST(c_acctbal AS DECIMAL(18,2)) AS bal
        FROM customer),
      thr AS (
        SELECT SUM(bal) AS sum_bal, COUNT(*) AS cnt FROM c WHERE bal > 0)
      SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_cust,
             CAST(SUM(bal) AS DOUBLE) AS total_bal
      FROM c CROSS JOIN thr
      JOIN nation ON c_nationkey = n_nationkey
      WHERE bal * cnt > sum_bal
        AND NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey
                          AND o_orderpriority = '1-URGENT')
      GROUP BY n_name ORDER BY n_name"""))

  /** q204 — winnowing fingerprints (Schleimer et al. 2003, the MOSS
    * scheme): each document's 3-gram shingle sequence is hashed and a
    * sliding window of w = 4 consecutive positions selects its
    * minimal hash — guaranteeing any shared run of ≥ w+k-1 tokens
    * yields a shared fingerprint, at ~2/(w+1) density. Unlike
    * MinHash (q31), winnowing is POSITIONAL: matches point at the
    * actual shared span. Ties break to the rightmost position by
    * packing `hash·2²⁰ + (2²⁰−1−pos)` into one BIGINT (40-bit md5
    * hash, so no overflow; documents are pre-chunked < 2²⁰ tokens —
    * q125's chunker enforces this upstream at scale), so `min` alone
    * implements robust winnowing and both engines agree bit-for-bit.
    * Short documents (< w windows) fall back to one whole-doc window.
    * Fingerprints selected by > 20 documents are masked as
    * boilerplate (MOSS's own noise filter; also the scale guard that
    * keeps the pair join's posting lists bounded). Output: top-10
    * document pairs by rare-fingerprint-set Jaccard (exact ppm), via
    * an inverted index on selected hashes — fingerprint sets, never
    * shingle sets, shuffle. */
  private val q204 = QueryDef(
    "q204_winnow_fingerprints",
    (s, dir) => {
      val P = lit(1048576L) // 2^20 position packing
      val toks = spreadTable(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("t"))
        .filter(size(col("t")) >= 3)
      val pos = toks.select(col("doc_id"),
          posexplode(expr(
            "transform(sequence(1, size(t) - 2), " +
              "i -> concat_ws(' ', t[i-1], t[i], t[i+1]))")))
        .select(col("doc_id"), (col("pos") + 1).as("i"),
          (conv(substring(md5(col("col")), 1, 10), 16, 10).cast(LongType) * P
            + (P - 1 - (col("pos") + 1))).as("key"))
      val wWin = Window.partitionBy(col("doc_id")).orderBy(col("i"))
        .rowsBetween(Window.currentRow, 3)
      val nWin = Window.partitionBy(col("doc_id"))
      // the fingerprint set feeds three consumers (sizes + both sides
      // of the pair self-join) — materialize the window pass once
      val sel0 = pos
        .withColumn("wmin", min(col("key")).over(wWin))
        .withColumn("np", count(lit(1)).over(nWin))
        .filter(col("i") <= greatest(col("np") - 3, lit(1)))
        .select(col("doc_id"), expr("wmin div 1048576L").as("fp"))
        .distinct()
      // MOSS's boilerplate mask, same df ≤ 20 discipline as q33/q191:
      // a fingerprint selected by > 20 documents is common phrasing,
      // not shared provenance, and its posting list drives the pair
      // join quadratic (×15 wall at ×10 data before the cap,
      // SCALING.md); masked fingerprints leave BOTH the pair counts
      // and the per-doc set sizes, so jaccard stays a true Jaccard
      // over the rare-fingerprint sets
      val sel = graft.operators.Checkpoints.truncate(sel0
        .withColumn("df", count(lit(1)).over(Window.partitionBy(col("fp"))))
        .filter(col("df") <= 20)
        .select(col("doc_id"), col("fp")))
      val sizes = sel.groupBy(col("doc_id")).agg(count(lit(1)).as("nf"))
      val shared = sel.as("x").join(sel.as("y"),
          col("x.fp") === col("y.fp") && col("x.doc_id") < col("y.doc_id"))
        .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("shared"))
      shared
        .join(sizes.select(col("doc_id").as("doc_a"), col("nf").as("fp_a")), "doc_a")
        .join(sizes.select(col("doc_id").as("doc_b"), col("nf").as("fp_b")), "doc_b")
        .withColumn("jaccard_ppm",
          expr("(shared * 1000000L) div (fp_a + fp_b - shared)"))
        .orderBy(col("jaccard_ppm").desc, col("doc_a"), col("doc_b"))
        .limit(10)
    },
    Some(s"""
      WITH toks AS (
        SELECT doc_id, $toksSql AS t FROM documents
        WHERE len($toksSql) >= 3),
      pos AS (
        SELECT doc_id, i,
               CAST('0x' || substr(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]),
                                   1, 10) AS BIGINT) * 1048576
                 + (1048575 - i) AS key
        FROM toks, unnest(range(1, len(t) - 1)) AS u(i)),
      win AS (
        SELECT doc_id, i,
               MIN(key) OVER (PARTITION BY doc_id ORDER BY i
                              ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
                 AS wmin,
               COUNT(*) OVER (PARTITION BY doc_id) AS np
        FROM pos),
      sel0 AS (
        SELECT DISTINCT doc_id, wmin // 1048576 AS fp
        FROM win WHERE i <= greatest(np - 3, 1)),
      fdf AS (SELECT fp FROM sel0 GROUP BY fp HAVING COUNT(*) <= 20),
      sel AS (SELECT sel0.* FROM sel0 JOIN fdf USING (fp)),
      sizes AS (SELECT doc_id, COUNT(*) AS nf FROM sel GROUP BY 1),
      shared AS (
        SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS shared
        FROM sel x JOIN sel y ON x.fp = y.fp AND x.doc_id < y.doc_id
        GROUP BY 1, 2)
      SELECT doc_a, doc_b, CAST(shared AS BIGINT) AS shared,
             CAST(sa.nf AS BIGINT) AS fp_a, CAST(sb.nf AS BIGINT) AS fp_b,
             CAST((shared * 1000000) // (sa.nf + sb.nf - shared) AS BIGINT)
               AS jaccard_ppm
      FROM shared
      JOIN sizes sa ON doc_a = sa.doc_id
      JOIN sizes sb ON doc_b = sb.doc_id
      ORDER BY jaccard_ppm DESC, doc_a, doc_b LIMIT 10"""))

  /** q205 — count-min sketch with an exact overestimate audit
    * (Cormode & Muthukrishnan 2005): token frequencies compressed
    * into a 4×256 counter array (md5-salted row hashes, so both
    * engines build the identical sketch), point estimates as the min
    * over rows. Count-min NEVER underestimates; the audit proves it
    * — the top-50 exact counts sit beside their estimates with the
    * overestimate spelled out, all integers. The sketch builds from
    * the distinct-token count table (one explode + one agg), and the
    * 1,024-cell array is a broadcast frame — the mergeable-summary
    * shape that replaces exact per-key counting when the key space
    * no longer fits (heavy-hitter q76's sketch-side sibling). */
  private val q205 = QueryDef(
    "q205_countmin_audit",
    (s, dir) => {
      val counts = table(s, dir, "documents")
        .select(explode(TextFunctions.tokens(col("text"))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      val rows = (0 until 4).map { r =>
        counts.select(lit(r).as("r"),
          (conv(substring(md5(concat(lit(s"$r:"), col("tok"))), 1, 8), 16, 10)
            .cast(LongType) % 256).as("bucket"), col("c"))
      }.reduce(_ unionAll _)
      val sketch = broadcast(
        rows.groupBy(col("r"), col("bucket")).agg(sum(col("c")).as("cell")))
      val top = counts
        .orderBy(col("c").desc, col("tok")).limit(50)
      val probes = (0 until 4).map { r =>
        top.select(col("tok"), col("c"), lit(r).as("r"),
          (conv(substring(md5(concat(lit(s"$r:"), col("tok"))), 1, 8), 16, 10)
            .cast(LongType) % 256).as("bucket"))
      }.reduce(_ unionAll _)
      probes.join(sketch, Seq("r", "bucket"))
        .groupBy(col("tok"), col("c"))
        .agg(min(col("cell")).as("est"))
        .select(col("tok"), col("c").as("exact"), col("est"),
          (col("est") - col("c")).as("overestimate"))
        .orderBy(col("exact").desc, col("tok"))
    },
    Some(s"""
      WITH counts AS (
        SELECT tok, COUNT(*) AS c
        FROM (SELECT unnest($toksSql) AS tok FROM documents)
        GROUP BY 1),
      rows_ AS (
        SELECT r, tok, c,
               CAST('0x' || substr(md5(CAST(r AS VARCHAR) || ':' || tok), 1, 8)
                 AS BIGINT) % 256 AS bucket
        FROM counts CROSS JOIN (VALUES (0), (1), (2), (3)) AS u(r)),
      sketch AS (
        SELECT r, bucket, SUM(c) AS cell FROM rows_ GROUP BY 1, 2),
      top AS (
        SELECT tok, c FROM counts ORDER BY c DESC, tok LIMIT 50)
      SELECT t.tok, CAST(t.c AS BIGINT) AS exact,
             CAST(MIN(s.cell) AS BIGINT) AS est,
             CAST(MIN(s.cell) - t.c AS BIGINT) AS overestimate
      FROM top t
      JOIN rows_ r ON t.tok = r.tok
      JOIN sketch s ON r.r = s.r AND r.bucket = s.bucket
      GROUP BY t.tok, t.c
      ORDER BY exact DESC, t.tok"""))

  /** q206 — multi-touch attribution (linear + position-based 40/20/40
    * in exact ppm): every click/view is attached to the NEXT purchase
    * of the same user within 7 days using one reverse-ordered
    * running-min window (q196's no-self-join discipline; the next
    * purchase's (ms, event_id) pack into a single BIGINT so `min`
    * orders correctly and both engines agree). Each conversion then
    * splits 1,000,000 ppm across its ordered touch path — linear
    * `1e6 div n` with the floor remainder to the last touch,
    * position-based 400k/200k/400k with the middle remainder to the
    * first — so attributed mass is conserved EXACTLY per conversion,
    * the property float attribution loses. Complements q94's
    * last-touch rule. Two windows over one user_id shuffle. */
  private val q206 = QueryDef(
    "q206_multitouch_attribution",
    (s, dir) => {
      // Pack bound: event_id must stay < 2^22 (4,194,304) or it bleeds
      // into the ms field and min-ordering can pick a later purchase.
      // epoch-ms (~1.8e12) * 2^22 ≈ 7.4e18 still fits a BIGINT; the
      // fixture tops out at 1e5 ids at sf0.1 (sf1 ≈ 1e6, sf10 ≈ 1e7 —
      // re-pack on (ms, dense per-user rank) before running past 2^22).
      // Same discipline as q204's 2^20 position field.
      val P = 4194304L
      val e = eventsTable(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_millis(col("ts")).as("ms"))
      val wDesc = Window.partitionBy(col("user_id"))
        .orderBy(col("ms").desc, col("event_id").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val touches = e.withColumn("conv",
          min(when(col("event_type") === "purchase",
            col("ms") * P + col("event_id"))).over(wDesc))
        .filter(col("event_type").isin("click", "view") &&
          col("conv").isNotNull &&
          expr(s"conv div $P") - col("ms") <= 7L * 86400000L)
      val wPath = Window.partitionBy(col("user_id"), col("conv"))
        .orderBy(col("ms"), col("event_id"))
      val wN = Window.partitionBy(col("user_id"), col("conv"))
      val shares = touches
        .withColumn("idx", row_number().over(wPath))
        .withColumn("n", count(lit(1)).over(wN))
        .withColumn("linear_ppm",
          expr("1000000L div n") +
            when(col("idx") === col("n"),
              lit(1000000L) - expr("(1000000L div n) * n")).otherwise(0L))
        .withColumn("position_ppm",
          when(col("n") === 1, 1000000L)
            .when(col("n") === 2, 500000L)
            .otherwise(
              when(col("idx") === 1,
                lit(400000L) + lit(200000L) -
                  expr("(200000L div (n - 2)) * (n - 2)"))
                .when(col("idx") === col("n"), 400000L)
                .otherwise(expr("200000L div (n - 2)"))))
      shares.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_touches"),
          countDistinct(col("user_id"), col("conv")).as("n_conversions"),
          sum(col("linear_ppm")).as("linear_ppm"),
          sum(col("position_ppm")).as("position_ppm"))
        .orderBy(col("event_type"))
    },
    Some("""
      WITH e AS (
        SELECT user_id, event_id, event_type,
               epoch_ms(CAST(ts AS TIMESTAMP)) AS ms
        FROM events),
      t AS (
        SELECT *,
               MIN(CASE WHEN event_type = 'purchase'
                        THEN ms * 4194304 + event_id END)
                 OVER (PARTITION BY user_id ORDER BY ms DESC, event_id DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS conv
        FROM e),
      touches AS (
        SELECT * FROM t
        WHERE event_type IN ('click', 'view') AND conv IS NOT NULL
          AND conv // 4194304 - ms <= 7 * 86400000),
      shares AS (
        SELECT event_type, user_id, conv,
               ROW_NUMBER() OVER (PARTITION BY user_id, conv
                                  ORDER BY ms, event_id) AS idx,
               COUNT(*) OVER (PARTITION BY user_id, conv) AS n
        FROM touches)
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_touches,
             CAST(COUNT(DISTINCT (user_id, conv)) AS BIGINT) AS n_conversions,
             CAST(SUM(1000000 // n + CASE WHEN idx = n
                 THEN 1000000 - (1000000 // n) * n ELSE 0 END) AS BIGINT)
               AS linear_ppm,
             CAST(SUM(CASE
                 WHEN n = 1 THEN 1000000
                 WHEN n = 2 THEN 500000
                 WHEN idx = 1 THEN 400000 + 200000 -
                   (200000 // (n - 2)) * (n - 2)
                 WHEN idx = n THEN 400000
                 ELSE 200000 // (n - 2) END) AS BIGINT) AS position_ppm
      FROM shares GROUP BY event_type ORDER BY event_type"""))

  /** q207 — stratified proportional sampling audit: a deterministic
    * 20% sample drawn per source stratum (md5-ranked within stratum,
    * quota = ⌊n·0.2⌋) — the sampling design that preserves source
    * mixture exactly, where uniform row sampling drifts on small
    * strata. The audit reports each stratum's quota and the
    * English-share ppm before vs after — the representativeness
    * check a corpus release runs. One explode-free pass: two window
    * functions over one source shuffle. */
  private val q207 = QueryDef(
    "q207_stratified_sample",
    (s, dir) => {
      val d = table(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("lang"),
          md5(col("doc_id").cast(StringType)).as("mk"))
      val wRank = Window.partitionBy(col("source"))
        .orderBy(col("mk"), col("doc_id"))
      val wSrc = Window.partitionBy(col("source"))
      val ranked = d.withColumn("r", row_number().over(wRank))
        .withColumn("n_src", count(lit(1)).over(wSrc))
        .withColumn("quota", expr("(n_src * 200000L) div 1000000L"))
        .withColumn("kept", (col("r") <= col("quota")).cast(LongType))
      ranked.groupBy(col("source"))
        .agg(max(col("n_src")).as("n_docs"), max(col("quota")).as("quota"),
          sum((col("lang") === "en").cast(LongType)).as("n_en"),
          sum(((col("lang") === "en").cast(LongType)) * col("kept"))
            .as("n_en_kept"))
        .select(col("source"), col("n_docs"), col("quota"),
          expr("(n_en * 1000000L) div n_docs").as("en_before_ppm"),
          when(col("quota") > 0,
            expr("(n_en_kept * 1000000L) div quota")).as("en_after_ppm"))
        .orderBy(col("source"))
    },
    Some("""
      WITH d AS (
        SELECT doc_id, source, lang, md5(CAST(doc_id AS VARCHAR)) AS mk
        FROM documents),
      ranked AS (
        SELECT source, lang,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY mk, doc_id)
                 AS r,
               COUNT(*) OVER (PARTITION BY source) AS n_src
        FROM d),
      q AS (
        SELECT *, (n_src * 200000) // 1000000 AS quota,
               CASE WHEN r <= (n_src * 200000) // 1000000
                    THEN 1 ELSE 0 END AS kept
        FROM ranked)
      SELECT source, CAST(MAX(n_src) AS BIGINT) AS n_docs,
             CAST(MAX(quota) AS BIGINT) AS quota,
             CAST((SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) * 1000000)
               // MAX(n_src) AS BIGINT) AS en_before_ppm,
             CASE WHEN MAX(quota) > 0 THEN
               CAST((SUM(CASE WHEN lang = 'en' THEN kept ELSE 0 END)
                 * 1000000) // MAX(quota) AS BIGINT) END AS en_after_ppm
      FROM q GROUP BY source ORDER BY source"""))

  /** q208 — corpus shuffle (epoch-mixing) audit: training pipelines
    * shard and shuffle the corpus before each epoch; a bad shuffle
    * leaves same-source runs that bias gradient batches. The md5
    * permutation assigns each document a shard (mod 32) and an
    * order within the shard; the audit measures the adjacent-pair
    * same-source rate per shard in exact ppm against the collision
    * rate a perfect shuffle would give (Σ nₛ² / N² over the global
    * source masses, one broadcast scalar frame). Deterministic —
    * the hash IS the permutation — so the audit itself is
    * hash-checkable, unlike a rand()-seeded shuffle. */
  private val q208 = QueryDef(
    "q208_shuffle_audit",
    (s, dir) => {
      val d = table(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          md5(col("doc_id").cast(StringType)).as("mk"))
        .withColumn("shard",
          (conv(substring(col("mk"), 1, 8), 16, 10).cast(LongType) % 32)
            .as("shard"))
      val wOrd = Window.partitionBy(col("shard"))
        .orderBy(col("mk"), col("doc_id"))
      val adj = d.withColumn("prev_src", lag(col("source"), 1).over(wOrd))
      val expected = broadcast(
        d.groupBy(col("source")).agg(count(lit(1)).as("ns"))
          .agg(sum(col("ns") * col("ns")).as("ss"), sum(col("ns")).as("n"))
          .select(expr("(ss * 1000000L) div (n * n)").as("expected_ppm")))
      adj.groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum((col("prev_src").isNotNull &&
            col("prev_src") === col("source")).cast(LongType))
            .as("same_adj"))
        .crossJoin(expected)
        .select(col("shard"), col("n_docs"),
          when(col("n_docs") > 1,
            expr("(same_adj * 1000000L) div (n_docs - 1)")).as("same_ppm"),
          col("expected_ppm"))
        .orderBy(col("shard"))
    },
    Some("""
      WITH d AS (
        SELECT doc_id, source, md5(CAST(doc_id AS VARCHAR)) AS mk,
               CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                 AS BIGINT) % 32 AS shard
        FROM documents),
      adj AS (
        SELECT shard, source,
               LAG(source) OVER (PARTITION BY shard ORDER BY mk, doc_id)
                 AS prev_src
        FROM d),
      ex AS (
        SELECT (SUM(ns * ns) * 1000000) // (SUM(ns) * SUM(ns))
                 AS expected_ppm
        FROM (SELECT COUNT(*) AS ns FROM d GROUP BY source))
      SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CASE WHEN COUNT(*) > 1 THEN
               CAST((SUM(CASE WHEN prev_src IS NOT NULL
                               AND prev_src = source THEN 1 ELSE 0 END)
                 * 1000000) // (COUNT(*) - 1) AS BIGINT) END AS same_ppm,
             CAST(expected_ppm AS BIGINT) AS expected_ppm
      FROM adj CROSS JOIN ex
      GROUP BY shard, expected_ppm ORDER BY shard"""))

  /** Token co-occurrence graph (q131's construction): canonical
    * undirected edge set from adjacent-token bigrams, plus degrees.
    * Shared by q131 (triangle count), q148 (label propagation), q209
    * (clustering coefficient) and q211 (link prediction). */
  private[queries] def tokenGraph(docs: org.apache.spark.sql.DataFrame)
  : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    import graft.functions.TextExprs
    val bi = docs
      .select(TextFunctions.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
      .select(explode(TextExprs.word_shingles(col("t"), 2)).as("bigram"))
      .select(substring_index(col("bigram"), " ", 1).as("x"),
        substring_index(col("bigram"), " ", -1).as("y"))
      .filter(col("x") =!= col("y"))
    val edges = bi.select(least(col("x"), col("y")).as("a"),
      greatest(col("x"), col("y")).as("b")).distinct()
    val deg = edges.select(col("a").as("v"))
      .unionAll(edges.select(col("b")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    (edges, deg)
  }

  /** Orient each canonical edge of [[tokenGraph]] from its
    * (degree, name)-smaller endpoint to the larger (the
    * node-iterator++ order), checkpointed: `(src, dst)`. */
  private[queries] def orientByDegree(edges: org.apache.spark.sql.DataFrame,
                                      deg: org.apache.spark.sql.DataFrame)
  : org.apache.spark.sql.DataFrame = {
    val withDeg = edges
      .join(deg.select(col("v").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("d").as("db")), "b")
    graft.operators.Checkpoints.truncate(withDeg.select(
      when(col("da") < col("db") ||
        (col("da") === col("db") && col("a") < col("b")), col("a"))
        .otherwise(col("b")).as("src"),
      when(col("da") < col("db") ||
        (col("da") === col("db") && col("a") < col("b")), col("b"))
        .otherwise(col("a")).as("dst")))
  }

  /** The adjacent-token bigram CTEs of [[tokenGraph]]'s DuckDB twins,
    * over a `toks(t)` CTE: `<p>bi(bigram)` and `<p>xy(x, y)` with
    * x ≠ y, where `p` prefixes both CTE names. */
  private[queries] def bigramPairsSql(p: String = ""): String = s"""
      ${p}bi AS (
        SELECT unnest(list_transform(range(1, len(t)),
                 i -> t[i] || ' ' || t[i+1])) AS bigram
        FROM toks),
      ${p}xy AS (
        SELECT string_split(bigram, ' ')[1] AS x,
               string_split(bigram, ' ')[2] AS y
        FROM ${p}bi
        WHERE string_split(bigram, ' ')[1] <> string_split(bigram, ' ')[2])"""

  /** DuckDB twin of [[tokenGraph]]: MATERIALIZED CTEs `ei(a, b)` +
    * `deg(v, d)` over DENSE INT node ids, `ids(node, nid)` for the
    * final decode. Round 12: without MATERIALIZED, DuckDB re-inlined
    * the full string bigram scan into every downstream reference and
    * the q209 wedge join exceeded the box's temp disk at diverse-sf8;
    * ids are assigned by ROW_NUMBER over the node STRING order, so
    * every (degree, node) comparison downstream is order-identical to
    * the string form and all emitted values are unchanged.
    * Parameterized by the documents relation so q230's md5-decile
    * stratum twin shares it verbatim. */
  private def graphCtesFrom(docsRel: String) = s"""
      toks AS MATERIALIZED (
        SELECT $toksSql AS t FROM $docsRel WHERE len($toksSql) >= 2),
      ${bigramPairsSql()},
      edges0 AS MATERIALIZED (
        SELECT DISTINCT least(x, y) AS a, greatest(x, y) AS b FROM xy),
      ids AS MATERIALIZED (
        SELECT node, ROW_NUMBER() OVER (ORDER BY node) AS nid FROM (
          SELECT DISTINCT node FROM
            (SELECT a AS node FROM edges0 UNION ALL SELECT b FROM edges0))),
      ei AS MATERIALIZED (
        SELECT ia.nid AS a, ib.nid AS b
        FROM edges0 JOIN ids ia ON edges0.a = ia.node
                    JOIN ids ib ON edges0.b = ib.node),
      deg AS MATERIALIZED (
        SELECT v, COUNT(*) AS d FROM (
          SELECT a AS v FROM ei UNION ALL SELECT b FROM ei)
        GROUP BY 1)"""

  /** q209 — local clustering coefficient over the token co-occurrence
    * graph: per-node triangle membership from q131's degree-ordered
    * triangle enumeration (each triangle touches its three vertices
    * once), coefficient = 2·t / d·(d−1) in exact ppm. The
    * degree-ordering discipline is what survives hubs at scale —
    * wedge generation stays per-oriented-out-degree, never per raw
    * degree. Top 20 most-embedded nodes (t desc), min degree 2. */
  private val q209 = QueryDef(
    "q209_clustering_coefficient",
    (s, dir) => clusteringCoefficient(table(s, dir, "documents")),
    Some(clusteringSql("documents")))

  /** q209's engine pipeline over an arbitrary documents frame —
    * shared with q230's stratum twin. */
  private def clusteringCoefficient(docs: org.apache.spark.sql.DataFrame)
  : org.apache.spark.sql.DataFrame = {
      val (edges, deg) = tokenGraph(docs)
      val oriented = orientByDegree(edges, deg)
      val tri = oriented.as("e1").join(oriented.as("e2"),
          col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
        .select(col("e1.src").as("v0"), col("e1.dst").as("u"),
          col("e2.dst").as("w"))
        .join(edges, least(col("u"), col("w")) === col("a") &&
          greatest(col("u"), col("w")) === col("b"))
      val perNode = tri.select(col("v0").as("v"))
        .unionAll(tri.select(col("u")))
        .unionAll(tri.select(col("w")))
        .groupBy(col("v")).agg(count(lit(1)).as("t"))
      perNode.join(deg, "v")
        .filter(col("d") >= 2)
        .select(col("v").as("node"), col("t"), col("d").as("degree"),
          expr("(2L * t * 1000000L) div (d * (d - 1))").as("coeff_ppm"))
        .orderBy(col("t").desc, col("node"))
        .limit(20)
  }

  /** DuckDB twin of [[clusteringCoefficient]], parameterized by the
    * documents relation (full table for q209, the md5-decile stratum
    * for q230). */
  private def clusteringSql(docsRel: String): String = s"""
      WITH ${graphCtesFrom(docsRel)},
      oriented AS MATERIALIZED (
        SELECT CASE WHEN (da.d, e.a) < (db.d, e.b) THEN e.a ELSE e.b END
                 AS src,
               CASE WHEN (da.d, e.a) < (db.d, e.b) THEN e.b ELSE e.a END
                 AS dst
        FROM ei e
        JOIN deg da ON e.a = da.v JOIN deg db ON e.b = db.v),
      tri AS (
        SELECT e1.src AS v0, e1.dst AS u, e2.dst AS w
        FROM oriented e1 JOIN oriented e2
          ON e1.src = e2.src AND e1.dst < e2.dst
        JOIN ei ON least(e1.dst, e2.dst) = ei.a
               AND greatest(e1.dst, e2.dst) = ei.b),
      per_node AS (
        SELECT v, COUNT(*) AS t FROM (
          SELECT v0 AS v FROM tri
          UNION ALL SELECT u FROM tri
          UNION ALL SELECT w FROM tri)
        GROUP BY 1)
      SELECT ids.node AS node, CAST(t AS BIGINT) AS t,
             CAST(d AS BIGINT) AS degree,
             CAST((2 * t * 1000000) // (d * (d - 1)) AS BIGINT) AS coeff_ppm
      FROM per_node JOIN deg USING (v) JOIN ids ON ids.nid = per_node.v
      WHERE d >= 2
      ORDER BY t DESC, ids.node LIMIT 20"""

  /** q230 — q209's triangle/coefficient pipeline on the md5-decile
    * document stratum ([[QueryDef.md5Decile]], the q224 discipline):
    * the graph-tier scale audit for wedge enumeration. q209's full
    * oracle outgrew the box's temp disk at diverse-sf8 (adjudicated
    * that round by row-level re-derivation, 20/20 exact); this twin
    * keeps a same-tier, paid-in-full HASH oracle alive at any tier —
    * the stratum's graph is ~1/10 the edge mass, so its wedge join is
    * ~1/100 the pair mass, and the identical degree-ordered
    * enumeration runs on both engines. */
  private val q230 = QueryDef(
    "q230_triangle_stratum",
    (s, dir) => clusteringCoefficient(
      QueryDef.md5Decile(table(s, dir, "documents"), "doc_id")),
    Some(clusteringSql(AnalyticsQueries.docStratumSql)))

  /** q210 — small-file compaction planning report: the 100 TB
    * lakehouse's perpetual maintenance task, as closed-form planning
    * math. Files are modeled per (ship-month partition, writer
    * bucket); within each partition the planner virtually packs
    * size-descending files into quarter-of-partition target bins
    * (cumulative-sum ÷ target — the relaxation that lower-bounds any
    * real bin packing) and reports file count vs planned bin count,
    * fill ppm, and the rewrite mass — the decision input
    * `LakeIO.compact` acts on. All integers; one partition-keyed
    * shuffle over pre-aggregated file stats, never raw rows. */
  private val q210 = QueryDef(
    "q210_compaction_plan",
    (s, dir) => {
      val files = table(s, dir, "lineitem")
        .groupBy(date_format(to_date(col("l_shipdate")), "yyyy-MM")
          .as("part_month"), (col("l_suppkey") % 8).as("bucket"))
        .agg(count(lit(1)).as("bytes"))
      val wPart = Window.partitionBy(col("part_month"))
      val wPack = Window.partitionBy(col("part_month"))
        .orderBy(col("bytes").desc, col("bucket"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val planned = files
        .withColumn("total", sum(col("bytes")).over(wPart))
        .withColumn("target", expr("greatest(total div 4, 1L)"))
        .withColumn("cum", sum(col("bytes")).over(wPack))
        .withColumn("bin", expr("(cum - 1) div target"))
      // n_bins is clamped to n_files: a single file larger than the
      // target spans several virtual bins in the cumsum relaxation,
      // which would otherwise report negative files_saved.
      planned.groupBy(col("part_month"))
        .agg(count(lit(1)).as("n_files"), max(col("total")).as("total_bytes"),
          max(col("target")).as("target_bytes"),
          least(count(lit(1)), max(col("bin")) + 1).as("n_bins"),
          sum((col("bytes") * 2 < col("target")).cast(LongType))
            .as("n_small"))
        .select(col("part_month"), col("n_files"), col("total_bytes"),
          col("target_bytes"), col("n_bins"),
          (col("n_files") - col("n_bins")).as("files_saved"),
          expr("(total_bytes * 1000000L) div (n_bins * target_bytes)")
            .as("fill_ppm"),
          col("n_small"))
        .orderBy(col("part_month"))
    },
    Some("""
      WITH files AS (
        SELECT strftime(CAST(l_shipdate AS TIMESTAMP), '%Y-%m') AS part_month,
               l_suppkey % 8 AS bucket, COUNT(*) AS bytes
        FROM lineitem GROUP BY 1, 2),
      planned AS (
        SELECT part_month, bucket, bytes,
               SUM(bytes) OVER (PARTITION BY part_month) AS total,
               greatest(SUM(bytes) OVER (PARTITION BY part_month) // 4, 1)
                 AS target,
               SUM(bytes) OVER (PARTITION BY part_month
                                ORDER BY bytes DESC, bucket
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) AS cum
        FROM files)
      SELECT part_month, CAST(COUNT(*) AS BIGINT) AS n_files,
             CAST(MAX(total) AS BIGINT) AS total_bytes,
             CAST(MAX(target) AS BIGINT) AS target_bytes,
             CAST(least(COUNT(*), MAX((cum - 1) // target) + 1) AS BIGINT)
               AS n_bins,
             CAST(COUNT(*) - least(COUNT(*), MAX((cum - 1) // target) + 1)
               AS BIGINT) AS files_saved,
             CAST((MAX(total) * 1000000)
               // (least(COUNT(*), MAX((cum - 1) // target) + 1)
                   * MAX(target)) AS BIGINT)
               AS fill_ppm,
             CAST(SUM(CASE WHEN bytes * 2 < target THEN 1 ELSE 0 END)
               AS BIGINT) AS n_small
      FROM planned GROUP BY part_month ORDER BY part_month"""))

  /** q211 — link prediction by the resource-allocation index (Zhou,
    * Lü & Zhang 2009) on the part co-purchase graph: for every
    * NON-adjacent part pair with common neighbors, RA = Σ 1/deg(v)
    * over the shared neighbors v — the strongest of the simple local
    * predictors, and unlike Adamic-Adar its 1/d terms are exact in
    * fixed-point (10⁹ div d, no logarithm). "Which products will be
    * bought together next" — the recsys question one query answers.
    * Edges are within-order part pairs with support ≥ 2 (q195's
    * linear per-basket generation — the co-purchase graph stays
    * sparse at every scale, where the token graph saturates); wedge
    * generation is per-common-neighbor with a degree-256 hub cap
    * defined on BOTH engines (a hub's contribution is < 10⁹/257
    * each, and the cap bounds per-node pair mass). Existing edges
    * drop via one left-anti join. Top 20 predicted links. */
  private val q211 = QueryDef(
    "q211_link_prediction",
    (s, dir) => raLinkPrediction(spreadTable(s, dir, "lineitem")),
    Some(raSql("lineitem")))

  /** q211's engine pipeline; `centerDecile=true` (q231) restricts the
    * WEDGE-AGGREGATION stage to md5-decile center nodes while edges,
    * degrees and the anti-join run at full tier volume. */
  private def raLinkPrediction(lineitem: org.apache.spark.sql.DataFrame,
                               centerDecile: Boolean = false)
  : org.apache.spark.sql.DataFrame = {
      // round-15 (the q183/q195 posting-list pattern, guide §2.4/§3):
      // BOTH self-joins of this pipeline — the within-order edge build
      // and the per-center wedge generation — are inverted-index
      // pairings, so materialize them as such: one hash exchange on
      // the grouping key + per-key sorted lists + in-stage pair
      // explode, instead of two sort exchanges + a join over the same
      // relation each. The basket lists additionally fold the old
      // `.distinct()` into `collect_set` (one shuffle, not two), and
      // the explicit keyed repartition pins the CPU-dense pair stages
      // wide (AQE-coalescing-exempt — the q140 hazard).
      val par = lineitem.sparkSession.sessionState.conf.numShufflePartitions
      val edges = graft.operators.Checkpoints.truncate(
        lineitem.select(col("l_orderkey"), col("l_partkey"))
          .repartition(par, col("l_orderkey"))
          .groupBy(col("l_orderkey"))
          .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
          .filter(size(col("ps")) > 1)
          .select(explode(col("ps")).as("a"), col("ps"))
          .select(col("a"), explode(col("ps")).as("b"))
          .filter(col("a") < col("b"))
          .groupBy(col("a"), col("b"))
          .agg(count(lit(1)).as("support"))
          .filter(col("support") >= 2)
          .select(col("a"), col("b")))
      val deg = edges.select(col("a").as("v"))
        .unionAll(edges.select(col("b")))
        .groupBy(col("v")).agg(count(lit(1)).as("d"))
      val adjAll = edges.select(col("a").as("v"), col("b").as("nbr"))
        .unionAll(edges.select(col("b"), col("a")))
        .join(deg.filter(col("d") <= 256), "v")
      val adj = if (centerDecile) QueryDef.md5Decile(adjAll, "v") else adjAll
      // wedge pairs per center v: every nbr pair shares the center's
      // contrib 10⁹ div d(v), so the sorted neighbor list explodes
      // directly — no adj ⋈ adj self-join (the superlinear stage)
      val pairs = adj.repartition(par, col("v"))
        .groupBy(col("v"), col("d"))
        .agg(sort_array(collect_list(col("nbr"))).as("ns"))
        .filter(size(col("ns")) > 1)
        .select(expr("1000000000L div d").as("contrib"),
          explode(col("ns")).as("u"), col("ns"))
        .select(col("contrib"), col("u"), explode(col("ns")).as("w"))
        .filter(col("u") < col("w"))
        .select(col("u"), col("w"), col("contrib"))
      pairs.join(edges,
          col("u") === col("a") && col("w") === col("b"), "left_anti")
        .groupBy(col("u"), col("w"))
        .agg(sum(col("contrib")).as("ra_e9"),
          count(lit(1)).as("common_neighbors"))
        .orderBy(col("ra_e9").desc, col("u"), col("w"))
        .limit(20)
  }

  /** DuckDB twin of [[raLinkPrediction]]: `centerPred` restricts the
    * adj CTE's center node (TRUE for q211, the md5 decile for q231). */
  private def raSql(liRel: String, centerPred: String = "TRUE"): String = s"""
      WITH li AS MATERIALIZED (
        SELECT DISTINCT l_orderkey, l_partkey FROM $liRel),
      edges AS MATERIALIZED (
        SELECT a, b FROM (
          SELECT x.l_partkey AS a, y.l_partkey AS b, COUNT(*) AS support
          FROM li x JOIN li y
            ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
          GROUP BY 1, 2)
        WHERE support >= 2),
      deg AS MATERIALIZED (
        SELECT v, COUNT(*) AS d FROM (
          SELECT a AS v FROM edges UNION ALL SELECT b FROM edges)
        GROUP BY 1),
      adj AS MATERIALIZED (
        SELECT v, nbr, d FROM (
          SELECT a AS v, b AS nbr FROM edges
          UNION ALL SELECT b, a FROM edges)
        JOIN deg USING (v) WHERE d <= 256 AND $centerPred),
      pairs AS (
        SELECT p.nbr AS u, q.nbr AS w, 1000000000 // p.d AS contrib
        FROM adj p JOIN adj q ON p.v = q.v AND p.nbr < q.nbr)
      SELECT u, w, CAST(SUM(contrib) AS BIGINT) AS ra_e9,
             CAST(COUNT(*) AS BIGINT) AS common_neighbors
      FROM pairs
      WHERE NOT EXISTS (SELECT 1 FROM edges WHERE a = u AND b = w)
      GROUP BY u, w
      ORDER BY ra_e9 DESC, u, w LIMIT 20"""

  /** q231 — q211's resource-allocation index with the WEDGE-CENTER
    * stage restricted to an md5 decile of nodes: every surviving
    * term Σ 1/d(v) over sampled common neighbors v uses FULL-graph
    * edges, degrees and hub cap (the expensive linear stage runs at
    * tier volume on both engines); only the superlinear wedge join
    * drops to ~1/10 mass. Input strata (order- or part-decile) are
    * degenerate here: ScaleGen's support≥2 co-purchase graph is
    * scale-flat (~3.6k edges at every tier), so thinning baskets
    * dilutes per-edge support ~10× and the stratum graph empties
    * (measured: 31 edges, 0 predictions at diverse-sf8) — a hash
    * match on an empty result audits nothing. Center sampling keeps
    * real mass at the FIXTURE tiers (1.8k/1.2k/149 pre-limit pairs at
    * sf0.001/0.01/0.1) while exercising the identical join/agg/
    * anti-join arithmetic.
    *
    * SCALE-EVIDENCE DESIGNATION (r14): at sf8+ this twin is NOT the
    * pipeline's scale evidence — q211's FULL oracle is, paid and
    * hash-exact at diverse-sf8 (80 GB cap) and diverse-sf16 (default
    * cap, 13 rows; `docs/dsf16_q211_full_r14.log`), payable at every
    * tier BECAUSE the graph is scale-flat. No decile mass floor can
    * rescue the twin there: at 160× the full graph's total prediction
    * mass is 13 pairs, so any sampled stratum of it is vacuous by
    * arithmetic — escalating the union until mass appears just
    * converges to q211 itself. q231's seat is the fixture-tier
    * stratum audit (and the gate), where its mass is real. */
  private val q231 = QueryDef(
    "q231_ra_stratum",
    (s, dir) => raLinkPrediction(table(s, dir, "lineitem"),
      centerDecile = true),
    Some(raSql("lineitem", QueryDef.md5DecileSql("v"))))

  /** q212 — Merkle range diff (anti-entropy reconciliation): two
    * copies of the orders table — the replica deterministically
    * corrupted by one cent on keys ≡ 0 mod 9973 — are compared
    * through a two-level hash tree: 1024-key leaf ranges folded with
    * the order-independent 60-bit XOR (q107's idiom), 16-leaf parent
    * ranges above them. The output lists ONLY the diverging leaves
    * with their parent range and key bounds — the O(diverged·log)
    * drill-down that re-syncs a 100 TB replica without a full-table
    * diff (Cassandra/Dynamo repair, as one declarative query). */
  private val q212 = QueryDef(
    "q212_merkle_diff",
    (s, dir) => {
      def hashed(priceBump: org.apache.spark.sql.Column) = {
        val price = (dec2(col("o_totalprice")) + priceBump).cast(Dec)
        table(s, dir, "orders")
          .select(expr("o_orderkey div 1024").as("leaf"),
            conv(substring(md5(concat_ws("|",
              col("o_orderkey"), price.cast(StringType))), 1, 15), 16, 10)
              .cast(LongType).as("h"))
          .groupBy(col("leaf"))
          .agg(count(lit(1)).as("n"), expr("bit_xor(h)").as("x"))
      }
      val a = hashed(lit(0).cast(Dec))
      val b = hashed(when(col("o_orderkey") % 9973 === 0,
        lit("0.01").cast(Dec)).otherwise(lit(0).cast(Dec)))
      a.as("a").join(b.as("b"), col("a.leaf") === col("b.leaf"))
        .filter(col("a.x") =!= col("b.x") || col("a.n") =!= col("b.n"))
        .select(expr("a.leaf div 16").as("parent_range"),
          col("a.leaf").as("leaf"),
          (col("a.leaf") * 1024).as("key_lo"),
          ((col("a.leaf") + 1) * 1024 - 1).as("key_hi"),
          col("a.n").as("n_rows"))
        .orderBy(col("leaf"))
    },
    Some("""
      WITH a AS (
        SELECT o_orderkey // 1024 AS leaf, COUNT(*) AS n,
               bit_xor(CAST('0x' || substr(md5(o_orderkey || '|' ||
                 CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR)),
                 1, 15) AS BIGINT)) AS x
        FROM orders GROUP BY 1),
      b AS (
        SELECT o_orderkey // 1024 AS leaf, COUNT(*) AS n,
               bit_xor(CAST('0x' || substr(md5(o_orderkey || '|' ||
                 CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) +
                   CASE WHEN o_orderkey % 9973 = 0
                        THEN CAST('0.01' AS DECIMAL(18,2))
                        ELSE CAST(0 AS DECIMAL(18,2)) END AS DECIMAL(18,2))
                   AS VARCHAR)), 1, 15) AS BIGINT)) AS x
        FROM orders GROUP BY 1)
      SELECT a.leaf // 16 AS parent_range, a.leaf AS leaf,
             a.leaf * 1024 AS key_lo, (a.leaf + 1) * 1024 - 1 AS key_hi,
             CAST(a.n AS BIGINT) AS n_rows
      FROM a JOIN b ON a.leaf = b.leaf
      WHERE a.x <> b.x OR a.n <> b.n
      ORDER BY leaf"""))

  /** q213 — 2D Pareto frontier (skyline): suppliers not dominated on
    * (total supply volume, account balance) — "no one ships more AND
    * holds more". The classic block-nested-loops skyline collapses to
    * one window pass in 2D: group equal volumes to their max balance,
    * sort volume descending, and a point survives iff the running
    * max balance over STRICTLY greater volumes is below it. The fold
    * runs on the per-distinct-volume collapse (never raw rows) AFTER
    * a partition-local frontier pre-filter — frontiers are closed
    * under union, so a point dominated inside ANY subset is dominated
    * globally, and filtering within deterministic pseudo-partitions
    * (hash of volume) keeps a SUPERSET of the true frontier while the
    * global window's frame shrinks from every-distinct-volume
    * (measured growing ~linearly: 10→99→853 rows over the fixture
    * sfs) to the union of 32 partial frontiers (expected O(log n)
    * each on non-adversarial data). PlanAuditSpec measures the frame
    * at two sfs and fails if it scales with the corpus again.
    * Balances compare in exact cents. */
  private val q213 = QueryDef(
    "q213_pareto_suppliers",
    (s, dir) => {
      val vol = table(s, dir, "lineitem")
        .groupBy(col("l_suppkey"))
        .agg(sum(col("l_quantity").cast(LongType)).as("volume"))
      val sup = table(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_name"),
          cents2(col("s_acctbal")).as("bal_cents"))
        .join(vol, col("s_suppkey") === col("l_suppkey"))
      val byVol = sup.groupBy(col("volume"))
        .agg(max(col("bal_cents")).as("ymax"))
      // partition-local pre-filter: within a pseudo-partition, any
      // strictly-larger volume (volumes are distinct after the
      // collapse) with balance >= mine dominates me — safe to drop
      // before the global pass, which re-applies the same rule
      val wLoc = Window.partitionBy(pmod(xxhash64(col("volume")), lit(32)))
        .orderBy(col("volume").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val pre = byVol
        .withColumn("loc_max", max(col("ymax")).over(wLoc))
        .filter(col("loc_max").isNull || col("loc_max") < col("ymax"))
        .select(col("volume"), col("ymax"))
      val w = Window.orderBy(col("volume").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val frontier = pre
        .withColumn("prev_max", max(col("ymax")).over(w))
        .filter(col("prev_max").isNull || col("prev_max") < col("ymax"))
        .select(col("volume").as("fv"), col("ymax"))
      sup.join(broadcast(frontier),
          col("volume") === col("fv") && col("bal_cents") === col("ymax"))
        .select(col("s_name"), col("volume"), col("bal_cents"))
        .orderBy(col("volume").desc, col("s_name"))
    },
    Some("""
      WITH vol AS (
        SELECT l_suppkey, SUM(CAST(l_quantity AS BIGINT)) AS volume
        FROM lineitem GROUP BY 1),
      sup AS (
        SELECT s_name, volume,
               CAST(CAST(s_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
                 AS bal_cents
        FROM supplier JOIN vol ON s_suppkey = l_suppkey),
      by_vol AS (
        SELECT volume, MAX(bal_cents) AS ymax FROM sup GROUP BY 1),
      frontier AS (
        SELECT volume, ymax FROM (
          SELECT volume, ymax,
                 MAX(ymax) OVER (ORDER BY volume DESC
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND 1 PRECEDING) AS prev_max
          FROM by_vol)
        WHERE prev_max IS NULL OR prev_max < ymax)
      SELECT s_name, CAST(sup.volume AS BIGINT) AS volume,
             CAST(sup.bal_cents AS BIGINT) AS bal_cents
      FROM sup JOIN frontier
        ON sup.volume = frontier.volume AND sup.bal_cents = frontier.ymax
      ORDER BY volume DESC, s_name"""))

  /** q214 — CUSUM change-point detection (Page 1954) on the daily
    * event-rate series: the sequential recursion `s_d = max(0,
    * s_{d−1} + dev_d)` rewritten as `cum_d − min_{j≤d} cum_j` — a
    * cumulative sum minus its running minimum, two window passes, no
    * iteration. Deviations are scaled by the day count (`x_d·n −
    * total`) so the reference mean is exact with zero division; the
    * onset day rides the running min as an offset-packed
    * `(cum+2⁴⁰)·4096 + day` BIGINT (min picks smallest cum, then
    * earliest day). Complements q99's rate anomaly (pointwise) and
    * q189's SPRT (hypothesis replay) with the classic sustained-
    * shift detector. Per event type: the peak CUSUM, its day, and
    * the shift onset. */
  private val q214 = QueryDef(
    "q214_cusum_shift",
    (s, dir) => {
      val daily = eventsTable(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("x"))
      val wType = Window.partitionBy(col("event_type"))
      val wCum = Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // 2^40 offset keeps packed cums positive. Pack bounds: the dn
      // field is 12 bits, so the series must span < 4,096 days per
      // event type (~11 years of dailies — the fixture spans ~1), and
      // |cum| must stay < 2^40 (|x·n − total| summed; safe while daily
      // counts × days < 1e12 — re-derive before running on a decade of
      // petabyte-scale feeds). Same discipline as q206's 2^22 id field.
      val big = 1099511627776L
      val cusum = daily
        .withColumn("n_days", count(lit(1)).over(wType))
        .withColumn("total", sum(col("x")).over(wType))
        .withColumn("dn", row_number().over(
          Window.partitionBy(col("event_type")).orderBy(col("day"))))
        .withColumn("cum", sum(col("x") * col("n_days") - col("total"))
          .over(wCum))
        .withColumn("minpack", min(expr(s"(cum + $big) * 4096") + col("dn"))
          .over(wCum))
        .withColumn("runmin",
          least(expr(s"minpack div 4096") - big, lit(0L)))
        .withColumn("cusum", col("cum") - col("runmin"))
        .withColumn("onset_dn",
          when(expr(s"minpack div 4096") - big < 0,
            (col("minpack") % 4096) + 1).otherwise(1L))
      val wPick = Window.partitionBy(col("event_type"))
        .orderBy(col("cusum").desc, col("day"))
      cusum.withColumn("rk", row_number().over(wPick))
        .filter(col("rk") === 1)
        .join(cusum.select(col("event_type").as("et2"),
          col("dn").as("dn2"), col("day").as("onset_day")),
          col("event_type") === col("et2") && col("onset_dn") === col("dn2"))
        .select(col("event_type"), col("n_days"),
          col("cusum").as("max_cusum_scaled"),
          col("day").as("peak_day"), col("onset_day"))
        .orderBy(col("event_type"))
    },
    Some("""
      WITH daily AS (
        SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
               COUNT(*) AS x
        FROM events GROUP BY 1, 2),
      c AS (
        SELECT event_type, day, x,
               COUNT(*) OVER (PARTITION BY event_type) AS n_days,
               SUM(x) OVER (PARTITION BY event_type) AS total,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS dn
        FROM daily),
      cu AS (
        SELECT *,
               SUM(x * n_days - total)
                 OVER (PARTITION BY event_type ORDER BY day
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS cum
        FROM c),
      mk AS (
        SELECT *,
               MIN((cum + 1099511627776) * 4096 + dn)
                 OVER (PARTITION BY event_type ORDER BY day
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS minpack
        FROM cu),
      cs AS (
        SELECT *,
               cum - least(minpack // 4096 - 1099511627776, 0) AS cusum,
               CASE WHEN minpack // 4096 - 1099511627776 < 0
                    THEN minpack % 4096 + 1 ELSE 1 END AS onset_dn
        FROM mk),
      pick AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                     ORDER BY cusum DESC, day) AS rk
        FROM cs)
      SELECT p.event_type, CAST(p.n_days AS BIGINT) AS n_days,
             CAST(p.cusum AS BIGINT) AS max_cusum_scaled,
             p.day AS peak_day, o.day AS onset_day
      FROM pick p JOIN cs o
        ON p.event_type = o.event_type AND p.onset_dn = o.dn
      WHERE p.rk = 1
      ORDER BY p.event_type"""))

  /** q215 — padding-waste batching audit: transformer training pads
    * every sequence in a batch to the batch max, so batch composition
    * decides how many FLOPs are spent on pad tokens. Both strategies
    * — arrival order (md5 permutation) and length-sorted bucketing —
    * batch 32 docs and account `Σ(batch_max − len)` exactly; the
    * sorted variant is the standard fix and the audit prices it.
    * Waste in exact ppm of padded mass; the global batch numbering
    * comes from [[graft.operators.Ids.addContiguousIds]] (range
    * partition + partition offsets — same semantics as a global
    * row_number, without the single-partition window). */
  private val q215 = QueryDef(
    "q215_padding_waste",
    (s, dir) => {
      val docs = table(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.tokenCount(col("text"))
          .cast(LongType).as("len"),
          md5(col("doc_id").cast(StringType)).as("mk"))
      def audit(name: String, ord: Seq[org.apache.spark.sql.Column]) = {
        val batched = graft.operators.Ids
          .addContiguousIds(docs, ord, "rk")
          .withColumn("batch", expr("(rk - 1) div 32"))
        batched.groupBy(col("batch"))
          .agg(count(lit(1)).as("bn"), max(col("len")).as("bmax"),
            sum(col("len")).as("btok"))
          .agg(count(lit(1)).as("n_batches"),
            sum(col("btok")).as("real_tokens"),
            sum(col("bmax") * col("bn")).as("padded_tokens"))
          .select(lit(name).as("strategy"), col("n_batches"),
            col("real_tokens"), col("padded_tokens"),
            expr("((padded_tokens - real_tokens) * 1000000L)" +
              " div padded_tokens").as("waste_ppm"))
      }
      // independent audits built concurrently (guide §2.6, the
      // q156/q219/q153 pattern) — round-15
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val branches = Await.result(Future.sequence(Seq(
        Future(audit("arrival", Seq(col("mk"), col("doc_id")))),
        Future(audit("sorted", Seq(col("len"), col("doc_id")))))),
        Duration.Inf)
      branches.reduce(_.unionAll(_)).orderBy(col("strategy"))
    },
    Some(s"""
      WITH docs AS (
        SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS len,
               md5(CAST(doc_id AS VARCHAR)) AS mk
        FROM documents),
      arrival AS (
        SELECT len, (ROW_NUMBER() OVER (ORDER BY mk, doc_id) - 1) // 32
                 AS batch
        FROM docs),
      sorted_ AS (
        SELECT len, (ROW_NUMBER() OVER (ORDER BY len, doc_id) - 1) // 32
                 AS batch
        FROM docs),
      a AS (
        SELECT 'arrival' AS strategy, COUNT(*) AS n_batches,
               SUM(btok) AS real_tokens, SUM(bmax * bn) AS padded_tokens
        FROM (SELECT batch, COUNT(*) AS bn, MAX(len) AS bmax,
                     SUM(len) AS btok
              FROM arrival GROUP BY 1)),
      b AS (
        SELECT 'sorted' AS strategy, COUNT(*) AS n_batches,
               SUM(btok) AS real_tokens, SUM(bmax * bn) AS padded_tokens
        FROM (SELECT batch, COUNT(*) AS bn, MAX(len) AS bmax,
                     SUM(len) AS btok
              FROM sorted_ GROUP BY 1))
      SELECT strategy, CAST(n_batches AS BIGINT) AS n_batches,
             CAST(real_tokens AS BIGINT) AS real_tokens,
             CAST(padded_tokens AS BIGINT) AS padded_tokens,
             CAST(((padded_tokens - real_tokens) * 1000000)
               // padded_tokens AS BIGINT) AS waste_ppm
      FROM (SELECT * FROM a UNION ALL SELECT * FROM b)
      ORDER BY strategy"""))

  /** q216 — corpus release diff card: the one-row delta report
    * between two dataset versions (deterministic even/odd doc_id
    * halves stand in for v1/v2), pairing q200's dataset card with
    * the release-over-release question: how much vocabulary is
    * novel, how far did the source and language mixtures drift
    * (exact L1 distance in ppm), how did mean length move. Vocab
    * novelty is a distinct-level anti-join (first-occurrence
    * attribution, q174's discipline — never a per-row set diff);
    * mixture L1 folds over the tiny (dimension × version) frame. */
  private val q216 = QueryDef(
    "q216_release_diff",
    (s, dir) => {
      val d = table(s, dir, "documents")
        .withColumn("v", (col("doc_id") % 2 === 0).cast(LongType))
      val toks = d.select(col("v"),
        explode(TextFunctions.tokens(col("text"))).as("tok"))
      val vocab = toks.groupBy(col("tok"))
        .agg(max(when(col("v") === 1, 1L).otherwise(0L)).as("in_v1"),
          max(when(col("v") === 0, 1L).otherwise(0L)).as("in_v2"))
      val vocabStats = broadcast(vocab.agg(
        sum(col("in_v1")).as("vocab_v1"), sum(col("in_v2")).as("vocab_v2"),
        sum(col("in_v2") * (lit(1L) - col("in_v1"))).as("novel_v2")))
      // L1 over shares needs the totals inside the fold: compute as
      // Σ|n1·T2 − n2·T1| ppm-scaled by 2·T1·T2 (exact, no per-cell division)
      def l1dist(dim: String) = {
        val cells = d.groupBy(col(dim))
          .agg(sum(col("v")).as("n1"), sum(lit(1L) - col("v")).as("n2"))
        val tot = cells.agg(sum(col("n1")).as("t1"), sum(col("n2")).as("t2"))
        broadcast(cells.crossJoin(broadcast(tot))
          .agg(max(col("t1")).as("t1"), max(col("t2")).as("t2"),
            sum(abs(col("n1") * col("t2") - col("n2") * col("t1")))
              .as("num"))
          .select(expr("(num * 1000000L) div (2L * t1 * t2)")))
      }
      val lens = d.select(col("v"),
        TextFunctions.tokenCount(col("text")).cast(LongType).as("len"))
        .groupBy(col("v")).agg(count(lit(1)).as("n"), sum(col("len")).as("tl"))
      val lenStats = broadcast(lens.agg(
        sum(when(col("v") === 1, col("n"))).as("docs_v1"),
        sum(when(col("v") === 0, col("n"))).as("docs_v2"),
        max(when(col("v") === 1, expr("(tl * 1000L) div n"))).as("mlen_v1_e3"),
        max(when(col("v") === 0, expr("(tl * 1000L) div n"))).as("mlen_v2_e3")))
      lenStats.crossJoin(vocabStats)
        .crossJoin(l1dist("source").toDF("source_l1_ppm"))
        .crossJoin(l1dist("lang").toDF("lang_l1_ppm"))
        .select(col("docs_v1"), col("docs_v2"),
          col("mlen_v1_e3"), col("mlen_v2_e3"),
          col("vocab_v1"), col("vocab_v2"),
          expr("(novel_v2 * 1000000L) div vocab_v2").as("novel_vocab_ppm"),
          col("source_l1_ppm"), col("lang_l1_ppm"))
    },
    Some(s"""
      WITH d AS (
        SELECT doc_id, source, lang, text,
               CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS v
        FROM documents),
      toks AS (
        SELECT v, unnest($toksSql) AS tok FROM d),
      vocab AS (
        SELECT tok, MAX(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS in_v1,
               MAX(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS in_v2
        FROM toks GROUP BY 1),
      vs AS (
        SELECT SUM(in_v1) AS vocab_v1, SUM(in_v2) AS vocab_v2,
               SUM(in_v2 * (1 - in_v1)) AS novel_v2
        FROM vocab),
      src AS (
        SELECT SUM(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS n1,
               SUM(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS n2
        FROM d GROUP BY source),
      srcl1 AS (
        SELECT (SUM(ABS(n1 * (SELECT SUM(n2) FROM src)
                      - n2 * (SELECT SUM(n1) FROM src))) * 1000000)
               // (2 * (SELECT SUM(n1) FROM src) * (SELECT SUM(n2) FROM src))
                 AS source_l1_ppm
        FROM src),
      lng AS (
        SELECT SUM(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS n1,
               SUM(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS n2
        FROM d GROUP BY lang),
      lngl1 AS (
        SELECT (SUM(ABS(n1 * (SELECT SUM(n2) FROM lng)
                      - n2 * (SELECT SUM(n1) FROM lng))) * 1000000)
               // (2 * (SELECT SUM(n1) FROM lng) * (SELECT SUM(n2) FROM lng))
                 AS lang_l1_ppm
        FROM lng),
      lens AS (
        SELECT v, COUNT(*) AS n, SUM(len($toksSql)) AS tl FROM d GROUP BY 1),
      ls AS (
        SELECT SUM(CASE WHEN v = 1 THEN n END) AS docs_v1,
               SUM(CASE WHEN v = 0 THEN n END) AS docs_v2,
               MAX(CASE WHEN v = 1 THEN (tl * 1000) // n END) AS mlen_v1_e3,
               MAX(CASE WHEN v = 0 THEN (tl * 1000) // n END) AS mlen_v2_e3
        FROM lens)
      SELECT CAST(docs_v1 AS BIGINT) AS docs_v1,
             CAST(docs_v2 AS BIGINT) AS docs_v2,
             CAST(mlen_v1_e3 AS BIGINT) AS mlen_v1_e3,
             CAST(mlen_v2_e3 AS BIGINT) AS mlen_v2_e3,
             CAST(vocab_v1 AS BIGINT) AS vocab_v1,
             CAST(vocab_v2 AS BIGINT) AS vocab_v2,
             CAST((novel_v2 * 1000000) // vocab_v2 AS BIGINT)
               AS novel_vocab_ppm,
             CAST(source_l1_ppm AS BIGINT) AS source_l1_ppm,
             CAST(lang_l1_ppm AS BIGINT) AS lang_l1_ppm
      FROM ls CROSS JOIN vs CROSS JOIN srcl1 CROSS JOIN lngl1"""))

  /** q217 — multi-window SLO burn-rate alerting (the SRE workbook
    * policy): the error-rate of the event stream against a
    * 250,000 ppm error budget, evaluated over a 1-hour and a trailing
    * 6-hour window simultaneously — paging only when BOTH exceed 1.2×
    * budget, which filters blips (short window alone) and stale
    * incidents (long window alone). The 6-hour window is a RANGE
    * frame over the hourly collapse keyed by epoch-hour — gap-proof
    * where a ROWS frame would silently span missing hours. Exact
    * integer ppm throughout; one shuffle to the hourly collapse. */
  private val q217 = QueryDef(
    "q217_slo_burn",
    (s, dir) => {
      val hourly = eventsTable(s, dir)
        .groupBy(expr("unix_millis(ts) div 3600000").as("hr"))
        .agg(count(lit(1)).as("total"),
          sum((col("event_type") === "error").cast(LongType)).as("errors"))
      val w6 = Window.orderBy(col("hr")).rangeBetween(-5, 0)
      hourly
        .withColumn("t6", sum(col("total")).over(w6))
        .withColumn("e6", sum(col("errors")).over(w6))
        .select(col("hr"), col("total"), col("errors"),
          expr("(errors * 1000000L) div total").as("rate1h_ppm"),
          expr("(e6 * 1000000L) div t6").as("rate6h_ppm"))
        .filter(col("rate1h_ppm") > 300000L && col("rate6h_ppm") > 300000L)
        .select((col("hr") * 3600000L).as("hour_start_ms"),
          col("total"), col("errors"), col("rate1h_ppm"), col("rate6h_ppm"))
        .orderBy(col("hour_start_ms"))
    },
    Some("""
      WITH hourly AS (
        SELECT epoch_ms(CAST(ts AS TIMESTAMP)) // 3600000 AS hr,
               COUNT(*) AS total,
               SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                 AS errors
        FROM events GROUP BY 1),
      win AS (
        SELECT hr, total, errors,
               SUM(total) OVER (ORDER BY hr
                 RANGE BETWEEN 5 PRECEDING AND CURRENT ROW) AS t6,
               SUM(errors) OVER (ORDER BY hr
                 RANGE BETWEEN 5 PRECEDING AND CURRENT ROW) AS e6
        FROM hourly)
      SELECT hr * 3600000 AS hour_start_ms,
             CAST(total AS BIGINT) AS total,
             CAST(errors AS BIGINT) AS errors,
             CAST((errors * 1000000) // total AS BIGINT) AS rate1h_ppm,
             CAST((e6 * 1000000) // t6 AS BIGINT) AS rate6h_ppm
      FROM win
      WHERE (errors * 1000000) // total > 300000
        AND (e6 * 1000000) // t6 > 300000
      ORDER BY hour_start_ms"""))

  /** q218 — Roaring-bitmap container census (Chambi et al. 2016):
    * per event type, the distinct-user posting set chunked into
    * 4,096-id containers, each priced under Roaring's three
    * encodings — sorted array (2 B/id), fixed bitmap (1,024 B for
    * the 4,096-id chunk), run-length (4 B/run, runs counted exactly
    * via a lag-within-container pass) — and assigned its cheapest.
    * The census (containers per encoding, bytes vs 8 B/id raw) is
    * the sizing input for bitmap secondary indexes over a 100 TB
    * fact's position space. Ties break array < bitmap < run. */
  private val q218 = QueryDef(
    "q218_roaring_census",
    (s, dir) => {
      val posts = eventsTable(s, dir)
        .select(col("event_type"), col("user_id")).distinct()
        .withColumn("container", expr("user_id div 4096"))
      val wc = Window.partitionBy(col("event_type"), col("container"))
        .orderBy(col("user_id"))
      val runs = posts
        .withColumn("prev", lag(col("user_id"), 1).over(wc))
        .withColumn("run_start",
          (col("prev").isNull || col("prev") =!= col("user_id") - 1)
            .cast(LongType))
      val conts = runs.groupBy(col("event_type"), col("container"))
        .agg(count(lit(1)).as("n_set"), sum(col("run_start")).as("n_runs"))
        .withColumn("array_b", col("n_set") * 2)
        // 4,096-id container → 4,096-bit bitmap = 512 B (Roaring's
        // 8 KiB / 65,536-id model scaled down); array-vs-bitmap
        // crossover at 256 ids, as in the cited cost model.
        .withColumn("bitmap_b", lit(512L))
        .withColumn("run_b", col("n_runs") * 4)
        .withColumn("enc",
          when(col("array_b") <= col("bitmap_b") &&
            col("array_b") <= col("run_b"), "array")
            .when(col("bitmap_b") <= col("run_b"), "bitmap")
            .otherwise("run"))
        .withColumn("bytes", least(col("array_b"), col("bitmap_b"),
          col("run_b")))
      conts.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_containers"),
          sum(col("n_set")).as("n_ids"),
          sum((col("enc") === "array").cast(LongType)).as("n_array"),
          sum((col("enc") === "bitmap").cast(LongType)).as("n_bitmap"),
          sum((col("enc") === "run").cast(LongType)).as("n_run"),
          sum(col("bytes")).as("bytes"))
        .withColumn("vs_raw_ppm", expr("(bytes * 1000000L) div (n_ids * 8)"))
        .orderBy(col("event_type"))
    },
    Some("""
      WITH posts AS (
        SELECT DISTINCT event_type, user_id, user_id // 4096 AS container
        FROM events),
      runs AS (
        SELECT event_type, container, user_id,
               CASE WHEN LAG(user_id) OVER (PARTITION BY event_type, container
                                            ORDER BY user_id) IS NULL
                      OR LAG(user_id) OVER (PARTITION BY event_type, container
                                            ORDER BY user_id) <> user_id - 1
                    THEN 1 ELSE 0 END AS run_start
        FROM posts),
      conts AS (
        SELECT event_type, container, COUNT(*) AS n_set,
               SUM(run_start) AS n_runs,
               COUNT(*) * 2 AS array_b, 512 AS bitmap_b,
               SUM(run_start) * 4 AS run_b
        FROM runs GROUP BY 1, 2),
      enc AS (
        SELECT *,
               CASE WHEN array_b <= bitmap_b AND array_b <= run_b
                      THEN 'array'
                    WHEN bitmap_b <= run_b THEN 'bitmap'
                    ELSE 'run' END AS enc,
               least(array_b, bitmap_b, run_b) AS bytes
        FROM conts)
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_containers,
             CAST(SUM(n_set) AS BIGINT) AS n_ids,
             CAST(SUM(CASE WHEN enc = 'array' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_array,
             CAST(SUM(CASE WHEN enc = 'bitmap' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bitmap,
             CAST(SUM(CASE WHEN enc = 'run' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_run,
             CAST(SUM(bytes) AS BIGINT) AS bytes,
             CAST((SUM(bytes) * 1000000) // (SUM(n_set) * 8) AS BIGINT)
               AS vs_raw_ppm
      FROM enc GROUP BY event_type ORDER BY event_type"""))

  /** q219 — delta-encoding (frame-of-reference) effectiveness audit:
    * the surrogate-key column priced under Parquet-style block delta
    * encoding in TWO physical layouts — key-sorted vs arrival order
    * (md5 permutation) — with contiguous ranks from
    * `Ids.addContiguousIds` (never a single-partition window),
    * 128-key blocks, per-block max |Δ| → zigzag bit width
    * (`length(bin(Δ)) + 1`), block cost = 8 B reference + packed
    * deltas. Sorted keys pack into ~2-bit deltas; the md5 layout
    * needs full-width deltas — the audit prices exactly what sort
    * order buys storage (q156's Z-order audit priced read skipping).
    * All integers, two aggregates over each ranked collapse. */
  private val q219 = QueryDef(
    "q219_delta_encoding",
    (s, dir) => {
      def audit(name: String, ord: org.apache.spark.sql.Column) = {
        val keys = table(s, dir, "orders")
          .select(col("o_orderkey"),
            md5(col("o_orderkey").cast(StringType)).as("mk"))
        val ranked = graft.operators.Ids
          .addContiguousIds(keys, Seq(ord, col("o_orderkey")), "rk")
          .withColumn("block", expr("(rk - 1) div 128"))
        val wb = Window.partitionBy(col("block")).orderBy(col("rk"))
        val deltas = ranked
          .withColumn("delta", abs(col("o_orderkey") -
            lag(col("o_orderkey"), 1).over(wb)))
        val blocks = deltas.groupBy(col("block"))
          .agg(count(lit(1)).as("n_keys"),
            max(coalesce(col("delta"), lit(0L))).as("max_delta"))
          .withColumn("bits",
            when(col("max_delta") === 0, 0L)
              // +1: zigzag sign bit — arrival-order deltas go negative
              .otherwise(length(bin(col("max_delta"))).cast(LongType) + 1))
          .withColumn("bytes",
            lit(8L) + expr("((n_keys - 1) * bits + 7) div 8"))
        blocks.agg(count(lit(1)).as("n_blocks"),
            sum(col("n_keys")).as("n_keys"),
            max(col("bits")).as("max_bits"), sum(col("bytes")).as("bytes"))
          .select(lit(name).as("layout"), col("n_blocks"), col("n_keys"),
            col("max_bits"), col("bytes"),
            expr("(bytes * 1000000L) div (n_keys * 8)").as("vs_raw_ppm"))
      }
      // the two layout audits are independent single-branch jobs —
      // materialize their range-sort checkpoints CONCURRENTLY (guide
      // §2.6, the q156 pattern) so the second overlaps the first's
      // eager Ids materialization instead of queuing behind it
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val branches = Await.result(Future.sequence(Seq(
        Future(audit("arrival", col("mk"))),
        Future(audit("sorted", col("o_orderkey"))))), Duration.Inf)
      branches.reduce(_.unionAll(_)).orderBy(col("layout"))
    },
    Some("""
      WITH arrival AS (
        SELECT o_orderkey,
               ROW_NUMBER() OVER (ORDER BY md5(CAST(o_orderkey AS VARCHAR)),
                                           o_orderkey) AS rk
        FROM orders),
      sorted_ AS (
        SELECT o_orderkey, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rk
        FROM orders),
      priced AS (
        SELECT layout, block, n_keys,
               CASE WHEN max_delta = 0 THEN 0
                    ELSE length(printf('%b', max_delta)) + 1 END AS bits
        FROM (
          SELECT layout, block, COUNT(*) AS n_keys,
                 MAX(COALESCE(delta, 0)) AS max_delta
          FROM (
            SELECT 'arrival' AS layout, (rk - 1) // 128 AS block,
                   ABS(o_orderkey - LAG(o_orderkey)
                     OVER (PARTITION BY (rk - 1) // 128 ORDER BY rk))
                     AS delta
            FROM arrival
            UNION ALL
            SELECT 'sorted', (rk - 1) // 128,
                   ABS(o_orderkey - LAG(o_orderkey)
                     OVER (PARTITION BY (rk - 1) // 128 ORDER BY rk))
            FROM sorted_)
          GROUP BY 1, 2))
      SELECT layout, CAST(COUNT(*) AS BIGINT) AS n_blocks,
             CAST(SUM(n_keys) AS BIGINT) AS n_keys,
             CAST(MAX(bits) AS BIGINT) AS max_bits,
             CAST(SUM(8 + ((n_keys - 1) * bits + 7) // 8) AS BIGINT)
               AS bytes,
             CAST((SUM(8 + ((n_keys - 1) * bits + 7) // 8) * 1000000)
               // (SUM(n_keys) * 8) AS BIGINT) AS vs_raw_ppm
      FROM priced GROUP BY layout ORDER BY layout"""))

  /** q220 — dictionary-encoding storage audit (the RLE_DICTIONARY
    * face of the q218/q219 encoding trilogy): each low-cardinality
    * lineitem column priced as dictionary pages (Σ value lengths of
    * the distinct set) plus bit-packed indices (⌈log₂ ndv⌉ bits per
    * row — `length(bin(ndv−1))`), against plain encoding (4 B length
    * prefix + bytes per value). The compression ratio is WHY columnar
    * engines dictionary-encode flags and enums by default, and the
    * ndv-vs-rows frame is exactly what a writer consults when it
    * decides a column's encoding at flush time. One aggregate per
    * column over the distinct collapse; all integers. */
  private val q220 = QueryDef(
    "q220_dictionary_audit",
    (s, dir) => {
      val li = table(s, dir, "lineitem")
      def audit(c: String) = {
        val vals = li.select(col(c).cast(StringType).as("v"))
        val dict = vals.groupBy(col("v")).agg(count(lit(1)).as("n"))
        dict.agg(count(lit(1)).as("ndv"), sum(col("n")).as("n_rows"),
            sum(length(col("v")) * col("n")).as("plain_val_bytes"),
            sum(length(col("v"))).as("dict_bytes"))
          .select(lit(c).as("column"), col("ndv"), col("n_rows"),
            (col("plain_val_bytes") + col("n_rows") * 4).as("plain_bytes"),
            col("dict_bytes"),
            when(col("ndv") === 1, lit(0L))
              .otherwise(length(bin(col("ndv") - 1)).cast(LongType))
              .as("index_bits"))
          .withColumn("dict_total_bytes",
            col("dict_bytes") + expr("(n_rows * index_bits + 7) div 8"))
          .withColumn("vs_plain_ppm",
            expr("(dict_total_bytes * 1000000L) div plain_bytes"))
          .select(col("column"), col("ndv"), col("n_rows"),
            col("plain_bytes"), col("index_bits"), col("dict_total_bytes"),
            col("vs_plain_ppm"))
      }
      audit("l_returnflag").unionAll(audit("l_linestatus"))
        .unionAll(audit("l_linenumber"))
        .orderBy(col("column"))
    },
    Some("""
      WITH cols AS (
        SELECT 'l_returnflag' AS col_, CAST(l_returnflag AS VARCHAR) AS v
        FROM lineitem
        UNION ALL
        SELECT 'l_linestatus', CAST(l_linestatus AS VARCHAR) FROM lineitem
        UNION ALL
        SELECT 'l_linenumber', CAST(l_linenumber AS VARCHAR) FROM lineitem),
      dict AS (
        SELECT col_, v, COUNT(*) AS n FROM cols GROUP BY 1, 2),
      agg AS (
        SELECT col_, COUNT(*) AS ndv, SUM(n) AS n_rows,
               SUM(length(v) * n) + SUM(n) * 4 AS plain_bytes,
               SUM(length(v)) AS dict_bytes
        FROM dict GROUP BY 1),
      priced AS (
        SELECT col_, ndv, n_rows, plain_bytes,
               CASE WHEN ndv = 1 THEN 0
                    ELSE length(printf('%b', ndv - 1)) END AS index_bits,
               dict_bytes + (n_rows *
                 CASE WHEN ndv = 1 THEN 0
                      ELSE length(printf('%b', ndv - 1)) END + 7) // 8
                 AS dict_total_bytes
        FROM agg)
      SELECT col_ AS "column", CAST(ndv AS BIGINT) AS ndv,
             CAST(n_rows AS BIGINT) AS n_rows,
             CAST(plain_bytes AS BIGINT) AS plain_bytes,
             CAST(index_bits AS BIGINT) AS index_bits,
             CAST(dict_total_bytes AS BIGINT) AS dict_total_bytes,
             CAST((dict_total_bytes * 1000000) // plain_bytes AS BIGINT)
               AS vs_plain_ppm
      FROM priced ORDER BY "column""""))

  /** q221 — dedup mixture-cost report: what exact deduplication costs
    * each source's share of the corpus — per source, docs and tokens
    * before vs after md5-fingerprint dedup (keep = min doc_id per
    * fingerprint, the q30 policy) with removal ppm. Dedup never
    * removes uniformly: template-heavy sources lose disproportionate
    * mass and the post-dedup mixture DRIFTS from the one the data
    * card promised (q200/q216) — this is the report that catches it.
    * One fingerprint shuffle; survivors rejoin stats by doc_id. */
  private val q221 = QueryDef(
    "q221_dedup_mixture_cost",
    (s, dir) => {
      val d = table(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          TextFunctions.tokenCount(col("text")).cast(LongType).as("len"),
          md5(col("text")).as("fp"))
      val keep = d.groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"))
      val flagged = d.join(keep.withColumn("kept", lit(1L)),
          Seq("doc_id"), "left")
        .withColumn("kept", coalesce(col("kept"), lit(0L)))
      flagged.groupBy(col("source"))
        .agg(count(lit(1)).as("docs_before"),
          sum(col("kept")).as("docs_after"),
          sum(col("len")).as("tokens_before"),
          sum(col("len") * col("kept")).as("tokens_after"))
        .select(col("source"), col("docs_before"), col("docs_after"),
          col("tokens_before"), col("tokens_after"),
          expr("((docs_before - docs_after) * 1000000L) div docs_before")
            .as("docs_removed_ppm"),
          expr("((tokens_before - tokens_after) * 1000000L)" +
            " div tokens_before").as("tokens_removed_ppm"))
        .orderBy(col("source"))
    },
    Some(s"""
      WITH d AS (
        SELECT doc_id, source, CAST(len($toksSql) AS BIGINT) AS len,
               md5(text) AS fp
        FROM documents),
      keep AS (
        SELECT MIN(doc_id) AS doc_id FROM d GROUP BY fp),
      flagged AS (
        SELECT d.source, d.len,
               CASE WHEN k.doc_id IS NULL THEN 0 ELSE 1 END AS kept
        FROM d LEFT JOIN keep k ON d.doc_id = k.doc_id)
      SELECT source, CAST(COUNT(*) AS BIGINT) AS docs_before,
             CAST(SUM(kept) AS BIGINT) AS docs_after,
             CAST(SUM(len) AS BIGINT) AS tokens_before,
             CAST(SUM(len * kept) AS BIGINT) AS tokens_after,
             CAST(((COUNT(*) - SUM(kept)) * 1000000) // COUNT(*) AS BIGINT)
               AS docs_removed_ppm,
             CAST(((SUM(len) - SUM(len * kept)) * 1000000) // SUM(len)
               AS BIGINT) AS tokens_removed_ppm
      FROM flagged GROUP BY source ORDER BY source"""))

  /** q222 — join-cardinality estimation audit (the CBO's homework,
    * shown): for the three fact-dimension joins of the schema, the
    * uniform-ndv estimate every cost model starts from
    * (|A|·|B| div max(ndv_a, ndv_b)), the exact histogram product
    * (Σ cntₐ(k)·cnt_b(k) — what a perfect per-key histogram would
    * predict), and the TRUE join size, plus max key multiplicity —
    * the skew number that decides broadcast vs shuffle vs salting
    * (q166's planning input, derived rather than assumed). The
    * histogram product equals the true size for equi-joins, making
    * the uniform estimate's error measurable in ppm. Per-key count
    * tables are one aggregate each; everything downstream is a
    * bounded fold. */
  private val q222 = QueryDef(
    "q222_join_estimate_audit",
    (s, dir) => {
      def audit(name: String, a: org.apache.spark.sql.DataFrame,
                ka: String, b: org.apache.spark.sql.DataFrame, kb: String) = {
        // round-14 optimization: the per-side stats (sa/sb) and the
        // exact histogram product used to be three separate aggregate
        // branches over ca/cb, re-expanding each side's corpus
        // aggregate; a FULL OUTER join on k carries every ca and cb
        // row into ONE global aggregate (non-null-side sums/counts =
        // the old per-side stats; na·nb ignores non-matches exactly
        // like the old inner join). The join also reuses the
        // groupBy's hash partitioning on k — no extra exchange.
        val ca = a.groupBy(col(ka).as("k")).agg(count(lit(1)).as("na"))
        val cb = b.groupBy(col(kb).as("k")).agg(count(lit(1)).as("nb"))
        ca.join(cb, Seq("k"), "full_outer")
          .agg(sum(col("na")).as("ra"), count(col("na")).as("da"),
            max(col("na")).as("ma"),
            sum(col("nb")).as("rb"), count(col("nb")).as("db"),
            max(col("nb")).as("mb"),
            coalesce(sum(col("na") * col("nb")), lit(0L)).as("exact"))
          .select(lit(name).as("join"),
            col("ra"), col("rb"),
            greatest(col("da"), col("db")).as("ndv_max"),
            expr("(ra * rb) div greatest(da, db)").as("uniform_est"),
            col("exact").as("true_rows"),
            greatest(col("ma"), col("mb")).as("max_key_mult"),
            expr("(abs((ra * rb) div greatest(da, db) - exact) * 1000000L)" +
              " div greatest(exact, 1L)").as("uniform_err_ppm"))
      }
      val li = table(s, dir, "lineitem")
      audit("customer-orders", table(s, dir, "customer"), "c_custkey",
          table(s, dir, "orders"), "o_custkey")
        .unionAll(audit("orders-lineitem", table(s, dir, "orders"),
          "o_orderkey", li, "l_orderkey"))
        .unionAll(audit("part-lineitem", table(s, dir, "part"),
          "p_partkey", li, "l_partkey"))
        .orderBy(col("join"))
    },
    Some("""
      WITH ca AS (
        SELECT jn, k, COUNT(*) AS n FROM (
          SELECT 'customer-orders' AS jn, c_custkey AS k FROM customer
          UNION ALL SELECT 'orders-lineitem', o_orderkey FROM orders
          UNION ALL SELECT 'part-lineitem', p_partkey FROM part)
        GROUP BY 1, 2),
      cb AS (
        SELECT jn, k, COUNT(*) AS n FROM (
          SELECT 'customer-orders' AS jn, o_custkey AS k FROM orders
          UNION ALL SELECT 'orders-lineitem', l_orderkey FROM lineitem
          UNION ALL SELECT 'part-lineitem', l_partkey FROM lineitem)
        GROUP BY 1, 2),
      sa AS (SELECT jn, SUM(n) AS ra, COUNT(*) AS da, MAX(n) AS ma
             FROM ca GROUP BY 1),
      sb AS (SELECT jn, SUM(n) AS rb, COUNT(*) AS db, MAX(n) AS mb
             FROM cb GROUP BY 1),
      hist AS (
        SELECT ca.jn, COALESCE(SUM(ca.n * cb.n), 0) AS exact
        FROM ca JOIN cb ON ca.jn = cb.jn AND ca.k = cb.k
        GROUP BY 1)
      SELECT sa.jn AS "join",
             CAST(ra AS BIGINT) AS ra, CAST(rb AS BIGINT) AS rb,
             CAST(greatest(da, db) AS BIGINT) AS ndv_max,
             CAST((ra * rb) // greatest(da, db) AS BIGINT) AS uniform_est,
             CAST(exact AS BIGINT) AS true_rows,
             CAST(greatest(ma, mb) AS BIGINT) AS max_key_mult,
             CAST((ABS((ra * rb) // greatest(da, db) - exact) * 1000000)
               // greatest(exact, 1) AS BIGINT) AS uniform_err_ppm
      FROM sa JOIN sb ON sa.jn = sb.jn JOIN hist ON sa.jn = hist.jn
      ORDER BY "join""""))

  /** q223 — watermark-lateness audit: before a streaming job picks
    * `withWatermark(delay)`, this batch query prices every candidate
    * delay — events arrive in event_id order (the feed's arrival
    * sequence), the watermark trails the running max event time by
    * the delay, and an event is DROPPED if its time is already
    * behind the watermark on arrival. The running max is a global
    * prefix scan computed scalably in two levels: block-local
    * running max (partitioned window over event_id div blockSize),
    * plus the exclusive running max of block maxima folded on the
    * block frame — never a single-partition window over raw events
    * (the same discipline as q215's batch numbering). The block size
    * ADAPTS to the corpus (max(4096, ceil(maxId/65536))) so the
    * single-task block frame is structurally capped at 65,536 rows at
    * ANY scale — with the fixed 4096 of the first cut, #blocks grew
    * linearly with the stream and the "tiny" frame was only tiny at
    * bench scale (PlanAuditSpec now measures it). The one-row max-id
    * scan is the q224 bounded-collect pattern. One row per candidate
    * delay {1 h, 6 h, 24 h} with dropped ppm — the
    * latency-vs-completeness curve, priced from history. */
  private val q223 = QueryDef(
    "q223_watermark_audit",
    (s, dir) => {
      val maxId = eventsTable(s, dir)
        .agg(max(col("event_id"))).head().getLong(0)
      val blockSize = math.max(4096L, (maxId + 65536L) / 65536L)
      val e = eventsTable(s, dir)
        .select(col("event_id"), unix_millis(col("ts")).as("ms"))
        .withColumn("blk", expr(s"event_id div CAST($blockSize AS BIGINT)"))
      val wLoc = Window.partitionBy(col("blk")).orderBy(col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val local = e.withColumn("loc_max", max(col("ms")).over(wLoc))
      val blocks = e.groupBy(col("blk")).agg(max(col("ms")).as("bmax"))
      val wBlk = Window.orderBy(col("blk"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val prev = blocks.withColumn("prev_max", max(col("bmax")).over(wBlk))
        .select(col("blk"), col("prev_max"))
      val scanned = local.join(broadcast(prev), Seq("blk"))
        .withColumn("run_max",
          greatest(col("loc_max"), coalesce(col("prev_max"), lit(0L))))
      val delays = Seq(("1h", 3600000L), ("6h", 21600000L),
        ("24h", 86400000L))
      delays.map { case (nm, d) =>
        scanned.agg(count(lit(1)).as("n_events"),
            sum((col("ms") < col("run_max") - d).cast(LongType))
              .as("n_dropped"))
          .select(lit(nm).as("delay"), col("n_events"), col("n_dropped"),
            expr("(n_dropped * 1000000L) div n_events").as("dropped_ppm"))
      }.reduce(_ unionAll _)
        .orderBy(col("delay"))
    },
    Some("""
      WITH e AS (
        SELECT event_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS ms
        FROM events),
      scanned AS (
        SELECT ms,
               MAX(ms) OVER (ORDER BY event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS run_max
        FROM e),
      delays(delay, d) AS (VALUES
        ('1h', 3600000), ('6h', 21600000), ('24h', 86400000))
      SELECT delay, CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CASE WHEN ms < run_max - d THEN 1 ELSE 0 END)
               AS BIGINT) AS n_dropped,
             CAST((SUM(CASE WHEN ms < run_max - d THEN 1 ELSE 0 END)
               * 1000000) // COUNT(*) AS BIGINT) AS dropped_ppm
      FROM scanned CROSS JOIN delays
      GROUP BY delay ORDER BY delay"""))

  val all: Seq[QueryDef] = Seq(q201, q202, q203, q204, q205, q206, q207,
    q208, q209, q210, q211, q212, q213, q214, q215, q216, q217, q218, q219,
    q220, q221, q222, q223, q230, q231)
}
